#!/usr/bin/env python3
"""graft's benchmark: run one workload's queries in a fresh engine JVM
and print every metric by name and unit.

    python3 perfbench/run.py --workload graph_iter --seed 1 --seconds 16 --trace 0

Run it from the root of a checkout. The first run compiles the engine
and the harness from source with the Scala compiler among the engine's
jars and writes the fixture tables; both land in `.bench_build/perfbench/`
and are reused while the sources are unchanged. The last line of stdout
is one JSON object: `{"correct", "attempted", "failed", "metrics"}`.
With `--trace 0` the metrics are the end-to-end ones; with `--trace 1`
they are the per-layer ones, and one record per query is written next
to the build.

Other modes (see README.md):
    --make-goldens          re-measure goldens.json (counts + DuckDB check)
    --selftest              two seeds untraced and one traced, side by side
    --full                  every row of the workload's family, not its sample
"""
import argparse
import hashlib
import glob
import json
import os
import random
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
SCALE, SMALL_SCALE = 0.01, 0.001  # fixture scales: measured, and the fit's second point
DATA_SEED = 42
HEAP = "2g"        # fixed size (-Xms = -Xmx): no heap resizing inside a run
TIMEOUT_S = 170    # per harness JVM: a whole run must end within 180 s
WARMUP = 2         # untimed passes before the timed ones; the first is cold
WORKLOADS = json.load(open(os.path.join(HERE, "workloads.json")))
GOLDENS = os.path.join(HERE, "goldens.json")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def fail(msg):
    log(f"perfbench: {msg}")
    sys.exit(2)


# ---------------------------------------------------------------- build

SOURCES = ("src/main/scala", "perfbench/src/main/scala")


def source_stamp():
    """Hash of every file the build reads; a change forces a rebuild."""
    h = hashlib.sha256()
    for top in ("build.sbt",) + SOURCES:
        p = os.path.join(ROOT, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(f[len(ROOT):].encode())
            h.update(open(f, "rb").read())
    return h.hexdigest()


def spark_jars():
    """The engine's jar directory, as its build.sbt declares it."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  open(os.path.join(ROOT, "build.sbt")).read())
    if not m or not os.path.isdir(m.group(1)):
        fail("build.sbt names no jar directory (unmanagedBase) that exists")
    return m.group(1)


def build():
    """Compiles the engine and the harness with the Scala compiler that
    ships among the engine's jars (no sbt, so nothing is written outside
    the checkout); returns the JVM classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src/main/scala/graft/SparkEntry.scala")):
        fail("no engine sources next to the benchmark; run from a full checkout")
    os.makedirs(WORK, exist_ok=True)
    jars = spark_jars()
    classes, stamp_file = os.path.join(WORK, "classes"), os.path.join(WORK, "stamp")
    cp = ":".join([classes] + [p for p in [os.path.join(ROOT, "src/main/resources")]
                               if os.path.isdir(p)] + [os.path.join(jars, "*")])
    stamp = source_stamp()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    tools = [glob.glob(os.path.join(jars, f"scala-{t}-2.13.*.jar"))
             for t in ("compiler", "library", "reflect")]
    if not all(len(t) == 1 for t in tools):
        fail(f"want one scala-compiler, -library and -reflect 2.13 jar in {jars}")
    srcs = sorted(os.path.join(d, f) for top in SOURCES
                  for d, _, fs in os.walk(os.path.join(ROOT, top))
                  for f in fs if f.endswith(".scala"))
    tmp, out = os.path.join(WORK, "tmp"), classes + ".new"
    for d in (tmp, out):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    argfile = os.path.join(WORK, "sources.txt")
    with open(argfile, "w") as f:
        f.writelines(p + "\n" for p in srcs)
    log(f"perfbench: compiling {len(srcs)} Scala sources ...")
    t0 = time.time()
    with open(os.path.join(WORK, "build.log"), "w") as lg:
        r = subprocess.run(
            ["java", "-Xss8m", "-Xmx1536m", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}", "-cp", ":".join(t[0] for t in tools),
             "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out,
             "-classpath", os.path.join(jars, "*"), "@" + argfile],
            cwd=WORK, stdout=lg, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=800)
    if r.returncode != 0:
        log(open(os.path.join(WORK, "build.log")).read()[-3000:])
        fail("build failed")
    log(f"perfbench: built in {time.time() - t0:.0f} s")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(out, classes)
    open(stamp_file, "w").write(stamp)
    if os.path.exists(os.path.join(WORK, "catalog.json")):
        os.remove(os.path.join(WORK, "catalog.json"))  # the query list may differ
    return cp


def data_dir(scale):
    d = os.path.join(WORK, "data", f"sf{scale}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        sys.path.insert(0, HERE)
        import gen_data  # numpy and pyarrow load slowly; only when needed
        gen_data.generate(d, scale, DATA_SEED)
    return d


# ---------------------------------------------------------------- harness

def cpu_ticks():
    """(busy, steal) jiffies of the whole machine from /proc/stat; busy
    includes steal, the time the hypervisor ran other guests instead."""
    v = [int(x) for x in open("/proc/stat").readline().split()[1:9]]
    return sum(v) - v[3] - v[4], v[7]


def harness(cp, args, timeout):
    """Runs the JVM side with `args`; returns its JSON output, with
    `launch_s`, the epoch time just before the JVM was started, and
    `steal_share`, the share of the machine's busy CPU time the
    hypervisor stole while the JVM ran."""
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    out = os.path.join(WORK, "harness.json")
    if os.path.exists(out):
        os.remove(out)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Harness", "--out", out] + args
    with open(os.path.join(WORK, "harness.log"), "w") as lg:
        busy0, steal0 = cpu_ticks()
        launch = time.time()
        p = subprocess.Popen(cmd, cwd=WORK, stdout=lg, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            fail(f"harness timed out after {timeout} s")
        finally:  # also when this script is stopped: never leave the JVM
            if p.poll() is None:
                os.killpg(p.pid, 9)
                p.wait()
    shutil.rmtree(tmp, ignore_errors=True)
    if p.returncode != 0 or not os.path.exists(out):
        log(open(os.path.join(WORK, "harness.log")).read()[-3000:])
        fail(f"harness exited with {p.returncode}")
    res = json.load(open(out))
    busy1, steal1 = cpu_ticks()
    res["launch_s"] = launch
    res["steal_share"] = (steal1 - steal0) / max(1, busy1 - busy0)
    return res


def catalog(cp):
    f = os.path.join(WORK, "catalog.json")
    if not os.path.exists(f):
        json.dump(harness(cp, ["--catalog", "1"], 120), open(f, "w"))
    return json.load(open(f))


def workload_queries(cp, name, full=False):
    """The workload's rows, or with `full` every row of its family."""
    family = tuple(WORKLOADS[name]["family"])
    every = [q for q in catalog(cp)["queries"] if q.startswith(family)]
    rows = WORKLOADS[name]["rows"]
    if not set(rows) <= set(every):
        fail(f"{name}: rows outside the family: {sorted(set(rows) - set(every))}")
    return list(every if full else rows)


def cpus():
    return str(len(os.sched_getaffinity(0)))


def timed_passes(name, seconds):
    """How many timed passes fill `seconds`, from the workload's measured
    warm pass time; at least one."""
    return max(1, round(seconds / WORKLOADS[name]["pass_s"]))


def run_workload(cp, name, seed, seconds, trace, full=False, timeout=TIMEOUT_S):
    """One fresh JVM runs the workload's queries: the warm-up passes,
    then the timed passes that fill `seconds`, each pass in its own
    order, all orders drawn from the seed."""
    queries = workload_queries(cp, name, full)
    passes = timed_passes(name, seconds)
    rng = random.Random(seed)
    orders = []
    for _ in range(WARMUP + passes + 2):  # a traced run adds two fit passes
        rng.shuffle(queries)
        orders.append(list(queries))
    path = os.path.join(WORK, "orders.txt")
    with open(path, "w") as f:
        f.writelines(",".join(o) + "\n" for o in orders)
    args = ["--data", data_dir(SCALE), "--orders", path,
            "--warmup", str(WARMUP), "--passes", str(passes),
            "--cpus", cpus(), "--trace", str(trace)]
    if trace:
        args += ["--small", data_dir(SMALL_SCALE)]
    return harness(cp, args, timeout)


def records(res):
    """Every query record of the run at the benchmark's scale, warm-up
    passes included."""
    return [q for p in res["passes"] for q in p["queries"]]


def small_records(res):
    """The query records of a traced run's pass at the small scale."""
    return res["fit_small"]["queries"] if "fit_small" in res else []


# ---------------------------------------------------------------- metrics

def check(res):
    """Compares every query's count with its golden; returns failures.
    The fit's pass at the small scale has no goldens: there only an
    error counts."""
    gold = json.load(open(GOLDENS))
    if (gold["scale"], gold["data_seed"]) != (SCALE, DATA_SEED):
        fail("goldens.json is for other fixture tables; rerun --make-goldens")
    want = gold["counts"]
    bad = []
    for q in records(res):
        if "error" in q:
            bad.append((q["name"], "error: " + q["error"]))
        elif q["name"] not in want:
            bad.append((q["name"], "no golden count"))
        elif q["name"] in gold["duckdb_disagree"]:
            bad.append((q["name"], "known failure: DuckDB disagrees "
                        + json.dumps(gold["duckdb_disagree"][q["name"]])))
        elif int(q["count"]) != want[q["name"]]:
            bad.append((q["name"],
                        f"count {int(q['count'])} != golden {want[q['name']]}"))
        elif q.get("split_ok") is False:
            bad.append((q["name"], "trace: its jobs and driver gap do not add "
                        "up to its wall time"))
    bad += [(q["name"], f"error at scale {SMALL_SCALE}: " + q["error"])
            for q in small_records(res) if "error" in q]
    return bad


def end_to_end(res):
    timed = res["passes"][WARMUP:]
    return {
        "setup_s": (res["setup_done_ms"] / 1e3 - res["launch_s"], "s"),
        "suite_s": (statistics.median(p["wall_s"] for p in timed), "s"),
        "cpu_s": (statistics.median(p["cpu_s"] for p in timed), "s"),
        "heap_live_mb": (res["heap_live_mb"], "MB"),
    }


RECORD_COLS = [  # (field, header, format) of the per-query table
    ("wall_s", "wall_s", "{:.3f}"), ("build_s", "build_s", "{:.3f}"),
    ("scheduler.jobs", "jobs", "{:.0f}"), ("scheduler.stages", "stages", "{:.0f}"),
    ("scheduler.tasks", "tasks", "{:.0f}"),
    ("scheduler.driver_gap_s", "gap_s", "{:.3f}"),
    ("codegen.compile_s", "compile_s", "{:.3f}"),
    ("shuffle.write_mb", "shuf_mb", "{:.2f}"), ("scan.input_mb", "in_mb", "{:.2f}"),
    ("memo_mb", "memo_mb", "{:.2f}")]


def per_layer(res, cpus_n):
    """Per-layer sums over the traced timed pass, plus the kernels, memo
    peaks, traced suite times and the fixed-vs-data split."""
    cold, timed = res["passes"][0], res["passes"][WARMUP]
    qs = timed["queries"]
    skip = {"name", "count", "error", "wall_s", "split_ok", "memo_rdds", "memo_mb"}
    sums = {}
    for q in qs:
        for k, v in q.items():
            if k not in skip:
                sums[k] = sums.get(k, 0.0) + v
    sums["ops.build_s"] = sums.pop("build_s")
    suite = timed["wall_s"]
    sums["scheduler.tasks_per_stage"] = \
        sums["scheduler.tasks"] / max(1.0, sums["scheduler.stages"])
    sums["executor.slot_util"] = sums["executor.run_s"] / (suite * cpus_n)
    sums.update((k, v) for k, v in res["layers"].items() if k in UNITS)
    sums.update(res["kernels"])
    sums["query.p50_s"] = statistics.median(q["wall_s"] for q in qs)
    sums["query.max_s"] = max(q["wall_s"] for q in qs)
    sums["jvm.peak_rss_mb"] = res["peak_rss_mb"]
    sums["trace.suite_s"] = suite
    sums["trace.cold_suite_s"] = cold["wall_s"]
    sums["codegen.cold_compile_s"] = sum(q["codegen.compile_s"]
                                         for q in cold["queries"])
    sums["split.fixed_share"] = fit(res)
    return sums


def fit(res):
    """Two-point fit t = a + b*rows per query, rows being the lineitem
    rows of each scale, from the traced timed pass and a warm pass at the
    small scale; returns the workload's fixed share sum(a) / sum(t)."""
    big_rows, small_rows = 6e6 * SCALE, 6e6 * SMALL_SCALE
    small = {q["name"]: q["wall_s"] for q in res["fit_small"]["queries"]}
    fixed = total = 0.0
    for q in res["passes"][WARMUP]["queries"]:
        t_big, t_small = q["wall_s"], small[q["name"]]
        b = (t_big - t_small) / (big_rows - small_rows)
        a = t_small - b * small_rows
        q["fit_a_s"], q["fit_b_us_per_row"] = a, b * 1e6
        fixed, total = fixed + a, total + t_big
    return fixed / total


def write_records(res, name, seed):
    """One record per query of every traced pass, to a file, and a table
    of the cold pass and of the timed one."""
    d = os.path.join(WORK, "records")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{name}-seed{seed}.jsonl")
    with open(path, "w") as f:
        for p in res["passes"]:
            for q in p["queries"]:
                f.write(json.dumps(dict(q, pass_index=p["pass"])) + "\n")
    print(f"per-query records: {path}")
    for p, label in ((res["passes"][0], "cold pass"),
                     (res["passes"][WARMUP], "timed pass")):
        qs = p["queries"]
        print(f"{label}:")
        print("query".ljust(34) + "".join(h.rjust(10) for _, h, _ in RECORD_COLS)
              + "  fit_a_s")
        for q in sorted(qs, key=lambda q: q["name"]):
            print(q["name"].ljust(34) + "".join(
                fmt.format(q.get(k, float("nan"))).rjust(10)
                for k, _, fmt in RECORD_COLS)
                + "  " + "{:.3f}".format(q.get("fit_a_s", float("nan"))))
        ok = sum(1 for q in qs if q.get("split_ok"))
        print(f"job_s + driver_gap_s == wall_s: {ok}/{len(qs)} queries")
    print(f"jobs outside every query: {res['layers']['unattributed_jobs']:.0f}")


def measure(cp, name, seed, seconds, trace, full=False):
    """One benchmark run: prints its report and returns the result line."""
    res = run_workload(cp, name, seed, seconds, trace, full,
                       900 if full else TIMEOUT_S)
    print(f"workload {name}, seed {seed}")
    for p in res["passes"] + ([res["fit_small"]] if "fit_small" in res else []):
        kind = ("warm-up" if p["pass"] < WARMUP else
                "timed" if p in res["passes"] else "fit")
        print(f"pass {p['pass']:.0f} ({kind}) {p['wall_s']:.3f} s, order: "
              + " ".join(q["name"] for q in p["queries"]))
    bad = check(res)
    attempted = len(records(res)) + len(small_records(res))
    if trace and res["layers"]["unattributed_jobs"]:
        bad.append(("(trace)", f"{res['layers']['unattributed_jobs']:.0f} jobs "
                    "started outside every query or never ended"))
        attempted += 1
    for q, why in bad:
        print(f"FAILED {q}: {why}")
    failed = len(bad)
    print(f"error_rate = {failed / attempted:.4f} ({failed}/{attempted})")
    print(f"diagnostic: the hypervisor stole {res['steal_share']:.2%} of this "
          "machine's busy CPU time during the run")
    if trace:
        metrics = {k: (v, UNITS[k]) for k, v in per_layer(res, int(cpus())).items()}
        write_records(res, name, seed)
        print_shares(res["passes"][WARMUP]["queries"], name, full)
    else:
        metrics = end_to_end(res)
    for k, (v, u) in metrics.items():
        print(f"{k} = {v:.6g} {u}")
    line = {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    return line


UNITS = {k: u for k, u in [
    ("ops.build_s", "s"), ("ops.build_jobs", "count"),
    ("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"),
    ("catalyst.planning_s", "s"), ("catalyst.actions", "count"),
    ("codegen.compile_s", "s"), ("codegen.compiles", "count"),
    ("scheduler.jobs", "count"), ("scheduler.stages", "count"),
    ("scheduler.tasks", "count"), ("scheduler.tasks_per_stage", "ratio"),
    ("scheduler.job_s", "s"), ("scheduler.driver_gap_s", "s"),
    ("executor.run_s", "s"), ("executor.cpu_s", "s"), ("executor.deser_s", "s"),
    ("executor.gc_s", "s"), ("executor.spill_mb", "MB"),
    ("executor.slot_util", "ratio"),
    ("shuffle.write_mb", "MB"), ("shuffle.read_mb", "MB"),
    ("shuffle.records_read", "count"), ("shuffle.fetch_wait_s", "s"),
    ("scan.input_mb", "MB"), ("scan.input_rows", "count"),
    ("memo.rdds", "count"), ("memo.stored_mb", "MB"),
    ("write.output_mb", "MB"), ("write.output_rows", "count"),
    ("stream.batches", "count"), ("stream.batch_s", "s"),
    ("stream.state_rows", "count"),
    ("functions.bigram_ns", "ns"), ("functions.shingle_ns", "ns"),
    ("functions.minhash_ns", "ns"), ("functions.intersect_ns", "ns"),
    ("functions.floatdot_ns", "ns"),
    ("query.p50_s", "s"), ("query.max_s", "s"), ("jvm.peak_rss_mb", "MB"),
    ("trace.suite_s", "s"), ("trace.cold_suite_s", "s"),
    ("codegen.cold_compile_s", "s"), ("split.fixed_share", "ratio")]}


# ---------------------------------------------------------------- sample

SHARES = ("build", "gap", "compile", "executor", "shuffle_mb_s", "memo_mb_s")


def shares(recs, cpus_n):
    """Where a set of queries spends its time: shares of their summed
    wall in `queries(q)` builds, in driver gaps and in codegen; executor
    slot use; shuffle and newly stored memo MB per wall second.
    `recs` are in run order, each with the memo MB it stored itself."""
    wall = sum(q["wall_s"] for q in recs)
    return {
        "build": sum(q["build_s"] for q in recs) / wall,
        "gap": sum(q["scheduler.driver_gap_s"] for q in recs) / wall,
        "compile": sum(q["codegen.compile_s"] for q in recs) / wall,
        "executor": sum(q["executor.run_s"] for q in recs) / (wall * cpus_n),
        "shuffle_mb_s": sum(q["shuffle.write_mb"] + q["shuffle.read_mb"]
                            for q in recs) / wall,
        "memo_mb_s": sum(q["memo_new_mb"] for q in recs) / wall,
    }


def distance(a, b):
    """Relative distance of two share vectors, each term floored so that
    near-zero family shares do not dominate."""
    return sum(abs(a[k] - b[k]) / max(b[k], 0.02) for k in SHARES)


def pick(recs, keep, budget_s, cpus_n):
    """Greedy sample: start from the `keep` rows, then add the row that
    brings the sample's shares closest to the family's, while the summed
    wall stays within `budget_s`."""
    fam = shares(recs, cpus_n)
    by = {q["name"]: q for q in recs}
    chosen = [by[k] for k in keep]
    while True:
        spent = sum(q["wall_s"] for q in chosen)
        best = min(((distance(shares(chosen + [q], cpus_n), fam), q["name"])
                    for q in recs if q not in chosen
                    and spent + q["wall_s"] <= budget_s), default=None)
        if best is None:
            return [q["name"] for q in chosen]
        chosen.append(by[best[1]])


def print_shares(recs, name, full):
    """The share table; in a `--full` run also the sample's rows within
    it and the greedy pick for the current keep list and budget."""
    cpus_n = int(cpus())
    mb = 0.0
    for q in recs:
        q["memo_new_mb"], mb = max(0.0, q["memo_mb"] - mb), q["memo_mb"]
    rows = [("this run", recs)]
    wl = WORKLOADS[name]
    if full:
        rows.append(("sample rows", [q for q in recs if q["name"] in wl["rows"]]))
        got = pick(recs, wl["keep"], wl["pick_budget_s"], cpus_n)
        rows.append(("greedy pick", [q for q in recs if q["name"] in got]))
        print("greedy pick: " + " ".join(got))
    print("shares".ljust(14) + "".join(k.rjust(14) for k in SHARES) + "       wall_s")
    for label, rs in rows:
        sh = shares(rs, cpus_n)
        print(label.ljust(14) + "".join(f"{sh[k]:14.3f}" for k in SHARES)
              + f"{sum(q['wall_s'] for q in rs):13.2f}")


# ---------------------------------------------------------------- modes

def make_goldens(cp):
    """One pass of every workload at the benchmark scale: the engine's
    counts become the goldens, cross-checked against DuckDB running each
    row's oracle SQL over the same parquet files."""
    import duckdb
    counts, errors = {}, []
    for name in WORKLOADS:
        res = run_workload(cp, name, 0, 0, 0, full=True, timeout=900)
        for q in records(res):
            if "error" in q:
                errors.append(q["name"])
            else:
                counts[q["name"]] = int(q["count"])
    if errors:
        fail(f"queries failed while making goldens: {errors}")
    con = duckdb.connect()
    d = data_dir(SCALE)
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
    oracle = catalog(cp)["oracle"]
    disagree, checked = {}, 0
    for q in sorted(counts):
        if q in oracle:
            n = con.execute(f"SELECT count(*) FROM ({oracle[q]})").fetchone()[0]
            checked += 1
            if n != counts[q]:
                disagree[q] = {"engine": counts[q], "duckdb": n}
    gold = {"scale": SCALE, "data_seed": DATA_SEED,
            "duckdb_checked": checked, "duckdb_disagree": disagree,
            "counts": counts}
    with open(GOLDENS, "w") as f:
        json.dump(gold, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{len(counts)} goldens; DuckDB checked {checked}, "
          f"disagree {len(disagree)}: {sorted(disagree)}")


def selftest(cp, name, seconds):
    """Order independence and tracing overhead: seeds 1 and 2 untraced,
    seed 1 traced."""
    a = measure(cp, name, 1, seconds, 0)
    b = measure(cp, name, 2, seconds, 0)
    t = measure(cp, name, 1, seconds, 1)
    sa, sb = a["metrics"]["suite_s"]["value"], b["metrics"]["suite_s"]["value"]
    st = t["metrics"]["trace.suite_s"]["value"]
    print(f"selftest {name}: suite_s seed 1 = {sa:.3f} s, seed 2 = {sb:.3f} s "
          f"(diff {100 * (sb - sa) / sa:+.1f} %); traced = {st:.3f} s, "
          f"overhead {st - statistics.median([sa, sb]):+.3f} s")


def main():
    # A stop request unwinds through `harness`, which then ends the JVM.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(3))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10,
                    help="how long the timed passes should take together: "
                         "their number is this over the workload's pass_s")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--make-goldens", action="store_true")
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--full", action="store_true",
                    help="run every row of the workload's family once")
    a = ap.parse_args()
    cp = build()
    if a.make_goldens:
        return make_goldens(cp)
    if not a.workload:
        fail("--workload is required")
    if a.selftest:
        return selftest(cp, a.workload, a.seconds)
    print(json.dumps(measure(cp, a.workload, a.seed, a.seconds, a.trace, a.full)))


if __name__ == "__main__":
    main()
