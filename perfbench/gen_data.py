"""Generate the benchmark's fixture tables as parquet.

The tables have the schemas and value domains of the engine's test
fixtures (TPC-H-shaped star schema, an `events` stream table, text
`documents` and 64-dim unit `embeddings`), drawn from a seeded numpy
generator, so the same (scale, seed) always gives byte-identical files.

usage: python3 gen_data.py <out_dir> <scale> [seed]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("the a fast slow key order sort table scan merge part window small "
         "big hash join batch stream spark data value row column line group "
         "agg filter query vector customer").split()
ADJ = "red new hot small cold large old blue".split()
NOUN = "bolt anvil ring rod plate gear widget gizmo".split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _days(rng, lo, hi, n):
    """Midnight timestamps, uniform over the days in [lo, hi]."""
    lo_d = np.datetime64(lo, "D")
    span = (np.datetime64(hi, "D") - lo_d).astype(np.int64)
    d = lo_d + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def tables(scale, seed):
    rng = np.random.default_rng(seed)
    n_supp, n_cust = int(10000 * scale), int(150000 * scale)
    n_part, n_ord = int(200000 * scale), int(1500000 * scale)
    n_line, n_ev = int(6000000 * scale), int(1000000 * scale)
    n_doc, n_emb = max(500, int(50000 * scale)), max(500, int(20000 * scale))
    n_users = max(15, int(15000 * scale))
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -1000, 10000, n_supp)})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -1000, 10000, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": _pick(rng, names, n_part),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line)})
    # Event times are sorted by id over one month, as a stream lands them.
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    month_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, month_us, n_ev)) + t0
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    # Documents: 10-100 vocabulary tokens; one in twenty ends in "dup",
    # and a few of those are exact copies, for the dedup rows.
    vocab = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), k)])
             for k in rng.integers(10, 101, n_doc)]
    dups = list(range(11, n_doc, 20))
    for i in dups:
        texts[i] += " dup"
    for j, i in enumerate(dups[: max(2, n_doc // 600)]):
        texts[dups[-1 - j]] = texts[i]
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": _pick(rng, LANGS, n_doc, LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    v = rng.normal(0.0, 0.15, (n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    return out


def generate(out_dir, scale, seed=42):
    """Write every table under out_dir, then an empty `_DONE` marker."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tb in tables(scale, seed).items():
        pq.write_table(tb, os.path.join(out_dir, f"{name}.parquet"))
    open(os.path.join(out_dir, "_DONE"), "w").close()


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]),
             int(sys.argv[3]) if len(sys.argv) > 3 else 42)
