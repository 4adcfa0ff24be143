package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{EngineSession, SparkEntry}
import graft.ops.Tables

/** The benchmark's JVM side: set up the engine, run one workload's
  * queries pass after pass, back to back in a closed loop (one client),
  * and write what it measured as JSON for `run.py`, which turns it into
  * metrics and checks every count.
  *
  * It calls only the engine's public entry points: `EngineSession`,
  * `Tables.t`, `Tables.resetDerived`, `SparkEntry.queries`, the
  * `functions` kernels, and Spark's listener and metric APIs.
  *
  * usage: Harness --out <file> --catalog 1   (query names and oracle SQL)
  *        Harness --out <file> --data <sfDir> --orders <file>
  *   --warmup <w> --passes <n> --cpus <n> --trace <0|1> [--small <sfDir>]
  * `--orders` holds one comma-separated query order per line; pass i
  * runs line i. Passes 0 to w-1 are the warm-up (pass 0 is cold: the
  * JIT and the codegen cache fill); the next n are timed. A traced run
  * traces the warm-up and one timed pass.
  * Every pass starts with no memo: `Tables.resetDerived` runs before it,
  * never inside it, so a shared intermediate is built once per pass.
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    if (opt.contains("catalog")) {
      val o = new Json
      o.arr("queries", SparkEntry.queries.keys.toSeq.sorted.map(Json.str))
      val sql = new Json
      SparkEntry.oracleSql.toSeq.sortBy(_._1).foreach { case (k, v) => sql.str(k, v) }
      o.raw("oracle", sql.render)
      Files.writeString(Paths.get(opt("out")), o.render + "\n")
      return
    }
    val dir = opt("data")
    val cpus = opt("cpus")
    val traced = opt("trace") == "1"
    val warmup = opt("warmup").toInt
    val timed = if (traced) 1 else opt("passes").toInt
    val orders = Files.readAllLines(Paths.get(opt("orders"))).asScala.toSeq
      .map(_.trim).filter(_.nonEmpty).map(_.split(",").toSeq)
    val out = new Json

    // Set-up: session plus base-table registration. `run.py` times it
    // from the JVM's launch to the moment written here.
    val spark = EngineSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Tables.names.foreach(Tables.t(spark, dir, _))
    out.num("setup_done_ms", System.currentTimeMillis().toDouble)

    val queries = SparkEntry.queries
    val trace = if (traced) Some(new Trace(spark)) else None
    def pass(i: Int, d: String, t: Option[Trace]): Pass = {
      Tables.resetDerived(spark)
      Pass.run(i, orders(i).map(q => () => runQuery(spark, d, q, queries(q), t)))
    }

    val passes = (0 until warmup + timed).map(i => pass(i, dir, trace))
    out.num("heap_live_mb", liveHeapMb())

    trace.foreach(t => out.raw("layers", t.finish()))  // fills the records
    out.arr("passes", passes.map(_.render))
    trace.foreach { _ =>
      out.raw("kernels", Kernels.measure(spark, dir))
      // Fixed-vs-data split: the traced timed pass is the point at the
      // main scale; after a warm-up, one untraced pass at a smaller
      // scale is the other.
      opt.get("small").foreach { small =>
        Tables.names.foreach(Tables.t(spark, small, _))
        pass(passes.size, small, None)
        out.raw("fit_small", pass(passes.size + 1, small, None).render)
      }
    }
    out.num("peak_rss_mb", peakRssMb())
    spark.stop()
    Files.writeString(Paths.get(opt("out")), out.render + "\n")
  }

  /** One timed query: the `queries(q)` call, then `.count()`. */
  def runQuery(spark: SparkSession, dir: String, q: String,
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
      trace: Option[Trace]): Json = {
    val rec = new Json
    rec.str("name", q)
    trace.foreach(_.begin())
    val t0 = System.nanoTime()
    var build = 0.0
    try {
      val df = fn(spark, dir)
      build = (System.nanoTime() - t0) / 1e9
      trace.foreach(_.built())
      rec.num("count", df.count().toDouble)
    } catch {
      case scala.util.control.NonFatal(e) =>
        rec.str("error", String.valueOf(e.getMessage).take(300))
    }
    val wall = (System.nanoTime() - t0) / 1e9
    rec.num("wall_s", wall)
    rec.num("build_s", build)
    trace.foreach(_.end(rec, wall))
    rec
  }

  /** Heap still in use after a full collection, in MB: what the run
    * retains (memos, caches, session state). */
  def liveHeapMb(): Double = {
    // Three times, with pauses: a collection queues the references
    // that Spark's context cleaner then releases before the next one.
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(300) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** VmHWM of this process, in MB. */
  def peakRssMb(): Double = {
    val it = Files.readAllLines(Paths.get("/proc/self/status")).iterator
    while (it.hasNext) {
      val l = it.next()
      if (l.startsWith("VmHWM:"))
        return l.split("\\s+")(1).toDouble / 1024
    }
    0.0
  }
}

/** One pass: its query records, wall time and process CPU time. */
class Pass(index: Int, val records: Seq[Json], wallS: Double, cpuS: Double) {
  def render: String = new Json().num("pass", index).num("wall_s", wallS)
    .num("cpu_s", cpuS).arr("queries", records.map(_.render)).render
}

object Pass {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Runs the queries in order, back to back. */
  def run(index: Int, queries: Seq[() => Json]): Pass = {
    val c0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    val recs = queries.map(_())
    new Pass(index, recs, (System.nanoTime() - t0) / 1e9,
      (os.getProcessCpuTime - c0) / 1e9)
  }
}

/** A tiny JSON object writer (the benchmark adds no dependencies). */
class Json {
  private val fields = ArrayBuffer.empty[String]
  def raw(k: String, v: String): Json = { fields += s""""$k":$v"""; this }
  def num(k: String, v: Double): Json = raw(k, Json.num(v))
  def str(k: String, v: String): Json = raw(k, Json.str(v))
  def arr(k: String, vs: Iterable[String]): Json = raw(k, vs.mkString("[", ",", "]"))
  def render: String = fields.mkString("{", ",", "}")
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
