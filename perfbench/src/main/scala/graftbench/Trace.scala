package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer tracing from outside the engine.
  *
  * Spark's listener bus delivers events asynchronously, so each event
  * is kept with its own timestamp and charged, once the run is over,
  * to the query whose wall-clock window holds it (queries run one at a
  * time). Codegen counters and RDD storage are read synchronously
  * around each query.
  */
class Trace(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val seen = new AtomicLong
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val jobs = new ConcurrentLinkedQueue[(Long, Long)]()
  private val stages = new ConcurrentLinkedQueue[Long]()
  private val tasks = new ConcurrentLinkedQueue[(Long, Array[Double])]()
  private val plans = new ConcurrentLinkedQueue[(Long, Array[Double])]()
  private val batches = new ConcurrentLinkedQueue[(Long, Array[Double])]()

  import Trace._

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobStart.put(e.jobId, e.time); seen.incrementAndGet()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val s = jobStart.remove(e.jobId)
      jobs.add((s, e.time)); seen.incrementAndGet()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      e.stageInfo.submissionTime.foreach(stages.add)
      seen.incrementAndGet()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add((e.taskInfo.launchTime, Array(
        m.executorRunTime / 1e3, m.executorCpuTime / 1e9,
        m.executorDeserializeTime / 1e3, m.jvmGCTime / 1e3,
        (m.memoryBytesSpilled + m.diskBytesSpilled) / MB,
        m.shuffleWriteMetrics.bytesWritten / MB,
        m.shuffleReadMetrics.totalBytesRead / MB,
        m.shuffleReadMetrics.recordsRead.toDouble,
        m.shuffleReadMetrics.fetchWaitTime / 1e3,
        m.inputMetrics.bytesRead / MB, m.inputMetrics.recordsRead.toDouble,
        m.outputMetrics.bytesWritten / MB,
        m.outputMetrics.recordsWritten.toDouble, 1.0)))
      seen.incrementAndGet()
    }
    // Streaming progress reaches the shared bus from every session,
    // child sessions included.
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: StreamingQueryListener.QueryProgressEvent =>
        val pr = p.progress
        val trig = Option(pr.durationMs.get("triggerExecution"))
          .map(_.doubleValue / 1e3).getOrElse(0.0)
        val state = pr.stateOperators.map(_.numRowsTotal).sum.toDouble
        batches.add((java.time.Instant.parse(pr.timestamp).toEpochMilli,
          Array(1.0, trig, state)))
        seen.incrementAndGet()
      case _ => ()
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def d(k: String) = ph.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
      val start = ph.values.map(_.startTimeMs).minOption
        .getOrElse(System.currentTimeMillis())
      plans.add((start, Array(d(QueryPlanningTracker.ANALYSIS),
        d(QueryPlanningTracker.OPTIMIZATION),
        d(QueryPlanningTracker.PLANNING), 1.0)))
      seen.incrementAndGet()
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      phases(qe)
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** A query's window and the counters read synchronously around it. */
  private case class Window(rec: Json, start: Long, built: Long, end: Long,
      wallS: Double, compileS: Double, compiles: Double)
  private val windows = ArrayBuffer.empty[Window]
  private var t0, tBuilt = 0L
  private var compile0, compiles0 = 0.0
  private val memoIds = scala.collection.mutable.Set.empty[Int]
  private var memoPeakMb = 0.0

  def begin(): Unit = {
    compile0 = CodeGenerator.compileTime / 1e9
    compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble
    t0 = System.currentTimeMillis()
    tBuilt = t0
  }

  def built(): Unit = tBuilt = System.currentTimeMillis()

  /** Closes the query's window; `wallS` is its own timed wall. */
  def end(rec: Json, wallS: Double): Unit = {
    val t1 = System.currentTimeMillis()
    windows += Window(rec, t0, tBuilt, t1, wallS,
      CodeGenerator.compileTime / 1e9 - compile0,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0)
    val persisted = sc.getPersistentRDDs.keySet
    memoIds ++= persisted
    val mb = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / MB
    memoPeakMb = math.max(memoPeakMb, mb)
    rec.num("memo_rdds", persisted.size)
    rec.num("memo_mb", mb)
  }

  def stop(): Unit = {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Waits for the bus to go quiet, then fills each query record with
    * its per-layer figures; returns the run's memo peaks and the count
    * of jobs no query window holds as JSON. */
  def finish(): String = {
    drain()
    stop()
    val open = jobStart.size
    val n = windows.size
    val starts = windows.map(_.start).toArray
    def owner(t: Long): Int = {
      val i = java.util.Arrays.binarySearch(starts, t)
      val k = if (i >= 0) i else -i - 2
      if (k >= 0 && t <= windows(k).end) k else -1
    }
    def sums(evs: Iterable[(Long, Array[Double])], width: Int) = {
      val acc = Array.fill(n)(new Array[Double](width))
      evs.foreach { case (t, v) =>
        val k = owner(t)
        if (k >= 0) v.indices.foreach(j => acc(k)(j) += v(j))
      }
      acc
    }
    val task = sums(tasks.asScala, TaskCols.size)
    val plan = sums(plans.asScala, 4)
    val batch = sums(batches.asScala, 3)
    val stageN = sums(stages.asScala.map(t => (t, Array(1.0))), 1)
    val jobList = jobs.asScala.toSeq
    val outside = jobList.count { case (s, _) => owner(s) < 0 }
    windows.zipWithIndex.foreach { case (w, k) =>
      val mine = jobList.filter { case (s, _) => owner(s) == k }
      val buildJobs = mine.count { case (s, _) => s <= w.built }
      val jobS = unionSeconds(mine)
      val gap = gapSeconds(mine, w.start, w.end)
      val r = w.rec
      val fields = Seq(
        "ops.build_jobs" -> buildJobs.toDouble,
        "catalyst.analysis_s" -> plan(k)(0),
        "catalyst.optimization_s" -> plan(k)(1),
        "catalyst.planning_s" -> plan(k)(2),
        "catalyst.actions" -> plan(k)(3),
        "codegen.compile_s" -> w.compileS,
        "codegen.compiles" -> w.compiles,
        "scheduler.jobs" -> mine.size.toDouble,
        "scheduler.stages" -> stageN(k)(0),
        "scheduler.job_s" -> jobS,
        "scheduler.driver_gap_s" -> gap,
        "stream.batches" -> batch(k)(0),
        "stream.batch_s" -> batch(k)(1),
        "stream.state_rows" -> batch(k)(2)) ++
        TaskCols.zip(task(k))
      fields.foreach { case (f, v) => r.num(f, v) }
      // The query's jobs, unclipped, plus the time its window had no
      // job must make up its own timed wall: a job that outlives the
      // query, or a wrong window, breaks the sum.
      r.raw("split_ok", (math.abs(jobS + gap - w.wallS) <= SplitTolS).toString)
    }
    val o = new Json
    o.num("unattributed_jobs", outside + open)
    o.num("memo.rdds", memoIds.size)
    o.num("memo.stored_mb", memoPeakMb)
    o.render
  }

  private def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 15000
    var last = -1L
    while (System.currentTimeMillis() < deadline &&
        (seen.get != last || !jobStart.isEmpty)) {
      last = seen.get
      Thread.sleep(300)
    }
  }
}

object Trace {
  val MB: Double = 1024.0 * 1024.0

  /** Window ends are read in whole milliseconds, the wall in ns. */
  val SplitTolS: Double = 0.005

  val TaskCols: Seq[String] = Seq(
    "executor.run_s", "executor.cpu_s", "executor.deser_s", "executor.gc_s",
    "executor.spill_mb", "shuffle.write_mb", "shuffle.read_mb",
    "shuffle.records_read", "shuffle.fetch_wait_s", "scan.input_mb",
    "scan.input_rows", "write.output_mb", "write.output_rows",
    "scheduler.tasks")

  /** Seconds covered by at least one job interval. */
  def unionSeconds(jobs: Seq[(Long, Long)]): Double = {
    var covered = 0L
    var reach = Long.MinValue
    jobs.sortBy(_._1)
      .foreach { case (s, e) =>
        if (e > reach) { covered += e - math.max(s, reach); reach = e }
      }
    covered / 1e3
  }

  /** Seconds of [lo, hi] in which no job ran: the gaps between them. */
  def gapSeconds(jobs: Seq[(Long, Long)], lo: Long, hi: Long): Double = {
    var gap = 0L
    var cursor = lo
    jobs.sortBy(_._1).foreach { case (s, e) =>
      if (s > cursor) gap += math.min(s, hi) - cursor
      cursor = math.min(hi, math.max(cursor, e))
    }
    (gap + math.max(0L, hi - cursor)) / 1e3
  }
}
