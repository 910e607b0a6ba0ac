package ethbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A span: one layer boundary crossed by one op. Times are epoch nanos
  * (`nanoTime` offset to the wall clock) so that listener events, which
  * carry epoch millis, line up with them. */
final case class Span(op: Int, name: String, parent: String, start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** What the traced pass records for one op beyond its spans. */
final case class OpTrace(id: Int, cls: String, start: Long, end: Long,
    build: Double, plan: Double, exec: Double,
    ethScan: Boolean, blocksFetched: Long, rowsEmitted: Long, partitions: Long,
    selectedBlocks: Long, checkpointBytes: Long, tmpBytesLeft: Long, persistedLeft: Int)

/** Listeners and spans of the traced pass. Everything stays in memory
  * until [[write]] at exit. */
final class Tracer(spark: SparkSession, scratch: File) {
  private val wallOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now: Long = System.nanoTime() + wallOffset

  val spans = mutable.ArrayBuffer.empty[Span]
  val ops = mutable.ArrayBuffer.empty[OpTrace]
  private val jobs = new ConcurrentLinkedQueue[(Int, Long, Long)]() // (job, startMs, endMs)
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val tasks = new ConcurrentLinkedQueue[org.apache.spark.executor.TaskMetrics]()
  private val stages = new java.util.concurrent.atomic.AtomicLong()
  private val actions = new ConcurrentLinkedQueue[(String, Long, Long)]() // (func, endMs, ns)
  private val progress = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobStart.put(e.jobId, e.time)
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.add((e.jobId, jobStart.getOrDefault(e.jobId, e.time), e.time))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) tasks.add(e.taskMetrics)
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit =
      actions.add((func, System.currentTimeMillis(), ns))
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()
  }
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def stop(): Unit = {
    Thread.sleep(500) // listener buses deliver asynchronously
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def scratchBytes(): Long = {
    def du(f: File): Long =
      if (f.isFile) f.length() else Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L)
    du(scratch)
  }

  /** Run one op under spans: build, plan, exec and verify, children of
    * `op`. `run` calls its argument after build, after plan and after exec. */
  def traced(id: Int, op: Op)(run: (() => Unit) => (DataFrame, Boolean)): Boolean = {
    val before = scratchBytes()
    val marks = mutable.ArrayBuffer(now)
    var afterBuild, afterExec = before
    val (df, ok) = run { () =>
      marks += now
      if (marks.size == 2) afterBuild = scratchBytes()
      if (marks.size == 4) afterExec = scratchBytes()
    }
    marks += now
    Seq("build", "plan", "exec", "verify").zip(marks.zip(marks.tail)).foreach {
      case (n, (a, b)) => spans += Span(id, n, "op", a, b)
    }
    spans += Span(id, "op", "", marks.head, marks.last)
    val durs = marks.zip(marks.tail).map { case (a, b) => (b - a) / 1e9 }.padTo(4, 0.0)
    val scans = if (df == null) Nil else scanNodes(df.queryExecution.executedPlan)
    def metric(b: BatchScanExec, n: String): Long = b.metrics.get(n).map(_.value).getOrElse(0L)
    ops += OpTrace(id, op.cls, marks.head, marks.last, durs(0), durs(1), durs(2),
      scans.nonEmpty, scans.map(metric(_, "blocksFetched")).sum,
      scans.map(metric(_, "rowsEmitted")).sum,
      scans.map(_.inputRDD.getNumPartitions.toLong).sum, op.selectedBlocks,
      math.max(0L, math.max(afterBuild, afterExec) - before), scratchBytes() - before,
      spark.sparkContext.getPersistentRDDs.size)
    ok
  }

  private def scanNodes(p: SparkPlan): Seq[BatchScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scanNodes(a.executedPlan)
    case q: QueryStageExec => scanNodes(q.plan)
    case b: BatchScanExec => Seq(b)
    case other => (other.children ++ other.subqueries).flatMap(scanNodes)
  }

  /** Per-layer metrics of the traced pass (see NOTES.md for each row). */
  def layerMetrics(cores: Int, gcDriverS: Double): Map[String, Double] = {
    val n = math.max(1, ops.size).toDouble
    def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val eth = ops.filter(_.ethScan).toSeq
    val ethExec = eth.map(_.exec).sum
    val fetched = eth.map(_.blocksFetched).sum
    val opMs = ops.map(o => (o.start / 1000000L, o.end / 1000000L))
    val jobIv = jobs.asScala.toSeq.map(j => (j._2, j._3)).sortBy(_._1)
    // wall time of each op that no job covered
    val gapS = opMs.map { case (a, b) =>
      var covered = 0L; var cur = a
      jobIv.foreach { case (s, e) =>
        val lo = math.max(s, cur); val hi = math.min(e, b)
        if (hi > lo) { covered += hi - lo; cur = hi }
      }
      (b - a - covered) / 1000.0
    }.sum
    val ts = tasks.asScala.toSeq
    val wall = opMs.map { case (a, b) => (b - a) / 1000.0 }.sum
    val prog = progress.asScala.toSeq
    def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue / 1000.0).getOrElse(0.0)
    val trig = prog.map(dur(_, "triggerExecution"))
    val streamOps = math.max(1, prog.map(_.id).distinct.size).toDouble
    val build = ops.map(_.build).sum
    val exec = ops.map(_.exec).sum
    Map(
      "eth.plan_s" -> med(eth.map(o => o.build + o.plan)),
      "eth.exec_s" -> med(eth.map(_.exec)),
      "eth.blocks_fetched" -> (if (eth.isEmpty) 0.0 else fetched / eth.size.toDouble),
      "eth.rows_emitted" -> (if (eth.isEmpty) 0.0 else eth.map(_.rowsEmitted).sum / eth.size.toDouble),
      "eth.fetch_amplification" -> {
        val sel = eth.map(_.selectedBlocks).sum
        if (sel == 0) 0.0 else fetched.toDouble / sel
      },
      "eth.partitions" -> (if (eth.isEmpty) 0.0 else eth.map(_.partitions).sum / eth.size.toDouble),
      "eth.scan_blocks_per_s" -> (if (ethExec > 0) fetched / ethExec else 0.0),
      "operators.build_s" -> build / n,
      "operators.exec_s" -> exec / n,
      "operators.build_frac" -> (if (build + exec > 0) build / (build + exec) else 0.0),
      "exec.jobs" -> jobs.size / n,
      "exec.stages" -> stages.get / n,
      "exec.tasks" -> ts.size / n,
      "exec.driver_gap_s" -> gapS / n,
      "exec.task_busy_frac" -> (if (wall > 0) ts.map(_.executorRunTime).sum / 1000.0 / (wall * cores) else 0.0),
      "exec.shuffle_read_bytes" -> ts.map(_.shuffleReadMetrics.totalBytesRead).sum / n,
      "exec.shuffle_write_bytes" -> ts.map(_.shuffleWriteMetrics.bytesWritten).sum / n,
      "exec.spill_bytes" -> ts.map(t => t.memoryBytesSpilled + t.diskBytesSpilled).sum / n,
      "exec.peak_exec_mem_bytes" -> (if (ts.isEmpty) 0.0 else ts.map(_.peakExecutionMemory).max.toDouble),
      "exec.gc_s" -> (ts.map(_.jvmGCTime).sum / 1000.0 + gcDriverS) / n,
      "plans.checkpoint_bytes" -> ops.map(_.checkpointBytes).sum / n,
      "plans.tmp_bytes_left" -> ops.map(_.tmpBytesLeft).sum / n,
      "plans.persisted_rdds_left" -> ops.map(_.persistedLeft).sum / n,
      "streaming.batches" -> (if (prog.isEmpty) 0.0 else prog.size / streamOps),
      "streaming.batch_p50_s" -> med(trig),
      "streaming.wal_commit_s" -> med(prog.map(p => dur(p, "walCommit") + dur(p, "commitOffsets"))),
      "streaming.rows_per_s" -> (if (trig.sum > 0) prog.map(_.numInputRows).sum / trig.sum else 0.0),
      "streaming.state_rows" -> (if (prog.isEmpty) 0.0
        else prog.map(_.stateOperators.map(_.numRowsTotal).sum).max.toDouble),
      "streaming.state_mem_bytes" -> (if (prog.isEmpty) 0.0
        else prog.map(_.stateOperators.map(_.memoryUsedBytes).sum).max.toDouble),
      "trace.spans" -> (spans.size + actions.size).toDouble)
  }

  /** Spans (op, layer, parent, start, end, self time) and action events as JSON lines. */
  def write(file: File): Unit = {
    file.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(file, "UTF-8")
    try {
      val children = spans.filter(_.parent.nonEmpty).groupBy(_.op)
      spans.foreach { s =>
        val self = if (s.parent.isEmpty) s.seconds - children.getOrElse(s.op, Nil).map(_.seconds).sum
                   else s.seconds
        w.println(Json(Map("op" -> s.op, "cls" -> ops.find(_.id == s.op).map(_.cls).getOrElse(""),
          "span" -> s.name, "parent" -> s.parent, "start_ns" -> s.start, "end_ns" -> s.end,
          "self_s" -> self)))
      }
      actions.asScala.foreach { case (f, endMs, ns) =>
        w.println(Json(Map("span" -> s"action:$f", "end_ms" -> endMs, "duration_s" -> ns / 1e9)))
      }
    } finally w.close()
  }
}
