package perfbench

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, ReusedSubqueryExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans around the benchmark's calls into each layer, with
  * the Spark work attributed to them.
  *
  * Spans are opened and closed on the job's thread only and nest; the
  * run's spans share one run id. A `SparkListener` and a
  * `QueryExecutionListener` only record raw events; [[report]]
  * attributes each Spark job to the innermost span that was open when
  * the job was submitted (its `SparkListenerJobStart` time), and every
  * stage and task to the first job that listed its stage. Jobs
  * submitted from pool threads (AQE stage submission, futures the
  * builders start) are attributed the same way, by time, since their call
  * sites and inherited local properties do not name the submitting
  * span.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  val runId: String = java.util.UUID.randomUUID.toString
  private val slots = spark.sparkContext.defaultParallelism

  private final class Span(val id: Int, val name: String,
                           val detail: String, val parent: Int,
                           val startMs: Double) {
    var endMs: Double = Double.PositiveInfinity
    var compileNs: Long = 0L
    def seconds: Double = (endMs - startMs) / 1e3
  }
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil

  /** The whole job; its span is the parent of every layer span. */
  def root[T](body: => T): T = span("job", "")(body)

  def span[T](name: String, detail: String)(body: => T): T = {
    val s = new Span(spans.size, name, detail,
      open.headOption.map(_.id).getOrElse(-1), nowMs())
    spans += s
    open = s :: open
    val c0 = CodeGenerator.compileTime
    try body
    finally {
      s.compileNs = CodeGenerator.compileTime - c0
      s.endMs = nowMs()
      open = open.tail
    }
  }

  // ---- raw events, written by the listener bus thread --------------
  private final class JobEv(val startMs: Long, val stages: Seq[Int]) {
    var endMs: Long = -1L
  }
  private final class Work {
    var tasks, failures, cpuNs, runMs, gcMs, fetchWaitMs = 0L
    var shWrite, shRead, spill, inRecs, outBytes, outRecs = 0L
    var stagesRun = 0
    def +=(o: Work): Unit = {
      tasks += o.tasks; failures += o.failures; cpuNs += o.cpuNs
      runMs += o.runMs; gcMs += o.gcMs; fetchWaitMs += o.fetchWaitMs
      shWrite += o.shWrite; shRead += o.shRead; spill += o.spill
      inRecs += o.inRecs; outBytes += o.outBytes
      outRecs += o.outRecs; stagesRun += o.stagesRun
    }
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, JobEv]
  private val stageWork = mutable.HashMap.empty[Int, Work]
  private val submitted = mutable.HashSet.empty[Int]
  private val phases = mutable.ArrayBuffer.empty[(Long, Long)]
  private var scanBytes = 0L
  private val drained = new CountDownLatch(1)
  @volatile private var sentinelJob = -1

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Tracer.this.synchronized {
        val p = Option(e.properties).map(_.getProperty(SentinelKey))
        if (p.exists(_ != null)) sentinelJob = e.jobId
        else jobs(e.jobId) = new JobEv(e.time, e.stageIds)
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Tracer.this.synchronized {
        if (e.jobId == sentinelJob) drained.countDown()
        else jobs.get(e.jobId).foreach(_.endMs = e.time)
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Tracer.this.synchronized { submitted += e.stageInfo.stageId }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        stageWork.getOrElseUpdate(e.stageInfo.stageId, new Work).stagesRun += 1
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Tracer.this.synchronized {
        val w = stageWork.getOrElseUpdate(e.stageId, new Work)
        w.tasks += 1
        if (e.reason != Success) w.failures += 1
        Option(e.taskMetrics).foreach { m =>
          w.cpuNs += m.executorCpuTime
          w.runMs += m.executorRunTime
          w.gcMs += m.jvmGCTime
          w.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          w.shRead += m.shuffleReadMetrics.totalBytesRead
          w.shWrite += m.shuffleWriteMetrics.bytesWritten
          w.spill += m.diskBytesSpilled
          w.inRecs += m.inputMetrics.recordsRead
          w.outBytes += m.outputMetrics.bytesWritten
          w.outRecs += m.outputMetrics.recordsWritten
        }
      }
  }
  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ps = qe.tracker.phases.values.map(p => (p.startTimeMs, p.durationMs))
      val bytes = scannedBytes(qe.executedPlan)
      Tracer.this.synchronized { phases ++= ps; scanBytes += bytes }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution,
                           e: Exception): Unit = record(qe)
  }
  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Wait until the listeners have seen every event of the traced run:
    * a one-task sentinel job is submitted after the run, and since the
    * listener bus delivers each queue's events in order (both listeners
    * sit on the shared queue), its end event arrives after every event
    * of every earlier job and query. */
  def drain(): Unit = {
    val sc = spark.sparkContext
    sc.setLocalProperty(SentinelKey, runId)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(SentinelKey, null)
    require(drained.await(120, TimeUnit.SECONDS),
      "listener bus did not deliver the sentinel job's end event")
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Innermost span open at `t` (epoch ms): the latest-started span
    * whose interval holds it; spans nest, so that one is innermost. */
  private def spanAt(t: Double): Span =
    spans.filter(s => s.startMs <= t && t <= s.endMs)
      .maxByOption(_.startMs).getOrElse(spans.head)

  /** The per-layer metrics, plus the span list, as JSON fields. */
  def report(): Seq[(String, String)] = synchronized {
    val root = spans.head
    val work = mutable.HashMap.empty[Int, Work]
    val jobCount = mutable.HashMap.empty[Int, Int].withDefaultValue(0)
    var skipped = 0
    val owner = mutable.HashMap.empty[Int, Int]
    for (j <- jobs.values) {
      val s = spanAt(j.startMs.toDouble).id
      jobCount(s) += 1
      skipped += j.stages.count(!submitted(_))
      j.stages.foreach(st => if (!owner.contains(st)) owner(st) = s)
    }
    for ((st, w) <- stageWork; s <- owner.get(st))
      work.getOrElseUpdate(s, new Work) += w
    def sum(name: String): Work = {
      val t = new Work
      spans.filter(_.name == name).foreach(s => work.get(s.id).foreach(t += _))
      t
    }
    def secs(name: String) = spans.filter(_.name == name).map(_.seconds).sum
    def jobsIn(name: String) =
      spans.filter(_.name == name).map(s => jobCount(s.id)).sum
    val all = new Work
    work.values.foreach(all += _)
    val wall = root.seconds
    // union of the job intervals, clipped to the root span
    val busyMs = jobs.values.filter(_.endMs >= 0).toSeq
      .map(j => (math.max(j.startMs.toDouble, root.startMs),
        math.min(j.endMs.toDouble, root.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foldLeft((0.0, Double.NegativeInfinity)) { case ((acc, hi), (a, b)) =>
        if (b <= hi) (acc, hi) else (acc + b - math.max(a, hi), b)
      }._1
    val planningMs = phases.collect {
      case (start, d) if start >= root.startMs - 1 && start <= root.endMs => d
    }.sum
    val build = sum("queries.build")
    val fan = sum("sinks.fanout")
    val mb = 1024.0 * 1024.0
    val metrics = Seq(
      "queries.build_s" -> secs("queries.build"),
      "queries.build_spark_jobs" -> jobsIn("queries.build").toDouble,
      "queries.build_cpu_s" -> build.cpuNs / 1e9,
      "queries.build_shuffle_mb" -> build.shWrite / mb,
      "sinks.fanout_s" -> secs("sinks.fanout"),
      "sinks.fanout_spark_jobs" -> jobsIn("sinks.fanout").toDouble,
      "sinks.fanout_cpu_s" -> fan.cpuNs / 1e9,
      "sinks.rows_out" -> fan.outRecs.toDouble,
      "jobs.prestep_s" -> secs("jobs.prestep"),
      "jobs.prestep_write_mb" -> sum("jobs.prestep").outBytes / mb,
      "jobs.terms_s" -> secs("jobs.terms"),
      "sources.scan_mb" -> scanBytes / mb,
      "sources.scan_rows" -> all.inRecs.toDouble,
      "sources.rows_read_per_row_out" ->
        (if (fan.outRecs > 0) all.inRecs.toDouble / fan.outRecs else 0.0),
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> all.stagesRun.toDouble,
      "spark.stages_skipped" -> skipped.toDouble,
      "spark.tasks" -> all.tasks.toDouble,
      "spark.task_failures" -> all.failures.toDouble,
      "spark.shuffle_write_mb" -> all.shWrite / mb,
      "spark.shuffle_read_mb" -> all.shRead / mb,
      "spark.spill_mb" -> all.spill / mb,
      "spark.executor_cpu_s" -> all.cpuNs / 1e9,
      "spark.executor_run_s" -> all.runMs / 1e3,
      "spark.gc_s" -> all.gcMs / 1e3,
      "spark.slot_util" -> all.runMs / 1e3 / (wall * slots),
      "spark.fetch_wait_s" -> all.fetchWaitMs / 1e3,
      "spark.codegen_compile_s" -> root.compileNs / 1e9,
      "spark.planning_s" -> planningMs / 1e3,
      "spark.no_job_s" -> (wall - busyMs / 1e3),
      "trace.wall_s" -> wall,
      "trace.unspanned_s" ->
        (wall - spans.filter(_.parent == root.id).map(_.seconds).sum))
    val spanJson = spans.toSeq.map { s =>
      val w = work.getOrElse(s.id, new Work)
      Json.obj(Seq(
        "run" -> Json.str(runId), "id" -> Json.num(s.id.toLong),
        "parent" -> Json.num(s.parent.toLong), "name" -> Json.str(s.name),
        "detail" -> Json.str(s.detail), "start_ms" -> Json.num(s.startMs),
        "end_ms" -> Json.num(s.endMs),
        "spark_jobs" -> Json.num(jobCount(s.id).toLong),
        "tasks" -> Json.num(w.tasks), "executor_cpu_s" -> Json.num(w.cpuNs / 1e9),
        "shuffle_write_mb" -> Json.num(w.shWrite / mb),
        "codegen_compile_s" -> Json.num(s.compileNs / 1e9)))
    }
    Seq("run_id" -> Json.str(runId),
      "metrics" -> Json.obj(metrics.map { case (k, v) => k -> Json.num(v) }),
      "spans" -> Json.arr(spanJson))
  }
}

object Tracer {
  private val SentinelKey = "perfbench.sentinel"

  /** Size of the files the executed parquet scans of one query opened
    * (the scan's `filesSize` metric). Task input bytes would undercount:
    * the parquet reader's vectored reads run off the task thread, whose
    * filesystem statistics are all a task's input metrics see. Reused
    * exchanges and cached relations read no files and are skipped. */
  private def scannedBytes(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => scannedBytes(a.executedPlan)
    case q: QueryStageExec => scannedBytes(q.plan)
    case c: CommandResultExec => scannedBytes(c.commandPhysicalPlan)
    case _: ReusedExchangeExec | _: ReusedSubqueryExec |
         _: InMemoryTableScanExec => 0L
    case f: FileSourceScanExec =>
      f.metrics.get("filesSize").map(_.value).getOrElse(0L)
    case other => (other.children ++ other.subqueries).map(scannedBytes).sum
  }
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()

  /** Epoch milliseconds with sub-millisecond resolution, on the clock
    * the scheduler stamps its events with. */
  def nowMs(): Double = wall0 + (System.nanoTime() - nano0) / 1e6
}
