package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.jobs.{Jobs, Sinks}
import graft.SparkEntry

/** One `graft.Main` job in a fresh JVM, the way a cron `spark-submit`
  * runs it, with its measurements written as one JSON object.
  *
  * Usage: `JobRun <setup|timed|traced> <out.json> <job> <dataDir>
  * <isoDate> <target>...`. The master, shuffle partitions, warehouse
  * and local dirs come from `-D` system properties set by `run.py`.
  *
  *   - `setup`: build the session and stop; `ready_ms` marks the moment
  *     the session answers with the graft functions installed.
  *   - `timed`: additionally run `graft.Main.run` and record its wall
  *     time, the process CPU time it took and the process VmHWM.
  *   - `traced`: run the same job rebuilt from the public functions of
  *     `graft.jobs` with a [[Tracer]] span around each layer call.
  */
object JobRun {

  def main(args: Array[String]): Unit = {
    val Array(mode, out, job, dataDir, isoDate) = args.take(5)
    val targets = args.drop(5).toSeq
    require(Set("setup", "timed", "traced")(mode), s"unknown mode $mode")
    // the builder of graft.Main.main, unchanged
    val spark = SparkSession.builder()
      .appName(s"graft-$job")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    // session state is built lazily; resolving a graft function forces
    // it and proves the extensions are in
    require(spark.catalog.functionExists("fvec_dot"),
      "graft.GraftExtensions not installed")
    val readyMs = Tracer.nowMs()
    val fields = scala.collection.mutable.LinkedHashMap[String, String](
      "mode" -> Json.str(mode), "ready_ms" -> Json.num(readyMs),
      "jvm_flags" -> Json.arr(jvmFlags.map(Json.str)))
    try mode match {
      case "setup" =>
      case "timed" =>
        val cpu0 = processCpuNs()
        val t0 = System.nanoTime()
        val results = graft.Main.run(spark, job, dataDir, targets, isoDate)
        val wall = (System.nanoTime() - t0) / 1e9
        fields += "job_s" -> Json.num(wall)
        fields += "job_cpu_s" -> Json.num((processCpuNs() - cpu0) / 1e9)
        fields += "peak_rss_kb" -> Json.num(vmHwmKb())
        fields += "results" -> resultsJson(results)
      case "traced" =>
        val tracer = new Tracer(spark)
        val results = tracer.root(tracedJob(spark, tracer, job, dataDir,
          targets, isoDate))
        tracer.drain()
        fields += "results" -> resultsJson(results)
        fields ++= tracer.report()
    } finally spark.stop()
    Files.write(Paths.get(out),
      Json.obj(fields.toSeq).getBytes(StandardCharsets.UTF_8))
  }

  /** `graft.jobs.Jobs.run`, call for call, with a span around each call
    * into a layer: the pre-step, each catalog builder, each fan-out and
    * the term resolution. */
  def tracedJob(spark: SparkSession, tr: Tracer, job: String,
                dataDir: String, targets: Seq[String], isoDate: String)
      : Seq[(String, String, Boolean)] = {
    val extracts = Jobs.pipelines.getOrElse(job,
      throw new IllegalArgumentException(s"unknown job $job"))
    val keyFor: String => String =
      if (job == "upload_advisors") Sinks.advisorsKey(isoDate, _)
      else Sinks.dailyKey(isoDate, _)
    def deliver(extract: String, df: org.apache.spark.sql.DataFrame,
                key: String) =
      tr.span("sinks.fanout", extract)(Sinks.fanOut(df, targets, key))
        .map { case (t, ok) => (extract, t, ok) }
    val pre = Jobs.preSteps.get(job).toSeq.flatMap { case (extract, step) =>
      val df = tr.span("jobs.prestep", extract)(step(spark, dataDir, isoDate))
      deliver(extract, df, keyFor(extract))
    }
    val flat = extracts.flatMap { case (name, extract) =>
      val df = tr.span("queries.build", extract)(
        SparkEntry.queries(name)(spark, dataDir))
      deliver(extract, df, keyFor(extract))
    }
    val termQueries = Jobs.perTermPipelines.getOrElse(job, Seq.empty)
    val terms =
      if (termQueries.nonEmpty)
        tr.span("jobs.terms", "current-terms")(
          Jobs.currentTermIds(spark, dataDir))
      else Seq.empty
    val perTerm = for {
      term <- terms
      (dir, file, q) <- termQueries
      extract = s"$file-$term"
      df = tr.span("queries.build", extract)(q(spark, dataDir, term))
      r <- deliver(extract, df, Sinks.termKey(isoDate, dir, file, term))
    } yield r
    pre ++ flat ++ perTerm
  }

  private def resultsJson(rs: Seq[(String, String, Boolean)]): String =
    Json.arr(rs.map { case (q, t, ok) =>
      Json.obj(Seq("extract" -> Json.str(q), "target" -> Json.str(t),
        "ok" -> ok.toString))
    })

  private def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime

  /** Peak resident set of this process (VmHWM), in kB; -1 off Linux. */
  private def vmHwmKb(): Long =
    scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().collectFirst {
        case l if l.startsWith("VmHWM:") =>
          l.split("\\s+")(1).toLong
      }.getOrElse(-1L)
      finally src.close()
    }.getOrElse(-1L)

  private def jvmFlags: Seq[String] =
    scala.jdk.CollectionConverters.ListHasAsScala(
      java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments).asScala.toSeq
}

/** Just enough JSON writing for flat records of numbers and names. */
object Json {
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
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def num(l: Long): String = l.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
