package graft

import org.apache.spark.sql.SparkSession

/** Focused data-path cell probe — runs ONLY the named
  * [[Bench.datapathBench]] cells (all of them with no args) and
  * prints one JSON line, without paying for the 202-face catalog.
  * The tool for an intentional kernel rewrite (r18 verdict #5's
  * span_scrub): measure the cell before and after on an idle host
  * and note both readings in BENCH_NOTES. NEVER writes
  * BENCH_DETAIL.json — the full bench run, which measures every cell
  * and records its `frame` beside them, is the only writer of record.
  *
  * Usage: `scripts/run.sh graft.DatapathProbe <sfDir> [cell ...]`
  */
object DatapathProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: DatapathProbe <sfDir> [cell ...]")
    // fail fast on a typo'd cell name (the Bench unknown-query
    // convention): datapathBench silently filters unknown names, and
    // a re-baselining operator must never mistake "no such cell" for
    // a measurement
    val unknownCells = args.drop(1).filterNot(Bench.DatapathCells.toSet)
    if (unknownCells.nonEmpty) {
      System.err.println(
        s"unknown cells: ${unknownCells.mkString(", ")}\n" +
          s"known: ${Bench.DatapathCells.mkString(", ")}")
      sys.exit(2)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val loadavg = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    // same session warm-up as Bench so cell timings share its frame
    spark.range(1000).selectExpr("sum(id)").collect()
    val cells = Bench.datapathBench(spark, args(0),
      reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt,
      only = args.drop(1).toSet)
    // Locale.ROOT (the Bench.fmt convention): a comma-decimal default
    // locale would print 0,292 and break the JSON line; and the
    // loadavg field joins the list so an empty cell map can never
    // leave a trailing comma
    def num(v: Double): String =
      "%.3f".formatLocal(java.util.Locale.ROOT, v)
    println((s""""loadavg":${num(loadavg)}""" +:
      cells.toSeq.sorted.map { case (k, v) => s""""$k":${num(v)}""" })
      .mkString("{", ",", "}"))
    spark.stop()
  }
}
