package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** The SQL face of the engine: registered fixture views + graft
  * extensions queried through `spark.sql`, including the native
  * expression by name. */
class SqlInterfaceSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("catalog tables + fvec_dot are usable from plain SQL") {
    GraftExtensions.ensure(spark)
    Tables.names.foreach { n =>
      Tables(spark, sf, n).createOrReplaceTempView(n)
    }
    val top = spark.sql("""
      SELECT r_name, count(*) AS n
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name ORDER BY n DESC, r_name LIMIT 1""").head()
    assert(top.getLong(1) > 0)

    val selfSim = spark.sql("""
      SELECT avg(fvec_dot(embedding, embedding)) FROM embeddings""")
      .head().getDouble(0)
    assert(selfSim > 0.0)
  }

  test("ensure from 8 concurrent threads installs the optimizer rule " +
      "exactly once") {
    // fresh session states (shared context): no rule installed yet.
    // Several rounds, since one round rarely hits the race window
    for (_ <- 1 to 10) {
      val s = spark.newSession()
      val start = new java.util.concurrent.CyclicBarrier(8)
      val threads = (1 to 8).map { _ =>
        new Thread(() => { start.await(); GraftExtensions.ensure(s) })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      assert(s.experimental.extraOptimizations
        .count(_ == graft.plans.NativeVectorOps) == 1)
      assert(s.catalog.functionExists("fvec_dot"))
    }
  }

  test("native fns reject out-of-range literal args at analysis time") {
    GraftExtensions.ensure(spark)
    Tables(spark, sf, "documents").createOrReplaceTempView("documents")
    // ADVICE r7: bits>32 used to read past the md5 digest at runtime;
    // numPerms<=0 used to throw NegativeArraySizeException mid-job
    for (bad <- Seq("simhash_long(text, 40)", "simhash_long(text, 0)",
                    "minhash_sig(text, -1)", "minhash_sig(text, 0)"))
      intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(s"SELECT $bad FROM documents").collect()
      }
    // the boundary values stay legal
    val ok = spark.sql(
      "SELECT simhash_long(text, 32), minhash_sig(text, 1) " +
        "FROM documents LIMIT 1").collect()
    assert(ok.length == 1)
  }

  test("r12 natives work from plain SQL; bad window literals fail analysis") {
    GraftExtensions.ensure(spark)
    Tables(spark, sf, "documents").createOrReplaceTempView("documents")
    val row = spark.sql("""
      SELECT gopher_stats(text).n_words AS nw,
             min_window_md5(text, 8) AS fp,
             size(pcm16_window_ss(encode(text, 'utf-8'), 64)) AS nwin
      FROM documents WHERE doc_id = 0""").head()
    assert(row.getLong(0) > 0)
    assert(row.getString(1).length == 32)
    assert(row.getInt(2) >= 0)
    for (bad <- Seq("min_window_md5(text, 0)",
                    "min_window_md5(text, -3)",
                    "pcm16_window_ss(encode(text, 'utf-8'), 0)"))
      intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(s"SELECT $bad FROM documents").collect()
      }
  }

  test("SQL zorder2 equals the Column-level ZOrder.key2 expansion") {
    import org.apache.spark.sql.functions._
    GraftExtensions.ensure(spark)
    val c = Tables(spark, sf, "customer")
      .select(col("c_custkey").as("a"),
        col("c_nationkey").cast("long").as("b"))
    c.createOrReplaceTempView("zin")
    val viaSql = spark.sql("SELECT a, zorder2(a, b, 8) AS z FROM zin")
    val viaCol = c.select(col("a"),
      graft.operators.ZOrder.key2(col("a"), col("b"), 8).as("z"))
    assert(viaSql.exceptAll(viaCol).isEmpty &&
      viaCol.exceptAll(viaSql).isEmpty)
    // bits must be a literal in range — both failure modes reject at
    // analysis time, never mid-job
    for (bad <- Seq("zorder2(a, b, 0)", "zorder2(a, b, 32)",
                    "zorder2(a, b, b)"))
      intercept[Exception] {
        spark.sql(s"SELECT $bad FROM zin").collect()
      }
  }

  test("mg_summary works from plain SQL, incl. GROUP BY, and rejects bad k") {
    GraftExtensions.ensure(spark)
    Tables(spark, sf, "documents").createOrReplaceTempView("documents")
    // global aggregate: k above the tiny fixture vocab → exact counts
    val m = spark.sql(
      "SELECT mg_summary(lang, 16) FROM documents").head().getMap[
        String, Long](0)
    val exact = spark.sql(
      "SELECT lang, count(*) FROM documents GROUP BY lang").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(Map(m.toSeq: _*) == exact)
    // grouped: one summary per source (the per-partition-of-the-data
    // shape a skew probe uses)
    val grouped = spark.sql(
      "SELECT source, mg_summary(lang, 4) AS mg FROM documents " +
        "GROUP BY source").collect()
    assert(grouped.nonEmpty &&
      grouped.forall(_.getMap[String, Long](1).size <= 4))
    // k must be a positive integer literal — both rejections happen at
    // analysis time
    for (bad <- Seq("mg_summary(lang, 0)", "mg_summary(lang, n_chars)"))
      intercept[Exception] {
        spark.sql(s"SELECT $bad FROM documents").collect()
      }
  }
}
