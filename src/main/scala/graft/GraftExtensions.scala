package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Add, BitwiseAnd, Expression, ExpressionInfo, Literal, ShiftLeft, ShiftRight}

import graft.functions.{BloomMightContain, BpeCount, BpeTokens, FloatVectorDot, GopherStats, KgramXxhash64, MinWindowMd5, MinhashSig, MisraGriesAgg, Pcm16WindowSs, SimhashLong}

/** Engine extension point — registers graft's native Catalyst
  * expressions (callable from SQL and `expr(...)`) and the
  * [[graft.plans.NativeVectorOps]] optimizer rule (declarative
  * fold-based dot products → the codegen'd native expression).
  *
  * Two installation paths:
  *   - `.config("spark.sql.extensions", "graft.GraftExtensions")` at
  *     session build (the canonical SparkSessionExtensions route);
  *   - `GraftExtensions.ensure(spark)` on an already-built session —
  *     needed because the driver harness constructs the SparkSession
  *     itself and hands it to each query (the rule lands in
  *     `experimental.extraOptimizations`, the post-build equivalent of
  *     injectOptimizerRule).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.fvecDot)
    ext.injectFunction(GraftExtensions.simhashLong)
    ext.injectFunction(GraftExtensions.minhashSig)
    ext.injectFunction(GraftExtensions.bloomMightContain)
    ext.injectFunction(GraftExtensions.zorder2)
    ext.injectFunction(GraftExtensions.mgSummary)
    ext.injectFunction(GraftExtensions.bpeCount)
    ext.injectFunction(GraftExtensions.bpeTokens)
    ext.injectFunction(GraftExtensions.gopherStats)
    ext.injectFunction(GraftExtensions.minWindowMd5)
    ext.injectFunction(GraftExtensions.pcm16WindowSs)
    ext.injectFunction(GraftExtensions.kgramXxhash64)
    ext.injectOptimizerRule(_ => graft.plans.NativeVectorOps)
  }
}

object GraftExtensions {

  private val fvecDot = (
    FunctionIdentifier("fvec_dot"),
    new ExpressionInfo(classOf[FloatVectorDot].getName, "fvec_dot"),
    (children: Seq[Expression]) => {
      require(children.size == 2, "fvec_dot takes exactly 2 arguments")
      FloatVectorDot(children.head, children(1))
    })

  private val simhashLong = (
    FunctionIdentifier("simhash_long"),
    new ExpressionInfo(classOf[SimhashLong].getName, "simhash_long"),
    (children: Seq[Expression]) => {
      require(children.size == 2, "simhash_long takes exactly 2 arguments")
      SimhashLong(children.head, children(1))
    })

  private val bpeCount = (
    FunctionIdentifier("bpe_count"),
    new ExpressionInfo(classOf[BpeCount].getName, "bpe_count"),
    (children: Seq[Expression]) => {
      require(children.size == 1, "bpe_count takes exactly 1 argument")
      BpeCount(children.head)
    })

  private val pcm16WindowSs = (
    FunctionIdentifier("pcm16_window_ss"),
    new ExpressionInfo(classOf[Pcm16WindowSs].getName, "pcm16_window_ss"),
    (children: Seq[Expression]) => {
      require(children.size == 2, "pcm16_window_ss takes exactly 2 arguments")
      Pcm16WindowSs(children.head, children(1))
    })

  private val kgramXxhash64 = (
    FunctionIdentifier("kgram_xxhash64"),
    new ExpressionInfo(classOf[KgramXxhash64].getName, "kgram_xxhash64"),
    (children: Seq[Expression]) => {
      require(children.size == 2,
        "kgram_xxhash64 takes exactly 2 arguments")
      KgramXxhash64(children.head, children(1))
    })

  private val minWindowMd5 = (
    FunctionIdentifier("min_window_md5"),
    new ExpressionInfo(classOf[MinWindowMd5].getName, "min_window_md5"),
    (children: Seq[Expression]) => {
      require(children.size == 2, "min_window_md5 takes exactly 2 arguments")
      MinWindowMd5(children.head, children(1))
    })

  private val gopherStats = (
    FunctionIdentifier("gopher_stats"),
    new ExpressionInfo(classOf[GopherStats].getName, "gopher_stats"),
    (children: Seq[Expression]) => {
      require(children.size == 1, "gopher_stats takes exactly 1 argument")
      GopherStats(children.head)
    })

  private val bpeTokens = (
    FunctionIdentifier("bpe_tokens"),
    new ExpressionInfo(classOf[BpeTokens].getName, "bpe_tokens"),
    (children: Seq[Expression]) => {
      require(children.size == 1, "bpe_tokens takes exactly 1 argument")
      BpeTokens(children.head)
    })

  private val minhashSig = (
    FunctionIdentifier("minhash_sig"),
    new ExpressionInfo(classOf[MinhashSig].getName, "minhash_sig"),
    (children: Seq[Expression]) => {
      require(children.size == 2, "minhash_sig takes exactly 2 arguments")
      MinhashSig(children.head, children(1))
    })

  /** Filters at or above this many bytes are lifted out of the
    * expression tree into a broadcast at resolution time. Below it the
    * literal form is simpler and costs nothing measurable; above it the
    * literal is a per-stage task-binary payload and a driver-side
    * planning tax (every tree hash/compare walks the array). 64 KiB ≈
    * 55k keys at fpp 0.03 — past any size a scan-predicate constant
    * should be. */
  val BloomBroadcastThreshold: Int = 64 << 10

  // One Broadcast per distinct (SparkContext, filter CONTENT):
  // re-resolving a plan that reuses the same driver-built bytes — or a
  // restarted stream rebuilding byte-identical bytes in a fresh array
  // — must not re-ship megabytes. Keyed by content digest, NOT array
  // identity: sc.broadcast() itself stores the value strongly in the
  // driver block manager, so a weak-identity key would never clear
  // (the r9 review's leak). The context id in the key keeps a handle
  // from a stopped SparkContext from being handed to a new session.
  // Bounded LRU: evicted entries are DROPPED, never destroy()ed — a
  // live plan may still hold the handle, and the ContextCleaner
  // reclaims the broadcast once nothing references it.
  private val BloomBcCacheMax = 64
  private val bloomBcCache = new java.util.LinkedHashMap[String,
      org.apache.spark.broadcast.Broadcast[Array[Byte]]](16, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[String,
          org.apache.spark.broadcast.Broadcast[Array[Byte]]]): Boolean =
      size() > BloomBcCacheMax
  }

  private def broadcastBloom(bytes: Array[Byte]) =
    bloomBcCache.synchronized {
      val sc = SparkSession.active.sparkContext
      val digest = new java.math.BigInteger(1,
        java.security.MessageDigest.getInstance("MD5").digest(bytes))
        .toString(16)
      val key = s"${sc.applicationId}:${sc.startTime}:$digest"
      var bc = bloomBcCache.get(key)
      if (bc == null) {
        bc = sc.broadcast(bytes)
        bloomBcCache.put(key, bc)
      }
      bc
    }

  private val bloomMightContain = (
    FunctionIdentifier("bloom_might_contain"),
    new ExpressionInfo(classOf[BloomMightContain].getName,
      "bloom_might_contain"),
    (children: Seq[Expression]) => {
      require(children.size == 2,
        "bloom_might_contain takes exactly 2 arguments")
      children.head match {
        // analysis-time rewrite: fold the filter bytes out of the tree
        // and hand executors a broadcast handle instead (scale
        // rationale at functions.BloomMightContainBcast)
        case f if f.foldable &&
            f.dataType == org.apache.spark.sql.types.BinaryType =>
          val bytes = f.eval().asInstanceOf[Array[Byte]]
          if (bytes != null && bytes.length >= BloomBroadcastThreshold)
            functions.BloomMightContainBcast(broadcastBloom(bytes),
              children(1))
          else BloomMightContain(children.head, children(1))
        case _ => BloomMightContain(children.head, children(1))
      }
    })

  /** `zorder2(a, b, bits)` — the Morton-interleave layout key as a SQL
    * function. Not a custom Expression: the builder EXPANDS to the same
    * shift/and/add tree `operators.ZOrder.key2` composes (equality
    * pinned in SqlInterfaceSpec), so the whole key stays inside
    * whole-stage codegen with zero new runtime surface. `bits` must be
    * a literal — the expansion happens at resolution time. */
  private val zorder2 = (
    FunctionIdentifier("zorder2"),
    new ExpressionInfo(classOf[ShiftLeft].getName, "zorder2"),
    (children: Seq[Expression]) => {
      require(children.size == 3, "zorder2 takes exactly 3 arguments")
      val bits = children(2) match {
        case Literal(v: Int, org.apache.spark.sql.types.IntegerType)
            if v >= 1 && v <= 31 => v
        case other => throw new IllegalArgumentException(
          s"zorder2 bits must be an integer literal in 1..31, got $other")
      }
      (0 until bits).map { i =>
        Add(
          ShiftLeft(BitwiseAnd(ShiftRight(children.head, Literal(i)),
            Literal(1L)), Literal(2 * i + 1)),
          ShiftLeft(BitwiseAnd(ShiftRight(children(1), Literal(i)),
            Literal(1L)), Literal(2 * i)))
      }.reduce[Expression](Add(_, _))
    })

  /** `mg_summary(col, k)` — the Misra-Gries heavy-hitters aggregate.
    * `k` must be a positive integer literal: the summary width is a
    * plan-time property (it sizes every partial state), not a per-row
    * value. The analyzer wraps the returned AggregateFunction in an
    * AggregateExpression like any built-in agg. */
  private val mgSummary = (
    FunctionIdentifier("mg_summary"),
    new ExpressionInfo(classOf[MisraGriesAgg].getName, "mg_summary"),
    (children: Seq[Expression]) => {
      require(children.size == 2, "mg_summary takes exactly 2 arguments")
      val k = children(1) match {
        case Literal(v: Int, org.apache.spark.sql.types.IntegerType)
            if v >= 1 => v
        case other => throw new IllegalArgumentException(
          s"mg_summary k must be a positive integer literal, got $other")
      }
      MisraGriesAgg(children.head, k)
    })

  /** Idempotently register graft functions + optimizer rules on an
    * existing session. Synchronized: builders call it from
    * `Jobs.run`'s delivery threads, and the check-then-append on
    * `extraOptimizations` would otherwise lose an update or add the
    * rule twice. */
  def ensure(spark: SparkSession): Unit = synchronized {
    val reg = spark.sessionState.functionRegistry
    Seq(fvecDot, simhashLong, minhashSig, bloomMightContain, zorder2,
      mgSummary, bpeCount, bpeTokens, gopherStats, minWindowMd5,
      pcm16WindowSs, kgramXxhash64)
      .foreach { f =>
      if (!reg.functionExists(f._1))
        reg.registerFunction(f._1, f._2, f._3)
    }
    if (!spark.experimental.extraOptimizations
        .contains(graft.plans.NativeVectorOps))
      spark.experimental.extraOptimizations ++=
        Seq(graft.plans.NativeVectorOps)
  }
}
