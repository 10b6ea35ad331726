package graft

import graft.functions._
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** Session construction: one place for the engine's config + the custom
  * expression registrations (SparkSessionExtensions.injectFunction — the
  * public extension point; the expressions live in graft.functions).
  */
object Sessions {

  /** One graft_* call's arguments; `int` reads a literal int argument
    * (failing with the function's name), with a default when absent. */
  private final class Args(name: String, e: Seq[Expression]) {
    def apply(i: Int): Expression = e(i)
    def int(i: Int): Int = e(i) match {
      case Literal(v: Int, _) => v
      case other =>
        throw new IllegalArgumentException(s"$name expects a literal int, got $other")
    }
    def int(i: Int, default: Int): Int = if (e.length > i) int(i) else default
  }

  /** Registers the graft_* functions (see graft.functions.TextKernels)
    * and the kernel-fusion optimizer rule (graft.plans.KernelFusion). */
  val registerGraftFunctions: SparkSessionExtensions => Unit = { ext =>
    ext.injectOptimizerRule(graft.plans.KernelFusion.apply)
    ext.injectResolutionRule(_ => graft.plans.AsOfRewrite)
    ext.injectPlannerStrategy(graft.plans.AsOfJoinStrategy.apply)
    def fn(name: String, clazz: Class[_])(build: Args => Expression): Unit =
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(clazz.getName, name),
        (e: Seq[Expression]) => build(new Args(name, e))))
    fn("graft_shingle_hashes", classOf[ShingleHashes])(a => ShingleHashes(a(0), a.int(1)))
    fn("graft_window_hashes", classOf[WindowHashes])(a => WindowHashes(a(0), a.int(1)))
    fn("graft_token_hashes", classOf[TokenHashes])(a => TokenHashes(a(0)))
    fn("graft_minhash_signature", classOf[MinHashSignature])(a =>
      MinHashSignature(a(0), a.int(1)))
    fn("graft_simhash", classOf[SimHash])(a => SimHash(a(0), a.int(1)))
    fn("graft_sorted_intersect_size", classOf[SortedIntersectSize])(a =>
      SortedIntersectSize(a(0), a(1)))
    fn("graft_dot_product", classOf[DotProduct])(a => DotProduct(a(0), a(1)))
    fn("graft_hll_distinct", classOf[HllDistinct])(a => HllDistinct(a(0), a.int(1, 12)))
    fn("graft_hll_sketch", classOf[HllSketch])(a => HllSketch(a(0), a.int(1, 12)))
    fn("graft_hll_merge", classOf[HllMergeAgg])(a => HllMergeAgg(a(0)))
    fn("graft_hll_estimate", classOf[HllEstimate])(a => HllEstimate(a(0)))
    fn("graft_kmv_sketch", classOf[KmvSketch])(a => KmvSketch(a(0), a.int(1, 1024)))
    fn("graft_kmv_merge", classOf[KmvMergeAgg])(a => KmvMergeAgg(a(0)))
    fn("graft_kmv_estimate", classOf[KmvEstimate])(a => KmvEstimate(a(0)))
    fn("graft_kmv_jaccard", classOf[KmvJaccard])(a => KmvJaccard(a(0), a(1)))
    fn("graft_kll_sketch", classOf[KllSketchAgg])(a => KllSketchAgg(a(0), a.int(1, 256)))
    fn("graft_kll_merge", classOf[KllMergeAgg])(a => KllMergeAgg(a(0)))
    fn("graft_kll_quantile", classOf[KllQuantile])(a => KllQuantile(a(0), a(1)))
    fn("graft_bloom_contains", classOf[BloomContains])(a => BloomContains(a(0), a(1)))
    fn("graft_cm_sketch", classOf[CmSketch])(a =>
      CmSketch(a(0), a.int(1, 2048), a.int(2, 4)))
    fn("graft_cm_merge", classOf[CmMergeAgg])(a => CmMergeAgg(a(0)))
    fn("graft_cm_estimate", classOf[CmEstimate])(a => CmEstimate(a(0), a(1)))
    fn("graft_cm_join_size", classOf[CmJoinSize])(a => CmJoinSize(a(0), a(1)))
    fn("graft_cm_total", classOf[CmTotal])(a => CmTotal(a(0)))
    fn("graft_freq_sketch", classOf[FreqSketch])(a => FreqSketch(a(0), a.int(1)))
    fn("graft_topk", classOf[TopKRows])(a => TopKRows(a(0), a(1), a.int(2)))
    fn("graft_lsh_buckets", classOf[LshBuckets])(a =>
      LshBuckets(a(0), a.int(1), a.int(2), a.int(3)))
    fn("graft_cdc_boundaries", classOf[CdcBoundaries])(a =>
      CdcBoundaries(a(0), a.int(1), a.int(2)))
    fn("graft_ahash", classOf[AHash64])(a => AHash64(a(0)))
    fn("graft_asof", classOf[graft.plans.AsOfMarker])(a =>
      graft.plans.AsOfMarker(a(0), a(1), a(2)))
    fn("graft_bitmap_sketch", classOf[BitmapSketch])(a => BitmapSketch(a(0)))
    fn("graft_bitmap_merge", classOf[BitmapMergeAgg])(a => BitmapMergeAgg(a(0)))
    fn("graft_bitmap_count", classOf[BitmapCount])(a => BitmapCount(a(0)))
    fn("graft_norm_text", classOf[NormText])(a => NormText(a(0)))
    fn("graft_pair_products", classOf[PairProducts])(a => PairProducts(a(0)))
    fn("graft_char_counts", classOf[CharCounts])(a => CharCounts(a(0)))
    fn("graft_rolling_hash", classOf[RollingHash])(a => RollingHash(a(0)))
  }

  /** Run `body` with `spark.sql.shuffle.partitions` = n, restoring the
    * previous value after. Size to the VOLUME a stage actually shuffles
    * (streaming state keys, a near-dup label table), not CPU count —
    * and keep heavy upstream work OUTSIDE the scope: the conf is read at
    * plan time, so anything materialized inside runs at the narrow
    * width. Mutates the session's SQLConf, so callers running queries
    * CONCURRENTLY on one session should instead plan the narrow work on
    * `spark.newSession()` (isolated conf, shared catalog/state). */
  def withShufflePartitions[T](spark: SparkSession, n: Int)(body: => T): T = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** [[withShufflePartitions]] with AQE partition COALESCING off for the
    * scope: coalescing targets shuffle BYTES, but a hash aggregate's
    * in-memory entry set can be an order of magnitude larger than its
    * compressed shuffle input — a wide aggregate that NEEDS its n slices
    * (q291's 1e8-edge rank aggregation) gets re-fattened by AQE and
    * exhausts unified memory. Skew-join splitting stays on. */
  def withWideAggPartitions[T](spark: SparkSession, n: Int)(body: => T): T = {
    val prevC = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try withShufflePartitions(spark, n)(body)
    finally
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prevC)
  }

  /** Standard engine session builder (UTC, tuned shuffle width, events
    * nanos compat, custom functions). AQE knobs are set explicitly even
    * where they match Spark 4 defaults — runtime partition coalescing
    * and skew-join splitting are part of this engine's 100 TB design
    * (shuffle width here is sized for the local harness; a cluster
    * deployment scales `shuffle.partitions` with executor count and
    * relies on AQE to coalesce). */
  def builder(master: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Cached plans coalesce like everything else: with the Spark
      // default (false), a frame cached inside a wide-shuffle scope
      // pins its width onto every downstream stage — q290's HyperBall
      // rounds cache at the 256-partition sketch width and re-ran 256
      // near-empty tasks per stage at sf0.1. AQE still keeps partitions
      // at the advisory byte size, so the sf10 wide-state protection is
      // unchanged — the width now ADAPTS to the volume instead of the
      // constant (guide §2: scale-adaptive partitioning).
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", Tmp.dir("graft-warehouse").toString)
      .config("spark.ui.enabled", "false")
      .withExtensions(registerGraftFunctions)
}
