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

  private def intArg(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, _) => v
    case other =>
      throw new IllegalArgumentException(s"$fn expects a literal int, got $other")
  }

  /** Registers the graft_* functions (see graft.functions.TextKernels)
    * and the kernel-fusion optimizer rule (graft.plans.KernelFusion). */
  val registerGraftFunctions: SparkSessionExtensions => Unit = { ext =>
    ext.injectOptimizerRule(graft.plans.KernelFusion.apply)
    ext.injectResolutionRule(_ => graft.plans.AsOfRewrite)
    ext.injectPlannerStrategy(graft.plans.AsOfJoinStrategy.apply)
    def info(name: String, clazz: Class[_]) = new ExpressionInfo(clazz.getName, name)
    ext.injectFunction((FunctionIdentifier("graft_shingle_hashes"),
      info("graft_shingle_hashes", classOf[ShingleHashes]),
      (e: Seq[Expression]) => ShingleHashes(e.head, intArg(e(1), "graft_shingle_hashes"))))
    ext.injectFunction((FunctionIdentifier("graft_window_hashes"),
      info("graft_window_hashes", classOf[WindowHashes]),
      (e: Seq[Expression]) => WindowHashes(e.head, intArg(e(1), "graft_window_hashes"))))
    ext.injectFunction((FunctionIdentifier("graft_token_hashes"),
      info("graft_token_hashes", classOf[TokenHashes]),
      (e: Seq[Expression]) => TokenHashes(e.head)))
    ext.injectFunction((FunctionIdentifier("graft_minhash_signature"),
      info("graft_minhash_signature", classOf[MinHashSignature]),
      (e: Seq[Expression]) => MinHashSignature(e.head, intArg(e(1), "graft_minhash_signature"))))
    ext.injectFunction((FunctionIdentifier("graft_simhash"),
      info("graft_simhash", classOf[SimHash]),
      (e: Seq[Expression]) => SimHash(e.head, intArg(e(1), "graft_simhash"))))
    ext.injectFunction((FunctionIdentifier("graft_sorted_intersect_size"),
      info("graft_sorted_intersect_size", classOf[SortedIntersectSize]),
      (e: Seq[Expression]) => SortedIntersectSize(e.head, e(1))))
    ext.injectFunction((FunctionIdentifier("graft_dot_product"),
      info("graft_dot_product", classOf[DotProduct]),
      (e: Seq[Expression]) => DotProduct(e.head, e(1))))
    ext.injectFunction((FunctionIdentifier("graft_hll_distinct"),
      info("graft_hll_distinct", classOf[HllDistinct]),
      (e: Seq[Expression]) => HllDistinct(e.head,
        if (e.length > 1) intArg(e(1), "graft_hll_distinct") else 12)))
    ext.injectFunction((FunctionIdentifier("graft_hll_sketch"),
      info("graft_hll_sketch", classOf[HllSketch]),
      (e: Seq[Expression]) => HllSketch(e.head,
        if (e.length > 1) intArg(e(1), "graft_hll_sketch") else 12)))
    ext.injectFunction((FunctionIdentifier("graft_hll_merge"),
      info("graft_hll_merge", classOf[HllMergeAgg]),
      (e: Seq[Expression]) => HllMergeAgg(e.head)))
    ext.injectFunction((FunctionIdentifier("graft_hll_estimate"),
      info("graft_hll_estimate", classOf[HllEstimate]),
      (e: Seq[Expression]) => HllEstimate(e.head)))
    ext.injectFunction((FunctionIdentifier("graft_kmv_sketch"),
      info("graft_kmv_sketch", classOf[KmvSketch]),
      (e: Seq[Expression]) => KmvSketch(e.head,
        if (e.length > 1) intArg(e(1), "graft_kmv_sketch") else 1024)))
    ext.injectFunction((FunctionIdentifier("graft_kmv_merge"),
      info("graft_kmv_merge", classOf[KmvMergeAgg]),
      (e: Seq[Expression]) => KmvMergeAgg(e.head)))
    ext.injectFunction((FunctionIdentifier("graft_kmv_estimate"),
      info("graft_kmv_estimate", classOf[KmvEstimate]),
      (e: Seq[Expression]) => KmvEstimate(e.head)))
    ext.injectFunction((FunctionIdentifier("graft_kmv_jaccard"),
      info("graft_kmv_jaccard", classOf[KmvJaccard]),
      (e: Seq[Expression]) => KmvJaccard(e.head, e(1))))
    ext.injectFunction((FunctionIdentifier("graft_kll_sketch"),
      info("graft_kll_sketch", classOf[KllSketchAgg]),
      (e: Seq[Expression]) => KllSketchAgg(e.head,
        if (e.length > 1) intArg(e(1), "graft_kll_sketch") else 256)))
    ext.injectFunction((FunctionIdentifier("graft_kll_merge"),
      info("graft_kll_merge", classOf[KllMergeAgg]),
      (e: Seq[Expression]) => KllMergeAgg(e.head)))
    ext.injectFunction((FunctionIdentifier("graft_kll_quantile"),
      info("graft_kll_quantile", classOf[KllQuantile]),
      (e: Seq[Expression]) => KllQuantile(e.head, e(1))))
    ext.injectFunction((FunctionIdentifier("graft_bloom_contains"),
      info("graft_bloom_contains", classOf[BloomContains]),
      (e: Seq[Expression]) => BloomContains(e.head, e(1))))
    ext.injectFunction((FunctionIdentifier("graft_cm_sketch"),
      info("graft_cm_sketch", classOf[CmSketch]),
      (e: Seq[Expression]) => CmSketch(e.head,
        if (e.length > 1) intArg(e(1), "graft_cm_sketch") else 2048,
        if (e.length > 2) intArg(e(2), "graft_cm_sketch") else 4)))
    ext.injectFunction((FunctionIdentifier("graft_cm_merge"),
      info("graft_cm_merge", classOf[CmMergeAgg]),
      (e: Seq[Expression]) => CmMergeAgg(e.head)))
    ext.injectFunction((FunctionIdentifier("graft_cm_estimate"),
      info("graft_cm_estimate", classOf[CmEstimate]),
      (e: Seq[Expression]) => CmEstimate(e.head, e(1))))
    ext.injectFunction((FunctionIdentifier("graft_cm_join_size"),
      info("graft_cm_join_size", classOf[CmJoinSize]),
      (e: Seq[Expression]) => CmJoinSize(e.head, e(1))))
    ext.injectFunction((FunctionIdentifier("graft_cm_total"),
      info("graft_cm_total", classOf[CmTotal]),
      (e: Seq[Expression]) => CmTotal(e.head)))
    ext.injectFunction((FunctionIdentifier("graft_freq_sketch"),
      info("graft_freq_sketch", classOf[FreqSketch]),
      (e: Seq[Expression]) => FreqSketch(e.head, intArg(e(1), "graft_freq_sketch"))))
    ext.injectFunction((FunctionIdentifier("graft_topk"),
      info("graft_topk", classOf[TopKRows]),
      (e: Seq[Expression]) => TopKRows(e.head, e(1), intArg(e(2), "graft_topk"))))
    ext.injectFunction((FunctionIdentifier("graft_lsh_buckets"),
      info("graft_lsh_buckets", classOf[LshBuckets]),
      (e: Seq[Expression]) => LshBuckets(e.head,
        intArg(e(1), "graft_lsh_buckets"), intArg(e(2), "graft_lsh_buckets"),
        intArg(e(3), "graft_lsh_buckets"))))
    ext.injectFunction((FunctionIdentifier("graft_cdc_boundaries"),
      info("graft_cdc_boundaries", classOf[CdcBoundaries]),
      (e: Seq[Expression]) => CdcBoundaries(e.head,
        intArg(e(1), "graft_cdc_boundaries"), intArg(e(2), "graft_cdc_boundaries"))))
    ext.injectFunction((FunctionIdentifier("graft_ahash"),
      info("graft_ahash", classOf[AHash64]),
      (e: Seq[Expression]) => AHash64(e.head)))
    ext.injectFunction((FunctionIdentifier("graft_asof"),
      info("graft_asof", classOf[graft.plans.AsOfMarker]),
      (e: Seq[Expression]) => graft.plans.AsOfMarker(e.head, e(1), e(2))))
    ext.injectFunction((FunctionIdentifier("graft_bitmap_sketch"),
      info("graft_bitmap_sketch", classOf[BitmapSketch]),
      (e: Seq[Expression]) => BitmapSketch(e.head)))
    ext.injectFunction((FunctionIdentifier("graft_bitmap_merge"),
      info("graft_bitmap_merge", classOf[BitmapMergeAgg]),
      (e: Seq[Expression]) => BitmapMergeAgg(e.head)))
    ext.injectFunction((FunctionIdentifier("graft_bitmap_count"),
      info("graft_bitmap_count", classOf[BitmapCount]),
      (e: Seq[Expression]) => BitmapCount(e.head)))
    ext.injectFunction((FunctionIdentifier("graft_norm_text"),
      info("graft_norm_text", classOf[NormText]),
      (e: Seq[Expression]) => NormText(e.head)))
    ext.injectFunction((FunctionIdentifier("graft_pair_products"),
      info("graft_pair_products", classOf[PairProducts]),
      (e: Seq[Expression]) => PairProducts(e.head)))
    ext.injectFunction((FunctionIdentifier("graft_char_counts"),
      info("graft_char_counts", classOf[CharCounts]),
      (e: Seq[Expression]) => CharCounts(e.head)))
    ext.injectFunction((FunctionIdentifier("graft_rolling_hash"),
      info("graft_rolling_hash", classOf[RollingHash]),
      (e: Seq[Expression]) => RollingHash(e.head)))
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
