package graft

import graft.functions._

/** `Sessions.registerGraftFunctions` registers every graft_* function
  * under its name with the expression class as its `ExpressionInfo`. */
class SessionsSpec extends SparkSuite {

  private val expected: Seq[(String, Class[_])] = Seq(
    "graft_shingle_hashes" -> classOf[ShingleHashes],
    "graft_window_hashes" -> classOf[WindowHashes],
    "graft_token_hashes" -> classOf[TokenHashes],
    "graft_minhash_signature" -> classOf[MinHashSignature],
    "graft_simhash" -> classOf[SimHash],
    "graft_sorted_intersect_size" -> classOf[SortedIntersectSize],
    "graft_dot_product" -> classOf[DotProduct],
    "graft_hll_distinct" -> classOf[HllDistinct],
    "graft_hll_sketch" -> classOf[HllSketch],
    "graft_hll_merge" -> classOf[HllMergeAgg],
    "graft_hll_estimate" -> classOf[HllEstimate],
    "graft_kmv_sketch" -> classOf[KmvSketch],
    "graft_kmv_merge" -> classOf[KmvMergeAgg],
    "graft_kmv_estimate" -> classOf[KmvEstimate],
    "graft_kmv_jaccard" -> classOf[KmvJaccard],
    "graft_kll_sketch" -> classOf[KllSketchAgg],
    "graft_kll_merge" -> classOf[KllMergeAgg],
    "graft_kll_quantile" -> classOf[KllQuantile],
    "graft_bloom_contains" -> classOf[BloomContains],
    "graft_cm_sketch" -> classOf[CmSketch],
    "graft_cm_merge" -> classOf[CmMergeAgg],
    "graft_cm_estimate" -> classOf[CmEstimate],
    "graft_cm_join_size" -> classOf[CmJoinSize],
    "graft_cm_total" -> classOf[CmTotal],
    "graft_freq_sketch" -> classOf[FreqSketch],
    "graft_topk" -> classOf[TopKRows],
    "graft_lsh_buckets" -> classOf[LshBuckets],
    "graft_cdc_boundaries" -> classOf[CdcBoundaries],
    "graft_ahash" -> classOf[AHash64],
    "graft_asof" -> classOf[graft.plans.AsOfMarker],
    "graft_bitmap_sketch" -> classOf[BitmapSketch],
    "graft_bitmap_merge" -> classOf[BitmapMergeAgg],
    "graft_bitmap_count" -> classOf[BitmapCount],
    "graft_norm_text" -> classOf[NormText],
    "graft_pair_products" -> classOf[PairProducts],
    "graft_char_counts" -> classOf[CharCounts],
    "graft_rolling_hash" -> classOf[RollingHash])

  test("every graft_* function resolves with its expression class") {
    assert(expected.map(_._1).distinct.size == 37)
    expected.foreach { case (name, clazz) =>
      assert(spark.catalog.functionExists(name), s"$name does not resolve")
      assert(spark.catalog.getFunction(name).className == clazz.getName,
        s"$name registered with the wrong class")
    }
  }
}
