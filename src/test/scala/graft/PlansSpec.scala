package graft

import org.apache.spark.sql.functions._

/** Physical-plan shape pins: the properties that make these operators
  * scale (pushdown reaching the parquet scan, broadcast for small dims,
  * top-k instead of global sort, whole-stage codegen) are asserted here
  * so a refactor can't silently regress them.
  */
class PlansSpec extends SparkSuite {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString()

  /** Window nodes in the optimized logical plan with an EMPTY
    * partitionSpec — the single-partition window shape these scale pins
    * forbid. Structural (round-19 advice): the previous string check
    * `!plan.contains("windowspecdefinition()")` was vacuous because
    * Spark prints unpartitioned windows as
    * `windowspecdefinition(<order>, specifiedwindowframe(...))`, never
    * with empty parens. */
  private def unpartitionedWindows(
      df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty =>
        w.windowExpressions.map(_.toString).mkString(", ")
      case w: org.apache.spark.sql.catalyst.plans.logical.WindowGroupLimit
          if w.partitionSpec.isEmpty =>
        s"WindowGroupLimit(${w.rankLikeFunction})"
    }

  test("filters and column pruning reach the parquet scan") {
    val p = plan(Tables.orders(spark, sfDir())
      .filter(col("o_totalprice") > 1000.0)
      .select("o_orderkey"))
    assert(p.contains("PushedFilters: ["), s"no pushdown in:\n$p")
    assert(p.contains("GreaterThan(o_totalprice,1000.0)"), s"filter not pushed:\n$p")
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint,o_totalprice:double>"),
      s"columns not pruned:\n$p")
  }

  test("gold dept model: dimension joins broadcast, no shuffle join") {
    Seq("orders", "customer", "nation").foreach(t =>
      Tables.load(spark, sfDir(), t).createOrReplaceTempView(t))
    val df = graft.sql.GoldModels.run(spark, graft.sql.GoldModels.attritionByDept)
    df.collect() // let AQE finalize the plan
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"unexpected shuffle join:\n$p")
  }

  test("LIMIT after ORDER BY plans as top-k, not a global sort") {
    val p = plan(Tables.orders(spark, sfDir())
      .orderBy(col("o_totalprice").desc).limit(5))
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k plan:\n$p")
  }

  test("whole-stage codegen covers the scan+filter+agg spine") {
    val df = Tables.orders(spark, sfDir())
      .filter(col("o_orderstatus") === "F")
      .groupBy("o_custkey").agg(count(lit(1)))
    df.collect() // AQE shows codegen spans only in the final plan
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("*("), s"no whole-stage codegen spans:\n$p")
  }

  test("broadcast ANN: corpus side has no shuffle exchange before the join") {
    val e = Tables.embeddings(spark, sfDir())
    val df = graft.ops.Similarity.topKBruteForce(
      e, e.filter(col("vec_id") < 2), "vec_id", "embedding", 2)
    val p = plan(df)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query side must broadcast:\n$p")
  }

  test("partitioned layout: single-partition filter prunes the scan (q52)") {
    val out = graft.Tmp.dir("graft-prune").toString
    Tables.events(spark, sfDir()).select("event_id", "user_id", "event_type", "value")
      .write.mode("overwrite").partitionBy("event_type").parquet(out)
    val df = spark.read.parquet(out).filter(col("event_type") === "purchase")
    val p = plan(df)
    assert(p.contains("PartitionFilters:") && p.contains("event_type"),
      s"no partition filter in scan:\n$p")
    // the pruned scan must read exactly the one matching directory
    val scanned = df.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount
    }
    assert(scanned.contains(1), s"expected 1 selected partition, got $scanned")
  }

  test("latest-per-key window gets Spark's native rank pushdown (WindowGroupLimit)") {
    // the engine deliberately does NOT reimplement this rewrite: Spark's
    // InferWindowGroupLimit already prunes each partition to the top rank
    // before the shuffle for the window formulation; graft_topk covers
    // the aggregate formulation (q58), where partial aggregation prunes
    // instead. Pin that the native optimization actually fires.
    val df = SparkEntry.queries("q04_latest_order_per_customer")(spark, sfDir())
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("WindowGroupLimit"), s"rank pushdown missing:\n$p")
  }

  test("star-schema rollup: three broadcast hops, fact table never shuffled pre-join") {
    val df = SparkEntry.queries("q66_region_revenue")(spark, sfDir())
    df.collect()
    // AQE's toString prints the final plan then echoes the initial plan —
    // count joins only in the final section
    val p = df.queryExecution.executedPlan.toString().split("== Initial Plan ==")(0)
    assert("BroadcastHashJoin".r.findAllIn(p).size == 3, s"expected 3 broadcast joins:\n$p")
    assert(!p.contains("SortMergeJoin"), s"fact side must not shuffle for a join:\n$p")
  }

  test("AQE splits a skewed join partition at runtime (skew=true): " +
      "Spark's OptimizeSkewedJoin rule, the first line of defense the " +
      "q105 salt-vs-AQE decision rule leans on") {
    import spark.implicits._
    // one hot key with ~200k wide rows vs 100 cold keys; thresholds
    // lowered so the local fixture trips the same machinery a 100 TB
    // hot-key join would. The `skew=true` marker below is emitted by
    // AQEShuffleRead exactly when OptimizeSkewedJoin replaced the hot
    // partition with multiple sub-reads; explicit salting (q34) covers
    // the shapes this rule cannot split (see q105's scaladoc).
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      // thresholds in terms of COMPRESSED shuffle-block sizes (what map
      // output statistics report), hence far below the logical bytes
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val pad = "x" * 64
      val skewed = (1 to 220000).map(i => (if (i % 11 == 0) i.toLong % 100 else 0L, pad))
        .toDF("k", "pad")
      val dim = (0L to 100L).map(k => (k, s"dim$k")).toDF("k", "name")
      // aggregate over pad so column pruning can't strip the bytes that
      // make the hot partition skewed
      val joined = skewed.join(dim, "k").groupBy("name")
        .agg(sum(length(col("pad"))).as("bytes"))
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString()
      assert(p.contains("skew=true"), s"AQE did not split the skewed partition:\n$p")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("runtime bloom filter prunes the fact side of a selective join") {
    // a selective dimension filter should inject a bloom filter on the
    // fact side's join key BEFORE the shuffle — at 100 TB this drops
    // most fact rows at the scan instead of shuffling them. Thresholds
    // lowered to fixture scale.
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = Tables.lineitem(spark, sfDir("0.01")).select("l_orderkey", "l_quantity")
      val o = Tables.orders(spark, sfDir("0.01"))
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      val joined = li.join(o, col("l_orderkey") === col("o_orderkey"))
      val p = joined.queryExecution.optimizedPlan.toString()
      assert(p.toLowerCase.contains("bloom"), s"no runtime bloom filter injected:\n$p")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q53 heavy hitters: candidate membership is a broadcast hash join, not a per-row array scan") {
    // the exploded ~k-row candidate frame must broadcast-hash-join on
    // term — O(1) probe per token occurrence; the array_contains
    // formulation cost an O(k=400) interpreted scan per token
    val df = SparkEntry.queries("q53_heavy_hitters")(spark, sfDir())
    df.collect()
    val p = df.queryExecution.executedPlan.toString().split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast hash join on term:\n$p")
    assert(!p.contains("array_contains"), s"per-row candidate scan survived:\n$p")
  }

  test("partitioned write: one file per partition value (q52 write layout)") {
    val out = graft.Tmp.dir("graft-writelayout").toString
    Tables.events(spark, sfDir()).select("event_id", "user_id", "event_type", "value")
      .repartition(col("event_type"))
      .write.mode("overwrite").partitionBy("event_type").parquet(out)
    val dirs = new java.io.File(out).listFiles().filter(_.getName.startsWith("event_type="))
    assert(dirs.nonEmpty)
    dirs.foreach { d =>
      val files = d.listFiles().count(_.getName.endsWith(".parquet"))
      assert(files == 1, s"${d.getName}: expected 1 file per partition value, got $files")
    }
  }

  test("q72 outer-join battery: ONE full-outer join, no Union (plan pin)") {
    // the three-join/six-shuffle formulation never showed in wall-clock
    // (fixed-cost noise floor), so only a plan pin can keep it dead
    import org.apache.spark.sql.catalyst.plans.logical.{Join, Union}
    val df = SparkEntry.queries("q72_outer_join_battery")(spark, sfDir())
    val lp = df.queryExecution.optimizedPlan
    val joins = lp.collect { case j: Join => j }
    assert(joins.size == 1, s"expected exactly one join:\n$lp")
    assert(joins.head.joinType.sql == "FULL OUTER",
      s"expected a full-outer join, got ${joins.head.joinType}:\n$lp")
    assert(lp.collect { case u: Union => u }.isEmpty,
      s"union crept back into the key-set report:\n$lp")
  }

  test("q78 bigram scoring: no O(corpus-tokens) cache in the plan — only " +
      "the small checkpointed count table is pinned") {
    val df = SparkEntry.queries("q78_bigram_logprob")(spark, sfDir())
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
    assert(!p.contains("InMemoryTableScan"),
      s"per-occurrence pair frame is cached again:\n$p")
  }

  test("q83 per-source cap: WindowGroupLimit prunes to top-K before the shuffle") {
    val df = SparkEntry.queries("q83_source_cap")(spark, sfDir())
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("WindowGroupLimit"), s"cap not pruned map-side:\n$p")
  }

  test("q85 embedding outliers: centroid scoring join is broadcast, the " +
      "exploded vector stream is never shuffled for it") {
    val df = SparkEntry.queries("q85_embedding_outliers")(spark, sfDir())
    df.collect()
    val p = df.queryExecution.executedPlan.toString().split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastHashJoin"), s"centroids must broadcast:\n$p")
  }

  test("q88 token budget: partition offsets join by broadcast — no extra " +
      "exchange after the range partitioning") {
    val df = SparkEntry.queries("q88_token_budget")(spark, sfDir())
    df.collect()
    val p = df.queryExecution.executedPlan.toString().split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastHashJoin"), s"offsets must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"offsets join must not shuffle:\n$p")
  }

  test("deterministic sample gate stays a scan-level pushed filter") {
    // no Exchange anywhere: sampling must not shuffle
    val p = plan(Tables.documents(spark, sfDir())
      .filter(graft.ops.Sample.hashGate(col("doc_id")) < 25))
    assert(!p.contains("Exchange"), s"sampling introduced a shuffle:\n$p")
  }

  test("q89 decontamination: benchmark shingle set broadcasts; the corpus " +
      "is never shuffle-joined on the shingle key") {
    val df = SparkEntry.queries("q89_decontamination")(spark, sfDir())
    df.collect()
    val p = df.queryExecution.executedPlan.toString().split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastHashJoin"), s"benchmark side must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus shuffled on shingle key:\n$p")
  }

  test("q101 bloom decontamination: the probe filters BENEATH the confirm " +
      "join, and the corpus is still never shuffle-joined") {
    val df = SparkEntry.queries("q101_bloom_decontamination")(spark, sfDir())
    df.collect()
    val p = df.queryExecution.executedPlan.toString().split("== Initial Plan ==")(0)
    assert(p.contains("graft_bloom_contains"),
      s"bloom prefilter missing from the executed plan:\n$p")
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      s"confirm join shape regressed:\n$p")
    // the probe must sit in a Filter below the join, not above it —
    // prefilters that run after the join prune nothing
    val joinAt = p.indexOf("BroadcastHashJoin")
    val probeAt = p.indexOf("graft_bloom_contains")
    assert(probeAt > joinAt,
      s"bloom probe printed above the join (runs after it):\n$p")
  }

  test("round-7 shapes: no single-partition stage in the distributed " +
      "orders (q102 window, q104 prefix sum, q107 histogram)") {
    // global singleton AGGREGATES legitimately reduce to one partition;
    // what must never appear is a single-partition WINDOW/SORT over row
    // data — the 100 TB non-starter these ops were built to avoid
    Seq("q102_epoch_shuffle", "q104_systematic_pps",
        "q107_equidepth_histogram").foreach { q =>
      val df = SparkEntry.queries(q)(spark, sfDir())
      df.collect()
      val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      val unpart = unpartitionedWindows(df)
      assert(unpart.isEmpty,
        s"$q has an unpartitioned window: ${unpart.mkString("; ")}\n$p")
      // every Sort in the plan is within-partition (global=false) or
      // feeds TakeOrdered — never a global single-partition sort
      assert(!p.contains("Sort [") || !p.contains("global=true") ||
        p.contains("TakeOrdered"),
        s"$q sorts globally:\n$p")
    }
  }

  test("q105 skew profile: heavy keys via TakeOrdered (bounded heap), the " +
      "key-count exchange reused, no sort-merge join") {
    val df = SparkEntry.queries("q105_skew_profile")(spark, sfDir())
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("TakeOrderedAndProject"),
      s"top-K must be a bounded heap, not a global sort:\n$p")
    assert(!p.contains("SortMergeJoin"), s"profile must not shuffle-join:\n$p")
    assert(p.contains("ReusedExchange"),
      s"the per-key count exchange should be computed once and reused:\n$p")
  }

  test("q108 checksum: pure aggregation — no join anywhere") {
    val p = plan(SparkEntry.queries("q108_table_checksum")(spark, sfDir()))
    assert(!p.contains("Join"), s"checksum must not join:\n$p")
  }

  test("governance scan passes stay shuffle-free: PII redaction, split " +
      "assignment, chunk explode plan zero exchanges") {
    Seq("q90_pii_redaction", "q91_train_split", "q92_chunking").foreach { q =>
      val p = plan(SparkEntry.queries(q)(spark, sfDir()))
      assert(!p.contains("Exchange"), s"$q introduced a shuffle:\n$p")
    }
  }

  test("q93 boilerplate: doc frequency via window, no join back — " +
      "no Join node anywhere in the plan") {
    val p = plan(SparkEntry.queries("q93_boilerplate")(spark, sfDir()))
    assert(!p.contains("Join"), s"doc-frequency must not join back:\n$p")
    assert(p.contains("Window"), s"expected the window df count:\n$p")
  }

  test("q94 mixture weights: the corpus-total normalizer joins by broadcast") {
    val df = SparkEntry.queries("q94_mixture_weights")(spark, sfDir())
    df.collect()
    val p = df.queryExecution.executedPlan.toString().split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"singleton total must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"mixture math shuffled:\n$p")
  }

  test("q112 priority sample: top-(n+1) is a bounded-heap TakeOrdered, " +
      "never a global row sort") {
    val df = SparkEntry.queries("q112_priority_sample")(spark, sfDir())
    df.collect()
    // the TakeOrdered runs inside the localCheckpoint that feeds the
    // final (bounded, ≤ n+1-row) ranking frame — probe the op directly
    val top = Tables.documents(spark, sfDir())
      .withColumn("priority", col("n_chars").cast("double"))
      .orderBy(col("priority").desc, col("doc_id")).limit(51)
    assert(plan(top).contains("TakeOrderedAndProject"),
      s"top-(n+1) must plan as a bounded heap:\n${plan(top)}")
    // and the full query never global-sorts row data
    val p = df.queryExecution.executedPlan.toString().split("== Initial Plan ==")(0)
    assert(!(p.contains("Sort [") && p.contains("global=true")),
      s"q112 sorts globally:\n$p")
  }

  test("q113 kmeans: assignment is a scan-level projection — no join, no " +
      "cartesian anywhere in training; the count-centroid join broadcasts") {
    // training aggregate: one scan → project(argmin literal) → hash agg
    val (assigned, _) = graft.ops.Similarity.kmeansLloyd(
      Tables.embeddings(spark, sfDir()), "vec_id", "embedding", k = 4, iters = 1)
    val pa = plan(assigned.groupBy("cluster").count())
    assert(!pa.contains("Join"), s"assignment must not join:\n$pa")
    assert(pa.contains("HashAggregate"), s"expected hash aggregate:\n$pa")
    val df = SparkEntry.queries("q113_kmeans_train")(spark, sfDir())
    df.collect()
    val p = df.queryExecution.executedPlan.toString().split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"q113 must not shuffle-join or cartesian:\n$p")
  }

  test("q114 prefix-filter join and q116 trained IVF: candidate " +
      "generation is bucket/cell-keyed — no cartesian product") {
    Seq("q114_jaccard_join", "q116_trained_ivf").foreach { q =>
      val df = SparkEntry.queries(q)(spark, sfDir())
      df.collect()
      val p = df.queryExecution.executedPlan.toString().split("== Initial Plan ==")(0)
      assert(!p.contains("CartesianProduct"), s"$q went quadratic:\n$p")
    }
  }

  test("q110 overlap shape: the exact-twin intersection joins on the " +
      "shingle hash, never a cartesian (probed pre-checkpoint — the query " +
      "returns a materialized frame whose plan is just the RDD scan)") {
    val docs = Tables.documents(spark, sfDir())
    val sh = graft.ops.Dedup
      .withShingleHashes(docs.select(col("source"), col("text")), "text", 3)
      .select(col("source"), explode(col("hv")).as("h"))
      .distinct()
    val inter = sh.select(col("source").as("source_a"), col("h"))
      .join(sh.select(col("source").as("source_b"), col("h")), "h")
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("inter"))
    inter.collect()
    val p = inter.queryExecution.executedPlan.toString().split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct"), s"q110's twin went quadratic:\n$p")
  }

  test("q151 capped pairs: rank prune is a WindowGroupLimit, candidate " +
      "join is bucket-keyed — no cartesian (probed pre-checkpoint)") {
    val docs = Tables.documents(spark, sfDir())
    val hashed = docs
      .withColumn("th", call_function("graft_token_hashes", col("text")))
      .filter(size(col("th")) > 0)
      .withColumn("sim", graft.ops.Dedup.simhash(col("th")))
      .select(col("doc_id"), col("sim"))
    val pairs = graft.ops.Dedup
      .cappedPairsFrame(hashed, "doc_id", bands = 4, maxHamming = 3, cap = 16)
    pairs.collect()
    val p = pairs.queryExecution.executedPlan.toString().split("== Initial Plan ==")(0)
    assert(p.contains("WindowGroupLimit"), s"cap not pruned map-side:\n$p")
    assert(!p.contains("CartesianProduct"), s"capped candidates went quadratic:\n$p")
    // the cap must sit UPSTREAM of the bucket join — a refactor that
    // joins first and caps after stays correctness-green at sf0.01 but
    // reopens the mega-bucket quadratic at scale. The plan string
    // prints root-first (inputs BELOW consumers), so every
    // WindowGroupLimit/rank-filter index must be LARGER than the
    // candidate join's index.
    val joinIdx = "(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)".r
      .findFirstMatchIn(p).map(_.start)
    assert(joinIdx.isDefined, s"bucket-keyed candidate join missing:\n$p")
    val wglIdx = p.indexOf("WindowGroupLimit")
    assert(wglIdx > joinIdx.get,
      s"degree cap is DOWNSTREAM of the bucket join — the quadratic is back:\n$p")
    val rkIdx = p.indexOf("_rk")
    assert(rkIdx > joinIdx.get,
      s"rank filter is not inside the join's input subtree:\n$p")
  }

  test("q111 span dedup: the boilerplate set joins by broadcast onto the " +
      "shingle stream") {
    val df = SparkEntry.queries("q111_span_dedup")(spark, sfDir())
    df.collect()
    val p = df.queryExecution.executedPlan.toString().split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastHashJoin"), s"boilerplate set must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"q111 went quadratic:\n$p")
  }

  test("q125 record linkage: candidates come from the blocking equi-join, " +
      "never a cartesian; edit distance scores only blocked pairs") {
    val df = SparkEntry.queries("q125_record_linkage")(spark, sfDir())
    df.collect()
    val p = df.queryExecution.executedPlan.toString().split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"linkage went quadratic:\n$p")
  }

  test("q131 collocations: top-30 plans as a TakeOrdered heap and the " +
      "pair expansion never goes quadratic") {
    val df = SparkEntry.queries("q131_collocations")(spark, sfDir())
    df.collect()
    val p = df.queryExecution.executedPlan.toString().split("== Initial Plan ==")(0)
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k heap:\n$p")
    assert(!p.contains("CartesianProduct"), s"q131 went quadratic:\n$p")
  }

  test("q127 corpus drift: version totals join as broadcast scalars, " +
      "no single-partition window") {
    val df = SparkEntry.queries("q127_corpus_drift")(spark, sfDir())
    df.collect()
    val p = df.queryExecution.executedPlan.toString().split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastNestedLoopJoin"), s"totals must broadcast:\n$p")
    assert(!p.contains("Window"), s"drift must not use a window:\n$p")
  }

  test("q178 CDC chunking: shuffle-free — one scan, a narrow explode, " +
      "no exchange anywhere") {
    val df = SparkEntry.queries("q178_cdc_chunks")(spark, sfDir())
    df.collect()
    val p = df.queryExecution.executedPlan.toString().split("== Initial Plan ==")(0)
    assert(!p.contains("Exchange"), s"chunking must not shuffle:\n$p")
    assert(p.contains("Generate"), s"expected the chunk explode:\n$p")
  }

  test("q187 rendezvous sharding: pure scan projection — no exchange, " +
      "no join, filters still reach the scan") {
    val df = SparkEntry.queries("q187_rendezvous_shards")(spark, sfDir())
    df.collect()
    val p = df.queryExecution.executedPlan.toString().split("== Initial Plan ==")(0)
    assert(!p.contains("Exchange"), s"sharding must not shuffle:\n$p")
    assert(!p.contains("Join"), s"sharding must not join:\n$p")
  }

  test("q181 bitmap distinct: both levels are partial-merge hash " +
      "aggregates (map-side combine before each shuffle)") {
    val df = SparkEntry.queries("q181_bitmap_distinct")(spark, sfDir())
    df.collect()
    val p = df.queryExecution.executedPlan.toString().split("== Initial Plan ==")(0)
    // TypedImperativeAggregate plans as ObjectHashAggregate with a
    // partial pass per grouping level — the pre-aggregation shape
    assert(p.contains("ObjectHashAggregate"), s"expected object hash agg:\n$p")
    assert("partial_graft_bitmap_sketch".r.findAllIn(p).nonEmpty,
      s"sketch must partial-aggregate map-side:\n$p")
    assert("partial_graft_bitmap_merge".r.findAllIn(p).nonEmpty,
      s"rollup must partial-merge map-side:\n$p")
  }

  test("q186 Borda: the top-50 cut is a TakeOrdered heap and no " +
      "single-partition corpus window survives in the plan") {
    val df = SparkEntry.queries("q186_borda_quality")(spark, sfDir())
    df.collect()
    val p = df.queryExecution.executedPlan.toString().split("== Initial Plan ==")(0)
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k heap:\n$p")
  }

  test("q243 covariance: grid maps join by BROADCAST onto the partial " +
      "pair aggregate — the corpus never shuffles on anything but the " +
      "2016-key pos") {
    val df = SparkEntry.queries("q243_embedding_covariance")(spark, sfDir())
    df.collect()
    val p = df.queryExecution.executedPlan.toString().split("== Initial Plan ==")(0)
    assert(p.contains("graft_pair_products"),
      s"compiled pair-products kernel missing from the plan:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"pos/dim grid maps must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"covariance must not shuffle-join or go quadratic:\n$p")
  }

  test("q247 MaxSim: the query block set broadcasts; no shuffled join " +
      "touches the doc-block scan") {
    val df = SparkEntry.queries("q247_maxsim_retrieval")(spark, sfDir())
    df.collect()
    val p = df.queryExecution.executedPlan.toString().split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastNestedLoopJoin") ||
        p.contains("BroadcastHashJoin"),
      s"query blocks must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"MaxSim must not shuffle-join the corpus:\n$p")
  }

  test("q261 bootstrap: replica sums combine map-side and the scan " +
      "prunes to (doc_id, n_chars) through the ×50 explode") {
    val df = SparkEntry.queries("q261_bootstrap_ci")(spark, sfDir())
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
    // without map-side partials the 50× exploded rows shuffle raw — the
    // whole point of the multiplier bootstrap is a B-row shuffle
    assert(p.contains("partial_sum"),
      s"replica sums must partial-aggregate before the shuffle:\n$p")
    val reads = p.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(!reads.contains("text") && !reads.contains("lang"),
      s"bootstrap must not read text columns:\n$reads")
  }

  test("q263 FDR drift: the source list broadcasts onto the corpus and " +
      "the BH threshold ladder broadcasts onto the 20-row rank table") {
    val df = SparkEntry.queries("q263_fdr_source_drift")(spark, sfDir())
    df.collect()
    val p = df.queryExecution.executedPlan.toString().split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"source fan-out must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"the 20×-explode must not shuffle-join or go quadratic:\n$p")
  }

  test("covariance arm: the pair pass is the COMPILED graft_pair_products " +
      "kernel (q243 directly; q248/q273 via the shared PairMoments.pass " +
      "they now call) — the interpreted lambda fallback measured 3.4× at sf1") {
    // the shared pass itself (the one q248's fold and q273's grid build on)
    val pm = graft.ops.PairMoments.pass(
      Tables.embeddings(spark, sfDir()), "embedding")
    assert(pm.queryExecution.analyzed.toString().contains("graft_pair_products"),
      "PairMoments.pass dropped the compiled kernel")
    val pp = plan(pm)
    assert(pp.contains("graft_pair_products"),
      s"compiled kernel missing from the physical pass:\n$pp")
    assert(pp.contains("partial_"),
      s"the 2016-key grid must partial-aggregate map-side:\n$pp")
    // and the one-shot audit end to end (q273's final frame is driver
    // math over parameter-sized collects, so q243 is the query-level pin)
    val df = SparkEntry.queries("q243_embedding_covariance")(spark, sfDir())
    val p = plan(df)
    assert(p.contains("graft_pair_products"),
      s"q243 reverted off the compiled kernel:\n$p")
  }

  test("q244 unicode dedup normalizes with the COMPILED graft_norm_text " +
      "kernel, not an interpreted expression chain") {
    val df = SparkEntry.queries("q244_normalized_dedup")(spark, sfDir())
    val p = plan(df)
    assert(p.contains("graft_norm_text"),
      s"q244 reverted off the compiled kernel:\n$p")
  }

  test("q277 exact-substring dedup: the prefilter key stream is the " +
      "COMPILED graft_window_hashes rolling hash (the interpreted " +
      "20-token string chain measured 2.5×/4.0× slower at sf0.1/sf1) " +
      "and the candidate path never goes quadratic") {
    // the shared site stream localCheckpoints before consumers see it
    // (their plans show a LogicalRDD, not the kernel), so the kernel is
    // pinned on the LAZY recipe through the package-private accessor —
    // the PairMoments.pass precedent
    val (sites, cand) = graft.ops.Dedup.dupWindowSitesPlan(
      Tables.documents(spark, sfDir()), "doc_id", "text", 20)
    try {
      assert(sites.queryExecution.analyzed.toString()
          .contains("graft_window_hashes"),
        "the site stream reverted off the compiled rolling-hash prefilter")
    } finally cand.unpersist()
    val df = SparkEntry.queries("q277_exact_substring_dedup")(spark, sfDir())
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct"),
      s"candidate filtering must stay equi-join shaped:\n$p")
  }

  test("q301 DSIR selection: top-k plans as TakeOrderedAndProject — " +
      "never a global sort or single-partition rank window") {
    val df = SparkEntry.queries("q301_dsir_incremental")(spark, sfDir())
    df.collect()
    val p = plan(df)
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k plan:\n$p")
    val unpart = unpartitionedWindows(df)
    assert(unpart.isEmpty,
      s"unexpected unpartitioned window: ${unpart.mkString("; ")}\n$p")
  }

  test("q297 winnowing: every window is doc-partitioned (except the " +
      "df stop-fingerprint count, keyed on h) and the match join never " +
      "goes cartesian") {
    val df = SparkEntry.queries("q297_winnowing_matches")(spark, sfDir())
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct"),
      s"fingerprint matching must stay equi-join shaped:\n$p")
    val unpart = unpartitionedWindows(df)
    assert(unpart.isEmpty,
      s"a window lost its partition key: ${unpart.mkString("; ")}\n$p")
  }

  test("q308/q310 line dedup: ownership is a map-combinable AGGREGATE — " +
      "no window node anywhere in the plan (a hot boilerplate line must " +
      "never serialize a rank-window partition) and no cartesian") {
    for (q <- Seq("q308_line_dedup", "q310_line_dedup_ingest")) {
      val df = SparkEntry.queries(q)(spark, sfDir())
      df.collect()
      val windows = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
      assert(windows.isEmpty,
        s"$q ownership regressed onto a window: ${windows.mkString(";")}")
      val p = plan(df).split("== Initial Plan ==")(0)
      assert(!p.contains("CartesianProduct"), s"$q went cartesian:\n$p")
    }
  }

  test("q309 classifier: the weight table joins BROADCAST (the model is " +
      "grid-sized at any corpus scale) and nothing goes cartesian") {
    // q309's output localCheckpoints (its executed plan is only the
    // checkpoint scan), so the shape pins on the op pipeline it calls
    import graft.ops.Classify
    val docs = Tables.documents(spark, sfDir())
    val feats = Classify.hashedTokenFeatures(docs, "doc_id", "text", 256,
      carry = Seq("source"))
    val w = Classify.nbWeights(feats, col("source").isin("src0", "src1"), 256)
    val scored = Classify.nbScore(feats, w, "doc_id")
    scored.collect()
    val p = plan(scored)
    assert(p.contains("BroadcastHashJoin"),
      s"weight join must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"q309 went cartesian:\n$p")
  }

  test("q311 repetition battery: every window is doc-partitioned and no " +
      "gram string survives to a shuffle (gram keys are integers)") {
    val df = SparkEntry.queries("q311_repetition_gates")(spark, sfDir())
    df.collect()
    val unpart = unpartitionedWindows(df)
    assert(unpart.isEmpty,
      s"q311 has an unpartitioned window: ${unpart.mkString("; ")}")
    val p = plan(df).split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct"), s"q311 went cartesian:\n$p")
  }

  test("q300/q306 layout audits: workload probes run on the broadcast " +
      "file GRID, never a shuffled row-level join") {
    for (q <- Seq("q300_zorder_layout", "q306_bloom_skipping")) {
      val df = SparkEntry.queries(q)(spark, sfDir())
      df.collect()
      val p = plan(df)
      assert(p.contains("BroadcastNestedLoopJoin") ||
          p.contains("BroadcastHashJoin"),
        s"$q: the query workload must broadcast onto the grid:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q went cartesian:\n$p")
    }
  }

  test("q314 url/domain gate: the rule predicates are scan-level " +
      "projections — no window, no cartesian, and the reputation " +
      "rollup is hash aggregation (the stage-0 scale shape)") {
    val df = SparkEntry.queries("q314_url_domain_filter")(spark, sfDir())
    df.collect()
    val unpart = unpartitionedWindows(df)
    assert(unpart.isEmpty,
      s"q314 has an unpartitioned window: ${unpart.mkString("; ")}")
    val p = plan(df).split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct"), s"q314 went cartesian:\n$p")
    assert(p.contains("HashAggregate"),
      s"the domain rollup must be a hash aggregate:\n$p")
  }

  test("q315 language id: the k-class weight table joins BROADCAST " +
      "(the model is metadata-sized at any corpus scale) and the " +
      "verdict is an aggregate argmax, never a window") {
    import graft.ops.Classify
    val docs = Tables.documents(spark, sfDir())
    val feats = Classify.hashedTokenFeatures(docs, "doc_id", "text", 256,
      carry = Seq("lang"))
    val w = Classify.nbWeightsK(
      Classify.classCountsK(feats.filter(col("doc_id") % 5 =!= 4), "lang"),
      256)
    val pred = Classify.nbClassify(
      feats.filter(col("doc_id") % 5 === 4).drop("lang"), w, "doc_id")
    pred.collect()
    val p = plan(pred)
    assert(p.contains("BroadcastHashJoin"),
      s"the weight join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the weight join must not shuffle the feature stream:\n$p")
    val unpart = unpartitionedWindows(pred)
    assert(unpart.isEmpty,
      s"nbClassify has an unpartitioned window: ${unpart.mkString("; ")}")
  }
}
