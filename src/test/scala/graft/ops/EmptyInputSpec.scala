package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Empty-input behavior of the core operators: a pipeline stage fed an
  * empty (but correctly-typed) frame must return an empty, correctly-
  * schemed result — not throw. This is the shape of every first
  * production run, backfill gap, and fully-filtered partition. */
class EmptyInputSpec extends SparkSuite {
  import spark.implicits._

  private val noDocs = Seq.empty[(Long, String, String)]
    .toDF("doc_id", "text", "source")
  private val noVecs = Seq.empty[(Long, Seq[Double], String)]
    .toDF("vec_id", "embedding", "label")

  test("dedup family returns empty pair/tag sets") {
    assert(Dedup.exactDupTag(noDocs, "text", "doc_id").isEmpty)
    assert(Dedup.nearDupPairs(noDocs, "doc_id", "text").isEmpty)
    assert(Dedup.simhashPairs(noDocs, "doc_id", "text").isEmpty)
    assert(Dedup.blockedJaccardPairs(noDocs, "doc_id", "text", "source", 3, 0.1).isEmpty)
  }

  test("connected components of an empty pair set is empty; resolve keeps all docs") {
    val noPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Components.connectedComponents(noPairs, "id_a", "id_b").isEmpty)
    val docs = Seq(1L, 2L).toDF("doc_id")
    val resolved = Components.resolveClusters(docs, "doc_id", noPairs, "id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(resolved == Set((1L, 1L, true), (2L, 2L, true)))
  }

  test("similarity search over an empty corpus / empty query set") {
    val q = Seq((0L, Seq.fill(4)(1.0), "x")).toDF("vec_id", "embedding", "label")
    assert(Similarity.topKBruteForce(noVecs, q, "vec_id", "embedding", 3).isEmpty)
    assert(Similarity.topKBruteForce(q, q.limit(0), "vec_id", "embedding", 3).isEmpty)
    assert(Similarity
      .topKBucketed(noVecs, noVecs, "vec_id", "embedding", 3, 2, 4, 2).isEmpty)
  }

  test("scalar quantization refuses degenerate codebooks loudly") {
    // an empty corpus must REFUSE (kmeansLloyd's bootstrap contract),
    // not return empty codebooks that sqEncode turns into null codes
    val e1 = intercept[IllegalArgumentException](
      Similarity.sqTrain(noVecs, "embedding"))
    assert(e1.getMessage.contains("sqTrain"))
    val nullVecs = Seq((1L, null.asInstanceOf[Seq[Double]], "x"))
      .toDF("vec_id", "embedding", "label")
    intercept[IllegalArgumentException](Similarity.sqTrain(nullVecs, "embedding"))
    intercept[IllegalArgumentException](
      Similarity.sqEncode(col("embedding"), Seq.empty, Seq.empty))
    intercept[IllegalArgumentException](
      Similarity.sqDecode(col("code"), Seq(0.0), Seq(1.0, 2.0)))
  }

  test("merge family: empty source is a no-op, empty target bootstraps") {
    val target = Seq((1L, "a")).toDF("k", "v")
    val empty = target.limit(0)
    val kept = Merge.upsertMerge(target, empty, "k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(kept == Set((1L, "a")))
    val inserted = Merge.upsertMerge(empty, target, "k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(inserted == Set((1L, "a")))
  }

  test("DQ rules over an empty frame report zero violations") {
    val empty = Seq.empty[(Long, Option[Double])].toDF("id", "x")
    val counts = Quality.violationCounts(spark, Seq(
      (Quality.NotNull("t", "x"), empty, null),
      (Quality.Unique("t", "id"), empty, null)))
    assert(counts.collect().forall(r => r.getLong(r.length - 1) == 0L))
  }

  test("zorderWrite on empty and constant-column frames degrades cleanly") {
    val out1 = graft.Tmp.dir("graft-z-empty").toString
    val empty = Seq.empty[(Long, Double)].toDF("k", "v")
    // empty input: stats are null → degenerate zero-bit address, no throw
    Scale.zorderWrite(empty, Seq("k", "v"), numFiles = 2, out1)
    assert(spark.read.parquet(out1).count() == 0)
    // constant columns carry zero clustering information but full data
    val out2 = graft.Tmp.dir("graft-z-const").toString
    val const = (1 to 100).map(i => (7L, 1.5)).toDF("k", "v")
    Scale.zorderWrite(const, Seq("k", "v"), numFiles = 2, out2)
    assert(spark.read.parquet(out2).count() == 100)
  }

  test("Versioned.changes between identical commits is an empty feed") {
    val root = graft.Tmp.dir("graft-cdf-empty").toString
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    graft.Meta.Versioned.publishAll(root, Seq("t" -> df))
    graft.Meta.Versioned.publishAll(root, Seq("t" -> df))
    val feed = graft.Meta.Versioned.changes(spark, root, "t", 1L, 2L, Seq("id"))
    assert(feed.columns.toSeq == Seq("id", "v", "change_type"))
    assert(feed.isEmpty)
  }

  test("sketch aggregates on empty input: HLL 0, sketch [], topk []") {
    val empty = Seq.empty[Long].toDF("v")
    assert(empty.agg(call_function("graft_hll_distinct", col("v")))
      .head().getLong(0) == 0L)
    assert(empty.select(col("v").cast("string").as("s"))
      .agg(call_function("graft_freq_sketch", col("s"), lit(8)))
      .head().getSeq[String](0).isEmpty)
    assert(empty.agg(call_function("graft_topk", col("v"), col("v"), lit(3)))
      .head().getSeq[Long](0).isEmpty)
  }

  test("round-7 operators on empty input: profile, shuffle, checksum, " +
      "bloom pass, and the view-maintenance fold") {
    val noKeys = Seq.empty[(Long, Long)].toDF("k", "w")
    assert(Scale.skewProfile(noKeys, "k", topK = 5).count() == 0)
    assert(Sample.epochShuffle(noKeys, "k", epoch = 1, shards = 4).count() == 0)
    assert(graft.Meta.tableChecksum(noKeys, Seq("k", "w")).count() == 0)
    // empty BENCHMARK: nothing can be contaminated, degenerate bloom or not
    assert(Dedup.contaminationBloom(
      Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text"),
      noDocs.select("doc_id", "text"), "doc_id", "text", 3).count() == 0)
    // empty FEED: the maintained aggregate is exactly the old aggregate
    val oldAgg = Incremental.aggSumCount(
      Seq((1L, 2.0), (1L, 3.0), (2L, 4.0)).toDF("g", "v"), Seq("g"), "v")
    val noFeed = Seq.empty[(Long, Double, String)].toDF("g", "v", "change_type")
    val kept = Incremental.maintainSumCount(oldAgg, noFeed, Seq("g"), "v")
    assert(kept.exceptAll(oldAgg).isEmpty && oldAgg.exceptAll(kept).isEmpty)
    // empty OLD aggregate: the fold bootstraps from inserts alone
    val noAgg = oldAgg.limit(0)
    val feed = Seq((7L, 5.0, "insert")).toDF("g", "v", "change_type")
    val boot = Incremental.maintainSumCount(noAgg, feed, Seq("g"), "v")
      .select(col("g"), col("cnt"), col("total").cast("double"))
      .as[(Long, Long, Double)].collect().toSeq
    assert(boot == Seq((7L, 1L, 5.0)))
  }

  test("round-7b operators on empty input: span strip, prefix join, " +
      "priority sample; kmeans refuses an under-populated corpus") {
    assert(Dedup.stripDupSpans(noDocs, "doc_id", "text", 3, lit(5)).isEmpty)
    assert(Dedup.prefixJaccardPairs(noDocs, "doc_id", "text", 3, 4, 5).isEmpty)
    val noW = Seq.empty[(Long, Long)].toDF("id", "w")
    val ps = Sample.prioritySample(noW, "id", "w", n = 10)
    assert(ps.isEmpty &&
      ps.columns.toSeq == Seq("id", "w", "priority", "est_weight"))
    // k-means cannot seed k centroids from an empty frame: loud require,
    // not a silent degenerate model
    intercept[IllegalArgumentException] {
      Similarity.kmeansLloyd(noVecs, "vec_id", "embedding", k = 2, iters = 1)
    }
  }

  test("round-7c bootstrap shapes: incremental components from an empty " +
      "labeling, feed composition with an empty side") {
    // first-ever batch: empty standing labels — the fold IS a fresh CC
    val emptyLabels = Seq.empty[(Long, Long)].toDF("id", "comp")
    val batch = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val boot = Components.incrementalComponents(emptyLabels, batch, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(boot == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
    // the empty feed is composition's identity element, both sides
    val v1 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val v2 = Seq((1L, "a"), (2L, "c"), (3L, "d")).toDF("id", "v")
    val f = graft.Meta.Versioned.snapshotDiff(v1, v2, Seq("id"), preimages = true)
    val noFeed = f.limit(0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(rows(graft.Meta.Versioned.composeFeeds(f, noFeed, Seq("id"))) == rows(f))
    assert(rows(graft.Meta.Versioned.composeFeeds(noFeed, f, Seq("id"))) == rows(f))
  }

  test("round-19 operators on empty input: line dedup (incl. empty batch " +
      "and empty standing sides), classifier, repetition battery") {
    val noLines = Seq.empty[(Long, Long, String)].toDF("doc_id", "pos", "line")
    val dl = Dedup.dedupLines(noLines, "doc_id", "pos", "line")
    assert(dl.isEmpty && dl.columns.toSeq == Seq("doc_id", "n_lines",
      "n_kept", "n_removed", "kept_frac", "clean_text"))
    // empty BATCH: the fold is exactly the standing dedup; empty
    // STANDING: the fold is exactly a fresh batch dedup (bootstrap)
    val some = Seq((1L, 1L, "x y"), (2L, 1L, "x y")).toDF("doc_id", "pos", "line")
    def got(df: org.apache.spark.sql.DataFrame) = df.orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(got(Dedup.dedupLinesIncremental(some, noLines, "doc_id", "pos", "line")) ==
      got(Dedup.dedupLines(some, "doc_id", "pos", "line")))
    assert(got(Dedup.dedupLinesIncremental(noLines, some, "doc_id", "pos", "line")) ==
      got(Dedup.dedupLines(some, "doc_id", "pos", "line")))
    // classifier: empty corpus trains an empty weight table and scores
    // nothing — empty, correctly-schemed frames, no throw
    val feats = Classify.hashedTokenFeatures(noDocs, "doc_id", "text", 64)
    assert(feats.isEmpty && feats.columns.toSeq == Seq("doc_id", "b", "n"))
    val w = Classify.nbWeights(
      Classify.hashedTokenFeatures(noDocs, "doc_id", "text", 64,
        carry = Seq("source")), col("source") === "pos", 64)
    assert(w.isEmpty && w.columns.toSeq == Seq("b", "w9"))
    assert(Classify.nbScore(feats, w, "doc_id").isEmpty)
    // repetition battery over no docs / no lines
    assert(Text.repetitionStats(noDocs, noLines, "doc_id", "text").isEmpty)
  }
}
