package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Pins for the round-3 curation operators: connected-components
  * fixpoint, deterministic sampling, and the Misra–Gries sketch's
  * superset guarantee. */
class CurationSpec extends SparkSuite {
  import spark.implicits._

  // ---- connected components ------------------------------------------

  // both physical paths must produce the identical min-label map:
  // smallGraphEdges=0 forces the distributed fixpoint; the default takes
  // the driver union-find fast path
  private def bothPaths(name: String)(pairs: => org.apache.spark.sql.DataFrame)(
      expected: Map[Long, Long]): Unit =
    for ((label, gate) <- Seq("fast-path" -> 1000000L, "distributed" -> 0L))
      test(s"components ($label): $name") {
        val got = Components
          .connectedComponents(pairs, "id_a", "id_b", smallGraphEdges = gate)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == expected)
      }

  bothPaths("chain, clique, and isolated edge") {
    // chain 1-2-3-4 (diameter 3), clique {10,11,12}, isolated edge 20-21
    Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L)).toDF("id_a", "id_b")
  }(Map(
    1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
    10L -> 10L, 11L -> 10L, 12L -> 10L,
    20L -> 20L, 21L -> 20L))

  bothPaths("long path converges (full diameter, not one hop)") {
    (0L until 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
  }((0L to 9L).map(_ -> 0L).toMap)

  test("components: non-convergence inside maxIter throws, never mislabels") {
    val pairs = (0L until 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    intercept[IllegalStateException] {
      Components.connectedComponents(pairs, "id_a", "id_b",
        maxIter = 1, smallGraphEdges = 0L)
    }
  }

  test("resolveClusters keeps exactly one survivor per cluster + singletons") {
    val docs = (1L to 6L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val got = Components.resolveClusters(docs, "doc_id", pairs, "id_a", "id_b")
    assertSameRows(got, Seq(
      Row(1L, 1L, true), Row(2L, 1L, false), Row(3L, 1L, false),
      Row(4L, 4L, true), // singleton: its own component, kept
      Row(5L, 5L, true), Row(6L, 5L, false)))
  }

  // ---- deterministic sampling ----------------------------------------

  test("hashSample is reproducible and partitioning-independent") {
    val df = (1L to 10000L).toDF("id")
    val a = df.filter(Sample.hashGate(col("id")) < 25).collect().map(_.getLong(0)).toSet
    val b = df.repartition(13).filter(Sample.hashGate(col("id")) < 25)
      .collect().map(_.getLong(0)).toSet
    assert(a == b)
    // the multiplicative gate is uniform-ish: 25% ± 2 points at n=10k
    assert(math.abs(a.size / 10000.0 - 0.25) < 0.02, s"got ${a.size}")
  }

  test("stratifiedSample applies per-stratum rates and the default") {
    val df = (1L to 9000L).map(i =>
      (i, if (i % 3 == 0) "en" else if (i % 3 == 1) "zh" else "fr"))
      .toDF("id", "lang")
    val kept = Sample.stratifiedSample(df, "id", "lang",
      Seq("en" -> 10, "zh" -> 50), defaultPct = 90)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // 3000 per stratum; gates are hash-uniform so ±3 points
    assert(math.abs(kept("en") / 3000.0 - 0.10) < 0.03, s"en=${kept("en")}")
    assert(math.abs(kept("zh") / 3000.0 - 0.50) < 0.03, s"zh=${kept("zh")}")
    assert(math.abs(kept("fr") / 3000.0 - 0.90) < 0.03, s"fr=${kept("fr")}")
  }

  // ---- Misra–Gries sketch --------------------------------------------

  test("freq sketch: superset guarantee for freq > n/(k+1), any partitioning") {
    // 3 heavy terms (1000 each) in 6000 noise terms appearing twice each;
    // n = 15000, k = 63 → bound n/64 ≈ 234: all heavies must survive
    val heavy = Seq("alpha", "beta", "gamma").flatMap(t => Seq.fill(1000)(t))
    val noise = (1 to 6000).flatMap(i => Seq(s"t$i", s"t$i"))
    for (parts <- Seq(1, 7, 32)) {
      val cands = (heavy ++ noise).toDF("term").repartition(parts)
        .agg(call_function("graft_freq_sketch", col("term"), lit(63)))
        .head().getSeq[String](0).toSet
      assert(Set("alpha", "beta", "gamma").subsetOf(cands),
        s"parts=$parts missing heavies from $cands")
      assert(cands.size <= 63, s"parts=$parts overflowed capacity: ${cands.size}")
    }
  }

  test("freq sketch: exact when distinct terms fit the capacity") {
    val terms = Seq("a", "a", "a", "b", "b", "c").toDF("term")
    val cands = terms
      .agg(call_function("graft_freq_sketch", col("term"), lit(10)))
      .head().getSeq[String](0)
    assert(cands == Seq("a", "b", "c")) // sorted, complete
  }

  test("freq sketch: nulls ignored") {
    val terms = Seq(Some("a"), None, Some("b"), None).toDF("term")
    val cands = terms
      .agg(call_function("graft_freq_sketch", col("term"), lit(4)))
      .head().getSeq[String](0)
    assert(cands == Seq("a", "b"))
  }

  test("curation funnel (q313): stages CHAIN — each stage's intake is the " +
      "previous stage's survivors — counts are monotone, the population " +
      "is the whole corpus, and removed/rate columns replay from counts") {
    val rows = graft.SparkEntry.queries("q313_curation_funnel")(
      spark, sfDir()).orderBy("stage").collect()
    assert(rows.length == 7)
    assert(rows.map(_.getString(1)).toSeq == Seq("url_filter",
      "gopher_gates", "repetition_gates", "line_dedup", "exact_dedup",
      "decontamination", "quality_classifier"))
    assert(rows(0).getLong(2) ==
      graft.Tables.documents(spark, sfDir()).count(),
      "stage 1 must take the WHOLE corpus as intake")
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b.getLong(2) == a.getLong(3),
        s"stage ${b.getLong(0)} intake must equal stage ${a.getLong(0)} survivors")
    }
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2), "a stage can never add docs")
      assert(r.getLong(4) == r.getLong(2) - r.getLong(3))
    }
  }
}
