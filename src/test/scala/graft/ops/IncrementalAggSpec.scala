package graft.ops

import graft.{Meta, SparkSuite}
import org.apache.spark.sql.functions._

/** Pins for incremental materialized-view maintenance: the preimage
  * change-feed surface, the old+delta fold, and the core property —
  * maintain(agg(v1), changes(v1→v2)) == agg(v2), exactly. */
class IncrementalAggSpec extends SparkSuite {
  import spark.implicits._

  test("changes preimages=true: updates emit BOTH images, insert/delete one") {
    val root = graft.Tmp.dir("cdf-pre").toString
    val v1 = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "v")
    val v2 = Seq((2L, 25.0), (3L, 30.0), (4L, 40.0)).toDF("k", "v")
    Meta.Versioned.publishAll(root, Seq("t" -> v1))
    Meta.Versioned.publishAll(root, Seq("t" -> v2))
    val feed = Meta.Versioned.changes(spark, root, "t", 1L, 2L, Seq("k"),
      preimages = true)
      .as[(Long, Double, String)].collect().toSet
    assert(feed == Set(
      (1L, 10.0, "delete"),
      (2L, 20.0, "update_preimage"),
      (2L, 25.0, "update_postimage"),
      (4L, 40.0, "insert")))
  }

  test("maintainSumCount: all four change types, null keys, null values, " +
      "group births and deaths") {
    val oldAgg = Incremental.aggSumCount(
      Seq[(Option[String], Option[Double])](
        (Some("a"), Some(1.0)), (Some("a"), Some(2.0)),
        (Some("b"), Some(5.0)),
        (None, Some(7.0)), (None, None)).toDF("g", "v"),
      Seq("g"), "v")
    val feed = Seq[(Option[String], Option[Double], String)](
      (Some("a"), Some(2.0), "update_preimage"),   // a: 2.0 -> 2.5
      (Some("a"), Some(2.5), "update_postimage"),
      (Some("b"), Some(5.0), "delete"),            // b dies
      (Some("c"), Some(9.0), "insert"),            // c born
      (None, None, "delete"),                      // null group loses its null row
      (None, Some(1.0), "insert")
    ).toDF("g", "v", "change_type")
    val out = Incremental.maintainSumCount(oldAgg, feed, Seq("g"), "v")
      .select(col("g"), col("cnt"), col("total").cast("double"))
      .as[(Option[String], Long, Double)].collect().toSet
    assert(out == Set(
      (Some("a"), 2L, 3.5),
      (Some("c"), 1L, 9.0),
      (None, 2L, 8.0)))
    // unknown change_type fails loudly, never drifts
    val bad = Seq((Some("a"), Some(1.0), "upsert")).toDF("g", "v", "change_type")
    val ex = intercept[Exception] {
      Incremental.maintainSumCount(oldAgg, bad, Seq("g"), "v").collect()
    }
    assert(ex.getMessage.contains("unknown change_type") ||
      ex.getCause != null, s"wrong error: $ex")
  }

  test("PROPERTY: maintained aggregate == direct aggregate of the new " +
      "version (randomized churn with nulls)") {
    val rnd = new scala.util.Random(20260812L)
    for (round <- 1 to 3) {
      val root = graft.Tmp.dir(s"ivm-$round").toString
      def rows(n: Int) = (1 to n).map { i =>
        val g = if (rnd.nextInt(10) == 0) None else Some(s"g${rnd.nextInt(7)}")
        // g0 is the ALL-NULL-value group: its sum must stay SQL NULL
        // (not 0.00) through every fold — the case a plain coalesce
        // fold silently corrupts
        val v = if (g.contains("g0") || rnd.nextInt(10) == 0) None
          else Some(rnd.nextInt(1000) / 4.0)
        (i.toLong, g, v)
      }
      val v1r = rows(400)
      // churn: drop ~10%, update ~20% of values, insert fresh keys
      val v2r = v1r.filter(_ => rnd.nextInt(10) > 0).map {
        case (k, g, v) if rnd.nextInt(5) == 0 =>
          (k, g, v.map(_ + 1.25).orElse(Some(3.0)))
        case r => r
      } ++ rows(60).map { case (k, g, v) => (k + 10000L, g, v) }
      val v1 = v1r.toDF("k", "g", "v")
      val v2 = v2r.toDF("k", "g", "v")
      Meta.Versioned.publishAll(root, Seq("t" -> v1))
      Meta.Versioned.publishAll(root, Seq("t" -> v2))
      val feed = Meta.Versioned.changes(spark, root, "t", 1L, 2L, Seq("k"),
        preimages = true)
      val maintained = Incremental.maintainSumCount(
        Incremental.aggSumCount(v1, Seq("g"), "v"), feed, Seq("g"), "v")
      val direct = Incremental.aggSumCount(v2, Seq("g"), "v")
      // exact frame equality both directions (DECIMAL totals — no epsilon)
      assert(maintained.exceptAll(direct).isEmpty &&
        direct.exceptAll(maintained).isEmpty,
        s"round $round drifted:\n maintained=${maintained.collect().toSeq}\n " +
          s"direct=${direct.collect().toSeq}")
      // and the power-sum fold: maintained moments == direct moments
      val mm = Incremental.maintainMoments(
        Incremental.aggMoments(v1, Seq("g"), "v"), feed, Seq("g"), "v")
      val dm = Incremental.aggMoments(v2, Seq("g"), "v")
      assert(mm.exceptAll(dm).isEmpty && dm.exceptAll(mm).isEmpty,
        s"round $round moments drifted:\n maintained=${mm.collect().toSeq}\n " +
          s"direct=${dm.collect().toSeq}")
    }
  }
}
