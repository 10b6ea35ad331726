package graft.plans

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins for the native as-of join (AsOfMarker → AsOfRewrite →
  * AsOfJoinStrategy → AsOfJoinExec): semantics against a brute-force
  * reference AND the union+window composition, the physical plan
  * (custom exec + EnsureRequirements exchanges/sorts), partition-count
  * invariance, and the unmatched/tie/null edges. */
class AsOfNativeSpec extends SparkSuite {
  import spark.implicits._

  private def leftDf(parts: Int) = Seq(
    (1L, 100L, "l1a"), (1L, 250L, "l1b"), (1L, 50L, "l1c"),
    (2L, 500L, "l2a"),
    (3L, 10L, "l3a"), // key with no right rows at all
    (4L, 100L, "l4a") // right rows exist but all AFTER this ts
  ).toDF("k", "ts", "lval").repartition(parts)

  private def rightDf(parts: Int) = Seq(
    (1L, 100L, 1L, "r1@100a"), (1L, 100L, 2L, "r1@100b"), // tie on ts
    (1L, 200L, 1L, "r1@200"),
    (2L, 400L, 1L, "r2@400"), (2L, 600L, 1L, "r2@600"),
    (4L, 150L, 1L, "r4@150")
  ).toDF("k", "ts", "tie", "rval").repartition(parts)

  private val expected = Map(
    // ties on rts=100 resolve to the greatest tie (r1@100b)
    (1L, 100L) -> Some("r1@100b"),
    (1L, 250L) -> Some("r1@200"),
    (1L, 50L) -> None,
    (2L, 500L) -> Some("r2@400"),
    (3L, 10L) -> None,
    (4L, 100L) -> None)

  /** The declarative marker join the injected rule rewrites into the
    * native operator (the surface q197 writes). */
  private def asOf(left: DataFrame, right: DataFrame): DataFrame =
    left.join(right, left("k") === right("k") &&
      call_function("graft_asof", left("ts"), right("ts"), right("tie")))

  private def run(lParts: Int, rParts: Int): Map[(Long, Long), Option[String]] =
    asOf(leftDf(lParts), rightDf(rParts))
      .select(col("lval"), col("rval"))
      .collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
      .map { case (l, rv) =>
        val lrow = Seq((1L, 100L, "l1a"), (1L, 250L, "l1b"), (1L, 50L, "l1c"),
          (2L, 500L, "l2a"), (3L, 10L, "l3a"), (4L, 100L, "l4a"))
          .find(_._3 == l).get
        (lrow._1, lrow._2) -> rv
      }

  private def withThreshold[A](v: String)(body: => A): A = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, v)
    try body finally spark.conf.set(key, prev)
  }

  test("semantics: greatest rts <= lts per key, tie to greatest tie, " +
      "unmatched left keeps NULL — at any partitioning, on BOTH " +
      "physical paths") {
    for ((lp, rp) <- Seq((1, 1), (3, 2), (7, 5))) {
      // default threshold: the tiny right side plans as broadcast
      assert(run(lp, rp) == expected, s"broadcast path lParts=$lp rParts=$rp")
      // threshold off: the co-partitioned merge path
      withThreshold("-1") {
        assert(run(lp, rp) == expected, s"merge path lParts=$lp rParts=$rp")
      }
    }
  }

  test("strategy picks by stats like JoinSelection: small right side " +
      "broadcasts (left never shuffles), threshold off falls back to " +
      "the co-partitioned merge with exchanges and sorts") {
    val bdf = asOf(leftDf(3), rightDf(3))
    bdf.collect()
    val bp = bdf.queryExecution.executedPlan.toString()
    assert(bp.contains("AsOfBroadcast"), s"expected the broadcast exec:\n$bp")
    assert(bp.contains("BroadcastExchange"),
      s"right side must broadcast:\n$bp")
    assert(!bp.contains("Exchange hashpartitioning"),
      s"broadcast path must not shuffle the left side:\n$bp")
    withThreshold("-1") {
      val df = asOf(leftDf(3), rightDf(3))
      df.collect()
      val p = df.queryExecution.executedPlan.toString()
      assert(p.contains("AsOfJoin "), s"expected the merge exec:\n$p")
      assert(p.contains("Exchange hashpartitioning"),
        s"expected co-partitioning exchanges:\n$p")
      assert(p.contains("Sort"), s"expected (key, ts) sorts:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
        s"must not fall back to a generic join:\n$p")
    }
  }

  test("row-aware broadcast threshold: a right side inside the byte " +
      "threshold but past the row limit plans the merge exec (the " +
      "ProbeAsOf sf1 shape — per-task index build beats byte size); " +
      "raising spark.graft.asof.broadcastRowLimit restores broadcast") {
    // 150k rows, size-only stats ≈ 3 MB — comfortably under the 10 MB
    // byte threshold; the strategy's row ESTIMATE (sizeInBytes over
    // the visitor's per-row width — no exact rowCount survives the
    // Project) lands at ~75k, far past the 32768-row default limit
    val bigRight = spark.range(0, 150000)
      .select((col("id") % 20).as("k"), (col("id") * 10).as("ts"),
        lit(1L).as("tie"), col("id").as("rval"))
    val l = spark.range(0, 100)
      .select((col("id") % 20).as("k"), (col("id") * 5000).as("ts"))
    val df = asOf(l, bigRight)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("AsOfJoin ") && !p.contains("AsOfBroadcast"),
      s"sf1-shaped right side must plan the merge exec:\n$p")
    val key = "spark.graft.asof.broadcastRowLimit"
    spark.conf.set(key, "1000000")
    try {
      val bdf = asOf(l, bigRight)
      bdf.collect()
      val bp = bdf.queryExecution.executedPlan.toString()
      assert(bp.contains("AsOfBroadcast"),
        s"raised row limit must restore the broadcast exec:\n$bp")
    } finally spark.conf.unset(key)
  }

  test("equivalence with the union+window composition on random data") {
    val rnd = new scala.util.Random(197L)
    val ls = (1 to 300).map(i =>
      (rnd.nextInt(20).toLong, rnd.nextInt(1000).toLong, i.toLong))
    val rs = (1 to 200).map(i =>
      (rnd.nextInt(20).toLong, rnd.nextInt(1000).toLong, i.toLong,
        rnd.nextInt(5).toLong))
    val l = ls.toDF("k", "ts", "lid")
    val r = rs.toDF("k", "ts", "rid", "tie")
    val native = asOf(l, r)
      .select(col("lid"), col("rid"))
      .collect().map(x => x.getLong(0) ->
        (if (x.isNullAt(1)) -1L else x.getLong(1))).toMap
    // brute force: per left row, max (ts, tie, rid is NOT part of the
    // order — the exec keeps the LAST in (ts, tie) sort order, which on
    // full (ts, tie) ties is the last-encountered; make (ts, tie)
    // unique per key to keep the reference well-defined
    val rGrouped = rs.map(t => (t._1, t._2, t._4, t._3))
      .groupBy(_._1)
    val unique = rGrouped.forall { case (_, rows) =>
      rows.map(t => (t._2, t._3)).distinct.size == rows.size
    }
    assume(unique, "random draw produced duplicate (ts, tie) — reseed")
    val ref = ls.map { case (k, ts, lid) =>
      val cands = rGrouped.getOrElse(k, Seq.empty).filter(_._2 <= ts)
      lid -> (if (cands.isEmpty) -1L
              else cands.maxBy(t => (t._2, t._3))._4)
    }.toMap
    assert(native == ref)
  }
}
