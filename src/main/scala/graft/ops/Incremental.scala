package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Watermark-incremental batch ingestion (SURVEY.md §2.1 S1, §2.10 T7,
  * §2.4 A1; reference: jobs/bronze/bronze_builder.py:78-128 pulls
  * `WHERE updated_at > <high-water-mark>` and advances the mark to
  * `max(updated_at)` after each pull).
  *
  * The watermark predicate is a plain Column filter declared before any
  * action, so Catalyst pushes it into the parquet scan (min/max row-group
  * skipping) — the moral equivalent of the reference's JDBC-subquery
  * pushdown. The reference compares ISO *strings* (bronze_builder.py:102);
  * we use proper timestamp comparison (fix noted in SURVEY.md F13).
  */
object Incremental {

  /** The incremental slice: rows strictly newer than the watermark. */
  def slice(df: DataFrame, tsCol: String, watermark: String): DataFrame =
    df.filter(col(tsCol) > lit(watermark).cast("timestamp_ntz"))

  /** Incremental materialized-view maintenance for a grouped
    * count + sum: fold a change feed (the 4-value preimage surface of
    * [[graft.Meta.Versioned.changes]] — insert / delete /
    * update_preimage / update_postimage) into the previous aggregate
    * WITHOUT rescanning the snapshot. count and sum form an abelian
    * group, so the maintained result is exactly `delta + old`:
    * additions count +1/+value, removals −1/−value, an update is one
    * removal plus one addition. Groups whose count reaches zero are
    * dropped (they no longer exist in the direct aggregate).
    *
    * Scale shape: the snapshot is NEVER read — cost is one hash
    * aggregate over the feed (|delta| rows) plus one key join against
    * the standing aggregate (|groups| rows, usually broadcast-small).
    * At 100 TB with a daily 0.1% churn this is the difference between
    * re-aggregating 100 TB and touching ~100 GB. Sums run in DECIMAL so
    * partial-agg merge order and the old+delta fold stay exact — the
    * maintained table must be bit-equal to the direct aggregate, not
    * merely close, or drift compounds across maintenance cycles.
    *
    * `oldAgg` columns: groupCols ++ (cnt: BIGINT, cntv: BIGINT,
    * total: DECIMAL(38,2)). Returns the same shape. Seed an empty
    * aggregate by passing the direct aggregate of the base version
    * ([[aggSumCount]]).
    *
    * `cntv` (non-NULL value count) is part of the maintained state
    * because SQL's sum is NULL over an all-NULL group, not 0 — without
    * it a fold could not tell "sums to zero" from "no values at all"
    * and would emit 0.00 where the direct aggregate says NULL, breaking
    * the exact-equality contract. */
  def maintainSumCount(oldAgg: DataFrame, feed: DataFrame,
      groupCols: Seq[String], valueCol: String): DataFrame = {
    val adds = Seq("insert", "update_postimage")
    val drops = Seq("delete", "update_preimage")
    require(groupCols.nonEmpty, "maintainSumCount needs group columns")
    Seq("cnt", "cntv", "total").foreach(c =>
      require(oldAgg.columns.contains(c), s"oldAgg lacks aggregate column '$c'"))
    val sign = when(col("change_type").isin(adds: _*), 1L)
      .when(col("change_type").isin(drops: _*), -1L)
    val value = col(valueCol).cast(org.apache.spark.sql.types.DecimalType(38, 2))
    val delta = feed
      .select(groupCols.map(col) :+ sign.as("_s") :+ value.as("_v"): _*)
      // an unexpected change_type must fail the maintenance, not
      // silently contribute zero and let the view drift
      .withColumn("_s", coalesce(col("_s"),
        raise_error(lit("maintainSumCount: unknown change_type in feed"))))
      .groupBy(groupCols.map(col): _*)
      .agg(sum(col("_s")).as("_dcnt"),
        sum(col("_s") * when(col("_v").isNotNull, 1L).otherwise(0L)).as("_dcntv"),
        sum(col("_s") * col("_v")).as("_dtotal"))
    // NULL is a legal group key (groupBy groups it), so the merge join
    // must be null-SAFE — a plain equi-join would split a null-keyed
    // group into two output rows. Side presence is read off cnt/_dcnt
    // (non-null on every genuine row of their frame), never off the
    // keys, which may be legitimately null on a present side.
    val o = oldAgg.alias("o")
    val d = delta.alias("d")
    val on = groupCols.map(c => col(s"o.$c") <=> col(s"d.$c")).reduce(_ && _)
    val zero = lit(java.math.BigDecimal.ZERO)
      .cast(org.apache.spark.sql.types.DecimalType(38, 2))
    o.join(d, on, "full_outer")
      .select(groupCols.map(c =>
        when(col("o.cnt").isNotNull, col(s"o.$c"))
          .otherwise(col(s"d.$c")).as(c)) :+
        (coalesce(col("o.cnt"), lit(0L)) + coalesce(col("d._dcnt"), lit(0L))).as("cnt") :+
        (coalesce(col("o.cntv"), lit(0L)) + coalesce(col("d._dcntv"), lit(0L))).as("cntv") :+
        (coalesce(col("o.total"), zero) + coalesce(col("d._dtotal"), zero)).as("total"): _*)
      .filter(col("cnt") > 0)
      .select(groupCols.map(col) :+ col("cnt") :+ col("cntv") :+
        when(col("cntv") === 0L, lit(null)).otherwise(col("total"))
          .cast(org.apache.spark.sql.types.DecimalType(38, 2)).as("total"): _*)
  }

  /** The direct (full-scan) form of the maintained aggregate — the seed
    * for [[maintainSumCount]] and the equivalence oracle in its spec. */
  def aggSumCount(df: DataFrame, groupCols: Seq[String],
      valueCol: String): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("cnt"),
        count(col(valueCol)).as("cntv"),
        sum(col(valueCol).cast(org.apache.spark.sql.types.DecimalType(38, 2)))
          .as("total"))
      .select(groupCols.map(col) :+ col("cnt") :+ col("cntv") :+
        col("total").cast(org.apache.spark.sql.types.DecimalType(38, 2)): _*)

  private val S1 = org.apache.spark.sql.types.DecimalType(38, 2)
  private val S2 = org.apache.spark.sql.types.DecimalType(38, 4)
  private val V = org.apache.spark.sql.types.DecimalType(20, 2)

  /** [[maintainSumCount]] generalized to the second moment: the
    * maintained state is (cnt, Σv, Σv²) per group — every downstream
    * statistic a profile needs (mean, variance, stddev) derives from
    * the power sums, and power sums are just MORE abelian sums, so the
    * identical old+delta fold maintains them exactly. DECIMAL
    * throughout (q74's exact-moments discipline): variance must not
    * drift across a thousand maintenance cycles. */
  def maintainMoments(oldAgg: DataFrame, feed: DataFrame,
      groupCols: Seq[String], valueCol: String): DataFrame = {
    val adds = Seq("insert", "update_postimage")
    val drops = Seq("delete", "update_preimage")
    require(groupCols.nonEmpty, "maintainMoments needs group columns")
    Seq("cnt", "cntv", "s1", "s2").foreach(c =>
      require(oldAgg.columns.contains(c), s"oldAgg lacks aggregate column '$c'"))
    val sign = when(col("change_type").isin(adds: _*), 1L)
      .when(col("change_type").isin(drops: _*), -1L)
    val v = col(valueCol).cast(V)
    val delta = feed
      .select(groupCols.map(col) :+ sign.as("_s") :+ v.as("_v"): _*)
      .withColumn("_s", coalesce(col("_s"),
        raise_error(lit("maintainMoments: unknown change_type in feed"))))
      .groupBy(groupCols.map(col): _*)
      .agg(sum(col("_s")).as("_dcnt"),
        sum(col("_s") * when(col("_v").isNotNull, 1L).otherwise(0L)).as("_dcntv"),
        sum(col("_s") * col("_v")).as("_ds1"),
        sum(col("_s") * col("_v") * col("_v")).as("_ds2"))
    val o = oldAgg.alias("o")
    val d = delta.alias("d")
    val on = groupCols.map(c => col(s"o.$c") <=> col(s"d.$c")).reduce(_ && _)
    def zero(t: org.apache.spark.sql.types.DecimalType) =
      lit(java.math.BigDecimal.ZERO).cast(t)
    // cntv gates the sums back to SQL NULL semantics, same as
    // maintainSumCount: an all-NULL-value group sums to NULL, not 0
    o.join(d, on, "full_outer")
      .select(groupCols.map(c =>
        when(col("o.cnt").isNotNull, col(s"o.$c"))
          .otherwise(col(s"d.$c")).as(c)) :+
        (coalesce(col("o.cnt"), lit(0L)) + coalesce(col("d._dcnt"), lit(0L))).as("cnt") :+
        (coalesce(col("o.cntv"), lit(0L)) + coalesce(col("d._dcntv"), lit(0L))).as("cntv") :+
        (coalesce(col("o.s1"), zero(S1)) + coalesce(col("d._ds1"), zero(S1))).as("s1") :+
        (coalesce(col("o.s2"), zero(S2)) + coalesce(col("d._ds2"), zero(S2))).as("s2"): _*)
      .filter(col("cnt") > 0)
      .select(groupCols.map(col) :+ col("cnt") :+ col("cntv") :+
        when(col("cntv") === 0L, lit(null)).otherwise(col("s1")).cast(S1).as("s1") :+
        when(col("cntv") === 0L, lit(null)).otherwise(col("s2")).cast(S2).as("s2"): _*)
  }

  /** Direct power sums — seed and equivalence oracle for
    * [[maintainMoments]]. */
  def aggMoments(df: DataFrame, groupCols: Seq[String],
      valueCol: String): DataFrame = {
    val v = col(valueCol).cast(V)
    df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("cnt"),
        count(col(valueCol)).as("cntv"),
        sum(v).as("s1"), sum(v * v).as("s2"))
      .select(groupCols.map(col) :+ col("cnt") :+ col("cntv") :+
        col("s1").cast(S1) :+ col("s2").cast(S2): _*)
  }
}
