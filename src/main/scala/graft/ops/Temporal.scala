package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal joins Spark has no native operator for, composed from
  * existing operators per the preference order (SURVEY §2.3 notes the
  * reference's SCD2 ranges make as-of the natural read-side query).
  *
  *  - [[asOfJoin]]: the union/last-value trick — tag both inputs, union,
  *    one window pass per key ordered by time carries the latest right
  *    version forward onto each left row. ONE shuffle on the key, no
  *    range-condition join (a naive `l.ts >= r.ts` join is a per-key
  *    cartesian that explodes on hot keys at 100 TB).
  *  - [[binnedRangeJoin]]: point-in-interval join without an equi key —
  *    intervals are exploded into fixed time bins, points hash-join on
  *    their bin, then the exact range predicate filters. Turns a
  *    BroadcastNestedLoop/cartesian into an equi-shuffle with
  *    ≤ (interval span / bin) duplication. Semantics-neutral: results
  *    equal the naive range join.
  */
object Temporal {

  /** For each left row, attach the most recent right row with
    * `right.tsCol <= left.tsCol` for the same key (ties include the
    * right row, matching standard AS OF `>=` semantics). Right rows
    * with equal timestamps are broken by `rightTieBreak` (highest wins).
    * Unmatched left rows keep NULL right columns (left-outer as-of).
    *
    * `rightCols` are carried inside a struct so legitimately-NULL right
    * values survive the ignoreNulls last() — only the struct marker
    * drives matching. */
  def asOfJoin(left: DataFrame, right: DataFrame, key: String, tsCol: String,
      rightCols: Seq[String], rightTieBreak: String): DataFrame = {
    val leftCols = left.columns.toSeq
    val rStruct = right.select((rightCols :+ tsCol).map(col): _*).schema
    val l = left
      .withColumn("_side", lit(1))
      .withColumn("_tie", lit(Long.MaxValue))
      .withColumn("_rdata", lit(null).cast(rStruct))
    val r = right
      .select(Seq(col(key), col(tsCol), col(rightTieBreak).as("_tie")) ++
        leftCols.filterNot(Set(key, tsCol)).map(c => lit(null).cast(
          left.schema(c).dataType).as(c)) :+
        struct((rightCols :+ tsCol).map(col): _*).as("_rdata"): _*)
      .withColumn("_side", lit(0))
    // right rows sort BEFORE left rows at the same timestamp (side 0 < 1),
    // so an exactly-simultaneous version is visible to the left row
    val w = Window.partitionBy(col(key))
      .orderBy(col(tsCol), col("_side"), col("_tie"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.select(r.columns.toSeq.map(col): _*)
      .unionByName(r.select(r.columns.toSeq.map(col): _*))
      .withColumn("_matched", last(col("_rdata"), ignoreNulls = true).over(w))
      .filter(col("_side") === 1)
      .select(leftCols.map(col) ++
        rightCols.map(c => col(s"_matched.$c").as(s"right_$c")) :+
        col(s"_matched.$tsCol").as("right_ts"): _*)
  }

  /** Point-in-interval inner join: rows of `points` matched to every
    * interval with `startCol <= ts <= endCol`, via time-bin equi-join.
    * `binSeconds` should be ≥ the typical interval span so each interval
    * lands in few bins. */
  def binnedRangeJoin(points: DataFrame, intervals: DataFrame, tsCol: String,
      startCol: String, endCol: String, binSeconds: Long): DataFrame = {
    val binUs = binSeconds * 1000000L
    val p = points.withColumn("_bin",
      floor(unix_micros(col(tsCol).cast("timestamp")) / binUs))
    val i = intervals.withColumn("_bin", explode(sequence(
      floor(unix_micros(col(startCol).cast("timestamp")) / binUs),
      floor(unix_micros(col(endCol).cast("timestamp")) / binUs))))
    p.join(i, Seq("_bin"))
      .filter(col(tsCol) >= col(startCol) && col(tsCol) <= col(endCol))
      .drop("_bin")
  }
}
