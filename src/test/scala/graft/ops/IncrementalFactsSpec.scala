package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.functions._

class IncrementalFactsSpec extends SparkSuite {
  import spark.implicits._

  test("Incremental.slice is strictly greater-than the watermark") {
    val df = Seq("2024-01-01 00:00:00", "2024-02-01 00:00:00", "2024-03-01 00:00:00")
      .toDF("s").withColumn("ts", col("s").cast("timestamp_ntz")).drop("s")
    assert(Incremental.slice(df, "ts", "2024-02-01 00:00:00").count() == 1)
  }

  test("Incremental.nextWatermark: max of slice; None on empty") {
    val df = Seq("2024-01-01 00:00:00").toDF("s")
      .withColumn("ts", col("s").cast("timestamp_ntz")).drop("s")
    // the next watermark is max(ts) of the slice, read on the driver
    def nextWatermark(slice: org.apache.spark.sql.DataFrame) =
      Option(slice.agg(max(col("ts")).cast("timestamp")).first().getTimestamp(0))
    assert(nextWatermark(df).get.toString == "2024-01-01 00:00:00.0")
    assert(nextWatermark(df.limit(0)).isEmpty)
  }

  test("Facts.det: in range, deterministic, and safe for 64-bit keys") {
    val keys = Seq(0L, 1L, 17L, Int.MaxValue.toLong, 4000000000L, Long.MaxValue)
    val df = keys.toDF("k")
    val out = df.select(Facts.det(col("k"), 5, 7).as("v")).as[Long].collect()
    assert(out.forall(v => v >= 0 && v < 7), s"out of range: ${out.toSeq}")
    // deterministic: same inputs → same outputs
    val out2 = df.select(Facts.det(col("k"), 5, 7).as("v")).as[Long].collect()
    assert(out.toSeq == out2.toSeq)
    // and the r1 overflow hazard is gone: Long.MaxValue key doesn't throw
    // (pre-fix this produced a negative remainder / ANSI ArithmeticException)
  }

  test("Facts.syntheticFeatures: 7 reference features with expected domains") {
    val df = (1L to 50L).toDF("id")
    val out = Facts.syntheticFeatures(df, "id")
    assert(out.columns.toSeq == Seq("id", "marital_status", "persona", "travel_time_hrs",
      "age", "overtime", "last_appraisal_score", "years_at_company"))
    assert(out.filter(!col("marital_status").isin("Single", "Married")).count() == 0)
    assert(out.filter(col("age") < 22 || col("age") > 55).count() == 0)
    assert(out.filter(col("travel_time_hrs") < 1 || col("travel_time_hrs") > 3).count() == 0)
    assert(out.filter(col("years_at_company") < 0 || col("years_at_company") > 20).count() == 0)
  }

  test("Facts.attritionFact / headcountFact: filters + period derivation") {
    val scd2 = Seq(
      (1L, true, "2020-01-15", "2024-03-10"),
      (2L, false, "2021-06-01", "2099-12-31")
    ).toDF("id", "is_deleted", "hired", "term")
      .withColumn("hired", col("hired").cast("timestamp_ntz"))
      .withColumn("term", col("term").cast("timestamp_ntz"))
    val att = Facts.attritionFact(scd2, "id", col("is_deleted"), col("hired"), col("term"))
    assert(att.count() == 1)
    val r = att.select("tenure_days", "attrition_year", "attrition_month")
      .as[(Int, Int, Int)].head()
    assert(r == ((1516, 2024, 3)))
    val hc = Facts.headcountFact(scd2, "id", !col("is_deleted"), col("hired"))
    assert(hc.count() == 1)
    assert(hc.select("snapshot_year").as[Int].head() == 2021)
  }
}
