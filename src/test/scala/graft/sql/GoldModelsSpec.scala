package graft.sql

import graft.{SparkSuite, Tables}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

class GoldModelsSpec extends SparkSuite {

  test("materialize: CTAS write + read-back equals the model output (M5)") {
    Tables.orders(spark, sfDir()).createOrReplaceTempView("orders")
    val path = graft.Tmp.dir("gold").toString + "/t"
    val direct = GoldModels.run(spark, GoldModels.attritionMonthly)
    direct.write.mode("overwrite").parquet(path) // dbt materialized='table'
    val out = spark.read.parquet(path)
    assert(out.collect().toSeq.sortBy(_.toString) ==
      direct.collect().toSeq.sortBy(_.toString))
    assert(graft.Meta.tableExists(spark, path))
  }

  test("rows -> DataFrame lift with explicit schema (S6, dq_checks.py:122)") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("reason", StringType, nullable = true)))
    val rows = java.util.Arrays.asList(Row(1L, "bad"), Row(2L, null))
    val df = spark.createDataFrame(rows, schema)
    assert(df.count() == 2)
    assert(df.schema == schema)
    assert(df.filter(df("reason").isNull).count() == 1)
  }
}
