package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** JSON event parsing: schema-validated split with dead-letter routing, and
  * Debezium-envelope field extraction (SURVEY.md §2.2 P7, §2.8 F1-F3;
  * reference: kafka/consumer/kafka_DLQ.py:38-90 and util/verify_spark.py:92-121).
  *
  * Works identically on batch and streaming DataFrames — the streaming
  * layer (graft.streaming) reuses these transforms verbatim, which is the
  * Spark-idiomatic way to keep one tested implementation for both paths.
  */
object Cdc {

  /** Result of the valid/invalid fork: both branches share the raw columns;
    * `parsed` is non-null exactly on the valid branch. */
  final case class Split(valid: DataFrame, invalid: DataFrame)

  private val CorruptCol = "_corrupt_record"

  /** `from_json` that exposes parse failure explicitly. Spark's PERMISSIVE
    * mode yields a struct of NULL fields (not a NULL struct) on malformed
    * input, so `isNotNull` on the struct — the reference's check,
    * kafka_DLQ.py:53 — cannot detect corruption on its own. We append the
    * standard `columnNameOfCorruptRecord` field: non-null ⇔ parse failed.
    */
  def parseWithCorrupt(df: DataFrame, jsonCol: String, schema: StructType): DataFrame = {
    val withCorrupt = schema.add(StructField(CorruptCol, StringType, nullable = true))
    df.withColumn(
      "data",
      from_json(col(jsonCol), withCorrupt,
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> CorruptCol)))
  }

  private def parseFailed: Column = col(s"data.$CorruptCol").isNotNull

  /** Parse `jsonCol` against `schema` and fork on parse success
    * (kafka_DLQ.py:50-56): the valid branch gets the flattened fields, the
    * invalid branch keeps the raw columns for DLQ re-publication. */
  def split(df: DataFrame, jsonCol: String, schema: StructType): Split = {
    val parsed = parseWithCorrupt(df, jsonCol, schema)
    Split(
      valid = parsed
        .filter(!parseFailed)
        .select(schema.fieldNames.toSeq.map(f => col(s"data.$f")) ++ df.columns.toSeq.map(col): _*),
      invalid = parsed.filter(parseFailed).drop("data"))
  }

  /** Single-pass variant: every row tagged valid/dlq with a reason column —
    * one scan, no recompute (the reference runs the parse once per
    * streaming query, i.e. twice; this is the batch-friendly form). */
  def tagged(df: DataFrame, jsonCol: String, schema: StructType,
      reason: String = "schema_parse_failed"): DataFrame =
    parseWithCorrupt(df, jsonCol, schema)
      .withColumn("status", when(parseFailed, lit("dlq")).otherwise(lit("valid")))
      .withColumn("reason", when(parseFailed, lit(reason)))

  /** Debezium CDC envelope `{payload: {before, after, op}}` — schema for a
    * given `after` row schema (util/verify_spark.py:92-100). */
  def debeziumSchema(after: StructType): StructType =
    StructType(Seq(StructField("payload", StructType(Seq(
      StructField("before", after, nullable = true),
      StructField("after", after, nullable = true),
      StructField("op", StringType, nullable = true))), nullable = true)))

  /** Extract `$.payload.after.*` fields with casts — the reference does
    * this per-field with get_json_object (verify_spark.py:95-99); a full
    * from_json of the envelope is one parse instead of N. */
  def debeziumAfter(df: DataFrame, jsonCol: String, after: StructType): DataFrame =
    df.withColumn("_env", from_json(col(jsonCol), debeziumSchema(after)))
      .select(col("_env.payload.after.*"), col("_env.payload.op").as("op"))

  /** Wrap rows into a Debezium-style envelope JSON (fixture/producer side). */
  def debeziumEnvelope(afterCols: Seq[Column], op: String): Column =
    to_json(struct(struct(
      struct(afterCols: _*).as("after"),
      lit(op).as("op")).as("payload")))
}
