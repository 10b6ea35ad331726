package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** JSON parse/split/DLQ and Debezium envelope semantics
  * (reference: kafka/consumer/kafka_DLQ.py:38-90, util/verify_spark.py:92-121;
  * negative fixture mirrors kafka/schema/contractor_sign_up_invalid.json —
  * a renamed required field, plus outright malformed JSON). */
class CdcSpec extends SparkSuite {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("worker_id", LongType),
    StructField("worker_location", StringType)))

  private val rows = Seq(
    (1L, """{"worker_id": 7, "worker_location": "NY"}"""),   // valid
    (2L, """{"worker_id": 8, "worker_invalid_loc": "SF"}"""), // renamed field: parses, loc NULL
    (3L, """not json at all"""),                              // malformed → DLQ
    (4L, """{"worker_id": "oops"""")                          // truncated → DLQ
  ).toDF("event_id", "payload")

  test("split: malformed JSON goes to the invalid branch, raw columns kept") {
    val s = Cdc.split(rows, "payload", schema)
    assert(s.valid.count() == 2)
    assert(s.invalid.count() == 2)
    assert(s.invalid.columns.toSeq == Seq("event_id", "payload"))
    assert(s.valid.select("worker_id").as[Long].collect().sorted.toSeq == Seq(7L, 8L))
  }

  test("split: a renamed field is NOT corruption — it parses with NULL (JSON-Schema gap)") {
    // from_json has no required-field enforcement; the reference's DLQ only
    // catches unparseable JSON. Row 2 lands valid with a NULL location.
    val s = Cdc.split(rows, "payload", schema)
    assert(s.valid.filter(col("worker_location").isNull).count() == 1)
  }

  test("tagged: single-pass valid/dlq tagging with reason") {
    val t = Cdc.tagged(rows, "payload", schema)
    assert(t.filter(col("status") === "dlq").count() == 2)
    assert(t.filter(col("status") === "valid" && col("reason").isNotNull).count() == 0)
    assert(t.filter(col("status") === "dlq" && col("reason") =!= "schema_parse_failed").count() == 0)
  }

  test("dlqPayload: original value + ts + literal reason as JSON") {
    val out = rows.limit(1)
      .select(to_json(struct(col("payload").as("value"),
        lit("2024-01-01T00:00:00Z").as("kafka_ts"), lit("bad").as("reason"))).as("j"))
      .as[String].head()
    assert(out.contains(""""reason":"bad""""))
    assert(out.contains(""""kafka_ts":"2024-01-01T00:00:00Z""""))
  }

  test("debezium envelope roundtrip: build → extract $.payload.after.*") {
    val src = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    val enveloped = src.select(
      Cdc.debeziumEnvelope(Seq(col("id"), col("name")), "u").as("json"))
    val after = StructType(Seq(StructField("id", LongType), StructField("name", StringType)))
    val back = Cdc.debeziumAfter(enveloped, "json", after)
    assert(back.columns.toSeq == Seq("id", "name", "op"))
    assert(back.filter(col("op") === "u").count() == 2)
    assert(back.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("debeziumField: per-field get_json_object extraction (reference style)") {
    val env = Seq("""{"payload": {"after": {"id": 42}, "op": "c"}}""").toDF("json")
    val got = env.select(
      get_json_object(col("json"), "$.payload.after.id").cast(LongType).as("id"))
      .as[Long].head()
    assert(got == 42L)
    // the one-parse envelope extraction agrees with the per-field form
    val after = StructType(Seq(StructField("id", LongType)))
    assert(Cdc.debeziumAfter(env, "json", after).select("id").as[Long].head() == got)
  }
}
