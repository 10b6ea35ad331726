package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** DQ rule semantics (reference: data-quality/dq_checks.py:63-98), incl.
  * the NULL edge cases the rules must agree on with the SQL oracle. */
class QualitySpec extends SparkSuite {
  import Quality._
  import spark.implicits._

  private val df = Seq(
    (1L, Some(10.0), Some("x")),
    (2L, None, Some("y")),
    (2L, Some(200.0), None),
    (3L, Some(50.0), Some("x")),
    (3L, Some(60.0), Some("x"))
  ).toDF("id", "amount", "tag")

  test("NotNull: NULL rows are violations") {
    assert(violatingRows(NotNull("t", "amount"), df).count() == 1)
  }

  test("Between: out-of-range AND NULL are violations (pandas ~between)") {
    // 10 (below 20), NULL, 200 (above 100) violate; 50/60 pass
    assert(violatingRows(Between("t", "amount", 20, 100), df).count() == 3)
  }

  test("Unique: every row of a key with multiplicity > 1 (duplicated keep=False)") {
    val v = violatingRows(Unique("t", "id"), df)
    assert(v.count() == 4)
    assert(v.select("id").distinct().as[Long].collect().sorted.toSeq == Seq(2L, 3L))
  }

  test("Unique: duplicate NULL keys are violations (GROUP BY semantics)") {
    val withNulls = Seq(Some(1L), None, None).toDF("k")
    assert(violatingRows(Unique("t", "k"), withNulls).count() == 2)
  }

  test("ForeignKey: child keys absent from parent, via left_anti") {
    val parent = Seq("x").toDF("tag")
    val v = violatingRows(ForeignKey("t", "tag", "p", "tag"), df, parent)
    // 'y' missing from parent; NULL tag also unmatched by anti-join
    assert(v.count() == 2)
  }

  test("violationCounts: one labelled row per rule") {
    val parent = Seq("x").toDF("tag")
    val out = violationCounts(spark, Seq(
      (NotNull("t", "amount"), df, null),
      (ForeignKey("t", "tag", "p", "tag"), df, parent)))
    assertSameRows(out.orderBy("rule"), Seq(
      Row("t", "foreign_key", "tag", 2L),
      Row("t", "not_null", "amount", 1L)))
  }

  test("quarantine: union of violators across rules, tagged + deduplicated") {
    val out = quarantine(
      Seq(Between("t", "amount", 20, 100), NotNull("t", "amount")),
      df, Seq("id"))
    // Between violators ids 1,2,2; NotNull violator id 2 — dedup by (id, rule)
    assertSameRows(out, Seq(
      Row(1L, "between:amount"),
      Row(2L, "between:amount"),
      Row(2L, "not_null:amount")))
  }

  test("quarantine: all four rule kinds in one pass (window + FK join included)") {
    val parent = Seq("x").toDF("tag")
    val out = quarantine(
      Seq(Unique("t", "id"), ForeignKey("t", "tag", "p", "tag"), NotNull("t", "amount")),
      df, Seq("id", "amount"), refs = Map("p" -> parent))
    val byRule = out.collect().groupBy(_.getString(2)).view.mapValues(_.length).toMap
    assert(byRule == Map(
      "unique:id" -> 4,       // ids 2,2,3,3
      "foreign_key:tag" -> 2, // 'y' and NULL tag rows
      "not_null:amount" -> 1))
  }
}
