package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Fact-table derivation: attrition / headcount facts plus the synthetic
  * feature columns (SURVEY.md §2.9 D1; reference:
  * jobs/silver/silver_attrition_builder.py:71-137).
  *
  * The reference enriches facts with 7 *nondeterministic* Python UDFs
  * (`rand_marital`, `rand_age`, ...). [[syntheticFeatures]] draws the
  * same domains deterministically, seeded off the key, so any SQL engine
  * reproduces them and the oracle can check them.
  *
  * Everything stays inside whole-stage codegen: no UDFs on the
  * deterministic path, just integer arithmetic + element_at.
  */
object Facts {

  /** Deterministic pseudo-random int in [0, n) from a key column and salt.
    * Pure int64 arithmetic (Knuth multiplicative constant) — identical
    * semantics in Spark and DuckDB for any 64-bit key: the key is first
    * reduced mod 2^31-1, so the product is bounded by ~5.7e18 < Long.Max
    * and can never overflow (Spark 4 ANSI mode would throw; legacy mode
    * would wrap negative and break element_at). pmod keeps the result
    * non-negative even for negative keys. */
  def det(key: Column, salt: Int, n: Int): Column = {
    val p = lit(2147483647L)
    pmod(pmod(key, p) * lit(2654435761L) + lit(salt.toLong), p) % lit(n)
  }

  private def pick(key: Column, salt: Int, choices: Seq[String]): Column =
    element_at(array(choices.map(lit): _*), (det(key, salt, choices.size) + lit(1)).cast("int"))

  /** The reference's 7 synthetic features, seeded off the primary key
    * (silver_attrition_builder.py:71-77: marital/persona/travel/age/
    * overtime/appraisal/years). */
  def syntheticFeatures(df: DataFrame, pk: String): DataFrame = {
    val k = col(pk)
    df.withColumn("marital_status", pick(k, 1, Seq("Single", "Married")))
      .withColumn("persona", pick(k, 2, Seq("Remote", "Office")))
      .withColumn("travel_time_hrs", (det(k, 3, 3) + lit(1)).cast("int"))
      .withColumn("age", (det(k, 4, 34) + lit(22)).cast("int"))
      .withColumn("overtime", pick(k, 5, Seq("Yes", "No")))
      .withColumn("last_appraisal_score", (det(k, 6, 5) + lit(1)).cast("int"))
      .withColumn("years_at_company", det(k, 7, 21).cast("int"))
  }

  /** Attrition fact rows (silver_attrition_builder.py:96-111): filter the
    * departed population (P6 compound boolean), derive tenure + period
    * columns (F7/F8), attach synthetic features. Generic over column
    * names so it runs on any CDC-shaped table. */
  def attritionFact(
      scd2: DataFrame,
      pk: String,
      deletedCol: Column,
      hireDate: Column,
      termDate: Column): DataFrame =
    scd2
      .filter(deletedCol)
      .withColumn("tenure_days", datediff(termDate.cast("date"), hireDate.cast("date")))
      .withColumn("attrition_year", year(termDate))
      .withColumn("attrition_month", month(termDate))
      .transform(syntheticFeatures(_, pk))

  /** Headcount snapshot rows (silver_attrition_builder.py:120-135): active
    * population with month-start snapshot key (F9 trunc to month). */
  def headcountFact(
      scd2: DataFrame,
      pk: String,
      activeCol: Column,
      asOf: Column): DataFrame =
    scd2
      .filter(activeCol)
      .withColumn("snapshot_month", trunc(asOf, "MM"))
      .withColumn("snapshot_year", year(asOf))
      .transform(syntheticFeatures(_, pk))
}
