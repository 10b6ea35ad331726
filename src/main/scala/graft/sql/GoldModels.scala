package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Gold-layer models as literal Spark SQL over registered temp views —
  * the reference's dbt entry point (`method: session` drives an in-process
  * SparkSession; dbt models under dbt/models/gold, SURVEY.md §3.3). The SQL shape is
  * kept 1:1 with the reference models (grouped conditional counts, dim
  * join with embedded predicate, COALESCE/NULLIF safe-divide, ORDER BY),
  * re-based onto the fixture star schema: orders plays the employee-event
  * fact ('F' order status = departed), customer/nation play the dimension.
  * (Reference model files live under dbt/models/gold/ — .sql suffix.)
  *
  * Reference: dbt models gold_attrition_prototype.sql:16-27,
  * gold_attrition_department_prototype.sql:14-39, gold_attrition_summary.sql:3-11.
  */
object GoldModels {

  /** gold_attrition_prototype: attrition count + rate per period (A3+A6+O1). */
  val attritionMonthly: String =
    """SELECT
      |  CAST(year(o_orderdate) AS INT) AS year,
      |  CAST(month(o_orderdate) AS INT) AS month,
      |  count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS attrition_count,
      |  count(*) AS total_rows,
      |  round(coalesce(count(CASE WHEN o_orderstatus = 'F' THEN 1 END)
      |        / nullif(count(*), 0), 0), 6) AS attrition_rate
      |FROM orders
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  /** gold_attrition_department_prototype: dimension join (J1, with the
    * join-embedded predicate P8) + multi-key group (A4) + rate (A6). */
  val attritionByDept: String =
    """SELECT
      |  n.n_nationkey AS department_id,
      |  n.n_name AS department_name,
      |  CAST(year(o.o_orderdate) AS INT) AS year,
      |  count(CASE WHEN o.o_orderstatus = 'F' THEN 1 END) AS attrition_count,
      |  count(*) AS total_rows,
      |  round(coalesce(count(CASE WHEN o.o_orderstatus = 'F' THEN 1 END)
      |        / nullif(count(*), 0), 0), 6) AS attrition_rate
      |FROM orders o
      |JOIN customer c ON o.o_custkey = c.c_custkey AND c.c_acctbal > 0
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |GROUP BY 1, 2, 3
      |ORDER BY 1, 3""".stripMargin

  /** gold_attrition_summary: re-aggregate the department model by year (A5).
    * Sums are CAST to BIGINT: DuckDB's sum(BIGINT) widens to HUGEINT (which
    * pandas renders as float64) while Spark keeps BIGINT — the explicit cast
    * makes both engines agree (same pattern as q07's oracle). */
  val attritionSummary: String =
    """SELECT
      |  year,
      |  CAST(sum(attrition_count) AS BIGINT) AS attrition_count,
      |  CAST(sum(total_rows) AS BIGINT) AS total_rows,
      |  round(coalesce(sum(attrition_count) / nullif(sum(total_rows), 0), 0), 6)
      |    AS attrition_rate
      |FROM (""".stripMargin + "\n" + attritionByDept.replace("ORDER BY 1, 3", "") +
      """) dept
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** Run a model the dbt way: SQL text → SparkSession.sql. */
  def run(spark: SparkSession, model: String): DataFrame = spark.sql(model)
}
