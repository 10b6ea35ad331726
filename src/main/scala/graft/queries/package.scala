package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

package object queries {

  /** One registered operator query: Spark implementation + (optionally) an
    * equivalent ANSI SQL string the DuckDB oracle can run over the same
    * parquet tables. Column names/aliases MUST match between the two
    * (driver compares after sorting columns by name). */
  final case class Q(
      name: String,
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  object Q {
    def apply(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame): Q =
      Q(name, fn, Some(oracle))
  }
}
