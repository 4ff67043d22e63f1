package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A named public query: the Spark plan plus (when SQL-expressible) the
  * equivalent ANSI SQL for the driver's DuckDB oracle. Keeping plan and
  * oracle adjacent is what keeps column names / ordering / rounding in
  * lockstep — the driver hash-compares after sorting columns by name.
  */
final case class Query(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Query {
  def apply(name: String, sql: String)(build: (SparkSession, String) => DataFrame): Query =
    Query(name, build, Some(sql))
}
