package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One engine operator exposed through the driver contract: a Spark
  * query plus (when SQL-expressible) a DuckDB oracle with IDENTICAL
  * column names and ordering. Modules contribute `Map[String, GQuery]`
  * which `SparkEntry` aggregates — keeps `queries` and `oracleSql`
  * structurally in sync.
  */
final case class GQuery(
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None)

object GQuery {
  def sql(fn: (SparkSession, String) => DataFrame, oracle: String): GQuery =
    GQuery(fn, Some(oracle))
}
