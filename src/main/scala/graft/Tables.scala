package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{expr, timestamp_micros}

/** Loaders for the driver-generated TPC-H-ish parquet tables (TESTDATA.md).
  *
  * Mirrors the reference's input surface (object-storage file directories,
  * /root/reference/mapreduce/coordinator/algorithm.py:start_map) as Spark
  * file sources: splitting, locality and scheduling are Spark's job.
  */
object Tables {
  /** Table schemas memoized per (session, path) — the catalog posture
    * (r17, guide §6): a bare `spark.read.parquet(path)` runs schema
    * inference (a footer-reading job) plus an eager file listing on
    * EVERY call, ~100–250 ms of driver-side work per table reference
    * at any data size — measured at 30–45% of each sub-0.5 s registry
    * query. Production tables carry their schema in a catalog or
    * manifest (Iceberg/Delta/metastore) and readers never infer; this
    * memo is the in-process stand-in. Schema only — the data path
    * still scans the parquet inputs on every action; a corpus
    * regenerated at the same path within one session would have the
    * same schema (TESTDATA.md contract) and is re-listed at action
    * time regardless.
    */
  private val schemaMemo =
    Memo.untimed[org.apache.spark.sql.types.StructType]("Tables.schema")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val p = s"$dir/$name.parquet"
    val sch = schemaMemo(spark, p)(spark.read.parquet(p).schema)
    spark.read.schema(sch).parquet(p)
  }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** The events parquet stores nanosecond timestamps, which Spark's
    * reader rejects ([PARQUET_TYPE_ILLEGAL] TIMESTAMP(NANOS)). Read
    * them as raw nanos (legacy flag) and floor to a microsecond
    * timestamp — same floor DuckDB applies at ms granularity, so
    * epoch-ms outputs stay oracle-exact (see operators.Events).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      // ns-as-long layout (the test corpus): floor to a µs timestamp
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000L")))
      // µs parquet with isAdjustedToUTC=false: Spark 4 infers
      // TIMESTAMP_NTZ, which unix_millis/window/session_window reject.
      // The session timezone is pinned to UTC everywhere (Bench,
      // Verify, specs), so NTZ→LTZ cast is value-preserving and lands
      // on the same instants DuckDB reads from the naive column.
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          raw("ts").cast(org.apache.spark.sql.types.TimestampType))
      // already a session-zoned timestamp — pass through
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
