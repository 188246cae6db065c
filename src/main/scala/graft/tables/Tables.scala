package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver's parquet test tables (TESTDATA.md).
  *
  * All reads go through here so column pruning / predicate pushdown can be
  * asserted in one place and so a future cluster deployment can swap the
  * path scheme (e.g. s3://) without touching query code.
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** events.ts has shipped in three parquet physical types across driver
    * testdata generations — TIMESTAMP(NANOS) (arrives as a LongType of
    * epoch-nanos under spark.sql.legacy.parquet.nanosAsLong=true),
    * un-adjusted TIMESTAMP(MICROS) (arrives as TIMESTAMP_NTZ under Spark
    * 4's NTZ inference), and UTC-adjusted micros (plain TimestampType).
    * Normalize all three to the same two columns: the exact integer
    * ordering key `ts_ns` (matches DuckDB's native ordering of the same
    * column) and a micros TimestampType `ts` (for formatting and
    * event-time windows). The session timezone is pinned to UTC, so the
    * NTZ→LTZ cast below relabels the stored micros without shifting them —
    * exactly how DuckDB reads the naive column. */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        // integer `div`, NOT floor(ns / 1000.0): epoch nanos ≈ 1.7e18
        // exceed a double's 53-bit mantissa, so the float path lands ±1 µs
        // off the exact truncation DuckDB applies when it reads the same
        // column
        raw.withColumn("ts_ns", col("ts"))
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts_ns", unix_micros(col("ts").cast(TimestampType)) * 1000)
          .withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw.withColumn("ts_ns", unix_micros(col("ts")) * 1000)
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Register every test table as a temp view so the whole catalog is
    * reachable from `spark.sql(...)` (events via the loader, so `ts_ns` and
    * the micros `ts` are available in SQL too). */
  def registerViews(s: SparkSession, d: String): Unit =
    for (n <- names) {
      val df = if (n == "events") events(s, d) else table(s, d, n)
      df.createOrReplaceTempView(n)
    }
}
