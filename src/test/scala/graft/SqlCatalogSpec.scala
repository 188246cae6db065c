package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.tables.Tables

/** The SQL door: every table registers as a view, spark.sql agrees with the
  * DataFrame catalog, and the injected native function works in SQL text. */
class SqlCatalogSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"

  test("all tables registered; SQL agg equals DataFrame catalog result") {
    val spark = TestSpark.spark
    Tables.registerViews(spark, sf)
    for (n <- Tables.names)
      assert(spark.sql(s"SELECT count(*) FROM $n").collect()(0).getLong(0) > 0, n)

    val viaSql = spark.sql(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin).collect().toSeq
    val viaDf = SparkEntry.queries("q1_agg")(spark, sf)
      .selectExpr("l_returnflag", "l_linestatus", "sum_qty").collect().toSeq
    assert(viaSql == viaDf)
  }

  test("windowed SQL over events uses the exact ts_ns ordering key") {
    val spark = TestSpark.spark
    Tables.registerViews(spark, sf)
    val out = spark.sql(
      """SELECT event_id,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts_ns) AS rn
        |FROM events ORDER BY event_id LIMIT 5""".stripMargin).collect()
    assert(out.length == 5 && out.forall(_.getInt(1) >= 1))
  }

  test("native strip_accents_key callable over a registered view") {
    val spark = TestSpark.spark
    Tables.registerViews(spark, sf)
    val n = spark.sql(
      "SELECT count(*) FROM part WHERE strip_accents_key(p_name) = lower(trim(p_name))")
      .collect()(0).getLong(0)
    assert(n > 0) // ASCII names: key == lowercased trim
  }

  test("events loader: nanos, NTZ and UTC-micros ts give the same ts and ts_ns") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions.{col, lit, timestamp_micros, unix_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    // as a double these nanos round up past the µs boundary; only the
    // integer div truncates them to the micros DuckDB reads
    val ns = 1700000000123456999L
    val us = ns / 1000
    val one = spark.range(1).select(col("id").as("event_id"))
    val micros = timestamp_micros(lit(us))
    val encodings = Seq(
      (LongType, one.withColumn("ts", lit(ns)), ns),
      (TimestampNTZType, one.withColumn("ts", micros.cast(TimestampNTZType)), us * 1000),
      (TimestampType, one.withColumn("ts", micros), us * 1000))
    for ((stored, df, tsNs) <- encodings) {
      val dir = java.nio.file.Files.createTempDirectory("events-ts").toString
      df.write.parquet(s"$dir/events.parquet")
      assert(Tables.table(spark, dir, "events").schema("ts").dataType == stored)
      val ev = Tables.events(spark, dir)
      assert(ev.schema("ts").dataType == TimestampType, stored)
      val r = ev.select(unix_micros(col("ts")), col("ts_ns")).head()
      assert((r.getLong(0), r.getLong(1)) == ((us, tsNs)), stored)
    }
  }
}
