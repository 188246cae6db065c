package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.GlobalSeq

/** Pins GlobalSeq: value identity against the single-partition window
  * reference, and a partition-compute bound proving the CHILD executes
  * at most twice (range-sampling + one shuffle map pass) with ZERO
  * additional child passes at consumption — the r14 "double execution"
  * concern is bounded by shuffle map-output reuse; only the reduce side
  * repeats. */
class GlobalSeqSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def cleanup(): Unit = {
    GraftCaches.releasePrior()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  test("withSeq matches the window row_number reference, ties included") {
    import spark.implicits._
    // keys with heavy ties so the vec_id tiebreaker pattern is exercised
    val df = (1 to 997).map(i => (i % 7, i % 13, i.toLong))
      .toDF("k1", "k2", "id")
    val want = df.withColumn("seq",
        row_number().over(
          Window.orderBy(col("k1"), col("k2"), col("id"))).cast("long") - 1L)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2, t._3))
    val got = GlobalSeq.withSeq(df, Seq(col("k1"), col("k2"), col("id")), "seq")
      .select(col("k1"), col("k2"), col("id"), col("seq"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2, t._3))
    assert(got.toSeq == want.toSeq)
    cleanup()
  }

  test("child bounded at 2 passes: the consumer adds zero child passes") {
    // The child bumps an accumulator once per computed partition. An
    // orderBy inherently runs the range partitioner's sampling pass (1
    // pass) plus the shuffle map pass (1 pass, during zipWithIndex's
    // count job); the consumer's action then reuses the registered map
    // output — the reduce-side sort repeats, the CHILD does not.
    val parts = 8
    val acc = spark.sparkContext.longAccumulator("globalseq-child-parts")
    val childRdd = spark.sparkContext
      .parallelize(1 to 4000, parts)
      .mapPartitions { it => acc.add(1); it.map(i => Row(i.toLong)) }
    val child = spark.createDataFrame(childRdd,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = false))))
    val out = GlobalSeq.withSeq(child, Seq(col("id")), "seq")
    val afterConstruct = acc.value
    assert(afterConstruct <= 2L * parts,
      s"construction computed the child ${afterConstruct / parts.toLong}×" +
        s" (acc=$afterConstruct) — expected sampling + one shuffle map pass")
    assert(out.count() == 4000L)
    assert(acc.value == afterConstruct,
      s"the consumer re-executed the child: acc $afterConstruct → ${acc.value}")
    cleanup()
  }

  test("nested withSeq: inner child still bounded at 2 passes end-to-end") {
    val parts = 8
    val acc = spark.sparkContext.longAccumulator("globalseq-nested-parts")
    val childRdd = spark.sparkContext
      .parallelize(1 to 4000, parts)
      .mapPartitions { it => acc.add(1); it.map(i => Row(i.toLong, (i % 11).toLong)) }
    val child = spark.createDataFrame(childRdd,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType, nullable = false))))
    val one = GlobalSeq.withSeq(child, Seq(col("k"), col("id")), "s0")
    val two = GlobalSeq.withSeq(one, Seq(col("id")), "s1")
    assert(two.count() == 4000L)
    val totalPasses = acc.value / parts.toLong
    // the outer level's sampling, count job and consumption all read the
    // inner level's shuffle output, never the inner child itself
    assert(totalPasses <= 2L,
      s"nested construct+consume computed the inner child $totalPasses times (acc=${acc.value})")
    // seq correctness end-to-end: s1 follows id order exactly
    val rows = two.select(col("id"), col("s1")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(rows.zipWithIndex.forall { case ((_, s), i) => s == i.toLong })
    cleanup()
  }
}
