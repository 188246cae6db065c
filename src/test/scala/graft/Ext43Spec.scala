package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Round-6 batch 3: graph-based ANN (x143) — navigation quality, native
  * kernel parity, and plan shape.
  */
class Ext43Spec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("x143: every query retrieves its own node at rank 1, distance 0 " +
    "(beam search navigates to the exact neighborhood)") {
    val out = SparkEntry.queries("x143_beam_ann")(spark, "/root/testdata/sf0.001")
      .collect()
    val r1 = out.filter(_.getLong(1) == 1L)
    assert(r1.nonEmpty)
    assert(r1.forall(r => r.getLong(0) == r.getLong(2) && r.getLong(3) == 0L),
      s"missed self at rank 1: ${r1.filter(r => r.getLong(0) != r.getLong(2)).toSeq}")
    // ranks are dense 1..3 per query
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.values.forall(_.map(_.getLong(1)).sorted.toSeq == Seq(1L, 2L, 3L)))
    GraftCaches.releasePrior()
  }

  test("graft_idist2 native kernel equals the HOF fold on real embeddings") {
    import graft.queries.Ext43
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"),
        expr("transform(CAST(embedding AS array<double>), x -> CAST(floor((x + 1.0D) * 1000.0D) AS BIGINT))")
          .as("q"))
    val pairs = e.as("a").join(e.as("b"),
        col("a.vec_id") % 7 === col("b.vec_id") % 7 &&
          col("a.vec_id") < col("b.vec_id"))
      .limit(500)
      .select(
        graft.ext.Similarity.idist2(col("a.q"), col("b.q")).as("nat"),
        Ext43.idist2Hof(col("a.q"), col("b.q")).as("hof"))
    assert(pairs.filter(col("nat") =!= col("hof")).count() == 0)
  }

  test("graft_idist2 matches the HOF fold's NULL semantics: unequal " +
    "lengths and null elements yield NULL (SQL-reachable inputs)") {
    import graft.queries.Ext43
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (array(1L, 2L, 3L), array(1L, 2L, 3L)),
        |  (array(1L, 2L, 3L), array(1L, 2L)),
        |  (array(1L, 2L), array(1L, 2L, 3L)),
        |  (array(1L, CAST(NULL AS BIGINT), 3L), array(1L, 2L, 3L)),
        |  (array(1L, 2L, 3L), array(1L, NULL, 3L)),
        |  (array(), array()),
        |  (CAST(NULL AS array<bigint>), array(1L))
        |AS t(a, b)""".stripMargin)
      .select(expr("graft_idist2(a, b)").as("nat"),
        Ext43.idist2Hof(org.apache.spark.sql.functions.col("a"),
          org.apache.spark.sql.functions.col("b")).as("hof"))
    val rows = df.collect()
    for (r <- rows) {
      assert(r.isNullAt(0) == r.isNullAt(1),
        s"null-ness diverges from HOF: $r")
      if (!r.isNullAt(0)) assert(r.getLong(0) == r.getLong(1), s"value: $r")
    }
    // and the defined cases are exactly the equal-length non-null rows
    assert(rows.count(!_.isNullAt(0)) == 2)
  }

  test("x146: the held-out audit is genuinely held out (every perturbed " +
    "query sits at positive distance from the whole corpus) and beam " +
    "recall@3 stays above the 0.9 floor at sf0.001") {
    import graft.queries.Ext43
    val out = SparkEntry.queries("x146_beam_recall")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(out.length == 10)
    // held-out: the nearest corpus vector to every perturbed query is at
    // dist² > 0 (a self-query would sit at exactly 0)
    val e0 = Ext43.quantized(spark, "/root/testdata/sf0.001")
    val qs = e0.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), expr(Ext43.PerturbSql).as("qq"))
    val minD = e0.crossJoin(broadcast(qs))
      .select(expr("graft_idist2(qq, q)").as("d2"))
      .agg(min(col("d2"))).head().getLong(0)
    assert(minD > 0L, s"a perturbed query coincides with a corpus vector")
    val hits = out.map(_.getAs[Long]("n_hits")).sum
    // deterministic pipeline: 30/30 as of round 8 — the floor catches a
    // collapse (the r6 fixed-knob probe measured 0.002 raw recall on a
    // 30k corpus; THIS assertion is what that probe lacked)
    assert(hits >= 27L, s"recall@3 fell below 0.9: $hits/30")
    GraftCaches.releasePrior()
  }

  test("x146: held-out recall@3 >= 0.9 at sf0.01 AND sf0.1 — the round-7 " +
    "VERDICT contract (the r7 knobs measured 0.70 at sf0.1; the denser " +
    "round-8 graph closes the valley: an ANN whose recall dips below " +
    "0.9 at ANY advertised scale is not done)") {
    for ((sf, nQ, floor) <- Seq(("0.01", 10L, 27L), ("0.1", 40L, 108L))) {
      val out = SparkEntry.queries("x146_beam_recall")(
        spark, s"/root/testdata/sf$sf").collect()
      assert(out.length == nQ, s"sf$sf query count: ${out.length}")
      val hits = out.map(_.getAs[Long]("n_hits")).sum
      info(s"sf$sf held-out recall@3 = $hits/${3 * nQ}")
      assert(hits >= floor, s"sf$sf recall@3 below 0.9: $hits/${3 * nQ}")
      GraftCaches.releasePrior()
    }
  }

  test("x143 plan: only the two bounded scalar/entry attachments may " +
    "nested-loop; no cartesian on corpus frames") {
    val df = SparkEntry.queries("x143_beam_ann")(spark, "/root/testdata/sf0.001")
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"cartesian crept in:\n$p")
    GraftCaches.releasePrior()
  }

  test("x143 per-hop lineage cut (r14 optimization): row-identical to the " +
    "uncut hop chain, and the final plan stays O(1) per hop (the uncut " +
    "form's formatted plan was 886 KB at 4 hops — 2^hops nesting)") {
    import graft.queries.Ext43
    val d = "/root/testdata/sf0.001"
    val cutDf = Ext43.beamAnn(spark, d)
    val cut = cutDf.collect()
    GraftCaches.releasePrior()
    val uncut = Ext43.beamAnn(spark, d, lineageCutHops = false).collect()
    GraftCaches.releasePrior()
    assert(cut.toSeq == uncut.toSeq,
      s"lineage cut changed rows: ${cut.length} vs ${uncut.length}")
    val planChars = cutDf.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode).length
    assert(planChars < 60000,
      s"cut plan should be a few KB, got $planChars chars")
  }
}
