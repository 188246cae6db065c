package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.tables.Tables._
import graft.GraftCaches.TrackedPersist
import graft.ingest.GlobalSeq

/** Round-6 additions, part 3: graph-based ANN (HNSW-lite, two layers) —
  * completes the modern ANN taxonomy next to IVF (x7/x23), LSH bucketing
  * (x16/x27), PQ (x42/x45) and SRP sketches (x137): a bounded-round beam
  * search over a layered neighborhood graph, every hop an equi-join.
  */
object Ext43 {

  /** Exact integer SQUARED DISTANCE over the x137 quantization (q[i] ∈
    * [0, 2000], 64 dims ⇒ dist² ≤ 2.56e8 — engine-divergence-proof by
    * construction; no float fold anywhere in the search). Spelled as a
    * fold of squared differences (never |a|²+|b|²−2ab): the shift in the
    * quantization cancels, and the query's own node sits at distance 0,
    * so self-retrieval is the built-in sanity check. Routed through the
    * native graft_idist2 codegen expression — integer adds commute, so
    * the kernel is value-identical to the HOF fold (spec-pinned). */
  private def idist2(a: Column, b: Column): Column =
    graft.ext.Similarity.idist2(a, b)

  /** The HOF spelling of [[idist2]] — kept for the parity spec. */
  private[graft] def idist2Hof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, v) => acc + v)

  private[graft] def iproj(q: Column, p: Int): Column =
    aggregate(zip_with(q, typedLit(Ext39.plane(p)), (x, r) => x * r),
      lit(0L), (acc, v) => acc + v)

  /** x146's deterministic query perturbation: dim i of query vec_id
    * shifts by (vec_id·37 + i·17) mod 501 − 250. Both operands are
    * non-negative, so Spark % and DuckDB % agree; i is 0-based here and
    * (i−1) on the DuckDB side's 1-based range. */
  private[graft] val PerturbSql =
    "transform(q, (x, i) -> x + (vec_id * 37 + i * 17) % 501 - 250)"

  /** The shared integer quantization of the embedding table (x137's map
    * of [−1, 1] doubles to [0, 2000] longs): the beam search and the
    * x146 brute-force audit arm must score in the same integer space.
    * One expression string — x177's labeled variant rides the same
    * spelling (the no-drift rule). */
  private[graft] val QuantizeSql =
    "transform(CAST(embedding AS array<double>), x -> CAST(floor((x + 1.0D) * 1000.0D) AS BIGINT))"

  private[graft] def quantized(s: SparkSession, d: String): DataFrame =
    embeddings(s, d).select(col("vec_id"), expr(QuantizeSql).as("q"))

  /** Same quantization, keeping the label column (x177 CH index). */
  private[graft] def quantizedLabeled(s: SparkSession, d: String): DataFrame =
    embeddings(s, d).select(col("vec_id"), col("label"),
      expr(QuantizeSql).as("q"))

  // Rank-block kNN edges: block = seq div blk; probe meets its own
  // and the NEXT block (both directions covered after symmetrize);
  // extracted from beamAnn verbatim so the layered scheduled form
  // (BeamSchedule) shares the exact same graph construction. The block
  // join carries the q payload; the ids-only spelling that attaches q
  // afterward by key (the 100 TB wire weight: 16 B pairs, not 512 B
  // payloads) MEASURED SLOWER at sf0.1 (21 s vs 14 s,
  // BENCH_AB_r06_x143.json) — at toy scale the extra joins/stages cost
  // more than the payload width; revisit at real scale.
  private[graft] def knnEdges(frame: DataFrame, seqCols: Seq[String],
      blk: Int, m: Int): DataFrame = {
    val bands = seqCols.map { sc =>
      val probe = frame.select(col("vec_id").as("src"), col("q").as("qa"),
        explode(array(expr(s"$sc div $blk"), expr(s"$sc div $blk + 1")))
          .as("k"))
      val build = frame.select(col("vec_id").as("dst"), col("q").as("qb"),
        expr(s"$sc div $blk").as("k"))
      probe.join(build, "k").filter(col("src") =!= col("dst"))
        .select(col("src"), col("dst"), idist2(col("qa"), col("qb")).as("w"))
    }
    bands.reduce(_ union _)
      .groupBy(col("src"), col("dst")).agg(min(col("w")).as("w"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("src")).orderBy(col("w"), col("dst"))))
      .filter(col("rn") <= m).select(col("src"), col("dst"))
      // symmetrize: navigation on the UNDIRECTED kNN graph escapes
      // hub sinks a directed greedy walk gets trapped in (NSW)
      .select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("ed"))
      .select(col("ed.src").as("src"), col("ed.dst").as("dst"))
      .distinct()
  }

  // X3j GRAPH-ANN BEAM SEARCH (flat NSW): graph construction is
  // RANK-BLOCK candidate generation, the 100 TB-safe spelling: nodes
  // are globally ranked by (SRP band, integer projection) via
  // GlobalSeq (range sort + O(P) offset exchange — NO corpus-scale
  // window, the x125 machinery), candidates are the equi-join of
  // adjacent 128-rank blocks, so candidate count is ≤ 2 blocks × 2
  // bands per node — LINEAR in corpus size, immune to the skewed
  // SRP buckets that make naive bucket self-joins quadratic (this
  // corpus puts half of all vectors in one bucket). Two independent
  // bands rescue nodes isolated in one band. Per-node nearest-16 by
  // exact dist², then symmetrized (undirected NSW navigation).
  // Search: 16 stride entries over the s0 rank, a width-8 entry beam,
  // then 4 hops of width 32; each hop is ONE equi-join on src + exact
  // rescoring + a top-B cut (dist² asc, id asc); the tiny beam
  // persists per hop (lineage truncation — uncached, the plan doubles
  // per hop and Catalyst analysis goes exponential). Per-hop work is
  // |beam|·M rows per query; window frames bounded at B(1+M). A bigger
  // corpus adds layers (log n) via BeamSchedule, not fixed hops here.
  // KNOB PROVENANCE (round 8, closes the r7 recall valley): the r7
  // knobs (blk 64, 12-NN, widths 12/6/4) measured held-out recall@3
  // (x146) of 0.93 / 1.00 / 0.70 at sf0.001/0.01/0.1 — the sf0.1
  // dip was graph quality, not beam width: widening search alone
  // plateaued at 0.825; blk 128 + 16-NN alone hit 0.858; together
  // with widths 32/12/8 the measured recall is 0.95 / 1.00 / 1.00,
  // AND the denser graph converges faster (fewer re-expansions), so
  // the richer construction is not a toy-scale cost regression
  // (same-boot record BENCH_AB_r08_x143_knobs.json). Self-recall@1
  // remains 1.0 at all SFs (the query's own node is retrieved from
  // distance 0). The rank chain is persist-free: caching the quantized
  // projection and/or the inner ranked frame measured neutral (r8, r14;
  // BENCH_AB_r08_x143_persist.json, BENCH_AB_r14_x143lincut.json), and
  // both one-child-execution GlobalSeq redesigns measured SLOWER
  // (BENCH_AB_r15_globalseq.json).
  //
  // `lineageCutHops = false` is the uncut hop chain Ext43Spec checks the
  // catalog's per-hop lineage cut against; `perturbQueries` selects
  // x146's held-out queries.
  private[graft] def beamAnn(s: SparkSession, d: String,
      lineageCutHops: Boolean = true,
      perturbQueries: Boolean = false): DataFrame = {
      val code = (0 until 16).map { p =>
        when(iproj(col("q"), p) > 0, lit(1L << p)).otherwise(lit(0L))
      }.reduce(_ + _)
      val e0 = quantized(s, d)
        .withColumn("b1", code.bitwiseAND(lit(15L)))
        .withColumn("b2", shiftright(code, 4).bitwiseAND(lit(15L)))
        .withColumn("p0", iproj(col("q"), 16))
        .withColumn("p1", iproj(col("q"), 17))
      val e = GlobalSeq.withSeq(
          GlobalSeq.withSeq(e0, Seq(col("b1"), col("p0"), col("vec_id")), "s0"),
          Seq(col("b2"), col("p1"), col("vec_id")), "s1")
        .persistTracked() // one frame, independent rank orders
      val edges0 = knnEdges(e, Seq("s0", "s1"), 128, 16).persistTracked()
      // entry points: ~16 nodes evenly spaced in rank order — diverse
      // starts stand in for the layers above the top one
      val entFrame = e.select(col("vec_id"), col("s0").as("sc"))
      val n1 = entFrame.agg(count(lit(1)).as("n1"))
      val entries = entFrame.crossJoin(n1)
        .filter(col("sc") % greatest(expr("n1 div 16"), lit(1L)) === 0)
        .select(col("vec_id").as("id"))
      // perturbQueries = held-out audit mode (x146): the query vectors
      // are deterministic NON-members — each dim shifted by a
      // vec_id/dim-keyed offset in [-250, 250], the scale of real
      // inter-point distances in this quantization — so retrieving them
      // exercises approximate search, not distance-0 connectivity.
      val qs = {
        val base = e.filter(col("vec_id") % 50 === 0)
        if (perturbQueries) base.select(col("vec_id").as("q_id"),
          expr(PerturbSql).as("qq"))
        else base.select(col("vec_id").as("q_id"), col("q").as("qq"))
      }
      def score(beamIds: DataFrame): DataFrame =
        beamIds
          .join(e.select(col("vec_id").as("id"), col("q")), "id")
          .join(broadcast(qs), "q_id")
          .select(col("q_id"), col("id"), idist2(col("qq"), col("q")).as("dist2"))
      def topB(scored: DataFrame, b: Int): DataFrame =
        scored.withColumn("rn", row_number().over(
            Window.partitionBy(col("q_id"))
              .orderBy(col("dist2"), col("id"))))
          .filter(col("rn") <= b)
      def hop(beam0: DataFrame): DataFrame = {
        // lineage truncation per hop: `beam0` appears TWICE below (kept ∪
        // expanded), so an uncached chain DOUBLES the logical plan each
        // round — Catalyst analysis goes exponential in hop count (the
        // same plan-growth class as iterative CC, Components.scala).
        // Persisting the ≤ |Q|·B-row frame keeps the plan linear.
        val beam = beam0.persistTracked()
        val expanded = beam
          .join(edges0, col("id") === col("src"))
          .select(col("q_id"), col("dst").as("id"))
        val out = topB(score(beam.union(expanded).distinct()), 32)
          .select(col("q_id"), col("id"))
        // per-hop LOGICAL lineage cut (BeamSchedule's round-14 pattern):
        // the next hop references this frame twice, so the analyzed plan
        // nests 2^hops deep without it — row-identical, probe-gated
        if (lineageCutHops)
          out.sparkSession.createDataFrame(out.rdd, out.schema)
        else out
      }
      var beam = topB(score(
        qs.select(col("q_id")).crossJoin(broadcast(entries))), 8)
        .select(col("q_id"), col("id"))
      for (_ <- 1 to 4) beam = hop(beam)
      topB(score(beam), 3)
        .select(col("q_id"), col("rn").cast("long").as("rank"),
          col("id").as("vec_id"), col("dist2"))
        .orderBy(col("q_id"), col("rank"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Round-12 cost decision (VERDICT r11 #2): the catalog search is
    // the FLAT NSW form — no coarse layer, 4 full-layer hops. At this
    // corpus (n = 2k vectors, 16 stride entries) the flat walk reaches
    // the same neighborhoods: held-out recall@3 is IDENTICAL to the
    // two-layer form at all 3 SFs (0.950/1.000/1.000, round-12 recall
    // sweep) while the coarse layer's construction (an extra
    // GlobalSeq rank sort + block join + 2 hops on edges1) was ~37% of
    // the query: same-boot min-of-5 7.78 s flat vs 12.38 s two-layer
    // (BENCH_AB_r12_x143cost.json; controls x9/x40/x3 flat). The
    // layered descent is a log-n NAVIGATION accelerator — at this n it
    // buys nothing; at real scale layers return via BeamSchedule
    // .scheduleFor(n) (the recall-at-scale contract, checked by
    // BeamScheduleSpec at 30k vectors). blk 32/64
    // also measured: cheaper graphs REGRESS recall (0.833/0.908 at
    // sf0.1) — rejected, recorded in the same A/B.
    // Round 14 (optimization): per-hop LOGICAL lineage cut adopted —
    // each hop references the prior beam twice, so the analyzed plan
    // nests 2^hops InMemoryRelation-bearing subtrees (the formatted
    // plan was 886 KB for 120 rows); cutting to a LogicalRDD leaf per
    // hop is row-identical (hash-green re-gated) and measured 4.97 vs
    // 7.34 s min-of-5 same-boot (BENCH_AB_r14_x143lincut.json; the
    // construction persists re-probed on the flat form stay neutral,
    // same record).
    "x143_beam_ann" -> ((s, d) => beamAnn(s, d)),

    // X3k HELD-OUT RECALL AUDIT for the beam ANN (x90's contract):
    // score the graph search against brute-force ground truth for
    // queries that are NOT corpus members (deterministically perturbed
    // vectors — PerturbSql). Self-recall@1 = 1.0 cannot fail for any
    // connected graph (it retrieves a node from distance 0); this audit
    // can. The brute-force arm is |Q|·n with Q the bounded audit
    // sample — exactly x90's scale contract; the beam arm is the
    // unmodified catalog search fed the perturbed queries.
    // Round 15: constructed with AQE DISABLED for the construction scope
    // (restored in finally; results are AQE-invariant). The per-hop
    // lineage cut's .rdd otherwise triggers AdaptiveSparkPlanExec's EAGER
    // stage-by-stage materialization at construction, serializing the
    // whole beam behind driver round-trips BEFORE the brute-force
    // ground-truth arm even starts; compiled lazily, the beam's stages
    // and the independent gt arm overlap inside the one consuming job
    // (guide §2.6). Same-boot min-of-5/7 across two boots: 3.95/3.98 vs
    // 5.78/5.49 s (BENCH_AB_r15_noaqecons{,_confirm}.json, ~1.4×). x143
    // measured the OPPOSITE (no independent arm to overlap, and its lazy
    // hop chain loses AQE coalescing: 10.7 vs 5.9 s) and keeps the eager
    // form.
    // The toggle mutates the SHARED session's conf, so it assumes
    // catalog entries are constructed one at a time on that session: a
    // query constructed concurrently on another thread would see AQE
    // off too. (Replacing the toggle is a separate change.)
    "x146_beam_recall" -> ((s, d) => {
      val prev = s.conf.get("spark.sql.adaptive.enabled", "true")
      s.conf.set("spark.sql.adaptive.enabled", "false")
      try x146Body(s, d)
      finally s.conf.set("spark.sql.adaptive.enabled", prev)
    }))

  private def x146Body(s: SparkSession, d: String): DataFrame = {
      val e0 = quantized(s, d).persistTracked()
      val qs = e0.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("q_id"), expr(PerturbSql).as("qq"))
      val gt = e0.crossJoin(broadcast(qs))
        .select(col("q_id"), col("vec_id"),
          idist2(col("qq"), col("q")).as("dist2"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("q_id"))
            .orderBy(col("dist2"), col("vec_id"))))
        .filter(col("rn") <= 3).select(col("q_id"), col("vec_id"))
      val beam3 = beamAnn(s, d, perturbQueries = true)
        .select(col("q_id"), col("vec_id"))
      val hits = beam3.join(gt, Seq("q_id", "vec_id"))
        .groupBy(col("q_id")).agg(count(lit(1)).as("n_hits"))
      qs.select(col("q_id")).join(hits, Seq("q_id"), "left")
        .select(col("q_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          expr("coalesce(n_hits, 0L) * 1000 div 3").as("recall_pm"))
        .orderBy(col("q_id"))
  }

  // ---- DuckDB oracle fragments shared by x143 and x146 ----

  /** SRP projection against the plane bound as COLUMN pl$p (see
    * [[planesCte]]). Round 12: the former spelling embedded the
    * 64-element plane as a list LITERAL inside the lambda — DuckDB
    * re-materializes a literal list per element evaluation, which made
    * the 18-projection e0 CTE ~95% of the x143 oracle (14.6 s of
    * 15.4 s at sf0.1, CTE-profiled). Integer sums are order-free, so
    * the sequential list_reduce also becomes a native
    * list_aggregate('sum') (CAST back from DuckDB's HUGEINT sum). */
  private def iprojSql(p: Int): String =
    s"CAST(list_aggregate(list_transform(range(1, 65), " +
      s"i -> q[i] * pl$p[i]), 'sum') AS BIGINT)"

  /** One row, one column per SRP plane — CROSS JOINed where the
    * projections are computed so each plane is bound once per ROW
    * instead of once per lambda element. */
  private[queries] def planesCte(nPlanes: Int): String =
    (0 until nPlanes)
      .map(p => Ext39.plane(p).mkString("[", ", ", s"] AS pl$p"))
      .mkString("pl AS (SELECT ", ",\n|    ", ")")

  private[queries] def idist2Sql(a: String, b: String): String =
    s"""CAST(list_aggregate(list_transform(range(1, 65),
       |      i -> ($a[i] - $b[i]) * ($a[i] - $b[i])), 'sum') AS BIGINT)"""
      .stripMargin

  // rank-block candidates per band + nearest-M + symmetrize
  private def edgesCte(name: String, src: String, seqs: Seq[String],
      blk: Int, m: Int): String = {
    val bands = seqs.map { sc =>
      s"""SELECT a.src, b.dst, ${idist2Sql("a.qa", "b.qb")} AS w
         |  FROM (SELECT vec_id AS src, q AS qa,
         |      unnest([$sc // $blk, $sc // $blk + 1]) AS k FROM $src) a
         |  JOIN (SELECT vec_id AS dst, q AS qb, $sc // $blk AS k
         |      FROM $src) b
         |    ON a.k = b.k AND a.src <> b.dst""".stripMargin
    }.mkString("\n|  UNION ALL\n|  ")
    s"""${name}_k AS (SELECT src, dst FROM (SELECT src, dst,
       |    row_number() OVER (PARTITION BY src ORDER BY w, dst) AS rn
       |  FROM (SELECT src, dst, min(w) AS w FROM (
       |  $bands) GROUP BY src, dst)) WHERE rn <= $m),
       |$name AS (SELECT src, dst FROM ${name}_k
       |  UNION SELECT dst AS src, src AS dst FROM ${name}_k)""".stripMargin
  }

  // one hop = expand prev beam over `edges`, exact-rescore, keep top b
  private def hopCtes(i: Int, prevBeam: String, edges: String,
      b: Int): String =
    s"""c$i AS (SELECT q_id, id FROM $prevBeam
       |  UNION SELECT $prevBeam.q_id, $edges.dst
       |  FROM $prevBeam JOIN $edges ON $prevBeam.id = $edges.src),
       |s$i AS (SELECT c$i.q_id, c$i.id, ${idist2Sql("qs.qq", "ev.q")} AS dist2
       |  FROM c$i JOIN e ev ON ev.vec_id = c$i.id JOIN qs ON qs.q_id = c$i.q_id),
       |b$i AS (SELECT q_id, id FROM (SELECT q_id, id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY dist2, id) AS rn
       |  FROM s$i) WHERE rn <= $b)""".stripMargin

  /** The WITH-body of the whole beam search — quantization, two ranked
    * bands, the full-layer edges, stride entries over the s0 rank, the
    * given qs CTE, entry scoring and the four flat hops — through `fin`
    * (the exact-rescored final beam). x143 and x146 differ only in the
    * qs CTE and the final SELECT. Round 12: the coarse layer (e1 /
    * edges1 / 2 width-12 hops) left the oracle together with the
    * engine's (the flat-form adoption, BENCH_AB_r12_x143cost.json). */
  private def beamSearchCtes(qsSql: String): String = {
    val code = (0 until 16)
      .map(p => s"(CASE WHEN ${iprojSql(p)} > 0 THEN ${1L << p} ELSE 0 END)")
      .mkString(" + ")
    val hops = Seq(
      (1, "b0", "edges0", 32), (2, "b1", "edges0", 32),
      (3, "b2", "edges0", 32), (4, "b3", "edges0", 32))
      .map { case (i, p, ed, b) => hopCtes(i, p, ed, b) }
      .mkString(",\n|")
    s"""${planesCte(18)},
      |e00 AS (SELECT vec_id,
      |    list_transform(CAST(embedding AS DOUBLE[]),
      |      x -> CAST(floor((x + 1.0) * 1000.0) AS BIGINT)) AS q
      |  FROM embeddings),
      |e0 AS (SELECT vec_id, q, CAST($code AS BIGINT) & 15 AS b1,
      |  (CAST($code AS BIGINT) >> 4) & 15 AS b2,
      |  ${iprojSql(16)} AS p0, ${iprojSql(17)} AS p1
      |  FROM e00 CROSS JOIN pl),
      |e AS (SELECT vec_id, q, b1, b2, p0, p1,
      |  row_number() OVER (ORDER BY b1, p0, vec_id) - 1 AS s0,
      |  row_number() OVER (ORDER BY b2, p1, vec_id) - 1 AS s1 FROM e0),
      |${edgesCte("edges0", "e", Seq("s0", "s1"), 128, 16)},
      |ent AS (SELECT vec_id AS id FROM e
      |  WHERE s0 % greatest((SELECT count(*) FROM e) // 16, 1) = 0),
      |$qsSql,
      |s0q AS (SELECT q_id, id, ${idist2Sql("qs.qq", "ev.q")} AS dist2
      |  FROM qs CROSS JOIN ent JOIN e ev ON ev.vec_id = ent.id),
      |b0 AS (SELECT q_id, id FROM (SELECT q_id, id,
      |    row_number() OVER (PARTITION BY q_id ORDER BY dist2, id) AS rn
      |  FROM s0q) WHERE rn <= 8),
      |$hops,
      |fin AS (SELECT b4.q_id, b4.id, ${idist2Sql("qs.qq", "ev.q")} AS dist2
      |  FROM b4 JOIN e ev ON ev.vec_id = b4.id JOIN qs ON qs.q_id = b4.q_id)"""
      .stripMargin
  }

  private val SelfQsSql =
    "qs AS (SELECT vec_id AS q_id, q AS qq FROM e WHERE vec_id % 50 = 0)"

  private val PerturbQsSql =
    """qs AS (SELECT vec_id AS q_id,
      |  list_transform(range(1, 65),
      |    i -> q[i] + (vec_id * 37 + (i - 1) * 17) % 501 - 250) AS qq
      |  FROM e WHERE vec_id % 50 = 0)""".stripMargin

  /** Pin every CTE of a DuckDB oracle as MATERIALIZED. DuckDB 1.0
    * re-inlines unmaterialized CTEs at EVERY reference, so a chain of
    * CTEs each read k ≥ 2 times re-expands ~k^depth — the round-10
    * sweep finding (x143 oracle 102 s → 5.5 s, x146 72 s → 4.3 s,
    * x137 6.7 s → 3.4 s at sf0.01; rows identical). Safe here because
    * these oracles never use a `WINDOW w AS (...)` clause (the one
    * spelling the rewrite would corrupt). */
  private[queries] def matCtes(sql: String): String =
    sql.replaceAll("""\b([A-Za-z_][A-Za-z0-9_]*) AS \(""",
      "$1 AS MATERIALIZED (")

  val oracleSql: Map[String, String] = Map(

    "x143_beam_ann" -> matCtes(
      s"""WITH ${beamSearchCtes(SelfQsSql)}
        |SELECT q_id, CAST(rn AS BIGINT) AS rank, id AS vec_id, dist2
        |FROM (SELECT q_id, id, dist2,
        |    row_number() OVER (PARTITION BY q_id ORDER BY dist2, id) AS rn
        |  FROM fin) WHERE rn <= 3
        |ORDER BY q_id, rank""".stripMargin),

    "x146_beam_recall" -> matCtes(
      s"""WITH ${beamSearchCtes(PerturbQsSql)},
        |beam3 AS (SELECT q_id, id FROM (SELECT q_id, id,
        |    row_number() OVER (PARTITION BY q_id ORDER BY dist2, id) AS rn
        |  FROM fin) WHERE rn <= 3),
        |gp AS (SELECT qs.q_id, ev.vec_id AS id,
        |    ${idist2Sql("qs.qq", "ev.q")} AS dist2
        |  FROM qs CROSS JOIN e ev),
        |gt3 AS (SELECT q_id, id FROM (SELECT q_id, id,
        |    row_number() OVER (PARTITION BY q_id ORDER BY dist2, id) AS rn
        |  FROM gp) WHERE rn <= 3),
        |h AS (SELECT beam3.q_id, CAST(count(*) AS BIGINT) AS n_hits
        |  FROM beam3 JOIN gt3 ON beam3.q_id = gt3.q_id AND beam3.id = gt3.id
        |  GROUP BY 1)
        |SELECT qs.q_id, CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
        |  CAST(coalesce(n_hits, 0) * 1000 // 3 AS BIGINT) AS recall_pm
        |FROM qs LEFT JOIN h ON qs.q_id = h.q_id ORDER BY qs.q_id""".stripMargin))
}
