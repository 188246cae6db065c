package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.GraftCaches.TrackedPersist
import graft.ext.Similarity
import graft.ingest.GlobalSeq

/** The x143 beam ANN's recall-at-scale contract, made executable: the
  * catalog entry's fixed flat search (1 layer, 4 hops) is tuned for the shipped
  * 500–2000-vector corpora and — as the round-6 30k-vector probe
  * measured (0.002 raw recall) — do NOT carry to larger corpora on
  * their own. Per the HNSW contract the design comment cites, what
  * grows with n is the LAYER COUNT (log₈ n, keeping the top layer
  * bounded), while hops-per-layer and beam widths stay constant.
  * [[scheduleFor]] pins that schedule; [[beamAnnLayered]] runs the
  * exact same rank-block construction and hop machinery as
  * `Ext43.beamAnn` (shared `knnEdges`) over any number of layers.
  * `BeamScheduleSpec` asserts recall@1 ≥ 0.9 on a 30k-vector corpus
  * under the schedule, with the fixed-2-layer form as the negative
  * control.
  */
object BeamSchedule {

  /** layers: enough 1/8 samples that the top layer is ≤ topCap nodes;
    * everything else is a constant, exactly HNSW's shape (efSearch-like
    * widths don't grow with n — the layer count does). nEntries ≥ the
    * top-layer size means the WHOLE top layer is the entry set: the
    * initial beam is an exact top-4 over ≤ topCap nodes (constant cost
    * per query at any n), so every cluster present in the top sample is
    * reachable without relying on sparse cross-cluster graph edges —
    * the first thing that breaks on clustered data with few entries. */
  final case class Knobs(layers: Int, nEntries: Int = 16,
      upperHops: Int = 2, baseHops: Int = 3, bUpper: Int = 12,
      bBase: Int = 32)

  def scheduleFor(n: Long, topCap: Long = 500L): Knobs = {
    var layers = 1
    var top = n
    while (top > topCap) { layers += 1; top /= 8 }
    Knobs(layers = layers, nEntries = topCap.toInt)
  }

  /** Layered beam ANN over an arbitrary quantized frame (vec_id,
    * q: array<bigint>): base layer gets two independent ranking bands
    * (block 128, 16-NN — the round-8 catalog constants, shared with
    * Ext43.beamAnn so the schedule at layers = 2 examines the SAME
    * candidate mass as the tuned catalog knobs; the r7 constants'
    * sparser 64/12 graph was the measured cause of the sf0.1 recall
    * valley), each upper layer ℓ is the Murmur-sampled 1/8^ℓ frame
    * re-ranked densely (block 16, 6-NN). Search enters at ~nEntries
    * evenly rank-spaced top-layer nodes and descends, `upperHops`
    * bounded hops per upper layer then `baseHops` on the base — total
    * hops 2(L−1)+3 = O(log n), each one equi-join + exact rescore +
    * bounded top-B window, beam persisted per hop (the Ext43
    * lineage-truncation rule). */
  def beamAnnLayered(eQ: DataFrame, queryStep: Long, k: Knobs,
      perturb: Boolean = false): DataFrame = {
    val code = (0 until 16).map { p =>
      when(Ext43.iproj(col("q"), p) > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
    val e0 = eQ
      .withColumn("b1", code.bitwiseAND(lit(15L)))
      .withColumn("b2", shiftright(code, 4).bitwiseAND(lit(15L)))
      .withColumn("p0", Ext43.iproj(col("q"), 16))
      .withColumn("p1", Ext43.iproj(col("q"), 17))
    val e = GlobalSeq.withSeq(
        GlobalSeq.withSeq(e0, Seq(col("b1"), col("p0"), col("vec_id")), "s0"),
        Seq(col("b2"), col("p1"), col("vec_id")), "s1")
      .persistTracked()
    val edges0 = Ext43.knnEdges(e, Seq("s0", "s1"), 128, 16).persistTracked()
    // upper layers, bottom-up: (sampled frame, its edges). The sample
    // predicate MURMUR-HASHES vec_id instead of the catalog's raw
    // vec_id % 8^ℓ: raw-mod sampling silently assumes ids are
    // uncorrelated with geometry — when cluster assignment shares
    // arithmetic with the id (e.g. cluster = id % 32), every upper
    // layer collapses into ONE cluster and recall goes to zero. (A
    // Knuth multiplicative hash mod 8^ℓ does NOT fix this: an odd
    // multiplier is a bijection on the low bits, so `id·K % 2^b == 0`
    // is exactly `id % 2^b == 0` — measured during this spec's
    // construction.) Murmur3 is non-linear in the id bits and nested
    // across layers (h % 8^(ℓ+1) = 0 ⇒ h % 8^ℓ = 0) — HNSW's RNG
    // level assignment, done deterministically.
    val uppers0 = (1 until k.layers).map { l =>
      val mod = math.pow(8, l).toLong
      val el = GlobalSeq.withSeq(
          e.filter(pmod(hash(col("vec_id")), lit(mod)) === 0)
            .select(col("vec_id"), col("q"), col("b1"), col("p0")),
          Seq(col("b1"), col("p0"), col("vec_id")), "sc")
        .persistTracked()
      (el, Ext43.knnEdges(el, Seq("sc"), 16, 6).persistTracked())
    }
    // Hash sampling is binomial, not deterministic-count: near the topCap
    // boundary an upper layer CAN come back empty, and an empty entry
    // layer would silently return ZERO rows per query (round-8 ADVICE).
    // Degrade loudly-but-correctly instead: drop empty layers (nesting
    // h % 8^(l+1) = 0 ⇒ h % 8^l = 0 means emptiness is monotone in l, so
    // takeWhile keeps exactly the populated prefix) and fall back to the
    // flat base search when none survive. The layer frames are persisted
    // and tiny — the existence probe is one cheap action per layer.
    val uppers = uppers0.takeWhile(_._1.head(1).nonEmpty)
    val entFrame =
      if (uppers.nonEmpty) uppers.last._1.select(col("vec_id"), col("sc"))
      else e.select(col("vec_id"), col("s0").as("sc"))
    val n1 = entFrame.agg(count(lit(1)).as("n1"))
    val entries = entFrame.crossJoin(n1)
      .filter(col("sc") % greatest(expr(s"n1 div ${k.nEntries}"), lit(1L)) === 0)
      .select(col("vec_id").as("id"))
    val qs = e.filter(col("vec_id") % queryStep === 0)
      .select(col("vec_id").as("q_id"),
        (if (perturb) expr(Ext43.PerturbSql) else col("q")).as("qq"))
    def score(beamIds: DataFrame): DataFrame =
      beamIds
        .join(e.select(col("vec_id").as("id"), col("q")), "id")
        .join(broadcast(qs), "q_id")
        .select(col("q_id"), col("id"),
          Similarity.idist2(col("qq"), col("q")).as("dist2"))
    def topB(scored: DataFrame, b: Int): DataFrame =
      scored.withColumn("rn", row_number().over(
          Window.partitionBy(col("q_id")).orderBy(col("dist2"), col("id"))))
        .filter(col("rn") <= b)
    // Per-hop LOGICAL lineage cut (round 14): the catalog form's
    // persist-per-hop keeps EXECUTION linear, but the analyzed plan
    // still nests each hop's InMemoryRelation (whose cachedPlan embeds
    // the previous hop's physical tree) TWICE per hop (kept ∪ expanded)
    // — tree-shaped walks (plan stringification, parts of planning) go
    // 2^hops. Invisible at the catalog's 5 hops / 2k vectors; at the
    // SCHEDULE's 9 hops on a 100k corpus it cost ~14 min of pure
    // driver-side Catalyst work and OOM'd a 4g driver rendering the
    // explain string (measured in round 14). createDataFrame on
    // the hop output's RDD makes the next hop's plan start from a
    // LogicalRDD leaf — plan size O(1) per hop, distributed execution
    // unchanged. The persist stays load-bearing: the beam feeds two
    // branches, and without it the RDD lineage would recompute the
    // whole chain per branch.
    def lineageCut(df: DataFrame): DataFrame =
      df.sparkSession.createDataFrame(df.rdd, df.schema)
    def hop(beam0: DataFrame, edges: DataFrame, b: Int): DataFrame = {
      val beam = beam0.persistTracked()
      val expanded = beam
        .join(edges, col("id") === col("src"))
        .select(col("q_id"), col("dst").as("id"))
      lineageCut(topB(score(beam.union(expanded).distinct()), b)
        .select(col("q_id"), col("id")))
    }
    var beam = topB(score(
      qs.select(col("q_id")).crossJoin(broadcast(entries))), 8)
      .select(col("q_id"), col("id"))
    for ((_, edgesL) <- uppers.reverse; _ <- 1 to k.upperHops)
      beam = hop(beam, edgesL, k.bUpper)
    for (_ <- 1 to k.baseHops)
      beam = hop(beam, edges0, k.bBase)
    topB(score(beam), 3)
      .select(col("q_id"), col("rn").cast("long").as("rank"),
        col("id").as("vec_id"), col("dist2"))
      .orderBy(col("q_id"), col("rank"))
  }
}
