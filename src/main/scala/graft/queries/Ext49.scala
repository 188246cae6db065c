package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.ingest.GlobalSeq
import graft.tables.Tables._

/** Round-9 batch: x160 Kendall's tau-b, x161 chrF++, x162 Heaps-law
  * vocabulary growth, x163 exact Wasserstein-1 drift, x164 Mann-Whitney
  * rank-biserial, x165 total-variation distance, x167 Min-K% prob
  * membership inference, and x168 embedding centroid drift (each
  * documented at its catalog entry).
  *
  * x160 is the TIES-aware rank
  * correlation over the raw (untied-rank-free) signal pair, the field
  * reality x159's tau-a deliberately sidesteps by ranking into a
  * permutation. Raw corpus signals (char length, distinct-token ratio)
  * are heavily tied, and tau-a over tie-broken ranks treats tied pairs
  * as concordant-by-doc_id noise; tau-b corrects both the numerator
  * and the denominator:
  *
  *   tau_b = (C − D) / sqrt((n0 − T1)(n0 − T2)),   n0 = n(n−1)/2,
  *   T1/T2 = Σ C(c,2) over s1-/s2-value multiplicities,
  *   T3    = Σ C(c,2) over (s1, s2)-pair multiplicities,
  *   C − D = n0 − T1 − T2 + T3 − 2·D   (Knight 1966),
  *
  * where D (discordant pairs) is the x159 bit-level inversion count run
  * over px = row_number(s1, s2, doc_id) and y0 = DENSE rank of s2:
  * sorting the x-ties by s2 makes them inversion-free, dense ranks make
  * y-ties contribute zero at every bit level, so the counted inversions
  * are EXACTLY the strictly-discordant pairs — still no pair join
  * (validated 30/30 against an O(n²) brute force in DuckDB before
  * landing; Ext49Spec replays it in Scala).
  *
  * Exactness across the BIGINT boundary: (n0−T1)(n0−T2) overflows
  * BIGINT past n ≈ 78k rows, so the engine computes the FIVE scalars
  * (n, T1, T2, T3, D) distributed — three partial-aggregable tie
  * groupBys, one count, one inversion kernel, all corpus-scale-safe —
  * and finishes in driver BigInt with an exact Newton integer sqrt
  * (O(1) driver state; the x151 driver-rounds precedent). The oracle
  * finishes in HUGEINT with a 3-step Newton isqrt seeded from the
  * float sqrt (seed error scales with the result's ulp, so quadratic
  * convergence closes it in one step at every magnitude; ±1 correction
  * pinned by Ext49Spec at 2^100 scale). tau_b_ppm is spelled
  * sign(C−D)·(|C−D|·1e6 div r) in BOTH engines — integer division of
  * negatives must not depend on the engine's truncation convention.
  * Output COLUMNS are exact while the distributed Spark-side sums
  * stay in BIGINT: n0 = n(n−1)/2 fits to n ≈ 4.29·10⁹, and tieTerm's
  * per-group c·(c−1) fits while the heaviest tied value has
  * ≤ ~3.03·10⁹ rows — so the safe documented bound is ~3·10⁹ rows
  * (review finding, round 9: an earlier comment claimed ~6·10⁹),
  * require-guarded since round 10 ([[requireTauBExact]]). The
  * driver math itself is BigInt and never overflows.
  */
object Ext49 {

  /** x160's distributed-BIGINT exactness bound, now a LOUD guard
    * instead of a doc comment (VERDICT r9 #3; the x145/x148/x154
    * surfaced-truncation discipline). floor(sqrt(Long.MaxValue)) =
    * 3 037 000 499: a tie group of c rows computes c·(c−1) in BIGINT
    * before the div, and c is bounded by n — so requiring n at or
    * under this bound guarantees EVERY per-group product fits, and
    * the tie-term SUM (≤ n(n−1)/2 ≈ 4.6e18 at the bound) fits too.
    * Past it, Spark's non-ANSI sum would wrap silently. */
  private[graft] val MaxTauBRows = 3037000499L

  /** Loud-path guard, factored out so the spec can drive the reject
    * branch directly (a >3e9-row corpus is not constructible in a
    * unit test; the guard itself is the testable unit). */
  private[graft] def requireTauBExact(n: Long): Unit =
    require(n <= MaxTauBRows,
      s"x160_kendall_tau_b: $n rows exceeds the BIGINT-exact bound " +
        s"$MaxTauBRows — a tie group's c*(c-1) (and the tie-term sum) " +
        "can overflow 64-bit partial aggregation; shard the signal " +
        "domain or lift the tie terms to per-group BigInt before " +
        "trusting the output")

  /** Exact floor(sqrt(x)) for BigInt — the classic monotone Newton
    * descent (b = (a + x/a)/2 strictly decreases until it crosses the
    * root; the last a above the crossing is the floor). */
  /** The DuckDB spelling of [[isqrt]]: float-seeded Newton descent in
    * HUGEINT with exact ±1 correction steps (seed error scales with the
    * result's ulp, so 4 quadratic iterations + the two correction CTEs
    * land the exact floor; the 2^100 boundary is spec-pinned). One
    * generator for every oracle that needs an integer sqrt (x160 tau-b,
    * x180 Cohen's d, x182 Fowlkes–Mallows — the no-drift rule): renders
    * CTEs `s0_` … `rt3_` reading non-negative HUGEINT `$xCol` from
    * `$src` and ending in `rt3_` with the floor root as column `r`
    * (all of `$src`'s columns carried through). */
  private[graft] def newtonIsqrtCtes(src: String, xCol: String): String =
    s"""s0_ AS (SELECT *, greatest(
       |    CAST(ceil(sqrt(CAST($xCol AS DOUBLE))) AS HUGEINT) + 2, 1)
       |    AS x0 FROM $src),
       |s1_ AS (SELECT *, greatest((x0 + $xCol // greatest(x0, 1)) // 2, 1)
       |    AS x1 FROM s0_),
       |s2_ AS (SELECT *, greatest((x1 + $xCol // greatest(x1, 1)) // 2, 1)
       |    AS x2 FROM s1_),
       |s3_ AS (SELECT *, greatest((x2 + $xCol // greatest(x2, 1)) // 2, 1)
       |    AS x3 FROM s2_),
       |s4_ AS (SELECT *, greatest((x3 + $xCol // greatest(x3, 1)) // 2, 1)
       |    AS x4 FROM s3_),
       |rt_ AS (SELECT *, least(x3, x4) AS r0 FROM s4_),
       |rt2_ AS (SELECT *,
       |    CASE WHEN r0 > 0 AND r0 * r0 > $xCol THEN r0 - 1 ELSE r0 END
       |      AS r1 FROM rt_),
       |rt3_ AS (SELECT *, CASE WHEN $xCol = 0 THEN 0
       |    WHEN (r1 + 1) * (r1 + 1) <= $xCol THEN r1 + 1 ELSE r1 END AS r
       |  FROM rt2_)""".stripMargin

  private[graft] def isqrt(x: BigInt): BigInt = {
    require(x >= 0, s"isqrt of negative: $x")
    if (x < 2) x
    else {
      var a = x
      var b = (x + 1) / 2
      while (b < a) { a = b; b = (a + x / a) / 2 }
      a
    }
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    queries1 ++ queries2 ++ queries3

  private val queries1: Map[String, (SparkSession, String) => DataFrame] = Map(

    // X160 KENDALL'S TAU-B (see object doc). Plan: count + three
    // value-keyed groupBys (map-side combinable — tie multiplicities
    // are exactly what partial aggregation absorbs) + the x159
    // inversion kernel over (px, dense y0); dense y ranks come from
    // GlobalSeq over the DISTINCT s2 values joined back (|distinct| ≤
    // n frame, and the join key is the value itself). The adaptive
    // level count uses the DISTINCT count, not n — tied corpora need
    // fewer bit levels than their row count suggests. The narrow
    // signals frame is PERSISTED across the seven scalar jobs — the
    // same-projection multi-consumer case the persist checklist
    // green-lights (x150 precedent): 1.36 vs 1.99 s min-of-5 same-boot
    // (BENCH_AB_r09_x160.json). 24 B/row, MEMORY_AND_DISK, released by
    // GraftCaches — the right 100 TB call for a 7-consumer frame.
    "x160_kendall_tau_b" -> ((s, d) => kendallTauB(s, d)),
  )

  /** x160 body (the signals persist WON same-boot over the rescan form:
    * 1.36 vs 1.99 s min-of-5, BENCH_AB_r09_x160.json — all seven
    * consumers share the SAME narrow projection, the x150 green-light
    * case). */
  private def kendallTauB(s: SparkSession, d: String): DataFrame = {
      import graft.GraftCaches.TrackedPersist
      val sc = Ext48.signals(s, d).persistTracked()
      val n = sc.count()
      requireTauBExact(n)
      def tieTerm(cols: Seq[String]): Long =
        sc.groupBy(cols.map(col): _*).agg(count(lit(1)).as("c"))
          .agg(coalesce(sum(expr("c * (c - 1L) div 2L")), lit(0L)))
          .first().getLong(0)
      val t1 = tieTerm(Seq("s1"))
      val t2 = tieTerm(Seq("s2"))
      val t3 = tieTerm(Seq("s1", "s2"))
      val dInv =
        if (n < 2) 0L
        else {
          val distinctS2 = sc.select(col("s2")).distinct()
          val nDist = distinctS2.count()
          val yr = GlobalSeq.withSeq(distinctS2, Seq(col("s2")), "y0")
          val px = GlobalSeq.withSeq(
            sc, Seq(col("s1"), col("s2"), col("doc_id")), "px")
          val ranked = px.join(yr, Seq("s2"))
            .select(col("px"), col("y0")) // px is order-only in the kernel
          Ext48.tauKernel(s, ranked, Ext48.tauLevelsFor(nDist))
            .select(coalesce(col("n_inversions"), lit(0L)))
            .first().getLong(0)
        }
      val n0 = BigInt(n) * (BigInt(n) - 1) / 2
      val cmd = n0 - t1 - t2 + t3 - 2 * BigInt(dInv)
      val r = isqrt((n0 - t1) * (n0 - t2))
      val rr = r.max(1)
      val tau = if (cmd < 0) -((-cmd) * 1000000 / rr)
                else cmd * 1000000 / rr
      import s.implicits._
      Seq((n, t1, t2, t3, dInv, cmd.toLong, r.toLong, tau.toLong))
        .toDF("n", "t1", "t2", "t3", "n_discordant", "c_minus_d",
          "denom_isqrt", "tau_b_ppm")
  }

  /** x161 chrF++ body. `nativeGrams = false` is the interpreted HOF
    * pyramid, the reference Ext49ChrfSpec compares against. nativeGrams (ADOPTED
    * round 10, BENCH_AB_r10_chrgram.json's 6.3× x155 win applied to the
    * same pyramid here) swaps the interpreted named_struct HOF for ONE
    * codegen'd GraftCharGrams pass plus the (cheap, ~3 items/doc·order)
    * word-gram HOF. Flat string keys stay injective across kinds: char
    * grams come from space-stripped text so they NEVER contain ' ', and
    * word grams are prefixed with ' ' — order = length for char grams,
    * 5 + split-arity for word grams. The (n, g) group keys differ from
    * the struct form only by that bijective re-spelling on BOTH the
    * cand and ref legs, so every count, clip and output row is
    * identical (Ext49Spec pins equality). */
  private[graft] def chrFpp(s: SparkSession, d: String,
      nativeGrams: Boolean): DataFrame = {
      val docs = documents(s, d).select(
        col("doc_id"), col("source"),
        expr("replace(text, ' ', '')").as("t"),
        expr("split(text, ' ')").as("wv"))
      val cand = docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id").as("pair_id"), col("source"),
          col("t").as("ct"), col("wv").as("cwv"))
      val ref = docs.filter(col("doc_id") % 2 === 0)
        .select((col("doc_id") + 1L).as("pair_id"),
          col("t").as("rt"), col("wv").as("rwv"))
      val pairs = cand.join(ref, Seq("pair_id"))
      // x152's sequence gotcha: generate over a floor of 1, slice back
      def grams(tc: String, wv: String): Column = explode(expr(
        s"""concat(
           |  flatten(transform(sequence(1, 6), n ->
           |    slice(
           |      transform(sequence(1, greatest(length($tc) - n + 1, 1)),
           |        i -> named_struct('n', n, 'g', substring($tc, i, n))),
           |      1, greatest(length($tc) - n + 1, 0)))),
           |  flatten(transform(sequence(1, 2), k ->
           |    slice(
           |      transform(sequence(1, greatest(size($wv) - k + 1, 1)),
           |        i -> named_struct('n', k + 6,
           |          'g', array_join(slice($wv, i, k), ' '))),
           |      1, greatest(size($wv) - k + 1, 0)))))""".stripMargin))
      def wordGramsPrefixed(wv: String): Column = expr(
        s"""flatten(transform(sequence(1, 2), k ->
           |  slice(
           |    transform(sequence(1, greatest(size($wv) - k + 1, 1)),
           |      i -> concat(' ', array_join(slice($wv, i, k), ' '))),
           |    1, greatest(size($wv) - k + 1, 0))))""".stripMargin)
      def counted(tc: String, wv: String, cname: String): DataFrame = {
        val keyed =
          if (nativeGrams)
            pairs.select(col("pair_id"), col("source"),
                explode(concat(graft.ext.TextOps.charGrams(col(tc), 6),
                  wordGramsPrefixed(wv))).as("g"))
              .select(col("pair_id"), col("source"),
                expr("""CASE WHEN substring(g, 1, 1) = ' '
                        THEN 5L + CAST(size(split(g, ' ')) AS BIGINT)
                        ELSE CAST(length(g) AS BIGINT) END""").as("n"),
                col("g"))
          else
            pairs.select(col("pair_id"), col("source"),
                grams(tc, wv).as("x"))
              .select(col("pair_id"), col("source"),
                col("x.n").cast("long").as("n"), col("x.g").as("g"))
        keyed.groupBy(col("pair_id"), col("source"), col("n"), col("g"))
          .agg(count(lit(1)).as(cname))
      }
      val cc = counted("ct", "cwv", "c_c")
      val rc = counted("rt", "rwv", "c_r")
      val cl = cc.join(rc.drop("source"), Seq("pair_id", "n", "g"))
        .groupBy(col("source"), col("n"))
        .agg(sum(least(col("c_c"), col("c_r"))).as("clipped"))
      val tc2 = cc.groupBy(col("source"), col("n"))
        .agg(sum(col("c_c")).as("total_cand"))
      val tr = rc.groupBy(col("source"), col("n"))
        .agg(sum(col("c_r")).as("total_ref"))
      tc2.join(cl, Seq("source", "n"), "left")
        .join(tr, Seq("source", "n"), "left")
        .select(col("source"), col("n"),
          expr("coalesce(clipped, 0L) * 1000000L" +
            " div greatest(total_cand, 1L)").as("p_ppm"),
          expr("coalesce(clipped, 0L) * 1000000L" +
            " div greatest(coalesce(total_ref, 0L), 1L)").as("r_ppm"))
        .withColumn("f2",
          expr("5L * p_ppm * r_ppm div greatest(4L * p_ppm + r_ppm, 1L)"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_orders_present"),
          sum(when(col("n") <= 6L, col("f2")).otherwise(0L))
            .as("f2_char_sum"),
          sum(when(col("n") > 6L, col("f2")).otherwise(0L))
            .as("f2_word_sum"))
        .select(col("source"), col("n_orders_present"),
          col("f2_char_sum"), col("f2_word_sum"),
          expr("(f2_char_sum + f2_word_sum) div 8L").as("chrf_pp_ppm"))
        .orderBy(col("source"))
  }

  private val queries2: Map[String, (SparkSession, String) => DataFrame] = Map(

    // X161 chrF++ (Popović 2017): x155's character 1..6-gram F2 plus
    // WORD 1..2-gram F2, rolled into the single headline score — the
    // form MT evals actually report. Word n-grams are keyed as orders
    // 7..8 so ONE (pair, order, gram) clip pipeline serves both kinds
    // (x155's join-clip shape — the single-pass union variant was
    // measured 2× slower, BENCH_AB_r08_x155; per-gram multiplicity ~1).
    // Per-(source, order) F2 is micro-averaged (the x155 family
    // convention; sacreBLEU's per-segment macro differs — documented),
    // and chrf_pp_ppm = Σ F2 div 8 with ABSENT orders counting 0 (the
    // fixed-8 divisor convention; surfaced via n_orders_present).
    "x161_chrf_pp" -> ((s, d) => chrFpp(s, d, nativeGrams = true)),

    // X162 HEAPS-LAW VOCABULARY GROWTH: exact prefix-distinct
    // vocabulary at 10 doc-rank checkpoints — the corpus-curation
    // diagnostic behind "is more data still adding new tokens?"
    // (Heaps/Herdan: V(n) ~ K·n^β; this emits the exact CURVE, no
    // float fit). Checkpoint c holds the first (c·n) div 10 docs in
    // doc_id order; a token's contribution is its FIRST-SEEN rank, so
    // cum vocab at c = |{tokens : first_rank ≤ t_c}|. Scale shape: one
    // corpus explode + one token-keyed groupBy(min) — first-seen is
    // partial-aggregable min, the same absorb-the-heavy-keys property
    // as x148's probes — then ≤10-row histograms and a 10-row cumsum
    // window. Bucket membership is pure integer arithmetic
    // (c = (10·fr + n − 1) div n ⇔ smallest c with (c·n) div 10 ≥ fr);
    // token counts come from size(w) without touching the exploded
    // stream. Tokens are split(text, ' ') as-is ('' = one empty
    // token — the family convention, oracle identical).
    "x162_heaps_vocab" -> ((s, d) => {
      val docs = documents(s, d)
        .select(col("doc_id"), expr("split(text, ' ')").as("w"))
      val ranked = GlobalSeq.withSeq(
          docs.select(col("doc_id")), Seq(col("doc_id")), "r0")
        .select(col("doc_id"), (col("r0") + 1L).as("r"))
      val nFrame = docs.agg(count(lit(1)).cast("long").as("n"))
      val dr = docs.join(ranked, Seq("doc_id"))
      val firstR = dr.select(col("r"), explode(col("w")).as("tok"))
        .groupBy(col("tok")).agg(min(col("r")).as("fr"))
      val vocabB = firstR.crossJoin(broadcast(nFrame))
        .select(expr("(10L * fr + n - 1L) div n").as("c"))
        .groupBy(col("c")).agg(count(lit(1)).as("v"))
      val tokB = dr.select(col("r"), size(col("w")).cast("long").as("tc"))
        .crossJoin(broadcast(nFrame))
        .select(expr("(10L * r + n - 1L) div n").as("c"), col("tc"))
        .groupBy(col("c"))
        .agg(sum(col("tc")).as("t"), count(lit(1)).as("ndocs"))
      val cps = s.range(1, 11).select(col("id").as("c"))
      val w10 = Window.orderBy(col("c"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cps.join(vocabB, Seq("c"), "left").join(tokB, Seq("c"), "left")
        .select(col("c").as("checkpoint"),
          sum(coalesce(col("ndocs"), lit(0L))).over(w10).as("n_docs_cum"),
          sum(coalesce(col("t"), lit(0L))).over(w10).as("tokens_cum"),
          sum(coalesce(col("v"), lit(0L))).over(w10).as("vocab_cum"))
        .orderBy(col("checkpoint"))
    }),

    // X163 EXACT 1-D WASSERSTEIN-1 DRIFT between the even/odd doc
    // token-count distributions — the "how far did the length
    // distribution move" complement to x120's KS sup-gap (KS sees the
    // worst point; W1 integrates the whole CDF gap, the quantity
    // mixture rebalancing actually minimizes). On an integer grid W1
    // is EXACT: Σ over consecutive distinct values of
    // |F_A·n_b − F_B·n_a|·gap, closed in BIGINT (headroom: Σ ≤
    // n_a·n_b·range; ×1e6 stays in BIGINT while n_a·n_b·range < 9e12 —
    // ~2M docs at this signal's ~2k range; past that shift the fixed
    // point, the x151 rule). w1_ppm is W1 in SIGNAL UNITS (tokens),
    // ppm precision. Scale shape: one scan → value-keyed histogram
    // with conditional sums → cumsum + lead over the VALUE-BOUNDED
    // distinct-values frame (the x157/x126 single-window precedent —
    // bounded by the value domain, never corpus rows) → one global agg.
    // Round 15: histogram persist dropped (BENCH_AB_r15_r11persists.json,
    // 0.33 vs 0.57 s min same-boot) — the histogram is exchange-topped,
    // so AQE stage reuse already dedupes its consumers; the r9 "re-scans
    // the corpus" rationale predated that insight. x164/x165 share the
    // same persist-free splitHistogram.
    "x163_wasserstein_drift" -> ((s, d) => wasserstein(s, d)),

    // X164 MANN-WHITNEY U / RANK-BISERIAL between the even/odd
    // token-count distributions — the nonparametric "did the signal
    // shift, and by how much" two-sample test (x163 measures distance
    // in signal units; this measures stochastic dominance). Tie-aware
    // via the midrank convention, kept EXACT by doubling:
    //   2·U1 = Σ_v a_v · (2·cumB_less(v) + b_v)
    // (each A>B pair counts 2, each tie counts 1), from the SAME
    // value-bounded histogram shape as x163 — no per-row ranking, no
    // pair join. rank_biserial_ppm = 2U1·1e6 div (n_a·n_b) − 1e6 ∈
    // [−1e6, 1e6] (0 = no dominance). The normal-approximation p-value
    // is deliberately NOT emitted — it needs a float sqrt; the exact
    // effect size is the useful corpus statistic. Headroom: 2U1·1e6 ≤
    // n²/2·1e6 — the x151 fixed-point boundary past ~4M docs.
    "x164_mann_whitney" -> ((s, d) => {
      val (h, nf) = splitHistogram(s, d)
      val wLess = Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val cum = h.select(col("ca"), col("cb"),
        coalesce(sum(col("cb")).over(wLess), lit(0L)).as("cumb_less"))
      val ag = cum.agg(coalesce(sum(
        col("ca") * (lit(2L) * col("cumb_less") + col("cb"))), lit(0L))
        .as("u2"))
      ag.crossJoin(nf)
        .select(col("n_a"), col("n_b"), col("u2"),
          expr("""CASE WHEN n_a = 0 OR n_b = 0 THEN 0L
                 | ELSE u2 * 1000000L div (n_a * n_b) - 1000000L
                 | END""".stripMargin).as("rank_biserial_ppm"))
    }),

    // X165 TOTAL-VARIATION DISTANCE between the even/odd token-count
    // distributions — completes the drift family (x120 KS = worst CDF
    // point, x163 W1 = integrated CDF gap in signal units, x164 MWU =
    // stochastic dominance, this = largest probability mass any event
    // can disagree by — the rejection-sampling / distribution-shift
    // bound). Exact: TV = Σ_v |ca·n_b − cb·n_a| / (2·n_a·n_b); the
    // simplest member — ONE value-keyed histogram, one global agg, NO
    // window at all. Headroom: Σ ≤ 2·n_a·n_b; ×1e6 — the x151
    // fixed-point boundary past ~2M docs.
    // X167 MIN-K% PROB membership-inference score (Shi et al. 2024,
    // counts-only analogue): per document, the mean of its BOTTOM 20%
    // bigram transition scores under the corpus bigram LM (x85's exact
    // ppm machinery — c2·1e6 div c1). The detection logic: a document
    // DUPLICATED into (or memorized by) the corpus drags its whole
    // transition distribution up — even its LEAST likely transitions
    // are corpus-typical — while natural text keeps a low-probability
    // tail. High mink_ppm ⇒ likely duplicated/contaminated; the
    // flag_memorized threshold (bottom-quintile mean ≥ 5% = 50000 ppm)
    // is a DOCUMENTED convention — mink_ppm is the statistic. k =
    // ceil(n/5) in exact integers ((n+4) div 5, the x157 ceil rule).
    // Scale shape: x85's plan verbatim (persisted bigram frame, two
    // partial-aggregable count shuffles, score equi-join) plus a
    // per-doc sort_array over the doc's OWN bigram scores —
    // doc-length-bounded arrays, the x61 per-group precedent. Docs
    // with < 2 tokens have no transitions and emit NO row (both
    // engines).
    "x167_min_k_prob" -> ((s, d) =>
      // Round 15: c2 persist dropped — the x85/x116 measured twin (both
      // consumers share the (l, r) groupBy exchange; AQE stage reuse
      // dedupes persist-free). A/B in BENCH_AB_r15_c2persists.json.
      minKProb(s, d)),
  )

  /** x167 body (see the catalog entry). */
  private def minKProb(s: SparkSession, d: String): DataFrame = {
      import graft.GraftCaches.TrackedPersist
      val bg = documents(s, d)
        .select(col("doc_id"), graft.ext.TextOps.words(col("text")).as("w"))
        .filter(size(col("w")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(slice(w, 1, size(w) - 1)," +
            " (x, i) -> struct(x AS l, w[i+1] AS r))")).as("p"))
        .select(col("doc_id"), col("p.l").as("l"), col("p.r").as("r"))
        .persistTracked()
      val c2 = bg.groupBy(col("l"), col("r")).agg(count(lit(1)).as("c2"))
      val c1 = c2.groupBy(col("l")).agg(sum(col("c2")).as("c1"))
      val score = c2.join(c1, Seq("l"))
        .select(col("l"), col("r"), expr("c2 * 1000000 div c1").as("ppm"))
      bg.join(score, Seq("l", "r"))
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_list(col("ppm"))).as("scl"),
          count(lit(1)).as("n_bigrams"))
        .select(col("doc_id"), col("n_bigrams"),
          expr("(n_bigrams + 4L) div 5L").as("k"),
          expr("""aggregate(
                 |  slice(scl, 1, CAST((n_bigrams + 4L) div 5L AS INT)),
                 |  0L, (ma, mx) -> ma + mx)""".stripMargin).as("mink_sum"))
        .select(col("doc_id"), col("n_bigrams"), col("k"),
          expr("mink_sum div greatest(k, 1L)").as("mink_ppm"),
          expr("(mink_sum div greatest(k, 1L)) >= 50000L")
            .as("flag_memorized"))
        .orderBy(col("doc_id"))
  }

  private def queries3: Map[String, (SparkSession, String) => DataFrame] = Map(

    // X168 EMBEDDING CENTROID DRIFT between the even/odd vec_id splits
    // — the representation-space sibling of the x163/x164/x165 signal
    // drift family ("did the embedding distribution move"). Floats
    // never cross the engine/oracle boundary: vectors enter the SHARED
    // Ext43 integer quantization (floor((x+1)·1000) ∈ [0, 2000] — the
    // beam-ANN/x137 space), per-dim sums are exact BIGINT (ONE
    // 64·2-group shuffle regardless of corpus size), centroids are
    // floored means, and the centroid cosine closes over the exact
    // isqrt (driver BigInt here, HUGEINT Newton in the oracle — the
    // x160 pattern; 64-dim centroid math is O(1) driver state).
    // Output: exact l2_sq / dot / norms plus cos_ppm.
    "x168_centroid_drift" -> ((s, d) => {
      val qv = Ext43.quantized(s, d)
        .select(col("vec_id"), (col("vec_id") % 2).as("par"), col("q"))
      val nn = qv.agg(
        coalesce(sum(when(col("par") === 0, 1L).otherwise(0L)), lit(0L))
          .as("n_a"),
        coalesce(sum(when(col("par") === 1, 1L).otherwise(0L)), lit(0L))
          .as("n_b")).first()
      val na = nn.getLong(0); val nb = nn.getLong(1)
      val ds = qv
        .select(col("par"), posexplode(col("q")).as(Seq("dm", "x")))
        .groupBy(col("dm")).agg(
          coalesce(sum(when(col("par") === 0, col("x"))), lit(0L)).as("sa"),
          coalesce(sum(when(col("par") === 1, col("x"))), lit(0L)).as("sb"))
        .collect().sortBy(_.getInt(0)) // 64 rows — dim-bounded
      // q >= 0 so Long division IS the floor — matches the oracle's //
      val ma = ds.map(r => r.getLong(1) / math.max(na, 1L))
      val mb = ds.map(r => r.getLong(2) / math.max(nb, 1L))
      val l2 = ma.zip(mb).map { case (a, b) => (a - b) * (a - b) }.sum
      val dot = ma.zip(mb).map { case (a, b) => a * b }.sum
      val nasq = ma.map(a => a * a).sum
      val nbsq = mb.map(b => b * b).sum
      val r = isqrt(BigInt(nasq) * BigInt(nbsq))
      val cos = (BigInt(dot) * 1000000 / r.max(1)).toLong
      import s.implicits._
      Seq((na, nb, l2, dot, nasq, nbsq, cos))
        .toDF("n_a", "n_b", "l2_sq", "dot", "norm_a_sq", "norm_b_sq",
          "cos_ppm")
    }),

    "x165_total_variation" -> ((s, d) => {
      val (h, nf) = splitHistogram(s, d)
      val ag = h.crossJoin(broadcast(nf))
        .agg(coalesce(sum(abs(col("ca") * col("n_b")
          - col("cb") * col("n_a"))), lit(0L)).as("l1"))
      ag.crossJoin(nf)
        .select(col("n_a"), col("n_b"), col("l1").as("l1_scaled"),
          expr("""CASE WHEN n_a = 0 OR n_b = 0 THEN 0L
                 | ELSE l1 * 1000000L div (2L * n_a * n_b) END"""
            .stripMargin).as("tv_ppm"))
    }),
  )

  /** Shared by the drift family x163/x164/x165: the value-keyed
    * even/odd split histogram of the token-count signal, and the 1-row
    * (n_a, n_b) frame DERIVED from it (n_a = Σca, n_b = Σcb; the
    * x121/x120 precedent). One helper, not three copies — the f2ae8a2
    * shared-kernel rule.
    *
    * Round 15: the persist was dropped — the histogram's top is its own
    * groupBy exchange, so AQE stage reuse dedupes every consumer's heavy
    * work (corpus scan + partial agg + shuffle) and only the final
    * aggregation re-runs per consumer; the round-9 "persist or the
    * corpus re-scans per consumer" rationale predated that insight and
    * the A/B reverses it (0.33 vs 0.57 s min on x163,
    * BENCH_AB_r15_r11persists.json). */
  private def splitHistogram(s: SparkSession,
      d: String): (DataFrame, DataFrame) = {
    val h = documents(s, d)
      .select(col("doc_id"),
        size(expr("split(text, ' ')")).cast("long").as("v"))
      .groupBy(col("v")).agg(
        sum(when(col("doc_id") % 2 === 0, 1L).otherwise(0L)).as("ca"),
        sum(when(col("doc_id") % 2 === 1, 1L).otherwise(0L)).as("cb"))
    val nf = h.agg(
      coalesce(sum(col("ca")), lit(0L)).as("n_a"),
      coalesce(sum(col("cb")), lit(0L)).as("n_b"))
    (h, nf)
  }

  /** x163 body. */
  private def wasserstein(s: SparkSession, d: String): DataFrame = {
    val (h, nf) = splitHistogram(s, d)
    val wcum = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = h.select(col("v"),
      sum(col("ca")).over(wcum).as("cuma"),
      sum(col("cb")).over(wcum).as("cumb"),
      lead(col("v"), 1).over(Window.orderBy(col("v"))).as("nxt"))
    val ag = cum.filter(col("nxt").isNotNull)
      .crossJoin(broadcast(nf))
      .agg(coalesce(sum(
        abs(col("cuma") * col("n_b") - col("cumb") * col("n_a"))
          * (col("nxt") - col("v"))), lit(0L)).as("w1s"))
    ag.crossJoin(nf)
      .select(col("n_a"), col("n_b"), col("w1s").as("w1_scaled"),
        expr("""CASE WHEN n_a = 0 OR n_b = 0 THEN 0L
               | ELSE w1s * 1000000L div (n_a * n_b) END""".stripMargin)
          .as("w1_ppm"))
  }

  // (The oracle's level count is no longer a fixed constant: both the
  // x159 and x160 oracles derive it from the data via
  // Ext48.tauLevelsSqlFrom — the same bits(cnt−1) the engine computes
  // in tauLevelsFor. Round-10 symmetry fix, VERDICT r9 #2.)

  /** Shared oracle CTE prefix for the drift family — mirrors
    * [[splitHistogram]] (histogram + counts DERIVED from it), one
    * spelling so the three oracles cannot drift. */
  private val splitHistSql: String =
    """sc AS (SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS v
      |  FROM documents),
      |h AS (SELECT v,
      |    CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS ca,
      |    CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS cb
      |  FROM sc GROUP BY v),
      |nf AS (SELECT CAST(coalesce(sum(ca), 0) AS BIGINT) AS n_a,
      |    CAST(coalesce(sum(cb), 0) AS BIGINT) AS n_b FROM h)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "x160_kendall_tau_b" ->
      s"""WITH sc AS (SELECT doc_id,
         |    CAST(length(text) AS BIGINT) AS s1,
         |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
         |      * 1000000
         |      // greatest(len(string_split(text, ' ')), 1) AS s2
         |  FROM documents),
         |agg AS (SELECT CAST(count(*) AS BIGINT) AS n FROM sc),
         |t1 AS (SELECT CAST(coalesce(sum(c*(c-1)//2), 0) AS BIGINT) AS t1
         |  FROM (SELECT count(*) AS c FROM sc GROUP BY s1)),
         |t2 AS (SELECT CAST(coalesce(sum(c*(c-1)//2), 0) AS BIGINT) AS t2
         |  FROM (SELECT count(*) AS c FROM sc GROUP BY s2)),
         |t3 AS (SELECT CAST(coalesce(sum(c*(c-1)//2), 0) AS BIGINT) AS t3
         |  FROM (SELECT count(*) AS c FROM sc GROUP BY s1, s2)),
         |rk AS (SELECT doc_id,
         |    CAST(row_number() OVER (ORDER BY s1, s2, doc_id) AS BIGINT)
         |      AS px,
         |    CAST(dense_rank() OVER (ORDER BY s2) - 1 AS BIGINT) AS y0
         |  FROM sc),
         |lv AS (SELECT px, l, y0 >> CAST(l + 1 AS INT) AS grp,
         |    (y0 >> CAST(l AS INT)) & 1 AS bit
         |  FROM rk, ${Ext48.tauLevelsSqlFrom("count(DISTINCT s2)")} ls),
         |cum AS (SELECT l, bit,
         |    sum(bit) OVER (PARTITION BY l, grp ORDER BY px
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - bit
         |      AS ones_before
         |  FROM lv),
         |dd AS (SELECT CAST(coalesce(
         |    sum(CASE WHEN bit = 0 THEN ones_before ELSE 0 END), 0)
         |    AS BIGINT) AS d FROM cum),
         |b2 AS (SELECT n, t1, t2, t3, d,
         |    (CAST(n AS HUGEINT) * CAST(n - 1 AS HUGEINT)) // 2 AS n0
         |  FROM agg, t1, t2, t3, dd),
         |ab AS (SELECT *, (n0 - t1 - t2 + t3 - 2*d) AS cmd,
         |    (n0 - t1) * (n0 - t2) AS prod FROM b2),
         |${newtonIsqrtCtes("ab", "prod")}
         |SELECT n, t1, t2, t3, d AS n_discordant,
         |  CAST(cmd AS BIGINT) AS c_minus_d,
         |  CAST(r AS BIGINT) AS denom_isqrt,
         |  CAST(CASE WHEN cmd < 0
         |       THEN -((-cmd) * 1000000 // greatest(r, 1))
         |       ELSE cmd * 1000000 // greatest(r, 1) END AS BIGINT)
         |    AS tau_b_ppm
         |FROM rt3_""".stripMargin,

    "x161_chrf_pp" ->
      """WITH d AS (SELECT doc_id, source, replace(text, ' ', '') AS t,
        |    string_split(text, ' ') AS wv FROM documents),
        |pr AS (SELECT c.doc_id AS pair_id, c.source, c.t AS ct,
        |    c.wv AS cwv, r.t AS rt, r.wv AS rwv
        |  FROM (SELECT * FROM d WHERE doc_id % 2 = 1) c
        |  JOIN (SELECT doc_id + 1 AS pid, t, wv FROM d WHERE doc_id % 2 = 0) r
        |    ON c.doc_id = r.pid),
        |nn AS (SELECT unnest([1, 2, 3, 4, 5, 6]) AS n),
        |kk AS (SELECT unnest([1, 2]) AS k),
        |cgc AS (SELECT pair_id, source, n, substr(ct, CAST(i AS INT), n) AS g
        |  FROM (SELECT pair_id, source, n, ct,
        |      unnest(range(1, greatest(length(ct) - n + 2, 1))) AS i
        |    FROM pr, nn)),
        |cgw AS (SELECT pair_id, source, k + 6 AS n,
        |    array_to_string(cwv[CAST(i AS INT) : CAST(i + k - 1 AS INT)], ' ')
        |      AS g
        |  FROM (SELECT pair_id, source, k, cwv,
        |      unnest(range(1, greatest(len(cwv) - k + 2, 1))) AS i
        |    FROM pr, kk)),
        |cg AS (SELECT * FROM cgc UNION ALL SELECT * FROM cgw),
        |rgc AS (SELECT pair_id, source, n, substr(rt, CAST(i AS INT), n) AS g
        |  FROM (SELECT pair_id, source, n, rt,
        |      unnest(range(1, greatest(length(rt) - n + 2, 1))) AS i
        |    FROM pr, nn)),
        |rgw AS (SELECT pair_id, source, k + 6 AS n,
        |    array_to_string(rwv[CAST(i AS INT) : CAST(i + k - 1 AS INT)], ' ')
        |      AS g
        |  FROM (SELECT pair_id, source, k, rwv,
        |      unnest(range(1, greatest(len(rwv) - k + 2, 1))) AS i
        |    FROM pr, kk)),
        |rg AS (SELECT * FROM rgc UNION ALL SELECT * FROM rgw),
        |cc AS (SELECT pair_id, source, n, g, CAST(count(*) AS BIGINT) AS c_c
        |  FROM cg GROUP BY 1, 2, 3, 4),
        |rc AS (SELECT pair_id, source, n, g, CAST(count(*) AS BIGINT) AS c_r
        |  FROM rg GROUP BY 1, 2, 3, 4),
        |cl AS (SELECT cc.source, cc.n,
        |    CAST(sum(least(c_c, c_r)) AS BIGINT) AS clipped
        |  FROM cc JOIN rc ON cc.pair_id = rc.pair_id AND cc.n = rc.n
        |    AND cc.g = rc.g
        |  GROUP BY 1, 2),
        |tcx AS (SELECT source, n, CAST(sum(c_c) AS BIGINT) AS total_cand
        |  FROM cc GROUP BY 1, 2),
        |trx AS (SELECT source, n, CAST(sum(c_r) AS BIGINT) AS total_ref
        |  FROM rc GROUP BY 1, 2),
        |fin AS (SELECT tcx.source, tcx.n,
        |    CAST(coalesce(clipped, 0) * 1000000 // greatest(total_cand, 1)
        |      AS BIGINT) AS p_ppm,
        |    CAST(coalesce(clipped, 0) * 1000000
        |      // greatest(coalesce(total_ref, 0), 1) AS BIGINT) AS r_ppm
        |  FROM tcx LEFT JOIN cl ON tcx.source = cl.source AND tcx.n = cl.n
        |  LEFT JOIN trx ON tcx.source = trx.source AND tcx.n = trx.n),
        |f2t AS (SELECT source, n,
        |    CAST(5 * p_ppm * r_ppm // greatest(4 * p_ppm + r_ppm, 1)
        |      AS BIGINT) AS f2
        |  FROM fin)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_orders_present,
        |  CAST(sum(CASE WHEN n <= 6 THEN f2 ELSE 0 END) AS BIGINT)
        |    AS f2_char_sum,
        |  CAST(sum(CASE WHEN n > 6 THEN f2 ELSE 0 END) AS BIGINT)
        |    AS f2_word_sum,
        |  CAST((sum(f2)) // 8 AS BIGINT) AS chrf_pp_ppm
        |FROM f2t GROUP BY source ORDER BY source""".stripMargin,

    "x162_heaps_vocab" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
        |    FROM documents),
        |nf AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
        |rk AS (SELECT doc_id,
        |    CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS r, w
        |  FROM d),
        |tok AS (SELECT r, unnest(w) AS tok FROM rk),
        |fr AS (SELECT tok, min(r) AS fr FROM tok GROUP BY tok),
        |vb AS (SELECT (10*fr + n - 1) // n AS c,
        |    CAST(count(*) AS BIGINT) AS v
        |  FROM fr, nf GROUP BY 1),
        |tb AS (SELECT (10*r + n - 1) // n AS c,
        |    CAST(sum(len(w)) AS BIGINT) AS t,
        |    CAST(count(*) AS BIGINT) AS ndocs
        |  FROM rk, nf GROUP BY 1),
        |cp AS (SELECT unnest(range(1, 11)) AS c)
        |SELECT CAST(cp.c AS BIGINT) AS checkpoint,
        |  CAST(sum(coalesce(ndocs, 0)) OVER (ORDER BY cp.c
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS n_docs_cum,
        |  CAST(sum(coalesce(t, 0)) OVER (ORDER BY cp.c
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS tokens_cum,
        |  CAST(sum(coalesce(v, 0)) OVER (ORDER BY cp.c
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS vocab_cum
        |FROM cp LEFT JOIN vb ON cp.c = vb.c LEFT JOIN tb ON cp.c = tb.c
        |ORDER BY checkpoint""".stripMargin,

    "x163_wasserstein_drift" ->
      (s"WITH $splitHistSql,\n" +
      """cum AS (SELECT v,
        |    sum(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND
        |      CURRENT ROW) AS cuma,
        |    sum(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND
        |      CURRENT ROW) AS cumb,
        |    lead(v) OVER (ORDER BY v) AS nxt
        |  FROM h),
        |ag AS (SELECT CAST(coalesce(sum(
        |    abs(cuma * n_b - cumb * n_a) * (nxt - v)), 0) AS BIGINT) AS w1s
        |  FROM cum, nf WHERE nxt IS NOT NULL)
        |SELECT n_a, n_b, w1s AS w1_scaled,
        |  CAST(CASE WHEN n_a = 0 OR n_b = 0 THEN 0
        |       ELSE w1s * 1000000 // (n_a * n_b) END AS BIGINT) AS w1_ppm
        |FROM ag, nf""".stripMargin),

    "x164_mann_whitney" ->
      (s"WITH $splitHistSql,\n" +
      """cum AS (SELECT v, ca, cb,
        |    coalesce(sum(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND 1 PRECEDING), 0) AS cumb_less
        |  FROM h),
        |ag AS (SELECT CAST(coalesce(sum(ca * (2*cumb_less + cb)), 0)
        |    AS BIGINT) AS u2 FROM cum)
        |SELECT n_a, n_b, u2,
        |  CAST(CASE WHEN n_a = 0 OR n_b = 0 THEN 0
        |       ELSE u2 * 1000000 // (n_a * n_b) - 1000000 END AS BIGINT)
        |    AS rank_biserial_ppm
        |FROM ag, nf""".stripMargin),

    "x167_min_k_prob" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
        |    FROM documents),
        |bg AS (SELECT doc_id, w[i] AS l, w[i+1] AS r
        |  FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i
        |    FROM w WHERE len(w) >= 2)),
        |c2 AS (SELECT l, r, CAST(count(*) AS BIGINT) AS c2 FROM bg
        |  GROUP BY 1, 2),
        |c1 AS (SELECT l, CAST(count(*) AS BIGINT) AS c1 FROM bg GROUP BY 1),
        |sc AS (SELECT l, r, (c2 * 1000000) // c1 AS ppm
        |  FROM c2 JOIN c1 USING (l)),
        |per AS (SELECT doc_id, list_sort(list(ppm)) AS scl,
        |    CAST(count(*) AS BIGINT) AS n_bigrams
        |  FROM bg JOIN sc USING (l, r) GROUP BY doc_id),
        |fin AS (SELECT doc_id, n_bigrams, (n_bigrams + 4) // 5 AS k,
        |    CAST(coalesce(list_aggregate(
        |      scl[1 : CAST((n_bigrams + 4) // 5 AS INT)], 'sum'), 0)
        |      AS BIGINT) AS mink_sum
        |  FROM per)
        |SELECT doc_id, n_bigrams, k,
        |  CAST(mink_sum // greatest(k, 1) AS BIGINT) AS mink_ppm,
        |  (mink_sum // greatest(k, 1)) >= 50000 AS flag_memorized
        |FROM fin ORDER BY doc_id""".stripMargin,

    "x168_centroid_drift" ->
      """WITH qv AS (SELECT vec_id, vec_id % 2 AS par,
        |    list_transform(CAST(embedding AS DOUBLE[]), x ->
        |      CAST(floor((x + 1.0) * 1000.0) AS BIGINT)) AS q
        |  FROM embeddings),
        |nn AS (SELECT
        |    CAST(coalesce(sum(CASE WHEN par = 0 THEN 1 ELSE 0 END), 0)
        |      AS BIGINT) AS n_a,
        |    CAST(coalesce(sum(CASE WHEN par = 1 THEN 1 ELSE 0 END), 0)
        |      AS BIGINT) AS n_b
        |  FROM qv),
        |ds AS (SELECT dmi,
        |    CAST(coalesce(sum(CASE WHEN par = 0 THEN q[CAST(dmi AS INT)]
        |      END), 0) AS BIGINT) AS sa,
        |    CAST(coalesce(sum(CASE WHEN par = 1 THEN q[CAST(dmi AS INT)]
        |      END), 0) AS BIGINT) AS sb
        |  FROM (SELECT par, q, unnest(range(1, 65)) AS dmi FROM qv)
        |  GROUP BY dmi),
        |ct AS (SELECT dmi,
        |    sa // greatest((SELECT n_a FROM nn), 1) AS ma,
        |    sb // greatest((SELECT n_b FROM nn), 1) AS mb
        |  FROM ds),
        |ag AS (SELECT
        |    CAST(coalesce(sum((ma - mb) * (ma - mb)), 0) AS BIGINT)
        |      AS l2_sq,
        |    CAST(coalesce(sum(ma * mb), 0) AS BIGINT) AS dot,
        |    CAST(coalesce(sum(ma * ma), 0) AS BIGINT) AS norm_a_sq,
        |    CAST(coalesce(sum(mb * mb), 0) AS BIGINT) AS norm_b_sq
        |  FROM ct),
        |pr AS (SELECT *, CAST(norm_a_sq AS HUGEINT) * norm_b_sq AS prod
        |  FROM ag),
        |s0 AS (SELECT *, greatest(
        |    CAST(ceil(sqrt(CAST(prod AS DOUBLE))) AS HUGEINT) + 2, 1)
        |    AS x0 FROM pr),
        |s1_ AS (SELECT *, greatest((x0 + prod // greatest(x0, 1)) // 2, 1)
        |    AS x1 FROM s0),
        |s2_ AS (SELECT *, greatest((x1 + prod // greatest(x1, 1)) // 2, 1)
        |    AS x2 FROM s1_),
        |s3_ AS (SELECT *, greatest((x2 + prod // greatest(x2, 1)) // 2, 1)
        |    AS x3 FROM s2_),
        |s4_ AS (SELECT *, greatest((x3 + prod // greatest(x3, 1)) // 2, 1)
        |    AS x4 FROM s3_),
        |rt AS (SELECT *, least(x3, x4) AS r0 FROM s4_),
        |rt2 AS (SELECT *,
        |    CASE WHEN r0 > 0 AND r0 * r0 > prod THEN r0 - 1 ELSE r0 END
        |      AS r1 FROM rt),
        |rt3 AS (SELECT *,
        |    CASE WHEN prod = 0 THEN 0
        |         WHEN (r1 + 1) * (r1 + 1) <= prod THEN r1 + 1
        |         ELSE r1 END AS r FROM rt2)
        |SELECT (SELECT n_a FROM nn) AS n_a, (SELECT n_b FROM nn) AS n_b,
        |  l2_sq, dot, norm_a_sq, norm_b_sq,
        |  CAST(CAST(dot AS HUGEINT) * 1000000 // greatest(r, 1) AS BIGINT)
        |    AS cos_ppm
        |FROM rt3""".stripMargin,

    "x165_total_variation" ->
      (s"WITH $splitHistSql,\n" +
      """ag AS (SELECT CAST(coalesce(sum(abs(ca * n_b - cb * n_a)), 0)
        |    AS BIGINT) AS l1 FROM h, nf)
        |SELECT n_a, n_b, l1 AS l1_scaled,
        |  CAST(CASE WHEN n_a = 0 OR n_b = 0 THEN 0
        |       ELSE l1 * 1000000 // (2 * n_a * n_b) END AS BIGINT)
        |    AS tv_ppm
        |FROM ag, nf""".stripMargin),
  )
}
