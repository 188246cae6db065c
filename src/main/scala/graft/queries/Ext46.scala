package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.tables.Tables._
import graft.ext.{Similarity, TextOps}
import graft.GraftCaches.TrackedPersist

/** Round-7 batch, part 2: ranked-retrieval quality — NDCG@10 and MRR@10
  * of an approximate retrieval run against brute-force ground truth
  * (x150). x90 answers "how many of the true top-k did the index
  * return" (set recall); x150 answers the question every IR / RAG eval
  * actually reports: did the run put the RIGHT items at the TOP ranks,
  * with position-discounted credit. Completes the retrieval-eval family
  * (x70 label confusion, x90 recall, x113 RBO, x135 rank fusion).
  *
  * Float discipline: DCG's 1/log2(r+1) discounts are irrational, so the
  * statistic is spelled with a BAKED 10-entry integer table
  * floor(1e6/log2(r+1)) shared verbatim by both engines — gains, DCG,
  * IDCG and the ppm ratio are then exact BIGINT arithmetic end to end
  * (the family's no-floats-cross-engines rule). MRR uses lcm(1..10) =
  * 2520 fixed point: 2520/r is an integer for every rank r <= 10.
  */
object Ext46 {

  /** floor(1e6 / log2(r+1)) for run rank r = 1..10 — the NDCG discount
    * table, baked so no transcendental is evaluated by either engine. */
  private val discountW: Seq[Long] = Seq(
    1000000L, 630929L, 500000L, 430676L, 386852L,
    356207L, 333333L, 315464L, 301029L, 289064L)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // X150 NDCG@10 / MRR@10 RETRIEVAL EVAL: ground truth = exact
    // brute-force cosine top-10 per query (grade 10 for the true
    // nearest neighbor down to 1 for rank 10); run = the label-bucket
    // IVF arm (x90's shape). Per query: DCG = sum over run ranks of
    // grade * W[rank], IDCG = the same sum over the ideal (ground-
    // truth) ordering, ndcg_ppm = floor(1e6 * DCG / IDCG), and
    // rr_2520 = 2520 / (run rank of the true top-1), 0 if missed.
    // Scale shape: identical audit contract to x90 — the bounded query
    // sample broadcasts against the one persisted corpus frame, so
    // both arms cost sample x corpus, never corpus squared; everything
    // downstream of the two top-10 windows operates on <= 10|Q| rows.
    "x150_ndcg" -> ((s, d) => {
      val wArr = array(discountW.map(lit): _*)
      val e = embeddings(s, d)
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("v"))
        .withColumn("nv", Similarity.norm2(col("v")))
        .persistTracked()
      val q = e.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("q_id"), col("label").as("q_label"),
          col("v").as("qv"), col("nv").as("qnv"))
      val cos6 = Ext.trunc6(
        Similarity.dot(col("qv"), col("v")) / sqrt(col("qnv") * col("nv")))
      def top10(pairs: DataFrame): DataFrame = pairs
        .select(col("q_id"), col("vec_id").as("n_id"), cos6.as("cos6"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("q_id")).orderBy(col("cos6").desc, col("n_id"))))
        .filter(col("rnk") <= 10)
      val gt = top10(broadcast(q).join(e, col("vec_id") =!= col("q_id")))
        .select(col("q_id"), col("n_id"),
          (lit(11L) - col("rnk")).as("grade"),
          element_at(wArr, col("rnk").cast("int")).as("ideal_w"))
      val run = top10(broadcast(q).join(e,
          col("q_label") === col("label") && col("vec_id") =!= col("q_id")))
        .select(col("q_id"), col("n_id"), col("rnk"),
          element_at(wArr, col("rnk").cast("int")).as("run_w"))
      val perQ = run.join(gt, Seq("q_id", "n_id"))
        .groupBy(col("q_id"))
        .agg(sum(col("grade") * col("run_w")).as("dcg_w"),
          sum(when(col("grade") === 10L, expr("2520L div rnk"))
            .otherwise(0L)).as("rr_raw"))
      val idcg = gt.groupBy(col("q_id"))
        .agg(sum(col("grade") * col("ideal_w")).as("idcg_w"))
      q.select(col("q_id")).join(perQ, Seq("q_id"), "left")
        .join(idcg, Seq("q_id"), "left")
        .select(col("q_id"),
          coalesce(col("dcg_w"), lit(0L)).as("dcg_w"),
          coalesce(col("idcg_w"), lit(0L)).as("idcg_w"),
          coalesce(col("rr_raw"), lit(0L)).as("rr_2520"))
        .withColumn("ndcg_ppm",
          when(col("idcg_w") === 0L, 0L)
            .otherwise(expr("dcg_w * 1000000L div idcg_w")))
        .orderBy(col("q_id"))
    }),

    // X151 BRADLEY-TERRY PREFERENCE RANKING: aggregate pairwise duels
    // into a strength score per arm — the statistic RLHF / arena-style
    // preference data reports (Chatbot-Arena-style leaderboards are
    // regularized Bradley-Terry fits). Battles are synthesized
    // deterministically from the event stream: consecutive events of
    // the same user (ts, event_id order) duel; the earlier event's
    // type beats the later's iff its value >= the later's. Same-type
    // duels are discarded (self-play carries no signal).
    //   MM iteration (Hunter 2004), 3 unrolled rounds, Laplace-
    //   regularized (+1 win each way per observed pair — keeps every
    //   rating positive and the MLE well-defined):
    //     r_i <- (W_i * 1e12) div sum_j (N_ij * 1e12 div (r_i + r_j))
    //   with r in ppm (start 1e6). The update is degree-1 homogeneous,
    //   so the ppm scale carries across rounds; all arithmetic is
    //   BIGINT div (floor on both engines — every numerator is
    //   non-negative). Final score renormalized to sum 1e6.
    // Scale shape: the corpus-scale work is ONE lag window (keyed by
    // user — co-partitioned, no global window) and ONE groupBy into
    // the ordered-pair frame; the 3 MM rounds then operate on the
    // |arms|^2-bounded pair frame (arms = models — bounded), joined to
    // the |arms|-row rating frame. At trillion-battle scale W_i*1e12
    // nears BIGINT range — shift the fixed point to 1e9 there; the
    // round structure is unchanged.
    "x151_bradley_terry" -> ((s, d) => {
      import s.implicits._
      // corpus-scale work: ONE user-keyed lag window + ONE groupBy into
      // the ordered-pair frame — then the pair frame is |arms|²-bounded
      // (arms = models), so the 3 MM rounds run in driver integer
      // arithmetic on the collected O(arms²) rows (the BPE-argmax
      // precedent: bounded driver state, zero distributed stages for
      // the iteration). Same-boot A/B of the fully distributed rounds
      // (broadcast and SMJ forms): 3.8 s / 3.0 s at sf0.1 vs 1.09 s for
      // this form (BENCH_AB_r07_x151.json) — the rounds are pure
      // sequential stage overhead at any scale where arms is bounded.
      val pairRows = btPairs(s, d).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      val byI = pairRows.groupBy(_._1)
      val wTot = byI.map { case (i, ps) => i -> ps.map(_._4).sum }
      var r: Map[String, Long] = wTot.map { case (i, _) => i -> 1000000L }
      for (_ <- 1 to 3) {
        // every operand is non-negative, so Long / is the same floor
        // div both engines spell
        val den = byI.map { case (i, ps) =>
          i -> ps.map { case (_, j, nij, _) =>
            nij * 1000000000000L / math.max(r(i) + r(j), 1L) }.sum }
        r = wTot.map { case (i, w) =>
          i -> w * 1000000000000L / math.max(den(i), 1L) }
      }
      val rsum = math.max(r.values.sum, 1L)
      byI.toSeq.map { case (i, ps) =>
        (i, ps.map(_._3 - 2).sum, ps.map(_._4 - 1).sum, r(i),
          r(i) * 1000000L / rsum)
      }.sortBy(_._1)
        .toDF("item", "n_battles", "n_wins", "r_ppm", "score_ppm")
    }),

    // X152 BLEU CLIPPED N-GRAM PRECISION: the BLEU core (Papineni 2002)
    // — modified n-gram precision with MULTISET clipping, n = 1..4:
    //   p_n = sum_g min(count_cand(g), count_ref(g)) / sum_g count_cand(g)
    // This is NOT x4's set Jaccard or x102's set containment: clipping
    // is per-occurrence (a candidate that repeats a reference gram 5
    // times gets credit min(5, ref_count), not 1). Pairing is
    // deterministic: candidate = odd doc_id, reference = doc_id - 1;
    // rolled up per candidate source. The geometric mean / brevity
    // penalty need exp — out of the exact-integer contract — so the
    // four precisions and the candidate/reference length ratio are
    // reported in ppm, from which BLEU is one driver-side expression.
    // Scale shape: one equi-join to form pairs (co-partitioned on the
    // pair key), one n-gram explode per side (partition-local Generate,
    // positions x 4), one count-aggregate per side and one equi-join on
    // (pair, n, gram) — an inverted-index join, cost tracks matching
    // grams; rollup is partial-aggregable to |sources| x 4 rows.
    "x152_bleu_precision" -> ((s, d) => bleuPrecision(s, d)),

    // X153 STATISTICAL WATERMARK DETECTION (Kirchenbauer 2023, the
    // LeftHash scheme with γ = 1/2): a green-list text watermark biases
    // each generated token toward the half of the vocabulary selected
    // by a hash of the preceding token; the detector scores each
    // adjacent pair green iff hash(prev ⊕ 0x01 ⊕ token) is even and
    // tests the green fraction against Binomial(T, 1/2). With γ = 1/2
    // the z-statistic squares to EXACT integers: z² = (2g − T)² / T,
    // reported as z2_ppm = (2g−T)²·10⁶ div T — no sqrt, no float.
    // Flag at z ≥ 2, spelled exactly as z² ≥ 4 AND 2g − T > 0 (the
    // integer sign of z): the Kirchenbauer detector is ONE-SIDED — a
    // green-list watermark can only inflate the green fraction, so
    // green-poor outliers are natural text, not watermarks. ~2.3%
    // false-positive rate on natural text — the curation filter for
    // "was this document emitted by a watermarked LLM". Per-row HOF
    // over the pair list — one scan, embarrassingly parallel at any
    // corpus size.
    "x153_watermark_detect" -> ((s, d) => {
      val w = col("w")
      val m = greatest(size(w) - 1, lit(0))
      val pairGreen = zip_with(
        slice(w, lit(1), m), slice(w, lit(2), m),
        (a, b) => when(pmod(TextOps.hash32(
          concat(a, lit("\u0001"), b)), lit(2L)) === 0L, 1L).otherwise(0L))
      documents(s, d)
        .select(col("doc_id"), TextOps.words(col("text")).as("w"))
        .select(col("doc_id"),
          (size(w) - 1).cast("long").as("t_scored"),
          aggregate(pairGreen, lit(0L), (acc, x) => acc + x).as("n_green"))
        .select(col("doc_id"), col("t_scored"), col("n_green"),
          expr("n_green * 1000000L div greatest(t_scored, 1L)")
            .as("green_ppm"),
          expr("""(2L * n_green - t_scored) * (2L * n_green - t_scored)
                 | * 1000000L div greatest(t_scored, 1L)""".stripMargin)
            .as("z2_ppm"))
        // ONE-SIDED gate (round-8 ADVICE): a green-list watermark can only
        // INFLATE the green fraction, so the Kirchenbauer flag requires
        // z ≥ 2, not |z| ≥ 2 — z² alone would also flag anomalously
        // green-POOR natural text, doubling the implied false-positive
        // semantics. 2g − T > 0 is the exact-integer sign of z.
        .withColumn("flagged",
          col("z2_ppm") >= 4000000L &&
            lit(2L) * col("n_green") - col("t_scored") > 0L)
        .orderBy(col("doc_id"))
    }),
  )

  /** x152 body. `nativeGrams = false` is the interpreted HOF pyramid,
    * the reference Ext46Spec compares the catalog path against. The
    * pair frame is not persisted: caching it LOST same-boot at sf0.1
    * (1.92 vs 1.70 s min-of-3, BENCH_AB_r07_x152.json) — the three
    * consumers prune DIFFERENT columns (w / rw / sizes), so
    * column-pruned rescans move less data than one full-width cached
    * frame, and at corpus scale a 2-sided text frame does not belong
    * in executor memory anyway. */
  private[graft] def bleuPrecision(s: SparkSession, d: String,
      nativeGrams: Boolean = true): DataFrame = {
      val docs = documents(s, d)
        .select(col("doc_id"), col("source"), TextOps.words(col("text")).as("w"))
      val cand = docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id").as("pair_id"), col("source"), col("w"))
      val ref = docs.filter(col("doc_id") % 2 === 0)
        .select((col("doc_id") + 1L).as("pair_id"), col("w").as("rw"))
      val pairs = cand.join(ref, Seq("pair_id"))
      val cc = wordGramRows(pairs, "w", nativeGrams,
        col("pair_id"), col("source"))
        .groupBy(col("pair_id"), col("source"), col("n"), col("g"))
        .agg(count(lit(1)).as("c_c"))
      val rc = wordGramRows(pairs, "rw", nativeGrams, col("pair_id"))
        .groupBy(col("pair_id"), col("n"), col("g"))
        .agg(count(lit(1)).as("c_r"))
      val clipped = cc.join(rc, Seq("pair_id", "n", "g"))
        .groupBy(col("source"), col("n"))
        .agg(sum(least(col("c_c"), col("c_r"))).as("clipped"))
      val totals = cc.groupBy(col("source"), col("n"))
        .agg(sum(col("c_c")).as("total"))
      val lens = pairs.groupBy(col("source"))
        .agg(sum(size(col("w")).cast("long")).as("cand_len"),
          sum(size(col("rw")).cast("long")).as("ref_len"))
      totals.join(clipped, Seq("source", "n"), "left")
        .join(lens, Seq("source"))
        .select(col("source"), col("n"),
          coalesce(col("clipped"), lit(0L)).as("clipped"), col("total"),
          expr("coalesce(clipped, 0L) * 1000000L div greatest(total, 1L)")
            .as("p_ppm"),
          col("cand_len"), col("ref_len"),
          expr("cand_len * 1000000L div greatest(ref_len, 1L)")
            .as("len_ratio_ppm"))
        .orderBy(col("source"), col("n"))
  }

  /** BLEU-family word 1..4-gram occurrence rows (keep..., n, g) over
    * `df`'s token column `wc` — the ONE spelling shared by x152 and
    * x171 (the one-helper-not-copies rule). The catalog path is the
    * native [[TextOps.wordGramsAll]] generator (the GraftCharGrams
    * adoption, word-gram edition — BENCH_AB_r10_wordgram.json);
    * `native = false` is the interpreted HOF pyramid, the reference the
    * Ext46/Ext51 specs compare the native path against. Tokens come
    * from split(text, ' ') so the space-join is injective per n. */
  private[graft] def wordGramRows(df: DataFrame, wc: String,
      native: Boolean, keep: Column*): DataFrame =
    if (native)
      df.select(keep :+
        explode(TextOps.wordGramsAll(col(wc), 4)).as("pg"): _*)
        .select(keep :+ TextOps.gramOrder(col("pg")).as("n") :+
          TextOps.gramKey(col("pg")).as("g"): _*)
    else
      // Spark's sequence(1, stop) DESCENDS when stop < 1 (it would
      // emit position 0 into the 1-based slice) — so generate over a
      // floor of 1 and slice the result back to the true position
      // count, which is empty when the doc has fewer than n tokens.
      df.select(keep :+ explode(expr(
        s"""flatten(transform(sequence(1, 4), n ->
           |  slice(
           |    transform(sequence(1, greatest(size($wc) - n + 1, 1)), i ->
           |      named_struct('n', n, 'g',
           |        md5(array_join(slice($wc, i, n), ' ')))),
           |    1, greatest(size($wc) - n + 1, 0))))""".stripMargin))
        .as("x"): _*)
        .select(keep :+ col("x.n").cast("long").as("n") :+
          col("x.g").as("g"): _*)

  /** x151's corpus-scale aggregation: ordered-pair battle counts with
    * Laplace smoothing (+2 battles / +1 win per observed ordered pair).
    * Output (i, j, n_ij, w_ij) is |arms|²-bounded. */
  private def btPairs(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val battles = ev
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("b_arm"), col("value").as("b_val"))
      .withColumn("a_arm", lag(col("b_arm"), 1).over(w))
      .withColumn("a_val", lag(col("b_val"), 1).over(w))
      .filter(col("a_arm").isNotNull && col("a_arm") =!= col("b_arm"))
      .select(col("a_arm"), col("b_arm"),
        (col("a_val") >= col("b_val")).cast("long").as("win_a"))
    val dir = battles
      .select(col("a_arm").as("i"), col("b_arm").as("j"), col("win_a").as("wi"))
      .unionAll(battles.select(col("b_arm").as("i"), col("a_arm").as("j"),
        (lit(1L) - col("win_a")).as("wi")))
    dir.groupBy(col("i"), col("j"))
      .agg((count(lit(1)) + 2L).as("n_ij"), (sum(col("wi")) + 1L).as("w_ij"))
  }

  val oracleSql: Map[String, String] = Map(

    "x150_ndcg" -> {
      val ws = discountW.mkString("[", ", ", "]")
      val dotSql =
        "list_reduce(list_prepend(0.0, list_transform(range(1, len(qv)+1), i -> qv[i]*v[i])), (a,b) -> a+b)"
      val naSql =
        "list_reduce(list_prepend(0.0, list_transform(range(1, len(qv)+1), i -> qv[i]*qv[i])), (a,b) -> a+b)"
      val nbSql =
        "list_reduce(list_prepend(0.0, list_transform(range(1, len(v)+1), i -> v[i]*v[i])), (a,b) -> a+b)"
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |    FROM embeddings),
        |q AS (SELECT vec_id AS q_id, label AS q_label, v AS qv FROM e
        |  WHERE vec_id % 100 = 0),
        |gp AS (SELECT q_id, vec_id AS n_id,
        |    $dotSql AS d, $naSql AS na, $nbSql AS nb
        |  FROM q, e WHERE vec_id <> q_id),
        |gr AS (SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
        |    ORDER BY CAST(floor((d/sqrt(na*nb))*1e6) AS DOUBLE)/1e6 DESC, n_id)
        |    AS rnk FROM gp),
        |gt AS (SELECT q_id, n_id, CAST(11 - rnk AS BIGINT) AS grade,
        |    CAST(($ws)[CAST(rnk AS INT)] AS BIGINT) AS ideal_w
        |  FROM gr WHERE rnk <= 10),
        |ip AS (SELECT q_id, vec_id AS n_id,
        |    $dotSql AS d, $naSql AS na, $nbSql AS nb
        |  FROM q JOIN e ON q_label = label AND vec_id <> q_id),
        |ir AS (SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
        |    ORDER BY CAST(floor((d/sqrt(na*nb))*1e6) AS DOUBLE)/1e6 DESC, n_id)
        |    AS rnk FROM ip),
        |run AS (SELECT q_id, n_id, rnk,
        |    CAST(($ws)[CAST(rnk AS INT)] AS BIGINT) AS run_w
        |  FROM ir WHERE rnk <= 10),
        |pq AS (SELECT run.q_id,
        |    CAST(sum(grade * run_w) AS BIGINT) AS dcg_w,
        |    CAST(sum(CASE WHEN grade = 10 THEN 2520 // rnk ELSE 0 END)
        |      AS BIGINT) AS rr_raw
        |  FROM run JOIN gt ON run.q_id = gt.q_id AND run.n_id = gt.n_id
        |  GROUP BY 1),
        |ic AS (SELECT q_id, CAST(sum(grade * ideal_w) AS BIGINT) AS idcg_w
        |  FROM gt GROUP BY 1)
        |SELECT q.q_id,
        |  CAST(coalesce(dcg_w, 0) AS BIGINT) AS dcg_w,
        |  CAST(coalesce(idcg_w, 0) AS BIGINT) AS idcg_w,
        |  CAST(coalesce(rr_raw, 0) AS BIGINT) AS rr_2520,
        |  CAST(CASE WHEN coalesce(idcg_w, 0) = 0 THEN 0
        |    ELSE coalesce(dcg_w, 0) * 1000000 // idcg_w END AS BIGINT)
        |    AS ndcg_ppm
        |FROM q LEFT JOIN pq ON q.q_id = pq.q_id
        |LEFT JOIN ic ON q.q_id = ic.q_id
        |ORDER BY q.q_id""".stripMargin
    },

    // matCtes (round 10): each MM round joins r{k-1} TWICE (ri/rj) —
    // unpinned, the three chained rounds re-inline ~2^3× (1.06 s →
    // 0.04 s at sf0.01, rows identical in the full profile).
    "x151_bradley_terry" -> Ext43.matCtes {
      // one MM round: denominator join + rating update
      def round(k: Int): String = {
        val prev = s"r${k - 1}"
        s"""d$k AS (SELECT p.i,
          |    CAST(sum(n_ij * 1000000000000 //
          |      greatest(ri.r + rj.r, 1)) AS BIGINT) AS den
          |  FROM p JOIN $prev ri ON p.i = ri.item
          |         JOIN $prev rj ON p.j = rj.item GROUP BY 1),
          |r$k AS (SELECT wn.i AS item,
          |    CAST(w_tot * 1000000000000 // greatest(den, 1) AS BIGINT) AS r
          |  FROM wn JOIN d$k ON wn.i = d$k.i)""".stripMargin
      }
      s"""WITH b0 AS (SELECT event_type AS b_arm, value AS b_val,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS a_arm,
        |    lag(value) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS a_val
        |  FROM events),
        |bt AS (SELECT a_arm, b_arm,
        |    CAST(a_val >= b_val AS BIGINT) AS win_a
        |  FROM b0 WHERE a_arm IS NOT NULL AND a_arm <> b_arm),
        |dir AS (SELECT a_arm AS i, b_arm AS j, wi FROM
        |    (SELECT a_arm, b_arm, win_a AS wi FROM bt)
        |  UNION ALL
        |  SELECT b_arm AS i, a_arm AS j, 1 - win_a AS wi FROM bt),
        |p AS (SELECT i, j, CAST(count(*) + 2 AS BIGINT) AS n_ij,
        |    CAST(sum(wi) + 1 AS BIGINT) AS w_ij
        |  FROM dir GROUP BY 1, 2),
        |raw AS (SELECT i, CAST(sum(n_ij - 2) AS BIGINT) AS n_battles,
        |    CAST(sum(w_ij - 1) AS BIGINT) AS n_wins FROM p GROUP BY 1),
        |wn AS (SELECT i, CAST(sum(w_ij) AS BIGINT) AS w_tot FROM p GROUP BY 1),
        |r0 AS (SELECT i AS item, CAST(1000000 AS BIGINT) AS r FROM wn),
        |${round(1)},
        |${round(2)},
        |${round(3)},
        |t AS (SELECT CAST(sum(r) AS BIGINT) AS rsum FROM r3)
        |SELECT r3.item, n_battles, n_wins, r AS r_ppm,
        |  CAST(r * 1000000 // greatest(rsum, 1) AS BIGINT) AS score_ppm
        |FROM r3 JOIN raw ON r3.item = raw.i, t
        |ORDER BY r3.item""".stripMargin
    },

    "x152_bleu_precision" ->
      """WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS w
        |    FROM documents),
        |pr AS (SELECT c.doc_id AS pair_id, c.source, c.w, r.w AS rw
        |  FROM (SELECT * FROM d WHERE doc_id % 2 = 1) c
        |  JOIN (SELECT doc_id + 1 AS pid, w FROM d WHERE doc_id % 2 = 0) r
        |    ON c.doc_id = r.pid),
        |nn AS (SELECT unnest([1, 2, 3, 4]) AS n),
        |cg AS (SELECT pair_id, source, n,
        |    md5(array_to_string(w[i : i + n - 1], ' ')) AS g
        |  FROM (SELECT pair_id, source, n, w,
        |      unnest(range(1, greatest(len(w) - n + 2, 1))) AS i
        |    FROM pr, nn)),
        |rg AS (SELECT pair_id, n,
        |    md5(array_to_string(rw[i : i + n - 1], ' ')) AS g
        |  FROM (SELECT pair_id, n, rw,
        |      unnest(range(1, greatest(len(rw) - n + 2, 1))) AS i
        |    FROM pr, nn)),
        |cc AS (SELECT pair_id, source, n, g, CAST(count(*) AS BIGINT) AS c_c
        |  FROM cg GROUP BY 1, 2, 3, 4),
        |rc AS (SELECT pair_id, n, g, CAST(count(*) AS BIGINT) AS c_r
        |  FROM rg GROUP BY 1, 2, 3),
        |cl AS (SELECT source, cc.n, CAST(sum(least(c_c, c_r)) AS BIGINT)
        |    AS clipped
        |  FROM cc JOIN rc ON cc.pair_id = rc.pair_id AND cc.n = rc.n
        |    AND cc.g = rc.g
        |  GROUP BY 1, 2),
        |tt AS (SELECT source, n, CAST(sum(c_c) AS BIGINT) AS total
        |  FROM cc GROUP BY 1, 2),
        |ln AS (SELECT source, CAST(sum(len(w)) AS BIGINT) AS cand_len,
        |    CAST(sum(len(rw)) AS BIGINT) AS ref_len
        |  FROM pr GROUP BY 1)
        |SELECT tt.source, CAST(tt.n AS BIGINT) AS n,
        |  CAST(coalesce(clipped, 0) AS BIGINT) AS clipped, total,
        |  CAST(coalesce(clipped, 0) * 1000000 // greatest(total, 1)
        |    AS BIGINT) AS p_ppm,
        |  cand_len, ref_len,
        |  CAST(cand_len * 1000000 // greatest(ref_len, 1) AS BIGINT)
        |    AS len_ratio_ppm
        |FROM tt LEFT JOIN cl ON tt.source = cl.source AND tt.n = cl.n
        |JOIN ln ON tt.source = ln.source
        |ORDER BY tt.source, n""".stripMargin,

    "x153_watermark_detect" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
        |    FROM documents),
        |s AS (SELECT doc_id, CAST(len(w) - 1 AS BIGINT) AS t_scored,
        |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(2, len(w) + 1), i ->
        |        CASE WHEN CAST(concat('0x',
        |            substr(md5(concat(w[i-1], chr(1), w[i])), 1, 8))
        |          AS BIGINT) % 2 = 0 THEN 1 ELSE 0 END)),
        |      (a, x) -> a + x) AS BIGINT) AS n_green
        |  FROM w),
        |z AS (SELECT doc_id, t_scored, n_green,
        |    CAST(n_green * 1000000 // greatest(t_scored, 1) AS BIGINT)
        |      AS green_ppm,
        |    CAST((2 * n_green - t_scored) * (2 * n_green - t_scored)
        |      * 1000000 // greatest(t_scored, 1) AS BIGINT) AS z2_ppm
        |  FROM s)
        |SELECT doc_id, t_scored, n_green, green_ppm, z2_ppm,
        |  z2_ppm >= 4000000 AND 2 * n_green - t_scored > 0 AS flagged
        |FROM z ORDER BY doc_id""".stripMargin)
}
