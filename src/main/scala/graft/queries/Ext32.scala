package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.TextOps
import graft.tables.Tables._
import graft.GraftCaches.TrackedPersist

/** Round-5 additions, part 10: CCNet-style perplexity bucketing (exact
  * distributed tercile thresholds), feature-hashed linear classifier
  * inference (the fastText-filter pattern), and a transitivity audit of
  * the near-dup pair graph.
  */
object Ext32 {

  /** The 64-bucket weight table both engines bake as literals (the
    * Ext33 scorer family's table — one formula, never a copy). */
  private val hashedWeights: Seq[Long] =
    Ext33.scorerWeights(Ext33.ScorerMult)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // X4y PERPLEXITY BUCKETS (CCNet head/middle/tail): score each doc
    // with x85's integer bigram-LM ppm, then split the corpus at the
    // EXACT global tercile thresholds and report each bucket's size and
    // score range. The thresholds come from a value-bounded integer
    // histogram of the scores (see [[perplexityBuckets]]), then go back
    // as literals, so the bucketing pass is a pure per-row comparison.
    // This is the CCNet partition step that routes head/middle/tail to
    // different training mixes — on 100 TB the only heavy steps are the
    // LM count shuffles and the histogram rollup.
    // Round 15 (VERDICT r14 #5, BENCH_AB_r15_x116{,_confirm}.json):
    // terciles via the value-bounded integer-histogram selection (one
    // partial-agg job instead of ext/Quantile's range-sort + 2 jobs) and
    // the c2 persist dropped (its two consumers share the groupBy
    // exchange — AQE stage reuse dedupes them, the r14 x66/x138 rule).
    // Same-boot min/median ~0.1–0.4 s better across two boots; hash-green.
    "x116_perplexity_buckets" -> ((s, d) => perplexityBuckets(s, d)),

    // X4z2 FEATURE-HASHED LINEAR CLASSIFIER: fastText-filter inference at
    // scan speed — every token hashes into a 64-bucket weight table (a
    // fixed integer formula both engines bake as literals; a trained
    // model would ship its weights the same way), the doc's score is the
    // weight sum, and acceptance is its sign. JOINLESS AND SHUFFLE-FREE
    // before the output sort: one fold per row, the hashing and lookup
    // inside the scan projection. The shifted per-mille score keeps every
    // division operand positive (both Spark div and DuckDB // truncate
    // toward zero — verified round 11 — so this is the defensive parity
    // convention, not a semantic necessity).
    "x117_hashed_classifier" -> ((s, d) => {
      val wArr = array(hashedWeights.map(lit(_)): _*)
      documents(s, d)
        .select(col("doc_id"), TextOps.words(col("text")).as("w"))
        .select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"),
          aggregate(
            transform(col("w"), t =>
              element_at(wArr,
                (pmod(TextOps.hash32(t), lit(64L)) + 1L).cast("int"))),
            lit(0L), (acc, x) => acc + x).as("sum_w"))
        .select(col("doc_id"), col("n_tokens"), col("sum_w"),
          expr("(sum_w + 500L * n_tokens) * 1000L div n_tokens").as("score_spm"),
          (col("sum_w") > 0).as("accepted"))
        .orderBy(col("doc_id"))
    }),

    // X2k NEAR-DUP GRAPH TRANSITIVITY: the global clustering coefficient
    // of the verified MinHash pair graph — 3·triangles / wedges in ppm.
    // Low closure means the LSH threshold is admitting chains (a~b, b~c
    // with a≁c), exactly the failure mode that makes transitive-closure
    // dedup over-merge; this is the metric that decides whether x17's CC
    // grouping is safe at the chosen threshold. Wedges come from the
    // degree rollup (Σ deg·(deg−1)/2 — no join), triangles from x66's
    // oriented wedge join; both scale with colliding pairs, never n².
    "x118_pair_transitivity" -> ((s, d) => {
      val e = Ext.lshVerifiedPairs(s, d, 0.5)
        .select(col("id1"), col("id2"))
        .persistTracked()
      val deg = e.select(col("id1").as("v"))
        .union(e.select(col("id2").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("deg"))
      val wedges = deg.agg(
        coalesce(sum(expr("deg * (deg - 1) div 2")), lit(0L)).as("n_wedges"))
      val tri = e.select(col("id1").as("a"), col("id2").as("b"))
        .join(e.select(col("id1").as("b"), col("id2").as("c")), "b")
        .join(e.select(col("id1").as("a"), col("id2").as("c")),
          Seq("a", "c"), "left_semi")
        .agg(count(lit(1)).as("n_triangles"))
      wedges.crossJoin(broadcast(tri))
        .select(col("n_wedges"), col("n_triangles"),
          when(col("n_wedges") === 0, 0L)
            .otherwise(expr("3L * n_triangles * 1000000L div n_wedges"))
            .as("closure_ppm"))
    }),

    // X7e PASS@K ESTIMATOR: the unbiased pass@k = 1 − C(n−c,k)/C(n,k)
    // over per-problem trial outcomes (the standard code-eval metric),
    // in exact integer ppm via the telescoped product
    // Π (n−c−i)/(n−i) — spelled as a k-step integer fold with a floor at
    // every step (identical on both engines; each factor clamps at 0 so
    // c > n−k collapses the product, giving pass = 1 exactly as the
    // binomial does). One partial-aggregable shuffle (problem rollup);
    // the estimator is per-row arithmetic on the 50-row aggregate.
    "x119_pass_at_k" -> ((s, d) => {
      def foldPpm(k: Int): String = {
        val prod = (0 until k).foldLeft("1000000L") { (acc, i) =>
          s"(($acc) * GREATEST(n - c - $i, 0L) div (n - $i))"
        }
        s"CASE WHEN n >= $k THEN 1000000L - $prod ELSE NULL END"
      }
      events(s, d)
        .select(expr("user_id % 50").as("problem"),
          (col("value") >= 0.5).as("ok"))
        .groupBy(col("problem"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("ok"), 1L).otherwise(0L)).as("c"))
        .select(col("problem"), col("n").as("n_trials"), col("c").as("n_correct"),
          expr(foldPpm(1)).as("pass1_ppm"), expr(foldPpm(5)).as("pass5_ppm"))
        .orderBy(col("problem"))
    }))

  /** x116 body (round 15, VERDICT r14 #5).
    *
    * The exact tercile thresholds come from an
    * integer HISTOGRAM selection instead of ext/Quantile's range-sort —
    * scores are integer ppm in [0, 1e6], so `groupBy(score_ppm).count()`
    * is a VALUE-BOUNDED rollup (≤ 1e6 + 1 rows at ANY corpus size, the
    * x126/x120 bucket family), and the driver-side cumulative walk picks
    * the same nearest-rank values (smallest score with cum ≥ ⌈p·n⌉ —
    * value-identical to Quantile.nearestRank by definition of rank
    * selection over duplicates). One partial-aggregable job over the
    * cached scored frame replaces Quantile's range-sort shuffle + TWO
    * jobs + its own RDD persist; at 100 TB the shuffle shrinks from all
    * per-doc rows to ≤ 1e6 (score, count) pairs with map-side combining.
    *
    * c2 is not persisted: it feeds the c1 rollup and the score join —
    * the branches share the (l, r) groupBy's exchange, so AQE stage
    * reuse dedupes them persist-free (the r14 x66/x138 rule); measured
    * same-boot slightly ahead of the persisted form
    * (BENCH_AB_r15_x116.json). */
  private def perplexityBuckets(s: SparkSession, d: String): DataFrame = {
    val bg = documents(s, d)
      .select(col("doc_id"), TextOps.words(col("text")).as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(slice(w, 1, size(w) - 1), (x, i) -> struct(x AS l, w[i+1] AS r))"))
        .as("p"))
      .select(col("doc_id"), col("p.l").as("l"), col("p.r").as("r"))
      .persistTracked()
    val c2 = bg.groupBy(col("l"), col("r")).agg(count(lit(1)).as("c2"))
    // c1(l) = Σ_r c2(l, r) exactly — rolled up from the already-reduced
    // bigram table instead of a second corpus-scale shuffle of bg
    val c1 = c2.groupBy(col("l")).agg(sum(col("c2")).as("c1"))
    val score = c2.join(c1, Seq("l"))
      .select(col("l"), col("r"), expr("c2 * 1000000 div c1").as("ppm"))
    val scored = bg.join(score, Seq("l", "r"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("ppm")).as("sum_ppm"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("sum_ppm div n_bigrams").as("score_ppm"))
      .persistTracked()
    val hist = scored.groupBy(col("score_ppm"))
      .agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val n = hist.map(_._2).sum
    require(n > 0, "perplexityBuckets over an empty corpus")
    def rank(p: Double): Long = math.max(1L, math.ceil(p * n).toLong)
    def pick(r: Long): Long = {
      var cum = 0L
      hist.find { case (_, c) => cum += c; cum >= r }.get._1
    }
    val (t1, t2) = (pick(rank(1.0 / 3)), pick(rank(2.0 / 3)))
    scored
      .withColumn("bucket",
        when(col("score_ppm") <= t1, "tail")
          .when(col("score_ppm") <= t2, "middle")
          .otherwise("head"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("score_ppm")).as("min_ppm"),
        max(col("score_ppm")).as("max_ppm"),
        sum(col("n_bigrams")).as("sum_bigrams"))
      .orderBy(col("bucket"))
  }

  val oracleSql: Map[String, String] = Map(

    "x116_perplexity_buckets" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |bg AS (SELECT doc_id, w[i] AS l, w[i+1] AS r
        |  FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i
        |    FROM w WHERE len(w) >= 2)),
        |c2 AS (SELECT l, r, CAST(count(*) AS BIGINT) AS c2 FROM bg GROUP BY 1, 2),
        |c1 AS (SELECT l, CAST(count(*) AS BIGINT) AS c1 FROM bg GROUP BY 1),
        |sc AS (SELECT l, r, (c2 * 1000000) // c1 AS ppm
        |  FROM c2 JOIN c1 USING (l)),
        |sc2 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |    CAST(sum(ppm) // count(*) AS BIGINT) AS score_ppm
        |  FROM bg JOIN sc USING (l, r) GROUP BY doc_id),
        |nn AS (SELECT count(*) AS n FROM sc2),
        |rk AS (SELECT score_ppm, row_number() OVER (ORDER BY score_ppm)
        |    AS r FROM sc2),
        |th AS (SELECT
        |    max(CASE WHEN r = GREATEST(1,
        |      CAST(ceil((SELECT n FROM nn) * (1.0/3)) AS BIGINT))
        |      THEN score_ppm END) AS t1,
        |    max(CASE WHEN r = GREATEST(1,
        |      CAST(ceil((SELECT n FROM nn) * (2.0/3)) AS BIGINT))
        |      THEN score_ppm END) AS t2
        |  FROM rk)
        |SELECT CASE WHEN score_ppm <= t1 THEN 'tail'
        |    WHEN score_ppm <= t2 THEN 'middle' ELSE 'head' END AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  min(score_ppm) AS min_ppm, max(score_ppm) AS max_ppm,
        |  CAST(sum(n_bigrams) AS BIGINT) AS sum_bigrams
        |FROM sc2, th GROUP BY 1 ORDER BY 1""".stripMargin,

    "x117_hashed_classifier" -> {
      // the fold is Ext33.duckSumW verbatim (same weights via
      // hashedWeights = scorerWeights(ScorerMult)) — one body, never a
      // copy, and it carries the round-12 let-bound weight literal
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents),
        |s AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
        |  ${Ext33.duckSumW(Ext33.ScorerMult)} AS sum_w
        |  FROM w)
        |SELECT doc_id, n_tokens, sum_w,
        |  CAST((sum_w + 500 * n_tokens) * 1000 // n_tokens AS BIGINT)
        |    AS score_spm,
        |  (sum_w > 0) AS accepted
        |FROM s ORDER BY doc_id""".stripMargin
    },

    "x119_pass_at_k" -> {
      def foldPpm(k: Int): String = {
        val prod = (0 until k).foldLeft("1000000") { (acc, i) =>
          s"(($acc) * GREATEST(n - c - $i, 0) // (n - $i))"
        }
        s"CASE WHEN n >= $k THEN 1000000 - $prod ELSE NULL END"
      }
      s"""WITH g AS (SELECT user_id % 50 AS problem,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN value >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS c
        |  FROM events GROUP BY 1)
        |SELECT problem, n AS n_trials, c AS n_correct,
        |  CAST(${foldPpm(1)} AS BIGINT) AS pass1_ppm,
        |  CAST(${foldPpm(5)} AS BIGINT) AS pass5_ppm
        |FROM g ORDER BY problem""".stripMargin
    },

    "x118_pair_transitivity" -> (Ext12.pairsCte +
      """
        |, dg AS (SELECT v, count(*) AS deg FROM (
        |    SELECT id1 AS v FROM pairs
        |    UNION ALL SELECT id2 AS v FROM pairs) u GROUP BY 1),
        |wd AS (SELECT CAST(coalesce(sum(deg * (deg - 1) // 2), 0) AS BIGINT)
        |    AS n_wedges FROM dg),
        |tr AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
        |  FROM pairs e1 JOIN pairs e2 ON e1.id2 = e2.id1
        |  JOIN pairs e3 ON e3.id1 = e1.id1 AND e3.id2 = e2.id2)
        |SELECT n_wedges, n_triangles,
        |  CAST(CASE WHEN n_wedges = 0 THEN 0
        |    ELSE 3 * n_triangles * 1000000 // n_wedges END AS BIGINT)
        |    AS closure_ppm
        |FROM wd, tr""".stripMargin))
}
