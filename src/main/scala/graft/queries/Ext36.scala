package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables._
import graft.GraftCaches.TrackedPersist

/** Round-5 additions, part 14: classifier calibration (the reliability
  * twin of x121's AUC), an order-independent dataset fingerprint, greedy
  * MMR diverse selection, and market-basket association lift — all in
  * the exact-integer oracle discipline.
  */
object Ext36 {

  /** Exact integer dot product of two equal-length BIGINT arrays. */
  private def dotL(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, c) => x * c), lit(0L), (acc, v) => acc + v)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // X9f CLASSIFIER CALIBRATION: x121 scores rank quality (AUC); this
    // scores PROBABILITY quality — per score-decile: predicted rate vs
    // observed rate plus the exact Brier sum. Same feature-hashed
    // linear scorer as x117/x121 (per-row fold, no shuffle), then ONE
    // partial-aggregable rollup over ≤10 decile buckets. The score sb is
    // an integer per-mille in [0, 1000], so (sb − 1000·y)² is an exact
    // Long and every ratio is a single floor — no float anywhere.
    "x128_brier_calibration" -> ((s, d) => {
      Ext33.hashedScorePm(s, d)
        .withColumn("bucket", least(expr("sb div 100"), lit(9L)))
        .withColumn("y_pm", when(col("pos"), 1000L).otherwise(0L))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("pos"), 1L).otherwise(0L)).as("n_pos"),
          sum(col("sb")).as("sum_sb"),
          sum((col("sb") - col("y_pm")) * (col("sb") - col("y_pm")))
            .as("brier_sum_pm2"))
        .select(col("bucket"), col("n"), col("n_pos"),
          expr("sum_sb div n").as("pred_pm"),
          expr("n_pos * 1000L div n").as("obs_pm"),
          col("brier_sum_pm2"),
          expr("brier_sum_pm2 div n").as("brier_pm2"))
        .orderBy(col("bucket"))
    }),

    // X169 ECE/MCE CALIBRATION ROLLUP (round 9): x128 emits the
    // per-decile calibration TABLE; this emits the two standard
    // single-number summaries — expected calibration error (bucket-
    // weighted |observed − predicted|) and maximum calibration error.
    // The decomposition keeps BOTH exact with integer floors: per
    // bucket, |obs − pred| · n_b = |1000·n_pos − Σsb| EXACTLY (the
    // per-bucket divisions cancel), so
    //   ece_pm = Σ_b |1000·n_pos_b − Σsb_b| div n      (ONE floor)
    //   mce_pm = max_b (|1000·n_pos_b − Σsb_b| div n_b) (per-bucket
    //             floor, identical spelling both engines).
    // Same scorer and ≤10-bucket rollup as x128 — one partial-
    // aggregable shuffle, then a 10-row global agg.
    "x169_ece_calibration" -> ((s, d) => {
      val g = Ext33.hashedScorePm(s, d)
        .withColumn("bucket", least(expr("sb div 100"), lit(9L)))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("nb"),
          sum(when(col("pos"), 1L).otherwise(0L)).as("np"),
          sum(col("sb")).as("ssb"))
      g.agg(
        coalesce(sum(col("nb")), lit(0L)).as("n"),
        count(lit(1)).as("n_buckets"),
        coalesce(sum(abs(lit(1000L) * col("np") - col("ssb"))), lit(0L))
          .as("gap_sum"),
        coalesce(max(expr("abs(1000L * np - ssb) div nb")), lit(0L))
          .as("mce_pm"))
      .select(col("n"), col("n_buckets"),
        expr("gap_sum div greatest(n, 1L)").as("ece_pm"),
        col("mce_pm"))
    }),

    // X2h DATASET FINGERPRINT: an order-independent content hash per
    // source plus a corpus root — the "did this snapshot change?"
    // primitive behind dataset versioning and cache invalidation. Each
    // row folds to a 60-bit md5 prefix of (doc_id ‖ text); the combine
    // is bit_xor — commutative and overflow-free, so the fingerprint is
    // identical under ANY row order or partitioning (a sum would
    // overflow-error in DuckDB and wrap in Spark; xor cannot). One
    // partial-aggregable shuffle over K sources; the root folds the K
    // per-source rows, never re-reading the corpus.
    // Round 15: rollup persist dropped (the x85/x97/x116/x167 rule —
    // both consumers share the per-source rollup's own exchange, AQE
    // stage reuse dedupes; BENCH_AB_r15_rollups.json).
    "x129_dataset_merkle" -> ((s, d) =>
      datasetMerkle(s, d)),

    // X3g GREEDY MMR SELECTION: pick k=4 exemplars balancing relevance
    // (dot with the corpus centroid) against redundancy (max dot with
    // already-selected), λ = ½ — the diverse few-shot / eval-set
    // selection pass. Quantized integer dots (bounded: 64·2000² =
    // 2.56e8) keep every score exact. Per round: ONE TakeOrdered(1) job
    // over candidates with the selected vectors inlined as literals —
    // O(k) jobs total, nothing corpus-scale ever collects (the same
    // argmax shape as x103's k-center, with a relevance term added).
    // Reference semantics: Carbonell & Goldstein's MMR (SIGIR'98).
    "x130_mmr_select" -> ((s, d) => {
      val e = embeddings(s, d)
        .select(col("vec_id"), expr(
          "transform(CAST(embedding AS array<double>), x -> CAST(floor((x + 1.0D) * 1000.0D) AS BIGINT))")
          .as("q"))
        .persistTracked()
      // exact integer centroid: per-dim floor-mean, one bounded collect
      val m = e.select(posexplode(col("q")).as(Seq("dim", "x")))
        .groupBy(col("dim")).agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
        .select(col("dim"), expr("sx div n").as("m"))
        .orderBy(col("dim")).collect().map(_.getLong(1))
      val rel = e.withColumn("rel", dotL(col("q"), typedLit(m.toSeq)))
        .persistTracked()
      var sel = Vector.empty[(Long, Array[Long], Long, Long)] // id, q, rel, penalty
      while (sel.size < 4) {
        val pen: Column =
          if (sel.isEmpty) lit(0L)
          else sel.map(t => dotL(col("q"), typedLit(t._2.toSeq)))
            .reduce(greatest(_, _))
        val ids = sel.map(_._1)
        val cand = rel.filter(!col("vec_id").isInCollection(ids :+ -1L))
          .withColumn("pen", pen)
          .withColumn("score2", col("rel") - col("pen"))
          .orderBy(col("score2").desc, col("vec_id"))
          .limit(1).select("vec_id", "q", "rel", "pen").collect()
        require(cand.nonEmpty, "x130: corpus smaller than k")
        val r = cand(0)
        sel = sel :+ ((r.getLong(0), r.getSeq[Long](1).toArray,
          r.getLong(2), r.getLong(3)))
      }
      val rows = sel.zipWithIndex.map { case ((id, _, rl, pn), i) =>
        (i + 1L, id, rl, pn, rl - pn)
      }
      s.createDataFrame(rows)
        .toDF("sel_rank", "vec_id", "rel", "penalty", "score2")
        .orderBy(col("sel_rank"))
    }),

    // X8f ASSOCIATION LIFT: which event types co-occur in the same
    // user's history more than independence predicts — the
    // market-basket / co-engagement audit. Baskets are the DISTINCT
    // (user, type) pairs, so the self-join fan-out is bounded by
    // (types-per-user choose 2) ≤ C(T,2) per user — never corpus².
    // lift·1e6 is floored in two steps, (co·1e6 div cₐ)·U div c_b: since
    // co ≤ cₐ the first factor is ≤ 1e6, so the intermediate stays
    // Long-safe to ~9e12 users (the naive co·U·1e6 wraps past ~3M users).
    // Round 15: baskets persist dropped (the exchange-topped-rollup
    // rule; BENCH_AB_r15_rollups3.json) — all four consumers share the
    // distinct's exchange.
    "x131_cooccurrence_lift" -> ((s, d) => cooccurrenceLift(s, d)))

  /** x131 body. */
  private def cooccurrenceLift(s: SparkSession, d: String): DataFrame = {
      val baskets = events(s, d)
        .select(col("user_id"), col("event_type")).distinct()
      val users = baskets.select(col("user_id")).distinct()
        .agg(count(lit(1)).as("u"))
      val singles = baskets.groupBy(col("event_type"))
        .agg(count(lit(1)).as("c"))
      val pairs = baskets.as("a")
        .join(baskets.as("b"), col("a.user_id") === col("b.user_id") &&
          col("a.event_type") < col("b.event_type"))
        .groupBy(col("a.event_type").as("type_a"),
          col("b.event_type").as("type_b"))
        .agg(count(lit(1)).as("co"))
      pairs
        .join(singles.select(col("event_type").as("type_a"), col("c").as("ca")), "type_a")
        .join(singles.select(col("event_type").as("type_b"), col("c").as("cb")), "type_b")
        .crossJoin(broadcast(users))
        .select(col("type_a"), col("type_b"), col("co"), col("ca"), col("cb"),
          expr("(co * 1000000L div ca) * u div cb").as("lift_ppm"))
        .orderBy(col("type_a"), col("type_b"))
  }

  /** x129 body. */
  private def datasetMerkle(s: SparkSession, d: String): DataFrame = {
      val rowH = expr(
        "CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), ':', text)), 1, 15), 16, 10) AS BIGINT)")
      val per = documents(s, d)
        .select(col("source"), rowH.as("h"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_rows"), expr("bit_xor(h)").as("fp"))
      val root = per.agg(sum(col("n_rows")).as("n_rows"),
          expr("bit_xor(fp)").as("fp"))
        .select(lit("__root__").as("source"), col("n_rows"), col("fp"))
      per.unionByName(root).orderBy(col("source"))
  }

  val oracleSql: Map[String, String] = Map(

    "x128_brier_calibration" -> {
      s"""WITH ${Ext33.hashedScorePmSql},
        |b AS (SELECT LEAST(sb // 100, 9) AS bucket, sb,
        |    CASE WHEN pos THEN 1000 ELSE 0 END AS y_pm,
        |    CASE WHEN pos THEN 1 ELSE 0 END AS y
        |  FROM sb)
        |SELECT CAST(bucket AS BIGINT) AS bucket, count(*) AS n,
        |  CAST(sum(y) AS BIGINT) AS n_pos,
        |  CAST(sum(sb) // count(*) AS BIGINT) AS pred_pm,
        |  CAST(sum(y) * 1000 // count(*) AS BIGINT) AS obs_pm,
        |  CAST(sum((sb - y_pm) * (sb - y_pm)) AS BIGINT) AS brier_sum_pm2,
        |  CAST(sum((sb - y_pm) * (sb - y_pm)) // count(*) AS BIGINT) AS brier_pm2
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin
    },

    "x169_ece_calibration" -> {
      s"""WITH ${Ext33.hashedScorePmSql},
        |b AS (SELECT LEAST(sb // 100, 9) AS bucket,
        |    CASE WHEN pos THEN 1 ELSE 0 END AS y, sb FROM sb),
        |g AS (SELECT bucket, CAST(count(*) AS BIGINT) AS nb,
        |    CAST(sum(y) AS BIGINT) AS np, CAST(sum(sb) AS BIGINT) AS ssb
        |  FROM b GROUP BY bucket)
        |SELECT CAST(coalesce(sum(nb), 0) AS BIGINT) AS n,
        |  CAST(count(*) AS BIGINT) AS n_buckets,
        |  CAST(coalesce(sum(abs(1000 * np - ssb)), 0)
        |    // greatest(coalesce(sum(nb), 0), 1) AS BIGINT) AS ece_pm,
        |  CAST(coalesce(max(abs(1000 * np - ssb) // nb), 0) AS BIGINT)
        |    AS mce_pm
        |FROM g""".stripMargin
    },

    "x129_dataset_merkle" ->
      """WITH h AS (SELECT source,
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':' || text),
        |      1, 15)) AS BIGINT) AS h
        |  FROM documents),
        |per AS (SELECT source, count(*) AS n_rows, bit_xor(h) AS fp
        |  FROM h GROUP BY source)
        |SELECT source, CAST(n_rows AS BIGINT) AS n_rows, CAST(fp AS BIGINT) AS fp
        |FROM per
        |UNION ALL
        |SELECT '__root__', CAST(sum(n_rows) AS BIGINT), CAST(bit_xor(fp) AS BIGINT)
        |FROM per
        |ORDER BY source""".stripMargin,

    "x130_mmr_select" ->
      """WITH e AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
        |    x -> CAST(floor((x + 1.0) * 1000.0) AS BIGINT)) AS q FROM embeddings),
        |dims AS (SELECT unnest(range(1, 65)) AS dim),
        |md AS (SELECT dim, CAST(sum(q[dim]) // count(*) AS BIGINT) AS m
        |  FROM e CROSS JOIN dims GROUP BY dim),
        |cm AS (SELECT list(m ORDER BY dim) AS m FROM md),
        |r AS (SELECT vec_id, q, CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(1, 65), i -> q[i] * m[i])), (a, b) -> a + b)
        |    AS BIGINT) AS rel
        |  FROM e, cm),
        |c1 AS (SELECT vec_id, q, rel FROM r ORDER BY rel DESC, vec_id LIMIT 1),
        |d1 AS (SELECT r.vec_id, r.q, r.rel, list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(1, 65), i -> r.q[i] * c1.q[i])), (a, b) -> a + b) AS pen
        |  FROM r, c1 WHERE r.vec_id <> c1.vec_id),
        |c2 AS (SELECT vec_id, q, rel, pen FROM d1
        |  ORDER BY rel - pen DESC, vec_id LIMIT 1),
        |d2 AS (SELECT d1.vec_id, d1.q, d1.rel, GREATEST(d1.pen,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, 65), i -> d1.q[i] * c2.q[i])),
        |      (a, b) -> a + b)) AS pen
        |  FROM d1, c2 WHERE d1.vec_id <> c2.vec_id),
        |c3 AS (SELECT vec_id, q, rel, pen FROM d2
        |  ORDER BY rel - pen DESC, vec_id LIMIT 1),
        |d3 AS (SELECT d2.vec_id, d2.q, d2.rel, GREATEST(d2.pen,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, 65), i -> d2.q[i] * c3.q[i])),
        |      (a, b) -> a + b)) AS pen
        |  FROM d2, c3 WHERE d2.vec_id <> c3.vec_id),
        |c4 AS (SELECT vec_id, q, rel, pen FROM d3
        |  ORDER BY rel - pen DESC, vec_id LIMIT 1)
        |SELECT CAST(1 AS BIGINT) AS sel_rank, vec_id, rel,
        |  CAST(0 AS BIGINT) AS penalty, rel AS score2 FROM c1
        |UNION ALL SELECT 2, vec_id, rel, pen, rel - pen FROM c2
        |UNION ALL SELECT 3, vec_id, rel, pen, rel - pen FROM c3
        |UNION ALL SELECT 4, vec_id, rel, pen, rel - pen FROM c4
        |ORDER BY sel_rank""".stripMargin,

    "x131_cooccurrence_lift" ->
      """WITH b AS (SELECT DISTINCT user_id, event_type FROM events),
        |u AS (SELECT count(DISTINCT user_id) AS u FROM b),
        |s AS (SELECT event_type, count(*) AS c FROM b GROUP BY 1),
        |p AS (SELECT a.event_type AS type_a, bb.event_type AS type_b,
        |    count(*) AS co
        |  FROM b a JOIN b bb ON a.user_id = bb.user_id
        |    AND a.event_type < bb.event_type
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, CAST(co AS BIGINT) AS co,
        |  CAST(sa.c AS BIGINT) AS ca, CAST(sb.c AS BIGINT) AS cb,
        |  CAST((co * 1000000 // sa.c) * u // sb.c AS BIGINT) AS lift_ppm
        |FROM p JOIN s sa ON sa.event_type = type_a
        |JOIN s sb ON sb.event_type = type_b, u
        |ORDER BY type_a, type_b""".stripMargin)
}
