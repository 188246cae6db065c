package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ext.TextOps
import graft.tables.Tables._

/** Round-11 batch 2: x189 METEOR-lite (Banerjee & Lavie 2005) — the
  * last famous MT metric the catalog was missing (BLEU x152, ROUGE-L
  * x154, chrF/chrF++ x155/x161, WER x156, TER x170, Self-BLEU x171
  * all present; VERDICT r10 #4 assigned METEOR "only with a design").
  *
  * The design, with every deviation from the reference metric named:
  *
  *   - STAGES. Full METEOR aligns in three stages: exact, Porter-stem,
  *     WordNet-synonym. Synonymy data is environment-blocked (zero
  *     egress — adjudicated like the D2 gender dictionary), and the
  *     oracle-side Porter stemmer is ALSO environment-blocked (DuckDB's
  *     `stem()` lives in the fts extension, which the offline DuckDB
  *     cannot autoload — verified round 11). So stage 2 runs a PINNED
  *     7-rule suffix stripper ([[Ext61.stemSql]] — sses/ies/ss/s/ing/
  *     ed/ly with minimum-length guards, first rule wins, applied
  *     once), ONE SQL string evaluated verbatim by BOTH engines so the
  *     spellings cannot drift.
  *   - ALIGNMENT. Per stage, the i-th occurrence of a word in the
  *     candidate pairs with the i-th occurrence in the reference (the
  *     occurrence-index equi-join — deterministic, and it achieves the
  *     per-stage MAXIMUM match count Σ_w min(c_w, r_w) exactly like
  *     real METEOR's max-matching phase). Stage 2 re-indexes only the
  *     RESIDUAL (stage-1-unmatched) occurrences on their stems. The
  *     chunk count is then read off THIS alignment (a break wherever
  *     consecutive candidate matches are not consecutive-and-ordered
  *     in the reference) — real METEOR searches alignments to MINIMIZE
  *     chunks; ours is the documented monotone-per-word deviation
  *     (same class of bounded deviation as x170 TER's greedy shifts).
  *   - SCORE. Exact rationals end to end: with m = matches, nc = |cand|,
  *     nr = |ref|, F_mean = 10PR/(R+9P) collapses to 10m/(nc+9nr) —
  *     f_ppm = 1e7·m div (nc+9nr); Penalty = 0.5·(ch/m)³ —
  *     pen_ppm = 5e5·ch³ div m³ (ch ≤ m so pen ≤ 0.5 by construction);
  *     score_ppm = f_ppm·(1e6 − pen_ppm) div 1e6. Zero-match pairs
  *     score 0 (both engines). LongType with the documented headroom:
  *     5e5·m³ wraps past ~2.6e4 tokens per document — the x151
  *     fixed-point boundary, loud under the pinned ANSI arithmetic.
  *
  * Pairing is the x152 convention (candidate = odd doc_id, reference =
  * doc_id − 1), rollup per candidate source: n_pairs, stage match
  * sums, chunk sum, length sums, and the macro mean score (Σ per-pair
  * score div n_pairs — per-pair floors, documented).
  *
  * Scale shape: one pair equi-join co-partitioned on pair_id; two
  * posexplodes; occurrence indexes are row_number windows partitioned
  * by (pair_id, token) — doc-length-bounded groups, never a global
  * window; the stage joins are (pair_id, token, occ) equi-joins
  * (inverted-index shaped, cost tracks matching tokens); the chunk
  * window is per-pair. Everything partial-aggregable to |sources|
  * rows. The pair/token frames are not persisted: their two consumers
  * (stage-1 join + residual anti-join) share each frame's exchange, so
  * AQE stage reuse dedupes them (round 15, BENCH_AB_r15_r11persists.json).
  */
object Ext61 {

  /** The pinned stem-lite rule list — ONE spelling, both engines parse
    * it verbatim (Spark `expr` and DuckDB agree on CASE/LIKE/substr/
    * length/concat). Input column must be named `tok`. */
  private[graft] val stemSql: String =
    """CASE WHEN tok LIKE '%sses' THEN substr(tok, 1, length(tok) - 2)
      | WHEN tok LIKE '%ies' THEN concat(substr(tok, 1, length(tok) - 3),
      |   'y')
      | WHEN tok LIKE '%ss' THEN tok
      | WHEN tok LIKE '%s' AND length(tok) >= 4
      |   THEN substr(tok, 1, length(tok) - 1)
      | WHEN tok LIKE '%ing' AND length(tok) >= 6
      |   THEN substr(tok, 1, length(tok) - 3)
      | WHEN tok LIKE '%ed' AND length(tok) >= 5
      |   THEN substr(tok, 1, length(tok) - 2)
      | WHEN tok LIKE '%ly' AND length(tok) >= 5
      |   THEN substr(tok, 1, length(tok) - 2)
      | ELSE tok END""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Round 15: persists dropped (BENCH_AB_r15_r11persists.json, 0.42 vs
    // 0.55 s min same-boot) — the persisted frames' consumers share
    // their exchanges, AQE stage reuse dedupes persist-free.
    "x189_meteor_lite" -> ((s, d) => meteorLite(s, d)))

  /** x189 body. */
  private def meteorLite(s: SparkSession, d: String): DataFrame = {
      val docs = documents(s, d)
        .select(col("doc_id"), col("source"),
          TextOps.words(col("text")).as("w"))
      val cand = docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id").as("pair_id"), col("source"), col("w"))
      val ref = docs.filter(col("doc_id") % 2 === 0)
        .select((col("doc_id") + 1L).as("pair_id"), col("w").as("rw"))
      val pairs = cand.join(ref, Seq("pair_id"))

      def occIdx(df: DataFrame, posCol: String, keyCol: String) =
        df.withColumn("occ", row_number().over(Window
          .partitionBy(col("pair_id"), col(keyCol))
          .orderBy(col(posCol))).cast("long"))

      val ct = occIdx(pairs.select(col("pair_id"),
          posexplode(col("w")).as(Seq("cpos", "tok"))), "cpos", "tok")
      val rt = occIdx(pairs.select(col("pair_id"),
          posexplode(col("rw")).as(Seq("rpos", "tok"))), "rpos", "tok")

      val m1 = ct.join(rt, Seq("pair_id", "tok", "occ"))
        .select(col("pair_id"), col("cpos"), col("rpos"))

      def residual(tf: DataFrame, posCol: String) =
        occIdx(
          tf.join(m1.select(col("pair_id"), col(posCol)),
              Seq("pair_id", posCol), "left_anti")
            .select(col("pair_id"), col(posCol),
              expr(stemSql).as("st")),
          posCol, "st")
      val m2 = residual(ct, "cpos")
        .join(residual(rt, "rpos"), Seq("pair_id", "st", "occ"))
        .select(col("pair_id"), col("cpos"), col("rpos"))

      val matches = m1.select(col("pair_id"), col("cpos"), col("rpos"),
          lit(1L).as("stg"))
        .unionByName(m2.select(col("pair_id"), col("cpos"), col("rpos"),
          lit(2L).as("stg")))
      val wPair = Window.partitionBy(col("pair_id")).orderBy(col("cpos"))
      val brk = matches.select(col("pair_id"), col("stg"),
        when(coalesce(
          (col("cpos") === lag(col("cpos"), 1).over(wPair) + 1) &&
            (col("rpos") === lag(col("rpos"), 1).over(wPair) + 1),
          lit(false)), 0L).otherwise(1L).as("brk"))
      val perPair = brk.groupBy(col("pair_id"))
        .agg(count(lit(1)).as("m"),
          sum(when(col("stg") === 1L, 1L).otherwise(0L)).as("m1c"),
          sum(col("brk")).as("ch"))

      val pp = pairs
        .select(col("pair_id"), col("source"),
          size(col("w")).cast("long").as("nc"),
          size(col("rw")).cast("long").as("nr"))
        .join(perPair, Seq("pair_id"), "left")
        .select(col("source"),
          coalesce(col("m"), lit(0L)).as("m"),
          coalesce(col("m1c"), lit(0L)).as("m1c"),
          coalesce(col("ch"), lit(0L)).as("ch"),
          col("nc"), col("nr"))
        .select(col("source"), col("m"), col("m1c"), col("ch"),
          col("nc"), col("nr"),
          expr("""CASE WHEN m = 0 THEN 0L ELSE
                 |  (10000000L * m div greatest(nc + 9L * nr, 1L))
                 |  * (1000000L - 500000L * ch * ch * ch div (m * m * m))
                 |  div 1000000L END""".stripMargin).as("score_ppm"))
      pp.groupBy(col("source"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("m1c")).as("m_exact"),
          sum(col("m") - col("m1c")).as("m_stem"),
          sum(col("ch")).as("n_chunks"),
          sum(col("nc")).as("cand_len"),
          sum(col("nr")).as("ref_len"),
          expr("sum(score_ppm) div count(1)").as("meteor_mean_ppm"))
        .orderBy(col("source"))
  }

  val oracleSql: Map[String, String] = Map(

    "x189_meteor_lite" -> {
      // DuckDB spelling of the same pipeline; positions are 1-based
      // (range/unnest) vs Spark's 0-based posexplode — only relative
      // order and adjacency matter, both invariant under the shift.
      val stem = stemSql.replace("\n", "\n  ")
      s"""WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS w
         |    FROM documents),
         |pairs AS MATERIALIZED (SELECT c.doc_id AS pair_id, c.source,
         |    c.w AS cw, r.w AS rw
         |  FROM (SELECT * FROM d WHERE doc_id % 2 = 1) c
         |  JOIN (SELECT doc_id + 1 AS pid, w FROM d WHERE doc_id % 2 = 0) r
         |    ON c.doc_id = r.pid),
         |ct AS MATERIALIZED (SELECT pair_id, cw[i] AS tok,
         |    CAST(i AS BIGINT) AS cpos,
         |    CAST(row_number() OVER (PARTITION BY pair_id, cw[i]
         |      ORDER BY i) AS BIGINT) AS occ
         |  FROM (SELECT pair_id, cw, unnest(range(1, len(cw) + 1)) AS i
         |    FROM pairs)),
         |rt AS MATERIALIZED (SELECT pair_id, rw[i] AS tok,
         |    CAST(i AS BIGINT) AS rpos,
         |    CAST(row_number() OVER (PARTITION BY pair_id, rw[i]
         |      ORDER BY i) AS BIGINT) AS occ
         |  FROM (SELECT pair_id, rw, unnest(range(1, len(rw) + 1)) AS i
         |    FROM pairs)),
         |m1 AS MATERIALIZED (SELECT ct.pair_id, ct.cpos, rt.rpos
         |  FROM ct JOIN rt ON ct.pair_id = rt.pair_id
         |    AND ct.tok = rt.tok AND ct.occ = rt.occ),
         |cres AS (SELECT pair_id, cpos, st,
         |    CAST(row_number() OVER (PARTITION BY pair_id, st
         |      ORDER BY cpos) AS BIGINT) AS occ
         |  FROM (SELECT ct.pair_id, ct.cpos, $stem AS st
         |    FROM ct ANTI JOIN m1 ON ct.pair_id = m1.pair_id
         |      AND ct.cpos = m1.cpos)),
         |rres AS (SELECT pair_id, rpos, st,
         |    CAST(row_number() OVER (PARTITION BY pair_id, st
         |      ORDER BY rpos) AS BIGINT) AS occ
         |  FROM (SELECT rt.pair_id, rt.rpos, $stem AS st
         |    FROM rt ANTI JOIN m1 ON rt.pair_id = m1.pair_id
         |      AND rt.rpos = m1.rpos)),
         |mm AS MATERIALIZED (
         |  SELECT pair_id, cpos, rpos, 1 AS stg FROM m1
         |  UNION ALL
         |  SELECT cres.pair_id, cres.cpos, rres.rpos, 2 AS stg
         |  FROM cres JOIN rres ON cres.pair_id = rres.pair_id
         |    AND cres.st = rres.st AND cres.occ = rres.occ),
         |bk AS (SELECT pair_id, stg,
         |    CASE WHEN coalesce(
         |        cpos = lag(cpos) OVER (PARTITION BY pair_id
         |          ORDER BY cpos) + 1
         |        AND rpos = lag(rpos) OVER (PARTITION BY pair_id
         |          ORDER BY cpos) + 1, false)
         |      THEN 0 ELSE 1 END AS brk
         |  FROM mm),
         |pg AS (SELECT pair_id, CAST(count(*) AS BIGINT) AS m,
         |    CAST(sum(CASE WHEN stg = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS m1c,
         |    CAST(sum(brk) AS BIGINT) AS ch
         |  FROM bk GROUP BY pair_id),
         |pp AS (SELECT source,
         |    coalesce(m, 0) AS m, coalesce(m1c, 0) AS m1c,
         |    coalesce(ch, 0) AS ch,
         |    CAST(len(cw) AS BIGINT) AS nc, CAST(len(rw) AS BIGINT) AS nr
         |  FROM pairs LEFT JOIN pg USING (pair_id)),
         |sc AS (SELECT source, m, m1c, ch, nc, nr,
         |    CASE WHEN m = 0 THEN 0 ELSE
         |      (10000000 * m // greatest(nc + 9 * nr, 1))
         |      * (1000000 - 500000 * ch * ch * ch // (m * m * m))
         |      // 1000000 END AS score_ppm
         |  FROM pp)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(m1c) AS BIGINT) AS m_exact,
         |  CAST(sum(m - m1c) AS BIGINT) AS m_stem,
         |  CAST(sum(ch) AS BIGINT) AS n_chunks,
         |  CAST(sum(nc) AS BIGINT) AS cand_len,
         |  CAST(sum(nr) AS BIGINT) AS ref_len,
         |  CAST(sum(score_ppm) // count(*) AS BIGINT) AS meteor_mean_ppm
         |FROM sc GROUP BY source ORDER BY source""".stripMargin
    })
}
