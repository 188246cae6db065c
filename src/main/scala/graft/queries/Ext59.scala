package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables._
import graft.ingest.GlobalSeq

/** Round-10 batch 9: x182 Adjusted Rand Index + Fowlkes–Mallows — the
  * two standard CHANCE-AWARE partition-agreement scores between the
  * IVF Voronoi cells and the label clustering, completing the external
  * cluster-evaluation family next to x106 (purity + plain Rand: both
  * inflate as cluster count grows; ARI corrects by the hypergeometric
  * expectation, FM by the geometric mean of the marginal pair counts).
  *
  * Pure pair-counting combinatorics on the shared (cell, label)
  * contingency ([[Ext28.cellLabelContingency]] — one helper, never a
  * copy). With T = C(n,2), TP = Σ_ij C(n_ij,2), RowP = Σ C(a_i,2),
  * ColP = Σ C(b_j,2):
  *
  *   ARI = 2·(T·TP − RowP·ColP) / (T·(RowP + ColP) − 2·RowP·ColP)
  *   FM  = TP / sqrt(RowP·ColP)
  *
  * — ARI exact rational in ONE signed ppm floor (sign handled
  * explicitly via the x160 −((−num)·1e6 div den) spelling; verified
  * round 11: DuckDB's // ALSO truncates toward zero (−7 // 2 = −3,
  * HUGEINT included), so the sign-split is not semantically required
  * — it is kept only as the family's defensive parity convention so
  * no query's correctness ever rests on an engine's division
  * rounding); FM via
  * one 1e12-space floor + the exact integer sqrt pair (driver BigInt
  * Newton / the shared [[Ext49.newtonIsqrtCtes]] HUGEINT chain).
  *
  * Scale shape: the contingency groupBy is the only corpus-scale work
  * (K·|labels| groups); the closure is O(K·|labels|) driver BigInt.
  * Magnitudes: T·TP ≤ ~4e12 at sf0.1, ×1e6 borderline BIGINT —
  * BigInt/HUGEINT throughout (documented).
  */
object Ext59 {

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    queries1 ++ queries2

  private val queries1: Map[String, (SparkSession, String) => DataFrame] =
    Map(

    "x182_adjusted_rand" -> ((s, d) => {
      val ct = Ext28.cellLabelContingency(s, d).collect()
      def c2(x: BigInt): BigInt = x * (x - 1) / 2
      val n = ct.map(r => BigInt(r.getLong(2))).sum
      val tp = ct.map(r => c2(BigInt(r.getLong(2)))).sum
      val rowP = ct.groupBy(_.getInt(0)).values
        .map(rs => c2(rs.map(r => BigInt(r.getLong(2))).sum)).sum
      val colP = ct.groupBy(_.getInt(1)).values
        .map(rs => c2(rs.map(r => BigInt(r.getLong(2))).sum)).sum
      val t = c2(n)
      val M = BigInt(1000000)
      val num = (t * tp - rowP * colP) * 2
      val den = (t * (rowP + colP) - 2 * rowP * colP).max(1)
      val ari =
        if (num < 0) -((-num) * M / den) else num * M / den
      val fmX = BigInt("1000000000000") * tp * tp / (rowP * colP).max(1)
      val fm = Ext49.isqrt(fmX)
      import s.implicits._
      Seq((n.toLong, tp.toLong, rowP.toLong, colP.toLong,
        ari.toLong, fm.toLong))
        .toDF("n", "tp_pairs", "rows_p", "cols_p", "ari_ppm", "fm_ppm")
    }),

    // X186 B-CUBED PRECISION/RECALL/F (Bagga & Baldwin 1998): the
    // per-ELEMENT clustering agreement score — unlike the pair-counting
    // family (x106 Rand, x182 ARI/FM), B³ weights every element's own
    // neighborhood, the standard for coreference/dedup-cluster eval.
    // The O(n²) per-element definition collapses to the contingency
    // identity P = (1/n)Σ_ij n_ij²/a_i, R = (1/n)Σ_ij n_ij²/b_j
    // (fraction-exact, spec-pinned); spelled with per-group ×1e6
    // floors (≤ 1 ppm, the x177 convention) + one harmonic floor for
    // F. Same shared contingency, same O(K·|labels|) driver closure.
    "x186_bcubed" -> ((s, d) => {
      val ct = Ext28.cellLabelContingency(s, d).collect()
      val M = BigInt(1000000)
      val n = ct.map(r => BigInt(r.getLong(2))).sum
      def side(group: org.apache.spark.sql.Row => Any): BigInt =
        ct.groupBy(group).values.map { rs =>
          val q = rs.map(r => BigInt(r.getLong(2)) * r.getLong(2)).sum
          q * M / rs.map(r => BigInt(r.getLong(2))).sum
        }.sum / n.max(1)
      val p6 = side(_.getInt(0))
      val r6 = side(_.getInt(1))
      val f6 = 2 * p6 * r6 / (p6 + r6).max(1)
      import s.implicits._
      Seq((n.toLong, p6.toLong, r6.toLong, f6.toLong))
        .toDF("n", "bcubed_p_ppm", "bcubed_r_ppm", "bcubed_f_ppm")
    }),

    // X183 WILCOXON SIGNED-RANK (1945): the PAIRED-sample location test
    // next to x164's unpaired Mann–Whitney — is doc 2k+1 systematically
    // longer than its x152-convention partner doc 2k? Zero diffs drop
    // (the standard treatment); |diff| ranks are the DETERMINISTIC
    // total order row_number over (|diff|, pair_id) — the x158 tie
    // convention, documented, never average ranks. W+ = Σ ranks of
    // positive diffs; the normal-approximation z rides the exact
    // identity z² = 3·(4W+ − n(n+1))² / (2n(n+1)(2n+1)) — ONE 1e12
    // floor + the exact isqrt pair, sign from 4W+ − n(n+1).
    // Scale shape: the pair equi-join + a GlobalSeq rank (range sort +
    // O(P) offsets — never a single-task window) + one 1-row agg;
    // O(1) driver closure. 1e12·3·s² ≤ ~2e27 at sf0.1 —
    // HUGEINT/BigInt (documented).
    "x183_wilcoxon_signed_rank" -> ((s, d) => wilcoxon(s, d)))

  /** x183 body. The pair frame is persisted: nPairs is a separate action
    * from the ranked agg, and without the persist the scan + pair
    * equi-join ran twice per query (ADVICE r10,
    * BENCH_AB_r11_x183persist.json). */
  private def wilcoxon(s: SparkSession, d: String): DataFrame = {
      import graft.GraftCaches.TrackedPersist
      val v = documents(s, d)
        .select(col("doc_id"),
          expr("size(split(text, ' '))").cast("long").as("v"))
      val p = v.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id").as("pair_id"), col("v").as("va"))
        .join(v.select((col("doc_id") - 1L).as("pair_id"),
          col("v").as("vb")), Seq("pair_id"))
        .select(col("pair_id"), (col("vb") - col("va")).as("diff"))
        .persistTracked()
      val nPairs = p.count()
      val ranked = GlobalSeq.withSeq(
          p.filter(col("diff") =!= 0L)
            .select(col("pair_id"), col("diff"), abs(col("diff")).as("ad")),
          Seq(col("ad"), col("pair_id")), "z0")
        .select(col("diff"), (col("z0") + 1L).as("rnk"))
      val r = ranked.agg(count(lit(1)).as("n"),
          coalesce(sum(when(col("diff") > 0, col("rnk")).otherwise(0L)),
            lit(0L)).as("wplus")).head()
      val n = BigInt(r.getLong(0)); val wplus = BigInt(r.getLong(1))
      val wminus = n * (n + 1) / 2 - wplus
      val sgn = 4 * wplus - n * (n + 1)
      val x = BigInt("1000000000000") * 3 * sgn * sgn /
        (2 * n * (n + 1) * (2 * n + 1)).max(1)
      val z = if (sgn < 0) -Ext49.isqrt(x) else Ext49.isqrt(x)
      import s.implicits._
      Seq((nPairs, n.toLong, wplus.toLong, wminus.toLong, z.toLong))
        .toDF("n_pairs", "n_nonzero", "w_plus", "w_minus", "z_ppm")
  }

  private val queries2: Map[String, (SparkSession, String) => DataFrame] =
    Map(

    // X184 BROWN–FORSYTHE variance-equality test (1974; Levene's test
    // on |v − group MEDIAN|): do the per-lang token-count SPREADS
    // differ — the scale-family counterpart to x180's location effect
    // (a t/d comparison is only calibrated under equal variances; this
    // is the test that checks it, median-centered so heavy tails don't
    // inflate it). One-way ANOVA F over z = |v − med_g| rides the x177
    // scatter identities (B = ΣS_g²/n_g − S²/N, W = Σz² − ΣS_g²/n_g)
    // with the same per-group ×1e6 floor spelling. The group median is
    // the nearest-rank LOWER median ((n+1) div 2) computed on the
    // VALUE-KEYED histogram — the cumulative window orders ≤ |token
    // domain| rows per lang (the x157/x126 value-bounded convention),
    // never corpus rows. Corpus work: two scans (histogram, then z
    // sums against the broadcast 5-row median frame); O(k) driver
    // BigInt closure.
    "x184_brown_forsythe" -> ((s, d) => {
      val v = documents(s, d)
        .select(col("lang"),
          expr("size(split(text, ' '))").cast("long").as("v"))
      val hist = v.groupBy(col("lang"), col("v"))
        .agg(count(lit(1)).as("cnt"))
      val byLang = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("v"))
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, org.apache.spark.sql.expressions.Window
          .currentRow)
      val nG = hist.groupBy(col("lang")).agg(sum(col("cnt")).as("n_g"))
      val med = hist
        .withColumn("cum", sum(col("cnt")).over(byLang))
        .join(broadcast(nG), Seq("lang"))
        .filter(col("cum") >= expr("(n_g + 1L) div 2L"))
        .groupBy(col("lang")).agg(min(col("v")).as("m"))
      val sg = v.join(broadcast(med), Seq("lang"))
        .select(col("lang"), abs(col("v") - col("m")).as("z"))
        .groupBy(col("lang"))
        .agg(sum(col("z")).as("s"), sum(expr("z * z")).as("q"),
          count(lit(1)).as("n_g"))
        .collect()
      val M = BigInt(1000000)
      val n = sg.map(r => BigInt(r.getLong(3))).sum
      val k = BigInt(sg.length)
      val t = sg.map(r => BigInt(r.getLong(2))).sum
      val a6 = sg.map(r =>
        BigInt(r.getLong(1)) * r.getLong(1) * M / r.getLong(3)).sum
      val ss = sg.map(r => BigInt(r.getLong(1))).sum
      val b6 = a6 - ss * ss * M / n.max(1)
      val w6 = t * M - a6
      val f = b6 * (n - k) * M / (w6.max(1) * (k - 1).max(1))
      import s.implicits._
      Seq((n.toLong, k.toLong, b6.toLong, w6.toLong, f.toLong))
        .toDF("n", "k", "b_x1e6", "w_x1e6", "f_ppm")
    }))

  val oracleSql: Map[String, String] = Map(

    "x186_bcubed" ->
      s"""WITH ${Ext28.cellContingencySql},
         |nn AS (SELECT CAST(sum(n_cl) AS HUGEINT) AS n FROM ct),
         |pc AS (SELECT cell, CAST(sum(n_cl * n_cl) AS HUGEINT) AS q,
         |    CAST(sum(n_cl) AS HUGEINT) AS a FROM ct GROUP BY cell),
         |rc AS (SELECT label, CAST(sum(n_cl * n_cl) AS HUGEINT) AS q,
         |    CAST(sum(n_cl) AS HUGEINT) AS b FROM ct GROUP BY label),
         |p6 AS (SELECT sum(q * 1000000 // a) // (SELECT n FROM nn) AS p
         |  FROM pc),
         |r6 AS (SELECT sum(q * 1000000 // b) // (SELECT n FROM nn) AS r
         |  FROM rc)
         |SELECT CAST((SELECT n FROM nn) AS BIGINT) AS n,
         |  CAST(p AS BIGINT) AS bcubed_p_ppm,
         |  CAST(r AS BIGINT) AS bcubed_r_ppm,
         |  CAST(2 * p * r // greatest(p + r, 1) AS BIGINT) AS bcubed_f_ppm
         |FROM p6, r6""".stripMargin,

    "x182_adjusted_rand" ->
      s"""WITH ${Ext28.cellContingencySql},
         |tp AS (SELECT CAST(sum(n_cl) AS HUGEINT) AS nn,
         |    CAST(sum(n_cl * (n_cl - 1) // 2) AS HUGEINT) AS tp FROM ct),
         |rp AS (SELECT CAST(sum(nc * (nc - 1) // 2) AS HUGEINT) AS rows_p
         |  FROM (SELECT sum(n_cl) AS nc FROM ct GROUP BY cell)),
         |cp AS (SELECT CAST(sum(nl * (nl - 1) // 2) AS HUGEINT) AS cols_p
         |  FROM (SELECT sum(n_cl) AS nl FROM ct GROUP BY label)),
         |dd AS (SELECT nn, tp, rows_p, cols_p,
         |    nn * (nn - 1) // 2 AS t,
         |    ((nn * (nn - 1) // 2) * tp - rows_p * cols_p) * 2 AS num,
         |    greatest((nn * (nn - 1) // 2) * (rows_p + cols_p)
         |      - 2 * rows_p * cols_p, 1) AS den
         |  FROM tp, rp, cp),
         |xx AS (SELECT *,
         |    1000000000000 * tp * tp // greatest(rows_p * cols_p, 1) AS x
         |  FROM dd),
         |${Ext49.newtonIsqrtCtes("xx", "x")}
         |SELECT CAST(nn AS BIGINT) AS n, CAST(tp AS BIGINT) AS tp_pairs,
         |  CAST(rows_p AS BIGINT) AS rows_p,
         |  CAST(cols_p AS BIGINT) AS cols_p,
         |  CAST(CASE WHEN num < 0 THEN -((-num) * 1000000 // den)
         |       ELSE num * 1000000 // den END AS BIGINT) AS ari_ppm,
         |  CAST(r AS BIGINT) AS fm_ppm
         |FROM rt3_""".stripMargin,

    "x183_wilcoxon_signed_rank" ->
      s"""WITH v AS (SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS v
         |  FROM documents),
         |p AS (SELECT a.doc_id AS pair_id, b.v - a.v AS diff
         |  FROM v a JOIN v b
         |    ON a.doc_id % 2 = 0 AND b.doc_id = a.doc_id + 1),
         |nz AS (SELECT pair_id, diff,
         |    CAST(row_number() OVER (ORDER BY abs(diff), pair_id)
         |      AS HUGEINT) AS rnk
         |  FROM p WHERE diff <> 0),
         |ag AS (SELECT
         |    (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_pairs,
         |    CAST(count(*) AS HUGEINT) AS n,
         |    CAST(coalesce(sum(CASE WHEN diff > 0 THEN rnk ELSE 0 END),
         |      0) AS HUGEINT) AS wplus
         |  FROM nz),
         |dd AS (SELECT *, n * (n + 1) // 2 - wplus AS wminus,
         |    4 * wplus - n * (n + 1) AS s FROM ag),
         |xx AS (SELECT *, (1000000000000 * 3 * s * s)
         |    // greatest(2 * n * (n + 1) * (2 * n + 1), 1) AS x FROM dd),
         |${Ext49.newtonIsqrtCtes("xx", "x")}
         |SELECT n_pairs, CAST(n AS BIGINT) AS n_nonzero,
         |  CAST(wplus AS BIGINT) AS w_plus,
         |  CAST(wminus AS BIGINT) AS w_minus,
         |  CAST(CASE WHEN s < 0 THEN -r ELSE r END AS BIGINT) AS z_ppm
         |FROM rt3_""".stripMargin,

    "x184_brown_forsythe" ->
      """WITH v AS (SELECT lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS v
        |  FROM documents),
        |med AS (SELECT lang, v AS m FROM (
        |    SELECT lang, v,
        |      row_number() OVER (PARTITION BY lang ORDER BY v) AS rn,
        |      count(*) OVER (PARTITION BY lang) AS n FROM v)
        |  WHERE rn = (n + 1) // 2),
        |z AS (SELECT v.lang, abs(v.v - med.m) AS z FROM v
        |  JOIN med ON v.lang = med.lang),
        |sg AS (SELECT lang, CAST(sum(z) AS HUGEINT) AS s,
        |    CAST(sum(z * z) AS HUGEINT) AS q,
        |    CAST(count(*) AS HUGEINT) AS n_g
        |  FROM z GROUP BY lang),
        |ag AS (SELECT CAST(sum(n_g) AS HUGEINT) AS n,
        |    CAST(count(*) AS HUGEINT) AS k,
        |    sum((s * s * 1000000) // n_g) AS a6,
        |    sum(q) AS t, sum(s) AS ss FROM sg)
        |SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
        |  CAST(a6 - (ss * ss * 1000000) // n AS BIGINT) AS b_x1e6,
        |  CAST(t * 1000000 - a6 AS BIGINT) AS w_x1e6,
        |  CAST(((a6 - (ss * ss * 1000000) // n) * (n - k) * 1000000)
        |    // (greatest(t * 1000000 - a6, 1) * greatest(k - 1, 1))
        |    AS BIGINT) AS f_ppm
        |FROM ag""".stripMargin)
}
