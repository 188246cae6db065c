package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ext.TextOps
import graft.tables.Tables._

/** Round-11 batch 1: the k-sample RANK tests — the two members the
  * statistics catalog was missing next to its 2-sample rank tests
  * (x164 Mann–Whitney, x183 Wilcoxon signed-rank) and its k-sample
  * binary/variance tests (x185 Cochran's Q, x184 Brown–Forsythe):
  *
  *   - x187 Kruskal–Wallis H (1952): do the k per-lang token-count
  *     distributions differ in location — the k-sample Mann–Whitney,
  *     the first test a data-quality user reaches for when comparing
  *     MORE than two sources. Midranks come from the x164 value-keyed
  *     histogram shape kept EXACT by doubling: an observation at value
  *     v has doubled midrank 2·cum_less(v) + tv(v) + 1, so
  *     2·R_g = Σ_v cnt_{g,v}·(2·cl + tv + 1) — no per-row ranking, no
  *     corpus-scale window (the cumulative window orders the
  *     value-BOUNDED distinct frame, the x157/x126 convention). With
  *     the tie correction C = 1 − ΣT/(N³−N), T = Σ_v (tv³ − tv):
  *
  *       H = [12·Σ_g R_g²/n_g / (N(N+1)) − 3(N+1)] / C
  *         = [3·Σ_g (2R_g)²/n_g − 3(N+1)·N(N+1)]·(N³−N)
  *             / [N(N+1)·(N³−N−ΣT)]
  *
  *     spelled with per-group ×1e6 floors (rr6 = Σ_g (2R_g)²·1e6 div
  *     n_g — k floors, ≤ 1 ppm each: the x177/x184 convention) + the
  *     final floor; the floored numerator can sit a few ppm-units
  *     below 0 where true H ≈ 0, so the ppm division takes the
  *     family's defensive sign-split spelling.
  *   - x188 Friedman (1937): k PAIRED samples — the rank sibling of
  *     x185's Cochran's Q exactly as x183 is the paired sibling of
  *     x164. Blocks are documents; treatments are the THREE shared
  *     hashed scorers (the x179/x185 panel: [[Ext33.ScorerMult]],
  *     [[Ext57.McnemarMultB]], [[Ext57.CochranMultC]]) ranked WITHIN
  *     each row on their RAW weight sums — "do the three weight mixes
  *     score systematically differently on the same documents".
  *     Doubled within-row midranks are closed-form at k = 3
  *     (2r_j = 2·#less_j + #eq_j + 2, Σ_j 2r_j = 12 per row under any
  *     ties), and the per-row tie term Σ(t³−t) enumerates the three
  *     tie shapes (all equal → 24, one pair → 6, else 0). With the
  *     scipy-convention tie correction c = 1 − ΣT/(n·k·(k²−1)):
  *
  *       χ²_F = [12·Σ_j R_j² − 3·n²·k·(k+1)²] · 2 / (24n − ΣT)
  *            = [3·Σ_j (2R_j)² − 144·n²] · 2 / (24n − ΣT)   (k = 3)
  *
  *     — EXACT: no per-group floors at all (the k denominators cancel
  *     because every block has the same k), one final ppm floor, and
  *     the numerator is ≥ 0 by Cauchy–Schwarz (Σ(2R_j)² ≥ (12n)²/3).
  *
  * Scale shapes: x187 is one corpus scan → (lang, value) histogram
  * (map-side absorbable) → value-bounded cumulative window → k-row
  * driver BigInt closure; x188 is one corpus scan (three per-row
  * folds, the x185 pass) → a 1-row agg → O(1) driver BigInt.
  * Magnitudes (documented): x187's (2R_g)²·1e6 ≤ 4e6·N⁴ and
  * num·(N³−N) ~ 1e30 at sf0.1 — driver BigInt / oracle HUGEINT;
  * engine-side distributed sums are kept linear (r2g and the tie cube
  * ride decimal(38,0) so a single ≥2.1e6-row tie group cannot wrap
  * BIGINT); x188's engine-side sums are ≤ 6n (squares happen in
  * driver BigInt), scale-safe by construction.
  */
object Ext60 {

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    queries1 ++ queries2

  private val queries1: Map[String, (SparkSession, String) => DataFrame] =
    Map(

    // Round 15: persists dropped (BENCH_AB_r15_r11persists.json, 0.83 vs
    // 1.12 s min same-boot) — hist and cum are exchange-topped, so AQE
    // stage reuse dedupes their consumers persist-free; the r11
    // "corpus scan re-runs per consumer" rationale predated that insight.
    "x187_kruskal_wallis" -> ((s, d) => kruskalWallis(s, d)))

  /** x187 body. */
  private def kruskalWallis(s: SparkSession, d: String): DataFrame = {
      val v = documents(s, d)
        .select(col("lang"),
          expr("size(split(text, ' '))").cast("long").as("v"))
      val hist = v.groupBy(col("lang"), col("v"))
        .agg(count(lit(1)).as("cnt"))
      val byV = hist.groupBy(col("v")).agg(sum(col("cnt")).as("tv"))
      val wLess = Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val cum = byV.select(col("v"), col("tv"),
        coalesce(sum(col("tv")).over(wLess), lit(0L)).as("cl"))
      val tieT = BigInt(cum.agg(coalesce(sum(
          expr("cast(tv as decimal(38,0)) * tv * tv - tv")),
          expr("cast(0 as decimal(38,0))")).as("t"))
        .head().getDecimal(0).toBigInteger)
      val rg = hist.join(broadcast(cum), Seq("v"))
        .groupBy(col("lang"))
        .agg(sum(expr("cast(cnt as decimal(38,0)) * (2L*cl + tv + 1L)"))
          .as("r2g"),
          sum(col("cnt")).as("n_g"))
        .collect() // k rows — lang-bounded
      val M = BigInt(1000000)
      val n = rg.map(r => BigInt(r.getLong(2))).sum
      val k = BigInt(rg.length)
      val rr6 = rg.map { r =>
        val r2 = BigInt(r.getDecimal(1).toBigInteger)
        r2 * r2 * M / BigInt(r.getLong(2)).max(1)
      }.sum
      val num = 3 * rr6 - 3 * M * n * (n + 1) * (n + 1)
      val d1 = (n * (n + 1)).max(1)
      val nn3 = n * n * n - n
      val corr = (nn3 - tieT).max(1)
      def sdiv(a: BigInt, b: BigInt): BigInt =
        if (a < 0) -((-a) / b) else a / b
      val hUnc = sdiv(num, d1)
      val h = sdiv(num * nn3, d1 * corr)
      import s.implicits._
      // longValueExact, not toLong: past the ~2.1e6-row tie-group
      // boundary the oracle's CAST(... AS BIGINT) errors loudly;
      // silent BigInt wrap-around here would diverge quietly instead.
      def exact(b: BigInt): Long = b.bigInteger.longValueExact()
      Seq((exact(n), exact(k), exact(tieT), exact(hUnc), exact(h)))
        .toDF("n", "k", "tie_t", "h_unc_ppm", "h_ppm")
  }

  private val queries2: Map[String, (SparkSession, String) => DataFrame] =
    Map(

    "x188_friedman" -> ((s, d) => {
      val sc = documents(s, d)
        .select(TextOps.words(col("text")).as("w"))
        .select(Ext33.sumWCol(Ext33.ScorerMult).as("s_0"),
          Ext33.sumWCol(Ext57.McnemarMultB).as("s_1"),
          Ext33.sumWCol(Ext57.CochranMultC).as("s_2"))
      def r2(j: Int, a: Int, b: Int) = expr(
        s"""2L * ((CASE WHEN s_$a < s_$j THEN 1L ELSE 0L END)
           |    + (CASE WHEN s_$b < s_$j THEN 1L ELSE 0L END))
           |  + (CASE WHEN s_$a = s_$j THEN 1L ELSE 0L END)
           |  + (CASE WHEN s_$b = s_$j THEN 1L ELSE 0L END) + 2L"""
          .stripMargin)
      val tRow = expr(
        """CASE WHEN s_0 = s_1 AND s_0 = s_2 THEN 24L
          |  WHEN s_0 = s_1 OR s_0 = s_2 OR s_1 = s_2 THEN 6L
          |  ELSE 0L END""".stripMargin)
      val r = sc.select(r2(0, 1, 2).as("r0"), r2(1, 0, 2).as("r1"),
          r2(2, 0, 1).as("r2"), tRow.as("t"))
        .agg(count(lit(1)).as("n"),
          coalesce(sum(col("r0")), lit(0L)).as("sa"),
          coalesce(sum(col("r1")), lit(0L)).as("sb"),
          coalesce(sum(col("r2")), lit(0L)).as("sc"),
          coalesce(sum(col("t")), lit(0L)).as("tt"))
        .head()
      val n = BigInt(r.getLong(0))
      val sa = BigInt(r.getLong(1)); val sb = BigInt(r.getLong(2))
      val sc2 = BigInt(r.getLong(3)); val tT = BigInt(r.getLong(4))
      val num = 3 * (sa * sa + sb * sb + sc2 * sc2) - 144 * n * n
      val chi2 = num * 2 * BigInt(1000000) / (24 * n - tT).max(1)
      import s.implicits._
      Seq((n.toLong, sa.toLong, sb.toLong, sc2.toLong, tT.toLong,
        chi2.toLong))
        .toDF("n", "s2_a", "s2_b", "s2_c", "tie_t", "chi2_ppm")
    }))

  val oracleSql: Map[String, String] = Map(

    "x187_kruskal_wallis" ->
      """WITH v AS (SELECT lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS v
        |  FROM documents),
        |h AS (SELECT lang, v, CAST(count(*) AS HUGEINT) AS cnt
        |  FROM v GROUP BY lang, v),
        |bv AS (SELECT v, sum(cnt) AS tv FROM h GROUP BY v),
        |cm AS (SELECT v, tv, coalesce(sum(tv) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cl
        |  FROM bv),
        |tt AS (SELECT coalesce(sum(tv * tv * tv - tv), 0) AS t FROM cm),
        |rg AS (SELECT lang, sum(cnt * (2 * cl + tv + 1)) AS r2g,
        |    sum(cnt) AS n_g
        |  FROM h JOIN cm USING (v) GROUP BY lang),
        |ag AS (SELECT sum(n_g) AS n, CAST(count(*) AS HUGEINT) AS k,
        |    sum(r2g * r2g * 1000000 // greatest(n_g, 1)) AS rr6 FROM rg),
        |dd AS (SELECT n, k, (SELECT t FROM tt) AS tie_t,
        |    3 * rr6 - 3000000 * n * (n + 1) * (n + 1) AS num,
        |    greatest(n * (n + 1), 1) AS d1,
        |    n * n * n - n AS nn3 FROM ag)
        |SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
        |  CAST(tie_t AS BIGINT) AS tie_t,
        |  CAST(CASE WHEN num < 0 THEN -((-num) // d1) ELSE num // d1 END
        |    AS BIGINT) AS h_unc_ppm,
        |  CAST(CASE WHEN num < 0
        |    THEN -((-num) * nn3 // (d1 * greatest(nn3 - tie_t, 1)))
        |    ELSE num * nn3 // (d1 * greatest(nn3 - tie_t, 1)) END
        |    AS BIGINT) AS h_ppm
        |FROM dd""".stripMargin,

    "x188_friedman" -> {
      def rr(j: Int, a: Int, b: Int) =
        s"""2 * ((CASE WHEN s_$a < s_$j THEN 1 ELSE 0 END)
           |    + (CASE WHEN s_$b < s_$j THEN 1 ELSE 0 END))
           |  + (CASE WHEN s_$a = s_$j THEN 1 ELSE 0 END)
           |  + (CASE WHEN s_$b = s_$j THEN 1 ELSE 0 END) + 2""".stripMargin
      s"""WITH w AS (SELECT string_split(text, ' ') AS w FROM documents),
         |s AS (SELECT ${Ext33.duckSumW(Ext33.ScorerMult)} AS s_0,
         |    ${Ext33.duckSumW(Ext57.McnemarMultB)} AS s_1,
         |    ${Ext33.duckSumW(Ext57.CochranMultC)} AS s_2
         |  FROM w),
         |r AS (SELECT ${rr(0, 1, 2)} AS r0, ${rr(1, 0, 2)} AS r1,
         |    ${rr(2, 0, 1)} AS r2,
         |    CASE WHEN s_0 = s_1 AND s_0 = s_2 THEN 24
         |      WHEN s_0 = s_1 OR s_0 = s_2 OR s_1 = s_2 THEN 6
         |      ELSE 0 END AS t
         |  FROM s),
         |ag AS (SELECT CAST(count(*) AS HUGEINT) AS n,
         |    CAST(coalesce(sum(r0), 0) AS HUGEINT) AS sa,
         |    CAST(coalesce(sum(r1), 0) AS HUGEINT) AS sb,
         |    CAST(coalesce(sum(r2), 0) AS HUGEINT) AS sc,
         |    CAST(coalesce(sum(t), 0) AS HUGEINT) AS tt
         |  FROM r)
         |SELECT CAST(n AS BIGINT) AS n, CAST(sa AS BIGINT) AS s2_a,
         |  CAST(sb AS BIGINT) AS s2_b, CAST(sc AS BIGINT) AS s2_c,
         |  CAST(tt AS BIGINT) AS tie_t,
         |  CAST((3 * (sa * sa + sb * sb + sc * sc) - 144 * n * n)
         |    * 2000000 // greatest(24 * n - tt, 1) AS BIGINT) AS chi2_ppm
         |FROM ag""".stripMargin
    })
}
