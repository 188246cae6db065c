package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables._

/** Round-5 additions, part 12: two data-quality audits in exact integer
  * arithmetic — a χ² independence test over a categorical contingency
  * table and a Benford leading-digit conformance check.
  */
object Ext34 {

  /** Benford expected first-digit shares, ppm: ⌊log10(1+1/d)·1e6⌉ for
    * d = 1..9 — published constants baked identically on both engines
    * (they sum to exactly 1,000,000). */
  private val benfordPpm =
    Seq(301030L, 176091L, 124939L, 96910L, 79181L, 66947L, 57992L, 51153L, 45757L)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // X8d χ² INDEPENDENCE AUDIT (source × lang): is language distributed
    // independently of source? Per cell, the exact integer spelling of
    // (O−E)²/E with E = row·col/n multiplied through:
    // (O·n − row·col)²·1e6 div (n·row·col) — one floor per cell, summed
    // by the caller for the statistic (at extreme n the squared term
    // wants DECIMAL; Long holds to O·n < 3e9). The contingency rollup is
    // ONE partial-aggregable shuffle; margins roll up from the cell frame
    // (never a second corpus pass) and the full category cross restores
    // the O=0 cells a join on observed pairs would silently drop.
    // Round 15: rollup persist dropped (the x85/x97/x116/x167 rule —
    // all four consumers share the contingency rollup's own exchange,
    // AQE stage reuse dedupes; BENCH_AB_r15_rollups.json).
    "x122_chi2_independence" -> ((s, d) =>
      chi2Independence(s, d)),

    // X8e BENFORD LEADING-DIGIT AUDIT: the first significant digit of
    // o_totalprice against Benford's law — the classic synthetic-data /
    // fraud screen. The digit comes from the integer part's decimal
    // string (pure per-row expression, no logarithms at query time; the
    // expected shares are baked literals on both engines). One 9-group
    // partial-aggregable shuffle; shares and deviations in exact ppm.
    "x123_benford_digits" -> ((s, d) => {
      import s.implicits._
      val exp = benfordPpm.zipWithIndex
        .map { case (p, i) => (i + 1L, p) }.toDF("digit", "benford_ppm")
      val per = orders(s, d)
        .select(substring(floor(col("o_totalprice")).cast("long").cast("string"),
          1, 1).cast("long").as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      val tot = per.agg(sum(col("n")).as("t"))
      exp.join(per, Seq("digit"), "left")
        .na.fill(0L, Seq("n"))
        .crossJoin(broadcast(tot))
        .select(col("digit"), col("n"),
          expr("n * 1000000L div t").as("share_ppm"), col("benford_ppm"),
          abs(expr("n * 1000000L div t") - col("benford_ppm")).as("dev_ppm"))
        .orderBy(col("digit"))
    }))

  /** x122 body. */
  private def chi2Independence(s: SparkSession, d: String): DataFrame = {
      val cells = documents(s, d)
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("o"))
      val rows = cells.groupBy(col("source")).agg(sum(col("o")).as("r"))
      val cols = cells.groupBy(col("lang")).agg(sum(col("o")).as("c"))
      val n = cells.agg(sum(col("o")).as("n"))
      rows.crossJoin(cols)
        .join(cells, Seq("source", "lang"), "left")
        .na.fill(0L, Seq("o"))
        .crossJoin(broadcast(n))
        .select(col("source"), col("lang"), col("o"),
          expr("r * c * 1000000L div n").as("e_ppm"),
          expr("(o * n - r * c) * (o * n - r * c) * 1000000L div (n * r * c)")
            .as("cell_ppm"))
        .orderBy(col("source"), col("lang"))
  }

  val oracleSql: Map[String, String] = Map(

    "x122_chi2_independence" ->
      """WITH cells AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS o
        |  FROM documents GROUP BY 1, 2),
        |r AS (SELECT source, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY 1),
        |c AS (SELECT lang, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY 1),
        |n AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells)
        |SELECT r.source, c.lang, CAST(coalesce(o, 0) AS BIGINT) AS o,
        |  CAST(r.r * c.c * 1000000 // n.n AS BIGINT) AS e_ppm,
        |  CAST((coalesce(o, 0) * n.n - r.r * c.c)
        |     * (coalesce(o, 0) * n.n - r.r * c.c) * 1000000
        |     // (n.n * r.r * c.c) AS BIGINT) AS cell_ppm
        |FROM r CROSS JOIN c
        |LEFT JOIN cells ON cells.source = r.source AND cells.lang = c.lang,
        |n
        |ORDER BY r.source, c.lang""".stripMargin,

    "x123_benford_digits" -> {
      val vals = benfordPpm.zipWithIndex
        .map { case (p, i) => s"(${i + 1}, $p)" }.mkString(", ")
      s"""WITH exp AS (SELECT * FROM (VALUES $vals) e(digit, benford_ppm)),
        |per AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
        |      AS VARCHAR), 1, 1) AS BIGINT) AS digit,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM orders GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM per)
        |SELECT CAST(exp.digit AS BIGINT) AS digit,
        |  CAST(coalesce(n, 0) AS BIGINT) AS n,
        |  CAST(coalesce(n, 0) * 1000000 // t AS BIGINT) AS share_ppm,
        |  CAST(benford_ppm AS BIGINT) AS benford_ppm,
        |  CAST(abs(coalesce(n, 0) * 1000000 // t - benford_ppm) AS BIGINT)
        |    AS dev_ppm
        |FROM exp LEFT JOIN per ON exp.digit = per.digit, tot
        |ORDER BY exp.digit""".stripMargin
    })
}
