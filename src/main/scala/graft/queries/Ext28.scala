package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ext.{Similarity, TextOps}
import graft.tables.Tables._
import graft.GraftCaches.TrackedPersist

/** Round-5 additions, part 6 — two audit/planning ops:
  *
  *  - x106 clustering-quality eval: per-cell label purity plus the
  *    pair-counting Rand index of the IVF cell assignment against the
  *    embeddings' ground-truth labels — the external cluster validation
  *    run before trusting an index/cluster layout for curation decisions.
  *    (Rand, not NMI: pair counting is pure integer arithmetic; NMI needs
  *    logarithms the oracle can't replay exactly.)
  *  - x107 token-budget plan: allocate a fixed training-token budget
  *    across sources by x86's T=2 temperature weights with x73's
  *    largest-remainder exactness, and report each source's implied epoch
  *    count — the "how many passes over each source does this mixture
  *    cost" planning table (epochs > 1 ⇒ data-constrained repetition).
  */
object Ext28 {

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map[String, (SparkSession, String) => DataFrame](

    // X3h CLUSTER PURITY + RAND INDEX: x23's Voronoi cell assignment
    // (argmax dot over the K baked Rademacher anchors, first-index
    // tie-break) cross-tabulated against the label column. The ONLY
    // corpus-scale work is the partial-aggregable groupBy(cell, label);
    // purity, the marginals, and the pair-counting Rand index
    // ( C(n,2) − Σ_cells C(n_c,2) − Σ_labels C(n_l,2) + 2·Σ_ij C(n_ij,2),
    // over C(n,2) ) all run on the K×|labels| contingency frame in exact
    // integer arithmetic. rand_ppm rides every row via a 1-row broadcast.
    "x106_cluster_purity" -> ((s, d) =>
      clusterPurityFrom(cellLabelContingency(s, d))),
  ) ++ moreQueries

  /** x106 body over a (cell, label, n_cl) contingency frame. */
  private def clusterPurityFrom(ct: DataFrame): DataFrame = {
      val byCell = Window.partitionBy(col("cell"))
      val perCell = ct
        .withColumn("n", sum(col("n_cl")).over(byCell))
        .withColumn("rn", row_number().over(
          byCell.orderBy(col("n_cl").desc, col("label"))))
        .filter(col("rn") === 1)
        .select(col("cell"), col("n"), col("label").as("top_label"),
          col("n_cl").as("top_n"),
          expr("n_cl * 1000000L div n").as("purity_ppm"))
      val pairs = ct.agg(
        sum(col("n_cl")).as("nn"),
        sum(expr("n_cl * (n_cl - 1) div 2")).as("tp"))
      val rowsP = ct.groupBy(col("cell")).agg(sum(col("n_cl")).as("nc"))
        .agg(sum(expr("nc * (nc - 1) div 2")).as("rows_p"))
      val colsP = ct.groupBy(col("label")).agg(sum(col("n_cl")).as("nl"))
        .agg(sum(expr("nl * (nl - 1) div 2")).as("cols_p"))
      val rand = pairs.crossJoin(rowsP).crossJoin(colsP)
        .select(expr(
          "(nn * (nn - 1) div 2 - rows_p - cols_p + 2 * tp) * 1000000L" +
            " div (nn * (nn - 1) div 2)").as("rand_ppm"))
      perCell.crossJoin(broadcast(rand))
        .select(col("cell"), col("n"), col("top_label"), col("top_n"),
          col("purity_ppm"), col("rand_ppm"))
        .orderBy(col("cell"))
  }

  private def moreQueries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // X4t TOKEN-BUDGET PLAN: a 1,000,000-token budget split across sources
    // ∝ floor(sqrt(token count)) (x86's T=2 flattening — the only
    // transcendental-free temperature), made EXACT by x73's largest-
    // remainder rule: floor quotas first, leftover units to the largest
    // (1e6·w) mod total remainders (ties to the source name). epochs_ppm =
    // alloc·1e6 div available — above 1e6 the plan repeats that source's
    // data. Corpus-scale work is ONE partial-aggregable token count; the
    // apportionment runs on the |sources|-row frame (its global window is
    // over that tiny frame, never the corpus).
    "x107_token_budget" -> ((s, d) => {
      val bySrc = documents(s, d)
        .groupBy(col("source"))
        .agg(sum(size(TextOps.words(col("text"))).cast("long")).as("n_tokens"))
        .withColumn("w_root",
          floor(sqrt(col("n_tokens").cast("double"))).cast("long"))
        .persistTracked()
      val tot = bySrc.agg(sum(col("w_root")).as("wtot"))
      val q = bySrc.crossJoin(broadcast(tot))
        .select(col("source"), col("n_tokens"), col("w_root"),
          expr("1000000L * w_root div wtot").as("base"),
          expr("(1000000L * w_root) % wtot").as("rem"))
      val left = q.agg((lit(1000000L) - sum(col("base"))).as("leftover"))
      q.withColumn("rk", row_number().over(
          Window.orderBy(col("rem").desc, col("source"))).cast("long"))
        .crossJoin(broadcast(left))
        .select(col("source"), col("n_tokens"), col("w_root"),
          (col("base") +
            when(col("rk") <= col("leftover"), 1L).otherwise(0L))
            .as("alloc_tokens"))
        .withColumn("epochs_ppm",
          expr("alloc_tokens * 1000000L div n_tokens"))
        .orderBy(col("source"))
    }))

  /** The x23 Voronoi cell assignment cross-tabulated against the label
    * column — (cell, label, n_cl) — shared by x106 and x182/x186 (the
    * no-drift rule). The only corpus-scale work is the
    * partial-aggregable (cell, label) groupBy.
    *
    * Round 15: the persist was dropped (the exchange-topped-rollup
    * rule, BENCH_AB_r15_rollups2.json): x106's four references share
    * the groupBy exchange via AQE stage reuse, and the Ext59 callers
    * collect the frame exactly once, so the persist never paid
    * anywhere. */
  private[graft] def cellLabelContingency(s: SparkSession,
      d: String): DataFrame = {
    import graft.ext.IvfCentroids.{K, c}
    val withDots = embeddings(s, d)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .select(Seq(col("vec_id"), col("label")) ++
        (0 until K).map(k =>
          Similarity.dot(col("v"), typedLit(c(k))).as(s"d$k")): _*)
    val cell = (0 until K).foldRight(lit(K - 1)) { (k, rest) =>
      if (k == K - 1) rest
      else when((k + 1 until K).map(j => col(s"d$k") >= col(s"d$j")).reduce(_ && _),
        lit(k)).otherwise(rest)
    }
    withDots.select(cell.as("cell"), col("label"))
      .groupBy(col("cell"), col("label"))
      .agg(count(lit(1)).as("n_cl"))
  }

  /** The DuckDB spelling of [[cellLabelContingency]]: CTEs `anchors`,
    * `e`, `ed`, `ec`, `ct` — `ct(cell, label, n_cl)`. */
  private[graft] val cellContingencySql: String = {
    import graft.ext.IvfCentroids.{K, anchorSqlList}
    def dot(a: String, b: String) =
      s"list_reduce(list_prepend(0.0, list_transform(range(1, len($a)+1), i -> $a[i]*$b[i])), (acc,x) -> acc+x)"
    val anchorCols = (0 until K)
      .map(k => s"${anchorSqlList(k)} AS c$k").mkString(",\n|  ")
    val dotCols = (0 until K).map(k => s"${dot("v", s"c$k")} AS d$k").mkString(",\n|  ")
    val cellCase = (0 until K - 1).map(k =>
      "WHEN " + (k + 1 until K).map(j => s"d$k >= d$j").mkString(" AND ") +
        s" THEN $k").mkString("CASE ", " ", s" ELSE ${K - 1} END")
    s"""anchors AS (SELECT
      |  $anchorCols),
      |e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |ed AS (SELECT vec_id, label, $dotCols FROM e, anchors),
      |ec AS (SELECT vec_id, label, $cellCase AS cell FROM ed),
      |ct AS (SELECT cell, label, count(*) AS n_cl FROM ec GROUP BY 1, 2)"""
      .stripMargin
  }

  val oracleSql: Map[String, String] = Map(

    "x106_cluster_purity" -> {
      s"""WITH $cellContingencySql,
        |pc0 AS (SELECT cell, label, n_cl,
        |    CAST(sum(n_cl) OVER (PARTITION BY cell) AS BIGINT) AS n,
        |    row_number() OVER (PARTITION BY cell ORDER BY n_cl DESC, label)
        |      AS rn FROM ct),
        |pc AS (SELECT cell, n, label AS top_label,
        |    CAST(n_cl AS BIGINT) AS top_n FROM pc0 WHERE rn = 1),
        |tp AS (SELECT CAST(sum(n_cl) AS BIGINT) AS nn,
        |    CAST(sum(n_cl * (n_cl - 1) // 2) AS BIGINT) AS tp FROM ct),
        |rp AS (SELECT CAST(sum(nc * (nc - 1) // 2) AS BIGINT) AS rows_p
        |  FROM (SELECT sum(n_cl) AS nc FROM ct GROUP BY cell)),
        |cp AS (SELECT CAST(sum(nl * (nl - 1) // 2) AS BIGINT) AS cols_p
        |  FROM (SELECT sum(n_cl) AS nl FROM ct GROUP BY label)),
        |r AS (SELECT CAST((nn * (nn - 1) // 2 - rows_p - cols_p + 2 * tp)
        |    * 1000000 // (nn * (nn - 1) // 2) AS BIGINT) AS rand_ppm
        |  FROM tp, rp, cp)
        |SELECT cell, n, top_label, top_n,
        |  CAST(top_n * 1000000 // n AS BIGINT) AS purity_ppm, rand_ppm
        |FROM pc, r ORDER BY cell""".stripMargin
    },

    "x107_token_budget" ->
      """WITH t AS (SELECT source,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |w AS (SELECT source, n_tokens,
        |  CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS w_root FROM t),
        |tot AS (SELECT sum(w_root) AS wtot FROM w),
        |q AS (SELECT source, n_tokens, w_root,
        |  1000000 * w_root // wtot AS base,
        |  (1000000 * w_root) % wtot AS rem FROM w, tot),
        |l AS (SELECT 1000000 - sum(base) AS leftover FROM q),
        |r AS (SELECT source, n_tokens, w_root, base, rem,
        |  row_number() OVER (ORDER BY rem DESC, source) AS rk FROM q)
        |SELECT source, n_tokens, w_root,
        |  CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
        |    AS alloc_tokens,
        |  CAST((base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END) * 1000000
        |    // n_tokens AS BIGINT) AS epochs_ppm
        |FROM r, l ORDER BY source""".stripMargin)
}
