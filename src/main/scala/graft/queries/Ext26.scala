package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ext.Similarity
import graft.tables.Tables._
import graft.GraftCaches.TrackedPersist

/** Round-5 additions, part 3: t-closeness (completing the x68/x99 privacy
  * audit triple) and a Matryoshka-style truncated-embedding recall audit
  * (how much of the full-dimension ranking the 16-dim prefix retains —
  * the measurement behind shipping shorter vectors to cut ANN cost 4x).
  */
object Ext26 {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // X6a T-CLOSENESS (total-variation variant): k-anonymity (x68) audits
    // group SIZE, l-diversity (x99) distinct sensitive VALUES; t-closeness
    // audits whether each group's sensitive-value DISTRIBUTION stays close
    // to the corpus-wide one. Distance here is total variation —
    // TV(g) = 1/2 * sum_s |p_g(s) − p(s)| — kept EXACT in integers by
    // multiplying through: |cnt_gs·N − gcnt_s·n_g| summed over present
    // segments, plus gcnt_s·n_g for the group's ABSENT segments (folded in
    // as n_g·N − Σ_present gcnt_s·n_g), then one floor division into ppm.
    // The long products stay exact while total rows ≤ ~3e9 (cnt·N within
    // int64); past that the same shape runs in decimal(38,0). Two keyed
    // aggregations + one broadcast of the segment margins — no join
    // touches the fact table twice.
    // Round 15: rollup persist dropped (the x85/x97/x116/x167 rule —
    // all three consumers share the rollup's own exchange, AQE stage
    // reuse dedupes; BENCH_AB_r15_rollups.json).
    "x100_t_closeness" -> ((s, d) => tCloseness(s, d)),

    // X6b MATRYOSHKA TRUNCATION AUDIT: recall@5 of the 16-dim PREFIX
    // cosine ranking against the full 64-dim ground truth, per query —
    // x90's audit contract (query sample broadcasts, corpus persisted
    // once, both arms share the scan) applied to the repr-truncation
    // decision instead of the index decision. cos6 floor-truncation and
    // the (cos desc, id) tie-break match the rest of the ANN family.
    "x101_mrl_truncation" -> ((s, d) => {
      val e = embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("nv", Similarity.norm2(col("v")))
        .withColumn("p", slice(col("v"), 1, 16))
        .withColumn("np", Similarity.norm2(col("p")))
        .persistTracked()
      val q = e.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nv").as("qnv"),
          col("p").as("qp"), col("np").as("qnp"))
      def top5(pairs: DataFrame, cos6: org.apache.spark.sql.Column): DataFrame =
        pairs.select(col("q_id"), col("vec_id").as("n_id"), cos6.as("cos6"))
          .withColumn("rnk", row_number().over(
            Window.partitionBy(col("q_id")).orderBy(col("cos6").desc, col("n_id"))))
          .filter(col("rnk") <= 5)
          .select(col("q_id"), col("n_id"))
      val pairs = q.join(e, col("vec_id") =!= col("q_id"))
      val gt = top5(pairs, Ext.trunc6(
        Similarity.dot(col("qv"), col("v")) / sqrt(col("qnv") * col("nv"))))
      val pre = top5(pairs, Ext.trunc6(
        Similarity.dot(col("qp"), col("p")) / sqrt(col("qnp") * col("np"))))
      val hits = pre.join(gt, Seq("q_id", "n_id"))
        .groupBy(col("q_id")).agg(count(lit(1)).as("n_hits"))
      q.select(col("q_id")).join(hits, Seq("q_id"), "left")
        .select(col("q_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          expr("coalesce(n_hits, 0) * 1000 div 5").as("recall_pm"))
        .orderBy(col("q_id"))
    }))

  private val dotSql =
    "list_reduce(list_prepend(0.0, list_transform(range(1, len(qv)+1), i -> qv[i]*v[i])), (a,b) -> a+b)"
  private val naSql =
    "list_reduce(list_prepend(0.0, list_transform(range(1, len(qv)+1), i -> qv[i]*qv[i])), (a,b) -> a+b)"
  private val nbSql =
    "list_reduce(list_prepend(0.0, list_transform(range(1, len(v)+1), i -> v[i]*v[i])), (a,b) -> a+b)"
  private val dot16Sql =
    "list_reduce(list_prepend(0.0, list_transform(range(1, 17), i -> qv[i]*v[i])), (a,b) -> a+b)"
  private val na16Sql =
    "list_reduce(list_prepend(0.0, list_transform(range(1, 17), i -> qv[i]*qv[i])), (a,b) -> a+b)"
  private val nb16Sql =
    "list_reduce(list_prepend(0.0, list_transform(range(1, 17), i -> v[i]*v[i])), (a,b) -> a+b)"

  /** x100 body. */
  private def tCloseness(s: SparkSession, d: String): DataFrame = {
      val per = customer(s, d)
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("cnt"))
      val glob = per.groupBy(col("c_mktsegment")).agg(sum(col("cnt")).as("gcnt"))
      val tot = glob.agg(sum(col("gcnt")).as("n_total"))
      val gs = per.groupBy(col("c_nationkey")).agg(sum(col("cnt")).as("n_g"))
      per
        .join(broadcast(glob), Seq("c_mktsegment"))
        .join(gs, Seq("c_nationkey"))
        .crossJoin(broadcast(tot))
        .groupBy(col("c_nationkey"))
        .agg(max(col("n_g")).as("n_g"), max(col("n_total")).as("n_total"),
          // Σ over the group's PRESENT segments of |cnt·N − gcnt·n_g| …
          sum(abs(col("cnt") * col("n_total") - col("gcnt") * col("n_g")))
            .as("sp"),
          // … plus Σ_present gcnt·n_g, whose complement against n_g·N is
          // the ABSENT segments' contribution
          sum(col("gcnt") * col("n_g")).as("spg"))
        .select(col("c_nationkey"), col("n_g").as("n"),
          expr("(sp + n_g * n_total - spg) * 1000000L div (2L * n_g * n_total)")
            .as("tv_ppm"))
        .withColumn("at_risk", col("tv_ppm") >= 200000L)
        .orderBy(col("c_nationkey"))
  }

  val oracleSql: Map[String, String] = Map(

    "x100_t_closeness" ->
      """WITH per AS (SELECT c_nationkey, c_mktsegment, count(*) AS cnt
        |  FROM customer GROUP BY 1, 2),
        |seg AS (SELECT c_mktsegment, sum(cnt) AS gcnt FROM per GROUP BY 1),
        |tot AS (SELECT sum(gcnt) AS n_total FROM seg),
        |gs AS (SELECT c_nationkey, sum(cnt) AS n_g FROM per GROUP BY 1),
        |j AS (SELECT per.c_nationkey, cnt, gcnt, n_g, n_total
        |  FROM per JOIN seg USING (c_mktsegment)
        |  JOIN gs USING (c_nationkey) CROSS JOIN tot),
        |a AS (SELECT c_nationkey, max(n_g) AS n_g, max(n_total) AS n_total,
        |    sum(abs(cnt * n_total - gcnt * n_g)) AS sp,
        |    sum(gcnt * n_g) AS spg
        |  FROM j GROUP BY 1)
        |SELECT c_nationkey, CAST(n_g AS BIGINT) AS n,
        |  CAST((sp + n_g * n_total - spg) * 1000000
        |    // (2 * n_g * n_total) AS BIGINT) AS tv_ppm,
        |  ((sp + n_g * n_total - spg) * 1000000
        |    // (2 * n_g * n_total) >= 200000) AS at_risk
        |FROM a ORDER BY c_nationkey""".stripMargin,

    "x101_mrl_truncation" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |    FROM embeddings),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % 100 = 0),
        |gp AS (SELECT q_id, vec_id AS n_id,
        |    $dotSql AS d, $naSql AS na, $nbSql AS nb
        |  FROM q, e WHERE vec_id <> q_id),
        |gr AS (SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
        |    ORDER BY CAST(floor((d/sqrt(na*nb))*1e6) AS DOUBLE)/1e6 DESC, n_id)
        |    AS rnk FROM gp),
        |pp AS (SELECT q_id, vec_id AS n_id,
        |    $dot16Sql AS d, $na16Sql AS na, $nb16Sql AS nb
        |  FROM q, e WHERE vec_id <> q_id),
        |pr AS (SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
        |    ORDER BY CAST(floor((d/sqrt(na*nb))*1e6) AS DOUBLE)/1e6 DESC, n_id)
        |    AS rnk FROM pp),
        |h AS (SELECT g.q_id, CAST(count(*) AS BIGINT) AS n_hits
        |  FROM (SELECT q_id, n_id FROM gr WHERE rnk <= 5) g
        |  JOIN (SELECT q_id, n_id FROM pr WHERE rnk <= 5) i
        |    ON g.q_id = i.q_id AND g.n_id = i.n_id
        |  GROUP BY 1)
        |SELECT q.q_id, CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
        |  CAST(coalesce(n_hits, 0) * 1000 // 5 AS BIGINT) AS recall_pm
        |FROM q LEFT JOIN h ON q.q_id = h.q_id ORDER BY q.q_id""".stripMargin)
}
