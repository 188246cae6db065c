package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.tables.Tables._
import graft.ext.Similarity

/** Round-5 batch 5: the built-in session_window operator as a batch catalog
  * entry (w25 — pinned against the islands oracle), TPC-H Q12's
  * conditional-aggregation shape (q12), mergeable HLL sketches with the
  * union property (x69), and 1-NN classification evaluation over the
  * embeddings table (x70 — the eval-metrics step of an embedding
  * pipeline).
  */
object Ext13 {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // W25 SESSION WINDOW (built-in): groupBy(session_window(ts, gap)) — the
    // declarative spelling of w10's manual islands sessionization, sharing
    // one user_id shuffle with the aggregates. The oracle replays the
    // semantics from first principles — and the boundary is SUBTLE: Spark
    // merges an event at EXACTLY gap distance (break only when the gap is
    // strictly exceeded; session end = last event + gap). Ext13Spec pins
    // that boundary with ms-aligned fixtures; the oracle spells `> gap`,
    // not `>= gap`.
    "w25_session_window" -> ((s, d) => {
      events(s, d)
        .select(col("user_id"), col("ts"),
          floor(col("value") * 1000.0).cast("long").as("vm"))
        .groupBy(session_window(col("ts"), "24 hours"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), sum(col("vm")).as("sum_vm"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("s_start"),
          unix_micros(col("session_window.end")).as("s_end"),
          col("n_events"), col("sum_vm"))
        .orderBy(col("user_id"), col("s_start"))
    }),

    // Q12 PRIORITY MIX (TPC-H Q12 shape): conditional aggregation after a
    // fact-to-fact join — CASE folded INSIDE partial-aggregable sums, so
    // the classifier costs nothing beyond the join's one shuffle.
    "q12_priority_mix" -> ((s, d) => {
      lineitem(s, d).select(col("l_orderkey"), col("l_linestatus"))
        .join(orders(s, d).select(col("o_orderkey"), col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_linestatus"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
            .otherwise(1L)).as("low_line_count"))
        .orderBy(col("l_linestatus"))
    }),

    // X6b MERGEABLE HLL SKETCHES: per-type DataSketches HLL of the user
    // set, PLUS the union of those sketches as the 'ALL' scope — the
    // pre-aggregation pattern a 100 TB rollup store runs (keep sketches,
    // not raw ids; merge on demand, never rescan). Rows-only: DuckDB's
    // approx sketch is a different algorithm; Ext13Spec pins the union
    // property (merged == direct over the full set, exactly) and the
    // error envelope vs exact distinct instead.
    "x69_hll_union" -> ((s, d) => {
      val sk = events(s, d).groupBy(col("event_type"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
      val perType = sk.select(col("event_type").as("scope"),
        hll_sketch_estimate(col("sk")).as("est_users"))
      val all = sk.agg(hll_union_agg(col("sk")).as("u"))
        .select(lit("ALL").as("scope"),
          hll_sketch_estimate(col("u")).as("est_users"))
      perType.union(all).orderBy(col("scope"))
    }),

    // X3c 1-NN CLASSIFICATION EVAL: predict each held-out vector's label
    // by its nearest neighbor (exact cosine, x6's conventions: truncated
    // to 6 digits, id tie-break) and emit the CONFUSION MATRIX — the
    // eval-metrics pass an embedding pipeline runs after training. The
    // query side is 1-in-50 of the corpus (broadcast), the corpus is never
    // shuffled, and the matrix rollup is partial-aggregable.
    "x70_knn_eval" -> ((s, d) => {
      val e = embeddings(s, d)
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("v"))
        .withColumn("nv", Similarity.norm2(col("v")))
      val q = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("q_id"), col("label").as("true_label"),
          col("v").as("qv"), col("nv").as("qnv"))
      val cos6 = Ext.trunc6(
        Similarity.dot(col("qv"), col("v")) / sqrt(col("qnv") * col("nv")))
      broadcast(q).join(e, col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("true_label"), col("label").as("pred_label"),
          cos6.as("cos6"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("q_id"))
            .orderBy(col("cos6").desc, col("pred_label"), col("q_id"))))
        .filter(col("rnk") === 1)
        .groupBy(col("true_label"), col("pred_label"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("true_label"), col("pred_label"))
    }))

  val oracleSql: Map[String, String] = Map(

    "w25_session_window" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tus,
        |    CAST(floor(value * 1000.0) AS BIGINT) AS vm FROM events),
        |l AS (SELECT user_id, tus, vm,
        |    CASE WHEN lag(tus) OVER w IS NULL
        |      OR tus - lag(tus) OVER w > 86400000000
        |      THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus)),
        |s AS (SELECT user_id, tus, vm,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY tus
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM l)
        |SELECT user_id, min(tus) AS s_start,
        |  max(tus) + 86400000000 AS s_end,
        |  count(*) AS n_events, CAST(sum(vm) AS BIGINT) AS sum_vm
        |FROM s GROUP BY user_id, sid ORDER BY user_id, s_start""".stripMargin,

    "q12_priority_mix" ->
      """SELECT l_linestatus,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,

    "x70_knn_eval" ->
      """WITH e AS (SELECT vec_id, label,
        |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id AS q_id, label AS true_label, v AS qv FROM e
        |  WHERE vec_id % 50 = 0),
        |p AS (SELECT q_id, true_label, label AS pred_label,
        |  list_reduce(list_prepend(0.0, list_transform(range(1, len(qv)+1), i -> qv[i]*v[i])), (a,b) -> a+b) AS d,
        |  list_reduce(list_prepend(0.0, list_transform(range(1, len(qv)+1), i -> qv[i]*qv[i])), (a,b) -> a+b) AS na,
        |  list_reduce(list_prepend(0.0, list_transform(range(1, len(v)+1), i -> v[i]*v[i])), (a,b) -> a+b) AS nb
        |  FROM q, e WHERE vec_id <> q_id),
        |c AS (SELECT q_id, true_label, pred_label,
        |    CAST(floor((d/sqrt(na*nb))*1e6) AS DOUBLE)/1e6 AS cos6 FROM p),
        |r AS (SELECT q_id, true_label, pred_label,
        |    row_number() OVER (PARTITION BY q_id
        |      ORDER BY cos6 DESC, pred_label, q_id) AS rnk
        |  FROM c)
        |SELECT true_label, pred_label, count(*) AS n
        |FROM r WHERE rnk = 1
        |GROUP BY true_label, pred_label
        |ORDER BY true_label, pred_label""".stripMargin)
}
