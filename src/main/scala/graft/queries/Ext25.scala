package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.tables.Tables._
import graft.GraftCaches.TrackedPersist

/** Round-5 additions, part 2: held-out trigram LM scoring with stupid
  * backoff (the KenLM-style perplexity filter generalized past bigrams),
  * a full 2-round Lloyd k-means over integer-quantized embeddings (the
  * clustering step SemDeDup/curriculum pipelines run — x37 is one update
  * step, this is the iterated loop), l-diversity (the privacy audit that
  * complements x68's k-anonymity), and per-day top-k event types.
  */
object Ext25 {

  /** Integer-ppm score of one trigram under stupid backoff (Brants et al.
    * 2007, alpha = 0.4 = 2/5 kept rational so every engine agrees):
    * hit levels are 3 = trigram, 2 = backed-off bigram, 1 = backed-off
    * unigram, 0 = OOV. All `div` floor-truncations happen on positive
    * longs, where Spark's div and DuckDB's // agree. */
  private def scorePpm: Column =
    when(col("c3n") > 0, expr("c3n * 1000000L div c2ab"))
      .when(col("c2bc") > 0, expr("c2bc * 2000000L div (5L * c1b)"))
      .when(col("c1c") > 0, expr("c1c * 4000000L div (25L * n_train)"))
      .otherwise(lit(0L))

  private def hitLevel: Column =
    when(col("c3n") > 0, 3).when(col("c2bc") > 0, 2)
      .when(col("c1c") > 0, 1).otherwise(0)

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map[String, (SparkSession, String) => DataFrame](

    // X5c HELD-OUT TRIGRAM LM WITH STUPID BACKOFF: train trigram/bigram/
    // unigram counts on the %10<8 split, score the held-out docs, report
    // per-doc total score and per-level hit counts (the corpus-quality
    // filter shape: low-scoring docs are the deletion candidates; the
    // hit-level histogram shows HOW a doc scored, which a plain
    // perplexity hides). Everything is counts joined on n-gram keys —
    // five equi-joins, each partial-aggregable before the shuffle, no
    // driver-side model. Scores are integer ppm with a rational backoff
    // (0.4 = 2/5), so the result hash-matches any engine.
    // Round-15 knob: bi/uni persists dropped — each count table's
    // consumers (the two key-respelled joins; uni also feeds the nTrain
    // rollup) share the table's own groupBy exchange, so AQE stage reuse
    // dedupes the heavy work persist-free and only the final aggregation
    // re-runs per consumer (the x85/x116/x167 twin; same-boot A/B in
    // BENCH_AB_r15_c2persists.json).
    "x97_backoff_lm" -> ((s, d) => backoffLm(s, d)),
  ) ++ queriesB

  /** x97 body. */
  private def backoffLm(s: SparkSession, d: String): DataFrame = {
      val docs = documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 3)
      val train = docs.filter(col("doc_id") % 10 < 8).persistTracked()
      val tri = train.select(explode(expr(
          "transform(sequence(1, size(w)-2), i -> struct(w[i-1] AS a, w[i] AS b, w[i+1] AS c))"))
          .as("g"))
        .groupBy(col("g.a").as("a"), col("g.b").as("b"), col("g.c").as("c"))
        .agg(count(lit(1)).as("c3n"))
      val bi = train.select(explode(expr(
          "transform(sequence(1, size(w)-1), i -> struct(w[i-1] AS x, w[i] AS y))"))
          .as("g"))
        .groupBy(col("g.x").as("x"), col("g.y").as("y"))
        .agg(count(lit(1)).as("c2"))
      val uni = train.select(explode(col("w")).as("u"))
        .groupBy(col("u")).agg(count(lit(1)).as("c1"))
      // Σc1 over the (small) unigram table — same value as re-exploding
      // the corpus for a global count, without the second corpus pass
      val nTrain = uni.agg(sum(col("c1")).as("n_train"))
      val held = docs.filter(col("doc_id") % 10 >= 8)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(w)-2), i -> struct(w[i-1] AS a, w[i] AS b, w[i+1] AS c))"))
          .as("g"))
        .select(col("doc_id"), col("g.a").as("a"), col("g.b").as("b"), col("g.c").as("c"))
      held
        .join(tri, Seq("a", "b", "c"), "left")
        .join(bi.select(col("x").as("a"), col("y").as("b"), col("c2").as("c2ab")),
          Seq("a", "b"), "left")
        .join(bi.select(col("x").as("b"), col("y").as("c"), col("c2").as("c2bc")),
          Seq("b", "c"), "left")
        .join(uni.select(col("u").as("b"), col("c1").as("c1b")), Seq("b"), "left")
        .join(uni.select(col("u").as("c"), col("c1").as("c1c")), Seq("c"), "left")
        .na.fill(0L, Seq("c3n", "c2ab", "c2bc", "c1b", "c1c"))
        .crossJoin(broadcast(nTrain))
        .select(col("doc_id"), scorePpm.as("ppm"), hitLevel.as("lvl"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tri"), sum(col("ppm")).as("score_ppm"),
          sum(when(col("lvl") === 3, 1L).otherwise(0L)).as("n_hit3"),
          sum(when(col("lvl") === 2, 1L).otherwise(0L)).as("n_hit2"),
          sum(when(col("lvl") === 1, 1L).otherwise(0L)).as("n_hit1"),
          sum(when(col("lvl") === 0, 1L).otherwise(0L)).as("n_oov"))
        .orderBy(col("doc_id"))
  }

  private def queriesB: Map[String, (SparkSession, String) => DataFrame] = Map(

    // X5d FULL LLOYD K-MEANS, 2 ROUNDS, k=4, ON INTEGER-QUANTIZED
    // EMBEDDINGS: init = the first 4 vectors, assign = exact argmin of
    // the squared distance (tie -> lower cluster id), update = per-dim
    // floored integer mean, twice; output the final per-cluster sizes and
    // centroids as (cluster, dim) rows. Coordinates are offset (+1, all
    // corpus values sit in (-1, 1)) then scaled 1e6 and floored to longs,
    // so every sum/mean/distance is exact 64-bit integer arithmetic —
    // bit-equal on any engine, no float summation-order hazard. The
    // assignment is a 4-row broadcast nested-loop (fan-out k, never a
    // shuffle of the corpus); the update is one partial-aggregable
    // groupBy per round. The whole loop is 2 fixed rounds of jobs — at
    // 100 TB cost is 2x(scan + k-fanout map + groupBy), the canonical
    // distributed-Lloyd shape.
    "x98_kmeans_lloyd" -> ((s, d) => {
      val e = embeddings(s, d)
        .select(col("vec_id"), expr(
          "transform(CAST(embedding AS array<double>), x -> CAST(floor((x + 1.0D) * 1000000.0D) AS BIGINT))")
          .as("q"))
        .persistTracked()
      val init = e.filter(col("vec_id") < 4)
        .select(col("vec_id").cast("int").as("cid"), col("q").as("cq"))

      def assign(cent: DataFrame): DataFrame =
        e.crossJoin(broadcast(cent))
          .select(col("vec_id"), col("q"), col("cid"), expr(
            "aggregate(zip_with(q, cq, (x, c) -> (x - c) * (x - c)), 0L, (acc, v) -> acc + v)")
            .as("dist"))
          .groupBy(col("vec_id"))
          .agg(min(struct(col("dist"), col("cid"))).as("m"),
            first(col("q")).as("q"))
          .select(col("vec_id"), col("m.cid").as("cid"), col("q"))

      def update(members: DataFrame): DataFrame =
        members.select(col("cid"), posexplode(col("q")).as(Seq("dim", "x")))
          .groupBy(col("cid"), col("dim"))
          .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
          .select(col("cid"), col("dim"), expr("sx div n").as("m"))
          .groupBy(col("cid"))
          .agg(sort_array(collect_list(struct(col("dim"), col("m")))).as("st"))
          .select(col("cid"), expr("transform(st, s -> s.m)").as("cq"))

      val p2 = assign(update(assign(init)))
      p2.select(col("cid"), posexplode(col("q")).as(Seq("dim", "x")))
        .groupBy(col("cid"), col("dim"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
        .select(col("cid").as("cluster"), col("n"), col("dim"),
          expr("sx div n").as("m"))
        .orderBy(col("cluster"), col("dim"))
    }),

    // X5e L-DIVERSITY: x68's k-anonymity counts group SIZES; l-diversity
    // audits whether each quasi-identifier group also carries enough
    // DISTINCT sensitive values (here: nation -> market segment) to
    // resist attribute disclosure, plus the dominant sensitive-value
    // share (the signal behind recursive (c,l)-diversity). One keyed
    // aggregation; shares in integer ppm.
    "x99_l_diversity" -> ((s, d) => {
      val per = customer(s, d)
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("cnt"))
      per.groupBy(col("c_nationkey"))
        .agg(sum(col("cnt")).as("n"),
          count(lit(1)).as("l_distinct"),
          max(col("cnt")).as("top_cnt"))
        .select(col("c_nationkey"), col("n"), col("l_distinct"),
          expr("top_cnt * 1000000L div n").as("top_share_ppm"),
          (col("l_distinct") < 3).as("at_risk"))
        .orderBy(col("c_nationkey"))
    }),

    // W-FAMILY, WINDOWED TOP-K: per tumbling event-time day, the top-3
    // event types by count. The rank window partitions by day, so
    // everything stays keyed; no global sort until the final tiny ordered
    // output.
    "w32_window_topk" -> ((s, d) => {
      val counts = events(s, d)
        .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      counts
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("w")).orderBy(col("n").desc, col("event_type"))))
        .filter(col("rk") <= 3)
        .select(to_date(col("w.start")).as("day"), col("event_type"),
          col("n"), col("rk"))
        .orderBy(col("day"), col("rk"))
    }))

  private val backoffCase: String =
    """CASE WHEN c3n > 0 THEN c3n * 1000000 // c2ab
      |  WHEN c2bc > 0 THEN c2bc * 2000000 // (5 * c1b)
      |  WHEN c1c > 0 THEN c1c * 4000000 // (25 * n_train)
      |  ELSE 0 END""".stripMargin

  private val levelCase: String =
    """CASE WHEN c3n > 0 THEN 3 WHEN c2bc > 0 THEN 2
      |  WHEN c1c > 0 THEN 1 ELSE 0 END""".stripMargin

  val oracleSql: Map[String, String] = Map(

    "x97_backoff_lm" ->
      s"""WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |tr AS (SELECT * FROM docs WHERE doc_id % 10 < 8),
        |tri AS (SELECT w[i] AS a, w[i+1] AS b, w[i+2] AS c, count(*) AS c3n
        |  FROM (SELECT w, unnest(range(1, len(w)-1)) AS i FROM tr)
        |  GROUP BY 1, 2, 3),
        |bi AS (SELECT w[i] AS x, w[i+1] AS y, count(*) AS c2
        |  FROM (SELECT w, unnest(range(1, len(w))) AS i FROM tr)
        |  GROUP BY 1, 2),
        |uni AS (SELECT u, count(*) AS c1
        |  FROM (SELECT unnest(w) AS u FROM tr) GROUP BY 1),
        |nt AS (SELECT count(*) AS n_train FROM (SELECT unnest(w) AS u FROM tr)),
        |held AS (SELECT doc_id, w[i] AS a, w[i+1] AS b, w[i+2] AS c
        |  FROM (SELECT doc_id, w, unnest(range(1, len(w)-1)) AS i
        |        FROM docs WHERE doc_id % 10 >= 8)),
        |j AS (SELECT doc_id,
        |    coalesce(tri.c3n, 0) AS c3n,
        |    coalesce(ab.c2, 0) AS c2ab, coalesce(bc.c2, 0) AS c2bc,
        |    coalesce(ub.c1, 0) AS c1b, coalesce(uc.c1, 0) AS c1c, n_train
        |  FROM held
        |  LEFT JOIN tri USING (a, b, c)
        |  LEFT JOIN bi ab ON ab.x = held.a AND ab.y = held.b
        |  LEFT JOIN bi bc ON bc.x = held.b AND bc.y = held.c
        |  LEFT JOIN uni ub ON ub.u = held.b
        |  LEFT JOIN uni uc ON uc.u = held.c
        |  CROSS JOIN nt),
        |sc AS (SELECT doc_id, $backoffCase AS ppm, $levelCase AS lvl FROM j)
        |SELECT doc_id, count(*) AS n_tri,
        |  CAST(sum(ppm) AS BIGINT) AS score_ppm,
        |  CAST(sum(CASE WHEN lvl = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit3,
        |  CAST(sum(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit2,
        |  CAST(sum(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit1,
        |  CAST(sum(CASE WHEN lvl = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "x98_kmeans_lloyd" ->
      """WITH e AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
        |    x -> CAST(floor((x + 1.0) * 1000000.0) AS BIGINT)) AS q
        |  FROM embeddings),
        |dims AS (SELECT unnest(range(1, 65)) AS dim),
        |c0 AS (SELECT CAST(vec_id AS INT) AS cid, q AS cq FROM e WHERE vec_id < 4),
        |a1 AS (SELECT vec_id, cid, list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(1, 65), i -> (e.q[i] - cq[i]) * (e.q[i] - cq[i]))),
        |    (acc, x) -> acc + x) AS dist
        |  FROM e CROSS JOIN c0),
        |p1 AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        |  FROM a1) WHERE rn = 1),
        |m1 AS (SELECT cid, dim, sum(q[dim]) // count(*) AS m
        |  FROM p1 JOIN e USING (vec_id) CROSS JOIN dims GROUP BY cid, dim),
        |c1 AS (SELECT cid, list(m ORDER BY dim) AS cq FROM m1 GROUP BY cid),
        |a2 AS (SELECT vec_id, cid, list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(1, 65), i -> (e.q[i] - cq[i]) * (e.q[i] - cq[i]))),
        |    (acc, x) -> acc + x) AS dist
        |  FROM e CROSS JOIN c1),
        |p2 AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        |  FROM a2) WHERE rn = 1),
        |f AS (SELECT cid, count(*) AS n FROM p2 GROUP BY cid),
        |m2 AS (SELECT cid, dim, sum(q[dim]) // count(*) AS m
        |  FROM p2 JOIN e USING (vec_id) CROSS JOIN dims GROUP BY cid, dim)
        |SELECT m2.cid AS cluster, f.n, CAST(dim - 1 AS INT) AS dim,
        |  CAST(m AS BIGINT) AS m
        |FROM m2 JOIN f USING (cid) ORDER BY cluster, dim""".stripMargin,

    "x99_l_diversity" ->
      """WITH per AS (SELECT c_nationkey, c_mktsegment, count(*) AS cnt
        |  FROM customer GROUP BY 1, 2)
        |SELECT c_nationkey, CAST(sum(cnt) AS BIGINT) AS n,
        |  count(*) AS l_distinct,
        |  CAST(max(cnt) * 1000000 // sum(cnt) AS BIGINT) AS top_share_ppm,
        |  (count(*) < 3) AS at_risk
        |FROM per GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "w32_window_topk" ->
      """WITH c AS (SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT day, event_type, n,
        |    CAST(row_number() OVER (PARTITION BY day ORDER BY n DESC, event_type)
        |      AS INT) AS rk FROM c)
        |SELECT day, event_type, n, rk FROM r WHERE rk <= 3
        |ORDER BY day, rk""".stripMargin)
}
