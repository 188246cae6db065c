package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.tables.Tables._
import graft.ext.TextOps

/** Round-5 additions, part 16: hybrid-retrieval rank fusion and the
  * curation filter waterfall.
  */
object Ext38 {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // X3h RECIPROCAL-RANK FUSION: merge the IVF (x7) and sign-LSH (x16)
    // top-3 lists per query with RRF (k=60) — the standard hybrid-
    // retrieval combiner. Contributions are the exact integers
    // ⌊1e9/(60+rank)⌋, so fusion needs no floats; a full outer join on
    // (q_id, n_id) keeps candidates surfaced by either path and the
    // fused top-3 re-ranks on the summed score. Cost: the two ANN
    // probes (both bucket-pruned equi-joins) plus one join over the
    // per-query top-k frames — O(queries·k) rows, corpus untouched.
    "x135_rank_fusion" -> ((s, d) => {
      val a = Ext.queries("x7_ivf_topk")(s, d)
        .select(col("q_id"), col("n_id"),
          expr("1000000000L div (60 + rnk)").as("rrf_ivf"))
      val b = Ext.queries("x16_lsh_ann")(s, d)
        .select(col("q_id"), col("n_id"),
          expr("1000000000L div (60 + rnk)").as("rrf_lsh"))
      a.join(b, Seq("q_id", "n_id"), "full_outer")
        .na.fill(0L, Seq("rrf_ivf", "rrf_lsh"))
        .select(col("q_id"), col("n_id"),
          (col("rrf_ivf") > 0).as("in_ivf"), (col("rrf_lsh") > 0).as("in_lsh"),
          (col("rrf_ivf") + col("rrf_lsh")).as("rrf"))
        .withColumn("fused_rank", row_number().over(
          Window.partitionBy(col("q_id")).orderBy(col("rrf").desc, col("n_id"))))
        .filter(col("fused_rank") <= 3)
        .orderBy(col("q_id"), col("fused_rank"))
    }),

    // X4i FILTER WATERFALL: the curation-observability rollup — how many
    // docs each pipeline stage drops, attributed to the FIRST failing
    // stage (the number every data team reports per snapshot). Stages
    // reuse the catalog's own spellings: x9's label gate, x53's exact
    // integer length/quality rules, x1's min-id dedup canonical, x25's
    // %100 bench decontamination on x2's bag-of-words key. ONE corpus
    // pass computes every flag (the dedup canonical is a key-partitioned
    // window, the bench keys arrive by an equi semi-join — at 100 TB the
    // bench side is 1% of the corpus, so it shuffles rather than
    // broadcasts); the waterfall arithmetic then runs on the bounded
    // 5-row stage frame.
    "x136_filter_waterfall" -> ((s, d) => filterWaterfall(s, d)),
  )

  /** x136 body. */
  private def filterWaterfall(s: SparkSession, d: String): DataFrame = {
      import s.implicits._
      val stops = Seq("the", "and", "of", "to", "a")
      val w = TextOps.words(col("text"))
      val bowKey = md5(concat_ws(" ",
        array_sort(array_distinct(TextOps.words(col("text"))))).cast("binary"))
      val base = documents(s, d)
        .select(col("doc_id"), col("lang"), w.as("w"),
          length(col("text")).cast("long").as("n_chars"),
          md5(col("text").cast("binary")).as("text_md5"), bowKey.as("bow_key"))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("text_md5"), col("bow_key"),
          size(col("w")).cast("long").as("n_tokens"),
          size(array_distinct(col("w"))).cast("long").as("n_distinct"),
          size(filter(col("w"), x => x.isInCollection(stops))).cast("long")
            .as("n_stop"))
      val canon = base.withColumn("keep_id",
        min(col("doc_id")).over(Window.partitionBy(col("text_md5"))))
      val benchKeys = base.filter(col("doc_id") % 100 === 0)
        .select(col("bow_key")).distinct()
        .withColumn("is_bench_key", lit(true))
      val flagged = canon.join(benchKeys, Seq("bow_key"), "left")
        .select(col("doc_id"),
          (col("lang") === "en").as("p1"),
          (col("n_tokens") >= 5 && col("n_tokens") <= 100000 &&
            col("n_chars") >= col("n_tokens") * 3 &&
            col("n_chars") <= col("n_tokens") * 10).as("p2"),
          (col("n_distinct") * 5 >= col("n_tokens") && col("n_stop") >= 2)
            .as("p3"),
          (col("doc_id") === col("keep_id")).as("p4"),
          (col("doc_id") % 100 =!= 0 &&
            coalesce(col("is_bench_key"), lit(false)) === false).as("p5"))
        .select(when(!col("p1"), 1).when(!col("p2"), 2).when(!col("p3"), 3)
          .when(!col("p4"), 4).when(!col("p5"), 5).otherwise(0)
          .as("first_fail"))
      // Round 15: rollup persist dropped (the x85/x97/x116/x167 rule —
      // both consumers share the 6-row stage rollup's own exchange, AQE
      // stage reuse dedupes; BENCH_AB_r15_rollups.json). The heavy
      // flagged pipeline above runs once either way.
      val drops = flagged.groupBy(col("first_fail")).agg(count(lit(1)).as("n"))
      val total = drops.agg(sum(col("n")).as("n_total"))
      val stages = Seq((1, "lang_en"), (2, "length"), (3, "quality"),
        (4, "dedup"), (5, "decontam")).toDF("stage_no", "stage")
      stages
        .join(drops.withColumnRenamed("first_fail", "stage_no"), Seq("stage_no"), "left")
        .na.fill(0L, Seq("n"))
        .crossJoin(broadcast(total))
        .withColumn("n_in", col("n_total") - coalesce(sum(col("n")).over(
          Window.orderBy(col("stage_no"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("stage_no"), col("stage"), col("n_in"),
          col("n").as("n_drop"), (col("n_in") - col("n")).as("n_out"),
          expr("n * 1000000L div greatest(n_in, 1L)").as("drop_ppm"))
        .orderBy(col("stage_no"))
  }

  val oracleSql: Map[String, String] = Map(

    "x135_rank_fusion" -> {
      val a = Ext.oracleSql("x7_ivf_topk")
      val b = Ext.oracleSql("x16_lsh_ann")
      s"""WITH a AS ($a),
        |b AS ($b),
        |f AS (SELECT q_id, n_id,
        |    coalesce(1000000000 // (60 + a.rnk), 0) AS rrf_ivf,
        |    coalesce(1000000000 // (60 + b.rnk), 0) AS rrf_lsh
        |  FROM a FULL JOIN b USING (q_id, n_id)),
        |r AS (SELECT q_id, n_id, rrf_ivf > 0 AS in_ivf, rrf_lsh > 0 AS in_lsh,
        |    CAST(rrf_ivf + rrf_lsh AS BIGINT) AS rrf,
        |    CAST(row_number() OVER (PARTITION BY q_id
        |      ORDER BY rrf_ivf + rrf_lsh DESC, n_id) AS INT) AS fused_rank
        |  FROM f)
        |SELECT q_id, n_id, in_ivf, in_lsh, rrf, fused_rank FROM r
        |WHERE fused_rank <= 3 ORDER BY q_id, fused_rank""".stripMargin
    },

    "x136_filter_waterfall" ->
      """WITH b AS (SELECT doc_id, lang, string_split(text, ' ') AS w,
        |    CAST(len(text) AS BIGINT) AS n_chars, md5(text) AS text_md5,
        |    md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
        |      AS bow_key
        |  FROM documents),
        |st AS (SELECT doc_id, lang, n_chars, text_md5, bow_key,
        |    CAST(len(w) AS BIGINT) AS n_tokens,
        |    CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct,
        |    CAST(len(list_filter(w, x -> x IN ('the', 'and', 'of', 'to', 'a')))
        |      AS BIGINT) AS n_stop
        |  FROM b),
        |cn AS (SELECT *, min(doc_id) OVER (PARTITION BY text_md5) AS keep_id
        |  FROM st),
        |bk AS (SELECT DISTINCT bow_key FROM st WHERE doc_id % 100 = 0),
        |fl AS (SELECT doc_id,
        |    (lang = 'en') AS p1,
        |    (n_tokens >= 5 AND n_tokens <= 100000 AND
        |     n_chars >= n_tokens * 3 AND n_chars <= n_tokens * 10) AS p2,
        |    (n_distinct * 5 >= n_tokens AND n_stop >= 2) AS p3,
        |    (doc_id = keep_id) AS p4,
        |    (doc_id % 100 <> 0 AND bow_key NOT IN (SELECT bow_key FROM bk)) AS p5
        |  FROM cn),
        |ff AS (SELECT CASE WHEN NOT p1 THEN 1 WHEN NOT p2 THEN 2
        |    WHEN NOT p3 THEN 3 WHEN NOT p4 THEN 4 WHEN NOT p5 THEN 5
        |    ELSE 0 END AS first_fail FROM fl),
        |dr AS (SELECT first_fail, count(*) AS n FROM ff GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM dr),
        |stg AS (SELECT * FROM (VALUES (1, 'lang_en'), (2, 'length'),
        |    (3, 'quality'), (4, 'dedup'), (5, 'decontam')) s(stage_no, stage)),
        |wf AS (SELECT stage_no, stage, CAST(coalesce(n, 0) AS BIGINT) AS n_drop
        |  FROM stg LEFT JOIN dr ON dr.first_fail = stg.stage_no)
        |SELECT CAST(stage_no AS INT) AS stage_no, stage,
        |  CAST(n_total - coalesce(sum(n_drop) OVER (ORDER BY stage_no
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS n_in,
        |  n_drop,
        |  CAST(n_total - coalesce(sum(n_drop) OVER (ORDER BY stage_no
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) - n_drop
        |    AS BIGINT) AS n_out,
        |  CAST(n_drop * 1000000 // greatest(n_total - coalesce(sum(n_drop)
        |    OVER (ORDER BY stage_no ROWS BETWEEN UNBOUNDED PRECEDING AND
        |    1 PRECEDING), 0), 1) AS BIGINT) AS drop_ppm
        |FROM wf, tot ORDER BY stage_no""".stripMargin)
}
