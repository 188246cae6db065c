package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.tables.Tables._
import graft.GraftCaches.TrackedPersist

/** Round-5 additions, part 18: community labeling over the near-dup
  * graph and a deterministic bootstrap for eval error bars.
  */
object Ext40 {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // X6g LABEL PROPAGATION (2 synchronous rounds): majority-vote
    // community labels over the verified near-dup graph — the
    // "which source-community does this doc's neighborhood belong to"
    // classifier that complements x17's connected components (CC says
    // WHICH docs connect; LPA says what the neighborhood consensus IS).
    // Seed label = the doc's source; each round every node adopts its
    // neighbors' majority label (count desc, then lexicographic min —
    // deterministic). Per round: ONE equi-join + ONE partial-aggregable
    // (node, label) rollup + ONE argmax rollup — the same per-round
    // shape as x35's pagerank, iteration count fixed at 2.
    "x138_label_propagation" -> ((s, d) => labelPropagation(s, d)),

    // W33 FIRST-TOUCH ATTRIBUTION: w30's twin — credit each purchase to
    // the EARLIEST preceding non-purchase event (acquisition channel)
    // instead of the latest (conversion channel). Same user-keyed window
    // frame, first_value instead of last_value; one shuffle on user_id.
    "w33_first_touch" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("tus"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      events(s, d)
        .select(col("user_id"), col("event_id"),
          expr("ts_ns div 1000").as("tus"), col("event_type"))
        .withColumn("touch", first(
          when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .groupBy(coalesce(col("touch"), lit("(none)")).as("channel"))
        .agg(count(lit(1)).as("n_purchases"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("channel"))
    }),

    // X8g DETERMINISTIC BOOTSTRAP: B=8 Poisson(1) bootstrap replicas of
    // the per-doc length statistic, with replica weights derived from
    // md5(b‖doc_id) — reproducible on any engine, no RNG state. The
    // Poisson pmf is baked as integer per-mille thresholds (368/736/
    // 920/981/996/1000 cumulative — public constants, same literals
    // both sides); each replica's mean is an exact ppm ratio. The
    // spread of the 8 means IS the eval error bar. One corpus scan
    // computes all 8 weights per row (explode over the replica frame),
    // then one partial-aggregable rollup — cost does not grow with B
    // beyond the ×B row explode.
    "x139_bootstrap_spread" -> ((s, d) => {
      import s.implicits._
      val reps = (0 until 8).toDF("rep")
      val u = expr("CAST(conv(substring(md5(concat(CAST(rep AS STRING), ':', CAST(doc_id AS STRING))), 1, 8), 16, 10) AS BIGINT) % 1000")
      val w = when(col("u") < 368, 0L).when(col("u") < 736, 1L)
        .when(col("u") < 920, 2L).when(col("u") < 981, 3L)
        .when(col("u") < 996, 4L).otherwise(5L)
      documents(s, d).select(col("doc_id"), col("n_chars"))
        .crossJoin(broadcast(reps))
        .withColumn("u", u)
        .withColumn("w", w)
        .groupBy(col("rep"))
        .agg(sum(col("w")).as("n_eff"),
          sum(col("w") * col("n_chars")).as("wsum"))
        .select(col("rep"), col("n_eff"), col("wsum"),
          // quotient/remainder split of wsum·1e6 div n_eff — identical
          // value, but the intermediates stay Long-safe at corpora where
          // wsum·1e6 itself would wrap (~9 TB of weighted chars)
          expr("(wsum div greatest(n_eff, 1L)) * 1000000L + " +
            "(wsum % greatest(n_eff, 1L)) * 1000000L div greatest(n_eff, 1L)")
            .as("mean_ppm"))
        .orderBy(col("rep"))
    }))

  // Round 14 (optimization, guide §2.4) NEGATIVE result: persisting
  // `pairs` before the symmetrizing union measured a small same-boot
  // REGRESSION (1.87 vs 1.73 s min-of-4,
  // BENCH_AB_r14_sharedsubtrees.json) — the two union branches are
  // identical up to the final projection, so AQE's runtime stage reuse
  // already shares every exchange-bounded stage between them and the
  // persist only adds a materialization barrier. (The old "union
  // branches only share work via a cached source" rule predates AQE
  // stage reuse; it still holds for exchange-LESS shared subtrees —
  // see q9.)
  private def labelPropagation(s: SparkSession, d: String): DataFrame = {
    val pairs = Ext.lshVerifiedPairs(s, d, 0.5)
      .select(col("id1"), col("id2"))
    val edges = pairs.select(col("id1").as("src"), col("id2").as("dst"))
      .unionByName(pairs.select(col("id2").as("src"), col("id1").as("dst")))
      .persistTracked()
    val seed = documents(s, d)
      .select(col("doc_id").as("node"), col("source").as("lab"))
      .persistTracked()
    def round(labels: DataFrame): DataFrame =
      edges.join(labels.withColumnRenamed("node", "dst"), Seq("dst"))
        .groupBy(col("src"), col("lab"))
        .agg(count(lit(1)).as("votes"))
        .groupBy(col("src"))
        .agg(min(struct((-col("votes")).as("nv"), col("lab"))).as("m"))
        .select(col("src").as("node"), col("m.lab").as("lab"))
    // only nodes WITH neighbors update; isolated docs keep their seed
    val r1 = round(seed)
    val l1 = seed.join(r1.withColumnRenamed("lab", "new_lab"), Seq("node"), "left")
      .select(col("node"), coalesce(col("new_lab"), col("lab")).as("lab"))
      .persistTracked()
    val r2 = round(l1)
    val l2 = seed.select(col("node"), col("lab").as("seed_lab"))
      .join(l1.withColumnRenamed("lab", "lab1"), Seq("node"))
      .join(r2.withColumnRenamed("lab", "lab2"), Seq("node"), "left")
      .select(col("node"), col("seed_lab"), col("lab1"),
        coalesce(col("lab2"), col("lab1")).as("lab2"))
    l2.filter(col("seed_lab") =!= col("lab2") || col("seed_lab") =!= col("lab1"))
      .withColumn("flipped", col("seed_lab") =!= col("lab2"))
      .orderBy(col("node"))
  }

  val oracleSql: Map[String, String] = Map(

    "x138_label_propagation" -> (Ext12.pairsCte +
      """,
        |ed AS (SELECT id1 AS src, id2 AS dst FROM pairs
        |  UNION ALL SELECT id2, id1 FROM pairs),
        |sd AS (SELECT doc_id AS node, source AS lab FROM documents),
        |v1 AS (SELECT src, lab, count(*) AS votes
        |  FROM ed JOIN sd ON sd.node = ed.dst GROUP BY 1, 2),
        |m1 AS (SELECT src AS node, lab FROM (SELECT src, lab,
        |    row_number() OVER (PARTITION BY src ORDER BY votes DESC, lab) AS rn
        |  FROM v1) WHERE rn = 1),
        |l1 AS (SELECT sd.node, coalesce(m1.lab, sd.lab) AS lab
        |  FROM sd LEFT JOIN m1 USING (node)),
        |v2 AS (SELECT src, l1.lab, count(*) AS votes
        |  FROM ed JOIN l1 ON l1.node = ed.dst GROUP BY 1, 2),
        |m2 AS (SELECT src AS node, lab FROM (SELECT src, lab,
        |    row_number() OVER (PARTITION BY src ORDER BY votes DESC, lab) AS rn
        |  FROM v2) WHERE rn = 1)
        |SELECT sd.node, sd.lab AS seed_lab, l1.lab AS lab1,
        |  coalesce(m2.lab, l1.lab) AS lab2,
        |  sd.lab <> coalesce(m2.lab, l1.lab) AS flipped
        |FROM sd JOIN l1 USING (node) LEFT JOIN m2 USING (node)
        |WHERE sd.lab <> coalesce(m2.lab, l1.lab) OR sd.lab <> l1.lab
        |ORDER BY sd.node""".stripMargin),

    "w33_first_touch" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus,
        |    event_type FROM events),
        |t AS (SELECT user_id, event_type,
        |    first_value(CASE WHEN event_type <> 'purchase'
        |        THEN event_type END IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY tus, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
        |  FROM e)
        |SELECT coalesce(touch, '(none)') AS channel,
        |  count(*) AS n_purchases, count(DISTINCT user_id) AS n_users
        |FROM t WHERE event_type = 'purchase'
        |GROUP BY channel ORDER BY channel""".stripMargin,

    "x139_bootstrap_spread" ->
      """WITH reps AS (SELECT unnest(range(0, 8)) AS rep),
        |r AS (SELECT rep, doc_id, n_chars,
        |    CAST(concat('0x', substr(md5(CAST(rep AS VARCHAR) || ':' ||
        |      CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 AS u
        |  FROM documents CROSS JOIN reps),
        |w AS (SELECT rep, n_chars,
        |    CASE WHEN u < 368 THEN 0 WHEN u < 736 THEN 1 WHEN u < 920 THEN 2
        |      WHEN u < 981 THEN 3 WHEN u < 996 THEN 4 ELSE 5 END AS w
        |  FROM r)
        |SELECT CAST(rep AS INT) AS rep, CAST(sum(w) AS BIGINT) AS n_eff,
        |  CAST(sum(w * n_chars) AS BIGINT) AS wsum,
        |  CAST((sum(w * n_chars) // greatest(sum(w), 1)) * 1000000
        |    + (sum(w * n_chars) % greatest(sum(w), 1)) * 1000000
        |      // greatest(sum(w), 1) AS BIGINT) AS mean_ppm
        |FROM w GROUP BY rep ORDER BY rep""".stripMargin)
}
