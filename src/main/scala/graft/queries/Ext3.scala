package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.tables.Tables._
import graft.ext.TextOps

/** Round-4 additions: the remaining shapes a large-scale training-data /
  * event-analytics pipeline runs that the catalog did not yet cover —
  * sessionization (gap-based event grouping), in-document repetition
  * filtering (the Gopher-style "fraction of duplicated n-grams" quality
  * rule), arbitrary GROUPING SETS (beyond rollup/cube's fixed lattices),
  * wide→long unpivot, and fixed-size per-stratum sampling.
  *
  * Determinism rules as everywhere in the catalog: decimal sums for
  * order-free totals, md5-prefix hashes replayed by the oracle, ratios of
  * exact integers, microsecond (never nanosecond) event-time arithmetic —
  * DuckDB truncates the parquet TIMESTAMP(NANOS) column to micros, so both
  * engines compute on the identical micros value (`unix_micros` here,
  * `epoch_us` there).
  */
object Ext3 {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // W10 SESSIONIZATION: split each user's event stream into sessions at
    // >24-hour inactivity gaps (the driver feed's users emit every few
    // hours — a web-style 30-min gap would make nearly every event its own
    // session) — lag to mark session starts, running sum to
    // number them, then a per-(user, session) aggregate. ONE shuffle on
    // user_id serves both window passes (same partitioning + ordering), and
    // the final groupBy is partial-aggregable; sessions never span users, so
    // the plan holds at any user count.
    "w10_sessionize" -> ((s, d) => {
      val gapUs = 24L * 3600 * 1000000 // 24 h in MICROSECONDS (see scaladoc)
      val w = Window.partitionBy(col("user_id")).orderBy(col("tus"), col("event_id"))
      events(s, d)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tus"),
          col("value"))
        .withColumn("prev", lag(col("tus"), 1).over(w))
        .withColumn("is_start",
          when(col("prev").isNull || col("tus") - col("prev") > gapUs, 1)
            .otherwise(0))
        .withColumn("session_no", sum(col("is_start")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_no"))
        .agg(count(lit(1)).as("n_events"),
          min(col("event_id")).as("first_event"),
          max(col("event_id")).as("last_event"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        .orderBy(col("user_id"), col("session_no"))
    }),

    // X4g IN-DOC REPETITION (Gopher-style quality rule): fraction of
    // duplicated trigrams within each document — a pure per-row expression
    // over the native one-pass distinct-shingle set (no shuffle, no join;
    // one scan at any corpus size). High dup_tri_ratio = boilerplate /
    // template spam the training pipeline drops before dedup even runs.
    "x28_repetition" -> ((s, d) => {
      documents(s, d)
        .select(col("doc_id"), TextOps.words(col("text")).as("w"))
        .filter(size(col("w")) >= 3)
        .select(col("doc_id"),
          (size(col("w")) - 2).as("n_tri"),
          size(TextOps.shingles3(col("w"))).as("n_tri_distinct"))
        .select(col("doc_id"), col("n_tri"), col("n_tri_distinct"),
          ((col("n_tri") - col("n_tri_distinct")).cast("double") / col("n_tri"))
            .as("dup_tri_ratio"))
        .orderBy(col("doc_id"))
    }),

    // G4 arbitrary GROUPING SETS: a lattice rollup/cube cannot express —
    // ((flag, status), (status), ()) skips the (flag)-only level. Same
    // Expand + partial-aggregable hash-agg shape as g1/g3; grouping()
    // markers + COALESCE('ALL') pin cross-engine null ordering.
    "g4_grouping_sets" -> ((s, d) => {
      lineitem(s, d)
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_linestatus")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          grouping(col("l_returnflag")).as("g_rf"),
          grouping(col("l_linestatus")).as("g_ls"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("n"), col("sum_qty"), col("g_rf"), col("g_ls"))
        .orderBy(col("g_rf"), col("g_ls"), col("returnflag"), col("linestatus"))
    }),

    // F17 UNPIVOT (wide → long): the melt step feature pipelines run before
    // per-measure aggregation. Spark's native unpivot is a zero-shuffle
    // Expand (4 output rows per input row, no join, no union of scans —
    // the oracle's UNION ALL spelling would read the table 4 times).
    "f17_unpivot" -> ((s, d) => {
      lineitem(s, d)
        .filter(col("l_orderkey") % 100 === 0)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"), col("l_tax"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"),
            col("l_tax")),
          "measure", "val")
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("measure"))
    }),

    // W11 FUNNEL: per-user ordered-stage detection (view → click →
    // purchase): t1 = first view, t2 = first click strictly after t1, t3 =
    // first purchase strictly after t2. Each stage is an unbounded
    // conditional-min window over the SAME user_id partitioning — the three
    // Window nodes layer over ONE exchange (each depends on the previous
    // stage's value), and the final per-user collapse is already
    // co-partitioned. min() selects a VALUE (not a row), so ties in the
    // micros timeline cannot make the result nondeterministic.
    "w11_funnel" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
      val stages = events(s, d)
        .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("tus"))
        .withColumn("t1",
          min(when(col("event_type") === "view", col("tus"))).over(w))
        .withColumn("t2",
          min(when(col("event_type") === "click" && col("tus") > col("t1"),
            col("tus"))).over(w))
        .withColumn("t3",
          min(when(col("event_type") === "purchase" && col("tus") > col("t2"),
            col("tus"))).over(w))
      stages.groupBy(col("user_id"))
        .agg(min(col("t1")).as("t1"), min(col("t2")).as("t2"),
          min(col("t3")).as("t3"))
        .select(col("user_id"), col("t1"), col("t2"), col("t3"),
          (when(col("t1").isNotNull, 1).otherwise(0) +
            when(col("t2").isNotNull, 1).otherwise(0) +
            when(col("t3").isNotNull, 1).otherwise(0)).as("stages_reached"))
        .orderBy(col("user_id"))
    }),

    // X6c COUNT-MIN SKETCH heavy hitters: the mergeable-sketch path for
    // term frequencies when the exact per-token map no longer fits (x18 is
    // the exact twin). Counters are a partial-aggregable groupBy over
    // (row j, bucket h_j(tok)) — 4 × 1024 cells regardless of corpus size —
    // and every estimate is min_j counter[j][h_j(tok)] ≥ the true count.
    // Hashes are the catalog's md5-prefix convention, so the oracle replays
    // the sketch bit-identically (estimates here are deterministic, unlike
    // library CMS impls seeded at random). Exact counts ride along to
    // expose the one-sided error; top-20 by estimate.
    "x30_cms_heavy_hitters" -> ((s, d) => {
      val D = 4       // sketch rows
      val W = 1024    // buckets per row
      val tok = documents(s, d).repartition(col("doc_id"))
        .select(explode(TextOps.words(col("text"))).as("tok"))
      def bucket(j: Int, c: Column) =
        pmod(TextOps.hash32(concat(lit(s"cms$j:"), c)), lit(W))
      val counters = tok
        .select(col("tok"), posexplode(array((0 until D).map(j =>
          bucket(j, col("tok"))): _*)).as(Seq("j", "bucket")))
        .groupBy(col("j"), col("bucket")).agg(count(lit(1)).as("cnt"))
      val exact = tok.groupBy(col("tok")).agg(count(lit(1)).as("exact_n"))
      val est = exact.select(col("tok"), col("exact_n"),
          posexplode(array((0 until D).map(j => bucket(j, col("tok"))): _*))
            .as(Seq("j", "bucket")))
        .join(counters, Seq("j", "bucket"))
        .groupBy(col("tok"), col("exact_n")).agg(min(col("cnt")).as("est"))
      // top-k via orderBy+limit (TakeOrderedAndProject — per-partition heaps
      // + driver merge, never a global sort or single-partition window)
      est.select(col("tok"), col("est"), col("exact_n"))
        .orderBy(col("est").desc, col("tok"))
        .limit(20)
    }),

    // X2h SURVIVORSHIP: the step AFTER near-dup clustering — per duplicate
    // group keep the single best document by quality score (x8's formula),
    // deterministic tie-break on doc_id. Composes the catalog's own pieces:
    // simhash pair finding (x22) → connected components (x17's machinery) →
    // keyed argmax window. Only multi-member clusters emit (singletons have
    // nothing to discard). NOTE: like x17/x24, this constructor EXECUTES
    // work (the component loop is inherently iterative actions).
    "x31_canonical_pick" -> ((s, d) => {
      val stops = Seq("the", "a", "of", "and", "to", "in", "is")
      val pairs = Ext2.simhashPairs(s, d).select(col("id1"), col("id2"))
      val nodes = documents(s, d).select(col("doc_id").as("id"))
      val clusters = graft.ext.Components.connectedComponents(nodes, pairs)
      val q = documents(s, d)
        .select(col("doc_id"), TextOps.words(col("text")).as("w"))
        .select(col("doc_id"), size(col("w")).as("n_tokens"),
          size(array_distinct(col("w"))).as("n_distinct"),
          size(filter(col("w"), x => x.isInCollection(stops))).as("n_stop"))
        .select(col("doc_id"),
          ((col("n_distinct").cast("double") / col("n_tokens")) -
            (col("n_stop").cast("double") / col("n_tokens")) * 0.5)
            .as("quality"))
      clusters.join(q, clusters("id") === q("doc_id"))
        .withColumn("n_members",
          count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
        .filter(col("n_members") >= 2)
        .withColumn("rn", row_number().over(Window.partitionBy(col("cluster_id"))
          .orderBy(col("quality").desc, col("id"))))
        .filter(col("rn") === 1)
        .select(col("cluster_id"), col("id").as("keep_id"), col("quality"),
          col("n_members"))
        .orderBy(col("cluster_id"))
    }),

    // X4h STRATIFIED FIXED-SIZE SAMPLE: exactly k docs per source stratum,
    // chosen by md5-prefix hash order — reproducible on every engine/run
    // (x19's salted-hash convention), stable under corpus growth within a
    // stratum's kept set only where hashes precede the k-th. One shuffle on
    // the stratum key; rank truncation is per-partition (never global).
    "x29_stratified_sample" -> ((s, d) => {
      val h = TextOps.hash32(concat(lit("strat:"), col("doc_id").cast("string")))
      documents(s, d)
        .select(col("doc_id"), col("source"), h.as("hv"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("source")).orderBy(col("hv"), col("doc_id"))))
        .filter(col("rnk") <= 20)
        .select(col("source"), col("doc_id"), col("rnk"))
        .orderBy(col("source"), col("rnk"))
    }))

  /** Min-label propagation over `edges` as chained CTEs (c0..; see the
    * x31 oracle note). Emitted without margin pipes — the caller's
    * stripMargin leaves unmargined lines alone — and with plain `AS (`
    * heads for the caller's matCtes to pin.
    *
    * Convergence sentinel (ADVICE r12, sharpened per ADVICE r13): the
    * fixed round count replaces the exact WITH RECURSIVE closure, so
    * correctness depends on the component diameter staying under the
    * bound. The sentinel runs ONE EXTRA probe round (c$rounds+1) and
    * errors loudly when it still moves any label vs c$rounds — so a
    * fixpoint reached exactly AT the final budgeted round is provable
    * (the old c$rounds-vs-c$rounds-1 compare rejected that case, making
    * the effective proven budget rounds-1). The final labels read from
    * the probe round, which equals c$rounds whenever the sentinel
    * passes. Costs one extra (tiny-frame) propagation + self-join. */
  private def labelRounds(rounds: Int): String = {
    val c0 = "c0 AS (SELECT doc_id AS id, doc_id AS lab FROM documents)"
    val steps = (1 to rounds + 1).map { k =>
      val p = s"c${k - 1}"
      s"""c$k AS (SELECT n.id,
  least(n.lab, coalesce(nm.m, n.lab), coalesce(ch.lab, n.lab)) AS lab
  FROM $p n
  LEFT JOIN (SELECT e.b AS id2, min(r.lab) AS m
             FROM $p r JOIN edges e ON e.a = r.id GROUP BY e.b) nm
    ON nm.id2 = n.id
  LEFT JOIN $p ch ON ch.id = n.lab)"""
    }
    val sentinel =
      s"""cconv AS (SELECT count(*) AS moved
  FROM c${rounds + 1} a JOIN c$rounds b ON a.id = b.id AND a.lab <> b.lab),
cfinal AS (SELECT a.id,
  CASE WHEN (SELECT moved FROM cconv) > 0
       THEN CAST(error('labelRounds($rounds): min-label iteration not converged — raise the round count') AS BIGINT)
       ELSE a.lab END AS lab
  FROM c${rounds + 1} a)"""
    (c0 +: steps :+ sentinel).mkString(",\n") + ","
  }

  val oracleSql: Map[String, String] = Map(

    "w10_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus, value FROM events),
        |s AS (SELECT user_id, event_id, tus, value,
        |  CASE WHEN lag(tus) OVER w IS NULL
        |         OR tus - lag(tus) OVER w > 86400000000 THEN 1 ELSE 0 END AS is_start
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
        |g AS (SELECT user_id, event_id, value,
        |  CAST(sum(is_start) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_no
        |  FROM s)
        |SELECT user_id, session_no, count(*) AS n_events,
        |  min(event_id) AS first_event, max(event_id) AS last_event,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM g GROUP BY user_id, session_no
        |ORDER BY user_id, session_no""".stripMargin,

    "x28_repetition" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |t AS (SELECT doc_id, len(w) - 2 AS n_tri,
        |  len(list_distinct(list_transform(range(1, len(w)-1),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS n_tri_distinct
        |  FROM w WHERE len(w) >= 3)
        |SELECT doc_id, n_tri, n_tri_distinct,
        |  CAST(n_tri - n_tri_distinct AS DOUBLE) / n_tri AS dup_tri_ratio
        |FROM t ORDER BY doc_id""".stripMargin,

    "g4_grouping_sets" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
        |  COALESCE(l_linestatus, 'ALL') AS linestatus,
        |  count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  GROUPING(l_returnflag) AS g_rf,
        |  GROUPING(l_linestatus) AS g_ls
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
        |ORDER BY g_rf, g_ls, returnflag, linestatus""".stripMargin,

    "f17_unpivot" ->
      """WITH b AS (SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
        |  l_discount, l_tax FROM lineitem WHERE l_orderkey % 100 = 0)
        |SELECT l_orderkey, l_linenumber, measure, val FROM (
        |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS val FROM b
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM b
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM b
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM b)
        |ORDER BY l_orderkey, l_linenumber, measure""".stripMargin,

    "w11_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tus FROM events),
        |w1 AS (SELECT *, min(CASE WHEN event_type = 'view' THEN tus END)
        |  OVER (PARTITION BY user_id) AS t1 FROM e),
        |w2 AS (SELECT *, min(CASE WHEN event_type = 'click' AND tus > t1 THEN tus END)
        |  OVER (PARTITION BY user_id) AS t2 FROM w1),
        |w3 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND tus > t2 THEN tus END)
        |  OVER (PARTITION BY user_id) AS t3 FROM w2)
        |SELECT user_id, min(t1) AS t1, min(t2) AS t2, min(t3) AS t3,
        |  (CASE WHEN min(t1) IS NOT NULL THEN 1 ELSE 0 END
        |   + CASE WHEN min(t2) IS NOT NULL THEN 1 ELSE 0 END
        |   + CASE WHEN min(t3) IS NOT NULL THEN 1 ELSE 0 END) AS stages_reached
        |FROM w3 GROUP BY user_id ORDER BY user_id""".stripMargin,

    "x30_cms_heavy_hitters" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |jt AS (SELECT tok, CAST(j AS INT) AS j FROM tok, range(4) t(j)),
        |b AS (SELECT tok, j,
        |  CAST(concat('0x', substr(md5('cms' || CAST(j AS VARCHAR) || ':' || tok),1,8)) AS BIGINT) % 1024 AS bucket
        |  FROM jt),
        |counters AS (SELECT j, bucket, count(*) AS cnt FROM b GROUP BY j, bucket),
        |exact AS (SELECT tok, count(*) AS exact_n FROM tok GROUP BY tok),
        |vb AS (SELECT tok, exact_n, CAST(j AS INT) AS j,
        |  CAST(concat('0x', substr(md5('cms' || CAST(j AS VARCHAR) || ':' || tok),1,8)) AS BIGINT) % 1024 AS bucket
        |  FROM exact, range(4) t(j)),
        |est AS (SELECT tok, exact_n, min(cnt) AS est
        |  FROM vb JOIN counters USING (j, bucket) GROUP BY tok, exact_n)
        |SELECT tok, est, exact_n FROM est
        |ORDER BY est DESC, tok LIMIT 20""".stripMargin,

    // matCtes (round 10): the bands/f/pairs CTEs are each referenced
    // twice — unpinned, DuckDB re-inlines the whole 48-column simhash
    // replay into every reference (1.75 s → 0.10 s at sf0.01, rows
    // identical in the full base-vs-mat profile; MATERIALIZED is valid
    // on the WITH RECURSIVE chain too).
    //
    // Round 12: the component labeling is no longer the WITH RECURSIVE
    // transitive closure — the sf0.1 corpus has ONE 1,862-node near-dup
    // component, and `reach` accumulated every (node, reachable-label)
    // pair (~|C|² rows, 22.9 s of the oracle's 23.2 s, CTE-profiled).
    // [[labelRounds]] below is the engine's own min-label iteration
    // (Components.connectedComponents) as FIXED chained CTEs: per round
    // each node takes the least of its label, its neighbors' labels and
    // its label's label (pointer chase). Identical fixpoint = component
    // min; idempotent once converged, so extra rounds never change a
    // value. 32 rounds = 2.3× the measured worst-case need (min-node
    // eccentricity 6/10/14 at sf0.001/0.01/0.1; the chase usually makes
    // depth logarithmic but is not worst-case-proven, hence the margin
    // on the measured linear bound). A corpus needing more rounds fails
    // the gate loudly as a hash mismatch. 20.0 s → 0.9 s at sf0.1,
    // rows identical at all 3 SFs.
    "x31_canonical_pick" -> Ext43.matCtes {
      // same generated 48-bit simhash replay as x22, extended with the
      // recursive component labeling (x17's oracle shape) and the quality
      // argmax pick
      val sums = (0 until 48).map(i =>
        s"sum(CASE WHEN (wh >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS s$i").mkString(",\n|  ")
      val fp = (0 until 48).map(i =>
        s"(CASE WHEN s$i >= 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")
      s"""WITH RECURSIVE t AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
        |  FROM documents),
        |h AS (SELECT doc_id, CAST(concat('0x', substr(md5(w),1,12)) AS BIGINT) AS wh FROM t),
        |b AS (SELECT doc_id,
        |  $sums
        |  FROM h GROUP BY doc_id),
        |f AS (SELECT doc_id, $fp AS fp FROM b),
        |bands AS (SELECT doc_id, fp, 0 AS bi, fp & ${(1L << 24) - 1} AS bv FROM f
        |  UNION ALL SELECT doc_id, fp, 1 AS bi, fp >> 24 AS bv FROM f),
        |cand AS (SELECT a.doc_id AS id1, b.doc_id AS id2
        |  FROM bands a JOIN bands b ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |ver AS (SELECT id1, id2, CAST(bit_count(xor(x.fp, y.fp)) AS INT) AS hamming
        |  FROM cand JOIN f x ON x.doc_id = id1 JOIN f y ON y.doc_id = id2),
        |pairs AS (SELECT id1, id2 FROM ver WHERE hamming <= 1),
        |edges AS (SELECT id1 AS a, id2 AS b FROM pairs
        |  UNION ALL SELECT id2 AS a, id1 AS b FROM pairs),
        |${labelRounds(32)}
        |lab AS (SELECT id, lab AS cluster_id FROM cfinal),
        |mem AS (SELECT id, cluster_id,
        |  count(*) OVER (PARTITION BY cluster_id) AS n_members FROM lab),
        |ww AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |qual AS (SELECT doc_id,
        |  CAST(len(list_distinct(w)) AS DOUBLE) / len(w) -
        |  CAST(len(list_filter(w, x -> list_contains(['the','a','of','and','to','in','is'], x))) AS DOUBLE) / len(w) * 0.5 AS quality
        |  FROM ww),
        |pick AS (SELECT cluster_id, id AS keep_id, quality, n_members,
        |  row_number() OVER (PARTITION BY cluster_id ORDER BY quality DESC, id) AS rn
        |  FROM mem JOIN qual ON qual.doc_id = mem.id
        |  WHERE n_members >= 2)
        |SELECT cluster_id, keep_id, quality, n_members FROM pick WHERE rn = 1
        |ORDER BY cluster_id""".stripMargin
    },

    "x29_stratified_sample" ->
      """WITH h AS (SELECT doc_id, source,
        |  CAST(concat('0x', substr(md5('strat:' || CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT) AS hv
        |  FROM documents),
        |r AS (SELECT source, doc_id,
        |  row_number() OVER (PARTITION BY source ORDER BY hv, doc_id) AS rnk FROM h)
        |SELECT source, doc_id, rnk FROM r WHERE rnk <= 20
        |ORDER BY source, rnk""".stripMargin)
}
