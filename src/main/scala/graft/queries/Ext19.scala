package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.tables.Tables._
import graft.ext.TextOps

/** Round-5 batch: first-fit-decreasing sequence packing (x78) — the
  * quality-optimizing sibling of x61's next-fit pack. Same distributed
  * contract (pack resets every 64 docs so chunks pack independently and in
  * parallel; bin ids compose as chunk·64 + local bin), but within a chunk
  * docs are taken LARGEST FIRST and each goes into the FIRST open bin it
  * fits — the classic FFD heuristic (≤ 11/9·OPT + 1 bins), which training
  * pipelines prefer over next-fit because it wastes far less token budget
  * per bin. The oracle replays the exact fold with a depth-64 recursive
  * CTE whose state carries the open-bin fill LIST (reference technique:
  * x61, extended with list state).
  */
object Ext19 {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // X78 FIRST-FIT-DECREASING PACKING: per chunk, sort docs by token
    // count DESC (tie: doc_id), then fold with state = open-bin fills
    // array: first fitting bin wins, else open a new one. The fold is a
    // single aggregate HOF per chunk (bounded 64-element state, no shuffle
    // beyond the chunk groupBy) — the same scale shape as x61; a doc
    // longer than the budget gets a bin of its own on both engines.
    "x78_ffd_pack" -> ((s, d) => {
      val docs = documents(s, d).select(col("doc_id"),
        expr("doc_id div 64").as("chunk"),
        size(TextOps.words(col("text"))).cast("long").as("t"))
      // sort_array ascending on (-t, doc_id, t) = largest-first, id tiebreak
      val packed = docs
        .groupBy(col("chunk"))
        .agg(sort_array(collect_list(
          struct((-col("t")).as("nt"), col("doc_id"), col("t")))).as("lst"))
        .withColumn("p", explode(expr(
          """aggregate(lst,
            |  named_struct(
            |    'fills', cast(array() as array<bigint>),
            |    'out', cast(array() as array<struct<doc_id:bigint,t:bigint,bin:bigint>>)),
            |  (acc, x) -> named_struct(
            |    'fills',
            |    CASE WHEN array_position(transform(acc.fills, f -> f + x.t <= 200), true) > 0
            |      THEN transform(acc.fills, (f, i) ->
            |        CASE WHEN i = array_position(transform(acc.fills, f2 -> f2 + x.t <= 200), true) - 1
            |          THEN f + x.t ELSE f END)
            |      ELSE concat(acc.fills, array(x.t)) END,
            |    'out',
            |    concat(acc.out, array(named_struct(
            |      'doc_id', x.doc_id, 't', x.t,
            |      'bin',
            |      CASE WHEN array_position(transform(acc.fills, f -> f + x.t <= 200), true) > 0
            |        THEN array_position(transform(acc.fills, f -> f + x.t <= 200), true) - 1
            |        ELSE cast(size(acc.fills) as bigint) END)))),
            |  acc -> acc.out)""".stripMargin)))
      packed.select(col("p.doc_id").as("doc_id"),
          col("p.t").as("n_tokens"),
          (col("chunk") * 64 + col("p.bin")).as("bin_id"))
        .orderBy(col("doc_id"))
    }),

    // X79 VOCAB COVERAGE CURVE: what share of corpus tokens the top-k
    // vocabulary entries cover, k ∈ {100, 1000, 10000} — the curve that
    // sizes a tokenizer vocabulary. ONE corpus-scale word count feeds all
    // three points; each top-k is a bounded TakeOrdered (never a global
    // sort of the vocabulary), and the share is integer per-mille
    // (multiply before `div` — exact on both engines).
    // Round 15: freq persist dropped (the exchange-topped-rollup rule;
    // BENCH_AB_r15_rollups2.json) — all four consumers share the vocab
    // groupBy's exchange.
    "x79_vocab_coverage" -> ((s, d) => vocabCoverage(s, d)),

    // X80 DUP-CLUSTER SIZE HISTOGRAM: the dedup AUDIT view — how many
    // exact-duplicate clusters exist at each size (1 = unique). Two
    // partial-aggregable shuffles (content-hash groupBy, then size
    // groupBy), 32 B/doc on the wire — the same scale shape as x1.
    "x80_dup_histogram" -> ((s, d) => {
      documents(s, d)
        .groupBy(md5(col("text")).as("h")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("sz")).as("n_docs"))
        .orderBy(col("sz"))
    }),

    // X84 DUPLICATED-SPAN DETECTION: find exact 32-token spans appearing
    // more than once in the corpus (stride 16) — the span-level exact
    // dedup of Lee et al., "Deduplicating Training Data Makes Language
    // Models Better" (suffix-array method; here the equivalent
    // fixed-length-window spelling a distributed engine uses). Windows
    // explode partition-locally, the span digest (md5 — 16 B on the wire,
    // never the text) feeds ONE partial-aggregable groupBy, and the
    // report is a bounded top-20. At 100 TB the shape is unchanged:
    // shuffle volume tracks distinct span digests, not corpus bytes.
    "x84_dup_spans" -> ((s, d) => {
      val spans = documents(s, d)
        .select(col("doc_id"), TextOps.words(col("text")).as("w"),
          size(TextOps.words(col("text"))).as("n"))
        .filter(col("n") >= 32)
        .select(col("doc_id"), col("w"),
          explode(sequence(lit(1), col("n") - 31, lit(16))).as("i"))
        .select(col("doc_id"),
          md5(array_join(slice(col("w"), col("i"), lit(32)), " ")).as("h"))
      spans.groupBy(col("h"))
        .agg(count(lit(1)).as("n_occ"),
          countDistinct(col("doc_id")).as("n_docs"),
          min(col("doc_id")).as("first_doc"))
        .filter(col("n_occ") > 1)
        .orderBy(col("n_occ").desc, col("h"))
        .limit(20)
    }),

    // X83 PRIORITY SAMPLING (Duffield–Lund–Thorup): weight-sensitive
    // sampling with unbiased subset-sum estimates — the sampler a corpus
    // profiler uses when long documents must be proportionally more
    // likely. Integer-faithful: u ∈ [1, 2^31] from the salted hash,
    // priority = (w·2^31) div u (the w/u rank in fixed point), sample =
    // top-20 priorities (bounded TakeOrdered — never a global sort), and
    // the DLT estimate per sampled doc is max(w, τ) with τ the 21st
    // priority. Per-row expression + two bounded top-k passes over one
    // cached 21-row frame: scale cost is the scan, as a sampler should be.
    "x83_priority_sample" -> ((s, d) => {
      import graft.GraftCaches.TrackedPersist
      val w = size(TextOps.words(col("text"))).cast("long")
      val u = pmod(TextOps.hash32(
        concat(lit("prio:"), col("doc_id").cast("string"))),
        lit(2147483648L)) + 1
      val scored = documents(s, d)
        .select(col("doc_id"), w.as("w"), u.as("u"))
        .select(col("doc_id"), col("w"),
          expr("(w * 2147483648) div u").as("priority"))
      val top21 = scored.orderBy(col("priority").desc, col("doc_id"))
        .limit(21).persistTracked()
      val tau = top21.agg(min(col("priority")).as("tau"))
      top21.orderBy(col("priority").desc, col("doc_id")).limit(20)
        .crossJoin(broadcast(tau))
        .select(col("doc_id"), col("w"), col("priority"),
          expr("greatest(w, tau div 2147483648)").as("w_est"))
        .orderBy(col("doc_id"))
    }),

    // X82 CONTAMINATION SPAN MERGE: union overlapping character intervals
    // per doc and report the covered length — the span-level form of
    // decontamination (x25 is document-level), where flagged ranges from
    // several matchers must merge before redaction. Spans are synthesized
    // deterministically (the corpus ships none) and replayed by the
    // oracle; the operator is the classic islands merge: a span opens a
    // new island when its start exceeds every previous end (keyed running
    // max), islands aggregate per doc. All windows are keyed by doc_id —
    // no unpartitioned window at any corpus size.
    "x82_span_merge" -> ((s, d) => {
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("s"), col("e"), col("i"))
      val spans = documents(s, d)
        .select(col("doc_id"), explode(sequence(lit(0L), lit(4L))).as("i"))
        .select(col("doc_id"), col("i"),
          ((col("doc_id") * 7 + col("i") * 13) % 180).as("s"))
        .withColumn("e", col("s") + 10 + pmod(col("doc_id") + col("i"), lit(30)))
      val islands = spans
        .withColumn("prev_max_e",
          max(col("e")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("opens",
          when(col("prev_max_e").isNull || col("s") > col("prev_max_e"), 1L)
            .otherwise(0L))
        .withColumn("island",
          sum(col("opens")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      islands
        .groupBy(col("doc_id"), col("island"))
        .agg(min(col("s")).as("is_s"), max(col("e")).as("is_e"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_islands"),
          sum(col("is_e") - col("is_s")).as("covered_len"))
        .orderBy(col("doc_id"))
    }))

  /** x79 body. */
  private def vocabCoverage(s: SparkSession, d: String): DataFrame = {
      val freq = documents(s, d)
        .select(explode(TextOps.words(col("text"))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("c"))
      val total = freq.agg(sum(col("c")).as("total"))
      val pts = Seq(100, 1000, 10000).map { k =>
        freq.orderBy(col("c").desc, col("word")).limit(k)
          .agg(lit(k.toLong).as("k"), sum(col("c")).as("covered"))
      }.reduce(_.union(_))
      pts.crossJoin(broadcast(total))
        .select(col("k"), col("covered"), col("total"),
          expr("(covered * 1000) div total").as("per_mille"))
        .orderBy(col("k"))
  }

  val oracleSql: Map[String, String] = Map(

    "x78_ffd_pack" ->
      """WITH RECURSIVE d AS (SELECT doc_id, doc_id // 64 AS chunk,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS t,
        |    CAST(row_number() OVER (PARTITION BY doc_id // 64
        |      ORDER BY t DESC, doc_id) AS BIGINT) AS rn
        |  FROM documents),
        |st AS (
        |  SELECT chunk, rn, doc_id, t, [t] AS fills, CAST(0 AS BIGINT) AS bin
        |  FROM d WHERE rn = 1
        |  UNION ALL
        |  SELECT d.chunk, d.rn, d.doc_id, d.t,
        |    CASE WHEN p.pos > 0
        |      THEN st.fills[1:p.pos-1] || [st.fills[p.pos] + d.t] || st.fills[p.pos+1:]
        |      ELSE list_append(st.fills, d.t) END,
        |    CASE WHEN p.pos > 0 THEN CAST(p.pos - 1 AS BIGINT)
        |      ELSE CAST(len(st.fills) AS BIGINT) END
        |  FROM st JOIN d ON d.chunk = st.chunk AND d.rn = st.rn + 1,
        |    LATERAL (SELECT coalesce(list_position(
        |      list_transform(st.fills, f -> f + d.t <= 200), true), 0) AS pos) p)
        |SELECT doc_id, t AS n_tokens, chunk * 64 + bin AS bin_id
        |FROM st ORDER BY doc_id""".stripMargin,

    "x79_vocab_coverage" ->
      """WITH f AS (SELECT word, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |  GROUP BY word),
        |t AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM f),
        |p AS (
        |  SELECT CAST(100 AS BIGINT) AS k, CAST(sum(c) AS BIGINT) AS covered
        |  FROM (SELECT c FROM f ORDER BY c DESC, word LIMIT 100)
        |  UNION ALL
        |  SELECT 1000, CAST(sum(c) AS BIGINT)
        |  FROM (SELECT c FROM f ORDER BY c DESC, word LIMIT 1000)
        |  UNION ALL
        |  SELECT 10000, CAST(sum(c) AS BIGINT)
        |  FROM (SELECT c FROM f ORDER BY c DESC, word LIMIT 10000))
        |SELECT k, covered, total, (covered * 1000) // total AS per_mille
        |FROM p, t ORDER BY k""".stripMargin,

    "x80_dup_histogram" ->
      """SELECT sz, CAST(count(*) AS BIGINT) AS n_clusters,
        |  CAST(sum(sz) AS BIGINT) AS n_docs
        |FROM (SELECT md5(text) AS h, CAST(count(*) AS BIGINT) AS sz
        |  FROM documents GROUP BY 1)
        |GROUP BY sz ORDER BY sz""".stripMargin,

    "x84_dup_spans" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w,
        |    len(string_split(text, ' ')) AS n FROM documents),
        |sp AS (SELECT doc_id, md5(array_to_string(w[i:i+31], ' ')) AS h
        |  FROM (SELECT doc_id, w, unnest(range(1, n-30, 16)) AS i
        |    FROM w WHERE n >= 32))
        |SELECT h, CAST(count(*) AS BIGINT) AS n_occ,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  min(doc_id) AS first_doc
        |FROM sp GROUP BY h HAVING count(*) > 1
        |ORDER BY n_occ DESC, h LIMIT 20""".stripMargin,

    "x83_priority_sample" ->
      """WITH sc AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
        |    CAST(concat('0x', substr(md5('prio:' || CAST(doc_id AS VARCHAR)), 1, 8))
        |      AS BIGINT) % 2147483648 + 1 AS u
        |  FROM documents),
        |p AS (SELECT doc_id, w, (w * 2147483648) // u AS priority FROM sc),
        |t21 AS (SELECT doc_id, w, priority FROM p
        |  ORDER BY priority DESC, doc_id LIMIT 21),
        |tau AS (SELECT min(priority) AS tau FROM t21)
        |SELECT doc_id, w, priority, GREATEST(w, tau // 2147483648) AS w_est
        |FROM (SELECT doc_id, w, priority FROM t21
        |  ORDER BY priority DESC, doc_id LIMIT 20), tau
        |ORDER BY doc_id""".stripMargin,

    "x82_span_merge" ->
      """WITH spans AS (
        |  SELECT doc_id, i,
        |    (doc_id * 7 + i * 13) % 180 AS s,
        |    (doc_id * 7 + i * 13) % 180 + 10 + (doc_id + i) % 30 AS e
        |  FROM documents, (SELECT unnest(range(0, 5)) AS i)),
        |marked AS (
        |  SELECT doc_id, s, e,
        |    CASE WHEN max(e) OVER (PARTITION BY doc_id ORDER BY s, e, i
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |      OR s > max(e) OVER (PARTITION BY doc_id ORDER BY s, e, i
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      THEN 1 ELSE 0 END AS opens,
        |    i
        |  FROM spans),
        |isl AS (
        |  SELECT doc_id, s, e,
        |    CAST(sum(opens) OVER (PARTITION BY doc_id ORDER BY s, e, i
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS island
        |  FROM marked)
        |SELECT doc_id, CAST(count(DISTINCT island) AS BIGINT) AS n_islands,
        |  CAST(sum(is_e - is_s) AS BIGINT) AS covered_len
        |FROM (SELECT doc_id, island, min(s) AS is_s, max(e) AS is_e
        |  FROM isl GROUP BY doc_id, island)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)
}
