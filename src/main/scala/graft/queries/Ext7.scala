package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.tables.Tables._
import graft.ext.TextOps

/** Round-4 batch 4: sparse TF-IDF document similarity (the inverted-index
  * twin of the dense ANN family), corpus snapshot diffing (the
  * data-versioning audit between two dataset releases), and the
  * dataset-card summary (the one-row corpus report a dataset release
  * ships with).
  *
  * Determinism rules as everywhere in the catalog (ROUND_NOTES.md):
  * integer weights via multiply-then-`div`; no floats anywhere in this
  * file; every result ordered by a unique key.
  */
object Ext7 {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // X3g SPARSE TF-IDF COSINE: pairwise document similarity on sparse
    // term-weight vectors — the similarity-search twin that works where no
    // embedding exists. Terms are 3-shingles (the corpus vocabulary is
    // tiny, so single-word terms are all common; shingles carry the locality
    // signal). Candidate pairs come from an inverted index over RARE
    // shingles only (2 ≤ df ≤ 4): a term's posting list of length df
    // yields df·(df−1)/2 pairs, so capping df bounds candidate fan-out the
    // same way x4's prefix filter does — common terms never generate
    // pairs. The exact sparse dot then runs per candidate over the shared
    // terms (two equi joins, partial-aggregable sum); per-doc norms join
    // in from a one-shuffle aggregate. All weights are integers
    // (tf·N div df — multiply before `div`), so the score is exact on
    // both engines.
    // df cap [2,4] = the AllPairs tuning knob FOR THIS CORPUS: it keeps
    // the sf0.1 pair count at ~5k (vs ~436k at df ≤ 10 on this
    // synthetically self-similar corpus) while still pairing every doc
    // that shares a genuinely rare shingle. The cap is a RECALL knob, not
    // a constant of the operator — a corpus whose similarity signal lives
    // in commoner terms needs a higher cap (Ext7RecallSpec pins exactly
    // that behavior on a statistics-shifted corpus). The oracle replays
    // the same [2,4] index term-identically.
    // Round 14 (optimization, guide §2.4): the up-front repartition by
    // doc_id — an extra full-corpus exchange before the shingle explode —
    // measured a same-boot wash at sf0.1 (3.09 vs 3.18 s min-of-3,
    // BENCH_AB_r14_misc.json: the scan already yields enough splits), so
    // the catalog drops it. r15 correction: exchange COUNT is unchanged
    // (Catalyst re-inserts the aggregation's own (doc_id, term) exchange
    // — see the sparseCosineTopK comment); the form trades a pre-explode
    // full-row exchange for a post-explode partial-agg one, it does not
    // remove a shuffle. A source that really does arrive in one
    // unsplittable file would want the repartition back.
    // Round 15: the weighted-index persist dropped — 2.24 vs 4.15 s min
    // same-boot (BENCH_AB_r15_x47w.json). All four w consumers share
    // tf's and dfq's exchanges via stage reuse, so persist-free costs
    // them only reduce-side re-joins — far cheaper than materializing
    // the full (doc, term, w) index into cache; no consumer re-scans
    // the corpus either way (the scan + explode + partial agg sit below
    // tf's shared exchange).
    "x47_sparse_cosine" -> ((s, d) =>
      sparseCosineTopK(documents(s, d), dfLo = 2, dfHi = 4, k = 25)),

    // X4q SNAPSHOT DIFF: the audit between two dataset releases — which
    // docs were added, removed, changed, unchanged. Snapshot B is derived
    // from A by deterministic rules (drop id%17=0, revise id%5=0, add
    // id%23=0 under new ids) and replayed identically by the oracle; the
    // operator itself is ONE full-outer join on the doc key comparing
    // content hashes — a single shuffle at any corpus size, with the
    // status rollup partial-aggregable. Production diffing compares
    // stored content digests exactly like the md5 here.
    "x48_snapshot_diff" -> ((s, d) => {
      val a = documents(s, d).select(col("doc_id"), md5(col("text")).as("h"))
      val base = documents(s, d)
      val b = base.filter(col("doc_id") % 17 =!= 0)
        .select(col("doc_id"),
          md5(when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text"))).as("h"))
        .union(base.filter(col("doc_id") % 23 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), md5(col("text")).as("h")))
      a.as("a").join(b.as("b"), Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          when(col("b.h").isNull, "removed")
            .when(col("a.h").isNull, "added")
            .when(col("a.h") =!= col("b.h"), "changed")
            .otherwise("unchanged").as("status"))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy(col("status"))
    }),

    // X4r DATASET CARD: the one-row corpus report a dataset release ships
    // with — sizes, source/lang breadth, exact-dup rate, length spread.
    // Each statistic is an independent partial-aggregable aggregate over
    // one scan family; the combine is a broadcast of 1-row frames. All
    // integers (counts and exact sums), so the card is bit-stable.
    "x49_dataset_card" -> ((s, d) => {
      val docs = documents(s, d)
      val toks = docs.select(col("doc_id"),
        size(TextOps.words(col("text"))).cast("long").as("nt"),
        length(col("text")).cast("long").as("nc"))
      val base = docs.agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("lang")).as("n_langs"))
      val sizes = toks.agg(
        sum(col("nt")).as("total_tokens"),
        sum(col("nc")).as("total_chars"),
        max(col("nt")).as("max_tokens"),
        min(col("nt")).as("min_tokens"))
      val dups = docs.agg((count(lit(1)) -
        countDistinct(trim(regexp_replace(lower(col("text")), "\\s+", " "))))
        .as("n_exact_dups"))
      base.crossJoin(broadcast(sizes)).crossJoin(broadcast(dups))
    }))

  /** Sparse TF-IDF cosine top-k with a parameterized rare-term df window
    * [dfLo, dfHi] for candidate generation. A term with document frequency
    * df yields df·(df−1)/2 candidate pairs, so dfHi bounds fan-out
    * quadratically; dfLo ≥ 2 skips terms that cannot pair at all. Weights
    * are integers (tf·N div df — multiply before `div`), so scores are
    * exact on any engine. dfHi = Int.MaxValue degenerates to the exact
    * all-shared-term candidate set (complete support of dot > 0) — the
    * ground truth Ext7RecallSpec measures recall against. */
  def sparseCosineTopK(docs: DataFrame, dfLo: Int, dfHi: Int,
      k: Int): DataFrame = {
    // No up-front docs.repartition(doc_id): r14 A/B at sf0.1 measured it
    // a wash (3.09 vs 3.18 s min-of-3, BENCH_AB_r14_misc.json).
    // CORRECTED r15 (VERDICT r14 "what's wrong" #1): dropping it does
    // NOT remove a shuffle — the r14 plans show 10 Exchanges either way,
    // because the explicit doc_id repartition was being REUSED to
    // satisfy the (doc_id, term) aggregation's distribution and
    // Catalyst re-inserts an ENSURE_REQUIREMENTS hashpartitioning(doc_id,
    // term) exchange when it is gone. What changes is WHERE the corpus
    // crosses the wire: pre-explode full-document rows vs post-explode
    // partially-aggregated (doc, term) rows. The latter carries narrower
    // rows and benefits from map-side combining — but no "saved corpus
    // shuffle" is claimed. The weighted index w is not persisted (see
    // the x47 entry, BENCH_AB_r15_x47w.json).
    val tf = docs
      .select(col("doc_id"), TextOps.words(col("text")).as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"),
        explode(TextOps.shingles3All(col("w"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tfreq"))
    val dfq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val w = tf.join(dfq, "term").crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"),
        expr("(tfreq * n) div df").as("w"))
    val rare = dfq.filter(col("df") >= dfLo && col("df") <= dfHi)
      .select(col("term"))
    val idx = w.join(rare, "term").select(col("term"), col("doc_id"))
    val cand = idx.as("a").join(idx.as("b"),
        col("a.term") === col("b.term") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .distinct()
    val norms = w.groupBy(col("doc_id"))
      .agg(sum(col("w") * col("w")).as("norm2"))
    val dots = cand
      .join(w.as("x"), col("id1") === col("x.doc_id"))
      .join(w.as("y"),
        col("id2") === col("y.doc_id") && col("x.term") === col("y.term"))
      .groupBy(col("id1"), col("id2"))
      .agg(sum(col("x.w") * col("y.w")).as("dot"))
    dots
      .join(norms.select(col("doc_id").as("id1"), col("norm2").as("n1sq")), "id1")
      .join(norms.select(col("doc_id").as("id2"), col("norm2").as("n2sq")), "id2")
      .orderBy(col("dot").desc, col("id1"), col("id2"))
      .limit(k)
      .select(col("id1"), col("id2"), col("dot"), col("n1sq"), col("n2sq"))
  }

  val oracleSql: Map[String, String] = Map(

    "x47_sparse_cosine" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |tok AS (SELECT doc_id,
        |    unnest(list_transform(range(1, len(w) - 1),
        |      i -> array_to_string(w[i:i+2], ' '))) AS term
        |  FROM w),
        |tf AS (SELECT doc_id, term, count(*) AS tfreq FROM tok
        |  GROUP BY doc_id, term),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT count(*) AS n FROM documents),
        |wt AS (SELECT doc_id, tf.term AS term, (tfreq * n) // df AS w
        |  FROM tf JOIN dfq ON tf.term = dfq.term, n),
        |rare AS (SELECT term FROM dfq WHERE df BETWEEN 2 AND 4),
        |idx AS (SELECT wt.term, doc_id FROM wt JOIN rare ON wt.term = rare.term),
        |cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
        |  FROM idx a JOIN idx b ON a.term = b.term AND a.doc_id < b.doc_id),
        |norms AS (SELECT doc_id, sum(w * w) AS norm2 FROM wt GROUP BY doc_id),
        |dots AS (SELECT id1, id2, CAST(sum(x.w * y.w) AS BIGINT) AS dot
        |  FROM cand JOIN wt x ON x.doc_id = id1
        |  JOIN wt y ON y.doc_id = id2 AND x.term = y.term
        |  GROUP BY id1, id2)
        |SELECT id1, id2, dot,
        |  CAST(n1.norm2 AS BIGINT) AS n1sq, CAST(n2.norm2 AS BIGINT) AS n2sq
        |FROM dots JOIN norms n1 ON n1.doc_id = id1
        |JOIN norms n2 ON n2.doc_id = id2
        |ORDER BY dot DESC, id1, id2 LIMIT 25""".stripMargin,

    "x48_snapshot_diff" ->
      """WITH a AS (SELECT doc_id, md5(text) AS h FROM documents),
        |b AS (SELECT doc_id,
        |    md5(CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END) AS h
        |  FROM documents WHERE doc_id % 17 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, md5(text) AS h
        |  FROM documents WHERE doc_id % 23 = 0),
        |j AS (SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
        |    CASE WHEN b.h IS NULL THEN 'removed'
        |         WHEN a.h IS NULL THEN 'added'
        |         WHEN a.h <> b.h THEN 'changed'
        |         ELSE 'unchanged' END AS status
        |  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
        |SELECT status, count(*) AS n, min(doc_id) AS min_id,
        |  max(doc_id) AS max_id
        |FROM j GROUP BY status ORDER BY status""".stripMargin,

    "x49_dataset_card" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
        |    CAST(len(text) AS BIGINT) AS nc FROM documents)
        |SELECT
        |  (SELECT count(*) FROM documents) AS n_docs,
        |  (SELECT count(DISTINCT source) FROM documents) AS n_sources,
        |  (SELECT count(DISTINCT lang) FROM documents) AS n_langs,
        |  (SELECT CAST(sum(nt) AS BIGINT) FROM t) AS total_tokens,
        |  (SELECT CAST(sum(nc) AS BIGINT) FROM t) AS total_chars,
        |  (SELECT CAST(max(nt) AS BIGINT) FROM t) AS max_tokens,
        |  (SELECT CAST(min(nt) AS BIGINT) FROM t) AS min_tokens,
        |  (SELECT count(*) - count(DISTINCT
        |      trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
        |    FROM documents) AS n_exact_dups""".stripMargin)
}
