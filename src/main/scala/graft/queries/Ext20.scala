package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables._
import graft.ext.TextOps
import graft.GraftCaches.TrackedPersist

/** Round-5 batch, part 2: the fuzzy decontamination audit (x81 — the
  * MinHash-LSH sibling of x25's exact-containment check), a bigram-LM
  * document quality score (x85 — the counts-only stand-in for the
  * perplexity filter of CCNet-style pipelines), temperature-scaled
  * mixture weights (x86 — the T=2 source-sampling rule every pretraining
  * mix uses), and winnowing fingerprints (x87 — Schleimer et al.'s MOSS
  * selection rule, the overlap detector that is robust to insertions).
  *
  * Shared scale contract: per-row work (shingling, hashing, window mins)
  * stays inside one scan; every shuffle is a partial-aggregable groupBy or
  * an equi-join keyed by content hashes; the benchmark side of x81
  * broadcasts (KBs–MBs at any corpus size).
  */
object Ext20 {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // X81 MINHASH-LSH DECONTAMINATION AUDIT: for every benchmark item
    // (doc_id % 100 == 0, the same held-out split x25 uses), how many
    // corpus docs LSH proposes as near-dup candidates, how many verify at
    // Jaccard ≥ 0.5, and the best score seen — the report a training run
    // reads before trusting its eval numbers. x25 catches verbatim
    // containment; this catches paraphrase-level overlap the containment
    // test misses (and emits one row per bench item even when the corpus
    // is clean, so the audit itself is always visible). Candidates come
    // from the 4×2 banded MinHash self-join of x3, restricted to
    // (corpus, bench) pairs; the bench band index BROADCASTS — the corpus
    // never shuffles, so at 100 TB the cost is the scan plus a
    // candidate-verify join sized by band collisions, not |corpus|².
    "x81_minhash_decontam" -> ((s, d) => {
      val sh = Ext.docShingles(documents(s, d))
        .withColumn("sig", TextOps.minhashSig(col("ss")))
        .persistTracked()
      val bench = sh.filter(col("doc_id") % 100 === 0)
      val corpus = sh.filter(col("doc_id") % 100 =!= 0)
      // degenerate empty-shingle docs (<3 tokens) carry equal signatures;
      // keep them out of the band frames so they cannot form an all-pairs
      // clique (bench rows still surface via the left join below)
      val bBand = bench.filter(size(col("ss")) > 0)
        .select(col("doc_id").as("bench_id"),
          explode(TextOps.bandKeys(col("sig"), 4)).as("bk"))
      val cBand = corpus.filter(size(col("ss")) > 0)
        .select(col("doc_id"), explode(TextOps.bandKeys(col("sig"), 4)).as("bk"))
      val cand = cBand.join(broadcast(bBand), Seq("bk"))
        .select(col("doc_id"), col("bench_id")).distinct()
      val scored = cand
        .join(corpus.select(col("doc_id"), col("ss")).as("x"), Seq("doc_id"))
        .join(bench.select(col("doc_id").as("bench_id"), col("ss")).as("y"),
          Seq("bench_id"))
        .select(col("bench_id"),
          TextOps.jaccard(col("x.ss"), col("y.ss")).as("jac"))
      bench.select(col("doc_id").as("bench_id"))
        .join(scored, Seq("bench_id"), "left")
        .groupBy(col("bench_id"))
        .agg(count(col("jac")).as("n_cand"),
          count(when(col("jac") >= 0.5, 1)).as("n_flagged"),
          coalesce(max(col("jac")), lit(0.0)).as("max_jac"))
        .orderBy(col("bench_id"))
    }),

    // X85 BIGRAM-LM QUALITY SCORE: per-document average conditional
    // bigram probability P(r|l) in exact parts-per-million — the
    // counts-only analogue of the KenLM perplexity filter (CCNet): fluent,
    // corpus-typical text scores high; shuffled or boilerplate-heavy text
    // scores low. All arithmetic is integer (count ratios floored at ppm
    // scale), so engine and oracle agree bit-for-bit with no floats
    // anywhere. Shapes: the exploded bigram frame feeds BOTH count
    // shuffles and the score join, all keyed by (l, r) or (l) — partial
    // aggregation everywhere, and the per-doc rollup is one more
    // partial-aggregable groupBy. (ppm fits a BIGINT as long as no single
    // bigram occurs > ~9.2e12 times; a corpus past that scales the
    // multiplier down or widens to DECIMAL.)
    "x85_bigram_lm_score" -> ((s, d) =>
      // Round 15: c2 persist dropped — x116's twin probe measured the
      // persist-free form slightly ahead (both c2 consumers share the
      // (l, r) groupBy exchange, AQE stage reuse dedupes; the r14
      // x66/x138 rule). A/B in BENCH_AB_r15_x85.json; bg's persist stays
      // (exchange-less top — the q9 rule).
      bigramLmScore(s, d)),

    // X86 TEMPERATURE-SCALED MIXTURE WEIGHTS (T = 2): per-source sampling
    // weight ∝ sqrt(token count) — the standard flattening that keeps
    // small high-quality sources from drowning under web-scale ones.
    // T = 2 is the one temperature expressible without transcendentals:
    // IEEE sqrt is correctly rounded on both engines, and everything after
    // the floor(sqrt(·)) is integer, so the ppm weights replay exactly.
    // ONE partial-aggregable shuffle (groupBy source); the total is a
    // broadcast one-row frame. The per-source aggregate (a handful of
    // rows) persists so the total does NOT re-run the corpus scan — one
    // pass over 100 TB, not two.
    "x86_temp_mixture" -> ((s, d) => {
      val bySrc = documents(s, d)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(TextOps.words(col("text"))).cast("long")).as("n_tokens"))
        .withColumn("w_root",
          floor(sqrt(col("n_tokens").cast("double"))).cast("long"))
        .persistTracked()
      val tot = bySrc.agg(sum(col("w_root")).as("tot"))
      bySrc.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("n_tokens"), col("w_root"),
          expr("w_root * 1000000 div tot").as("weight_ppm"))
        .orderBy(col("source"))
    }),

    // X87 WINNOWING FINGERPRINTS (Schleimer–Wilkerson–Aiken, MOSS): hash
    // the positional 3-shingle sequence, slide a window of 4 hashes, keep
    // each window's MINIMUM — a guaranteed-density fingerprint set robust
    // to insertions/deletions (any shared run ≥ 6 shingles yields a shared
    // fingerprint). Report the top-20 fingerprints shared by ≥ 2 docs —
    // the overlap detector's output. Window mins are per-row HOF work in
    // the scan; the only shuffle is the fingerprint groupBy (selected
    // mins are ~2/(w+1) = 40% of shingle positions, deduped per doc).
    "x87_winnowing" -> ((s, d) => {
      documents(s, d)
        .select(col("doc_id"),
          transform(TextOps.shingles3All(TextOps.words(col("text"))),
            TextOps.hash32(_)).as("hs"))
        .filter(size(col("hs")) >= 4)
        .select(col("doc_id"), explode(array_distinct(
          transform(sequence(lit(1), size(col("hs")) - 3), i =>
            array_min(slice(col("hs"), i, lit(4)))))).as("fp"))
        .groupBy(col("fp"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          min(col("doc_id")).as("first_doc"))
        .filter(col("n_docs") >= 2)
        .orderBy(col("n_docs").desc, col("fp"))
        .limit(20)
    }))

  private val mhMins: String = (0 until 8).map { j =>
    val a = TextOps.MinHashA(j); val b = TextOps.MinHashB(j)
    s"list_min(list_transform(hs, x -> ($a*x+$b) % 2147483647)) AS m$j"
  }.mkString(",\n  ")

  /** x85 body (see the catalog entry). */
  private def bigramLmScore(s: SparkSession, d: String): DataFrame = {
      val bg = documents(s, d)
        .select(col("doc_id"), TextOps.words(col("text")).as("w"))
        .filter(size(col("w")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(slice(w, 1, size(w) - 1), (x, i) -> struct(x AS l, w[i+1] AS r))"))
          .as("p"))
        .select(col("doc_id"), col("p.l").as("l"), col("p.r").as("r"))
        .persistTracked()
      val c2 = bg.groupBy(col("l"), col("r")).agg(count(lit(1)).as("c2"))
      // c1(l) = Σ_r c2(l, r) exactly — rolled up from the already-reduced
      // bigram table instead of a second corpus-scale shuffle of bg
      val c1 = c2.groupBy(col("l")).agg(sum(col("c2")).as("c1"))
      val score = c2.join(c1, Seq("l"))
        .select(col("l"), col("r"), expr("c2 * 1000000 div c1").as("ppm"))
      bg.join(score, Seq("l", "r"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("ppm")).as("sum_ppm"))
        .select(col("doc_id"), col("n_bigrams"),
          expr("sum_ppm div n_bigrams").as("score_ppm"))
        .orderBy(col("doc_id"))
  }

  val oracleSql: Map[String, String] = Map(

    "x81_minhash_decontam" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id, CASE WHEN len(w) >= 3 THEN
        |    list_distinct(list_transform(range(1, len(w)-1),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) ELSE [] END AS ss
        |  FROM w),
        |h AS (SELECT doc_id, ss, list_transform(ss,
        |    s -> CAST(concat('0x', substr(md5(s),1,8)) AS BIGINT)) AS hs
        |  FROM sh WHERE len(ss) > 0),
        |mh AS (SELECT doc_id,
        |  $mhMins FROM h),
        |bk AS (SELECT doc_id, unnest([
        |  concat_ws('_', 0, m0, m1), concat_ws('_', 1, m2, m3),
        |  concat_ws('_', 2, m4, m5), concat_ws('_', 3, m6, m7)]) AS bk FROM mh),
        |cand AS (SELECT c.doc_id AS doc_id, b.doc_id AS bench_id
        |  FROM bk c JOIN bk b ON c.bk = b.bk
        |    AND c.doc_id % 100 <> 0 AND b.doc_id % 100 = 0
        |  GROUP BY 1, 2),
        |sc AS (SELECT bench_id, CAST(len(list_intersect(x.ss, y.ss)) AS DOUBLE)
        |    / (len(x.ss) + len(y.ss) - len(list_intersect(x.ss, y.ss))) AS jac
        |  FROM cand JOIN sh x ON x.doc_id = cand.doc_id
        |    JOIN sh y ON y.doc_id = bench_id),
        |b AS (SELECT doc_id AS bench_id FROM sh WHERE doc_id % 100 = 0)
        |SELECT bench_id, CAST(count(jac) AS BIGINT) AS n_cand,
        |  CAST(count(*) FILTER (jac >= 0.5) AS BIGINT) AS n_flagged,
        |  coalesce(max(jac), 0.0) AS max_jac
        |FROM b LEFT JOIN sc USING (bench_id)
        |GROUP BY bench_id ORDER BY bench_id""".stripMargin,

    "x85_bigram_lm_score" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |bg AS (SELECT doc_id, w[i] AS l, w[i+1] AS r
        |  FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i
        |    FROM w WHERE len(w) >= 2)),
        |c2 AS (SELECT l, r, CAST(count(*) AS BIGINT) AS c2 FROM bg GROUP BY 1, 2),
        |c1 AS (SELECT l, CAST(count(*) AS BIGINT) AS c1 FROM bg GROUP BY 1),
        |sc AS (SELECT l, r, (c2 * 1000000) // c1 AS ppm
        |  FROM c2 JOIN c1 USING (l))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(sum(ppm) // count(*) AS BIGINT) AS score_ppm
        |FROM bg JOIN sc USING (l, r)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "x86_temp_mixture" ->
      """WITH s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |r AS (SELECT source, n_docs, n_tokens,
        |    CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS w_root
        |  FROM s)
        |SELECT source, n_docs, n_tokens, w_root,
        |  CAST(w_root * 1000000 // (SELECT sum(w_root) FROM r) AS BIGINT)
        |    AS weight_ppm
        |FROM r ORDER BY source""".stripMargin,

    "x87_winnowing" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |h AS (SELECT doc_id, list_transform(
        |    list_transform(range(1, len(w)-1),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]),
        |    s -> CAST(concat('0x', substr(md5(s),1,8)) AS BIGINT)) AS hs
        |  FROM w WHERE len(w) >= 3),
        |fp AS (SELECT doc_id, unnest(list_distinct(
        |    list_transform(range(1, len(hs)-2), i -> list_min(hs[i:i+3])))) AS fp
        |  FROM h WHERE len(hs) >= 4)
        |SELECT fp, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  min(doc_id) AS first_doc
        |FROM fp GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY n_docs DESC, fp LIMIT 20""".stripMargin)
}
