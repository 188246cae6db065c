package graft.queries

import graft.GraftCaches.TrackedPersist
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.tables.Tables._
import graft.ext.{Similarity, TextOps}

/** Extension operators (SURVEY §2.12): the LLM-training-data-pipeline
  * surface — dedup (exact / normalized / MinHash-LSH / n-gram Jaccard /
  * SimHash), similarity search (brute-force cosine + bucketed IVF variant),
  * text analysis (stats, language ID, fingerprint), and binary-column
  * metadata. Every query has a DuckDB oracle built from the same md5-based
  * hash primitive and the same sequential-fold float math (see ext/TextOps,
  * ext/Similarity).
  *
  * Scale design notes:
  *   - no crossJoin anywhere in the dedup family: candidate pairs come from
  *     an inverted index (shared shingle / shared LSH band) groupBy-join,
  *     so cost tracks the number of COLLIDING pairs, not n²;
  *   - signatures (minhash, simhash, fingerprints) are pure per-row
  *     expression trees — one scan, no shuffle, fully codegen'd;
  *   - similarity search: the brute-force form is the correctness baseline
  *     (broadcast the small query set, never shuffle the corpus); the IVF
  *     form joins on a bucket key (here the `label` column as the posting
  *     list id) — at 100 TB the bucket join prunes the corpus scan by the
  *     partition key instead of touching every vector.
  */
object Ext {


  /** doc_id + whitespace tokens + distinct 3-shingles, shared by the dedup
    * family. The input is repartitioned first: the test table is one small
    * parquet file (= one input split), and the shingle/hash expression work
    * is the dominant cost — without the repartition it would all run on a
    * single core. At real scale the scan has natural parallelism and AQE
    * coalesces this exchange to a no-op-sized shuffle. */
  private[queries] def docShingles(df: DataFrame): DataFrame = {
    val w = TextOps.words(col("text"))
    df.repartition(col("doc_id"))
      .select(col("doc_id"), w.as("w"))
      .withColumn("ss", TextOps.shingles3(col("w")))
  }

  /** floor-truncate to 6 decimals: deterministic across engines (floor of an
    * identical double is exact; round() half-up implementations differ). */
  private[queries] def trunc6(c: Column): Column =
    floor(c * 1e6).cast("double") / 1e6

  /** [[docShingles]] plus the sorted md5-hashed shingle set `hs` — the
    * verify-side representation (longs intersect via the native linear
    * merge far faster than strings, and the oracle hashes identically).
    * Shared by x4 (pair join) and x25 (decontamination, queries/Ext2). */
  private[queries] def docShinglesHashed(df: DataFrame): DataFrame =
    docShingles(df).withColumn("hs",
      array_sort(array_distinct(transform(col("ss"), TextOps.hash32(_)))))

  /** MinHash-LSH banded candidate pairs verified by exact Jaccard ≥ minJac
    * over the shingle sets → (id1, id2, jaccard, inter, n1, n2) — the set
    * sizes ride along so integer-exact consumers (x132's threshold sweep)
    * can re-derive thresholds without float compares. Shared by x3 (pair
    * listing) and x17 (dedup-group clustering, queries/Ext2). The signature
    * frame is persisted because it feeds both sides of the band self-join
    * AND the two verify joins — without it Spark recomputes the whole
    * scan→shingle→hash chain once per branch. Signatures come from the
    * native one-pass graft_minhash8 expression (each shingle hashed once). */
  private[queries] def lshVerifiedPairs(s: SparkSession, d: String,
      minJac: Double): DataFrame = {
    // Docs under 3 tokens have EMPTY shingle sets: their all-NULL
    // signatures band-collide with each other (concat_ws skips NULLs) and
    // the 0/0 jaccard then THROWS under ANSI mode (DIVIDE_BY_ZERO). On
    // DuckDB >= 1.1 the 0/0 is NaN and NaN compares GREATER than every
    // value, so NaN >= t would PASS — the oracle must exclude empty sets
    // too. Every banding replay mirrors this filter with
    // `WHERE len(w) >= 3` in its sh CTE (x3, x17, x57, x58, pairsCte):
    // no signal, no pair, both engines agree.
    val sh = docShingles(documents(s, d))
      .filter(size(col("ss")) > 0)
      .withColumn("sig", TextOps.minhashSig(col("ss")))
      .persistTracked()
    val banded = sh.select(col("doc_id"),
        explode(TextOps.bandKeys(col("sig"), 4)).as("bk"))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .distinct()
    val sets = sh.select(col("doc_id"), col("ss"))
    val jac = TextOps.jaccard(col("x.ss"), col("y.ss"))
    cand.join(sets.as("x"), col("id1") === col("x.doc_id"))
      .join(sets.as("y"), col("id2") === col("y.doc_id"))
      .select(col("id1"), col("id2"), jac.as("jaccard"),
        size(array_intersect(col("x.ss"), col("y.ss"))).cast("long").as("inter"),
        size(col("x.ss")).cast("long").as("n1"),
        size(col("y.ss")).cast("long").as("n2"))
      .filter(col("jaccard") >= minJac)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map[String, (SparkSession, String) => DataFrame](

    // X1 exact dedup: hash-groupBy on the raw text; survivor = min doc_id.
    "x1_exact_dedup" -> ((s, d) => {
      documents(s, d)
        .groupBy(md5(col("text").cast("binary")).as("text_md5"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .select(col("keep_id"), col("n_copies"))
        .orderBy(col("keep_id"))
    }),

    // X1b normalized dedup: key = sorted distinct token set (bag-of-words
    // fingerprint) — catches shuffled/reordered duplicates. The groupBy key
    // is the md5 of the canonical token string, not the string itself: the
    // shuffle then carries 32 bytes per doc instead of the document's full
    // vocabulary (both engines hash identically, so grouping is unchanged).
    "x2_normalized_dedup" -> ((s, d) => {
      val key = md5(concat_ws(" ",
        array_sort(array_distinct(TextOps.words(col("text"))))).cast("binary"))
      documents(s, d)
        .groupBy(key.as("bow_key"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .select(col("keep_id"), col("n_copies"))
        .orderBy(col("keep_id"))
    }),

    // X2 MinHash + LSH near-dup: 8 signature values, 4 bands × 2 rows;
    // candidate pairs share a band bucket; verified with exact Jaccard ≥ 0.5.
    "x3_minhash_lsh" -> ((s, d) =>
      lshVerifiedPairs(s, d, 0.5)
        .select(col("id1"), col("id2"), col("jaccard"))
        .orderBy(col("id1"), col("id2"))),

    // X2b n-gram Jaccard with PREFIX FILTERING (AllPairs/PPJoin): for
    // Jaccard ≥ t, two docs must share a shingle within each one's prefix of
    // the (n − ⌈t·n⌉ + 1) globally-rarest shingles — so only prefixes are
    // indexed. Candidate count tracks rare-shingle collisions instead of
    // hot-shingle f² blowup (naive inverted index: 83 s at sf0.1; this: ~5 s)
    // and the final exact-Jaccard verify makes the output provably identical.
    "x4_ngram_jaccard" -> ((s, d) => ngramJaccard(s, d)),
  ) ++ moreQueries

  /** x4 body. The per-doc prefix ranks are a row_number over the
    * doc-partitioned window. Round 15 (VERDICT r14 #6) measured the
    * aggregate spelling — `sort_array(collect_list(struct(df, shingle)))`
    * + `slice` + `posexplode` — and it LOST the adopt-or-close test: a
    * same-boot wash both ways across two boots
    * (BENCH_AB_r15_x4prefix{,_confirm}.json — mins favor the window,
    * medians split), and the at-scale argument is equivocal too:
    * collect_list's partial mode ships every element, so the exchange
    * carries the same bytes as the window's, and the df join (corpus
    * vocabulary) will not broadcast at real scale, so no pre-exchange
    * pruning materializes. The prefix frame is persisted because the
    * self-join below reads it twice; dropping that persist measured a
    * wash (min 1.40 vs 1.42 s, medians favour the persist;
    * BENCH_AB_r15_x4prefixpersist.json). */
  private def ngramJaccard(s: SparkSession, d: String): DataFrame = {
      val t = 0.6
      val sh = docShinglesHashed(documents(s, d)).persistTracked()
      val inv = sh.select(col("doc_id"), size(col("hs")).as("n"),
        explode(col("ss")).as("shingle"))
      val freq = inv.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      val prefix = inv.join(freq, Seq("shingle"))
        .withColumn("pos", row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("df"), col("shingle"))))
        .filter(col("pos") <= col("n") - ceil(col("n") * t) + 1)
        .select(col("doc_id"), col("n"), col("pos"), col("shingle"))
        .persistTracked()
      // length filter: Jaccard ≥ t ⇒ ⌈t·n1⌉ ≤ n2 (both directions).
      // POSITIONAL filter (full PPJoin): at a shared token sitting at
      // 1-based rank pos within each doc's df-sorted order, the remaining
      // overlap is at most 1 + min(n1-pos1, n2-pos2); Jaccard ≥ t needs
      // overlap ≥ ⌈t·(n1+n2)/(1+t)⌉. The FIRST common prefix token of a
      // true pair always satisfies the bound (all common tokens sort after
      // it in both docs), so keeping pairs where ANY occurrence passes
      // loses nothing — the exact-Jaccard verify below stays authoritative.
      val cand = prefix.as("a").join(prefix.as("b"),
          col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id") &&
            col("b.n") >= ceil(col("a.n") * t) && col("a.n") >= ceil(col("b.n") * t) &&
            least(col("a.n") - col("a.pos"), col("b.n") - col("b.pos")) + 1 >=
              ceil((col("a.n") + col("b.n")) * (t / (1 + t))))
        .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
        .distinct()
      // verify on the md5-hashed shingle sets: longs intersect far faster than
      // strings, and the oracle hashes identically, so the output is bit-equal.
      // The intersection is projected ONCE into `inter` before the ratio —
      // inlining it into the jaccard expression would evaluate it twice
      // (array HOFs run interpreted, with no common-subexpression reuse).
      val sets = sh.select(col("doc_id"), col("hs"))
      cand.join(sets.as("x"), col("id1") === col("x.doc_id"))
        .join(sets.as("y"), col("id2") === col("y.doc_id"))
        .select(col("id1"), col("id2"),
          TextOps.intersectCard(col("x.hs"), col("y.hs"))
            .cast("int").as("inter"),
          size(col("x.hs")).as("n1"), size(col("y.hs")).as("n2"))
        .select(col("id1"), col("id2"),
          (col("inter").cast("double") / (col("n1") + col("n2") - col("inter")))
            .as("jaccard"))
        .filter(col("jaccard") >= t)
        .orderBy(col("id1"), col("id2"))
  }

  private[queries] def moreQueries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // X2c SimHash: 16-bit fingerprint per document, computed as a pure
    // expression fold (no explode, no shuffle).
    "x5_simhash" -> ((s, d) => {
      documents(s, d)
        .select(col("doc_id"),
          TextOps.simhash16(array_distinct(TextOps.words(col("text"))))
            .as("simhash16"))
        .orderBy(col("doc_id"))
    }),

    // X3 brute-force cosine top-k: query set broadcast against the corpus;
    // exact double cosine, rank by truncated similarity with id tie-break.
    "x6_cosine_topk" -> ((s, d) => {
      // squared norms precomputed per vector (one fold each) — a pairwise
      // dot / sqrt(norm2 * norm2) would re-fold both norms for every PAIR
      val e = embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("nv", Similarity.norm2(col("v")))
      val q = e.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nv").as("qnv"))
      val cos6 = trunc6(
        Similarity.dot(col("qv"), col("v")) / sqrt(col("qnv") * col("nv")))
      val ranked = q.join(e, col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("n_id"), cos6.as("cos6"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("q_id")).orderBy(col("cos6").desc, col("n_id"))))
      ranked.filter(col("rnk") <= 5)
        .select(col("q_id"), col("n_id"), col("rnk"), col("cos6"))
        .orderBy(col("q_id"), col("rnk"))
    }),

    // X3b IVF-style bucketed ANN: restrict the search to the query's bucket
    // (label = posting-list id) — the join is equi on the bucket key, so the
    // corpus side prunes instead of broadcasting everything.
    "x7_ivf_topk" -> ((s, d) => {
      val e = embeddings(s, d)
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("v"))
        .withColumn("nv", Similarity.norm2(col("v")))
      val q = e.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("q_id"), col("label").as("q_label"),
          col("v").as("qv"), col("nv").as("qnv"))
      val cos6 = trunc6(
        Similarity.dot(col("qv"), col("v")) / sqrt(col("qnv") * col("nv")))
      val ranked = q.join(e,
          col("q_label") === col("label") && col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("n_id"), cos6.as("cos6"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("q_id")).orderBy(col("cos6").desc, col("n_id"))))
      ranked.filter(col("rnk") <= 3)
        .select(col("q_id"), col("n_id"), col("rnk"), col("cos6"))
        .orderBy(col("q_id"), col("rnk"))
    }),

    // X2d embedding-cosine near-dup: pairs above a similarity threshold,
    // bucket-prefiltered by label (IVF posting list) so the pair join is
    // equi on the bucket key — the dedup-flavored twin of x7_ivf_topk.
    "x14_embedding_neardup" -> ((s, d) => {
      val e = embeddings(s, d)
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("v"))
        .withColumn("nv", Similarity.norm2(col("v")))
      val cos6 = trunc6(Similarity.dot(col("a.v"), col("b.v")) /
        sqrt(col("a.nv") * col("b.nv")))
      e.as("a").join(e.as("b"),
          col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"),
          cos6.as("cos6"))
        .filter(col("cos6") >= 0.35)
        .orderBy(col("id1"), col("id2"))
    }),

    // UDAF: per-source collection signature via the union-minhash property
    // (element-wise min is a mergeable aggregate — ext/SignatureAgg).
    "x15_group_signature" -> ((s, d) => {
      val sigAgg = udaf(graft.ext.SignatureAgg)
      val sig = docShingles(documents(s, d))
        .join(documents(s, d).select(col("doc_id"), col("source")), Seq("doc_id"))
        .select(col("source"), TextOps.minhashSig(col("ss")).as("sig"))
        .groupBy(col("source"))
        .agg(sigAgg(col("sig").cast("array<long>")).as("gsig"))
      sig.select(Seq(col("source")) ++
          (0 until 8).map(j => element_at(col("gsig"), j + 1).as(s"m$j")): _*)
        .orderBy(col("source"))
    }),

    // X4 text stats + quality score: counts exact, ratios as IEEE doubles of
    // exact integers (deterministic).
    "x8_text_stats" -> ((s, d) => {
      val stops = Seq("the", "a", "of", "and", "to", "in", "is")
      // staged projections: every base count evaluates exactly once; the
      // ratio stage reads attributes (inlined, stopword filtering and
      // array_distinct would each run twice per row)
      documents(s, d)
        .select(col("doc_id"), col("text"), TextOps.words(col("text")).as("w"))
        .select(
          col("doc_id"),
          length(col("text")).as("n_chars"),
          size(col("w")).as("n_tokens"),
          size(array_distinct(col("w"))).as("n_distinct"),
          aggregate(col("w"), lit(0L), (acc, x) => acc + length(x)).as("sum_len"),
          size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0)"))
            .as("n_bpe_tokens"),
          size(filter(col("w"), x => x.isInCollection(stops))).as("n_stop"))
        .select(
          col("doc_id"), col("n_chars"), col("n_tokens"), col("n_distinct"),
          (col("sum_len").cast("double") / col("n_tokens")).as("avg_token_len"),
          col("n_bpe_tokens"),
          (col("n_stop").cast("double") / col("n_tokens")).as("stopword_ratio"),
          ((col("n_distinct").cast("double") / col("n_tokens")) -
            (col("n_stop").cast("double") / col("n_tokens")) * 0.5)
            .as("quality_score"))
        .orderBy(col("doc_id"))
    }),

    // X4b language ID: marker-word voting with a fixed tie-break order.
    // Staged projections: tokenize once, score each language once, then the
    // argmax reads score ATTRIBUTES — inlining would re-evaluate each
    // filter-count in both greatest() and every comparison branch.
    "x9_lang_id" -> ((s, d) => {
      def score(markers: Seq[String]) =
        size(filter(col("w"), x => x.isInCollection(markers)))
      val m = greatest(col("s_de"), col("s_en"), col("s_es"), col("s_fr"))
      documents(s, d)
        .select(col("doc_id"), TextOps.words(col("text")).as("w"))
        .select(col("doc_id"),
          score(Seq("der", "die", "das", "und")).as("s_de"),
          score(Seq("the", "a", "of", "and")).as("s_en"),
          score(Seq("el", "los", "las", "y")).as("s_es"),
          score(Seq("le", "les", "des", "et")).as("s_fr"))
        .select(col("doc_id"),
          when(m === 0, "und")
            .when(col("s_de") === m, "de").when(col("s_en") === m, "en")
            .when(col("s_es") === m, "es").otherwise("fr").as("lang_guess"))
        .orderBy(col("doc_id"))
    }),

    // X4c rolling-hash document fingerprint (order-sensitive).
    "x10_fingerprint" -> ((s, d) => {
      documents(s, d)
        .select(col("doc_id"),
          TextOps.polyFingerprint(TextOps.words(col("text"))).as("fingerprint"))
        .orderBy(col("doc_id"))
    }),

    // X6 approx distinct (HLL sketch): mergeable partial aggregation — the
    // scale path for distinct counts (exact twin: a1_counts). No SQL oracle:
    // sketch internals differ across engines, so the driver does a rows-only
    // check; the HLL error bound is spec-tested instead (ExtSpec).
    "x12_approx_distinct" -> ((s, d) => {
      lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_orderkey")).as("approx_orders"),
          approx_count_distinct(col("l_partkey")).as("approx_parts"))
        .orderBy(col("l_returnflag"))
    }),

    // X5b multimodal decode: REAL binary payloads → typed media metadata.
    // The executors encode a deterministic RGB gradient per doc with the
    // JDK's own PNG (even ids) / BMP (odd ids) codec, then the byte-level
    // container sniffer parses format + dimensions back out of the actual
    // PNG IHDR / BMP info header (ext/Multimodal.sniffMeta). The oracle
    // predicts the header fields in closed form, so a wrong parse (or a
    // wrong encode) hash-mismatches. Encode+decode are partition-local
    // mapPartitions work — no shuffle, linear scaling.
    "x13_multimodal_decode" -> ((s, d) => {
      graft.ext.Multimodal.sniff(
        graft.ext.Multimodal.synthImagePayloads(
          documents(s, d).select(col("doc_id"))))
        .toDF()
        .select(col("doc_id"), col("format"), col("width"), col("height"))
        .orderBy(col("doc_id"))
    }),

    // X5 multimodal/binary plumbing: treat text bytes as an opaque binary
    // payload; byte length + content digests (md5/sha256) are the metadata
    // extraction that image/audio decode would hang off (ext/Multimodal).
    "x11_binary_meta" -> ((s, d) => {
      val bin = col("text").cast("binary")
      documents(s, d)
        .select(col("doc_id"),
          octet_length(col("text")).as("n_bytes"),
          md5(bin).as("md5_hex"),
          sha2(bin, 256).as("sha256_hex"))
        .orderBy(col("doc_id"))
    }),

    // X3c random-hyperplane LSH ANN (Charikar sign-random projections): the
    // LSH-bucketed scale path beside IVF (x7). Bucket code = 4 sign bits of
    // Rademacher-plane dots (planes baked as literals on BOTH engines, see
    // ext/Lsh); candidate join is equi on the code, exact cosine re-ranks
    // in-bucket. Same plan shape at any corpus size: per-row projection +
    // one bucket-key equi-join, never all-pairs.
    "x16_lsh_ann" -> ((s, d) => {
      import graft.ext.Lsh
      val e = embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("nv", Similarity.norm2(col("v")))
        .withColumn("bucket",
          (0 until Lsh.Planes).map(p =>
            when(Similarity.dot(col("v"), typedLit(Lsh.signs(p))) > 0,
              lit(1 << p)).otherwise(lit(0))).reduce(_ + _))
      val q = e.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("q_id"), col("bucket").as("q_bucket"),
          col("v").as("qv"), col("nv").as("qnv"))
      val cos6 = trunc6(
        Similarity.dot(col("qv"), col("v")) / sqrt(col("qnv") * col("nv")))
      q.join(e, col("q_bucket") === col("bucket") && col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("n_id"), cos6.as("cos6"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("q_id")).orderBy(col("cos6").desc, col("n_id"))))
        .filter(col("rnk") <= 3)
        .select(col("q_id"), col("n_id"), col("rnk"), col("cos6"))
        .orderBy(col("q_id"), col("rnk"))
    })
  )

  val oracleSql: Map[String, String] = Map(
    "x1_exact_dedup" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin,

    "x2_normalized_dedup" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents
        |GROUP BY md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
        |ORDER BY keep_id""".stripMargin,

    "x3_minhash_lsh" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id,
        |  CASE WHEN len(w) >= 3 THEN list_distinct(list_transform(range(1, len(w)-1),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) ELSE [] END AS ss FROM w WHERE len(w) >= 3),
        |h AS (SELECT doc_id, ss,
        |  list_transform(ss, s -> CAST(concat('0x', substr(md5(s),1,8)) AS BIGINT)) AS hs FROM sh),
        |mh AS (SELECT doc_id,
        |  list_min(list_transform(hs, x -> (7*x+3) % 2147483647)) AS m0,
        |  list_min(list_transform(hs, x -> (11*x+5) % 2147483647)) AS m1,
        |  list_min(list_transform(hs, x -> (13*x+7) % 2147483647)) AS m2,
        |  list_min(list_transform(hs, x -> (17*x+11) % 2147483647)) AS m3,
        |  list_min(list_transform(hs, x -> (19*x+13) % 2147483647)) AS m4,
        |  list_min(list_transform(hs, x -> (23*x+17) % 2147483647)) AS m5,
        |  list_min(list_transform(hs, x -> (29*x+19) % 2147483647)) AS m6,
        |  list_min(list_transform(hs, x -> (31*x+23) % 2147483647)) AS m7 FROM h),
        |bk AS (SELECT doc_id, unnest([
        |  concat_ws('_', 0, m0, m1), concat_ws('_', 1, m2, m3),
        |  concat_ws('_', 2, m4, m5), concat_ws('_', 3, m6, m7)]) AS bk FROM mh),
        |cand AS (SELECT a.doc_id AS id1, b.doc_id AS id2
        |  FROM bk a JOIN bk b ON a.bk = b.bk AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |ver AS (SELECT id1, id2, len(list_intersect(x.ss, y.ss)) AS inter,
        |    len(x.ss) AS n1, len(y.ss) AS n2
        |  FROM cand JOIN sh x ON x.doc_id = id1 JOIN sh y ON y.doc_id = id2)
        |SELECT id1, id2, CAST(inter AS DOUBLE)/(n1+n2-inter) AS jaccard
        |FROM ver WHERE CAST(inter AS DOUBLE)/(n1+n2-inter) >= 0.5
        |ORDER BY id1, id2""".stripMargin,

    // Round 12: the per-pair len(list_intersect(hs, hs)) verification
    // was quadratic per candidate (19.8 s of the 20.7 s oracle at
    // sf0.1, CTE-profiled); the intersection COUNT now comes from a
    // hash-level inverted-index self-join (hinv/hcnt) restricted to the
    // same shingle-candidate pairs — exactly equal because the hs lists
    // are distinct per doc, and every shared pair has inter >= 1 so the
    // inner join drops nothing. 20.7 s -> sub-second, rows identical.
    "x4_ngram_jaccard" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id,
        |  CASE WHEN len(w) >= 3 THEN list_distinct(list_transform(range(1, len(w)-1),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) ELSE [] END AS ss FROM w),
        |hsets AS (SELECT doc_id, list_distinct(list_transform(ss,
        |    s -> CAST(concat('0x', substr(md5(s),1,8)) AS BIGINT))) AS hs FROM sh),
        |inv AS (SELECT doc_id, unnest(ss) AS shingle FROM sh),
        |shared AS (SELECT a.doc_id AS id1, b.doc_id AS id2
        |  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |hinv AS (SELECT doc_id, unnest(hs) AS h FROM hsets),
        |hcnt AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
        |    CAST(count(*) AS BIGINT) AS inter
        |  FROM hinv a JOIN hinv b ON a.h = b.h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |ver AS (SELECT id1, id2, hcnt.inter AS inter,
        |    len(x.hs) AS n1, len(y.hs) AS n2
        |  FROM shared JOIN hcnt USING (id1, id2)
        |    JOIN hsets x ON x.doc_id = id1 JOIN hsets y ON y.doc_id = id2)
        |SELECT id1, id2, CAST(inter AS DOUBLE)/(n1 + n2 - inter) AS jaccard
        |FROM ver WHERE CAST(inter AS DOUBLE)/(n1 + n2 - inter) >= 0.6
        |ORDER BY id1, id2""".stripMargin,

    "x5_simhash" -> {
      val sums = (0 until 16).map(i =>
        s"sum(CASE WHEN (wh >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS s$i").mkString(",\n|  ")
      val fp = (0 until 16).map(i =>
        s"(CASE WHEN s$i >= 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")
      s"""WITH t AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
        |  FROM documents),
        |h AS (SELECT doc_id, CAST(concat('0x', substr(md5(w),1,8)) AS BIGINT) AS wh FROM t),
        |b AS (SELECT doc_id,
        |  $sums
        |  FROM h GROUP BY doc_id)
        |SELECT doc_id, $fp AS simhash16 FROM b ORDER BY doc_id""".stripMargin
    },

    "x6_cosine_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % 100 = 0),
        |p AS (SELECT q_id, vec_id AS n_id,
        |  list_reduce(list_prepend(0.0, list_transform(range(1, len(qv)+1), i -> qv[i]*v[i])), (a,b) -> a+b) AS d,
        |  list_reduce(list_prepend(0.0, list_transform(range(1, len(qv)+1), i -> qv[i]*qv[i])), (a,b) -> a+b) AS na,
        |  list_reduce(list_prepend(0.0, list_transform(range(1, len(v)+1), i -> v[i]*v[i])), (a,b) -> a+b) AS nb
        |  FROM q, e WHERE vec_id <> q_id),
        |c AS (SELECT q_id, n_id, CAST(floor((d/sqrt(na*nb))*1e6) AS DOUBLE)/1e6 AS cos6 FROM p),
        |r AS (SELECT q_id, n_id, cos6,
        |  row_number() OVER (PARTITION BY q_id ORDER BY cos6 DESC, n_id) AS rnk FROM c)
        |SELECT q_id, n_id, rnk, cos6 FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin,

    "x7_ivf_topk" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id AS q_id, label AS q_label, v AS qv FROM e WHERE vec_id % 100 = 0),
        |p AS (SELECT q_id, vec_id AS n_id,
        |  list_reduce(list_prepend(0.0, list_transform(range(1, len(qv)+1), i -> qv[i]*v[i])), (a,b) -> a+b) AS d,
        |  list_reduce(list_prepend(0.0, list_transform(range(1, len(qv)+1), i -> qv[i]*qv[i])), (a,b) -> a+b) AS na,
        |  list_reduce(list_prepend(0.0, list_transform(range(1, len(v)+1), i -> v[i]*v[i])), (a,b) -> a+b) AS nb
        |  FROM q JOIN e ON q_label = label AND vec_id <> q_id),
        |c AS (SELECT q_id, n_id, CAST(floor((d/sqrt(na*nb))*1e6) AS DOUBLE)/1e6 AS cos6 FROM p),
        |r AS (SELECT q_id, n_id, cos6,
        |  row_number() OVER (PARTITION BY q_id ORDER BY cos6 DESC, n_id) AS rnk FROM c)
        |SELECT q_id, n_id, rnk, cos6 FROM r WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin,

    "x14_embedding_neardup" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |p AS (SELECT a.vec_id AS id1, b.vec_id AS id2,
        |  list_reduce(list_prepend(0.0, list_transform(range(1, len(a.v)+1), i -> a.v[i]*b.v[i])), (x,y) -> x+y) AS d,
        |  list_reduce(list_prepend(0.0, list_transform(range(1, len(a.v)+1), i -> a.v[i]*a.v[i])), (x,y) -> x+y) AS na,
        |  list_reduce(list_prepend(0.0, list_transform(range(1, len(b.v)+1), i -> b.v[i]*b.v[i])), (x,y) -> x+y) AS nb
        |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
        |SELECT id1, id2, CAST(floor((d/sqrt(na*nb))*1e6) AS DOUBLE)/1e6 AS cos6
        |FROM p WHERE CAST(floor((d/sqrt(na*nb))*1e6) AS DOUBLE)/1e6 >= 0.35
        |ORDER BY id1, id2""".stripMargin,

    "x15_group_signature" ->
      """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id, source,
        |  CASE WHEN len(w) >= 3 THEN list_distinct(list_transform(range(1, len(w)-1),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) ELSE [] END AS ss FROM w),
        |h AS (SELECT doc_id, source,
        |  list_transform(ss, s -> CAST(concat('0x', substr(md5(s),1,8)) AS BIGINT)) AS hs FROM sh),
        |mh AS (SELECT source,
        |  list_min(list_transform(hs, x -> (7*x+3) % 2147483647)) AS m0,
        |  list_min(list_transform(hs, x -> (11*x+5) % 2147483647)) AS m1,
        |  list_min(list_transform(hs, x -> (13*x+7) % 2147483647)) AS m2,
        |  list_min(list_transform(hs, x -> (17*x+11) % 2147483647)) AS m3,
        |  list_min(list_transform(hs, x -> (19*x+13) % 2147483647)) AS m4,
        |  list_min(list_transform(hs, x -> (23*x+17) % 2147483647)) AS m5,
        |  list_min(list_transform(hs, x -> (29*x+19) % 2147483647)) AS m6,
        |  list_min(list_transform(hs, x -> (31*x+23) % 2147483647)) AS m7 FROM h)
        |SELECT source, min(m0) AS m0, min(m1) AS m1, min(m2) AS m2, min(m3) AS m3,
        |  min(m4) AS m4, min(m5) AS m5, min(m6) AS m6, min(m7) AS m7
        |FROM mh GROUP BY source ORDER BY source""".stripMargin,

    "x8_text_stats" ->
      """WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)
        |SELECT doc_id,
        |  length(text) AS n_chars,
        |  len(w) AS n_tokens,
        |  len(list_distinct(w)) AS n_distinct,
        |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(w, x -> CAST(length(x) AS BIGINT))), (a,b) -> a+b) AS DOUBLE) / len(w) AS avg_token_len,
        |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_bpe_tokens,
        |  CAST(len(list_filter(w, x -> list_contains(['the','a','of','and','to','in','is'], x))) AS DOUBLE) / len(w) AS stopword_ratio,
        |  (CAST(len(list_distinct(w)) AS DOUBLE) / len(w)) -
        |    (CAST(len(list_filter(w, x -> list_contains(['the','a','of','and','to','in','is'], x))) AS DOUBLE) / len(w)) * 0.5 AS quality_score
        |FROM w ORDER BY doc_id""".stripMargin,

    "x9_lang_id" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sc AS (SELECT doc_id,
        |  len(list_filter(w, x -> list_contains(['der','die','das','und'], x))) AS s_de,
        |  len(list_filter(w, x -> list_contains(['the','a','of','and'], x))) AS s_en,
        |  len(list_filter(w, x -> list_contains(['el','los','las','y'], x))) AS s_es,
        |  len(list_filter(w, x -> list_contains(['le','les','des','et'], x))) AS s_fr
        |  FROM w)
        |SELECT doc_id,
        |  CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
        |       WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
        |       WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
        |       WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
        |       ELSE 'fr' END AS lang_guess
        |FROM sc ORDER BY doc_id""".stripMargin,

    "x10_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split(text, ' '),
        |      x -> CAST(concat('0x', substr(md5(x),1,8)) AS BIGINT))),
        |    (a, b) -> (a*31 + b) % 1000000007) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,

    "x11_binary_meta" ->
      """SELECT doc_id,
        |  octet_length(encode(text)) AS n_bytes,
        |  md5(text) AS md5_hex,
        |  sha256(text) AS sha256_hex
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the engine really encodes (JDK PNG/BMP writer) and really parses the
    // container headers back; the oracle predicts those fields in closed
    // form from the id-derived dimensions
    "x13_multimodal_decode" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS format,
        |  CAST(8 + doc_id % 5 AS INT) AS width,
        |  CAST(8 + doc_id % 7 AS INT) AS height
        |FROM documents ORDER BY doc_id""".stripMargin,

    "x16_lsh_ann" -> {
      import graft.ext.Lsh
      def dot(a: String, b: String) =
        s"list_reduce(list_prepend(0.0, list_transform(range(1, len($a)+1), i -> $a[i]*$b[i])), (acc,x) -> acc+x)"
      val planeCols = (0 until Lsh.Planes)
        .map(p => s"${Lsh.planeSqlList(p)} AS s$p").mkString(",\n|  ")
      val bucket = (0 until Lsh.Planes)
        .map(p => s"(CASE WHEN ${dot("v", s"s$p")} > 0 THEN ${1 << p} ELSE 0 END)")
        .mkString(" + ")
      s"""WITH planes AS (SELECT
        |  $planeCols),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |eb AS (SELECT vec_id, v, $bucket AS bucket FROM e, planes),
        |q AS (SELECT vec_id AS q_id, bucket AS q_bucket, v AS qv FROM eb WHERE vec_id % 100 = 0),
        |p AS (SELECT q_id, vec_id AS n_id,
        |  ${dot("qv", "v")} AS d,
        |  ${dot("qv", "qv")} AS na,
        |  ${dot("v", "v")} AS nb
        |  FROM q JOIN eb ON q_bucket = bucket AND vec_id <> q_id),
        |c AS (SELECT q_id, n_id, CAST(floor((d/sqrt(na*nb))*1e6) AS DOUBLE)/1e6 AS cos6 FROM p),
        |r AS (SELECT q_id, n_id, cos6,
        |  row_number() OVER (PARTITION BY q_id ORDER BY cos6 DESC, n_id) AS rnk FROM c)
        |SELECT q_id, n_id, rnk, cos6 FROM r WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin
    }
  )
}
