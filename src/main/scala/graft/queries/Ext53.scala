package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables._

/** Round-10 batch 3: x174 Jaro–Winkler similarity — THE name-screening
  * metric of record linkage / sanctions matching (Winkler 1990, the
  * Census string comparator; the j11/x95 edit-distance family's
  * position-tolerant cousin). Computed EXACTLY in integer ppm:
  * with m matches, k mismatched matched positions (so transpositions
  * t = k/2), lengths la/lb,
  *
  *   jaro = (m/la + m/lb + (m − k/2)/m) / 3
  *        = (2m²·lb + 2m²·la + la·lb·(2m − k)) / (6·la·lb·m)
  *
  * — one integer floor to ppm, never a float third. The Winkler boost
  * adds L·(1e6 − jaro)/10 for the common prefix L ≤ 4 (second floor,
  * same spelling both engines). Textbook classics pin the arithmetic:
  * MARTHA/MARHTA = 961110, DIXON/DICKSONX = 813332, DWAYNE/DUANE =
  * 839999 ppm.
  *
  * The greedy match scan is a per-row fold whose state is TWO bitmask
  * limbs [maskB, maskA] (used positions of b / matched positions of a)
  * — fixed-size state, no growing list, both strings ≤ 40 chars so one
  * limb each (the x154/x156 bit-parallel state discipline; DuckDB side
  * folds a LIST accumulator per the round-8 struct-bug rule). The
  * matched subsequences ms1/ms2 are then re-read from the masks, so
  * transpositions need no per-step appends.
  *
  * Scale shape: the candidate/reference pair equi-join (the x152-family
  * pair convention: odd doc vs doc_id − 1, first-40-char titles) is the
  * ONLY corpus-scale exchange; the fold is a bounded expression
  * pipeline (≤ la·lb = 1600 compares/pair) and the output is a ≤
  * 11-row ppm-decile histogram (value-bounded groupBy). In a real
  * screening run the pair frame would come from a blocking join
  * (j11's prefix block or x175's phonetic block) — the scorer is
  * block-source-agnostic.
  */
object Ext53 {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // X175 SOUNDEX BLOCKING AUDIT: the classic American Soundex
    // (Census/Knuth, WITH the h/w transparency rule — Ashcraft → A261,
    // Pfister → P236) as a phonetic blocking key over the corpus +
    // part-name vocabulary, plus the audit every blocking scheme needs
    // before a linkage run: words-per-block, occurrence mass, and the
    // quadratic pair cost n·(n−1)/2 each block contributes to the
    // downstream scorer (x174). The encoder is a per-row fold with
    // FIXED 3-long integer state [lastCode, nDigits, packedDigits] —
    // digits are 1..6 so base-10 packing never has a leading zero, and
    // rpad handles both the short-word and empty-digit cases in one
    // spelling. Defined on ^[a-z]+$ words only (filtered upstream; the
    // encoder's domain is documented, not implicit). Scale shape: one
    // partial-aggregable vocab count per source table, the encoder
    // per VOCAB row (never per occurrence), one |keys|-bounded groupBy;
    // top-20 via TakeOrderedAndProject.
    "x175_soundex_blocking" -> ((s, d) => {
      val dw = documents(s, d)
        .select(explode(split(col("text"), " ")).as("w"))
      val pw = part(s, d)
        .select(explode(split(col("p_name"), " ")).as("w"))
      val vocab = dw.unionAll(pw)
        .filter(col("w").rlike("^[a-z]+$"))
        .groupBy(col("w")).agg(count(lit(1)).as("occ"))
      vocab.withColumn("sdx", soundexCol)
        .groupBy(col("sdx"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("occ")).as("n_occurrences"),
          min(col("w")).as("sample_word"))
        .select(col("sdx"), col("n_words"), col("n_occurrences"),
          col("sample_word"),
          expr("n_words * (n_words - 1L) div 2L").as("pair_cost"))
        .orderBy(col("n_words").desc, col("sdx"))
        .limit(20)
    }),

    "x174_jaro_winkler" -> ((s, d) => jaroQuery(s, d)))

  /** The full x174 body (pair join + scorer + decile rollup). */
  private def jaroQuery(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val cand = docs.filter(col("doc_id") % 2 === 1)
      .select((col("doc_id") - 1L).as("pair_id"),
        substring(col("text"), 1, 40).as("a"))
    val ref = docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id").as("pair_id"),
        substring(col("text"), 1, 40).as("b"))
    val pairs = cand.join(ref, Seq("pair_id"))
    jaroWinkler(pairs)
      .groupBy(expr("jw_ppm div 100000L").as("jw_decile"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("jw_ppm")).as("sum_jw_ppm"),
        sum(col("jaro_ppm")).as("sum_jaro_ppm"),
        sum(col("m")).as("sum_matches"),
        sum(col("k")).as("sum_half_transpositions"),
        sum(col("prefix_l")).as("sum_prefix_len"))
      .orderBy(col("jw_decile"))
  }

  /** Appends m, k, jaro_ppm, prefix_l, jw_ppm to a frame with string
    * columns `a`, `b` (each ≤ 62 chars — one bitmask limb per side in
    * the HOF spelling; the domain guard raises on both paths). Shared
    * by the catalog entry and the spec's planted-classics harness.
    *
    * (m, k) come from the native graft_jaro_mk codegen kernel — the
    * interpreted HOF fold measured 3.07 s at sf0.1 (5th-slowest catalog
    * query, BENCH_AB_r10_jaromk.json), the chrF-family
    * interpreted-generator lesson. The fold spelling,
    * [[jaroWinklerHof]], is the reference Ext53Spec pins the kernel
    * against. */
  private[graft] def jaroWinkler(pairs: DataFrame): DataFrame =
    jwPrep(pairs)
      .withColumn("mk", graft.ext.Similarity.jaroMk(col("a"), col("b")))
      // the domain guard rides the m column (load-bearing on both
      // paths — a free-standing guard column would be pruned away)
      .withColumn("m", expr(
        s"""CASE WHEN la > 62 OR lb > 62 THEN $JwGuardRaise
           |  ELSE shiftright(mk, 32) END""".stripMargin))
      .withColumn("k", expr("mk & 4294967295L"))
      .drop("mk")
      .transform(jwFinish)

  /** The raise shared by both paths' domain guards (62-char limb). */
  private val JwGuardRaise: String =
    """cast(raise_error(concat('x174_jaro_winkler: a side ',
      |    'exceeds one bitmask limb (62 chars)')) AS BIGINT)""".stripMargin

  /** la/lb + the codepoint arrays (shared: the HOF fold matches on
    * them; the finish stage's prefix_l reads them on both paths). */
  private def jwPrep(pairs: DataFrame): DataFrame =
    pairs
      .withColumn("la", length(col("a")).cast("long"))
      .withColumn("lb", length(col("b")).cast("long"))
      .withColumn("acp", expr(
        """CASE WHEN la = 0 THEN array()
          |ELSE transform(sequence(1, cast(la AS INT)),
          |  i -> cast(ascii(substr(a, i, 1)) AS BIGINT)) END""".stripMargin))
      .withColumn("bcp", expr(
        """CASE WHEN lb = 0 THEN array()
          |ELSE transform(sequence(1, cast(lb AS INT)),
          |  i -> cast(ascii(substr(b, i, 1)) AS BIGINT)) END""".stripMargin))

  private[graft] def jaroWinklerHof(pairs: DataFrame): DataFrame =
    jwPrep(pairs)
      // loud path, never silent aliasing: one bitmask limb holds ≤ 62
      // positions (the x155 packed-key guard convention)
      .withColumn("w", expr(
        s"""CASE WHEN la > 62 OR lb > 62 THEN $JwGuardRaise
           |  ELSE greatest(greatest(la, lb) div 2 - 1, 0L) END"""
          .stripMargin))
      // pass 1: greedy in-window matching; state = [maskB, maskA].
      // The eligible-j window is spelled as a filter over ALL of b's
      // positions with |i − j| ≤ w (never sequence(lo, hi): Spark
      // sequence DESCENDS when lo > hi, turning an empty window into a
      // full rescan); array_min picks the FIRST unused match.
      .withColumn("st", expr(
        """CASE WHEN la = 0 OR lb = 0 THEN array(0L, 0L)
          |ELSE aggregate(sequence(0, cast(la AS INT) - 1), array(0L, 0L),
          |  (s, i) -> CASE WHEN array_min(filter(
          |      sequence(0, cast(lb AS INT) - 1),
          |      j -> abs(i - j) <= w AND (shiftright(s[0], j) & 1L) = 0L
          |        AND element_at(bcp, j + 1) = element_at(acp, i + 1)))
          |      IS NULL THEN s
          |    ELSE array(
          |      s[0] | shiftleft(1L, array_min(filter(
          |        sequence(0, cast(lb AS INT) - 1),
          |        j -> abs(i - j) <= w AND (shiftright(s[0], j) & 1L) = 0L
          |          AND element_at(bcp, j + 1) = element_at(acp, i + 1)))),
          |      s[1] | shiftleft(1L, i)) END)
          |END""".stripMargin))
      .withColumn("m", expr("cast(bit_count(st[1]) AS BIGINT)"))
      // pass 2: the matched subsequences, re-read from the masks in
      // position order — ms1 vs ms2 mismatches = 2·transpositions
      .withColumn("k", expr(
        """CASE WHEN m = 0 THEN 0L ELSE cast(size(filter(
          |  sequence(1, cast(m AS INT)),
          |  t -> element_at(
          |      transform(filter(sequence(0, cast(la AS INT) - 1),
          |        i -> (shiftright(st[1], i) & 1L) = 1L),
          |      i -> element_at(acp, i + 1)), t)
          |    != element_at(
          |      transform(filter(sequence(0, cast(lb AS INT) - 1),
          |        j -> (shiftright(st[0], j) & 1L) = 1L),
          |      j -> element_at(bcp, j + 1)), t))) AS BIGINT) END"""
          .stripMargin))
      .transform(jwFinish)

  /** The shared finishing arithmetic over (la, lb, acp, bcp, m, k):
    * one spelling for both kernel paths. */
  private def jwFinish(scored: DataFrame): DataFrame =
    scored
      .withColumn("jaro_ppm", expr(
        """CASE WHEN m = 0 THEN 0L
          |ELSE 1000000L * (2L*m*m*lb + 2L*m*m*la + la*lb*(2L*m - k))
          |  div (6L * la * lb * m) END""".stripMargin))
      .withColumn("prefix_l", expr(
        """aggregate(sequence(1, 4), 0L,
          |  (acc, t) -> IF(acc = t - 1 AND t <= la AND t <= lb
          |    AND element_at(acp, t) = element_at(bcp, t),
          |    cast(t AS BIGINT), acc))""".stripMargin))
      .withColumn("jw_ppm",
        expr("jaro_ppm + prefix_l * (1000000L - jaro_ppm) div 10L"))

  /** GraftSoundex over column `w` (must match ^[a-z]+$): classic
    * American Soundex with the h/w rule — vowels (incl. y) reset the
    * last code, h/w are transparent (do NOT separate equal codes), the
    * first letter's own code seeds lastCode (Pfister → P236). Shared by
    * the catalog entry and the spec's vector harness. */
  private[graft] def soundexCol: org.apache.spark.sql.Column = {
    // class of the 1-char string `c`: 0 = vowel/y, -1 = h/w, else 1..6
    def cls(c: String): String =
      s"""CASE WHEN $c IN ('a','e','i','o','u','y') THEN 0L
         |  WHEN $c IN ('h','w') THEN -1L
         |  ELSE cast(translate($c,
         |    'bfpvcgjkqszxdtlmnr', '111122222222334556') AS BIGINT)
         |END""".stripMargin
    expr(
      s"""concat(upper(substr(w, 1, 1)), rpad(cast(
         |  (CASE WHEN length(w) <= 1
         |    THEN array(0L, 0L, 0L)
         |    ELSE aggregate(sequence(2, length(w)),
         |      array(${cls("substr(w, 1, 1)")}, 0L, 0L),
         |      (s, i) -> CASE
         |        WHEN ${cls("substr(w, i, 1)")} > 0L THEN array(
         |          ${cls("substr(w, i, 1)")},
         |          IF(${cls("substr(w, i, 1)")} != s[0] AND s[1] < 3L,
         |            s[1] + 1L, s[1]),
         |          IF(${cls("substr(w, i, 1)")} != s[0] AND s[1] < 3L,
         |            s[2] * 10L + ${cls("substr(w, i, 1)")}, s[2]))
         |        WHEN ${cls("substr(w, i, 1)")} = 0L
         |          THEN array(0L, s[1], s[2])
         |        ELSE s END)
         |  END)[2] AS STRING), 3, '0'))""".stripMargin)
  }

  val oracleSql: Map[String, String] = Map(

    "x175_soundex_blocking" ->
      s"""WITH tok AS (
         |  SELECT unnest(string_split(text, ' ')) AS w FROM documents
         |  UNION ALL
         |  SELECT unnest(string_split(p_name, ' ')) AS w FROM part),
         |vocab AS (SELECT w, CAST(count(*) AS BIGINT) AS occ FROM tok
         |  WHERE regexp_matches(w, '^[a-z]+$$') GROUP BY w),
         |keyed AS (SELECT w, occ,
         |    upper(substr(w, 1, 1)) || rpad(CAST((
         |      list_reduce(list_prepend(
         |        [CASE WHEN substr(w, 1, 1) IN
         |            ('a','e','i','o','u','y') THEN 0::BIGINT
         |          WHEN substr(w, 1, 1) IN ('h','w') THEN -1::BIGINT
         |          ELSE CAST(translate(substr(w, 1, 1),
         |            'bfpvcgjkqszxdtlmnr', '111122222222334556')
         |            AS BIGINT) END,
         |         0::BIGINT, 0::BIGINT],
         |        list_transform(range(2, len(w) + 1), i ->
         |          [CASE WHEN substr(w, CAST(i AS INT), 1) IN
         |              ('a','e','i','o','u','y') THEN 0::BIGINT
         |            WHEN substr(w, CAST(i AS INT), 1) IN ('h','w')
         |              THEN -1::BIGINT
         |            ELSE CAST(translate(substr(w, CAST(i AS INT), 1),
         |              'bfpvcgjkqszxdtlmnr', '111122222222334556')
         |              AS BIGINT) END,
         |           0::BIGINT, 0::BIGINT])),
         |      (s, cv) -> CASE
         |        WHEN cv[1] > 0 THEN [cv[1],
         |          CASE WHEN cv[1] <> s[1] AND s[2] < 3
         |            THEN s[2] + 1 ELSE s[2] END,
         |          CASE WHEN cv[1] <> s[1] AND s[2] < 3
         |            THEN s[3] * 10 + cv[1] ELSE s[3] END]
         |        WHEN cv[1] = 0 THEN [0::BIGINT, s[2], s[3]]
         |        ELSE [s[1], s[2], s[3]] END)
         |    )[3] AS VARCHAR), 3, '0') AS sdx
         |  FROM vocab)
         |SELECT sdx, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(occ) AS BIGINT) AS n_occurrences,
         |  min(w) AS sample_word,
         |  CAST(count(*) * (count(*) - 1) // 2 AS BIGINT) AS pair_cost
         |FROM keyed GROUP BY sdx
         |ORDER BY n_words DESC, sdx LIMIT 20""".stripMargin,

    "x174_jaro_winkler" ->
      """WITH pairs AS (SELECT c.doc_id - 1 AS pair_id,
        |    substr(c.text, 1, 40) AS a, substr(r.text, 1, 40) AS b
        |  FROM documents c JOIN documents r
        |    ON c.doc_id % 2 = 1 AND r.doc_id = c.doc_id - 1),
        |cp AS (SELECT pair_id,
        |    CAST(len(a) AS BIGINT) AS la, CAST(len(b) AS BIGINT) AS lb,
        |    list_transform(range(1, len(a) + 1), i ->
        |      CAST(unicode(substr(a, CAST(i AS INT), 1)) AS BIGINT)) AS acp,
        |    list_transform(range(1, len(b) + 1), i ->
        |      CAST(unicode(substr(b, CAST(i AS INT), 1)) AS BIGINT)) AS bcp
        |  FROM pairs),
        |win AS (SELECT *, greatest(greatest(la, lb) // 2 - 1, 0) AS w
        |  FROM cp),
        |fold AS (SELECT *,
        |    CASE WHEN la = 0 OR lb = 0 THEN [0::BIGINT, 0::BIGINT]
        |    ELSE list_reduce(list_prepend([0::BIGINT, 0::BIGINT],
        |      list_transform(range(0, la), x -> [x, 0::BIGINT])),
        |      (s, iv) -> CASE WHEN list_min(list_filter(
        |          range(greatest(0, iv[1] - w), least(lb - 1, iv[1] + w) + 1),
        |          j -> ((s[1] >> CAST(j AS INT)) & 1) = 0
        |            AND bcp[CAST(j AS INT) + 1] = acp[CAST(iv[1] AS INT) + 1]))
        |          IS NULL THEN s
        |        ELSE [s[1] | (1::BIGINT << CAST(list_min(list_filter(
        |          range(greatest(0, iv[1] - w), least(lb - 1, iv[1] + w) + 1),
        |          j -> ((s[1] >> CAST(j AS INT)) & 1) = 0
        |            AND bcp[CAST(j AS INT) + 1] = acp[CAST(iv[1] AS INT) + 1]))
        |          AS INT)),
        |          s[2] | (1::BIGINT << CAST(iv[1] AS INT))] END)
        |    END AS st FROM win),
        |mk AS (SELECT pair_id, la, lb, acp, bcp,
        |    CAST(bit_count(st[2]) AS BIGINT) AS m,
        |    list_transform(list_filter(range(0, la),
        |      i -> ((st[2] >> CAST(i AS INT)) & 1) = 1),
        |      i -> acp[CAST(i AS INT) + 1]) AS ms1,
        |    list_transform(list_filter(range(0, lb),
        |      j -> ((st[1] >> CAST(j AS INT)) & 1) = 1),
        |      j -> bcp[CAST(j AS INT) + 1]) AS ms2
        |  FROM fold),
        |kc AS (SELECT pair_id, la, lb, acp, bcp, m,
        |    CASE WHEN m = 0 THEN 0::BIGINT ELSE CAST(len(list_filter(
        |      range(1, m + 1),
        |      t -> ms1[CAST(t AS INT)] <> ms2[CAST(t AS INT)])) AS BIGINT)
        |    END AS k
        |  FROM mk),
        |pj AS (SELECT pair_id, m, k,
        |    CASE WHEN m = 0 THEN 0::BIGINT
        |      ELSE 1000000 * (2*m*m*lb + 2*m*m*la + la*lb*(2*m - k))
        |        // (6 * la * lb * m) END AS jaro_ppm,
        |    list_reduce(list_prepend(0::BIGINT,
        |      list_transform(range(1, 5), t -> CAST(t AS BIGINT))),
        |      (acc, t) -> CASE WHEN acc = t - 1 AND t <= la AND t <= lb
        |        AND acp[CAST(t AS INT)] = bcp[CAST(t AS INT)]
        |        THEN t ELSE acc END) AS prefix_l
        |  FROM kc),
        |jw AS (SELECT pair_id, m, k, jaro_ppm, prefix_l,
        |    jaro_ppm + prefix_l * (1000000 - jaro_ppm) // 10 AS jw_ppm
        |  FROM pj)
        |SELECT jw_ppm // 100000 AS jw_decile,
        |  CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(jw_ppm) AS BIGINT) AS sum_jw_ppm,
        |  CAST(sum(jaro_ppm) AS BIGINT) AS sum_jaro_ppm,
        |  CAST(sum(m) AS BIGINT) AS sum_matches,
        |  CAST(sum(k) AS BIGINT) AS sum_half_transpositions,
        |  CAST(sum(prefix_l) AS BIGINT) AS sum_prefix_len
        |FROM jw GROUP BY 1 ORDER BY 1""".stripMargin)
}
