package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-10: x170 TER (translation edit rate, Snover et al. 2006) —
  * the last MT-eval family member (x152 BLEU, x154 ROUGE-L, x155/x161
  * chrF/chrF++, x156 WER were already in the catalog). Exact TER is
  * NP-hard, so like tercom this is a GREEDY bounded-shift search; the
  * deliberate deviations from classic tercom are documented constants
  * below and each one trades fidelity for a bounded, engine/oracle-
  * identical integer algorithm:
  *
  *   d0 = Levenshtein(hyp, ref)  (the x156 k-limb Myers fold)
  *   up to [[TerRounds]] greedy rounds; per round, candidates are
  *   block moves (i, l, j): the hyp block of length l at i, moved so
  *   it starts at j, where the block EXACTLY matches a reference
  *   l-gram whose FIRST occurrence is at ref position k and
  *   j = min(k, n − l + 1). Constraints: j ≠ i and |i − j| ≤
  *   [[TerShiftDist]] (tercom's MAX_SHIFT_DIST). Candidates are
  *   enumerated longest-block-first ((l desc, i asc)) and capped at
  *   [[TerCands]] (surfaced as n_cand_capped). Every candidate is
  *   scored by the TRUE resulting edit distance — tercom scores via
  *   its alignment heuristic; exact evaluation is affordable here
  *   because the Myers match masks depend only on (token, reference),
  *   so a block move just PERMUTES the precomputed mask stream and
  *   one fold over the moved stream scores the shifted hypothesis
  *   without recomputing a single mask. Best candidate = min packed
  *   key (sc asc, i asc, l desc, j asc); applied only on strict
  *   improvement, else the pair is converged. Pairs still improving
  *   when the round budget ends are surfaced as n_unconverged (their
  *   TER is an upper bound — the x148 `capped` discipline).
  *   TER numerator = shifts + final distance; denominator = ref length
  *   (micro over the source, macro per pair, both floored ppm).
  *
  * vs classic tercom: (a) rounds/candidates/shift length are bounded
  * constants (tercom iterates to convergence, shifts up to 10 tokens);
  * (b) only the FIRST matching reference occurrence proposes a target
  * (tercom tries every occurrence against its current alignment);
  * (c) scoring is the exact post-move distance (tercom uses
  * alignment-derived estimates). On planted transposition corpora the
  * two coincide (Ext50Spec pins the classic cases); on natural text
  * this spelling is a deterministic upper bound with the same
  * shifts-plus-edits structure.
  *
  * Scale shape: the pair join and one |sources|-bounded groupBy are
  * the ONLY shuffles — the four rounds are chained per-row projections
  * (one stage, no exchange, no driver state). Per-pair work is
  * O(rounds · (L·n·m token compares + C·n·m/62 limb steps)), bounded
  * by the caps and the 992-token window shared with x154/x156.
  * The oracle spells the identical rounds as chained MATERIALIZED
  * CTEs (materialization pins single evaluation of each round's
  * best-candidate key; see the round-10 span-family finding on
  * DuckDB's exponential CTE re-inlining).
  */
object Ext50 {
  import Ext47.{ADia, SparkA, DuckA, arrWerFoldOver, arrWerSc,
    arrMasksSparkSql, arrMasksDuckSql, pairedTokens, LcsCap}

  /** Greedy round budget (tercom: to convergence; bounded here with
    * the truncation surfaced as n_unconverged). */
  val TerRounds = 4
  /** Max shifted-block length (tercom: 10). */
  val TerLen = 4
  /** Max shift distance |i − j| (tercom's MAX_SHIFT_DIST = 50). */
  val TerShiftDist = 50
  /** Candidate cap per round, in (l desc, i asc) enumeration order
    * (longest blocks survive the cap); surfaced as n_cand_capped. */
  val TerCands = 64

  // packed-key layout (all values < their field width by the caps):
  //   enum key   = lv·2^24 + i·2^12 + j          (lv = TerLen − l < 16)
  //   scored key = sc·2^28 + i·2^16 + lv·2^12 + j
  // BIGINT min of scored keys IS the (sc asc, i asc, l desc, j asc)
  // tie-break; sc ≤ n + m ≤ 1984 keeps the key < 2^39.

  /** Dialect for the non-fold array plumbing (the fold itself rides
    * Ext47's ADia). Every op is spelled once here so the engine and
    * oracle render from the same text. */
  private final case class TD(
      a: ADia,
      tr: (String, String, String) => String,
      flt: (String, String, String) => String,
      sl: (String, String, String) => String, // (arr, start, len) 1-based
      cat: (String, String) => String,
      pos: (String, String) => String,
      jn: String => String,
      sq: (String, String) => String,         // ascending, floor at start
      sz: String => String,
      amin: String => String,
      iff: (String, String, String) => String,
      flat: String => String,
      at: (String, String) => String,
      emptyLongArr: String)

  private val SparkT = TD(
    a = SparkA,
    tr = (arr, v, b) => s"transform($arr, $v -> $b)",
    flt = (arr, v, b) => s"filter($arr, $v -> $b)",
    sl = (arr, s, l) => s"slice($arr, CAST($s AS INT), CAST($l AS INT))",
    cat = (x, y) => s"concat($x, $y)",
    pos = (arr, x) => s"array_position($arr, $x)",
    jn = arr => s"array_join($arr, ' ')",
    sq = (lo, hi) => s"sequence(CAST($lo AS BIGINT), " +
      s"CAST(greatest($hi, $lo) AS BIGINT))",
    sz = arr => s"CAST(size($arr) AS BIGINT)",
    amin = arr => s"array_min($arr)",
    iff = (c, x, y) => s"IF($c, $x, $y)",
    flat = arr => s"flatten($arr)",
    at = (arr, i) => s"element_at($arr, CAST($i AS INT))",
    emptyLongArr = "CAST(array() AS ARRAY<BIGINT>)")

  private val DuckT = TD(
    a = DuckA,
    tr = (arr, v, b) => s"list_transform($arr, $v -> $b)",
    flt = (arr, v, b) => s"list_filter($arr, $v -> $b)",
    sl = (arr, s, l) => s"$arr[CAST($s AS INT):CAST(($s) + ($l) - 1 AS INT)]",
    cat = (x, y) => s"list_concat($x, $y)",
    pos = (arr, x) => s"list_position($arr, $x)", // 0 on miss, like Spark
    jn = arr => s"array_to_string($arr, ' ')",
    sq = (lo, hi) => s"range($lo, greatest($hi, ($lo) - 1) + 1)",
    sz = arr => s"CAST(len($arr) AS BIGINT)",
    amin = arr => s"list_aggregate($arr, 'min')",
    iff = (c, x, y) => s"CASE WHEN $c THEN $x ELSE $y END",
    flat = arr => s"flatten($arr)",
    at = (arr, i) => s"$arr[CAST($i AS INT)]",
    emptyLongArr = "[]::BIGINT[]")

  /** 1-based block move: remove `arr[i..i+l)`, reinsert so the block
    * starts at result position j. Generic over element type (applied
    * to BOTH the token array and the mask stream). All slice lengths
    * are ≥ 0 by the candidate guards (1 ≤ i,j ≤ n−l+1). */
  private def moveSql(t: TD, arr: String, i: String, l: String,
      j: String): String = {
    val rest = t.cat(
      t.sl(arr, "1", s"($i) - 1"),
      t.sl(arr, s"($i) + ($l)", s"n - ($i) - ($l) + 1"))
    t.a.let("trst",
      rest,
      t.cat(
        t.cat(t.sl("trst", "1", s"($j) - 1"), t.sl(arr, i, l)),
        t.sl("trst", j, s"n - ($l) - ($j) + 1")))
  }

  /** Reference l-gram join strings, l = 1..TerLen, as ONE
    * array-of-arrays column (pair-invariant: rw never moves). Tokens
    * come from split(text, ' ') so they never contain ' ' — the join
    * is injective per gram length. */
  private def rgsSql(t: TD): String = {
    val per = (1 to TerLen).map { l =>
      val cnt = s"m - $l + 1"
      val body = t.tr(t.sq("1", cnt), "tk",
        t.jn(t.sl("rw", "tk", l.toString)))
      // Spark's sequence floors at 1 when the range is empty — slice
      // the phantom entry back off (DuckDB's range is natively empty)
      if (t eq SparkT) t.sl(body, "1", s"greatest($cnt, 0)") else body
    }
    if (t eq SparkT) per.mkString("array(", ",\n  ", ")")
    else per.mkString("[", ",\n  ", "]")
  }

  /** Candidate enum keys for one round, in (l desc, i asc) order.
    * Columns in scope: cw (current hyp), rgs, n, m; `done` short-
    * circuits the whole enumeration for converged pairs. */
  private def candsSql(t: TD): String = {
    val lD =
      if (t eq SparkT) s"(${TerLen}L - tlv)" else s"($TerLen - tlv)"
    val candOrNeg =
      t.a.let("ttg", t.jn(t.sl("cw", "ti", lD)),
        t.a.let("ttk", t.pos(t.at("rgs", lD), "ttg"),
          t.a.let("ttj", s"least(ttk, n - $lD + 1)",
            t.iff(
              s"ttk >= 1 AND ti <= n - $lD + 1 AND ttj != ti" +
                s" AND abs(ti - ttj) <= $TerShiftDist",
              s"tlv * 16777216 + ti * 4096 + ttj",
              if (t eq SparkT) "-1L" else "CAST(-1 AS BIGINT)"))))
    val enum = t.flat(t.tr(
      t.sq("0", s"${TerLen - 1}"),
      "tlv",
      t.flt(t.tr(t.sq("1", s"n - $lD + 1"), "ti", candOrNeg),
        "tcx", "tcx >= 0")))
    t.iff("done", t.emptyLongArr, enum)
  }

  /** Scored keys over the capped candidate list `cnds`; the fold runs
    * over the block-moved mask stream (mv permuted by the same move).
    * m = 0 pairs never reach here (no reference grams → no
    * candidates), so the fold's live-bit math is always in range. */
  private def bestSql(t: TD): String = {
    val div = if (t eq SparkT) "div" else "//"
    val lenLit = if (t eq SparkT) s"${TerLen}L" else s"$TerLen"
    val scored = t.tr(t.sl("cnds", "1", TerCands.toString), "tpk",
      t.a.let("tci", s"(tpk $div 4096) % 4096",
        t.a.let("tcl", s"$lenLit - (tpk $div 16777216)",
          t.a.let("tcj", "tpk % 4096",
            t.a.let("tsc",
              arrWerSc(t.a, arrWerFoldOver(t.a,
                moveSql(t, "mv", "tci", "tcl", "tcj"))),
              s"((tsc * 4096 + tci) * 16 + ($lenLit - tcl)) * 4096 + tcj")))))
    t.amin(scored)
  }

  /** Per-round apply over columns (cw, mv, d, ns, done, ccp) given the
    * materialized `bst` and `ncand` columns. Returns the six updated
    * state expressions in order. */
  private def applySql(t: TD): Seq[(String, String)] = {
    val div = if (t eq SparkT) "div" else "//"
    val bsc = s"(bst $div 268435456)"
    val bi = s"((bst $div 65536) % 4096)"
    val bl =
      if (t eq SparkT) s"(${TerLen}L - ((bst $div 4096) % 16))"
      else s"($TerLen - ((bst $div 4096) % 16))"
    val bj = s"(bst % 4096)"
    val act = s"(NOT done AND bst IS NOT NULL AND $bsc < d)"
    Seq(
      "cw" -> t.iff(act, moveSql(t, "cw", bi, bl, bj), "cw"),
      "mv" -> t.iff(act, moveSql(t, "mv", bi, bl, bj), "mv"),
      "d" -> t.iff(act, bsc, "d"),
      "ns" -> t.iff(act,
        if (t eq SparkT) "ns + 1L" else "ns + 1", "ns"),
      "done" -> s"(done OR NOT $act)",
      "ccp" -> s"(ccp OR (NOT done AND ncand > $TerCands))")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x170_ter" -> ((s, d) => ter(s, d))
  )

  private[graft] def ter(s: SparkSession, dir: String): DataFrame = {
    val t = SparkT
    var df = pairedTokens(s, dir)
      .withColumn("n", size(col("cw")).cast("long"))
      .withColumn("rgs", expr(rgsSql(t)))
      .withColumn("mv", expr(arrMasksSparkSql))
      .withColumn("d",
        expr("CASE WHEN m = 0 THEN n ELSE " +
          arrWerSc(SparkA, arrWerFoldOver(SparkA, "mv")) + " END"))
      .withColumn("ns", lit(0L))
      .withColumn("done", lit(false))
      .withColumn("ccp", lit(false))
    for (_ <- 1 to TerRounds) {
      df = df
        .withColumn("cnds", expr(candsSql(t)))
        .withColumn("ncand", expr(t.sz("cnds")))
        .withColumn("bst", expr(bestSql(t)))
      val upd = applySql(t).toMap
      df = df.select(
        col("pair_id"), col("source"), col("ccap"), col("rcap"),
        col("rw"), col("m"), col("nl"), col("n"), col("rgs"),
        expr(upd("cw")).as("cw"), expr(upd("mv")).as("mv"),
        expr(upd("d")).as("d"), expr(upd("ns")).as("ns"),
        expr(upd("done")).as("done"), expr(upd("ccp")).as("ccp"))
    }
    df.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(col("ns")).as("shift_sum"),
        sum(col("d")).as("dist_sum"),
        sum(col("n")).as("cand_len"),
        sum(col("m")).as("ref_len"),
        sum(when(col("ccap") || col("rcap"), 1L).otherwise(0L))
          .as("n_capped"),
        sum(when(col("ccp"), 1L).otherwise(0L)).as("n_cand_capped"),
        sum(when(!col("done"), 1L).otherwise(0L)).as("n_unconverged"),
        sum(expr("(ns + d) * 1000000L div greatest(m, 1L)")).as("t_sum"))
      .select(col("source"), col("n_pairs"), col("shift_sum"),
        col("dist_sum"), col("cand_len"), col("ref_len"),
        col("n_capped"), col("n_cand_capped"), col("n_unconverged"),
        expr("(shift_sum + dist_sum) * 1000000L" +
          " div greatest(ref_len, 1L)").as("ter_ppm"),
        expr("t_sum div greatest(n_pairs, 1L)").as("macro_ter_ppm"))
      .orderBy(col("source"))
  }

  /** The DuckDB oracle: identical rounds as chained MATERIALIZED CTEs
    * (each round = cands CTE → scored-min CTE → best CTE → apply CTE;
    * materialization pins single evaluation — without it DuckDB
    * re-inlines the chain exponentially, the round-10 span-family
    * finding).
    *
    * Round-12 restructure (the r11 oracle-wall item): scoring moved
    * from a per-pair `list_transform(cnds, tpk -> fold)` lambda into
    * an UNNEST-to-rows subquery (u$r) — one candidate per row, the
    * SAME fold text (arrWerFoldOver over the SAME moveSql) as a
    * top-level column, re-aggregated with min() GROUP BY pair_id.
    * min over the identical scored-key set ⇒ identical bst (the
    * packed key already encodes the full tie-break); pairs with no
    * candidates get bst NULL from the LEFT JOIN exactly as
    * list_aggregate([], 'min') did. DuckDB executes a fold nested
    * inside another list lambda element-at-a-time; the same fold as a
    * top-level projection runs vectorized across the unnested rows —
    * measured ~6× on the b$r stage at sf0.01 (35.5 s → see
    * ORACLE_MAT_PROFILE.md round-12 note), rows hash-identical. */
  val oracleSql: Map[String, String] = Map(
    "x170_ter" -> {
      val t = DuckT
      val stateCols =
        "pair_id, source, ccap, rcap, rw, m, nl, n, rgs"
      val rounds = (1 to TerRounds).map { r =>
        val p = if (r == 1) "p2" else s"r${r - 1}"
        val upd = applySql(t).toMap
        val moved = moveSql(t, "mv", "tci", "tcl", "tcj")
        val tscK = arrWerSc(t.a, arrWerFoldOver(t.a, moved))
        val tsc2 = Ext47.werSc2Duck(Ext47.werFold2DuckOver(moved))
        // nl <= 2 pairs (m <= 124 — every pair on the driver corpus)
        // score through the two-limb scalar fold; longer pairs keep the
        // exact k-limb fold. Both are exact unit-cost Levenshtein, so
        // the dispatch cannot change a value; DuckDB's CASE is lazy per
        // selection vector, so the untaken branch costs nothing.
        val tsc = s"(CASE WHEN nl <= 2 THEN ($tsc2) ELSE ($tscK) END)"
        s"""c$r AS MATERIALIZED (SELECT *, ${candsSql(t)} AS cnds
           |  FROM $p),
           |u$r AS MATERIALIZED (SELECT pair_id,
           |    min(((($tsc) * 4096 + tci) * 16
           |      + ($TerLen - tcl)) * 4096 + tcj) AS bst
           |  FROM (SELECT pair_id, n, m, nl, mv,
           |      ${Ext47.bml2DuckSql} AS bml, ${Ext47.bmh2DuckSql} AS bmh,
           |      (tpk // 4096) % 4096 AS tci,
           |      $TerLen - (tpk // 16777216) AS tcl,
           |      tpk % 4096 AS tcj
           |    FROM c$r, UNNEST(${t.sl("cnds", "1", TerCands.toString)})
           |      AS _cu(tpk))
           |  GROUP BY pair_id),
           |b$r AS MATERIALIZED (SELECT $stateCols, cw, mv, d, ns, done,
           |    ccp, CAST(len(cnds) AS BIGINT) AS ncand, u$r.bst AS bst
           |  FROM c$r LEFT JOIN u$r USING (pair_id)),
           |r$r AS MATERIALIZED (SELECT $stateCols,
           |    ${upd("cw")} AS cw, ${upd("mv")} AS mv,
           |    ${upd("d")} AS d, ${upd("ns")} AS ns,
           |    ${upd("done")} AS done, ${upd("ccp")} AS ccp
           |  FROM b$r)""".stripMargin
      }.mkString(",\n")
      s"""WITH t AS MATERIALIZED (SELECT doc_id, source,
         |    string_split(text, ' ') AS w FROM documents),
         |p0 AS MATERIALIZED (SELECT c.pair_id, c.source, c.ccap, r.rcap,
         |    c.cw AS cw, r.rw AS rw,
         |    CAST(len(c.cw) AS BIGINT) AS n,
         |    CAST(len(r.rw) AS BIGINT) AS m,
         |    CAST(greatest((CAST(len(r.rw) AS BIGINT) + 61) // 62, 1)
         |      AS INT) AS nl
         |  FROM (SELECT doc_id AS pair_id, source, w[1:$LcsCap] AS cw,
         |      len(w) > $LcsCap AS ccap FROM t WHERE doc_id % 2 = 1) c
         |  JOIN (SELECT doc_id + 1 AS pair_id, w[1:$LcsCap] AS rw,
         |      len(w) > $LcsCap AS rcap FROM t WHERE doc_id % 2 = 0) r
         |    USING (pair_id)),
         |p1 AS MATERIALIZED (SELECT *, ${Ext47.bml2DuckSql} AS bml,
         |    ${Ext47.bmh2DuckSql} AS bmh, ${rgsSql(t)} AS rgs,
         |    $arrMasksDuckSql AS mv
         |  FROM p0),
         |p2 AS MATERIALIZED (SELECT *,
         |    CASE WHEN m = 0 THEN n WHEN nl <= 2 THEN
         |      ${Ext47.werSc2Duck(Ext47.werFold2DuckOver("mv"))}
         |    ELSE
         |      ${arrWerSc(DuckA, arrWerFoldOver(DuckA, "mv"))}
         |    END AS d,
         |    CAST(0 AS BIGINT) AS ns, false AS done, false AS ccp
         |  FROM p1),
         |$rounds
         |SELECT source,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(ns) AS BIGINT) AS shift_sum,
         |  CAST(sum(d) AS BIGINT) AS dist_sum,
         |  CAST(sum(n) AS BIGINT) AS cand_len,
         |  CAST(sum(m) AS BIGINT) AS ref_len,
         |  CAST(sum(CASE WHEN ccap OR rcap THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_capped,
         |  CAST(sum(CASE WHEN ccp THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_cand_capped,
         |  CAST(sum(CASE WHEN NOT done THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_unconverged,
         |  CAST((CAST(sum(ns) AS BIGINT) + CAST(sum(d) AS BIGINT))
         |    * 1000000 // greatest(CAST(sum(m) AS BIGINT), 1) AS BIGINT)
         |    AS ter_ppm,
         |  CAST(CAST(sum((ns + d) * 1000000 // greatest(m, 1)) AS BIGINT)
         |    // greatest(count(*), 1) AS BIGINT) AS macro_ter_ppm
         |FROM r$TerRounds GROUP BY source ORDER BY source""".stripMargin
    })
}
