package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables._
import graft.ext.TextOps

/** Round-8 batch: generation-eval metrics #2 and #3 (VERDICT r7 tasks
  * 6–7), completing the MT/summarization family around x152's BLEU:
  *
  *   - x154 ROUGE-L: LCS-based precision/recall/F over candidate vs
  *     reference token sequences (Lin 2004) — the summarization metric.
  *   - x155 chrF: character n-gram F2 score, n = 1..6 with multiset
  *     clipping (Popović 2015) — the tokenization-free MT metric.
  *   - x156 WER: word error rate via Myers' (1999) bit-parallel
  *     Levenshtein over token sequences — the ASR eval metric.
  *
  * Float discipline (the family rule): every statistic is exact BIGINT —
  * ratios in ppm via `div`, F-scores composed from ppm operands with a
  * documented floor at each step, identical spelling in the DuckDB
  * oracle.
  *
  * The LCS is the interesting operator: a sequential DP that plain SQL
  * can't express cell by cell. Spelled here as the BIT-PARALLEL
  * Allison–Dix / Hyyrö row recurrence — per candidate token c,
  *   V' = (V + (V & M(c))) | (V & ~M(c)),   LCS = m − popcount(V)
  * (M(c) = bitmask of c's positions in the reference; V starts all-ones
  * over m bits). The CARRY of the addition performs the DP row's prefix
  * propagation, so each row update is O(m/62) bitvector ops instead of
  * an O(m) sequential scan. State is an ARRAY of 62-bit BIGINT limbs
  * with a PER-PAIR limb count nl = ceil(m/62) (round 9 — generalized
  * from the fixed two-limb {hi, lo} window; 62 keeps `V + (V&M)` off
  * the sign bit, and the cross-limb carry is an inner fold over limb
  * indices), giving a 992-token window per side with truncation still
  * SURFACED as `n_capped` (the x148 `capped` lesson: a lower-bound
  * answer must be distinguishable from an exact one). The whole fold is
  * one `aggregate` HOF over the candidate tokens — partition-local, no
  * shuffle — and the SAME fold is spelled in DuckDB via list_reduce, so
  * the oracle is an independent engine executing the identical integer
  * recurrence (each kernel validated 40/40 against a classic-DP brute
  * force per engine before landing; Ext47Spec re-pins the equivalence
  * in pure Scala).
  *
  * Pairing contract (shared with x152): candidate = odd doc_id,
  * reference = doc_id − 1, one equi-join on the pair key; rollups are
  * per candidate `source`. Scale shape: x154's only shuffles are the
  * pair equi-join and a |sources|-bounded groupBy; x155 adds the
  * (pair, n, gram) inverted-index join (x152's shape — cost tracks
  * matching grams, never the cross product). No all-pairs anywhere.
  */
object Ext47 {

  /** Token cap per side for the bit-parallel DP metrics: 16 limbs ×
    * 62 bits (round 9 — lifted from the 124-token two-limb window).
    * The folds now run over per-pair ARRAY state with
    * nl = ceil(min(m, cap)/62) limbs, so short pairs pay only their
    * own length and the cap is purely a COST guard (the DP is
    * inherently O(nc·m/62) work per pair — unbounded documents would
    * make a single pair quadratic). Truncation is still surfaced per
    * source as `n_capped`; it never binds on the driver corpus
    * (max ~110 tokens). */
  val LcsCap = 992

  /** Candidate/reference token pairing shared by x154, x156 and x170
    * (odd doc_id = candidate, doc_id − 1 = reference; both sides
    * windowed to [[LcsCap]] with the truncation flags kept). The
    * k-limb folds also need `m` (reference length) and `nl` (per-pair
    * limb count) as pair columns referenced from inside the fold
    * lambdas. */
  private[queries] def pairedTokens(s: SparkSession, d: String): DataFrame = {
    val cap = LcsCap
    val docs = documents(s, d)
      .select(col("doc_id"), col("source"), TextOps.words(col("text")).as("w"))
    val cand = docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id").as("pair_id"), col("source"),
        expr(s"slice(w, 1, $cap)").as("cw"),
        (size(col("w")) > cap).as("ccap"))
    val ref = docs.filter(col("doc_id") % 2 === 0)
      .select((col("doc_id") + 1L).as("pair_id"),
        expr(s"slice(w, 1, $cap)").as("rw"),
        (size(col("w")) > cap).as("rcap"))
    cand.join(ref, Seq("pair_id"))
      .withColumn("m", size(col("rw")).cast("long"))
      .withColumn("nl",
        expr("CAST(greatest((m + 61L) div 62L, 1L) AS INT)"))
  }

  // ---- x156 WER: bit-parallel Myers edit distance, shared generator --

  /** Dialect hooks for the two-limb Myers step (shifts, xor and BIGINT
    * literals); only the DuckDB rendering has a caller today. */
  private final case class Dia(
      shl: (String, String) => String, shr: (String, String) => String,
      xor: (String, String) => String, lng: Long => String)
  private final case class BV(hi: String, lo: String)

  /** One Myers (1999) edit-distance step over two 62-bit limbs: state v
    * carries (Pv, Mv, score); `eqHi`/`eqLo` are the candidate token's
    * match mask. Live-bit masks `bmh` / `bml` and the reference length
    * `m` are PAIR COLUMNS referenced from inside the lambda (keeps the
    * generated text bounded); the add's lo→hi carry is
    * `(lo + lo') >> 62`, the shift's carry is bit 61. Each shared
    * intermediate (eq, the carry add, Xh, Xv, Ph, Mh and the two
    * shifts) is substituted inline at every use site: in DuckDB the
    * duplicated scalar ops measured CHEAPER than [hi,lo]-list-payload
    * lets (see the werFold2DuckOver note). */
  private def myersStep(d: Dia, eqHi: String, eqLo: String,
      st: String => String,
      pack: (String, String, String, String, String) => String): String = {
    def and(x: BV, y: BV) = BV(s"(${x.hi} & ${y.hi})", s"(${x.lo} & ${y.lo})")
    def or(x: BV, y: BV) = BV(s"(${x.hi} | ${y.hi})", s"(${x.lo} | ${y.lo})")
    def xr(x: BV, y: BV) = BV(d.xor(x.hi, y.hi), d.xor(x.lo, y.lo))
    def not(x: BV) = BV(s"((~${x.hi}) & bmh)", s"((~${x.lo}) & bml)")
    def add(x: BV, y: BV) = BV(
      s"(((${x.hi} + ${y.hi}) + ${d.shr(s"(${x.lo} + ${y.lo})", "62")}) & bmh)",
      s"((${x.lo} + ${y.lo}) & bml)")
    def shl1(x: BV, b0: String) = BV(
      s"((${d.shl(x.hi, "1")} | (${d.shr(x.lo, "61")} & ${d.lng(1)})) & bmh)",
      s"((${d.shl(x.lo, "1")} | $b0) & bml)")
    def top(x: BV) =
      s"(CASE WHEN m <= 62 THEN (${d.shr(x.lo, "CAST(greatest(m - 1, 0) AS INT)")} & ${d.lng(1)})" +
        s" ELSE (${d.shr(x.hi, "CAST(m - 63 AS INT)")} & ${d.lng(1)}) END)"
    val pv = BV(st("pvh"), st("pvl")); val mv = BV(st("mvh"), st("mvl"))
    val eq = BV(eqHi, eqLo)
    val ad = add(and(eq, pv), pv)
    val xh = or(xr(ad, pv), eq)
    val xv = or(eq, mv)
    val ph = or(mv, not(or(xh, pv)))
    val mh = and(pv, xh)
    val phs = shl1(ph, d.lng(1))
    val mhs = shl1(mh, d.lng(0))
    val pv2 = or(mhs, not(or(xv, phs)))
    val mv2 = and(phs, xv)
    val sc2 = s"((${st("sc")} + ${top(ph)}) - ${top(mh)})"
    pack(pv2.hi, pv2.lo, mv2.hi, mv2.lo, sc2)
  }

  // (The two-limb DuckDB Myers fold — werFoldDuckSql — was deleted in
  // round 10: the catalog oracle uses the k-limb arrWerFoldDuckSql
  // below, and no spec or gate executed the retained spelling, so it
  // could only rot silently. Its DuckDB-1.0.0 quirk notes — LIST
  // state because list_reduce miscomputes STRUCT accumulators,
  // list_prepend'ed init — live on in the k-limb section header.)

  /** Round-12 resurrection WITH a live caller: x170's oracle scores
    * its unnested candidates through this fold for nl <= 2 pairs (the
    * DuckDB CASE dispatch in Ext50 — lazy per selection vector, so the
    * k-limb branch pays nothing when no pair needs it). The step is
    * generated by [[myersStep]]; state rides LIST(BIGINT)
    * [pvh, pvl, mvh, mvl, sc] (the struct-accumulator quirk), and the
    * mask stream is the SAME per-token nl-limb arrays the k-limb fold
    * reads — limb 1 = lo, limb 2 = hi (absent at nl = 1 ⇒ coalesced 0).
    * Caller scope must provide columns m, bmh, bml (the least() guard
    * on bmh matters: DuckDB errors on shifts > 63, and the dispatch
    * also EVALUATES bmh for nl > 2 rows before the CASE gates them).
    */
  private val DuckDia = Dia(
    (x, n) => s"($x << $n)", (x, n) => s"($x >> $n)",
    (a, b) => s"xor($a, $b)", v => s"CAST($v AS BIGINT)")

  private[queries] val bml2DuckSql: String =
    "((CAST(1 AS BIGINT) << CAST(least(m, 62) AS INT)) - 1)"
  private[queries] val bmh2DuckSql: String =
    "((CAST(1 AS BIGINT) << CAST(least(greatest(m - 62, 0), 62) AS INT))" +
      " - 1)"

  private[queries] def werFold2DuckOver(items: String): String = {
    val eqLo = "mk[1]"
    val eqHi = "coalesce(mk[CAST(2 AS INT)], CAST(0 AS BIGINT))"
    val st: String => String = {
      case "pvh" => "v[1]"; case "pvl" => "v[2]"
      case "mvh" => "v[3]"; case "mvl" => "v[4]"; case "sc" => "v[5]"
    }
    // Inline binder, NOT the [hi,lo]-list let trick: measured 4.6×
    // SLOWER with list-payload lets (sf0.01 oracle 4.1 s → 19.0 s) —
    // a list allocation per binding per step costs far more than the
    // duplicated vectorized scalar ops it saves. The textual blowup is
    // benign here because every duplicated node is a scalar BIGINT op.
    val step = myersStep(DuckDia, eqHi, eqLo, st,
      (a, b, c, dd, e) => s"[$a, $b, $c, $dd, $e]")
    s"""list_reduce(list_prepend(
       |  [bmh, bml, CAST(0 AS BIGINT), CAST(0 AS BIGINT), m],
       |  $items),
       |  (v, mk) -> $step)""".stripMargin
  }

  private[queries] def werSc2Duck(foldExpr: String): String =
    s"($foldExpr)[CAST(5 AS INT)]"

  // ---- round 9: k-limb array state (the LcsCap lift) ----------------------
  //
  // The round-8 two-limb {hi, lo} state capped both DP metrics at 124
  // tokens per side (only x170's DuckDB dispatch still renders it, via
  // myersStep above). The k-limb generalization stores the bitvectors as
  // ARRAY<BIGINT> with a PER-PAIR limb count nl = ceil(m/62): short
  // pairs keep paying one limb, long pairs get exact answers up to
  // LcsCap. The only genuinely sequential piece is the DP addition's
  // cross-limb carry, spelled as an inner fold over limb indices
  // (state = partial limbs + carry; each limb sum ≤ 2·(2^62−1)+1 =
  // Long.MaxValue, so the 62-bit shift is the exact carry). Everything
  // else is limb-wise. The step math is generated ONCE and rendered per
  // dialect (validated 40/40 against classic DP per engine before
  // landing; Ext47Spec re-pins both).
  // DuckDB quirks carried over from x156: LIST(BIGINT) state (its
  // list_reduce miscomputes STRUCT accumulators), list_prepend'ed init;
  // let-bindings are spelled list_transform([expr], x -> body)[1] —
  // the same trick works in Spark as element_at(transform(array(e)...).

  private val M62 = 4611686018427387903L // (1L << 62) - 1

  /** Dialect hooks for the k-limb folds. Pair columns in lambda scope:
    * cw, rw, m (BIGINT ref length), nl (limb count). */
  private[queries] final case class ADia(
      lng: Long => String,
      idx: (String, String) => String,             // 1-based array access
      shl: (String, String) => String,
      shr: (String, String) => String,
      xor: (String, String) => String,
      overNl: (String, String) => String,          // (var, body): array over 1..nl
      let: (String, String, String) => String,     // (name, arrExpr, body)
      fold: (String, String, String, String, String) => String,
      addCarry: (String => String, (String, String) => String) => String,
      stPv: String => String, stMv: String => String, stSc: String,
      pack: (String, String, String) => String)

  private[queries] val SparkA: ADia = ADia(
    lng = v => s"${v}L",
    idx = (a, i) => s"element_at($a, CAST($i AS INT))",
    shl = (x, n) => s"shiftleft($x, $n)",
    shr = (x, n) => s"shiftright($x, $n)",
    xor = (a, b) => s"($a ^ $b)",
    overNl = (v, body) => s"transform(sequence(1, nl), $v -> $body)",
    let = (nm, e, body) =>
      s"element_at(transform(array($e), $nm -> $body), 1)",
    fold = (items, init, acc, cur, step) =>
      s"aggregate($items,\n  $init,\n  ($acc, $cur) -> $step)",
    addCarry = (xy, post) => {
      val sum = s"(${xy("ci")} + cst.c)"
      s"""aggregate(sequence(1, nl),
         |  named_struct('c', 0L, 'a', CAST(array() AS ARRAY<BIGINT>)),
         |  (cst, ci) -> named_struct(
         |    'c', shiftright($sum, 62),
         |    'a', concat(cst.a,
         |      array(${post(s"($sum & ${M62}L)", "ci")}))),
         |  cst -> cst.a)""".stripMargin
    },
    stPv = i => s"element_at(v.pv, CAST($i AS INT))",
    stMv = i => s"element_at(v.mv, CAST($i AS INT))",
    stSc = "v.sc",
    pack = (pv2, mv2, sc2) =>
      s"named_struct('pv', $pv2, 'mv', $mv2, 'sc', $sc2)")

  private[queries] val DuckA: ADia = ADia(
    lng = v => s"CAST($v AS BIGINT)",
    idx = (a, i) => s"$a[CAST($i AS INT)]",
    shl = (x, n) => s"($x << $n)",
    shr = (x, n) => s"($x >> $n)",
    xor = (a, b) => s"xor($a, $b)",
    overNl = (v, body) => s"list_transform(range(1, nl + 1), $v -> $body)",
    let = (nm, e, body) => s"(list_transform([$e], $nm -> $body))[1]",
    fold = (items, init, acc, cur, step) =>
      s"list_reduce(list_prepend($init,\n  $items),\n  ($acc, $cur) -> $step)",
    addCarry = (xy, post) => {
      val sum = s"(${xy("cix[1]")} + cst[1])"
      s"""(list_reduce(list_prepend([CAST(0 AS BIGINT)],
         |  list_transform(range(1, nl + 1), ci0 -> [CAST(ci0 AS BIGINT)])),
         |  (cst, cix) -> list_concat(
         |    [($sum >> 62)],
         |    list_concat(cst[2:],
         |      [${post(s"($sum & CAST($M62 AS BIGINT))", "cix[1]")}]))))[2:]"""
        .stripMargin
    },
    stPv = i => s"v[CAST($i AS INT)]",
    stMv = i => s"v[CAST(nl + $i AS INT)]",
    stSc = "v[CAST(2*nl + 1 AS INT)]",
    pack = (pv2, mv2, sc2) =>
      s"list_concat($pv2, list_concat($mv2, [$sc2]))")

  /** Live-bit mask for limb `i`: full 62 bits except the top limb's
    * partial m − (nl−1)·62 bits (0 bits when m = 0). */
  private[queries] def aLive(d: ADia, i: String): String =
    s"(CASE WHEN $i < nl THEN ${d.lng(M62)} " +
      s"ELSE ${d.shl(d.lng(1), "CAST(m - (nl-1)*62 AS INT)")} - " +
      s"${d.lng(1)} END)"

  /** Match masks, k-limb: one ARRAY of nl limbs per candidate token
    * (limb i covers reference positions (i−1)·62+1 .. i·62). The inner
    * position guard keeps element_at in-bounds under ANSI (and inert
    * when Spark's sequence DESCENDS on an empty top range at m = 0). */
  private[queries] val arrMasksSparkSql: String =
    """transform(cw, c -> transform(sequence(1, nl), mi ->
      |  aggregate(
      |    sequence(CAST((mi-1)*62 + 1 AS BIGINT),
      |             greatest(least(CAST(mi AS BIGINT)*62, m),
      |                      CAST((mi-1)*62 + 1 AS BIGINT))),
      |    0L, (ma, mj) ->
      |    ma + IF(mj <= m,
      |          IF(element_at(rw, CAST(mj AS INT)) = c,
      |             shiftleft(1L, CAST(mj - 1 - (mi-1)*62 AS INT)), 0L),
      |          0L))))""".stripMargin

  private[queries] val arrMasksDuckSql: String =
    """list_transform(cw, c -> list_transform(range(1, nl + 1), mi ->
      |  coalesce(list_aggregate(
      |    list_transform(range((mi-1)*62 + 1, least(mi*62, m) + 1), mj ->
      |      CASE WHEN rw[CAST(mj AS INT)] = c
      |           THEN CAST(1 AS BIGINT) << CAST(mj - 1 - (mi-1)*62 AS INT)
      |           ELSE CAST(0 AS BIGINT) END), 'sum'), 0)))""".stripMargin

  /** k-limb Allison–Dix LCS fold: state = the V bitvector as an
    * ARRAY<BIGINT>; per token, one carry fold computes V + (V&M), then
    * the OR with V&~M and the live-bit re-mask are limb-wise. */
  private def arrLcsFold(d: ADia, masks: String): String = {
    def vI(i: String) = d.idx("v", i)
    def mkI(i: String) = d.idx("mk", i)
    val step = d.addCarry(
      i => s"(${vI(i)} + (${vI(i)} & ${mkI(i)}))",
      (sum, i) => s"(($sum | (${vI(i)} & ~${mkI(i)})) & ${aLive(d, i)})")
    d.fold(masks, d.overNl("li", aLive(d, "li")), "v", "mk", step)
  }

  private[graft] val arrLcsFoldSparkSql: String =
    arrLcsFold(SparkA, arrMasksSparkSql)
  private val arrLcsFoldDuckSql: String =
    arrLcsFold(DuckA, arrMasksDuckSql)

  /** One k-limb Myers step. State carries (Pv limbs, Mv limbs, score);
    * the (Eq&Pv)+Pv addition is the carry fold, the <<1 carries bit 61
    * limb-to-limb, the score reads bit m−1 of the top limb. Shared
    * intermediates are LET-BOUND (computed once per step) — without
    * the bindings the expression tree blows up multiplicatively. */
  private[queries] def arrMyersStep(d: ADia): String = {
    def eqI(i: String) = d.idx("mk", i)
    def at(a: String, i: String) = d.idx(a, i)
    val one = d.lng(1); val zero = d.lng(0)
    val sumArr = d.addCarry(
      i => s"((${eqI(i)} & ${d.stPv(i)}) + ${d.stPv(i)})",
      (sum, i) => s"($sum & ${aLive(d, i)})")
    val xhArr = d.overNl("xi",
      s"(${d.xor(at("ms", "xi"), d.stPv("xi"))} | ${eqI("xi")})")
    val xvArr = d.overNl("xi", s"(${eqI("xi")} | ${d.stMv("xi")})")
    val phArr = d.overNl("xi",
      s"(${d.stMv("xi")} | ((~(${at("mxh", "xi")} | ${d.stPv("xi")})) & " +
        s"${aLive(d, "xi")}))")
    val mhArr = d.overNl("xi",
      s"(${d.stPv("xi")} & ${at("mxh", "xi")})")
    val off = "CAST(m - 1 - (nl-1)*62 AS INT)"
    val sc2 = s"((${d.stSc}) + (${d.shr(at("mph", "nl"), off)} & $one)" +
      s" - (${d.shr(at("mmh", "nl"), off)} & $one))"
    def shlArr(a: String, c0: String) = d.overNl("xi",
      s"((${d.shl(at(a, "xi"), "1")} | (CASE WHEN xi = 1 THEN $c0 " +
        s"ELSE (${d.shr(at(a, "xi - 1"), "61")} & $one) END)) & " +
        s"${aLive(d, "xi")})")
    val pv2 = d.overNl("xi",
      s"(${at("mmhs", "xi")} | ((~(${at("mxv", "xi")} | " +
        s"${at("mphs", "xi")})) & ${aLive(d, "xi")}))")
    val mv2 = d.overNl("xi",
      s"(${at("mphs", "xi")} & ${at("mxv", "xi")})")
    d.let("ms", sumArr,
      d.let("mxh", xhArr,
        d.let("mxv", xvArr,
          d.let("mph", phArr,
            d.let("mmh", mhArr,
              d.let("mphs", shlArr("mph", one),
                d.let("mmhs", shlArr("mmh", zero),
                  d.pack(pv2, mv2, sc2))))))))
  }

  /** The k-limb Myers fold over an ARBITRARY mask-stream expression
    * (items: ARRAY of nl-limb match-mask arrays, in candidate-token
    * order), returning the full state. Factored in round 10 so x170's
    * TER can fold over a BLOCK-MOVED mask stream — the masks depend
    * only on (token, reference), so a shift just permutes them and the
    * same fold scores the shifted hypothesis without recomputing a
    * single mask. */
  private[queries] def arrWerFoldOver(d: ADia, items: String): String = {
    val init =
      if (d eq SparkA)
        "named_struct(" +
          s"'pv', ${d.overNl("li", aLive(d, "li"))}, " +
          s"'mv', ${d.overNl("li", "0L")}, 'sc', m)"
      else
        "list_concat(" +
          s"${d.overNl("li", aLive(d, "li"))}, list_concat(" +
          s"${d.overNl("li", "CAST(0 AS BIGINT)")}, [m]))"
    d.fold(items, init, "v", "mk", arrMyersStep(d))
  }

  /** Final edit-distance scalar from the fold state. */
  private[queries] def arrWerSc(d: ADia, foldExpr: String): String =
    if (d eq SparkA) s"($foldExpr).sc"
    else s"($foldExpr)[CAST(2*nl + 1 AS INT)]"

  private[graft] val arrWerFoldSparkSql: String =
    arrWerFoldOver(SparkA, arrMasksSparkSql)

  private val arrWerFoldDuckSql: String =
    arrWerSc(DuckA, arrWerFoldOver(DuckA, arrMasksDuckSql))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // X154 ROUGE-L (Lin 2004) aggregated per source:
    //   per pair: lcs = LCS(cand tokens, ref tokens)
    //   micro: P = Σlcs/Σ|c|, R = Σlcs/Σ|r|, F1 = 2Σlcs/(Σ|c|+Σ|r|)
    //   macro: mean over pairs of 2·lcs/(|c|+|r|)
    // all floored ppm BIGINT. The F1 spelling 2Σlcs/(Σ|c|+Σ|r|) IS the
    // harmonic mean of micro P and R computed exactly — composing the
    // two already-floored ppm values would double-floor.
    "x154_rouge_l" -> ((s, d) => rougeL(s, d)),

    // X155 chrF (Popović 2015): character n-gram F-score, n = 1..6,
    // over whitespace-stripped text (chrF's published convention),
    // MULTISET-clipped like x152's BLEU, micro-averaged per (source, n).
    // β = 2 weights recall: F2 = 5PR/(4P+R), composed from the floored
    // ppm P and R (documented double-floor — both engines identical).
    // 5·P·R ≤ 5e12 — no BIGINT overflow.
    // Plan: x152's two per-side (pair, n, gram) groupBys + equi-join
    // clip. The "obvious" improvement — union both sides with a flag
    // into ONE groupBy, clip = least(c_c, c_r), no join — MEASURED 2×
    // SLOWER same-boot (9.76 vs 5.26 s min-of-3 at sf0.1,
    // BENCH_AB_r08_x155.json): per-(pair, n, gram) multiplicity is ~1,
    // so map-side combine reduces nothing and the union just pushes the
    // SAME 2×17M rows through one fatter exchange + hash table instead
    // of two lighter ones, while the SMJ clip it was meant to save is
    // cheap on the already-shuffled sides. Shuffle COUNT is not shuffle
    // COST — volume × width is.
    // nativeGrams ADOPTED round 10: 0.76 vs 4.82 s min-of-5 same-boot
    // at sf0.1 (BENCH_AB_r10_chrgram.json) — after two exchange-shrink
    // negatives, the time was the interpreted gram pyramid itself.
    "x155_chrf" -> ((s, d) => chrF(s, d, nativeGrams = true)),

    // X156 WER — word error rate (the ASR/generation eval): per pair,
    // Levenshtein distance between candidate and reference token
    // sequences, spelled as Myers' (1999) BIT-PARALLEL recurrence: per
    // candidate token, the DP column's ±1 differences live in two
    // bitvectors (Pv, Mv) updated with O(m/62) bitvector ops — the
    // same k-limb array discipline as x154 (round 9; exact to the
    // 992-token cost guard), with carry-in shifts and a running score
    // instead of a final popcount. The step expression is GENERATED
    // once (arrMyersStep) and rendered per dialect, so engine and
    // oracle execute the identical recurrence. Empty reference (m = 0,
    // unreachable via the ≥1-token split semantics but spelled anyway)
    // degrades to dist = |cand|.
    // micro wer_ppm = Σdist·1e6 div Σ|ref|; macro = mean per-pair ppm
    // (can exceed 1e6 when the candidate is longer — WER's convention).
    "x156_wer" -> ((s, d) => wer(s, d)),
  )

  /** x154 body. */
  private def rougeL(s: SparkSession, d: String): DataFrame = {
    val paired = pairedTokens(s, d)
      .withColumn("st", expr(arrLcsFoldSparkSql))
      .withColumn("lcs", expr(
        """m - aggregate(transform(st, pb -> CAST(bit_count(pb) AS BIGINT)),
          |  0L, (pa, pc) -> pa + pc)""".stripMargin))
    val per = paired.select(col("source"),
      size(col("cw")).cast("long").as("nc"), col("m"),
      (col("ccap") || col("rcap")).as("cap"), col("lcs"))
    per.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(col("lcs")).as("lcs_sum"),
        sum(col("nc")).as("cand_len"),
        sum(col("m")).as("ref_len"),
        sum(when(col("cap"), 1L).otherwise(0L)).as("n_capped"),
        sum(expr("2L * lcs * 1000000L div greatest(nc + m, 1L)"))
          .as("f_sum"))
      .select(col("source"), col("n_pairs"), col("lcs_sum"),
        col("cand_len"), col("ref_len"), col("n_capped"),
        expr("lcs_sum * 1000000L div greatest(cand_len, 1L)").as("p_ppm"),
        expr("lcs_sum * 1000000L div greatest(ref_len, 1L)").as("r_ppm"),
        expr("2L * lcs_sum * 1000000L div greatest(cand_len + ref_len, 1L)")
          .as("f_ppm"),
        expr("f_sum div greatest(n_pairs, 1L)").as("macro_f_ppm"))
      .orderBy(col("source"))
  }

  /** x156 body. */
  private def wer(s: SparkSession, d: String): DataFrame = {
    val paired = pairedTokens(s, d)
      .withColumn("stv", expr(arrWerFoldSparkSql))
    val per = paired.select(col("source"),
      size(col("cw")).cast("long").as("nc"), col("m"),
      (col("ccap") || col("rcap")).as("cap"),
      expr("CASE WHEN m = 0 THEN CAST(size(cw) AS BIGINT)" +
        " ELSE stv.sc END").as("dist"))
    per.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(col("dist")).as("dist_sum"),
        sum(col("nc")).as("cand_len"),
        sum(col("m")).as("ref_len"),
        sum(when(col("cap"), 1L).otherwise(0L)).as("n_capped"),
        sum(expr("dist * 1000000L div greatest(m, 1L)")).as("w_sum"))
      .select(col("source"), col("n_pairs"), col("dist_sum"),
        col("cand_len"), col("ref_len"), col("n_capped"),
        expr("dist_sum * 1000000L div greatest(ref_len, 1L)")
          .as("wer_ppm"),
        expr("w_sum div greatest(n_pairs, 1L)").as("macro_wer_ppm"))
      .orderBy(col("source"))
  }

  /** x155 body. `nativeGrams = false` is the interpreted HOF gram
    * pyramid, the reference Ext47Spec compares the catalog's native
    * path against. Two per-side (pair, n, gram) count aggregations,
    * equi-join clip (the catalog entry's comment records why the
    * single-pass union form lost, BENCH_AB_r08_x155.json; the packed
    * 48-bit-key probe lost 13.36 vs 4.59 s, BENCH_AB_r09_x155.json). */
  private[graft] def chrF(s: SparkSession, d: String,
      nativeGrams: Boolean): DataFrame = {
    val docs = documents(s, d).select(col("doc_id"), col("source"),
      expr("replace(text, ' ', '')").as("t"))
    val cand = docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id").as("pair_id"), col("source"), col("t").as("ct"))
    val ref = docs.filter(col("doc_id") % 2 === 0)
      .select((col("doc_id") + 1L).as("pair_id"), col("t").as("rt"))
    val pairs = cand.join(ref, Seq("pair_id"))
    // x152's sequence gotcha: sequence(1, stop) DESCENDS when stop < 1,
    // so generate over a floor of 1 and slice back to the true count.
    def grams(tc: String): Column =
      explode(expr(
        s"""flatten(transform(sequence(1, 6), n ->
           |  slice(
           |    transform(sequence(1, greatest(length($tc) - n + 1, 1)), i ->
           |      named_struct('n', n, 'g', substring($tc, i, n))),
           |    1, greatest(length($tc) - n + 1, 0))))""".stripMargin))
    // A gram's order IS its character length, so the native path
    // carries the (n, g) key as a flat string array — no structs,
    // no interpreted HOF pyramid, no per-gram substring re-walk
    // (GraftCharGrams; the graft_shingles3 precedent, VERDICT r9 #6).
    def gramCounts(tcol: String, cname: String): DataFrame = {
      val keyed =
        if (nativeGrams)
          pairs.select(col("pair_id"), col("source"),
              explode(TextOps.charGrams(col(tcol), 6)).as("g"))
            .select(col("pair_id"), col("source"),
              length(col("g")).cast("long").as("n"), col("g"))
        else
          pairs.select(col("pair_id"), col("source"), grams(tcol).as("x"))
            .select(col("pair_id"), col("source"),
              col("x.n").cast("long").as("n"), col("x.g").as("g"))
      keyed.groupBy(col("pair_id"), col("source"), col("n"), col("g"))
        .agg(count(lit(1)).as(cname))
    }
    val cc = gramCounts("ct", "c_c")
    val rc = gramCounts("rt", "c_r")
    val cl = cc.join(rc.drop("source"), Seq("pair_id", "n", "g"))
      .groupBy(col("source"), col("n"))
      .agg(sum(least(col("c_c"), col("c_r"))).as("clipped"))
    val tc = cc.groupBy(col("source"), col("n"))
      .agg(sum(col("c_c")).as("total_cand"))
    val tr = rc.groupBy(col("source"), col("n"))
      .agg(sum(col("c_r")).as("total_ref"))
    val fin = tc.join(cl, Seq("source", "n"), "left")
      .join(tr, Seq("source", "n"), "left")
    fin.select(col("source"), col("n"),
        coalesce(col("clipped"), lit(0L)).as("clipped"),
        col("total_cand"),
        coalesce(col("total_ref"), lit(0L)).as("total_ref"),
        expr("coalesce(clipped, 0L) * 1000000L div greatest(total_cand, 1L)")
          .as("p_ppm"),
        expr("coalesce(clipped, 0L) * 1000000L" +
          " div greatest(coalesce(total_ref, 0L), 1L)").as("r_ppm"))
      .withColumn("f2_ppm",
        expr("5L * p_ppm * r_ppm div greatest(4L * p_ppm + r_ppm, 1L)"))
      .orderBy(col("source"), col("n"))
  }

  val oracleSql: Map[String, String] = Map(
    "x154_rouge_l" ->
      s"""WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS w
        |    FROM documents),
        |pr AS (SELECT c.doc_id AS pair_id, c.source,
        |    c.w[1 : $LcsCap] AS cw, r.w[1 : $LcsCap] AS rw,
        |    (len(c.w) > $LcsCap OR len(r.w) > $LcsCap) AS cap,
        |    CAST(len(r.w[1 : $LcsCap]) AS BIGINT) AS m,
        |    greatest((CAST(len(r.w[1 : $LcsCap]) AS BIGINT) + 61) // 62, 1)
        |      AS nl
        |  FROM (SELECT * FROM d WHERE doc_id % 2 = 1) c
        |  JOIN (SELECT doc_id + 1 AS pid, w FROM d WHERE doc_id % 2 = 0) r
        |    ON c.doc_id = r.pid),
        |st AS (SELECT pair_id, source, cap,
        |    CAST(len(cw) AS BIGINT) AS nc, m,
        |    $arrLcsFoldDuckSql
        |      AS v
        |  FROM pr),
        |pp AS (SELECT source, cap, nc, m,
        |    m - coalesce(list_aggregate(
        |      list_transform(v, pb -> CAST(bit_count(pb) AS BIGINT)),
        |      'sum'), 0) AS lcs
        |  FROM st),
        |ag AS (SELECT source,
        |    CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(sum(lcs) AS BIGINT) AS lcs_sum,
        |    CAST(sum(nc) AS BIGINT) AS cand_len,
        |    CAST(sum(m) AS BIGINT) AS ref_len,
        |    CAST(sum(CASE WHEN cap THEN 1 ELSE 0 END) AS BIGINT) AS n_capped,
        |    CAST(sum(2 * lcs * 1000000 // greatest(nc + m, 1)) AS BIGINT)
        |      AS f_sum
        |  FROM pp GROUP BY source)
        |SELECT source, n_pairs, lcs_sum, cand_len, ref_len, n_capped,
        |  CAST(lcs_sum * 1000000 // greatest(cand_len, 1) AS BIGINT) AS p_ppm,
        |  CAST(lcs_sum * 1000000 // greatest(ref_len, 1) AS BIGINT) AS r_ppm,
        |  CAST(2 * lcs_sum * 1000000 // greatest(cand_len + ref_len, 1)
        |    AS BIGINT) AS f_ppm,
        |  CAST(f_sum // greatest(n_pairs, 1) AS BIGINT) AS macro_f_ppm
        |FROM ag ORDER BY source""".stripMargin,

    "x155_chrf" ->
      """WITH d AS (SELECT doc_id, source, replace(text, ' ', '') AS t
        |    FROM documents),
        |pr AS (SELECT c.doc_id AS pair_id, c.source, c.t AS ct, r.t AS rt
        |  FROM (SELECT * FROM d WHERE doc_id % 2 = 1) c
        |  JOIN (SELECT doc_id + 1 AS pid, t FROM d WHERE doc_id % 2 = 0) r
        |    ON c.doc_id = r.pid),
        |nn AS (SELECT unnest([1, 2, 3, 4, 5, 6]) AS n),
        |cg AS (SELECT pair_id, source, n, substr(ct, CAST(i AS INT), n) AS g
        |  FROM (SELECT pair_id, source, n, ct,
        |      unnest(range(1, greatest(length(ct) - n + 2, 1))) AS i
        |    FROM pr, nn)),
        |rg AS (SELECT pair_id, source, n, substr(rt, CAST(i AS INT), n) AS g
        |  FROM (SELECT pair_id, source, n, rt,
        |      unnest(range(1, greatest(length(rt) - n + 2, 1))) AS i
        |    FROM pr, nn)),
        |cc AS (SELECT pair_id, source, n, g, CAST(count(*) AS BIGINT) AS c_c
        |  FROM cg GROUP BY 1, 2, 3, 4),
        |rc AS (SELECT pair_id, source, n, g, CAST(count(*) AS BIGINT) AS c_r
        |  FROM rg GROUP BY 1, 2, 3, 4),
        |cl AS (SELECT cc.source, cc.n,
        |    CAST(sum(least(c_c, c_r)) AS BIGINT) AS clipped
        |  FROM cc JOIN rc ON cc.pair_id = rc.pair_id AND cc.n = rc.n
        |    AND cc.g = rc.g
        |  GROUP BY 1, 2),
        |tc AS (SELECT source, n, CAST(sum(c_c) AS BIGINT) AS total_cand
        |  FROM cc GROUP BY 1, 2),
        |tr AS (SELECT source, n, CAST(sum(c_r) AS BIGINT) AS total_ref
        |  FROM rc GROUP BY 1, 2),
        |fin AS (SELECT tc.source, CAST(tc.n AS BIGINT) AS n,
        |    CAST(coalesce(clipped, 0) AS BIGINT) AS clipped, total_cand,
        |    CAST(coalesce(total_ref, 0) AS BIGINT) AS total_ref,
        |    CAST(coalesce(clipped, 0) * 1000000 // greatest(total_cand, 1)
        |      AS BIGINT) AS p_ppm,
        |    CAST(coalesce(clipped, 0) * 1000000
        |      // greatest(coalesce(total_ref, 0), 1) AS BIGINT) AS r_ppm
        |  FROM tc LEFT JOIN cl ON tc.source = cl.source AND tc.n = cl.n
        |  LEFT JOIN tr ON tc.source = tr.source AND tc.n = tr.n)
        |SELECT source, n, clipped, total_cand, total_ref, p_ppm, r_ppm,
        |  CAST(5 * p_ppm * r_ppm // greatest(4 * p_ppm + r_ppm, 1)
        |    AS BIGINT) AS f2_ppm
        |FROM fin ORDER BY source, n""".stripMargin,

    "x156_wer" ->
      s"""WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS w
         |    FROM documents),
         |pr AS (SELECT c.doc_id AS pair_id, c.source,
         |    c.w[1 : $LcsCap] AS cw, r.w[1 : $LcsCap] AS rw,
         |    (len(c.w) > $LcsCap OR len(r.w) > $LcsCap) AS cap,
         |    CAST(len(r.w[1 : $LcsCap]) AS BIGINT) AS m,
         |    greatest((CAST(len(r.w[1 : $LcsCap]) AS BIGINT) + 61) // 62, 1)
         |      AS nl
         |  FROM (SELECT * FROM d WHERE doc_id % 2 = 1) c
         |  JOIN (SELECT doc_id + 1 AS pid, w FROM d WHERE doc_id % 2 = 0) r
         |    ON c.doc_id = r.pid),
         |st AS (SELECT pair_id, source, cap,
         |    CAST(len(cw) AS BIGINT) AS nc, m,
         |    $arrWerFoldDuckSql AS sc
         |  FROM pr),
         |pp AS (SELECT source, cap, nc, m,
         |    CASE WHEN m = 0 THEN nc ELSE sc END AS dist
         |  FROM st),
         |ag AS (SELECT source,
         |    CAST(count(*) AS BIGINT) AS n_pairs,
         |    CAST(sum(dist) AS BIGINT) AS dist_sum,
         |    CAST(sum(nc) AS BIGINT) AS cand_len,
         |    CAST(sum(m) AS BIGINT) AS ref_len,
         |    CAST(sum(CASE WHEN cap THEN 1 ELSE 0 END) AS BIGINT) AS n_capped,
         |    CAST(sum(dist * 1000000 // greatest(m, 1)) AS BIGINT) AS w_sum
         |  FROM pp GROUP BY source)
         |SELECT source, n_pairs, dist_sum, cand_len, ref_len, n_capped,
         |  CAST(dist_sum * 1000000 // greatest(ref_len, 1) AS BIGINT)
         |    AS wer_ppm,
         |  CAST(w_sum // greatest(n_pairs, 1) AS BIGINT) AS macro_wer_ppm
         |FROM ag ORDER BY source""".stripMargin,
  )
}
