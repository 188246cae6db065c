package graft

import org.scalatest.funsuite.AnyFunSuite

/** x178 Fellegi–Sunter EM: a straight-collections replay (brute pair
  * loops + the paper's EM formulas in BigInt) on planted corpora —
  * singleton blocks (the clamp-saturation boundary: a deterministic
  * comparator drives m AND u to the documented 999999 clamp and the
  * posterior collapses to p), a mixed two-block corpus, and full
  * sf0.001 — plus EM-separation sanity on the real corpus (all-agree
  * pattern outweighs all-disagree; prevalence lands near 1/|block|). */
class Ext56Spec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private val M = BigInt(1000000)
  import graft.queries.Ext56.FsRounds

  private case class Rec(id: Long, lang: String, source: String,
    tok0: String, n: Long, nChars: Int)

  private def recs(rows: Seq[(Long, String, String, String, Int)]): Seq[Rec] =
    rows.map { case (id, lang, source, text, nChars) =>
      val toks = text.split(" ", -1)
      Rec(id, lang, source, toks(0), toks.length.toLong, nChars)
    }

  /** Brute replay: quadratic pair loops, then the EM exactly as the
    * paper spells it (ppm floors + clamps). */
  private def replay(a: Seq[Rec]): Seq[(Long, Long, Long, Long, Long,
      Long, Long, Long, Long, Long, Long, Long, Long, Long, Long, Long)] = {
    val b = a.map { r =>
      r.copy(lang = if (r.id % 7 == 0) "xx" else r.lang,
        tok0 = if (r.id % 11 == 0) r.tok0.reverse else r.tok0)
    }
    val hist = scala.collection.mutable.Map.empty[Int, BigInt]
    for (x <- a; y <- b if x.n == y.n) {
      val pat = (if (x.lang == y.lang) 8 else 0) +
        (if (x.source == y.source) 4 else 0) +
        (if (x.tok0 == y.tok0) 2 else 0) +
        (if (x.nChars / 50 == y.nChars / 50) 1 else 0)
      hist(pat) = hist.getOrElse(pat, BigInt(0)) + 1
    }
    val n = hist.values.sum
    def bit(pat: Int, k: Int) = ((pat >> (3 - k)) & 1) == 1
    def estep(m: IndexedSeq[BigInt], u: IndexedSeq[BigInt], p: BigInt) =
      hist.map { case (pat, _) =>
        var nm = BigInt(1); var nu = BigInt(1)
        for (k <- 0 until 4) {
          nm *= (if (bit(pat, k)) m(k) else M - m(k))
          nu *= (if (bit(pat, k)) u(k) else M - u(k))
        }
        pat -> (p * nm * M) / (p * nm + (M - p) * nu)
      }.toMap
    def clamp(x: BigInt) = x.max(1).min(M - 1)
    var m: IndexedSeq[BigInt] = IndexedSeq.fill(4)(BigInt(900000))
    var u: IndexedSeq[BigInt] = IndexedSeq.fill(4)(BigInt(100000))
    var p = BigInt(100000)
    for (_ <- 1 to FsRounds) {
      val ws = estep(m, u, p)
      val sw = hist.map { case (x, c) => ws(x) * c }.sum
      val su = hist.map { case (x, c) => (M - ws(x)) * c }.sum
      m = (0 until 4).map(k => clamp(hist.collect {
        case (x, c) if bit(x, k) => ws(x) * c }.sum * M / sw.max(1)))
      u = (0 until 4).map(k => clamp(hist.collect {
        case (x, c) if bit(x, k) => (M - ws(x)) * c }.sum * M / su.max(1)))
      p = clamp(sw / n)
    }
    val wf = estep(m, u, p)
    hist.keys.toSeq.sorted.map { pat =>
      (pat.toLong, ((pat >> 3) & 1).toLong, ((pat >> 2) & 1).toLong,
        ((pat >> 1) & 1).toLong, (pat & 1).toLong, hist(pat).toLong,
        wf(pat).toLong, p.toLong,
        m(0).toLong, m(1).toLong, m(2).toLong, m(3).toLong,
        u(0).toLong, u(1).toLong, u(2).toLong, u(3).toLong)
    }
  }

  private def engine(dir: String) =
    SparkEntry.queries("x178_fellegi_sunter")(spark, dir).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8), r.getLong(9),
        r.getLong(10), r.getLong(11), r.getLong(12), r.getLong(13),
        r.getLong(14), r.getLong(15))).toSeq

  private def write(dir: String,
      rows: Seq[(Long, String, String, String, Int)]): Unit = {
    import spark.implicits._
    rows.map { case (id, lang, source, text, nChars) =>
      (id, lang, source, text, nChars)
    }.toDF("doc_id", "lang", "source", "text", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  test("x178 planted singleton blocks: every pair self-matches, the " +
    "deterministic comparators hit the 999999 clamp, posterior = p") {
    val dir = TestSpark.scratchDir("x178a")
    // distinct token counts → block size 1; ids avoid %7/%11 → all
    // comparators agree on every pair (pattern 15 only)
    val rows = Seq(
      (1L, "en", "s0", "a b", 10),
      (2L, "en", "s1", "a b c", 60),
      (3L, "de", "s2", "a b c d", 120),
      (4L, "fr", "s3", "a b c d e", 200))
    write(dir, rows)
    val got = engine(dir)
    assert(got == replay(recs(rows)))
    assert(got.map(_._1) == Seq(15L))
    assert(got.head._9 == 999999L && got.head._13 == 999999L) // m1, u1 clamped
    assert(got.head._7 == got.head._8) // weight == p when m == u
  }

  test("x178 planted mixed blocks: perturbed ids + block collisions " +
    "produce a multi-pattern histogram — engine == brute replay") {
    val dir = TestSpark.scratchDir("x178b")
    // two blocks of 3 (n = 2 and n = 3); ids 7 (lang flip) and 11
    // (tok0 reverse) perturbed; cross-block never pairs
    val rows = Seq(
      (7L, "en", "s0", "ab cd", 10),
      (8L, "en", "s1", "ef gh", 10),
      (9L, "de", "s0", "ab ij", 70),
      (11L, "de", "s1", "kl mn op", 10),
      (12L, "en", "s2", "kl qr st", 70),
      (13L, "de", "s1", "uv wx yz", 70))
    write(dir, rows)
    val got = engine(dir)
    assert(got == replay(recs(rows)))
    assert(got.map(_._6).sum == 2L * 9L) // two 3×3 blocks
  }

  test("x178 sf0.001: engine == brute replay; EM separates (all-agree " +
    "weight > all-disagree; prevalence within 3x of 1/|avg block|)") {
    val rows = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "lang", "source", "text", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4).toInt)).toSeq
    val got = engine(sf)
    assert(got == replay(recs(rows)))
    val byPat = got.map(t => t._1 -> t._7).toMap
    assert(byPat(15L) > 900000L)
    assert(byPat.getOrElse(0L, 0L) < 1000L)
    val nPairs = got.map(_._6).sum
    val truthPpm = 1000000L * rows.length / nPairs
    val p = got.head._8
    assert(p > truthPpm / 3 && p < truthPpm * 3)
  }
}
