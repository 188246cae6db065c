package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables._

/** Round-10 batch 6: x178 Fellegi–Sunter probabilistic record linkage
  * (Fellegi & Sunter 1969) with the classic EM fit (Winkler 1988) — the
  * decision-theoretic core of every screening/matching system: K binary
  * field comparators per candidate pair, a 2^K agreement-pattern
  * histogram, and latent-class EM that learns, WITHOUT labels, each
  * comparator's m-probability (agreement given match), u-probability
  * (agreement given non-match) and the match prevalence p; the output
  * posterior weight per pattern is the score a screening run thresholds
  * on.
  *
  * Pair population: records vs their deterministically perturbed twins
  * (lang flipped at doc_id % 7 = 0, first token reversed at % 11 = 0 —
  * the j11 corruption discipline), blocked on exact token count. The
  * self pair is the latent true match; block collisions supply the
  * non-matches (prevalence lands near 1/|block| — EM recovers ≈ 150k
  * ppm true share as 161k at sf0.01 with u_source ≈ 1/20, u_tok0 ≈
  * 1/31: the field marginals, exactly as theory predicts). Comparators:
  * lang, source, first token, n_chars div 50 bucket.
  *
  * EXACT fixed-point EM — no floats anywhere: probabilities are ppm
  * integers, the E-step posterior is ONE floor per pattern
  * (p·Πm·1e6 div (p·Πm + (1e6−p)·Πu) — products ≤ 1e30, BigInt/
  * HUGEINT), the M-step is one floor per parameter with [1, 999999]
  * clamps (EM can saturate a deterministic comparator — the clamp is
  * the documented boundary, not an accident), [[FsRounds]] = 5 rounds
  * unrolled, then one FINAL E-step with the converged parameters so
  * the emitted weights and parameters are consistent. Both engines run
  * the identical floor/clamp sequence: the engine on a ≤ 16-row driver
  * BigInt closure (the x160/x168/x177 precedent), the oracle as
  * generated per-round MATERIALIZED CTEs in HUGEINT (the x151
  * unrolled-fixpoint convention; materialized because every round
  * reads its predecessor multiple times).
  *
  * Scale shape: corpus work is ONE blocked equi-join + the 16-group
  * pattern count (partial-aggregable; group domain is 2^K, never
  * rows); EM is O(R·2^K) on 16 rows. The block key is the scale
  * lever: exact token count suits this corpus; a real run blocks on
  * x175's phonetic key or j11's prefix — the EM is block-agnostic.
  * Round 11 measured that: the same EM over x175 Soundex blocks gave
  * back the field marginals and the planted corruption rate, and the
  * blocking field's own comparator went uninformative (u_tok0 ≈
  * m_tok0 ≈ 1 inside phonetic blocks — never compare on the block key).
  */
object Ext56 {

  /** EM rounds (unrolled identically in the oracle). */
  val FsRounds = 5

  private val M = BigInt(1000000)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "x178_fellegi_sunter" -> ((s, d) => fellegiSunter(s, d)))

  /** The x178 body: exact token-count blocks. */
  private def fellegiSunter(s: SparkSession, d: String): DataFrame = {
      val src = documents(s, d).select(col("doc_id"), col("lang"),
        col("source"),
        expr("element_at(split(text, ' '), 1)").as("tok0"),
        expr("size(split(text, ' '))").cast("long").as("n"),
        col("n_chars"))
      val b = src.select(col("doc_id"),
        when(col("doc_id") % 7 === 0, lit("xx")).otherwise(col("lang"))
          .as("lang"),
        col("source"),
        when(col("doc_id") % 11 === 0, reverse(col("tok0")))
          .otherwise(col("tok0")).as("tok0"),
        col("n"), col("n_chars"))
      val hist = src.as("a").join(b.as("b"), col("a.n") === col("b.n"))
        .select((
          when(col("a.lang") === col("b.lang"), 8L).otherwise(0L) +
          when(col("a.source") === col("b.source"), 4L).otherwise(0L) +
          when(col("a.tok0") === col("b.tok0"), 2L).otherwise(0L) +
          when(expr("a.n_chars div 50") === expr("b.n_chars div 50"), 1L)
            .otherwise(0L)).as("pattern"))
        .groupBy(col("pattern")).agg(count(lit(1)).as("cnt"))
        .collect().map(r => r.getLong(0).toInt -> BigInt(r.getLong(1)))
        .toMap
      val n = hist.values.sum

      def bit(pat: Int, k: Int): Boolean = ((pat >> (3 - k)) & 1) == 1
      def estep(m: IndexedSeq[BigInt], u: IndexedSeq[BigInt], p: BigInt)
          : Map[Int, BigInt] =
        hist.map { case (pat, _) =>
          var nm = BigInt(1); var nu = BigInt(1)
          for (k <- 0 until 4) {
            nm *= (if (bit(pat, k)) m(k) else M - m(k))
            nu *= (if (bit(pat, k)) u(k) else M - u(k))
          }
          pat -> (p * nm * M) / (p * nm + (M - p) * nu)
        }
      def clamp(x: BigInt): BigInt = x.max(1).min(M - 1)

      var m: IndexedSeq[BigInt] = IndexedSeq.fill(4)(BigInt(900000))
      var u: IndexedSeq[BigInt] = IndexedSeq.fill(4)(BigInt(100000))
      var p = BigInt(100000)
      for (_ <- 1 to FsRounds) {
        val ws = estep(m, u, p)
        val sw = hist.map { case (x, c) => ws(x) * c }.sum
        val su = hist.map { case (x, c) => (M - ws(x)) * c }.sum
        m = (0 until 4).map { k =>
          clamp(hist.collect { case (x, c) if bit(x, k) => ws(x) * c }
            .sum * M / sw.max(1))
        }
        u = (0 until 4).map { k =>
          clamp(hist.collect { case (x, c) if bit(x, k) => (M - ws(x)) * c }
            .sum * M / su.max(1))
        }
        p = clamp(sw / n)
      }
      val wf = estep(m, u, p)
      import s.implicits._
      hist.keys.toSeq.sorted.map { pat =>
        (pat.toLong, (pat >> 3) & 1L, (pat >> 2) & 1L, (pat >> 1) & 1L,
          pat & 1L, hist(pat).toLong, wf(pat).toLong, p.toLong,
          m(0).toLong, m(1).toLong, m(2).toLong, m(3).toLong,
          u(0).toLong, u(1).toLong, u(2).toLong, u(3).toLong)
      }.toDF("pattern", "g_lang", "g_source", "g_tok0", "g_chars",
        "n_pairs", "weight_ppm", "p_ppm",
        "m_lang", "m_source", "m_tok0", "m_chars",
        "u_lang", "u_source", "u_tok0", "u_chars")
  }

  // ---- oracle (generated rounds, MATERIALIZED per the CTE rule) ------

  private def numSql(prefix: String, tbl: String): String =
    Seq((1, 3), (2, 2), (3, 1), (4, 0)).map { case (k, s) =>
      s"(CASE WHEN (pattern >> $s) & 1 = 1 THEN $tbl.$prefix$k" +
        s" ELSE 1000000 - $tbl.$prefix$k END)"
    }.mkString(" * ")

  private def roundCtes(r: Int): String = {
    val mu = Seq((1, 3), (2, 2), (3, 1), (4, 0)).map { case (k, s) =>
      s"""least(greatest(sum(CASE WHEN (pattern >> $s) & 1 = 1
         |      THEN w * cnt ELSE 0 END) * 1000000
         |      // greatest(sum(w * cnt), 1), 1), 999999) AS m$k,
         |    least(greatest(sum(CASE WHEN (pattern >> $s) & 1 = 1
         |      THEN (1000000 - w) * cnt ELSE 0 END) * 1000000
         |      // greatest(sum((1000000 - w) * cnt), 1), 1), 999999)
         |      AS u$k""".stripMargin
    }.mkString(",\n  ")
    s"""w$r AS MATERIALIZED (SELECT pattern, cnt,
       |    (p${r - 1}.p * ${numSql("m", s"p${r - 1}")} * 1000000)
       |      // (p${r - 1}.p * ${numSql("m", s"p${r - 1}")}
       |        + (1000000 - p${r - 1}.p) * ${numSql("u", s"p${r - 1}")})
       |      AS w
       |  FROM pat, p${r - 1}),
       |p$r AS MATERIALIZED (SELECT
       |  $mu,
       |  least(greatest(sum(w * cnt) // (SELECT n FROM nn), 1), 999999)
       |    AS p
       |  FROM w$r)""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(

    "x178_fellegi_sunter" -> {
      val R = FsRounds
      s"""WITH src AS (SELECT doc_id, lang, source,
         |    string_split(text, ' ')[1] AS tok0,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n, n_chars
         |  FROM documents),
         |b AS (SELECT doc_id,
         |    CASE WHEN doc_id % 7 = 0 THEN 'xx' ELSE lang END AS lang,
         |    source,
         |    CASE WHEN doc_id % 11 = 0 THEN reverse(tok0) ELSE tok0 END
         |      AS tok0,
         |    n, n_chars FROM src),
         |pat AS MATERIALIZED (SELECT
         |    CAST((CASE WHEN a.lang = b.lang THEN 8 ELSE 0 END)
         |    + (CASE WHEN a.source = b.source THEN 4 ELSE 0 END)
         |    + (CASE WHEN a.tok0 = b.tok0 THEN 2 ELSE 0 END)
         |    + (CASE WHEN a.n_chars // 50 = b.n_chars // 50
         |        THEN 1 ELSE 0 END) AS BIGINT) AS pattern,
         |    CAST(count(*) AS HUGEINT) AS cnt
         |  FROM src a JOIN b ON a.n = b.n GROUP BY 1),
         |nn AS (SELECT sum(cnt) AS n FROM pat),
         |p0 AS (SELECT 900000::HUGEINT AS m1, 900000::HUGEINT AS m2,
         |    900000::HUGEINT AS m3, 900000::HUGEINT AS m4,
         |    100000::HUGEINT AS u1, 100000::HUGEINT AS u2,
         |    100000::HUGEINT AS u3, 100000::HUGEINT AS u4,
         |    100000::HUGEINT AS p),
         |${(1 to R).map(roundCtes).mkString(",\n")},
         |wf AS (SELECT pattern, cnt,
         |    (p$R.p * ${numSql("m", s"p$R")} * 1000000)
         |      // (p$R.p * ${numSql("m", s"p$R")}
         |        + (1000000 - p$R.p) * ${numSql("u", s"p$R")}) AS w
         |  FROM pat, p$R)
         |SELECT pattern,
         |  (pattern >> 3) & 1 AS g_lang, (pattern >> 2) & 1 AS g_source,
         |  (pattern >> 1) & 1 AS g_tok0, pattern & 1 AS g_chars,
         |  CAST(cnt AS BIGINT) AS n_pairs, CAST(w AS BIGINT) AS weight_ppm,
         |  CAST(p$R.p AS BIGINT) AS p_ppm,
         |  CAST(p$R.m1 AS BIGINT) AS m_lang,
         |  CAST(p$R.m2 AS BIGINT) AS m_source,
         |  CAST(p$R.m3 AS BIGINT) AS m_tok0,
         |  CAST(p$R.m4 AS BIGINT) AS m_chars,
         |  CAST(p$R.u1 AS BIGINT) AS u_lang,
         |  CAST(p$R.u2 AS BIGINT) AS u_source,
         |  CAST(p$R.u3 AS BIGINT) AS u_tok0,
         |  CAST(p$R.u4 AS BIGINT) AS u_chars
         |FROM wf, p$R ORDER BY pattern""".stripMargin
    })
}
