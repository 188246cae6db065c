package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.tables.Tables._
import graft.GraftCaches.TrackedPersist
import graft.ingest.GlobalSeq

/** Round-10 batch 2: two exact-integer corpus-distribution statistics
  * every training-data curation run reports next to x162 Heaps —
  *
  *   - x172 Zipf doubling-bucket profile (Zipf 1949; the rank-frequency
  *     law LM corpora are routinely checked against): rank the
  *     vocabulary by frequency and bucket ranks by their integer log2
  *     (ranks [2^k, 2^(k+1))). Under an ideal Zipf s = 1 curve every
  *     doubling bucket carries the SAME total mass, so the
  *     bucket-over-bucket mass ratio (ppm) reads directly as the local
  *     Zipf exponent: ratio ≈ 1e6 ⇔ s ≈ 1, ratio < 1e6 ⇔ s > 1. No
  *     transcendental log fit anywhere — the bucket index is the exact
  *     bit length `length(bin(rank)) - 1` and the ratio is an exact
  *     integer floor, so both engines agree bit-for-bit (a float
  *     `floor(log2(rank))` can misbucket exact powers of two).
  *   - x173 term burstiness (Church & Gale 1995 dispersion): per token,
  *     the variance-to-mean ratio (Fano factor) of its per-document
  *     count across ALL documents (absent docs count 0). VMR ≈ 1 is
  *     Poisson scatter; VMR ≫ 1 means the token clumps into few
  *     documents — the signature of boilerplate/template spam that
  *     document-frequency alone misses. Spelled exactly over integer
  *     sums: with S = Σc, S2 = Σc², N = total docs, the zero docs
  *     contribute nothing to either sum, so
  *     VMR = (N·S2 − S²) / (N·S) in one ppm floor.
  *
  * Scale shapes:
  *   - x172's only corpus-scale work is the gram count groupBy (partial-
  *     aggregable); everything after runs on the VOCABULARY frame. The
  *     global rank uses GlobalSeq (range sort + O(P) offset exchange —
  *     never a single-task window over the vocab), and the bucket frame
  *     the lag window orders is ≤ 64 rows (one per bit of vocab size) —
  *     bounded by BIGINT width, never by data.
  *   - x173 is two partial-aggregable groupBys — (token, doc_id) keys
  *     are doc-local (map-side absorbable), then token keys — plus a
  *     broadcast 1-row doc count; top-15 via TakeOrderedAndProject.
  *   - BIGINT fixed points (the x151 convention — documented, with the
  *     decimal upgrade path as the boundary crossing): x172's ratio
  *     needs mass·1e6 to fit (bucket mass ≤ ~9.2e12 tokens); x173 needs
  *     1e6·N·S2 to fit — at this corpus's sf0.1 (N = 5e3, S2 ≤ 4.9e7)
  *     headroom is ~37×; past ~2e4 docs of this shape the spelling
  *     shifts to decimal(38,0) / HUGEINT. The loud-failure guarantee at
  *     that boundary is ANSI arithmetic, which Sessions.local now PINS
  *     (spark.sql.ansi.enabled=true, ADVICE r10) — a non-ANSI
  *     deployment would otherwise wrap silently and diverge from the
  *     DuckDB oracle's overflow error.
  */
object Ext52 {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // X172 ZIPF DOUBLING-BUCKET PROFILE: vocabulary ranked by
    // (freq DESC, token ASC) — the deterministic total order, matching
    // the oracle's row_number exactly — then bucket k = bitlength(rank)
    // − 1 groups ranks [2^k, 2^(k+1)). Output per bucket: rank bounds
    // (hi clamped to vocab size), token count, total mass, and the
    // mass-over-previous-bucket ratio in ppm (NULL for bucket 0).
    // Round 15: freq persist PROBED and KEPT (the one reversal in the
    // exchange-topped-rollup sweep, BENCH_AB_r15_rollups2.json: 0.52
    // persisted vs 0.66 dropped) — GlobalSeq's eager zipWithIndex
    // consumes freq across 3+ separate jobs (range sampling, count job,
    // consumer), so the final-agg re-runs add up where a single lazy
    // query's stage reuse would not.
    "x172_zipf_buckets" -> ((s, d) => zipfBuckets(s, d)),

    // X173 TERM BURSTINESS (Fano factor over per-doc counts, zeros
    // included): top-15 clumpiest tokens by exact VMR ppm. n_docs is
    // the doc frequency (docs CONTAINING the token) — reported so a
    // reader separates "bursty because rare" from "bursty because
    // clumped".
    "x173_burstiness" -> ((s, d) => {
      val dc = documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("w"), col("doc_id")).agg(count(lit(1)).as("c"))
      val st = dc.groupBy(col("w"))
        .agg(sum(col("c")).as("s"),
          sum(expr("c * c")).as("s2"),
          count(lit(1)).as("n_docs"))
      val nd = documents(s, d).agg(count(lit(1)).as("nd"))
      st.crossJoin(broadcast(nd))
        .select(col("w").as("token"), col("s").as("freq"), col("n_docs"),
          expr("1000000L * (nd * s2 - s * s) div (nd * s)").as("vmr_ppm"))
        .orderBy(col("vmr_ppm").desc, col("token"))
        .limit(15)
    }))

  /** x172 body. */
  private def zipfBuckets(s: SparkSession, d: String): DataFrame = {
      val f = documents(s, d)
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("w")).agg(count(lit(1)).as("freq"))
        .persistTracked()
      val nVocab = f.agg(count(lit(1)).as("n_vocab"))
      val ranked = GlobalSeq.withSeq(
          f, Seq(col("freq").desc, col("w")), "z")
        .select(col("freq"), (col("z") + 1L).as("rnk"))
      val b = ranked
        .select((length(bin(col("rnk"))) - 1).cast("long").as("bucket"),
          col("freq"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_tokens"), sum(col("freq")).as("mass"))
      // the lag window orders ≤ 64 bucket rows — value-bounded, the
      // x157 histogram-window convention
      b.crossJoin(broadcast(nVocab))
        .withColumn("prev_mass",
          lag(col("mass"), 1).over(Window.orderBy(col("bucket"))))
        .select(col("bucket"),
          expr("shiftleft(1L, cast(bucket AS INT))").as("rank_lo"),
          least(expr("shiftleft(1L, cast(bucket + 1 AS INT)) - 1L"),
            col("n_vocab")).as("rank_hi"),
          col("n_tokens"), col("mass"),
          expr("mass * 1000000L div prev_mass").as("mass_ratio_ppm"))
        .orderBy(col("bucket"))
  }

  val oracleSql: Map[String, String] = Map(

    "x172_zipf_buckets" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |f AS (SELECT w, CAST(count(*) AS BIGINT) AS freq FROM tok
        |  WHERE w <> '' GROUP BY w),
        |nv AS (SELECT CAST(count(*) AS BIGINT) AS n_vocab FROM f),
        |r AS (SELECT freq,
        |    CAST(row_number() OVER (ORDER BY freq DESC, w) AS BIGINT)
        |      AS rnk
        |  FROM f),
        |b AS (SELECT CAST(len(bin(rnk)) - 1 AS BIGINT) AS bucket,
        |    CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(sum(freq) AS BIGINT) AS mass
        |  FROM r GROUP BY 1)
        |SELECT bucket,
        |  (1::BIGINT << CAST(bucket AS INT)) AS rank_lo,
        |  least((1::BIGINT << CAST(bucket + 1 AS INT)) - 1, n_vocab)
        |    AS rank_hi,
        |  n_tokens, mass,
        |  CAST(mass * 1000000 // lag(mass) OVER (ORDER BY bucket)
        |    AS BIGINT) AS mass_ratio_ppm
        |FROM b, nv ORDER BY bucket""".stripMargin,

    "x173_burstiness" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |dc AS (SELECT w, doc_id, CAST(count(*) AS BIGINT) AS c FROM tok
        |  WHERE w <> '' GROUP BY w, doc_id),
        |st AS (SELECT w, CAST(sum(c) AS BIGINT) AS s,
        |    CAST(sum(c * c) AS BIGINT) AS s2,
        |    CAST(count(*) AS BIGINT) AS n_docs
        |  FROM dc GROUP BY w),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents)
        |SELECT w AS token, s AS freq, n_docs,
        |  CAST(1000000 * (nd * s2 - s * s) // (nd * s) AS BIGINT)
        |    AS vmr_ppm
        |FROM st, n ORDER BY vmr_ppm DESC, token LIMIT 15""".stripMargin)
}
