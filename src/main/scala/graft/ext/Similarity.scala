package graft.ext

import org.apache.spark.sql.{Column, GraftColumnBridge => B}
import org.apache.spark.sql.functions._
import graft.functions.GraftDot

/** Embedding-similarity primitives (SURVEY §2.12 X3): exact cosine in
  * DOUBLE with a strictly sequential left-fold summation so the DuckDB
  * oracle (list_reduce over the same element order) reproduces the result
  * bit-for-bit. float→double widening is exact; IEEE +,*,/,sqrt are
  * correctly rounded — the only freedom is summation ORDER, which both
  * sides pin to ascending index.
  */
object Similarity {

  /** Sequential left-fold dot product of two array<double> columns, routed
    * through the native graft_dot expression (functions/GraftDot) — same
    * IEEE operation order as the HOF form, no boxing (parity spec-pinned).
    * Constructed directly so no session-level registration is required. */
  def dot(a: Column, b: Column): Column =
    B.column(GraftDot(B.expression(a), B.expression(b)))

  /** Exact integer squared distance of two array<long> columns via the
    * native graft_idist2 kernel (integer adds commute — value-identical
    * to the HOF fold; x143's graph construction hot path). */
  def idist2(a: Column, b: Column): Column =
    B.column(graft.functions.GraftIDist2(B.expression(a), B.expression(b)))

  /** Packed Jaro (m << 32) | k counts of two string columns via the
    * native graft_jaro_mk kernel (x174's hot path; parity with the HOF
    * fold spec-pinned). */
  def jaroMk(a: Column, b: Column): Column =
    B.column(graft.functions.GraftJaroMk(B.expression(a), B.expression(b)))

  /** The HOF spelling of [[dot]] — kept for parity testing. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Squared L2 norm via the same fold. */
  def norm2(a: Column): Column = dot(a, a)

  /** Squared L2 distance as the same strictly sequential left-fold over
    * per-element squared differences — NOT |a|²+|b|²−2·a·b, which is
    * mathematically equal but rounds differently; the oracle replays
    * list_reduce over (a[i]-b[i])² in the same ascending-index order. */
  def dist2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)
}
