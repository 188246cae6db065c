package graft

import org.apache.spark.sql.Dataset

/** Generation-scoped registry for the catalog's intra-query persists.
  *
  * Several catalog constructors persist intermediates that must outlive
  * construction (the result is lazy — unpersisting before the caller's
  * action would recompute them mid-plan). Historically their release
  * relied on the Verify/Bench harness sweeping `clearCache()` between
  * queries — a convention a third-party caller would not know. This
  * registry makes the release self-serve: every persist in a catalog
  * constructor registers here, and constructing the NEXT catalog query
  * (via [[SparkEntry.queries]]) releases everything the previous ones
  * registered. Back-to-back catalog use therefore keeps at most one
  * query's caches in storage, with no caller-side convention.
  *
  * Releasing is always CORRECT, never just safe-ish: unpersist on a
  * Dataset only drops its cached blocks — a still-referenced plan
  * recomputes on its next action. The registry holds one generation of
  * strong references, so nothing accumulates across a long session.
  */
object GraftCaches {

  private val live = new java.util.concurrent.ConcurrentLinkedQueue[Dataset[_]]()

  /** `persist()` + register for release at the next catalog construction. */
  def tracked[T](ds: Dataset[T]): Dataset[T] = {
    ds.persist()
    live.add(ds)
    ds
  }

  /** Release every persist registered by earlier catalog constructions.
    * Idempotent; double-unpersist (e.g. after a harness clearCache sweep)
    * is a no-op. */
  def releasePrior(): Unit = {
    var d = live.poll()
    while (d != null) {
      d.unpersist(blocking = false)
      d = live.poll()
    }
  }

  /** Postfix spelling for constructor chains: `df.persistTracked()`. */
  implicit class TrackedPersist[T](private val ds: Dataset[T]) extends AnyVal {
    def persistTracked(): Dataset[T] = tracked(ds)
  }
}
