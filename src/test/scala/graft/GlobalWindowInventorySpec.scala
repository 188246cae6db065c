package graft

import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.{SparkPlan, LeafExecNode, GlobalLimitExec, LocalLimitExec, LocalTableScanExec, RangeExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.scalatest.funsuite.AnyFunSuite

/** Plan walks behind [[GlobalWindowInventorySpec]]: find every
  * partition-less Window and judge whether its input is value-bounded. */
object WindowInventory {

  /** Row-count-bounded input judgment: true when
    * every path from `p` to a leaf passes a row-collapsing node — an
    * Aggregate (group-count-sized output), a Limit, a literal local
    * relation, or a literal-bounded Range. Joins/unions require all
    * inputs bounded. Generate (explode) is NOT treated as pass-through:
    * re-expanding a collapsed frame can restore corpus-scale row counts.
    * Cached frames (InMemoryRelation) are judged by the same walk over
    * their cached physical plan.
    *
    * KNOWN LIMITATION (ADVICE r13): "Aggregate ⇒ bounded" is a
    * CARDINALITY heuristic, not a proof — an Aggregate grouped on a
    * near-unique key (e.g. a raw doc_id) emits corpus-scale rows and
    * would still pass this machine check. Static plans carry no
    * group-count statistics, so that case is guarded by the HUMAN leg of
    * the closed-world protocol: each enrolled global window's grouping
    * keys are reviewed before it joins the allowlist, and
    * `GlobalWindowInventorySpec`'s allowlist is the reviewed record.
    * An enrollment whose Aggregate groups on an id-like scan column must
    * be rejected there even though valueBounded says true. */
  def valueBounded(p: LogicalPlan): Boolean = p match {
    case _: Aggregate => true
    case _: GlobalLimit => true
    case _: LocalLimit => true
    case _: LocalRelation => true
    case _: OneRowRelation => true
    case _: Range => true
    case imr: InMemoryRelation => physBounded(imr.cachedPlan)
    case _: Generate => false
    case j: Join => valueBounded(j.left) && valueBounded(j.right)
    case u: Union => u.children.forall(valueBounded)
    case _: LeafNode => false
    case other => other.children.nonEmpty && other.children.forall(valueBounded)
  }

  /** The physical twin of [[valueBounded]], for cached subtrees. */
  def physBounded(p: SparkPlan): Boolean = p match {
    case _: BaseAggregateExec => true
    case _: GlobalLimitExec => true
    case _: LocalLimitExec => true
    case _: LocalTableScanExec => true
    case _: RangeExec => true
    case a: AdaptiveSparkPlanExec => physBounded(a.inputPlan)
    case s: InMemoryTableScanExec => physBounded(s.relation.cachedPlan)
    case _: org.apache.spark.sql.execution.GenerateExec => false
    case j: BaseJoinExec => physBounded(j.left) && physBounded(j.right)
    case _: LeafExecNode => false
    case other => other.children.nonEmpty && other.children.forall(physBounded)
  }

  def globalWindows(plan: LogicalPlan): Seq[Window] = {
    val all = plan +: plan.subqueriesAll
    all.flatMap(_.collect { case w: Window if w.partitionSpec.isEmpty => w })
  }
}

/** Round 13 (VERDICT r12 #1 "What's wrong" item): the partition-less
  * window inventory, made a CLOSED WORLD.
  *
  * Convention (documented per site since round ~8): a `Window` with no
  * partition spec serializes its input through one task, so the catalog
  * only ever applies one to a VALUE-BOUNDED frame — an input whose row
  * count is bounded by distinct values / group counts / literals, never
  * by corpus rows (the x187/x120-class histogram rollups). Until this
  * spec, that convention was prose: a future query could add a global
  * window over corpus rows and nothing would fail. Now:
  *
  *  1. every catalog query carrying a partition-less window must be
  *     enrolled in the allowlist below (a new offender fails loudly and
  *     forces the author to justify the frame), and
  *  2. every enrolled window's input subtree must machine-check as
  *     value-bounded ([[WindowInventory.valueBounded]]: all leaf paths
  *     pass an Aggregate / Limit / literal relation / literal Range
  *     before any scan; Generate is not pass-through; cached subtrees
  *     judged through their cached physical plan), and
  *  3. the allowlist itself must stay tight (no stale entries).
  *
  * Walks the optimized logical plan at sf0.001 — plan SHAPE is what is
  * asserted and it is scale-independent at this altitude.
  */
class GlobalWindowInventorySpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"

  /** The closed inventory (round-13 walk of all 278 catalog queries):
    * each entry's global window orders a value-bounded rollup —
    * w29 source-interleave (per-source counts), x73/x107 mixture
    * apportionment (per-source remainders), x120/x163/x164 drift
    * statistics (value histograms), x121 AUC (score buckets),
    * x136 waterfall (stage counts), x157 conformal alphas,
    * x162 Heaps vocab (doc-count curve), x172 Zipf buckets.
    *
    * (Round 15 note: GlobalSeq's A/B-only "offsets" spelling carries a
    * cumsum window over its per-partition count rollup — bounded by the
    * shuffle partition count. It is NOT the catalog spelling — it lost
    * the same-boot A/B — so no consumer enrolls for it; if it is ever
    * adopted, unpersisted consumers x125/x158/x159 must enroll here.) */
  private val allowlist: Set[String] = Set(
    "w29_interleave", "x73_mixture_apportion", "x107_token_budget",
    "x120_ks_drift", "x121_classifier_auc", "x136_filter_waterfall",
    "x157_conformal_coverage", "x162_heaps_vocab",
    "x163_wasserstein_drift", "x164_mann_whitney", "x172_zipf_buckets")

  test("every partition-less window sits on a value-bounded frame and " +
    "the inventory is closed-world") {
    val spark = TestSpark.spark
    val seen = scala.collection.mutable.Set.empty[String]
    for (name <- SparkEntry.queries.keys.toSeq.sorted) {
      val df = SparkEntry.queries(name)(spark, sf)
      val wins = WindowInventory.globalWindows(df.queryExecution.optimizedPlan)
      if (wins.nonEmpty) {
        seen += name
        assert(allowlist.contains(name),
          s"$name carries a partition-less window but is not enrolled in " +
            "the closed inventory — either repartition the window or " +
            "justify the value-bounded frame and enroll it here")
        for (w <- wins)
          assert(WindowInventory.valueBounded(w.child),
            s"$name: partition-less window over a NON-value-bounded " +
              s"input — this serializes corpus rows through one task:\n" +
              w.child.treeString.take(4000))
      }
      // eager entries (pipeline, bucketed writes) may have registered
      // intra-query persists; release before the next construction
      GraftCaches.releasePrior()
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    val stale = allowlist -- seen
    assert(stale.isEmpty,
      s"allowlist entries with no partition-less window anymore: $stale — " +
        "prune them so the inventory stays tight")
  }
}
