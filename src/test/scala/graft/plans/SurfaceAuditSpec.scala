package graft.plans

import graft.{SparkEntry, SparkTestBase}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Whole-surface scale audit: every registered query's physical plan is
  * walked for the three structural scale-killers, and any hit must appear
  * in a per-category allowlist with a written justification. PlanSpec pins
  * known-good shapes per query; THIS spec is the converse guard — a future
  * registration that smuggles in a single-task global window, a cartesian
  * product, or a nested-loop join fails the build by default instead of
  * surfacing in a 100x scale-up.
  *
  * `localCheckpoint` boundaries truncate the visible plan — through r10
  * that left eagerly-materialized fit stages audited only by their PlanSpec
  * pins. Closed in r11: every operator checkpoint routes through
  * graft.PlanCapture, and the second test below walks each query's
  * PRE-checkpoint fit plans under the same bans. The audit walks
  * `queryExecution.sparkPlan` (pre-AQE), so what it sees is the structural
  * join/window choice, not the runtime broadcast decisions AQE may add.
  */
class SurfaceAuditSpec extends SparkTestBase {

  /** Queries allowed an empty-partition (single-task) window: exactly the
    * declared global-order anchors whose sharded twins are registered and
    * enforced via SparkEntry.scaleTwins. */
  private val globalWindowAllowed: Set[String] = Set(
    "qe11_seqpack", // docstring-declared single-task packer; twin qe11b
    // cumulative-sum window over the BOUNDED value histogram (<= 10^4
    // distinct rounded values after the r4 rounding contract), not the
    // corpus — a single task over a tiny relation is the point of the
    // histogram-quantile design
    "qe17_quality_gate"
  )

  /** Queries allowed a CartesianProductExec: the deliberate exact all-pairs
    * oracle anchors (each with a registered bucketed/sketched twin). */
  private val cartesianAllowed: Set[String] = Set.empty

  /** FIT-plan allowlist (the localCheckpoint-truncated stages captured via
    * graft.PlanCapture): queries whose eagerly-materialized fit stage
    * legitimately trips a ban. Each names its justification; everything
    * else's fit stages must be clean. */
  private val fitBnljAllowed: Set[String] = Set(
    // the checkpointed EXACT anchors embedded by design: qe62's exact
    // all-pairs cosine side and qe60's brute-force top-k side are the
    // certification ground truth the visible allowlist already documents
    // for qe7/qe3 — same plans, captured at the checkpoint boundary
    "qe60_cert_ann", "qe62_cert_embed"
  )
  private val fitGlobalWindowAllowed: Set[String] = Set.empty
  private val fitCartesianAllowed: Set[String] = Set.empty

  /** Queries allowed a BroadcastNestedLoopJoinExec beyond the auto-accepted
    * scalar-broadcast shape (see [[scalarBuild]]). Each entry must name its
    * justification; the two legitimate shapes are (a) a bounded probe set
    * (fixed query rows broadcast across the corpus — the correct map-only
    * brute/IVF kNN shape at any SF) and (b) a declared exact all-pairs
    * anchor whose bucketed twin is registered in SparkEntry.scaleTwins. */
  private val bnljAllowed: Set[String] = Set(
    // (a) bounded probe set: a fixed set of query vectors (vec_id < 10 /
    // labeled seeds) broadcast across the corpus — a map-only corpus scan
    // at any SF; the brute side of the qe3->qe3c->qe3d->qe3e twin chain
    "qe3_knn_brute", "qe3c_knn_ivf", "qe3d_knn_ivf_frozen", "qe3e_knn_ivfpq",
    // same bounded probe shape, run TWICE (append path + from-scratch
    // path, both probing the nlist-row centroid broadcast with the
    // vec_id < 10 query set) — the equality certificate's whole point
    "qe3f_cert_ivf_append",
    "qe35_knn_label",
    // (b) the declared exact all-pairs cosine anchor (non-equi self-join);
    // bucketed twin qe7b_embed_neardup_blocked enforced via scaleTwins
    "qe7_embed_neardup",
    // certificates EMBED their exact anchors by design (certification
    // tier, sf-small driver gate): qe60 carries the IVF/PQ probe joins in
    // its visible plan (its brute anchor — like qe62's exact all-pairs
    // side — is truncated behind a localCheckpoint and audited by the
    // anchors' own allowlist entries above)
    "qe60_cert_ann",
    // the SAMPLED-mode certificate's exact cosine anchor: all-pairs by
    // shape but over the deterministic md5-mod SAMPLE only — bounding
    // this join is the query's entire point (the 100 TB certificate
    // mode), so its BNLJ is quadratic in the sample, never the corpus
    "qe66_cert_embed_sampled"
  )

  /** True iff the BNLJ's build (broadcast) side provably produces <= 1 row:
    * its subtree ends in a grouping-empty aggregate. A scalar stats frame
    * (corpus count, avgdl, quantile threshold, global extrema) broadcast
    * back over the corpus is constant-size at any SF — the canonical
    * "compute once, broadcast everywhere" pattern, not a scale risk.
    * NOTE: this audit walks the pre-AQE sparkPlan, where EnsureRequirements
    * has not yet inserted BroadcastExchange — the build side is the raw
    * child picked by b.buildSide. */
  private def scalarBuild(b: BroadcastNestedLoopJoinExec): Boolean = {
    val side = b.buildSide match {
      case BuildRight => b.right
      case BuildLeft  => b.left
    }
    side.collectFirst {
      case a: HashAggregateExec if a.groupingExpressions.isEmpty => a
      case a: SortAggregateExec if a.groupingExpressions.isEmpty => a
      case a: ObjectHashAggregateExec if a.groupingExpressions.isEmpty => a
    }.nonEmpty
  }

  private type Hits = (Boolean, Boolean, Boolean)

  private def audit(plan: SparkPlan): Hits = {
    val globalWindow = plan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }.nonEmpty
    val cartesian = plan.collect { case c: CartesianProductExec => c }.nonEmpty
    val bnlj = plan.collect {
      case b: BroadcastNestedLoopJoinExec if !scalarBuild(b) => b
    }.nonEmpty
    (globalWindow, cartesian, bnlj)
  }

  /** Every registered query built ONCE, both tests reading the result:
    * (name, audit of the visible pre-AQE plan, audit of each fit plan
    * captured while the query was built). Constructing the query is what
    * runs the fits, so capture wraps construction only; the visible plan
    * is taken after it. Only the audit flags are kept, not the plans. */
  private lazy val sweep: Seq[(String, Hits, Seq[Hits])] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val (df, fitPlans) = graft.PlanCapture.capture(fn(spark, Sf0001))
      (name, audit(df.queryExecution.sparkPlan), fitPlans.map(audit))
    }

  test("no registered query hides a global window / cartesian / nested-loop join " +
    "outside the justified allowlists") {
    val violations = scala.collection.mutable.ArrayBuffer.empty[String]
    val stale = scala.collection.mutable.ArrayBuffer.empty[String]
    val hits = sweep.map { case (name, visible, _) =>
      val (gw, cart, bnlj) = visible
      if (gw && !globalWindowAllowed(name))
        violations += s"$name: empty-partition WindowExec (single-task global window)"
      if (cart && !cartesianAllowed(name))
        violations += s"$name: CartesianProductExec"
      if (bnlj && !bnljAllowed(name))
        violations += s"$name: BroadcastNestedLoopJoinExec"
      name -> (gw, cart, bnlj)
    }.toMap
    // allowlists must stay minimal: an entry whose plan no longer trips the
    // audit is stale and must be removed (otherwise the guard silently widens)
    globalWindowAllowed.foreach { n =>
      if (!hits.get(n).exists(_._1)) stale += s"$n (globalWindowAllowed)" }
    cartesianAllowed.foreach { n =>
      if (!hits.get(n).exists(_._2)) stale += s"$n (cartesianAllowed)" }
    bnljAllowed.foreach { n =>
      if (!hits.get(n).exists(_._3)) stale += s"$n (bnljAllowed)" }
    assert(violations.isEmpty,
      s"scale-killer plan nodes outside the allowlist:\n  ${violations.mkString("\n  ")}")
    assert(stale.isEmpty, s"stale allowlist entries:\n  ${stale.mkString("\n  ")}")
  }

  test("fit stages behind localCheckpoint boundaries cannot smuggle a scale-killer") {
    // the r9-documented caveat closed: every operator checkpoint routes
    // through graft.PlanCapture, so the PRE-truncation physical plan of
    // each eagerly-materialized fit stage is captured during query
    // construction and walked under the SAME three structural bans as the
    // visible surface (see [[sweep]]).
    val violations = scala.collection.mutable.ArrayBuffer.empty[String]
    val hits = scala.collection.mutable.Map.empty[String, Hits]
    var captured = 0
    sweep.foreach { case (name, _, audits) =>
      captured += audits.size
      val gw = audits.exists(_._1); val cart = audits.exists(_._2)
      val bnlj = audits.exists(_._3)
      hits(name) = (gw, cart, bnlj)
      if (gw && !fitGlobalWindowAllowed(name))
        violations += s"$name: fit-stage empty-partition WindowExec"
      if (cart && !fitCartesianAllowed(name))
        violations += s"$name: fit-stage CartesianProductExec"
      if (bnlj && !fitBnljAllowed(name))
        violations += s"$name: fit-stage BroadcastNestedLoopJoinExec"
    }
    val stale = scala.collection.mutable.ArrayBuffer.empty[String]
    fitGlobalWindowAllowed.foreach { n =>
      if (!hits.get(n).exists(_._1)) stale += s"$n (fitGlobalWindowAllowed)" }
    fitCartesianAllowed.foreach { n =>
      if (!hits.get(n).exists(_._2)) stale += s"$n (fitCartesianAllowed)" }
    fitBnljAllowed.foreach { n =>
      if (!hits.get(n).exists(_._3)) stale += s"$n (fitBnljAllowed)" }
    // vacuity guard: the surface has dozens of checkpointed fit stages
    // (dup-gram sets, CC rounds, exact anchors) — a capture that records
    // nothing means the choke point came unwired, not that fits are clean
    assert(captured >= 20, s"only $captured fit plans captured — PlanCapture unwired?")
    assert(violations.isEmpty,
      s"scale-killer plan nodes in checkpoint-truncated fit stages:\n  ${violations.mkString("\n  ")}")
    assert(stale.isEmpty, s"stale fit allowlist entries:\n  ${stale.mkString("\n  ")}")
  }
}
