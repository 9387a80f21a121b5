package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan

/** The engine's ONE `localCheckpoint` choke point.
  *
  * `localCheckpoint()` truncates lineage, which is exactly why the
  * operators use it for eagerly-materialized fit stages — and exactly how
  * a fit stage could smuggle a structural scale-killer (cartesian,
  * single-task window, nested-loop join) past the whole-surface plan walk
  * in SurfaceAuditSpec, which only sees the post-checkpoint scan
  * (documented there since r9). Routing every checkpoint through
  * [[checkpoint]] closes that hole: when capture is enabled (test-side
  * only), the PRE-checkpoint physical plan is recorded for the same three
  * structural bans before the truncation happens. With capture off
  * (production), this is byte-for-byte `df.localCheckpoint()` — no plan
  * forcing, no overhead. */
object PlanCapture {

  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
  @volatile private var capturing = false

  /** Run `body` while recording: returns its result and every plan
    * captured during it. Recording stops when `body` returns or throws. */
  def capture[A](body: => A): (A, Seq[SparkPlan]) = {
    buf.clear()
    capturing = true
    val out = try body finally capturing = false
    val plans = scala.collection.mutable.ArrayBuffer.empty[SparkPlan]
    var p = buf.poll()
    while (p != null) { plans += p; p = buf.poll() }
    (out, plans.toSeq)
  }

  def checkpoint(df: DataFrame): DataFrame = {
    // sparkPlan only PLANS (no execution); the checkpoint right after is
    // what actually runs the fit, exactly as before
    if (capturing) buf.add(df.queryExecution.sparkPlan)
    df.localCheckpoint()
  }

  /** Record an ARTIFACT fit plan ([[graft.Artifacts.getOrFit]]'s second
    * choke point): a persisted fit runs only on the first call per content
    * key, so auditing just the executed fits would make the scale audit
    * history-dependent — green on a warm store, red on a fresh clone (or
    * the reverse, via the stale-allowlist check). Recording the WOULD-BE
    * fit plan on every capturing call keeps the audit deterministic; the
    * by-name thunk means zero cost (not even plan construction) when
    * capture is off, i.e. everywhere outside the audit test. */
  def recordFitPlan(mk: => DataFrame): Unit =
    if (capturing) buf.add(mk.queryExecution.sparkPlan)

  /** `df.auditedCheckpoint()` — drop-in syntax for `df.localCheckpoint()`
    * that routes through the choke point. */
  implicit class CheckpointOps(private val df: DataFrame) extends AnyVal {
    def auditedCheckpoint(): DataFrame = checkpoint(df)
  }
}
