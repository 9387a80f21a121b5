package graft.operators

import graft.PlanCapture.CheckpointOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Duplicate-cluster resolution (SURVEY.md §2.4 extension): near-dup
  * detection emits PAIRS (qe2/qe2b/qe7b), but a training pipeline needs
  * CLUSTERS — "these 7 documents are all the same article" — so it can keep
  * one canonical survivor per group. Pairs → clusters is connected
  * components over the pair graph.
  *
  * Algorithm: distributed min-label propagation with pointer jumping —
  * each round every node takes the minimum label in its neighborhood
  * (one shuffle join + aggregation), then labels contract through their own
  * labels (`l(x) ← l(l(x))`, a second equi-join). Propagation alone needs
  * O(diameter) rounds; the jump step halves chain depth each round, giving
  * O(log n) rounds like the hash-to-min algorithm (Rastogi et al., "Finding
  * Connected Components in Map-Reduce", ICDE 2013). Every round is plain
  * equi-join + groupBy — shuffles on node id, no cross products, and
  * `localCheckpoint` truncates the otherwise-exponential iterative lineage.
  * The driver-side loop holds only a changed-row COUNT per round (the
  * fixpoint probe), never the data.
  *
  * At 100 TB the edge list is the output of the blocked near-dup paths
  * (LSH/SRP candidates), which is orders of magnitude smaller than the
  * corpus; rounds are bounded by log of the largest duplicate cluster.
  */
object DupClusters {

  /** Connected components over an undirected edge list (`da`, `db`).
    * Returns (id, cluster) for every node appearing in an edge, where
    * `cluster` is the minimum node id in the component — a deterministic,
    * engine-independent canonical representative. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 25): DataFrame = {
    val sym = edges.select(col("da").as("id"), col("db").as("nb"))
      .union(edges.select(col("db").as("id"), col("da").as("nb")))
      .auditedCheckpoint()
    // init fuses the first propagation round: the node-set aggregation that
    // would seed lbl=id can take min(id, neighbors) in the same shuffle
    var labels = sym.groupBy("id")
      .agg(least(col("id"), min(col("nb"))).as("lbl")).auditedCheckpoint()
    // convergence probe: did ANY node's label change this round? Labels
    // only ever decrease, so unchanged == fixpoint. The previous round's
    // label rides THROUGH the round as a carried `__prev` column (the
    // propagate join visits every node exactly once, so carrying it is
    // free) and the probe is a filter-isEmpty over the already-
    // checkpointed round result — the r17 fusion of what used to be a
    // separate |nodes| ⋈ |nodes| equi-join + action per round (guide
    // §2.4: two operations keyed the same way share one pass). The
    // comparison stays TYPE-AGNOSTIC — the even-older decimal-label-SUM
    // probe assumed numeric ids: string ids (url keys) would CRASH the
    // cast under ANSI, and with ANSI off every cast is NULL, the sum
    // reads zero each round, and the loop declares convergence after
    // round one with silently wrong clusters (the exact outcome the
    // non-convergence guard below exists to prevent).
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // min label in the closed neighborhood
      val nbrMin = sym
        .join(labels.select(col("id").as("nb"), col("lbl").as("nlbl")), "nb")
        .groupBy("id").agg(min("nlbl").as("m"))
      // propagate: NOT checkpointed (r18) — its one consumer is the jump
      // join below, so the whole round is a single join chain and the
      // round materializes exactly ONCE (the r17 shape checkpointed
      // `stepped` too, because the jump self-joined it; two eager
      // localCheckpoint jobs per round of tiny frames was the dominant
      // per-round cost at the certificate tier — guide §2.4/§5)
      val stepped = labels.select(col("id"), col("lbl").as("__prev"))
        .join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("__prev"), coalesce(col("m"), col("__prev"))).as("mid"),
          col("__prev"))
      // pointer jump THROUGH THE PREVIOUS round's labels (already
      // materialized by last round's checkpoint), not through this
      // round's own propagate result: `mid` is always some node's id, and
      // that node's previous-round label is <= mid (labels only ever
      // decrease and start <= id), so the jump still contracts chains
      // exponentially — jump distance ~doubles per round like the r17
      // self-join form — while reading an RDD that already exists instead
      // of forcing a second materialization. Fixpoint and labels are
      // unchanged: any operator that (a) never raises a label, (b) only
      // assigns ids from the same component, and (c) subsumes one
      // propagate step converges to the same min-id labeling, and the
      // convergence probe below only fires when a full propagate+jump
      // round is the identity — which forces the propagate fixpoint.
      // The jump key is unique on the right side (labels has one row per
      // id), so `jumped` keeps exactly one row per node and `__prev`
      // stays that node's previous-round label.
      val jumped = stepped
        .join(labels.select(col("id").as("mid"), col("lbl").as("lbl2")), Seq("mid"), "left")
        .select(col("id"), coalesce(col("lbl2"), col("mid")).as("lbl"), col("__prev"))
        .auditedCheckpoint()
      // null-safe inequality (ADVICE r17): labels are non-null today
      // (least/coalesce over ids), but a future null-id edge source must
      // make the probe fire, not silently declare early convergence
      converged = jumped.filter(!(col("lbl") <=> col("__prev"))).isEmpty
      labels = jumped.select(col("id"), col("lbl"))
      iter += 1
    }
    // truncated labels are silently WRONG (a duplicate group would keep
    // several "canonical" survivors) — fail loud instead
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds; " +
        "raise maxIter (rounds needed ~ log2 of the largest component's diameter)")
    labels.select(col("id"), col("lbl").as("cluster"))
  }

  /** Duplicate clusters from near-dup pairs: (doc_id, cluster) membership,
    * cluster = min doc_id of the component (the canonical survivor — every
    * non-survivor row is a drop candidate). */
  def clusters(pairs: DataFrame): DataFrame =
    connectedComponents(pairs).select(col("id").as("doc_id"), col("cluster"))

  /** Quality-aware survivor selection — "keep the BEST copy", not the
    * first: per duplicate cluster, the member with the highest
    * `qualityCol` wins (ties break to the smallest doc_id, so the choice
    * is fully deterministic). Near-dup copies genuinely differ — one is
    * truncated, one is boilerplate-wrapped — and min-id survivor choice
    * throws that signal away.
    *
    * One equi-join of the (small) membership frame onto per-doc quality,
    * then per-cluster aggregations: the survivor is the min doc_id among
    * the best_q members (an equi-join back on (cluster, best_q), then
    * min) — map-side-combinable, never a row_number window that would
    * sort a hot cluster's copies into one partition. Quality stays an
    * equi-join (not broadcast-pinned): at 100 TB the quality frame is
    * corpus-sized. The join is LEFT: a member with no quality row scores
    * NULL and rides the null fallback below — an INNER join would remove
    * it from the cluster entirely, and a cluster whose EVERY member was
    * skipped by the scorer would vanish from this frame, making
    * keepBestCopy silently drop all its copies including the would-be
    * survivor. n_members therefore counts ALL members, scored or not.
    * Returns (cluster, keep_id, n_members, best_q). */
  def survivorsByQuality(members: DataFrame, quality: DataFrame,
                         qualityCol: String): DataFrame = {
    val qType = quality.schema(qualityCol).dataType
    require(qType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"survivorsByQuality: quality column '$qualityCol' must be numeric " +
        s"(a count or score; the highest value survives), got ${qType.simpleString}")
    // r18: ONE join + ONE aggregation. The r17 shape still join-backed on
    // (cluster, best_q) to break argmax ties and so had to checkpoint the
    // keyed frame for its two consumers; the tie-break now rides the SAME
    // aggregation as min(struct(-q, doc_id)) — min over ascending -q is
    // the max-q member, struct tie falls through to the smallest doc_id.
    // Quality is NEGATED, never the doc id, so ids stay TYPE-AGNOSTIC
    // (string ids order lexically, exactly like the min_id fallback; the
    // old -doc_id trick threw under ANSI for string ids). Quality columns
    // are numeric scores by contract (required above);
    // rows with NULL quality are excluded from the argmax by the when()
    // guard — same as max()'s null skipping — and ride the min_id
    // fallback below. Guide §2.4: two operations keyed the same way share
    // one pass; here the second pass (and its join + checkpoint) is gone.
    // the order-reversing transform of the quality is TOTAL over its
    // type's domain (review r18): integral types reverse via bitwise NOT
    // (same ordering as negation — strictly decreasing bijection — but
    // ~MinValue never overflows where -MinValue wraps); fractional types
    // negate, with a leading not-NaN flag ranking NaN quality FIRST
    // under min (Spark's max orders NaN above everything and NaN = NaN,
    // so the old join-back kept the min id among NaN members) and a
    // `+ 0` normalizing -0.0 to +0.0 before negating so ±0.0 members
    // tie (as the old equi-join's key normalization made them). All are
    // identities on every ordinary value.
    val isIntegral = {
      import org.apache.spark.sql.types._
      qType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
    }
    val (notNan, nq) =
      if (isIntegral) (lit(1), bitwise_not(col(qualityCol)))
      else {
        val q0 = col(qualityCol) + lit(0)
        (when(isnan(q0.cast("double")), 0).otherwise(1), -q0)
      }
    val best = members.join(quality, Seq("doc_id"), "left")
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_members"), max(col(qualityCol)).as("best_q"),
        min(col("doc_id")).as("min_id"),
        min(when(col(qualityCol).isNotNull,
          struct(notNan.as("k0"), nq.as("nq"), col("doc_id").as("id")))).as("__best"))
    // max() skipped nulls, and the struct argmax skips them via the
    // when() guard — a cluster whose EVERY member has NULL quality gets
    // best_q NULL and __best NULL; without a fallback the cluster would
    // lose its survivor and keepBestCopy would drop every copy. Such
    // clusters keep the min-doc_id member instead.
    best.select(col("cluster"),
      coalesce(col("__best.id"), col("min_id")).as("keep_id"),
      col("n_members"), col("best_q"))
  }

  /** Gate form: `docs` minus every clustered non-survivor — unclustered
    * documents (no near-dup edge) pass through untouched. Anti join on
    * the drop set, which is membership-sized (edges, not corpus). */
  def keepBestCopy(docs: DataFrame, members: DataFrame, quality: DataFrame,
                   qualityCol: String): DataFrame = {
    val drops = members.join(
        survivorsByQuality(members, quality, qualityCol).select("keep_id"),
        col("doc_id") === col("keep_id"), "left_anti")
      .select("doc_id")
    docs.join(drops, Seq("doc_id"), "left_anti")
  }
}
