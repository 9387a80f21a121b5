package graft.operators

import graft.functions.VectorOps._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (SURVEY.md §2.4 E3).
  *
  * [[bruteForceTopK]] is the exact baseline: broadcast the (small) query
  * set against a full scan of candidates — no shuffle until the final
  * per-query top-k. [[lshTopK]] is the scale path: sign-random-projection
  * buckets turn the cross product into an equi-join on bucket id.
  */
object Similarity {

  /** Exact top-k by cosine. `queries` and `candidates` are frames with
    * (vec_id, embedding). The query side is broadcast — at 100 TB the
    * candidate scan parallelizes over input splits and the only shuffle is
    * the per-query top-k (tiny: |queries|·k rows after partial sort). */
  def bruteForceTopK(candidates: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val c = candidates.select(col("vec_id").as("cid"), col("embedding").as("cv"))
    // fused codegen'd kernel (graft.functions.CosineSim): one pass per pair,
    // no intermediate array — bit-identical to the composable VectorOps form
    rankTopK(c.crossJoin(broadcast(q)), k)
  }

  /** [[bruteForceTopK]] as a persisted fit artifact — the exact top-k
    * anchor the ANN-ladder certificate (qe60) measures recall against,
    * computed once per (input fingerprint, query set, k) and a parquet
    * read thereafter ([[Dedup.persistedJaccardPairs]] contract).
    * `queryKey` must uniquely describe how `queries` was derived from the
    * data at `dataPath` (e.g. "qlt10" for vec_id < 10) — the query frame
    * itself cannot be fingerprinted, so a caller reusing a key for a
    * different selection would be served the wrong anchor. */
  def persistedBruteTopK(candidates: DataFrame, queries: DataFrame,
                         dataPath: String, k: Int, queryKey: String): DataFrame = {
    val spark = candidates.sparkSession
    val key = graft.Artifacts.fitKey(spark, Seq(dataPath), s"$queryKey-k$k")
    graft.Artifacts.getOrFit(spark, "brute_topk", key,
      bruteForceTopK(candidates, queries, k))
  }

  /** Fixed seeded hyperplanes for sign-random-projection bucketing —
    * delegates to the kernel's generator so the composable form and
    * [[graft.functions.SrpBuckets]] can never drift. */
  private[operators] def hyperplanes(nbits: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] =
    graft.functions.SrpBuckets.hyperplanes(nbits, dim, seed)

  /** Packed sign bits of `nbits` random projections — the SRP bucket id,
    * composed from per-hyperplane [[graft.functions.DotProduct]] kernels.
    * This is the READABLE twin kept for the bit-parity test; the hot paths
    * ([[lshTopK]], [[Dedup.embeddingNearDupsBlocked]]) use the fused
    * multi-table [[graft.functions.SrpBucketsExpr]] kernel, which computes
    * the identical buckets in one compiled pass. */
  private[operators] def srpBucket(v: org.apache.spark.sql.Column,
                                   nbits: Int, dim: Int, seed: Long = 42L)
      : org.apache.spark.sql.Column = {
    // > 64 would wrap 1L << i (shift mod 64) and the sum-packing would
    // CARRY across aliased bits, colliding unrelated sign patterns
    require(nbits >= 1 && nbits <= 64, s"srpBucket: nbits must be in [1,64], got $nbits")
    hyperplanes(nbits, dim, seed).zipWithIndex.map { case (hp, i) =>
      when(graft.functions.DotProduct.dot_product(v, typedlit(hp)) > 0,
        lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** The shared score-rank tail: self-pair filter → fused cosine → per-query
    * top-k (deterministic cid tiebreak). One definition so the ranking
    * contract cannot drift between the exact, bucketed, and classifying
    * paths. `carry` columns ride through scoring into the output (e.g.
    * knnClassify's label); `excludeSameId = false` keeps qid == cid pairs
    * (disjoint id spaces). */
  private[operators] def rankTopK(joined: DataFrame, k: Int, carry: Seq[String] = Nil,
                                  excludeSameId: Boolean = true): DataFrame = {
    val base = if (excludeSameId) joined.filter(col("qid") =!= col("cid")) else joined
    val scored = base
      .select(Seq(col("qid"), col("cid")) ++ carry.map(col) :+
        graft.functions.CosineSim.cosine_sim(col("qv"), col("cv")).as("cos"): _*)
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    scored.withColumn("rnk", row_number().over(w).cast("long")).filter(col("rnk") <= k)
  }

  /** Approximate top-k: bucket = packed sign bits of `nbits` random
    * projections; candidates join queries on bucket equality only. Recall
    * trades off with nbits; the join is a plain shuffle equi-join that
    * survives any scale. Output: qid, cid, cos, rnk within bucket.
    *
    * `tables` (default 1 — the original single-table form) is the RECALL
    * knob: with T independent hash tables a true neighbor at angle θ
    * becomes a candidate with P = 1-(1-p^nbits)^T, p = 1-θ/π — the same
    * economics as [[Dedup.embeddingNearDupsBlocked]], and on wide-angle
    * data (near-orthogonal random embeddings) a single table recalls
    * almost nothing of the true top-k. Per-query candidate cost is
    * tables · n / 2^nbits vs n for brute force, so the compression factor
    * is 2^nbits / tables — at the registered qe3b knobs (8 bits, 64
    * tables) a 4× scan reduction at ≥0.9 measured recall; higher-
    * similarity corpora (real near-dup search) compress far better. All
    * tables hash in ONE fused [[graft.functions.SrpBucketsExpr]] pass and
    * candidate pairs dedup BEFORE scoring, so each (qid, cid) is scored
    * once no matter how many tables co-bucket it.
    *
    * The embedding width is inferred from the data — a mismatched fixed
    * dim would null every hyperplane dot product, collapse every vector
    * into bucket 0, and silently degenerate the equi-join into the full
    * cross product this operator exists to avoid; a row whose width
    * differs from the inferred one fails fast in the value path (same
    * contract as [[Dedup.embeddingNearDupsBlocked]]). */
  def lshTopK(candidates: DataFrame, queries: DataFrame, k: Int,
              nbits: Int = 8, tables: Int = 1): DataFrame = {
    require(tables >= 1, s"lshTopK: tables must be >= 1, got $tables")
    // infer from the first row with a non-null embedding; an empty (or
    // all-null-embedding) candidate set can never produce a match, so it
    // yields an empty result with the full output schema instead of the
    // head()-on-empty NoSuchElementException the inference would throw
    val inferred = candidates.select(size(col("embedding")).as("__d"))
      .filter(col("__d").isNotNull).head(1).headOption.map(_.getInt(0))
    if (inferred.isEmpty) {
      // no fabricated dim, no raise_error in the plan: both sides emptied,
      // schema derived from the same rank tail as the non-empty path
      val q0 = queries.limit(0).select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val c0 = candidates.limit(0).select(col("vec_id").as("cid"), col("embedding").as("cv"))
      return rankTopK(c0.crossJoin(q0), k)
    }
    val d = inferred.get
    def checked(v: org.apache.spark.sql.Column) =
      when(size(v) === d, v).otherwise(raise_error(concat(
        lit(s"lshTopK: embedding dim mismatch: expected $d, got "),
        // coalesce: size(NULL) is NULL and the concat would fire
        // raise_error with a NULL message (the embeddingNearDupsBlocked
        // lesson); null vectors are dropped below, so this arm is for
        // genuinely mis-sized arrays
        coalesce(size(v).cast("string"), lit("null")))))
    // BOTH paths drop null and null-ELEMENT vectors before hashing — the
    // SrpBuckets caller contract: a null element zeroes every table's
    // sign bits, piling such rows into bucket 0 of ALL tables (quadratic
    // hot bucket) and emitting null-cos rows into the top-k; and a wholly
    // null vector previously CRASHED the single-table path while the
    // multi-table path dropped it — same input, opposite behavior.
    // validity via the fused L2 kernel's null propagation, NOT an
    // exists() HOF: ArrayExists is interpreted (CodegenFallback) and
    // would break the qe3b/qe3d whole-stage-codegen plan pins —
    // l2_dist(v, v) is 0.0 for every valid vector (zero vectors
    // included) and NULL iff the vector is null or has a null element
    def hashable(df: DataFrame) = df.filter(col("embedding").isNotNull &&
      graft.functions.L2Dist.l2_dist(col("embedding"), col("embedding")).isNotNull)
    if (tables == 1) {
      // single-table fused kernel: same buckets as srpBucket(seed=42),
      // asserted bit-equal in SimilaritySpec
      def bucketOf(v: org.apache.spark.sql.Column) =
        get(graft.functions.SrpBucketsExpr.srp_buckets(v, 1, nbits, d, 42L), lit(0))
      val q = hashable(queries).select(col("vec_id").as("qid"), col("embedding").as("qv"),
        bucketOf(checked(col("embedding"))).as("bucket"))
      val c = hashable(candidates).select(col("vec_id").as("cid"), col("embedding").as("cv"),
        bucketOf(checked(col("embedding"))).as("bucket"))
      rankTopK(c.join(q, "bucket"), k)
    } else {
      // multi-table: one fused kernel pass emits every table's bucket
      // (array index = table id; table 0 == the single-table bucket at the
      // same seed). Candidates dedup on (qid, cid) BEFORE vectors rejoin
      // for scoring, so a pair co-bucketed in many tables scores once and
      // occupies one rank slot. Null-embedding rows can never match and
      // their sign bits would all-zero into one hot bucket per table —
      // drop them from hashing (the embeddingNearDupsBlocked rule).
      def bucketed(df: DataFrame, idName: String) =
        hashable(df)
          .select(col("vec_id").as(idName), posexplode(
            graft.functions.SrpBucketsExpr.srp_buckets(
              checked(col("embedding")), tables, nbits, d, 42L))
            .as(Seq("tbl", "bucket")))
      val cand = bucketed(candidates, "cid")
        .join(bucketed(queries, "qid"), Seq("tbl", "bucket"))
        .select(col("qid"), col("cid")).distinct()
      // both vector pickups are plain shuffle equi-joins — the function's
      // own scale contract. No broadcast pin: the API puts no bound on
      // |queries|, and AQE still converts a small side at runtime.
      val qv = queries.select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val cv = candidates.select(col("vec_id").as("cid"), col("embedding").as("cv"))
      rankTopK(cand.join(qv, "qid").join(cv, "cid"), k)
    }
  }

  /** kNN majority-vote label propagation: predict each query row's label
    * from the labels of its k nearest labeled neighbors by cosine — the
    * screen that extends a small trusted label set (quality ratings,
    * topic tags) over an unlabeled corpus before filtering on it.
    *
    * Scale shape matches the use case: the LABELED side is the small
    * trusted set, so IT broadcasts (with its labels riding along — no
    * second label-pickup join) while the potentially corpus-sized query
    * frame streams through one scan; the only shuffle is the per-query
    * top-k, which the rank window runs as WindowGroupLimit (partial top-k
    * map-side, |q|·k rows into the exchange). Scoring is the same
    * (cos desc, cid) fused-kernel ranking as [[bruteForceTopK]] — the qe3
    * bit-parity contract. Votes are exact longs.
    *
    * Vote ties break (votes desc, label asc) via max-votes + min-label
    * aggregations over the tiny vote frame — type-agnostic (string labels
    * order lexically; a negate()-style numeric trick would silently cast
    * strings to null and break determinism). Null-labeled rows are
    * excluded BEFORE the top-k: they neither occupy neighbor slots nor
    * vote. Output (qid, pred_label, votes).
    *
    * `excludeSameId` (default true) drops candidate rows whose vec_id
    * equals the query's — right when both frames share one id space (the
    * self-scoring audit; a row must not vote for itself). Pass false when
    * the id spaces are unrelated, or a legitimate neighbor that happens to
    * share an id number would be silently skipped. */
  def knnClassify(labeled: DataFrame, queries: DataFrame, k: Int,
                  excludeSameId: Boolean = true): DataFrame = {
    require(k >= 1, s"knnClassify: k must be >= 1, got $k")
    val lab = labeled.filter(col("label").isNotNull)
    val q = queries.select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val c = lab.select(col("vec_id").as("cid"), col("embedding").as("cv"),
      col("label"))
    // the one shared rank tail (qe3 bit-parity contract), label carried
    val votes = rankTopK(q.crossJoin(broadcast(c)), k,
        carry = Seq("label"), excludeSameId = excludeSameId)
      .groupBy(col("qid"), col("label"))
      .agg(count(lit(1)).as("votes"))
    val best = votes.groupBy(col("qid")).agg(max(col("votes")).as("votes"))
    best.join(votes, Seq("qid", "votes"))
      .groupBy(col("qid"), col("votes"))
      .agg(min(col("label")).as("pred_label"))
      .select(col("qid"), col("pred_label"), col("votes"))
  }
}
