package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Embedding-quality scoring (SURVEY.md §2.4 E3 adjunct): distance of each
  * embedding to its group's centroid — the standard screen for mislabeled
  * / low-quality vectors before they feed dedup or retrieval (a vector far
  * from its own cluster's center is noise or a labeling error).
  *
  * Scale shape: the centroid pass is posexplode → ONE map-side-combined
  * hash aggregate on (group, pos) → a tiny (|groups|·dim) frame rebuilt
  * into arrays; the scoring pass broadcasts that centroid table back and
  * stays a codegen'd linear scan (fused [[graft.functions.CosineSim]]).
  * No corpus-sized shuffle at any step.
  *
  * Determinism across engines (the oracle constraint): a double/float mean
  * is partition-order-dependent (FP addition is not associative), so the
  * centroid is aggregated in SCALED INTEGERS — each element rounds half-up
  * to 1e-6 once (deterministic given the same input doubles), the long sum
  * is exact and associative in any order, and the single final division
  * back to double is IEEE-exact in every engine. The per-vector cosine is
  * then an in-index-order array sum, which Spark's CosineSim and DuckDB's
  * list_inner_product already compute bit-identically (qe3). */
object EmbedQuality {

  // the embeddings table's columns: the group label, the id and the vector
  private val groupCol = "label"
  private val idCol = "vec_id"
  private val vecCol = "embedding"

  /** Input hygiene shared by fit and score: drop null/empty and ZERO-NORM
    * vectors (a zero vector has no direction — under ANSI mode its cosine
    * would throw DIVIDE_BY_ZERO mid-job), and fail FAST on a row whose
    * width differs from the group's (a silent mixed-width group would
    * average only the wide vectors' tail positions and null out every
    * narrow vector's score — corrupt data sliding through the very screen
    * built to catch it; same raise_error-in-the-value-path guard as
    * Dedup.embeddingNearDupsBlocked). */
  private def cleaned(emb: DataFrame, extraCols: Seq[String]): DataFrame = {
    val probe = emb.filter(col(vecCol).isNotNull && size(col(vecCol)) > 0)
      .select(size(col(vecCol)).as("__d")).limit(1).collect()
    require(probe.nonEmpty,
      s"EmbedQuality: no non-null, non-empty '$vecCol' vectors to infer the width from")
    val d = probe.head.getInt(0)
    val checkedV = when(size(col(vecCol)) === d, col(vecCol).cast("array<double>"))
      .otherwise(raise_error(concat(
        lit(s"embedding dim mismatch: expected $d, got "),
        size(col(vecCol)).cast("string"))))
    emb
      .filter(col(vecCol).isNotNull && size(col(vecCol)) > 0)
      .select((extraCols :+ groupCol).map(col) :+ checkedV.as("__v"): _*)
      .filter(graft.functions.DotProduct.dot_product(col("__v"), col("__v")) > 0.0)
  }

  /** Per-label centroids: (label, centroid: array<double>). Elements
    * are the 1e-6-quantized mean (see class doc for why). Groups whose
    * quantized centroid cancels to zero norm (perfectly opposing members)
    * are dropped — they define no direction to score against. */
  def centroids(emb: DataFrame): DataFrame =
    centroidsFromCleaned(cleaned(emb, Nil))

  /** [[centroids]] body over an ALREADY-cleaned frame (one `__v` column
    * per row) — shared so centroidOutliers cleans once, not twice. */
  private def centroidsFromCleaned(e: DataFrame): DataFrame = {
    e.select(col(groupCol), posexplode(col("__v")))
      .select(col(groupCol), col("pos"),
        floor(col("col") * lit(1e6) + lit(0.5)).cast("long").as("__n"))
      .groupBy(col(groupCol), col("pos"))
      .agg(sum("__n").as("__s"), count("*").as("__c"))
      .groupBy(col(groupCol))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"),
          (col("__s").cast("double") / (col("__c") * lit(1e6))).as("m")))),
        s => s.getField("m")).as("centroid"))
      // tiny frame (|groups| rows): the norm filter costs nothing here
      .filter(graft.functions.DotProduct.dot_product(col("centroid"), col("centroid")) > 0.0)
  }

  /** Score every embedding against its own group's centroid:
    * (vec_id, label, cos_c = r4(cosine to centroid), is_outlier =
    * cos_c < threshold as 0/1). Null/empty/zero-norm vectors and groups
    * with a degenerate (zero-norm) centroid are absent — they have no
    * scorable direction; a mixed-width group raises instead of nulling. */
  def centroidOutliers(emb: DataFrame, threshold: Double): DataFrame = {
    // cleaned() fires a driver head() to infer the width and re-runs its
    // hygiene filters per call — clean ONCE and derive the centroids from
    // the same frame instead of a second cleaned(emb) inside centroids()
    val e = cleaned(emb, Seq(idCol))
    val cos = graft.functions.CosineSim.cosine_sim(col("__v"), col("centroid"))
    val cosR = graft.functions.ScalarOps.r4(cos)
    e.join(broadcast(centroidsFromCleaned(e)), groupCol)
      .select(col(idCol), col(groupCol), cosR.as("cos_c"),
        (cosR < lit(threshold)).cast("int").as("is_outlier"))
  }

  /** Per-group L2-norm distribution card: (label, n, mean_norm,
    * min_norm, max_norm, n_zero) — the first screen run on a new embedding
    * drop (an un-normalized batch, a zero-vector encoder failure, or a
    * clipped export all show up here before anything downstream consumes
    * the vectors).
    *
    * Determinism across engines (oracle constraint): norms round to 4
    * decimals ONCE per row, then aggregate as DECIMAL(20,4) — the sums are
    * exact and associative under any partitioning (the same discipline as
    * [[centroids]]' scaled-integer means; a double sum would be partition-
    * order-dependent). One codegen'd linear scan + one tiny hash aggregate;
    * the corpus never shuffles beyond the per-group partials. */
  def normsCard(emb: DataFrame): DataFrame = {
    val nrm = round(sqrt(graft.functions.DotProduct.dot_product(
        col(vecCol).cast("array<double>"), col(vecCol).cast("array<double>"))), 4)
      .cast(org.apache.spark.sql.types.DecimalType(20, 4))
    // null/empty vectors norm to NULL: they must be VISIBLE (n_bad), not
    // silently deflate mean_norm (sum skips nulls while count(*) would
    // not) and not hide from n_zero — an encoder emitting null vectors is
    // exactly the failure this first screen exists to catch
    emb.select(col(groupCol), nrm.as("__nrm"))
      .groupBy(col(groupCol))
      .agg(count("*").as("n"),
        // divisor guard: a group whose vectors are ALL null has
        // count(__nrm) = 0, and under ANSI mode the division would throw
        // DIVIDE_BY_ZERO — crashing the very card that exists to surface
        // that failure. Such a group reports mean_norm NULL, n_bad = n.
        when(count(col("__nrm")) > 0,
          round(sum(col("__nrm")).cast("double") / count(col("__nrm")), 4))
          .as("mean_norm"),
        min(col("__nrm")).cast("double").as("min_norm"),
        max(col("__nrm")).cast("double").as("max_norm"),
        sum(when(col("__nrm") === 0, 1L).otherwise(0L)).as("n_zero"),
        sum(when(col("__nrm").isNull, 1L).otherwise(0L)).as("n_bad"))
  }
}
