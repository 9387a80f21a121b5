package graft.operators

import graft.PlanCapture.CheckpointOps
import graft.functions.{CosineSim, L2Dist}
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.collection.parallel.CollectionConverters._

/** IVF-PQ: product-quantized residuals on top of the frozen IVF coarse
  * quantizer ([[IvfIndex]]) — the memory-bounded ANN form actually deployed
  * at 10⁹+ vectors (Jégou, Douze, Schmid, "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011 — public literature). The reference has no
  * vector search at all; this is the §2.4 E3 scale ladder's top rung:
  * brute (qe3) → SRP-LSH (qe3b) → IVF (qe3c/d) → IVF-PQ (qe3e).
  *
  * Why it matters at 100 TB: IVF still stores every raw vector (d floats);
  * at d = 64 float32 that is 256 B/vector — 256 TB of vector payload per
  * 10¹² vectors, shuffled on every probe join. PQ splits each vector's
  * RESIDUAL (v − centroid[cell]) into `m` subvectors and replaces each with
  * the id of its nearest codeword from a per-subspace codebook of 2^nbits
  * entries: the stored record shrinks to one byte per subspace (m bytes —
  * 8× at the registered d=64/m=32), and probe-side scoring reads codes,
  * not floats. Queries stay
  * exact on their own side (asymmetric distance: the query compares against
  * RECONSTRUCTED candidates), and a small exact re-rank of the shortlist
  * restores the tail recall the quantization loses.
  *
  * Every stage keeps the frozen fit/apply discipline of [[IvfIndex]]:
  * codebooks fit ONCE on a bounded sample and persist as a parquet artifact
  * ([[graft.Artifacts]]); encoding and scoring are map-only codegen
  * projections with the codebooks inlined as literals (m·2^nbits·(d/m) =
  * d·2^nbits doubles — 1024 here, broadcast-free); the only joins are the
  * tiny probe equi-join and the broadcast shortlist re-rank.
  */
object PqIndex {

  /** FIT: per-subspace k-means codebooks over coarse-quantizer residuals.
    * Returns (sub, code, codeword) — `m`·2^nbits rows, an ordinary table.
    *
    * Residuals — not raw vectors — are what PQ quantizes: subtracting the
    * cell centroid removes the coarse structure, so the per-subspace
    * codebooks spend their 2^nbits entries on the (much tighter) residual
    * distribution. The fit trains on the same deterministic hash-mod
    * sample rule as [[IvfIndex.build]] (a quantizer needs ~100·2^nbits
    * points per subspace, not the corpus); subspace j fits at seed 42 + j
    * so codebooks differ across subspaces but reproduce
    * exactly across runs. */
  def fitCodebooks(vectors: DataFrame, centroids: DataFrame, idCol: String,
                   vecCol: String, m: Int, nbits: Int, nHint: Long = 0L): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val cents = collectCentroids(centroids)
    val d = cents.head._2.length
    require(m >= 1 && d % m == 0,
      s"fitCodebooks: subspace count m=$m must divide dim d=$d")
    require(nbits >= 1 && nbits <= 8,
      s"fitCodebooks: nbits must be in [1,8] (codes are stored BIASED by -128 " +
        s"in tinyint — see encode — so the full 8-bit range fits one byte), got $nbits")
    val ds = d / m
    val k = 1 << nbits
    val n = if (nHint > 0) nHint else vectors.count()
    val train =
      if (n <= IvfIndex.MaxTrain) vectors
      // ppm, not whole percent: see IvfIndex.build — the 1% floor breaks
      // the training cap at corpus scale
      else Sampling.deterministicSamplePpm(vectors, idCol,
        math.min(1000000, math.max(1, math.ceil(IvfIndex.MaxTrain * 1e6 / n).toInt)))
    // one residual pass feeds all m subspace fits. Repartitioned to
    // training-sample-sized parallelism BEFORE the checkpoint (see
    // IvfIndex.trainPartitions): the m sequential k-means fits each run
    // 20+ jobs over this frame, and corpus-inherited partitioning would
    // multiply every one of them by near-empty tasks (repartition, not
    // coalesce — coalesce would collapse the sampling scan itself).
    val resid = withResidual(train, cents, vecCol).select(col("__resid"))
      .repartition(IvfIndex.trainPartitions(math.min(n, IvfIndex.MaxTrain)))
      .auditedCheckpoint()
    // the m subspace fits are INDEPENDENT (disjoint slices, per-subspace
    // seeds) — submit them as concurrent Spark jobs instead of a
    // sequential driver loop: each MLlib fit carries ~1+ s of fixed
    // overhead (k-means|| init rounds, per-iteration job launch), and at
    // m=32 the sequential form made this THE dominant cold-store anchor
    // cost (45 s of qe60's 48 s fit bill, BASELINE.md r14). Results land
    // in a j-indexed array, so output order — and the persisted artifact —
    // is byte-identical to the sequential form.
    val perSub = new Array[Seq[(Int, Int, Seq[Double])]](m)
    val pv = (0 until m).toVector.par
    val fitPool = new java.util.concurrent.ForkJoinPool(
      math.min(m, math.max(1, spark.sparkContext.defaultParallelism / 2)))
    pv.tasksupport =
      new scala.collection.parallel.ForkJoinTaskSupport(fitPool)
    try pv.foreach { j =>
      val sub = resid.select(
        array_to_vector(slice(col("__resid"), j * ds + 1, ds)).as("__v"))
      val model = new KMeans().setK(k).setSeed(42L + j).setMaxIter(20)
        .setFeaturesCol("__v").setPredictionCol("code").fit(sub)
      perSub(j) = model.clusterCenters.zipWithIndex.map { case (c, i) =>
        (j, i, c.toArray.toSeq)
      }.toSeq
    } finally fitPool.shutdown()
    perSub.toSeq.flatten.toDF("sub", "code", "codeword")
  }

  /** PERSISTED codebook artifact — first call per (input fingerprint,
    * params) fits and writes parquet; later calls (any JVM) read back.
    * The key includes the coarse-quantizer knobs: residuals depend on the
    * centroids, so a refit quantizer must invalidate its codebooks. */
  def persistedCodebooks(vectors: DataFrame, dataPath: String, centroids: DataFrame,
                         idCol: String, vecCol: String, nlist: Int, m: Int,
                         nbits: Int, nHint: Long = 0L): DataFrame = {
    val spark = vectors.sparkSession
    val key = graft.Artifacts.fitKey(spark, Seq(dataPath),
      // idCol/nHint steer the MaxTrain training sample — fit-affecting,
      // so they ride the key (the cosine_pairs idCol lesson)
      s"$idCol-$vecCol-nlist$nlist-m$m-nbits$nbits-seed42-h$nHint")
    graft.Artifacts.getOrFit(spark, "pq_codebooks", key,
      fitCodebooks(vectors, centroids, idCol, vecCol, m, nbits, nHint = nHint))
  }

  /** ENCODE: map-only PQ compression — adds `cell` (coarse id, via
    * [[IvfIndex.assignInline]]) and `codes` (array<tinyint>, length m) and
    * DROPS the raw vector column: the output row carries m bytes of vector
    * payload, the compressed record a 10¹²-vector deployment actually
    * stores. One map-only projection: centroids and codebooks inline as
    * literals; each subspace's code is `array_position(dists, min(dists))`
    * with `dists` a `transform` of the fused [[L2Dist]] kernel over the
    * 2^nbits-codeword literal. The HOF loop — NOT an unrolled
    * `least`-of-structs — is deliberate: unrolling m·2^nbits kernels (512
    * at the registered m=32/nbits=4) exploded whole-stage codegen past
    * janino's method limits, while the loop form keeps generated code
    * O(m). `array_position` takes the FIRST minimum, so ties break toward
    * the LOWER code, deterministic under any partitioning. */
  def encode(vectors: DataFrame, centroids: DataFrame, codebooks: DataFrame,
             vecCol: String): DataFrame = {
    val cents = collectCentroids(centroids)
    val books = collectBooks(codebooks)
    val d = cents.head._2.length
    val m = books.length
    val ds = d / m
    val codeCols = books.zipWithIndex.map { case (book, j) =>
      val sub = slice(col("__resid"), j * ds + 1, ds)
      val dists = transform(typedlit(book.map(_.toSeq).toSeq),
        cw => L2Dist.l2_dist(sub, cw))
      // codes are stored BIASED by -128: tinyint is signed [-128, 127], so
      // an unbiased cast wraps (or, under ANSI, throws) for codes >= 128 —
      // i.e. the standard nbits=8 / 256-centroid configuration. The bias
      // maps the full 8-bit range onto the byte exactly; decode un-biases.
      (array_position(dists, array_min(dists)) - 1 - 128).cast("int")
    }
    withResidual(vectors, cents, vecCol)
      .withColumn("codes", array(codeCols.toIndexedSeq: _*).cast("array<tinyint>"))
      .drop("__resid", vecCol)
  }

  /** PERSISTED encoded corpus — the PQ INDEX itself as a parquet artifact:
    * (id, cell, codes) is the m-bytes-per-vector record a deployment
    * stores, so encoding is a one-time indexing pass, not a per-query
    * cost. First call per (input fingerprint, params) encodes and writes;
    * later calls (any JVM) read the index back, and the serving plan
    * ([[topKEncoded]]) contains neither a k-means fit nor an encode pass —
    * the same discipline as [[IvfIndex.persistedCentroids]], applied one
    * level up. Keyed with the full quantizer knobs: a refit coarse
    * quantizer or changed codebooks must invalidate the index. */
  def persistedEncoded(vectors: DataFrame, dataPath: String, centroids: DataFrame,
                       codebooks: DataFrame, idCol: String, vecCol: String,
                       nlist: Int, m: Int, nbits: Int): DataFrame = {
    val spark = vectors.sparkSession
    // "b128": code-bias format marker — a persisted index encoded before
    // the bias fix must not be decoded with the un-biasing reader
    val key = graft.Artifacts.fitKey(spark, Seq(dataPath),
      s"$vecCol-nlist$nlist-m$m-nbits$nbits-seed42-b128")
    graft.Artifacts.getOrFit(spark, "pq_encoded", key,
      encode(vectors.select(col(idCol), col(vecCol)), centroids, codebooks, vecCol))
  }

  /** Asymmetric top-k over an ENCODED corpus: probe cells exactly as IVF
    * ([[IvfIndex.probeCells]] — shared, so cell selection cannot drift),
    * score candidates by cosine between the EXACT query vector and the
    * RECONSTRUCTED candidate (centroid[cell] + codeword[j][code_j] per
    * subspace — decoded in a map-only projection BEFORE the probe join, so
    * each candidate decodes once, not once per matching query), keep a
    * shortlist of `k·refine` per query, then re-rank the shortlist with
    * exact vectors. The re-rank join broadcasts the |q|·k·refine shortlist
    * against one raw-corpus scan — the only stage that touches raw floats,
    * and it reads them for shortlisted ids only.
    *
    * With exact re-rank, final recall is |exact-top-k ∩ shortlist| / k:
    * any true top-k member in the shortlist survives the re-rank (only
    * higher-cosine items can outrank it, and those are top-k members too),
    * so recall is MONOTONE in `refine` — asserted with the floor sweep in
    * SimilaritySpec. Output matches the qe3 contract: (qid, cid, cos, rnk)
    * with exact cosine values. */
  def topKEncoded(raw: DataFrame, encoded: DataFrame, centroids: DataFrame,
                  codebooks: DataFrame, queries: DataFrame, idCol: String,
                  vecCol: String, k: Int, nprobe: Int, refine: Int = 4): DataFrame = {
    require(refine >= 1, s"topKEncoded: refine must be >= 1, got $refine")
    val cents = collectCentroids(centroids)
    val books = collectBooks(codebooks)
    val decoded = // reconstructed vector = centroid[cell] + concat_j codeword[j][code_j]
      zip_with(element_at(centroidMapLit(cents), col("cell")),
        concat(books.zipWithIndex.map { case (book, j) =>
          element_at(typedlit(book.map(_.toSeq).toSeq),
            col("codes").getItem(j).cast("int") + 128 + 1) // un-bias (see encode)
        }.toIndexedSeq: _*),
        (c, r) => c + r)
    val probes = IvfIndex.probeCells(centroids, queries, idCol, vecCol, nprobe)
    val shortW = Window.partitionBy("qid").orderBy(col("acos").desc, col("cid"))
    // decode ONCE PER CANDIDATE, and only candidates in PROBED cells: the
    // semi-join on the (≤ nlist-row, broadcastable) distinct probed-cell
    // set cuts the corpus first, the decode projection runs once per
    // surviving row, and THEN the pair join fans out — decoding inside
    // the pair join would recompute per (candidate, query) pair, and
    // decoding before any cut wastes a factor nlist/nprobe on cells no
    // query probes. The shortlist window shuffles only (qid, cid, acos):
    // carrying the d-double query vector through it forfeited the m-byte
    // payload PQ exists for.
    val probedCells = probes.select(col("cell")).distinct()
    val cands = encoded.join(probedCells, Seq("cell"), "left_semi")
      .select(col(idCol).as("cid"), col("cell"), decoded.as("__approx"))
    val shortlist = cands.join(probes, "cell")
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        CosineSim.cosine_sim(col("qv"), col("__approx")).as("acos"))
      .withColumn("__sr", row_number().over(shortW))
      .filter(col("__sr") <= k * refine)
      .select(col("qid"), col("cid"))
    // the |q|*k*refine shortlist re-joins the query vectors HERE, and AQE
    // picks the strategy: a pinned broadcast grows linearly with
    // |queries| — the unbounded-|queries| hazard lshTopK documents
    val qv = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
    val exactIn = raw.select(col(idCol).as("cid"), col(vecCol).as("cv"))
      .join(shortlist, "cid").join(qv, "qid")
    // the ONE ranking contract shared with every ladder rung
    Similarity.rankTopK(exactIn, k)
  }

  /** Convenience end-to-end form: encode the corpus, then
    * [[topKEncoded]]. The registered qe3e runs this against PERSISTED
    * centroid + codebook artifacts, so the executed plan contains no
    * k-means fit anywhere. */
  def topK(candidates: DataFrame, centroids: DataFrame, codebooks: DataFrame,
           queries: DataFrame, idCol: String, vecCol: String, k: Int,
           nprobe: Int, refine: Int = 4): DataFrame = {
    val enc = encode(candidates.select(col(idCol), col(vecCol)), centroids,
      codebooks, vecCol)
    topKEncoded(candidates, enc, centroids, codebooks, queries, idCol, vecCol,
      k, nprobe, refine)
  }

  // ---- shared plumbing ----------------------------------------------------

  /** Driver-side (cell, centroid) rows, cell-ascending. nlist rows — the
    * same bounded collect as [[IvfIndex.assignInline]]. */
  private def collectCentroids(centroids: DataFrame): Array[(Int, Array[Double])] = {
    val cents = centroids.select(col("cell").cast("int"), col("centroid"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    require(cents.nonEmpty, "centroid frame is empty")
    cents
  }

  /** Driver-side codebooks: books(j)(c) = codeword — m·2^nbits rows. */
  private def collectBooks(codebooks: DataFrame): Array[Array[Array[Double]]] = {
    val rows = codebooks
      .select(col("sub").cast("int"), col("code").cast("int"), col("codeword"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    require(rows.nonEmpty, "codebook frame is empty")
    rows.groupBy(_._1).toArray.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3))
  }

  private def centroidMapLit(cents: Array[(Int, Array[Double])]): Column =
    map_from_arrays(
      array(cents.map(c => lit(c._1)).toIndexedSeq: _*),
      array(cents.map(c => typedlit(c._2.toSeq)).toIndexedSeq: _*))

  /** Adds `cell` (inline coarse assignment) and `__resid`
    * (v − centroid[cell], array<double>) — one codegen projection. */
  private def withResidual(vectors: DataFrame, cents: Array[(Int, Array[Double])],
                           vecCol: String): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val centFrame = cents.map { case (i, c) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
    IvfIndex.assignInline(vectors, centFrame, vecCol)
      .withColumn("__resid",
        zip_with(col(vecCol).cast("array<double>"),
          element_at(centroidMapLit(cents), col("cell")),
          (a, b) => a - b))
  }
}
