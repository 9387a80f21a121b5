package graft.operators

import graft.PlanCapture.CheckpointOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline (SURVEY.md §2.4
  * E1/E2): exact (hash-groupBy), n-gram Jaccard pairs (exact near-dup
  * ground truth), MinHash+LSH (the 100 TB-scale path), and SimHash.
  *
  * Scale notes: exact dedup and MinHash signatures are single-shuffle
  * (hash partition by doc/key). The all-pairs Jaccard join is quadratic in
  * per-shingle document frequency and exists as the oracle-checkable ground
  * truth; at 100 TB you run [[minhashCandidates]] (band-bucket join → only
  * near-certain pairs) and verify candidates with [[jaccardVerify]].
  */
object Dedup {

  /** E1 — exact dedup: one survivor per duplicate group, deterministic
    * min-id winner (a `dropDuplicates` that's stable across runs/engines). */
  def exactDedup(df: DataFrame, keyCols: Seq[String], idCol: String): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(min(idCol).as("keep_id"), count("*").as("dup_cnt"))

  /** The ONE spelling of the null-tolerant dedup key, shared by the
    * batch survivor ([[minIdSurvivorByKey]]), the first-seen stream twin
    * ([[firstSeenByKey]]), and the min-id stream twin
    * ([[graft.streaming.StreamingDedup.minIdSurvivorStream]]): a null
    * content hash (refused decode) keys on the row's own doc_id so it
    * stays a singleton — a dedup pass must never merge what it could not
    * read. The stream twins' batch-equivalence contracts are key-for-key;
    * one shared expression means a spelling change reaches all three or
    * none (review r16). */
  def contentKey(hashCol: String): Column =
    coalesce(col(hashCol), concat(lit("doc:"), col("doc_id")))

  /** Min-id-survivor dedup on a nullable content-hash column — the E1
    * media-leg shape shared by [[ImageDedup.dedupByPixels]],
    * [[AudioDedup.dedupBySamples]] and [[VideoDedup.dedupByFrames]]: a
    * null hash (refused decode) keys on its own doc_id and stays a
    * singleton — a dedup pass must never merge what it could not read;
    * survivor = min doc_id per key; `is_kept` flags survivors. One hash
    * aggregation on a uniform digest key — no skew handling needed.
    * Callers checkpoint `sigs` first when the signature stage is the
    * dominant cost (it feeds both sides of the survivor join). */
  def minIdSurvivorByKey(sigs: DataFrame, hashCol: String): DataFrame = {
    val keyed = sigs.withColumn("__key", contentKey(hashCol))
    val survivors = keyed.groupBy(col("__key"))
      .agg(min(col("doc_id")).as("survivor_id"))
    keyed.join(survivors, Seq("__key"), "left")
      .withColumn("is_kept", (col("doc_id") === col("survivor_id")).cast("int"))
      .drop("__key")
  }

  /** FIRST-seen streaming twin of [[minIdSurvivorByKey]]: stateless
    * upstream projection + `dropDuplicates` state on the same key.
    * Emits kept rows only. Pair with a watermark +
    * dropDuplicatesWithinWatermark for bounded state on always-on
    * streams.
    *
    * DETERMINISM CONTRACT (narrower than "any crawl stream"): across
    * micro-batches first-seen-wins is exact, but WITHIN a micro-batch
    * `dropDuplicates` keeps whichever duplicate Spark encounters first —
    * so batch/stream equivalence with the min-id survivor set holds only
    * when arrival is id-ordered and single-partition within each batch
    * (the shape StreamingSpec/StateEvolutionSpec replay, and the shape a
    * sequenced crawl frontier produces). For multi-partition or
    * unordered sources the kept ROW per key may differ from the min-id
    * row while the kept KEY set is identical; callers that need the
    * exact min-id row under arbitrary arrival should use
    * [[graft.streaming.StreamingDedup.minIdSurvivorStream]] (r16: a
    * per-key running-minimum ValueState, batch-equivalent survivors
    * under any partitioning/order — proven in StreamingSpec). */
  def firstSeenByKey(sigs: DataFrame, hashCol: String): DataFrame =
    sigs.withColumn("__key", contentKey(hashCol))
      .dropDuplicates("__key")
      .drop("__key")

  /** Distinct n-word shingle list from a pre-tokenized array column.
    * Guarded for short docs. */
  private def shingleListCol(ws: Column, n: Int): Column =
    when(size(ws) >= n,
      array_distinct(transform(sequence(lit(0), size(ws) - n),
        i => concat_ws(" ", (0 until n).map(k => get(ws, i + lit(k))): _*))))
      .otherwise(array().cast("array<string>"))

  /** Word tokens → distinct n-word shingles (single-column form; prefer
    * [[shingleSets]] in plans — see the note there). */
  def shingleSet(text: Column, n: Int): Column =
    shingleListCol(TextAnalysis.tokens(text), n)

  /** (doc_id, shingle-set array) with tokenization materialized behind its
    * own projection. Two traps found by `.explain` here: (a) inlining the
    * regex split into the shingle lambda makes Spark re-evaluate it per
    * shingle; (b) a `when(size >= n, ...)` guard makes
    * InferFiltersFromGenerate push a copy of the WHOLE shingling expression
    * below the projections as a pre-filter (~50x per-row cost observed).
    * Hence: explicit cheap size filter, unguarded transform. Docs shorter
    * than n drop out — identical downstream semantics to an empty set
    * (explode drops empties; empty sets can never reach a Jaccard
    * threshold). */
  /* The size filter here DOES get predicate-pushed below the projection
   * (one extra tokenization per row at the scan) — measured and accepted:
   * the rowwise-signature consumer needs short docs ABSENT (an empty
   * shingle array would min-hash to null signatures and collide all short
   * docs into one LSH bucket), and every alternative barrier re-evaluates
   * MORE than one tokenization. The explode path ([[shingles]]) avoids the
   * filter entirely because explode drops empty arrays for free. */
  def shingleSets(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"), TextAnalysis.tokens(col("text")).as("ws"))
      .filter(size(col("ws")) >= n)
      .select(col("doc_id"),
        array_distinct(transform(sequence(lit(0), size(col("ws")) - n),
          i => concat_ws(" ", (0 until n).map(k => get(col("ws"), i + lit(k))): _*))).as("sh"))

  /** Exploded (doc_id, shingle) relation, distinct per doc.
    *
    * explode() is applied to the shingle EXPRESSION, not an aliased column:
    * exploding an attribute makes InferFiltersFromGenerate add a
    * `size(attr) > 0` filter that pushdown rewrites into a full copy of the
    * shingling expression evaluated per input row (interpreted, no CSE →
    * observed ~30x slowdown). With a non-attribute generator child the rule
    * skips inference.
    *
    * Short docs are dropped by guarding INSIDE the projection (when → empty
    * array; explode emits nothing) rather than by a `size(ws) >= n` Filter:
    * a filter above the tokenize projection gets predicate-pushed through
    * it, re-running the regex tokenization per input row at the scan
    * (verified in the physical plan — the same pushdown-through-HOF trap
    * that cost qe17 13x). CaseWhen only evaluates the matching branch, so
    * the descending-sequence hazard for size < n never fires. */
  def shingles(docs: DataFrame, n: Int): DataFrame = {
    val ws = col("ws")
    docs.select(col("doc_id"), TextAnalysis.tokens(col("text")).as("ws"))
      .select(col("doc_id"),
        explode(when(size(ws) >= n,
          array_distinct(transform(sequence(lit(0), size(ws) - n),
            i => concat_ws(" ", (0 until n).map(k => get(ws, i + lit(k))): _*))))
          .otherwise(array().cast("array<string>"))).as("s"))
  }

  /** E2 ground truth — all document pairs with shingle-set Jaccard ≥
    * threshold. Exact but quadratic per hot shingle; see [[minhashCandidates]]
    * for the scale path. Output: da, db, j — FULL precision; rounding
    * (ScalarOps.r4) is the CALLER's job at the oracle boundary (qe2 does),
    * and persisted anchors deliberately store the unrounded value.
    *
    * The self-join runs on `xxhash64(shingle)` rather than the shingle
    * string: an 8-byte fixed-width shuffle/compare key instead of a ~20-byte
    * string. Collisions would merge distinct shingles, but at n²/2^64 odds
    * (~1e-11 at 1M distinct shingles) the result is still oracle-exact. */
  def jaccardPairs(docs: DataFrame, n: Int, threshold: Double): DataFrame = {
    // The shingle relation feeds four plan branches (a-side, b-side, two
    // count joins); unmaterialized, Spark re-derives the expensive
    // shingling expressions once per branch (observed 4x cost).
    // localCheckpoint, not persist: eager (no branch can race the fill)
    // and freed by the ContextCleaner when unreachable, where a persist's
    // CacheManager entry would leak for the session's lifetime (one per
    // qe2/qe13 invocation).
    val sh = shingles(docs, n).select(col("doc_id"), xxhash64(col("s")).as("s"))
      .auditedCheckpoint()
    val cnt = sh.groupBy("doc_id").agg(count("*").as("n_sh"))
    val common = sh.as("a")
      .join(sh.as("b"), col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count("*").as("c"))
    common
      .join(cnt.select(col("doc_id").as("da"), col("n_sh").as("na")), "da")
      .join(cnt.select(col("doc_id").as("db"), col("n_sh").as("nb")), "db")
      .select(col("da"), col("db"),
        (col("c").cast("double") / (col("na") + col("nb") - col("c"))).as("j"))
      .filter(col("j") >= threshold)
  }

  /** [[jaccardPairs]] as a persisted fit artifact (the
    * [[IvfIndex.persistedCentroids]] pattern): the exact pair set is the
    * certification GROUND TRUTH for the approximate dedup family
    * (qe61/qe64), and ground truth over a given corpus is a fit — computed
    * once per (input fingerprint, n, threshold), then a parquet read for
    * every later certificate run. At 100 TB the anchor is computed over a
    * bounded sample on its own cadence (see the sampled-mode certificate),
    * never inline in the gate. */
  def persistedJaccardPairs(docs: DataFrame, dataPath: String,
                            n: Int, threshold: Double): DataFrame = {
    val spark = docs.sparkSession
    val key = graft.Artifacts.fitKey(spark, Seq(dataPath), s"n$n-t$threshold")
    graft.Artifacts.getOrFit(spark, "jaccard_pairs", key,
      jaccardPairs(docs, n, threshold))
  }

  /** Per-source exact-duplication audit card: docs, distinct texts, and
    * the duplicate fraction — the before/after report a dedup run
    * publishes per domain. One map-side-combined shuffle.
    *
    * countDistinct here runs over the raw text (the oracle-exact twin);
    * at 100 TB swap the argument for `xxhash64(text)` so the distinct
    * shuffles 8-byte keys instead of documents (collision odds ~2⁻⁶⁴ per
    * pair — the count is the same number in practice). */
  def dedupCard(docs: DataFrame): DataFrame =
    docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), countDistinct(col("text")).as("n_uniq"))
      .select(col("source"), col("n_docs"), col("n_uniq"),
        graft.functions.ScalarOps.r4(lit(1.0) -
          col("n_uniq").cast("double") / col("n_docs")).as("dup_frac"))

  // ---- MinHash + LSH ------------------------------------------------------

  /** Universal-hash parameters h_i(x) = (a_i·x + b_i) mod P, fixed seed so
    * signatures are reproducible run-to-run. */
  private val P = 2147483647L // 2^31 - 1, Mersenne prime
  private def hashParams(k: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(k)((1 + rnd.nextInt(Int.MaxValue - 1).toLong, rnd.nextInt(Int.MaxValue).toLong))
  }

  /** MinHash signature per doc: k min-hashes over murmur3 shingle hashes.
    * One shuffle (groupBy doc_id), k·|shingles| cheap codegen'd ops. */
  def minhashSignature(docs: DataFrame, n: Int, k: Int): DataFrame = {
    val sh = shingles(docs, n).withColumn("h", pmod(hash(col("s")).cast("long"), lit(P)))
    val mins = hashParams(k).zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("h") * a + b, lit(P))).as(s"mh_$i")
    }
    sh.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  /** Per-row MinHash signature — bit-identical values to
    * [[minhashSignature]] (same murmur3 + universal-hash params, min over
    * the same distinct shingle set) but computed with array HOFs inside the
    * doc's own row: NO shuffle, no aggregation state. This is the streaming
    * form — a document's signature is complete the moment the document
    * arrives — and the parity of both forms is asserted in DedupSpec. The
    * batch form stays preferable for backfills (explode parallelizes huge
    * docs across cores; HOFs are interpreted per element). */
  def minhashSignatureRowwise(docs: DataFrame, n: Int, k: Int): DataFrame = {
    // hs materialized behind its own projection: a lambda over a
    // non-attribute child would re-evaluate the whole hash array per element
    val withH = shingleSets(docs, n)
      .select(col("doc_id"),
        transform(col("sh"), s => pmod(hash(s).cast("long"), lit(P))).as("hs"))
    val mins = hashParams(k).zipWithIndex.map { case ((a, b), i) =>
      array_min(transform(col("hs"), x => pmod(x * a + b, lit(P)))).as(s"mh_$i")
    }
    withH.select(col("doc_id") +: mins: _*)
  }

  /** Banding of a signature frame into (doc_id, band, bucket) rows — shared
    * by the batch candidate join and the streaming stateful form. */
  private[graft] def bandBuckets(sig: DataFrame, k: Int, bands: Int): DataFrame = {
    require(bands >= 1 && k % bands == 0,
      s"bandBuckets: bands ($bands) must divide the signature length k ($k) — " +
        "truncating k/bands would silently drop signature hashes and break " +
        "the 1-(1-j^rows)^bands recall model")
    val rows = k / bands
    sig.select(col("doc_id"), posexplode(array(
      (0 until bands).map(b =>
        hash((b * rows until (b + 1) * rows).map(i => col(s"mh_$i")): _*)): _*))
      .as(Seq("band", "bucket")))
  }

  /** LSH banding: docs sharing any band bucket become candidate pairs.
    * bands·rows = k; P(candidate) ≈ 1-(1-j^rows)^bands. The band-bucket
    * equi-join shuffles only (bucket → doc ids), never materializing the
    * full cross product — this is the piece that survives 100 TB.
    *
    * Sizing at scale (same rule as [[embeddingNearDupsBlocked]]): bucket
    * ids here are full 32-bit hashes of each band's row minhashes, so the
    * bucket space (2³²·bands) never needs widening; what must grow with n
    * is `rows` (= k/bands) — more rows per band sharpens the similarity
    * threshold s* ≈ (1/bands)^(1/rows) and keeps per-bucket occupancy (and
    * hence the quadratic within-bucket pair count) bounded as near-but-
    * below-threshold mass grows. k=16/bands=4 targets j ≥ 0.5 corpora; at
    * 10⁹ docs prefer k=128, bands=16 (rows=8, s* ≈ 0.71). */
  def minhashCandidates(docs: DataFrame, n: Int = 3, k: Int = 16, bands: Int = 4): DataFrame = {
    val banded = bandBuckets(minhashSignature(docs, n, k), k, bands)
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
  }

  /** [[minhashCandidates]] with a HOT-BUCKET CAP — the guard the clique
    * join needs against mega-duplicate families. A crawl with F copies of
    * one boilerplate page puts all F in the same band bucket, and the
    * within-bucket self-join emits F²/2 pairs per band: at F = 10⁶ that
    * is 10¹² rows from ONE page. Buckets at or under `cap` keep the exact
    * clique (unchanged recall); buckets over it are CHAIN-LINKED instead —
    * members sort by doc_id and only consecutive pairs emit, F−1 edges —
    * which preserves the bucket's connectivity exactly (a chain spans the
    * same connected component the clique does), so downstream duplicate
    * CLUSTERS ([[graft.operators.DupClusters.clusters]]) are unchanged
    * whenever within-bucket members verify against each other — the
    * overwhelmingly-common shape of an oversized bucket (a true duplicate
    * family, where every pairwise Jaccard ≈ 1). The trade is documented
    * recall on the pathological remainder: a hot bucket mixing sub-
    * threshold neighbors relies on OTHER bands to recover their pairs.
    * Planted-family behavior (linear edge count, identical clusters)
    * asserted in CurationOpsSpec. */
  def minhashCandidatesCapped(docs: DataFrame, n: Int = 3, k: Int = 16,
                              bands: Int = 4, cap: Int = 1024): DataFrame = {
    require(cap >= 2, s"minhashCandidatesCapped: cap must be >= 2, got $cap")
    val banded = bandBuckets(minhashSignature(docs, n, k), k, bands)
      .auditedCheckpoint()
    // sized is checkpointed too: it feeds BOTH the small/clique and the
    // hot/chain branches, and without the checkpoint the groupBy-count
    // join would recompute once per branch
    val sized = banded.join(
      banded.groupBy("band", "bucket").agg(count(lit(1)).as("__bs")),
      Seq("band", "bucket"))
      .auditedCheckpoint()
    val small = sized.filter(col("__bs") <= cap)
    val clique = small.as("a")
      .join(small.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
    // the chain pass sorts each OVER-CAP bucket in one window partition:
    // a per-key chain needs a per-key total order, so the mega-bucket the
    // cap exists for lands in a single task — n log n single-task sort of
    // F rows (spillable), the deliberate trade against the F^2/2 clique
    // edges it replaces. At F ~ 1e8 that task is a straggler, not a
    // blow-up; stitching partition-local chains across boundaries would
    // remove it but needs a boundary-row exchange per bucket.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("band", "bucket").orderBy("doc_id")
    val hot = sized.filter(col("__bs") > cap)
      .withColumn("__rn", row_number().over(w))
    val chain = hot.as("a")
      .join(hot.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.__rn") + 1 === col("b.__rn"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
    clique.union(chain).distinct()
  }

  /** The PERSISTABLE half of incremental fuzzy dedup: each doc's
    * (band, bucket) rows — an ordinary table a daily job writes once per
    * corpus snapshot (the QuantileGate/IvfIndex.assign fit/apply pattern
    * applied to MinHash-LSH). Signatures are seeded-deterministic and the
    * index and its probes share n = 3, k = 16, bands = 4, so an increment
    * banded later joins consistently against an index written months
    * earlier. */
  def minhashIndex(docs: DataFrame): DataFrame =
    bandBuckets(minhashSignature(docs, 3, 16), 16, 4)

  /** Incremental fuzzy-dedup candidates: band-hash ONLY the increment and
    * equi-join it against a frozen [[minhashIndex]] — the corpus is never
    * re-shingled or re-signed when daily increments arrive. Emits
    * (da = indexed doc, db = increment doc) pairs for [[jaccardVerify]].
    * Streaming-legal: the index is the static side of a stream-static
    * equi-join and the per-pair verify is stateless row math (replay ==
    * batch asserted in StreamingSpec). */
  def minhashCandidatesAgainst(increment: DataFrame, index: DataFrame): DataFrame = {
    // CONTRACT: the increment is DISJOINT from the indexed corpus (the
    // incremental-crawl shape — new docs probed against history). The
    // contract is ENFORCED below, not just documented: pair dedup keys on
    // the UNORDERED (least, greatest) pair, so an increment overlapping
    // the index — which yields mirrored (A,B)/(B,A) band matches — emits
    // each pair ONCE, and a consumer applying the documented
    // drop-the-db-side convention can never drop both copies. Under the
    // contract only one orientation exists, so the guard is free and the
    // emitted orientation (da = indexed, db = increment) is unchanged.
    // row-local signatures: the increment side must stay aggregation-free
    // (streaming) and is usually small enough that sharing a shingle
    // relation buys nothing
    val inc = bandBuckets(minhashSignatureRowwise(increment, 3, 16), 16, 4)
      .select(col("band"), col("bucket"), col("doc_id").as("db"))
    index.select(col("band"), col("bucket"), col("doc_id").as("da"))
      .join(inc, Seq("band", "bucket"))
      .filter(col("da") =!= col("db"))
      .select(col("da"), col("db"))
      // dropDuplicates, not distinct(): identical batch semantics, but
      // distinct() analyzes as a streaming AGGREGATION (watermark-bound in
      // Append mode) while dropDuplicates is streaming dedup state —
      // exactly the right primitive for pair de-dup on an increment stream.
      // LONG-RUNNING STREAMS: without a watermark this dedup state grows
      // with every distinct pair for the stream's lifetime. A daily
      // micro-batch replay (the registered qe43 shape) is bounded by the
      // increment; an always-on ingest stream should instead carry an event
      // time column, call withWatermark on it BEFORE this operator, and
      // dedup via dropDuplicatesWithinWatermark on the same keys so pair
      // state ages out with the watermark.
      // Keyed on the UNORDERED pair (contract enforcement above): the
      // helper columns are dropped after the dedup, so the output schema
      // and — under the disjoint contract — the output rows are identical
      // to the plain ("da","db") form.
      .withColumn("__lo", least(col("da"), col("db")))
      .withColumn("__hi", greatest(col("da"), col("db")))
      .dropDuplicates("__lo", "__hi")
      .drop("__lo", "__hi")
  }

  /** Verify LSH candidates with exact Jaccard — candidates are few, so this
    * join + per-pair set math is cheap. The shingle relation is
    * DELIBERATELY NOT checkpointed despite feeding both join sides: an
    * A/B measurement (r11) showed eager materialization of the full
    * array-typed shingle relation costing MORE than the second pruned
    * parquet scan it saves (qe2b 1.23 -> 1.78 s) — the relation is
    * corpus-wide and wide-rowed, while each re-derivation is a pruned
    * scan + codegen projection. The jaccardPairs checkpoint is different:
    * there the relation feeds a SELF-join whose both sides are hot. */
  def jaccardVerify(docs: DataFrame, candidates: DataFrame, n: Int, threshold: Double): DataFrame = {
    val sets = shingleSets(docs, n)
    candidates
      .join(sets.select(col("doc_id").as("da"), col("sh").as("sha")), "da")
      .join(sets.select(col("doc_id").as("db"), col("sh").as("shb")), "db")
      .select(col("da"), col("db"),
        (size(array_intersect(col("sha"), col("shb"))).cast("double") /
          size(array_union(col("sha"), col("shb")))).as("j"))
      .filter(col("j") >= threshold)
  }

  // ---- Embedding near-dup -------------------------------------------------

  /** E2 — embedding-cosine near-duplicate pairs: all (da < db) pairs with
    * cosine ≥ threshold over an (id, embedding) frame. Exact form is a
    * broadcast cross join through the fused [[graft.functions.CosineSim]]
    * kernel — viable while one side broadcasts; at 100 TB block first with
    * [[Similarity.lshTopK]]-style buckets and verify candidates here. */
  def embeddingNearDups(vectors: DataFrame, idCol: String, vecCol: String,
                        threshold: Double): DataFrame = {
    // norms precompute ONCE per row (|rows| sqrt-of-self-dots) instead of
    // twice per PAIR inside the fused cosine — 3x less kernel work across
    // the n² pairs. Bit-identical to CosineSim: dot_product accumulates
    // the same ascending xi*xi / xi*yi sums, and na*nb multiplies the same
    // sqrt values in the same order as the kernel's
    // sqrt(na2)*sqrt(nb2) denominator (also the DuckDB oracle's
    // dot/(qn*cn) form); ANSI Divide throws on a zero denominator exactly
    // like the kernel. Equality asserted in DedupSpec.
    import graft.functions.DotProduct.dot_product
    // the streamed side repartitions to the session parallelism BEFORE
    // the broadcast join: the anchor's work is O(n²) pair evaluations
    // against a linear-cost row move, so the exchange is amortized at ANY
    // n — and without it the local single-file corpus reads back as ONE
    // scan partition and the whole quadratic verify serializes onto one
    // core (qe7 solo 5-rep min 1.45 -> 0.32 s; measured in the r17
    // cosine-anchor commit 25e453c — the cited OPTIMIZATION_r17.md was
    // never committed, ADVICE r17 #4). Output is
    // a pair SET (consumers aggregate or total-order), so partitioning
    // cannot change results.
    val a = vectors
      .repartition(vectors.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol).as("da"), col(vecCol).as("va"),
        sqrt(dot_product(col(vecCol), col(vecCol))).as("__na"))
    val b = vectors.select(col(idCol).as("db"), col(vecCol).as("vb"),
      sqrt(dot_product(col(vecCol), col(vecCol))).as("__nb"))
    val cos = dot_product(col("va"), col("vb")) / (col("__na") * col("__nb"))
    // ONE conjunction with the cheap id comparison FIRST: written as a
    // separate join condition + filter, Catalyst pushes the cosine
    // predicate into the join AHEAD of da < db, and the dot product then
    // runs for all n² ordered pairs instead of short-circuiting away the
    // mirrored half (observed in the executed plan)
    a.join(broadcast(b), col("da") < col("db") && cos >= threshold)
      .select(col("da"), col("db"), cos.as("cos"))
  }

  /** [[embeddingNearDups]] as a persisted fit artifact — the exact cosine
    * pair anchor the embedding-dedup certificates (qe62) measure recall
    * against, computed once per (input fingerprint, threshold) and a
    * parquet read thereafter (same contract as [[persistedJaccardPairs]]). */
  def persistedEmbeddingNearDups(vectors: DataFrame, dataPath: String,
                                 idCol: String, vecCol: String,
                                 threshold: Double): DataFrame = {
    val spark = vectors.sparkSession
    // idCol is part of the key: the artifact's (da, db) VALUES are drawn
    // from it, so two callers differing only in id column must never
    // share a fit
    val key = graft.Artifacts.fitKey(spark, Seq(dataPath),
      s"$idCol-$vecCol-t$threshold")
    graft.Artifacts.getOrFit(spark, "cosine_pairs", key,
      embeddingNearDups(vectors, idCol, vecCol, threshold))
  }

  /** E2 scale path — blocked embedding near-dup pairs: `tables` independent
    * sign-random-projection hash tables of `nbits` bits each; vectors
    * sharing any (table, bucket) become candidates via a plain shuffle
    * equi-join (never a cross product), then candidates are verified
    * exactly with the fused [[graft.functions.CosineSim]] kernel — so
    * precision is 1.0 and only recall is approximate:
    * P(candidate) = 1-(1-p^nbits)^tables with p = 1-θ/π per hyperplane.
    * The banding analog of [[minhashCandidates]] for the embedding column;
    * recall vs the exact [[embeddingNearDups]] is asserted in DedupSpec.
    *
    * At 100 TB: bucketing is a codegen'd projection (one fused DotProduct
    * per hyperplane), the join shuffles on (table, bucket), and the verify
    * join re-reads only candidate rows — every stage is linear in
    * |vectors| + |candidates| PROVIDED buckets stay small: within-bucket
    * candidate generation is n·occupancy/2 pairs per table (quadratic in
    * occupancy), so `nbits` must grow ~log₂(n) to keep expected occupancy
    * (n / 2^nbits) SMALL — occupancy 1024 would mean 512·n candidates per
    * table, a ~6000× blowup over the corpus across the table union. The
    * default `nbits = 0` auto-derives ceil(log₂(n / 32)) (floor 4, cap 28)
    * from a count of the input — occupancy ≈ 32 bounds candidates at
    * ~16·n per table.
    *
    * Per-table recall falls as p^nbits (p = 1-θ/π per hyperplane), so the
    * TABLE COUNT is the recall knob and must follow the threshold: the
    * default `tables = 0` auto-derives the smallest T with
    * 1-(1-p^nbits)^T ≥ 0.95 at θ = acos(threshold) (floor 4; if the
    * target would need more than 64 tables the auto mode REFUSES loudly —
    * a silent cap would under-recall with no signal — and the caller must
    * pick the trade-off via explicit nbits/tables).
    * A high threshold is cheap (0.9 → p≈0.856 → T≈6); a low one is
    * honestly expensive (0.45 → p≈0.648 → T≈39 at 6 bits) — that is LSH
    * economics, not a tuning failure: SRP discriminates poorly at wide
    * angles, and the only sound alternatives are more bits + more tables
    * or a different family.
    *
    * The embedding width is inferred from the first non-null row; a row
    * whose vector width differs from the hyperplane width then raises an
    * error instead of silently hashing every row into bucket 0 (a null
    * DotProduct would zero every sign bit and degrade the equi-join to
    * per-table all-pairs). */
  def embeddingNearDupsBlocked(vectors: DataFrame, idCol: String, vecCol: String,
                               threshold: Double, nbits: Int = 0, tables: Int = 0,
                               nHint: Long = 0L): DataFrame = {
    // the lshTopK inference pattern: skip null vectors (size(null) is
    // null -> Row.getInt would NPE) and fail DESCRIPTIVELY on an empty
    // frame instead of NoSuchElementException from head()
    val r = vectors.select(size(col(vecCol)).as("__d"))
      .filter(col("__d").isNotNull).limit(1).collect()
    require(r.nonEmpty, "embeddingNearDupsBlocked: no non-null vectors " +
      "to infer the embedding dim from")
    val d = r.head.getInt(0)
    val bits = if (nbits > 0) nbits else {
      // nHint (from catalog/footer statistics, e.g. Engine.parquetRowCount)
      // spares the full-scan count(): at 100 TB an extra corpus pass just
      // to size a knob is real money, and the derivation only needs the
      // order of magnitude (log2)
      val n = if (nHint > 0) nHint else vectors.count()
      math.min(28, math.max(4, math.ceil(math.log(math.max(1.0, n / 32.0)) / math.log(2)).toInt))
    }
    val tbls = if (tables > 0) tables else {
      // smallest T with 1-(1-p^bits)^T >= 0.95 at the declared threshold.
      // If that needs more than 64 tables, REFUSE rather than silently cap:
      // a capped T under-recalls without any signal (at n=1e8/threshold=0.7
      // the occupancy-driven 22 bits would need ~1800 tables — a capped 64
      // would quietly drop ~90% of true pairs). The caller must then pick
      // the trade-off explicitly via nbits/tables.
      val p = 1.0 - math.acos(math.min(1.0, math.max(-1.0, threshold))) / math.Pi
      val pb = math.pow(p, bits)
      require(pb > 0, s"threshold $threshold gives zero per-table candidate probability")
      val t = math.ceil(math.log(0.05) / math.log1p(-pb))
      require(t <= 64,
        f"auto-sized SRP blocking needs $t%.0f tables to hold candidate recall 0.95 " +
          f"at threshold=$threshold (p=$p%.3f, nbits=$bits) — beyond the 64-table cap. " +
          "Pass nbits/tables explicitly to choose a recall/cost trade-off, or raise " +
          "the threshold")
      math.max(4, t.toInt)
    }
    // dim guard lives in the value path (not a droppable side column), so
    // column pruning cannot eliminate it; one size() per row, codegen'd
    val checked = vectors.select(col(idCol).as("id"),
      when(size(col(vecCol)) === d, col(vecCol))
        .otherwise(raise_error(concat(
          lit(s"embedding dim mismatch: expected $d, got "),
          // coalesce: size(NULL) is NULL and concat-with-NULL would fire
          // raise_error with a NULL message — the descriptive text lost
          coalesce(size(col(vecCol)).cast("string"),
            lit("null (missing embedding)"))))).as("v"))
    // null-ELEMENT vectors hash to all-zero sign bits in EVERY table (the
    // documented HOF-parity rule in SrpBuckets), so they would all pile
    // into bucket 0 of every table — a quadratic hot bucket. They can
    // never survive the verify step anyway (null cosine), so dropping
    // them from candidate generation changes cost, not results.
    val clean = checked.filter(!exists(col("v"), e => e.isNull))
    // ONE fused kernel pass computes every table's bucket (array index =
    // table id): the composable per-table srpBucket form is tables×nbits
    // separate DotProduct subtrees — 234 at the qe7b auto-sizing — whose
    // generated projection overflows JIT budgets. Bit-parity with the
    // composable form is asserted in DedupSpec.
    val bucketed = clean.select(col("id"), posexplode(
      graft.functions.SrpBucketsExpr.srp_buckets(col("v"), tbls, bits, d, 1000L))
      .as(Seq("tbl", "bucket")))
    val cand = bucketed.as("a")
      .join(bucketed.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("da"), col("b.id").as("db"))
      .distinct()
    val va = vectors.select(col(idCol).as("da"), col(vecCol).as("va"))
    val vb = vectors.select(col(idCol).as("db"), col(vecCol).as("vb"))
    cand.join(va, "da").join(vb, "db")
      .select(col("da"), col("db"),
        graft.functions.CosineSim.cosine_sim(col("va"), col("vb")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** E2 scale path, clustering form — SemDeDup (Abbas et al. 2023,
    * arXiv:2303.09540, public method): k-means-cluster the embedding space
    * (the [[IvfIndex]] coarse quantizer), verify within-cluster pairs
    * EXACTLY with the fused cosine kernel, resolve duplicate groups via
    * connected components, and keep only each group's min-id survivor.
    * Returns (id, cell, keep_id, is_kept) — every input row classified, so
    * both the survivor corpus (`is_kept`) and the drop audit are one
    * filter away.
    *
    * Same precision/recall split as [[embeddingNearDupsBlocked]]: dropped
    * rows are exact-verified (precision 1.0); recall is approximate —
    * only pairs landing in the same cell are examined, so near-dups
    * straddling a cell boundary survive. The blocking economics differ
    * from SRP: ONE table (one assignment pass + one equi-join on `cell`)
    * instead of `tables` hash tables, at the price of the quantizer fit.
    * Within-cell pair generation is quadratic in cell occupancy — nlist
    * must grow ~n/occupancy exactly like the SRP `nbits` knob; the fit
    * cost stays bounded because [[IvfIndex.build]] trains on a capped
    * deterministic sample (assignment still covers every row). */
  def semanticDedup(vectors: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, nlist: Int, nHint: Long = 0L): DataFrame = {
    val (assigned, _) = IvfIndex.build(vectors, idCol, vecCol, nlist, nHint = nHint)
    semanticDedupFromAssigned(assigned, idCol, vecCol, threshold)
  }

  /** The INLINE-FIT [[semanticDedup]] result as a persisted artifact: the
    * certificate tier (qe62) asserts the frozen apply path reproduces the
    * inline-fit classification row-for-row — persisting the inline side
    * keeps that equality a genuine cross-path check (the artifact was
    * computed by the fit path once; the frozen path re-runs live every
    * certificate invocation) while later runs pay only a parquet read
    * plus the apply scan. */
  def persistedSemanticDedup(vectors: DataFrame, dataPath: String,
                             idCol: String, vecCol: String, threshold: Double,
                             nlist: Int, nHint: Long = 0L): DataFrame = {
    val spark = vectors.sparkSession
    // idCol in the key for the same reason as persistedEmbeddingNearDups:
    // the stored id/keep_id values come from it
    val key = graft.Artifacts.fitKey(spark, Seq(dataPath),
      s"$idCol-$vecCol-t$threshold-nlist$nlist-seed42")
    graft.Artifacts.getOrFit(spark, "semdedup", key,
      semanticDedup(vectors, idCol, vecCol, threshold, nlist, nHint))
  }

  /** SemDeDup against a FROZEN coarse quantizer — the qe3d pattern applied
    * to dedup: cells assign via [[IvfIndex.assignInline]] (map-only codegen,
    * no k-means fit in the executed plan), then the identical within-cell
    * verify → components → survivor stages. At 100 TB the quantizer is a
    * persisted artifact refit on its own cadence; daily dedup runs never
    * pay (or re-randomize) the fit. Result-equal to [[semanticDedup]] when
    * `centroids` comes from the same build (asserted in DedupSpec). */
  def semanticDedupFrozen(vectors: DataFrame, centroids: DataFrame,
                          idCol: String, vecCol: String,
                          threshold: Double): DataFrame =
    semanticDedupFromAssigned(IvfIndex.assignInline(vectors, centroids, vecCol),
      idCol, vecCol, threshold)

  /** Shared verify/cluster/survivor stages over an already-cell-assigned
    * frame — one body so the inline-fit and frozen forms cannot drift. */
  private def semanticDedupFromAssigned(assigned: DataFrame, idCol: String,
                                        vecCol: String, threshold: Double): DataFrame = {
    // norm precomputed once per row and checkpointed with the vector —
    // within-cell verification touches each row occupancy-many times, so
    // the per-pair cosine reduces to dot + one multiply + one divide
    // (bit-identical to the fused kernel, see embeddingNearDups)
    val sides = assigned.select(col("cell"), col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("__n",
        sqrt(graft.functions.DotProduct.dot_product(col("v"), col("v"))))
      .auditedCheckpoint() // feeds both join sides; assign + fit run ONCE
    val cos = graft.functions.DotProduct.dot_product(col("va"), col("vb")) /
      (col("__na") * col("__nb"))
    // one conjunction, cheap id comparison first (the embeddingNearDups
    // lesson): the equi key extracts to the join, and the residual
    // condition short-circuits the mirrored half before its dot product
    val pairs = sides.select(col("cell"), col("id").as("da"), col("v").as("va"), col("__n").as("__na"))
      .join(sides.select(col("cell").as("__cb"), col("id").as("db"), col("v").as("vb"), col("__n").as("__nb")),
        col("cell") === col("__cb") && col("da") < col("db") && cos >= threshold)
      .select(col("da"), col("db"), cos.as("cos"))
    val comp = DupClusters.clusters(pairs) // (doc_id, cluster=min id)
    sides.select(col("id"), col("cell"))
      .join(comp.select(col("doc_id").as("id"), col("cluster")), Seq("id"), "left")
      .select(col("id"), col("cell"),
        coalesce(col("cluster"), col("id")).as("keep_id"))
      .withColumn("is_kept", (col("id") === col("keep_id")).cast("int"))
  }

  // ---- SimHash ------------------------------------------------------------

  /** 64-bit SimHash per doc: per-bit vote over xxhash64 token hashes.
    * Single shuffle; 64 codegen'd conditional sums. */
  def simhash64(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"),
      explode(TextAnalysis.tokens(col("text"))).as("t"))
      .withColumn("h", xxhash64(col("t")))
    val votes = (0 until 64).map(j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"v_$j"))
    val agg = tok.groupBy("doc_id").agg(votes.head, votes.tail: _*)
    val fp = (0 until 64).map(j =>
      when(col(s"v_$j") > 0, lit(1L << j)).otherwise(lit(0L))).reduce(_ + _)
    agg.select(col("doc_id"), fp.as("simhash"))
  }

  /** Per-document duplicated-PASSAGE card — the substring-level dedup
    * signal (Lee et al., "Deduplicating Training Data Makes Language
    * Models Better"): a window is duplicated when its positional n-gram
    * occurs at ≥ 2 (doc, pos) sites anywhere in the corpus (another doc,
    * or a repeat inside the same one); adjacent duplicated windows merge
    * into spans. This is the Spark-shaped stand-in for a suffix array —
    * corpora dedupe repeated PASSAGES (licence blocks, navigation chrome,
    * quoted tweets) that whole-document near-dup never sees.
    *
    * Output, one row per doc with ≥ 1 window (docs shorter than n words
    * have nothing to audit — same absence semantics as [[shingles]]):
    * (doc_id, n_windows, n_dup, dup_frac, n_spans, longest_span_tokens).
    * `longest_span_tokens` counts TOKENS covered (windows + n - 1).
    *
    * Scale shape: positional windows are NOT distinct'd (position is the
    * payload), hashed to 8-byte xxhash64 keys, and localCheckpoint'd —
    * the expensive shingling projection runs once and feeds all three
    * consumers (occurrence count, flag join, per-doc totals). Occurrence
    * counting is one map-side-combined hash shuffle; the flag join is a
    * shuffle join on the same 8-byte key against the occ ≥ 2 slice —
    * deliberately a JOIN and not a collect_list-per-gram, because a
    * degenerate hot gram (a million repeats of boilerplate) would build a
    * million-struct row under collect_list but is just a large join
    * fan-out here, which AQE splits. The span merge is the classic
    * gaps-and-islands rewrite (pos - row_number), windowed PER DOC — state
    * bounded by document length, never corpus size. */
  def dupSpans(docs: DataFrame, n: Int): DataFrame = {
    require(n >= 1, s"dupSpans: n must be >= 1, got $n")
    // the positional-shingle projection feeds both the gram count and the
    // flag join — materialize it once (same rationale as jaccardPairs)
    val sh = posShingles(docs, n).auditedCheckpoint()
    dupSpansFrom(sh, dupGramsFrom(sh), n)
  }

  /** Positional (NOT distinct'd — position is the payload) n-gram windows
    * as (doc_id, pos, h) with h = xxhash64 of the window text. Same
    * generator-child and short-doc guards as [[shingles]]. */
  private def posShingles(docs: DataFrame, n: Int): DataFrame = {
    val ws = col("ws")
    docs.select(col("doc_id"), TextAnalysis.tokens(col("text")).as("ws"))
      .select(col("doc_id"),
        posexplode(when(size(ws) >= n,
          transform(sequence(lit(0), size(ws) - n),
            i => concat_ws(" ", (0 until n).map(k => get(ws, i + lit(k))): _*)))
          .otherwise(array().cast("array<string>"))).as(Seq("pos", "s")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        xxhash64(col("s")).as("h"))
  }

  private def dupGramsFrom(sh: DataFrame): DataFrame =
    sh.groupBy("h").agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2L).select("h")

  /** FIT side of the frozen form: the corpus's duplicated-gram set (h) —
    * persist it and audit/gate increments against it with
    * [[dupSpansFrozen]], the daily-crawl shape where the historical corpus
    * is never re-shingled. */
  def dupGramFit(docs: DataFrame, n: Int): DataFrame =
    dupGramsFrom(posShingles(docs, n))

  /** APPLY side: the [[dupSpans]] card for `docs` against a FROZEN
    * duplicated-gram set. STREAMING-LEGAL: shingling is a stateless
    * projection, the flag join is stream-static (no join state), and the
    * span merge is one per-doc aggregation — replay == batch asserted in
    * StreamingSpec. */
  def dupSpansFrozen(docs: DataFrame, dupGrams: DataFrame, n: Int): DataFrame =
    dupSpansFrom(posShingles(docs, n), dupGrams, n)

  /** Shared tail: flag windows against the gram set (LEFT join — clean
    * docs keep their rows) and fold each doc's sorted duplicated positions
    * into span stats with an `aggregate` HOF. Deliberately NOT the
    * gaps-and-islands row_number window: the HOF form is one corpus
    * shuffle lighter (no window exchange), its per-doc state is bounded by
    * document length, and it stays legal under streaming aggregation where
    * window functions do not. */
  private def dupSpansFrom(sh: DataFrame, dupGrams: DataFrame, n: Int): DataFrame = {
    val folded = aggregate(
      col("ps"), // sorted by the aggregation below
      struct(lit(-2L).as("prev"), lit(0L).as("spans"),
        lit(0L).as("cur"), lit(0L).as("best")),
      (acc, p) => {
        val cont = p === acc("prev") + lit(1L)
        val cur = when(cont, acc("cur")).otherwise(lit(0L)) + lit(1L)
        struct(p.as("prev"),
          (acc("spans") + when(cont, lit(0L)).otherwise(lit(1L))).as("spans"),
          cur.as("cur"), greatest(acc("best"), cur).as("best"))
      })
    sh.join(dupGrams.select(col("h"), lit(1L).as("__dup")), Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(coalesce(col("__dup"), lit(0L))).as("n_dup"),
        sort_array(collect_list(when(col("__dup") === 1L, col("pos")))).as("ps"))
      .select(col("doc_id"), col("n_windows"), col("n_dup"),
        graft.functions.ScalarOps.r4(
          col("n_dup").cast("double") / col("n_windows")).as("dup_frac"),
        folded("spans").as("n_spans"),
        when(folded("best") > 0L, folded("best") + lit(n - 1L))
          .otherwise(lit(0L)).as("longest_span_tokens"))
  }

  /** Gate form of [[dupSpans]]: keep documents whose duplicated-window
    * fraction stays ≤ `maxFrac` (docs shorter than n words carry no
    * evidence and are KEPT). Left-join + filter, so the corpus frame
    * passes through with its full schema. */
  def dupSpanGate(docs: DataFrame, n: Int, maxFrac: Double): DataFrame =
    docs.join(dupSpans(docs, n).select("doc_id", "dup_frac"), Seq("doc_id"), "left")
      .filter(coalesce(col("dup_frac"), lit(0.0)) <= maxFrac)
      .drop("dup_frac")

  /** ASYMMETRIC shingle-containment pairs: c(A → B) = |S(A) ∩ S(B)| /
    * |S(A)| — "how much of A lives inside B". Resemblance (Jaccard)
    * misses subset reuse: a paragraph quoted whole inside a long article
    * scores near-zero Jaccard (the union is huge) but containment ≈ 1 —
    * the Broder distinction. Directed output (da = contained side, db =
    * container): each unordered overlap yields both directions, filtered
    * independently, so A ⊂ B surfaces even when B ⊄ A.
    *
    * Same machinery and scale posture as [[jaccardPairs]] — one
    * materialized shingle relation, equi-join on the 8-byte shingle hash,
    * count joins — and the same exact-but-quadratic-per-hot-shingle
    * caveat: this is the oracle ground truth; at 100 TB derive candidate
    * pairs from [[minhashCandidates]] and compute containment only on
    * candidates. */
  def containmentPairs(docs: DataFrame, n: Int, minC: Double): DataFrame = {
    val sh = shingles(docs, n).select(col("doc_id"), xxhash64(col("s")).as("s"))
      .auditedCheckpoint()
    val cnt = sh.groupBy("doc_id").agg(count("*").as("n_sh"))
    val common = sh.as("a")
      .join(sh.as("b"), col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("x"), col("b.doc_id").as("y"))
      .agg(count("*").as("c"))
    // both directions from one undirected overlap count
    val directed = common.select(col("x").as("da"), col("y").as("db"), col("c"))
      .union(common.select(col("y").as("da"), col("x").as("db"), col("c")))
    directed
      .join(cnt.select(col("doc_id").as("da"), col("n_sh").as("na")), "da")
      .select(col("da"), col("db"),
        (col("c").cast("double") / col("na")).as("containment"))
      .filter(col("containment") >= minC)
  }

  /** The 100 TB containment path: bottom-k sketch probing. MinHash-LSH
    * CANNOT serve here — its bands recall by RESEMBLANCE, and the pairs
    * containment exists for (small A quoted inside large B) have
    * near-zero resemblance by construction. Instead each document's k
    * smallest shingle hashes form a probe sketch (a uniform sample of
    * S(A) — hashes are exchangeable, so the bottom-k is unbiased); the
    * probes equi-join the corpus shingle index and the per-(A, B) hit
    * fraction estimates c(A → B) with ~1/√k error. Docs with ≤ k
    * shingles probe their FULL set, so their estimate is exact.
    *
    * Per-doc sketch state is TRULY bounded by k: the sketch aggregates
    * through [[graft.functions.BottomK]], a k-slot-heap
    * TypedImperativeAggregate with map-side partial aggregation — never
    * `collect_list`, whose buffer is the whole shingle set before any
    * slice. The probe join is an 8-byte-hash equi-join fanning out k rows
    * per document, not |S(A)|. Estimator accuracy and recall vs
    * [[containmentPairs]] are asserted in CurationOpsSpec. */
  def containmentCandidates(docs: DataFrame, n: Int, k: Int, minC: Double): DataFrame = {
    require(k >= 1, s"containmentCandidates: k must be >= 1, got $k")
    val sh = shingles(docs, n).select(col("doc_id"), xxhash64(col("s")).as("s"))
      .auditedCheckpoint()
    // NOTE on AQE: the sketch's shuffle is tiny BY DESIGN (k longs per
    // doc), and AQE's partition coalescer sizes the next stage by those
    // bytes — at the 1 MB default minPartitionSize it collapsed the stage
    // that merges the partials, explodes k probes per doc and joins the
    // corpus index down to 1-3 tasks (measured 2-3x wall at sf0.1 with
    // executor time unchanged). The engine floors
    // spark.sql.adaptive.coalescePartitions.minPartitionSize at 64k
    // (Engine.session) so cheap-input/expensive-compute stages keep their
    // width; parallelism must follow the corpus, not the sketch.
    val sk = sh.groupBy("doc_id")
      .agg(graft.functions.BottomK.bottom_k(col("s"), k).as("__probe"),
        count(lit(1)).as("__na"))
    sk.select(col("doc_id").as("da"), col("__na"), explode(col("__probe")).as("s"))
      .join(sh.select(col("doc_id").as("db"), col("s")), Seq("s"))
      .filter(col("da") =!= col("db"))
      .groupBy("da", "db", "__na")
      .agg(count(lit(1)).as("__hits"))
      .select(col("da"), col("db"),
        (col("__hits").cast("double") / least(col("__na"), lit(k.toLong)))
          .as("containment_est"))
      .filter(col("containment_est") >= minC)
  }

  /** FIT side of the frozen containment form: the corpus shingle index
    * `(db, s)` — persist it once and probe every increment against it with
    * [[containmentCandidatesFrozen]] without re-shingling history (the
    * [[dupGramFit]] / [[cdcSharedFit]] pattern applied to subset reuse:
    * the shape a recurring crawl runs daily). */
  def containmentIndexFit(docs: DataFrame, n: Int): DataFrame =
    shingles(docs, n).select(col("doc_id").as("db"), xxhash64(col("s")).as("s"))

  /** APPLY side: bottom-k containment probes of `increment` against a
    * FROZEN corpus shingle index — c(A → B) for A in the increment, B in
    * the indexed corpus. Same estimator as [[containmentCandidates]], but
    * the probe sketch derives ROW-WISE (each document's distinct shingle
    * array sorts and slices inside one projection — a document is one
    * row, so no aggregation is needed to see its whole shingle set): zero
    * shuffles before the probe join, vs the exploded-relation form's
    * sketch shuffle. [[graft.functions.BottomK]] remains the right tool
    * when the input is ALREADY an exploded (doc, hash) relation — here
    * the un-exploded row is in hand, so the projection wins.
    *
    * The probe join is stream-static and the only stateful op is the
    * keyed hit count, so the operator is STREAMING-LEGAL — replay ==
    * batch asserted in StreamingSpec. Self-pairs are dropped when the
    * increment overlaps the indexed corpus. */
  def containmentCandidatesFrozen(increment: DataFrame, index: DataFrame,
                                  n: Int, k: Int, minC: Double): DataFrame = {
    require(k >= 1, s"containmentCandidatesFrozen: k must be >= 1, got $k")
    val probes = shingleSets(increment, n)
      .select(col("doc_id").as("da"),
        least(size(col("sh")).cast("long"), lit(k.toLong)).as("__nk"),
        explode(slice(array_sort(transform(col("sh"), s => xxhash64(s))),
          1, k)).as("s"))
    probes.join(index, Seq("s"))
      .filter(col("da") =!= col("db"))
      .groupBy("da", "db", "__nk")
      .agg(count(lit(1)).as("__hits"))
      .select(col("da"), col("db"),
        (col("__hits").cast("double") / col("__nk")).as("containment_est"))
      .filter(col("containment_est") >= minC)
  }

  /** Cross-snapshot agreement certificate (the qe58c idea on the FROZEN
    * path): exact directed containment of `increment` docs inside `corpus`
    * docs, re-scored by the frozen-index sketch, flagged
    * `within_bound = |c_est − c_exact| ≤ 2/√k` per pair. The oracle emits
    * the exact increment→corpus pairs with literal TRUE, so BOTH the
    * frozen apply plan's recall and its estimator accuracy are
    * driver-certified. The exact side is the certification anchor; the
    * production path is [[containmentCandidatesFrozen]] alone. */
  def containmentFrozenAgreement(increment: DataFrame, corpus: DataFrame,
                                 n: Int, k: Int, minC: Double): DataFrame = {
    // refuse a vacuous configuration BEFORE the expensive argument
    // evaluates: the corpus index build below is an EAGER checkpoint, and
    // Scala evaluates it before the callee's own require could throw —
    // the most expensive job in the query would run just to be refused
    requireAgreementNonVacuous(k, minC)
    containmentFrozenAgreementIndexed(increment,
      containmentIndexFit(corpus, n).auditedCheckpoint(), n, k, minC)
  }

  private def requireAgreementNonVacuous(k: Int, minC: Double): Unit = {
    val bound = 2.0 / math.sqrt(k.toDouble)
    require(bound < minC,
      s"containment agreement: 2/sqrt(k) = $bound >= minC = $minC — the " +
        "certificate would be vacuous (a pair the sketch misses entirely " +
        "still scores within_bound); raise k above (2/minC)^2")
  }

  /** [[containmentFrozenAgreement]] against an ALREADY-MATERIALIZED corpus
    * shingle index — the form the registered qe58d runs, with the index a
    * persisted [[graft.Artifacts]] parquet table: history is shingled once
    * at fit time and both the exact certification side and the sketch probe
    * read the same artifact scan. */
  def containmentFrozenAgreementIndexed(increment: DataFrame, shB: DataFrame,
                                        n: Int, k: Int, minC: Double): DataFrame = {
    requireAgreementNonVacuous(k, minC)
    val bound = 2.0 / math.sqrt(k.toDouble)
    val shA = shingles(increment, n).select(col("doc_id"), xxhash64(col("s")).as("s"))
      .auditedCheckpoint()
    val cnt = shA.groupBy("doc_id").agg(count("*").as("n_sh"))
    val exact = shA.as("a").join(shB.as("b"), Seq("s"))
      .filter(col("doc_id") =!= col("db"))
      .groupBy(col("doc_id").as("da"), col("db"))
      .agg(count("*").as("c"))
      .join(cnt.select(col("doc_id").as("da"), col("n_sh").as("na")), "da")
      .select(col("da"), col("db"),
        (col("c").cast("double") / col("na")).as("containment"))
      .filter(col("containment") >= minC)
    val est = containmentCandidatesFrozen(increment, shB, n, k,
      math.max(0.0, minC - bound))
    exact.join(est, Seq("da", "db"), "left")
      .select(col("da"), col("db"), col("containment"),
        col("containment_est").isNotNull.as("est_found"),
        (abs(coalesce(col("containment_est"), lit(0.0)) - col("containment"))
          <= lit(bound)).as("within_bound"))
  }

  /** Estimator-quality certificate for the bottom-k containment sketch:
    * every pair the EXACT form ([[containmentPairs]]) surfaces, re-scored
    * by the sketch ([[containmentCandidates]]), with a per-pair
    * `within_bound` flag asserting |c_est − c_exact| ≤ 2/√k. The
    * hypergeometric estimator's std is ≤ 0.5/√k, so 2/√k is a ≥4σ bound —
    * on deterministic hashes it holds for every pair, and the flag column
    * lets the DRIVER's oracle certify it (the oracle emits the exact pairs
    * with a literal TRUE flag; any pair the sketch misses or mis-scores
    * hash-mismatches loudly instead of hiding in a ScalaTest-only claim).
    *
    * Scale shape: exactly the union of the two ingredients' plans — the
    * candidate side stays a bounded-k probe join; the exact side is the
    * oracle anchor, so this query belongs to the sf-small certification
    * tier, not the 100 TB production path. */
  def containmentAgreement(docs: DataFrame, n: Int, k: Int, minC: Double): DataFrame =
    containmentAgreementFrom(containmentPairs(docs, n, minC), docs, n, k, minC)

  /** [[containmentPairs]] as a persisted fit artifact — the exact anchor
    * the qe58c certificate re-scores ([[persistedJaccardPairs]] contract:
    * computed once per corpus fingerprint, a parquet read thereafter). */
  def persistedContainmentPairs(docs: DataFrame, dataPath: String,
                                n: Int, minC: Double): DataFrame = {
    val spark = docs.sparkSession
    val key = graft.Artifacts.fitKey(spark, Seq(dataPath), s"n$n-c$minC")
    graft.Artifacts.getOrFit(spark, "containment_pairs", key,
      containmentPairs(docs, n, minC))
  }

  /** [[containmentAgreement]] against a caller-supplied exact anchor
    * (e.g. the persisted artifact) — one body so the inline and
    * anchor-persisted forms cannot drift. `exact` must be the
    * containmentPairs(docs, n, minC) frame; the bound/threshold algebra
    * below depends on that contract. BY-NAME so the vacuity refusal
    * fires before the anchor is built: a persisted anchor's getOrFit is
    * EAGER, and a rejected configuration must not first pay (and write)
    * the full exact self-join. */
  def containmentAgreementFrom(exact: => DataFrame, docs: DataFrame,
                               n: Int, k: Int, minC: Double): DataFrame = {
    val bound = 2.0 / math.sqrt(k.toDouble)
    require(bound < minC,
      s"containment agreement: 2/sqrt(k) = $bound >= minC = $minC — the " +
        "certificate would be vacuous (a pair the sketch misses entirely " +
        "still scores within_bound); raise k above (2/minC)^2")
    // candidate threshold minC − bound: anything the exact form keeps but
    // the sketch scores below that violates the bound anyway, so no
    // agreeing pair can be lost to the candidate filter
    val est = containmentCandidates(docs, n, k, math.max(0.0, minC - bound))
    // est_found is emitted EXPLICITLY (not folded into the coalesce): a
    // pair the sketch misses entirely is a visible FALSE that the oracle's
    // literal TRUE hash-mismatches on, rather than a silent 0.0 that only
    // fails when it also lands outside the bound
    exact.join(est, Seq("da", "db"), "left")
      .select(col("da"), col("db"), col("containment"),
        col("containment_est").isNotNull.as("est_found"),
        (abs(coalesce(col("containment_est"), lit(0.0)) - col("containment"))
          <= lit(bound)).as("within_bound"))
  }

  /** Chunk-level duplication card over CONTENT-DEFINED chunks
    * ([[TextAnalysis.chunkCdc]]): per document, how many of its chunks
    * also appear in at least one OTHER document. Because CDC boundaries
    * are local-content-stable, a passage shared between two document
    * versions chunks identically in both regardless of surrounding edits
    * — so this catches cross-version content reuse that whole-document
    * and fixed-stride chunk hashing both miss (the [[dupSpans]] signal at
    * chunk granularity, cheap enough to run on every snapshot).
    *
    * Scale shape: chunking is a shuffle-free projection (materialized
    * once — it feeds both the occurrence count and the flag join); the
    * shared-chunk set derives from a distinct + count on the 32-hex md5
    * key; the flag join is LEFT (clean docs keep rows) and the tail is
    * one per-doc aggregation. All shuffles are hash-key equi-shuffles. */
  def cdcDupCard(docs: DataFrame, target: Int): DataFrame = {
    val ch = TextAnalysis.chunkCdc(docs, target).auditedCheckpoint()
    cdcDupCardFrom(ch, sharedFrom(ch))
  }

  private def sharedFrom(ch: DataFrame): DataFrame =
    ch.select("doc_id", "chunk_md5").distinct()
      .groupBy("chunk_md5").agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") >= 2L)
      .select("chunk_md5")

  /** FIT side of the frozen form: the corpus's cross-document shared-chunk
    * set — persist it and audit increments with [[cdcDupCardFrozen]]
    * without re-chunking history (the [[dupGramFit]] pattern at chunk
    * granularity). */
  def cdcSharedFit(docs: DataFrame, target: Int): DataFrame =
    sharedFrom(TextAnalysis.chunkCdc(docs, target))

  /** APPLY side: the [[cdcDupCard]] for `docs` against a FROZEN
    * shared-chunk set. STREAMING-LEGAL: chunking is a stateless
    * projection, the flag join is stream-static, and the tail is one
    * per-doc aggregation — replay == batch asserted in StreamingSpec. */
  def cdcDupCardFrozen(docs: DataFrame, shared: DataFrame, target: Int): DataFrame =
    cdcDupCardFrom(TextAnalysis.chunkCdc(docs, target), shared)

  private def cdcDupCardFrom(ch: DataFrame, shared: DataFrame): DataFrame =
    ch.join(shared.select(col("chunk_md5"), lit(1L).as("__sh")), Seq("chunk_md5"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(coalesce(col("__sh"), lit(0L))).as("n_shared"))
      .select(col("doc_id"), col("n_chunks"), col("n_shared"),
        graft.functions.ScalarOps.r4(
          col("n_shared").cast("double") / col("n_chunks")).as("shared_frac"))

  /** SimHash near-dup pairs: block on 16-bit chunks (two pairs within
    * hamming distance d share a chunk when d < 4 chunks), verify with
    * `bit_count(xor) <= maxHamming`. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    // the 16-bit/4-chunk pigeonhole only guarantees a shared chunk for
    // hamming <= 3: a larger bound would SILENTLY lose every pair whose
    // four chunks all differ — refuse loudly (the bandBuckets discipline)
    // rather than return a result that claims more than the blocking finds
    require(maxHamming >= 0 && maxHamming <= 3,
      s"simhashPairs: 4-chunk blocking guarantees recall only for " +
        s"maxHamming <= 3, got $maxHamming — widen the blocking before raising it")
    val sig = simhash64(docs)
    val chunked = sig.select(col("doc_id"), col("simhash"), posexplode(array(
      (0 until 4).map(c => shiftright(col("simhash"), c * 16).bitwiseAND(0xFFFFL)): _*))
      .as(Seq("chunk", "ck")))
    chunked.as("a")
      .join(chunked.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.ck") === col("b.ck") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }
}
