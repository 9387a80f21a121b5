package graft.operators

import graft.PlanCapture.CheckpointOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark decontamination (SURVEY.md §2.4 extension): flag corpus
  * documents that share any word n-gram with a benchmark/eval document set —
  * the standard overlap check training pipelines run so evaluation data
  * never leaks into the training corpus.
  *
  * Scale shape: the benchmark side is tiny relative to a 100 TB corpus
  * (eval suites are thousands of documents), so its distinct shingle set is
  * broadcast and the corpus side never shuffles for the probe — shingling
  * is a codegen'd projection, the join is a BroadcastHashJoin, and the only
  * shuffle is the per-doc hit count over matching shingles (a vanishing
  * fraction of the corpus). Contamination detection is therefore one linear
  * scan of the corpus.
  */
object Decontaminate {

  /** Per-corpus-doc contamination evidence: (doc_id, n_hits) where n_hits
    * counts DISTINCT word n-grams the doc shares with any benchmark doc.
    * Docs with no overlap are absent (inner probe). Runs unchanged on a
    * streaming `corpus` (Update mode): shingling is stateless, the
    * benchmark probe is a stream-static join, and only the per-doc count
    * holds state. */
  def contamination(corpus: DataFrame, benchmark: DataFrame, n: Int): DataFrame = {
    val c = Dedup.shingles(corpus, n)
    val b = Dedup.shingles(benchmark, n).select("s").distinct()
    c.join(broadcast(b), "s")
      .groupBy("doc_id").agg(count("*").as("n_hits"))
  }

  /** The decontaminated corpus: drop every document sharing any n-gram
    * with the benchmark set (anti-join on the evidence). */
  def clean(corpus: DataFrame, benchmark: DataFrame, n: Int): DataFrame =
    corpus.join(contamination(corpus, benchmark, n), Seq("doc_id"), "left_anti")

  /** Case- and punctuation-folded text: lowercase, every run of
    * characters outside [a-z0-9] collapsed to one space. The
    * normalization layer production decontamination applies BEFORE
    * shingling — a benchmark answer quoted with different casing,
    * smart quotes, or stray punctuation ("The answer is 42." vs
    * "the answer is 42") shares zero EXACT shingles but is still
    * leakage. One definition; the oracle mirrors it with
    * `regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')`. */
  def normalizedText(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(lower(c), "[^a-z0-9]+", " ")

  /** [[contamination]] over NORMALIZED shingles — the robust overlap
    * check (case/punctuation-insensitive). Same scale shape: the
    * normalization is one more codegen'd projection on each side; the
    * benchmark stays broadcast-sized.
    *
    * NOT a strict superset of [[contamination]]'s hits: folding catches
    * disguised leakage exact shingles miss, but it can also DROP an
    * exact hit — a matched window containing a punctuation-only token
    * ("&", "—") folds below n tokens and stops shingling (and two
    * n-grams differing only in such a token fold together, changing
    * DISTINCT counts). The two checks are complementary; a maximal
    * decontamination pass runs BOTH and unions the evidence, which is
    * what production pipelines do (each check is one linear scan). */
  def contaminationNormalized(corpus: DataFrame, benchmark: DataFrame, n: Int): DataFrame = {
    def norm(df: DataFrame) =
      df.select(col("doc_id"), normalizedText(col("text")).as("text"))
    contamination(norm(corpus), norm(benchmark), n)
  }

  /** Bloom-pre-filtered form of [[contamination]] — IDENTICAL results (the
    * exact-join verify removes the bloom's false positives; blooms have no
    * false negatives), different scale envelope: the corpus scan probes a
    * megabyte-sized sketch of the benchmark shingles (a codegen'd map-only
    * predicate, [[graft.functions.BloomMightContain]]) and only the tiny
    * surviving slice reaches a join at all.
    *
    * When to prefer it over [[contamination]]'s broadcast-exact-set probe:
    * the bloom is ~10-20x smaller than the exact distinct string set (~1.2
    * bytes/shingle at 1% fpp vs full shingle text + hash-set overhead), so
    * it stays shippable when the benchmark outgrows the broadcast budget —
    * and the verify join's probe side is then contamination-sized, not
    * corpus-sized, so AQE is free to pick any join strategy for it. The
    * sketch is built DISTRIBUTED (partial blooms OR-merged via
    * treeAggregate inside `stat.bloomFilter`), never by collecting
    * shingles to the driver. */
  def contaminationBloom(corpus: DataFrame, benchmark: DataFrame, n: Int,
                         fpp: Double = 0.01): DataFrame = {
    import graft.functions.BloomMightContain.bloom_might_contain
    val b = Dedup.shingles(benchmark, n).select("s").distinct()
      .auditedCheckpoint() // feeds sizing + build + verify: shingle once
    val expected = math.max(b.count(), 64L)
    val bloom = b.stat.bloomFilter("s", expected, fpp)
    val candidates = Dedup.shingles(corpus, n)
      .filter(bloom_might_contain(col("s"), bloom))
    candidates.join(b, "s") // tiny probe side post-bloom; AQE picks the strategy
      .groupBy("doc_id").agg(count("*").as("n_hits"))
  }

  /** Per-document overlap FRACTION against a reference corpus — the audit
    * form of [[contamination]]: for every subject doc, what share of its
    * distinct word n-grams also occurs anywhere in `reference`. Run
    * test-split-vs-train-split it is the leakage audit published before a
    * training run; run corpus-vs-benchmark it grades contamination severity
    * instead of the boolean any-hit flag (pipelines gate on thresholds like
    * "≥ 80% of the doc's 13-grams seen" rather than a single collision).
    * Output: (doc_id, n_sh, n_leaked, leak_frac) — one row per subject doc
    * that has at least one shingle (docs shorter than n words have no
    * shingle set to audit, same absence semantics as [[Dedup.shingles]]).
    *
    * Scale shape: unlike [[contamination]], the reference side here is
    * corpus-sized (a train split), so nothing broadcasts: both sides
    * shuffle ONCE on an 8-byte `xxhash64(shingle)` key (≈ 2.5x less
    * shuffle I/O than the ~20-byte shingle strings; a false merge needs a
    * 64-bit collision between two shingles of one doc — n²/2^64, the same
    * accepted odds as [[Dedup.jaccardPairs]]). The left join preserves
    * non-leaked shingles so ONE pass yields both the total and the hit
    * count — no second aggregate over the subject side, no checkpoint.
    *
    * Runs unchanged on a STREAMING subject (the qe26b audit in-flight):
    * the reference shingle set is the static side of a stream-static left
    * join, so no join state accumulates and the only streaming state is
    * the per-doc count pair — replay == batch asserted in StreamingSpec. */
  def overlapFraction(subject: DataFrame, reference: DataFrame, n: Int): DataFrame = {
    val sub = Dedup.shingles(subject, n)
      .select(col("doc_id"), xxhash64(col("s")).as("h"))
    val ref = Dedup.shingles(reference, n)
      .select(xxhash64(col("s")).as("h")).distinct()
      .withColumn("__hit", lit(1L))
    sub.join(ref, Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_leaked"))
      .select(col("doc_id"), col("n_sh"), col("n_leaked"),
        graft.functions.ScalarOps.r4(
          col("n_leaked").cast("double") / col("n_sh")).as("leak_frac"))
  }
}
