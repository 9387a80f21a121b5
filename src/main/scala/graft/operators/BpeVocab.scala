package graft.operators

import graft.PlanCapture.CheckpointOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BPE-style tokenizer-vocabulary induction (SURVEY.md §2.4 extension):
  * learn merge rules from corpus statistics — the data-pipeline side of
  * training a subword tokenizer (Sennrich et al. 2016's public algorithm).
  * Words become symbol sequences (chars + an end-of-word marker); each
  * round counts adjacent symbol pairs weighted by word frequency, merges
  * the most frequent pair everywhere, and repeats.
  *
  * Scale shape: the corpus collapses to its WORD-FREQUENCY table first
  * (one shuffle over tokens — at 100 TB the vocab is orders of magnitude
  * smaller than the corpus and is the only thing iterated), each round is
  * one pair-count aggregation (shuffle sized by distinct pairs) plus a
  * per-row symbol fold, the argmax pair comes back as a one-row driver
  * scalar (like QuantileGate's threshold), and localCheckpoint truncates
  * the iterative lineage (same pattern as DupClusters). Deterministic:
  * ties break on (count desc, pair asc) in every engine.
  */
object BpeVocab {

  /** Single source of truth with the encode kernel, so learner and
    * encoder can never disagree on the marker. */
  val EndOfWord: String = graft.functions.BpeWordEncoder.EndOfWord

  /** (word, freq) over whitespace tokens — the only corpus-sized shuffle. */
  def wordFreqs(docs: DataFrame): DataFrame =
    docs.select(explode(TextAnalysis.tokens(col("text"))).as("word"))
      .groupBy("word").agg(count("*").as("freq"))

  /** Char symbols + end-of-word marker: "the" → [t, h, e, </w>]. */
  private def symbolsCol(word: Column): Column =
    concat(filter(split(word, ""), c => length(c) > 0), array(lit(EndOfWord)))

  /** (word, freq, syms) — the iterated frame. */
  def symbolized(docs: DataFrame): DataFrame =
    wordFreqs(docs).withColumn("syms", symbolsCol(col("word")))

  /** Adjacent-pair counts weighted by word frequency: (a, b, cnt).
    * The pair array is guarded inside the projection (when → empty;
    * explode drops it) — a size filter above the symbol projection would
    * be predicate-pushed into a second per-row evaluation. */
  def pairCounts(vocab: DataFrame): DataFrame = {
    val s = col("syms")
    vocab.select(col("freq"),
      explode(when(size(s) >= 2,
        transform(sequence(lit(0), size(s) - 2),
          i => struct(get(s, i).as("a"), get(s, i + lit(1)).as("b"))))
        .otherwise(array().cast("array<struct<a:string,b:string>>"))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("freq")).as("cnt"))
  }

  /** Greedy left-to-right merge of the (a, b) pair inside one symbol
    * array: fold appending symbols, replacing a trailing `a` when `b`
    * follows. "aaa" merging (a,a) → [aa, a], the standard BPE semantics. */
  private[operators] def mergePairCol(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (out, x) => when(size(out) > 0 && element_at(out, -1) === a && x === b,
        concat(slice(out, lit(1), size(out) - 1), array(lit(a + b))))
        .otherwise(concat(out, array(x))))

  case class Merge(a: String, b: String, cnt: Long)

  /** Learn `k` merge rules; returns (rules in order, final symbolized
    * vocab). Each round: count pairs → one-row argmax to the driver →
    * rewrite symbol arrays → checkpoint. The textbook 1-merge-per-round
    * form — ~k sequential Spark jobs, so the driver round count is the
    * scale ceiling; use [[learnMergesBatched]] beyond a few hundred rules. */
  def learnMerges(docs: DataFrame, k: Int): (Seq[Merge], DataFrame) = {
    var vocab = symbolized(docs).auditedCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var i = 0
    var exhausted = false
    while (i < k && !exhausted) {
      val top = pairCounts(vocab)
        .orderBy(col("cnt").desc, col("a"), col("b")).limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val r = top.head
        val (a, b) = (r.getString(0), r.getString(1))
        merges += Merge(a, b, r.getLong(2))
        vocab = vocab.withColumn("syms", mergePairCol(col("syms"), a, b))
          .auditedCheckpoint()
      }
      i += 1
    }
    (merges.toSeq, vocab)
  }

  /** The scale form of [[learnMerges]]: up to `m` SYMBOL-DISJOINT merges
    * per round, so k = 32,000 rules is ~k/m driver rounds instead of k
    * sequential jobs (the round count — not data volume — is what kills
    * the 1-per-round form on a cluster).
    *
    * Why disjointness makes a batch sound: merging (a₁,b₁) only destroys
    * pairs that SHARE a symbol with it ((x,a₁)/(b₁,y) overlaps) and only
    * creates pairs CONTAINING the new symbol a₁b₁ — so the count of any
    * pair whose symbols (and product) are disjoint from every earlier pick
    * is exactly unchanged, and the picks apply in any order with identical
    * results. The batch diverges from the 1-per-round sequence only when a
    * pair NEWLY CREATED by pick i would out-count pick i+1 — rare in real
    * corpora (new-pair counts are bounded by the picked pair's count and
    * fall off fast); the 1-per-round form remains the reference semantics
    * and their equivalence is asserted on test corpora in CurationOpsSpec.
    *
    * Checkpoint cadence: the per-round rewrite stacks ≤ m interpreted HOF
    * folds onto the plan, so a checkpoint every 2 rounds bounds the
    * expression depth (and the lineage) at 2·m folds. */
  def learnMergesBatched(docs: DataFrame, k: Int, m: Int = 32): (Seq[Merge], DataFrame) = {
    require(m >= 1, s"merges per round must be >= 1, got $m")
    var vocab = symbolized(docs).auditedCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var exhausted = false
    var round = 0
    while (merges.size < k && !exhausted) {
      val want = math.min(m, k - merges.size)
      // bounded driver pull: enough candidates to survive the disjointness
      // filter (a hot symbol can disqualify a run of consecutive pairs)
      val cand = pairCounts(vocab)
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(want * 4 + 8).collect()
      if (cand.isEmpty) exhausted = true
      else {
        val used = scala.collection.mutable.Set.empty[String]
        val picked = scala.collection.mutable.ArrayBuffer.empty[Merge]
        val it = cand.iterator
        while (picked.size < want && it.hasNext) {
          val r = it.next()
          val (a, b) = (r.getString(0), r.getString(1))
          // the PRODUCT is reserved too: a pick whose symbol equals an
          // earlier pick's product would see occurrences that only exist
          // after that pick applies — order-dependence the batch forbids
          if (!used(a) && !used(b) && !used(a + b)) {
            used ++= Seq(a, b, a + b)
            picked += Merge(a, b, r.getLong(2))
          }
        }
        merges ++= picked
        vocab = vocab.withColumn("syms",
          picked.foldLeft(col("syms"))((c, mg) => mergePairCol(c, mg.a, mg.b)))
        round += 1
        if (round % 2 == 0) vocab = vocab.auditedCheckpoint()
      }
    }
    (merges.toSeq, vocab.auditedCheckpoint())
  }

  /** BPE ENCODE with a frozen merge list: per-document token count after
    * applying `rules` in priority order (each rule exhaustively, greedy
    * left-to-right — the contract [[mergePairCol]] implements and the
    * learner's vocab evolution uses). Shuffle-free AND codegen'd: one
    * projection through the native [[graft.functions.BpeEncodeCount]]
    * kernel (the nested-HOF fold it replaced was interpreted and
    * O(|word|²) per rule — 9.3 s → 0.4 s on the sf0.1 bench), with the
    * frozen rules riding inside the expression tree, so encoding a 100 TB
    * corpus is a map-only scan. Output: (doc_id, n_tok) — exactly what
    * [[SeqPack]] packs on. */
  def encodeCounts(docs: DataFrame, rules: Seq[(String, String)]): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.BpeEncodeCount.bpe_encode_count(
        TextAnalysis.tokens(col("text")), rules).as("n_tok"))

  /** The composable-HOF twin of [[encodeCounts]] — kept as the
    * cross-check oracle for the native kernel (CurationOpsSpec asserts
    * bit-equality on the corpus); prefer [[encodeCounts]] everywhere. */
  private[graft] def encodeCountsHof(docs: DataFrame, rules: Seq[(String, String)]): DataFrame = {
    val perWord: Column => Column = w =>
      size(rules.foldLeft(symbolsCol(w))((c, r) => mergePairCol(c, r._1, r._2)))
        .cast("long")
    docs.select(col("doc_id"),
      aggregate(TextAnalysis.tokens(col("text")), lit(0L),
        (acc, w) => acc + perWord(w)).as("n_tok"))
  }
}
