package graft.operators

import graft.PlanCapture.CheckpointOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lexical retrieval over the document corpus — the term-based complement
  * to the embedding ANN operators ([[Similarity]]/[[IvfIndex]]): an
  * inverted-postings view of the corpus plus BM25 top-k scoring of a small
  * query set. This is the "find the training docs that mention X" primitive
  * a curation pipeline runs constantly (targeted decontamination probes,
  * eval-leak investigations, corpus spot-audits).
  *
  * Scale shape (the whole point):
  *  - `postings` is ONE map-side-combined hash shuffle over the tokenized
  *    corpus — the same shape as a word count; no sorts, no windows.
  *  - Scoring touches only the postings SLICE matching some query term: the
  *    tiny distinct-term frame broadcasts and rides the corpus scan as a
  *    hash-probe filter, so corpus bytes never shuffle for terms no query
  *    asked about. The slice materializes once (localCheckpoint) and feeds
  *    BOTH the df (document-frequency) aggregate and the scoring branch —
  *    the corpus is tokenized and shuffled ONCE per call (pinned in
  *    PlanSpec: one corpus-scan subtree in the scoring plan).
  *  - Per-query top-k goes through a rank window that Spark rewrites into
  *    WindowGroupLimit (partial top-k per map partition BEFORE the
  *    shuffle, Spark 3.5+ InferWindowGroupLimit) — a hot query term never
  *    funnels its full candidate list through one task unbounded.
  *  - All floating-point contributions quantize to scaled integers before
  *    the per-(query, doc) sum: long addition is associative, so the score
  *    is bit-identical under any partitioning (same pattern as
  *    [[EmbedQuality]]'s centroid sums) and oracle-checkable.
  *
  * Reference tie-in: the reference has no retrieval surface at all — its
  * closest analogue is the HKO module's substring place-filter
  * (`/root/reference/src/modules/hko/hko.cpp:100-118`), a one-record
  * `strcmp` scan. BM25 is the standard public formulation (Robertson &
  * Spärck Jones; the +1 idf variant popularized by Lucene).
  */
object Retrieval {

  /** Inverted postings: one row per (term, doc_id) with term frequency and
    * document length. `dl` rides the groupBy keys (functionally dependent
    * on doc_id) so no second join is needed to recover it. */
  def postings(docs: DataFrame): DataFrame =
    docs.filter(TextAnalysis.hasTokens(col("text")))
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("__ws"))
      .select(col("doc_id"), size(col("__ws")).cast("long").as("dl"),
        explode(col("__ws")).as("term"))
      .groupBy("term", "doc_id", "dl")
      .agg(count(lit(1)).as("tf"))

  /** BM25 top-k docs per query. `queries` is a SMALL frame
    * (qid: long, qtext: string) — it broadcasts; the corpus side never
    * does. Scores round to 4 decimals after an exact scaled-integer sum;
    * ties break by doc_id. Output: (qid, doc_id, score, rnk), rnk 1..k.
    *
    * The idf is the Lucene-style non-negative variant
    * ln((N - df + 0.5)/(df + 0.5) + 1): with the raw Robertson idf a
    * term in >half the corpus scores negative, and a doc repeating it
    * would be PENALIZED below docs not containing it at all. */
  def bm25TopK(docs: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"bm25TopK: k must be >= 1, got $k")
    val (k1, b) = (1.2, 0.75) // the standard BM25 saturation and length weights
    val post = postings(docs)

    // corpus stats: exact long token sum / long doc count -> one 1-row
    // broadcast (the scale-safe global-aggregate join shape). avg() is NOT
    // used: Spark averages integral columns over an exact long partial sum
    // while other engines may accumulate doubles — sum/count is the form
    // both engines compute identically.
    //
    // This IS a second tokenize pass over the corpus — deliberately: it
    // projects only text, map-side aggregates to ONE row, and never
    // shuffles. The alternatives are worse at scale: deriving (n_docs,
    // avgdl) from `post` would re-run the postings exchange in this
    // action (the slice's localCheckpoint below runs in its OWN action,
    // so the exchange is not reusable here), and checkpointing the full
    // postings or the tokenized corpus to share one pass is exactly the
    // corpus-sized materialization the slice checkpoint exists to avoid.
    // "Tokenized once" below refers to the postings/scoring path.
    val base = docs.filter(TextAnalysis.hasTokens(col("text")))
      .select(TextAnalysis.tokenCount(col("text")).as("dl"))
    val stats = base.agg(
      count(lit(1)).cast("double").as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))

    // (qid, term): distinct terms PER QUERY — BM25 sums each term once
    val qt = queries.select(col("qid"),
      explode(array_distinct(TextAnalysis.tokens(col("qtext")))).as("term"))
    val qterms = qt.select("term").distinct()

    // postings slice: only terms some query mentions survive the scan.
    // localCheckpoint materializes it ONCE — the df aggregate below and
    // the scoring branch both consume it, and without the checkpoint
    // Catalyst prunes tf from the df branch, the canonicalized subplans
    // diverge, ReuseExchange can't fire, and the corpus is tokenized and
    // shuffled TWICE (observed in the executed plan). The slice is the
    // query-term-restricted sliver of the postings, bounded by
    // |queried terms| · df — checkpointable where the postings are not.
    val slice = post.join(broadcast(qterms), Seq("term")).auditedCheckpoint()

    // document frequency per (queried) term — tiny output, broadcast back
    val dfc = slice.groupBy("term").agg(count(lit(1)).cast("double").as("df_t"))

    val num = col("tf") * lit(k1 + 1.0)
    val den = col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))
    val idf = log((col("n_docs") - col("df_t") + lit(0.5)) / (col("df_t") + lit(0.5)) + lit(1.0))
    val scored = slice
      .join(broadcast(dfc), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("c6", floor(idf * num / den * lit(1e6) + lit(0.5)).cast("long"))

    // attach qids (a term can serve several queries), exact long sum per
    // (query, doc), then per-query top-k via the rank window Spark turns
    // into WindowGroupLimit (partial top-k before the shuffle)
    val perQ = scored.join(broadcast(qt), Seq("term"))
      .groupBy("qid", "doc_id")
      .agg(sum(col("c6")).as("s6"))
    val w = Window.partitionBy("qid").orderBy(col("s6").desc, col("doc_id"))
    perQ.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("doc_id"),
        graft.functions.ScalarOps.r4(col("s6").cast("double") / lit(1e6)).as("score"),
        col("rnk"))
  }

  /** Hybrid retrieval: BM25 candidate generation re-ranked by embedding
    * cosine — the standard two-stage "lexical recall, semantic precision"
    * stack (BM25 → dense rerank, as popularized by public IR systems;
    * cf. Lin et al., Pyserini). `embeddings` is (vec_id, embedding) keyed
    * by the same id space as `docs.doc_id`; candidates without an
    * embedding row drop out of the rerank (inner join — both engines
    * agree), and a query doc without an embedding contributes no output.
    *
    * Scale shape: stage 1 is [[bm25TopK]] (corpus tokenized/shuffled
    * once). Stage 2 never shuffles the embedding corpus: the candidate
    * list (|queries|·kLex rows) and the query-vector slice are both tiny
    * and BROADCAST onto one embeddings scan; scoring is the fused codegen
    * CosineSim kernel; final top-k is the WindowGroupLimit rank window
    * over |queries|·kLex scored rows. Ranking uses the RAW cosine
    * (bit-identical in both engines — the qe3 contract), rounding only on
    * output. */
  def hybridTopK(docs: DataFrame, embeddings: DataFrame, queries: DataFrame,
                 k: Int, kLex: Int): DataFrame = {
    require(k >= 1, s"hybridTopK: k must be >= 1, got $k")
    require(kLex >= k, s"hybridTopK: kLex ($kLex) must be >= k ($k) — " +
      "stage 1 must supply at least as many candidates as stage 2 returns")
    // materialized (r18): `lex` is |queries|·kLex rows, but un-truncated
    // the whole stage-1 BM25 tree (the 387-line qe28b plan: postings
    // shuffle, stats, window) planned and codegen'd INSIDE the rerank's
    // broadcast exchange. The checkpoint runs stage 1 as its own small
    // plan and the rerank broadcasts a tiny materialized scan — same
    // rows, one plan boundary at the natural candidate hand-off (guide
    // §3.3: materialize intermediates to truncate very wide plans).
    val lex = bm25TopK(docs, queries, kLex).select(col("qid"), col("doc_id"))
      .auditedCheckpoint()
    val qv = embeddings.join(broadcast(queries.select("qid").distinct()),
        col("vec_id") === col("qid"))
      .select(col("qid"), col("embedding").as("qv"))
    val cv = embeddings.select(col("vec_id").as("doc_id"), col("embedding").as("cv"))
    val scored = cv.join(broadcast(lex), "doc_id")
      .join(broadcast(qv), "qid")
      .select(col("qid"), col("doc_id"),
        graft.functions.CosineSim.cosine_sim(col("qv"), col("cv")).as("cos"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("doc_id"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("doc_id"),
        graft.functions.ScalarOps.r4(col("cos")).as("cos"), col("rnk"))
  }

  /** Per-source distinctive terms — tf·idf where each SOURCE (domain) is
    * the pseudo-document: tf = term occurrences inside the source, idf =
    * ln(n_sources / n_sources_containing_term). The "what characterizes
    * this domain" report a curation run publishes next to the data card
    * (and the input to stopword induction: terms near idf 0 are
    * corpus-wide boilerplate). Output: (source, term, tf, score, rnk),
    * rnk 1..k per source, ties by term.
    *
    * Scale shape: tf is ONE map-side-combined hash shuffle (the word-count
    * shape — |sources|·|vocab| out, corpus-size in). The source-frequency
    * frame aggregates off the materialized tf slice (vocab-sized, NOT
    * broadcast-pinned: corpus vocab can exceed the driver; AQE broadcasts
    * small fits), and the distinct-source count is a 1-row broadcast.
    * Idf quantizes to a scaled long BEFORE multiplying by the exact tf, so
    * scores are bit-identical under any partitioning; per-source top-k
    * goes through the rank window Spark rewrites to WindowGroupLimit —
    * partial top-k per map partition, no global sort.
    *
    * tf materializes ONCE (localCheckpoint) for the same reason as the
    * BM25 postings slice: unmaterialized, the df_s aggregate and the
    * scoring branch each re-derive the full tokenize+shuffle. */
  def domainTerms(docs: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"domainTerms: k must be >= 1, got $k")
    val tf = docs.filter(TextAnalysis.hasTokens(col("text")))
      .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("tf"))
      .auditedCheckpoint()
    // sources containing the term; df_s <= n_src so idf >= 0 always
    val dfs = tf.groupBy("term").agg(count(lit(1)).cast("double").as("df_s"))
    val nsrc = tf.select("source").distinct()
      .agg(count(lit(1)).cast("double").as("n_src"))
    val c6 = floor(log(col("n_src") / col("df_s")) * lit(1e6) + lit(0.5))
      .cast("long") * col("tf")
    val w = Window.partitionBy("source").orderBy(col("c6").desc, col("term"))
    tf.join(dfs, Seq("term"))
      .crossJoin(broadcast(nsrc))
      .withColumn("c6", c6)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("source"), col("term"), col("tf"),
        graft.functions.ScalarOps.r4(col("c6").cast("double") / lit(1e6)).as("score"),
        col("rnk"))
  }
}
