package graft.operators

import graft.PlanCapture.CheckpointOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline (SURVEY.md §2.4 E4):
  * tokenization, quality stats, n-gram-heuristic language ID, document
  * fingerprinting. All pure built-in column expressions — codegen'd,
  * shuffle-free per-row transforms that scale linearly with input splits.
  */
object TextAnalysis {

  /** Whitespace tokenizer dropping empty tokens (stable across engines). */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => length(t) > 0)

  /** Token count (long). */
  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** BPE-ish sub-word count: word pieces + digits + punctuation as separate
    * tokens (regex approximation of a byte-pair tokenizer's pre-split). */
  def bpeishCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0))).cast("long")

  /** Punctuation-character ratio — quality-scoring signal. Empty text is
    * 0.0, not an ANSI DIVIDE_BY_ZERO: the in-file caller guards via
    * hasTokens, but this is a public helper and the zero case must not
    * depend on every call site remembering the filter. */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0))
      .otherwise(length(regexp_replace(text, "[^.!?,;:]", "")).cast("double") / length(text))

  /** Per-document stats frame: doc_id, n_tokens, avg_token_len, punct_ratio.
    * Tokens materialize behind their own projection: column-level helpers
    * would re-run the regex split once per consumer (interpreted HOFs get
    * no CSE — 3 splits/row measured before this shape). */
  /** "Has at least one token" scan gate: true iff the text contains any
    * non-whitespace character — EXACTLY size(tokens(text)) > 0, evaluable
    * at the scan without tokenizing. The previous `length(trim(text)) > 0`
    * gate was WRONG for tab/newline-only docs (SQL trim strips only
    * spaces): they passed the gate, tokenized to [], and crashed the
    * ANSI ratio math / sequence() downstream. Oracle twin:
    * `regexp_matches(text, '\\S')` (same fix applied to every oracle). */
  def hasTokens(text: Column): Column = text.rlike("\\S")

  def textStats(docs: DataFrame): DataFrame = {
    val ws = col("__ws")
    docs
      // zero-token / empty docs would hit ANSI DIVIDE_BY_ZERO in the ratio
      // columns; the hasTokens scan predicate excludes them cheaply
      // (same pushdown-safe gate repetitionStats uses)
      .filter(hasTokens(col("text")))
      .select(col("doc_id"), col("text"), tokens(col("text")).as("__ws"))
      .select(
        col("doc_id"),
        size(ws).cast("long").as("n_tokens"),
        graft.functions.ScalarOps.r4(
          aggregate(ws, lit(0L), (acc, t) => acc + length(t)).cast("double") / size(ws))
          .as("avg_token_len"),
        graft.functions.ScalarOps.r4(punctRatio(col("text"))).as("punct_ratio"))
  }

  /** Stopword marker sets for the n-gram-heuristic language ID. Tiny on
    * purpose: the heuristic must be expressible identically in the DuckDB
    * oracle. Ties break by the fixed en→de→es→fr priority; no hits → "und". */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "de" -> Seq("der", "die", "und", "ist", "das"),
    "es" -> Seq("el", "los", "es", "y", "que"),
    "fr" -> Seq("le", "les", "est", "et", "des"))

  private def markerHits(ws: Column, markers: Seq[String]): Column =
    size(filter(ws, t => t.isInCollection(markers))).cast("long")

  /** Language-ID guess per document: doc_id, lang_guess.
    * Deterministic argmax with fixed priority order. Tokens materialize
    * behind one projection so the four marker filters share a single regex
    * split (interpreted HOFs get no CSE — 4 splits/row otherwise). */
  def langId(docs: DataFrame): DataFrame = {
    val scored = docs
      .select(col("doc_id"), tokens(col("text")).as("__ws"))
      .select(
        col("doc_id") +: LangMarkers.map { case (l, ms) => markerHits(col("__ws"), ms).as(s"s_$l") }: _*)
    val Seq(en, de, es, fr) = LangMarkers.map { case (l, _) => col(s"s_$l") }
    scored.select(
      col("doc_id"),
      // coalesce: a NULL text yields NULL marker scores, every when-arm
      // is NULL (skipped), and the row would fall through to the
      // catch-all "fr" — a null document must be "und", not French
      when(coalesce(greatest(en, de, es, fr), lit(0L)) === 0, lit("und"))
        .when(en >= de && en >= es && en >= fr, lit("en"))
        .when(de >= es && de >= fr, lit("de"))
        .when(es >= fr, lit("es"))
        .otherwise(lit("fr"))
        .as("lang_guess"))
  }

  /** Text normalization for dedup/training: lowercase, collapse internal
    * whitespace runs, trim — the canonical form fed to exact dedup so
    * case/spacing variants collapse (all codegen'd built-ins). */
  def normalize(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** Gopher-style repetition quality signals (Rae et al. 2021 §A1.1 public
    * filter family): per doc, the duplicate-word fraction, the mass of the
    * single most frequent word, and the duplicate-bigram fraction — heavy
    * repetition marks boilerplate/spam for the quality gate.
    *
    * Shuffle-free by design: all three signals are per-row array math, so
    * at 100 TB this is a linear scan with no exchange at all (the
    * groupBy-per-word alternative costs two shuffles). The three signals
    * come from [[graft.functions.RepetitionKernel]] — ONE compiled pass
    * with two hash tables per row; the HOF composition it replaced
    * ([[repetitionStatsHof]], kept as the equality-tested reference) is
    * CodegenFallback, interpreted per element. */
  def repetitionStats(docs: DataFrame): DataFrame = {
    val r4 = graft.functions.ScalarOps.r4 _
    val st = col("__st")
    docs
      .filter(hasTokens(col("text")))
      .select(col("doc_id"),
        graft.functions.RepetitionStatsExpr.repetition_stats(tokens(col("text"))).as("__st"))
      .select(
        col("doc_id"),
        r4(st.getField("dup_word_frac")).as("dup_word_frac"),
        r4(st.getField("top_word_frac")).as("top_word_frac"),
        r4(st.getField("dup_2gram_frac")).as("dup_2gram_frac"))
  }

  /** Per-document token-distribution entropy: (doc_id, n_tok, n_types,
    * entropy) — the concentration signal next to [[repetitionStats]]'s
    * duplication fractions (and the type count gives type/token ratio for
    * free). One shuffle-free codegen scan via
    * [[graft.functions.EntropyKernel]]; an explode + groupBy formulation
    * would shuffle every token in the corpus to compute a per-row number.
    * The aggregate twin ([[tokenEntropyAgg]]) is that shuffling form,
    * kept as the bit-equality reference. */
  def tokenEntropy(docs: DataFrame): DataFrame = {
    val st = col("__st")
    docs
      .filter(hasTokens(col("text")))
      .select(col("doc_id"),
        graft.functions.TokenEntropyExpr.token_entropy(tokens(col("text"))).as("__st"))
      .select(
        col("doc_id"),
        st.getField("n_tok").as("n_tok"),
        st.getField("n_types").as("n_types"),
        graft.functions.ScalarOps.r4(st.getField("entropy")).as("entropy"))
  }

  /** The explode + groupBy twin of [[tokenEntropy]] — same quantized-term
    * math through Spark's aggregate path instead of the kernel, so the
    * per-(doc, term) contributions arrive in a different order and the
    * scaled-long sum proves order independence (asserted bit-equal in
    * CurationOpsSpec). */
  private[graft] def tokenEntropyAgg(docs: DataFrame): DataFrame = {
    val tc = docs.filter(hasTokens(col("text")))
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"))
    tc.withColumn("c6",
        floor(col("tf").cast("double") * log(col("tf").cast("double")) * lit(1e6) + lit(0.5)).cast("long"))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_tok"), count(lit(1)).as("n_types"),
        sum(col("c6")).as("c6"))
      .select(col("doc_id"), col("n_tok"), col("n_types"),
        graft.functions.ScalarOps.r4(
          (log(col("n_tok").cast("double")) - col("c6").cast("double") / lit(1e6) / col("n_tok").cast("double"))
            / lit(Math.log(2.0))).as("entropy"))
  }

  /** Overlapping token-window chunks: each doc splits into windows of
    * `width` tokens starting every `stride` tokens (stride < width ⇒
    * overlap of width − stride), the RAG/context-window prep step that
    * turns documents into model-sized passages. Output (doc_id, chunk_id,
    * n_tok, chunk_text); trailing chunks may be short.
    *
    * Pure per-row explode — no shuffle, no state: output partitioning
    * inherits the scan's, so a downstream repartition is the consumer's
    * choice, not a tax this operator imposes. */
  def chunk(docs: DataFrame, width: Int, stride: Int): DataFrame = {
    require(width >= 1, s"chunk: width must be >= 1, got $width")
    require(stride >= 1 && stride <= width,
      s"chunk: stride must be in [1, width=$width], got $stride")
    docs
      .filter(hasTokens(col("text")))
      .select(col("doc_id"), tokens(col("text")).as("__ws"))
      // the start sequence stops at the FIRST window reaching the document
      // end (upper bound size - width + stride - 1, clamped at 0): starts
      // running all the way to size-1 would emit trailing windows that are
      // strict suffixes of the previous chunk — zero new tokens, duplicated
      // passage content inflating n_tok accounting and dup pressure
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0),
            greatest(lit(0), size(col("__ws")) - width + stride - 1), lit(stride)),
          st => slice(col("__ws"), st + 1, lit(width)))).as(Seq("chunk_id", "__ct")))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        size(col("__ct")).cast("long").as("n_tok"),
        array_join(col("__ct"), " ").as("chunk_text"))
  }

  /** Content-defined chunking: a chunk boundary falls AFTER token i iff
    * the token's own hash ≡ 0 (mod `target`) — so boundaries are a pure
    * function of LOCAL content and expected chunk length is ~`target`
    * tokens. Unlike [[chunk]]'s fixed stride, editing a document's prefix
    * cannot move any boundary after the edit region (the rsync/LBFS
    * property, asserted by a seeded ScalaCheck suite) — chunk-level dedup
    * across document versions stays stable under insertions.
    *
    * The boundary hash is the first 8 md5 hex digits (an engine-portable
    * integer — the [[graft.operators.Sampling]] md5-priority idiom), NOT
    * xxhash64, so a SQL oracle can reproduce the exact boundaries. Output
    * (doc_id, chunk_idx, n_tok, chunk_md5); like [[chunk]] a pure per-row
    * explode — no shuffle, no state, streaming-legal as a projection. */
  def chunkCdc(docs: DataFrame, target: Int): DataFrame = {
    require(target >= 2, s"chunkCdc: target must be >= 2, got $target")
    val ws = col("__ws")
    // boundary positions strictly inside the doc (a cut at position p
    // means tokens p+1.. start a new chunk); sequence(1, n-1) only when
    // n > 1 — Spark's sequence(1, 0) would count DOWN, not return empty
    val bpos = when(size(ws) > 1,
      filter(sequence(lit(1), size(ws) - 1),
        i => conv(substring(md5(get(ws, i - 1)), 1, 8), 16, 10)
          .cast("long") % target === 0))
      .otherwise(array().cast("array<int>"))
    docs
      .filter(hasTokens(col("text")))
      .select(col("doc_id"), tokens(col("text")).as("__ws"))
      // stage the boundary scan behind its OWN alias: __st and __en both
      // reference it, and an inlined copy would run the interpreted
      // md5-per-token filter twice per row (CollapseProject keeps
      // multiply-referenced non-cheap aliases at their project boundary —
      // the qe5p lesson)
      .withColumn("__bp", bpos)
      .withColumn("__st", concat(array(lit(0)), col("__bp")))
      .withColumn("__en", concat(col("__bp"), array(size(ws))))
      .select(col("doc_id"),
        posexplode(zip_with(col("__st"), col("__en"),
          (a, b) => struct((b - a).cast("long").as("n_tok"),
            md5(array_join(slice(ws, a + 1, b - a), " ")).as("chunk_md5"))))
          .as(Seq("chunk_idx", "__c")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("__c.n_tok").as("n_tok"), col("__c.chunk_md5").as("chunk_md5"))
  }

  /** The composable HOF twin of [[repetitionStats]] — the readable
    * reference form the kernel must match bit-for-bit (asserted in
    * CurationOpsSpec). */
  private[graft] def repetitionStatsHof(docs: DataFrame): DataFrame = {
    val ws = col("ws")
    val bigrams = transform(sequence(lit(0), size(ws) - 2),
      i => concat_ws(" ", get(ws, i), get(ws, i + lit(1))))
    val withArrays = docs
      // the "has at least one token" gate must be CHEAP under pushdown: a
      // size(ws) >= 1 filter above the tokenize projection would be
      // predicate-pushed through it and re-run the regex split per row at
      // the scan (verified in the plan); hasTokens is the exact same row
      // set as a codegen'd scan predicate
      .filter(hasTokens(col("text")))
      .select(col("doc_id"), tokens(col("text")).as("ws"))
      .select(col("doc_id"), ws,
        when(size(ws) >= 2, bigrams).otherwise(array().cast("array<string>")).as("bg"))
    val bg = col("bg")
    val r4 = graft.functions.ScalarOps.r4 _
    // max word frequency as the longest run in the SORTED token array: one
    // O(n) aggregate pass instead of the O(distinct·n) nested
    // filter-per-distinct-word lambda (HOFs are interpreted; the quadratic
    // form measured ~4x slower at sf0.1)
    val maxRun = aggregate(sort_array(ws),
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (acc, w) => {
        val run = when(w === acc.getField("prev"), acc.getField("run") + 1).otherwise(lit(1))
        struct(w.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    withArrays.select(
      col("doc_id"),
      r4(lit(1.0) - size(array_distinct(ws)).cast("double") / size(ws)).as("dup_word_frac"),
      r4(maxRun.cast("double") / size(ws)).as("top_word_frac"),
      r4(when(size(bg) > 0,
        lit(1.0) - size(array_distinct(bg)).cast("double") / size(bg)).otherwise(0.0))
        .as("dup_2gram_frac"))
  }

  /** PII scrub patterns, applied IN ORDER (email first: an address would
    * otherwise leave its digit-bearing tail to the phone pattern). Kept to
    * RE2-compatible syntax (no lookaround) so the DuckDB oracle runs the
    * exact same regexes. */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "([0-9]{1,3}\\.){3}[0-9]{1,3}" -> "<IP>",
    "\\+?[0-9][0-9 ()-]{8,}[0-9]" -> "<PHONE>")

  /** Per-doc scrub + redaction audit: doc_id, text_clean, n_redactions.
    * Pure codegen'd regexp_replace/extract chain — a shuffle-free linear
    * scan at any scale.
    * Counts are taken stage-wise on the text state each pattern actually
    * saw (counting all patterns against the raw text would double-count a
    * phone-looking digit run inside an email address). */
  def piiScrub(docs: DataFrame): DataFrame = {
    val staged = PiiPatterns.zipWithIndex.foldLeft(
      docs.select(col("doc_id"), col("text").as("__t0"), lit(0L).as("__c0"))) {
      case (df, ((re, tag), i)) =>
        df.select(col("doc_id"),
          regexp_replace(col(s"__t$i"), lit(re), lit(tag)).as(s"__t${i + 1}"),
          (col(s"__c$i") + size(regexp_extract_all(col(s"__t$i"), lit(re), lit(0))))
            .as(s"__c${i + 1}"))
    }
    val n = PiiPatterns.size
    staged.select(col("doc_id"), col(s"__t$n").as("text_clean"),
      col(s"__c$n").cast("long").as("n_redactions"))
  }

  /** Corpus-wide top-k word n-grams: (gram, cnt), count descending with
    * gram as the deterministic tie-break — the corpus-statistics pass a
    * pipeline runs before choosing filters (boilerplate discovery, stopword
    * induction, contamination-shingle hot-spots).
    *
    * Scale shape: n-gram construction is a codegen'd projection; the count
    * is ONE hash shuffle with map-side partial aggregation (gram
    * cardinality ≪ gram occurrences at corpus scale); top-k is
    * TakeOrdered (k rows per partition to the driver), never a global
    * sort. */
  def topNgrams(docs: DataFrame, n: Int, k: Int): DataFrame = {
    require(n >= 1 && k >= 1, s"need n >= 1 and k >= 1, got n=$n k=$k")
    val ws = col("__ws")
    docs
      .filter(hasTokens(col("text")))
      .select(tokens(col("text")).as("__ws"))
      .select(explode(when(size(ws) >= n,
        transform(sequence(lit(0), size(ws) - n),
          i => concat_ws(" ", (0 until n).map(j => get(ws, i + lit(j))): _*)))
        .otherwise(array().cast("array<string>"))).as("gram"))
      .groupBy("gram").agg(count("*").as("cnt"))
      .orderBy(col("cnt").desc, col("gram"))
      .limit(k)
  }

  /** Corpus-derived stopword induction: the `k` terms appearing in the
    * most documents (document frequency, ties by term — fully
    * deterministic at the cutoff). The FIT half of the Gopher-style
    * stopword-ratio gate: run once per corpus snapshot, persist the tiny
    * (term, df) frame like a QuantileGate threshold. One map-side-combined
    * hash shuffle on term; top-k via orderBy+limit → TakeOrdered, never a
    * global sort. */
  def stopwordFit(docs: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"stopwordFit: k must be >= 1, got $k")
    docs.filter(hasTokens(col("text")))
      .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("term"))
      .limit(k)
  }

  /** Stopword-ratio quality signal (the Gopher rule: real prose carries a
    * floor of function words; machine lists and gibberish don't): per doc
    * the fraction of tokens — WITH multiplicity — that are corpus
    * stopwords. APPLY half of the fit/apply split: the frozen stopword
    * frame broadcasts onto one exploded-token pass, one groupBy(doc_id).
    * Streaming-legal as-is (stream-static broadcast join + a single
    * aggregation — the [[LmScore.nllStream]] shape); replay == batch is
    * asserted in StreamingSpec. */
  def stopwordRatio(docs: DataFrame, stopwords: DataFrame): DataFrame = {
    val sw = broadcast(stopwords.select(col("term"), lit(1L).as("__is")))
    docs.filter(hasTokens(col("text")))
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .join(sw, Seq("term"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"),
        sum(coalesce(col("__is"), lit(0L))).as("n_stop"))
      .select(col("doc_id"), col("n_tok"), col("n_stop"),
        graft.functions.ScalarOps.r4(
          col("n_stop").cast("double") / col("n_tok")).as("stop_ratio"))
  }

  /** Fit on the corpus, apply to the same corpus — the self-audit form. */
  def stopwordRatioSelf(docs: DataFrame, k: Int): DataFrame =
    stopwordRatio(docs, stopwordFit(docs, k))

  /** Frozen-vocabulary induction: the `k` terms with the highest TOTAL
    * occurrence count (term frequency — the closed-vocab criterion, vs
    * [[stopwordFit]]'s document frequency), ties by term. Fit half of the
    * out-of-vocabulary card. */
  def vocabFit(docs: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"vocabFit: k must be >= 1, got $k")
    docs.filter(hasTokens(col("text")))
      .select(explode(tokens(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("term"))
      .limit(k)
  }

  /** Per-source out-of-vocabulary rate against a FROZEN vocab — with
    * [[fertility]], the two cards a tokenizer team reads before committing
    * to a vocab: which domains fall outside it and by how much. Token
    * occurrences (with multiplicity) outside `vocab` count as OOV; one
    * broadcast join + one map-side-combined groupBy(source); exact long
    * sums, the rate derived once from the sums. */
  def oovRate(docs: DataFrame, vocab: DataFrame): DataFrame = {
    val vw = broadcast(vocab.select(col("term"), lit(1L).as("__in")))
    docs.filter(hasTokens(col("text")))
      .select(col("source"), explode(tokens(col("text"))).as("term"))
      .join(vw, Seq("term"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_tok"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("source"), col("n_tok"), col("n_oov"),
        graft.functions.ScalarOps.r4(
          col("n_oov").cast("double") / col("n_tok")).as("oov_rate"))
  }

  /** Per-source term-distribution DRIFT vs the corpus over a FROZEN top-k
    * vocabulary ([[vocabFit]] or any persisted (term, tf) frame):
    * KL(source ‖ corpus) and Jensen–Shannon divergence, in nats, both
    * distributions renormalized within the vocabulary set. The
    * distribution-shift tripwire a curation run watches between corpus
    * snapshots — OOV says how much of a source the vocab misses,
    * driftCard says how differently the source USES the vocab it shares.
    *
    * Scale shape: the k-row vocab (and its one-row mass total) broadcast;
    * the corpus takes one exploded-token pass with one map-side-combined
    * shuffle on (source, term); everything after operates on <= sources×k
    * rows. Divergence terms are folded per source over the term-sorted
    * array (an `aggregate` HOF, k-bounded state) so the double sums have
    * ONE deterministic order — partition-order-independent, like the
    * entropy card. JS handles vocab terms a source never uses via the
    * closed form: each missing term contributes q·ln 2, i.e.
    * ln 2 · (1 − Σ_present q). KL needs no such term (p = 0 contributes
    * 0), and q > 0 for every vocab term by construction, so both
    * divergences are finite. */
  def driftCard(docs: DataFrame, vocab: DataFrame): DataFrame =
    driftFromCounts(termCounts(docs, vocab), vocab)

  /** The STATEFUL half of [[driftCard]], exposed for streaming: in-vocab
    * occurrence counts per (source, term) — ONE map-side-combined
    * aggregation whose key space (and so whose streaming state) is
    * bounded by sources × k, never corpus size. Run it in complete mode
    * against a frozen vocab and feed the upserted result table to
    * [[driftFromCounts]] per micro-batch — chaining the second (tiny)
    * aggregation into the same streaming query would trip Spark's
    * global-watermark correctness check. Replay == batch asserted in
    * StreamingSpec. */
  def termCounts(docs: DataFrame, vocab: DataFrame): DataFrame = {
    val vw = broadcast(vocab.select(col("term"), col("tf").as("__nw")))
    docs.filter(hasTokens(col("text")))
      .select(col("source"), explode(tokens(col("text"))).as("term"))
      .join(vw, Seq("term")) // inner: drift is measured within the vocab
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("__nsw"), max(col("__nw")).as("__nw"))
  }

  /** The fold tail of [[driftCard]] over a (source, term, __nsw, __nw)
    * counts frame — sources × k rows, so this is driver-cheap wherever it
    * runs. */
  def driftFromCounts(sw: DataFrame, vocab: DataFrame): DataFrame = {
    val nset = broadcast(vocab.agg(sum(col("tf")).as("__nset")))
    val perSrc = sw.groupBy("source")
      .agg(sum(col("__nsw")).as("__ns"),
        sort_array(collect_list(struct(col("term"), col("__nsw"), col("__nw"))))
          .as("__ts"))
      .crossJoin(nset)
    val folded = aggregate(
      col("__ts"),
      struct(lit(0.0).as("kl"), lit(0.0).as("js"), lit(0.0).as("qcov")),
      (acc, t) => {
        val p = t("__nsw").cast("double") / col("__ns").cast("double")
        val q = t("__nw").cast("double") / col("__nset").cast("double")
        val m = (p + q) / lit(2.0)
        struct(
          (acc("kl") + p * log(p / q)).as("kl"),
          (acc("js") + p * log(p / m) + q * log(q / m)).as("js"),
          (acc("qcov") + q).as("qcov"))
      })
    perSrc.select(col("source"), col("__ns").as("n_tokens"),
      graft.functions.ScalarOps.r4(folded("kl")).as("kl_vs_corpus"),
      graft.functions.ScalarOps.r4(
        lit(0.5) * folded("js")
          + lit(0.5) * log(lit(2.0)) * (lit(1.0) - folded("qcov")))
        .as("js_vs_corpus"))
  }

  /** Fit on the corpus, drift the corpus's own sources — the self-audit
    * form (the registered qe54). */
  def driftCardSelf(docs: DataFrame, k: Int): DataFrame =
    driftCard(docs, vocabFit(docs, k))

  /** Per-source lexical diversity: token volume, distinct-term count, and
    * type-token ratio (distinct/total — collapsing it flags template spam
    * and boilerplate floods before any model sees them). EXACT form: the
    * distinct count is a two-level aggregation ((source, term) with
    * map-side combine, then source) — plan-transparent, no `Expand` node,
    * and the oracle twin. At 100 TB the (source, term) shuffle carries
    * the full vocabulary; prefer [[lexicalDiversityApprox]]. */
  def lexicalDiversity(docs: DataFrame): DataFrame =
    docs.filter(hasTokens(col("text")))
      .select(col("source"), explode(tokens(col("text"))).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("__tf"))
      .groupBy("source")
      .agg(sum(col("__tf")).as("n_tok"), count(lit(1)).as("n_terms"))
      .select(col("source"), col("n_tok"), col("n_terms"),
        graft.functions.ScalarOps.r4(
          col("n_terms").cast("double") / col("n_tok")).as("ttr"))

  /** The 100 TB twin: HyperLogLog++ distinct terms (5% relative error)
    * in ONE map-side-combined shuffle on source with O(1) sketch state
    * per group — the vocabulary never shuffles. Deterministic for fixed
    * input (register merges are order-independent max), but approximate →
    * register rows-only; CurationOpsSpec pins it within tolerance of the
    * exact card. */
  def lexicalDiversityApprox(docs: DataFrame): DataFrame =
    docs.filter(hasTokens(col("text")))
      .select(col("source"), explode(tokens(col("text"))).as("term"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_tok"),
        approx_count_distinct(col("term"), 0.05).as("n_terms"))
      .select(col("source"), col("n_tok"), col("n_terms"),
        graft.functions.ScalarOps.r4(
          col("n_terms").cast("double") / col("n_tok")).as("ttr"))

  /** Per-source corpus data card — the summary table a curation run
    * publishes alongside its output (docs, token volume, length profile,
    * language spread per source). ONE map-side-combined hash shuffle on
    * `source`; the median is the exact `percentile` aggregate (the oracle
    * twin — at 100 TB swap in `approx_percentile`, the t-digest sketch,
    * whose memory is O(1) per group instead of O(group)). avg_tok is an
    * exact long sum / long count — never a double-accumulated mean. */
  def corpusCard(docs: DataFrame): DataFrame =
    docs.filter(hasTokens(col("text")))
      .select(col("source"), col("lang"), tokenCount(col("text")).as("n_tok"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("total_tok"),
        graft.functions.ScalarOps.r4(
          sum(col("n_tok")).cast("double") / count(lit(1))).as("avg_tok"),
        countDistinct(col("lang")).as("n_langs"),
        graft.functions.ScalarOps.r4(expr("percentile(n_tok, 0.5)")).as("p50_tok"))

  /** Tokenizer-fertility report per source: chars per (BPE-ish) token and
    * sub-tokens per whitespace word — the metric a pipeline publishes when
    * choosing/validating a tokenizer per domain (high fertility = the
    * tokenizer fragments this domain's text; code and non-Latin domains
    * are the classic offenders). Exact long sums per source (ONE map-side-
    * combined shuffle), ratios computed once from the sums — never an
    * averaged average. */
  def fertility(docs: DataFrame): DataFrame =
    docs.filter(hasTokens(col("text")))
      .select(col("source"), length(col("text")).cast("long").as("n_ch"),
        tokenCount(col("text")).as("n_w"), bpeishCount(col("text")).as("n_b"))
      .groupBy("source")
      .agg(sum("n_ch").as("n_chars"), sum("n_w").as("n_ws"),
        sum("n_b").as("n_bpeish"),
        graft.functions.ScalarOps.r4(
          sum("n_ch").cast("double") / sum("n_b")).as("chars_per_tok"),
        graft.functions.ScalarOps.r4(
          sum("n_b").cast("double") / sum("n_w")).as("toks_per_word"))

  /** Document fingerprint (md5 of text) + per-fingerprint duplicate count.
    * Null-text documents are dropped EXPLICITLY (md5(NULL) is NULL and
    * the equi-join would silently never match them — the filter declares
    * the semantics instead of hiding them in join null behavior). At
    * 100 TB the count is one hash-shuffled aggregate over fingerprints
    * (vocab-of-texts cardinality) joined back onto the doc scan — skew
    * only if one exact text dominates, which exact-dedup removes first. */
  def fingerprints(docs: DataFrame): DataFrame = {
    val withFp = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), md5(col("text")).as("fp"))
    val byFp = withFp.groupBy("fp").agg(count(lit(1)).as("fp_dups"))
    withFp.join(byFp, "fp")
      .select(col("doc_id"), col("fp"), col("fp_dups"))
  }

  /** Per-document top-`k` keywords by TF-IDF — the keyword/tag extraction
    * pass a curation pipeline runs for topic routing and domain-mix
    * accounting. Ratio idf (`score_ppm = floor(tf * 1e6 * N / df)` in
    * IEEE double) instead of the textbook `tf * ln(N/df)`: the ranking
    * signal is the same (monotone in both tf and N/df) and double
    * multiply/divide is deterministic IEEE round-to-nearest in every
    * engine, so the oracle reproduces it bit-for-bit — `ln` is
    * correctly-rounded nowhere and a last-ulp divergence at a rank
    * boundary would flip the emitted row set. Double, not long,
    * arithmetic: the integer form `tf * 1000000 * N` overflows int64 at
    * ~1e10 docs — an ANSI ARITHMETIC_OVERFLOW at exactly the corpus
    * scale this operator is designed for. Ties break on the word.
    *
    * Scale shape: ONE hash shuffle builds tf(doc, word) with map-side
    * combine; df and N derive from that frame (vocab ≪ corpus — df is a
    * second small aggregate, N a scalar). The idf side then BROADCASTS
    * back onto tf (the fit/apply pattern: the corpus-sized frame never
    * re-shuffles; at vocabularies past broadcast size, swap the hint for a
    * shuffle join on `word` — the tf frame is already word-keyed). The
    * rank window rewrites to WindowGroupLimit: partial top-k per map
    * partition before the per-doc shuffle. */
  def tfidfTopK(docs: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"tfidfTopK: k must be >= 1, got $k")
    // tf feeds THREE consumers (scoring join, df aggregate, N aggregate):
    // unmaterialized, column pruning makes the canonicalized subplans
    // diverge so ReuseExchange never fires and the corpus tokenize+shuffle
    // runs three times (the bm25TopK/domainTerms observation) — pin it
    val tf = docs.filter(hasTokens(col("text")))
      .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      .auditedCheckpoint()
    val idf = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val n = tf.agg(countDistinct(col("doc_id")).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score_ppm").desc, col("word"))
    tf.join(broadcast(idf), "word")
      .crossJoin(broadcast(n))
      .withColumn("score_ppm",
        floor(col("tf").cast("double") * lit(1000000.0) * col("n") / col("df"))
          .cast("long"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select("doc_id", "word", "tf", "score_ppm", "rnk")
  }
}
