package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** The round-4 curation operators: benchmark decontamination, duplicate
  * clustering (connected components), repetition-quality stats, and the
  * domain-mixing stratified take. */
class CurationOpsSpec extends SparkTestBase {
  import spark.implicits._

  // ---- DupClusters --------------------------------------------------------

  test("connected components merge a chain into one cluster (multi-hop)") {
    // chain 1-2-3-4-5 plus disjoint pair 10-11 and a triangle 20-21-22
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (20L, 21L), (21L, 22L), (20L, 22L)).toDF("da", "db")
    val got = DupClusters.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("connected components handle a long path within the iteration budget") {
    // a 64-node path needs ~log2(64) rounds with pointer jumping, not 64
    val edges = (0L until 63L).map(i => (i, i + 1)).toDF("da", "db")
    val got = DupClusters.connectedComponents(edges).collect()
    assert(got.length == 64 && got.forall(_.getLong(1) == 0L),
      "every node of the path must resolve to the min id 0")

    // more shapes, each checked against a driver-side union-find with
    // min-id labels: a 200-leaf star whose min id is a leaf (two hops from
    // every other leaf), a complete binary tree of depth 8 whose min id is
    // a deepest leaf (16 hops from the far side), and the disjoint union of
    // both with the path
    val path = (0L until 63L).map(i => (i, i + 1))
    val star = (1000L until 1200L).map(leaf => (1200L, leaf))
    def treeId(i: Long): Long = 2000L + (510L - i) // heap order, 511 nodes
    val tree = (1L to 510L).map(i => (treeId((i - 1) / 2), treeId(i)))
    def unionFind(es: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        parent(math.max(ra, rb)) = math.min(ra, rb) // the root stays the min id
      }
      parent.keys.map(k => k -> find(k)).toMap
    }
    Seq("star" -> star, "binary tree" -> tree, "path + star + tree" -> (path ++ star ++ tree))
      .foreach { case (shape, es) =>
        val labels = DupClusters.connectedComponents(es.toDF("da", "db"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(labels == unionFind(es), s"$shape: labels differ from union-find")
      }
    assert(unionFind(star)(1199L) == 1000L && unionFind(tree)(treeId(0L)) == treeId(510L))
  }

  test("clusters() yields the canonical min-id survivor per component") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),   // dup of 1
      (3L, "alpha beta gamma delta epsilon eta"),    // near-dup of 1/2
      (9L, "totally different words entirely here now")
    ).toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairs(docs, 3, 0.5)
    val cl = DupClusters.clusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cl(1L) == 1L && cl(2L) == 1L && cl(3L) == 1L)
    assert(!cl.contains(9L), "singletons with no near-dup pair stay out of the edge set")
  }

  // ---- Decontaminate ------------------------------------------------------

  test("contamination counts shared distinct n-grams; clean drops hits") {
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "prefix the quick brown fox jumps over suffix"), // shares 5-grams
      (2L, "no overlap with anything in the benchmark set"),
      (3L, "the quick brown fox jumps over the lazy dog")   // exact copy
    ).toDF("doc_id", "text")
    val hits = Decontaminate.contamination(corpus, bench, 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 1: tokens p t q b f j o s -> 5-grams starting at t..: "the quick
    // brown fox jumps", "quick brown fox jumps over" both appear in bench
    assert(hits(1L) == 2L)
    assert(hits(3L) == 5L, "an exact copy shares every benchmark 5-gram")
    assert(!hits.contains(2L))
    val kept = Decontaminate.clean(corpus, bench, 5).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L))
  }

  test("normalized contamination catches case/punctuation-disguised leakage " +
    "exact shingles miss, and is a superset of the exact hits") {
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val corpus = Seq(
      // leakage disguised by casing, smart punctuation, and extra commas:
      // zero EXACT 5-grams in common, five normalized ones
      (1L, "The QUICK, brown fox—jumps over the lazy DOG!"),
      (2L, "no overlap with anything in the benchmark set"),
      (3L, "the quick brown fox jumps over the lazy dog") // exact copy
    ).toDF("doc_id", "text")
    val exact = Decontaminate.contamination(corpus, bench, 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(!exact.contains(1L), "exact shingles must miss the disguised copy")
    val norm = Decontaminate.contaminationNormalized(corpus, bench, 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(norm(1L) == 5L, s"normalization must recover every folded 5-gram, got $norm")
    assert(norm(3L) == 5L)
    assert(!norm.contains(2L))
    // the checks are COMPLEMENTARY, not nested: a matched window whose
    // punctuation-only token folds away drops below n tokens and stops
    // shingling — an EXACT hit the normalized check misses (which is why
    // maximal pipelines run both and union the evidence)
    val bench2 = Seq((200L, "& alpha beta gamma delta")).toDF("doc_id", "text")
    val corpus2 = Seq((10L, "& alpha beta gamma delta")).toDF("doc_id", "text")
    val exact2 = Decontaminate.contamination(corpus2, bench2, 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exact2(10L) == 1L, "exact check must flag the verbatim copy")
    assert(Decontaminate.contaminationNormalized(corpus2, bench2, 5).count() == 0,
      "folding '&' away leaves 4 tokens < n=5: no normalized shingles by design")
    // on the synthetic corpus (pure lowercase-alnum text) normalization is
    // an identity, so the two checks must agree EXACTLY — a cheap
    // end-to-end equivalence over real data
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
    val b = docs.filter(col("doc_id") % 19 === 3)
    val c = docs.filter(col("doc_id") % 19 =!= 3)
    val exactIds = Decontaminate.contamination(c, b, 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val normIds = Decontaminate.contaminationNormalized(c, b, 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(exactIds == normIds,
      s"on an already-normalized corpus the checks must coincide: ${exactIds.diff(normIds)} / ${normIds.diff(exactIds)}")
  }

  test("contamination probe broadcasts the benchmark side") {
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
    val bench = docs.filter(col("doc_id") % 19 === 3)
    val corpus = docs.filter(col("doc_id") % 19 =!= 3)
    val df = Decontaminate.contamination(corpus, bench, 5)
    df.collect() // finalize AQE
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark shingles must broadcast, got:\n$plan")
  }

  // ---- repetitionStats ----------------------------------------------------

  test("repetition kernel == composable HOF twin, bit-for-bit") {
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val corpus = spark.read.parquet(s"$Sf0001/documents.parquet")
    assert(m(TextAnalysis.repetitionStats(corpus)) == m(TextAnalysis.repetitionStatsHof(corpus)))
    // edges: single word, all-same, all-distinct, repeated bigrams, astral chars
    val edge = Seq(
      (1L, "solo"), (2L, "x x x x"), (3L, "a b c d"),
      (4L, "p q p q p q"), (5L, "😀 z 😀 z")).toDF("doc_id", "text")
    assert(m(TextAnalysis.repetitionStats(edge)) == m(TextAnalysis.repetitionStatsHof(edge)))
  }

  test("repetition stats match hand-computed fractions") {
    val docs = Seq(
      (1L, "a a b"),           // words: 3, distinct 2; top 'a' 2/3; bigrams "a a","a b" distinct
      (2L, "x x x x"),         // all same: dup 3/4, top 1.0, bigrams "x x"*3 dup 2/3
      (3L, "u v w x y")        // all unique: 0, 1/5, 0
    ).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionStats(docs).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    assert(got(0) == ((1L, 0.3333, 0.6667, 0.0)))
    assert(got(1) == ((2L, 0.75, 1.0, 0.6667)))
    assert(got(2) == ((3L, 0.0, 0.2, 0.0)))
  }

  test("repetition stats are null-safe on single-word docs") {
    val got = TextAnalysis.repetitionStats(Seq((1L, "solo")).toDF("doc_id", "text"))
      .collect().head
    assert(got.getDouble(1) == 0.0 && got.getDouble(2) == 1.0 && got.getDouble(3) == 0.0)
  }

  // ---- stratifiedTake -----------------------------------------------------

  test("stratified take honors per-group k and is deterministic + nested") {
    val df = (0L until 200L).map(i => (i, s"g${i % 4}")).toDF("id", "grp")
    val k = when(col("grp") === "g0", 3).otherwise(7)
    val take1 = Sampling.stratifiedTake(df, "grp", "id", k).collect()
      .map(r => (r.getString(1), r.getLong(0)))
    val counts = take1.groupBy(_._1).view.mapValues(_.length).toMap
    assert(counts == Map("g0" -> 3, "g1" -> 7, "g2" -> 7, "g3" -> 7))
    // deterministic across runs and partitionings
    val take2 = Sampling.stratifiedTake(df.repartition(13), "grp", "id", k).collect()
      .map(r => (r.getString(1), r.getLong(0)))
    assert(take1.toSet == take2.toSet)
    // nested: raising k only adds rows
    val bigger = Sampling.stratifiedTake(df, "grp", "id", k + lit(5)).collect()
      .map(r => (r.getString(1), r.getLong(0))).toSet
    assert(take1.toSet.subsetOf(bigger))
  }

  test("connected components on an empty edge list return an empty frame") {
    val empty = Seq.empty[(Long, Long)].toDF("da", "db")
    assert(DupClusters.connectedComponents(empty).isEmpty)
  }

  test("PPS sample fails fast on non-positive weights") {
    val df = Seq((1L, 10L), (2L, 0L)).toDF("id", "w")
    val e = intercept[Exception] {
      Sampling.ppsSample(df, "id", "w", 2).collect()
    }
    assert(e.getMessage.contains("non-positive weight") ||
      e.getCause != null && e.getCause.getMessage.contains("non-positive weight"))
  }

  test("quantile gate keeps <= exact q-quantile with ties, any partitioning") {
    // metric values: 10 rows, 0.9-quantile target rank = ceil(0.9*10) = 9;
    // sorted metrics: 0.1 x4, 0.2 x3, 0.3 x2, 0.9 x1 -> cum 4,7,9,10:
    // threshold = 0.3 (cum 9 >= 9), the 0.9 row drops, ties at 0.3 stay
    val df = Seq(
      (1L, 0.1), (2L, 0.1), (3L, 0.1), (4L, 0.1),
      (5L, 0.2), (6L, 0.2), (7L, 0.2),
      (8L, 0.3), (9L, 0.3),
      (10L, 0.9)
    ).toDF("id", "m")
    def ids(parts: Int) = QuantileGate.atOrBelow(df.repartition(parts), "m", 0.9)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids(1) == (1L to 9L).toSet)
    assert(ids(7) == (1L to 9L).toSet, "gate must not depend on partitioning")
  }

  test("clusters from LSH-verified pairs == clusters from exact pairs (scale path)") {
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
    val exact = Dedup.jaccardPairs(docs, 3, 0.5)
    val lsh = Dedup.jaccardVerify(docs, Dedup.minhashCandidates(docs), 3, 0.5)
    def cl(pairs: org.apache.spark.sql.DataFrame) =
      DupClusters.clusters(pairs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cl(lsh) == cl(exact),
      "the 100 TB edge source (LSH candidates + exact verify) must yield the same clusters")
  }

  test("qe13b composition: LSH-sourced survivors == exact-sourced survivors") {
    // the registered end-to-end fuzzy-dedup query, both edge sources: the
    // whole composition (candidates -> verify -> clusters -> anti-join
    // survivor selection) must be source-agnostic, not just the clusters
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
    def survivors(pairs: org.apache.spark.sql.DataFrame): Set[Long] = {
      val drops = DupClusters.clusters(pairs)
        .filter(col("doc_id") =!= col("cluster")).select("doc_id")
      docs.join(drops, Seq("doc_id"), "left_anti")
        .select("doc_id").collect().map(_.getLong(0)).toSet
    }
    val exact = survivors(Dedup.jaccardPairs(docs, 3, 0.5))
    val lsh = survivors(Dedup.jaccardVerify(docs, Dedup.minhashCandidates(docs), 3, 0.5))
    assert(lsh == exact, "survivor set must not depend on the edge source")
    assert(exact.size < docs.count(), "the sf0.001 corpus contains planted dups")
  }

  test("quantile gate rank uses exact decimal arithmetic (q=0.07 over 100 rows)") {
    // binary double 0.07*100 = 7.000000000000001 -> ceil 8 (wrong rank);
    // exact decimal gives rank 7: with distinct metrics 1..100 the gate
    // must keep exactly 7 rows
    val df = (1L to 100L).map(i => (i, i.toDouble)).toDF("id", "m")
    val kept = QuantileGate.atOrBelow(df, "m", 0.07).collect()
    assert(kept.length == 7, s"exact ceil(0.07*100)=7, got ${kept.length}")
  }

  test("quantile gate honors q beyond 6 decimal digits (no silent scale-6 rounding)") {
    // q=0.25000049 over distinct metrics 1..4000: exact rank is
    // ceil(0.25000049*4000) = ceil(1000.00196) = 1001; a scale-6 HALF_UP
    // rounding of q (0.250000) would give 1000 — off by one row
    val df = (1L to 4000L).map(i => (i, i.toDouble)).toDF("id", "m")
    assert(QuantileGate.atOrBelow(df, "m", 0.25000049).count() == 1001L)
    // a sub-5e-7 q must select rank 1 (the minimum), not degenerate via
    // a rounded-to-zero cutoff
    assert(QuantileGate.atOrBelow(df, "m", 1e-8).count() == 1L)
  }

  test("quantile gate excludes null metrics from population and output") {
    val df = Seq((1L, Some(0.1)), (2L, Some(0.2)), (3L, None), (4L, None),
      (5L, Some(0.3))).toDF("id", "m")
    // population = 3 non-null; q=0.67 -> ceil(2.01)=3... use 0.5: ceil(1.5)=2
    val kept = QuantileGate.atOrBelow(df, "m", 0.5)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L), s"nulls must not shift the rank, got $kept")
  }

  test("connected components fail loud when the iteration budget truncates") {
    val edges = (0L until 40L).map(i => (i, i + 1)).toDF("da", "db")
    val e = intercept[IllegalStateException] {
      DupClusters.connectedComponents(edges, maxIter = 1).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("snapshot diff classifies added/removed/changed/same null-safely") {
    val old = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "fp")
    val neu = Seq((2L, "b"), (3L, "c2"), (4L, "d")).toDF("id", "fp")
    val got = SnapshotDiff.diff(old, neu, "id", "fp").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "removed", 2L -> "same", 3L -> "changed", 4L -> "added"))
    val ch = SnapshotDiff.changes(old, neu, "id", "fp").collect()
      .map(_.getLong(0)).toSet
    assert(ch == Set(1L, 3L, 4L))
  }

  test("per-group quantile gate applies each group's own threshold") {
    // g1 metrics 1..10 (q=0.5 -> thr 5, keep 5); g2 metrics 100..104
    // (q=0.5 -> ceil(2.5)=3rd value 102, keep 3): global gating would
    // never keep any g2 row
    val df = ((1L to 10L).map(i => (i, "g1", i.toDouble)) ++
      (100L to 104L).map(i => (i, "g2", i.toDouble))).toDF("id", "grp", "m")
    val got = QuantileGate.atOrBelowPerGroup(df, "grp", "m", 0.5)
      .select("grp", "id").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == ((1L to 5L).map("g1" -> _) ++ Seq(100L, 101L, 102L).map("g2" -> _)).toSet)
  }

  // ---- BpeVocab -----------------------------------------------------------

  test("BPE merge learning recovers the dominant pair chain") {
    // corpus: "low" x5, "lower" x2, "newest" x6. Round-1 pair counts over
    // char+</w> symbols: (w,e) = 2 (lower) + 6 (newest) = 8 is the max;
    // then (l,o) = 5+2 = 7; then a 6-tie among newest's pairs where
    // (e,we) wins on (a,b) ascending order.
    val docs = Seq(
      (1L, Seq.fill(5)("low").mkString(" ")),
      (2L, Seq.fill(2)("lower").mkString(" ")),
      (3L, Seq.fill(6)("newest").mkString(" "))
    ).toDF("doc_id", "text")
    val (merges, vocab) = BpeVocab.learnMerges(docs, 3)
    assert(merges.map(m => (m.a, m.b, m.cnt)) ==
      Seq(("w", "e", 8L), ("l", "o", 7L), ("e", "we", 6L)),
      s"unexpected merge chain: $merges")
    val lowSyms = vocab.filter(col("word") === "low")
      .select("syms").head().getSeq[String](0)
    assert(lowSyms == Seq("lo", "w", "</w>"), s"low must be [lo, w, </w>], got $lowSyms")
    val newestSyms = vocab.filter(col("word") === "newest")
      .select("syms").head().getSeq[String](0)
    assert(newestSyms == Seq("n", "ewe", "s", "t", "</w>"),
      s"newest must be [n, ewe, s, t, </w>], got $newestSyms")
  }

  test("batched merge learning == 1-per-round on the hand corpus") {
    val docs = Seq(
      (1L, Seq.fill(5)("low").mkString(" ")),
      (2L, Seq.fill(2)("lower").mkString(" ")),
      (3L, Seq.fill(6)("newest").mkString(" "))
    ).toDF("doc_id", "text")
    val (seq3, seqVocab) = BpeVocab.learnMerges(docs, 3)
    val (bat3, batVocab) = BpeVocab.learnMergesBatched(docs, 3, m = 2)
    assert(bat3 == seq3, s"batched merges must equal sequential: $bat3 vs $seq3")
    def syms(v: org.apache.spark.sql.DataFrame) = v.select("word", "syms").collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(syms(batVocab) == syms(seqVocab), "final vocab state must agree")
  }

  test("batched merge learning: k=1000 in ~k/m rounds on a wide synthetic vocab") {
    // the testdata corpus carries only 31 distinct words (~138 possible
    // merges), so the scale demo runs on a deterministic synthetic vocab:
    // 1500 8-char pseudo-words -> ~13k symbols, plenty for 1000 rules
    val rnd = new scala.util.Random(7)
    val words = Seq.fill(1500)(Seq.fill(8)(('a' + rnd.nextInt(26)).toChar).mkString)
    val docs = words.grouped(100).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }.toSeq.toDF("doc_id", "text")
    val t0 = System.nanoTime()
    val (merges, _) = BpeVocab.learnMergesBatched(docs, 1000, m = 64)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(merges.size == 1000, s"expected 1000 merges, got ${merges.size}")
    assert(merges.map(mg => (mg.a, mg.b)).distinct.size == 1000, "rules must be unique")
    // ~16 driver rounds; the 1-per-round form would be 1000 sequential jobs.
    // Generous wall bound: catching a regression to per-merge pacing (which
    // measures minutes here), not benchmarking the happy path.
    assert(secs < 300, s"k=1000 batched learning took ${secs}s — driver-paced again?")
  }

  test("encodeCounts applies frozen rules in priority order, greedy per rule") {
    val docs = Seq((1L, "the the fast"), (2L, "low"), (3L, "")).toDF("doc_id", "text")
    // rules as registered in qe20b: (e,</w>) then (t,h) then (th,e</w>)
    val rules = Seq(("e", "</w>"), ("t", "h"), ("th", "e</w>"))
    val got = BpeVocab.encodeCounts(docs, rules).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // "the": t h e </w> -> t h e</w> -> th e</w> -> the</w> = 1 token;
    // "fast": f a s t </w> untouched = 5; "low": l o w </w> = 4; empty doc = 0
    assert(got == Map(1L -> 7L, 2L -> 4L, 3L -> 0L), s"got $got")
  }

  test("native BPE encode kernel == composable HOF twin on the corpus") {
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
    val rules = Seq(("e", "</w>"), ("t", "h"), ("th", "e</w>"), ("a", "n"))
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(BpeVocab.encodeCounts(docs, rules)) == m(BpeVocab.encodeCountsHof(docs, rules)),
      "codegen kernel must be bit-identical to the HOF reference form")
    // null/edge semantics mirror the HOF form too
    import spark.implicits._
    val edge = Seq((1L, Some("")), (2L, None: Option[String])).toDF("doc_id", "text")
    assert(m(BpeVocab.encodeCounts(edge, rules).na.fill(-1L)) ==
      m(BpeVocab.encodeCountsHof(edge, rules).na.fill(-1L)))
    // non-BMP: split(word,"") never splits a surrogate pair (Java regex
    // advances zero-width matches by code point), so the kernel must treat
    // an astral char as ONE symbol too — a UTF-16 charAt loop sees two
    val astral = Seq((1L, "a😀b 😀😀"),
      (2L, "𝄞xy")).toDF("doc_id", "text")
    val astralRules = rules ++ Seq(("😀", "</w>"), ("a", "😀"))
    assert(m(BpeVocab.encodeCounts(astral, astralRules)) ==
      m(BpeVocab.encodeCountsHof(astral, astralRules)),
      "kernel must iterate code points, not UTF-16 units")
  }

  test("sequence packing on real encoded tokens matches a driver-side reference") {
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
    val counts = BpeVocab.encodeCounts(docs,
      Seq(("e", "</w>"), ("t", "h"), ("th", "e</w>")))
      .withColumn("shard", col("doc_id") % 4)
    val packed = SeqPack.packSharded(counts, "shard", "doc_id", "n_tok", 512L)
      .select("shard", "doc_id", "n_tok", "bin").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(packed.nonEmpty && packed.map(_._4).max > 0, "must span several bins")
    // reference: concat-then-chunk per shard over the same (doc_id, n_tok)
    packed.groupBy(_._1).foreach { case (_, rows) =>
      var cum = 0L
      rows.sortBy(_._2).foreach { case (_, id, n, bin) =>
        assert(bin == cum / 512L, s"doc $id: bin $bin != ${cum / 512L}")
        cum += n
      }
    }
  }

  test("greedy merge fold handles overlapping pairs left-to-right") {
    val df = Seq(Tuple1(Seq("a", "a", "a"))).toDF("syms")
    val got = df.select(BpeVocab.mergePairCol(col("syms"), "a", "a").as("m"))
      .head().getSeq[String](0)
    assert(got == Seq("aa", "a"), s"greedy left-to-right expected [aa, a], got $got")
  }

  test("snapshot diff: null fingerprints classify by presence, not fp nullness") {
    val old = Seq((1L, Option("a")), (2L, None: Option[String]), (3L, None: Option[String]),
      (5L, Option("e"))).toDF("id", "fp")
    val neu = Seq((1L, Option("a")), (2L, Option("x")), (3L, None: Option[String]),
      (4L, None: Option[String])).toDF("id", "fp")
    val got = SnapshotDiff.diff(old, neu, "id", "fp").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "same", 2L -> "changed", 3L -> "same",
      4L -> "added", 5L -> "removed"),
      s"null-fp rows must classify by join-side presence, got $got")
  }

  test("quantile gate validates q BEFORE materializing the input frame") {
    // a poison frame that throws if any job touches it: if validation ran
    // after the localCheckpoint, we'd see the raise_error, not the require
    val poison = spark.range(3)
      .select(raise_error(lit("corpus was materialized before q check"))
        .cast("double").as("m"))
    for (badQ <- Seq(0.0, 1.0, -0.5)) {
      intercept[IllegalArgumentException] { QuantileGate.atOrBelow(poison, "m", badQ) }
      intercept[IllegalArgumentException] { QuantileGate.fitThreshold(poison, "m", badQ) }
      intercept[IllegalArgumentException] {
        QuantileGate.fitThresholdPerGroup(poison.withColumn("g", lit("x")), "g", "m", badQ)
      }
    }
  }

  test("quantile gate excludes NaN metrics from population and output") {
    val df = Seq((1L, 1.0), (2L, 2.0), (3L, Double.NaN), (4L, Double.NaN))
      .toDF("id", "m")
    // population = {1.0, 2.0}; q=0.5 -> ceil(1)=1 -> threshold 1.0
    val kept = QuantileGate.atOrBelow(df, "m", 0.5)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L), s"NaN must not shift the rank or be emitted, got $kept")
  }

  test("per-group quantile gate keeps rows of a NULL group") {
    val df = Seq((1L, Option("g"), 1.0), (2L, Option("g"), 9.0),
      (3L, None: Option[String], 1.0), (4L, None: Option[String], 9.0))
      .toDF("id", "grp", "m")
    val kept = QuantileGate.atOrBelowPerGroup(df, "grp", "m", 0.5)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L),
      s"the null group must gate against its own threshold, got $kept")
  }

  test("overlapFraction counts leaked distinct shingles per subject doc") {
    val subject = Seq(
      (1L, "a b c d e f"), // shingles: "a b c d e", "b c d e f"
      (2L, "x y z"),       // < 5 tokens -> no shingle set, absent
      (3L, "a b c d e"))   // one shingle, fully leaked
      .toDF("doc_id", "text")
    val reference = Seq(
      (10L, "a b c d e"),  // the leaked shingle
      (11L, "a b c d e"))  // duplicate in reference must not double-count
      .toDF("doc_id", "text")
    val got = Decontaminate.overlapFraction(subject, reference, 5)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == Seq((1L, 2L, 1L, 0.5), (3L, 1L, 1L, 1.0)), got.toString)
  }

  test("overlapFraction: zero overlap yields frac 0.0, not absence") {
    val subject = Seq((1L, "p q r s t")).toDF("doc_id", "text")
    val reference = Seq((9L, "u v w x y")).toDF("doc_id", "text")
    val got = Decontaminate.overlapFraction(subject, reference, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == Seq((1L, 1L, 0L, 0.0)), got.toString)
  }

  // ---- tokenEntropy -------------------------------------------------------

  test("token entropy matches hand-computed bits") {
    val docs = Seq(
      (1L, "a a b b"),        // uniform over 2 types -> 1 bit
      (2L, "a b c d"),        // uniform over 4 types -> 2 bits
      (3L, "x x x x"),        // degenerate -> 0 bits
      (4L, "solo"),           // single token -> 0 bits
      (5L, "a a a b")         // 3/4,1/4 -> 0.8113
    ).toDF("doc_id", "text")
    val got = TextAnalysis.tokenEntropy(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got(1L) == ((4L, 2L, 1.0)))
    assert(got(2L) == ((4L, 4L, 2.0)))
    assert(got(3L) == ((4L, 1L, 0.0)))
    assert(got(4L) == ((1L, 1L, 0.0)))
    assert(got(5L) == ((4L, 2L, 0.8113)))
  }

  test("entropy kernel == explode/groupBy aggregate twin, bit-for-bit") {
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val corpus = spark.read.parquet(s"$Sf0001/documents.parquet")
    assert(m(TextAnalysis.tokenEntropy(corpus)) == m(TextAnalysis.tokenEntropyAgg(corpus)))
    // the quantized-term sum makes hash-map order vs shuffle order moot;
    // astral chars exercise the UTF8String identity path
    val edge = Seq((1L, "😀 z 😀 z"), (2L, "α β α γ")).toDF("doc_id", "text")
    assert(m(TextAnalysis.tokenEntropy(edge)) == m(TextAnalysis.tokenEntropyAgg(edge)))
  }

  test("token entropy plan is one shuffle-free scan (kernel), agg twin shuffles") {
    val corpus = spark.read.parquet(s"$Sf0001/documents.parquet")
    val kernelPlan = TextAnalysis.tokenEntropy(corpus).queryExecution.executedPlan.toString
    assert(!kernelPlan.contains("Exchange"),
      s"kernel form must not shuffle, got:\n$kernelPlan")
  }

  // ---- stopwordRatio ------------------------------------------------------

  test("stopword fit ranks by document frequency with term tiebreak; ratio counts multiplicity") {
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the dog sat"),
      (3L, "a dog barked")).toDF("doc_id", "text")
    // df: dog/sat/the -> 2 docs each; everything else 1. Ties break by term.
    val stop = TextAnalysis.stopwordFit(docs, 3).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(stop == Seq(("dog", 2L), ("sat", 2L), ("the", 2L)))
    val got = TextAnalysis.stopwordRatioSelf(docs, 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // doc 1: 'the' twice + 'sat' = 3 of 6 (multiplicity, not distinct)
    assert(got(1L) == ((6L, 3L, 0.5)))
    assert(got(2L) == ((3L, 3L, 1.0)))
    assert(got(3L) == ((3L, 1L, 0.3333)))
  }

  // ---- ZScore -------------------------------------------------------------

  test("zscore gate: constant group scores 0 and survives; planted outlier drops") {
    // the outlier's own mass bounds its z at (n-1)/sqrt(n): the group
    // needs n >= 6 in-distribution rows before one wild value can cross 2
    val inDist = (10L to 20L).map(i => (i, "b", 95L + (i % 11)))
    val df = (Seq(
      (1L, "a", 10L), (2L, "a", 10L), (3L, "a", 10L)        // zero variance
    ) ++ inDist :+ ((99L, "b", 5000L))).toDF("doc_id", "source", "m")
    val kept = ZScore.gate(df, "source", "m", 2.0).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("z")).toMap
    assert(Seq(1L, 2L, 3L).forall(kept(_) == 0.0),
      "zero-variance groups must z-score to 0.0, not NaN")
    assert(!kept.contains(99L), "the 5000 outlier must gate out")
    assert((10L to 20L).forall(kept.contains),
      "in-distribution rows must survive")
  }

  test("zscore fit is partitioning-independent (exact decimal sums)") {
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
      .select("doc_id", "source", "n_chars")
    def fitOf(df: org.apache.spark.sql.DataFrame) =
      ZScore.fitStats(df, "source", "n_chars").collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(fitOf(docs) == fitOf(docs.repartition(7)),
      "mu/sd must be bit-identical under any partitioning")
  }

  test("zscore fit: null metrics join neither n nor the sums (no fabricated variance)") {
    val df = Seq(("a", Some(10L)), ("a", Some(10L)), ("a", None))
      .toDF("source", "m")
    val fit = ZScore.fitStats(df, "source", "m").collect().head
    assert(fit.getLong(1) == 2L, "n must count metric values, not rows")
    assert(fit.getDouble(2) == 10.0 && fit.getDouble(3) == 0.0,
      s"constant group with a null row must fit mu=10 sd=0, got $fit")
  }

  test("zscore fit refuses fractional metrics instead of silently truncating") {
    val df = Seq(("a", 1.5), ("a", 2.5)).toDF("source", "m")
    val e = intercept[IllegalArgumentException](ZScore.fitStats(df, "source", "m"))
    assert(e.getMessage.contains("integral"), e.getMessage)
  }

  test("zscore gate drops groups absent from frozen stats rather than inventing a baseline") {
    val stats = ZScore.fitStats(
      Seq(("a", 1L), ("a", 3L)).toDF("source", "m"), "source", "m")
    val applied = ZScore.gateFrozen(
      Seq((1L, "a", 2L), (2L, "zz", 2L)).toDF("doc_id", "source", "m"),
      stats, "source", "m", 2.0)
    assert(applied.select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("zscore gateFrozen is collision-safe: input mu/sd columns ride through, pre-existing z refused") {
    val stats = ZScore.fitStats(
      Seq(("a", 1L), ("a", 3L)).toDF("source", "m"), "source", "m")
    // an input frame that itself carries mu/sd (e.g. another fit's output)
    // must neither confuse the gate arithmetic nor be overwritten
    val in = Seq((1L, "a", 2L, 99.0, 88.0)).toDF("doc_id", "source", "m", "mu", "sd")
    val out = ZScore.gateFrozen(in, stats, "source", "m", 2.0).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getDouble(3) == 99.0 && r.getDouble(4) == 88.0,
      s"caller's mu/sd columns must survive untouched: $r")
    assert(r.getDouble(5) == 0.0, s"z must come from the FROZEN stats (mu=2, m=2): $r")
    // a pre-existing z would be silently overwritten — refuse loudly
    val e = intercept[IllegalArgumentException] {
      ZScore.gateFrozen(Seq((1L, "a", 2L, 0.5)).toDF("doc_id", "source", "m", "z"),
        stats, "source", "m", 2.0)
    }
    assert(e.getMessage.contains("z column"), e.getMessage)
  }

  // ---- oovRate ------------------------------------------------------------

  test("oov rate counts occurrences outside the frozen vocab, per source") {
    val docs = Seq(
      (1L, "the the cat", "web"),
      (2L, "the dog", "web"),
      (3L, "zebra quagga", "books")).toDF("doc_id", "text", "source")
    // vocab k=1: top tf term is 'the' (3 occurrences)
    val vocab = TextAnalysis.vocabFit(docs, 1)
    assert(vocab.collect().map(_.getString(0)).toSeq == Seq("the"))
    val got = TextAnalysis.oovRate(docs, vocab).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got("web") == ((5L, 2L, 0.4)), s"got $got")     // cat, dog OOV
    assert(got("books") == ((2L, 2L, 1.0)), s"got $got")   // fully OOV
  }

  test("gate/card invariants hold on the real corpus") {
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
    // stopword ratio: bounded, stop count never exceeds token count
    TextAnalysis.stopwordRatioSelf(docs, 20).collect().foreach { r =>
      assert(r.getLong(2) <= r.getLong(1))
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
    // oov rate: bounded, and non-increasing as the vocab grows
    def totalOov(k: Int): Long =
      TextAnalysis.oovRate(docs, TextAnalysis.vocabFit(docs, k)).collect()
        .map { r => assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0); r.getLong(2) }.sum
    assert(totalOov(200) <= totalOov(20),
      "a larger vocabulary cannot increase out-of-vocabulary occurrences")
    // zscore gate: output subset-sized, every surviving |z| within the bar
    val in = docs.select("doc_id", "source", "n_chars")
    val out = ZScore.gate(in, "source", "n_chars", 2.0).collect()
    assert(out.length <= in.count())
    out.foreach(r => assert(math.abs(r.getDouble(3)) <= 2.0))
  }

  // ---- chunk --------------------------------------------------------------

  test("chunking covers every token with the declared width/stride/overlap") {
    val docs = Seq((1L, (1 to 10).map(i => s"t$i").mkString(" "))).toDF("doc_id", "text")
    val got = TextAnalysis.chunk(docs, 4, 3).orderBy("chunk_id").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getString(3)))
    // starts 0,3,6 -> [t1..t4] [t4..t7] [t7..t10]: the window at 6 reaches
    // the document end, so no later start is emitted — a start at 9 would
    // yield [t10], a strict SUFFIX of the previous chunk (zero new tokens,
    // duplicated passage content)
    assert(got.toSeq == Seq(
      (0L, 4L, "t1 t2 t3 t4"),
      (1L, 4L, "t4 t5 t6 t7"),
      (2L, 4L, "t7 t8 t9 t10")))
    // every token is still covered exactly once at first occurrence
    assert(got.flatMap(_._3.split(" ")).toSet == (1 to 10).map(i => s"t$i").toSet)
  }

  test("chunking with stride == width tiles without overlap and rebuilds the doc") {
    val text = (1 to 11).map(i => s"w$i").mkString(" ")
    val docs = Seq((7L, text)).toDF("doc_id", "text")
    val got = TextAnalysis.chunk(docs, 4, 4).orderBy("chunk_id").collect()
    assert(got.map(_.getString(3)).mkString(" ") == text,
      "non-overlapping tiles must concatenate back to the original token stream")
    assert(got.map(_.getLong(2)).sum == 11L)
  }

  test("property: segment dedup reassembly == first-occurrence reference over seeded ScalaCheck corpora") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // tiny alphabet + short docs force heavy cross- and intra-doc segment
    // collisions — the regime where survivor choice and reassembly can drift
    val tokGen = Gen.oneOf("a", "b", "c", "d")
    val docGen = Gen.chooseNum(0, 11).flatMap(n => Gen.listOfN(n, tokGen)).map(_.mkString(" "))
    val corpusGen = Gen.chooseNum(5, 30).flatMap(n => Gen.listOfN(n, docGen))
    for (trial <- 1 to 5) {
      val w = 1 + (trial % 4)
      val texts = corpusGen.pureApply(Gen.Parameters.default, Seed(1000L + trial))
      val corpus = texts.zipWithIndex.map { case (t, i) => ((i + 1).toLong, t) }
      // reference model: stream segments in (doc_id, seg_idx) order, keep
      // each segment's first occurrence, reassemble survivors in doc order
      val seen = scala.collection.mutable.Set[String]()
      val expect = corpus.flatMap { case (id, text) =>
        val toks = text.split("\\s+").filter(_.nonEmpty)
        val kept = toks.grouped(w).map(_.mkString(" ")).filter(seen.add).toSeq
        if (kept.nonEmpty) Some(id -> (kept.mkString(" "), kept.size.toLong)) else None
      }.toMap
      val got = SegmentDedup.dedupSegments(corpus.toDF("doc_id", "text"), w).collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
      assert(got == expect, s"trial=$trial w=$w:\n got=$got\n want=$expect")
      // no document ever gains text
      val orig = corpus.toMap
      got.foreach { case (id, (clean, _)) =>
        assert(clean.length <= orig(id).length, s"doc $id grew: '$clean' vs '${orig(id)}'") }
    }
  }

  test("property: boilerplate strip == df-threshold reference over seeded ScalaCheck corpora") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val tokGen = Gen.oneOf("a", "b", "c", "d")
    val docGen = Gen.chooseNum(0, 11).flatMap(n => Gen.listOfN(n, tokGen)).map(_.mkString(" "))
    val corpusGen = Gen.chooseNum(5, 30).flatMap(n => Gen.listOfN(n, docGen))
    for (trial <- 1 to 5) {
      val w = 1 + (trial % 3)
      val minDocs = 2 + (trial % 2)
      val texts = corpusGen.pureApply(Gen.Parameters.default, Seed(2000L + trial))
      val corpus = texts.zipWithIndex.map { case (t, i) => ((i + 1).toLong, t) }
      // reference: segment every doc, count df per segment, drop all
      // occurrences of >= minDocs segments, reassemble in position order
      val segsOf = corpus.map { case (id, text) =>
        id -> text.split("\\s+").filter(_.nonEmpty).grouped(w).map(_.mkString(" ")).toSeq
      }
      val df = segsOf.flatMap { case (id, ss) => ss.distinct.map(_ -> id) }
        .groupBy(_._1).map { case (s, xs) => s -> xs.size }
      val boiler = df.filter(_._2 >= minDocs).keySet
      val expect = segsOf.flatMap { case (id, ss) =>
        val kept = ss.filterNot(boiler)
        if (kept.nonEmpty) Some(id -> (kept.mkString(" "), kept.size.toLong)) else None
      }.toMap
      val got = SegmentDedup.removeBoilerplate(corpus.toDF("doc_id", "text"), w, minDocs)
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
      assert(got == expect, s"trial=$trial w=$w minDocs=$minDocs:\n got=$got\n want=$expect")
    }
  }

  test("property: splitByCluster == union-find reference over seeded ScalaCheck pair graphs") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val splits = Seq("train" -> 80, "val" -> 10, "test" -> 10)
    for (trial <- 1 to 5) {
      val n = 20 + trial * 10
      val edgeGen = Gen.listOfN(n / 2, for {
        a <- Gen.chooseNum(1L, n.toLong); b <- Gen.chooseNum(1L, n.toLong)
        if a != b
      } yield (math.min(a, b), math.max(a, b)))
      val edges = edgeGen.pureApply(Gen.Parameters.default, Seed(3000L + trial), 1000).distinct
      // driver-side union-find ground truth
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val rep = (1L to n.toLong).map(id => id -> find(id)).toMap
      val docs = (1L to n.toLong).toDF("doc_id")
      val cl = DupClusters.clusters(edges.toDF("da", "db"))
      val got = Sampling.splitByCluster(docs, cl, "doc_id", splits)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      // every doc splits exactly as the md5 bucket of its component's min id
      val wantSplit = Sampling.splitByHash(
          rep.values.toSeq.distinct.toDF("doc_id"), "doc_id", splits)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      (1L to n.toLong).foreach { id =>
        assert(got(id) == wantSplit(rep(id)),
          s"trial=$trial doc $id (rep ${rep(id)}): got ${got(id)}, want ${wantSplit(rep(id))}")
      }
    }
  }

  test("chunk/entropy properties hold over seeded random corpora") {
    val rnd = new scala.util.Random(7)
    val vocab = Vector("a", "bb", "ccc", "dd", "e", "fff", "g")
    val docs = (1L to 60L).map { i =>
      (i, Seq.fill(1 + rnd.nextInt(40))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val tokensOf = docs.collect()
      .map(r => r.getLong(0) -> r.getString(1).split("\\s+").toSeq).toMap

    for ((w, s) <- Seq((4, 3), (5, 5), (7, 2), (1, 1))) {
      val chunks = TextAnalysis.chunk(docs, w, s).collect()
        .groupBy(_.getLong(0)).view.mapValues(_.sortBy(_.getLong(1))).toMap
      tokensOf.foreach { case (id, toks) =>
        val got = chunks(id)
        // chunk_ids are contiguous from 0; starts tile by stride
        assert(got.map(_.getLong(1)).toSeq == got.indices.map(_.toLong))
        // every chunk is the exact slice it claims to be
        got.zipWithIndex.foreach { case (r, ci) =>
          val expect = toks.slice(ci * s, ci * s + w)
          assert(r.getString(3) == expect.mkString(" ") && r.getLong(2) == expect.size)
        }
        // coverage: the union of [start, start+w) windows reaches every token
        val covered = got.indices.flatMap(ci => ci * s until math.min(ci * s + w, toks.size)).toSet
        assert(covered == toks.indices.toSet, s"doc $id under-covered at w=$w s=$s")
      }
    }

    // entropy bounds: 0 <= H <= log2(n_types), 0 iff a single type
    val ents = TextAnalysis.tokenEntropy(docs).collect()
    ents.foreach { r =>
      val (types, h) = (r.getLong(2), r.getDouble(3))
      // +1e-4 headroom: the operator rounds to 4 decimals (and quantizes
      // terms at 1e-6), so a maximal-entropy doc can land one r4 step
      // above the real log2 bound
      assert(h >= 0.0 && h <= math.log(types.toDouble) / math.log(2.0) + 1e-4,
        s"entropy $h out of [0, log2($types)]")
      assert((types == 1L) == (h == 0.0))
    }
  }

  test("chunking rejects invalid stride and skips empty docs") {
    val docs = Seq((1L, "a b c"), (2L, "   ")).toDF("doc_id", "text")
    intercept[IllegalArgumentException](TextAnalysis.chunk(docs, 4, 5))
    intercept[IllegalArgumentException](TextAnalysis.chunk(docs, 0, 1))
    val got = TextAnalysis.chunk(docs, 4, 3)
    assert(got.select("doc_id").distinct().collect().map(_.getLong(0)).toSeq == Seq(1L),
      "whitespace-only docs emit no chunks")
    assert(!got.queryExecution.executedPlan.toString.contains("Exchange"),
      "chunking must stay a per-row explode — no shuffle")
  }

  // ---- Dedup.dupSpans -----------------------------------------------------

  test("dupSpans merges adjacent duplicated windows into spans with token lengths") {
    // docs 1 and 2 share the 5-token passage "a b c d e" (3 windows at
    // positions 0..2 of doc 1, 2..4 of doc 2); everything else is unique.
    val docs = Seq(
      (1L, "a b c d e unique1 unique2 unique3"),
      (2L, "pre1 pre2 a b c d e post1"),
      (3L, "totally different words entirely here now")
    ).toDF("doc_id", "text")
    val got = Dedup.dupSpans(docs, 3).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4), r.getLong(5)))
    // doc 1: 6 windows, 3 dup (one span of 3 windows = 5 tokens)
    // doc 2: 6 windows, 3 dup, same span shape; doc 3: clean
    assert(got.toSeq == Seq(
      (1L, 6L, 3L, 1L, 5L), (2L, 6L, 3L, 1L, 5L), (3L, 4L, 0L, 0L, 0L)))
  }

  test("dupSpans counts a within-doc repeat and splits non-adjacent spans") {
    // "x y z" appears twice INSIDE doc 1 (positions 0 and 4) — both sites
    // are duplicated, and the gap at positions 1..3 keeps them two spans.
    val docs = Seq((1L, "x y z q x y z")).toDF("doc_id", "text")
    val r = Dedup.dupSpans(docs, 3).head()
    assert((r.getLong(1), r.getLong(2), r.getLong(4), r.getLong(5)) == (5L, 2L, 2L, 3L),
      s"expected 2 single-window spans of 3 tokens each, got $r")
  }

  test("dupSpans drops short docs and the gate keeps them plus clean docs") {
    val docs = Seq(
      (1L, "a b"),                                   // < n words: no evidence
      (2L, "common phrase here tail2"),
      (3L, "common phrase here tail3"),              // shares all but 1 window
      (4L, "all unique tokens in this document")
    ).toDF("doc_id", "text")
    val card = Dedup.dupSpans(docs, 3).collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(!card.contains(1L) && card(4L) == 0.0 && card(2L) == 0.5 && card(3L) == 0.5)
    val kept = Dedup.dupSpanGate(docs, 3, maxFrac = 0.4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 4L), "short and clean docs pass; 50%-duplicated docs gate out")
  }

  test("dupSpansFrozen against a self-fit gram set == dupSpans (sf0.001 corpus)") {
    val docs = graft.Engine.Tables(spark, Sf0001).documents
      .select("doc_id", "text")
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4), r.getLong(5))
    val adaptive = Dedup.dupSpans(docs, 3).collect().map(key).toSet
    val frozen = Dedup.dupSpansFrozen(docs, Dedup.dupGramFit(docs, 3), 3)
      .collect().map(key).toSet
    assert(adaptive == frozen,
      s"fit/apply split diverged: ${(adaptive -- frozen).take(3)} vs ${(frozen -- adaptive).take(3)}")
    assert(adaptive.exists(_._3 > 0L), "testdata must contain duplicated passages")
  }

  test("driftCard matches the hand-computed KL/JS on a two-source toy corpus") {
    import spark.implicits._
    val docs = Seq((1L, "A", "x x y"), (2L, "B", "x y y"))
      .toDF("doc_id", "source", "text")
    val got = TextAnalysis.driftCardSelf(docs, 2).orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    // corpus: x=3, y=3 -> q = (0.5, 0.5); A: p = (2/3, 1/3); B mirrors A
    def kl(p: Seq[Double], q: Seq[Double]) =
      p.zip(q).collect { case (pi, qi) if pi > 0 => pi * math.log(pi / qi) }.sum
    def js(p: Seq[Double], q: Seq[Double]) = {
      val m = p.zip(q).map { case (pi, qi) => (pi + qi) / 2 }
      0.5 * kl(p, m) + 0.5 * kl(q, m)
    }
    val (p, q) = (Seq(2.0 / 3, 1.0 / 3), Seq(0.5, 0.5))
    def r4d(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = Seq(("A", 3L, r4d(kl(p, q)), r4d(js(p, q))),
      ("B", 3L, r4d(kl(p.reverse, q)), r4d(js(p.reverse, q))))
    assert(got.toSeq == want, s"got ${got.toSeq}, want $want")
  }

  test("driftCard divergences are bounded on the sf0.001 corpus (0 <= KL; 0 <= JS <= ln 2)") {
    val docs = graft.Engine.Tables(spark, Sf0001).documents
    val rows = TextAnalysis.driftCardSelf(docs, 100).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (kl, js) = (r.getDouble(2), r.getDouble(3))
      assert(kl >= 0.0, s"negative KL for ${r.getString(0)}: $kl")
      assert(js >= 0.0 && js <= math.log(2.0) + 1e-9,
        s"JS out of [0, ln 2] for ${r.getString(0)}: $js")
    }
    // a vocabulary covering every source identically would drift 0; real
    // multi-source testdata must show SOME spread between sources
    assert(rows.map(_.getDouble(3)).distinct.length > 1,
      "all sources report identical JS — card is not discriminating")
  }

  test("survivorsByQuality keeps the highest-quality member, ties to min id; gate spares singletons") {
    import spark.implicits._
    // cluster A = {1,2,3} (best q at doc 2); cluster B = {10,11} tie on q
    val members = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("doc_id", "cluster")
    val quality = Seq(1L -> 5L, 2L -> 9L, 3L -> 7L, 10L -> 4L, 11L -> 4L, 99L -> 1L)
      .toDF("doc_id", "q")
    val got = graft.operators.DupClusters.survivorsByQuality(members, quality, "q")
      .orderBy("cluster").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((1L, 2L, 3L, 9L), (10L, 10L, 2L, 4L)),
      s"got ${got.toSeq}")
    val docs = Seq(1L, 2L, 3L, 10L, 11L, 99L).toDF("doc_id")
    val kept = graft.operators.DupClusters.keepBestCopy(docs, members, quality, "q")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 10L, 99L), s"kept $kept — best copies + the unclustered doc")
  }

  test("survivorsByQuality: all-NULL-quality cluster keeps min-id member, never vanishes") {
    import spark.implicits._
    // cluster 1: every member's quality is NULL (unscored docs); cluster
    // 10: one scored member. max() skips nulls -> best_q NULL for cluster
    // 1, and a plain equi-join on (cluster, best_q) would drop it — then
    // keepBestCopy would delete EVERY copy of the cluster.
    val members = Seq((1L, 1L), (2L, 1L), (10L, 10L), (11L, 10L))
      .toDF("doc_id", "cluster")
    val quality = Seq(
      (1L, None: Option[Long]), (2L, None: Option[Long]),
      (10L, Some(3L)), (11L, None: Option[Long])).toDF("doc_id", "q")
    val got = graft.operators.DupClusters.survivorsByQuality(members, quality, "q")
      .orderBy("cluster").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))
    assert(got.toSeq == Seq((1L, 1L, 2L, -1L), (10L, 10L, 2L, 3L)), s"got ${got.toSeq}")
    val docs = Seq(1L, 2L, 10L, 11L).toDF("doc_id")
    val kept = graft.operators.DupClusters.keepBestCopy(docs, members, quality, "q")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 10L),
      s"kept $kept — the all-null cluster must keep exactly its min-id member")
  }

  test("property: CDC chunks reassemble exactly and boundaries are prefix-edit-stable") {
    import spark.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def boundaryTok(w: String, target: Int): Boolean =
      java.lang.Long.parseLong(
        org.apache.commons.codec.digest.DigestUtils.md5Hex(w).take(8), 16) % target == 0
    val tokGen = Gen.oneOf((('a' to 'z') ++ ('0' to '9')).map(_.toString))
    val docGen = Gen.chooseNum(1, 60).flatMap(n => Gen.listOfN(n, tokGen))
    for (trial <- 1 to 5) {
      val target = 2 + trial // small targets -> many boundaries
      val toksPerDoc = Gen.listOfN(12, docGen)
        .pureApply(Gen.Parameters.default, Seed(4000L + trial))
      val corpus = toksPerDoc.zipWithIndex
        .map { case (ts, i) => ((i + 1).toLong, ts.mkString(" ")) }
      val got = TextAnalysis.chunkCdc(corpus.toDF("doc_id", "text"), target)
        .orderBy("doc_id", "chunk_idx").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      // reference model: cut after every boundary token strictly inside
      val expect = corpus.flatMap { case (id, text) =>
        val ts = text.split("\\s+").filter(_.nonEmpty).toSeq
        val cuts = (1 until ts.size).filter(p => boundaryTok(ts(p - 1), target))
        val edges = (0 +: cuts) :+ ts.size
        edges.sliding(2).zipWithIndex.map { case (Seq(a, b), j) =>
          (id, j.toLong, (b - a).toLong,
            org.apache.commons.codec.digest.DigestUtils
              .md5Hex(ts.slice(a, b).mkString(" ")))
        }.toSeq
      }
      assert(got.toSeq == expect, s"trial=$trial target=$target diverged")
      // chunk sizes reassemble the full token stream, in order
      corpus.foreach { case (id, text) =>
        val n = text.split("\\s+").count(_.nonEmpty)
        assert(got.filter(_._1 == id).map(_._3).sum == n.toLong, s"doc $id lost tokens") }
      // the content-defined property: prepend a random prefix to a doc —
      // every chunk after the FIRST boundary inside the original body is
      // byte-identical (fixed-stride chunking shifts them all)
      val (bodyId, body) = corpus.head
      val prefix = docGen.pureApply(Gen.Parameters.default, Seed(9000L + trial)).mkString(" ")
      val edited = Seq((bodyId, prefix + " " + body))
      val gotEdited = TextAnalysis.chunkCdc(edited.toDF("doc_id", "text"), target)
        .orderBy("chunk_idx").collect().map(_.getString(3))
      val gotBody = got.filter(_._1 == bodyId).map(_._4)
      val bodyToks = body.split("\\s+").filter(_.nonEmpty).toSeq
      val firstCut = (1 until bodyToks.size)
        .find(p => boundaryTok(bodyToks(p - 1), target))
      firstCut.foreach { _ =>
        // chunks strictly after the first in-body cut survive the edit
        val stable = gotBody.tail
        assert(stable.forall(gotEdited.contains),
          s"trial=$trial: prefix edit moved post-cut boundaries")
      }
    }
  }

  test("property: survivorsByQuality == union-find + argmax reference over seeded pair graphs") {
    import spark.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    for (trial <- 1 to 5) {
      val n = 20 + trial * 10
      val edgeGen = Gen.listOfN(n / 2, for {
        a <- Gen.chooseNum(1L, n.toLong); b <- Gen.chooseNum(1L, n.toLong)
        if a != b
      } yield (math.min(a, b), math.max(a, b)))
      val edges = edgeGen.pureApply(Gen.Parameters.default, Seed(5000L + trial), 1000).distinct
      // low-cardinality quality forces argmax ties -> exercises the min-id
      // tie-break, the part a happy-path test never touches
      val qGen = Gen.listOfN(n, Gen.chooseNum(0L, 3L))
      val qs = qGen.pureApply(Gen.Parameters.default, Seed(6000L + trial))
      val quality = (1L to n.toLong).zip(qs)
      // driver-side union-find ground truth
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val qMap = quality.toMap
      val want = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .groupBy(find).map { case (cluster, ms) =>
          val keep = ms.minBy(id => (-qMap(id), id))
          (cluster, keep, ms.size.toLong, qMap(keep))
        }.toSet
      val got = DupClusters.survivorsByQuality(
          DupClusters.clusters(edges.toDF("da", "db")),
          quality.toDF("doc_id", "q"), "q")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(got == want,
        s"trial=$trial: ${(got -- want).take(3)} vs ${(want -- got).take(3)}")
    }
  }

  test("containmentPairs surfaces subset reuse that Jaccard misses (the Broder distinction)") {
    import spark.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val tokGen = Gen.listOfN(3, Gen.alphaLowerChar).map(_.mkString)
    val quote = Gen.listOfN(20, tokGen)
      .pureApply(Gen.Parameters.default, Seed(8000L)).mkString(" ")
    val article = Gen.listOfN(200, tokGen)
      .pureApply(Gen.Parameters.default, Seed(8001L)).mkString(" ")
    // doc 1 = the quote alone; doc 2 = a long article embedding it whole
    val docs = Seq((1L, quote), (2L, article + " " + quote))
      .toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(docs, 3, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(cont.get((1L, 2L)).exists(_ >= 0.99),
      s"quote not contained in article: $cont")
    assert(!cont.contains((2L, 1L)), s"article wrongly contained in quote: $cont")
    // the same pair is invisible to resemblance at any useful threshold
    val j = Dedup.jaccardPairs(docs, 3, 0.5).collect()
    assert(j.isEmpty, "Jaccard should miss the subset pair — that is the point of containment")
  }

  test("bottom-k containment sketch: recall and accuracy vs exact on the sf0.001 corpus") {
    val docs = graft.Engine.Tables(spark, Sf0001).documents.select("doc_id", "text")
    val exact = Dedup.containmentPairs(docs, 3, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(exact.nonEmpty, "testdata must contain containment pairs")
    val est = Dedup.containmentCandidates(docs, 3, 64, 0.3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // recall: every strongly-contained pair must surface well below its
    // exact score (0.5-threshold pairs probed at 0.3 leaves 1/sqrt(64)
    // estimator noise plenty of margin)
    val missed = exact.filter { case (p, c) => c >= 0.6 && !est.contains(p) }
    assert(missed.isEmpty, s"strong pairs missed by the sketch: ${missed.take(3)}")
    // accuracy: estimates stay within sketch noise of the exact value
    val exactAll = Dedup.containmentPairs(docs, 3, 0.0).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    est.foreach { case (p, e) =>
      val c = exactAll.getOrElse(p, 0.0)
      assert(math.abs(e - c) <= 0.25, s"pair $p: est $e vs exact $c")
    }
  }

  test("containmentAgreement certifies the 2/sqrt(k) bound on every exact pair (qe58c form)") {
    val docs = graft.Engine.Tables(spark, Sf0001).documents.select("doc_id", "text")
    val rows = Dedup.containmentAgreement(docs, 3, 64, 0.5).collect()
    assert(rows.nonEmpty, "testdata must contain containment pairs")
    // columns BY NAME: the est_found insertion shifted within_bound to
    // index 4, and an index-3 read silently asserted the wrong flag
    val bad = rows.filterNot(_.getAs[Boolean]("within_bound"))
    assert(bad.isEmpty, s"bound violated on: ${bad.take(3).mkString("; ")}")
    val missed = rows.filterNot(_.getAs[Boolean]("est_found"))
    assert(missed.isEmpty, s"sketch missed exact pairs: ${missed.take(3).mkString("; ")}")
  }

  test("frozen containment apply == exact increment->corpus pairs within 2/sqrt(k) (qe58d form)") {
    val docs = graft.Engine.Tables(spark, Sf0001).documents.select("doc_id", "text")
    val inc = docs.filter(col("doc_id") % 2 === 1)
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val rows = Dedup.containmentFrozenAgreement(inc, corpus, 3, 64, 0.5).collect()
    assert(rows.nonEmpty, "testdata must contain cross-half containment pairs")
    val bad = rows.filterNot(_.getAs[Boolean]("within_bound"))
    assert(bad.isEmpty, s"bound violated on: ${bad.take(3).mkString("; ")}")
    val missed = rows.filterNot(_.getAs[Boolean]("est_found"))
    assert(missed.isEmpty, s"sketch missed exact pairs: ${missed.take(3).mkString("; ")}")
    // the row-wise probe derivation must agree with the exploded-relation
    // sketch on fully-probed docs: an under-k doc probes its WHOLE shingle
    // set, so its frozen estimate of containment in the corpus is exact
    val est = Dedup.containmentCandidatesFrozen(inc,
        Dedup.containmentIndexFit(corpus, 3), 3, 64, 0.5).collect()
    assert(est.nonEmpty)
  }

  test("hot-bucket cap: inert when unhit; linear edges + identical clusters on a planted mega-family") {
    import spark.implicits._
    val docs = graft.Engine.Tables(spark, Sf0001).documents.select("doc_id", "text")
    // 1) cap far above any real bucket: behavior identical to the clique form
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet(Dedup.minhashCandidatesCapped(docs, cap = 1 << 20)) ==
      pairSet(Dedup.minhashCandidates(docs)))
    // 2) mega-duplicate family: 40 identical docs (every band buckets them
    // together) + distinct fillers
    val fam = (0L until 40L).map(i => (i, "the same boilerplate page body repeated verbatim " * 5))
    val fill = (100L until 120L).map(i => (i, s"unique filler document number $i with words ${i * 7} ${i * 13}"))
    val planted = (fam ++ fill).toDF("doc_id", "text")
    val capped = Dedup.minhashCandidatesCapped(planted, cap = 8)
    val famEdges = pairSet(capped).count { case (a, b) => a < 40 && b < 40 }
    assert(famEdges == 39, s"expected a 39-edge chain over the family, got $famEdges")
    // clusters must be unchanged vs the quadratic clique form
    def clusterSets(pairs: org.apache.spark.sql.DataFrame) =
      graft.operators.DupClusters.clusters(
          Dedup.jaccardVerify(planted, pairs, 3, 0.5))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(clusterSets(capped) == clusterSets(Dedup.minhashCandidates(planted)))
  }

  test("hot-bucket cap on a MIXED over-cap bucket: sub-threshold member never pollutes, " +
    "family cluster survives via the other bands") {
    import spark.implicits._
    // the docstring's documented trade: an over-cap bucket that MIXES a
    // sub-threshold neighbor chain-links through it, both its chain edges
    // fail verification, and recall of the links it interrupted relies on
    // OTHER bands. Construct exactly that shape deterministically: an
    // 8-copy family plus one doc that (a) lands in at least one family band
    // bucket but (b) has exact Jaccard < 0.5 — found by probing a sweep of
    // tailed variants through the PUBLIC candidate API (bucket membership
    // depends only on a doc's own seeded signature, so it carries over to
    // the planted corpus unchanged).
    val famText = "the same boilerplate page body repeated verbatim " * 5
    val famIds = Seq(10L, 20L, 30L, 40L, 50L, 60L, 70L, 80L)
    val fam = famIds.map(i => (i, famText))
    // the repeated family text has only ~9 DISTINCT shingles, so a short
    // tail (12-23 distinct tokens -> more new shingles than the family has)
    // already forces j < 0.5. Collision probability: each tail survives
    // ~29% of the 16 hash minima, so a 4-row band (the default) fully
    // survives ~1% of the time — run this test at bands=8 (rows=2, band
    // survival ~8%) so a mixer is found with near-certainty while the
    // mixed-over-cap-bucket shape under test is unchanged
    val bands = 8
    val cands = (0 until 200).map(i => (1000L + i,
      famText + (0 to 11 + i % 12).map(t => s"zz${i}x$t").mkString(" ")))
    val probe = (fam ++ cands).toDF("doc_id", "text")
    val bucketed = Dedup.minhashCandidates(probe, 3, 16, bands).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => a < 1000L && b >= 1000L }
      .map(_._2).toSet
    def sh(s: String) = s.split("\\s+").filter(_.nonEmpty)
      .sliding(3).map(_.mkString(" ")).toSet
    val famSh = sh(famText)
    def jac(b: Set[String]) = (famSh & b).size.toDouble / (famSh | b).size
    val mixer = cands.find { case (id, t) => bucketed(id) && jac(sh(t)) < 0.5 }
    assert(mixer.nonEmpty,
      s"construction failed: no sub-threshold tail variant landed in a family bucket " +
        s"(${bucketed.size} bucketed, jaccards ${cands.filter(c => bucketed(c._1)).map(c => jac(sh(c._2))).take(5)})")
    // plant the mixer MID-CHAIN (doc_id 45): chain order is doc_id, so the
    // mixed band's chain routes 40 -> 45 -> 50 through it
    val planted = (fam :+ (45L, mixer.get._2)).toDF("doc_id", "text")
    val capped = Dedup.minhashCandidatesCapped(planted, 3, 16, bands, cap = 4)
    val cappedPairs = capped.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // linear edge volume even with the mixer: <= bands * (members - 1)
    assert(cappedPairs.size <= bands * 8,
      s"${cappedPairs.size} edges — quadratic leak through the mixed bucket")
    val verified = Dedup.jaccardVerify(planted, capped, 3, 0.5)
    val vp = verified.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // precision: the sub-threshold mixer never survives verification
    assert(!vp.exists { case (a, b) => a == 45L || b == 45L },
      s"sub-threshold mixer leaked into verified pairs: ${vp.filter(p => p._1 == 45L || p._2 == 45L)}")
    // recall: both chain edges through doc 45 failed verify, yet the family
    // resolves to ONE cluster — every other band's (also over-cap) bucket
    // chains the 8 copies without the mixer. Clusters equal the exact
    // clique form's: the documented recovery mechanism, pinned.
    def clusterSets(pairs: org.apache.spark.sql.DataFrame) =
      DupClusters.clusters(Dedup.jaccardVerify(planted, pairs, 3, 0.5))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = clusterSets(capped)
    assert(got == clusterSets(Dedup.minhashCandidates(planted, 3, 16, bands)))
    assert(got.count(c => famIds.contains(c._1)) == 8 &&
      got.filter(c => famIds.contains(c._1)).map(_._2) == Set(10L),
      s"family must stay one cluster labeled by its min id: $got")
  }

  test("cdcDupCard flags cross-version passage reuse despite differing prefixes") {
    import spark.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // 3-char tokens (~18k alphabet): tiny single-token chunks of a toy
    // alphabet WOULD collide by chance — the card is content-based, so
    // identical short chunks are genuinely shared; the test needs token
    // entropy high enough that only the planted passage matches
    val tokGen = Gen.listOfN(3, Gen.alphaLowerChar).map(_.mkString)
    val body = Gen.listOfN(80, tokGen)
      .pureApply(Gen.Parameters.default, Seed(7000L)).mkString(" ")
    val prefixA = Gen.listOfN(15, tokGen)
      .pureApply(Gen.Parameters.default, Seed(7001L)).mkString(" ")
    val unrelated = Gen.listOfN(80, tokGen)
      .pureApply(Gen.Parameters.default, Seed(7002L)).mkString(" ")
    // docs 1 and 2 share `body` behind different prefixes — two "versions"
    // of one article; doc 3 is unrelated
    val docs = Seq((1L, body), (2L, prefixA + " " + body), (3L, unrelated))
      .toDF("doc_id", "text")
    val card = Dedup.cdcDupCard(docs, 4).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(card(1L)._2 > 0L && card(2L)._2 > 0L,
      s"shared passage not flagged across versions: $card")
    assert(card(3L)._2 == 0L, s"unrelated doc flagged: $card")
    // every shared chunk count is bounded by the doc's chunk count
    card.values.foreach { case (n, sh, f) =>
      assert(sh <= n && f >= 0.0 && f <= 1.0)
    }
  }

  test("HLL lexical-diversity card agrees with the exact card within 5% per source") {
    val docs = graft.Engine.Tables(spark, Sf0001).documents
    val exact = TextAnalysis.lexicalDiversity(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val approx = TextAnalysis.lexicalDiversityApprox(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(exact.keySet == approx.keySet)
    exact.foreach { case (src, (nTok, nTerms)) =>
      assert(approx(src)._1 == nTok, s"$src: token volume must be exact")
      val err = math.abs(approx(src)._2 - nTerms).toDouble / nTerms
      assert(err <= 0.05, s"$src: HLL distinct-term error $err > 5% " +
        s"(exact $nTerms, approx ${approx(src)._2})")
    }
  }

  test("whitespace-only docs (tab/newline text) are excluded, not crashed on") {
    import spark.implicits._
    // SQL trim strips ONLY spaces: a tab-only doc passed the old
    // length(trim(text)) > 0 gate, tokenized to [], and blew up the ANSI
    // ratio math (textStats), sequence() (chunk), and slice() (segments).
    // hasTokens (rlike \\S) is exactly size(tokens) > 0 at the scan.
    val docs = Seq(
      (1L, "real words here"),
      (2L, "\t"),          // tab-only: the old gate kept it
      (3L, "\n \t "),       // mixed whitespace
      (4L, "")).toDF("doc_id", "text")
    val stats = TextAnalysis.textStats(docs).collect()
    assert(stats.map(_.getLong(0)).toSeq == Seq(1L))
    val chunks = TextAnalysis.chunk(docs, width = 2, stride = 2).collect()
    assert(chunks.map(_.getLong(0)).distinct.toSeq == Seq(1L))
    val segs = SegmentDedup.dedupSegments(docs, 1).collect()
    assert(segs.map(_.getLong(0)).distinct.toSeq == Seq(1L))
    // langId has no ratio math: token-less docs are VALID input there and
    // label as "und" (no marker hits) rather than being excluded
    val lang = TextAnalysis.langId(docs).orderBy("doc_id").collect()
    assert(lang.length == 4 && lang.drop(1).forall(_.getString(1) == "und"))
  }

  test("survivorsByQuality is type-agnostic over doc ids (string ids, tie to smallest)") {
    import spark.implicits._
    // the earlier -doc_id negate trick threw under ANSI for string ids
    // (and nulled them otherwise, dropping every cluster member)
    val members = Seq(("a", "a"), ("b", "a"), ("c", "a")).toDF("doc_id", "cluster")
    val quality = Seq(("a", 5L), ("b", 9L), ("c", 9L)).toDF("doc_id", "q")
    val got = graft.operators.DupClusters.survivorsByQuality(members, quality, "q")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(("a", "b", 3L, 9L)),
      s"expected best-q tie to break to the smallest id, got ${got.toSeq}")
  }

  test("survivorsByQuality refuses a non-numeric quality column at the call site") {
    import spark.implicits._
    // the argmax negates the quality, which under ANSI fails deep in
    // analysis for a string column — the contract check must fire first,
    // before any plan is built, and name the column and its type
    val members = Seq((1L, 1L), (2L, 1L)).toDF("doc_id", "cluster")
    val quality = Seq((1L, "high"), (2L, "low")).toDF("doc_id", "q")
    val e = intercept[IllegalArgumentException](
      graft.operators.DupClusters.survivorsByQuality(members, quality, "q"))
    assert(e.getMessage.contains("'q' must be numeric") &&
      e.getMessage.contains("string"), e.getMessage)
    intercept[IllegalArgumentException](graft.operators.DupClusters
      .keepBestCopy(members.select("doc_id"), members, quality, "q"))
  }

  test("bandBuckets refuses a bands count that does not divide k") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException](
      Dedup.minhashCandidates(docs, n = 1, k = 16, bands = 5))
    assert(e.getMessage.contains("must divide"))
  }
}
