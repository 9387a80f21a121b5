package graft.operators

import graft.{Engine, SparkTestBase}
import graft.functions.VectorOps
import org.apache.spark.sql.functions._
import org.scalactic.Tolerance._

class VectorOpsSpec extends SparkTestBase {
  import spark.implicits._

  private val frame = Seq(
    (1L, Seq(1.0f, 0.0f, 0.0f)),
    (2L, Seq(0.0f, 1.0f, 0.0f)),
    (3L, Seq(2.0f, 0.0f, 0.0f)),
    (4L, Seq(3.0f, 4.0f, 0.0f))).toDF("vec_id", "embedding")

  private def cosOf(a: Long, b: Long): Double = {
    val l = frame.filter(col("vec_id") === a).select(col("embedding").as("x"))
    val r = frame.filter(col("vec_id") === b).select(col("embedding").as("y"))
    l.crossJoin(r).select(VectorOps.cosine(col("x"), col("y")).as("c")).head().getDouble(0)
  }

  test("cosine: parallel=1, orthogonal=0, known angle") {
    assert(cosOf(1, 3) === 1.0 +- 1e-12)
    assert(cosOf(1, 2) === 0.0 +- 1e-12)
    assert(cosOf(1, 4) === 0.6 +- 1e-12) // (3,4,0)·(1,0,0) / 5
  }

  test("norm and dot") {
    val n = frame.filter(col("vec_id") === 4)
      .select(VectorOps.norm(col("embedding"))).head().getDouble(0)
    assert(n === 5.0 +- 1e-12)
  }
}

class DedupSpec extends SparkTestBase {
  import spark.implicits._

  test("exact dedup keeps min id per key") {
    val df = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("doc_id", "text")
    val out = Dedup.exactDedup(df, Seq("text"), "doc_id")
      .orderBy("keep_id").collect()
    assert(out.map(r => (r.getLong(1), r.getLong(2))).toSeq == Seq((1L, 2L), (3L, 1L)))
  }

  test("shingleSet: n=3 over 5 tokens yields 3 shingles; short doc -> empty") {
    val df = Seq(("a b c d e"), ("a b")).toDF("text")
    val sizes = df.select(size(Dedup.shingleSet(col("text"), 3))).as[Int].collect()
    assert(sizes.toSeq == Seq(3, 0))
  }

  test("jaccardPairs finds planted near-duplicates; identical docs j=1") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog today"),
      (3L, "completely different words appear here in this other document now")
    ).toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairs(docs, 3, 0.5).collect()
    assert(pairs.length == 1)
    assert(pairs(0).getLong(0) == 1L && pairs(0).getLong(1) == 2L)
    assert(pairs(0).getDouble(2) == 1.0)
  }

  test("MinHash-LSH recall: finds every exact-Jaccard pair on sf0.001 docs") {
    val docs = Engine.Tables(spark, Sf0001).documents
    val exact = Dedup.jaccardPairs(docs, 3, 0.5).select("da", "db")
    val lsh = Dedup.jaccardVerify(docs, Dedup.minhashCandidates(docs), 3, 0.5)
      .select("da", "db")
    assert(exact.except(lsh).count() == 0, "LSH missed ground-truth pairs")
    assert(lsh.except(exact).count() == 0, "verify step must remove false positives")
  }

  test("row-wise minhash signatures == explode/groupBy signatures, bit-for-bit") {
    val docs = Engine.Tables(spark, Sf0001).documents
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (1 to 16).map(r.getLong(_)).toSeq).toMap
    assert(m(Dedup.minhashSignature(docs, 3, 16)) ==
      m(Dedup.minhashSignatureRowwise(docs, 3, 16)))
  }

  test("incremental fuzzy dedup vs a frozen band index: full cross-snapshot recall, exact precision") {
    val docs = Engine.Tables(spark, Sf0001).documents
    val old = docs.filter(col("doc_id") % 10 =!= 7)
    val inc = docs.filter(col("doc_id") % 10 === 7)
    val got = Dedup.jaccardVerify(docs,
        Dedup.minhashCandidatesAgainst(inc, Dedup.minhashIndex(old)), 3, 0.5)
      .collect().map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1)))).toSet
    // ground truth: the exact >= 0.5 pairs straddling the snapshot split
    val oldIds = old.select("doc_id").collect().map(_.getLong(0)).toSet
    val exact = Dedup.jaccardPairs(docs, 3, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => oldIds(a) != oldIds(b) }.toSet
    assert(exact.nonEmpty, "testdata must contain cross-snapshot near-dup pairs")
    assert(exact.subsetOf(got),
      s"index path missed cross pairs: ${(exact -- got).take(5)}")
    assert(got.subsetOf(exact),
      s"verify must remove false positives: ${(got -- exact).take(5)}")
  }

  test("fused srp_buckets kernel == composable per-table srpBucket form, bit-for-bit") {
    val emb = Engine.Tables(spark, Sf0001).embeddings
    val d = 64; val bits = 6; val tbls = 7
    val fused = emb.select(col("vec_id"),
        graft.functions.SrpBucketsExpr.srp_buckets(col("embedding"), tbls, bits, d, 1000L).as("bk"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    val composed = emb.select(col("vec_id") +: (0 until tbls).map(t =>
        Similarity.srpBucket(col("embedding"), bits, d, seed = 1000L + t).as(s"b$t")): _*)
      .collect().map(r => r.getLong(0) -> (1 to tbls).map(r.getLong(_)).toSeq).toMap
    assert(fused == composed,
      "every (row, table) bucket must match the DotProduct composition exactly")
  }

  test("blocked embedding near-dup: exact-verified subset of the NLJ form with high recall") {
    val emb = Engine.Tables(spark, Sf0001).embeddings
    val exact = Dedup.embeddingNearDups(emb, "vec_id", "embedding", 0.45)
      .select("da", "db")
    val blocked = Dedup.embeddingNearDupsBlocked(emb, "vec_id", "embedding", 0.45)
      .select("da", "db")
    assert(blocked.except(exact).count() == 0,
      "verify step must make blocked pairs a subset of exact pairs (precision 1.0)")
    val nExact = exact.count()
    assert(nExact > 0, "testdata must contain near-dup pairs for recall to mean anything")
    val missed = exact.except(blocked).count()
    val recall = (nExact - missed).toDouble / nExact
    // auto-sizing targets P(candidate) >= 0.95 at the declared threshold;
    // 0.85 leaves room for sample noise on the small pair set
    assert(recall >= 0.85, s"SRP-blocked recall $recall ($missed/$nExact missed) too low")
  }

  test("semanticDedup: drops are exact-verified (precision 1.0), recall measured vs exact graph") {
    val emb = Engine.Tables(spark, Sf0001).embeddings
    val exactPairs = Dedup.embeddingNearDups(emb, "vec_id", "embedding", 0.45)
      .select("da", "db")
    // ground-truth drop set: non-survivor members of the exact components
    val exactDrop = DupClusters.clusters(exactPairs)
      .filter(col("doc_id") =!= col("cluster"))
      .collect().map(_.getLong(0)).toSet
    assert(exactDrop.nonEmpty, "testdata must contain droppable near-dups")
    val sem = Dedup.semanticDedup(emb, "vec_id", "embedding", 0.45, nlist = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3)))
    // every input row classified exactly once
    assert(sem.length == emb.count(), "semanticDedup must classify every row")
    // precision 1.0: a dropped id must be a true member of some exact pair
    val pairMembers = exactPairs.collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    val semDrop = sem.filter(_._4 == 0).map(_._1).toSet
    assert((semDrop -- pairMembers).isEmpty,
      s"dropped ids with no exact near-dup: ${(semDrop -- pairMembers).take(5)}")
    // survivors are their own keep_id; drops point at a kept survivor
    sem.foreach { case (id, _, keep, kept) =>
      assert(if (kept == 1) keep == id else keep != id) }
    // recall: within-cell verification can only miss boundary-straddling
    // pairs — the approximation SemDeDup trades for one-table blocking
    val recall = (semDrop & exactDrop).size.toDouble / exactDrop.size
    assert(recall >= 0.6,
      s"SemDeDup recall $recall (${(exactDrop -- semDrop).size}/${exactDrop.size} missed)")
  }

  test("frozen-quantizer SemDeDup (qe7d path) == inline-fit SemDeDup (qe7c path)") {
    val emb = Engine.Tables(spark, Sf0001).embeddings
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2), r.getInt(3))).toMap
    val inline = m(Dedup.semanticDedup(emb, "vec_id", "embedding", 0.45, nlist = 8))
    val (_, cents) = IvfIndex.build(emb, "vec_id", "embedding", 8)
    val frozen = m(Dedup.semanticDedupFrozen(emb, cents, "vec_id", "embedding", 0.45))
    assert(frozen == inline,
      "frozen-quantizer SemDeDup must reproduce the inline-fit results exactly")
  }

  test("auto table sizing refuses loudly when the 0.95 recall target is unreachable") {
    import spark.implicits._
    val emb = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    // threshold 0.45 at forced 22 bits needs ~thousands of tables; a
    // silent 64-cap would under-recall with no signal
    val thrown = intercept[IllegalArgumentException] {
      Dedup.embeddingNearDupsBlocked(emb, "vec_id", "embedding", 0.45, nbits = 22)
    }
    assert(thrown.getMessage.contains("tables"),
      s"expected the table-cap refusal, got: ${thrown.getMessage.take(300)}")
  }

  test("blocked near-dup fails fast on embedding dim mismatch (no silent bucket-0 collapse)") {
    import spark.implicits._
    val mixed = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)),
      (2L, Seq(1.0f, 0.0f, 0.0f)),
      (3L, Seq(1.0f, 0.0f))  // wrong width
    ).toDF("vec_id", "embedding")
    val thrown = intercept[Exception] {
      Dedup.embeddingNearDupsBlocked(mixed, "vec_id", "embedding", 0.9).collect()
    }
    assert(thrown.getMessage.contains("dim mismatch"),
      s"expected a dim-mismatch error, got: ${thrown.getMessage.take(300)}")
  }

  test("blocked near-dup excludes null-element vectors from candidate generation (no hot bucket)") {
    import spark.implicits._
    val base = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)),
      (2L, Seq(0.99f, 0.05f, 0.0f)),
      (3L, Seq(0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val nullRows = Seq(
      (10L, Seq[java.lang.Float](null, 1.0f, 1.0f)),
      (11L, Seq[java.lang.Float](null, 0.5f, 0.5f))).toDF("vec_id", "embedding")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      Dedup.embeddingNearDupsBlocked(df, "vec_id", "embedding", 0.9,
          nbits = 4, tables = 8)
        .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val withNulls = pairs(base.union(nullRows))
    // results identical to the clean frame: null-element rows neither pair
    // with each other (the all-zero hot bucket) nor with anything else
    assert(withNulls == pairs(base), s"null-element rows leaked into pairs: $withNulls")
    assert(!withNulls.exists { case (a, b) => a >= 10L || b >= 10L })
  }

  test("simhash: identical docs have identical fingerprints, hamming 0") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "one two three four five six seven eight")).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(docs, 3).collect()
    assert(pairs.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L && r.getLong(2) == 0L))
  }
}

class SimilaritySpec extends SparkTestBase {

  test("embedding surface survives a float->double element-type flip (driver-regen guard)") {
    // the ts lesson (TIMESTAMP_NTZ, round 9) applied forward: if a future
    // test-data generation ships embeddings as array<double>, every
    // embedding path must keep working with IDENTICAL results — the
    // kernels upcast floats to double internally, so the flip is exact
    val emb = Engine.Tables(spark, Sf0001).embeddings
    val dbl = emb.withColumn("embedding", col("embedding").cast("array<double>"))
    val q = emb.filter(col("vec_id") === 0)
    val qd = dbl.filter(col("vec_id") === 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("rnk").collect().map(r => (r.getAs[Long]("cid"), r.getAs[Long]("rnk"))).toSeq
    assert(rows(Similarity.bruteForceTopK(dbl, qd, 5)) ==
      rows(Similarity.bruteForceTopK(emb, q, 5)))
    assert(rows(Similarity.lshTopK(dbl, qd, 5)) == rows(Similarity.lshTopK(emb, q, 5)))
    val ivfF = IvfIndex.topK(emb, q, "vec_id", "embedding", 5, nlist = 4, nprobe = 2)
    val ivfD = IvfIndex.topK(dbl, qd, "vec_id", "embedding", 5, nlist = 4, nprobe = 2)
    assert(rows(ivfD) == rows(ivfF))
  }

  test("brute-force top-k is exact: agrees with a driver-side reference calc") {
    val emb = Engine.Tables(spark, Sf0001).embeddings
    val topk = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") === 0), 3)
      .orderBy("rnk").collect()
    // reference computation in plain Scala
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val q = vecs(0L)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val expect = vecs.toSeq.filter(_._1 != 0L)
      .map { case (id, v) => (id, cos(q, v)) }
      .sortBy { case (id, c) => (-c, id) }.take(3).map(_._1)
    assert(topk.map(_.getAs[Long]("cid")).toSeq == expect)
  }

  test("IVF top-k: recall >= 90% at tuned nprobe, monotone in nprobe, exact at nlist") {
    val emb = Engine.Tables(spark, Sf0001).embeddings
    val queries = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(emb, queries, 5)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(nprobe: Int): Double = {
      val ivf = IvfIndex.topK(emb, queries, "vec_id", "embedding", 5,
        nlist = 8, nprobe = nprobe)
        .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact & ivf).size.toDouble / exact.size
    }
    // the nprobe -> recall sweep: non-decreasing, >= 0.9 at the tuned
    // setting qe3c registers (nprobe=6), exhaustive == exact at nprobe=nlist
    val sweep = Seq(1, 2, 4, 6, 8).map(np => np -> recall(np))
    sweep.sliding(2).foreach { case Seq((np1, r1), (np2, r2)) =>
      assert(r2 >= r1, s"recall must be monotone in nprobe: np=$np1:$r1 > np=$np2:$r2")
    }
    val tuned = sweep.toMap.apply(6)
    assert(tuned >= 0.9, s"tuned recall $tuned below the 0.9 bar (sweep: $sweep)")
    assert(sweep.toMap.apply(8) == 1.0, "probing every cell must be exhaustive/exact")
  }

  test("IVF is deterministic across runs (seeded k-means)") {
    val emb = Engine.Tables(spark, Sf0001).embeddings
    val q = emb.filter(col("vec_id") < 3)
    val r1 = IvfIndex.topK(emb, q, "vec_id", "embedding", 3).orderBy("qid", "rnk")
      .collect().map(_.toString).toSeq
    val r2 = IvfIndex.topK(emb, q, "vec_id", "embedding", 3).orderBy("qid", "rnk")
      .collect().map(_.toString).toSeq
    assert(r1 == r2)
  }

  test("LSH top-k returns subset of correct cosines with rank order per query") {
    val emb = Engine.Tables(spark, Sf0001).embeddings
    val out = Similarity.lshTopK(emb, emb.filter(col("vec_id") < 5), 3)
    val rows = out.collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("qid")).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("rnk"))
      assert(sorted.map(_.getAs[Double]("cos")).toSeq.reverse == sorted.map(_.getAs[Double]("cos")).toSeq.sorted)
    }
  }

  test("multi-table lshTopK: recall >= 0.5 where single-table finds ~nothing; " +
    "each pair scored once, ranks dense per query") {
    val emb = Engine.Tables(spark, Sf0001).embeddings
    val q = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, q, 5).select("qid", "cid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val s = df.select("qid", "cid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact & s).size.toDouble / exact.size
    }
    val single = recall(Similarity.lshTopK(emb, q, 5))
    val multi64 = Similarity.lshTopK(emb, q, 5, nbits = 8, tables = 64)
    val rows = multi64.collect()
    // the qe60 certificate floor, plus the reason the knob exists
    assert(recall(multi64) >= 0.5, s"64-table recall ${recall(multi64)} < 0.5")
    assert(recall(multi64) > single + 0.3,
      s"multi-table (${recall(multi64)}) must dominate single-table ($single)")
    // candidate dedup before scoring: co-bucketing in many tables must not
    // duplicate a pair or burn extra rank slots
    val pairs = rows.map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid")))
    assert(pairs.distinct.length == pairs.length, "duplicate (qid,cid) in output")
    rows.groupBy(_.getAs[Long]("qid")).foreach { case (qid, rs) =>
      val rnks = rs.map(_.getAs[Long]("rnk")).sorted.toSeq
      assert(rnks == (1L to rnks.size).toSeq, s"qid $qid ranks not dense: $rnks")
    }
  }

  test("certificate builders: below-floor rung and missed pair flag FALSE (hash-visible)") {
    import spark.implicits._
    val exact = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 12L)).toDF("qid", "cid")
    val bad = Seq((1L, 10L), (9L, 9L)).toDF("qid", "cid")
    val got = Certificates.topKRecall(exact,
        Seq(("bad", bad, 0.9), ("good", exact, 0.9)))
      .orderBy("variant").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
    assert(got.toSeq == Seq(("bad", 4L, false), ("good", 4L, true)), s"got ${got.toSeq}")
    val ep = Seq((1L, 2L, 0.8), (3L, 4L, 0.7)).toDF("da", "db", "j")
    val cand = Seq((1L, 2L), (1L, 2L), (5L, 6L)).toDF("da", "db") // dup + extra
    val pf = Certificates.pairsFound(ep, cand, "j").orderBy("da").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    // extra candidate pairs never appear (exact side drives); dup candidate
    // rows don't multiply; the missed exact pair is a visible FALSE
    assert(pf.toSeq == Seq((1L, 2L, 0.8, true), (3L, 4L, 0.7, false)), s"got ${pf.toSeq}")
  }

  test("lshTopK infers embedding dim and fails fast on a mismatched row") {
    import spark.implicits._
    val ok = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)), (3L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    // inference: dim=2 corpus works with the default dim=0
    assert(Similarity.lshTopK(ok, ok.filter($"vec_id" === 1L), 2).count() >= 1)
    val mixed = ok.union(Seq((9L, Seq(1.0f, 2.0f, 3.0f))).toDF("vec_id", "embedding"))
    val e = intercept[Exception] {
      Similarity.lshTopK(mixed, mixed.filter($"vec_id" === 1L), 2).collect()
    }
    assert(e.getMessage.contains("dim mismatch") ||
      (e.getCause != null && e.getCause.getMessage.contains("dim mismatch")),
      s"mismatched row must fail fast, got: ${e.getMessage}")
  }

  test("lshTopK on empty or all-null-embedding candidates returns empty, not a crash") {
    import spark.implicits._
    val qs = Seq((1L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Similarity.lshTopK(qs.filter($"vec_id" < 0L), qs, 2)
    assert(out.columns.toSeq == Seq("qid", "cid", "cos", "rnk"))
    assert(out.count() == 0L, "empty candidates can never match anything")
    val allNull = Seq((5L, null.asInstanceOf[Seq[Float]])).toDF("vec_id", "embedding")
    assert(Similarity.lshTopK(allNull, qs, 2).count() == 0L,
      "null-embedding candidates can never match anything")
  }

  test("IVF fit/apply split: assign from a persisted centroid table == model transform") {
    val emb = Engine.Tables(spark, Sf0001).embeddings
    val (assigned, centroids) = IvfIndex.build(emb, "vec_id", "embedding", 8)
    // round-trip the centroids through parquet: the apply side must need
    // only an ordinary table, never the fitted MLlib model object
    val dir = java.nio.file.Files.createTempDirectory("ivf_cent").toString
    centroids.write.mode("overwrite").parquet(dir)
    val loaded = spark.read.parquet(dir)
    val want = assigned.select(col("vec_id"), col("cell").cast("int")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val got = IvfIndex.assign(emb.select("vec_id", "embedding"), loaded,
        "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got.size == want.size)
    val diff = got.filter { case (id, c) => want(id) != c }
    assert(diff.isEmpty, s"assign diverged from model.transform on ${diff.take(5)}")
  }

  test("IVF assignInline (map-only codegen argmin) == model transform, keeps all columns") {
    val emb = Engine.Tables(spark, Sf0001).embeddings
    val (assigned, centroids) = IvfIndex.build(emb, "vec_id", "embedding", 8)
    val want = assigned.select(col("vec_id"), col("cell").cast("int")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val inline = IvfIndex.assignInline(emb, centroids, "embedding")
    // every input column survives (the map-only form decorates, never projects)
    assert(inline.columns.toSeq == emb.columns.toSeq :+ "cell")
    val got = inline.select(col("vec_id"), col("cell").cast("int")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got.size == want.size)
    val diff = got.filter { case (id, c) => want(id) != c }
    assert(diff.isEmpty, s"assignInline diverged from model.transform on ${diff.take(5)}")
  }

  test("cell_argmin kernel: parity with the unrolled least-struct argmin; " +
    "codegen-safe at production nlist; kernel refuses, never throws (r16)") {
    import spark.implicits._
    val emb = Engine.Tables(spark, Sf0001).embeddings
    val (_, centroids) = IvfIndex.build(emb, "vec_id", "embedding", 8)
    // the RETIRED unrolled form, reconstructed verbatim as the parity
    // oracle: least over struct(l2_dist, cell) — lexicographic ordering,
    // ties to the lower cell id
    val cents = centroids.select(col("cell").cast("int"), col("centroid"))
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1)
    val ds = cents.map { case (i, c) =>
      struct(graft.functions.L2Dist.l2_dist(col("embedding"),
        array(c.map(lit): _*)).as("d"), lit(i).as("cell"))
    }
    val unrolled = emb.withColumn("cell", least(ds.toIndexedSeq: _*).getField("cell"))
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val got = IvfIndex.assignInline(emb, centroids, "embedding")
      .select(col("vec_id"), col("cell").cast("int")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == unrolled, "kernel argmin diverged from the unrolled least form")
    // 512 cells — the production occupancy schedule near 128k vectors,
    // where the unrolled form crossed janino's 64 KB method limit (r16
    // append ladder). With codegen fallback DISABLED this materializes
    // only if the generated code actually compiles.
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val rnd = new scala.util.Random(7)
    val bigRows = (0 until 512).toList.map(i => (i, Seq.fill(dim)(rnd.nextGaussian())))
    val bigCents = bigRows.toDF("cell", "centroid")
    withConf("spark.sql.codegen.fallback" -> "false") {
      val out = IvfIndex.assignInline(emb, bigCents, "embedding")
        .select(col("vec_id"), col("cell")).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      // driver-side argmin over the same matrix certifies the values
      val mat = bigRows.map(_._2.toArray).toArray
      val sample = emb.select("vec_id", "embedding").limit(20).collect()
      sample.foreach { r =>
        val v = r.getSeq[Float](1).map(_.toDouble).toArray
        val want = mat.zipWithIndex.minBy { case (c, _) =>
          math.sqrt(v.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum)
        }._2
        assert(out(r.getLong(0)) == want,
          s"512-cell assignment diverged for vec ${r.getLong(0)}")
      }
    }
    // kernel refuse semantics (bare expression, no checkedVectors guard):
    // dim mismatch, null element, null vector → null; equidistant tie →
    // the EARLIER cell id in the supplied order
    import graft.functions.CellArgminExpr.cell_argmin
    val cells = Array(1, 3)
    val mat2 = Array(0.0, 1.0, 0.0, -1.0) // cell 1 at (0,1), cell 3 at (0,-1)
    val probeSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, containsNull = true))))
    val probe = spark.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row(1L, Seq(0.0, 0.9)),  // nearer (0,1) → 1
      org.apache.spark.sql.Row(2L, Seq(0.0, 0.0)),  // equidistant → 1 (lower)
      org.apache.spark.sql.Row(3L, Seq(0.0)),       // dim mismatch → null
      org.apache.spark.sql.Row(4L, Seq(0.0, null)), // null element → null
      org.apache.spark.sql.Row(5L, null)            // null vector → null
    ), probeSchema)
    val res = probe.select(col("id"), cell_argmin(col("v"), cells, mat2).as("c"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    assert(res == Map(1L -> Some(1), 2L -> Some(1), 3L -> None,
      4L -> None, 5L -> None), s"kernel refuse/tie semantics: $res")
    // ADVICE r16: array fields compare by reference under case-class
    // equals, so two semantically identical expressions from CLONED
    // matrices never compared equal — Catalyst canonicalization / CSE /
    // cached-plan matching all key on expression equality. Build the
    // same expression twice from distinct array instances and require
    // equality (and semanticEquals through canonicalization).
    import org.apache.spark.sql.graftshim.ColumnShim
    // one shared child: Column→Expression conversion stamps a call-site
    // Origin into the node, so distinct col("v") conversions are never
    // equal — the property under test is the ARRAY fields' equality
    val childExpr = ColumnShim.expression(col("v"))
    val e1 = graft.functions.CellArgminExpr(childExpr, cells.clone(), mat2.clone())
    val e2 = graft.functions.CellArgminExpr(childExpr, cells.clone(), mat2.clone())
    assert(e1 == e2, "cloned-matrix cell_argmin expressions must compare equal")
    assert(e1.hashCode == e2.hashCode)
    assert(e1.semanticEquals(e2))
    assert(e1 != graft.functions.CellArgminExpr(childExpr, Array(1, 4), mat2.clone()))
    // ADVICE r16: shape checks surface as ANALYSIS failures, not
    // constructor throws mid-tree-transform — a misshaped matrix must
    // reach checkInputDataTypes and fail the query, not crash TreeNode
    // (select analyzes EAGERLY in Spark 4 — construct inside the intercept)
    val err = intercept[org.apache.spark.sql.AnalysisException](probe.select(
      cell_argmin(col("v"), Array(1, 3), Array(0.0, 1.0, 0.0)).as("c")).collect())
    assert(err.getMessage.contains("cell_argmin"),
      s"shape error should name the function: ${err.getMessage}")
    intercept[org.apache.spark.sql.AnalysisException](probe.select(
      cell_argmin(col("v"), Array.empty[Int], Array.empty[Double]).as("c")).collect())
  }

  test("IVF occupancy card: cells partition the corpus, frac normalizes to 1") {
    val emb = Engine.Tables(spark, Sf0001).embeddings
    val (_, centroids) = IvfIndex.build(emb, "vec_id", "embedding", 8)
    val card = IvfIndex.occupancyCard(emb, centroids, "embedding").collect()
    assert(card.map(_.getLong(1)).sum == emb.count(),
      "every vector lands in exactly one cell")
    assert(card.map(_.getInt(0)).toSet.subsetOf((0 until 8).toSet))
    val fracSum = card.map(_.getDouble(2)).sum
    assert(math.abs(fracSum - 1.0) <= 0.001, s"frac sums to $fracSum")
    card.foreach(r => assert(r.getLong(1) > 0L, "empty cells are absent, not zero rows"))
  }

  test("embedding norms card: exact decimal norms, zero AND null vectors visible per group") {
    import spark.implicits._
    val emb = Seq(
      (1L, Some(Seq(3.0f, 4.0f)), 0),      // norm 5
      (2L, Some(Seq(0.0f, 0.0f)), 0),      // zero vector
      (3L, Some(Seq(6.0f, 8.0f)), 1),      // norm 10
      (4L, None: Option[Seq[Float]], 1)    // encoder failure: null vector
    ).toDF("vec_id", "embedding", "label")
    val got = EmbedQuality.normsCard(emb).orderBy("label").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getLong(5), r.getLong(6)))
    // group 1: the null vector counts in n and n_bad but must NOT deflate
    // mean_norm (sum skips nulls — dividing by count(*) biased it low)
    assert(got.toSeq == Seq(
      (0, 2L, 2.5, 0.0, 5.0, 1L, 0L),
      (1, 2L, 10.0, 10.0, 10.0, 0L, 1L)), s"got ${got.toSeq}")
    // a group whose vectors are ALL null: count(__nrm) = 0, and an
    // unguarded division threw DIVIDE_BY_ZERO under ANSI — crashing the
    // exact encoder-failure screen this card exists for. It must instead
    // REPORT: mean_norm NULL, n_bad = n.
    val allBad = Seq(
      (5L, None: Option[Seq[Float]], 2),
      (6L, None: Option[Seq[Float]], 2)).toDF("vec_id", "embedding", "label")
    val bad = EmbedQuality.normsCard(allBad).collect()
    assert(bad.length == 1 && bad(0).getLong(1) == 2L &&
      bad(0).isNullAt(2) && bad(0).getLong(6) == 2L,
      s"all-null group must report (n=2, mean_norm NULL, n_bad=2), got ${bad.toSeq}")
  }

  test("frozen-centroid topK (qe3d path) == inline-fit topK (qe3c path) at same knobs") {
    val emb = Engine.Tables(spark, Sf0001).embeddings
    val queries = emb.filter(col("vec_id") < 10)
    val inlineFit = IvfIndex.topK(emb, queries, "vec_id", "embedding", 5,
        nlist = 8, nprobe = 6)
      .select("qid", "rnk", "cid").orderBy("qid", "rnk")
      .collect().map(_.toString).toSeq
    val cents = IvfIndex.persistedCentroids(emb, Sf0001 + "/embeddings.parquet",
      "vec_id", "embedding", nlist = 8)
    val frozen = IvfIndex.topKFrozen(emb, cents, queries, "vec_id", "embedding",
        5, nprobe = 6)
      .select("qid", "rnk", "cid").orderBy("qid", "rnk")
      .collect().map(_.toString).toSeq
    assert(frozen == inlineFit,
      "the frozen-artifact apply path must reproduce the inline-fit results exactly")
    // second call reads the persisted artifact back (same results, no refit)
    val cents2 = IvfIndex.persistedCentroids(emb, Sf0001 + "/embeddings.parquet",
      "vec_id", "embedding", nlist = 8)
    assert(cents2.collect().map(_.toString).sorted.toSeq ==
      cents.collect().map(_.toString).sorted.toSeq)
  }

  test("IVF postings append (qe3f path): base ∪ batch-assign == from-scratch assign, " +
    "searched identically; appended search is row-identical to scratch") {
    val emb = Engine.Tables(spark, Sf0001).embeddings
    val stored = emb.filter(col("vec_id") % 5 =!= 3)
    val batch = emb.filter(col("vec_id") % 5 === 3)
    val cents = IvfIndex.build(stored, "vec_id", "embedding", nlist = 8)._2
    // the append path's postings frame equals the from-scratch assignment
    // of the union corpus — assignment is pointwise at fixed centroids
    val appended = IvfIndex.assignInline(stored, cents, "embedding")
      .unionByName(IvfIndex.assignInline(batch, cents, "embedding"))
    val scratch = IvfIndex.assignInline(emb, cents, "embedding")
    assert(appended.select("vec_id", "cell").collect().map(_.toString).sorted.toSeq ==
      scratch.select("vec_id", "cell").collect().map(_.toString).sorted.toSeq)
    // and the searched top-k over the appended postings is row-identical
    val queries = emb.filter(col("vec_id") < 10)
    def run(assigned: org.apache.spark.sql.DataFrame) =
      IvfIndex.topKAssigned(assigned, cents, queries, "vec_id", "embedding", 5, nprobe = 6)
        .select("qid", "rnk", "cid").orderBy("qid", "rnk")
        .collect().map(_.toString).toSeq
    assert(run(appended) == run(scratch),
      "appended-postings search must be row-identical to the from-scratch path")
  }

  test("IVF-PQ encode: m tinyint codes in [0, 2^nbits), raw vector dropped, deterministic") {
    val emb = Engine.Tables(spark, Sf0001).embeddings
    val (_, cents) = IvfIndex.build(emb, "vec_id", "embedding", 8)
    val books = PqIndex.fitCodebooks(emb, cents, "vec_id", "embedding", m = 32, nbits = 4)
    assert(books.count() <= 32L * 16L, "m * 2^nbits codebook rows at most")
    val enc = PqIndex.encode(emb.select("vec_id", "embedding"), cents, books, "embedding")
    assert(enc.columns.toSeq == Seq("vec_id", "cell", "codes"),
      "encode must drop the raw vector — the m-byte code IS the stored payload")
    assert(enc.schema("codes").dataType.simpleString == "array<tinyint>")
    val rows = enc.collect()
    assert(rows.length == emb.count())
    rows.foreach { r =>
      val cs = r.getSeq[Byte](2)
      assert(cs.length == 32, s"expected m=32 codes, got ${cs.length}")
      // stored biased by -128 so the full 8-bit range fits tinyint
      assert(cs.forall(c => c + 128 >= 0 && c + 128 < 16),
        s"unbiased code out of [0,16): $cs")
    }
    val again = PqIndex.encode(emb.select("vec_id", "embedding"), cents, books, "embedding")
      .collect().map(_.toString).sorted.toSeq
    assert(again == rows.map(_.toString).sorted.toSeq, "seeded fit + argmin encode is deterministic")
  }

  test("IVF-PQ nbits=8: the full 256-codeword range round-trips through tinyint storage") {
    // the classic 8-bits-per-subspace configuration: codes 128..255 would
    // wrap (or throw under ANSI) in an unbiased tinyint cast — the -128
    // bias stores the full range in one byte and the decode path un-biases
    val emb = Engine.Tables(spark, Sf0001).embeddings
    val queries = emb.filter(col("vec_id") < 5)
    val (_, cents) = IvfIndex.build(emb, "vec_id", "embedding", 4)
    val books = PqIndex.fitCodebooks(emb, cents, "vec_id", "embedding", m = 8, nbits = 8)
    val enc = PqIndex.encode(emb.select("vec_id", "embedding"), cents, books, "embedding")
    val codes = enc.collect().flatMap(_.getSeq[Byte](2)).map(_.toInt + 128)
    assert(codes.forall(c => c >= 0 && c < 256), "unbiased code out of [0,256)")
    assert(codes.exists(_ > 127),
      "fixture never exercised the high half of the code range — the wrap case is untested")
    val top = PqIndex.topKEncoded(emb, enc, cents, books, queries,
      "vec_id", "embedding", k = 5, nprobe = 3, refine = 4)
    val perQ = top.groupBy("qid").count().collect()
    assert(perQ.length == 5 && perQ.forall(_.getLong(1) == 5L),
      "decode path must serve full top-k per query from biased codes")
  }

  test("IVF-PQ quantization: reconstructed residuals strictly beat centroid-only") {
    // the codebooks must EARN their m bytes: reconstruction error with PQ
    // codes below the centroid-only (all-zero-residual) baseline, on average
    val emb = Engine.Tables(spark, Sf0001).embeddings
    val (_, cents) = IvfIndex.build(emb, "vec_id", "embedding", 8)
    val books = PqIndex.fitCodebooks(emb, cents, "vec_id", "embedding", m = 32, nbits = 4)
    val bookMap = books.collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toArray).toMap
    val centMap = cents.collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val enc = PqIndex.encode(emb.select("vec_id", "embedding"), cents, books, "embedding")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Byte](2))).toSeq
    def sq(x: Double) = x * x
    val (pqErr, baseErr) = enc.map { case (id, cell, codes) =>
      val resid = vecs(id).zip(centMap(cell)).map { case (v, c) => v - c }
      val decoded = codes.zipWithIndex.flatMap { case (c, j) => bookMap((j, c.toInt + 128)) }
      (resid.zip(decoded).map { case (r, d) => sq(r - d) }.sum,
        resid.map(sq).sum)
    }.reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    assert(pqErr < 0.5 * baseErr,
      s"PQ reconstruction error $pqErr not well below centroid-only $baseErr")
  }

  test("IVF-PQ top-k: recall >= 0.9 at qe3e knobs, provably monotone in refine, " +
    "equal to full-vector IVF when the shortlist covers every probed candidate") {
    val emb = Engine.Tables(spark, Sf0001).embeddings
    val queries = emb.filter(col("vec_id") < 20)
    val (_, cents) = IvfIndex.build(emb, "vec_id", "embedding", 8)
    val books = PqIndex.fitCodebooks(emb, cents, "vec_id", "embedding", m = 32, nbits = 4)
    val exact = Similarity.bruteForceTopK(emb, queries, 5)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(refine: Int): Double = {
      val got = PqIndex.topK(emb, cents, books, queries, "vec_id", "embedding", 5,
          nprobe = 6, refine = refine)
        .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact & got).size.toDouble / exact.size
    }
    // monotone in refine: the k*refine shortlist grows by PREFIX (same ADC
    // ordering), and the exact re-rank can only displace a true top-k item
    // with another true top-k item — so a larger shortlist never loses one
    val sweep = Seq(1, 2, 4, 8).map(rf => rf -> recall(rf))
    sweep.sliding(2).foreach { case Seq((r1, v1), (r2, v2)) =>
      assert(v2 >= v1, s"recall must be monotone in refine: rf=$r1:$v1 > rf=$r2:$v2")
    }
    assert(sweep.toMap.apply(4) >= 0.9,
      s"qe3e tuned recall ${sweep.toMap.apply(4)} below 0.9 (sweep: $sweep)")
    // refine large enough to shortlist EVERY probed candidate => the exact
    // re-rank sees all of them and IVF-PQ == full-vector IVF at same knobs,
    // independent of quantization quality (candidate-set equality by shared
    // probeCells, ranking equality by the shared exact-cosine contract)
    val ivf = IvfIndex.topK(emb, queries, "vec_id", "embedding", 5,
        nlist = 8, nprobe = 6)
      .select("qid", "rnk", "cid").orderBy("qid", "rnk").collect().map(_.toString).toSeq
    val pqAll = PqIndex.topK(emb, cents, books, queries, "vec_id", "embedding", 5,
        nprobe = 6, refine = 1000)
      .select("qid", "rnk", "cid").orderBy("qid", "rnk").collect().map(_.toString).toSeq
    assert(pqAll == ivf, "all-candidate shortlist must reduce IVF-PQ to exact IVF")
  }

  test("PQ codebook artifact: persistedCodebooks round-trips and serves the read-back") {
    val emb = Engine.Tables(spark, Sf0001).embeddings
    val dir = java.nio.file.Files.createTempDirectory("pq_art").toString
    withConf("spark.graft.artifacts.dir" -> dir) {
      val cents = IvfIndex.persistedCentroids(emb, s"$Sf0001/embeddings.parquet",
        "vec_id", "embedding", nlist = 8)
      val books = PqIndex.persistedCodebooks(emb, s"$Sf0001/embeddings.parquet",
        cents, "vec_id", "embedding", nlist = 8, m = 32, nbits = 4)
      val direct = PqIndex.fitCodebooks(emb, cents, "vec_id", "embedding",
        m = 32, nbits = 4)
      assert(books.collect().map(_.toString).sorted.toSeq ==
        direct.collect().map(_.toString).sorted.toSeq,
        "artifact read-back must equal the direct fit")
      // second call is served from parquet: a pure scan, no k-means lineage
      val again = PqIndex.persistedCodebooks(emb, s"$Sf0001/embeddings.parquet",
        cents, "vec_id", "embedding", nlist = 8, m = 32, nbits = 4)
      assert(again.queryExecution.optimizedPlan.collectLeaves()
        .forall(_.nodeName.contains("Relation")),
        "served artifact must be a plain parquet scan")
      assert(again.collect().map(_.toString).sorted.toSeq ==
        books.collect().map(_.toString).sorted.toSeq)
      // third artifact: the encoded corpus IS the PQ index — round-trips,
      // and serving from it equals the encode-inline pipeline exactly
      val index = PqIndex.persistedEncoded(emb, s"$Sf0001/embeddings.parquet",
        cents, books, "vec_id", "embedding", nlist = 8, m = 32, nbits = 4)
      val direct2 = PqIndex.encode(emb.select("vec_id", "embedding"), cents,
        books, "embedding")
      assert(index.collect().map(_.toString).sorted.toSeq ==
        direct2.collect().map(_.toString).sorted.toSeq,
        "encoded-corpus artifact must equal a direct encode")
      val q = emb.filter(col("vec_id") < 5)
      val fromIndex = PqIndex.topKEncoded(emb, index, cents, books, q,
          "vec_id", "embedding", 5, nprobe = 6, refine = 4)
        .select("qid", "rnk", "cid").orderBy("qid", "rnk")
        .collect().map(_.toString).toSeq
      val inline = PqIndex.topK(emb, cents, books, q,
          "vec_id", "embedding", 5, nprobe = 6, refine = 4)
        .select("qid", "rnk", "cid").orderBy("qid", "rnk")
        .collect().map(_.toString).toSeq
      assert(fromIndex == inline,
        "serving from the persisted index must equal encode-inline results")
    }
  }

}

class TextAnalysisSpec extends SparkTestBase {
  import spark.implicits._

  test("tokenizer drops empties on messy whitespace") {
    val df = Seq(("  a  b\tc \n d  "), ("")).toDF("text")
    val counts = df.select(TextAnalysis.tokenCount(col("text"))).as[Long].collect()
    assert(counts.toSeq == Seq(4L, 0L))
  }

  test("bpe-ish counting splits words, digits, punctuation") {
    val n = Seq(("hello, world 42!")).toDF("text")
      .select(TextAnalysis.bpeishCount(col("text"))).as[Long].head()
    // hello , world 4 2 ! -> 6
    assert(n == 6L)
  }

  test("langId picks marker-dominant language deterministically") {
    val docs = Seq(
      (1L, "the cat and the dog of the house"),
      (2L, "der hund und die katze ist das tier"),
      (3L, "xyzzy plugh")).toDF("doc_id", "text")
    val out = TextAnalysis.langId(docs).orderBy("doc_id").as[(Long, String)].collect()
    assert(out.toSeq == Seq((1L, "en"), (2L, "de"), (3L, "und")))
  }

  test("fingerprints: identical text same md5 and dup count") {
    val docs = Seq((1L, "same text"), (2L, "same text"), (3L, "other")).toDF("doc_id", "text")
    val out = TextAnalysis.fingerprints(docs).orderBy("doc_id").collect()
    assert(out(0).getAs[String]("fp") == out(1).getAs[String]("fp"))
    assert(out(0).getAs[Long]("fp_dups") == 2L && out(2).getAs[Long]("fp_dups") == 1L)
  }
}

class MultimodalSpec extends SparkTestBase {

  test("payload attach + stub decode is deterministic and partition-safe") {
    val docs = Engine.Tables(spark, Sf0001).documents.limit(50)
    val once = Multimodal.decodeAll(Multimodal.attachPayload(docs), partitions = 4)
      .collect().sortBy(_.doc_id)
    val twice = Multimodal.decodeAll(Multimodal.attachPayload(docs), partitions = 2)
      .collect().sortBy(_.doc_id)
    assert(once.map(r => (r.doc_id, r.byteLen, r.width, r.height)).toSeq ==
      twice.map(r => (r.doc_id, r.byteLen, r.width, r.height)).toSeq)
    assert(once.forall(_.feature.length == 8))
  }

  test("resize stage shrinks payloads deterministically with recorded dims") {
    val docs = Engine.Tables(spark, Sf0001).documents.limit(10)
    val media = Multimodal.attachPayload(docs)
    val resized = Multimodal.resizeAll(media, 64, 64).collect()
    val orig = media.collect().map(r => r.getAs[Long]("doc_id") ->
      r.getAs[Array[Byte]]("payload").length).toMap
    resized.foreach { r =>
      assert(r.getAs[Int]("width") == 64 && r.getAs[Int]("height") == 64)
      assert(r.getAs[Array[Byte]]("payload").length <= orig(r.getAs[Long]("doc_id")))
    }
    val twice = Multimodal.resizeAll(media, 64, 64).collect()
      .map(r => r.getAs[Array[Byte]]("payload").toSeq).toSet
    assert(twice == resized.map(r => r.getAs[Array[Byte]]("payload").toSeq).toSet)
  }

  test("frame sampling yields n frames per doc") {
    val docs = Engine.Tables(spark, Sf0001).documents.limit(5)
    val frames = Multimodal.sampleFrames(Multimodal.attachPayload(docs), 4)
    assert(frames.count() == 20)
  }
}

class KnnClassifySpec extends SparkTestBase {

  test("knnClassify: majority vote over the exact top-k, deterministic ties") {
    val emb = Engine.Tables(spark, Sf0001).embeddings
    val labeled = emb.filter(col("vec_id") >= 20)
    val queries = emb.filter(col("vec_id") < 20)
    val got = Similarity.knnClassify(labeled, queries, 5).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    // reference: rank by (cos desc, cid), count labels, pick (votes desc,
    // label asc) — independent plain-Scala reimplementation
    val labels = labeled.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val topk = Similarity.bruteForceTopK(labeled, queries, 5)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1)))
    val expect = topk.groupBy(_._1).map { case (qid, nbrs) =>
      val votes = nbrs.map(n => labels(n._2)).groupBy(identity).map { case (l, xs) => (l, xs.size.toLong) }
      val (bl, bv) = votes.toSeq.minBy { case (l, v) => (-v, l) }
      qid -> (bl, bv)
    }
    assert(got == expect)
    assert(got.size == 20, "every query row must get a prediction")
  }

  test("knnClassify: null-labeled rows neither occupy neighbor slots nor vote") {
    import spark.implicits._
    val labeled = Seq(
      (10L, Seq(1.0f, 0.0f), null.asInstanceOf[Integer]),  // closest to q, unlabeled
      (11L, Seq(0.9f, 0.1f), Integer.valueOf(7)),
      (12L, Seq(0.0f, 1.0f), Integer.valueOf(3))
    ).toDF("vec_id", "embedding", "label")
    val queries = Seq((1L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val got = Similarity.knnClassify(labeled, queries, 1).collect()
    assert(got.length == 1 && got(0).getInt(1) == 7,
      s"the nearest LABELED row must take the k=1 slot, got ${got.mkString}")
    intercept[IllegalArgumentException](Similarity.knnClassify(labeled, queries, 0))
  }

  test("knnClassify: labeled side broadcasts; per-query top-k is a partial WindowGroupLimit") {
    val emb = Engine.Tables(spark, Sf0001).embeddings
    val df = Similarity.knnClassify(emb.filter(col("vec_id") >= 20),
      emb.filter(col("vec_id") < 20), 5)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"the small labeled frame must broadcast over the query scan, got:\n$plan")
    assert(plan.contains("WindowGroupLimit"),
      s"top-k must prune map-side before the qid shuffle, got:\n$plan")
  }

  test("knnClassify: string labels vote deterministically (lexical min on tie)") {
    import spark.implicits._
    // q is equidistant-ish from two pairs; k=4 forces a 2-2 vote tie
    val labeled = Seq(
      (10L, Seq(1.0f, 0.02f), "politics"), (11L, Seq(1.0f, -0.02f), "politics"),
      (12L, Seq(1.0f, 0.03f), "ball"), (13L, Seq(1.0f, -0.03f), "ball")
    ).toDF("vec_id", "embedding", "label")
    val queries = Seq((1L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val got = Similarity.knnClassify(labeled, queries, 4).collect()
    assert(got.length == 1 && got(0).getString(1) == "ball" && got(0).getLong(2) == 2L,
      s"2-2 tie must resolve to the lexically smaller label, got ${got.mkString}")
  }

  test("knnClassify: excludeSameId=false lets an id-colliding neighbor compete") {
    import spark.implicits._
    val labeled = Seq((1L, Seq(1.0f, 0.0f), "x"), (2L, Seq(0.0f, 1.0f), "y"))
      .toDF("vec_id", "embedding", "label")
    val queries = Seq((1L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val withFilter = Similarity.knnClassify(labeled, queries, 1).collect()
    assert(withFilter(0).getString(1) == "y",
      "same-id-space mode must skip the identical id")
    val without = Similarity.knnClassify(labeled, queries, 1, excludeSameId = false)
      .collect()
    assert(without(0).getString(1) == "x",
      "disjoint-id-space mode must let the colliding id vote")
  }
}
