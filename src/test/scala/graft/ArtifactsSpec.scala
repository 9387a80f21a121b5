package graft

import org.apache.spark.sql.functions._

/** The persisted fit-artifact store (SURVEY §2.4 fit/apply splits): writes
  * are atomic, reads survive a cold start, keys self-invalidate on input
  * change, and the registered frozen queries genuinely consume artifacts
  * (their second invocation runs zero fit jobs). */
class ArtifactsSpec extends SparkTestBase {

  private def freshRoot(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-artifacts-spec")
    dir.toFile.deleteOnExit()
    dir.toString
  }

  test("getOrFit fits exactly once and the read-back round-trips the fit frame") {
    import spark.implicits._
    withConf("spark.graft.artifacts.dir" -> freshRoot()) {
      var fits = 0
      def fit = { fits += 1; Seq((1L, "a"), (2L, "b")).toDF("id", "v") }
      val first = Artifacts.getOrFit(spark, "spec_kind", "k1", fit)
      val second = Artifacts.getOrFit(spark, "spec_kind", "k1", fit)
      assert(fits == 1, s"second call re-ran the fit ($fits fits)")
      // both calls read parquet from disk — the round-trip IS the cold
      // start (no in-memory result cache exists to serve from)
      assert(second.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
        == Seq((1L, "a"), (2L, "b")))
      assert(first.schema == second.schema)
      // the returned plan is a parquet scan of the artifact, not fit lineage
      val leaves = second.queryExecution.optimizedPlan.collectLeaves()
      assert(leaves.nonEmpty && leaves.forall(_.toString.toLowerCase.contains("parquet")),
        s"expected a parquet artifact scan, got: ${leaves.mkString("; ")}")
    }
  }

  test("cold start: a fresh store handle (new key map, same disk) reads, never refits") {
    import spark.implicits._
    val root = freshRoot()
    withConf("spark.graft.artifacts.dir" -> root) {
      var fits = 0
      def fit = { fits += 1; Seq((7L, 0.5)).toDF("id", "x") }
      Artifacts.getOrFit(spark, "spec_cold", "k1", fit)
      assert(fits == 1)
      // simulate the new-JVM path: bypass getOrFit entirely and read the
      // artifact directory as a plain parquet table — what any other
      // process (or a 1000-executor cluster job) would do
      val external = spark.read.parquet(s"$root/spec_cold/k1")
      assert(external.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        == Seq((7L, 0.5)))
      // and the store itself, asked again, still serves from disk
      Artifacts.getOrFit(spark, "spec_cold", "k1", fit)
      assert(fits == 1)
    }
  }

  test("fingerprint keying: touching the input moves the key; params move the key") {
    val dir = java.nio.file.Files.createTempDirectory("graft-artifacts-fp")
    val f = dir.resolve("part-0.parquet")
    java.nio.file.Files.write(f, Array[Byte](1, 2, 3))
    val k1 = Artifacts.fitKey(spark, Seq(dir.toString), "n3")
    assert(k1 == Artifacts.fitKey(spark, Seq(dir.toString), "n3"), "fingerprint unstable")
    assert(k1 != Artifacts.fitKey(spark, Seq(dir.toString), "n4"), "params not keyed")
    java.nio.file.Files.write(f, Array[Byte](1, 2, 3, 4))
    java.nio.file.Files.setLastModifiedTime(f,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 5000))
    assert(k1 != Artifacts.fitKey(spark, Seq(dir.toString), "n3"),
      "regenerated input (new size+mtime) must land on a fresh key")
  }

  test("store stays bounded: old keys prune once the per-kind cap is passed") {
    import spark.implicits._
    withConf("spark.graft.artifacts.dir" -> freshRoot()) {
      // cap raised 8 → 16 in r15 (the media_key_set evolution chain holds
      // 3 live keys per scale factor; 8 was no longer above 3 × 3 SFs)
      (1 to 20).foreach { i =>
        Artifacts.getOrFit(spark, "spec_prune", s"k$i", Seq((i.toLong, i)).toDF("id", "v"))
        Thread.sleep(2) // distinct mtimes so recency ordering is defined
      }
      val root = spark.conf.get("spark.graft.artifacts.dir")
      val left = new java.io.File(s"$root/spec_prune").listFiles()
        .map(_.getName).filterNot(_.startsWith(".tmp-"))
      assert(left.length <= 16, s"store grew past the cap: ${left.length} keys")
      assert(left.contains("k20"), "the freshest key must survive pruning")
    }
  }

  test("corrupt partial dest (no _SUCCESS) is replaced by the fresh fit, not a wedge") {
    import spark.implicits._
    val root = freshRoot()
    withConf("spark.graft.artifacts.dir" -> root) {
      // simulate a prune that died mid-delete: dest exists as a directory
      // with data but no _SUCCESS marker. On (at least) local/HDFS-style
      // filesystems rename(tmp, existingDir) nests tmp INSIDE dest; the
      // old cleanup then deleted the writer's own fresh output and the
      // key wedged permanently after two failed read attempts.
      val dest = java.nio.file.Paths.get(root, "spec_corrupt", "k1")
      java.nio.file.Files.createDirectories(dest)
      java.nio.file.Files.write(dest.resolve("stale-part.parquet"), Array[Byte](0, 1, 2))
      var fits = 0
      def fit = { fits += 1; Seq((42L, "fresh")).toDF("id", "v") }
      val got = Artifacts.getOrFit(spark, "spec_corrupt", "k1", fit)
      assert(got.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
        == Seq((42L, "fresh")), "corrupt dest must be replaced by the fresh fit")
      assert(fits == 1, s"recovery must not refit in a loop ($fits fits)")
      assert(java.nio.file.Files.exists(dest.resolve("_SUCCESS")),
        "recovered artifact must carry the _SUCCESS marker")
      assert(!java.nio.file.Files.exists(dest.resolve("stale-part.parquet")),
        "stale partial content must not survive inside the recovered artifact")
    }
  }

  test("shard export round-trips: persisted payload bytes reproduce the manifest exactly") {
    import org.apache.spark.sql.functions._
    val root = freshRoot()
    withConf("spark.graft.artifacts.dir" -> root) {
      val docs = Engine.Tables(spark, Sf0001).documents
        .filter(graft.operators.TextAnalysis.hasTokens(col("text")))
        .select(col("doc_id"), graft.operators.SeqPack.md5TokenIds(
          graft.operators.TextAnalysis.tokens(col("text"))).as("toks"))
        .withColumn("shard", col("doc_id") % 8)
      // the direct (in-lineage) manifest
      val direct = graft.operators.SeqPack.exportShards(docs, "shard", "doc_id", "toks", 2048L)
        .select("shard", "bin", "n_tok", "stream_md5")
        .orderBy("shard", "bin").collect().map(_.toString).toSeq
      // the persisted form: write shards, recompute manifest from read-back
      val persisted = graft.operators.SeqPack.exportShardsPersisted(spark, docs,
          "shard", "doc_id", "toks", 2048L,
          Seq(s"$Sf0001/documents.parquet"), "spec-b2048-s8")
        .orderBy("shard", "bin").collect().map(_.toString).toSeq
      assert(direct == persisted,
        "manifest recomputed from the persisted bytes must equal the direct manifest")
      // and the artifact is a plain parquet any external reader consumes:
      // every non-final bin is exactly budget tokens = 2*budget bytes
      val keyDirs = new java.io.File(s"$root/token_shards").listFiles()
        .filterNot(_.getName.startsWith(".tmp-"))
      assert(keyDirs.length == 1, s"expected one artifact key, got ${keyDirs.toSeq}")
      val ext = spark.read.parquet(keyDirs.head.getPath).collect()
      assert(ext.nonEmpty)
      val byShard = ext.groupBy(_.getAs[Long]("shard"))
      byShard.foreach { case (sh, rows) =>
        val lastBin = rows.map(_.getAs[Long]("bin")).max
        rows.filter(_.getAs[Long]("bin") != lastBin).foreach { r =>
          assert(r.getAs[Array[Byte]]("payload").length == 4096,
            s"shard $sh bin ${r.getAs[Long]("bin")}: non-final bin not exactly 2048 u16 tokens")
        }
      }
    }
  }

  test("frozen queries consume artifacts: second run of each fires zero fit-side jobs") {
    // the honest-apply claim, machine-checked: after a warm first run has
    // persisted every artifact, re-running each frozen registered query
    // must execute NO job whose lineage is the fit (k-means, corpus
    // shingling of the frozen half, vocab induction). Detectable without
    // plan spelunking: artifact directories' mtimes don't change, and the
    // queries still hash-agree with their pre-artifact results implicitly
    // via CORRECTNESS — here we assert the store served every call.
    withConf("spark.graft.artifacts.dir" -> freshRoot()) {
      val frozen = Seq("qe3d_knn_ivf_frozen", "qe7d_semantic_dedup_frozen",
        "qe47_ivf_occupancy", "qe52b_dup_spans_frozen", "qe54b_drift_cross_snapshot",
        "qe56c_cdc_dup_frozen", "qe58d_containment_frozen", "qe43_incremental_fuzzy",
        "qe11e_shard_export", "qe76_crawl_dedup_incremental")
      frozen.foreach(q => SparkEntry.queries(q)(spark, Sf0001).collect())
      val root = spark.conf.get("spark.graft.artifacts.dir")
      def successMtimes: Map[String, Long] = {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isFile) Seq(f) else Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        walk(new java.io.File(root)).filter(_.getName == "_SUCCESS")
          .map(f => f.getPath -> f.lastModified()).toMap
      }
      // 6 artifact kinds: the three IVF consumers share one centroid table
      val after1 = successMtimes
      assert(after1.size >= 6, s"expected >= 6 persisted artifacts, got ${after1.keySet}")
      val r1 = frozen.map(q => q -> SparkEntry.queries(q)(spark, Sf0001).count()).toMap
      assert(successMtimes == after1,
        "second run rewrote an artifact — a frozen query is still fitting")
      r1.foreach { case (q, n) => assert(n > 0, s"$q returned no rows") }
    }
  }
}
