package graft.tools

import org.apache.spark.sql.functions._

/** Measures the approximate family's actual recall/error at a given SF so
  * the registered certificate floors (qe60–qe64, qe66) are set from
  * evidence, not hope. Run:
  *   sbt -batch "Test/runMain graft.tools.CertProbe /root/testdata/sf0.01"
  */
object CertProbe {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Engine.session("local[16]", 16)
    import graft.operators._
    val emb = graft.Engine.Tables(spark, d).embeddings
    val docs = graft.Engine.Tables(spark, d).documents
    val nH = graft.Engine.parquetRowCount(spark, s"$d/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 10)

    val exact = Similarity.bruteForceTopK(emb, q, 5).select("qid", "cid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def rec(df: org.apache.spark.sql.DataFrame): Double = {
      val s = df.select("qid", "cid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact & s).size.toDouble / exact.size
    }
    println(s"[cert $d] n_exact=${exact.size}")
    println(s"[cert $d] lsh1 recall  = ${rec(Similarity.lshTopK(emb, q, 5))}")
    println(s"[cert $d] lsh64 recall = ${rec(Similarity.lshTopK(emb, q, 5, nbits = 8, tables = 64))}")
    println(s"[cert $d] ivf recall   = ${rec(IvfIndex.topK(emb, q, "vec_id", "embedding", 5, nlist = 8, nprobe = 6, nHint = nH))}")
    val cents = IvfIndex.persistedCentroids(emb, s"$d/embeddings.parquet",
      "vec_id", "embedding", nlist = 8, nHint = nH)
    println(s"[cert $d] ivfF recall  = ${rec(IvfIndex.topKFrozen(emb, cents, q, "vec_id", "embedding", 5, nprobe = 6))}")
    val books = PqIndex.persistedCodebooks(emb, s"$d/embeddings.parquet", cents,
      "vec_id", "embedding", nlist = 8, m = 32, nbits = 4, nHint = nH)
    val index = PqIndex.persistedEncoded(emb, s"$d/embeddings.parquet", cents,
      books, "vec_id", "embedding", nlist = 8, m = 32, nbits = 4)
    println(s"[cert $d] pq recall    = ${rec(PqIndex.topKEncoded(emb, index, cents, books, q, "vec_id", "embedding", 5, nprobe = 6, refine = 4))}")

    // embedding near-dup family
    val exPairs = Dedup.embeddingNearDups(emb, "vec_id", "embedding", 0.45)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val blocked = Dedup.embeddingNearDupsBlocked(emb, "vec_id", "embedding", 0.45, nHint = nH)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    println(s"[cert $d] nPairs=${exPairs.size} blocked recall = ${(exPairs & blocked).size.toDouble / exPairs.size}")
    val sem = Dedup.semanticDedup(emb, "vec_id", "embedding", 0.45, nlist = 8, nHint = nH)
    val semDrop = sem.filter(col("is_kept") === 0).select("id").collect().map(_.getLong(0)).toSet
    import spark.implicits._
    val exDrop = DupClusters.clusters(exPairs.toSeq.toDF("da", "db"))
      .filter(col("doc_id") =!= col("cluster")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    println(s"[cert $d] exDrops=${exDrop.size} sem precision_bad=${(semDrop -- exDrop).size} recall=${if (exDrop.isEmpty) 1.0 else (semDrop & exDrop).size.toDouble / exDrop.size}")
    val froz = Dedup.semanticDedupFrozen(emb, cents, "vec_id", "embedding", 0.45)
    val a = sem.select("id", "cell", "keep_id", "is_kept").collect().map(_.toString).toSet
    val b = froz.select("id", "cell", "keep_id", "is_kept").collect().map(_.toString).toSet
    println(s"[cert $d] frozen disagree = ${(a diff b).size + (b diff a).size}")

    // in-sample blocked-pair recall (qe66's floor): exact pairs among the
    // 1-in-4 md5-mod sample vs the full blocked run restricted to it
    val thr = graft.queries.Extensions.EmbThr
    def inSample(c: org.apache.spark.sql.Column) = Sampling.modSample(c, 4)
    val exSamp = Dedup.embeddingNearDups(emb.filter(inSample(col("vec_id"))),
        "vec_id", "embedding", thr)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val blSamp = Dedup.embeddingNearDupsBlocked(emb, "vec_id", "embedding", thr, nHint = nH)
      .filter(inSample(col("da")) && inSample(col("db")))
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    println(s"[cert $d] sampled pairs=${exSamp.size} blocked recall = " +
      s"${if (exSamp.isEmpty) 1.0 else (exSamp & blSamp).size.toDouble / exSamp.size}")

    // LSH jaccard pair recall
    val exJ = Dedup.jaccardPairs(docs, 3, 0.5).select("da", "db")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lshJ = Dedup.jaccardVerify(docs, Dedup.minhashCandidates(docs), 3, 0.5)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    println(s"[cert $d] jaccard pairs=${exJ.size} lsh missed=${(exJ -- lshJ).size}")

    // SimHash pair recall at the planted-dup tier (qe64's floor): exact
    // j >= 0.9 shingle-Jaccard pairs vs simhashPairs at maxHamming 3,
    // plus the identical-text tier where hamming MUST be 0
    val exJ9 = Dedup.jaccardPairs(docs, 3, 0.9).select("da", "db")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val shP = Dedup.simhashPairs(docs, 3).select("da", "db")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    println(s"[cert $d] j>=0.9 pairs=${exJ9.size} simhash recall = " +
      s"${if (exJ9.isEmpty) 1.0 else (exJ9 & shP).size.toDouble / exJ9.size}")
    val identical = docs.filter(col("text").rlike("\\S"))
      .select(col("doc_id"), col("text")).as("a")
      .join(docs.select(col("doc_id").as("db"), col("text")).as("b"),
        col("a.text") === col("b.text") && col("a.doc_id") < col("db"))
      .select(col("a.doc_id").as("da"), col("db"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val shZero = Dedup.simhashPairs(docs, 0).select("da", "db")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    println(s"[cert $d] identical pairs=${identical.size} missed at hamming0 = ${(identical -- shZero).size}")

    // HLL diversity error
    val exL = graft.operators.TextAnalysis.lexicalDiversity(docs)
      .select("source", "n_terms").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val apL = graft.operators.TextAnalysis.lexicalDiversityApprox(docs)
      .select("source", "n_terms").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val errs = exL.map { case (s, n) => s -> math.abs(apL(s) - n).toDouble / n }
    println(s"[cert $d] hll max err = ${errs.values.max} (${errs})")
    spark.stop()
  }
}
