package graft.tools

import graft.Engine

/** Dev-only: single-thread microbenchmark of the audio decode+hash kernel
  * off the Spark execution path — separates per-clip decode cost from
  * Spark framework cost, which a per-query wall clock cannot.
  * `runMain graft.tools.AudioMicro [sfDir]` */
object AudioMicro {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val spark = Engine.session("local[32]", 32)
    val docs = Engine.Tables(spark, sfDir).documents
    import graft.operators.AudioDedup
    for ((name, corpus) <- Seq(
      "wav_aiff" -> AudioDedup.syntheticDupAudioCorpus(docs),
      "flac" -> AudioDedup.syntheticDupAudioCorpusFlac(docs))) {
      val payloads = corpus.select("payload").collect()
        .map(_.getAs[Array[Byte]](0))
      println(s"[micro] $name n=${payloads.length} " +
        s"avgBytes=${payloads.map(_.length.toLong).sum / payloads.length}")
      for (rep <- 1 to 3) {
        val t0 = System.nanoTime()
        var i = 0
        var nonNull = 0
        while (i < payloads.length) {
          if (AudioDedup.sampleHash(payloads(i)) != null) nonNull += 1
          i += 1
        }
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"[micro] $name rep$rep sampleHash 1-thread $dt%.3f s " +
          f"(${dt * 1e6 / payloads.length}%.1f us/clip) nonNull=$nonNull")
      }
    }
    // Spark-side pipeline variants: where does the wall clock go when the
    // kernel itself is ~0.5 s single-thread?
    def t(name: String)(mk: => org.apache.spark.sql.DataFrame): Unit = {
      val built = mk
      built.write.format("noop").mode("overwrite").save() // warm
      val t0 = System.nanoTime()
      built.write.format("noop").mode("overwrite").save()
      println(f"[micro] $name%-34s ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    import org.apache.spark.sql.functions.{col, udf}
    import graft.operators.AudioDedup
    val corpus = AudioDedup.syntheticDupAudioCorpus(docs)
    t("corpus.noop")(corpus)
    t("signatures.noop")(AudioDedup.audioSignatures(corpus).toDF())
    val hashUdf = udf((p: Array[Byte]) => {
      val s = AudioDedup.sampleHash(p); if (s == null) null else s.sample_hash
    })
    t("corpus+hash-udf.noop")(corpus.select(col("doc_id"),
      hashUdf(col("payload")).as("h")))
    t("corpus.1part signatures")(AudioDedup.audioSignatures(
      corpus.coalesce(1)).toDF())
    // image leg: does ImageIO.read anti-scale like the javax.sound SPI?
    import graft.operators.ImageDedup
    val imgCorpus = ImageDedup.syntheticDupImageCorpus(docs)
    t("img corpus.noop")(imgCorpus)
    t("img signatures.noop")(ImageDedup.imageSignatures(imgCorpus).toDF())
    t("img corpus.1part signatures")(ImageDedup.imageSignatures(
      imgCorpus.coalesce(1)).toDF())
    // the dedup queries' FINAL plans read the signature checkpoint, so the
    // corpus builder's documents scan (and its ReadSchema pruning) never
    // appears in a PlanDump file — dump the PRE-checkpoint decode plan
    // here as the plans/r18 evidence for the scan shape
    val pre = AudioDedup.audioSignatures(corpus).toDF()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get("plans/r18"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("plans/r18/qe71_signature_stage_prechkpt.txt"),
      pre.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    println("[micro] wrote plans/r18/qe71_signature_stage_prechkpt.txt")
    spark.stop()
  }
}
