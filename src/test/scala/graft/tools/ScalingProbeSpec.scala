package graft.tools

import graft.{Engine, SparkEntry, SparkTestBase}
import org.apache.spark.sql.functions._

class ScalingProbeSpec extends SparkTestBase {

  test("m=2 rung: 2x rows, unique ids, shifted text, same schemas, queries run") {
    val dir = java.nio.file.Files.createTempDirectory("scaling_rung").toString
    try {
      ScalingProbe.writeRung(spark, Sf0001, 2, dir)
      val base = Engine.Tables(spark, Sf0001)
      val rung = Engine.Tables(spark, dir)
      val (docs0, docs) = (base.documents, rung.documents)
      val (emb0, emb) = (base.embeddings, rung.embeddings)
      assert(docs.count() == 2 * docs0.count())
      assert(emb.count() == 2 * emb0.count())
      assert(docs.select("doc_id").distinct().count() == docs.count())
      assert(emb.select("vec_id").distinct().count() == emb.count())
      assert(docs.schema == docs0.schema)
      assert(emb.schema == emb0.schema)

      // copy 1 of doc d is doc d + step; its text is shifted, same length
      val step = docs0.agg(max("doc_id")).head().getLong(0) + 1
      val pairs = docs.as("c1").join(docs.as("c0"),
        col("c1.doc_id") === col("c0.doc_id") + step)
      assert(pairs.count() == docs0.count())
      assert(pairs.filter(col("c1.text") === col("c0.text")).count() == 0)
      assert(pairs.filter(length(col("c1.text")) =!= length(col("c0.text"))).count() == 0)

      val q01 = SparkEntry.queries("q01_project")
      assert(q01(spark, dir).count() == q01(spark, Sf0001).count())
      assert(SparkEntry.queries("qe69_image_pixel_dedup")(spark, dir).count() == docs.count())
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    }
  }
}
