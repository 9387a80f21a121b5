package graft.tools

import graft.{Engine, SparkEntry}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-growth evidence harness: runs the registered exact ANCHORS and
  * their production TWINS (SparkEntry.scaleTwins) on input directories m×
  * the given sf directory, and prints one row per query per rung. A linear
  * operator doubles when the corpus doubles (ratio ≈ 2, less fixed
  * overhead); an all-pairs anchor quadruples (ratio ≈ 4). The BASELINE.md
  * "scaling evidence" tables are produced by this tool.
  *
  * Every row is the registered query itself, `SparkEntry.queries(name)`,
  * pointed at the rung directory: the ladder measures exactly the
  * registered plans, with their registered knobs.
  *
  * The m× corpora are DERIVED from the driver tables, not synthesized
  * fresh: copy i of `documents` Caesar-shifts the text by i letters
  * (deterministic, structure-preserving — within-copy near-dup relations
  * are exactly the original corpus's, while cross-copy shingle overlap is
  * ~zero, the "new content is genuinely new" shape a growing crawl has),
  * and copy i of `embeddings` rotates each vector's dimensions by i
  * (within-copy cosines unchanged; cross-copy cosines ~0 for generic
  * vectors). Copy i offsets its ids by i × (base max id + 1), so the union
  * is a valid corpus with dense ids, and the planted media corpora keyed
  * off `doc_id` stay inside their 21-bit group encoding. Every other table
  * is linked in unchanged.
  *
  * `runMain graft.tools.ScalingProbe [sfDir] [maxM] [anchorMaxM] [onlyPrefixes]`
  * — without the 4th arg the rows are the scaleTwins anchors, each with
  * its twin; with it, the rows are every registered name matching one of
  * the comma-separated prefixes. Only a prefix's query id counts (the text
  * before its first `_`, kept with the `_`): "qe13c,qe11d" picks the qe13c*
  * and qe11d* queries, "qe3f_append" picks qe3f_cert_ivf_append. Anchors
  * run only while m ≤ anchorMaxM; a missing time prints as -1.00, and a
  * query that throws prints NaN with its error on stderr. */
object ScalingProbe {

  // one 62-character rotation cycle (a-z, 0-9, A-Z): a 26-letter Caesar
  // has period 26, so copies i and i+26 would be byte-IDENTICAL and every
  // rung past m=26 would raise the corpus's true duplication density (3x
  // at m=64), reading as superlinear growth. A 62-cycle keeps every copy
  // pair distinct through m=62 (and only 2 of 64 collide at the top rung).
  private val alpha =
    (('a' to 'z') ++ ('0' to '9') ++ ('A' to 'Z')).mkString

  private def caesar(c: Column, i: Int): Column =
    if (i % 62 == 0) c
    else {
      val k = i % 62
      translate(c, alpha, alpha.drop(k) + alpha.take(k))
    }

  /** Writes the m× rung of `sfDir` into the directory `out`: `documents`
    * and `embeddings` as m shifted copies (same schemas), every other
    * table of `sfDir` as a symbolic link. */
  def writeRung(spark: SparkSession, sfDir: String, m: Int, out: String): Unit = {
    val base = Engine.Tables(spark, sfDir)
    def copies(df: DataFrame, id: String)(shift: (DataFrame, Int) => DataFrame): DataFrame = {
      val step = df.agg(max(col(id))).head().getLong(0) + 1
      (0 until m).map(i => shift(df.withColumn(id, col(id) + lit(i * step)), i))
        .reduce(_ unionByName _)
    }
    copies(base.documents, "doc_id")((d, i) => d.withColumn("text", caesar(col("text"), i)))
      .write.parquet(s"$out/documents.parquet")
    val emb = base.embeddings
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    copies(emb, "vec_id") { (e, i) =>
      if (i % dim == 0) e
      else e.withColumn("embedding", transform(sequence(lit(0), lit(dim - 1)),
        j => element_at(col("embedding"), ((j + lit(i)) % dim) + 1)))
    }.write.parquet(s"$out/embeddings.parquet")
    val src = java.nio.file.Paths.get(sfDir).toAbsolutePath
    val others = java.nio.file.Files.list(src)
    try others.forEach { f =>
      val name = f.getFileName.toString
      if (name != "documents.parquet" && name != "embeddings.parquet")
        java.nio.file.Files.createSymbolicLink(java.nio.file.Paths.get(out, name), f)
    } finally others.close()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val maxM = if (args.length > 1) args(1).toInt else 8
    val anchorMaxM = if (args.length > 2) args(2).toInt else maxM
    val registered = SparkEntry.queries.keySet
    val rows: Seq[String] =
      if (args.length <= 3) SparkEntry.scaleTwins.keys.toSeq.sorted
      else {
        val prefixes = args(3).split(",").toSeq.map(_.trim).filter(_.nonEmpty)
          .map(p => p.indexOf('_') match { case -1 => p; case u => p.take(u + 1) })
        prefixes.foreach(p => require(registered.exists(_.startsWith(p)),
          s"no registered query matches the prefix $p"))
        registered.filter(n => prefixes.exists(n.startsWith)).toSeq.sorted
      }
    val spark = Engine.session("local[32]")
    val nd = Engine.parquetRowCount(spark, s"$sfDir/documents.parquet")
    val ne = Engine.parquetRowCount(spark, s"$sfDir/embeddings.parquet")

    // construction INSIDE the timed section (Bench's own shape): eager
    // localCheckpoint fit/assign stages run at DataFrame construction,
    // so timing a pre-built frame would silently exclude them
    def time(mk: => DataFrame): Double = {
      mk.write.format("noop").mode("overwrite").save() // cold: codegen+JIT
      (0 until 2).map { _ =>
        val t0 = System.nanoTime()
        mk.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.min
    }

    val ms = Iterator.iterate(1)(_ * 2).takeWhile(_ <= maxM).toSeq
    println(f"${"anchor"}%-28s ${"twin"}%-28s ${"m"}%3s ${"docs"}%8s ${"vecs"}%8s " +
      f"${"anchor_s"}%9s ${"twin_s"}%8s")
    for (m <- ms) {
      val dir = java.nio.file.Files.createTempDirectory(s"scaling_m$m").toString
      try {
        writeRung(spark, sfDir, m, dir)
        // rung fits must not evict live keys from the default store,
        // whose prune keeps a bounded number per kind
        spark.conf.set("spark.graft.artifacts.dir", s"$dir/artifacts")
        spark.sparkContext.setJobDescription(s"scaling m=$m")
        // the anchor chains (qe13 → qe13b → qe13c, qe3 → qe3c → qe3d →
        // qe3e) share names: each name runs at most once per rung
        val timed = scala.collection.mutable.Map.empty[String, Double]
        def run(name: String): Double = timed.getOrElseUpdate(name,
          try time(SparkEntry.queries(name)(spark, dir))
          catch { case e: Exception =>
            System.err.println(s"[scaling] $name at m=$m failed: $e"); Double.NaN
          })
        for (q <- rows) {
          val (anchor, twin) = SparkEntry.scaleTwins.get(q) match {
            case Some(tw) => (q, tw)
            case None => ("-", q)
          }
          val anchorS = if (anchor != "-" && m <= anchorMaxM) run(anchor) else -1.0
          val twinS = run(twin)
          println(f"$anchor%-28s $twin%-28s $m%3d ${m * nd}%8d ${m * ne}%8d $anchorS%9.2f $twinS%8.2f")
        }
      } finally {
        spark.conf.unset("spark.graft.artifacts.dir")
        val p = new org.apache.hadoop.fs.Path(dir)
        p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
      }
    }
    spark.stop()
  }
}
