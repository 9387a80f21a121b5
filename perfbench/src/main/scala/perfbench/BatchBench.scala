package perfbench

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** batch_curation: registered queries materialized through the `noop`
  * sink, one pass at a time, in a seed-chosen order. */
object BatchBench {

  /** One or more extension queries per operator family: connected-component
    * loops, LSH / ANN shuffles, media decode kernels and artifact-backed
    * (fit once, apply many) forms. */
  val Curation: Seq[String] = Seq("qe62_cert_embed", "qe13_dup_clusters",
    "qe46_cluster_split", "qe55_best_survivor", "qe75_crawl_media_dedup",
    "qe7c_semantic_dedup", "qe2b_minhash_lsh", "qe3c_knn_ivf", "qe28b_hybrid",
    "qe12b_decon_bloom", "qe58b_containment_sketch", "qe68_url_dedup",
    "qe5g_audio_features", "qe71_audio_sample_dedup", "qe4a_textstats")

  /** Build then execute one query under job groups `<name>/build` and
    * `<name>/exec`, each a span under one query span. Returns (build s,
    * exec s, rows) — rows only when `countRows`, through an observation
    * riding the same noop write. */
  def run(spark: SparkSession, rec: Record, groups: java.util.Map[String, Int],
          name: String, fn: (SparkSession, String) => DataFrame, data: String,
          countRows: Boolean): (Double, Double, Long) = {
    val sc = spark.sparkContext
    rec.spans.timed(name, "queries", -1) { qid =>
      val t0 = System.nanoTime()
      val df = rec.spans.timed("build", "queries", qid) { id =>
        groups.put(s"$name/build", id)
        sc.setJobGroup(s"$name/build", name, interruptOnCancel = false)
        fn(spark, data)
      }
      val t1 = System.nanoTime()
      val obs = Observation(s"rows_$name")
      rec.spans.timed("exec", "queries", qid) { id =>
        groups.put(s"$name/exec", id)
        sc.setJobGroup(s"$name/exec", name, interruptOnCancel = false)
        (if (countRows) df.observe(obs, count(lit(1)).as("n")) else df)
          .write.format("noop").mode("overwrite").save()
      }
      val t2 = System.nanoTime()
      sc.clearJobGroup()
      val rows = if (countRows) obs.get("n").asInstanceOf[Long] else -1L
      ((t1 - t0) / 1e9, (t2 - t1) / 1e9, rows)
    }
  }

  val MinPasses = 3

  def batch(ctx: Ctx, rec: Record): Unit = {
    val all = graft.SparkEntry.queries
    val names = Curation
    val groups = new java.util.concurrent.ConcurrentHashMap[String, Int]()
    val counts = scala.collection.mutable.Map.empty[String, Long]
    val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")

    // set-up, once (a round costs about as much as three passes): session,
    // artifact store, table footers, then an untimed warm-up pass — each
    // query built (construction runs its eager jobs, checkpoints and
    // artifact fits) and executed once, recording its row count
    val spark = ctx.setup {
      val s = ctx.session(ctx.cores)
      s.conf.set("spark.graft.artifacts.dir", ctx.fresh("artifacts").toString)
      tables.foreach(t => graft.Engine.parquetRowCount(s, s"${ctx.data}/$t.parquet"))
      val fit0 = graft.Artifacts.fitNanos.get()
      names.foreach { n =>
        rec.attempted += 1
        try counts(n) = run(s, rec, groups, n, all(n), ctx.data, countRows = true)._3
        catch { case t: Throwable => rec.fail(s"$n threw in the warm-up pass: $t") }
      }
      rec.add("artifacts.fit_s_setup", (graft.Artifacts.fitNanos.get() - fit0) / 1e9)
      s
    }

    // row counts: the DuckDB oracle's where one exists; elsewhere the count
    // must be positive
    counts.foreach { case (n, got) =>
      ctx.expectedRows.get(n) match {
        case Some(want) if got != want => rec.fail(s"$n rows $got, oracle $want")
        case None if got <= 0 => rec.fail(s"$n returned no rows")
        case _ => ()
      }
    }

    val gc0 = Jvm.gc()
    val fits0 = graft.Artifacts.fitCount.get()
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    var pass = 0
    // at least MinPasses, so the per-query tail has enough samples; the
    // traced run measures its first pass untraced, for the overhead
    while (pass < MinPasses || System.nanoTime() < deadline) {
      val traced = ctx.trace && pass >= 1
      if (traced && pass == 1)
        spark.sparkContext.addSparkListener(new Telemetry(rec, g => groups.getOrDefault(g, -1)))
      rec.spans.on = traced
      val key = if (traced) "traced." else ""
      val order = new scala.util.Random(ctx.seed * 31 + pass).shuffle(names)
      val t0 = System.nanoTime()
      order.foreach { n =>
        rec.attempted += 1
        try {
          val (b, e, _) = run(spark, rec, groups, n, all(n), ctx.data, countRows = false)
          rec.add(s"${key}latency_ms", (b + e) * 1e3)
          if (traced) {
            rec.add(s"queries.${n}_s", b + e)
            rec.add("queries.build_s", b)
            rec.add("queries.exec_s", e)
          }
        } catch { case t: Throwable => rec.fail(s"$n threw: $t") }
      }
      rec.add(s"${key}throughput_per_s", names.size / ((System.nanoTime() - t0) / 1e9))
      pass += 1
    }
    rec.spans.on = false
    val fits = graft.Artifacts.fitCount.get() - fits0
    rec.set("artifacts.fits_measured", fits.toDouble)
    if (fits != 0) rec.fail(s"$fits artifact fits ran during timed passes")
    val (gcMs, gcOld) = Jvm.gc()
    rec.set("jvm.gc_ms", (gcMs - gc0._1).toDouble)
    rec.set("jvm.gc_old_n", (gcOld - gc0._2).toDouble)
    rec.set("heap_live_mb", Jvm.liveHeapMb())
    Thread.sleep(500) // the listener bus delivers asynchronously
  }
}
