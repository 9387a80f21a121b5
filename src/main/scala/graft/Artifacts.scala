package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persisted fit-artifact store: the production half of every fit/apply
  * split in the engine (frozen IVF centroids, duplicated-gram sets, drift
  * vocabularies, shared-chunk sets, containment shingle indexes, …).
  *
  * The reference recomputes its derived state on every boot
  * (the `/root/reference/src/modules` handlers keep it in process memory); a 100 TB
  * deployment cannot — a fit over yesterday's corpus is a TABLE, written
  * once and read by every later apply job, on executors that never saw the
  * fitting job. [[getOrFit]] is that contract in miniature: the first call
  * per (kind, key) runs the fit plan and writes the result as parquet under
  * the artifact root; every later call — including in a NEW JVM — reads the
  * parquet back and never re-runs the fit. The registered frozen queries
  * (qe3d/qe7d/qe47/qe52b/qe54b/qe56c/qe58d), the incremental forms
  * (qe43), the shard export (qe11e), and the certificate tier's persisted
  * anchors (qe60–qe66) all consume artifacts through this store, so the
  * plan they bench is the honest pure-apply shape.
  *
  * Staleness is handled by CONTENT KEYING, not invalidation: callers build
  * `key` from [[inputFingerprint]] (size + mtime of every input data file)
  * plus the fit parameters, so a regenerated input or changed knob lands on
  * a fresh path and can never be served a stale fit. Old keys are pruned
  * lazily ([[getOrFit]] drops sibling keys of the one it writes) so the
  * store does not grow across test-data regenerations.
  */
object Artifacts {

  /** Per-JVM fit-cost ledger: nanos spent EXECUTING fit plans (the
    * tmp-parquet write inside [[getOrFit]]) and the number of fits run.
    * Bench snapshots deltas around each query to split the sweep into
    * fit cost vs pure-apply cost (r13 verdict #1): a cold artifact store
    * charges one-time fit work to whichever query touches a key first,
    * and without the ledger that premium is indistinguishable from an
    * ambient-host regression in the driver's bench artifact. Monotonic
    * counters, never reset — consumers diff snapshots. */
  val fitNanos = new java.util.concurrent.atomic.AtomicLong(0)
  val fitCount = new java.util.concurrent.atomic.AtomicLong(0)

  /** Artifact root: session conf `spark.graft.artifacts.dir`, else
    * `spark-warehouse/graft_artifacts` (CWD-relative, beside Spark's own
    * default warehouse; gitignored). */
  def root(spark: SparkSession): String =
    spark.conf.getOption("spark.graft.artifacts.dir")
      .getOrElse("spark-warehouse/graft_artifacts")

  /** Fingerprint of the files backing a fit: md5 over the sorted
    * (file name, length, mtime) triples of every data file under `paths`.
    * Driver-side FS metadata only — no Spark job, no data read (the same
    * stand-in-for-catalog posture as [[Engine.parquetRowCount]]). A
    * regenerated input (new mtime) or appended file changes the
    * fingerprint, so artifact keys derived from it self-invalidate. */
  def inputFingerprint(spark: SparkSession, paths: Seq[String]): String = {
    val conf = spark.sessionState.newHadoopConf()
    val entries = paths.flatMap { p =>
      val path = new org.apache.hadoop.fs.Path(p)
      val fs = path.getFileSystem(conf)
      // the FULL qualified path, not the basename: two inputs whose data
      // files share names/lengths/mtimes (a cp -a snapshot served from a
      // second directory) must not collide onto one key and silently
      // serve each other's fits
      Engine.dataFiles(fs, fs.getFileStatus(path))
        .map(f => s"${f.getPath}:${f.getLen}:${f.getModificationTime}")
    }.sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(entries.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    md.digest().map("%02x".format(_)).mkString.take(16)
  }

  /** Key for a fit artifact: input fingerprint + human-readable parameter
    * suffix ("nlist8-seed42"). Params are part of the path, so two fits of
    * the same input at different knobs coexist. */
  def fitKey(spark: SparkSession, inputs: Seq[String], params: String): String =
    s"${inputFingerprint(spark, inputs)}-$params"

  /** Read the artifact at (kind, key), fitting and persisting it first if
    * absent. The write is ATOMIC at the directory level: the fit lands in a
    * `.tmp-*` sibling and renames into place, so a reader never sees a
    * half-written artifact and a concurrent loser simply discards its tmp
    * and reads the winner. In-process races are serialized per key. The
    * returned frame is always the PARQUET READ-BACK — even on the fitting
    * call — so every consumer plan is the true apply shape (a parquet scan,
    * no fit lineage). */
  def getOrFit(spark: SparkSession, kind: String, key: String,
               fit: => DataFrame): DataFrame = {
    // scale-audit choke point: record the would-be fit plan whether or not
    // this call actually fits, so SurfaceAuditSpec sees the same plans on a
    // warm store as on a fresh clone (see PlanCapture.recordFitPlan).
    // The thunk is forced AT MOST ONCE (lazy val shared with the fitting
    // path): fit construction is itself eager work — k-means collect
    // loops, checkpointed CC rounds — and capture-on cold-store runs would
    // otherwise execute every fit twice.
    lazy val f = fit
    PlanCapture.recordFitPlan(f)
    getOrFit(spark, kind, key, f, 0)
  }

  private def getOrFit(spark: SparkSession, kind: String, key: String,
                       fit: => DataFrame, attempt: Int): DataFrame = {
    val dest = s"${root(spark)}/$kind/$key"
    val conf = spark.sessionState.newHadoopConf()
    val destPath = new org.apache.hadoop.fs.Path(dest)
    val fs = destPath.getFileSystem(conf)
    def ready: Boolean =
      fs.exists(new org.apache.hadoop.fs.Path(dest, "_SUCCESS"))
    if (!ready) {
      val lock = locks.computeIfAbsent(s"$kind/$key", _ => new Object)
      lock.synchronized {
        if (!ready) {
          val tmp = new org.apache.hadoop.fs.Path(
            s"${root(spark)}/$kind/.tmp-$key-${java.util.UUID.randomUUID().toString.take(8)}")
          // a fit that THROWS mid-write must not leak its partial tmp:
          // prune() deliberately skips .tmp-* names (a live writer's tmp
          // must never be collected), so nothing else would ever delete it
          val fitT0 = System.nanoTime()
          try fit.write.mode("overwrite").parquet(tmp.toString)
          catch { case e: Throwable =>
            // NonFatal, not just IOException: a RuntimeException from the
            // cleanup delete must never MASK the original fit failure
            try fs.delete(tmp, true)
            catch { case scala.util.control.NonFatal(_) => () }
            throw e
          } finally {
            // ledger charges failed fits too: their wall time was still
            // spent, and a bench rep that died mid-fit should still show
            // where its seconds went
            val dt = System.nanoTime() - fitT0
            fitNanos.addAndGet(dt)
            fitCount.incrementAndGet()
            // stderr, never stdout: the bench JSON line owns stdout. One
            // line per fit is the per-KIND split of the ledger total —
            // which anchor a cold store actually paid for.
            System.err.println(
              f"[artifacts] fit $kind/$key ${dt / 1e9}%.1f s")
          }
          val renamed = fs.rename(tmp, destPath)
          // Cross-JVM race, POSIX-rename semantics: the loser's rename
          // returns false. HDFS semantics: rename(src, existingDir) can
          // "succeed" by moving src INTO the winner's directory — detect
          // that shape (our tmp nested under dest) and clean it up, else
          // the losing fit leaks inside every contended artifact.
          val nested = new org.apache.hadoop.fs.Path(destPath, tmp.getName)
          if (renamed && fs.exists(nested)) {
            if (ready) fs.delete(nested, true)
            else {
              // dest pre-existed but carries no _SUCCESS — a corrupt
              // partial (e.g. a prune died mid-delete), not a winner. Our
              // fresh fit just got nested inside it; deleting the nested
              // copy here would wedge the key (every refit re-nests and
              // the partial dest keeps failing to read). Recover instead:
              // pull the fit back out, drop the corrupt dest, re-rename.
              require(fs.rename(nested, tmp),
                s"artifact $dest: could not recover nested fit from corrupt dest")
              fs.delete(destPath, true)
              val renamed2 = fs.rename(tmp, destPath)
              // the delete→rename window is itself racy across JVMs: a
              // concurrent winner can recreate dest in between, nesting
              // our tmp AGAIN — re-check, and since a recreated dest IS a
              // complete artifact (it carries _SUCCESS), discard our copy
              // rather than leak a .tmp-* dir inside it forever (prune
              // deliberately never collects .tmp-* names). If the winner
              // raced our delete instead, our own rename won cleanly —
              // both are valid fits of the same content key.
              val nested2 = new org.apache.hadoop.fs.Path(destPath, tmp.getName)
              if (renamed2 && fs.exists(nested2) && ready) fs.delete(nested2, true)
              // recovery rename LOST to a concurrent winner: our recovered
              // fit still sits at the tmp path (rename false = no move) —
              // discard it like the plain lost-race branch below, or it
              // leaks forever (prune never collects fresh .tmp-* names)
              if (!renamed2 && ready) {
                try fs.delete(tmp, true)
                catch { case scala.util.control.NonFatal(_) => () }
              }
              require(renamed2 || ready,
                s"artifact $dest: recovery rename failed and no winner present")
            }
          }
          else if (!renamed) {
            // a concurrent writer (other JVM) won the rename — use theirs
            fs.delete(tmp, true)
            require(ready, s"artifact $dest: rename failed and no winner present")
          }
          prune(fs, destPath.getParent)
        }
      }
    }
    // ready-check → read is a TOCTOU window: a concurrent JVM's prune can
    // drop this key between the two (only if the working set ever exceeds
    // the prune bound). The schema read fails loudly then — refit rather
    // than crash, matching the "at worst refits" contract. The guard is
    // `!ready` (the _SUCCESS marker), not full-dir absence: a prune
    // mid-recursive-delete leaves the dir visible after the marker is
    // gone. (A prune landing after this returns — during job execution —
    // is the residual window; the prune bound is sized above the live
    // working set precisely so live keys are never collected.)
    try spark.read.parquet(dest)
    catch {
      case _: org.apache.spark.sql.AnalysisException if attempt < 2 && !ready =>
        getOrFit(spark, kind, key, fit, attempt + 1)
    }
  }

  /** A live writer's tmp must never be collected, but a writer that died
    * WITHOUT its in-process cleanup (kill -9, host reboot) leaves its
    * .tmp-* directory forever — age out tmps whose directory mtime is
    * older than this. Generous 6 h: a long fit refreshes the dir mtime as
    * part files land, so only a truly dead writer's tmp goes stale. */
  private val TmpOrphanMs = 6L * 60 * 60 * 1000

  /** Bound the store: keep the 16 most-recently-written keys per kind and
    * drop older ones — stale fits of prior test-data generations. The
    * bound is above the live working set (one key per scale factor and
    * knob set; the r15 media_key_set evolution chain holds THREE keys per
    * scale factor — base, qe76's snapshot, qe76b's appended step — so 8
    * was no longer safely above 3 keys × 3 SFs), so live keys are never
    * evicted; a concurrent reader of a pruned stale key at worst refits.
    * Orphaned .tmp-* dirs from writers that died uncleanly age out past
    * [[TmpOrphanMs]]. Best-effort. */
  private def prune(fs: org.apache.hadoop.fs.FileSystem,
                    kindDir: org.apache.hadoop.fs.Path): Unit =
    try {
      val (tmps, keys) = fs.listStatus(kindDir).toSeq
        .partition(_.getPath.getName.startsWith(".tmp-"))
      val cutoff = System.currentTimeMillis() - TmpOrphanMs
      tmps.filter(_.getModificationTime < cutoff)
        .foreach(st => fs.delete(st.getPath, true))
      keys.sortBy(-_.getModificationTime)
        .drop(16)
        .foreach(st => fs.delete(st.getPath, true))
    } catch { case _: java.io.IOException => }

  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
}
