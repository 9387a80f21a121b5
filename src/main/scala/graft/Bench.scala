package graft

/** Benchmark main — driver runs this per round at sf0.1 (BASELINE.md).
  *
  * Each registered query is fully materialized through the `noop` sink:
  * a bare `.count()` would let Catalyst prune every projected column and
  * benchmark only the scan. One warmup query first so JIT/codegen costs
  * don't land on the first measured query.
  *
  * Each query runs SPARK_GRAFT_BENCH_REPS times (default 3) and reports
  * the per-query MEDIAN: single-shot numbers on this box carry ±0.8 s
  * run-to-run noise (BENCH_r01 vs r02 showed ±30% per-query swings with
  * zero code change), which masquerades as regression. The cache is
  * cleared between reps so a query's persist() fills don't turn later
  * reps into cache reads.
  */
object Bench {

  /** stdout keys each query by its unique id prefix — see the tail-window
    * comment in main; uniqueness is guarded in InvariantsSpec. From 165
    * registrations the constant leading 'q' is stripped too ("01",
    * "e13b"): every name carries it, so it spent one budget char per
    * query saying nothing, and dropping it bought ~15 registrations of
    * headroom the cap-and-retire ladder (min map cap 6 → 2 → gone) had
    * exhausted. bench_out.json keys by FULL name as always. */
  val shortKey: String => String = n => n.takeWhile(_ != '_').stripPrefix("q")

  /** Locale-pinned formatters: the default-locale f"%.1f" would print
    * "0,1" on a comma-decimal locale (de_DE), breaking the JSON. stdout
    * uses DECIsecond precision, dropping to whole seconds at >= 10 (a
    * 10+-second query's decisecond is inside the recorded ambient spread
    * band, and the shorter worst-case width is what keeps a 145+-query
    * line inside the driver's 2000-char tail window — guarded in
    * InvariantsSpec); bench_out.json keeps full precision and is the
    * authoritative record. */
  val deci: Double => String = v =>
    if (v >= 9.95) "%.0f".formatLocal(java.util.Locale.ROOT, v)
    else "%.1f".formatLocal(java.util.Locale.ROOT, v)

  /** JSON string escape (backslash, quote, control chars) — the `sf`
    * value comes from an env var, and an unescaped quote/backslash in it
    * would make the whole line (and bench_out.json) unparseable, silently
    * zeroing the round's bench. Same escaper Verify uses for oracle SQL. */
  def jsonEscape(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  // The inflated-min stdout map (r12 verdict #2, capped at 6 then 2
  // entries) was retired at 164 registrations: the tail-window budget it
  // rode on is spent, exactly as its own comment predicted at 161. The
  // hot-host self-diagnosis lives on in bench_out.json, which has always
  // carried EVERY query's min at full precision plus per-query 1-min
  // load samples — the stdout map was a capped preview of that record,
  // never the record itself.

  /** Per-query violation band on the per-query MIN (r14 verdict #2: a 9×
    * single-query anomaly hid inside a passing 1.65× total — a regression
    * must be a machine diff, not a judge's spreadsheet). Bands encode
    * BASELINE.md's family table with headroom above every per-family
    * driver-measured max-min of the r14 sweep (the hottest honest read on
    * record), so an entry in `violations` means "outside anything ambient
    * load has ever explained", not "a noisy median". The MIN is judged,
    * never the median: medians inflate under ambient load (the documented
    * 1.19–1.35× day-part drift) while the min of 3 reps survives it. */
  def bandHi(name: String): Double = {
    val id = name.takeWhile(_ != '_')
    if (!id.startsWith("qe")) 2.5 // parity/relational (q26 top: 1.77 driver)
    // ANY certificate rides the certificate band regardless of its id
    // family — certificates run extra claim paths by design (qe3f runs
    // TWO full probe/top-k searches plus the equality join; pricing it
    // against the single-search ANN band would false-positive)
    else if (name.contains("_cert_")) 12.0
    else {
      val core = id.drop(2)
      val num = core.takeWhile(_.isDigit) match {
        case "" => -1
        case ds => ds.toInt
      }
      val exactForm = core.forall(_.isDigit) // no letter suffix
      if (num == 5 || num == 59) 1.5 // multimodal byte-parsers
      else if (num >= 60 && num <= 66) 12.0 // certificates (widest plans; qe60 min 8.4 seen under r15 ambient)
      else if (num >= 67 && num <= 76) 6.0 // media/crawl dedup (real decode; qe71 min 5.1 under a load-7.5 slot, r15)
      else if (exactForm && Set(2, 46, 50, 55, 58).contains(num)) 6.0 // exact anchors (qe55 min 4.8 under r15 ambient)
      else if (num == 3 || num == 7) 4.5 // ANN ladder + embed dedup (qe7c min 3.61 observed under a load-6.6 slot, r15 sweep 1)
      else if (Set(1, 2, 10, 11, 12, 13, 21, 42, 43, 52).contains(num)) 5.0 // dedup/LSH (incl. qe2b/qe2c twins)
      // capstones (qe33/qe40/qe44) ride the default band since the r17
      // recalibration (r16 verdict #3): their dedicated 2.5 — set on the
      // lighter qe33/qe40 shapes — produced a false marginal on qe44's
      // r16 driver read (min 2.80, pure ambient telemetry signature,
      // quiet-host 1.33); 3.5 = 2.80 x 1.25 equals the default, so the
      // branch is gone rather than left as a dead distinction. Every
      // other family audited in-place: already at instrumented max-min x
      // ~1.25 (audit table in BASELINE.md r17).
      else 3.5 // text analysis / retrieval / capstones / remaining extensions
    }
  }

  /** The host-saturation canary threshold on q01_project's min (seconds).
    * q01 is a pure codegen projection whose warm min has never exceeded
    * 0.56 s on any recorded HEALTHY sweep (r14 driver incl. the qe62
    * anomaly: 0.56; r15 sweeps 1–3: 0.43–0.55); the r15 saturated sweep
    * measured it at 2.76 s while its 1-minute load SAMPLE still read 1.3
    * — the load average lags the contention, so the canary is the only
    * in-band signal that the sweep's own reps ran on a saturated host. */
  val CanaryQuery = "q01_project"
  val CanaryMax = 1.0

  /** Hard-violation multiplier over the band: across six r15 sweeps
    * (ambient load 1→7.5) every ambient-caused band crossing stayed
    * within 1.15× its band (qe44 2.85/2.5, qe50 6.15/6.0, qe55 6.22/6.0
    * on the sweep whose saturation arrived AFTER a healthy canary),
    * while the r14 qe62 anomaly sat at 2.35× (28.2 vs 12). 1.25 splits
    * them with margin on both sides. */
  val HardViolationFactor = 1.25

  /** Violation gate (r15): split band crossings three ways —
    * HARD (min > 1.25× band on a canary-healthy sweep: the multiple-×
    * r14-qe62 class, always actionable), MARGINAL (band < min ≤ 1.25×
    * band: at the band's edge, the shape mid-sweep ambient produces —
    * read with the load map / min-sum context), and SUPPRESSED (the q01
    * canary shows the host was saturated from the sweep's start, so no
    * per-query min is a calibrated read). All three land in
    * bench_out.json — data is annotated, never discarded. Returns
    * (canary min, hard, marginal, suppressed).
    *
    * A MISSING canary (partial SPARK_GRAFT_BENCH_ONLY run that skipped
    * q01, or q01 itself crashed and recorded -1) is canary-UNKNOWN, not
    * canary-healthy: without the saturation read, no crossing can be
    * certified as a hard anomaly, so every crossing routes to the
    * suppressed tier and canary min reports -1.0 — the artifact then
    * says "unjudgeable sweep", never "healthy with hard violations"
    * (ADVICE r15: the old getOrElse(0.0) default silently passed the
    * health gate). */
  def violationGate(mins: Seq[(String, Double)])
      : (Double, Seq[(String, Double)], Seq[(String, Double)], Seq[(String, Double)]) = {
    val canary = mins.toMap.get(CanaryQuery).filter(_ >= 0)
    val raw = mins.filter { case (n, v) => v >= 0 && v > bandHi(n) }
    canary match {
      case None => (-1.0, Seq.empty, Seq.empty, raw)
      case Some(c) if c > CanaryMax => (c, Seq.empty, Seq.empty, raw)
      case Some(c) =>
        val (hard, marginal) = raw.partition { case (n, v) =>
          v > HardViolationFactor * bandHi(n) }
        (c, hard, marginal, Seq.empty)
    }
  }

  /** True median: even-length inputs average the two middle values —
    * `sorted(n/2)` alone is the UPPER middle, which at reps=2 reports the
    * WORST run as "the median" (a bimodal 1s/28s GC spike would record a
    * 28x regression that never happened). */
  def median(ts: Seq[Double]): Double = {
    val sorted = ts.sorted
    if (sorted.size % 2 == 1) sorted(sorted.size / 2)
    else (sorted(sorted.size / 2 - 1) + sorted(sorted.size / 2)) / 2.0
  }

  /** Render the one-line JSON metric — factored out so InvariantsSpec can
    * assert the exact line main prints PARSES as JSON, sums correctly, and
    * fits the driver's tail window. `extra` lands before the closing brace
    * (the file form appends reps + per-query spread). */
  def renderLine(results: Seq[(String, Double)], sfDir: String,
                 fmt: Double => String, key: String => String,
                 extra: String = "",
                 totalOf: Seq[(String, Double)] = null): String = {
    val qs = results.map { case (k, v) => "\"" + key(k) + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // `totalOf` decouples the reported total from the emitted map: the
    // stdout form may OMIT cheap queries (see stdoutLine) but its total
    // must stay the full sweep's sum, never the kept subset's
    val total = (if (totalOf == null) results else totalOf)
      .map(_._2).filter(_ >= 0).sum
    s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"sf":"${jsonEscape(sfDir)}"$extra}"""
  }

  /** The stdout budget: the driver keeps the LAST 2000 chars of bench
    * stdout and the ~80-char sbt epilogue shares the window — an
    * oversized line loses its HEAD (the `{"metric":"total"` part) and
    * the round's bench silently parses to null. */
  val StdoutBudget = 1880

  /** Tail-window-safe stdout line (r15 verdict #5): at 170 registrations
    * the worst-case full map no longer fits [[StdoutBudget]], so when the
    * rendered line overflows, queries are dropped CHEAPEST-FIRST until it
    * fits — the expensive queries are what a bench reader acts on, the
    * cheap tail is noise at stdout precision, and bench_out.json has
    * always carried every query at full precision. Failed queries (-1)
    * drop LAST — only after every healthy entry is gone (an all-failure
    * sweep's ~170 undroppable rows would otherwise overflow the window
    * and head-truncate the line in exactly the catastrophic case where
    * visibility matters most; review r16) — and `"fail":N` rides the
    * line whenever any query failed, so the failure COUNT survives even
    * when rows had to drop. The reported total is always the FULL
    * sweep's sum and `"omit":N` records how many entries the window hid
    * — silent truncation would read as "covered everything". Fits by
    * construction for any input (the loop can drop every entry). */
  def stdoutLine(results: Seq[(String, Double)], sfShort: String,
                 keyed: String => String, extraFor: Int => String): String = {
    val nFailed = results.count(_._2 < 0)
    val failExtra = if (nFailed > 0) s""","fail":$nFailed""" else ""
    def render(kept: Seq[(String, Double)]): String =
      renderLine(kept, sfShort, deci, keyed,
        extraFor(results.size - kept.size) + failExtra, totalOf = results)
    var kept = results
    var line = render(kept)
    val (failed, healthy) = results.partition(_._2 < 0)
    val dropOrder = (healthy.sortBy(_._2) ++ failed).map(_._1).iterator
    val dropped = collection.mutable.Set.empty[String]
    while (line.length > StdoutBudget && dropOrder.hasNext) {
      dropped += dropOrder.next()
      kept = results.filterNot(r => dropped(r._1))
      line = render(kept)
    }
    line
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    // Engine.session is the ONE session recipe (AQE + coalescer floor +
    // UTC + nanosAsLong at construction) — a re-implemented config block
    // here had already drifted from it once
    val spark = Engine.session(s"local[$cpus]", cpus.toInt)
    // the per-query reset unpersists localCheckpointed RDDs (see
    // execOnce), and each such unpersist WARNs "lineage has been
    // truncated and cannot be recomputed" — true, intended (nothing is
    // recomputed across queries), and ~170×/sweep of stderr noise; quiet
    // the rdd category only, leaving every other WARN live
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)

    def execOnce(name: String): Double = {
      // collect garbage from the previous run so its GC debt is not
      // charged to this one (bimodal 1s->28s spikes observed otherwise).
      // getPersistentRDDs covers what clearCache does NOT: localCheckpoint
      // blocks (MEMORY_AND_DISK) are persistent RDDs outside the SQL
      // cache, and without an explicit unpersist they linger until the
      // async ContextCleaner happens to process them — the r15 verdict #2
      // checkpoint-accumulation suspect. Blocking: the freed blocks must
      // be GONE before this rep's clock starts, not racing it.
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      System.gc()
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }

    // reps run back-to-back deliberately: interleaving them round-robin was
    // tried and inflates every number ~20% — a query's later reps lose
    // their generated-code JIT state to the codegen LRU once 69 other
    // queries' plans pass through, so every rep measures cold. Warm
    // back-to-back medians are also what every prior round recorded.
    // (median, max-min spread, min, fit): spread and min land in
    // bench_out.json so an environmental outlier (the BENCH_r07 94 s vs
    // 69.5/71.4 s episode) is visible in the artifact itself instead of
    // needing a re-run to detect — and under a warming host (r11's load
    // 2.8->7.1 sweep) even the median absorbs ambient; the per-query MIN
    // is the cleanest read this sweep produced (r11 verdict #7). FIT is
    // the Artifacts ledger delta across this query's reps (r13 verdict
    // #1): on a cold store the first rep that touches a key pays its
    // one-time fit, and this column is what separates that from a real
    // apply-path regression — with reps >= 2 the fit charge lands on
    // rep 1 only, so median/min are already the pure-apply read.
    def exec(name: String): (Double, Double, Double, Double) = {
      val f0 = Artifacts.fitNanos.get
      val ts = (1 to reps).map(_ => execOnce(name))
      val fit = (Artifacts.fitNanos.get - f0) / 1e9
      if (ts.exists(_ < 0)) (-1.0, -1.0, -1.0, fit)
      else (median(ts), ts.max - ts.min, ts.min, fit)
    }

    // ambient-host context: the driver box has measured 1.19-1.35x
    // day-part drift on identical code (BASELINE.md) — recording the
    // 1-minute load average at sweep start/end puts the attribution in
    // the artifact instead of in prose
    def loadAvg: Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val loadStart = loadAvg

    // warmup: parquet footers + vectorized-reader init for every table,
    // then one full query for JIT/codegen paths
    val t = Engine.Tables(spark, sfDir)
    Seq(t.region, t.nation, t.customer, t.supplier, t.part, t.orders,
      t.lineitem, t.events, t.documents, t.embeddings).foreach(_.count())
    execOnce("q01_project") // ONE warmup run (JIT/codegen), not reps of it
    // SPARK_GRAFT_BENCH_ONLY=qe13,qe14 narrows to matching prefixes for
    // fast single-query iteration; unset = the driver's full sweep
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.exists(n.startsWith)))

    // per-query 1-min load sample taken just BEFORE each query's reps:
    // the start/end pair bounds the sweep, but attributing a single hot
    // query needs the ambient reading at that query's own slot
    val sweep = names.map(n => (n, loadAvg, exec(n)))
    val loadsPerQ = sweep.map { case (n, ld, _) => n -> ld }
    val timed4 = sweep.map { case (n, _, t) => n -> t }
    val results = timed4.map { case (n, (med, _, _, _)) => n -> med }
    val spreads = timed4.map { case (n, (_, sp, _, _)) => n -> sp }
    val mins = timed4.map { case (n, (_, _, mn, _)) => n -> mn }
    val fits = timed4.map { case (n, (_, _, _, f)) => n -> f }
    // stdout must fit the driver's tail window: it keeps only the LAST
    // 2000 chars of output and the sbt epilogue shares that window, so
    // an oversized line loses its HEAD — the {"metric":"total",... part —
    // and the round's bench silently parses to null. stdout therefore
    // keys each query by its unique id prefix with the constant leading
    // 'q' stripped ("01", "e13b" — see shortKey) at decisecond precision;
    // bench_out.json below keeps full names and full precision and is
    // the authoritative record.
    val keyed = if (results.map(r => shortKey(r._1)).distinct.size == results.size)
      shortKey else identity[String] _ // collision → full names, never ambiguity
    // fit|apply split in the stdout line: total seconds the sweep
    // spent executing artifact fits — 0.0 on a warm store; a cold store
    // shows exactly the one-time anchor cost that would otherwise
    // masquerade as ambient. The per-query fit map lives in
    // bench_out.json; stdout keys sf by BASENAME for the tail-window
    // budget, bench_out.json keeps the full directory.
    val fitTotal = fits.map(_._2).sum
    // band violations: per-query MIN against the family band, judged on
    // the min because medians inflate under ambient load; the canary gate
    // tells a real regression from a host pathology.
    val (canaryMin, violations, marginal, suppressed) = violationGate(mins)
    val sfShort = java.nio.file.Paths.get(sfDir).getFileName.toString
    // "omit":N appears only when the tail window forced dropping entries
    // (cheapest-first; see stdoutLine) — bench_out.json keeps them all
    val fitExtraFor: Int => String = omitted =>
      s""","fit":${deci(fitTotal)},"viol":${violations.size}""" +
        (if (omitted > 0) s""","omit":$omitted""" else "")
    println(stdoutLine(results, sfShort, keyed, fitExtraFor))
    // the full-precision line lands in a clean file — the authoritative
    // record for regression tracking; it also carries the rep count and the
    // per-query (max-min) spread across reps so environment noise is
    // distinguishable from regression without a re-run
    val spreadJson = spreads.map { case (k, v) => "\"" + k + "\":" + v.toString }
      .mkString("{", ",", "}")
    val minJson = mins.map { case (k, v) => "\"" + k + "\":" + v.toString }
      .mkString("{", ",", "}")
    // full-precision fit seconds per query (only queries that fit — the
    // map stays small and readable) + the per-query ambient load samples:
    // together these split any inflated median into fit-cost vs
    // hot-host-at-that-slot without a re-run
    // getSystemLoadAverage returns -1.0 where the platform cannot report
    // it — record null, not a misleading negative load
    val fmtLoad: Double => String = v =>
      if (v < 0) "null" else "%.2f".formatLocal(java.util.Locale.ROOT, v)
    val fitJson = fits.filter(_._2 > 0.001)
      .map { case (k, v) => "\"" + k + "\":" + v.toString }
      .mkString("{", ",", "}")
    val loadJson = loadsPerQ
      .map { case (k, v) => "\"" + k + "\":" + fmtLoad(v) }
      .mkString("{", ",", "}")
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    val loadEnd = loadAvg
    val loads = s"${fmtLoad(loadStart)},${fmtLoad(loadEnd)}"
    // machine-readable band record: every query's band_hi plus the
    // violations list (query, offending min, band)
    val bandJson = names.map(n => "\"" + n + "\":" + bandHi(n).toString)
      .mkString("{", ",", "}")
    def violList(vs: Seq[(String, Double)]): String = vs
      .map { case (n, v) =>
        s"""{"q":"$n","min":$v,"band_hi":${bandHi(n)}}""" }
      .mkString("[", ",", "]")
    val violJson = violList(violations)
    // canary + suppressed ride the artifact so a saturated sweep is
    // self-describing: canary_min > 1.0 explains an empty violations list
    // that would otherwise read as "healthy", and the raw out-of-band
    // mins stay available for the judge
    val canaryExtra =
      s""","canary_min":$canaryMin,"violations_marginal":${violList(marginal)},"violations_suppressed":${violList(suppressed)}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      renderLine(results, sfDir, _.toString, identity,
        extra = s""","reps":$reps,"load_avg":[$loads],"spread":$spreadJson,"min":$minJson,"fit":$fitJson,"load":$loadJson,"band_hi":$bandJson,"violations":$violJson$canaryExtra""") + "\n")
    spark.stop()
  }
}
