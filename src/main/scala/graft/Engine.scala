package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Session factory + table catalog over a TESTDATA.md scale-factor directory.
  *
  * The engine generalizes the reference's single-record streaming model
  * (`/root/reference/src/event_loops.c:33-52`) to real tables and streams;
  * all batch inputs are the driver-generated parquet tables (TESTDATA.md).
  */
object Engine {

  /** Tuned for local[N] testing; the same settings are what we'd set
    * cluster-side: AQE on (runtime skew/coalesce re-planning), UTC session
    * timezone (reference emits UTC ISO-8601 everywhere, e.g.
    * `src/modules/dd/producer.c:129-134`), shuffle partitions sized to the
    * machine rather than the 200 default.
    */
  def session(master: String = "local[32]", shufflePartitions: Int = 32): SparkSession = {
    val s = SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // AQE's partition coalescer sizes a stage by its input shuffle
      // BYTES; bounded-sketch pipelines (bottom-k probes, band indexes)
      // ship tiny shuffles into fan-out stages whose work is proportional
      // to the CORPUS, and the 1 MB default collapsed those stages to 1-3
      // tasks (qe58b: 2.3 s -> 0.7 s at sf0.1 from this floor alone).
      // 64k keeps parallelism for cheap-input/expensive-compute stages
      // while still merging genuinely empty partitions.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.session.timeZone", "UTC")
      // INT64-nanos parquet columns (events.ts) read as Long; set at
      // session construction so read behavior never depends on whether
      // Tables.events ran first (events keeps a defensive set for
      // driver-built sessions that bypass this factory)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // The UI is off, but the app-status and SQL-execution listeners
      // still retain per-job/stage/task and per-query plan data at their
      // defaults (1000 jobs/stages, 100k tasks, 1000 SQL executions) —
      // sized for a human debugging an interactive cluster, not for a
      // driver that runs hundreds of queries back-to-back and never reads
      // them. Retained plan graphs and metric maps grew the live heap
      // (after System.gc()) from ~78 to 195 MB over a full bench sweep.
      // These caps keep the last few queries for debugging and drop the
      // rest; they bound retention, not parallelism, so they hold on any
      // host shape.
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "10000")
      .config("spark.sql.ui.retainedExecutions", "24")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Normalize one event-time column to `TimestampType` regardless of the
    * parquet footer shape it arrived in. A real user's files carry all
    * three shapes, and the shape has changed under us between test-data
    * generations — so ingestion defends against every one:
    *
    *  - parquet TIMESTAMP(NANOS), surfaced as `Long` under
    *    `spark.sql.legacy.parquet.nanosAsLong`: floor-divide to µs (the
    *    data is µs-aligned, so lossless) and rebuild the timestamp;
    *  - parquet `timestamp[us]` without a timezone, surfaced as
    *    TIMESTAMP_NTZ: cast to TIMESTAMP. The session is pinned to UTC
    *    (see [[session]]), so the wall-clock reinterpretation is the
    *    identity on the instant — identical to DuckDB reading the same
    *    naive value;
    *  - TIMESTAMP (µs, tz-adjusted): passthrough.
    *
    * Event-time operators downstream (watermarks, `unix_micros`, typed
    * `java.sql.Timestamp` encoders) all require TIMESTAMP and reject NTZ,
    * so this is THE ingestion contract: normalize here, never per-operator.
    */
  def normalizeTs(df: DataFrame, c: String): DataFrame =
    df.schema(c).dataType match {
      case LongType =>
        // Long usually means TIMESTAMP(NANOS) surfaced under nanosAsLong,
        // but a plain INT64 epoch-MICROS column surfaces as Long too — and
        // dividing that by 1000 would silently shift every instant 1000x.
        // Disambiguate per value by magnitude: epoch-nanos for any instant
        // after 1973-03 exceeds 1e17, while epoch-micros stays below 1e17
        // until year 5138 — so within either encoding's sane range the
        // branch is unambiguous. (Pre-1973 nanos values would misread as
        // micros; the fixtures and any post-2000 feed sit 5 orders of
        // magnitude inside the safe zone.) `div` TRUNCATES toward zero —
        // identical to floor on the µs-aligned values the nanos branch is
        // for (pmod 1000 == 0), and exact in integer space where a
        // double-division round trip would lose precision at 1e18.
        // Every reference is backticked so a column name with spaces or
        // dots parses — bare col(c) would read a dot as struct-field
        // access, misresolving a column literally named "a.b".
        df.withColumn(c, timestamp_micros(
          org.apache.spark.sql.functions.when(
            org.apache.spark.sql.functions.abs(col(s"`$c`")) >= 100000000000000000L,
            expr(s"`$c` div 1000")).otherwise(col(s"`$c`"))))
      case TimestampNTZType => df.withColumn(c, col(c).cast(TimestampType))
      case _                => df
    }

  /** Blanket form of [[normalizeTs]] for streaming entry points: cast every
    * TIMESTAMP_NTZ column to TIMESTAMP (UTC session ⇒ lossless), so
    * `withWatermark` — which rejects NTZ event-time columns outright — can
    * never meet one regardless of which reader produced the frame. */
  def normalizeEventTime(df: DataFrame): DataFrame =
    df.schema.fields.filter(_.dataType == TimestampNTZType).foldLeft(df) {
      (d, f) => d.withColumn(f.name, col(f.name).cast(TimestampType))
    }

  /** Readers for the driver-generated tables (FIXTURES.md §A). Schemas come
    * from the parquet footers — no runtime inference cost, and filters and
    * projections push down to the scan.
    */
  final case class Tables(spark: SparkSession, dir: String) {
    private def rd(name: String): DataFrame = spark.read.parquet(s"$dir/$name.parquet")

    def region: DataFrame     = rd("region")
    def nation: DataFrame     = rd("nation")
    def customer: DataFrame   = rd("customer")
    def supplier: DataFrame   = rd("supplier")
    def part: DataFrame       = rd("part")
    def orders: DataFrame     = rd("orders")
    def lineitem: DataFrame   = rd("lineitem")
    def events: DataFrame = {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      normalizeTs(rd("events"), "ts")
    }
    def documents: DataFrame  = rd("documents")
    def embeddings: DataFrame = rd("embeddings")
  }

  /** Row count from parquet FOOTER metadata — the stand-in for catalog
    * table statistics (what a real deployment would read from the
    * metastore or transaction log): O(files) driver-side footer reads, no
    * Spark job, no corpus scan. Feeds blocking-knob derivation (SRP nbits,
    * k-means training-sample rates) so auto-sizing never costs an extra
    * full pass over the data. */
  def parquetRowCount(spark: SparkSession, path: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    dataFiles(fs, fs.getFileStatus(root))
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf))
        try r.getRecordCount finally r.close()
      }.sum
  }

  /** Recursive DATA-file walk under a status: skips `_`/`.`-prefixed
    * entries (success markers, hidden dirs, in-flight tmps). ONE
    * definition shared by [[parquetRowCount]] and
    * [[Artifacts.inputFingerprint]] — the two must agree about which
    * files exist or footer counts and artifact keys drift. */
  private[graft] def dataFiles(fs: org.apache.hadoop.fs.FileSystem,
                               st: org.apache.hadoop.fs.FileStatus)
      : Seq[org.apache.hadoop.fs.FileStatus] =
    if (st.isFile) Seq(st)
    else fs.listStatus(st.getPath).toSeq
      .filterNot(s => s.getPath.getName.startsWith("_") || s.getPath.getName.startsWith("."))
      .flatMap(dataFiles(fs, _))
}
