package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** The reference's stateful time-aware operators (SURVEY.md §2.1 X1–X3, T9)
  * as keyed Spark operators with BOTH batch and streaming forms. Batch forms
  * are window-function plans (verifiable against the DuckDB oracle);
  * streaming forms use `flatMapGroupsWithState` — per-key state lives in the
  * state store, scales horizontally with key partitioning, and replaces the
  * reference's single global struct + mutex (`consumer.cpp:51-52`).
  */
object StatefulOps {

  // ---------- T9: latest-value hold --------------------------------------

  /** Batch: per-key latest (ts, value), ties broken by largest event id
    * (ref latest-value semantics `producer.c:217-219,251-260`). */
  def latestValueBatch(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
    events.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("user_id"), col("ts"), col("value"))
  }

  /** Streaming: same result via stateful agg (Update/Complete mode). */
  def latestValueStream(events: DataFrame): DataFrame =
    events.groupBy("user_id")
      .agg(max_by(struct(col("ts"), col("value")), struct(col("ts"), col("event_id"))).as("l"))
      .select(col("user_id"), col("l.ts").as("ts"), col("l.value").as("value"))

  // ---------- X1+X2: change detection + rate/ETA --------------------------

  case class UpsReading(device_id: Long, ts: Timestamp, current_ma: Double, batt_pct: Double)
  case class UpsState(prevSign: Int, t0: Long, pct0: Double)
  case class UpsDerived(device_id: Long, ts: Timestamp, batt_pct: Double,
                        status: String, batt_use_per_sec: Option[Double],
                        remaining_hrs: Option[Double], eta: Option[String])

  /** ETA wall-clock format, reference-faithful ISO-8601
    * (`module_rpi_ups_hat.c:214-215` strftime "%Y-%m-%dT%H:%M:%S"; the
    * engine standardizes on UTC where the reference prints localtime). */
  private val EtaFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss").withZone(java.time.ZoneOffset.UTC)

  /** ETA horizon: beyond this many seconds out (100 years) the projection
    * is noise from a near-zero rate — suppressed rather than overflowing
    * the timestamp range (the reference's time_t addition just wraps). */
  private val EtaHorizonSec = 3.15e9

  private def etaOf(tSec: Long, pct: Double, rate: Double): Option[String] = {
    val delta = pct / rate
    // floor, matching the batch twin's floor() exactly: the reference's
    // (time_t) conversion truncates (module_rpi_ups_hat.c:213), and for
    // the normal pct >= 0 case trunc == floor — but a negative pct (the
    // typed API accepts arbitrary Datasets; only upsDecode clamps) would
    // make the two twins differ by one second
    if (rate > 0 && delta < EtaHorizonSec)
      Some(EtaFmt.format(java.time.Instant.ofEpochSecond(tSec + math.floor(delta).toLong)))
    else None
  }

  /** One step of the reference's derived-metric math
    * (ref `module_rpi_ups_hat.c:200-219,253-259`): on sign flip (or first
    * sample) reset baseline (t0, pct0); rate = (pct0-pct)/(t-t0+1);
    * remaining = pct/rate/3600 and eta = ts + pct/rate sec, None when
    * rate <= 0. */
  private def upsStep(r: UpsReading, st: Option[UpsState]): (UpsState, UpsDerived) = {
    // NaN classifies as Charging, matching the BATCH twin exactly: Spark
    // SQL comparisons order NaN greater than every number (so the window
    // form's `current_ma > 0` is TRUE for NaN), while Scala's primitive
    // `>` is false for NaN — without the isNaN arm the two twins would
    // disagree on the same row
    val sign = if (r.current_ma > 0 || r.current_ma.isNaN) 1 else -1
    val tSec = r.ts.getTime / 1000
    val base = st match {
      case Some(s) if s.prevSign == sign => s // keep baseline (no flip)
      case _                             => UpsState(sign, tSec, r.batt_pct)
    }
    // a late cross-batch row (ts before the baseline) would make the
    // denominator <= 0 and emit Infinity/garbage rates; no meaningful rate
    // exists for it, same as the rate<=0 case
    val elapsed = tSec - base.t0 + 1
    val rate = if (elapsed > 0) (base.pct0 - r.batt_pct) / elapsed else 0.0
    // rate.isNaN rides for the same Spark-vs-Scala NaN-ordering reason as
    // `sign` above: a NaN batt_pct makes rate NaN, which the batch twin's
    // `when(rate > 0, ...)` KEEPS (emitting NaN use/remaining) — the eta
    // stays None on both sides (NaN delta fails `< EtaHorizonSec` in both
    // orderings)
    val (use, rem) =
      if (rate > 0 || rate.isNaN) (Some(rate), Some(r.batt_pct / rate / 3600.0))
      else (None, None)
    (base, UpsDerived(r.device_id, r.ts, r.batt_pct,
      // the rule of record is ScalarOps.chargeStatus (> 0 = Charging);
      // this is its typed-path transcription — keep the boundary in sync
      if (sign > 0) "Charging" else "Discharging", use, rem,
      etaOf(tSec, r.batt_pct, rate)))
  }

  /** Streaming X1+X2: per-device state via flatMapGroupsWithState. */
  def upsDerivedStream(readings: Dataset[UpsReading]): Dataset[UpsDerived] = {
    import readings.sparkSession.implicits._
    readings.groupByKey(_.device_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout()) {
        (_: Long, rows: Iterator[UpsReading], state: GroupState[UpsState]) =>
          // micro-batches can carry several rows per key: fold in ts order
          val sorted = rows.toSeq.sortBy(r => (r.ts.getTime, r.current_ma))
          var st = state.getOption
          val out = sorted.map { r =>
            val (ns, d) = upsStep(r, st); st = Some(ns); d
          }
          st.foreach(state.update)
          out.iterator
      }
  }

  /** Batch X1+X2 (oracle-checkable form): identical math via window
    * functions — the flip baseline is the last sign-change row ≤ current. */
  def upsDerivedBatch(readings: Dataset[UpsReading]): DataFrame = {
    val df = readings.toDF()
    // eta formats through date_format (session-timezone dependent) while
    // the streaming twin pins UTC in EtaFmt — fail fast rather than let
    // batch/stream parity silently depend on a session conf
    require(df.sparkSession.conf.get("spark.sql.session.timeZone") == "UTC",
      "upsDerivedBatch requires spark.sql.session.timeZone=UTC (the streaming twin formats eta in UTC)")
    val w = Window.partitionBy("device_id").orderBy(col("ts"), col("current_ma"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val signed = df.withColumn("sign", when(col("current_ma") > 0, 1).otherwise(-1))
      .withColumn("flip", col("sign") =!= coalesce(lag(col("sign"), 1).over(w), lit(0)))
    val based = signed
      .withColumn("base", last(when(col("flip"),
        struct(col("ts").cast("long").as("t0"), col("batt_pct").as("pct0"))), ignoreNulls = true).over(wRun))
      .withColumn("rate",
        (col("base.pct0") - col("batt_pct")) / (col("ts").cast("long") - col("base.t0") + 1))
    based.select(col("device_id"), col("ts"), col("batt_pct"),
      graft.functions.ScalarOps.chargeStatus(col("current_ma")).as("status"),
      when(col("rate") > 0, col("rate")).as("batt_use_per_sec"),
      when(col("rate") > 0, col("batt_pct") / col("rate") / 3600.0).as("remaining_hrs"),
      when(col("rate") > 0 && col("batt_pct") / col("rate") < EtaHorizonSec,
        date_format(timestamp_seconds(col("ts").cast("long") +
          floor(col("batt_pct") / col("rate")).cast("long")),
          "yyyy-MM-dd'T'HH:mm:ss")).as("eta"))
  }

  // ---------- X3: staleness watchdog --------------------------------------

  case class Reading(key: String, ts: Timestamp, value: Double)
  case class WatchState(lastTs: Long, lastValue: Double)
  case class WatchOut(key: String, value: Double, stale: Boolean)

  /** Streaming watchdog (ref `consumer.cpp:241-268`): tracks the latest
    * reading per key; if no update arrives within `toleranceMs` of
    * processing time, emits the sentinel 888.8 row exactly like the
    * reference resets its displays. The mutex-guarded shared state of the
    * reference becomes engine-managed per-key state. */
  def stalenessWatchdog(readings: Dataset[Reading], toleranceMs: Long): Dataset[WatchOut] = {
    import readings.sparkSession.implicits._
    readings.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout()) {
        (key: String, rows: Iterator[Reading], state: GroupState[WatchState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator(WatchOut(key, 888.8, stale = true))
          } else {
            // (ts, value) tiebreak: bare maxBy on ts picks ts-tied rows in
            // shuffle-iterator order — nondeterministic across runs
            val latest = rows.maxBy(r => (r.ts.getTime, r.value))
            state.update(WatchState(latest.ts.getTime, latest.value))
            state.setTimeoutDuration(toleranceMs)
            Iterator(WatchOut(key, latest.value, stale = false))
          }
      }
  }

  /** Batch X3 (oracle form, = parity q10): keys whose latest event is more
    * than `toleranceSec` behind the global maximum. */
  def staleKeysBatch(events: DataFrame, toleranceSec: Long): DataFrame = {
    // epochUs (not raw unix_micros): tolerant of TIMESTAMP_NTZ input, so
    // this operator works on un-normalized frames too
    val eus = graft.functions.ScalarOps.epochUs _
    val perKey = events.groupBy("user_id").agg(max(eus(col("ts"))).as("umax"))
    val global = events.agg(max(eus(col("ts"))).as("gmax"))
    perKey.crossJoin(broadcast(global))
      .filter(col("gmax") - col("umax") > toleranceSec * 1000000L)
      .select("user_id")
  }
}
