package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level scalar transforms — the reference's per-record math
  * re-expressed as pure `Column` functions (SURVEY.md §2.1 T1–T5, T13, X4).
  * All are built-in-function compositions: codegen'd, no UDFs.
  */
object ScalarOps {

  /** ISO-8601 Z wire format the reference writes/parses
    * (ref `src/modules/dd/producer.c:129-134`, `consumer.cpp:133-144`). */
  val IsoFmt = "yyyy-MM-dd'T'HH:mm:ss'Z'"

  /** Normalized timestamp render used by the parity queries (SURVEY §2.3). */
  val TsFmt = "yyyy-MM-dd HH:mm:ss"

  /** T1 — int16 tenths-of-degree → °C (ref `src/modules/dd/producer.c:260`). */
  def unitScale(raw: Column): Column = raw / 10.0

  /** T4 — clamp to [lo, hi] (ref `src/modules/module_rpi_ups_hat.c:260-262`).
    * NULL-propagating: Spark's least/greatest SKIP null arguments, so the
    * bare composition would quietly turn a missing reading into the lower
    * bound — battPct(null) reporting 0% is a fabricated "fully
    * discharged", not an unknown. */
  def clamp(c: Column, lo: Double, hi: Double): Column =
    when(c.isNotNull, least(lit(hi), greatest(lit(lo), c)))

  /** T3+T4 — battery % model, clamped
    * (ref `src/modules/module_rpi_ups_hat.c:252,260-262`). */
  def battPct(busVoltage: Column): Column =
    clamp((busVoltage - 6.0) / 2.4 * 100.0, 0.0, 100.0)

  /** T2 — uint16 two's-complement fix-up
    * (ref `src/modules/module_rpi_ups_hat.c:89-99`). */
  def twosComplement16(reg: Column): Column =
    when(reg > 0x8000, reg - 0xFFFF).otherwise(reg)

  /** T2 — INA219 bus-voltage register decode: `(reg >> 3) * 0.004` V
    * (ref `src/modules/module_rpi_ups_hat.c:130-143`). */
  def busVoltage(reg: Column): Column = shiftright(reg, 3) * 0.004

  /** T2 — shunt voltage: signed * 0.01 mV → V
    * (ref `src/modules/module_rpi_ups_hat.c:145-157`). */
  def shuntVoltage(reg: Column): Column = twosComplement16(reg) * 0.01 / 1000.0

  /** T2 — current: signed * 0.1 mA (ref `module_rpi_ups_hat.c:159-168`). */
  def currentMilliAmp(reg: Column): Column = twosComplement16(reg) * 0.1

  /** T2 — power: signed * 0.002 W (ref `module_rpi_ups_hat.c:170-180`). */
  def powerWatt(reg: Column): Column = twosComplement16(reg) * 0.002

  /** T13 — sign-based status classify
    * (ref `src/modules/module_rpi_ups_hat.c:204-206`). */
  def chargeStatus(current: Column): Column =
    when(current > 0, lit("Charging")).otherwise(lit("Discharging"))

  /** T5 — render a timestamp in the reference's ISO-8601 Z wire format. */
  def isoFormat(ts: Column): Column = date_format(ts, IsoFmt)

  /** T6 — parse the reference's ISO-8601 Z wire format. An unparseable
    * string yields NULL, never an error, under ANSI mode too: the
    * consumers flag such a row `parsed = false` rather than stopping
    * their streaming query. */
  def isoParse(s: Column): Column = try_to_timestamp(s, lit(IsoFmt))

  /** T8 — JSON pointer extract with sentinel default
    * (ref `src/modules/dd/consumer.cpp:124-131`, default 888.8). */
  def jsonDoubleOrDefault(js: Column, path: String, dflt: Double): Column =
    coalesce(get_json_object(js, path).cast("double"), lit(dflt))

  /** Microsecond-precision epoch — parity queries do all epoch arithmetic in
    * microseconds because the test timestamps carry sub-second precision.
    * Casts through TIMESTAMP first so a TIMESTAMP_NTZ column (parquet
    * `timestamp[us]` without a timezone) is accepted too — `unix_micros`
    * itself rejects NTZ, and under the engine's pinned-UTC session the cast
    * is the identity on the instant. Operators calling this never depend on
    * the reader having normalized the column first. */
  def epochUs(ts: Column): Column =
    unix_micros(ts.cast(org.apache.spark.sql.types.TimestampType))

  /** Binary-faithful ROUND(x, 4) for oracle-matched outputs.
    *
    * Spark's `round()` converts the double to its SHORTEST decimal string
    * (BigDecimal.valueOf) before HALF_UP — so a group whose true average is
    * decimal 45.57375 (stored as the double 45.573749999999996…) rounds UP
    * to 45.5738, while DuckDB rounds the BINARY value down to 45.5737.
    * Observed on 44/85k window averages at sf0.1. `floor(x·10⁴ + 0.5)/10⁴`
    * reproduces the binary multiply-round-divide semantics DuckDB uses, so
    * both engines agree on every input double (positive range; negative
    * values only differ on exact binary .5 boundaries, unreachable for
    * real-valued similarity scores). */
  def r4(c: Column): Column = floor(c * 10000.0 + 0.5) / 10000.0
}
