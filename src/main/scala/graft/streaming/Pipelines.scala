package graft.streaming

import graft.functions.ScalarOps._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's module pipelines re-expressed as pure
  * `DataFrame => DataFrame` transforms. Because they are plan transforms,
  * the SAME code runs batch (unit tests, backfill) and streaming
  * (`readStream.transform(...)`) — Spark's incrementalization does the rest.
  *
  * Schemas follow FIXTURES.md §B (derived from the reference wire formats).
  */
object Pipelines {

  /** dd producer payload schema (ref `src/modules/dd/producer.c:136-141`). */
  val DdSchema: StructType = StructType(Seq(
    StructField("timestamp_utc", StringType),
    StructField("temp_outdoor_celsius", DoubleType),
    StructField("temp_indoor_celsius", DoubleType),
    StructField("rh_outdoor", DoubleType)))

  /** ch payload schema (ref `src/modules/ch/ch.c:142-145`). */
  val ChSchema: StructType = StructType(Seq(
    StructField("timestamp", StringType),
    StructField("temp_celsius", DoubleType)))

  /** HKO `rhrread` subset schema (ref `src/modules/hko/hko.cpp:100-118`). */
  val HkoSchema: StructType = StructType(Seq(
    StructField("temperature", StructType(Seq(
      StructField("recordTime", StringType),
      StructField("data", ArrayType(StructType(Seq(
        StructField("place", StringType),
        StructField("value", DoubleType),
        StructField("unit", StringType))))))))))

  /** dd consumer parse: JSON `payload` string → typed columns with the
    * reference's default-888.8-on-missing semantics; malformed JSON rows are
    * routed out by [[deadLetterSplit]] (ref `consumer.cpp:115-131`).
    * PERMISSIVE from_json yields an all-null struct (not null) on corrupt
    * input, so malformed-ness is detected via a corrupt-record column. */
  def ddConsumer(payloads: DataFrame): DataFrame =
    payloads
      .withColumn("j", from_json(col("payload"),
        DdSchema.add("_corrupt_record", StringType),
        Map("columnNameOfCorruptRecord" -> "_corrupt_record")))
      .select(col("*"),
        isoParse(col("j.timestamp_utc")).as("ts"),
        coalesce(col("j.temp_outdoor_celsius"), lit(888.8)).as("temp_outdoor_celsius"),
        coalesce(col("j.temp_indoor_celsius"), lit(888.8)).as("temp_indoor_celsius"),
        coalesce(col("j.rh_outdoor"), lit(888.8)).as("rh_outdoor"))
      // `parsed` = structurally valid JSON AND a parseable timestamp —
      // the SAME contract chParse applies (ts.isNotNull): JSON
      // well-formedness alone would publish an enriched payload with no
      // ts field at all (to_json drops null fields), and a NULL payload
      // column (from_json(null) → null struct, corrupt-record null)
      // would count as "parsed". Sensor values stay defaultable (888.8);
      // the timestamp is the one field a reading cannot lack.
      .withColumn("parsed",
        col("j._corrupt_record").isNull && col("ts").isNotNull)
      .drop("j")

  /** T11 error routing: split a parsed frame into (good, dead-letter).
    * Streaming: run inside `foreachBatch` and write each side to its sink
    * (recoverable-error contract, ref `module.h:41-44`, `event_loops.c:43-49`).
    * The two sides are two filters over the SAME input plan — a foreachBatch
    * caller should `batch.persist()` before splitting (and unpersist after
    * both writes), or the source read + parse runs once per side every
    * trigger. */
  def deadLetterSplit(df: DataFrame, goodPredicate: org.apache.spark.sql.Column): (DataFrame, DataFrame) =
    (df.filter(goodPredicate), df.filter(!goodPredicate || goodPredicate.isNull))

  /** The HKO collection path (SURVEY §3.3, the §7 minimum slice):
    * raw JSON `doc` → parse → explode `temperature.data` → filter
    * (place match, unit == "C") → project → enrich fetch timestamp →
    * `to_json` publish payload (ref `hko.cpp:94-130`).
    *
    * Last-match-wins on duplicate places (ref scans the whole array,
    * `hko.cpp:102-107`) — reproduced with `max_by` over array position.
    * `fetchTs` stands in for "now" so tests are deterministic; production
    * passes `current_timestamp()`.
    */
  def hko(raw: DataFrame, place: String, fetchTs: org.apache.spark.sql.Column): DataFrame =
    raw
      .withColumn("j", from_json(col("doc"), HkoSchema))
      .select(col("j.temperature.recordTime").as("hko_timestamp"),
        posexplode(col("j.temperature.data")).as(Seq("pos", "d")))
      .filter(col("d.place") === place && col("d.unit") === "C")
      .groupBy(col("hko_timestamp"))
      // BATCH VIEW CAVEAT: grouping by recordTime collapses polls that
      // share one (the endpoint updates every few minutes while the
      // reference polls every second) — this form is the per-recordTime
      // rollup; [[hkoPerDoc]] is the reference-faithful one-row-per-poll
      // form the running module uses. The tie-break struct makes the
      // cross-document tie deterministic (same pos in different docs):
      // highest position wins, value breaks the remaining tie.
      .agg(max_by(col("d.value"), struct(col("pos"), col("d.value"))).as("temp_celsius"))
      // a matched entry whose `value` field is missing parses to null —
      // the reference logs and skips publishing (hko.cpp:108-111), and
      // the streaming twin [[hkoPerDoc]] drops it; batch must agree or
      // the two forms diverge on the same corpus
      .filter(col("temp_celsius").isNotNull)
      .select(isoFormat(fetchTs).as("fh_timestamp"), col("hko_timestamp"),
        col("temp_celsius"))

  /** Streaming form of [[hko]] over (doc, fetch_ts) rows: stateless
    * per-document projection — each poll body independently yields its
    * (fetch ts, record time, reading),
    * so it runs in Append mode with no aggregation state. "Last matching
    * place entry wins" is per-document in the reference (`hko.cpp:102-107`
    * scans one payload's array), which the batch form's groupBy emulates
    * only because each document carries a distinct recordTime;
    * `try_element_at(filter(...), -1)` is the direct expression of it.
    * Documents with no matching place/unit entry are dropped (ref logs and
    * skips publishing, `hko.cpp:108-111`). */
  def hkoPerDoc(raw: DataFrame, place: String): DataFrame =
    raw
      .withColumn("j", from_json(col("doc"), HkoSchema))
      // materialize the parsed array behind its own projection: a HOF
      // lambda over a non-attribute child re-evaluates the parse per
      // element (interpreted, no CSE)
      .select(col("fetch_ts").as("_fts"), col("j.temperature.recordTime").as("hko_timestamp"),
        col("j.temperature.data").as("data"))
      // last-match selection via explode(slice(filter, -1, 1)): documents
      // with no matching entry explode to zero rows, so no Filter node
      // exists for pushdown to rewrite — an isNotNull filter above this
      // projection would be predicate-pushed through it and re-evaluate
      // the interpreted array filter per row (the recorded
      // filter-through-HOF-projection trap)
      .select(col("_fts"), col("hko_timestamp"),
        explode(slice(filter(col("data"),
          d => d.getField("place") === place && d.getField("unit") === "C"),
          -1, 1)).as("m"))
      .select(col("_fts"), col("hko_timestamp"),
        col("m").getField("value").as("temp_celsius"))
      // references only the generated attribute — cannot push below the
      // Generate, stays a cheap field-null check
      .filter(col("temp_celsius").isNotNull)
      .select(isoFormat(col("_fts")).as("fh_timestamp"), col("hko_timestamp"),
        col("temp_celsius"))

  /** HKO publish payload column (ref `hko.cpp:123-125`, K2) — the ONE
    * definition of the hko wire shape, which the running module
    * (`ModuleRegistry.hkoModule`) publishes. */
  def hkoPayloadCol(df: DataFrame): org.apache.spark.sql.Column =
    to_json(struct(df("fh_timestamp"), df("hko_timestamp"), df("temp_celsius")))

  /** ch consumer parse: JSON `payload` → event ts + raw int16 tenths, with
    * `parsed` flagging rows the module may publish. The reference skips a
    * sample it cannot parse (`ch.c:142-151`) rather than publishing a
    * partial object — to_json over all-null fields would otherwise emit
    * the non-null string "{}" downstream. Shared by the streaming module
    * and any batch/backfill caller, mirroring [[ddConsumer]]. */
  def chParse(payloads: DataFrame): DataFrame =
    payloads
      .withColumn("j", from_json(col("payload"), ChSchema))
      .withColumn("ts", isoParse(col("j.timestamp")))
      // round, not truncate: 21.9 parses as 21.899999..., *10 casts to
      // 218 and the module would republish 21.8 for an input of 21.9
      .withColumn("raw_tenths", round(col("j.temp_celsius") * 10).cast("int"))
      .withColumn("parsed", col("ts").isNotNull && col("raw_tenths").isNotNull)

  /** ch pipeline: `raw_tenths` int16 (sentinel 999 = read error, ref
    * `ch.c:193-204`) and `ts` → °C with 99.9 error value → publish
    * payload. */
  def ch(raw: DataFrame): DataFrame =
    raw.select(
      isoFormat(col("ts")).as("timestamp"),
      unitScale(col("raw_tenths")).as("temp_celsius"))

  /** UPS telemetry decode (S4/T2-T4/T13): raw INA219 registers → volts/mA/W,
    * battery %, charge status (ref `module_rpi_ups_hat.c:130-262`). */
  def upsDecode(raw: DataFrame): DataFrame =
    raw
      .withColumn("bus_voltage", busVoltage(col("bus_reg")))
      .withColumn("shunt_voltage", shuntVoltage(col("shunt_reg")))
      .withColumn("current_ma", currentMilliAmp(col("current_reg")))
      .withColumn("power_w", powerWatt(col("power_reg")))
      .withColumn("batt_pct", battPct(col("bus_voltage")))
      .withColumn("status", chargeStatus(col("current_ma")))
}
