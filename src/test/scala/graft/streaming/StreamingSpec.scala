package graft.streaming

import graft.{Engine, SparkTestBase}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

/** Streaming semantics: pipelines, windowed aggs batch/stream equivalence,
  * stateful X1–X3 — SURVEY §2.3 adjunct + §5.2. */
class PipelinesSpec extends SparkTestBase {
  import spark.implicits._

  test("HKO minimum slice: parse-explode-filter-project (ref hko.cpp:94-130)") {
    val doc =
      """{"temperature": {"recordTime": "2024-12-23T16:00:00+08:00",
        |  "data": [{"place": "Happy Valley", "value": 19.0, "unit": "C"},
        |           {"place": "King's Park", "value": 18.5, "unit": "C"}]}}""".stripMargin
    val raw = Seq(doc).toDF("doc")
    val out = Pipelines.hko(raw, "Happy Valley", to_timestamp(lit("2024-12-23 08:00:05")))
      .collect()
    assert(out.length == 1)
    assert(out(0).getAs[String]("fh_timestamp") == "2024-12-23T08:00:05Z")
    assert(out(0).getAs[String]("hko_timestamp") == "2024-12-23T16:00:00+08:00")
    assert(out(0).getAs[Double]("temp_celsius") == 19.0)
  }

  test("HKO: wrong unit row is rejected (T11, ref hko.cpp:112-115)") {
    val doc = """{"temperature": {"recordTime": "t", "data": [{"place": "X", "value": 66.2, "unit": "F"}]}}"""
    assert(Pipelines.hko(Seq(doc).toDF("doc"), "X", current_timestamp()).count() == 0)
  }

  test("HKO: last match wins on duplicate place (ref hko.cpp:102-107)") {
    val doc =
      """{"temperature": {"recordTime": "t", "data": [
        |  {"place": "X", "value": 1.0, "unit": "C"},
        |  {"place": "X", "value": 2.0, "unit": "C"}]}}""".stripMargin
    val out = Pipelines.hko(Seq(doc).toDF("doc"), "X", current_timestamp()).collect()
    assert(out(0).getAs[Double]("temp_celsius") == 2.0)
  }

  test("hkoPerDoc (streaming form) == hko (batch form) per document") {
    val docs = Seq(
      """{"temperature": {"recordTime": "2024-12-23T16:00:00+08:00", "data": [
        |  {"place": "X", "value": 1.0, "unit": "C"},
        |  {"place": "X", "value": 2.0, "unit": "C"},
        |  {"place": "Y", "value": 9.0, "unit": "C"}]}}""".stripMargin,
      """{"temperature": {"recordTime": "2024-12-23T17:00:00+08:00", "data": [
        |  {"place": "X", "value": 66.2, "unit": "F"}]}}""".stripMargin, // unit reject
      """{"temperature": {"recordTime": "2024-12-23T18:00:00+08:00", "data": [
        |  {"place": "X", "value": 3.5, "unit": "C"}]}}""".stripMargin,
      // matched entry whose `value` field is MISSING: the reference logs
      // and skips (hko.cpp:108-111) — both forms must drop it, not emit
      // a null reading (this was a real batch/stream parity break)
      """{"temperature": {"recordTime": "2024-12-23T19:00:00+08:00", "data": [
        |  {"place": "X", "unit": "C"}]}}""".stripMargin)
    val fts = to_timestamp(lit("2024-12-23 08:00:05"))
    val raw = docs.toDF("doc").withColumn("fetch_ts", fts)
    val batch = Pipelines.hko(raw, "X", fts)
      .orderBy("hko_timestamp").collect().toSeq
    val perDoc = Pipelines.hkoPerDoc(raw, "X")
      .orderBy("hko_timestamp").collect().toSeq
    assert(perDoc == batch, s"streaming per-doc form diverged:\n$perDoc\nvs\n$batch")
    assert(perDoc.map(_.getAs[Double]("temp_celsius")) == Seq(2.0, 3.5))
  }

  test("dd consumer: defaults 888.8 on missing fields, flags malformed JSON") {
    val payloads = Seq(
      """{"timestamp_utc": "2024-12-23T08:00:00Z", "temp_outdoor_celsius": 24.1, "temp_indoor_celsius": 22.8, "rh_outdoor": 61.0}""",
      """{"timestamp_utc": "2024-12-23T08:00:01Z", "temp_indoor_celsius": 22.9}""",
      // valid JSON but NO timestamp: chParse's contract (ts required) —
      // publishing it would emit an enriched payload with no ts field
      """{"temp_outdoor_celsius": 25.0}""",
      """not a json""",
      // well-formed JSON whose timestamp does not parse: flagged, never
      // an error (under ANSI an error would stop the module's query)
      """{"timestamp_utc": "not-a-time", "temp_outdoor_celsius": 25.0}""").toDF("payload")
    val parsed = Pipelines.ddConsumer(payloads)
    val (good, dead) = Pipelines.deadLetterSplit(parsed, col("parsed"))
    assert(good.count() == 2 && dead.count() == 3)
    val row2 = good.filter(col("temp_indoor_celsius") === 22.9).head()
    assert(row2.getAs[Double]("temp_outdoor_celsius") == 888.8)
    assert(row2.getAs[Double]("rh_outdoor") == 888.8)
  }
}

class ChParseSpec extends SparkTestBase {
  import spark.implicits._

  test("chParse: unparseable samples are flagged, never published as '{}'") {
    val rows = Pipelines.chParse(Seq(
      """{"timestamp": "2024-12-23T16:00:00Z", "temp_celsius": 21.9}""",
      "garbage",                                    // no JSON at all
      """{"temp_celsius": 21.9}""",                 // timestamp missing
      """{"timestamp": "2024-12-23T16:00:01Z"}""",  // temp missing
      """{"timestamp": "not-a-time", "temp_celsius": 21.9}""" // bad ts
    ).toDF("payload")).collect()
    assert(rows.map(_.getAs[Boolean]("parsed")).toSeq ==
      Seq(true, false, false, false, false))
    // round-not-truncate preserved through the shared parse
    assert(rows(0).getAs[Int]("raw_tenths") == 219)
    // module shape: the filter(parsed) side renders a full payload
    val out = Pipelines.ch(Pipelines.chParse(Seq(
      """{"timestamp": "2024-12-23T16:00:00Z", "temp_celsius": 21.9}""")
      .toDF("payload")).filter(col("parsed"))).collect()
    assert(out.length == 1 && out(0).getAs[Double]("temp_celsius") == 21.9)
  }
}

class ModuleRegistrySpec extends SparkTestBase {
  import graft.sources.MqttLike

  test("registry runs the dd module end-to-end; unknown module rejected") {
    val spool = java.nio.file.Files.createTempDirectory("modreg").toString
    (0 until 3).foreach(i => MqttLike.publish(spool, "sensors/dd",
      s"""{"timestamp_utc": "2024-12-23T08:00:0${i}Z", "temp_outdoor_celsius": ${20 + i}.5, "temp_indoor_celsius": 22.8, "rh_outdoor": 61.0}"""))
    val q = ModuleRegistry.start(spark, "dd", spool)
    try q.processAllAvailable() finally q.stop()
    val out = MqttLike.listSeqs(java.nio.file.Paths.get(spool, "sensors_dd_enriched"))
    assert(out.size == 3, s"dd module must republish 3 enriched payloads, got $out")
    intercept[IllegalArgumentException](ModuleRegistry.start(spark, "nope", spool))
  }

  test("hko module: poll source -> parse -> publish, end-to-end (S5)") {
    val spool = java.nio.file.Files.createTempDirectory("modreg_hko").toString
    val doc = java.nio.file.Files.createTempFile("rhrread", ".json")
    java.nio.file.Files.writeString(doc,
      """{"temperature": {"recordTime": "2024-12-23T08:00:00+08:00", "data": [
        |  {"place": "King's Park", "value": 18.1, "unit": "C"},
        |  {"place": "Happy Valley", "value": 19.0, "unit": "C"},
        |  {"place": "Happy Valley", "value": 19.5, "unit": "C"}]}}""".stripMargin)
    val m = ModuleRegistry.modules("hko").copy(
      source = ModuleRegistry.HttpEndpoint(doc.toUri.toString),
      triggerMs = 100L)
    val q = ModuleRegistry.start(spark, m, spool, None)
    try {
      val sink = java.nio.file.Paths.get(spool, "sensors_hko")
      val deadline = System.currentTimeMillis() + 20000
      while (MqttLike.listSeqs(sink).isEmpty) {
        assert(System.currentTimeMillis() < deadline, "hko module published nothing")
        Thread.sleep(100)
      }
      val payload = java.nio.file.Files.readString(sink.resolve("0.msg"))
      assert(payload.contains(""""temp_celsius":19.5"""),
        s"last matching Happy Valley entry must win: $payload")
      assert(payload.contains(""""hko_timestamp":"2024-12-23T08:00:00+08:00""""))
      assert(payload.contains(""""fh_timestamp""""))
    } finally q.stop()
  }

  test("trigger rules: an MQTT module runs on arrival, not on triggerMs; " +
    "the hko poll runs once per triggerMs") {
    val sample =
      """{"timestamp_utc": "2024-12-23T08:00:00Z", "temp_outdoor_celsius": 20.5, "temp_indoor_celsius": 22.8, "rh_outdoor": 61.0}"""
    def awaitFiles(dir: java.nio.file.Path, n: Int, ms: Long): Boolean = {
      val end = System.currentTimeMillis() + ms
      while (MqttLike.listSeqs(dir).size < n && System.currentTimeMillis() < end) Thread.sleep(20)
      MqttLike.listSeqs(dir).size >= n
    }
    val spool = java.nio.file.Files.createTempDirectory("modreg_trig").toString
    val dd = ModuleRegistry.modules("dd").copy(triggerMs = 60000L)
    MqttLike.publish(spool, "sensors/dd", sample)
    val q = ModuleRegistry.start(spark, dd, spool, None)
    val enriched = java.nio.file.Paths.get(spool, "sensors_dd_enriched")
    try {
      assert(awaitFiles(enriched, 1, 30000), "first dd batch published nothing")
      // sent after the first batch: a 60 s trigger would hold it ~60 s
      MqttLike.publish(spool, "sensors/dd", sample)
      assert(awaitFiles(enriched, 2, 10000),
        "a dd sample waited for the module's triggerMs instead of running on arrival")
    } finally q.stop()

    val doc = java.nio.file.Files.createTempFile("rhrread_trig", ".json")
    java.nio.file.Files.writeString(doc,
      """{"temperature": {"recordTime": "2024-12-23T08:00:00+08:00", "data": [
        |  {"place": "Happy Valley", "value": 19.0, "unit": "C"}]}}""".stripMargin)
    val hko = ModuleRegistry.modules("hko").copy(
      source = ModuleRegistry.HttpEndpoint(doc.toUri.toString), triggerMs = 1000L)
    val hq = ModuleRegistry.start(spark, hko, spool, None)
    try {
      val sink = java.nio.file.Paths.get(spool, "sensors_hko")
      assert(awaitFiles(sink, 1, 30000), "hko module published nothing")
      val before = MqttLike.listSeqs(sink).size
      Thread.sleep(10000)
      val polls = MqttLike.listSeqs(sink).size - before
      // one poll per 1 s tick: the trigger is the poll's only clock
      assert(polls >= 9, s"hko published $polls payloads in 10 s at a 1 s trigger")
      assert(polls <= 11, s"hko published $polls payloads in 10 s at a 1 s trigger")
    } finally hq.stop()
  }

  test("fromConfig drives dd, ch and hko concurrently from a settings tree (S7)") {
    val spool = java.nio.file.Files.createTempDirectory("modreg_cfg").toString
    val doc = java.nio.file.Files.createTempFile("rhrread2", ".json")
    java.nio.file.Files.writeString(doc,
      """{"temperature": {"recordTime": "2024-12-23T09:00:00+08:00", "data": [
        |  {"place": "Happy Valley", "value": 21.5, "unit": "C"}]}}""".stripMargin)
    val settings = java.nio.file.Files.createTempFile("settings", ".json")
    java.nio.file.Files.writeString(settings,
      s"""{
         |  "collection_event_interval_ms": 100,
         |  "dd":  {"mqtt": {"topic": "cfg/dd"}, "sink_topic": "cfg/dd_enriched"},
         |  "ch":  {"mqtt": {"topic": "cfg/ch_raw"}, "sink_topic": "cfg/ch"},
         |  "hko": {"url": "${doc.toUri}", "place": "Happy Valley", "topic": "cfg/hko"}
         |}""".stripMargin)
    val mods = ModuleRegistry.fromConfig(settings.toString)
    assert(mods.keySet == Set("dd", "ch", "hko"))
    assert(mods("dd").triggerMs == 100L, "cadence must come from the settings tree")
    MqttLike.publish(spool, "cfg/dd",
      """{"timestamp_utc": "2024-12-23T08:00:00Z", "temp_outdoor_celsius": 20.5, "temp_indoor_celsius": 22.8, "rh_outdoor": 61.0}""")
    MqttLike.publish(spool, "cfg/ch_raw",
      """{"timestamp": "2024-12-23T08:00:00Z", "temp_celsius": 23.4}""")
    val qs = mods.values.map(m => ModuleRegistry.start(spark, m, spool, None)).toSeq
    try {
      val sinks = Seq("cfg_dd_enriched", "cfg_ch", "cfg_hko")
        .map(t => java.nio.file.Paths.get(spool, t))
      val deadline = System.currentTimeMillis() + 30000
      while (!sinks.forall(MqttLike.listSeqs(_).nonEmpty)) {
        assert(System.currentTimeMillis() < deadline,
          s"sinks still empty: ${sinks.filter(MqttLike.listSeqs(_).isEmpty)}")
        Thread.sleep(100)
      }
    } finally qs.foreach(_.stop())
    // config error contract (utils.c:29-33): missing interval is invalid
    val bad = java.nio.file.Files.createTempFile("settings_bad", ".json")
    java.nio.file.Files.writeString(bad, """{"dd": {"mqtt": {"topic": "x"}}}""")
    intercept[IllegalArgumentException](ModuleRegistry.fromConfig(bad.toString))
    // missing required key inside a present module subtree
    val bad2 = java.nio.file.Files.createTempFile("settings_bad2", ".json")
    java.nio.file.Files.writeString(bad2,
      """{"collection_event_interval_ms": 100, "dd": {"mqtt": {}}}""")
    intercept[IllegalArgumentException](ModuleRegistry.fromConfig(bad2.toString))
  }

  test("ch and sample modules run through the same registry mechanics") {
    val spool = java.nio.file.Files.createTempDirectory("modreg2").toString
    MqttLike.publish(spool, "sensors/ch_raw",
      """{"timestamp": "2024-12-23T08:00:00Z", "temp_celsius": 23.4}""")
    val q = ModuleRegistry.start(spark, "ch", spool)
    try q.processAllAvailable() finally q.stop()
    val chDir = java.nio.file.Paths.get(spool, "sensors_ch")
    assert(MqttLike.listSeqs(chDir).size == 1)
    // round-trip must preserve the reading: 23.4 parses as 23.39999...,
    // and truncating tenths instead of rounding republished 23.3
    val chOut = java.nio.file.Files.readString(chDir.resolve("0.msg"))
    assert(chOut.contains(""""temp_celsius":23.4"""),
      s"ch module corrupted the reading round-trip: $chOut")
    MqttLike.publish(spool, "sensors/sample", "passthrough")
    val q2 = ModuleRegistry.start(spark, "sample", spool)
    try q2.processAllAvailable() finally q2.stop()
    val files = MqttLike.listSeqs(java.nio.file.Paths.get(spool, "sensors_sample_out"))
    assert(files.size == 1)
  }

  test("dd module against a real broker (mqtt.host config): wire in, wire out — " +
    "the reference's producer->broker->consumer->broker topology") {
    import graft.sources.{MqttBrokerStub, MqttSpoolBridge, MqttWireClient}
    val spool = java.nio.file.Files.createTempDirectory("modreg_wire").toString
    // credentialed broker: the settings' username/password must reach the
    // CONNECT packet for anything below to flow at all
    val broker = new MqttBrokerStub(credentials = Some(("ref-user", "ref-pass")))
    // a second bridge plays the reference's downstream consumer of the
    // ENRICHED topic, so the sink's wire publishes are observable
    val outBridge = new MqttSpoolBridge("127.0.0.1", broker.port, spool,
      "wire/dd_enriched", clientId = "test-consumer",
      credentials = Some(("ref-user", "ref-pass")))
    try {
      outBridge.awaitSubscribed()
      // settings tree names the broker exactly like the reference's
      // dd/settings-sample.json mqtt.host/username/password keys
      val settings = java.nio.file.Files.createTempFile("settings_wire", ".json")
      java.nio.file.Files.writeString(settings,
        s"""{
           |  "collection_event_interval_ms": 100,
           |  "dd": {"mqtt": {"topic": "wire/dd", "host": "127.0.0.1",
           |                  "port": ${broker.port},
           |                  "username": "ref-user", "password": "ref-pass"},
           |         "sink_topic": "wire/dd_enriched"}
           |}""".stripMargin)
      val m = ModuleRegistry.fromConfig(settings.toString)("dd")
      assert(m.broker.contains(s"ref-user:ref-pass@127.0.0.1:${broker.port}"))
      val q = ModuleRegistry.start(spark, m, spool, None)
      try {
        // start() has already awaited the module's inbound bridge — a
        // producer publishing right now cannot race the subscription
        val pub = new MqttWireClient("127.0.0.1", broker.port, "test-producer",
          credentials = Some(("ref-user", "ref-pass")))
        pub.connect()
        (0 until 3).foreach(i => pub.publish("wire/dd",
          s"""{"timestamp_utc": "2024-12-23T08:00:0${i}Z", "temp_outdoor_celsius": ${20 + i}.5, "temp_indoor_celsius": 22.8, "rh_outdoor": 61.0}""".getBytes("UTF-8")))
        pub.close()
        val enriched = java.nio.file.Paths.get(spool, "wire_dd_enriched")
        val deadline = System.currentTimeMillis() + 30000
        while (MqttLike.listSeqs(enriched).size < 3) {
          assert(System.currentTimeMillis() < deadline,
            s"enriched topic has ${MqttLike.listSeqs(enriched).size}/3 " +
              s"(inbound bridged: spool=${MqttLike.listSeqs(java.nio.file.Paths.get(spool, "wire_dd")).size})")
          Thread.sleep(100)
        }
        val body = java.nio.file.Files.readString(enriched.resolve("0.msg"))
        assert(body.contains(""""temp_outdoor_celsius":20.5"""), body)
      } finally q.stop()
    } finally { outBridge.close(); broker.close() }
  }

  test("hko wire topology publishes at QoS 2 end-to-end: poll source -> " +
    "parse -> broker at the reference's QoS level (hko.cpp:69-72)") {
    import graft.sources.{MqttBrokerStub, MqttSpoolBridge}
    val spool = java.nio.file.Files.createTempDirectory("modreg_hko_wire").toString
    val doc = java.nio.file.Files.createTempFile("rhrread_wire", ".json")
    java.nio.file.Files.writeString(doc,
      """{"temperature": {"recordTime": "2024-12-23T08:00:00+08:00", "data": [
        |  {"place": "Happy Valley", "value": 19.0, "unit": "C"}]}}""".stripMargin)
    val broker = new MqttBrokerStub()
    // the reference's downstream consumer of the hko topic, observing the
    // sink's wire publishes (delivered to it at its QoS-1 grant)
    val outBridge = new MqttSpoolBridge("127.0.0.1", broker.port, spool,
      "wire/hko", clientId = "hko-consumer")
    try {
      outBridge.awaitSubscribed()
      // hko settings put the broker host directly under /hko
      // (hko/settings-sample.json); the module's sink publishes at QoS 2
      val settings = java.nio.file.Files.createTempFile("settings_hko_wire", ".json")
      java.nio.file.Files.writeString(settings,
        s"""{
           |  "collection_event_interval_ms": 100,
           |  "hko": {"url": "${doc.toUri}", "place": "Happy Valley",
           |          "topic": "wire/hko",
           |          "host": "127.0.0.1", "port": ${broker.port}}
           |}""".stripMargin)
      val m = ModuleRegistry.fromConfig(settings.toString)("hko")
      assert(m.qos == 2, "hko module must carry the reference's QoS 2")
      assert(m.broker.contains(s"127.0.0.1:${broker.port}"))
      val q = ModuleRegistry.start(spark, m, spool, None)
      try {
        val sink = java.nio.file.Paths.get(spool, "wire_hko")
        val deadline = System.currentTimeMillis() + 30000
        while (MqttLike.listSeqs(sink).isEmpty) {
          assert(System.currentTimeMillis() < deadline,
            "hko wire topology delivered nothing to the consumer bridge")
          Thread.sleep(100)
        }
        // the wire saw REAL QoS 2 four-way handshakes, not a downgrade
        assert(broker.publishedQos2.get() > 0,
          "hko publishes did not arrive at QoS 2 on the wire")
        assert(broker.publishedQos2.get() == broker.published.get(),
          "some hko publish arrived below QoS 2")
        val body = java.nio.file.Files.readString(sink.resolve("0.msg"))
        assert(body.contains(""""temp_celsius":19.0"""), body)
      } finally q.stop()
    } finally { outBridge.close(); broker.close() }
  }
}

class WindowedAggsSpec extends SparkTestBase {
  import spark.implicits._

  test("streaming tumbling agg over file replay == batch q16 (complete mode)") {
    val events = Engine.Tables(spark, Sf0001).events
    val dir = java.nio.file.Files.createTempDirectory("replay").toString
    Replay.writeChunks(events, "ts", dir, 4)
    val stream = Replay.readStream(spark, events, dir)
    val q = WindowedAggs.rendered(WindowedAggs.tumbling(stream), "event_type")
      .writeStream.format("memory").queryName("t_q16").outputMode(OutputMode.Complete())
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("t_q16").orderBy("wstart", "event_type")
    val want = WindowedAggs.rendered(WindowedAggs.tumbling(events), "event_type")
      .orderBy("wstart", "event_type")
    assert(got.collect().toSeq == want.collect().toSeq)
  }

  test("streaming sliding agg over file replay == batch q17a (complete mode)") {
    val events = Engine.Tables(spark, Sf0001).events
    val dir = java.nio.file.Files.createTempDirectory("replay_sl").toString
    Replay.writeChunks(events, "ts", dir, 3)
    val q = WindowedAggs.rendered(WindowedAggs.sliding(Replay.readStream(spark, events, dir)), "event_type")
      .writeStream.format("memory").queryName("t_q17a").outputMode(OutputMode.Complete())
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("t_q17a").orderBy("wstart", "event_type").collect().toSeq
    val want = WindowedAggs.rendered(WindowedAggs.sliding(events), "event_type")
      .orderBy("wstart", "event_type").collect().toSeq
    assert(got == want)
  }

  test("streaming session windows over replay == batch q17b (watermark, append)") {
    val events = Engine.Tables(spark, Sf0001).events
    val dir = java.nio.file.Files.createTempDirectory("replay_se").toString
    Replay.writeChunks(events, "ts", dir, 3)
    // watermark far larger than the data span -> no session is dropped, but
    // append mode only FINALIZES sessions the watermark has passed; emit a
    // final synthetic late event to close all real sessions
    val stream = Replay.readStream(spark, events, dir)
    val q = WindowedAggs.session(stream, watermark = Some("1 minute"))
      .select(col("user_id"), date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        col("cnt"))
      .writeStream.format("memory").queryName("t_q17b").outputMode(OutputMode.Append())
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("t_q17b").orderBy("user_id", "session_start").collect().toSeq
    val want = WindowedAggs.session(events)
      .select(col("user_id"), date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        col("cnt"))
      .orderBy("user_id", "session_start").collect().toSeq
    // append emits only watermark-finalized sessions: got must be a prefix-
    // subset of batch truth with identical rows for every emitted session
    val wantSet = want.toSet
    assert(got.nonEmpty, "no sessions finalized — watermark never advanced")
    assert(got.forall(wantSet.contains), "a finalized streaming session diverged from batch truth")
  }

  test("S1 cadence parity: 1-second micro-batch trigger sustains >= 1 sample/s") {
    // BASELINE.md streaming-cadence target (reference: 1000 ms/sample,
    // src/global_vars.c:10) — rate source at 50 rows/s through a pipeline
    // transform must keep up under Trigger.ProcessingTime("1 second")
    val q = spark.readStream.format("rate").option("rowsPerSecond", "50").load()
      .select(col("timestamp").as("ts"), (col("value") % 100).cast("double").as("raw"))
      .select(col("ts"), graft.functions.ScalarOps.unitScale(col("raw")).as("temp_c"))
      .writeStream.format("memory").queryName("t_cadence")
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"))
      .start()
    try {
      // rate source generates forever: processAllAvailable would never
      // quiesce — poll the sink with a deadline instead
      val deadline = System.currentTimeMillis() + 20000
      var n = 0L
      while (System.currentTimeMillis() < deadline && n < 50) {
        Thread.sleep(500)
        n = spark.table("t_cadence").count()
      }
      assert(n >= 50, s"only $n samples after 20 s — cadence not sustained")
    } finally q.stop()
  }

  test("E1 streaming exact dedup: dropDuplicates with watermark over replay") {
    val events = Engine.Tables(spark, Sf0001).events
      .select(col("event_id"), col("ts"), col("user_id"))
    val dir = java.nio.file.Files.createTempDirectory("replay_dd").toString
    // duplicate the stream twice -> streaming dedup must restore exact rows
    Replay.writeChunks(events.union(events), "ts", dir, 3)
    val q = Replay.readStream(spark, events, dir)
      .withWatermark("ts", "10 minutes")
      .dropDuplicates("event_id")
      .writeStream.format("memory").queryName("t_e1").outputMode(OutputMode.Append())
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("t_e1").count()
    assert(got == events.count(), s"dedup left $got rows, want ${events.count()}")
  }

  test("frozen-threshold streaming gate == batch adaptive gate on replay") {
    import graft.operators.{QuantileGate, TextAnalysis}
    val docs = Engine.Tables(spark, Sf0001).documents
    val metric = docs.select(col("doc_id"), col("source"),
      TextAnalysis.tokenCount(col("text")).as("n_tok"))
    // fit once on the batch history, freeze, gate the live stream with it
    val thr = QuantileGate.fitThreshold(metric, "n_tok", 0.8)
    val thrG = QuantileGate.fitThresholdPerGroup(metric, "source", "n_tok", 0.8)
    val dir = java.nio.file.Files.createTempDirectory("replay_gate").toString
    Replay.writeChunks(metric, "doc_id", dir, 3)
    def streamed(gate: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
                 name: String): Set[Long] = {
      val q = gate(Replay.readStream(spark, metric, dir))
        .select("doc_id")
        .writeStream.format("memory").queryName(name).outputMode(OutputMode.Append())
        .start()
      try q.processAllAvailable() finally q.stop()
      spark.table(name).collect().map(_.getLong(0)).toSet
    }
    val got = streamed(QuantileGate.atOrBelowFrozen(_, thr, "n_tok"), "t_gate")
    val want = QuantileGate.atOrBelow(metric, "n_tok", 0.8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == want, s"global frozen gate diverged: ${got.size} vs ${want.size} docs")
    val gotG = streamed(QuantileGate.atOrBelowFrozenPerGroup(_, thrG, "source", "n_tok"),
      "t_gate_g")
    val wantG = QuantileGate.atOrBelowPerGroup(metric, "source", "n_tok", 0.8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(gotG == wantG, s"per-group frozen gate diverged: ${gotG.size} vs ${wantG.size}")
  }

  test("streaming curation == batch qe9: gates + dedup over doc replay") {
    import graft.operators.{Dedup, TextAnalysis}
    val docs = Engine.Tables(spark, Sf0001).documents
    val dir = java.nio.file.Files.createTempDirectory("replay_cur").toString
    Replay.writeChunks(docs, "doc_id", dir, 3) // chronological by doc_id
    def gates(df: org.apache.spark.sql.DataFrame) = {
      val toks = TextAnalysis.tokens(col("text"))
      df.withColumn("n_tokens", size(toks).cast("long"))
        .withColumn("punct_ratio", graft.functions.ScalarOps.r4(
          length(regexp_replace(col("text"), "[^.!?,;:]", "")).cast("double") / length(col("text"))))
        .withColumn("norm", TextAnalysis.normalize(col("text")))
        .filter(col("n_tokens") >= 20 && col("punct_ratio") <= 0.05)
    }
    // streaming: first-arrival dedup on text; replay is doc_id-ordered so
    // first-seen == min doc_id == the batch exact-dedup survivor
    val q = gates(Replay.readStream(spark, docs, dir))
      .dropDuplicates("norm")
      .select("doc_id")
      .writeStream.format("memory").queryName("t_cur").outputMode(OutputMode.Append())
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("t_cur").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    val want = Dedup.exactDedup(gates(docs), Seq("norm"), "doc_id")
      .select(col("keep_id")).orderBy("keep_id").collect().map(_.getLong(0)).toSeq
    assert(got == want, s"streaming curation diverged: ${got.size} vs ${want.size} docs")
  }

  test("always-on curation pipeline: ONE streaming query composes frozen gate -> " +
    "frozen boilerplate strip -> stream dedup -> split packing; replay == batch") {
    import graft.operators.{Dedup, QuantileGate, SegmentDedup, SeqPack, TextAnalysis}
    val docs = Engine.Tables(spark, Sf0001).documents
    val dir = java.nio.file.Files.createTempDirectory("replay_e2e").toString
    Replay.writeChunks(docs, "doc_id", dir, 4)
    // FIT on the batch history; both artifacts FROZEN before the stream
    // starts — the always-on posture (refit on its own cadence)
    val hist = docs.filter(TextAnalysis.hasTokens(col("text")))
      .select(col("doc_id"), col("text"),
        TextAnalysis.tokenCount(col("text")).as("n_tok"))
    val thr = QuantileGate.fitThreshold(hist, "n_tok", 0.8)
    val boiler = SegmentDedup.fitBoilerplate(docs, 8, 3)
      .collect().map(_.getString(0)).toSeq
    assert(boiler.nonEmpty, "fixture must contain boilerplate for the strip to matter")
    // the shared stage composition (identical code path for both modes):
    // frozen quantile gate -> inline frozen boilerplate strip -> shard key
    def stages(df: org.apache.spark.sql.DataFrame) = {
      val gated = QuantileGate.atOrBelowFrozen(
        df.withColumn("n_tok", TextAnalysis.tokenCount(col("text"))), thr, "n_tok")
      SegmentDedup.stripBoilerplateInline(gated, boiler, 8)
        .withColumn("shard", col("doc_id") % 4)
    }
    // STREAM: dedup = first arrival (replay is doc_id-ordered, so
    // first-seen == min doc_id == the batch survivor), then the stateful
    // split packer — all four stages in ONE StreamingQuery.
    // Determinism prerequisite (shared with the qe9 replay test): each
    // chunk is ONE small coalesced file -> one scan partition per
    // micro-batch, so rows reach the dedup state in file (= doc_id)
    // order. Duplicates co-arriving in one micro-batch across SEVERAL
    // scan partitions would race on shuffle-fetch order; keep replay
    // chunks single-file if the fixture ever grows past a split.
    val streamed = stages(Replay.readStream(spark, docs, dir))
      .dropDuplicates("text_clean")
      .select(col("shard"), col("doc_id"),
        TextAnalysis.tokenCount(col("text_clean")).as("n_tok"))
    // transformWithState requires the RocksDB provider (multiple column
    // families); scoped to this query like the other stateful-v2 tests
    withConf(RocksDbStateStore) {
      val q = StreamingSeqPack.packSplitStream(streamed, 256L)
        .writeStream.format("memory").queryName("t_e2e")
        .outputMode(OutputMode.Append()).start()
      try q.processAllAvailable() finally q.stop()
    }
    val got = spark.table("t_e2e")
      .orderBy("shard", "doc_id", "seg_idx").collect().map(_.toString).toSeq
    // BATCH twin: same stages, min-id exact dedup, batch split packer
    val sb = stages(docs)
    val surv = Dedup.exactDedup(sb, Seq("text_clean"), "doc_id")
      .select(col("keep_id").as("doc_id"))
    val bb = sb.join(surv, "doc_id")
      .select(col("shard"), col("doc_id"),
        TextAnalysis.tokenCount(col("text_clean")).as("n_tok"))
    val want = SeqPack.packSplitSharded(bb, "shard", "doc_id", "n_tok", 256L)
      .select("shard", "doc_id", "seg_idx", "bin", "n_tok")
      .orderBy("shard", "doc_id", "seg_idx").collect().map(_.toString).toSeq
    assert(got.nonEmpty && got == want,
      s"composed pipeline diverged: ${got.size} stream rows vs ${want.size} batch rows")
  }

  test("dead-letter split e2e: good and corrupt payloads reach separate sinks") {
    val input = MemoryStream[String](spark)
    val parsed = Pipelines.ddConsumer(input.toDF().toDF("payload"))
    val goodRows = scala.collection.mutable.ArrayBuffer.empty[Long]
    val deadRows = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = parsed.writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
      val (good, dead) = Pipelines.deadLetterSplit(batch, col("parsed"))
      goodRows.synchronized { goodRows += good.count() }
      deadRows.synchronized { deadRows += dead.count() }
      ()
    }.outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        """{"timestamp_utc": "2024-12-23T08:00:00Z", "temp_outdoor_celsius": 24.1, "temp_indoor_celsius": 22.8, "rh_outdoor": 61.0}""",
        """%%% not json %%%""",
        """{"timestamp_utc": "2024-12-23T08:00:01Z", "temp_indoor_celsius": 22.9}""")
      q.processAllAvailable()
    } finally q.stop()
    assert(goodRows.sum == 2 && deadRows.sum == 1,
      s"good=${goodRows.sum} dead=${deadRows.sum}")
  }

  test("watermark drops late data beyond tolerance (X3 late-data rule)") {
    val input = MemoryStream[(Timestamp, String, Double)](spark)
    val df = input.toDF().toDF("ts", "event_type", "value")
    val q = WindowedAggs.tumbling(df, watermark = Some("10 minutes"))
      .select(col("w.start").as("ws"), col("cnt"))
      .writeStream.format("memory").queryName("t_wm").outputMode(OutputMode.Append())
      .start()
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    try {
      input.addData((ts(0), "a", 1.0), (ts(1), "a", 1.0))
      q.processAllAvailable()
      input.addData((ts(40), "a", 1.0)) // advances watermark to 10:30
      q.processAllAvailable()
      input.addData((ts(2), "a", 1.0))  // late beyond watermark -> dropped
      q.processAllAvailable()
      input.addData((ts(55), "a", 1.0)) // closes the 10:40 window
      q.processAllAvailable()
      val rows = spark.table("t_wm").collect()
      val w0 = rows.find(_.getTimestamp(0).toString.startsWith("2024-01-01 10:00"))
      assert(w0.isDefined, "first window must have been emitted")
      assert(w0.get.getLong(1) == 2L, "late row must not be counted")
    } finally q.stop()
  }

  test("session window MERGES at exactly the gap — the q17b oracle's > mirrors it") {
    import spark.implicits._
    // empirically pinned: two events exactly 30 minutes apart stay in ONE
    // session (Spark merges when nextStart <= currentEnd), one second more
    // splits — so the q17b oracle must use `gap > INTERVAL 30 minutes`,
    // NOT >=. This test exists because a review claimed the opposite.
    val t0 = java.sql.Timestamp.valueOf("2024-12-23 08:00:00")
    def at(sec: Long) = new java.sql.Timestamp(t0.getTime + sec * 1000)
    val exact = Seq(("u1", t0), ("u1", at(1800))).toDF("user_id", "ts")
    assert(WindowedAggs.session(exact).count() == 1,
      "events exactly gap apart must merge")
    val over = Seq(("u1", t0), ("u1", at(1801))).toDF("user_id", "ts")
    assert(WindowedAggs.session(over).count() == 2,
      "events gap+1s apart must split")
  }
}

class StreamJoinsSpec extends SparkTestBase {
  import spark.implicits._

  test("stream-stream interval join: purchases match prior clicks within window") {
    def ts(s: Int) = new Timestamp(1700000000000L + s * 1000L)
    val clicks = MemoryStream[(Long, Timestamp, String)](spark)
    val purchases = MemoryStream[(Long, Timestamp, String)](spark)
    val cdf = clicks.toDF().toDF("user_id", "cts", "click")
    val pdf = purchases.toDF().toDF("user_id", "pts", "purchase")
    val joined = StreamJoins.intervalJoin(pdf, cdf, "user_id", "pts", "cts",
      windowSec = 60, watermark = "5 seconds")
      .select(col("purchase"), col("click"))
    val q = joined.writeStream.format("memory").queryName("t_ssj")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    try {
      clicks.addData((1L, ts(0), "c1"), (1L, ts(100), "c2"), (2L, ts(0), "c3"))
      purchases.addData((1L, ts(30), "p1"),  // matches c1 (30s after)
        (1L, ts(200), "p2"),                 // c2 is 100s before -> outside 60s
        (2L, ts(300), "p3"))                 // c3 is 300s before -> outside
      q.processAllAvailable()
      val got = spark.table("t_ssj").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(got == Set(("p1", "c1")), s"got $got")
    } finally q.stop()
  }

  test("interval join with the engine-wide 'ts' name on BOTH sides stays unambiguous") {
    def ts(s: Int) = new Timestamp(1700000000000L + s * 1000L)
    val clicks = Seq((1L, ts(0), "c1")).toDF("user_id", "ts", "click")
    val purchases = Seq((1L, ts(30), "p1")).toDF("user_id", "ts", "purchase")
    val joined = StreamJoins.intervalJoin(purchases, clicks, "user_id", "ts", "ts",
      windowSec = 60, watermark = "5 seconds")
    // one ts per side: left keeps its name, right is suffixed — a bare
    // col("ts") must resolve (this threw AMBIGUOUS_REFERENCE before)
    assert(joined.columns.count(_ == "ts") == 1)
    assert(joined.columns.contains("ts_r"))
    val row = joined.select(col("ts"), col("ts_r"), col("purchase"), col("click"))
      .collect().head
    assert(row.getTimestamp(0) == ts(30) && row.getTimestamp(1) == ts(0))
  }
}

class StatefulOpsSpec extends SparkTestBase {
  import spark.implicits._
  import StatefulOps._

  test("T9 latest-value: stream over replay == batch window form") {
    val events = Engine.Tables(spark, Sf0001).events
    val dir = java.nio.file.Files.createTempDirectory("replay_t9").toString
    Replay.writeChunks(events, "ts", dir, 3)
    val q = latestValueStream(Replay.readStream(spark, events, dir))
      .writeStream.format("memory").queryName("t_t9").outputMode(OutputMode.Complete())
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("t_t9").orderBy("user_id").collect().toSeq
    val want = latestValueBatch(events).orderBy("user_id").collect().toSeq
    assert(got == want)
  }

  test("T9 state survives a checkpointed restart (state-store recovery)") {
    val events = Engine.Tables(spark, Sf0001).events
    val dir = java.nio.file.Files.createTempDirectory("replay_ck").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt_t9").toString
    Replay.writeChunks(events, "ts", dir, 4)
    // phase 1: consume chunks 0-3, then MORE data arrives while down
    val view = new java.util.concurrent.ConcurrentHashMap[Long, (java.sql.Timestamp, Double)]()
    def start() = latestValueStream(Replay.readStream(spark, events, dir))
      .writeStream.outputMode(OutputMode.Update())
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.collect().foreach { r =>
          view.put(r.getLong(0), (r.getTimestamp(1), r.getDouble(2)))
        }
        ()
      }.start()
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // late chunk: re-chunk a disjoint tail into new files (simulate arrivals)
    val tail = events.orderBy(col("ts").desc).limit(500)
    tail.coalesce(1).write.mode("overwrite").parquet(s"$dir/chunk_9")
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val want = latestValueBatch(events).collect()
      .map(r => r.getLong(0) -> (r.getTimestamp(1), r.getDouble(2))).toMap
    assert(view.asScala.toMap == want,
      "restarted stateful agg must continue from checkpointed state")
  }

  test("X1+X2 stream == batch on a charge/discharge ramp (ref ups math)") {
    def r(s: Int, ma: Double, pct: Double) =
      UpsReading(1L, new Timestamp(1700000000000L + s * 1000L), ma, pct)
    // discharge ramp, flip to charging, flip back
    val data = Seq(r(0, -100, 90), r(10, -100, 80), r(20, -100, 70),
      r(30, 50, 70), r(40, 50, 75), r(50, -100, 75), r(60, -100, 65))

    val input = MemoryStream[UpsReading](spark)
    val q = upsDerivedStream(input.toDS())
      .writeStream.format("memory").queryName("t_x12").outputMode(OutputMode.Append())
      .start()
    try {
      data.grouped(2).foreach { g => input.addData(g); q.processAllAvailable() }
    } finally q.stop()
    val got = spark.table("t_x12").as[UpsDerived].collect()
      .sortBy(_.ts.getTime).toSeq
    val want = upsDerivedBatch(data.toDS()).as[UpsDerived].collect()
      .sortBy(_.ts.getTime).toSeq
    assert(got == want)
    // spot-check the reference formula at t=10: rate=(90-80)/(10+1)
    val atT10 = got(1)
    assert(math.abs(atT10.batt_use_per_sec.get - 10.0 / 11.0) < 1e-9)
  }

  test("X3 watchdog emits sentinel 888.8 after processing-time timeout") {
    // NOTE: with ProcessingTimeTimeout the engine keeps planning no-data
    // batches to fire timeouts, so processAllAvailable never quiesces —
    // pace with a real trigger and poll the sink with a deadline instead.
    val input = MemoryStream[Reading](spark)
    val q = stalenessWatchdog(input.toDS(), toleranceMs = 500)
      .writeStream.format("memory").queryName("t_x3").outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("200 milliseconds"))
      .start()
    def pollUntil(deadlineMs: Long)(p: Seq[WatchOut] => Boolean): Seq[WatchOut] = {
      val end = System.currentTimeMillis() + deadlineMs
      var rows = Seq.empty[WatchOut]
      while (System.currentTimeMillis() < end && !p(rows)) {
        Thread.sleep(100)
        rows = spark.table("t_x3").as[WatchOut].collect().toSeq
      }
      rows
    }
    try {
      input.addData(Reading("h0", new Timestamp(1700000000000L), 21.5))
      val fresh = pollUntil(10000)(_.contains(WatchOut("h0", 21.5, stale = false)))
      assert(fresh.contains(WatchOut("h0", 21.5, stale = false)), s"got $fresh")
      // no further h0 updates: tolerance (500 ms) elapses -> sentinel
      val stale = pollUntil(15000)(_.contains(WatchOut("h0", 888.8, stale = true)))
      assert(stale.contains(WatchOut("h0", 888.8, stale = true)),
        s"expected sentinel emission, got $stale")
    } finally q.stop()
  }
}

class StreamingDedupSpec extends SparkTestBase {
  import graft.Engine
  import graft.operators.Dedup
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
  import org.apache.spark.sql.streaming.OutputMode
  import spark.implicits._

  test("row-wise MinHash signature == shuffled groupBy signature, bit-exact") {
    val docs = Engine.Tables(spark, Sf0001).documents
    val a = Dedup.minhashSignature(docs, 3, 16).orderBy("doc_id").collect().toSeq
    val b = Dedup.minhashSignatureRowwise(docs, 3, 16).orderBy("doc_id").collect().toSeq
    assert(a == b, "per-row signature must match the exploded/aggregated form")
  }

  test("streaming near-dup candidates over a replay == batch candidate set (E2 streaming)") {
    withConf(RocksDbStateStore) {
      val docs = Engine.Tables(spark, Sf0001).documents
      val want = Dedup.minhashCandidates(docs).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(want.nonEmpty, "testdata must contain candidate pairs")

      val input = MemoryStream[(Long, String)](spark)
      val stream = StreamingDedup.minhashCandidatesStream(
        input.toDF().toDF("doc_id", "text"))
      val q = stream.writeStream.format("memory").queryName("t_sdedup")
        .outputMode(OutputMode.Append()).start()
      try {
        // replay the corpus in three arrival waves: candidate pairs must not
        // depend on which micro-batch introduced each member
        val rows = docs.select("doc_id", "text").collect()
          .map(r => (r.getLong(0), r.getString(1))).toSeq
        rows.grouped(math.max(1, rows.size / 3)).foreach { chunk =>
          input.addData(chunk); q.processAllAvailable()
        }
        val got = spark.table("t_sdedup").as[StreamingDedup.CandPair].collect()
          .map(p => (p.da, p.db)).toSet
        assert(got == want,
          s"stream candidates diverged: missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
      } finally q.stop()
    }
  }

  test("streaming MIN-ID survivor == batch under multi-partition, NON-id-ordered arrival (r16)") {
    withConf(RocksDbStateStore) {
      // dup groups h1 {2,7,9} / h2 {5,6} / singleton h3 {11} / two refused
      // (null-hash) rows {4,13} that must stay singletons, never merge
      val batchDf = Seq((7L, "h1"), (2L, "h1"), (9L, "h1"), (5L, "h2"),
        (6L, "h2"), (11L, "h3"), (13L, null.asInstanceOf[String]), (4L, null.asInstanceOf[String]))
        .toDF("doc_id", "h")
      val want = Dedup.minIdSurvivorByKey(batchDf, "h")
        .filter(col("is_kept") === 1).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(want == Set(2L, 5L, 11L, 13L, 4L))

      val input = MemoryStream[(Long, String)](spark)
      // repartition(5) scatters every wave across partitions: within-batch
      // encounter order is whatever the shuffle produces — the exact shape
      // firstSeenByKey's id-ordered-single-partition contract excludes
      val stream = StreamingDedup.minIdSurvivorStream(
        input.toDF().toDF("doc_id", "h").repartition(5), "h")
      val q = stream.writeStream.format("memory").queryName("t_minid")
        .outputMode(OutputMode.Append()).start()
      try {
        // descending-id waves: every dup group's min arrives in the LAST
        // wave that touches it, so first-seen would keep the WRONG row
        input.addData(Seq((13L, null), (9L, "h1"), (7L, "h1"), (6L, "h2")))
        q.processAllAvailable()
        input.addData(Seq((11L, "h3"), (5L, "h2"), (4L, null)))
        q.processAllAvailable()
        input.addData(Seq((2L, "h1")))
        q.processAllAvailable()
        // append sink holds every improvement; min per key is the survivor
        val fin = spark.table("t_minid").groupBy("key")
          .agg(min("survivor_id").as("s"))
        val got = fin.collect().map(_.getLong(1)).toSet
        assert(got == want,
          s"stream min-id survivors diverged: missing=${want -- got} extra=${got -- want}")
        // the improvement trail must show h1's survivor being REPLACED
        // (7 then 2) — proof the non-ordered case was actually exercised
        val h1Trail = spark.table("t_minid").filter(col("key") === "h1")
          .select("survivor_id").collect().map(_.getLong(0)).toSet
        assert(h1Trail == Set(7L, 2L))
      } finally q.stop()
    }
  }

  test("streaming contamination over a replay == batch contamination (stream-static probe)") {
    val docs = Engine.Tables(spark, Sf0001).documents
    val bench = docs.filter(col("doc_id") % 19 === 3)
    val corpus = docs.filter(col("doc_id") % 19 =!= 3)
    val want = graft.operators.Decontaminate.contamination(corpus, bench, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(want.nonEmpty, "testdata must contain contaminated docs")

    val input = MemoryStream[(Long, String)](spark)
    val stream = graft.operators.Decontaminate.contamination(
      input.toDF().toDF("doc_id", "text"), bench, 5)
    val q = stream.writeStream.format("memory").queryName("t_contam")
      .outputMode(OutputMode.Update()).start()
    try {
      val rows = corpus.select("doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      rows.grouped(math.max(1, rows.size / 3)).foreach { chunk =>
        input.addData(chunk); q.processAllAvailable()
      }
      // update-mode sink appends each refinement; counts only grow, so the
      // max per doc is the final state
      val got = spark.table("t_contam").groupBy("doc_id")
        .agg(max("n_hits").as("n_hits")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want,
        s"stream contamination diverged: missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    } finally q.stop()
  }

  test("streaming NORMALIZED contamination over a replay == batch (the fold " +
    "is one more stateless projection; stream-static probe unchanged)") {
    val docs = Engine.Tables(spark, Sf0001).documents
    val bench = docs.filter(col("doc_id") % 19 === 3)
    val corpus = docs.filter(col("doc_id") % 19 =!= 3)
    val want = graft.operators.Decontaminate.contaminationNormalized(corpus, bench, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(want.nonEmpty)
    val input = MemoryStream[(Long, String)](spark)
    val stream = graft.operators.Decontaminate.contaminationNormalized(
      input.toDF().toDF("doc_id", "text"), bench, 5)
    val q = stream.writeStream.format("memory").queryName("t_contam_norm")
      .outputMode(OutputMode.Update()).start()
    try {
      val rows = corpus.select("doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      rows.grouped(math.max(1, rows.size / 3)).foreach { chunk =>
        input.addData(chunk); q.processAllAvailable()
      }
      val got = spark.table("t_contam_norm").groupBy("doc_id")
        .agg(max("n_hits").as("n_hits")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want,
        s"stream normalized contamination diverged: missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    } finally q.stop()
  }

  test("streaming bloom contamination over a replay == batch (frozen sketch, stream-static verify)") {
    val docs = Engine.Tables(spark, Sf0001).documents
    val bench = docs.filter(col("doc_id") % 19 === 3)
    val corpus = docs.filter(col("doc_id") % 19 =!= 3)
    val want = graft.operators.Decontaminate.contamination(corpus, bench, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val input = MemoryStream[(Long, String)](spark)
    // the sketch is FIT on the static benchmark at plan construction (a
    // driver-side build, like the frozen quantile threshold); the stream
    // only ever sees the codegen probe + a stream-static verify join
    val stream = graft.operators.Decontaminate.contaminationBloom(
      input.toDF().toDF("doc_id", "text"), bench, 5)
    val q = stream.writeStream.format("memory").queryName("t_contam_bloom")
      .outputMode(OutputMode.Update()).start()
    try {
      val rows = corpus.select("doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      rows.grouped(math.max(1, rows.size / 3)).foreach { chunk =>
        input.addData(chunk); q.processAllAvailable()
      }
      val got = spark.table("t_contam_bloom").groupBy("doc_id")
        .agg(max("n_hits").as("n_hits")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want,
        s"bloom stream diverged: missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    } finally q.stop()
  }

  test("streaming canonical-URL dedup over an id-ordered replay == batch survivors") {
    // dedupByCanonicalStream keeps the FIRST row per canonical key; under
    // an id-ordered replay that is exactly the batch form's min-id
    // survivor set, including across micro-batch boundaries (a wave-2
    // spelling of a wave-1 page must be dropped by carried dedup state)
    val docs = graft.Engine.Tables(spark, Sf0001).documents
    val urls = graft.operators.UrlOps.syntheticUrlCorpus(docs)
    val want = graft.operators.UrlOps.dedupByCanonical(urls, "doc_id", "url")
      .filter(col("is_kept") === 1)
      .select("doc_id", "canonical_url").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

    val input = MemoryStream[(Long, String)](spark)
    val q = graft.operators.UrlOps.dedupByCanonicalStream(
        input.toDF().toDF("doc_id", "url"), "doc_id", "url")
      .select("doc_id", "canonical_url")
      .writeStream.format("memory").queryName("t_urldedup")
      .outputMode(OutputMode.Append()).start()
    try {
      val rows = urls.select("doc_id", "url").orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      // waves of 3 deliberately split each 4-doc spelling group across
      // micro-batches
      rows.grouped(3).foreach { chunk =>
        input.addData(chunk); q.processAllAvailable()
      }
      val got = spark.table("t_urldedup").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == want,
        s"stream dedup diverged: missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    } finally q.stop()
  }

  test("streaming pixel dedup over an id-ordered replay == batch survivors " +
    "(real decode in-flight, dedup state across micro-batches)") {
    val docs = graft.Engine.Tables(spark, Sf0001).documents.limit(40)
    val media = graft.operators.ImageDedup.syntheticDupImageCorpus(docs)
    val want = graft.operators.ImageDedup.dedupByPixels(media)
      .filter(col("is_kept") === 1).select("doc_id").collect()
      .map(_.getLong(0)).toSet

    val input = MemoryStream[(Long, Array[Byte])](spark)
    val q = graft.operators.ImageDedup.dedupByPixelsStream(
        input.toDF().toDF("doc_id", "payload"))
      .select("doc_id")
      .writeStream.format("memory").queryName("t_pixdedup")
      .outputMode(OutputMode.Append()).start()
    try {
      val rows = media.select("doc_id", "payload").orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getAs[Array[Byte]]("payload"))).toSeq
      // waves of 3 split each 4-spelling group across micro-batches: the
      // dedup state must carry a wave-1 hash into wave 2
      rows.grouped(3).foreach { chunk =>
        input.addData(chunk); q.processAllAvailable()
      }
      val got = spark.table("t_pixdedup").collect().map(_.getLong(0)).toSet
      assert(got == want,
        s"stream pixel dedup diverged: missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    } finally q.stop()
  }

  test("streaming video frame dedup over an id-ordered replay == batch survivors " +
    "(container walk + frame decode in-flight, dedup state across micro-batches)") {
    val docs = graft.Engine.Tables(spark, Sf0001).documents.limit(24)
    val media = graft.operators.VideoDedup.syntheticDupVideoCorpus(docs)
    val want = graft.operators.VideoDedup.dedupByFrames(media)
      .filter(col("is_kept") === 1).select("doc_id").collect()
      .map(_.getLong(0)).toSet

    val input = MemoryStream[(Long, Array[Byte])](spark)
    val q = graft.operators.VideoDedup.dedupByFramesStream(
        input.toDF().toDF("doc_id", "payload"))
      .select("doc_id")
      .writeStream.format("memory").queryName("t_viddedup")
      .outputMode(OutputMode.Append()).start()
    try {
      val rows = media.select("doc_id", "payload").orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getAs[Array[Byte]]("payload"))).toSeq
      // waves of 3 split each 4-spelling group across micro-batches: the
      // dedup state must carry a wave-1 content hash into wave 2
      rows.grouped(3).foreach { chunk =>
        input.addData(chunk); q.processAllAvailable()
      }
      val got = spark.table("t_viddedup").collect().map(_.getLong(0)).toSet
      assert(got == want,
        s"stream video dedup diverged: missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    } finally q.stop()
  }

  test("streaming crawl media-dedup over an id-ordered replay == batch survivors " +
    "(triage + routed decode in-flight, ONE dedup state across modalities)") {
    val docs = graft.Engine.Tables(spark, Sf0001).documents.limit(24)
    val media = graft.operators.Multimodal.mixedDupMediaCorpus(docs)
    val want = graft.queries.Capstones.crawlMediaDedup(media)
      .filter(col("is_kept") === 1).select("doc_id", "kind").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

    val input = MemoryStream[(Long, Array[Byte])](spark)
    val q = graft.queries.Capstones.crawlMediaDedupStream(
        input.toDF().toDF("doc_id", "payload"))
      .select("doc_id", "kind")
      .writeStream.format("memory").queryName("t_crawldedup")
      .outputMode(OutputMode.Append()).start()
    try {
      val rows = media.select("doc_id", "payload").orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getAs[Array[Byte]]("payload"))).toSeq
      // waves of 3 split each 4-spelling group across micro-batches AND
      // across modality boundaries: one dropDuplicates state carries all
      // three kinds' keys
      rows.grouped(3).foreach { chunk =>
        input.addData(chunk); q.processAllAvailable()
      }
      val got = spark.table("t_crawldedup").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == want,
        s"stream crawl dedup diverged: missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    } finally q.stop()
  }

  test("streaming MIN-ID crawl dedup over a REVERSED replay == batch survivors " +
    "(arbitrary arrival: each dup group's min-id spelling arrives LAST, r16)") {
    withConf(RocksDbStateStore) {
      val docs = graft.Engine.Tables(spark, Sf0001).documents.limit(24)
      val media = graft.operators.Multimodal.mixedDupMediaCorpus(docs)
      val want = graft.queries.Capstones.crawlMediaDedup(media)
        .filter(col("is_kept") === 1).select("doc_id").collect()
        .map(_.getLong(0)).toSet

      val input = MemoryStream[(Long, Array[Byte])](spark)
      val q = graft.queries.Capstones.crawlMediaDedupStreamMinId(
          input.toDF().toDF("doc_id", "payload"))
        .writeStream.format("memory").queryName("t_crawlminid")
        .outputMode(OutputMode.Append()).start()
      try {
        // DESCENDING id replay: the batch survivor (min id) of every dup
        // group is the last spelling to arrive — firstSeenByKey would keep
        // the max-id row here, which is exactly the contract gap the min-id
        // twin closes
        val rows = media.select("doc_id", "payload").orderBy(col("doc_id").desc)
          .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]]("payload"))).toSeq
        rows.grouped(3).foreach { chunk =>
          input.addData(chunk); q.processAllAvailable()
        }
        val got = spark.table("t_crawlminid").groupBy("key")
          .agg(min("survivor_id").as("s")).collect().map(_.getLong(1)).toSet
        assert(got == want,
          s"reversed-replay min-id crawl dedup diverged: missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
      } finally q.stop()
    }
  }

  test("streaming PII scrub over a replay == batch (stateless projection)") {
    val batch = Seq(
      (1L, "mail a@b.co now"), (2L, "host 10.0.0.1"), (3L, "clean"))
      .toDF("doc_id", "text")
    val want = graft.operators.TextAnalysis.piiScrub(batch)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

    val input = MemoryStream[(Long, String)](spark)
    val q = graft.operators.TextAnalysis.piiScrub(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("t_pii")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(Seq((1L, "mail a@b.co now"), (2L, "host 10.0.0.1")))
      q.processAllAvailable()
      input.addData(Seq((3L, "clean")))
      q.processAllAvailable()
      val got = spark.table("t_pii").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(got == want)
    } finally q.stop()
  }

  test("streaming LM scoring against a frozen unigram LM == batch nll") {
    val docs = Engine.Tables(spark, Sf0001).documents
    // freeze the LM on the batch corpus (the clean-reference fit), then
    // score the same docs arriving as a stream — stream-static term join,
    // one streaming aggregation, totals fixed at plan construction
    val lm = graft.operators.LmScore.fitUnigram(docs)
    val want = graft.operators.LmScore.nll(docs, lm).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    val input = MemoryStream[(Long, String)](spark)
    val q = graft.operators.LmScore.nllStream(input.toDF().toDF("doc_id", "text"), lm)
      .writeStream.format("memory").queryName("t_lm_nll")
      .outputMode(OutputMode.Update()).start()
    try {
      val rows = docs.select("doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      rows.grouped(math.max(1, rows.size / 3)).foreach { chunk =>
        input.addData(chunk); q.processAllAvailable()
      }
      // each doc arrives whole in one chunk, so its group finalizes in that
      // micro-batch; the last update per doc is the final score
      val got = spark.table("t_lm_nll").groupBy("doc_id")
        .agg(max(struct(col("n_tok"), col("nll"))).as("s"))
        .select(col("doc_id"), col("s.n_tok"), col("s.nll")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == want,
        s"stream diverged: missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    } finally q.stop()
  }

  test("streaming sequence packing over an ordered replay == batch packSharded") {
    withConf(RocksDbStateStore) {
      val docs = Engine.Tables(spark, Sf0001).documents
        .select(col("doc_id"), graft.operators.TextAnalysis.tokenCount(col("text")).as("n_tok"))
        .withColumn("shard", col("doc_id") % 4)
      val want = graft.operators.SeqPack.packSharded(docs, "shard", "doc_id", "n_tok", 2048L)
        .select("shard", "doc_id", "bin").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(want.map(_._3).max > 0, "corpus must span multiple bins")

      val input = MemoryStream[(Long, Long, Long)](spark)
      val stream = StreamingSeqPack.packStream(
        input.toDF().toDF("shard", "doc_id", "n_tok"), 2048L)
      val q = stream.toDF().writeStream.format("memory").queryName("t_spack")
        .outputMode(OutputMode.Append()).start()
      try {
        // id-ordered arrival in three waves: packing is incremental, no
        // repack of earlier waves may occur
        val rows = docs.select("shard", "doc_id", "n_tok").orderBy("doc_id").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
        rows.grouped(math.max(1, rows.size / 3)).foreach { chunk =>
          input.addData(chunk); q.processAllAvailable()
        }
        val got = spark.table("t_spack").collect()
          .map(r => (r.getAs[Long]("shard"), r.getAs[Long]("doc_id"), r.getAs[Long]("bin"))).toSet
        assert(got == want,
          s"stream packing diverged: missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
      } finally q.stop()
    }
  }

  test("streaming split-packing over an ordered replay == batch packSplitSharded (qe11d)") {
    withConf(RocksDbStateStore) {
      val docs = Engine.Tables(spark, Sf0001).documents
        .select(col("doc_id"), graft.operators.TextAnalysis.tokenCount(col("text")).as("n_tok"))
        .withColumn("shard", col("doc_id") % 4)
      val want = graft.operators.SeqPack
        .packSplitSharded(docs, "shard", "doc_id", "n_tok", 2048L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("seg_idx"),
          r.getAs[Long]("bin"), r.getAs[Long]("n_tok"))).toSet
      assert(want.exists(_._3 > 0), "corpus must contain at least one straddling doc")

      val input = MemoryStream[(Long, Long, Long)](spark)
      val stream = StreamingSeqPack.packSplitStream(
        input.toDF().toDF("shard", "doc_id", "n_tok"), 2048L)
      val q = stream.toDF().writeStream.format("memory").queryName("t_spsplit")
        .outputMode(OutputMode.Append()).start()
      try {
        val rows = docs.select("shard", "doc_id", "n_tok").orderBy("doc_id").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
        rows.grouped(math.max(1, rows.size / 3)).foreach { chunk =>
          input.addData(chunk); q.processAllAvailable()
        }
        val got = spark.table("t_spsplit").collect()
          .map(r => (r.getAs[Long]("shard"), r.getAs[Long]("doc_id"), r.getAs[Long]("seg_idx"),
            r.getAs[Long]("bin"), r.getAs[Long]("n_tok"))).toSet
        assert(got == want,
          s"stream split-packing diverged: missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
      } finally q.stop()
    }
  }

  test("streaming leakage audit over a replay == batch overlapFraction") {
    // the qe26b audit run in-flight: the train-split shingle set is the
    // STATIC side of a stream-static left join (no join state accumulates);
    // the only streaming state is the per-doc (n_sh, n_leaked) counts
    val docs = Engine.Tables(spark, Sf0001).documents
    val sp = graft.operators.Sampling.splitByHash(
      docs.select("doc_id"), "doc_id",
      Seq("train" -> 80, "val" -> 10, "test" -> 10))
    val withSplit = docs.join(sp, "doc_id")
    val test_ = withSplit.filter(col("split") === "test")
    val train = withSplit.filter(col("split") === "train")
    val want = graft.operators.Decontaminate.overlapFraction(test_, train, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    val input = MemoryStream[(Long, String)](spark)
    val stream = graft.operators.Decontaminate.overlapFraction(
      input.toDF().toDF("doc_id", "text"), train, 5)
    val q = stream.writeStream.format("memory").queryName("t_leak")
      .outputMode(OutputMode.Update()).start()
    try {
      val rows = test_.select("doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      rows.grouped(math.max(1, rows.size / 3)).foreach { chunk =>
        input.addData(chunk); q.processAllAvailable()
      }
      // counts only grow as updates refine: max per doc is the final state
      val got = spark.table("t_leak").groupBy("doc_id")
        .agg(max("n_sh").as("n_sh"), max("n_leaked").as("n_leaked")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == want,
        s"stream leakage diverged: missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    } finally q.stop()
  }

  test("streaming stopword ratio against a frozen stopword list == batch") {
    // qe38 in-flight: the fit half freezes on the batch corpus; the apply
    // half is a stream-static broadcast join + ONE aggregation, so the
    // same function body runs unchanged on the replay
    val docs = Engine.Tables(spark, Sf0001).documents
    val stop = graft.operators.TextAnalysis.stopwordFit(docs, 20)
    val want = graft.operators.TextAnalysis.stopwordRatio(docs, stop).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet

    val input = MemoryStream[(Long, String)](spark)
    val q = graft.operators.TextAnalysis.stopwordRatio(
        input.toDF().toDF("doc_id", "text"), stop)
      .writeStream.format("memory").queryName("t_stopword")
      .outputMode(OutputMode.Update()).start()
    try {
      val rows = docs.select("doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      rows.grouped(math.max(1, rows.size / 3)).foreach { chunk =>
        input.addData(chunk); q.processAllAvailable()
      }
      // docs arrive whole per chunk: the max-n_tok update is the final one
      val got = spark.table("t_stopword").groupBy("doc_id")
        .agg(max(struct(col("n_tok"), col("n_stop"), col("stop_ratio"))).as("s"))
        .select(col("doc_id"), col("s.n_tok"), col("s.n_stop"), col("s.stop_ratio"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(got == want,
        s"stream stopword diverged: missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    } finally q.stop()
  }

  test("streaming chunk + entropy replay == batch (stateless per-row transforms)") {
    // qe36/qe37 in-flight: both are pure projections/explodes, so the
    // SAME operator bodies run unchanged on a stream with Append mode and
    // no state store at all
    val docs = Engine.Tables(spark, Sf0001).documents
    val wantChunks = graft.operators.TextAnalysis.chunk(docs, 64, 48).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    val wantEnt = graft.operators.TextAnalysis.tokenEntropy(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet

    val input = MemoryStream[(Long, String)](spark)
    val sdocs = input.toDF().toDF("doc_id", "text")
    val qc = graft.operators.TextAnalysis.chunk(sdocs, 64, 48)
      .writeStream.format("memory").queryName("t_chunk")
      .outputMode(OutputMode.Append()).start()
    val qe = graft.operators.TextAnalysis.tokenEntropy(sdocs)
      .writeStream.format("memory").queryName("t_entropy")
      .outputMode(OutputMode.Append()).start()
    try {
      val rows = docs.select("doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      rows.grouped(math.max(1, rows.size / 3)).foreach { chunk =>
        input.addData(chunk); qc.processAllAvailable(); qe.processAllAvailable()
      }
      val gotChunks = spark.table("t_chunk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
      val gotEnt = spark.table("t_entropy").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(gotChunks == wantChunks, "streamed chunks diverged from batch")
      assert(gotEnt == wantEnt, "streamed entropy diverged from batch")
    } finally { qc.stop(); qe.stop() }
  }

  test("streaming increment vs frozen MinHash band index == batch candidates") {
    // qe43 in-flight: the band index is the STATIC side; the increment
    // band-hashes per row (seeded-deterministic signatures) and the only
    // streaming state is the pair dedup
    val docs = Engine.Tables(spark, Sf0001).documents
    val old = docs.filter(col("doc_id") % 10 =!= 7)
    val inc = docs.filter(col("doc_id") % 10 === 7)
    val index = graft.operators.Dedup.minhashIndex(old).localCheckpoint()
    val want = graft.operators.Dedup.minhashCandidatesAgainst(inc, index)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val input = MemoryStream[(Long, String)](spark)
    val q = graft.operators.Dedup.minhashCandidatesAgainst(
        input.toDF().toDF("doc_id", "text"), index)
      .writeStream.format("memory").queryName("t_inc_fuzzy")
      .outputMode(OutputMode.Append()).start()
    try {
      val rows = inc.select("doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      rows.grouped(math.max(1, rows.size / 3)).foreach { chunk =>
        input.addData(chunk); q.processAllAvailable()
      }
      val got = spark.table("t_inc_fuzzy").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want,
        s"streamed candidates diverged: missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    } finally q.stop()
  }

  test("streaming containment probes against a frozen shingle index == batch (qe58d apply)") {
    // the frozen containment apply in flight: probes derive row-wise
    // (stateless projection), the index join is stream-static, and the
    // only state is the keyed (da, db) hit count — complete mode
    val docs = Engine.Tables(spark, Sf0001).documents.select("doc_id", "text")
    val inc = docs.filter(col("doc_id") % 2 === 1)
    val index = graft.operators.Dedup.containmentIndexFit(
      docs.filter(col("doc_id") % 2 === 0), 3).localCheckpoint()
    val want = graft.operators.Dedup.containmentCandidatesFrozen(inc, index, 3, 64, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    val input = MemoryStream[(Long, String)](spark)
    val q = graft.operators.Dedup.containmentCandidatesFrozen(
        input.toDF().toDF("doc_id", "text"), index, 3, 64, 0.5)
      .writeStream.format("memory").queryName("t_cont_frozen")
      .outputMode(OutputMode.Complete()).start()
    try {
      val rows = inc.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      rows.grouped(math.max(1, rows.size / 3)).foreach { chunk =>
        input.addData(chunk); q.processAllAvailable()
      }
      val got = spark.table("t_cont_frozen").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == want,
        s"stream containment diverged: missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    } finally q.stop()
  }

  test("streaming zscore gate against frozen stats == batch (stateless projection)") {
    val docs = Engine.Tables(spark, Sf0001).documents
      .select("doc_id", "source", "n_chars")
    val stats = graft.operators.ZScore.fitStats(docs, "source", "n_chars")
    val want = graft.operators.ZScore.gate(docs, "source", "n_chars", 2.0)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet

    val input = MemoryStream[(Long, String, Long)](spark)
    val q = graft.operators.ZScore.gateFrozen(
        input.toDF().toDF("doc_id", "source", "n_chars"),
        stats, "source", "n_chars", 2.0)
      .writeStream.format("memory").queryName("t_zscore")
      .outputMode(OutputMode.Append()).start()
    try {
      val rows = docs.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      rows.grouped(math.max(1, rows.size / 3)).foreach { chunk =>
        input.addData(chunk); q.processAllAvailable()
      }
      val got = spark.table("t_zscore").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(got == want,
        s"stream zscore diverged: missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    } finally q.stop()
  }

  test("streaming IVF cell assignment against frozen centroids == batch (map-only projection)") {
    // the frozen-quantizer apply path (qe3d/qe7d) is a pure projection, so
    // it is streaming-legal as-is: vectors arriving on a stream assign to
    // the same cells the batch form computes — the ingest-time shape of
    // cluster-blocked dedup/ANN
    val emb = Engine.Tables(spark, Sf0001).embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val (_, cents) = graft.operators.IvfIndex.build(emb, "vec_id", "embedding", 8)
    val want = graft.operators.IvfIndex.assignInline(emb, cents, "embedding")
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap

    val input = MemoryStream[(Long, Seq[Double])](spark)
    val q = graft.operators.IvfIndex.assignInline(
        input.toDF().toDF("vec_id", "embedding"), cents, "embedding")
      .select("vec_id", "cell")
      .writeStream.format("memory").queryName("t_ivf_assign")
      .outputMode(OutputMode.Append()).start()
    try {
      val rows = emb.collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
      rows.grouped(math.max(1, rows.size / 3)).foreach { chunk =>
        input.addData(chunk); q.processAllAvailable()
      }
      val got = spark.table("t_ivf_assign").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(got == want, s"stream assignment diverged on ${(got.toSet -- want.toSet).take(3)}")
    } finally q.stop()
  }

  test("streaming boilerplate strip against a frozen segment set == batch (stream-static anti join)") {
    val docs = Engine.Tables(spark, Sf0001).documents.select("doc_id", "text")
    val boiler = graft.operators.SegmentDedup.fitBoilerplate(docs, 8, 3)
    val want = graft.operators.SegmentDedup.stripBoilerplateFrozen(docs, boiler, 8)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

    val input = MemoryStream[(Long, String)](spark)
    // complete mode: the per-doc reassembly aggregation re-emits the full
    // state each batch (at scale a crawl feed delivers documents whole, so
    // an event-time watermark + append is the production form)
    val q = graft.operators.SegmentDedup.stripBoilerplateFrozen(
        input.toDF().toDF("doc_id", "text"), boiler, 8)
      .writeStream.format("memory").queryName("t_boiler")
      .outputMode(OutputMode.Complete()).start()
    try {
      val rows = docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      rows.grouped(math.max(1, rows.size / 3)).foreach { chunk =>
        input.addData(chunk); q.processAllAvailable()
      }
      val got = spark.table("t_boiler").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(got == want,
        s"stream strip diverged: missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    } finally q.stop()
  }

  test("streaming dup-span card against a frozen gram set == batch (stream-static flag join)") {
    val docs = Engine.Tables(spark, Sf0001).documents.select("doc_id", "text")
    val grams = graft.operators.Dedup.dupGramFit(docs, 3)
    val want = graft.operators.Dedup.dupSpansFrozen(docs, grams, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getLong(5))).toSet

    val input = MemoryStream[(Long, String)](spark)
    // complete mode: the per-doc span aggregation re-emits full state each
    // batch; shingling is stateless and the gram join is stream-static
    val q = graft.operators.Dedup.dupSpansFrozen(
        input.toDF().toDF("doc_id", "text"), grams, 3)
      .writeStream.format("memory").queryName("t_dupspan")
      .outputMode(OutputMode.Complete()).start()
    try {
      val rows = docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      rows.grouped(math.max(1, rows.size / 3)).foreach { chunk =>
        input.addData(chunk); q.processAllAvailable()
      }
      val got = spark.table("t_dupspan").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
          r.getLong(4), r.getLong(5))).toSet
      assert(got == want,
        s"stream dup-span card diverged: missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    } finally q.stop()
  }

  test("streaming CDC chunking replay == batch (stateless per-row explode)") {
    val docs = Engine.Tables(spark, Sf0001).documents.select("doc_id", "text")
    val want = graft.operators.TextAnalysis.chunkCdc(docs, 16).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet

    val input = MemoryStream[(Long, String)](spark)
    // append mode: chunking carries no state at all — each doc's chunks
    // emit the moment the doc arrives
    val q = graft.operators.TextAnalysis.chunkCdc(
        input.toDF().toDF("doc_id", "text"), 16)
      .writeStream.format("memory").queryName("t_cdc")
      .outputMode(OutputMode.Append()).start()
    try {
      val rows = docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      rows.grouped(math.max(1, rows.size / 3)).foreach { chunk =>
        input.addData(chunk); q.processAllAvailable()
      }
      val got = spark.table("t_cdc").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
      assert(got == want,
        s"stream CDC diverged: missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    } finally q.stop()
  }

  test("streaming media triage replay == batch (stateless triple-parser projection)") {
    // the multimodal ingest-dispatch stage: identical kind/metadata rows
    // whether the mixed corpus arrives as a table or as micro-batches
    val media = graft.operators.Multimodal.mixedMediaCorpus(
      Engine.Tables(spark, Sf0001).documents).select("doc_id", "payload", "mime")
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getString(1),
      Option(r.get(2)), Option(r.get(3)), Option(r.get(4)), Option(r.get(5)),
      Option(r.get(6)))
    val want = graft.operators.Multimodal.mediaTriage(media).collect().map(key).toSet
    assert(want.nonEmpty && want.exists(_._2 == "image") &&
      want.exists(_._2 == "audio") && want.exists(_._2 == "video"))

    val input = MemoryStream[(Long, Array[Byte], String)](spark)
    val q = graft.operators.Multimodal.mediaTriage(
        input.toDF().toDF("doc_id", "payload", "mime"))
      .writeStream.format("memory").queryName("t_triage")
      .outputMode(OutputMode.Append()).start()
    try {
      val rows = media.collect()
        .map(r => (r.getLong(0), r.getAs[Array[Byte]](1), r.getString(2))).toSeq
      rows.grouped(math.max(1, rows.size / 3)).foreach { chunk =>
        input.addData(chunk); q.processAllAvailable()
      }
      val got = spark.table("t_triage").collect().map(key).toSet
      assert(got == want,
        s"stream triage diverged: missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    } finally q.stop()
  }

  test("streaming compressed triage replay == batch (stateless five-parser projection)") {
    // the compressed-container dispatch stage: identical kind/metadata
    // rows whether the mixed corpus arrives as a table or micro-batches
    val media = graft.operators.Multimodal.mixedCompressedCorpus(
      Engine.Tables(spark, Sf0001).documents).select("doc_id", "payload", "mime")
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getString(1),
      Option(r.get(2)), Option(r.get(3)), Option(r.get(4)), Option(r.get(5)),
      Option(r.get(6)), Option(r.get(7)))
    val want = graft.operators.Multimodal.compressedTriage(media)
      .collect().map(key).toSet
    assert(want.nonEmpty && want.exists(_._2 == "audio") &&
      want.exists(_._2 == "video") && !want.exists(_._2 == "unknown"))

    val input = MemoryStream[(Long, Array[Byte], String)](spark)
    val q = graft.operators.Multimodal.compressedTriage(
        input.toDF().toDF("doc_id", "payload", "mime"))
      .writeStream.format("memory").queryName("t_ctriage")
      .outputMode(OutputMode.Append()).start()
    try {
      val rows = media.collect()
        .map(r => (r.getLong(0), r.getAs[Array[Byte]](1), r.getString(2))).toSeq
      rows.grouped(math.max(1, rows.size / 3)).foreach { chunk =>
        input.addData(chunk); q.processAllAvailable()
      }
      val got = spark.table("t_ctriage").collect().map(key).toSet
      assert(got == want,
        s"stream triage diverged: missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    } finally q.stop()
  }

  test("streaming drift card against a frozen vocab == batch (bounded sources x k state)") {
    val docs = Engine.Tables(spark, Sf0001).documents.select("doc_id", "source", "text")
    val vocab = graft.operators.TextAnalysis.vocabFit(docs, 100).localCheckpoint()
    val want = graft.operators.TextAnalysis.driftCard(docs, vocab).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet

    val input = MemoryStream[(Long, String, String)](spark)
    // the STATEFUL half streams: one complete-mode aggregation whose
    // state is bounded by sources x k (the vocab join is stream-static);
    // the tiny fold tail then runs per micro-batch over the upserted
    // counts table — chaining it into the stream would trip the
    // global-watermark correctness check
    val q = graft.operators.TextAnalysis.termCounts(
        input.toDF().toDF("doc_id", "source", "text"), vocab)
      .writeStream.format("memory").queryName("t_drift_counts")
      .outputMode(OutputMode.Complete()).start()
    try {
      val rows = docs.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
      rows.grouped(math.max(1, rows.size / 3)).foreach { chunk =>
        input.addData(chunk); q.processAllAvailable()
      }
      val got = graft.operators.TextAnalysis.driftFromCounts(
          spark.table("t_drift_counts"), vocab).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
      assert(got == want,
        s"stream drift diverged: missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    } finally q.stop()
  }

  test("streaming CDC dup card against a frozen shared-chunk set == batch") {
    val docs = Engine.Tables(spark, Sf0001).documents.select("doc_id", "text")
    val shared = graft.operators.Dedup.cdcSharedFit(docs, 16).localCheckpoint()
    val want = graft.operators.Dedup.cdcDupCardFrozen(docs, shared, 16).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet

    val input = MemoryStream[(Long, String)](spark)
    // complete mode: the per-doc aggregation re-emits full state each
    // batch; chunking is stateless and the flag join is stream-static
    val q = graft.operators.Dedup.cdcDupCardFrozen(
        input.toDF().toDF("doc_id", "text"), shared, 16)
      .writeStream.format("memory").queryName("t_cdc_dup")
      .outputMode(OutputMode.Complete()).start()
    try {
      val rows = docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      rows.grouped(math.max(1, rows.size / 3)).foreach { chunk =>
        input.addData(chunk); q.processAllAvailable()
      }
      val got = spark.table("t_cdc_dup").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(got == want,
        s"stream CDC dup card diverged: missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    } finally q.stop()
  }

  test("streaming qe61 incremental certificate: found-flags replay == batch " +
    "(per-pair recall holds in flight)") {
    // the 23rd replay==batch equivalence (r11 verdict #8): not just the
    // candidate STREAM (asserted above) but the CERTIFICATE FRAME itself —
    // each exact cross-snapshot pair must be marked found by the streamed
    // frozen-band-index probe exactly as the batch qe61 'incremental' path
    // marks it. Same mod-10 split and band-index fit as qe43/qe61.
    val docs = Engine.Tables(spark, Sf0001).documents
    val old = docs.filter(col("doc_id") % 10 =!= 7)
    val inc = docs.filter(col("doc_id") % 10 === 7)
    val index = graft.operators.Dedup.minhashIndex(old).localCheckpoint()
    val exactCross = graft.operators.Dedup.jaccardPairs(docs, 3, 0.5)
      .filter((col("da") % 10 === 7) =!= (col("db") % 10 === 7))
      .localCheckpoint()
    def canon(df: org.apache.spark.sql.DataFrame) = df.select(
      least(col("da"), col("db")).as("da"), greatest(col("da"), col("db")).as("db"))
    val batchCert = graft.operators.Certificates.pairsFound(exactCross,
        canon(graft.operators.Dedup.minhashCandidatesAgainst(inc, index)), "j")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3))).toSet
    // the registered qe61 claim on this data: total per-pair recall
    assert(batchCert.nonEmpty && batchCert.forall(_._3),
      s"batch certificate must find every cross-snapshot pair: $batchCert")

    // streamed: the probe runs per micro-batch; a stream-static inner
    // join against the exact anchor marks pairs found as they arrive
    val input = MemoryStream[(Long, String)](spark)
    val q = canon(graft.operators.Dedup.minhashCandidatesAgainst(
        input.toDF().toDF("doc_id", "text"), index))
      .join(exactCross.select("da", "db"), Seq("da", "db"))
      .writeStream.format("memory").queryName("t_cert_inc")
      .outputMode(OutputMode.Append()).start()
    try {
      val rows = inc.select("doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      rows.grouped(math.max(1, rows.size / 3)).foreach { chunk =>
        input.addData(chunk); q.processAllAvailable()
      }
      val gotFound = spark.table("t_cert_inc").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val wantFound = batchCert.filter(_._3).map(t => (t._1, t._2))
      assert(gotFound == wantFound, s"streamed certificate found-flags diverged: " +
        s"missing=${(wantFound -- gotFound).take(5)} extra=${(gotFound -- wantFound).take(5)}")
    } finally q.stop()
  }
}
