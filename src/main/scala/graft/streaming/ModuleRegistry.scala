package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.Row

/** The reference's module system re-expressed declaratively (SURVEY §1.1):
  * where the reference compiles exactly one module into the binary behind a
  * 6-function C ABI (`src/modules/module.h:14-53`, selection
  * `src/CMakeLists.txt:5-35`), the engine holds a registry of pipeline
  * definitions — a module is data (source + transform + sink), not a build
  * configuration, and any number can run concurrently as independent
  * StreamingQueries.
  */
object ModuleRegistry {

  /** Where a module's samples come from: an MQTT-shaped topic subscription
    * (S6), handled as samples arrive, or a periodic HTTP poll (S5, the hko
    * fetch loop), fetched once per the module's `triggerMs`. */
  sealed trait ModuleSource
  final case class MqttTopic(topic: String) extends ModuleSource
  final case class HttpEndpoint(url: String) extends ModuleSource

  /** A module: where samples come from, how each micro-batch is transformed,
    * where results go (collection/post_collection, declaratively).
    *
    * `triggerMs` is the reference's `collection_event_interval_ms`, which
    * paces only its producers' sampling (`event_loops.c:33-52`). Here it
    * paces only the hko poll; an MQTT-fed module runs a micro-batch as
    * soon as samples land ([[start]]).
    *
    * `broker` (None = spool-only) is the reference's `mqtt.host` settings
    * key (`src/modules/dd/settings-sample.json`): when set to
    * "host:port", [[start]] subscribes the source topic FROM that broker
    * over the real wire (an [[graft.sources.MqttSpoolBridge]] staging
    * into the spool, so offsets/checkpoints are unchanged) and the sink
    * publishes TO it (`mqtt://` writer mode) — the reference's
    * producer→broker→consumer→broker topology. The reference's
    * username/password keys ride the endpoint's userinfo
    * (`user:pass@host:port`, sent as MQTT CONNECT credentials); only
    * ca_file_path remains a seam ([[graft.sources.MqttWireClient]]'s
    * socket factory — this container has no CA material). */
  final case class Module(
      name: String,
      source: ModuleSource,
      transform: DataFrame => DataFrame,
      sinkTopic: String,
      payload: DataFrame => Column,
      triggerMs: Long = 1000L, // hko poll cadence; reference default, global_vars.c:10
      broker: Option[String] = None,
      // publish QoS: dd/ch publish at 1 (producer.c:152-153, ch.c:146-147),
      // hko at 2 (hko.cpp:69-72). QoS applies to wire mode, which runs
      // the real four-way handshake at 2; spool mode records none (K2)
      qos: Int = 1)

  /** The reference's live HKO endpoint (`hko.cpp:98-100`); tests substitute
    * a `file://` URL the way graft-mqtt substitutes the broker. */
  val HkoUrl =
    "https://data.weather.gov.hk/weatherAPI/opendata/weather.php?dataType=rhrread&lang=en"

  private def ddModule(topic: String, sink: String, triggerMs: Long) =
    Module("dd", MqttTopic(topic),
      df => Pipelines.ddConsumer(df).filter(col("parsed")),
      sink,
      df => to_json(struct(df("ts"), df("temp_outdoor_celsius"),
        df("temp_indoor_celsius"), df("rh_outdoor"))), triggerMs)

  private def chModule(topic: String, sink: String, triggerMs: Long) =
    Module("ch", MqttTopic(topic),
      // parse lives in Pipelines.chParse (batch/backfill runs the same
      // code); unparseable samples are SKIPPED like the reference does —
      // to_json over all-null fields would publish the literal "{}"
      df => Pipelines.ch(Pipelines.chParse(df).filter(col("parsed"))),
      sink,
      df => to_json(struct(df("timestamp"), df("temp_celsius"))), triggerMs)

  /** hko runs source-to-sink off the poll source: body → parse/filter →
    * publish, with `fetch_ts` (the actual poll time) as the reference's
    * fetch timestamp rather than an approximated now(). */
  private def hkoModule(url: String, place: String, sink: String, triggerMs: Long) =
    Module("hko", HttpEndpoint(url),
      df => Pipelines.hkoPerDoc(df.withColumnRenamed("body", "doc"), place),
      sink,
      Pipelines.hkoPayloadCol, // the one wire-shape definition
      triggerMs,
      qos = 2) // the reference's hko publishes at QoS 2 (hko.cpp:69-72)

  /** The reference's concrete modules (dd, ch, hko) with their hardcoded
    * defaults; `sample` is the no-op skeleton (`sample.c`). */
  val modules: Map[String, Module] = Seq(
    ddModule("sensors/dd", "sensors/dd_enriched", 1000L),
    chModule("sensors/ch_raw", "sensors/ch", 1000L),
    hkoModule(HkoUrl, "Happy Valley", "sensors/hko", 1000L),
    Module("sample", MqttTopic("sensors/sample"), identity, "sensors/sample_out",
      df => df("payload"))
  ).map(m => m.name -> m).toMap

  /** S7 — load module definitions from a JSON settings tree, mirroring the
    * reference's contract: a required global `collection_event_interval_ms`
    * (`utils.c:25-33`: zero/missing is a config error) and per-module
    * subtrees addressed by JSON pointer (`/dd/mqtt/topic`,
    * `/ch/mqtt/topic`, `/hko/topic` — `producer.c:45-54`, `ch.c:45-53`,
    * `hko.cpp:38-46`; the engine adds `/hko/url` + `/hko/place` for what
    * the reference hardcodes, and sink topics for the consumer side).
    * Only modules present in the tree are returned.
    *
    * Example settings file:
    * {{{
    * { "collection_event_interval_ms": 1000,
    *   "dd":  {"mqtt": {"topic": "sensors/dd"}, "sink_topic": "sensors/dd_enriched"},
    *   "ch":  {"mqtt": {"topic": "sensors/ch_raw"}, "sink_topic": "sensors/ch"},
    *   "hko": {"url": "file:///tmp/rhrread.json", "place": "Happy Valley",
    *           "topic": "sensors/hko"} }
    * }}}
    */
  def fromConfig(path: String): Map[String, Module] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
    def at(ptr: String): Option[String] = {
      val n = root.at(ptr)
      if (n.isMissingNode || n.isNull) None else Some(n.asText())
    }
    val intervalMs = root.at("/collection_event_interval_ms").asLong(0L)
    // the reference treats 0/missing as invalid config (utils.c:29-33)
    require(intervalMs > 0, s"$path: collection_event_interval_ms required and > 0")
    def req(ptr: String): String = at(ptr).getOrElse(
      throw new IllegalArgumentException(s"$path: required config key $ptr missing"))
    // the reference's mqtt.host/username/password keys (dd/ch
    // settings-sample.json): when host is present the module runs against
    // a real broker — port defaults to 1883 (the registered MQTT port)
    // like every broker client does, and credentials ride the endpoint's
    // userinfo (one grammar, MqttCodec.parseEndpoint)
    def endpoint(host: String, port: Option[String],
                 user: Option[String], pass: Option[String]): String = {
      // the userinfo grammar splits the username at the FIRST ':' and
      // the host at the LAST '@' — characters that would mis-parse are
      // refused here with the config key named, never silently mangled
      // into an rc-4 mystery at CONNECT time
      user.foreach(u => require(!u.contains(':') && !u.contains('@'),
        s"mqtt username must not contain ':' or '@', got '$u'"))
      pass.foreach(p => require(!p.contains('@'),
        "mqtt password must not contain '@' (the endpoint userinfo delimiter)"))
      require(user.nonEmpty || pass.isEmpty,
        "mqtt password configured without a username — it would be " +
          "silently ignored; set username too")
      // TRANSPORT-SECURITY DIVERGENCE, called out at config-parse time
      // (not buried at CONNECT): the reference has no port key because
      // mosquitto_connect hardcodes TLS :8883 (mqtt.c:81), so a
      // reference-migrated settings file with credentials lands here on
      // plaintext TCP :1883 — the credentials would cross the network in
      // cleartext. Loud warning rather than refusal: every in-sandbox
      // broker is loopback, and the TLS seam (MqttWireClient's
      // socketFactory, proven in MqttLikeSpec) is a code-level injection
      // the config tree cannot express until ca_file_path is wired.
      if (user.nonEmpty)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"mqtt credentials configured for $host:${port.getOrElse("1883")} " +
            "over plaintext TCP: the reference only ever sends credentials " +
            "over TLS :8883 (mqtt.c:81); CONNECT will carry them in " +
            "cleartext. Wire an SSLSocketFactory into MqttWireClient " +
            "(the tested TLS seam) before pointing this at a real network.")
      val auth = user.fold("")(u => s"$u:${pass.getOrElse("")}@")
      s"$auth$host:${port.getOrElse("1883")}"
    }
    def brokerOf(mod: String): Option[String] =
      at(s"/$mod/mqtt/host").map(h => endpoint(h, at(s"/$mod/mqtt/port"),
        at(s"/$mod/mqtt/username"), at(s"/$mod/mqtt/password")))
    val built = Seq(
      Option.when(root.has("dd"))(ddModule(req("/dd/mqtt/topic"),
        at("/dd/sink_topic").getOrElse("sensors/dd_enriched"), intervalMs)
        .copy(broker = brokerOf("dd"))),
      Option.when(root.has("ch"))(chModule(req("/ch/mqtt/topic"),
        at("/ch/sink_topic").getOrElse("sensors/ch"), intervalMs)
        .copy(broker = brokerOf("ch"))),
      Option.when(root.has("hko"))(hkoModule(
        at("/hko/url").getOrElse(HkoUrl),
        at("/hko/place").getOrElse("Happy Valley"),
        req("/hko/topic"), intervalMs)
        // hko's settings put the broker host directly under /hko
        // (hko/settings-sample.json) — it is the PUBLISH-side broker;
        // the source stays the HTTP poll, so only the sink goes wire
        .copy(broker = at("/hko/host").map(h => endpoint(h, at("/hko/port"),
          at("/hko/username"), at("/hko/password")))))
    ).flatten
    built.map(m => m.name -> m).toMap
  }

  /** Start a module as a streaming query — the engine's `ev_collect_data`
    * loop equivalent. Spool transport by default; with `m.broker` set the
    * source topic is bridged in FROM the broker over the wire (spool as
    * staging, so the DataSourceV2 offset/checkpoint contract is
    * untouched) and the sink publishes TO it.
    *
    * Trigger: an `MqttTopic` module runs micro-batches back to back
    * (`ProcessingTime(0)`, Spark's default; an idle source is re-polled
    * after Spark's polling delay), the reference's consumers handling
    * each message as it arrives (`consumer.cpp:111-145`). An
    * `HttpEndpoint` module polls once per `triggerMs`: the trigger is
    * the poll's only clock, so graft-http's own throttle is off. */
  def start(spark: SparkSession, m: Module, spoolDir: String,
            checkpoint: Option[String]) = {
    val in = m.source match {
      case MqttTopic(topic) =>
        m.broker.foreach { b =>
          // one LIVE bridge per (broker address, spool, topic) per JVM
          // (the tempCaches pattern): restarts reuse the live daemon
          // instead of stacking duplicate subscriptions that would
          // double-write the spool. Keyed WITHOUT credentials, and a
          // live bridge holding DIFFERENT credentials is replaced — a
          // rotated password must reach CONNECT, not silently ride the
          // old session. A terminally failed cached bridge (bad
          // credentials: its loop exits with error set; socket-level
          // outages self-heal via the reconnect loop) is closed and
          // replaced, not reused into silent ingress loss.
          val (h, p, creds) = graft.sources.MqttCodec.parseEndpoint(s"mqtt://$b")
          val key = s"$h:$p|$spoolDir|$topic"
          // the mapping only CONSTRUCTS — bridge construction spawns the
          // daemon thread and returns; the TCP connect happens ON that
          // thread (MqttWireClient defers the socket to connect()), so no
          // blocking I/O runs under the CHM bin lock. The superseded
          // bridge's close() (which joins its thread) runs OUTSIDE too.
          var superseded: graft.sources.MqttSpoolBridge = null
          val br = bridges.compute(key, (_, old) => {
            if (old != null && old.isAlive && old.credentials == creds) old
            else {
              superseded = old
              new graft.sources.MqttSpoolBridge(h, p, spoolDir, topic,
                clientId = s"graft-bridge-${m.name}", credentials = creds)
            }
          })
          if (superseded != null) superseded.close()
          // await OUTSIDE the map lock; a failed handshake must not leak
          // the socket/thread or leave a dead entry to be "reused"
          try br.awaitSubscribed()
          catch { case t: Throwable =>
            br.close(); bridges.remove(key, br); throw t
          }
        }
        spark.readStream.format("graft-mqtt")
          .option("spoolDir", spoolDir).option("topic", topic).load()
      case HttpEndpoint(url) =>
        val r = spark.readStream.format("graft-http")
          .option("url", url).option("minIntervalMs", "0")
        // without a checkpoint the poll cache still needs a stable home —
        // ONE per (module, url) per JVM, not one per start(): repeated
        // restarts in a long-lived driver would otherwise leak a fresh
        // temp directory (and its cached poll bodies) every time
        checkpoint.fold(r.option("cacheDir",
          tempCaches.computeIfAbsent(s"${m.name}|$url", _ =>
            java.nio.file.Files.createTempDirectory(s"graft-http-${m.name}").toString)))(_ => r)
          .load()
    }
    val transformed = m.transform(in)
    // one writer task per topic: publish allocates dense seqs, and a single
    // broker session is the reference's delivery model anyway (mqtt.c)
    val out = transformed.select(m.payload(transformed).as("payload")).coalesce(1)
    val sinkTarget = m.broker.fold(spoolDir)(b => s"mqtt://$b")
    val w: DataStreamWriter[Row] = out.writeStream
      .foreach(new graft.sources.Sinks.MqttLikePublishWriter(sinkTarget, m.sinkTopic, m.qos))
      .outputMode(OutputMode.Append())
      .trigger(m.source match {
        case _: MqttTopic => Trigger.ProcessingTime(0L)
        case _: HttpEndpoint => Trigger.ProcessingTime(m.triggerMs)
      })
    checkpoint.fold(w)(c => w.option("checkpointLocation", c)).start()
  }

  private val tempCaches = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val bridges =
    new java.util.concurrent.ConcurrentHashMap[String, graft.sources.MqttSpoolBridge]()

  /** Start a registered module by name. */
  def start(spark: SparkSession, name: String, spoolDir: String,
            checkpoint: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    val m = modules.getOrElse(name,
      throw new IllegalArgumentException(s"unknown module '$name'; have ${modules.keys.mkString(",")}"))
    start(spark, m, spoolDir, checkpoint)
  }
}
