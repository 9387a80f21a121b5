package graft.sources

import org.apache.spark.sql.{DataFrame, ForeachWriter, Row}
import org.apache.spark.sql.functions._

/** Publish-side operators (SURVEY §2.1 K1–K4).
  *
  * [[MqttLikePublishWriter]] is the K1/K2 MQTT publish as a ForeachWriter:
  * per-partition connection lifecycle (open/process/close) exactly where a
  * real client would connect/publish/disconnect; transport substituted by
  * the spool directory. [[dashboardSink]] is the K3 7-segment/latest-value
  * display as a foreachBatch upsert.
  */
object Sinks {

  /** K1/K2 — MQTT publish at QoS 1/2 (ref `producer.c:152-161`,
    * `hko.cpp:69-72`). Expects a single string column named `payload`.
    *
    * `target` selects the TRANSPORT by URI scheme (r11 verdict #3):
    *  - a plain path is the spool directory (atomic claim-link protocol);
    *  - `mqtt://host:port` opens a real MQTT 3.1.1 socket session per
    *    sink task ([[MqttWireClient]] — connect in open(), publish per
    *    row, disconnect in close(), the reference's mosquitto lifecycle).
    *    Wire mode publishes at the requested QoS 0/1/2 — qos = 2 runs
    *    the full PUBLISH/PUBREC/PUBREL/PUBCOMP handshake per message,
    *    the reference's hko mode (`hko.cpp:69-72`). Sink sessions are
    *    per-task ephemeral (clean session, unique client ids), so wire
    *    QoS 2 is exactly-once per CONNECTION: a whole-task retry replays
    *    the batch as fresh packet ids — at-least-once across retries,
    *    same as the reference's mosquitto session after a process crash.
    *    The engine's end-to-end effective exactly-once remains the
    *    spool's dense offsets + checkpoints.
    *
    * Spool mode publishes every task into the topic's one lane — the
    * reference's one-broker-session model. Correct under concurrency
    * (atomic claims) but contended, so callers run it as one task
    * (`coalesce(1)`). It records no QoS: delivery is exactly-once either
    * way (dense offsets + checkpoints). Each row is one
    * [[MqttLike.publish]], which starts from the JVM's seq hint. */
  class MqttLikePublishWriter(target: String, topic: String, qos: Int)
      extends ForeachWriter[Row] {
    @transient private var wire: MqttWireClient = _
    private def overWire: Boolean = target.startsWith("mqtt://")
    override def open(partitionId: Long, epochId: Long): Boolean = { // connect here
      if (overWire) {
        require(qos >= 0 && qos <= 2, s"MQTT QoS must be 0, 1 or 2, got $qos")
        // the one endpoint grammar (MqttCodec.parseEndpoint, shared with
        // the ModuleRegistry bridge): mqtt://[user:pass@]host:port, with
        // bracketless-IPv6 and empty-port shapes refused descriptively
        val (host, port, creds) = MqttCodec.parseEndpoint(target)
        // the clientId is random: (partitionId, epochId) alone collides
        // across CONCURRENT queries sharing a broker, and two QoS 2
        // sessions with the same clientId share the broker's packet-id
        // dedup state — one sink's in-flight id would swallow the other's
        // distinct message. Sessions are clean/ephemeral, so a
        // non-deterministic id costs nothing. Kept to exactly 23 bytes:
        // spec §3.1.3.1 only obliges servers to accept 1-23 byte ids, and
        // a spec-minimum broker answers longer ones rc 2 on EVERY task
        // retry — deterministic retry exhaustion.
        val nonce = java.util.UUID.randomUUID().toString.replace("-", "").take(20)
        wire = new MqttWireClient(host, port, s"gs-$nonce", creds)
        wire.connect()
      }
      true
    }
    override def process(row: Row): Unit = {
      val payload = row.getAs[String]("payload")
      // a null payload (e.g. to_json over a struct whose fields were all
      // missing) is unpublishable: crashing here would wedge the query
      // forever, because task retries deterministically replay the same
      // batch. Rejection belongs to the upstream validation/dead-letter
      // stage (T11); the sink skips the row like the reference's producer
      // skips an empty reading.
      if (payload != null) {
        if (overWire)
          wire.publish(topic, payload.getBytes(java.nio.charset.StandardCharsets.UTF_8), qos)
        else
          MqttLike.publish(target, topic, payload)
      }
    }
    override def close(errorOrNull: Throwable): Unit = // disconnect here
      if (wire != null) { wire.close(); wire = null }
  }

  /** K3 — latest-value dashboard: per micro-batch, upsert each key's most
    * recent value into an in-memory view the way the reference pushes the
    * newest reading to its displays (ref `consumer.cpp:124-131`).
    * Returns the live view for assertions/inspection. */
  def dashboardSink(keyCol: String, tsCol: String, valCol: String)
      : (java.util.concurrent.ConcurrentHashMap[String, (java.sql.Timestamp, Double)],
         (DataFrame, Long) => Unit) = {
    val view = new java.util.concurrent.ConcurrentHashMap[String, (java.sql.Timestamp, Double)]()
    val fn = (batch: DataFrame, _: Long) => {
      val latest = batch
        .groupBy(col(keyCol))
        .agg(max_by(struct(col(tsCol), col(valCol)), col(tsCol)).as("l"))
        .select(col(keyCol).cast("string"), col("l.*"))
        .collect() // per-batch keys are few: one row per active device
      latest.foreach { r =>
        val k = r.getString(0)
        val ts = r.getTimestamp(1)
        // a key whose batch rows all carry null ts/value (valid JSON,
        // missing fields) must not poison the view or NPE the query
        if (k != null && ts != null && !r.isNullAt(2)) {
          val old = view.get(k)
          // NOT strict before(): a corrected reading re-published at the
          // SAME second-granularity timestamp must replace the stale value
          // (idempotent under batch replay either way)
          if (old == null || !old._1.after(ts)) view.put(k, (ts, r.getDouble(2)))
        }
      }
      ()
    }
    (view, fn)
  }
}
