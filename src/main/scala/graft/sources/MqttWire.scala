package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException, IOException}
import java.net.{InetSocketAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._

/** Real MQTT 3.1.1 wire transport (SURVEY §2.1 S6/K1-K2; the last
  * reference capability that was transport-substituted — the reference
  * publishes over a live mosquitto connection, ref
  * `src/modules/libs/mqtt.c:49-97`, `producer.c:152-161`).
  *
  * Everything here is the PUBLIC OASIS MQTT 3.1.1 packet layout: fixed
  * header (type nibble + flags, 1-4 byte base-128 varint remaining
  * length), length-prefixed UTF-8 strings, big-endian u16 packet ids.
  * Scope is the subset the reference uses — CONNECT/CONNACK,
  * PUBLISH/PUBACK at QoS 0/1, the FULL QoS 2 four-way handshake
  * (PUBLISH/PUBREC/PUBREL/PUBCOMP — the reference's hko module publishes
  * at QoS 2, ref `hko.cpp:69-72`), SUBSCRIBE/SUBACK, PINGREQ/PINGRESP,
  * DISCONNECT. QoS 2 exactly-once rests on packet-id dedup state held on
  * BOTH ends: the sender keeps its in-flight handshake across a
  * reconnect (clean session off) and retransmits with the DUP flag; the
  * receiver (broker or subscriber) routes a packet id once and answers
  * redeliveries with PUBREC alone.
  *
  * The wire REPLACES the spool's ingress/egress edge, not its contract:
  * [[MqttSpoolBridge]] subscribes at QoS 1 and writes each inbound
  * message into the [[MqttLike]] spool (claim-link protocol, dense seqs)
  * BEFORE acking, so the graft-mqtt DataSourceV2 source, its offset
  * vector, and its checkpoint-resume semantics are untouched — a broker
  * redelivery after a bridge crash lands as a duplicate row, which is
  * QoS 1's at-least-once contract, exactly what the reference gets. The
  * bridge RECONNECTS with jittered backoff after a broker outage and
  * re-subscribes on each CONNACK (the reference subscribes inside
  * `on_connect` for exactly this reason, ref `dd/consumer.cpp:70-76`).
  * [[Sinks.MqttLikePublishWriter]] selects the wire by URI scheme: a
  * `mqtt://host:port` target publishes over a socket; a plain path keeps
  * the spool. TLS is a socket-factory seam, IMPLEMENTED AND TESTED both
  * ways (the reference's mosquitto is TLS-only, `mqtt.c:70-81`): pass an
  * `SSLSocketFactory`-backed `socketFactory` to [[MqttWireClient]] and an
  * `SSLServerSocketFactory`-backed `serverSocketFactory` to
  * [[MqttBrokerStub]] — MqttLikeSpec runs the full handshake with a
  * self-signed keypair and HTTPS-style endpoint identification; the
  * codec and session logic are byte-identical either way.
  */
object MqttCodec {

  val Connect = 1; val Connack = 2; val Publish = 3; val Puback = 4
  val Pubrec = 5; val Pubrel = 6; val Pubcomp = 7
  val Subscribe = 8; val Suback = 9; val Pingreq = 12; val Pingresp = 13
  val Disconnect = 14

  /** Refuse packets whose declared remaining length exceeds this before
    * allocating the body buffer: the spec admits 256 MB packets, but a
    * hostile header claiming one is a single-line OOM vector for a broker
    * serving many lines. Spool payloads are small JSON samples; 1 MiB is
    * orders of magnitude of headroom. */
  val MaxPacketBytes: Int = 1 << 20

  /** One decoded control packet: type nibble, flag nibble, body bytes. */
  final case class Packet(ptype: Int, flags: Int, body: Array[Byte])

  /** Base-128 varint remaining length, 1-4 bytes (spec §2.2.3). */
  def writeRemainingLength(out: DataOutputStream, n0: Int): Unit = {
    require(n0 >= 0 && n0 <= 268435455, s"remaining length out of range: $n0")
    var n = n0
    var more = true
    while (more) {
      val digit = n % 128
      n /= 128
      more = n > 0
      out.writeByte(if (more) digit | 0x80 else digit)
    }
  }

  def readRemainingLength(in: DataInputStream): Int = {
    var mult = 1; var value = 0; var i = 0
    var cont = true
    while (cont) {
      if (i >= 4) throw new IOException("malformed remaining length (>4 bytes)")
      val b = in.readUnsignedByte()
      value += (b & 0x7F) * mult
      mult *= 128
      cont = (b & 0x80) != 0
      i += 1
    }
    value
  }

  def writePacket(out: DataOutputStream, ptype: Int, flags: Int,
                  body: Array[Byte]): Unit = out.synchronized {
    out.writeByte((ptype << 4) | (flags & 0x0F))
    writeRemainingLength(out, body.length)
    out.write(body)
    out.flush()
  }

  /** Blocking read of one packet; throws EOFException on orderly close and
    * IOException when the declared length exceeds [[MaxPacketBytes]] (the
    * reader must refuse BEFORE allocating). */
  def readPacket(in: DataInputStream): Packet = {
    val h = in.readUnsignedByte()
    val len = readRemainingLength(in)
    if (len > MaxPacketBytes)
      throw new IOException(s"declared packet length $len exceeds cap $MaxPacketBytes")
    val body = new Array[Byte](len)
    in.readFully(body)
    Packet(h >>> 4, h & 0x0F, body)
  }

  /** Length-prefixed UTF-8 string (spec §1.5.3). */
  def utf8(s: String): Array[Byte] = {
    val b = s.getBytes(StandardCharsets.UTF_8)
    require(b.length <= 0xFFFF, s"MQTT string too long: ${b.length}")
    Array[Byte]((b.length >>> 8).toByte, (b.length & 0xFF).toByte) ++ b
  }

  def u16(n: Int): Array[Byte] =
    Array[Byte]((n >>> 8).toByte, (n & 0xFF).toByte)

  def connectBody(clientId: String, cleanSession: Boolean,
                  keepAliveSecs: Int,
                  credentials: Option[(String, String)] = None): Array[Byte] = {
    // flags: bit7 username present, bit6 password present, bit1 clean
    // session (spec §3.1.2.3-9); payload order clientId, username,
    // password (§3.1.3)
    val flags = (if (cleanSession) 0x02 else 0x00) |
      credentials.fold(0)(_ => 0x80 | 0x40)
    utf8("MQTT") ++ Array[Byte](4, flags.toByte) ++ // protocol level 3.1.1
      u16(keepAliveSecs) ++ utf8(clientId) ++
      credentials.fold(Array.empty[Byte]) { case (u, p) => utf8(u) ++ utf8(p) }
  }

  /** Parse a `mqtt://[user:pass@]host:port` target into
    * (host, port, credentials) — ONE parser for the sink writer and the
    * ModuleRegistry bridge so their accepted syntax cannot drift. Splits
    * userinfo at the LAST '@' and the port at the last ':' (so a
    * bracketless IPv6 literal, whose colons sit inside the host, is
    * refused descriptively instead of reaching the resolver mangled). */
  def parseEndpoint(target: String): (String, Int, Option[(String, String)]) = {
    val t = target.stripPrefix("mqtt://")
    val atPos = t.lastIndexOf('@')
    // the refusal message REDACTS userinfo: it lands in driver logs,
    // task failure messages, and test reports — never echo a password
    def bad = s"mqtt:// target must be mqtt://host:port " +
      "(optionally user:pass@host:port), got mqtt://" +
      (if (atPos < 0) t else s"<credentials>@${t.substring(atPos + 1)}")
    val (creds, hp) =
      if (atPos < 0) (None, t)
      else {
        val ui = t.substring(0, atPos)
        val c = ui.indexOf(':')
        (Some(if (c < 0) (ui, "")
              else (ui.substring(0, c), ui.substring(c + 1))), t.substring(atPos + 1))
      }
    val cut = hp.lastIndexOf(':')
    require(cut > 0, bad)
    val host = hp.substring(0, cut)
    val portStr = hp.substring(cut + 1)
    require(!host.contains(':') && portStr.nonEmpty && portStr.forall(_.isDigit), bad)
    (host, portStr.toInt, creds)
  }

  /** Parse a CONNECT body's (clientId, cleanSession, credentials) — the
    * broker side of [[connectBody]]. Returns null when the body is
    * malformed (a truncated packet whose length-prefixed fields overrun
    * the body must drop the line, not kill the serving thread). */
  def parseConnect(p: Packet): (String, Boolean, Option[(String, String)]) = {
    def str(b: Array[Byte], off: Int): (String, Int) = {
      val len = ((b(off) & 0xFF) << 8) | (b(off + 1) & 0xFF)
      (new String(b, off + 2, len, StandardCharsets.UTF_8), off + 2 + len)
    }
    try {
      val (_, afterProto) = str(p.body, 0) // "MQTT"
      val flags = p.body(afterProto + 1) & 0xFF
      val cleanSession = (flags & 0x02) != 0
      val (clientId, afterId) = str(p.body, afterProto + 4) // level+flags+keepalive
      val creds =
        if ((flags & 0x80) != 0) {
          val (u, afterU) = str(p.body, afterId)
          val pw = if ((flags & 0x40) != 0) str(p.body, afterU)._1 else ""
          Some((u, pw))
        } else None
      (clientId, cleanSession, creds)
    } catch {
      case _: ArrayIndexOutOfBoundsException | _: StringIndexOutOfBoundsException => null
    }
  }

  /** PUBLISH body + the flag nibble that must accompany it. */
  def publishBody(topic: String, payload: Array[Byte], qos: Int,
                  packetId: Int, dup: Boolean): (Array[Byte], Int) = {
    require(qos >= 0 && qos <= 2, s"QoS must be 0, 1 or 2, got $qos")
    val vh = utf8(topic) ++ (if (qos > 0) u16(packetId) else Array.empty[Byte])
    val flags = (if (dup) 0x08 else 0) | (qos << 1)
    (vh ++ payload, flags)
  }

  /** Parsed inbound PUBLISH: (topic, payload, qos, packetId) — null when
    * the body is malformed (declared topic length overruns the packet):
    * the broker parses untrusted client bytes and the client parses
    * whatever the socket delivers, so a torn packet must drop the line,
    * never kill a serving thread with an index error. Same never-throw
    * discipline as the media byte parsers. */
  def parsePublish(p: Packet): (String, Array[Byte], Int, Int) = {
    try {
      val qos = (p.flags >>> 1) & 0x03
      // both QoS bits set is MALFORMED per the spec ([MQTT-3.3.1-4]:
      // "a PUBLISH Packet MUST NOT have both QoS bits set to 1") — the
      // receiver must close the network connection, same as a torn body
      if (qos == 3) return null
      val tlen = ((p.body(0) & 0xFF) << 8) | (p.body(1) & 0xFF)
      val topic = new String(p.body, 2, tlen, StandardCharsets.UTF_8)
      var off = 2 + tlen
      val pid = if (qos > 0) {
        val id = ((p.body(off) & 0xFF) << 8) | (p.body(off + 1) & 0xFF)
        off += 2; id
      } else 0
      (topic, p.body.drop(off), qos, pid)
      // an overrunning declared length lands here via the String/array
      // bounds checks — no explicit off guard needed (or reachable)
    } catch {
      case _: ArrayIndexOutOfBoundsException | _: StringIndexOutOfBoundsException => null
    }
  }

  /** Packet id from a 2-byte ack body (PUBACK/PUBREC/PUBREL/PUBCOMP),
    * or -1 when the body is torn. */
  def ackPacketId(p: Packet): Int =
    if (p.body.length < 2) -1
    else ((p.body(0) & 0xFF) << 8) | (p.body(1) & 0xFF)

  /** CONNACK refusal, carrying the return code so callers can tell
    * TRANSIENT refusals apart from TERMINAL ones: rc 1-3 (unacceptable
    * protocol / id rejected / server unavailable) are conditions a retry
    * can outlive — rc 3 is literally what a broker answers while
    * restarting under load — while rc 4/5 (bad credentials / not
    * authorized) never fix themselves by retrying (spec §3.2.2.3). */
  final class ConnectRefused(val rc: Int)
    extends IOException(s"broker refused connection: rc=$rc")
}

/** Minimal blocking MQTT 3.1.1 client over a TCP socket. One socket, one
  * reader; publish-side calls are synchronized (the reference holds one
  * mosquitto session per producer the same way).
  *
  * Construction is CHEAP — no I/O happens until [[connect]] opens the
  * socket (so a cache's mapping function can build a client under a lock
  * without blocking unrelated work on a 10 s TCP timeout). [[connect]] is
  * also the RECONNECT: calling it again after a socket death opens a
  * fresh socket and re-runs the CONNECT handshake, and with
  * `cleanSession = false` it resumes any interrupted QoS 2 publish
  * (retransmitting PUBLISH with the DUP flag, or the pending PUBREL) so
  * the delivery completes exactly once against a broker that kept the
  * session's packet-id state.
  *
  * `keepAliveSecs > 0` declares the spec keepalive in CONNECT and fires
  * PINGREQ at half that cadence from a daemon timer; the PINGRESP is
  * consumed wherever the socket is being read (the publish ack wait and
  * the subscribe loop both tolerate an interleaved pong). The reference
  * connects with keepalive 60 (`mqtt.c:81`). `socketFactory` is the TLS
  * seam — pass `SSLSocketFactory`-backed sockets for a TLS broker
  * (proven end-to-end in MqttLikeSpec); defaults to plain TCP. */
class MqttWireClient(host: String, port: Int, clientId: String,
                     credentials: Option[(String, String)] = None,
                     socketFactory: (String, Int) => Socket =
                       (h, p) => { val s = new Socket(); s.connect(new InetSocketAddress(h, p), 10000); s },
                     cleanSession: Boolean = true,
                     keepAliveSecs: Int = 0) {
  import MqttCodec._

  @volatile private var socket: Socket = _
  @volatile private var out: DataOutputStream = _
  @volatile private var in: DataInputStream = _
  private val nextPacketId = new AtomicInteger(1)
  private val closed = new AtomicBoolean(false)
  @volatile private var pinger: java.util.concurrent.ScheduledExecutorService = _
  // QoS 2 sender state, the client half of exactly-once: survives a socket
  // death so connect() can resume the four-way handshake (spec §4.3.3 —
  // "must be treated as unacknowledged until the corresponding PUBREC /
  // PUBCOMP is received"). Guarded by `this` (publish and connect are
  // both synchronized).
  private var pendingPublish: Option[(Int, String, Array[Byte])] = None
  private var pendingRelease: Option[Int] = None
  // QoS 2 receiver dedup (subscriber half): packet ids delivered to the
  // handler but not yet released by PUBREL — a broker redelivery (DUP)
  // of an id in this set is acked with PUBREC alone, never re-delivered.
  // Touched only by the subscribe-loop thread.
  private val receivedQos2 = scala.collection.mutable.Set.empty[Int]

  /** (Re)open the socket, CONNECT → CONNACK(0). With `cleanSession =
    * false` the broker keeps this clientId's QoS 2 packet-id state across
    * connections, and connect() resumes any handshake a socket death
    * interrupted. Credentials (the reference's settings username/password
    * keys) ride the CONNECT flags per §3.1. */
  def connect(): Unit = synchronized {
    if (closed.get()) throw new IOException(s"client $clientId is closed")
    if (socket != null) { try socket.close() catch { case _: IOException => () } }
    val s = socketFactory(host, port)
    s.setTcpNoDelay(true)
    socket = s
    out = new DataOutputStream(new BufferedOutputStream(s.getOutputStream))
    in = new DataInputStream(new BufferedInputStream(s.getInputStream))
    writePacket(out, Connect, 0,
      connectBody(clientId, cleanSession, keepAliveSecs, credentials))
    val ack = readPacket(in)
    // IOException, not require/IAE: a dying broker can emit a garbled-but-
    // framed first packet, and the bridge classifies IAE as TERMINAL
    // (protocol violation) — a transient would permanently kill the
    // bridge instead of entering its backoff/retry path. IAE-terminal is
    // reserved for post-CONNACK violations (e.g. a rejected SUBACK).
    if (ack.ptype != Connack)
      throw new IOException(s"expected CONNACK, got type ${ack.ptype}")
    if (!(ack.body.length == 2 && ack.body(1) == 0))
      throw new ConnectRefused(if (ack.body.length == 2) ack.body(1) else -1)
    // receiver dedup state lives exactly as long as the SERVER's session
    // (§4.1): clear it when we asked for a clean session AND when the
    // CONNACK's session-present flag says the broker has no state for us
    // (broker restarted and lost it) — either way a pid from the previous
    // incarnation must not swallow a new message that happens to reuse it
    val sessionPresent = (ack.body(0) & 0x01) != 0
    if (cleanSession || !sessionPresent) receivedQos2.clear()
    if (keepAliveSecs > 0 && pinger == null) {
      pinger = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(r => {
        val t = new Thread(r, s"mqtt-keepalive-$clientId"); t.setDaemon(true); t
      })
      val periodMs = math.max(500L, keepAliveSecs * 1000L / 2)
      pinger.scheduleAtFixedRate(() => try ping() catch { case _: Throwable => () },
        periodMs, periodMs, java.util.concurrent.TimeUnit.MILLISECONDS)
    }
    // close() racing this connect can have missed the socket (and the
    // pinger) created above — its CAS already fired, so it will never run
    // again: honor the close HERE, after both resources exist. The
    // volatile orders (we write socket/pinger then read closed; close()
    // writes closed then reads socket/pinger) guarantee at least one side
    // sees the other, so nothing leaks.
    if (closed.get()) {
      val p = pinger
      if (p != null) p.shutdownNow()
      try s.close() catch { case _: IOException => () }
      throw new IOException(s"client $clientId is closed")
    }
    if (!cleanSession) resumeQos2()
  }

  /** Fire a PINGREQ. The PINGRESP is consumed wherever the socket is
    * being read (the publish ack wait and the subscribe loop both
    * tolerate an interleaved pong), so this is safe from a keepalive
    * timer thread. */
  def ping(): Unit = writePacket(connectedOut, Pingreq, 0, Array.empty)

  /** A descriptive failure beats an NPE when a caller publishes or
    * subscribes before (or after a failed) connect(). */
  private def connectedOut: DataOutputStream = {
    val o = out
    if (o == null) throw new IOException(s"client $clientId: connect() first")
    o
  }

  private def claimPacketId(): Int = {
    // u16, nonzero, wraps — 65535 ids in flight is far beyond this
    // client's one-at-a-time synchronous window
    var id = nextPacketId.getAndIncrement() & 0xFFFF
    if (id == 0) id = nextPacketId.getAndIncrement() & 0xFFFF
    id
  }

  /** Read until the expected ack (type, packet id) arrives, skipping
    * interleaved PINGRESPs; anything else is a protocol violation. */
  private def awaitAck(want: Int, pid: Int, label: String): Unit = {
    var acked = false
    while (!acked) {
      val p = readPacket(in)
      if (p.ptype == want) {
        val got = ackPacketId(p)
        if (got < 0) throw new IOException(s"truncated $label")
        require(got == pid, s"$label for unexpected packet id $got (want $pid)")
        acked = true
      } else if (p.ptype == Pingresp) () // interleaved pong: ignore
      else throw new IOException(s"unexpected packet type ${p.ptype} awaiting $label")
    }
  }

  /** QoS-1 publish blocks until the broker's PUBACK; QoS 2 runs the full
    * four-way handshake (PUBLISH → PUBREC → PUBREL → PUBCOMP — the
    * reference's hko publishes at QoS 2, `hko.cpp:69-72`); QoS 0 fires
    * and forgets. Synchronous-per-message is the honest window-1 mode
    * (the reference's mosquitto_publish + wait loop). A QoS 2 publish
    * interrupted by a socket death leaves its handshake state in place:
    * reconnecting with [[connect]] (clean session off) resumes and
    * completes it exactly once. */
  def publish(topic: String, payload: Array[Byte], qos: Int = 1): Unit = synchronized {
    val o = connectedOut
    val pid = if (qos > 0) claimPacketId() else 0
    if (qos == 2) pendingPublish = Some((pid, topic, payload))
    val (body, flags) = publishBody(topic, payload, qos, pid, dup = false)
    writePacket(o, Publish, flags, body)
    if (qos == 1) awaitAck(Puback, pid, "PUBACK")
    else if (qos == 2) finishQos2(pid)
  }

  /** The PUBREC → PUBREL → PUBCOMP tail of a QoS 2 publish, shared by the
    * first attempt and the post-reconnect resume. State transitions are
    * recorded BEFORE each await so a death at any point leaves exactly
    * the retransmission the spec prescribes. */
  private def finishQos2(pid: Int): Unit = {
    awaitAck(Pubrec, pid, "PUBREC")
    pendingPublish = None
    pendingRelease = Some(pid)
    // PUBREL's fixed-header flags are mandated 0b0010 (spec §3.6.1-1)
    writePacket(out, Pubrel, 0x02, u16(pid))
    awaitAck(Pubcomp, pid, "PUBCOMP")
    pendingRelease = None
  }

  /** Resume an interrupted QoS 2 handshake after reconnect: a publish
    * that never saw PUBREC is retransmitted with the DUP flag (the broker
    * dedups by packet id — spec §4.3.3); one that saw PUBREC but not
    * PUBCOMP resends only PUBREL. Called under `this` from connect(). */
  private def resumeQos2(): Unit = {
    pendingPublish.foreach { case (pid, topic, payload) =>
      val (body, flags) = publishBody(topic, payload, qos = 2, pid, dup = true)
      writePacket(out, Publish, flags, body)
      finishQos2(pid)
    }
    pendingRelease.foreach { pid =>
      writePacket(out, Pubrel, 0x02, u16(pid))
      awaitAck(Pubcomp, pid, "PUBCOMP")
      pendingRelease = None
    }
  }

  /** SUBSCRIBE one filter at `maxQos` → SUBACK, then hand the socket to a
    * read loop: `handler(topic, payload)` runs for each inbound PUBLISH
    * and the ack is sent ONLY AFTER the handler returns — so a handler
    * that persists durably (the spool bridge) gets at-least-once across
    * its own crashes at QoS 1, and exactly-once at QoS 2 (packet-id dedup
    * + PUBREL release). `onSubscribed` fires right after the SUBACK is
    * validated — the happens-before edge a publisher must wait on (this
    * stub-scope broker keeps no retained messages, so a publish routed
    * before the subscription lands is gone silently). The broker
    * registers the filter BEFORE writing SUBACK to keep that edge, so a
    * concurrently routed PUBLISH can legitimately arrive AHEAD of the
    * SUBACK — the loop handles it instead of treating it as a protocol
    * violation. Blocks until [[close]] or socket error. */
  def subscribeLoop(topicFilter: String, onSubscribed: () => Unit = () => (),
                    maxQos: Int = 1)
                   (handler: (String, Array[Byte]) => Unit): Unit = {
    require(maxQos >= 0 && maxQos <= 2, s"subscription max QoS must be 0-2, got $maxQos")
    connectedOut
    val pid = claimPacketId()
    // SUBSCRIBE fixed-header flags are mandated 0b0010 (spec §3.8.1)
    writePacket(out, Subscribe, 0x02, u16(pid) ++ utf8(topicFilter) ++ Array(maxQos.toByte))
    var subacked = false
    try {
      while (!closed.get()) {
        val p = readPacket(in)
        p.ptype match {
          case Suback if !subacked =>
            require(p.body.length >= 3 && (p.body(2) & 0xFF) <= 2,
              s"broker rejected subscription: rc=${if (p.body.length >= 3) p.body(2) & 0xFF else -1}")
            subacked = true
            onSubscribed()
          case Publish =>
            val parsed = parsePublish(p)
            if (parsed == null) throw new IOException("malformed PUBLISH from broker")
            val (topic, payload, qos, mid) = parsed
            qos match {
              case 0 => handler(topic, payload)
              case 1 =>
                handler(topic, payload) // durable BEFORE the ack
                writePacket(out, Puback, 0, u16(mid))
              case 2 =>
                // exactly-once receive: deliver on first sight of the id,
                // answer a DUP redelivery with PUBREC alone (§4.3.3).
                // The id is recorded AFTER the handler returns — durable
                // before dedup, same as durable-before-ack: a handler
                // crash leaves the id unrecorded, so the broker's
                // redelivery re-runs the handler instead of being
                // swallowed by a delivery that never actually happened
                if (!receivedQos2.contains(mid)) {
                  handler(topic, payload)
                  receivedQos2 += mid
                }
                writePacket(out, Pubrec, 0, u16(mid))
            }
          case Pubrel =>
            val mid = ackPacketId(p)
            if (mid < 0) throw new IOException("truncated PUBREL")
            receivedQos2.remove(mid)
            writePacket(out, Pubcomp, 0, u16(mid))
          case Pingresp => ()
          case other => throw new IOException(s"unexpected packet type $other in subscribe loop")
        }
      }
    } catch {
      case _: EOFException if closed.get() => () // orderly close() race
      case _: java.net.SocketException if closed.get() => ()
    }
  }

  def close(): Unit = if (closed.compareAndSet(false, true)) {
    if (pinger != null) pinger.shutdownNow()
    if (out != null) {
      try writePacket(out, Disconnect, 0, Array.empty)
      catch { case _: IOException => () }
    }
    if (socket != null) { try socket.close() catch { case _: IOException => () } }
  }
}

/** The bridge the spool scaladoc always promised ("what a tiny bridge
  * process subscribing at QoS 1 would write"), now real: subscribes over
  * the wire and writes each message into the [[MqttLike]] spool with the
  * claim-link protocol, so the graft-mqtt source's offsets, dense-prefix
  * repair, and checkpoint resume apply unchanged to broker-fed topics.
  * The ack is sent only after the spool hard-link lands (the
  * subscribeLoop contract), so a bridge crash can duplicate but never
  * lose — QoS 1. Each message goes through [[MqttLike.publish]], which
  * starts from the JVM's seq hint instead of re-listing the lane.
  *
  * The bridge is the long-lived production ingress path, so a broker
  * outage must not permanently stop ingest: on any socket-level failure
  * the loop reconnects with jittered exponential backoff (200 ms
  * doubling to 10 s) and re-subscribes on CONNACK — the reference gets
  * the same from libmosquitto's loop thread, which auto-reconnects and
  * re-runs the `on_connect` subscription (`dd/consumer.cpp:70-76`).
  * Redeliveries racing a crash land as QoS 1 duplicates, per the spool
  * contract. A broker REFUSAL (bad credentials rc 4, rejected
  * subscription) is terminal: retrying a rejected password forever would
  * only hammer the broker — the failure is recorded and
  * [[awaitSubscribed]] throws it. Keepalive runs at 30 s (the reference
  * uses 60, `mqtt.c:81`) so a NAT timeout can't silently wedge an idle
  * session. Runs on a daemon thread; `close()` tears it down. */
class MqttSpoolBridge(host: String, port: Int, spoolDir: String,
                      topicFilter: String, clientId: String = "graft-bridge",
                      val credentials: Option[(String, String)] = None) {
  @volatile private var error: Throwable = _     // terminal (broker refusal)
  @volatile private var lastError: Throwable = _ // most recent retryable
  @volatile private var current: MqttWireClient = _
  val received = new AtomicLong(0)
  /** Completed CONNECT+SUBSCRIBE handshakes — observability for restart
    * tests and operators (2 = one successful reconnect). */
  val subscribeCount = new AtomicLong(0)
  private val closed = new AtomicBoolean(false)
  private val closeLatch = new java.util.concurrent.CountDownLatch(1)
  private val subscribed = new java.util.concurrent.CountDownLatch(1)

  private val thread = new Thread(() => {
    var attempt = 0
    while (!closed.get() && error == null) {
      val client = new MqttWireClient(host, port, clientId, credentials,
        cleanSession = true, keepAliveSecs = 30)
      current = client
      // close() races this loop: it closes `current`, but may have read
      // the PREVIOUS client before this assignment landed — re-checking
      // here guarantees a post-close client never connects and keeps a
      // zombie subscription double-writing the spool (the while guard
      // then exits; client.close() is idempotent)
      if (closed.get()) client.close()
      else try {
        client.connect()
        client.subscribeLoop(topicFilter, onSubscribed = () => {
          attempt = 0 // a completed handshake resets the backoff ladder
          subscribeCount.incrementAndGet()
          subscribed.countDown()
        }) { (topic, payload) =>
          MqttLike.publish(spoolDir, topic, new String(payload, StandardCharsets.UTF_8))
          received.incrementAndGet()
        }
      } catch {
        case _: Throwable if closed.get() => () // orderly close() race
        case t: MqttCodec.ConnectRefused if t.rc != 3 && t.rc >= 0 =>
          // deterministic refusals are terminal: rc 1 (protocol version),
          // rc 2 (clientId rejected) and rc 4/5 (bad credentials / not
          // authorized) answer an IDENTICAL retry identically — retrying
          // them forever just hammers the broker while isAlive lies.
          // Only rc 3 ("server unavailable" — a broker restarting under
          // load) and a torn CONNACK (rc -1, a dying broker mid-write)
          // fall through to the retry branch below.
          error = t
          subscribed.countDown()
        case t: IllegalArgumentException =>
          // protocol violation / rejected subscription: terminal
          error = t
          subscribed.countDown()
        case t: Throwable =>
          // socket-level failure (broker down/restarting): back off and
          // reconnect; jitter desynchronizes a fleet of bridges all
          // watching the same restarted broker. 200 ms doubling, clamped
          // at 10 s (the << 6 rung is 12.8 s, so the clamp is live).
          lastError = t
          val backoff = math.min(10000L, 200L << math.min(attempt, 6)) +
            java.util.concurrent.ThreadLocalRandom.current().nextLong(100)
          attempt += 1
          closeLatch.await(backoff, java.util.concurrent.TimeUnit.MILLISECONDS)
      } finally client.close()
    }
  }, s"mqtt-spool-bridge-$clientId")
  thread.setDaemon(true)
  thread.start()

  /** True while the bridge can still deliver: its loop thread is running
    * and no TERMINAL failure was recorded (a bridge mid-backoff is alive —
    * it will reconnect). A cache holding bridges must replace a dead one,
    * not reuse it into silent ingress loss. */
  def isAlive: Boolean = thread.isAlive && error == null

  /** Block until the bridge's first SUBSCRIBE is acked (or it terminally
    * failed): the broker keeps no retained messages, so a message
    * published before this returns would be routed to nobody and silently
    * lost — every producer racing a fresh bridge must wait here first.
    * Throws the terminal failure if the broker refused; after 15 s the
    * most recent retryable error rides along as the cause. */
  def awaitSubscribed(): Unit = {
    val ok = subscribed.await(15000, java.util.concurrent.TimeUnit.MILLISECONDS)
    failure.foreach(throw _)
    if (!ok) {
      val e = new IllegalStateException("bridge did not subscribe within 15000ms")
      Option(lastError).foreach(e.initCause)
      throw e
    }
  }

  def failure: Option[Throwable] = Option(error)
  def close(): Unit = if (closed.compareAndSet(false, true)) {
    closeLatch.countDown()
    Option(current).foreach(_.close())
    thread.join(5000)
  }
}

/** In-process MQTT 3.1.1 broker STUB — the integration fixture (and dev
  * utility) that lets the wire client, the bridge, and the sink be tested
  * end-to-end over real sockets with no external daemon. Scope is the
  * stub's: CONNECT/CONNACK, SUBSCRIBE/SUBACK (exact filter or a trailing
  * `#` wildcard, granted at the requested QoS up to 2), PUBLISH routed to
  * matching live subscribers at min(publish QoS, granted QoS), the full
  * inbound QoS 2 four-way handshake with per-clientId packet-id dedup
  * (a DUP redelivery of an in-flight id is NOT re-routed — exactly-once;
  * with clean session off the dedup state survives reconnects, which is
  * what makes QoS 2 hold across a mid-handshake crash), PINGREQ/PINGRESP,
  * DISCONNECT. No retained messages, no outbound redelivery — a
  * production deployment points the same client at a real broker. With
  * `credentials` set, CONNECT must carry the matching username/password
  * (the reference's settings keys) or the stub answers rc 4 (bad user
  * name or password, spec §3.2.2.3) and drops the line.
  * `serverSocketFactory` is the TLS seam's server half — pass an
  * `SSLContext.getServerSocketFactory`-backed factory to run the stub
  * over TLS (the reference's mosquitto listens on TLS :8883); the codec
  * and session logic are byte-identical either way. */
class MqttBrokerStub(port0: Int = 0,
                     credentials: Option[(String, String)] = None,
                     serverSocketFactory: Int => ServerSocket =
                       p => new ServerSocket(p)) {
  import MqttCodec._

  private val server = serverSocketFactory(port0)
  val port: Int = server.getLocalPort
  private val running = new AtomicBoolean(true)
  val published = new AtomicLong(0)
  /** Of [[published]], how many arrived as QoS 2 — lets a topology test
    * assert the reference's hko QoS level actually reached the wire. */
  val publishedQos2 = new AtomicLong(0)
  // FAULT INJECTION (test-only): drop the publisher's line around the
  // next inbound QoS 2 PUBREC — before it (client saw nothing: it will
  // retransmit PUBLISH+DUP) or after it (client owes PUBREL). One-shot.
  @volatile var dropBeforeNextPubrec = false
  @volatile var dropAfterNextPubrec = false

  // Inbound QoS 2 packet ids in flight, keyed by clientId so the state
  // SURVIVES a reconnect when the client connects with clean session off
  // (spec §3.1.2-6) — the broker half of exactly-once across a
  // mid-handshake crash. A clean-session CONNECT discards it.
  private val qos2Inflight =
    new ConcurrentHashMap[String, java.util.Set[Integer]]()
  // Latest session per clientId: a lingering half-open session's teardown
  // must not wipe state a NEWER same-clientId connection is using — only
  // the current owner's departure cleans up.
  private val owners = new ConcurrentHashMap[String, Session]()

  private final class Session(socket: Socket) {
    val out = new DataOutputStream(new BufferedOutputStream(socket.getOutputStream))
    val in = new DataInputStream(new BufferedInputStream(socket.getInputStream))
    @volatile var clientId: String = ""
    @volatile var cleanSession: Boolean = true
    // (filter, granted qos) pairs; a topic's effective grant is the max
    // across matching filters (overlapping subscriptions, spec §3.3.5)
    @volatile var subs: List[(String, Int)] = Nil
    val outIds = new AtomicInteger(1)
    def grantFor(topic: String): Option[Int] = {
      val matching = subs.collect { case (f, q)
        if f == topic || (f.endsWith("#") && topic.startsWith(f.dropRight(1))) => q }
      if (matching.isEmpty) None else Some(matching.max)
    }
    def deliver(topic: String, payload: Array[Byte], qos: Int): Unit =
      try {
        val pid = if (qos > 0) {
          var i = outIds.getAndIncrement() & 0xFFFF
          if (i == 0) i = outIds.getAndIncrement() & 0xFFFF
          i
        } else 0
        val (body, flags) = publishBody(topic, payload, qos, pid, dup = false)
        writePacket(out, Publish, flags, body)
      } catch { case _: IOException => () } // dead subscriber: drop
    def close(): Unit = try socket.close() catch { case _: IOException => () }
  }

  private val sessions = ConcurrentHashMap.newKeySet[Session]()

  private val acceptor = new Thread(() => {
    while (running.get()) {
      try {
        val s = server.accept()
        s.setTcpNoDelay(true)
        val session = new Session(s)
        sessions.add(session)
        val t = new Thread(() => serve(session), s"mqtt-stub-conn-${s.getPort}")
        t.setDaemon(true); t.start()
      } catch { case _: IOException => () } // server closed
    }
  }, "mqtt-stub-acceptor")
  acceptor.setDaemon(true)
  acceptor.start()

  /** Route to every matching live subscriber at min(publish QoS, granted
    * QoS) — the spec's outbound downgrade rule. */
  private def route(topic: String, payload: Array[Byte], pubQos: Int): Unit =
    sessions.iterator().asScala.foreach { s =>
      s.grantFor(topic).foreach(g => s.deliver(topic, payload, math.min(g, pubQos)))
    }

  private def serve(session: Session): Unit = {
    try {
      val first = readPacket(session.in)
      if (first.ptype != Connect) { session.close(); return }
      val parsed = parseConnect(first)
      if (parsed == null) { session.close(); return } // malformed: drop line
      val (cid, cleanSession, creds) = parsed
      if (credentials.exists(want => creds != Some(want))) {
        writePacket(session.out, Connack, 0, Array[Byte](0, 4)) // bad user/pass
        session.close(); return
      }
      session.clientId = cid
      session.cleanSession = cleanSession
      // §3.1.4-2 TAKEOVER (r15): a second CONNECT with the same clientId
      // MUST disconnect the existing connection — the lifecycle rule the
      // reference's reconnect loop implicitly relies on (its new socket
      // must not fight a half-open predecessor for deliveries). Closing
      // the loser's socket unblocks its serve thread; that thread's
      // conditional owners.remove(cid, oldSession) then fails against the
      // new owner, so the taken-over teardown can never wipe the QoS 2
      // dedup state this connection is now using (clean-session discard
      // below stays the NEW connection's decision alone).
      val prev = owners.put(cid, session)
      if (prev != null && (prev ne session)) prev.close()
      // session-present flag (§3.2.2.2): clean session discards server
      // state; otherwise surviving QoS 2 dedup state is reported present
      val present = if (cleanSession) { qos2Inflight.remove(cid); false }
                    else qos2Inflight.containsKey(cid)
      writePacket(session.out, Connack, 0, Array[Byte](if (present) 1 else 0, 0))
      var open = true
      while (open && running.get()) {
        val p = readPacket(session.in)
        // any malformed body (torn length fields) drops the line — a
        // hostile or buggy client must never kill a serving thread
        try p.ptype match {
          case Publish =>
            val parsed = parsePublish(p)
            if (parsed == null) open = false
            else {
              val (topic, payload, qos, pid) = parsed
              if (qos == 2) {
                // exactly-once inbound: route on FIRST sight of the id
                // (mosquitto's strategy), hold it until PUBREL — a DUP
                // redelivery finds the id in flight and is NOT re-routed.
                // Dedup applies ONLY to DUP-flagged retransmissions: a
                // non-DUP PUBLISH reusing an in-flight id is a NEW message
                // from a sender that lost its session state (it should
                // have connected clean, but swallowing its data while
                // acking PUBREC/PUBCOMP would be silent loss — route it
                // and re-arm the id).
                val ids = qos2Inflight.computeIfAbsent(session.clientId,
                  _ => ConcurrentHashMap.newKeySet[Integer]())
                // the id stays armed either way (add is a no-op when the
                // non-DUP branch fires — it was already present)
                val dup = (p.flags & 0x08) != 0
                if (ids.add(pid) || !dup) {
                  route(topic, payload, qos)
                  published.incrementAndGet()
                  publishedQos2.incrementAndGet()
                }
                if (dropBeforeNextPubrec) { dropBeforeNextPubrec = false; open = false }
                else {
                  writePacket(session.out, Pubrec, 0, u16(pid))
                  if (dropAfterNextPubrec) { dropAfterNextPubrec = false; open = false }
                }
              } else {
                // route BEFORE acking: once the publisher sees PUBACK the
                // message is in every matching subscriber's TCP lane
                route(topic, payload, qos)
                published.incrementAndGet()
                if (qos == 1) writePacket(session.out, Puback, 0, u16(pid))
              }
            }
          case Pubrel =>
            // release the inbound QoS 2 id and complete the handshake
            val pid = ackPacketId(p)
            if (pid < 0) open = false
            else {
              Option(qos2Inflight.get(session.clientId))
                .foreach(_.remove(Integer.valueOf(pid)))
              writePacket(session.out, Pubcomp, 0, u16(pid))
            }
          case Subscribe =>
            val pid = ((p.body(0) & 0xFF) << 8) | (p.body(1) & 0xFF)
            // single-filter payload: len-prefixed filter + requested qos
            val flen = ((p.body(2) & 0xFF) << 8) | (p.body(3) & 0xFF)
            val filter = new String(p.body, 4, flen, StandardCharsets.UTF_8)
            val reqQos = p.body(4 + flen) & 0xFF
            if (reqQos > 2) open = false // malformed requested QoS: drop line
            else {
              // filter becomes visible to routing BEFORE the SUBACK is
              // written: this is what makes awaitSubscribed a real
              // happens-before edge (a publish after SUBACK is always
              // routed). The flip side — a concurrent publish can reach
              // the subscriber AHEAD of its SUBACK — is handled by the
              // client's subscribe loop, which tolerates early PUBLISHes.
              session.subs = (filter, reqQos) :: session.subs
              writePacket(session.out, Suback, 0, u16(pid) ++ Array(reqQos.toByte))
            }
          case Puback => () // subscriber acked an outbound QoS-1 delivery
          case Pubrec =>
            // subscriber's receipt of an outbound QoS 2 delivery: release
            // it (stub keeps no outbound retransmission state)
            val pid = ackPacketId(p)
            if (pid < 0) open = false
            else writePacket(session.out, Pubrel, 0x02, u16(pid))
          case Pubcomp => () // outbound QoS 2 handshake complete
          case Pingreq => writePacket(session.out, Pingresp, 0, Array.empty)
          case Disconnect => open = false
          case _ => open = false // unsupported packet type: drop line
        } catch {
          case _: ArrayIndexOutOfBoundsException |
               _: StringIndexOutOfBoundsException => open = false
        }
      }
    } catch {
      case _: EOFException => ()
      case _: IOException => ()
    } finally {
      sessions.remove(session)
      // a clean session's server state dies with the connection
      // (§3.1.2-6) — without this, unique-per-epoch sink clientIds leak
      // one qos2Inflight entry per streaming trigger forever. Conditional
      // on still OWNING the clientId: a dead half-open session's late
      // teardown must not wipe the dedup state of a newer connection
      // that took the same id over.
      if (session.clientId.nonEmpty && owners.remove(session.clientId, session)
          && session.cleanSession)
        qos2Inflight.remove(session.clientId)
      session.close()
    }
  }

  def close(): Unit = if (running.compareAndSet(true, false)) {
    try server.close() catch { case _: IOException => () }
    sessions.iterator().asScala.foreach(_.close())
  }
}
