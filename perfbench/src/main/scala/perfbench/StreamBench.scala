package perfbench

import graft.sources.{MqttBrokerStub, MqttLike, MqttWireClient}
import graft.streaming.{ModuleRegistry, Pipelines}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._

/** The dd sensor samples both stream workloads feed: a deterministic
  * function of (seed, index). A valid sample carries its index in
  * `rh_outdoor`, the one field the dd module passes through unchanged and
  * with full precision (`timestamp_utc` keeps whole seconds only), so each
  * published payload names the sample it came from. About 2% of payloads
  * are malformed, at seed-chosen indices, in three forms the dd consumer
  * must reject: truncated JSON, JSON without a timestamp, and non-JSON. */
final class Samples(seed: Long) {
  private def rnd(i: Long) = new java.util.SplittableRandom(seed * 1000003L + i)
  private val Base = java.time.Instant.parse("2024-01-01T00:00:00Z")

  def malformed(i: Long): Boolean = rnd(i).nextDouble() < 0.02
  def ts(i: Long): String = Base.plusSeconds(i).toString // yyyy-MM-ddTHH:mm:ssZ
  def temps(i: Long): (Double, Double) = {
    val r = rnd(i); r.nextDouble()
    (math.round(r.nextDouble() * 450 - 50) / 10.0, math.round(r.nextDouble() * 350) / 10.0)
  }

  def payload(i: Long): String = {
    val (out, in) = temps(i)
    if (!malformed(i))
      s"""{"timestamp_utc": "${ts(i)}", "temp_outdoor_celsius": $out, "temp_indoor_celsius": $in, "rh_outdoor": $i}"""
    else (i % 3) match {
      case 0 => s"""{"timestamp_utc": "${ts(i)}", "temp_outdoor_celsius": $out, "rh_out"""
      case 1 => s"""{"temp_outdoor_celsius": $out, "temp_indoor_celsius": $in, "rh_outdoor": $i}"""
      case _ => s"sensor offline #$i"
    }
  }

  /** Check the published payloads of samples `ids` (each tried once):
    * every valid id exactly once with its generated values, and nothing
    * else. Returns the failures, one line each. */
  def check(ids: Seq[Long], published: Iterable[String]): Seq[String] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val tried = ids.toSet
    val want = tried.filterNot(malformed)
    val seen = scala.collection.mutable.Map.empty[Long, Int]
    val bad = Seq.newBuilder[String]
    published.foreach { p =>
      val j = mapper.readTree(p)
      val rh = j.path("rh_outdoor").asDouble(Double.NaN)
      val id = rh.toLong
      if (rh != id.toDouble || !tried(id)) bad += s"unexpected output $p"
      else if (malformed(id)) bad += s"malformed sample $id published: $p"
      else {
        seen(id) = seen.getOrElse(id, 0) + 1
        val (out, in) = temps(id)
        if (j.path("temp_outdoor_celsius").asDouble() != out ||
            j.path("temp_indoor_celsius").asDouble() != in ||
            !j.path("ts").asText().startsWith(ts(id).stripSuffix("Z")))
          bad += s"sample $id altered: $p"
      }
    }
    want.foreach { id =>
      seen.getOrElse(id, 0) match {
        case 1 => ()
        case 0 => bad += s"sample $id missing"
        case n => bad += s"sample $id published $n times"
      }
    }
    bad.result()
  }
}

/** sensor_stream: the dd module end to end, and the backlog drains that
  * give its single-thread reference. */
object StreamBench {
  val InTopic = "sensors/dd"
  val OutTopic = "sensors/dd_enriched"
  val RatePerS = 100
  /** Warm-up samples use ids from here up, apart from measured ids. */
  val WarmBase = 1000000000L

  private def lane(spool: Path, topic: String): Path = spool.resolve(MqttLike.sanitize(topic))

  /** Streaming-progress phases as per-layer samples, and (traced) as one
    * span per trigger with one child per phase, laid end to end in the
    * order the micro-batch runs them. */
  val Phases = Seq("latestOffset" -> "sources.spool", "walCommit" -> "streaming.microbatch",
    "getBatch" -> "sources.spool", "queryPlanning" -> "streaming.microbatch",
    "addBatch" -> "streaming.pipelines", "commitOffsets" -> "streaming.microbatch")

  def recordProgress(rec: Record, q: StreamingQuery, traced: Boolean): Unit =
    q.recentProgress.filter(_.numInputRows > 0).foreach { p =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      rec.inc("streaming.microbatch.batches")
      rec.add("streaming.microbatch.rows_per_batch", p.numInputRows.toDouble)
      rec.add("streaming.microbatch.trigger_ms", d.getOrElse("triggerExecution", 0L).toDouble)
      Phases.foreach { case (k, _) => rec.add(s"phase.$k", d.getOrElse(k, 0L).toDouble) }
      if (traced) {
        val s = rec.spans
        val t0 = s.msOfEpoch(java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble)
        val trig = s.add("trigger", "streaming.microbatch", -1, t0,
          t0 + d.getOrElse("triggerExecution", 0L))
        Phases.foldLeft(t0) { case (at, (k, layer)) =>
          val ms = d.getOrElse(k, 0L).toDouble
          s.add(k, layer, trig, at, at + ms)
          at + ms
        }
      }
    }

  /** The per-layer probes run after the measured phase: a timed dense-prefix
    * poll of the input lane, a timed spool publish loop into a scratch lane,
    * and the dd transform over the measured payloads as a static frame. */
  def probes(spark: SparkSession, rec: Record, samples: Samples, ids: Seq[Long],
             inLane: Path, scratch: Path): Unit = {
    val s = rec.spans
    val t0 = System.nanoTime()
    val files = s.timed("dense_prefix", "sources.spool", -1)(_ =>
      MqttLike.repairAndDensePrefix(inLane))
    rec.set("sources.spool.dense_prefix_ms", (System.nanoTime() - t0) / 1e6)
    rec.set("sources.spool.dense_prefix_files", files.toDouble)

    s.timed("publish_loop", "sources.sink", -1) { _ =>
      var seq = MqttLike.nextSeqIn(scratch.toString, "probe", "")
      ids.take(500).foreach { i =>
        val p = samples.payload(i)
        val a = System.nanoTime()
        seq = MqttLike.publishFrom(scratch.toString, "probe", p, "", seq) + 1
        rec.add("sources.sink.publish_us", (System.nanoTime() - a) / 1e3)
      }
    }

    import spark.implicits._
    val frame = ids.map(samples.payload).toDF("payload").cache()
    frame.count()
    val planted = ids.count(samples.malformed)
    val rejected = Pipelines.ddConsumer(frame).filter(!col("parsed")).count()
    rec.set("streaming.pipelines.rejected", rejected.toDouble)
    if (rejected != planted) rec.fail(s"dd consumer rejected $rejected of $planted planted malformed samples")
    (0 until 3).foreach { _ =>
      val a = System.nanoTime()
      s.timed("dd_transform", "streaming.pipelines", -1)(_ =>
        Pipelines.ddConsumer(frame).filter(col("parsed"))
          .write.format("noop").mode("overwrite").save())
      rec.add("streaming.pipelines.dd_transform_ms", (System.nanoTime() - a) / 1e6)
    }
    frame.unpersist()
  }

  /** A dd payload whose `timestamp_utc` string does not parse should be
    * rejected like the malformed forms the stream carries. It is probed
    * apart, on a static frame, because the transform raises on it
    * (`to_timestamp` under ANSI mode) and a live query would stop at that
    * sample. A raise is recorded as a finding, outside the workload's own
    * attempted and failed operations. */
  def badTimestampProbe(spark: SparkSession, rec: Record): Unit = {
    import spark.implicits._
    val badTs = Seq("""{"timestamp_utc": "not-a-time", "rh_outdoor": 1}""").toDF("payload")
    val raised = try { Pipelines.ddConsumer(badTs).filter(col("parsed")).count(); None }
      catch { case e: Exception => Some(e) }
    rec.set("streaming.pipelines.bad_ts_raises", raised.size.toDouble)
    raised.foreach(e => rec.find("dd consumer raises on an unparseable timestamp_utc " +
      s"instead of rejecting the sample: ${e.getClass.getName}"))
  }

  // ------------------------------------------------------------ sensor_stream

  /** One live topology: broker stub, benchmark subscriber on the sink
    * topic, the dd module from a settings file (bridge in, wire sink out). */
  final class Topology(spark: SparkSession, dir: Path, warm: Seq[String]) {
    val broker = new MqttBrokerStub(0)
    val received = new ConcurrentLinkedQueue[(Long, String)]()
    /** Called on the subscriber thread at each receipt (the traced run's
      * live sample spans). */
    @volatile var onReceipt: (Long, String) => Unit = (_, _) => ()
    private val sub = new MqttWireClient("127.0.0.1", broker.port, "perfbench-sub")
    private val subscribed = new CountDownLatch(1)
    sub.connect()
    private val subThread = new Thread(() =>
      try sub.subscribeLoop(OutTopic, () => subscribed.countDown()) { (_, p) =>
        val at = System.nanoTime()
        val payload = new String(p, java.nio.charset.StandardCharsets.UTF_8)
        received.add((at, payload))
        try onReceipt(at, payload) catch { case _: Exception => () } // the check reports bad output
      } catch { case _: Throwable => () }, "perfbench-subscriber")
    subThread.setDaemon(true)
    subThread.start()
    require(subscribed.await(15, TimeUnit.SECONDS), "subscriber did not subscribe")

    val gen = new MqttWireClient("127.0.0.1", broker.port, "perfbench-gen")
    gen.connect()
    val spool: Path = dir.resolve("spool")
    // warm-up samples wait in the spool, so the query's first trigger takes
    // them at start instead of at a trigger phase the set-up time would
    // depend on
    prespool(spool, warm)
    val prespooled: Int = warm.size
    private val settings = dir.resolve("settings.json")
    Files.writeString(settings,
      s"""{"collection_event_interval_ms": 1000,
         | "dd": {"mqtt": {"topic": "$InTopic", "host": "127.0.0.1", "port": ${broker.port}},
         |        "sink_topic": "$OutTopic"}}""".stripMargin)
    val query: StreamingQuery = ModuleRegistry.start(spark,
      ModuleRegistry.fromConfig(settings.toString)("dd"), spool.toString,
      Some(dir.resolve("checkpoint").toString))

    def publish(payload: String): Unit =
      gen.publish(InTopic, payload.getBytes(java.nio.charset.StandardCharsets.UTF_8), 1)

    /** Wait until `n` payloads have been received, or `timeoutMs` passed. */
    def awaitReceived(n: Int, timeoutMs: Long): Boolean = {
      val end = System.currentTimeMillis() + timeoutMs
      while (received.size < n && System.currentTimeMillis() < end) Thread.sleep(5)
      received.size >= n
    }

    def close(): Unit = {
      query.stop()
      gen.close(); sub.close(); subThread.join(5000)
      broker.close()
    }
  }

  val WarmN = 20

  /** Set up from main's start: session, topology, and the first trigger
    * (with code generation) carrying warm-up samples through to the
    * subscriber. */
  def setupStream(ctx: Ctx, samples: Samples): (SparkSession, Topology) = ctx.setup {
    val spark = ctx.session(ctx.cores)
    val warm = (0 until WarmN).map(j => WarmBase + j).filterNot(samples.malformed)
    val topo = new Topology(spark, ctx.fresh("stream"), warm.map(samples.payload))
    require(topo.awaitReceived(warm.size, 60000), "warm-up samples never reached the subscriber")
    topo.received.clear()
    (spark, topo)
  }

  /** Set up and stop: one more set-up round in a JVM of its own, so every
    * round is timed from a cold start like the measuring run's. */
  def setupOnly(ctx: Ctx): Unit = setupStream(ctx, new Samples(ctx.seed))._2.close()

  def sensorStream(ctx: Ctx, rec: Record): Unit = {
    val samples = new Samples(ctx.seed)
    val (spark, topo) = setupStream(ctx, samples)
    val n = RatePerS * ctx.seconds
    val intervalNs = 1000000000L / RatePerS
    val gc0 = Jvm.gc()
    // the traced run measures its first half untraced: the tracing overhead
    // is the second half's latency against the first half's. In the traced
    // half each sample's span (due time -> receipt) and its publish child
    // are recorded live, by the send loop and the subscriber thread.
    val traceFrom = if (ctx.trace) n / 2 else Int.MaxValue
    val sched = new Array[Long](n)
    val sampleSpan = new java.util.concurrent.atomic.AtomicIntegerArray(Array.fill(n)(-1))
    val t0 = System.nanoTime() + 50000000L
    if (ctx.trace) {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      topo.onReceipt = { (at, p) =>
        val k = mapper.readTree(p).path("rh_outdoor").asDouble(-1).toLong
        if (k >= traceFrom && k < n && sampleSpan.get(k.toInt) >= 0) {
          val s = rec.spans
          s.fill(sampleSpan.get(k.toInt), s"sample-$k", "e2e", -1, s.msOfNanos(sched(k.toInt)),
            s.msOfNanos(at))
        }
      }
    }
    var i = 0
    while (i < n) {
      if (i == traceFrom) rec.spans.on = true
      sched(i) = t0 + i * intervalNs
      var now = System.nanoTime()
      while (now < sched(i)) {
        java.util.concurrent.locks.LockSupport.parkNanos(sched(i) - now)
        now = System.nanoTime()
      }
      rec.add("sources.wire.gen_lag_ms", (now - sched(i)) / 1e6)
      val root = rec.spans.reserve()
      if (root >= 0) sampleSpan.set(i, root)
      topo.publish(samples.payload(i))
      val sent = System.nanoTime()
      rec.spans.add("publish", "sources.wire", root, rec.spans.msOfNanos(now), rec.spans.msOfNanos(sent))
      rec.add("sources.wire.publish_ms", (sent - now) / 1e6)
      i += 1
    }
    val ids = (0L until n).toVector
    val valid = ids.count(id => !samples.malformed(id))
    topo.awaitReceived(valid, 20000)
    Thread.sleep(1500) // let a late duplicate or malformed publish show
    val (gcMs, gcOld) = Jvm.gc()
    rec.set("jvm.gc_ms", (gcMs - gc0._1).toDouble)
    rec.set("jvm.gc_old_n", (gcOld - gc0._2).toDouble)
    rec.set("heap_live_mb", Jvm.liveHeapMb())

    val got = topo.received.asScala.toVector
    rec.attempted = n
    samples.check(ids, got.map(_._2)).foreach(rec.fail)
    // latency is computed from these by stats.open_loop_latencies: receipt
    // against the time each sample was due, so a stall is charged to every
    // sample queued behind it
    rec.set("sched_t0_ms", rec.spans.msOfNanos(t0))
    rec.set("sched_interval_ms", intervalNs / 1e6)
    rec.set("trace_from", math.min(traceFrom, n).toDouble)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    got.foreach { case (at, p) =>
      val id = mapper.readTree(p).path("rh_outdoor").asDouble(-1).toLong
      if (id >= 0 && id < n) {
        rec.add("receipt_id", id.toDouble)
        rec.add("receipt_ms", rec.spans.msOfNanos(at))
      }
    }
    // samples delivered per second, from the first sample's due time to the
    // last receipt: a slower drain of the last triggers lowers it
    got.map(_._1).maxOption.foreach(last => rec.add("throughput_per_s", got.size / ((last - t0) / 1e9)))
    rec.set("sources.wire.bridged",
      (MqttLike.densePrefix(lane(topo.spool, InTopic)) - topo.prespooled).toDouble)
    rec.set("sources.sink.published", got.size.toDouble)
    recordProgress(rec, topo.query, ctx.trace)
    val inLane = lane(topo.spool, InTopic)
    topo.close()
    badTimestampProbe(spark, rec)
    if (ctx.trace) {
      probes(spark, rec, samples, ids, inLane, ctx.fresh("probe"))
      rec.spans.on = false
      baselineDrains(ctx, rec, samples)
    }
  }

  // -------------------------------------------------------- baseline drains

  /** Samples per baseline drain: enough that the drain, not the query
    * start, dominates its time on a 4-core host. */
  val BacklogN = 20000

  /** Spool `payloads` into a fresh spool's input lane with one cached seq
    * (plain `publish` lists the lane once per message). */
  def prespool(spool: Path, payloads: Seq[String]): Unit = {
    var seq = 0L
    payloads.foreach(p => seq = MqttLike.publishFrom(spool.toString, InTopic, p, "", seq) + 1)
  }

  /** A fresh spool whose input lane holds the messages of `from`'s input
    * lane: one hard link per message, so repeated drains of one backlog
    * cost no payload writes. */
  def linkSpool(from: Path, to: Path): Unit = {
    val (src, dst) = (lane(from, InTopic), lane(to, InTopic))
    Files.createDirectories(dst)
    MqttLike.listSeqs(src).foreach(s => Files.createLink(dst.resolve(s"$s.msg"), src.resolve(s"$s.msg")))
  }

  /** One drain: start the registered dd module on a spooled backlog of
    * `n` messages and wait until its micro-batches have taken all of them
    * (a batch reports progress after its sink writes). Returns the stopped
    * query, the start epoch ms and each sink file's publish epoch ms, in
    * seq order. */
  def drain(spark: SparkSession, dir: Path, n: Int, timeoutMs: Long): (StreamingQuery, Double, Seq[(Path, Double)]) = {
    val spool = dir.resolve("spool")
    val start = System.currentTimeMillis().toDouble
    val q = ModuleRegistry.start(spark, "dd", spool.toString, Some(dir.resolve("checkpoint").toString))
    val end = System.currentTimeMillis() + timeoutMs
    while (q.recentProgress.map(_.numInputRows).sum < n && System.currentTimeMillis() < end && q.isActive)
      Thread.sleep(10)
    q.stop()
    val out = lane(spool, OutTopic)
    (q, start, MqttLike.listSeqs(out).map { seq =>
      val f = out.resolve(s"$seq.msg")
      f -> Files.getLastModifiedTime(f).to(TimeUnit.MICROSECONDS) / 1e3
    })
  }

  /** The single-thread reference: the same dd job draining one backlog of
    * [[BacklogN]] samples on `local[n]` and on `local[1]` (spool transport,
    * registered module). Traced runs only; a reference number beside the
    * per-layer metrics, not an end-to-end metric. */
  def baselineDrains(ctx: Ctx, rec: Record, samples: Samples): Unit = {
    val ids = (0L until BacklogN).map(_ + 2 * WarmBase)
    val source = ctx.fresh("backlog-source").resolve("spool")
    prespool(source, ids.map(samples.payload))
    Seq("baseline.drain_msgs_per_s" -> ctx.cores, "baseline.local1_drain_msgs_per_s" -> 1).foreach {
      case (name, cores) =>
        val spark = ctx.session(cores)
        // one small drain first, so the timed one is not the session's first
        val warm = ctx.fresh(s"backlog-warm-$cores")
        prespool(warm.resolve("spool"), ids.take(300).map(samples.payload))
        drain(spark, warm, 300, 60000)
        val dir = ctx.fresh(s"backlog-$cores")
        linkSpool(source, dir.resolve("spool"))
        val (_, start, files) = drain(spark, dir, ids.size, 120000)
        rec.attempted += ids.size
        samples.check(ids, files.map(f => Files.readString(f._1))).foreach(rec.fail)
        rec.set(name, files.size / math.max(1e-3, (files.map(_._2).maxOption.getOrElse(start) - start) / 1e3))
    }
  }
}
