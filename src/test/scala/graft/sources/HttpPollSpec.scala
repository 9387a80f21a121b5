package graft.sources

import graft.SparkTestBase
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** The graft-http periodic-poll source (S5): the reference's hko fetch loop
  * as a micro-batch relation. file:// substitutes the transport exactly the
  * way graft-mqtt substitutes the broker. */
class HttpPollSpec extends SparkTestBase {

  // generous timeout: suites run in parallel, and a loaded scheduler can
  // starve a 100 ms-trigger stream for tens of seconds without any bug
  private def awaitCount(name: String, n: Long, timeoutMs: Long = 60000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (spark.table(name).count() < n) {
      assert(System.currentTimeMillis() < deadline,
        s"timed out waiting for $n rows in $name, have ${spark.table(name).count()}")
      Thread.sleep(100)
    }
  }

  test("polls land as rows; content changes produce new polls; seqs stay dense") {
    val doc = java.nio.file.Files.createTempFile("hko", ".json")
    val cache = java.nio.file.Files.createTempDirectory("polls").toString
    java.nio.file.Files.writeString(doc, """{"v": 1}""")
    val q = spark.readStream.format("graft-http")
      .option("url", doc.toUri.toString).option("minIntervalMs", "300")
      .option("cacheDir", cache).load()
      .writeStream.format("memory").queryName("http1")
      .outputMode(OutputMode.Append()).trigger(Trigger.ProcessingTime("100 milliseconds"))
      .start()
    try {
      awaitCount("http1", 1)
      java.nio.file.Files.writeString(doc, """{"v": 2}""")
      // wait for the CONTENT, not a row count: the poller samples on its
      // interval, so any number of v1 polls may land before the v2 write
      val deadline = System.currentTimeMillis() + 60000
      while (spark.table("http1").where("body = '{\"v\": 2}'").isEmpty) {
        assert(System.currentTimeMillis() < deadline,
          "updated endpoint content must arrive as a later poll")
        Thread.sleep(100)
      }
      val rows = spark.table("http1").orderBy("poll_seq").collect()
      assert(rows.map(_.getAs[Long]("poll_seq")).toSeq == (0L until rows.length.toLong),
        "poll seqs must be dense from 0")
      assert(rows.head.getAs[String]("body") == """{"v": 1}""")
      assert(rows.map(_.getAs[String]("body")).contains("""{"v": 2}"""),
        "updated endpoint content must arrive as a later poll")
      assert(rows.forall(_.getAs[java.sql.Timestamp]("fetch_ts") != null))
    } finally q.stop()
  }

  test("fetch failure holds the offset and recovers on the next tick") {
    val dir = java.nio.file.Files.createTempDirectory("httpmiss")
    val doc = dir.resolve("missing.json") // does not exist yet
    val cache = java.nio.file.Files.createTempDirectory("polls2").toString
    val q = spark.readStream.format("graft-http")
      .option("url", doc.toUri.toString).option("minIntervalMs", "100")
      .option("cacheDir", cache).load()
      .writeStream.format("memory").queryName("http2")
      .outputMode(OutputMode.Append()).trigger(Trigger.ProcessingTime("100 milliseconds"))
      .start()
    try {
      Thread.sleep(800) // several failing ticks: must not throw or emit
      assert(spark.table("http2").count() == 0)
      java.nio.file.Files.writeString(doc, "now alive")
      awaitCount("http2", 1)
      assert(spark.table("http2").head().getAs[String]("body") == "now alive")
    } finally q.stop()
  }

  test("checkpointed restart replays committed polls exactly once") {
    val doc = java.nio.file.Files.createTempFile("hko3", ".json")
    java.nio.file.Files.writeString(doc, "content-a")
    val ckpt = java.nio.file.Files.createTempDirectory("httpckpt").toString
    val out = java.nio.file.Files.createTempDirectory("httpout").toString
    def start() = spark.readStream.format("graft-http")
      .option("url", doc.toUri.toString).option("minIntervalMs", "200").load()
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).trigger(Trigger.ProcessingTime("100 milliseconds"))
      .start()
    def written(): Long = // no parquet files yet -> 0
      try spark.read.parquet(out).count() catch { case _: Exception => 0L }
    val q1 = start()
    try {
      val deadline = System.currentTimeMillis() + 60000
      while (written() < 2) {
        assert(System.currentTimeMillis() < deadline, "no polls written")
        Thread.sleep(100)
      }
    } finally q1.stop()
    val n1 = written()
    val q2 = start()
    try {
      val deadline = System.currentTimeMillis() + 60000
      while (written() < n1 + 1) {
        assert(System.currentTimeMillis() < deadline, "restarted query produced no polls")
        Thread.sleep(100)
      }
    } finally q2.stop()
    val seqs = spark.read.parquet(out).select("poll_seq").collect().map(_.getLong(0)).sorted
    assert(seqs.toSeq == (0L until seqs.length.toLong),
      s"restart must resume after the checkpointed offset with no gaps/dups, got ${seqs.toSeq}")
    // the default cache must land NEXT TO THE CHECKPOINT (URI-resolved), not
    // as a literal `file:` directory under the driver CWD — a restart from a
    // different CWD would otherwise lose every committed poll
    assert(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(ckpt).resolve("sources/0/http-polls")),
      "default poll cache must resolve under the checkpoint directory")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get("file:")),
      "checkpoint URI must never be mis-parsed into a CWD-relative 'file:' dir")
  }

  test("default cache dir resolves the checkpoint URI, rejects remote schemes") {
    assert(HttpPoll.resolvePollDir("file:/tmp/ck/sources/0") ==
      java.nio.file.Paths.get("/tmp/ck/sources/0/http-polls"))
    assert(HttpPoll.resolvePollDir("/tmp/ck/sources/0") ==
      java.nio.file.Paths.get("/tmp/ck/sources/0/http-polls"))
    assert(HttpPoll.resolvePollDir("file:///tmp/ck/sources/0") ==
      java.nio.file.Paths.get("/tmp/ck/sources/0/http-polls"))
    // Spark hands the checkpoint over UNencoded: a space must not throw and
    // must not fall back to a CWD-relative literal 'file:' path
    assert(HttpPoll.resolvePollDir("file:/tmp/my ck/sources/0") ==
      java.nio.file.Paths.get("/tmp/my ck/sources/0/http-polls"))
    intercept[IllegalArgumentException] {
      HttpPoll.resolvePollDir("hdfs://nn:8020/ck/sources/0")
    }
  }

  test("http:// polls over a real socket: JDK HttpServer end-to-end, " +
    "content change arrives as a later poll") {
    // the http(s) branch of HttpPoll.fetch was the one untested transport
    // edge (zero egress, nothing public to fetch) — the JDK's built-in
    // HttpServer closes it over localhost, the MqttBrokerStub pattern
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    @volatile var body = """{"v": 1}"""
    server.createContext("/rhrread", (ex: com.sun.net.httpserver.HttpExchange) => {
      val b = body.getBytes("UTF-8")
      ex.sendResponseHeaders(200, b.length)
      ex.getResponseBody.write(b)
      ex.close()
    })
    server.start()
    val cache = java.nio.file.Files.createTempDirectory("polls_http").toString
    val url = s"http://127.0.0.1:${server.getAddress.getPort}/rhrread"
    val q = spark.readStream.format("graft-http")
      .option("url", url).option("minIntervalMs", "300")
      .option("cacheDir", cache).load()
      .writeStream.format("memory").queryName("http_sock")
      .outputMode(OutputMode.Append()).trigger(Trigger.ProcessingTime("100 milliseconds"))
      .start()
    try {
      awaitCount("http_sock", 1)
      assert(spark.table("http_sock").where("body = '{\"v\": 1}'").count() >= 1)
      body = """{"v": 2}"""
      val deadline = System.currentTimeMillis() + 60000
      while (spark.table("http_sock").where("body = '{\"v\": 2}'").isEmpty) {
        assert(System.currentTimeMillis() < deadline,
          "updated endpoint content must arrive as a later poll over the socket")
        Thread.sleep(100)
      }
      val urls = spark.table("http_sock").select("url").distinct().collect()
      assert(urls.map(_.getString(0)).toSeq == Seq(url))
    } finally { q.stop(); server.stop(0) }
  }

  test("a failing endpoint is attempt-throttled to minIntervalMs") {
    val dir = java.nio.file.Files.createTempDirectory("httpthrottle")
    val doc = dir.resolve("absent.json")
    val cache = java.nio.file.Files.createTempDirectory("polls3")
    val stream = new HttpPollMicroBatchStream(doc.toUri.toString, 60000L, cache)
    stream.latestOffset() // first attempt fails (file absent) and must still arm the throttle
    java.nio.file.Files.writeString(doc, "late")
    val t0 = System.nanoTime()
    (1 to 50).foreach(_ => stream.latestOffset()) // rapid triggers inside the interval
    assert((System.nanoTime() - t0) < 2e9, "throttled ticks must not re-attempt the fetch")
    assert(HttpPoll.listPolls(cache).isEmpty,
      "no fetch may happen until minIntervalMs after the FAILED attempt")
  }

  test("checkpoint floor outranks a pruned cache: committed seq numbers are " +
    "never reused after restart") {
    val doc = java.nio.file.Files.createTempFile("floorbody", ".json")
    java.nio.file.Files.writeString(doc, "payload")
    val cache = java.nio.file.Files.createTempDirectory("pollfloor")
    val st = new HttpPollMicroBatchStream(doc.toUri.toString, 0L, cache)
    (0 until 3).foreach(_ => st.latestOffset())
    assert(HttpPoll.listPolls(cache) == (0L until 3L))
    // the blessed external janitor prunes everything below the committed
    // offset — here the whole cache (offset 3 fully consumed downstream)
    HttpPoll.listPolls(cache).foreach(s =>
      java.nio.file.Files.delete(cache.resolve(s"$s.poll")))
    // restart: a fresh stream sees an empty cache but the CHECKPOINT says
    // 3 — numbering must resume at 3, never restart at 0 and replay new
    // bodies under seqs downstream already consumed
    val st2 = new HttpPollMicroBatchStream(doc.toUri.toString, 0L, cache)
    st2.deserializeOffset(SeqOffset(3L).json())
    val off = st2.latestOffset().asInstanceOf[SeqOffset].count
    assert(off == 4L, s"restart after prune must resume numbering at the floor, got $off")
    assert(HttpPoll.listPolls(cache) == Seq(3L),
      s"new poll must land at the floored seq, cache has ${HttpPoll.listPolls(cache)}")
  }

  test("foreign files in the poll cache and the spool are ignored, never a " +
    "stream-killing parse error") {
    // the caches are externally-writable interfaces: an operator's stray
    // readme/notes file must not NumberFormatException every offset poll
    val cache = java.nio.file.Files.createTempDirectory("pollforeign")
    java.nio.file.Files.writeString(cache.resolve("latest.poll"), "not a seq")
    java.nio.file.Files.writeString(cache.resolve("readme.txt"), "notes")
    java.nio.file.Files.writeString(cache.resolve("99999999999999999999.poll"), "overflow")
    val doc = java.nio.file.Files.createTempFile("foreignbody", ".json")
    java.nio.file.Files.writeString(doc, "x")
    val st = new HttpPollMicroBatchStream(doc.toUri.toString, 0L, cache)
    assert(st.latestOffset().asInstanceOf[SeqOffset].count == 1L)
    assert(HttpPoll.listPolls(cache) == Seq(0L))

    val spool = java.nio.file.Files.createTempDirectory("spoolforeign").toString
    MqttLike.publish(spool, "t/f", "m0")
    val lane = java.nio.file.Paths.get(spool, "t_f")
    java.nio.file.Files.writeString(lane.resolve("readme.msg"), "foreign")
    java.nio.file.Files.writeString(lane.resolve(".notes.claim"), "foreign")
    assert(MqttLike.listSeqs(lane) == Seq(0L))
    assert(MqttLike.repairAndDensePrefix(lane) == 1L,
      "offset poll must survive foreign .msg/.claim files")
    MqttLike.publish(spool, "t/f", "m1") // publisher's claim walk too
    assert(MqttLike.listSeqs(lane) == Seq(0L, 1L))
  }
}
