package graft.sources

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.{Collections => JCollections}
import scala.jdk.CollectionConverters._

/** Periodic-HTTP-poll micro-batch source (SURVEY §2.1 S5): the reference's
  * hko module GETs a weather endpoint on every collection tick
  * (`/root/reference/src/modules/hko/hko.cpp:94-100`); this source makes
  * that fetch loop a first-class streaming relation — one row per completed
  * poll: (url, body, fetch_ts, poll_seq).
  *
  * Poll mechanics: each trigger's `latestOffset()` performs at most one
  * fetch, throttled to `minIntervalMs` (the reference's
  * collection_event_interval_ms), and lands the body in a poll cache —
  * `<seq>.poll`, first line = fetch epoch-micros, rest = body, written
  * tmp+atomic-move. Offsets count cached polls, so micro-batches are
  * contiguous replayable ranges and a checkpointed restart re-reads
  * exactly the committed polls — the same exactly-once contract as
  * graft-mqtt. A failed fetch holds the offset (the reference logs and
  * keeps looping, `hko.cpp:127-129`).
  *
  * `file://` URLs are first-class so tests and air-gapped runs can
  * substitute the transport exactly the way graft-mqtt substitutes the
  * broker; `http(s)://` uses the JDK's URLConnection.
  *
  * Usage:
  * {{{
  *   spark.readStream.format("graft-http")
  *     .option("url", endpoint).option("minIntervalMs", "1000")
  *     .option("cacheDir", dir).load()
  * }}}
  */
class HttpPollProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-http"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = HttpPoll.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new HttpPollTable(properties.asScala.toMap)
}

object HttpPoll {
  val Schema: StructType = StructType(Seq(
    StructField("url", StringType, nullable = false),
    StructField("body", StringType, nullable = false),
    StructField("fetch_ts", TimestampType, nullable = false),
    StructField("poll_seq", LongType, nullable = false)))

  /** One GET. Throws on any failure — the caller treats that as "no new
    * poll this tick". */
  def fetch(url: String): String =
    if (url.startsWith("file:")) Files.readString(Paths.get(java.net.URI.create(url)))
    else {
      val conn = java.net.URI.create(url).toURL.openConnection()
      conn.setConnectTimeout(10000)
      conn.setReadTimeout(10000)
      val in = conn.getInputStream
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    }

  /** Sorted cached poll seqs — the spool's foreign-file-tolerant listing
    * (one helper for both connectors; a stray non-numeric `.poll` file is
    * ignored, never a stream-killing parse error). */
  def listPolls(dir: Path): Seq[Long] = MqttLike.listNumbered(dir, ".poll")

  /** Read a cached poll: (fetch epoch-micros, body). */
  def readPoll(dir: Path, seq: Long): (Long, String) = {
    val raw = Files.readString(dir.resolve(s"$seq.poll"))
    val nl = raw.indexOf('\n')
    (raw.substring(0, nl).toLong, raw.substring(nl + 1))
  }

  /** Default poll-cache location: `<checkpoint>/http-polls`. Spark hands
    * `toMicroBatchStream` the checkpoint as a *URI string* (`file:/tmp/ck/
    * sources/0`); treating it as a filesystem path would create a literal
    * `file:` directory under the driver CWD, and a restart from a different
    * CWD would find committed offsets pointing at polls that no longer
    * resolve — breaking the replay contract. Parse the URI; non-file
    * checkpoint filesystems must pass an explicit local `cacheDir` (the
    * cache is driver-local by design: the driver is the only poller). */
  private[sources] def resolvePollDir(checkpointLocation: String): Path = {
    // Hadoop Path, not java.net.URI.create: Spark hands over the qualified
    // checkpoint string unencoded (a space in the path would make
    // URI.create throw, and any raw-string fallback recreates the literal
    // CWD-relative 'file:' directory this method exists to prevent)
    val uri = new org.apache.hadoop.fs.Path(checkpointLocation).toUri
    val base =
      if (uri.getScheme == null || uri.getScheme == "file") Paths.get(uri.getPath)
      else throw new IllegalArgumentException(
        s"graft-http: checkpoint scheme '${uri.getScheme}' is not a local path; " +
          "pass option cacheDir to place the driver-local poll cache explicitly")
    base.resolve("http-polls")
  }
}

class HttpPollTable(rawProps: Map[String, String]) extends Table with SupportsRead {
  private val props = rawProps.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
  private val url = props.getOrElse("url",
    throw new IllegalArgumentException("graft-http requires option url"))
  private val minIntervalMs = props.getOrElse("minintervalms", "1000").toLong
  private val cacheDir = props.get("cachedir")

  override def name(): String = s"graft-http:$url"
  override def schema(): StructType = HttpPoll.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    JCollections.unmodifiableSet(new java.util.HashSet(java.util.Arrays.asList(
      TableCapability.MICRO_BATCH_READ)))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = HttpPoll.Schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new HttpPollMicroBatchStream(url, minIntervalMs,
          // default the poll cache next to the checkpoint: replay after
          // restart needs the polls the committed offsets point at
          cacheDir.fold(HttpPoll.resolvePollDir(checkpointLocation))(Paths.get(_)))
    }
}

class HttpPollMicroBatchStream(url: String, minIntervalMs: Long, cacheDir: Path)
  extends MicroBatchStream {

  @transient private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  // throttles ATTEMPTS, not successes: a failing endpoint must wait out the
  // interval like the reference's loop does (hko.cpp sleeps a full tick
  // between tries), not re-block the driver's microbatch thread every
  // trigger. MONOTONIC clock: wall time can step backwards under NTP, and
  // a wall-clock delta going negative would silently stop polling for the
  // whole step duration. Initialized one interval in the past so the
  // first call polls immediately.
  private var lastAttemptNs =
    System.nanoTime() - java.util.concurrent.TimeUnit.MILLISECONDS.toNanos(minIntervalMs) - 1

  // the stream is the only writer to its poll cache, so the directory is
  // listed ONCE per driver lifetime (a restart re-lists): re-listing every
  // trigger costs O(polls log polls) forever on a long-lived query
  private var nextSeq = -1L

  // The highest offset the CHECKPOINT has ever shown this stream
  // (deserialized start/end offsets on restart, committed ends live).
  // nextSeq is floored at it: the cache listing alone is NOT a safe seq
  // authority — after the blessed external janitor prunes seqs below the
  // committed offset (or the cache is lost while the checkpoint
  // survives), a listing-derived nextSeq would restart at 0 and REUSE
  // committed seq numbers, silently replaying new bodies under seqs
  // downstream already consumed.
  private val checkpointFloor = new java.util.concurrent.atomic.AtomicLong(0L)
  private def raiseFloor(o: Offset): Offset = {
    o match {
      case s: SeqOffset =>
        checkpointFloor.getAndAccumulate(s.count, math.max(_, _))
      case _ => ()
    }
    o
  }

  override def initialOffset(): Offset = SeqOffset(0L)
  override def deserializeOffset(json: String): Offset = raiseFloor(SeqOffset.parse(json))
  // polls retained for replay DELIBERATELY: the cache doubles as the
  // poll archive (a fresh checkpoint replays history from seq 0). A
  // deployment that wants bounded storage prunes seqs below the
  // committed offset on its own cadence — an external janitor, not the
  // source, owns the retention policy.
  override def commit(end: Offset): Unit = { raiseFloor(end); () }

  /** Poll-then-report: at most one fetch per call, rate-limited; the
    * offset is simply how many polls have ever been cached. */
  override def latestOffset(): Offset = {
    if (nextSeq < 0L) {
      // first call of this driver's lifetime: clear any tmp a CRASHED
      // previous writer left behind, then list once. Running the janitor
      // per tick would re-list the unboundedly-growing archive on every
      // poll — the O(n)-per-tick cost class nextSeq's caching removed.
      // (Janitor failure must not kill the query: problems hold the
      // offset, never crash the stream.)
      try MqttLike.ageTmpsIn(cacheDir, ".poll-", ".tmp")
      catch { case scala.util.control.NonFatal(_) => () }
      nextSeq = HttpPoll.listPolls(cacheDir).lastOption.fold(0L)(_ + 1)
    }
    // the checkpoint outranks the listing (see checkpointFloor)
    nextSeq = math.max(nextSeq, checkpointFloor.get())
    val nowNs = System.nanoTime()
    if (nowNs - lastAttemptNs >=
        java.util.concurrent.TimeUnit.MILLISECONDS.toNanos(minIntervalMs)) {
      lastAttemptNs = nowNs
      try {
        val body = HttpPoll.fetch(url)
        Files.createDirectories(cacheDir)
        val tmp = cacheDir.resolve(s".poll-${java.util.UUID.randomUUID()}.tmp")
        try {
          Files.writeString(tmp, s"${System.currentTimeMillis() * 1000L}\n$body")
          Files.move(tmp, cacheDir.resolve(s"$nextSeq.poll"), StandardCopyOption.ATOMIC_MOVE)
        } catch {
          // our own failed write must not depend on the 15-minute orphan
          // janitor: delete the scratch now (best-effort)
          case scala.util.control.NonFatal(e) =>
            try Files.deleteIfExists(tmp)
            catch { case _: java.io.IOException => () }
            throw e
        }
        nextSeq += 1
      } catch {
        // a thread interrupt is SHUTDOWN, not an endpoint failure: restore
        // the flag and propagate so stop isn't delayed a full fetch
        // timeout and the log doesn't blame the endpoint
        case e @ (_: InterruptedException | _: java.io.InterruptedIOException |
                  _: java.nio.channels.ClosedByInterruptException) =>
          Thread.currentThread().interrupt()
          throw e
        // hold the offset and retry next interval — but SAY so (the
        // reference logs before looping, hko.cpp:127-129): a misconfigured
        // url would otherwise be indistinguishable from "no data yet"
        case scala.util.control.NonFatal(e) =>
          log.warn(s"graft-http: poll of $url failed, offset held " +
            s"(retry in ${minIntervalMs} ms): $e")
      }
    }
    SeqOffset(nextSeq)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (s, e) = (start.asInstanceOf[SeqOffset].count, end.asInstanceOf[SeqOffset].count)
    if (e <= s) Array.empty
    else {
      // a backlog (restart replay) reads in parallel chunks; live polls are
      // one row per micro-batch
      val step = 100L
      (s until e by step).map(lo =>
        HttpPollPartition(cacheDir.toString, url, lo, math.min(e, lo + step)): InputPartition).toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = new PartitionReaderFactory {
    override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
      val p = partition.asInstanceOf[HttpPollPartition]
      new PartitionReader[InternalRow] {
        private var seq = p.fromSeq - 1
        override def next(): Boolean = { seq += 1; seq < p.untilSeq }
        override def get(): InternalRow = {
          val (tsUs, body) =
            try HttpPoll.readPoll(Paths.get(p.dir), seq)
            catch {
              case e: java.nio.file.NoSuchFileException =>
                // steer the two real causes instead of a bare missing-file
                // trace: the cache is written by the DRIVER, so in a
                // multi-host deployment cacheDir must be shared storage
                // executors can see; and pruning seqs the checkpoint still
                // references breaks the replay contract
                throw new java.io.IOException(
                  s"graft-http: cached poll $seq missing from ${p.dir}. The " +
                    "poll cache is driver-written: executors on other hosts " +
                    "need cacheDir on SHARED storage, and an external janitor " +
                    "must never prune seqs at or above the committed offset.", e)
            }
          InternalRow(UTF8String.fromString(p.url), UTF8String.fromString(body),
            tsUs, seq)
        }
        override def close(): Unit = ()
      }
    }
  }

  override def stop(): Unit = ()
}

case class HttpPollPartition(dir: String, url: String, fromSeq: Long, untilSeq: Long)
  extends InputPartition
