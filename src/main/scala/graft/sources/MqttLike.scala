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
import java.nio.file.{Files, Path, Paths}
import java.util.{Collections => JCollections}
import scala.jdk.CollectionConverters._

/** A full DataSourceV2 micro-batch source with the shape of the reference's
  * MQTT subscription (SURVEY §2.1 S6; ref `consumer.cpp:65-82,111-145`):
  * each message is one (topic, payload, arrival ts) row.
  *
  * TRANSPORT IS SUBSTITUTED: this container has no broker, so messages are
  * a spool directory — one file per message, monotonically named
  * `<seq>.msg` (what a tiny bridge process subscribing at QoS 1 would
  * write). Everything Spark-facing is real: offset tracking is the message
  * sequence number, so restarts resume exactly where the checkpoint says,
  * and each micro-batch is a contiguous, replayable seq range — the same
  * delivery contract the reference gets from MQTT QoS 1 + broker session.
  *
  * Usage:
  * {{{
  *   spark.readStream.format("graft-mqtt")
  *     .option("spoolDir", dir).option("topic", "sensors/dd").load()
  * }}}
  */
class MqttLikeProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-mqtt"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = MqttLike.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new MqttLikeTable(properties.asScala.toMap)
}

object MqttLike {
  /** `msg_seq` is dense per topic, from 0. */
  val Schema: StructType = StructType(Seq(
    StructField("topic", StringType, nullable = false),
    StructField("payload", StringType, nullable = false),
    StructField("msg_seq", LongType, nullable = false)))

  /** Publish one message into a spool dir (the bridge/producer side).
    * Single-writer per topic is the normal contract (one broker session —
    * `ModuleRegistry.start` coalesces the sink to one task), but concurrent
    * publishers are safe, and so are publisher CRASHES at any point:
    *
    *  1. payload is written to a unique dot-hidden tmp file;
    *  2. the seq slot is claimed by hard-LINKING the tmp as `.<seq>.claim` —
    *     link creation is O_EXCL-atomic (a collision retries the next seq)
    *     and the claim carries the FULL payload from the instant it exists,
    *     never content-less;
    *  3. the visible `<seq>.msg` is hard-linked FROM the claim — also
    *     atomic-exclusive. The claim is never deleted (dot-hidden, readers
    *     ignore it; it shares the msg's inode so costs no data): it is the
    *     permanent tombstone that stops any later writer re-claiming a slot
    *     whose msg already landed.
    *
    * A crash between 2 and 3 leaves a contentful claim with no msg — the
    * reader promotes it (a full [[repair]] on a stream's first offset
    * poll, then [[denseFrom]] at the frontier), and so does a publisher
    * on its first claim collision. Completing step 3 is idempotent, so a
    * dead publisher can never wedge the topic's dense prefix.
    *
    * The claim walk starts at this JVM's seq hint for the topic (the
    * bridge's and the sink's per-message path: one predecessor probe, one
    * tmp write, two links, one delete) and lists the topic only when the
    * JVM has not published to it yet. */
  def publish(spoolDir: String, topic: String, payload: String): Long = {
    val dir = laneDirOf(spoolDir, topic, "")
    val hint = seqHints.getOrDefault(dir.toAbsolutePath.normalize, 0L)
    publishFrom(spoolDir, topic, payload, "", if (hint > 0) hint else nextSeq(dir))
  }

  /** Publish starting the claim walk at `startSeq`. A hint behind the
    * topic only costs claim collisions, which the resync path below
    * absorbs; one ahead of it is caught by the predecessor probe.
    * `substream` must be "" ([[laneDirOf]]). */
  def publishFrom(spoolDir: String, topic: String, payload: String,
                  substream: String, startSeq: Long): Long = {
    val dir = laneDirOf(spoolDir, topic, substream)
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".pub-${java.util.UUID.randomUUID()}.tmp")
    Files.writeString(tmp, payload)
    var seq = math.max(0L, startSeq)
    // A hint AHEAD of the claim space would claim a future slot with no
    // collision (so the resync path never runs), leaving a permanent hole
    // below it that stalls densePrefix forever. Claims are dense under every
    // valid history (publish walks up from nextSeq; claims are never
    // deleted), so "predecessor claim exists" is an O(1) validity probe; a
    // missing predecessor means the hint is ahead — treat it like a
    // collision and resync before claiming.
    if (seq > 0 && !Files.exists(dir.resolve(s".${seq - 1}.claim"))) {
      repair(dir)
      seq = nextSeq(dir)
    }
    var claimed = false
    // repair lazily: an eager repair() here is a full directory listing per
    // message (O(n), O(n²) over a topic's life). The reader already
    // promotes a dead writer's claim when its walk reaches it; a publisher
    // only needs repair when a claim collision hints at such a claim
    // wedging the seq.
    var repaired = false
    while (!claimed) {
      try {
        Files.createLink(dir.resolve(s".$seq.claim"), tmp)
        claimed = true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          if (!repaired) {
            repaired = true
            repair(dir)
            seq = math.max(seq + 1, nextSeq(dir))
          } else seq += 1
      }
    }
    promote(dir, seq)
    Files.deleteIfExists(tmp)
    seqHints.put(dir.toAbsolutePath.normalize, seq + 1)
    seq
  }

  /** The next free seq of each topic this JVM has published to, keyed by
    * absolute lane dir. A hint only: [[publishFrom]] and [[nextSeqIn]]
    * validate it before use. */
  private val seqHints = new java.util.concurrent.ConcurrentHashMap[Path, Long]()

  /** Step 3: expose a claimed slot as `<seq>.msg`. Racing a repairer is
    * fine — exactly one link wins; the loser's EEXIST means "already
    * published". */
  private def promote(dir: Path, seq: Long): Unit =
    try Files.createLink(dir.resolve(s"$seq.msg"), dir.resolve(s".$seq.claim"))
    catch {
      case _: java.nio.file.FileAlreadyExistsException => () // repaired by another
      case _: java.nio.file.NoSuchFileException => ()        // defensive; claims persist
    }

  /** Complete any claim whose msg never landed (publisher died between claim
    * and publish) and age out orphaned tmp files. Idempotent, safe to race
    * with live publishers: claims are contentful by construction, so
    * promoting an in-flight claim merely publishes it a moment early. */
  def repair(dir: Path): Unit = { repairFrom(dir, listNames(dir)); () }

  private def listNames(dir: Path): Vector[String] =
    if (!Files.isDirectory(dir)) Vector.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString).toVector finally s.close()
    }

  /** Parse a `<digits><suffix>` stem to its seq, or None for a FOREIGN
    * file: the spool and poll caches are externally-writable interfaces
    * (a bridge process, an operator's stray `readme.msg`), and one
    * non-numeric stem must not NumberFormatException every subsequent
    * offset poll into a permanently dead stream — foreign files are
    * ignored, never parsed. Stems longer than 18 digits (Long overflow)
    * are foreign too. */
  private[sources] def numberedStem(name: String, suffix: String): Option[Long] =
    if (!name.endsWith(suffix)) None
    else {
      val stem = name.dropRight(suffix.length)
      if (stem.nonEmpty && stem.length <= 18 && stem.forall(_.isDigit))
        Some(stem.toLong)
      else None
    }

  /** Repair from an already-taken listing; returns the visible msg seq set
    * INCLUDING newly promoted claims, so callers that also need the dense
    * prefix pay one directory listing, not two. */
  private def repairFrom(dir: Path, names: Vector[String]): Set[Long] = {
    val msgs = names.flatMap(numberedStem(_, ".msg")).toSet
    val promoted = names.filter(_.startsWith("."))
      .flatMap(n => numberedStem(n.stripPrefix("."), ".claim"))
      .filterNot(msgs)
      .map { n => promote(dir, n); n }
    // tmp files are pre-claim scratch: an orphan older than the cutoff was
    // a publisher that died before claiming — its message was never made
    // durable, so deletion is the correct QoS-1 outcome (sender retries).
    ageTmpNames(dir, names, ".pub-", ".tmp")
    msgs ++ promoted
  }

  /** A full-listing topic poll (the reader's first on a stream instance,
    * i.e. at start and restart): repair wedges, age tmp orphans AND
    * compute the dense prefix from the SAME listing. Later polls walk on
    * from the count with [[denseFrom]]. */
  def repairAndDensePrefix(dir: Path): Long = {
    val visible = repairFrom(dir, listNames(dir))
    Iterator.from(0).takeWhile(i => visible.contains(i.toLong)).size.toLong
  }

  /** The dense prefix, walked on from a known one: `<n>.msg` present
    * advances; a `.<n>.claim` with no msg is a dead (or not yet finished)
    * publisher's, promoted here as [[repair]] would. Claims are dense and
    * never deleted, so from a dense prefix this equals
    * [[repairAndDensePrefix]]'s answer at O(new messages) instead of
    * O(topic): an idle topic costs two stats. */
  private[sources] def denseFrom(dir: Path, from: Long): Long = {
    def visible(n: Long): Boolean = Files.exists(dir.resolve(s"$n.msg")) ||
      (Files.exists(dir.resolve(s".$n.claim")) && {
        promote(dir, n); Files.exists(dir.resolve(s"$n.msg"))
      })
    var n = from
    while (visible(n)) n += 1
    n
  }

  private val TmpOrphanMs = 15L * 60 * 1000

  /** Age out orphaned scratch files (`<prefix>*<suffix>` older than
    * [[TmpOrphanMs]]) from an already-taken listing — ONE cutoff shared by
    * the spool repair and the HTTP poll cache, so the two connectors'
    * janitors cannot silently drift apart. */
  private[sources] def ageTmpNames(dir: Path, names: Iterable[String],
                                   prefix: String, suffix: String): Unit = {
    val cutoff = System.currentTimeMillis() - TmpOrphanMs
    names.filter(n => n.startsWith(prefix) && n.endsWith(suffix)).foreach { n =>
      val p = dir.resolve(n)
      try if (Files.getLastModifiedTime(p).toMillis < cutoff) Files.deleteIfExists(p)
      catch { case _: java.io.IOException => () }
    }
  }

  /** [[ageTmpNames]] with its own listing, for callers without one. */
  private[sources] def ageTmpsIn(dir: Path, prefix: String, suffix: String): Unit =
    if (Files.isDirectory(dir)) ageTmpNames(dir, listNames(dir), prefix, suffix)

  def sanitize(topic: String): String = topic.replaceAll("[^A-Za-z0-9._-]", "_")

  def listSeqs(dir: Path): Seq[Long] = listNumbered(dir, ".msg")

  /** Sorted seqs of `<digits><suffix>` files in a directory, foreign
    * files ignored ([[numberedStem]]) — ONE listing helper for the spool
    * (.msg) and the HTTP poll cache (.poll), so a parsing fix cannot
    * reach one connector and miss the other. */
  private[sources] def listNumbered(dir: Path, suffix: String): Seq[Long] =
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala
        .map(_.getFileName.toString)
        .flatMap(numberedStem(_, suffix)).toSeq.sorted
      finally s.close()
    }

  /** Length of the dense prefix 0..n-1 of visible messages. Readers scan a
    * contiguous seq range, so the stream's latest offset only advances
    * through gap-free territory — a straggling concurrent publisher (claimed
    * seq not yet moved into place) holds the offset back rather than making
    * a reader hit a missing file. */
  def densePrefix(dir: Path): Long =
    listSeqs(dir).zipWithIndex.takeWhile { case (s, i) => s == i }.size.toLong

  private def nextSeq(dir: Path): Long = listSeqs(dir).lastOption.fold(0L)(_ + 1)

  /** A topic's one lane: its spool directory. `substream` stays in the
    * public signatures only as "", the topic itself; any other value is
    * refused, so nothing is written where no reader looks. */
  private def laneDirOf(spoolDir: String, topic: String, substream: String): Path = {
    require(substream.isEmpty,
      s"graft-mqtt: a topic has one lane; substream must be \"\", got \"$substream\"")
    Paths.get(spoolDir, sanitize(topic))
  }

  /** The next free seq in a topic, for a caller that drives
    * [[publishFrom]] itself. It starts from this JVM's last publish into
    * the topic: valid if its predecessor claim
    * exists (the same O(1) probe publishFrom makes), then walked forward
    * ([[denseFrom]]) over what other publishers added since. With no hint,
    * or one the topic no longer backs (directory deleted and recreated),
    * it lists the topic. */
  def nextSeqIn(spoolDir: String, topic: String, substream: String): Long = {
    val dir = laneDirOf(spoolDir, topic, substream)
    val hint = seqHints.getOrDefault(dir.toAbsolutePath.normalize, 0L)
    if (hint > 0 && Files.exists(dir.resolve(s".${hint - 1}.claim"))) denseFrom(dir, hint)
    else nextSeq(dir)
  }
}

class MqttLikeTable(rawProps: Map[String, String]) extends Table with SupportsRead {
  private val props = rawProps.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
  private val spoolDir = props.getOrElse("spooldir",
    throw new IllegalArgumentException("graft-mqtt requires option spoolDir"))
  private val topic = props.getOrElse("topic",
    throw new IllegalArgumentException("graft-mqtt requires option topic"))

  override def name(): String = s"graft-mqtt:$topic"
  override def schema(): StructType = MqttLike.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    JCollections.unmodifiableSet(new java.util.HashSet(java.util.Arrays.asList(
      TableCapability.MICRO_BATCH_READ)))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = MqttLike.Schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new MqttLikeMicroBatchStream(spoolDir, topic)
    }
}

/** Offset = how many seqs of the one lane have been consumed (seqs are
  * dense from 0), shared by graft-mqtt and graft-http. The JSON is the
  * root-lane form `{"":n}` that checkpoints of both sources have always
  * carried, so existing checkpoints resume and older code reads new ones. */
case class SeqOffset(count: Long) extends Offset {
  override def json(): String = s"""{"":$count}"""
}

object SeqOffset {
  private val RootLane = """\{\s*(?:""\s*:\s*(-?\d+)\s*)?\}""".r

  /** Accepts `{"":n}`, `{}` (nothing consumed) and a bare integer. A
    * per-writer lane key (`{"w-0":5,"":3}`) is refused: those lanes are no
    * longer read, and resuming from the root count alone would silently
    * drop them. */
  def parse(json: String): SeqOffset = json.trim match {
    case RootLane(n) => SeqOffset(if (n == null) 0L else n.toLong)
    case t if !t.startsWith("{") => SeqOffset(t.toLong)
    case t => throw new IllegalArgumentException(
      s"graft SeqOffset: only the one-lane form {\"\":n} is read; lane offsets are not, got $t")
  }
}

class MqttLikeMicroBatchStream(spoolDir: String, topic: String) extends MicroBatchStream {
  private val dir = Paths.get(spoolDir, MqttLike.sanitize(topic))

  override def initialOffset(): Offset = SeqOffset(0L)
  override def deserializeOffset(json: String): Offset = SeqOffset.parse(json)
  // The dense prefix this instance has seen; -1 until the first poll.
  private var known = -1L
  // List once, then walk: the first poll of this instance (start or
  // restart) lists, repairs and ages the whole topic; later polls walk on
  // from `known`, promoting a dead publisher's claim at the frontier (see
  // MqttLike.publish docs), so an idle trigger costs O(1), not O(spool).
  override def latestOffset(): Offset = {
    known = if (known < 0) MqttLike.repairAndDensePrefix(dir) else MqttLike.denseFrom(dir, known)
    SeqOffset(known)
  }
  override def commit(end: Offset): Unit = () // spool retained for replay

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val base = start.asInstanceOf[SeqOffset].count
    val hi = end.asInstanceOf[SeqOffset].count
    if (hi <= base) Array.empty
    else {
      // split the contiguous seq range so a backlog reads in parallel
      val targetPerPartition = 1000L
      val nParts = math.min(32L, math.max(1L, (hi - base + targetPerPartition - 1) / targetPerPartition))
      val step = (hi - base + nParts - 1) / nParts
      (base until hi by step).map(lo =>
        MqttRangePartition(dir.toString, topic, lo, math.min(hi, lo + step)): InputPartition).toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = new PartitionReaderFactory {
    override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
      val p = partition.asInstanceOf[MqttRangePartition]
      new PartitionReader[InternalRow] {
        private var seq = p.fromSeq - 1
        override def next(): Boolean = { seq += 1; seq < p.untilSeq }
        override def get(): InternalRow = {
          val payload = Files.readString(Paths.get(p.dir, s"$seq.msg"))
          InternalRow(UTF8String.fromString(p.topic), UTF8String.fromString(payload), seq)
        }
        override def close(): Unit = ()
      }
    }
  }

  override def stop(): Unit = ()
}

case class MqttRangePartition(dir: String, topic: String, fromSeq: Long, untilSeq: Long)
  extends InputPartition
