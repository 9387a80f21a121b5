package graft.functions

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Byte-level VIDEO-container header parser — the video leg of the E5
  * multimodal pipeline (SURVEY §2.4), completing the image
  * ([[ImageHeader]]) / audio ([[AudioHeader]]) / video triple. Frame
  * decoding needs a codec; presentation metadata does not — it lives in
  * the MP4 movie header, published in ISO/IEC 14496-12 (ISO BMFF):
  *
  *  - The file is a tree of boxes: u32 big-endian size (1 → a u64
  *    "largesize" follows; 0 → box extends to EOF), 4-char type, payload.
  *  - The top-level walk finds "moov"; its children are walked for "mvhd"
  *    (movie header: version u8 — v0 has u32 create/modify/duration, v1
  *    u64 — then timescale u32 and duration in timescale units) and the
  *    "trak" boxes (one per track), which are counted, not descended.
  *
  * Both mvhd versions must be handled — they move the timescale field.
  *
  * The second container family is AVI (Microsoft RIFF spec): the avih
  * main header inside LIST('hdrl') carries dwMicroSecPerFrame,
  * dwTotalFrames and dwStreams — reported on the same struct with
  * timescale pinned at 1000 (duration == duration_ms).
  *
  * Anything unrecognized, truncated mid-box, or torn (a child box
  * overrunning its parent's extent) yields NULL, never a guess. One
  * codegen'd call per row; bytes are read in place. */
object VideoHeader extends MetaParser {

  import ByteReads.{be32, be64, fourcc, le32u}

  val name = "video_meta"

  /** `video_meta(payload)` → struct<mime string, timescale int, duration
    * bigint, duration_ms bigint, n_tracks int>, null for unrecognized
    * payloads. */
  val schema: StructType = StructType(Seq(
    StructField("mime", StringType, nullable = false),
    StructField("timescale", IntegerType, nullable = false),
    StructField("duration", LongType, nullable = false),
    StructField("duration_ms", LongType, nullable = false),
    StructField("n_tracks", IntegerType, nullable = false)))

  /** Parse (mime, timescale, duration, duration_ms, n_tracks) from MP4
    * header bytes; null if not a recognized, intact movie header. */
  def compute(b: Array[Byte]): InternalRow = {
    val r = parse(b)
    if (r == null) null
    else new GenericInternalRow(Array[Any](
      UTF8String.fromString(r._1), r._2, r._3, r._4, r._5))
  }

  /** JVM-facing form for Dataset/mapPartitions callers. */
  def parse(b: Array[Byte]): (String, Int, Long, Long, Int) = {
    if (b == null || b.length < 16) return null
    // AVI (Microsoft RIFF spec): RIFF('AVI ' LIST('hdrl' avih …) …) —
    // presentation metadata lives in the avih main header. Reported on
    // the same struct with timescale fixed at 1000 (AVI counts time in
    // microseconds per frame; duration == duration_ms by construction).
    if (fourcc(b, 0, "RIFF") && fourcc(b, 8, "AVI ")) return parseAvi(b)
    // ANIMATED GIF (r15, the third container family): >= 2 image
    // descriptors by the GifFrames block walk makes a GIF a video —
    // duration from the summed graphic-control delays (timescale 100,
    // i.e. centiseconds, per the GIF89a spec), one "track". A
    // single-frame or torn GIF stays out of the video triage (the image
    // leg / refusal handles it), so the precedence flip in mediaKind
    // cannot re-classify ordinary GIF images.
    if (GifFrames.isGif(b)) {
      val (n, delayCs) = GifFrames.walk(b)
      return if (n < 2) null
      else ("image/gif", 100, delayCs, delayCs * 10, 1)
    }
    // an ISO BMFF file opens with an ftyp box (the brand declaration)
    if (!fourcc(b, 4, "ftyp")) return null
    var off = 0
    while (off + 8 <= b.length) {
      val size = boxSize(b, off)
      if (size < 0) return null
      if (fourcc(b, off + 4, "moov")) {
        val end = off.toLong + size
        if (end > b.length) return null // moov torn: don't scan a lie
        return parseMoov(b, off + headerLen(b, off), end.toInt)
      }
      // Long-space advance: a near-Int-max size must end the walk (no
      // moov found), not wrap into a negative index
      if (off.toLong + size > b.length) return null
      off += size
    }
    null
  }

  private def parseMoov(b: Array[Byte], start: Int, end: Int): (String, Int, Long, Long, Int) = {
    var off = start
    var timescale = -1; var duration = -1L; var tracks = 0
    while (off + 8 <= end) {
      val size = boxSize(b, off)
      if (size < 0 || off.toLong + size > end) return null // child overruns parent
      if (fourcc(b, off + 4, "mvhd")) {
        val p = off + headerLen(b, off)
        if (p + 4 > end) return null
        val version = b(p) & 0xFF
        if (version == 0) {
          // verflags(4) + ctime(4) + mtime(4) + timescale(4) + duration(4)
          if (p + 20 > end) return null
          timescale = be32(b, p + 12)
          duration = be32(b, p + 16) & 0xFFFFFFFFL
        } else if (version == 1) {
          // verflags(4) + ctime(8) + mtime(8) + timescale(4) + duration(8)
          if (p + 32 > end) return null
          timescale = be32(b, p + 20)
          duration = be64(b, p + 24)
        } else return null
      } else if (fourcc(b, off + 4, "trak")) {
        tracks += 1
      }
      off += size
    }
    if (timescale <= 0 || duration < 0) return null
    if (duration > Long.MaxValue / 1000L) return null // ms form would overflow
    ("video/mp4", timescale, duration, duration * 1000L / timescale, tracks)
  }

  /** RIFF-AVI walk: find LIST('hdrl'), read its leading avih chunk (the
    * AVIMAINHEADER, 56 bytes): dwMicroSecPerFrame u32 LE at +0,
    * dwTotalFrames at +16, dwStreams at +24. duration_ms =
    * usPerFrame·totalFrames/1000 in exact Long math with an overflow
    * refusal (both fields are u32 — the product can pass 2^63). A
    * missing or torn hdrl/avih yields null, never a guess. */
  private def parseAvi(b: Array[Byte]): (String, Int, Long, Long, Int) = {
    val top = new ByteReads.Chunks(b, 12, b.length, bigEndian = false)
    while (top.next()) {
      val hdrl = top.list("hdrl")
      if (hdrl != null) {
        while (hdrl.next()) {
          if (hdrl.is("avih")) {
            // the header's 14 declared u32 fields must fit the chunk AND
            // the LIST extent — a truncated avih reads garbage otherwise
            val p = hdrl.body
            if (hdrl.size < 56 || p + 56 > hdrl.until) return null
            val usPerFrame = le32u(b, p)
            val totalFrames = le32u(b, p + 16)
            val streams = le32u(b, p + 24)
            if (streams > Int.MaxValue) return null
            if (usPerFrame != 0 && totalFrames > Long.MaxValue / usPerFrame)
              return null // u32·u32 can pass 2^63
            val durMs = usPerFrame * totalFrames / 1000L
            return ("video/x-msvideo", 1000, durMs, durMs, streams.toInt)
          }
        }
        return null // hdrl without an avih: not a movie header we can read
      }
    }
    // an overrunning chunk ends the clamped walk: only an hdrl LIST answers
    null
  }

  /** Total box length at off, or -1 if unparseable. Handles the size==1
    * (64-bit largesize) and size==0 (to end-of-buffer) forms. */
  private def boxSize(b: Array[Byte], off: Int): Int = {
    val s = be32(b, off) & 0xFFFFFFFFL
    if (s == 0L) b.length - off // last box: extends to EOF
    else if (s == 1L) {
      if (off + 16 > b.length) return -1
      val ls = be64(b, off + 8)
      if (ls < 16 || ls > Int.MaxValue) -1 else ls.toInt
    } else if (s < 8 || s > Int.MaxValue) -1
    else s.toInt
  }

  private def headerLen(b: Array[Byte], off: Int): Int =
    if ((be32(b, off) & 0xFFFFFFFFL) == 1L) 16 else 8

}
