package graft.functions

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Byte-level Ogg/Opus stream metadata parser — the web-audio leg of the
  * compressed-format family (qe5i MP3, qe5k AAC-ADTS, qe5l FLAC; SURVEY
  * §2.4 E5). Opus SAMPLES need libopus (payload decode stays behind
  * [[graft.operators.Multimodal.FakeCodec]]); the stream parameters live
  * in the OpusHead packet of the FIRST Ogg page and the granule position
  * of the LAST (RFC 7845 / RFC 3533), reachable by a pure page walk:
  *
  *  - Ogg page: "OggS", version 0, header-type flags (0x02 BOS must open
  *    the stream, 0x04 EOS must close it), granule position (u64 LE),
  *    serial / sequence / CRC (not validated — this is a checksum-free
  *    metadata walk, like the MD5 field the FLAC parser skips), then a
  *    segment count and lacing table whose byte sum is the page body
  *    length — the walk advances 27 + nseg + Σlacing per page.
  *  - OpusHead (BOS page body): magic, version 1, channel count,
  *    pre-skip (u16 LE), input sample rate (u32 LE — informational per
  *    RFC 7845, any value; surfaced as a long, never a refusal), output
  *    gain, channel-mapping family — family 0 is DEFINED only for 1-2
  *    channels (a higher count under family 0 is a torn header → NULL);
  *    family >= 1 carries stream/coupled counts plus a per-channel
  *    mapping table, validated for possibility (>= 1 stream, coupled <=
  *    streams, entries either 255-silent or < streams + coupled).
  *  - `duration_ms` is EXACT: Opus granules count 48 kHz samples
  *    regardless of input rate, so (last granule − pre-skip) · 1000 /
  *    48000 — the EOS page's granule must not undercut pre-skip.
  *
  * Truncated pages, a missing BOS/EOS flag, a non-OpusHead first packet,
  * an impossible mapping, a GROUPED or CHAINED file (a page with a
  * second serial number, or a second BOS flag — walking on would mix two
  * streams into one guessed answer), or an EOS granule whose sign bit is
  * set / whose ·1000 would overflow, all yield NULL, never a guess. One
  * codegen'd call per row; bytes read in place. */
object OggOpusHeader extends MetaParser {
  val name = "ogg_opus_meta"

  /** `ogg_opus_meta(payload)` → struct<mime string, channels int,
    * pre_skip int, input_sample_rate bigint, mapping_family int,
    * n_pages int, duration_ms bigint>, null for unrecognized payloads. */
  val schema: StructType = StructType(Seq(
    StructField("mime", StringType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("pre_skip", IntegerType, nullable = false),
    StructField("input_sample_rate", LongType, nullable = false),
    StructField("mapping_family", IntegerType, nullable = false),
    StructField("n_pages", IntegerType, nullable = false),
    StructField("duration_ms", LongType, nullable = false)))

  def compute(b: Array[Byte]): InternalRow = {
    val r = parse(b)
    if (r == null) null
    else new GenericInternalRow(Array[Any](
      UTF8String.fromString("audio/opus"), r._1, r._2, r._3, r._4, r._5, r._6))
  }

  /** Parse (channels, pre_skip, input_sample_rate, mapping_family,
    * n_pages, duration_ms) from an Ogg/Opus payload; null if not
    * recognized/intact. Endian readers are the shared [[ByteReads]] —
    * ONE definition each, never a private copy. */
  def parse(b: Array[Byte]): (Int, Int, Long, Int, Int, Long) = {
    if (b == null || b.length < 47) return null // one page + min OpusHead
    var off = 0
    var pages = 0
    var channels = -1; var preSkip = -1; var rate = -1L; var family = -1
    var serial = 0L
    var lastGranule = 0L
    var lastType = 0
    while (off < b.length) {
      if (off + 27 > b.length || !ByteReads.fourcc(b, off, "OggS")) return null
      if (b(off + 4) != 0) return null // stream structure version must be 0
      val hdrType = b(off + 5) & 0xFF
      val granule = ByteReads.le64(b, off + 6)
      val pageSerial = ByteReads.le32u(b, off + 14)
      val nseg = b(off + 26) & 0xFF
      if (off + 27 + nseg > b.length) return null // torn lacing table
      var body = 0
      var i = 0
      while (i < nseg) { body += b(off + 27 + i) & 0xFF; i += 1 }
      val bodyOff = off + 27 + nseg
      if (bodyOff + body > b.length) return null // torn page body
      if (pages == 0) {
        serial = pageSerial
        // the BOS page's first packet must be a version-1 OpusHead
        if ((hdrType & 0x02) == 0 || body < 19) return null
        if (!(ByteReads.fourcc(b, bodyOff, "Opus") &&
          ByteReads.fourcc(b, bodyOff + 4, "Head"))) return null
        if (b(bodyOff + 8) != 1) return null // OpusHead version
        channels = b(bodyOff + 9) & 0xFF
        preSkip = ByteReads.le16(b, bodyOff + 10)
        if (channels == 0) return null
        rate = ByteReads.le32u(b, bodyOff + 12) // informational u32, any value
        family = b(bodyOff + 18) & 0xFF
        // family 0 is defined only for mono/stereo; family >= 1 must
        // carry stream/coupled counts and a per-channel mapping table
        // whose entries are possible (RFC 7845 §5.1.1): >= 1 stream,
        // coupled <= streams, and every entry either 255 (silent) or an
        // index below streams + coupled
        if (family == 0 && channels > 2) return null
        if (family >= 1) {
          if (body < 21 + channels) return null
          val streams = b(bodyOff + 19) & 0xFF
          val coupled = b(bodyOff + 20) & 0xFF
          if (streams == 0 || coupled > streams || streams + coupled > 255)
            return null
          var j = 0
          while (j < channels) {
            val m = b(bodyOff + 21 + j) & 0xFF
            if (m != 255 && m >= streams + coupled) return null
            j += 1
          }
        }
      } else {
        // one logical stream only: a different serial means a grouped /
        // multiplexed file, a second BOS flag a chained one — walking on
        // would mix streams into a guessed answer
        if (pageSerial != serial || (hdrType & 0x02) != 0) return null
      }
      lastGranule = granule
      lastType = hdrType
      pages += 1
      off = bodyOff + body
    }
    if (pages == 0 || (lastType & 0x04) == 0) return null // no EOS close
    // the EOS granule is a raw u64: refuse the sign bit and anything the
    // *1000 duration arithmetic would overflow on, rather than emit garbage
    if (lastGranule < 0L || lastGranule > Long.MaxValue / 1000L) return null
    if (lastGranule < preSkip) return null // granule undercuts pre-skip
    (channels, preSkip, rate, family, pages,
      (lastGranule - preSkip) * 1000L / 48000L)
  }
}
