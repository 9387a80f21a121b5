package graft.functions

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Byte-level FLAC STREAMINFO parser — the lossless-audio leg of the
  * compressed-format metadata family (qe5i MP3, qe5k AAC-ADTS, qe5j AVC;
  * SURVEY §2.4 E5). FLAC frame decode needs a full rice/LPC decoder the
  * JVM does not ship (payload decode stays behind
  * [[graft.operators.Multimodal.FakeCodec]]), but the format REQUIRES
  * every stream to open with a STREAMINFO metadata block
  * (xiph.org/flac/format.html): "fLaC", then a 4-byte block header
  * (last-block bit, 7-bit type — 0 = STREAMINFO, mandatory first — and a
  * 24-bit big-endian body length that MUST be 34), then the 34-byte body:
  *
  *  - min/max blocksize (u16 each), min/max framesize (u24 each) —
  *    ignored here beyond bounds-walking;
  *  - one packed 64-bit group: sample_rate (20 bits, 0 is invalid),
  *    channels-1 (3 bits), bits_per_sample-1 (5 bits),
  *    total_samples (36 bits; 0 = unknown → duration NULL semantics are
  *    a row-level refusal here: refuse-don't-guess, like the other
  *    parsers) — followed by the 16-byte unencoded-audio MD5.
  *
  * `duration_ms` is EXACT (total_samples · 1000 / sample_rate) — lossless
  * formats carry the sample count in the header, no bitrate estimate
  * involved. Torn magic, a first block that is not STREAMINFO/34 bytes,
  * a truncated body, or a zero sample rate / sample count yield NULL. */
object FlacHeader extends MetaParser {
  val name = "flac_meta"

  /** `flac_meta(payload)` → struct<mime string, sample_rate int,
    * channels int, bits_per_sample int, total_samples bigint,
    * duration_ms bigint>, null for unrecognized payloads. */
  val schema: StructType = StructType(Seq(
    StructField("mime", StringType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("bits_per_sample", IntegerType, nullable = false),
    StructField("total_samples", LongType, nullable = false),
    StructField("duration_ms", LongType, nullable = false)))

  def compute(b: Array[Byte]): InternalRow = {
    val r = parse(b)
    if (r == null) null
    else new GenericInternalRow(Array[Any](
      UTF8String.fromString("audio/flac"), r._1, r._2, r._3, r._4, r._5))
  }

  /** Parse (sample_rate, channels, bits_per_sample, total_samples,
    * duration_ms) from a FLAC payload; null if not recognized/intact. */
  def parse(b: Array[Byte]): (Int, Int, Int, Long, Long) = {
    // "fLaC" + 4-byte block header + 34-byte STREAMINFO body
    if (b == null || b.length < 42) return null
    if (!ByteReads.fourcc(b, 0, "fLaC")) return null
    // block type (low 7 bits; the top bit only flags the LAST block)
    if ((b(4) & 0x7F) != 0) return null // first block must be STREAMINFO
    val len = ((b(5) & 0xFF) << 16) | ((b(6) & 0xFF) << 8) | (b(7) & 0xFF)
    if (len != 34) return null // fixed by spec; anything else is torn
    // the packed group lives at body offset 10 (after the four size fields)
    val p = ByteReads.be64(b, 18)
    val rate = ((p >>> 44) & 0xFFFFF).toInt      // 20 bits
    val channels = (((p >>> 41) & 0x7) + 1).toInt // 3 bits, stored minus one
    val bps = (((p >>> 36) & 0x1F) + 1).toInt     // 5 bits, stored minus one
    val total = p & 0xFFFFFFFFFL                  // 36 bits
    if (rate == 0 || total == 0L) return null // invalid / unknown length
    (rate, channels, bps, total, total * 1000L / rate)
  }
}
