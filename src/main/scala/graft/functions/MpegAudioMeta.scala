package graft.functions

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Byte-level COMPRESSED-audio stream metadata parser (SURVEY §2.4 E5,
  * r10 verdict "Missing #1"): MP3/MPEG-audio payloads cannot be SAMPLE-
  * decoded on a bare JVM (no codec), but their stream parameters need no
  * codec at all — they live in the 4-byte frame header at the front of the
  * stream, published in ISO/IEC 11172-3 / 13818-3:
  *
  *  - An optional ID3v2 tag prefixes the stream: "ID3", 2 version bytes,
  *    1 flags byte, then a 4-byte SYNCSAFE size (7 bits per byte, top bit
  *    zero — a plain u32 read would overshoot 8x) counting the tag body
  *    after the 10-byte header (+10 more if the footer flag 0x10 is set).
  *  - The frame header: 11 sync bits (0xFFE), 2 version bits (MPEG 1 / 2 /
  *    2.5), 2 layer bits (I/II/III), CRC flag, 4 bitrate-index bits and
  *    2 sample-rate-index bits resolved through the published per-version/
  *    per-layer tables, padding/private bits, and 2 channel-mode bits
  *    (mono vs stereo/joint/dual).
  *
  * `duration_ms`: when the first Layer III frame carries a VBR frame map
  * — Xing/"Info" after the version/mono-dependent side-info region, or
  * Fraunhofer VBRI at a fixed 32 bytes past the header — the duration is
  * EXACT: total frames × samples-per-frame (1152, or 576 for MPEG2/2.5
  * Layer III) / sample rate. Without a map it is the standard CBR
  * estimate, 8 · stream bytes (payload minus the ID3 tag) / bitrate kbps
  * — exact for constant-bitrate streams, the documented estimate for
  * headerless VBR. Sample decode itself still needs a codec no JVM ships
  * and stays behind [[graft.operators.Multimodal.FakeCodec]].
  *
  * "Free" bitrate (index 0), invalid indexes (15 / sample-rate 3),
  * reserved version/layer bits, a truncated tag, or a missing sync yield
  * NULL, never a guess. One codegen'd call per row; bytes read in place. */
object MpegAudioHeader extends MetaParser {

  /** bitrate tables, kbps — ISO 11172-3 table B.2 / 13818-3. Row key:
    * (version, layer); index 0 ("free") and 15 are refused. */
  private val V1L1 = Array(0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448)
  private val V1L2 = Array(0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384)
  private val V1L3 = Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
  private val V2L1 = Array(0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256)
  private val V2L23 = Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)

  /** sample-rate tables, Hz, by version; index 3 is reserved. */
  private val SrV1 = Array(44100, 48000, 32000)
  private val SrV2 = Array(22050, 24000, 16000)
  private val SrV25 = Array(11025, 12000, 8000)

  val name = "mpeg_audio_meta"

  /** `mpeg_audio_meta(payload)` → struct<mime string, layer int,
    * bitrate_kbps int, sample_rate int, channels int, duration_ms bigint,
    * frame_map string, n_frames bigint>, null for unrecognized payloads. */
  val schema: StructType = StructType(Seq(
    StructField("mime", StringType, nullable = false),
    StructField("layer", IntegerType, nullable = false),
    StructField("bitrate_kbps", IntegerType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("duration_ms", LongType, nullable = false),
    StructField("frame_map", StringType, nullable = false),
    StructField("n_frames", LongType, nullable = false)))

  def compute(b: Array[Byte]): InternalRow = {
    val r = parse(b)
    if (r == null) null
    else new GenericInternalRow(Array[Any](
      UTF8String.fromString(r._1), r._2, r._3, r._4, r._5, r._6,
      UTF8String.fromString(r._7), r._8))
  }

  /** Parse (mime, layer, bitrate_kbps, sample_rate, channels,
    * duration_ms, frame_map, n_frames) from an MPEG-audio payload; null
    * if not recognized/intact. `frame_map` is ''/'xing'/'info'/'vbri';
    * when a map carries a frame count, duration_ms is EXACT
    * (frames x samples-per-frame / rate) instead of the CBR estimate. */
  def parse(b: Array[Byte]): (String, Int, Int, Int, Int, Long, String, Long) = {
    if (b == null || b.length < 4) return null
    // optional ID3v2 prefix — shared syncsafe skip, see ByteReads.skipId3v2
    val off = ByteReads.skipId3v2(b, 4)
    if (off < 0) return null // torn tag, or it swallows the whole payload
    val h0 = b(off) & 0xFF; val h1 = b(off + 1) & 0xFF
    val h2 = b(off + 2) & 0xFF; val h3 = b(off + 3) & 0xFF
    if (h0 != 0xFF || (h1 & 0xE0) != 0xE0) return null // 11 sync bits
    val verBits = (h1 >> 3) & 0x3   // 00=2.5, 01=reserved, 10=2, 11=1
    val layerBits = (h1 >> 1) & 0x3 // 00=reserved, 01=III, 10=II, 11=I
    if (verBits == 1 || layerBits == 0) return null
    val layer = 4 - layerBits // 1, 2, 3
    val brIdx = (h2 >> 4) & 0xF
    val srIdx = (h2 >> 2) & 0x3
    if (brIdx == 0 || brIdx == 15 || srIdx == 3) return null // free/invalid
    val kbps = (verBits, layer) match {
      case (3, 1) => V1L1(brIdx)
      case (3, 2) => V1L2(brIdx)
      case (3, 3) => V1L3(brIdx)
      case (_, 1) => V2L1(brIdx)
      case _      => V2L23(brIdx)
    }
    val rate = verBits match {
      case 3 => SrV1(srIdx)
      case 2 => SrV2(srIdx)
      case _ => SrV25(srIdx)
    }
    val channels = if (((h3 >> 6) & 0x3) == 3) 1 else 2 // mode 11 = mono
    // VBR frame maps: a Layer III stream's FIRST frame may carry a total
    // frame count — Xing/Info right after the side-info region (whose
    // size depends on version x mono: 32/17 for MPEG1, 17/9 for MPEG2/
    // 2.5), or Fraunhofer VBRI at a fixed 32 bytes past the header.
    // Xing flags (BE u32) bit 0 gates the frame-count field; "Info" is
    // the same layout written by CBR encoders. With a count, duration is
    // EXACT (frames x samples-per-frame / rate); without one the CBR
    // byte estimate stands — the documented-estimate boundary moves from
    // "all MP3" to "headerless VBR only".
    var frameMap = ""
    var nFrames = 0L
    if (layer == 3) {
      val sideInfo =
        if (verBits == 3) { if (channels == 1) 17 else 32 }
        else { if (channels == 1) 9 else 17 }
      // protection_absent = 0 inserts a 16-bit CRC between header and
      // side info (ISO 11172-3), shifting a spec-placed map by 2 —
      // but LAME/ffmpeg/taglib write and read at the CRC-IGNORING
      // offset, so probe that first and the spec offset second. Both
      // magics are 4-byte tags; a false positive needs them at one of
      // two exact offsets inside real audio data.
      val crc = if ((h1 & 1) == 0) 2 else 0
      def magicAt(p: Int): Boolean =
        ByteReads.fourcc(b, p, "Xing") || ByteReads.fourcc(b, p, "Info")
      val xBase = off + 4 + sideInfo
      val xOff = if (magicAt(xBase)) xBase
        else if (crc > 0 && magicAt(xBase + crc)) xBase + crc
        else -1
      if (xOff >= 0) {
        if (xOff + 12 <= b.length && (ByteReads.be32(b, xOff + 4) & 1) != 0) {
          val f = ByteReads.be32(b, xOff + 8) & 0xFFFFFFFFL
          if (f > 0) {
            frameMap = if (b(xOff) == 'X') "xing" else "info"
            nFrames = f
          }
        }
      } else {
        // VBRI layout: magic, version u16, delay u16, quality u16,
        // bytes u32, frames u32 — all big-endian; same CRC fallback
        val vBase = off + 4 + 32
        val vOff = if (ByteReads.fourcc(b, vBase, "VBRI")) vBase
          else if (crc > 0 && ByteReads.fourcc(b, vBase + crc, "VBRI")) vBase + crc
          else -1
        if (vOff >= 0 && vOff + 18 <= b.length) {
          val f = ByteReads.be32(b, vOff + 14) & 0xFFFFFFFFL
          if (f > 0) { frameMap = "vbri"; nFrames = f }
        }
      }
    }
    val spf = if (layer == 1) 384 else if (layer == 2) 1152
      else if (verBits == 3) 1152 else 576 // L3 halves under MPEG2/2.5
    // a trailing ID3v1 tag is metadata, not audio — excluded from the
    // byte estimate exactly like the ID3v2 prefix (and like the sibling
    // ADTS walk, which pins the same trailer at a frame boundary)
    val streamBytes = (b.length - off - ByteReads.trailingId3v1(b, off)).toLong
    val durationMs =
      if (nFrames > 0) nFrames * spf * 1000L / rate
      else streamBytes * 8L / kbps
    ("audio/mpeg", layer, kbps, rate, channels, durationMs, frameMap, nFrames)
  }
}
