package graft.functions

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Byte-level AAC-in-ADTS stream metadata parser — the second compressed-
  * audio leg of SURVEY §2.4 E5 (r10 verdict "Missing #1" names MP3/AAC
  * together; [[MpegAudioHeader]] covered MP3, this covers the ADTS
  * transport a crawl corpus's raw .aac files use). AAC SAMPLES cannot be
  * decoded on a bare JVM (no codec — payload decode stays behind
  * [[graft.operators.Multimodal.FakeCodec]]), but the stream parameters
  * live in the 7/9-byte fixed header of EVERY frame, published in
  * ISO/IEC 13818-7 §6.2 / 14496-3:
  *
  *  - 12 sync bits (0xFFF), 1 MPEG-version marker bit (ignored: the
  *    field layout is identical), 2 layer bits that MUST be 00, and a
  *    protection_absent bit — 0 means a 16-bit CRC follows the fixed
  *    header, making it 9 bytes, a size the frame walk must honor.
  *  - profile (2 bits → Main/LC/SSR/LTP), sampling_frequency_index
  *    (4 bits through the published 13-entry table; 13/14 reserved and
  *    15 forbidden → NULL), channel_configuration (3 bits; 7 means 8
  *    channels; 0 means the layout lives in an in-band PCE the payload
  *    would have to be DECODED to read → refuse, don't guess).
  *  - aac_frame_length (13 bits, header included) chains frame to frame;
  *    number_of_raw_data_blocks_in_frame (2 bits, stored minus one) —
  *    each raw block carries 1024 PCM samples per channel, which is what
  *    makes `duration_ms` exact arithmetic rather than a bitrate
  *    estimate: Σ blocks · 1024 · 1000 / sample_rate.
  *
  * The walk is STRICT: every frame must re-sync, repeat the first
  * frame's profile/rate/channel fields (an ADTS decoder's own invariant
  * — a change mid-stream means a torn or concatenated file), and the
  * last frame must end exactly at the payload boundary — except for the
  * two tag shapes real files carry: a leading ID3v2 tag (skipped via the
  * shared syncsafe reader, [[ByteReads.skipId3v2]]) and a TRAILING ID3v1
  * tag (exactly 128 bytes starting "TAG" after the last frame — the
  * shape every pre-ID3v2 tagger wrote), tolerated and excluded from the
  * frame walk. Any other violation yields NULL, never a guess.
  * One codegen'd call per row; bytes read in place. */
object AdtsHeader extends MetaParser {

  /** sampling_frequency_index table — ISO 13818-7 table 35. */
  private val Rates = Array(96000, 88200, 64000, 48000, 44100, 32000,
    24000, 22050, 16000, 12000, 11025, 8000, 7350)
  private val Profiles = Array("Main", "LC", "SSR", "LTP")

  val name = "adts_meta"

  /** `adts_meta(payload)` → struct<mime string, profile string,
    * sample_rate int, channels int, n_frames int, duration_ms bigint>,
    * null for unrecognized payloads. */
  val schema: StructType = StructType(Seq(
    StructField("mime", StringType, nullable = false),
    StructField("profile", StringType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("n_frames", IntegerType, nullable = false),
    StructField("duration_ms", LongType, nullable = false)))

  def compute(b: Array[Byte]): InternalRow = {
    val r = parse(b)
    if (r == null) null
    else new GenericInternalRow(Array[Any](
      UTF8String.fromString("audio/aac"), UTF8String.fromString(r._1),
      r._2, r._3, r._4, r._5))
  }

  /** Parse (profile, sample_rate, channels, n_frames, duration_ms) from
    * an ADTS payload; null if not recognized/intact. */
  def parse(b: Array[Byte]): (String, Int, Int, Int, Long) = {
    if (b == null || b.length < 7) return null
    var off = ByteReads.skipId3v2(b, 7)
    if (off < 0) return null
    var profile = -1; var sfIdx = -1; var chCfg = -1
    var frames = 0
    var samples = 0L
    while (off < b.length) {
      // a trailing ID3v1 tag is EXACTLY 128 bytes starting "TAG" — legal
      // after the last frame (never mid-stream: its position is pinned by
      // the remaining length, so a stray "TAG" elsewhere still refuses)
      if (b.length - off == 128 && b(off) == 'T' && b(off + 1) == 'A' &&
        b(off + 2) == 'G') {
        off = b.length
      } else {
        if (off + 7 > b.length) return null // torn trailing frame
        val b1 = b(off + 1) & 0xFF; val b2 = b(off + 2) & 0xFF
        val b3 = b(off + 3) & 0xFF; val b4 = b(off + 4) & 0xFF
        val b5 = b(off + 5) & 0xFF; val b6 = b(off + 6) & 0xFF
        if ((b(off) & 0xFF) != 0xFF || (b1 & 0xF0) != 0xF0) return null // 12 sync bits
        if (((b1 >> 1) & 0x3) != 0) return null // layer must be 00 in ADTS
        val p = (b2 >> 6) & 0x3
        val sf = (b2 >> 2) & 0xF
        if (sf >= 13) return null // reserved (13/14) or forbidden (15)
        val cc = ((b2 & 0x1) << 2) | ((b3 >> 6) & 0x3)
        if (cc == 0) return null // channel layout is in an in-band PCE
        if (frames == 0) { profile = p; sfIdx = sf; chCfg = cc }
        else if (p != profile || sf != sfIdx || cc != chCfg)
          return null // torn / concatenated stream
        val frameLen = ((b3 & 0x3) << 11) | (b4 << 3) | ((b5 >> 5) & 0x7)
        val hdrLen = if ((b1 & 0x1) == 1) 7 else 9 // protection_absent=0 → CRC16
        if (frameLen < hdrLen || off + frameLen > b.length) return null
        samples += (((b6 & 0x3) + 1)) * 1024L // raw blocks stored minus one
        frames += 1
        off += frameLen
      }
    }
    if (frames == 0) return null
    (Profiles(profile), Rates(sfIdx), if (chCfg == 7) 8 else chCfg,
      frames, samples * 1000L / Rates(sfIdx))
  }
}
