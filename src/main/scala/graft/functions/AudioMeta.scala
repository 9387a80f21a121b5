package graft.functions

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Byte-level AUDIO-container header parser — the audio leg of the E5
  * multimodal pipeline (SURVEY §2.4), companion to [[ImageHeader]]. Sample
  * decoding needs a codec; stream metadata does not — channel count, sample
  * rate, sample width, and frame count live in the container headers,
  * published in the format specs:
  *
  *  - WAV (RIFF, Microsoft/IBM WAVE spec): "RIFF"<size>"WAVE", then a
  *    LITTLE-endian chunk walk (id u32, size u32; payloads padded to even)
  *    to the "fmt " chunk — format tag, channels u16, sample rate u32,
  *    block align u16, bits u16 — and the "data" chunk, whose declared size
  *    divided by block align is the frame count. Walking — not a fixed
  *    offset — is required: real encoders emit JUNK/LIST/fact chunks before
  *    "fmt " and "data".
  *  - AIFF (EA IFF 85 / Apple AIFF-1.3 spec): "FORM"<size>"AIFF", then a
  *    BIG-endian chunk walk to "COMM" — channels u16, frame count u32,
  *    sample size u16, and the sample rate as an 80-bit IEEE 754 extended
  *    float (1 sign, 15 exponent bits biased 16383, 64-bit mantissa with an
  *    explicit integer bit) that must be decoded, not pattern-matched.
  *
  * Parsing both containers certifies both endiannesses end-to-end. Anything
  * unrecognized, truncated mid-header, or inconsistent (zero block align,
  * non-PCM WAV format tags other than IEEE float, unnormalized/overflowing
  * extended floats) yields NULL, never a guess. One codegen'd call per row;
  * bytes are read in place. */
object AudioHeader extends MetaParser {

  import ByteReads.{be16, be32, fourcc, le16, le32}

  val name = "audio_meta"

  /** `audio_meta(payload)` → struct<mime string, channels int, sample_rate
    * int, bits int, n_frames bigint>, null for unrecognized payloads. */
  val schema: StructType = StructType(Seq(
    StructField("mime", StringType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("bits", IntegerType, nullable = false),
    StructField("n_frames", LongType, nullable = false)))

  /** Parse (mime, channels, sample_rate, bits, n_frames) from container
    * header bytes; null if not a recognized, intact audio header. */
  def compute(b: Array[Byte]): InternalRow = {
    val r = parse(b)
    if (r == null) null
    else new GenericInternalRow(Array[Any](
      UTF8String.fromString(r._1), r._2, r._3, r._4, r._5))
  }

  /** JVM-facing form for Dataset/mapPartitions callers. */
  def parse(b: Array[Byte]): (String, Int, Int, Int, Long) = {
    if (b == null || b.length < 12) return null
    if (fourcc(b, 0, "RIFF") && fourcc(b, 8, "WAVE")) parseWav(b)
    else if (fourcc(b, 0, "FORM") && (fourcc(b, 8, "AIFF") || fourcc(b, 8, "AIFC")))
      parseAiff(b, aifc = fourcc(b, 8, "AIFC"))
    else if (fourcc(b, 0, ".snd")) parseAu(b)
    else if (fourcc(b, 0, "fLaC")) parseFlac(b)
    else null
  }

  /** FLAC (r17 review): once [[FlacDecode]] decoded real samples, triage
    * had to recognize the container too — otherwise the capstone router
    * classifies FLAC payloads 'unknown' and the sample decode is
    * unreachable from [[graft.queries.Capstones]], the exact gap the AU
    * branch closed for µ-law payloads. Delegates to [[FlacHeader]] (the
    * qe5l metadata parser): STREAMINFO carries all five fields with
    * their standard meaning at ANY bit depth, so a structurally valid
    * non-16-bit stream reports metadata here and becomes a null-key
    * singleton at the decode side (the recognized-but-undecodable
    * contract), like any other valid container outside the PCM hash
    * domain. */
  private def parseFlac(b: Array[Byte]): (String, Int, Int, Int, Long) = {
    val r = FlacHeader.parse(b)
    if (r == null) null else ("audio/flac", r._2, r._1, r._3, r._4)
  }

  /** Sun/NeXT AU (the ".snd" container, the third classic audio family
    * beside WAV and AIFF — r17; javax.sound has decoded its samples all
    * along, but triage refused the container, so AU payloads never
    * routed to the audio leg): a fixed 24-byte BIG-endian header —
    * magic, data offset (>= 24; annotation bytes may precede the data),
    * data size, encoding code, sample rate, channels. Only the
    * fixed-layout PCM/companded encodings are accepted (1 µ-law, 2-5
    * linear 8/16/24/32, 6/7 IEEE float 32/64, 27 A-law); anything else
    * is codec-defined — refuse. A data size of 0xFFFFFFFF ("unknown,
    * stream until EOF") cannot yield a frame count — refuse rather than
    * guess one. */
  private def parseAu(b: Array[Byte]): (String, Int, Int, Int, Long) = {
    if (b.length < 24) return null
    val dataOff = be32(b, 4) & 0xFFFFFFFFL
    val dataSize = be32(b, 8) & 0xFFFFFFFFL
    val enc = be32(b, 12)
    val rate = be32(b, 16)
    val channels = be32(b, 20)
    if (dataOff < 24 || dataSize == 0xFFFFFFFFL) return null
    val bits = enc match {
      case 1 | 27 => 8 // G.711 µ-law / A-law, one code byte per sample
      case 2 => 8
      case 3 => 16
      case 4 => 24
      case 5 => 32
      case 6 => 32 // IEEE float
      case 7 => 64
      case _ => return null
    }
    if (channels <= 0 || channels > 64 || rate <= 0) return null
    val frameBytes = channels.toLong * (bits / 8)
    if (dataSize % frameBytes != 0) return null // torn final frame
    ("audio/basic", channels, rate, bits, dataSize / frameBytes)
  }

  private def parseWav(b: Array[Byte]): (String, Int, Int, Int, Long) = {
    val c = new ByteReads.Chunks(b, 12, b.length, bigEndian = false)
    var channels = -1; var rate = -1; var bits = -1; var blockAlign = -1
    var dataSize = -1L; var spbAdpcm = -1
    // header-only scan: the "data" chunk's declared size is the stream
    // length (a streaming reader never needs the sample bytes in hand),
    // but every chunk header and the whole fmt payload must be present
    while ((dataSize < 0 || channels < 0) && c.next()) {
      val off = c.off
      val size = c.size
      if (c.is("fmt ")) {
        if (size < 16 || off + 8 + 16 > b.length) return null
        val tag = le16(b, off + 8)
        // PCM (1), MS ADPCM (2), IEEE float (3), G.711 A-law (6) /
        // µ-law (7), and IMA ADPCM (17): layouts whose fmt fields have a
        // FIXED published meaning (G.711 is one code byte per sample;
        // both ADPCM block layouts are fully determined by blockAlign +
        // the fmt-extra samplesPerBlock — all decoded for real by
        // [[graft.operators.AudioDedup.sampleHash]], r16/r17). Other
        // compressed/extensible tags carry their real layout elsewhere —
        // refusing beats misreporting.
        if (tag != 1 && tag != 2 && tag != 3 && tag != 6 && tag != 7 &&
          tag != 17 && tag != 0xFFFE)
          return null
        channels = le16(b, off + 10)
        rate = le32(b, off + 12)
        blockAlign = le16(b, off + 20)
        bits = le16(b, off + 22)
        // WAVE_FORMAT_EXTENSIBLE (r17): the shared predicate
        // [[WavExtensible.parseFmtX]] validates the extension (cbSize,
        // valid bits vs container width, blockAlign consistency, the
        // KSDATAFORMAT base GUID) — triage and decode refuse identically
        // on header-available grounds. Fixed-layout inner tags only
        // (PCM 1, IEEE float 3, G.711 6/7 — same accept set as the plain
        // tags minus the ADPCMs, whose extensible spellings would need
        // the fmt-extra fields this extension replaces); the reported
        // depth is wValidBitsPerSample, the stream's real precision.
        if (tag == 0xFFFE) {
          val x = WavExtensible.parseFmtX(b, off, size)
          if (x == null) return null
          if (x.innerTag != 1 && x.innerTag != 3 && x.innerTag != 6 &&
            x.innerTag != 7) return null
          if ((x.innerTag == 6 || x.innerTag == 7) && x.containerBits != 8)
            return null
          bits = x.validBits
        }
        // a G.711 fmt claiming a depth other than 8 is misshaped, and
        // blockAlign must be exactly one byte per channel
        if ((tag == 6 || tag == 7) && (bits != 8 || blockAlign != channels))
          return null
        // IMA ADPCM: 4-bit depth, cbSize >= 2, and the block geometry
        // must be the published layout — the SAME predicate the decoder
        // enforces ([[ImaAdpcm.validGeometry]]), so triage can never
        // accept a container the decode then refuses (review r16); an
        // inconsistent pair means the frame count below would be a guess
        if (tag == 17) {
          if (bits != 4 || size < 20 || off + 8 + 20 > b.length) return null
          if (le16(b, off + 24) < 2) return null
          val spb = le16(b, off + 26)
          if (!ImaAdpcm.validGeometry(channels, blockAlign, spb)) return null
          spbAdpcm = spb
        }
        // MS ADPCM: the extended fmt (4-bit depth, samplesPerBlock, the
        // coefficient table) and the block geometry must both be the
        // published layout — the SAME two predicates the decoder
        // enforces ([[MsAdpcm.parseFmt2]] + [[MsAdpcm.validGeometry]]),
        // the tag-17 triage discipline with zero duplicated checks
        if (tag == 2) {
          val f = MsAdpcm.parseFmt2(b, off, size)
          if (f == null) return null
          if (!MsAdpcm.validGeometry(channels, blockAlign, f.samplesPerBlock))
            return null
          spbAdpcm = f.samplesPerBlock
        }
      } else if (c.is("data")) {
        dataSize = size
      }
    }
    if (channels <= 0 || rate <= 0 || bits <= 0 || blockAlign <= 0 || dataSize < 0)
      return null
    if (dataSize % blockAlign != 0) return null // torn final frame
    // IMA ADPCM: a block of blockAlign bytes decodes to samplesPerBlock
    // frames (header sample + nibbles); all other accepted tags are one
    // frame per blockAlign
    ("audio/wav", channels, rate, bits,
      dataSize / blockAlign * (if (spbAdpcm > 0) spbAdpcm else 1))
  }

  private def parseAiff(b: Array[Byte], aifc: Boolean): (String, Int, Int, Int, Long) = {
    val c = new ByteReads.Chunks(b, 12, b.length, bigEndian = true)
    while (c.next()) {
      val size = c.size
      if (c.is("COMM")) {
        val p = c.body
        if (size < 18 || p + 18 > b.length) return null
        // AIFC appends a compressionType fourcc to COMM: "NONE"
        // (uncompressed PCM) and "ima4" (Apple IMA ADPCM, decoded for
        // real by [[Ima4]] — its COMM fields KEEP their standard
        // meaning: numSampleFrames is the decoded frame count, the
        // declared depth is 16) pass through; any other codec's fields
        // are codec-defined, so refusing beats misreporting (the WAV
        // non-PCM-tag rule, applied to the AIFC side). Triage here is
        // header-only like the AIFF PCM branch — SSND packet geometry
        // is the decode side's check ([[Ima4.validGeometry]]).
        if (aifc && (size < 22 || p + 22 > b.length ||
          !(fourcc(b, p + 18, "NONE") || fourcc(b, p + 18, "ima4"))))
          return null
        val channels = be16(b, p)
        val frames = be32(b, p + 2) & 0xFFFFFFFFL
        val bits = be16(b, p + 6)
        val rate = extended80(b, p + 8)
        if (channels <= 0 || bits <= 0 || rate <= 0) return null
        // ima4: a COMM declaring a depth other than 16, more channels
        // than the packet walk supports, or zero frames is one the
        // decoder refuses ([[Ima4.validGeometry]]'s header-available
        // half) — triage must refuse it too (the tag-17/tag-2
        // discipline); SSND packet geometry stays the decode side's
        // check, as it is not in this header
        if (aifc && fourcc(b, p + 18, "ima4") &&
          (bits != 16 || channels > Ima4.MaxChannels || frames <= 0))
          return null
        return ("audio/aiff", channels, rate, bits, frames)
      }
    }
    null
  }

  /** Decode an 80-bit IEEE extended float at offset i to a positive Int
    * sample rate; -1 for negative, zero, non-integral-overflow, or
    * unnormalized values (real rates are small positive integers).
    * Shared with [[Ima4]]'s COMM parse. */
  private[functions] def extended80(b: Array[Byte], i: Int): Int = {
    val se = be16(b, i)
    if ((se & 0x8000) != 0) return -1 // negative rate
    val e = se & 0x7FFF
    val mant = ((be32(b, i + 2) & 0xFFFFFFFFL) << 32) | (be32(b, i + 6) & 0xFFFFFFFFL)
    if (mant == 0L) return -1
    val shift = e - 16383 - 63 // mantissa's integer bit is bit 63
    if (shift > 0) return -1 // >= 2^64: no real sample rate
    if (shift <= -64) return -1 // underflows to zero
    // fractional bits below the shift point must be ZERO: a rate like
    // 44100.5 would otherwise truncate to 44100 — a misreport where the
    // contract ("-1 for non-integral values") says refuse
    if (shift < 0 && (mant & ((1L << -shift) - 1)) != 0L) return -1
    val v = mant >>> -shift
    if (v <= 0 || v > Int.MaxValue) -1 else v.toInt
  }

}
