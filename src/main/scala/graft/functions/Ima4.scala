package graft.functions

/** AIFF-C "ima4" decoder (Apple's IMA ADPCM packetization, the
  * QuickTime/AIFF-C registration) — the third from-scratch predictive
  * decode (r17), and deliberately NOT a third copy of the step
  * arithmetic: it walks [[ImaAdpcm.Ch]], the same published-1992 IMA
  * state machine the WAV tag-17 decoder uses, under a DIFFERENT
  * container and packet layout:
  *
  *  - big-endian EA IFF 85 chunk walk ("FORM"…"AIFC", COMM carrying a
  *    compressionType fourcc after the PCM fields, SSND with
  *    offset/blockSize prefix) vs RIFF's little-endian walk;
  *  - fixed 34-byte packets (a 2-byte BIG-endian header + 32 nibble
  *    bytes = 64 samples), channels interleaved packet-by-packet, vs
  *    WAV's blockAlign-sized blocks with 4-byte per-channel headers and
  *    4-byte interleaved nibble groups;
  *  - the packet header packs the seed as `predictor & 0xFF80` in the
  *    top 9 bits and the step index in the low 7 (vs WAV's full s16
  *    predictor + separate index byte), and NO header sample is emitted
  *    — all 64 samples come from nibbles (vs WAV's header-is-first-
  *    sample rule);
  *  - COMM's numSampleFrames is the DECODED frame count and may
  *    truncate the final packet (frames need not be a multiple of 64).
  *
  * Refuse-don't-guess: anything torn or inconsistent (not an AIFC,
  * compressionType ≠ "ima4", sampleSize ≠ 16, index seed > 88, SSND not
  * packet-aligned, a frame count outside the final packet's range, an
  * output size past Int range) decodes to null. Nibbles are LOW-first
  * within each byte, like WAV IMA. Output is 16-bit signed PCM,
  * frame-major interleaved (qe71e certifies the cross-container
  * collapse onto a PCM spelling of the decoded stream). */
object Ima4 {

  import ByteReads.{be16, be32, fourcc}

  /** Bytes per packet: 2-byte header + 32 nibble bytes. */
  private val PacketBytes = 34

  /** Decoded samples per packet (one channel). */
  private val PacketSamples = 64

  /** Same generous ceiling as [[ImaAdpcm.MaxChannels]]: the packet
    * interleave generalizes to N channels, anything past 8 is a bogus
    * header. [[AudioHeader]]'s AIFC triage shares this bound so triage
    * never accepts a COMM the decode then refuses (review r17). */
  private[functions] val MaxChannels = 8

  /** The ONE packet-geometry predicate (the [[ImaAdpcm.validGeometry]]
    * discipline): SSND's payload must be whole per-channel packet
    * groups, and the declared frame count must land inside the final
    * group (Apple's truncated-final-packet rule). */
  def validGeometry(ch: Int, dataLen: Long, frames: Long): Boolean = {
    if (ch <= 0 || ch > MaxChannels || dataLen <= 0 || frames <= 0) return false
    val groupBytes = PacketBytes.toLong * ch
    if (dataLen % groupBytes != 0) return false
    val groups = dataLen / groupBytes
    frames <= groups * PacketSamples && frames > (groups - 1) * PacketSamples
  }

  /** One decoded clip: 16-bit samples, frame-major channel order. */
  final case class Decoded(channels: Int, rate: Int, samples: Array[Short])

  /** Decode an AIFF-C ima4 payload; null unless it is a well-formed
    * container. */
  def decode(b: Array[Byte]): Decoded = {
    if (b == null || b.length < 12 || !fourcc(b, 0, "FORM") ||
      !fourcc(b, 8, "AIFC")) return null
    val c = new ByteReads.Chunks(b, 12, b.length, bigEndian = true)
    var ch = -1; var rate = -1; var frames = -1L
    var dataOff = -1; var dataLen = -1L
    while ((dataOff < 0 || ch < 0) && c.next()) {
      val size = c.size
      val p = c.body
      if (c.is("COMM")) {
        // PCM fields + the AIFC compressionType fourcc: 22 bytes minimum
        if (size < 22 || p + 22 > b.length) return null
        if (!fourcc(b, p + 18, "ima4")) return null
        ch = be16(b, p)
        frames = be32(b, p + 2) & 0xFFFFFFFFL
        if (be16(b, p + 6) != 16) return null // ima4 is declared 16-bit
        rate = AudioHeader.extended80(b, p + 8)
      } else if (c.is("SSND")) {
        if (size < 8 || p + 8 > b.length) return null
        val skip = be32(b, p) & 0xFFFFFFFFL // offset field
        dataOff = p + 8
        dataLen = size - 8 - skip
        if (dataLen <= 0 || dataOff + skip + dataLen > b.length)
          return null
        dataOff = (dataOff + skip).toInt
      }
    }
    if (ch <= 0 || rate <= 0 || frames <= 0 || dataOff < 0) return null
    if (!validGeometry(ch, dataLen, frames)) return null
    val outLen = frames * ch
    if (outLen > Int.MaxValue) return null
    val out = new Array[Short](outLen.toInt)
    val groups = (dataLen / (PacketBytes.toLong * ch)).toInt
    val chans = Array.fill(ch)(new ImaAdpcm.Ch)
    val dec = Array.ofDim[Short](ch, PacketSamples)
    var w = 0
    var g = 0
    while (g < groups) {
      var c = 0
      while (c < ch) {
        val base = dataOff + (g * ch + c) * PacketBytes
        // header u16 BE: predictor in the top 9 bits (sign-extended s16
        // with the low 7 bits zero), step index in the low 7
        val h = be16(b, base)
        val idx = h & 0x7F
        if (idx > 88) return null
        chans(c).seed((h & 0xFF80).toShort.toInt, idx)
        var k = 0
        while (k < 32) {
          val byte = b(base + 2 + k) & 0xFF
          dec(c)(2 * k) = chans(c).step(byte & 0x0F) // LOW nibble first
          dec(c)(2 * k + 1) = chans(c).step(byte >> 4)
          k += 1
        }
        c += 1
      }
      // frame-major emit; the FINAL group truncates to the declared
      // frame count (frames % 64 trailing samples are encoder padding)
      val emit = math.min(PacketSamples.toLong, frames - g.toLong * PacketSamples).toInt
      var s = 0
      while (s < emit) {
        var c2 = 0
        while (c2 < ch) { out(w) = dec(c2)(s); w += 1; c2 += 1 }
        s += 1
      }
      g += 1
    }
    Decoded(ch, rate, out)
  }
}
