package graft.functions

/** IMA/DVI ADPCM WAV decoder (format tag 17) — the engine's first
  * PREDICTIVE-bitstream sample decode: the stock JDK's WaveFileReader
  * refuses ADPCM containers outright (probed r16), so unlike the G.711
  * route ([[graft.operators.AudioDedup]] via javax.sound) this decode is
  * a from-scratch implementation of the published IMA algorithm (IMA
  * Digital Audio Technical Working Group, 1992; the WAVE DVI/IMA layout
  * from Microsoft's multimedia registration): per block and channel a
  * 4-byte header seeds the predictor (which IS the block's first output
  * sample) and the step index, then 4-bit nibbles (low nibble first,
  * channels interleaved in 4-byte groups) each step the predictor by a
  * table-driven delta.
  *
  * Refuse-don't-guess, like every byte parser here: anything torn,
  * inconsistent (blockAlign vs samplesPerBlock, index seed > 88,
  * dataSize not block-aligned, an output size past Int range), or not a
  * tag-17 WAV decodes to null. Decoded output is 16-bit signed PCM,
  * frame-major interleaved — the exact stream a PCM spelling of the
  * same recording stores, so the sample-hash collapse is by
  * construction (qe71c). */
object ImaAdpcm {

  import ByteReads.{fourcc, le16, le32u}

  // the published 1992 IMA tables — shared with [[Ima4]] (the AIFF-C
  // "ima4" packet layout walks the SAME step arithmetic)
  private[functions] val IndexTable = Array(-1, -1, -1, -1, 2, 4, 6, 8)

  private[functions] val StepTable = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767)

  /** Generous channel ceiling: tag-17 files in the wild are mono/stereo,
    * the block layout generalizes to N channels, and anything past 8 is
    * a bogus header, not audio. */
  private val MaxChannels = 8

  /** The ONE block-geometry predicate, shared by this decoder and
    * [[AudioHeader]]'s tag-17 triage branch so the two can never
    * disagree about which containers are readable (review r16): a block
    * is 4 header bytes plus whole 4-byte nibble groups per channel, and
    * the fmt-extra samplesPerBlock must equal the header sample + 8 per
    * group. */
  def validGeometry(ch: Int, blockAlign: Int, samplesPerBlock: Int): Boolean = {
    if (ch <= 0 || ch > MaxChannels || blockAlign <= 0) return false
    val dataBytes = blockAlign - 4 * ch
    dataBytes >= 0 && dataBytes % (4 * ch) == 0 &&
      samplesPerBlock == 1 + (dataBytes / ch) * 2
  }

  /** One decoded clip: 16-bit samples, frame-major channel order. */
  final case class Decoded(channels: Int, rate: Int, samples: Array[Short])

  /** Mutable per-channel decode state — the ONE place the IMA step
    * arithmetic lives (the block header seeds it, the nibble loop steps
    * it). Instances are reused across blocks via [[seed]]; [[Ima4]]
    * (AIFF-C packets) seeds and steps the SAME state, so the two
    * containers cannot disagree on the arithmetic. */
  private[functions] final class Ch {
    var pred: Int = 0
    var idx: Int = 0
    def seed(p: Int, i: Int): Unit = { pred = p; idx = i }
    def step(nibble: Int): Short = {
      val st = StepTable(idx)
      var diff = st >> 3
      if ((nibble & 1) != 0) diff += st >> 2
      if ((nibble & 2) != 0) diff += st >> 1
      if ((nibble & 4) != 0) diff += st
      pred = if ((nibble & 8) != 0) pred - diff else pred + diff
      if (pred > 32767) pred = 32767
      if (pred < -32768) pred = -32768
      idx += IndexTable(nibble & 7)
      if (idx < 0) idx = 0
      if (idx > 88) idx = 88
      pred.toShort
    }
  }

  /** Decode a tag-17 WAV payload; null unless it is a well-formed IMA
    * ADPCM container. */
  def decode(b: Array[Byte]): Decoded = {
    if (b == null || b.length < 12 || !fourcc(b, 0, "RIFF") ||
      !fourcc(b, 8, "WAVE")) return null
    val c = new ByteReads.Chunks(b, 12, b.length, bigEndian = false)
    var ch = -1; var rate = -1; var blockAlign = -1; var spb = -1
    var dataOff = -1; var dataLen = -1
    while ((dataOff < 0 || ch < 0) && c.next()) {
      val off = c.off
      val size = c.size
      if (c.is("fmt ")) {
        // tag-17 fmt must carry cbSize >= 2 with samplesPerBlock: 20 bytes
        if (size < 20 || off + 8 + 20 > b.length) return null
        if (le16(b, off + 8) != 17) return null
        ch = le16(b, off + 10)
        rate = le32u(b, off + 12).toInt
        blockAlign = le16(b, off + 20)
        val bits = le16(b, off + 22)
        val cb = le16(b, off + 24)
        if (bits != 4 || cb < 2) return null
        spb = le16(b, off + 26)
      } else if (c.is("data")) {
        dataOff = c.body
        if (size > Int.MaxValue || dataOff + size > b.length) return null
        dataLen = size.toInt
      }
    }
    if (ch <= 0 || rate <= 0 || blockAlign <= 0 || spb <= 0 || dataOff < 0)
      return null
    if (!validGeometry(ch, blockAlign, spb)) return null
    if (dataLen % blockAlign != 0) return null // torn final block
    val nBlocks = dataLen / blockAlign
    // output size in Long space first: a multi-GiB declared stream would
    // wrap the Int product and the allocation below would throw instead
    // of refusing (review r16)
    val outLen = nBlocks.toLong * spb * ch
    if (outLen > Int.MaxValue) return null
    val out = new Array[Short](outLen.toInt)
    val dataBytes = blockAlign - 4 * ch
    val groupsPerCh = dataBytes / (4 * ch)
    // per-channel state and the per-group decode buffer are allocated
    // ONCE and re-seeded/overwritten — this loop runs per crawl record
    // inside sampleHash/eHash64 (review r16)
    val chans = Array.fill(ch)(new Ch)
    val dec = Array.ofDim[Short](ch, 8)
    var w = 0
    var blk = 0
    while (blk < nBlocks) {
      val base = dataOff + blk * blockAlign
      var c = 0
      while (c < ch) {
        val h = base + 4 * c
        val pred = le16(b, h).toShort.toInt // s16: the block's first sample
        val idx = b(h + 2) & 0xFF
        if (idx > 88 || b(h + 3) != 0) return null // spec: reserved byte 0
        chans(c).seed(pred, idx)
        out(w) = pred.toShort
        w += 1
        c += 1
      }
      // data: 4-byte groups per channel, channels alternating; each
      // group holds 8 nibbles (low first) = 8 samples of that channel.
      // Decode group-by-group, writing frame-major output.
      var g = 0
      while (g < groupsPerCh) {
        var c2 = 0
        while (c2 < ch) {
          val gOff = base + 4 * ch + (g * ch + c2) * 4
          var k = 0
          while (k < 4) {
            val byte = b(gOff + k) & 0xFF
            dec(c2)(2 * k) = chans(c2).step(byte & 0x0F)
            dec(c2)(2 * k + 1) = chans(c2).step(byte >> 4)
            k += 1
          }
          c2 += 1
        }
        var s = 0
        while (s < 8) {
          var c3 = 0
          while (c3 < ch) { out(w) = dec(c3)(s); w += 1; c3 += 1 }
          s += 1
        }
        g += 1
      }
      blk += 1
    }
    Decoded(ch, rate, out)
  }
}
