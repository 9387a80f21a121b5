package graft.functions

/** Microsoft ADPCM WAV decoder (format tag 2) — the second from-scratch
  * predictive-bitstream decode beside [[ImaAdpcm]] (r17, the last
  * tractable audio codec before the entropy-coded tier): the stock JDK
  * refuses tag-2 containers like tag-17 ones, and the published
  * algorithm (Microsoft Multimedia Standards Update, rev 3.0 1994 —
  * the WAVEFORMAT_ADPCM registration) is a 2nd-order LINEAR PREDICTOR
  * (7 fixed coefficient pairs selected per block) with an adaptive
  * quantizer step, where IMA's is 1st-order with a table-driven step
  * walk. Per block and channel the 7-byte header seeds the coefficient
  * index, the step (iDelta), and the two history samples — which ARE
  * the block's first two output frames (older iSamp2 first) — then each
  * 4-bit nibble (HIGH nibble first, channels rotating per nibble) emits
  *
  *   predict = (iSamp1·iCoef1 + iSamp2·iCoef2) / 256   (C trunc-to-zero)
  *   sample  = clamp16(predict + signed4(nibble) · iDelta)
  *   iDelta  = max(16, AdaptTable(nibble) · iDelta / 256)
  *
  * Refuse-don't-guess, like every byte parser here: anything torn or
  * inconsistent (blockAlign vs samplesPerBlock, a predictor index past
  * the file's coefficient table, a non-positive seed step, dataSize not
  * block-aligned, an output size past Int range) decodes to null. The
  * coefficient table is read from the FILE (the spec's extended fmt
  * carries it, the standard 7 pairs first — wNumCoef >= 7 by spec);
  * mono/stereo only, the layouts the registration defines. Decoded
  * output is 16-bit signed PCM, frame-major interleaved — the exact
  * stream a PCM spelling of the same recording stores, so the
  * sample-hash collapse is by construction (qe71d). */
object MsAdpcm {

  import ByteReads.{fourcc, le16, le32u}

  /** Quantizer-step adaptation per UNSIGNED nibble value (the published
    * table: values scale iDelta by table/256, floored at 16). */
  private val AdaptTable = Array(
    230, 230, 230, 230, 307, 409, 512, 614,
    768, 614, 512, 409, 307, 230, 230, 230)

  /** The spec's block layout is defined for mono and stereo; anything
    * else refuses (no published nibble rotation past 2 channels). */
  private val MaxChannels = 2

  /** The ONE block-geometry predicate, shared by this decoder and
    * [[AudioHeader]]'s tag-2 triage branch so the two can never disagree
    * about which containers are readable (the [[ImaAdpcm.validGeometry]]
    * discipline): a block is 7 header bytes per channel plus data bytes
    * whose nibbles split evenly across channels, and the fmt-extra
    * samplesPerBlock must equal the 2 header samples + nibbles per
    * channel. */
  def validGeometry(ch: Int, blockAlign: Int, samplesPerBlock: Int): Boolean = {
    if (ch <= 0 || ch > MaxChannels || blockAlign <= 7 * ch) return false
    val dataBytes = blockAlign - 7 * ch
    (dataBytes * 2) % ch == 0 &&
      samplesPerBlock == 2 + (dataBytes * 2) / ch
  }

  /** One decoded clip: 16-bit samples, frame-major channel order. */
  final case class Decoded(channels: Int, rate: Int, samples: Array[Short])

  /** Parsed tag-2 fmt EXTENSION: samplesPerBlock + the file's
    * coefficient table. */
  final case class Fmt2(samplesPerBlock: Int, coef1: Array[Int],
                        coef2: Array[Int])

  /** Validate + read the tag-2 fmt extension of the "fmt " chunk at
    * `off` with declared payload `size` — the ONE fmt predicate this
    * decoder and [[AudioHeader]]'s tag-2 triage branch share, so the two
    * can never drift on which containers are readable (the
    * [[validGeometry]] discipline applied to the fmt half; review r17:
    * the first cut duplicated these checks in both files and both copies
    * carried the same bounds bug). Returns null unless conformant: 4-bit
    * depth, wNumCoef >= 7 with cbSize covering the table, and the whole
    * read range inside the buffer. blockAlign geometry is the OTHER
    * shared half — callers check [[validGeometry]] themselves. */
  def parseFmt2(b: Array[Byte], off: Int, size: Long): Fmt2 = {
    // payload = 18 (WAVEFORMATEX incl. cbSize) + 2 (spb) + 2 (nCoef)
    // + 4·nCoef; reads end at off + 8 + 22 + 4·nCoef
    if (size < 22 + 4 * 7 || off + 8 + 22 > b.length) return null
    val bits = le16(b, off + 22)
    val cb = le16(b, off + 24)
    val spb = le16(b, off + 26)
    val nCoef = le16(b, off + 28)
    if (bits != 4 || nCoef < 7 || cb < 4 + 4 * nCoef) return null
    if (size < 22 + 4L * nCoef || off + 8 + 22 + 4 * nCoef > b.length)
      return null
    val c1 = new Array[Int](nCoef)
    val c2 = new Array[Int](nCoef)
    var i = 0
    while (i < nCoef) {
      c1(i) = le16(b, off + 30 + 4 * i).toShort.toInt // s16
      c2(i) = le16(b, off + 32 + 4 * i).toShort.toInt
      i += 1
    }
    Fmt2(spb, c1, c2)
  }

  /** Quantizer-step ceiling: the step grows MULTIPLICATIVELY (×3 max per
    * nibble, unlike IMA's table-bounded walk), so SOME cap is needed for
    * fixed-width arithmetic — the C reference's plain ints overflow
    * undefined near 2^31 in the same adversarial regime. 2^46 keeps
    * every Long product in range (768·2^46 < 2^63) and is unreachable
    * before ~85 consecutive max-growth nibbles from the header ceiling —
    * no encoder tracking a 16-bit signal produces that — so every
    * conformant stream decodes in exact arithmetic (review r17: the
    * first cut capped at 2^21, which a legal stream can exceed, changing
    * the clamp-decay tail vs a reference decode). */
  private val MaxDelta = 1L << 46

  /** Mutable per-channel predictor state — the ONE place the MS-ADPCM
    * arithmetic lives. Instances are reused across blocks via [[seed]].
    * All arithmetic in Long: coefficients and history are file-supplied
    * s16s whose products reach 2^31, and the adaptive step needs the
    * [[MaxDelta]] headroom. */
  private final class Ch {
    var c1: Long = 0; var c2: Long = 0
    var delta: Long = 0
    var s1: Long = 0; var s2: Long = 0
    def seed(coef1: Int, coef2: Int, d: Int, samp1: Int, samp2: Int): Unit = {
      c1 = coef1; c2 = coef2; delta = d; s1 = samp1; s2 = samp2
    }
    def step(nibble: Int): Short = {
      // Long division truncates toward zero, matching the spec
      // pseudo-code's C semantics — an arithmetic >> 8 would FLOOR and
      // drift one LSB low on negative predictions (golden vector pins it)
      val predict = (s1 * c1 + s2 * c2) / 256
      val signed = if ((nibble & 8) != 0) nibble - 16 else nibble
      var samp = predict + signed * delta
      if (samp > 32767) samp = 32767
      if (samp < -32768) samp = -32768
      s2 = s1; s1 = samp
      delta = AdaptTable(nibble) * delta / 256
      if (delta < 16) delta = 16
      if (delta > MaxDelta) delta = MaxDelta
      samp.toShort
    }
  }

  /** Decode a tag-2 WAV payload; null unless it is a well-formed MS
    * ADPCM container. */
  def decode(b: Array[Byte]): Decoded = {
    if (b == null || b.length < 12 || !fourcc(b, 0, "RIFF") ||
      !fourcc(b, 8, "WAVE")) return null
    val c = new ByteReads.Chunks(b, 12, b.length, bigEndian = false)
    var ch = -1; var rate = -1; var blockAlign = -1; var spb = -1
    var coef1: Array[Int] = null; var coef2: Array[Int] = null
    var dataOff = -1; var dataLen = -1
    while ((dataOff < 0 || ch < 0) && c.next()) {
      val off = c.off
      val size = c.size
      if (c.is("fmt ")) {
        if (size < 16 || off + 8 + 16 > b.length) return null
        if (le16(b, off + 8) != 2) return null
        ch = le16(b, off + 10)
        rate = le32u(b, off + 12).toInt
        blockAlign = le16(b, off + 20)
        // the fmt EXTENSION (depth, samplesPerBlock, coefficient table)
        // through the shared predicate — see parseFmt2
        val f = parseFmt2(b, off, size)
        if (f == null) return null
        spb = f.samplesPerBlock
        coef1 = f.coef1
        coef2 = f.coef2
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
    // output size in Long space first — the ImaAdpcm overflow discipline
    val outLen = nBlocks.toLong * spb * ch
    if (outLen > Int.MaxValue) return null
    val out = new Array[Short](outLen.toInt)
    val dataBytes = blockAlign - 7 * ch
    val nibblesPerCh = dataBytes * 2 / ch
    // per-channel state allocated ONCE and re-seeded per block — this
    // loop runs per crawl record inside sampleHash/eHash64
    val chans = Array.fill(ch)(new Ch)
    var w = 0
    var blk = 0
    while (blk < nBlocks) {
      val base = dataOff + blk * blockAlign
      // header: bPredictor[ch] u8, iDelta[ch] s16, iSamp1[ch] s16,
      // iSamp2[ch] s16 — fields grouped, channels interleaved within each
      var c = 0
      while (c < ch) {
        val pred = b(base + c) & 0xFF
        if (pred >= coef1.length) return null // index past the file's table
        val d0 = le16(b, base + ch + 2 * c).toShort.toInt
        if (d0 <= 0) return null // a non-positive quantizer step is misshaped
        val samp1 = le16(b, base + 3 * ch + 2 * c).toShort.toInt
        val samp2 = le16(b, base + 5 * ch + 2 * c).toShort.toInt
        chans(c).seed(coef1(pred), coef2(pred), d0, samp1, samp2)
        c += 1
      }
      // the two history samples are the block's first output frames,
      // OLDER first (iSamp2 then iSamp1)
      var c2 = 0
      while (c2 < ch) { out(w) = chans(c2).s2.toShort; w += 1; c2 += 1 }
      c2 = 0
      while (c2 < ch) { out(w) = chans(c2).s1.toShort; w += 1; c2 += 1 }
      // data nibbles: HIGH nibble first within each byte, channels
      // rotating per nibble — nibble k belongs to channel k % ch, and
      // with the header's even per-channel split every output frame
      // completes in order, so decode emits frame-major directly
      var k = 0
      val totalNibbles = nibblesPerCh * ch
      while (k < totalNibbles) {
        val byte = b(base + 7 * ch + k / 2) & 0xFF
        val nib = if (k % 2 == 0) byte >> 4 else byte & 0x0F
        out(w) = chans(k % ch).step(nib)
        w += 1
        k += 1
      }
      blk += 1
    }
    Decoded(ch, rate, out)
  }
}
