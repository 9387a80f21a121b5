package graft.functions

/** WAVE_FORMAT_EXTENSIBLE (fmt tag 0xFFFE) — the spelling modern WAV
  * encoders actually emit for multichannel and >16-bit streams
  * (Microsoft's extensible wave format: the 16-byte base fmt, a cbSize,
  * then wValidBitsPerSample, dwChannelMask, and a 16-byte SubFormat GUID
  * whose Data1 carries the ORIGINAL format tag over the fixed
  * KSDATAFORMAT_SUBTYPE base `{xxxxxxxx-0000-0010-8000-00AA00389B71}`).
  * The stock JDK's WAV reader refuses tag 0xFFFE outright (verified
  * empirically on this JVM), so without this leg every extensible
  * spelling of a PCM recording — including every studio-grade 24-bit
  * file — dedups as an unknown singleton while its plain tag-1 twin
  * decodes fine.
  *
  * [[parseFmtX]] is the SHARED header predicate ([[AudioHeader]]'s
  * triage and this decoder both call it — the tag-17/tag-2 discipline:
  * triage can never accept an fmt the decode then refuses on
  * header-available grounds). [[decode]] implements inner-tag-1 integer
  * PCM, the extensible payload the format exists for: samples are
  * little-endian, 8-bit stored unsigned and wider widths signed —
  * exactly the JDK's own plain-PCM semantics, so an extensible spelling
  * hashes identically to its tag-1 twin with zero normalization glue.
  *
  * Refuse-don't-guess: short/torn extension, cbSize < 22, a GUID off
  * the published base, a Data1 outside the u16 tag range, zero/overflow
  * valid bits, container width not a whole number of bytes or past 32,
  * blockAlign disagreeing with channels × container bytes, or a data
  * chunk that is not whole frames — null, never a guess. */
object WavExtensible {

  import ByteReads.{fourcc, le16, le32}

  /** The 12 fixed bytes after Data1 in every KSDATAFORMAT_SUBTYPE GUID:
    * Data2 = 0x0000, Data3 = 0x0010 (both little-endian), then the
    * 8-byte Data4 `80 00 00 AA 00 38 9B 71` stored as-is. */
  private val GuidSuffix = Array(
    0x00, 0x00, 0x10, 0x00, 0x80, 0x00, 0x00, 0xAA, 0x00, 0x38, 0x9B, 0x71)

  /** The extensible fmt fields triage and decode agree on. */
  final case class FmtX(innerTag: Int, channels: Int, rate: Int,
                        blockAlign: Int, containerBits: Int, validBits: Int)

  /** Parse + validate an extensible fmt chunk at offset `off` (chunk
    * header included; `size` is the declared fmt payload size). Null on
    * any header-available inconsistency — the SHARED refusal set. */
  def parseFmtX(b: Array[Byte], off: Int, size: Long): FmtX = {
    // 16 base fields + cbSize u16 + 22 extension bytes = 40 minimum
    if (size < 40 || off + 8 + 40 > b.length) return null
    if (le16(b, off + 8) != 0xFFFE) return null
    val channels = le16(b, off + 10)
    val rate = le32(b, off + 12)
    val blockAlign = le16(b, off + 20)
    val containerBits = le16(b, off + 22)
    if (le16(b, off + 24) < 22) return null // cbSize
    val validBits = le16(b, off + 26)
    // dwChannelMask at off+28 is informational (0 = unspecified is legal)
    val g = off + 32 // SubFormat GUID
    val innerTag = le16(b, g)
    if (le16(b, g + 2) != 0) return null // Data1's high half: tags are u16
    var i = 0
    while (i < 12) {
      if ((b(g + 4 + i) & 0xFF) != GuidSuffix(i)) return null
      i += 1
    }
    if (channels <= 0 || rate <= 0) return null
    if (containerBits <= 0 || containerBits % 8 != 0 || containerBits > 32)
      return null
    if (validBits <= 0 || validBits > containerBits) return null
    if (blockAlign != channels * (containerBits / 8)) return null
    FmtX(innerTag, channels, rate, blockAlign, containerBits, validBits)
  }

  /** One decoded extensible-PCM stream: geometry + the raw little-endian
    * frame bytes (samples read out per the plain-WAV sign convention —
    * the caller owns normalization, like the JDK reader's contract). */
  final case class Decoded(channels: Int, rate: Int, nFrames: Int,
                           containerBits: Int, raw: Array[Byte])

  /** Decode a whole extensible-PCM payload (inner tag 1 only — the
    * integer-PCM payload the format exists for; float/G.711 inner tags
    * triage as valid metadata but stay outside this hash domain). */
  def decode(b: Array[Byte]): Decoded = {
    if (b == null || b.length < 12) return null
    if (!fourcc(b, 0, "RIFF") || !fourcc(b, 8, "WAVE")) return null
    val c = new ByteReads.Chunks(b, 12, b.length, bigEndian = false)
    var fmt: FmtX = null
    var dataOff = -1; var dataLen = -1L
    while ((fmt == null || dataOff < 0) && c.next()) {
      if (c.is("fmt ")) {
        fmt = parseFmtX(b, c.off, c.size)
        if (fmt == null) return null // an fmt that is not extensible-valid
      } else if (c.is("data")) {
        dataOff = c.body; dataLen = c.size
      }
    }
    if (fmt == null || dataOff < 0) return null
    if (fmt.innerTag != 1) return null // PCM only in this hash domain
    // decode needs the sample bytes in hand (unlike the header-only triage)
    if (dataOff.toLong + dataLen > b.length) return null
    if (dataLen % fmt.blockAlign != 0) return null // torn final frame
    val nFrames = dataLen / fmt.blockAlign
    if (nFrames > Int.MaxValue) return null
    val raw = java.util.Arrays.copyOfRange(b, dataOff, dataOff + dataLen.toInt)
    Decoded(fmt.channels, fmt.rate, nFrames.toInt, fmt.containerBits, raw)
  }
}
