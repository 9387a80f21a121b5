package graft.functions

/** Shared endian byte readers and the RIFF/IFF chunk walker for the
  * container parsers and decoders (AudioMeta / ImageDims / VideoMeta / the
  * ADPCM and extensible-WAV decoders — and the MJPEG-AVI walker in
  * operators). ONE definition each: a masking, bounds or advance fix
  * cannot silently drift between parsers.
  *
  * The numeric readers do NOT bounds-check — every parser validates a
  * chunk's declared length against the array before trusting any field
  * (the refuse-don't-guess contract), so a read here is always inside a
  * validated window. [[fourcc]] carries its own bounds check because it
  * IS the validation step at each walk position. */
private[graft] object ByteReads {

  def be16(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xFF) << 8) | (b(i + 1) & 0xFF)

  def be32(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xFF) << 24) | ((b(i + 1) & 0xFF) << 16) |
      ((b(i + 2) & 0xFF) << 8) | (b(i + 3) & 0xFF)

  def be64(b: Array[Byte], i: Int): Long =
    ((be32(b, i) & 0xFFFFFFFFL) << 32) | (be32(b, i + 4) & 0xFFFFFFFFL)

  def le16(b: Array[Byte], i: Int): Int =
    ((b(i + 1) & 0xFF) << 8) | (b(i) & 0xFF)

  def le32(b: Array[Byte], i: Int): Int =
    ((b(i + 3) & 0xFF) << 24) | ((b(i + 2) & 0xFF) << 16) |
      ((b(i + 1) & 0xFF) << 8) | (b(i) & 0xFF)

  /** Unsigned LE u32 (Ogg serial numbers, OpusHead sample rates). */
  def le32u(b: Array[Byte], i: Int): Long = le32(b, i) & 0xFFFFFFFFL

  def le64(b: Array[Byte], i: Int): Long =
    le32u(b, i) | (le32u(b, i + 4) << 32)

  /** True iff the four bytes at `off` spell `t` (bounds-checked). */
  def fourcc(b: Array[Byte], off: Int, t: String): Boolean =
    off + 4 <= b.length && b(off) == t.charAt(0) && b(off + 1) == t.charAt(1) &&
      b(off + 2) == t.charAt(2) && b(off + 3) == t.charAt(3)

  /** Cursor over a chunk sequence in `b[from, until)`: RIFF chunks
    * (little-endian, `bigEndian = false`) or EA IFF 85 / AIFF chunks
    * (big-endian). Each chunk is a 4-byte id, a u32 payload size, the
    * payload, and one pad byte after an odd-sized payload. This is the ONE
    * definition of that framing; every walk over untrusted RIFF/IFF bytes
    * goes through it.
    *
    * [[next]] steps onto the next chunk whose 8-byte header fits before
    * `until`, and returns false when none does. The advance runs in Long
    * space and clamps to `until`, so a declared size past the window (or
    * near u32 max) ends the walk instead of wrapping Int into a negative
    * index. The payload is NOT bounds-checked: a caller validates
    * `body + n` against the buffer before reading n payload bytes. */
  final class Chunks(b: Array[Byte], from: Int, val until: Int, bigEndian: Boolean) {
    private[this] var pos: Long = from
    private[this] var at: Int = -1
    private[this] var len: Long = -1L

    /** Offset of the current chunk's 8-byte header. */
    def off: Int = at
    /** Offset of the current chunk's payload. */
    def body: Int = at + 8
    /** The current chunk's declared payload size (u32). */
    def size: Long = len

    def next(): Boolean = {
      if (pos + 8 > until) return false
      at = pos.toInt
      len = (if (bigEndian) be32(b, at + 4) else le32(b, at + 4)) & 0xFFFFFFFFL
      pos = math.min(at.toLong + 8L + len + (len & 1L), until.toLong)
      true
    }

    /** True iff the current chunk's id is `id`. */
    def is(id: String): Boolean = fourcc(b, at, id)

    /** Cursor over the sub-chunks of the current chunk when it is
      * LIST(`kind`), clamped to this walk's window; else null. */
    def list(kind: String): Chunks =
      if (is("LIST") && fourcc(b, at + 8, kind))
        new Chunks(b, at + 12, math.min(until.toLong, at + 8L + len).toInt, bigEndian)
      else null
  }

  /** ID3 SYNCSAFE u28 at `i` (7 bits per byte, top bit of each MUST be
    * zero — a plain u32 read would overshoot 8x), or -1 when a top bit
    * is set (torn/not-syncsafe) or fewer than 4 bytes remain. ONE
    * definition shared by the tag-skip and the tag/frame-size reads in
    * [[Id3v2Tags]] — the v2.4-frame-size-is-syncsafe subtlety must not
    * fork. */
  def syncsafe32(b: Array[Byte], i: Int): Int = {
    if (i + 4 > b.length) return -1
    var size = 0
    var j = i
    while (j < i + 4) {
      if ((b(j) & 0x80) != 0) return -1
      size = (size << 7) | (b(j) & 0x7F)
      j += 1
    }
    size
  }

  /** Offset just past an optional ID3v2 prefix tag — "ID3", 2 version
    * bytes, 1 flags byte, then a 4-byte SYNCSAFE size (7 bits per byte,
    * top bit zero — a plain u32 read would overshoot 8x) counting the
    * body after the 10-byte header, +10 more if the footer flag 0x10 is
    * set. Returns 0 when no tag leads the payload, -1 when the tag is
    * torn (a set syncsafe top bit, or fewer than `need` readable bytes
    * left after it). ONE definition shared by the MPEG-audio and ADTS
    * parsers — the syncsafe subtlety must not fork. */
  def skipId3v2(b: Array[Byte], need: Int): Int = {
    if (b.length < 10 || b(0) != 'I' || b(1) != 'D' || b(2) != '3') return 0
    val size = syncsafe32(b, 6)
    if (size < 0) return -1
    val footer = if ((b(5) & 0x10) != 0) 10 else 0
    val next = 10L + size + footer
    if (next + need > b.length) return -1
    next.toInt
  }

  /** Bytes a trailing ID3v1 tag occupies: 128 when the payload ends in
    * the exact 128-byte "TAG" trailer that starts AFTER the 4-byte frame
    * header at `from` (>= from+4 — a 'T' in the header's own channel-mode
    * byte, e.g. h3=0x54, must not alias into a tag that would deflate the
    * stream-byte count below the header it overlaps), else 0. Used by
    * byte-count duration estimates — a tag counted as stream bytes
    * overstates duration by 1024/kbps ms. The frame-walking parsers
    * (ADTS) instead pin the tag at a frame boundary structurally. */
  def trailingId3v1(b: Array[Byte], from: Int): Int =
    if (b.length - from >= 132 && b(b.length - 128) == 'T' &&
      b(b.length - 127) == 'A' && b(b.length - 126) == 'G') 128 else 0
}
