package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Byte-level JPEG EXIF-orientation + ICC-presence card (SURVEY §2.4 E5,
  * the last commonly-hit image-metadata family beside qe5a's dims): a
  * crawl pipeline needs the EXIF Orientation tag to know whether decoded
  * pixels must be rotated/flipped before any vision model sees them, and
  * ICC presence to know whether colors are profile-managed — both
  * readable from the marker stream with no codec. Published layouts
  * (ITU-T T.81 §B, EXIF 2.3 §4.6, ICC.1 annex B.4):
  *
  *  - APP1 (0xFFE1) with an "Exif\0\0" prefix carries a TIFF structure:
  *    2-byte order mark ("II" little-endian / "MM" big-endian — BOTH
  *    planted in the certified corpus, since every field read after it
  *    forks on endianness), u16 magic 42, u32 IFD0 offset from the TIFF
  *    origin. IFD0 is a u16 entry count then 12-byte entries (ascending
  *    tag order): u16 tag, u16 type, u32 count, 4-byte value slot.
  *    Orientation is tag 0x0112, type SHORT(3), count 1, value 1–8 in
  *    the FIRST two bytes of the slot (endian-ordered). The first intact
  *    Exif APP1 wins, per spec.
  *  - APP2 (0xFFE2) with an "ICC_PROFILE\0" prefix carries one profile
  *    CHUNK: u8 sequence number, u8 chunk total, then profile bytes —
  *    profiles larger than a segment span several APP2s, so the card
  *    reports the chunk count and the summed payload bytes.
  *
  * The walk ends at SOS/EOI (entropy-coded data follows — no more
  * metadata segments), a desynced marker, or a segment length overrunning
  * the buffer; fields already validated are KEPT (a truncated tail must
  * not erase an intact orientation read). A payload that is not
  * SOI-led JPEG at all is NULL, never a guess. A malformed TIFF body
  * (wrong magic, truncated IFD, non-SHORT orientation) contributes
  * nothing — orientation stays null rather than reading garbage. */
object JpegExif extends MetaParser {
  import ByteReads.be16

  val name = "jpeg_exif"

  /** `jpeg_exif(payload)` → struct<orientation int, byte_order string,
    * icc_chunks int, icc_bytes bigint>, null when the payload is not
    * SOI-led JPEG. `orientation`/`byte_order` are null when no intact
    * Exif APP1 (or no Orientation tag) is present. */
  val schema: StructType = StructType(Seq(
    StructField("orientation", IntegerType, nullable = true),
    StructField("byte_order", StringType, nullable = true),
    StructField("icc_chunks", IntegerType, nullable = false),
    StructField("icc_bytes", LongType, nullable = false)))

  def compute(b: Array[Byte]): InternalRow = {
    val r = parse(b)
    if (r == null) null
    else new GenericInternalRow(Array[Any](
      r._1.map(Int.box).orNull,
      r._2.map(UTF8String.fromString).orNull,
      r._3, r._4))
  }

  /** Parse (orientation 1–8 or None, byte order "II"/"MM" or None,
    * icc_chunks, icc_bytes) from a JPEG payload; null when the payload
    * does not start with SOI. */
  def parse(b: Array[Byte]): (Option[Int], Option[String], Int, Long) = {
    if (b == null || b.length < 4) return null
    if ((b(0) & 0xFF) != 0xFF || (b(1) & 0xFF) != 0xD8) return null
    var orientation: Option[Int] = None
    var byteOrder: Option[String] = None
    var iccChunks = 0
    var iccBytes = 0L
    var i = 2
    var walking = true
    while (walking && i + 3 < b.length) {
      if ((b(i) & 0xFF) != 0xFF) walking = false // desynced marker stream
      else {
        var j = i
        while (j < b.length && (b(j) & 0xFF) == 0xFF) j += 1 // fill bytes
        if (j >= b.length) walking = false
        else {
          val m = b(j) & 0xFF
          if (m == 0xD8 || m == 0x01 || (m >= 0xD0 && m <= 0xD7)) i = j + 1
          else if (m == 0xD9 || m == 0xDA) walking = false // EOI / SOS
          else if (j + 2 >= b.length) walking = false
          else {
            val len = be16(b, j + 1)
            if (len < 2 || j + 1 + len > b.length) walking = false
            else {
              val body = j + 3; val blen = len - 2
              if (m == 0xE1 && byteOrder.isEmpty && blen >= 6 + 8 &&
                hasPrefix(b, body, "Exif\u0000\u0000")) {
                val t = parseTiffOrientation(b, body + 6, blen - 6)
                if (t != null) { byteOrder = Some(t._1); orientation = t._2 }
              } else if (m == 0xE2 && blen >= 14 &&
                hasPrefix(b, body, "ICC_PROFILE\u0000")) {
                // seq (1) + total (1) follow the 12-byte signature
                iccChunks += 1
                iccBytes += blen - 14
              }
              i = j + 1 + len
            }
          }
        }
      }
    }
    (orientation, byteOrder, iccChunks, iccBytes)
  }

  private def hasPrefix(b: Array[Byte], off: Int, s: String): Boolean = {
    if (off + s.length > b.length) return false
    var k = 0
    while (k < s.length) {
      if ((b(off + k) & 0xFF) != s.charAt(k)) return false
      k += 1
    }
    true
  }

  /** TIFF header + IFD0 walk, bounds-confined to [off, off+len):
    * (byte order, orientation) or null when the TIFF structure is torn.
    * The byte order is reported even when the orientation tag is absent
    * (an Exif block without Orientation is common and legal). */
  private def parseTiffOrientation(b: Array[Byte], off: Int,
                                   len: Int): (String, Option[Int]) = {
    if (len < 8) return null
    val le =
      if (b(off) == 'I' && b(off + 1) == 'I') true
      else if (b(off) == 'M' && b(off + 1) == 'M') false
      else return null
    def u16(i: Int): Int =
      if (le) ByteReads.le16(b, i) else ByteReads.be16(b, i)
    def u32(i: Int): Long =
      (if (le) ByteReads.le32(b, i) else ByteReads.be32(b, i)) & 0xFFFFFFFFL
    if (u16(off + 2) != 42) return null
    val ifd = u32(off + 4)
    if (ifd < 8 || ifd + 2 > len) return null
    val order = if (le) "II" else "MM"
    val n = u16(off + ifd.toInt)
    var k = 0
    var orient: Option[Int] = None
    while (k < n) {
      val e = off + ifd.toInt + 2 + 12 * k
      if (e + 12 > off + len) return (order, orient) // IFD overruns: keep
      if (u16(e) == 0x0112 && u16(e + 2) == 3 && u32(e + 4) == 1L) {
        val v = u16(e + 8)
        if (v >= 1 && v <= 8) orient = Some(v)
      }
      k += 1
    }
    (order, orient)
  }
}
