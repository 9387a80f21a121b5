package graft.functions

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Byte-level image-container header parser — the REAL decode step of the
  * multimodal pipeline (SURVEY §2.4 E5), replacing the deterministic fake
  * the codec stub used through round 9. Pixel decoding still needs a codec
  * library; container metadata does not — width/height/type live in the
  * first bytes of every common container, published in the format specs:
  *
  *  - PNG (RFC 2083 / W3C PNG): 8-byte signature, then the IHDR chunk —
  *    width and height are the two big-endian u32s at offsets 16 and 20.
  *  - JPEG (ITU-T T.81 / JFIF): marker stream; scan segments (2-byte
  *    marker, 2-byte big-endian length) skipping APPn/COM/DQT/DHT until a
  *    frame header SOFn (C0–CF minus C4/C8/CC), whose payload is
  *    precision(u8), height(u16 BE), width(u16 BE). Scanning — not a fixed
  *    offset — is required: real files carry variable-length APP0/EXIF
  *    segments before the frame header.
  *  - GIF (GIF87a/89a spec): 6-byte version signature, then the logical
  *    screen descriptor — width and height as LITTLE-endian u16s at
  *    offsets 6 and 8.
  *  - BMP (Windows BMP spec): "BM" file header (14 bytes), then a DIB
  *    header whose leading u32 LE size selects the layout —
  *    BITMAPCOREHEADER (12: u16 LE dims) or BITMAPINFOHEADER through V5
  *    (40–124: s32 LE dims, negative height = top-down).
  *
  * Anything unrecognized (or truncated mid-header) yields NULL, never a
  * guess — the honest behavior for a curation gate deciding whether a
  * payload is a usable image. One codegen'd call per row, zero allocation
  * beyond the 3-field result row; the payload bytes are read in place. */
object ImageHeader extends MetaParser {

  import ByteReads.{be16, be32, le16, le32}

  val name = "image_dims"

  /** `image_dims(payload)` → struct<mime string, width int, height int>,
    * null for unrecognized payloads. */
  val schema: StructType = StructType(Seq(
    StructField("mime", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false)))

  /** Parse (mime, width, height) from container header bytes; null if the
    * payload is not a recognized, intact image header. */
  def compute(b: Array[Byte]): InternalRow = {
    val r = parse(b)
    if (r == null) null
    else new GenericInternalRow(Array[Any](UTF8String.fromString(r._1), r._2, r._3))
  }

  /** JVM-facing form for Dataset/mapPartitions callers. */
  def parse(b: Array[Byte]): (String, Int, Int) = {
    if (b == null) return null
    if (isPng(b)) {
      // signature(8) + IHDR length(4) + "IHDR"(4) + w(4) + h(4)
      if (b.length < 24 || !ByteReads.fourcc(b, 12, "IHDR")) return null
      val w = be32(b, 16); val h = be32(b, 20)
      if (w <= 0 || h <= 0) return null
      ("image/png", w, h)
    } else if (isJpeg(b)) {
      var i = 2
      while (i + 3 < b.length) {
        if ((b(i) & 0xFF) != 0xFF) return null // desynced marker stream
        var j = i
        while (j < b.length && (b(j) & 0xFF) == 0xFF) j += 1 // fill bytes
        if (j >= b.length) return null
        val m = b(j) & 0xFF
        if (m == 0xD8 || m == 0x01 || (m >= 0xD0 && m <= 0xD7)) {
          i = j + 1 // standalone marker, no length field
        } else if (m == 0xD9 || m == 0xDA) {
          return null // EOI/SOS before any frame header: no dims to read
        } else {
          if (j + 2 >= b.length) return null
          val len = be16(b, j + 1)
          if (len < 2) return null
          if (isSof(m)) {
            // the declared segment length must COVER the dim fields
            // (len(2) + precision(1) + h(2) + w(2)): a truncated SOF with
            // len < 7 would otherwise read h/w from the NEXT segment's
            // bytes — a nonzero garbage "parse" where the contract is
            // NULL, never a guess
            if (len < 7 || j + 7 >= b.length) return null
            val h = be16(b, j + 4); val w = be16(b, j + 6)
            if (w <= 0 || h <= 0) return null
            return ("image/jpeg", w, h)
          }
          i = j + 1 + len
        }
      }
      null
    } else if (isGif(b)) {
      if (b.length < 10) return null
      val w = le16(b, 6); val h = le16(b, 8)
      if (w <= 0 || h <= 0) return null
      ("image/gif", w, h)
    } else if (isBmp(b)) {
      // BITMAPFILEHEADER(14) then the DIB header, whose leading u32 LE
      // size selects the layout (Windows BMP spec): 12 = BITMAPCOREHEADER
      // (u16 LE dims), 40..124 = BITMAPINFOHEADER..V5 (s32 LE dims; a
      // negative height means top-down row order — magnitude is the
      // pixel height). Other sizes: not a BMP we can read — null.
      if (b.length < 18) return null
      // 'BM' is only 2 bytes of magic, so arbitrary text/containers can
      // start with it: additionally require bfOffBits (u32 LE at 10) to
      // point past the headers and inside the buffer before trusting the
      // dims — that bound alone rules out the text/container
      // false-positive class. The r15 sniff ALSO demanded zero reserved
      // words (offsets 6-9), but real-world writers do emit nonzero
      // reserved bytes (ADVICE r15), and refusing those routed
      // ImageIO-decodable payloads into null-key singletons — a recall
      // regression the offBits bound never needed.
      val dib = le32(b, 14)
      val offBits = le32(b, 10)
      if (offBits < 14 + math.max(dib, 0) || offBits > b.length) return null
      // a buffer shorter than the DECLARED DIB header is a torn file —
      // the dims may be intact but the header is not; null, never a
      // guess (the same declared-length discipline as the avih check)
      if (dib > 0 && b.length < 14 + dib) return null
      if (dib == 12) {
        val w = le16(b, 18); val h = le16(b, 20)
        if (w <= 0 || h <= 0) return null
        ("image/bmp", w, h)
      } else if (KnownDibSizes(dib)) {
        val w = le32(b, 18); val h0 = le32(b, 22)
        // Int.MinValue has no positive magnitude — refuse, don't wrap
        if (w <= 0 || h0 == 0 || h0 == Int.MinValue) return null
        ("image/bmp", w, math.abs(h0))
      } else null
    } else null
  }

  private def isPng(b: Array[Byte]): Boolean =
    b.length >= 8 && (b(0) & 0xFF) == 0x89 && b(1) == 'P' && b(2) == 'N' &&
      b(3) == 'G' && b(4) == 0x0D && b(5) == 0x0A && b(6) == 0x1A && b(7) == 0x0A

  private def isJpeg(b: Array[Byte]): Boolean =
    b.length >= 4 && (b(0) & 0xFF) == 0xFF && (b(1) & 0xFF) == 0xD8

  private def isGif(b: Array[Byte]): Boolean =
    b.length >= 6 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8' &&
      (b(4) == '7' || b(4) == '9') && b(5) == 'a'

  /** "BM" is only 2 bytes of magic — the DIB-header-size check in the
    * parse body is what keeps arbitrary "BM…" bytes from mis-parsing. */
  private def isBmp(b: Array[Byte]): Boolean =
    b.length >= 2 && b(0) == 'B' && b(1) == 'M'

  /** The PUBLISHED DIB header sizes only (BITMAPINFOHEADER through V5,
    * the V2/V3 Adobe variants, and OS/2 2.x's 64-byte BITMAPINFOHEADER2
    * — same s32 dims at offsets 18/22; review r17 caught its omission
    * regressing real OS/2 files from parsed to refused): after the r16
    * sniff dropped the zero-reserved-words requirement (real writers
    * emit nonzero there), any 'BM' payload whose u32 at offset 10 landed
    * inside the buffer parsed as BMP with guessed dims — an exact-size
    * allowlist keeps that false-positive class narrow without
    * re-refusing real files (ADVICE r16). 12 (BITMAPCOREHEADER) is
    * handled by its own branch. */
  private val KnownDibSizes = Set(40, 52, 56, 64, 108, 124)

  /** SOFn frame-header markers: C0–CF minus C4 (DHT), C8 (JPG ext), CC (DAC). */
  private def isSof(m: Int): Boolean =
    m >= 0xC0 && m <= 0xCF && m != 0xC4 && m != 0xC8 && m != 0xCC

}
