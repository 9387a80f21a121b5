package graft.functions

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Byte-level ID3v2 TEXT-frame extraction (SURVEY §2.4 E5): the
  * qe5i/qe5k parsers SKIP the ID3v2 tag to reach the audio stream; a
  * crawl pipeline also wants what is INSIDE it — the title/artist/album
  * text frames are the only widely-planted human-readable metadata in an
  * MP3/AAC corpus, and they feed the text side of the pipeline (dedup
  * keys, language ID over titles). Published layout (id3.org, v2.3.0 and
  * v2.4.0 informal standards):
  *
  *  - Header: "ID3", version major (3 or 4 here) + revision, flags,
  *    4-byte SYNCSAFE tag size (body after the 10-byte header).
  *  - Frames: 4-char id [A-Z0-9], 4-byte size — plain big-endian u32 in
  *    v2.3 but SYNCSAFE in v2.4 (the classic cross-version bug; both
  *    branches are corpus-certified with sizes past 128 and 256 so a
  *    confusion garbles the walk), 2 flag bytes, body.
  *  - Text frames (id "T…", excluding TXXX): 1 encoding byte — 0 =
  *    ISO-8859-1, 1 = UTF-16 with BOM, 2 = UTF-16BE (v2.4), 3 = UTF-8
  *    (v2.4) — then the text, optionally NUL-terminated (the terminator
  *    and anything after the first NUL — v2.4 multi-value lists — is
  *    stripped).
  *  - A 0x00 byte where a frame id should start is padding: stop.
  *
  * Extracted: TIT2 (title), TPE1 (artist), TALB (album) — first
  * occurrence wins, per spec one text frame per id is legal — plus the
  * total frame count (non-text frames like PRIV are counted, walked
  * over by their declared size, never decoded). The v2.3 extended
  * header (plain u32 size EXCLUDING itself) and the v2.4 one (syncsafe,
  * INCLUDING itself) are skipped when flagged. Unsynchronised tags
  * (flag 0x80) are refused — NULL, never a guess — as are torn sizes,
  * versions outside 2.3/2.4, and frames overrunning the tag. A frame id
  * that is not [A-Z0-9]{4} ends the walk (corrupt region), keeping what
  * was already read. No BOM under encoding 1 decodes as the spec
  * default big-endian. */
object Id3v2Tags extends MetaParser {
  val name = "id3v2_tags"

  /** `id3v2_tags(payload)` → struct<version string, n_frames int,
    * title string, artist string, album string>, null when no intact
    * ID3v2.3/2.4 tag leads the payload. Text fields are null when the
    * corresponding frame is absent. */
  val schema: StructType = StructType(Seq(
    StructField("version", StringType, nullable = false),
    StructField("n_frames", IntegerType, nullable = false),
    StructField("title", StringType, nullable = true),
    StructField("artist", StringType, nullable = true),
    StructField("album", StringType, nullable = true)))

  def compute(b: Array[Byte]): InternalRow = {
    val r = parse(b)
    if (r == null) null
    else new GenericInternalRow(Array[Any](
      UTF8String.fromString(r._1), r._2,
      if (r._3 == null) null else UTF8String.fromString(r._3),
      if (r._4 == null) null else UTF8String.fromString(r._4),
      if (r._5 == null) null else UTF8String.fromString(r._5)))
  }

  /** Parse (version, n_frames, title, artist, album) from an ID3v2-
    * tagged payload; null when no intact v2.3/v2.4 tag leads it. */
  def parse(b: Array[Byte]): (String, Int, String, String, String) = {
    if (b == null || b.length < 10) return null
    if (b(0) != 'I' || b(1) != 'D' || b(2) != '3') return null
    val major = b(3) & 0xFF
    if (major != 3 && major != 4) return null
    val flags = b(5) & 0xFF
    if ((flags & 0x80) != 0) return null // unsynchronised tag: refuse
    val size = ByteReads.syncsafe32(b, 6)
    if (size < 0) return null
    val end = math.min(10L + size, b.length.toLong).toInt
    var p = 10
    if ((flags & 0x40) != 0) { // extended header
      if (p + 4 > end) return null
      val ext =
        if (major == 3) 4 + ByteReads.be32(b, p) // size excludes itself
        else ByteReads.syncsafe32(b, p) // v2.4: syncsafe, includes itself
      if (ext < 4 || p + ext > end) return null
      p += ext
    }
    var title: String = null
    var artist: String = null
    var album: String = null
    var n = 0
    var walking = true
    while (walking && p + 10 <= end && b(p) != 0) {
      var k = 0
      while (k < 4 && walking) {
        val c = b(p + k) & 0xFF
        if (!((c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9'))) walking = false
        k += 1
      }
      if (walking) {
        val fsize =
          if (major == 4) ByteReads.syncsafe32(b, p + 4)
          else ByteReads.be32(b, p + 4)
        if (fsize < 0 || p + 10 + fsize > end) walking = false
        else {
          n += 1
          if (b(p) == 'T' && fsize >= 2 &&
            !(b(p + 1) == 'X' && b(p + 2) == 'X' && b(p + 3) == 'X')) {
            val text = decodeText(b, p + 10, fsize)
            if (text != null) {
              val id1 = b(p + 1); val id2 = b(p + 2); val id3c = b(p + 3)
              if (id1 == 'I' && id2 == 'T' && id3c == '2') {
                if (title == null) title = text
              } else if (id1 == 'P' && id2 == 'E' && id3c == '1') {
                if (artist == null) artist = text
              } else if (id1 == 'A' && id2 == 'L' && id3c == 'B') {
                if (album == null) album = text
              }
            }
          }
          p += 10 + fsize
        }
      }
    }
    ("2." + major, n, title, artist, album)
  }

  /** Decode a text-frame body (encoding byte + text) to the first
    * NUL-terminated value; null for an unknown encoding byte. */
  private def decodeText(b: Array[Byte], off: Int, fsize: Int): String = {
    val cs = (b(off) & 0xFF) match {
      case 0 => StandardCharsets.ISO_8859_1
      case 1 => StandardCharsets.UTF_16 // BOM-aware; spec default BE
      case 2 => StandardCharsets.UTF_16BE
      case 3 => StandardCharsets.UTF_8
      case _ => return null
    }
    val s = new String(b, off + 1, fsize - 1, cs)
    val nul = s.indexOf('\u0000')
    if (nul >= 0) s.substring(0, nul) else s
  }
}
