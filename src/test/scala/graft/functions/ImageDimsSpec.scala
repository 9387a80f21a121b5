package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** The real container-header parser (E5 decode): fixtures are hand-built
  * per the published format specs — PNG signature+IHDR, JPEG marker stream
  * (baseline and progressive, with APPn segments the scan must skip), GIF
  * logical screen descriptor — plus the null paths (truncated, desynced,
  * not-an-image). */
class ImageDimsSpec extends SparkTestBase {

  private def hex(s: String): Array[Byte] =
    s.replaceAll("\\s", "").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  // 1x1 transparent PNG, the canonical minimal file (signature, IHDR 1x1
  // depth-8 RGBA with true CRC, IDAT, IEND) — a REAL decodable file, not
  // just a header
  private val png1x1 = hex(
    "89504E470D0A1A0A 0000000D 49484452 00000001 00000001 08 06 00 00 00 1F15C489" +
      "0000000A 49444154 789C63000100000500010D0A2DB4 0000000049454E44AE426082")

  // baseline JPEG: SOI, APP0/JFIF, COM segment (scan must skip), SOF0
  // 8-bit 3-component 7x5 (height 7, width 5), EOI
  private val jpegBaseline = hex(
    "FFD8 FFE0 0010 4A46494600 0101 00 0001 0001 00 00" +
      "FFFE 0007 68656C6C6F" + // COM "hello", length 7 = 2 + 5
      "FFC0 0011 08 0007 0005 03 011100 021101 031101 FFD9")

  // progressive JPEG (SOF2) behind an APP1/EXIF-style segment
  private val jpegProgressive = hex(
    "FFD8 FFE1 000A 45786966000055AA" + // APP1 len 10: "Exif\0\0" + 2 junk
      "FFC2 0011 08 0100 0200 03 011100 021101 031101 FFD9") // h=256 w=512

  private val gif = hex("474946383961 0A00 1400 F7 00 00") // 10 x 20, LE

  test("PNG / JPEG (baseline + progressive) / GIF dims parse per spec") {
    assert(ImageHeader.parse(png1x1) == ("image/png", 1, 1))
    assert(ImageHeader.parse(jpegBaseline) == ("image/jpeg", 5, 7))
    assert(ImageHeader.parse(jpegProgressive) == ("image/jpeg", 512, 256))
    assert(ImageHeader.parse(gif) == ("image/gif", 10, 20))
  }

  test("BMP: INFOHEADER family (incl. top-down negative height), COREHEADER, ImageIO round-trip; malformed DIB refuses") {
    // hand-built BITMAPINFOHEADER: 'BM' + bfSize/reserved zero +
    // bfOffBits 54 (spec-correct: 14 + 40-byte DIB), FULL 40-byte DIB
    // (dib=40, width=7, height=9 as s32 LE, rest zero)
    val fh40 = "424D" + "00" * 8 + "36000000" // file header, offBits=54
    val dib40Tail = "00" * (40 - 12) // the declared header past the dims
    val info = hex(fh40 + "28000000" + "07000000" + "09000000" + dib40Tail)
    assert(ImageHeader.parse(info) == ("image/bmp", 7, 9))
    // top-down row order: height -9 → magnitude
    val topDown = hex(fh40 + "28000000" + "07000000" + "F7FFFFFF" + dib40Tail)
    assert(ImageHeader.parse(topDown) == ("image/bmp", 7, 9))
    // BITMAPCOREHEADER (dib=12): u16 dims; full 12-byte core header,
    // offBits 26 = 14 + 12
    val core = hex("424D" + "00" * 8 + "1A000000" + "0C000000" + "0300" + "0400" + "00" * 4)
    assert(ImageHeader.parse(core) == ("image/bmp", 3, 4))
    // a REAL ImageIO-encoded BMP parses to its true dims
    val img = new java.awt.image.BufferedImage(
      11, 6, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "bmp", out)
    assert(ImageHeader.parse(out.toByteArray) == ("image/bmp", 11, 6))
    // 'BM' with an unrecognized DIB size, zero width, Int.MinValue
    // height, a header cut mid-dims, or a buffer shorter than the
    // DECLARED DIB (dims intact, header torn): null, never a guess
    assert(ImageHeader.parse(hex("424D" + "00" * 8 + "2B000000" + "1D000000" + "07000000" + "09000000" + dib40Tail)) == null)
    assert(ImageHeader.parse(hex(fh40 + "28000000" + "00000000" + "09000000" + dib40Tail)) == null)
    assert(ImageHeader.parse(hex(fh40 + "28000000" + "07000000" + "00000080" + dib40Tail)) == null)
    assert(ImageHeader.parse(hex(fh40 + "28000000" + "0700")) == null)
    assert(ImageHeader.parse(hex(fh40 + "28000000" + "07000000" + "09000000")) == null)
    // bfOffBits bounds gate the sniff: pointing before the headers or
    // past the buffer refuses even when the DIB and dims are plausible
    assert(ImageHeader.parse(hex("424D" + "00" * 8 + "0A000000" + "28000000" + "07000000" + "09000000" + dib40Tail)) == null)
    assert(ImageHeader.parse(hex("424D" + "00" * 8 + "FFFF0000" + "28000000" + "07000000" + "09000000" + dib40Tail)) == null)
    // ... but NONZERO reserved words alone do not (r16, ADVICE r15):
    // real-world writers emit them, and the offBits bound already rules
    // out the text/container false-positive class
    assert(ImageHeader.parse(hex("424D" + "00" * 4 + "01000000" + "36000000" + "28000000" + "07000000" + "09000000" + dib40Tail)) == ("image/bmp", 7, 9))
    // dropping the reserved-words check widened the sniff to any 'BM'
    // payload with an in-bounds u32 at offset 10 — the DIB size must now
    // be a PUBLISHED layout (12/40/52/56/108/124), so 44, inside the old
    // 40..124 range but no real header, refuses (ADVICE r16); 108
    // (BITMAPV4HEADER) still parses
    val dib44Tail = "00" * (44 - 12)
    assert(ImageHeader.parse(hex("424D" + "00" * 8 + "3A000000" + "2C000000" + "07000000" + "09000000" + dib44Tail)) == null)
    val dib108Tail = "00" * (108 - 12)
    assert(ImageHeader.parse(hex("424D" + "00" * 8 + "7A000000" + "6C000000" + "07000000" + "09000000" + dib108Tail)) == ("image/bmp", 7, 9))
    // ... and OS/2 2.x's 64-byte BITMAPINFOHEADER2 (same s32 dim layout)
    // is published and stays parsed (review r17: the first allowlist cut
    // omitted it, regressing real OS/2 files to refused)
    val dib64Tail = "00" * (64 - 12)
    assert(ImageHeader.parse(hex("424D" + "00" * 8 + "4E000000" + "40000000" + "07000000" + "09000000" + dib64Tail)) == ("image/bmp", 7, 9))
  }

  test("unrecognized, truncated, and desynced payloads yield null — never a guess") {
    assert(ImageHeader.parse(null) == null)
    assert(ImageHeader.parse("just some text".getBytes) == null)
    assert(ImageHeader.parse(hex("89504E470D0A1A0A")) == null) // sig only
    assert(ImageHeader.parse(hex("89504E470D0A1A0A 0000000D 49484452 000000")) == null)
    assert(ImageHeader.parse(hex("FFD8 FFDA 0002")) == null) // SOS before SOF
    assert(ImageHeader.parse(hex("FFD8 FFE0 0010 4A46")) == null) // truncated APP0
    assert(ImageHeader.parse(hex("FFD8 00 C0")) == null) // desynced marker stream
    assert(ImageHeader.parse(hex("474946383961 0A00")) == null) // GIF cut mid-LSD
    // zero dims are invalid, not "a 0x0 image"
    assert(ImageHeader.parse(hex(
      "89504E470D0A1A0A 0000000D 49484452 00000000 00000001 08 06 00 00 00 00000000")) == null)
  }

  test("expression + SQL registration agree with the JVM parser; nulls propagate") {
    import spark.implicits._
    graft.plans.GraftExtensions.register(spark)
    val df = Seq(
      (1L, png1x1), (2L, jpegBaseline), (3L, gif), (4L, "nope".getBytes))
      .toDF("id", "payload")
    val viaCol = df.select(col("id"),
        ImageHeader(col("payload")).as("d"))
      .select(col("id"), col("d.mime"), col("d.width"), col("d.height"))
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1)))
      .toMap
    assert(viaCol == Map(1L -> "image/png", 2L -> "image/jpeg",
      3L -> "image/gif", 4L -> null))
    df.createOrReplaceTempView("imgs")
    val viaSql = spark.sql(
      "SELECT id, image_dims(payload).width AS w FROM imgs ORDER BY id")
      .collect().map(r => if (r.isNullAt(1)) -1 else r.getInt(1)).toSeq
    assert(viaSql == Seq(1, 5, 10, -1))
  }

  test("synthetic corpus round-trip: constructed headers parse back to planted dims") {
    // the qe5c property, asserted directly: syntheticImageCorpus bytes →
    // ImageHeader → exactly the arithmetic (mime, w, h) the oracle states
    val docs = graft.Engine.Tables(spark, Sf0001).documents
    val parsed = graft.operators.Multimodal.syntheticImageCorpus(docs)
      .select(col("doc_id"), ImageHeader(col("payload")).as("d"))
    val bad = parsed.filter(col("d").isNull ||
      col("d.width") =!= (col("doc_id") % 640 + 1).cast("int") ||
      col("d.height") =!= (col("doc_id") % 480 + 1).cast("int") ||
      col("d.mime") =!= when(col("doc_id") % 3 === 0, "image/png")
        .when(col("doc_id") % 3 === 1, "image/jpeg").otherwise("image/gif"))
    assert(bad.count() == 0)
    // decodeAll prefers the real parse: detected mime + real dims surface
    val dec = graft.operators.Multimodal.decodeAll(
      graft.operators.Multimodal.syntheticImageCorpus(docs).limit(30))
      .filter(col("mime").isin("image/png", "image/jpeg", "image/gif"))
    assert(dec.count() == 30)
  }
}
