package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** The real video-container parser (E5 video leg): fixtures are hand-built
  * per ISO/IEC 14496-12 — ftyp + box walk to moov, mvhd v0 (u32 fields) and
  * v1 (u64 fields), trak counting, the size==1 largesize and size==0
  * to-EOF box forms — plus the null paths (torn boxes, missing moov,
  * unknown mvhd version). */
class VideoMetaSpec extends SparkTestBase {

  private def hex(s: String): Array[Byte] =
    s.replaceAll("\\s", "").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  private val ftyp = "00000010 66747970 69736F6D 00000000"
  private val z80 = "00" * 80

  // mvhd v0: timescale 1000, duration 7007 (0x1B5F) → 7007 ms; 2 traks
  private val mp4V0 = hex(
    ftyp +
      "00000084 6D6F6F76" + // moov: 8 + 108 + 8 + 8 = 132 = 0x84
      "0000006C 6D766864 00000000 00000000 00000000 000003E8 00001B5F" + z80 +
      "00000008 7472616B" + "00000008 7472616B")

  // mvhd v1: timescale 90000, duration 0x15F90 (90000) → 1000 ms; 1 trak;
  // a free box before moov the top-level walk must skip
  private val mp4V1 = hex(
    ftyp +
      "0000000C 66726565 DEADBEEF" +
      "00000088 6D6F6F76" + // moov: 8 + 120 + 8 = 136 = 0x88
      "00000078 6D766864 01000000 0000000000000000 0000000000000000" +
      "00015F90 0000000000015F90" + z80 +
      "00000008 7472616B")

  // moov declared with size==0 (extends to EOF) — legal for the last box
  private val mp4SizeZero = hex(
    ftyp +
      "00000000 6D6F6F76" +
      "0000006C 6D766864 00000000 00000000 00000000 00000258 00000258" + z80)

  // moov carried under a size==1 largesize header (64-bit size form)
  private val mp4Largesize = hex(
    ftyp +
      "00000001 6D6F6F76 0000000000000084" + // largesize 132 = 16 + 108 + 8
      "0000006C 6D766864 00000000 00000000 00000000 000003E8 000007D0" + z80 +
      "00000008 7472616B")

  test("mvhd v0 and v1 layouts, box walk past free, trak count") {
    assert(VideoHeader.parse(mp4V0) == ("video/mp4", 1000, 7007L, 7007L, 2))
    assert(VideoHeader.parse(mp4V1) == ("video/mp4", 90000, 90000L, 1000L, 1))
  }

  test("size==0 (to EOF) and size==1 (largesize) box forms parse") {
    assert(VideoHeader.parse(mp4SizeZero) == ("video/mp4", 600, 600L, 1000L, 0))
    assert(VideoHeader.parse(mp4Largesize) == ("video/mp4", 1000, 2000L, 2000L, 1))
  }

  test("unrecognized, torn, and inconsistent payloads yield null — never a guess") {
    assert(VideoHeader.parse(null) == null)
    assert(VideoHeader.parse("definitely not an mp4".getBytes) == null)
    assert(VideoHeader.parse(hex(ftyp)) == null) // no moov at all
    // moov declared longer than the buffer: torn
    assert(VideoHeader.parse(hex(ftyp + "000000FF 6D6F6F76 0000006C 6D766864")) == null)
    // child box overrunning its parent's extent
    assert(VideoHeader.parse(hex(ftyp +
      "00000018 6D6F6F76" + "00000020 6D766864 00000000 00000000")) == null)
    // unknown mvhd version 2
    assert(VideoHeader.parse(hex(ftyp +
      "00000084 6D6F6F76" +
      "0000006C 6D766864 02000000 00000000 00000000 000003E8 00001B5F" + z80 +
      "00000008 7472616B" + "00000008 7472616B")) == null)
    // zero timescale: duration_ms undefined
    assert(VideoHeader.parse(hex(ftyp +
      "00000074 6D6F6F76" +
      "0000006C 6D766864 00000000 00000000 00000000 00000000 00001B5F" + z80)) == null)
    // box size < 8 desyncs the walk
    assert(VideoHeader.parse(hex(ftyp + "00000004 6D6F6F76")) == null)
  }

  test("expression + SQL registration agree with the JVM parser; nulls propagate") {
    import spark.implicits._
    graft.plans.GraftExtensions.register(spark)
    val df = Seq((1L, mp4V0), (2L, mp4V1), (3L, "nope".getBytes))
      .toDF("id", "payload")
    val viaCol = df.select(col("id"),
        VideoHeader(col("payload")).as("m"))
      .select(col("id"), col("m.timescale"), col("m.duration_ms"), col("m.n_tracks"))
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else (r.getInt(1), r.getLong(2), r.getInt(3))))
      .toMap
    assert(viaCol == Map(1L -> (1000, 7007L, 2), 2L -> (90000, 1000L, 1), 3L -> null))
    df.createOrReplaceTempView("vids")
    val viaSql = spark.sql(
      "SELECT id, video_meta(payload).duration AS d FROM vids ORDER BY id")
      .collect().map(r => if (r.isNullAt(1)) -1L else r.getLong(1)).toSeq
    assert(viaSql == Seq(7007L, 90000L, -1L))
  }

  test("AVI main header: avih fields parse; JUNK skipped; torn/missing avih refuse") {
    // a real builder-produced clip: 3 frames at the builder's 25 fps →
    // duration 120 ms, 1 stream (the avih is REAL since r14, not a stub)
    def px(rgb: Int) = {
      val img = new java.awt.image.BufferedImage(
        12, 10, java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until 10).foreach(y => (0 until 12).foreach(x => img.setRGB(x, y, rgb)))
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    val frames = Seq(px(0x112233), px(0x445566), px(0x778899))
    val avi = graft.operators.Multimodal.MjpegAvi.build(frames)
    assert(VideoHeader.parse(avi) == ("video/x-msvideo", 1000, 120L, 120L, 1))
    // the JUNK-chunk container spelling parses identically
    val junked = graft.operators.Multimodal.MjpegAvi.build(frames, junk = true)
    assert(VideoHeader.parse(junked) == ("video/x-msvideo", 1000, 120L, 120L, 1))
    // RIFF/AVI magic with no hdrl: null
    assert(VideoHeader.parse(hex("52494646 04000000 41564920")) == null)
    // hdrl whose avih chunk declares fewer than the 56 header bytes: null
    assert(VideoHeader.parse(hex(
      "52494646 20000000 41564920" + // RIFF size 32, 'AVI '
        "4C495354 14000000 6864726C" + // LIST size 20, 'hdrl'
        "61766968 08000000 0000000000000000")) == null) // avih size 8 < 56
    // u32·u32 duration overflow refuses instead of wrapping
    assert(VideoHeader.parse(hex(
      "52494646 54000000 41564920" +
        "4C495354 48000000 6864726C" +
        "61766968 38000000" + // avih size 56
        "FFFFFFFF" + "00000000" * 3 + "FFFFFFFF" + "00000000" +
        "01000000" + "00000000" * 7)) == null)
  }

  test("synthetic corpus round-trip: constructed containers parse back to planted params") {
    // the qe5e property asserted directly: syntheticVideoCorpus bytes →
    // VideoHeader → exactly the arithmetic params the oracle states
    val docs = graft.Engine.Tables(spark, Sf0001).documents
    val ts = when(col("doc_id") % 3 === 0, 600)
      .when(col("doc_id") % 3 === 1, 1000).otherwise(90000)
    val parsed = graft.operators.Multimodal.syntheticVideoCorpus(docs)
      .select(col("doc_id"), VideoHeader(col("payload")).as("m"))
    val bad = parsed.filter(col("m").isNull ||
      col("m.mime") =!= "video/mp4" ||
      col("m.timescale") =!= ts.cast("int") ||
      col("m.duration") =!= col("doc_id") % 100000 + 1 ||
      col("m.duration_ms") =!= floor((col("doc_id") % 100000 + 1) * 1000 / ts) ||
      col("m.n_tracks") =!= (col("doc_id") % 4 + 1).cast("int"))
    assert(bad.count() == 0)
  }

  test("animated GIF is the third video container (r15): >= 2 frames parses with " +
    "summed GCE delays at timescale 100; single-frame and torn GIFs stay out") {
    def hex(s: String): Array[Byte] = s.replaceAll("\\s", "")
      .grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    // 2-frame GIF89a, each frame preceded by a GCE with delay 25 cs / 7 cs
    def gce(delayCs: Int): String =
      "21F9" + "04 00" + f"${delayCs & 0xFF}%02X${(delayCs >> 8) & 0xFF}%02X" + "00" + "00"
    def frame: String =
      "2C" + "0000 0000 0200 0100" + "80" + "000000 FFFFFF" + "02" + "02 4C01" + "00"
    val two = hex("474946383961" + "0200 0100 00 00 00" +
      gce(25) + frame + gce(7) + frame + "3B")
    assert(VideoHeader.parse(two) == (("image/gif", 100, 32L, 320L, 1)))
    // one frame: an image, not a video — and a torn tail refuses
    val one = hex("474946383961" + "0200 0100 00 00 00" + gce(25) + frame + "3B")
    assert(VideoHeader.parse(one) == null)
    assert(VideoHeader.parse(two.dropRight(1)) == null)
    // frames without GCEs are legal (GIF87a style): duration 0, still video
    val plain = hex("474946383961" + "0200 0100 00 00 00" + frame + frame + "3B")
    assert(VideoHeader.parse(plain) == (("image/gif", 100, 0L, 0L, 1)))
    // the real sequence-writer output round-trips through the triage
    val imgs = (0 until 2).map { _ =>
      new java.awt.image.BufferedImage(3, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    }
    val built = graft.operators.Multimodal.AnimatedGif.build(imgs)
    val m = VideoHeader.parse(built)
    assert(m != null && m._1 == "image/gif" && m._5 == 1)
  }
}
