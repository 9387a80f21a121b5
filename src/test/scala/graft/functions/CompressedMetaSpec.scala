package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Spark-side coverage for the compressed-format metadata parsers (qe5i /
  * qe5j): expression + SQL registration agree with the JVM parser, nulls
  * propagate, and the planted corpora parse back to exactly the arithmetic
  * params their oracles state. Bit-level edge cases live in MediaFuzzSpec
  * (pure JVM, golden vectors). */
class CompressedMetaSpec extends SparkTestBase {

  private def hex(s: String): Array[Byte] =
    s.replaceAll("\\s", "").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  test("mpeg_audio_meta + avc_sps_dims: expression and SQL agree; nulls propagate") {
    import spark.implicits._
    graft.plans.GraftExtensions.register(spark)
    val mp3 = hex("FFFB9000" + "00" * 16)
    val sps = AvcSpsHeader.buildSps(77, 31, 1280, 720)
    val df = Seq((1L, mp3), (2L, sps), (3L, "neither".getBytes))
      .toDF("id", "payload")
    val viaCol = df.select(col("id"),
        MpegAudioHeader(col("payload")).as("a"),
        AvcSpsHeader(col("payload")).as("v"))
      .collect().map { r =>
        (r.getLong(0), !r.isNullAt(1), !r.isNullAt(2))
      }.toSet
    // each payload parses under exactly its own family's parser
    assert(viaCol == Set((1L, true, false), (2L, false, true), (3L, false, false)))
    df.createOrReplaceTempView("comp")
    val viaSql = spark.sql(
      """SELECT id, mpeg_audio_meta(payload).bitrate_kbps AS kbps,
        |       avc_sps_dims(payload).width AS w
        |FROM comp ORDER BY id""".stripMargin)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1 else r.getInt(1),
        if (r.isNullAt(2)) -1 else r.getInt(2))).toSeq
    assert(viaSql == Seq((1L, 128, -1), (2L, -1, 1280), (3L, -1, -1)))
  }

  test("synthetic MPEG-audio corpus round-trip: planted params parse back exactly") {
    val docs = graft.Engine.Tables(spark, Sf0001).documents
    val parsed = graft.operators.Multimodal.syntheticMpegAudioCorpus(docs)
      .select(col("doc_id"),
        MpegAudioHeader(col("payload")).as("m"))
      .select(col("doc_id"), col("m.layer"), col("m.bitrate_kbps"),
        col("m.sample_rate"), col("m.channels"), col("m.duration_ms"))
      .collect()
    assert(parsed.nonEmpty && parsed.forall(!_.isNullAt(1)),
      "every planted payload must parse")
    val v1 = Seq(
      Array(0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448),
      Array(0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384),
      Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320))
    val v2 = Seq(
      Array(0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256),
      Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
      Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160))
    parsed.foreach { r =>
      val id = r.getLong(0)
      val layer = (id % 3 + 1).toInt
      val brIdx = (id % 14 + 1).toInt
      val kbps = if (id % 2 == 0) v1(layer - 1)(brIdx) else v2(layer - 1)(brIdx)
      val srIdx = ((id / 3) % 3).toInt
      val rate = if (id % 2 == 0) Array(44100, 48000, 32000)(srIdx)
        else Array(22050, 24000, 16000)(srIdx)
      val channels = if (id % 4 == 3) 1 else 2
      val dur = (id % 983 + 100) * 8 / kbps
      assert((r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getLong(5))
        == ((layer, kbps, rate, channels, dur)), s"doc $id mismatch")
    }
  }

  test("synthetic VBR MPEG corpus round-trip: map kind, frame count, exact duration") {
    val docs = graft.Engine.Tables(spark, Sf0001).documents
    val parsed = graft.operators.Multimodal.syntheticVbrMpegCorpus(docs)
      .select(col("doc_id"),
        MpegAudioHeader(col("payload")).as("m"))
      .select(col("doc_id"), col("m.frame_map"), col("m.n_frames"),
        col("m.sample_rate"), col("m.channels"), col("m.duration_ms"))
      .collect()
    assert(parsed.nonEmpty && parsed.forall(!_.isNullAt(1)),
      "every planted VBR payload must parse")
    // all three map kinds and all four side-info shapes must occur
    assert(parsed.map(_.getString(1)).toSet == Set("xing", "info", "vbri"))
    parsed.foreach { r =>
      val id = r.getLong(0)
      val map = Seq("xing", "info", "vbri")((id % 3).toInt)
      val frames = id % 5000 + 1
      val srIdx = ((id / 3) % 3).toInt
      val rate = if (id % 2 == 0) Array(44100, 48000, 32000)(srIdx)
        else Array(22050, 24000, 16000)(srIdx)
      val spf = if (id % 2 == 0) 1152 else 576
      val channels = if (id % 4 == 3) 1 else 2
      assert((r.getString(1), r.getLong(2), r.getInt(3), r.getInt(4), r.getLong(5))
        == ((map, frames, rate, channels, frames * spf * 1000L / rate)),
        s"doc $id mismatch")
    }
  }

  test("adts_meta: expression and SQL agree; other families refuse") {
    import spark.implicits._
    graft.plans.GraftExtensions.register(spark)
    val aac = hex("FFF15080011FFCAA")
    val mp3 = hex("FFFB9000" + "00" * 16)
    val df = Seq((1L, aac), (2L, mp3), (3L, "neither".getBytes))
      .toDF("id", "payload")
    df.createOrReplaceTempView("adts")
    val viaSql = spark.sql(
      """SELECT id, adts_meta(payload).sample_rate AS rate,
        |       adts_meta(payload).n_frames AS n
        |FROM adts ORDER BY id""".stripMargin)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1 else r.getInt(1),
        if (r.isNullAt(2)) -1 else r.getInt(2))).toSeq
    assert(viaSql == Seq((1L, 44100, 1), (2L, -1, -1), (3L, -1, -1)))
    val viaCol = df.select(col("id"),
        AdtsHeader(col("payload")).as("m"))
      .select(col("id"), col("m.profile"), col("m.channels"),
        col("m.duration_ms"))
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) "" else r.getString(1),
        if (r.isNullAt(2)) -1 else r.getInt(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSeq
    assert(viaCol == Seq((1L, "LC", 2, 23L), (2L, "", -1, -1L),
      (3L, "", -1, -1L)))
  }

  test("compressed-parser refusal matrix: each corpus parses ONLY under its own family") {
    // compressedTriage runs five parsers in one projection; its routing
    // is only deterministic if the families are mutually exclusive on
    // real payloads. They are — notably ADTS never aliases into MP3,
    // because both descend from the same ISO header layout: ADTS plants
    // layer=00 in exactly the bit position MpegAudioHeader reads as its
    // layer field, and 00 is the reserved value it refuses. Certify the
    // full matrix over the planted corpora: every diagonal cell is
    // all-accept, every off-diagonal cell all-refuse (the VBR MP3 corpus
    // is a second mp3-diagonal row). MP3 still runs LAST in the triage:
    // its 2-byte sync + table check is the weakest signature against
    // arbitrary crawl bytes, even though it is exclusive on these five.
    val docs = graft.Engine.Tables(spark, Sf0001).documents
    def payloads(df: org.apache.spark.sql.DataFrame): Array[Array[Byte]] =
      df.select("payload").collect().map(_.getAs[Array[Byte]](0))
    val corpora: Seq[(String, Array[Array[Byte]])] = Seq(
      "mp3" -> payloads(graft.operators.Multimodal.syntheticMpegAudioCorpus(docs)),
      "mp3vbr" -> payloads(graft.operators.Multimodal.syntheticVbrMpegCorpus(docs)),
      "adts" -> payloads(graft.operators.Multimodal.syntheticAdtsCorpus(docs)),
      "flac" -> payloads(graft.operators.Multimodal.syntheticFlacCorpus(docs)),
      "opus" -> payloads(graft.operators.Multimodal.syntheticOggOpusCorpus(docs)),
      "avc" -> payloads(graft.operators.Multimodal.syntheticAvcCorpus(docs)))
    val parsers: Seq[(String, Array[Byte] => Boolean)] = Seq(
      "mp3" -> (b => MpegAudioHeader.parse(b) != null),
      "adts" -> (b => AdtsHeader.parse(b) != null),
      "flac" -> (b => FlacHeader.parse(b) != null),
      "opus" -> (b => OggOpusHeader.parse(b) != null),
      "avc" -> (b => AvcSpsHeader.parse(b) != null))
    corpora.foreach { case (cname, ps) =>
      assert(ps.nonEmpty)
      parsers.foreach { case (pname, accept) =>
        val n = ps.count(accept)
        if (cname == pname || (cname == "mp3vbr" && pname == "mp3"))
          assert(n == ps.length, s"($cname, $pname): own parser refused ${ps.length - n}")
        else
          assert(n == 0, s"($cname, $pname): $n cross-family acceptances")
      }
    }
  }

  test("synthetic ADTS corpus round-trip: planted params parse back exactly") {
    val docs = graft.Engine.Tables(spark, Sf0001).documents
    val rates = Array(96000, 88200, 64000, 48000, 44100, 32000,
      24000, 22050, 16000, 12000, 11025, 8000, 7350)
    val profiles = Array("Main", "LC", "SSR", "LTP")
    val parsed = graft.operators.Multimodal.syntheticAdtsCorpus(docs)
      .select(col("doc_id"), AdtsHeader(col("payload")).as("m"))
      .select(col("doc_id"), col("m.profile"), col("m.sample_rate"),
        col("m.channels"), col("m.n_frames"), col("m.duration_ms"))
      .collect()
    assert(parsed.nonEmpty && parsed.forall(!_.isNullAt(1)),
      "every planted ADTS payload must parse")
    parsed.foreach { r =>
      val id = r.getLong(0)
      val rate = rates((id % 13).toInt)
      val frames = (id % 40 + 1).toInt
      val blocks = (id % 4 + 1).toInt
      assert((r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getLong(5))
        == ((profiles((id % 4).toInt), rate,
          if (id % 7 + 1 == 7) 8 else (id % 7 + 1).toInt, frames,
          frames.toLong * blocks * 1024L * 1000L / rate)),
        s"doc $id mismatch")
    }
  }

  test("synthetic FLAC corpus round-trip: planted params parse back exactly") {
    graft.plans.GraftExtensions.register(spark)
    val docs = graft.Engine.Tables(spark, Sf0001).documents
    val parsed = graft.operators.Multimodal.syntheticFlacCorpus(docs)
      .selectExpr("doc_id", "flac_meta(payload) AS m") // SQL form on purpose
      .select(col("doc_id"), col("m.sample_rate"), col("m.channels"),
        col("m.bits_per_sample"), col("m.total_samples"), col("m.duration_ms"))
      .collect()
    assert(parsed.nonEmpty && parsed.forall(!_.isNullAt(1)),
      "every planted FLAC payload must parse")
    parsed.foreach { r =>
      val id = r.getLong(0)
      val rate = ((id % 48 + 8) * 1000).toInt
      val total = id % 100000 + 1
      assert((r.getInt(1), r.getInt(2), r.getInt(3), r.getLong(4), r.getLong(5))
        == ((rate, (id % 8 + 1).toInt, (id % 25 + 8).toInt, total,
          total * 1000L / rate)), s"doc $id mismatch")
    }
  }

  test("synthetic Ogg/Opus corpus round-trip: planted params parse back exactly") {
    graft.plans.GraftExtensions.register(spark)
    val docs = graft.Engine.Tables(spark, Sf0001).documents
    val parsed = graft.operators.Multimodal.syntheticOggOpusCorpus(docs)
      .selectExpr("doc_id", "ogg_opus_meta(payload) AS m") // SQL form on purpose
      .select(col("doc_id"), col("m.channels"), col("m.pre_skip"),
        col("m.input_sample_rate"), col("m.mapping_family"),
        col("m.n_pages"), col("m.duration_ms"))
      .collect()
    assert(parsed.nonEmpty && parsed.forall(!_.isNullAt(1)),
      "every planted Ogg/Opus payload must parse")
    parsed.foreach { r =>
      val id = r.getLong(0)
      val ch = (id % 8 + 1).toInt
      assert((r.getInt(1), r.getInt(2), r.getLong(3), r.getInt(4),
        r.getInt(5), r.getLong(6)) ==
        ((ch, (id % 1000).toInt, (id % 48 + 8) * 1000,
          if (ch <= 2) 0 else 1,
          (2 + (if (id % 3 == 0) 1 else 0) + id % 5).toInt,
          (id % 960000 + 960) * 1000L / 48000L)), s"doc $id mismatch")
    }
  }

  test("synthetic AVC corpus round-trip: planted dims/profile parse back exactly") {
    val docs = graft.Engine.Tables(spark, Sf0001).documents
    val parsed = graft.operators.Multimodal.syntheticAvcCorpus(docs)
      .select(col("doc_id"), AvcSpsHeader(col("payload")).as("m"))
      .select(col("doc_id"), col("m.profile_idc"), col("m.level_idc"),
        col("m.width"), col("m.height"))
      .collect()
    assert(parsed.nonEmpty && parsed.forall(!_.isNullAt(1)),
      "every planted SPS must parse")
    parsed.foreach { r =>
      val id = r.getLong(0)
      val profile = (id % 3) match { case 0 => 66; case 1 => 77; case _ => 100 }
      assert((r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)) ==
        ((profile, ((id % 5 + 1) * 10).toInt,
          ((id % 320 + 1) * 2).toInt, ((id % 240 + 1) * 2).toInt)),
        s"doc $id mismatch")
    }
  }

  test("synthetic ID3 corpus round-trip: planted text frames parse back exactly") {
    val docs = graft.Engine.Tables(spark, Sf0001).documents
    val parsed = graft.operators.Multimodal.syntheticId3Corpus(docs)
      .select(col("doc_id"), Id3v2Tags(col("payload")).as("m"))
      .select(col("doc_id"), col("m.version"), col("m.n_frames"),
        col("m.title"), col("m.artist"), col("m.album"))
      .collect()
    assert(parsed.nonEmpty && parsed.forall(!_.isNullAt(1)),
      "every planted tag must parse")
    parsed.foreach { r =>
      val id = r.getLong(0)
      val version = if (id % 2 == 0) "2.3" else "2.4"
      val n = 2 + (if (id % 11 == 0) 0 else 1) + (if (id % 3 == 0) 1 else 0)
      val title = "Title " + id + "x" * (id % 200).toInt
      val artist = "Artist " + (id % 7)
      val album = if (id % 11 == 0) null else "Album " + (id % 13)
      assert((r.getString(1), r.getInt(2), r.getString(3), r.getString(4),
        r.getString(5)) == ((version, n, title, artist, album)),
        s"doc $id mismatch")
    }
  }
}
