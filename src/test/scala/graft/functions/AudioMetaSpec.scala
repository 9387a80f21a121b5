package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** The real audio-container parser (E5 audio leg): fixtures are hand-built
  * per the published specs — WAV RIFF little-endian chunk walk (with JUNK /
  * LIST chunks the walk must skip and odd-size padding), AIFF big-endian
  * COMM with the 80-bit extended-float sample rate decoded bit-level — plus
  * the null paths (truncated, compressed, torn frames, bogus floats). */
class AudioMetaSpec extends SparkTestBase {

  private def hex(s: String): Array[Byte] =
    s.replaceAll("\\s", "").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  // canonical minimal WAV: mono 8-bit 8000 Hz, 4 frames of real samples
  private val wavMinimal = hex(
    "52494646 28000000 57415645" + // RIFF size 0x28 WAVE
      "666D7420 10000000 0100 0100 401F0000 401F0000 0100 0800" + // fmt: PCM 1ch 8000Hz
      "64617461 04000000 61626364") // data: 4 bytes

  // stereo 16-bit 44100 Hz with a JUNK chunk before fmt and an odd-size
  // LIST chunk (padding byte!) between fmt and data; 3 frames = 12 bytes
  private val wavChunky = hex(
    "52494646 48000000 57415645" +
      "4A554E4B 04000000 DEADBEEF" + // JUNK to skip
      "666D7420 10000000 0100 0200 44AC0000 10B10200 0400 1000" + // 2ch 44100 16-bit
      "4C495354 03000000 414243 00" + // LIST size 3 → padded to 4
      "64617461 0C000000 000000000000000000000000")

  // IEEE-float WAV (format tag 3), mono 32-bit 16000 Hz, 2 frames
  private val wavFloat = hex(
    "52494646 2C000000 57415645" +
      "666D7420 10000000 0300 0100 803E0000 00FA0000 0400 2000" +
      "64617461 08000000 0000803F 0000803F")

  // AIFF mono 16-bit 44100 Hz, 5 frames; ANNO chunk before COMM
  private val aiff = hex(
    "464F524D 0000003C 41494646" +
      "414E4E4F 00000004 74657374" + // ANNO to skip
      "434F4D4D 00000012 0001 00000005 0010 400EAC44000000000000" +
      "53534E44 0000000A 00000000 00000000 0000") // 2 bytes of samples present

  // AIFF with an ODD-size chunk before COMM: the pad byte must be honored
  private val aiffOddPad = hex(
    "464F524D 0000002A 41494646" +
      "414E4E4F 00000003 414243 00" + // size 3, padded
      "434F4D4D 00000012 0002 0000000A 0008 400BFA00000000000000")

  test("WAV: minimal, chunk-walk with JUNK/LIST + padding, IEEE-float tag") {
    assert(AudioHeader.parse(wavMinimal) == ("audio/wav", 1, 8000, 8, 4L))
    assert(AudioHeader.parse(wavChunky) == ("audio/wav", 2, 44100, 16, 3L))
    assert(AudioHeader.parse(wavFloat) == ("audio/wav", 1, 16000, 32, 2L))
  }

  test("WAV G.711 (r16): µ-law/A-law tags parse with plain fmt meaning; misshaped depth/blockAlign refuse") {
    // µ-law (tag 7) mono 8000 Hz, 18-byte fmt + fact, 4 frames
    val ulaw = hex(
      "52494646 36000000 57415645" +
        "666D7420 12000000 0700 0100 401F0000 401F0000 0100 0800 0000" +
        "66616374 04000000 04000000" +
        "64617461 04000000 FF7FFF7F")
    assert(AudioHeader.parse(ulaw) == ("audio/wav", 1, 8000, 8, 4L))
    // A-law (tag 6) stereo: blockAlign = channels
    val alaw = hex(
      "52494646 2A000000 57415645" +
        "666D7420 12000000 0600 0200 401F0000 803E0000 0200 0800 0000" +
        "64617461 04000000 D5D5D5D5")
    assert(AudioHeader.parse(alaw) == ("audio/wav", 2, 8000, 8, 2L))
    // IMA ADPCM (tag 17, r16): frames = blocks × samplesPerBlock from
    // the fmt extra; mono blockAlign 8 → 9 samples/block, 2 blocks
    val adpcm = hex(
      "52494646 44000000 57415645" +
        "666D7420 14000000 1100 0100 401F0000 0E1C0000 0800 0400 0200 0900" +
        "66616374 04000000 12000000" +
        "64617461 10000000" + "00" * 16)
    assert(AudioHeader.parse(adpcm) == ("audio/wav", 1, 8000, 4, 18L))
    // tag 17 with a samplesPerBlock that disagrees with blockAlign, or a
    // depth other than 4: refuse, never misreport
    assert(AudioHeader.parse(hex(
      "52494646 44000000 57415645" +
        "666D7420 14000000 1100 0100 401F0000 0E1C0000 0800 0400 0200 0A00" +
        "66616374 04000000 12000000" +
        "64617461 10000000" + "00" * 16)) == null)
    assert(AudioHeader.parse(hex(
      "52494646 44000000 57415645" +
        "666D7420 14000000 1100 0100 401F0000 0E1C0000 0800 1000 0200 0900" +
        "66616374 04000000 12000000" +
        "64617461 10000000" + "00" * 16)) == null)
    // a G.711 fmt claiming 16-bit depth, or blockAlign != channels, is
    // misshaped — refuse, never misreport
    assert(AudioHeader.parse(hex(
      "52494646 28000000 57415645" +
        "666D7420 10000000 0700 0100 401F0000 401F0000 0100 1000" +
        "64617461 04000000 00000000")) == null)
    assert(AudioHeader.parse(hex(
      "52494646 28000000 57415645" +
        "666D7420 10000000 0600 0100 401F0000 401F0000 0200 0800" +
        "64617461 04000000 00000000")) == null)
  }

  test("AIFF: big-endian COMM behind skippable chunks; 80-bit rate decodes bit-level") {
    assert(AudioHeader.parse(aiff) == ("audio/aiff", 1, 44100, 16, 5L))
    assert(AudioHeader.parse(aiffOddPad) == ("audio/aiff", 2, 8000, 8, 10L))
    // the four planted-rate extended-float constants all decode exactly
    def aiffWithRate(r80: String) = hex(
      "464F524D 0000001E 41494646 434F4D4D 00000012 0001 00000001 0008 " + r80)
    assert(AudioHeader.parse(aiffWithRate("400BFA00000000000000"))._3 == 8000)
    assert(AudioHeader.parse(aiffWithRate("400CFA00000000000000"))._3 == 16000)
    assert(AudioHeader.parse(aiffWithRate("400DAC44000000000000"))._3 == 22050)
    assert(AudioHeader.parse(aiffWithRate("400EAC44000000000000"))._3 == 44100)
  }

  test("unrecognized, truncated, compressed, and inconsistent payloads yield null") {
    assert(AudioHeader.parse(null) == null)
    assert(AudioHeader.parse("not audio at all".getBytes) == null)
    assert(AudioHeader.parse(hex("52494646 24000000 57415645")) == null) // no chunks
    assert(AudioHeader.parse(hex(
      "52494646 24000000 57415645 666D7420 10000000 0100 0100")) == null) // fmt torn
    // compressed WAV (format tag 2 = ADPCM): refuse, don't misreport
    assert(AudioHeader.parse(hex(
      "52494646 28000000 57415645" +
        "666D7420 10000000 0200 0100 401F0000 401F0000 0100 0400" +
        "64617461 04000000 00000000")) == null)
    // data size not a multiple of block align: torn final frame
    assert(AudioHeader.parse(hex(
      "52494646 2A000000 57415645" +
        "666D7420 10000000 0100 0200 44AC0000 10B10200 0400 1000" +
        "64617461 06000000 000000000000")) == null)
    // WAV with fmt but no data chunk at all
    assert(AudioHeader.parse(hex(
      "52494646 1C000000 57415645" +
        "666D7420 10000000 0100 0100 401F0000 401F0000 0100 0800")) == null)
    // AIFF negative rate (sign bit set) and zero-mantissa rate
    def comm(r80: String) = hex(
      "464F524D 0000001E 41494646 434F4D4D 00000012 0001 00000001 0008 " + r80)
    assert(AudioHeader.parse(comm("C00EAC44000000000000")) == null)
    assert(AudioHeader.parse(comm("400E0000000000000000")) == null)
    // AIFF missing COMM entirely
    assert(AudioHeader.parse(hex(
      "464F524D 00000010 41494646 414E4E4F 00000004 74657374")) == null)
    // NON-INTEGRAL rate (44100.5): fraction bits below the shift point are
    // set — refuse, don't floor to 44100 (the documented contract)
    assert(AudioHeader.parse(comm("400EAC44800000000000")) == null)
  }

  test("AIFC: uncompressed NONE parses; compressed codecs refuse like non-PCM WAV") {
    // AIFC COMM carries a compressionType fourcc after the PCM fields
    def aifc(size: String, tail: String) = hex(
      "464F524D 00000026 41494643 434F4D4D " + size +
        " 0001 00000005 0010 400EAC44000000000000" + tail)
    // "NONE" = uncompressed PCM: the COMM fields keep their meaning
    assert(AudioHeader.parse(aifc("00000016", " 4E4F4E45")) ==
      ("audio/aiff", 1, 44100, 16, 5L))
    // "ima4" (Apple IMA ADPCM): decoded for real since r17 ([[Ima4]]),
    // and its COMM fields KEEP their standard meaning — parses like NONE
    assert(AudioHeader.parse(aifc("00000016", " 696D6134")) ==
      ("audio/aiff", 1, 44100, 16, 5L))
    // any OTHER codec's COMM fields are codec-defined — refuse ("alaw")
    assert(AudioHeader.parse(aifc("00000016", " 616C6177")) == null)
    // AIFC whose COMM is the bare 18-byte AIFF shape (no compressionType):
    // torn for AIFC — refuse rather than assume uncompressed
    assert(AudioHeader.parse(aifc("00000012", "")) == null)
  }

  test("expression + SQL registration agree with the JVM parser; nulls propagate") {
    import spark.implicits._
    graft.plans.GraftExtensions.register(spark)
    val df = Seq((1L, wavMinimal), (2L, aiff), (3L, "nope".getBytes))
      .toDF("id", "payload")
    val viaCol = df.select(col("id"),
        AudioHeader(col("payload")).as("m"))
      .select(col("id"), col("m.mime"), col("m.sample_rate"), col("m.n_frames"))
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else (r.getString(1), r.getInt(2), r.getLong(3))))
      .toMap
    assert(viaCol == Map(1L -> ("audio/wav", 8000, 4L),
      2L -> ("audio/aiff", 44100, 5L), 3L -> null))
    df.createOrReplaceTempView("auds")
    val viaSql = spark.sql(
      "SELECT id, audio_meta(payload).channels AS c FROM auds ORDER BY id")
      .collect().map(r => if (r.isNullAt(1)) -1 else r.getInt(1)).toSeq
    assert(viaSql == Seq(1, 1, -1))
  }

  test("synthetic corpus round-trip: constructed containers parse back to planted params") {
    // the qe5d property asserted directly: syntheticAudioCorpus bytes →
    // AudioHeader → exactly the arithmetic params the oracle states
    val docs = graft.Engine.Tables(spark, Sf0001).documents
    val parsed = graft.operators.Multimodal.syntheticAudioCorpus(docs)
      .select(col("doc_id"), AudioHeader(col("payload")).as("m"))
    val bad = parsed.filter(col("m").isNull ||
      col("m.mime") =!= when(col("doc_id") % 2 === 0, "audio/wav").otherwise("audio/aiff") ||
      col("m.channels") =!= (col("doc_id") % 3 + 1).cast("int") ||
      col("m.sample_rate") =!= when(col("doc_id") % 4 === 0, 8000)
        .when(col("doc_id") % 4 === 1, 16000)
        .when(col("doc_id") % 4 === 2, 22050).otherwise(44100) ||
      col("m.bits") =!= (lit(8) + shiftright(col("doc_id"), 1).mod(2) * 8).cast("int") ||
      col("m.n_frames") =!= col("doc_id") % 50 + 1)
    assert(bad.count() == 0)
  }
}
