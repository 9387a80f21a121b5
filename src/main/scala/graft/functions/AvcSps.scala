package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types._

/** Byte-level H.264/AVC sequence-parameter-set parser (SURVEY §2.4 E5,
  * r10 verdict "Missing #1"): AVC PAYLOAD decode needs a codec no JVM
  * ships, but the coded picture DIMENSIONS need none — they live in the
  * SPS NAL unit (ITU-T H.264 §7.3.2.1.1), an exp-Golomb-coded bitstream:
  *
  *  - NAL header byte: forbidden_zero(1) | nal_ref_idc(2) |
  *    nal_unit_type(5) — an SPS is type 7.
  *  - RBSP de-escaping first: inside a NAL the encoder inserts an
  *    emulation-prevention 0x03 after any 0x00 0x00 when the next byte
  *    would be <= 0x03 (else the bytes would fake a start code); the
  *    parser must strip it or every field after the first zero run shifts.
  *  - ue(v) exp-Golomb: n leading zero bits, a 1, then n info bits —
  *    value = 2^n - 1 + info. Dimensions derive from
  *    pic_width_in_mbs_minus1 / pic_height_in_map_units_minus1 (16-pixel
  *    macroblock units) minus the frame-cropping offsets (in 2-pixel
  *    units for 4:2:0 chroma with frame_mbs_only = 1).
  *  - High-family profiles (100/110/122/...) interpose the
  *    chroma_format_idc block before the width fields — a parser that
  *    skips it reads garbage dims for the dominant real-world profile.
  *
  * Scope: frame_mbs_only streams (all progressive video; interlaced MBAFF
  * would halve the height math), chroma 4:2:0 or monochrome, no scaling
  * matrices. Anything else — wrong NAL type, reserved values, a bitstream
  * exhausted mid-field — yields NULL, never a guess. The payload decode
  * itself stays behind [[graft.operators.Multimodal.FakeCodec]]. */
object AvcSpsHeader extends MetaParser {

  /** Profiles whose SPS carries the chroma_format_idc block. */
  private val HighFamily = Set(100, 110, 122, 244, 44, 83, 86, 118, 128, 138, 139, 134, 135)

  /** MSB-first bit reader over de-escaped RBSP bytes; returns -1 on
    * exhaustion (propagated, never an exception). */
  private final class BitReader(b: Array[Byte]) {
    private var pos = 0 // bit position
    def u1(): Int = {
      if (pos >= b.length * 8) return -1
      val v = (b(pos >> 3) >> (7 - (pos & 7))) & 1
      pos += 1
      v
    }
    def u(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) {
        val bit = u1(); if (bit < 0) return -1
        v = (v << 1) | bit
        i += 1
      }
      v
    }
    /** Exp-Golomb ue(v); -1 on exhaustion or a > 30-bit prefix (no sane
      * SPS field needs one — a longer run means a torn/garbage stream). */
    def ue(): Int = {
      var zeros = 0
      var bit = u1()
      while (bit == 0) { zeros += 1; if (zeros > 30) return -1; bit = u1() }
      if (bit < 0) return -1
      if (zeros == 0) return 0
      val info = u(zeros); if (info < 0) return -1
      (1 << zeros) - 1 + info
    }
  }

  /** Strip emulation-prevention bytes: drop a 0x03 that follows 0x00 0x00
    * (H.264 §7.4.1.1). */
  private def deEscape(b: Array[Byte], from: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(b.length - from)
    var i = from
    var zeros = 0
    while (i < b.length) {
      val v = b(i) & 0xFF
      if (zeros >= 2 && v == 3) zeros = 0 // emulation byte: skip
      else {
        out.write(v)
        zeros = if (v == 0) zeros + 1 else 0
      }
      i += 1
    }
    out.toByteArray
  }

  val name = "avc_sps_dims"

  /** `avc_sps_dims(payload)` → struct<profile_idc int, level_idc int,
    * width int, height int>, null for non-SPS payloads. */
  val schema: StructType = StructType(Seq(
    StructField("profile_idc", IntegerType, nullable = false),
    StructField("level_idc", IntegerType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false)))

  def compute(b: Array[Byte]): InternalRow = {
    val r = parse(b)
    if (r == null) null
    else new GenericInternalRow(Array[Any](r._1, r._2, r._3, r._4))
  }

  /** Parse (profile_idc, level_idc, width, height) from a bare SPS NAL
    * (starting at the NAL header byte); null if not a valid SPS. */
  def parse(b: Array[Byte]): (Int, Int, Int, Int) = {
    if (b == null || b.length < 4) return null
    val nal = b(0) & 0xFF
    if ((nal & 0x80) != 0 || (nal & 0x1F) != 7) return null // not an SPS
    val profile = b(1) & 0xFF
    val level = b(3) & 0xFF
    val r = new BitReader(deEscape(b, 4))
    if (r.ue() < 0) return null // seq_parameter_set_id
    var chromaIdc = 1 // implicit 4:2:0 for the pre-High profiles
    if (HighFamily(profile)) {
      chromaIdc = r.ue()
      if (chromaIdc < 0 || chromaIdc > 3) return null
      if (chromaIdc == 3 && r.u1() < 0) return null // separate_colour_plane
      if (r.ue() < 0 || r.ue() < 0) return null // bit depths
      if (r.u1() < 0) return null // qpprime_y_zero_transform_bypass
      val scaling = r.u1()
      if (scaling < 0) return null
      if (scaling == 1) return null // scaling matrices: out of scope, refuse
    }
    if (r.ue() < 0) return null // log2_max_frame_num_minus4
    val pocType = r.ue()
    if (pocType < 0 || pocType > 2) return null
    if (pocType == 0) { if (r.ue() < 0) return null } // log2_max_poc_lsb
    else if (pocType == 1) {
      if (r.u1() < 0) return null // delta_pic_order_always_zero
      if (r.ue() < 0 || r.ue() < 0) return null // offsets (se ≅ ue bit layout)
      val n = r.ue(); if (n < 0) return null
      var i = 0
      while (i < n) { if (r.ue() < 0) return null; i += 1 }
    }
    if (r.ue() < 0) return null // max_num_ref_frames
    if (r.u1() < 0) return null // gaps_in_frame_num_value_allowed
    val widthMbs = r.ue(); if (widthMbs < 0) return null
    val heightMap = r.ue(); if (heightMap < 0) return null
    val frameMbsOnly = r.u1(); if (frameMbsOnly < 0) return null
    if (frameMbsOnly == 0) return null // interlaced MBAFF: out of scope
    if (r.u1() < 0) return null // direct_8x8_inference
    val cropping = r.u1(); if (cropping < 0) return null
    var cropL = 0; var cropR = 0; var cropT = 0; var cropB = 0
    if (cropping == 1) {
      cropL = r.ue(); cropR = r.ue(); cropT = r.ue(); cropB = r.ue()
      if (cropL < 0 || cropR < 0 || cropT < 0 || cropB < 0) return null
    }
    // crop units (H.264 table 6-1): 4:2:0 → SubWidthC = SubHeightC = 2;
    // monochrome → 1; 4:2:2/4:4:4 kept for completeness
    val (cw, chUnit) = chromaIdc match {
      case 0 => (1, 1)
      case 1 => (2, 2)
      case 2 => (2, 1)
      case _ => (1, 1)
    }
    // LONG arithmetic: ue() legally returns values up to ~2^31, so Int
    // math here could WRAP a torn/crafted SPS to a small positive garbage
    // dimension that passes the <= 0 guard — "NULL, never a guess" means
    // the out-of-Int-range result must refuse, not alias
    val width = (widthMbs + 1L) * 16L - cw.toLong * (cropL.toLong + cropR.toLong)
    val height = (heightMap + 1L) * 16L - chUnit.toLong * (cropT.toLong + cropB.toLong)
    if (width <= 0 || height <= 0 || width > Int.MaxValue || height > Int.MaxValue)
      return null
    (profile, level, width.toInt, height.toInt)
  }

  // ---- fixture builder (test/oracle side) --------------------------------

  /** MSB-first bit writer with RBSP emulation-prevention escaping on
    * flush — the WRITING half of the format, used by the planted-corpus
    * fixture so the oracle certifies the reader against an independent
    * bit-level construction (plus hand-derived golden vectors in the
    * spec guarding against a shared exp-Golomb misconception). */
  private final class BitWriter {
    private val bits = scala.collection.mutable.ArrayBuffer.empty[Int]
    def u1(v: Int): Unit = bits += (v & 1)
    def u(n: Int, v: Int): Unit = { var i = n - 1; while (i >= 0) { u1(v >> i); i -= 1 } }
    def ue(v: Int): Unit = {
      require(v >= 0)
      val n = 32 - Integer.numberOfLeadingZeros(v + 1) - 1 // floor(log2(v+1))
      u(n, 0); u1(1); u(n, v + 1 - (1 << n))
    }
    /** rbsp_trailing_bits + byte packing + escaping. */
    def toRbspBytes: Array[Byte] = {
      u1(1) // stop bit
      while (bits.size % 8 != 0) u1(0)
      val raw = bits.grouped(8).map(g => g.foldLeft(0)((a, b) => (a << 1) | b).toByte).toArray
      val out = new java.io.ByteArrayOutputStream(raw.length + 4)
      var zeros = 0
      raw.foreach { byte =>
        val v = byte & 0xFF
        if (zeros >= 2 && v <= 3) { out.write(3); zeros = 0 }
        out.write(v)
        zeros = if (v == 0) zeros + 1 else 0
      }
      out.toByteArray
    }
  }

  /** Build a spec-valid bare SPS NAL for a progressive 4:2:0 stream of the
    * given coded dimensions (even, via frame cropping when not
    * macroblock-aligned). Used by the planted corpus (qe5j) and specs. */
  def buildSps(profile: Int, level: Int, width: Int, height: Int): Array[Byte] = {
    require(width > 0 && height > 0 && width % 2 == 0 && height % 2 == 0,
      s"4:2:0 coded dims must be positive and even, got ${width}x$height")
    val mbsW = (width + 15) / 16
    val mapH = (height + 15) / 16
    val cropR = (mbsW * 16 - width) / 2
    val cropB = (mapH * 16 - height) / 2
    val w = new BitWriter
    w.ue(0) // seq_parameter_set_id
    if (HighFamily(profile)) {
      w.ue(1)      // chroma_format_idc 4:2:0
      w.ue(0); w.ue(0) // bit depths (8-bit)
      w.u1(0)      // qpprime_y_zero_transform_bypass
      w.u1(0)      // seq_scaling_matrix_present
    }
    w.ue(0)  // log2_max_frame_num_minus4
    w.ue(2)  // pic_order_cnt_type 2 (no trailing fields)
    w.ue(1)  // max_num_ref_frames
    w.u1(0)  // gaps_in_frame_num_value_allowed
    w.ue(mbsW - 1)
    w.ue(mapH - 1)
    w.u1(1)  // frame_mbs_only
    w.u1(1)  // direct_8x8_inference
    if (cropR > 0 || cropB > 0) {
      w.u1(1); w.ue(0); w.ue(cropR); w.ue(0); w.ue(cropB)
    } else w.u1(0)
    w.u1(0)  // vui_parameters_present
    val rbsp = w.toRbspBytes
    val out = new Array[Byte](4 + rbsp.length)
    out(0) = 0x67.toByte // nal_ref_idc 3, type 7 (SPS)
    out(1) = profile.toByte
    out(2) = 0x00 // constraint flags
    out(3) = level.toByte
    System.arraycopy(rbsp, 0, out, 4, rbsp.length)
    out
  }
}


/** `avc_sps_fixture(profile, level, width, height)` → binary SPS NAL —
  * the deterministic planted-corpus builder ([[AvcSpsHeader.buildSps]])
  * as a codegen expression, so the qe5j corpus is a shuffle-free
  * projection like every other synthetic media corpus. Fixture-tier: the
  * certified artifact is the PARSER ([[AvcSpsHeader]]). */
case class AvcSpsFixtureExpr(p: Expression, l: Expression, w: Expression, h: Expression)
    extends QuaternaryExpression {
  override def first: Expression = p
  override def second: Expression = l
  override def third: Expression = w
  override def fourth: Expression = h
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = children.exists(_.nullable)

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.forall(_.dataType == IntegerType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"avc_sps_fixture expects 4 ints, got ${children.map(_.dataType)}")

  override def nullSafeEval(pv: Any, lv: Any, wv: Any, hv: Any): Any =
    AvcSpsHeader.buildSps(pv.asInstanceOf[Int], lv.asInstanceOf[Int],
      wv.asInstanceOf[Int], hv.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c, d) =>
      s"${ev.value} = graft.functions.AvcSpsHeader.buildSps($a, $b, $c, $d);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): Expression =
    copy(p = newFirst, l = newSecond, w = newThird, h = newFourth)
}

object AvcSpsFixtureExpr {
  def avc_sps_fixture(profile: Column, level: Column, width: Column, height: Column): Column =
    ColumnShim.column(AvcSpsFixtureExpr(
      ColumnShim.expression(profile), ColumnShim.expression(level),
      ColumnShim.expression(width), ColumnShim.expression(height)))
}
