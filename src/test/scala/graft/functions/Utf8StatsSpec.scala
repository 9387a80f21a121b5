package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** RFC 3629 conformance for the byte-level UTF-8 scan: the exact accept
  * ranges (overlong leads, surrogate exclusion, U+10FFFF cap, truncation)
  * are pinned with boundary vectors on BOTH sides of every edge, plus the
  * resync-counting convention and fuzz safety. */
class Utf8StatsSpec extends SparkTestBase {

  private def hex(s: String): Array[Byte] =
    s.replaceAll("\\s", "").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  private def stats(b: Array[Byte]): (Boolean, Int, Int, Int, Int) = {
    val r = Utf8Stats.compute(b)
    (r.getBoolean(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))
  }

  test("valid boundary vectors on the accepting side of every RFC range edge") {
    assert(stats(Array.emptyByteArray) == (true, 0, 0, 0, 0))
    assert(stats("plain ascii".getBytes("UTF-8")) == (true, 11, 11, 0, 11))
    assert(stats(hex("C2 80")) == (true, 2, 1, 0, 0)) // U+0080, smallest 2-byte
    assert(stats(hex("DF BF")) == (true, 2, 1, 0, 0)) // U+07FF, largest 2-byte
    assert(stats(hex("E0 A0 80")) == (true, 3, 1, 0, 0)) // U+0800, smallest 3-byte
    assert(stats(hex("ED 9F BF")) == (true, 3, 1, 0, 0)) // U+D7FF, below surrogates
    assert(stats(hex("EE 80 80")) == (true, 3, 1, 0, 0)) // U+E000, above surrogates
    assert(stats(hex("EF BF BD")) == (true, 3, 1, 0, 0)) // U+FFFD itself
    assert(stats(hex("F0 90 80 80")) == (true, 4, 1, 0, 0)) // U+10000, smallest 4-byte
    assert(stats(hex("F4 8F BF BF")) == (true, 4, 1, 0, 0)) // U+10FFFF, the cap
    // mixed: "h", U+00E9, U+20AC, U+1F389 -> 4 chars, 1 ascii, 10 bytes
    assert(stats(hex("68 C3A9 E282AC F09F8E89")) == (true, 10, 4, 0, 1))
  }

  test("rejecting side of every edge: overlongs, surrogates, cap, bad leads") {
    assert(stats(hex("C0 80")) == (false, 2, 0, 2, 0)) // overlong NUL
    assert(stats(hex("C1 BF")) == (false, 2, 0, 2, 0)) // overlong lead C1
    assert(stats(hex("E0 9F 80")) == (false, 3, 0, 3, 0)) // overlong 3-byte
    assert(stats(hex("ED A0 80")) == (false, 3, 0, 3, 0)) // U+D800 surrogate
    assert(stats(hex("F0 8F 80 80")) == (false, 4, 0, 4, 0)) // overlong 4-byte
    assert(stats(hex("F4 90 80 80")) == (false, 4, 0, 4, 0)) // > U+10FFFF
    assert(stats(hex("F5 80 80 80")) == (false, 4, 0, 4, 0)) // F5 never a lead
    assert(stats(hex("FF")) == (false, 1, 0, 1, 0))
    assert(stats(hex("80")) == (false, 1, 0, 1, 0)) // lone continuation
  }

  test("truncation and resync: invalid bytes counted exactly, scan recovers") {
    assert(stats(hex("E2 82")) == (false, 2, 0, 2, 0)) // torn 3-byte at EOF
    assert(stats(hex("C3")) == (false, 1, 0, 1, 0)) // torn 2-byte at EOF
    // valid char, torn lead, valid char: the scan resyncs mid-buffer
    assert(stats(hex("41 C3 41")) == (false, 3, 2, 1, 2))
    // 2-byte char split by a rogue byte: C3 fails (FF not a continuation),
    // FF fails, A9 is then a lone continuation
    assert(stats(hex("C3 FF A9")) == (false, 3, 0, 3, 0))
    assert(Utf8Stats.compute(null) == null)
  }

  test("agrees with the JVM decoder on every valid string (seeded sample)") {
    val rnd = new scala.util.Random(0x5EED)
    (0 until 500).foreach { _ =>
      // random codepoints avoiding the surrogate block
      val cps = Array.fill(rnd.nextInt(40)) {
        val c = rnd.nextInt(0x110000 - 0x800)
        if (c < 0xD800) c else c + 0x800
      }
      val s = new String(cps, 0, cps.length)
      val b = s.getBytes("UTF-8")
      val (valid, nBytes, nChars, nInvalid, _) = stats(b)
      assert(valid && nInvalid == 0 && nBytes == b.length &&
        nChars == s.codePointCount(0, s.length))
    }
  }

  test("fuzz: arbitrary bytes never throw; byte accounting always balances") {
    val rnd = new scala.util.Random(0xFACADE)
    (0 until 5000).foreach { _ =>
      val b = new Array[Byte](rnd.nextInt(129))
      rnd.nextBytes(b)
      val (valid, nBytes, nChars, nInvalid, nAscii) = stats(b)
      assert(nBytes == b.length && valid == (nInvalid == 0))
      assert(nAscii <= nChars)
      // every byte is either part of exactly one decoded char (1-4 bytes)
      // or exactly one invalid byte: chars + invalid <= bytes <= 4*chars + invalid
      assert(nChars + nInvalid <= nBytes && nBytes <= 4 * nChars + nInvalid)
    }
  }

  test("expression + SQL registration agree with the JVM scanner") {
    import spark.implicits._
    graft.plans.GraftExtensions.register(spark)
    val df = Seq((1L, "héllo".getBytes("UTF-8")), (2L, hex("FF 41")),
      (3L, null.asInstanceOf[Array[Byte]])).toDF("id", "payload")
    val got = df.select(col("id"), Utf8Stats(col("payload")).as("u"))
      .select(col("id"), col("u.valid"), col("u.n_chars"), col("u.n_invalid"))
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else (r.getBoolean(1), r.getInt(2), r.getInt(3))))
      .toMap
    assert(got == Map(1L -> (true, 5, 0), 2L -> (false, 1, 1), 3L -> null))
    df.createOrReplaceTempView("u8")
    val viaSql = spark.sql(
      "SELECT id, utf8_stats(payload).n_ascii AS a FROM u8 ORDER BY id")
      .collect().map(r => if (r.isNullAt(1)) -1 else r.getInt(1)).toSeq
    assert(viaSql == Seq(4, 1, -1))
  }
}
