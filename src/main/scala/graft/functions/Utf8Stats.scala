package graft.functions

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** Byte-level UTF-8 validity scan (RFC 3629) — the encoding-triage gate a
  * web-scale text pipeline runs BEFORE treating bytes as a string. Crawled
  * corpora arrive with mojibake, torn multi-byte sequences at truncation
  * points, lone continuation bytes, and encoder bugs (overlongs, encoded
  * surrogates); Spark's StringType assumes valid UTF-8, so the validation
  * must happen on the BINARY column at ingest, in one pass, per RFC 3629's
  * exact accept ranges:
  *
  *  - 1-byte 00–7F; 2-byte C2–DF + 80–BF (C0/C1 are overlong leads);
  *  - 3-byte E0 A0–BF | E1–EC 80–BF | ED 80–9F (excludes the surrogate
  *    block U+D800–DFFF) | EE–EF 80–BF, then 80–BF;
  *  - 4-byte F0 90–BF | F1–F3 80–BF | F4 80–8F (caps at U+10FFFF), then
  *    2 × 80–BF; F5–FF are never valid leads.
  *
  * Malformed input: a byte that cannot start (or complete) a valid
  * sequence counts as ONE invalid byte and the scan resyncs at the very
  * next byte — so n_invalid is the exact count of bytes no valid decode
  * covers (a simpler, deterministic convention than Unicode §3.9's
  * maximal-subpart replacement counting, and the one a byte-level
  * cleanliness metric wants). One codegen'd call per row, zero allocation
  * beyond the 5-field result; never throws on any input. */
object Utf8Stats extends MetaParser {
  val name = "utf8_stats"

  /** `utf8_stats(payload)` → struct<valid boolean, n_bytes int, n_chars int,
    * n_invalid int, n_ascii int>. */
  val schema: StructType = StructType(Seq(
    StructField("valid", BooleanType, nullable = false),
    StructField("n_bytes", IntegerType, nullable = false),
    StructField("n_chars", IntegerType, nullable = false),
    StructField("n_invalid", IntegerType, nullable = false),
    StructField("n_ascii", IntegerType, nullable = false)))

  /** (valid, n_bytes, n_chars, n_invalid, n_ascii): n_chars counts decoded
    * codepoints, n_ascii the subset < U+0080, n_invalid the bytes rejected
    * by the scan; valid == (n_invalid == 0). Null input → null. */
  def compute(b: Array[Byte]): InternalRow = {
    if (b == null) return null
    var i = 0
    var chars = 0; var invalid = 0; var ascii = 0
    val n = b.length
    while (i < n) {
      val b0 = b(i) & 0xFF
      if (b0 < 0x80) { ascii += 1; chars += 1; i += 1 }
      else if (b0 >= 0xC2 && b0 <= 0xDF) {
        if (i + 1 < n && cont(b, i + 1)) { chars += 1; i += 2 }
        else { invalid += 1; i += 1 }
      } else if (b0 >= 0xE0 && b0 <= 0xEF) {
        val lo1 = if (b0 == 0xE0) 0xA0 else 0x80
        val hi1 = if (b0 == 0xED) 0x9F else 0xBF
        if (i + 2 < n && inRange(b, i + 1, lo1, hi1) && cont(b, i + 2)) {
          chars += 1; i += 3
        } else { invalid += 1; i += 1 }
      } else if (b0 >= 0xF0 && b0 <= 0xF4) {
        val lo1 = if (b0 == 0xF0) 0x90 else 0x80
        val hi1 = if (b0 == 0xF4) 0x8F else 0xBF
        if (i + 3 < n && inRange(b, i + 1, lo1, hi1) && cont(b, i + 2) &&
          cont(b, i + 3)) { chars += 1; i += 4 }
        else { invalid += 1; i += 1 }
      } else { // 80–BF lone continuation, C0/C1 overlong lead, F5–FF
        invalid += 1; i += 1
      }
    }
    new GenericInternalRow(Array[Any](invalid == 0, n, chars, invalid, ascii))
  }

  private def cont(b: Array[Byte], i: Int): Boolean = {
    val v = b(i) & 0xFF; v >= 0x80 && v <= 0xBF
  }
  private def inRange(b: Array[Byte], i: Int, lo: Int, hi: Int): Boolean = {
    val v = b(i) & 0xFF; v >= lo && v <= hi
  }
}
