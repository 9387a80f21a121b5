package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Physical-layout operators for the 100 TB design point.
  *
  * A single-column sort clusters files on ONE dimension: parquet min/max
  * footer statistics then prune scans filtered on that column and nothing
  * else. Z-order (Morton) interleaving clusters on SEVERAL dimensions at
  * once — each output file covers a compact z-range, i.e. a small
  * rectangle in (x, y) — so a filter on EITHER dimension skips most
  * files. This is the layout pass a pipeline runs when writing a corpus
  * that will be re-read under many different predicates (by source, by
  * time, by length bucket, ...), where no one sort key wins.
  *
  * Everything here is pure bitwise Column arithmetic (the classic
  * magic-bits interleave from the public "Bit Twiddling Hacks" page) —
  * whole-stage codegen, no UDF, no shuffle beyond the final
  * repartitionByRange a writer asks for.
  */
object Layout {

  /** Spread the low 16 bits of `v` to the even bit positions 0,2,..,30
    * (magic-bits Morton spread: widen in halves, mask each step). */
  private def spread16(v: Column): Column = {
    val a = v.cast("long").bitwiseAND(lit(0xFFFFL))
    val b = a.bitwiseOR(shiftleft(a, 8)).bitwiseAND(lit(0x00FF00FFL))
    val c = b.bitwiseOR(shiftleft(b, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val d = c.bitwiseOR(shiftleft(c, 2)).bitwiseAND(lit(0x33333333L))
    d.bitwiseOR(shiftleft(d, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** 32-bit Morton code over the low 16 bits of two non-negative
    * dimensions: x's bits land on even positions, y's on odd. Callers map
    * raw columns into [0, 2^16) first (modulo, bucketed rank, quantized
    * float — whatever preserves the locality they care about). */
  def zorder2(x: Column, y: Column): Column =
    spread16(x).bitwiseOR(shiftleft(spread16(y), 1))

  /** Data-skipping card over the z-layout: bucket rows by the top `bits`
    * of their z-value (= the file an N-file z-sorted write would place
    * them in) and report per-bucket row count + min/max of both raw
    * dimensions — exactly the footer statistics a pruning scan would see.
    * Compact per-bucket rectangles == the layout is working. ONE
    * map-side-combined hash shuffle on the bucket. */
  def zorderCard(df: DataFrame, xCol: String, yCol: String, bits: Int): DataFrame = {
    require(bits >= 1 && bits <= 16, s"zorderCard: bits must be in [1,16], got $bits")
    df.select(col(xCol).cast("long").as("__x"), col(yCol).cast("long").as("__y"))
      .withColumn("__z", zorder2(col("__x"), col("__y")))
      .groupBy(shiftright(col("__z"), 32 - bits).cast("int").as("bucket"))
      .agg(count(lit(1)).as("n"),
        min("__x").as("min_x"), max("__x").as("max_x"),
        min("__y").as("min_y"), max("__y").as("max_y"))
  }

  /** Writer shape: range-partition on the z-value, sort within each
    * partition — every output file covers one compact, non-overlapping
    * z-range. `df.write.parquet` on the result yields the pruned layout;
    * returned unsaved so tests and callers can inspect partitioning. The
    * z column rides along as `__zorder` for audit and is the caller's to
    * drop. */
  def zOrdered(df: DataFrame, xCol: String, yCol: String, partitions: Int): DataFrame = {
    require(partitions >= 1, s"zOrdered: partitions must be >= 1, got $partitions")
    df.withColumn("__zorder", zorder2(col(xCol), col(yCol)))
      .repartitionByRange(partitions, col("__zorder"))
      .sortWithinPartitions("__zorder")
  }
}
