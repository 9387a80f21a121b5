package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigation operators for the 100 TB design point.
  *
  * AQE's skew-join handling (on by default in Engine.session) re-splits
  * oversized sort-merge partitions at runtime; [[saltedJoin]] is the
  * explicit fallback for pathological hot keys (one key ≫ one executor's
  * memory) or for pre-AQE plan shapes: the big side spreads each hot key
  * over `buckets` sub-keys, the small side replicates `buckets`-fold, and
  * the join key becomes (key, salt) — no single reducer sees a whole hot
  * key. Correct for any salt assignment, so the salt can be cheap and
  * non-reproducible across retries.
  */
object Skew {

  /** Inner equi-join `big ⋈ small` on `bigKey == smallKey`, hot-key safe.
    * `small` is replicated `buckets`× — keep it dimension-sized. Every big
    * row still meets every matching small row exactly once. */
  def saltedJoin(big: DataFrame, small: DataFrame, bigKey: String, smallKey: String,
                 buckets: Int): DataFrame = {
    val b = big.withColumn("__salt", pmod(monotonically_increasing_id(), lit(buckets.toLong)))
    val s = small.withColumn("__salt",
      explode(sequence(lit(0L), lit(buckets.toLong - 1))))
    b.join(s, b(bigKey) === s(smallKey) && b("__salt") === s("__salt"))
      .drop("__salt")
  }

  /** Two-stage salted aggregation: partial aggregate on (key, salt), final
    * on key. Spark's hash aggregate already does map-side partials, so this
    * is only for aggregations whose partial state is itself key-skewed
    * (e.g. collect-like ops) or when the reduce side must be widened. */
  def saltedSum(df: DataFrame, keyCols: Seq[String], valueCol: String,
                buckets: Int): DataFrame = {
    // Deterministic row-derived salt: hash of (key cols, value col,
    // partition id) — NOT monotonically_increasing_id (nondeterministic
    // under task retry, and a retry-shifted salt re-groups double-typed
    // partials, changing the FP addition grouping mid-job). Only the columns
    // the aggregate reads are hashed: pass-through columns may be MapType
    // (hash on maps is disallowed since Spark 3.0) or huge payloads the
    // hash would pay for per row. Hashing the partition id in keeps a hot
    // key whose values are constant (status=200, amount=0) spread across
    // salts — one salt per input partition at worst, and the map-side
    // partial aggregate already collapses same-(key,salt) rows per
    // partition, so that residual collapse costs nothing at the reduce.
    val salted = df.withColumn("__salt",
      pmod(xxhash64((keyCols :+ valueCol).map(col) :+ spark_partition_id(): _*),
        lit(buckets.toLong)))
    val partial = salted
      .groupBy((keyCols.map(col) :+ col("__salt")): _*)
      .agg(sum(col(valueCol)).as("__psum"), count("*").as("__pcnt"))
    partial.groupBy(keyCols.map(col): _*)
      .agg(sum(col("__psum")).as(s"sum_$valueCol"),
        sum(col("__pcnt")).as("cnt"))
  }
}
