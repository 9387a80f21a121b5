package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

class SkewSpec extends SparkTestBase {
  import spark.implicits._

  test("saltedJoin == plain join on a 90%-hot-key distribution") {
    val big = spark.range(10000)
      .select((when(col("id") % 10 =!= 0, lit(7L)).otherwise(col("id") % 100)).as("k"),
        col("id").as("payload"))
    val small = Seq((7L, "hot"), (0L, "a"), (10L, "b"), (20L, "c"))
      .toDF("sk", "label")
    val plain = big.join(small, big("k") === small("sk")).select("k", "payload", "label")
    val salted = Skew.saltedJoin(big, small, "k", "sk", buckets = 8)
      .select("k", "payload", "label")
    assert(salted.count() == plain.count())
    assert(salted.except(plain).count() == 0 && plain.except(salted).count() == 0)
  }

  test("planted hot key (50% of rows): salting provably bounds every reducer's input") {
    // the property the operator CLAIMS, asserted on stage metrics rather
    // than result parity: with one key holding half the corpus, the plain
    // shuffle join funnels that key's whole row set through ONE reducer
    // task (the control, which also proves this harness would catch the
    // failure), while the salted form spreads it over `buckets` sub-keys
    // so no task's shuffle read approaches the hot key's size.
    // Force the shuffle path: broadcast would hide reducer distribution,
    // AQE's own skew splitting would rescue the control, and wider
    // reducers make the bound meaningful.
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> "16") {
      val n = 20000L
      val hotCount = (n / 2).toInt // key 7 owns every even id
      val big = spark.range(n)
        .select(when(col("id") % 2 === 0, lit(7L))
          .otherwise(col("id") % 64 + 100L).as("k"), col("id").as("payload"))
      val small = (Seq((7L, "hot")) ++ (0L until 64L).map(k => (k + 100L, s"d$k")))
        .toDF("sk", "label")

      def maxTaskShuffleRead(action: => Unit): Long = {
        val recs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
        val listener = new org.apache.spark.scheduler.SparkListener {
          override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
            val m = te.taskMetrics
            if (m != null && m.shuffleReadMetrics != null)
              recs.add(m.shuffleReadMetrics.recordsRead)
          }
        }
        spark.sparkContext.addSparkListener(listener)
        try {
          action
          // listener events are async: poll until the queue stabilizes
          var last = -1
          while (recs.size != last) { last = recs.size; Thread.sleep(300) }
        } finally spark.sparkContext.removeSparkListener(listener)
        recs.asScala.map(_.longValue).maxOption.getOrElse(0L)
      }

      val unsaltedMax = maxTaskShuffleRead(
        big.join(small, big("k") === small("sk")).count())
      assert(unsaltedMax >= hotCount,
        s"control: the unsalted join should funnel the hot key's $hotCount rows " +
          s"through one task, but max task read only $unsaltedMax — harness broken")
      val saltedMax = maxTaskShuffleRead(
        Skew.saltedJoin(big, small, "k", "sk", buckets = 8).count())
      // hot key spread over 8 salts -> ~hotCount/8 per (key, salt) group;
      // <= a few groups can hash onto one of the 16 reducers, so allow 4x
      // the ideal share — still far below the whole hot key
      assert(saltedMax <= hotCount / 2,
        s"salted join still concentrates the hot key: max task read $saltedMax " +
          s"of $hotCount hot rows")
    }
  }

  test("AQE skew-join: a planted hot key triggers OptimizeSkewedJoin in the executed plan") {
    // the 100 TB skew story must not rest on manual salting alone (r13
    // verdict #4): Engine.session runs with AQE on, so a skewed
    // sort-merge partition should be re-split AT RUNTIME by
    // OptimizeSkewedJoin — asserted here on the executed plan itself
    // (ShuffledJoin renders `(skew=true)` once the rule fires), with
    // thresholds scaled down to test size the same way the stage-metrics
    // test above scales its reducer count. forceOptimizeSkewedJoin stays
    // OFF: the point is that the DEFAULT decision logic fires.
    withConf(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force the shuffle join
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "100k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "50k",
      "spark.sql.shuffle.partitions" -> "16") {
      // key 7 owns 90% of 60k rows; a ~100-byte payload makes the hot
      // map-output partition ~5 MB vs ~KB-sized siblings — far over both
      // the scaled threshold and factor x median
      val big = spark.range(60000)
        .select(when(col("id") % 10 =!= 0, lit(7L)).otherwise(col("id") % 64).as("k"),
          lpad(col("id").cast("string"), 100, "x").as("payload"))
      // one right row per key: keeps the join OUTPUT linear in the big
      // side (a skewed right side would also square the hot key's output,
      // which tests the data generator, not the optimizer)
      val right = spark.range(64)
        .select(col("id").as("k"), lpad(col("id").cast("string"), 100, "y").as("rp"))
      // aggregate over payload so column pruning cannot shrink the hot
      // map-output partition below the scaled skew threshold
      val joined = big.join(right, "k")
        .agg(sum(length(col("payload"))).as("bytes"))
      // drive THIS dataset's own QueryExecution (a write spawns a clone
      // whose adaptive plan we could not inspect afterwards); the agg
      // keeps the driver-side result one row while still executing the
      // full join
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"planted 90%-hot-key join did not trigger OptimizeSkewedJoin; executed plan:\n$plan")
    }
  }

  test("saltedSum == plain groupBy sum") {
    val df = spark.range(5000)
      .select((col("id") % 3).as("k"), (col("id") % 97).cast("double").as("v"))
    val plain = df.groupBy("k").agg(sum("v").as("sum_v"), count("*").as("cnt"))
      .orderBy("k").collect()
    val salted = Skew.saltedSum(df, Seq("k"), "v", buckets = 16)
      .orderBy("k").collect()
    plain.zip(salted).foreach { case (p, s) =>
      assert(p.getLong(0) == s.getLong(0))
      assert(math.abs(p.getDouble(1) - s.getDouble(1)) < 1e-6)
      assert(p.getLong(2) == s.getLong(2))
    }
  }
}
