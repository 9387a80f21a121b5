package graft.streaming

import graft.{Engine, SparkTestBase}
import graft.streaming.StatefulOps.{Reading, WatchOut}
import graft.streaming.StreamingSeqPack.{DocTok, SplitSlice}
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

/** State-schema EVOLUTION across a checkpointed restart — the real-world
  * equivalent of the reference watchdog surviving a process restart
  * (`consumer.cpp:241-268` is stateless-ish; a Spark stateful query's
  * restart contract is its checkpoint). transformWithState stores each
  * state variable in its own RocksDB column family, so v2 of a processor
  * can ADD a variable and resume from a v1 checkpoint: old state reads
  * back, the new variable starts empty, timers fire across the boundary.
  * Covered: the registered split-packer, and a processing-time watchdog
  * whose v1 and v2 processors are defined in the test. */
/** v2 of [[StreamingSeqPack.PackSplitProcessor]]: same "cum" variable
  * (same name/encoder — reads v1 state), plus an ADDED per-shard doc
  * counter that did not exist when the v1 checkpoint was written. The
  * accumulator proves the added variable genuinely reads/writes after
  * the restart (not silently dead). Top-level, not nested in the spec —
  * an inner class would drag the non-serializable suite into the task
  * closure. */
class PackSplitProcessorV2(budget: Long,
                           touched: org.apache.spark.util.LongAccumulator)
    extends StatefulProcessor[Long, DocTok, SplitSlice] {
  @transient private var cum: ValueState[Long] = _
  @transient private var ndocs: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    cum = getHandle.getValueState[Long]("cum", Encoders.scalaLong, TTLConfig.NONE)
    ndocs = getHandle.getValueState[Long]("ndocs", Encoders.scalaLong, TTLConfig.NONE)
  }

  override def handleInputRows(key: Long, rows: Iterator[DocTok],
                               timerValues: TimerValues): Iterator[SplitSlice] = {
    var c = if (cum.exists()) cum.get() else 0L
    val batch = rows.toArray.sortBy(_.doc_id)
    val out = batch.flatMap { r =>
      val o = c
      c += r.n_tok
      if (r.n_tok <= 0) Seq.empty
      else {
        val b0 = o / budget
        val b1 = (o + r.n_tok - 1) / budget
        (b0 to b1).map { bin =>
          SplitSlice(r.shard, r.doc_id, bin - b0, bin,
            math.min(o + r.n_tok, (bin + 1) * budget) - math.max(o, bin * budget))
        }
      }
    }
    cum.update(c)
    ndocs.update((if (ndocs.exists()) ndocs.get() else 0L) + batch.length)
    touched.add(batch.length)
    out.iterator
  }
}

class StateEvolutionSpec extends SparkTestBase {
  import spark.implicits._

  test("split-packing resumes from a v1 checkpoint under a v2 processor with an added state field") {
    withConf(RocksDbStateStore) {
      val docs = Engine.Tables(spark, Sf0001).documents
        .select(col("doc_id"), graft.operators.TextAnalysis.tokenCount(col("text")).as("n_tok"))
        .withColumn("shard", col("doc_id") % 4)
      val want = graft.operators.SeqPack
        .packSplitSharded(docs, "shard", "doc_id", "n_tok", 2048L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("seg_idx"),
          r.getAs[Long]("bin"), r.getAs[Long]("n_tok"))).toSet
      val rows = docs.select("shard", "doc_id", "n_tok").orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val (wave1, wave2) = rows.splitAt(rows.size / 2)
      assert(wave2.nonEmpty)

      val ckpt = java.nio.file.Files.createTempDirectory("ckpt_evo_pack").toString
      val input = MemoryStream[(Long, Long, Long)](spark)
      val src = input.toDF().toDF("shard", "doc_id", "n_tok")

      // memory sink refuses checkpoint recovery — foreachBatch (which
      // supports it) collects into a shared buffer across both phases
      val got = java.util.concurrent.ConcurrentHashMap.newKeySet[(Long, Long, Long, Long, Long)]()
      def sink(batch: org.apache.spark.sql.DataFrame, id: Long): Unit = {
        batch.collect().foreach(r => got.add((r.getAs[Long]("shard"),
          r.getAs[Long]("doc_id"), r.getAs[Long]("seg_idx"),
          r.getAs[Long]("bin"), r.getAs[Long]("n_tok"))))
        ()
      }

      // phase 1: the SHIPPED v1 processor consumes wave 1, checkpointing
      val q1 = StreamingSeqPack.packSplitStream(src, 2048L).toDF()
        .writeStream.option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append()).foreachBatch(sink _).start()
      try { input.addData(wave1); q1.processAllAvailable() } finally q1.stop()
      val wave1Slices = Set.from(got.asScala)

      // phase 2: v2 (added "ndocs" state variable) resumes the SAME
      // checkpoint and consumes wave 2
      val touched = spark.sparkContext.longAccumulator("evoTouched")
      val v2 = src.select(col("shard").cast("long"), col("doc_id").cast("long"),
          col("n_tok").cast("long")).as[DocTok]
        .groupByKey(_.shard)
        .transformWithState(new PackSplitProcessorV2(2048L, touched),
          TimeMode.None(), OutputMode.Append(), Encoders.product[SplitSlice])
      val q2 = v2.toDF().writeStream
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append()).foreachBatch(sink _).start()
      try { input.addData(wave2); q2.processAllAvailable() } finally q2.stop()

      val all = Set.from(got.asScala)
      assert(all == want,
        s"evolved restart diverged from batch: missing=${(want -- all).take(5)} " +
          s"extra=${(all -- want).take(5)}")
      // the v1 counter genuinely carried over: wave-2 slices continue
      // mid-bin (some wave-2 doc lands in a bin an earlier wave opened),
      // not from bin 0 per shard
      val v2MinBins = (all -- wave1Slices).groupBy(_._1).map { case (_, s) => s.map(_._4).min }
      assert(v2MinBins.exists(_ > 0),
        "every shard restarted at bin 0 — checkpointed cum state was lost")
      // and the ADDED variable is live, not silently dead
      assert(touched.value == wave2.size)
    }
  }

  test("streaming MinHash candidates: kill/resume mid-replay == uninterrupted batch candidate set") {
    // restart-equivalence for the streaming dedup state (r13 verdict #3):
    // the (band, bucket) membership lists must survive a checkpointed
    // kill/resume, so a doc arriving AFTER the restart still pairs with
    // members who arrived BEFORE it — the invariant a resumed crawl-dedup
    // pipeline actually depends on.
    withConf(RocksDbStateStore) {
      val docs = Engine.Tables(spark, Sf0001).documents
      val want = graft.operators.Dedup.minhashCandidates(docs).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(want.nonEmpty, "testdata must contain candidate pairs")

      // id-ordered waves: wave 1 = low ids, wave 2 = high ids, so any
      // (low, high) candidate pair can only exist if wave-1 state
      // survived the restart
      val rows = docs.select("doc_id", "text").orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      val (wave1, wave2) = rows.splitAt(rows.size / 2)
      val wave1Ids = wave1.map(_._1).toSet
      val crossWave = want.filter(p => wave1Ids.contains(p._1) != wave1Ids.contains(p._2))
      assert(crossWave.nonEmpty,
        "split produced no cross-wave pairs — the restart would be untested")

      val ckpt = java.nio.file.Files.createTempDirectory("ckpt_res_dedup").toString
      val input = MemoryStream[(Long, String)](spark)
      val stream = StreamingDedup.minhashCandidatesStream(
        input.toDF().toDF("doc_id", "text"))
      val got = java.util.concurrent.ConcurrentHashMap.newKeySet[(Long, Long)]()
      def sink(batch: org.apache.spark.sql.DataFrame, id: Long): Unit = {
        batch.collect().foreach(r => got.add((r.getAs[Long]("da"), r.getAs[Long]("db"))))
        ()
      }
      def start() = stream.toDF().writeStream.option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append()).foreachBatch(sink _).start()

      val q1 = start()
      try { input.addData(wave1); q1.processAllAvailable() } finally q1.stop()
      val q2 = start()
      try { input.addData(wave2); q2.processAllAvailable() } finally q2.stop()

      val all = Set.from(got.asScala)
      assert(all == want,
        s"resumed candidates diverged from uninterrupted batch: " +
          s"missing=${(want -- all).take(5)} extra=${(all -- want).take(5)}")
      // and the cross-wave pairs specifically are present — the direct
      // witness that pre-kill membership state paired with post-resume docs
      assert(crossWave.subsetOf(all), s"cross-restart pairs lost: ${(crossWave -- all).take(5)}")
    }
  }

  test("streaming crawl media-dedup: kill/resume mid-replay == uninterrupted batch survivors") {
    // restart-equivalence for the capstone's dropDuplicates state: a
    // spelling arriving AFTER the restart must still be dropped by a
    // content key its sibling registered BEFORE the kill — the invariant
    // a resumed crawl-ingest dedup actually depends on.
    withConf(RocksDbStateStore) {
      val docs = Engine.Tables(spark, Sf0001).documents.limit(24)
      val media = graft.operators.Multimodal.mixedDupMediaCorpus(docs)
      val want = graft.queries.Capstones.crawlMediaDedup(media)
        .filter(col("is_kept") === 1).select("doc_id").collect()
        .map(_.getLong(0)).toSet

      // split INSIDE a 4-spelling group: wave 1 ends mid-group, so
      // wave-2 spellings of the straddling group test carried state.
      // The split index is DERIVED from the collected ids (same group on
      // both sides of the cut) — a fixed midpoint plus %4 arithmetic
      // would silently land on a clean group boundary if the id space
      // ever had gaps, green-lighting an untested restart
      val rows = media.select("doc_id", "payload").orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getAs[Array[Byte]]("payload"))).toSeq
      val mid = rows.size / 2
      val splitIdx = (1 until rows.size)
        .filter(i => rows(i - 1)._1 / 4 == rows(i)._1 / 4)
        .minByOption(i => math.abs(i - mid))
        .getOrElse(fail("no mid-group split point — every group has one doc"))
      val (wave1, wave2) = rows.splitAt(splitIdx)
      assert(wave1.last._1 / 4 == wave2.head._1 / 4,
        "split must straddle a spelling group or the restart is untested")

      val ckpt = java.nio.file.Files.createTempDirectory("ckpt_res_crawl").toString
      val input = MemoryStream[(Long, Array[Byte])](spark)
      val stream = graft.queries.Capstones.crawlMediaDedupStream(
        input.toDF().toDF("doc_id", "payload"))
      val got = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
      def sink(batch: org.apache.spark.sql.DataFrame, id: Long): Unit = {
        batch.collect().foreach(r => got.add(r.getAs[Long]("doc_id")))
        ()
      }
      def start() = stream.writeStream.option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append()).foreachBatch(sink _).start()

      val q1 = start()
      try { input.addData(wave1); q1.processAllAvailable() } finally q1.stop()
      val q2 = start()
      try { input.addData(wave2); q2.processAllAvailable() } finally q2.stop()

      val all = Set.from(got.asScala)
      assert(all == want,
        s"resumed crawl dedup diverged from uninterrupted batch: " +
          s"missing=${(want -- all).take(5)} extra=${(all -- want).take(5)}")
    }
  }

  test("streaming packer: kill/resume mid-replay == uninterrupted batch pack manifest") {
    withConf(RocksDbStateStore) {
      val docs = Engine.Tables(spark, Sf0001).documents
        .select(col("doc_id"), graft.operators.TextAnalysis.tokenCount(col("text")).as("n_tok"))
        .withColumn("shard", col("doc_id") % 4)
      val want = graft.operators.SeqPack.packSharded(docs, "shard", "doc_id", "n_tok", 2048L)
        .select("shard", "doc_id", "bin").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(want.map(_._3).max > 0, "corpus must span multiple bins")

      val rows = docs.select("shard", "doc_id", "n_tok").orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val (wave1, wave2) = rows.splitAt(rows.size / 2)
      assert(wave2.nonEmpty)

      val ckpt = java.nio.file.Files.createTempDirectory("ckpt_res_pack").toString
      val input = MemoryStream[(Long, Long, Long)](spark)
      val stream = StreamingSeqPack.packStream(
        input.toDF().toDF("shard", "doc_id", "n_tok"), 2048L)
      val got = java.util.concurrent.ConcurrentHashMap.newKeySet[(Long, Long, Long)]()
      def sink(batch: org.apache.spark.sql.DataFrame, id: Long): Unit = {
        batch.collect().foreach(r => got.add((r.getAs[Long]("shard"),
          r.getAs[Long]("doc_id"), r.getAs[Long]("bin"))))
        ()
      }
      def start() = stream.toDF().writeStream.option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append()).foreachBatch(sink _).start()

      val q1 = start()
      try { input.addData(wave1); q1.processAllAvailable() } finally q1.stop()
      val wave1Packs = Set.from(got.asScala)
      val q2 = start()
      try { input.addData(wave2); q2.processAllAvailable() } finally q2.stop()

      val all = Set.from(got.asScala)
      assert(all == want,
        s"resumed pack manifest diverged from uninterrupted batch: " +
          s"missing=${(want -- all).take(5)} extra=${(all -- want).take(5)}")
      // direct witness that the per-shard cumulative token counter
      // survived the kill: some post-resume doc lands mid-bin (bin > 0),
      // not every shard restarting from bin 0
      val resumedBins = (all -- wave1Packs).groupBy(_._1).map { case (_, s) => s.map(_._3).min }
      assert(resumedBins.exists(_ > 0),
        "every shard resumed at bin 0 — checkpointed cum state was lost")
    }
  }

  test("watchdog timer armed by v1 fires after a restart under a v2 processor with added state") {
    /** v1 watchdog: per-key processing-time timer that slides on every
      * update and emits the 888.8 sentinel when it fires. */
    class WatchdogProcessorV1(toleranceMs: Long)
        extends StatefulProcessor[String, Reading, WatchOut] {
      @transient private var timerSet: ValueState[Long] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
        timerSet = getHandle.getValueState[Long]("timer", Encoders.scalaLong, TTLConfig.NONE)
      }
      override def handleInputRows(key: String, rows: Iterator[Reading],
                                   timerValues: TimerValues): Iterator[WatchOut] = {
        val latest = rows.maxBy(r => (r.ts.getTime, r.value))
        if (timerSet.exists()) getHandle.deleteTimer(timerSet.get())
        val fireAt = timerValues.getCurrentProcessingTimeInMs() + toleranceMs
        getHandle.registerTimer(fireAt)
        timerSet.update(fireAt)
        Iterator.single(WatchOut(key, latest.value, stale = false))
      }
      override def handleExpiredTimer(key: String, timerValues: TimerValues,
                                      expiredTimerInfo: ExpiredTimerInfo): Iterator[WatchOut] = {
        timerSet.clear()
        Iterator.single(WatchOut(key, 888.8, stale = true))
      }
    }
    /** v2 watchdog: same "timer" variable plus an added last-value cache. */
    class WatchdogProcessorV2(toleranceMs: Long)
        extends StatefulProcessor[String, Reading, WatchOut] {
      @transient private var timerSet: ValueState[Long] = _
      @transient private var lastVal: ValueState[Double] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
        timerSet = getHandle.getValueState[Long]("timer", Encoders.scalaLong, TTLConfig.NONE)
        lastVal = getHandle.getValueState[Double]("lastVal", Encoders.scalaDouble, TTLConfig.NONE)
      }
      override def handleInputRows(key: String, rows: Iterator[Reading],
                                   timerValues: TimerValues): Iterator[WatchOut] = {
        val latest = rows.maxBy(r => (r.ts.getTime, r.value))
        if (timerSet.exists()) getHandle.deleteTimer(timerSet.get())
        val fireAt = timerValues.getCurrentProcessingTimeInMs() + toleranceMs
        getHandle.registerTimer(fireAt)
        timerSet.update(fireAt)
        lastVal.update(latest.value)
        Iterator.single(WatchOut(key, latest.value, stale = false))
      }
      override def handleExpiredTimer(key: String, timerValues: TimerValues,
                                      expiredTimerInfo: ExpiredTimerInfo): Iterator[WatchOut] = {
        timerSet.clear()
        // the sentinel carries the added state when present — proves the
        // new variable participates after restart
        val v = if (lastVal.exists()) lastVal.get() else 888.8
        Iterator.single(WatchOut(key, v, stale = true))
      }
    }
    withConf(RocksDbStateStore) {
      val ckpt = java.nio.file.Files.createTempDirectory("ckpt_evo_wd").toString
      val input = MemoryStream[Reading](spark)
      val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[WatchOut]()
      def sink(batch: org.apache.spark.sql.DataFrame, id: Long): Unit = {
        batch.collect().foreach(r =>
          seen.add(WatchOut(r.getString(0), r.getDouble(1), r.getBoolean(2))))
        ()
      }
      // phase 1: the v1 watchdog sees d0, arms its tolerance timer, and
      // stops before it can fire
      val q1 = input.toDS().groupByKey(_.key)
        .transformWithState(new WatchdogProcessorV1(3000),
          TimeMode.ProcessingTime(), OutputMode.Append(), Encoders.product[WatchOut])
        .toDF().writeStream
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append())
        .trigger(Trigger.ProcessingTime("200 milliseconds"))
        .foreachBatch(sink _).start()
      try {
        input.addData(Reading("d0", new Timestamp(1700000000000L), 19.5))
        val end = System.currentTimeMillis() + 10000
        while (System.currentTimeMillis() < end &&
          !seen.contains(WatchOut("d0", 19.5, stale = false)))
          Thread.sleep(100)
        assert(seen.contains(WatchOut("d0", 19.5, stale = false)))
      } finally q1.stop()

      // phase 2: v2 resumes the checkpoint; the v1-armed timer must fire
      // here (sentinel with the stub 888.8 value: v1 never wrote lastVal,
      // so the ADDED variable correctly reads empty for d0) and a fresh
      // key must round-trip both variables
      val v2 = input.toDS().groupByKey(_.key)
        .transformWithState(new WatchdogProcessorV2(3000),
          TimeMode.ProcessingTime(), OutputMode.Append(), Encoders.product[WatchOut])
      val q2 = v2.toDF().writeStream
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append())
        .trigger(Trigger.ProcessingTime("200 milliseconds"))
        .foreachBatch(sink _).start()
      try {
        input.addData(Reading("d1", new Timestamp(1700000001000L), 42.0))
        // TWO legal outcomes for d0's sentinel, decided by a commit race
        // at q1.stop(): if d0's batch COMMITTED, v2 resumes the v1-armed
        // timer and the ADDED variable correctly reads empty (888.8); if
        // the stop raced the commit, the restart REPLAYS d0's batch under
        // v2 (exactly-once restart semantics), which re-arms the timer
        // and writes lastVal = 19.5 — the sentinel then carries it. Both
        // prove the property under test: a pre-evolution-armed (or
        // replay-re-armed) timer fires after the restart with the added
        // state variable participating.
        def d0Fired = seen.contains(WatchOut("d0", 888.8, stale = true)) ||
          seen.contains(WatchOut("d0", 19.5, stale = true))
        val end = System.currentTimeMillis() + 30000
        while (System.currentTimeMillis() < end &&
          !(d0Fired && seen.contains(WatchOut("d1", 42.0, stale = true))))
          Thread.sleep(200)
        assert(d0Fired,
          s"timer did not fire for d0 after the evolved restart: ${seen.asScala}")
        assert(seen.contains(WatchOut("d1", 42.0, stale = true)),
          s"added lastVal state did not round-trip for a fresh key: ${seen.asScala}")
      } finally q2.stop()
    }
  }
}
