package graft.streaming

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming._

/** Streaming MinHash near-dup detection (SURVEY §2.4 E2, streaming form):
  * the LLM-dedup story end-to-end in a stream — documents arrive, their
  * signatures are computed statelessly per row
  * ([[Dedup.minhashSignatureRowwise]], no shuffle, no aggregation state),
  * and LSH band buckets live in keyed state: each (band, bucket) key keeps
  * the doc ids seen so far, and a new member emits a candidate pair against
  * every existing member exactly once.
  *
  * Equivalence with the batch form: replaying a corpus through this
  * operator yields exactly [[Dedup.minhashCandidates]]'s candidate SET
  * (asserted in StreamingSpec). Pairs sharing several band buckets are
  * emitted once per bucket (the batch form's global `distinct` has no
  * streaming analog without a second stateful stage); downstream exact
  * verification (jaccardVerify) is idempotent, so the at-least-once pair
  * multiplicity is harmless — dedupe with `dropDuplicates` + watermark if
  * a sink needs exactly-once pairs.
  *
  * At 100 TB: state is partitioned by (band, bucket) — the same key space
  * the batch equi-join shuffles on — and per-key membership lists stay
  * small exactly when the banding is sized right (see
  * [[Dedup.minhashCandidates]] sizing notes), on the RocksDB state store.
  */
object StreamingDedup {

  case class BandDoc(band: Int, bucket: Int, doc_id: Long)
  case class CandPair(da: Long, db: Long)

  /** Per-(band, bucket) membership state; emits each (existing, new) pair
    * when a doc first joins a bucket. Reprocessed rows (micro-batch retry)
    * are no-ops: a doc already in the member list emits nothing. */
  class BucketProcessor extends StatefulProcessor[(Int, Int), BandDoc, CandPair] {

    @transient private var members: ListState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      members = getHandle.getListState[Long]("members", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: (Int, Int), rows: Iterator[BandDoc],
                                 timerValues: TimerValues): Iterator[CandPair] = {
      // materialize only the MEMBERSHIP (O(members)), never the pair set:
      // a hot bucket receiving many docs at once would otherwise buffer
      // O(members x newDocs) CandPair objects before emitting anything —
      // the pairs are generated lazily from prefix views instead
      val initial = members.get().toVector
      val seen = initial.to(collection.mutable.LinkedHashSet)
      val fresh = collection.mutable.ArrayBuffer.empty[Long]
      rows.foreach { r =>
        if (!seen.contains(r.doc_id)) {
          seen += r.doc_id
          fresh += r.doc_id
          members.appendValue(r.doc_id)
        }
      }
      fresh.iterator.zipWithIndex.flatMap { case (d, i) =>
        (initial.iterator ++ fresh.iterator.take(i)).map(e =>
          CandPair(math.min(e, d), math.max(e, d)))
      }
    }
  }

  /** docs(doc_id, text) stream → candidate near-dup pairs (da < db),
    * banded with n = 3, k = 16, bands = 4. */
  def minhashCandidatesStream(docs: DataFrame): Dataset[CandPair] = {
    import docs.sparkSession.implicits._
    val banded = Dedup.bandBuckets(Dedup.minhashSignatureRowwise(docs, 3, 16), 16, 4)
      .select(col("band").cast("int").as("band"), col("bucket").as("bucket"),
        col("doc_id")).as[BandDoc]
    banded.groupByKey(b => (b.band, b.bucket))
      .transformWithState(new BucketProcessor, TimeMode.None(), OutputMode.Append(),
        Encoders.product[CandPair])
  }

  case class KeyedId(key: String, doc_id: Long)
  case class Survivor(key: String, survivor_id: Long)

  /** Per-key running-minimum state: emits (key, new min) whenever a batch
    * IMPROVES the key's minimum doc_id — first arrival included. The min
    * only ever decreases, so the final survivor per key is the min of its
    * emitted rows (`groupBy(key).min(survivor_id)` at the sink), and a
    * micro-batch retry re-emitting the same improvement is absorbed by
    * that same fold — at-least-once emission, exactly-once survivors. */
  class MinIdProcessor extends StatefulProcessor[String, KeyedId, Survivor] {

    @transient private var cur: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      cur = getHandle.getValueState[Long]("min_id", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[KeyedId],
                                 timerValues: TimerValues): Iterator[Survivor] = {
      val batchMin = rows.map(_.doc_id).min
      if (!cur.exists() || batchMin < cur.get()) {
        cur.update(batchMin)
        Iterator.single(Survivor(key, batchMin))
      } else Iterator.empty
    }
  }

  /** MIN-ID streaming twin of [[Dedup.minIdSurvivorByKey]] (r15 verdict
    * #4): batch-equivalent survivors under ARBITRARY arrival — multi-
    * partition, non-id-ordered, dup group split across micro-batches any
    * which way. [[Dedup.firstSeenByKey]] keeps whichever duplicate a
    * micro-batch encounters first, so its kept ROW equals the batch
    * min-id survivor only under id-ordered single-partition replay (its
    * documented contract); this operator instead keys a running-minimum
    * ValueState on the same coalesced key (null hash → the row's own
    * doc_id: refused payloads stay singletons, never merged) and is
    * order-independent because min is — within a batch the iterator fold,
    * across batches the state compare.
    *
    * At 100 TB: state is one long per distinct content key, hash-
    * partitioned exactly like the batch survivor shuffle; emission volume
    * is bounded by improvements (≤ arrivals per key, 1 in the common
    * already-seen case). Sink-side `groupBy(key).min` is the read
    * contract (see [[MinIdProcessor]]). */
  def minIdSurvivorStream(sigs: DataFrame, hashCol: String): Dataset[Survivor] = {
    import sigs.sparkSession.implicits._
    val keyed = sigs.select(
      Dedup.contentKey(hashCol).as("key"),
      col("doc_id").cast("long").as("doc_id")).as[KeyedId]
    keyed.groupByKey(_.key)
      .transformWithState(new MinIdProcessor, TimeMode.None(), OutputMode.Append(),
        Encoders.product[Survivor])
  }
}
