package graft.operators

import graft.PlanCapture.CheckpointOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact quantile gating at scale (SURVEY.md §2.4 extension): keep the rows
  * whose metric is at or below the q-quantile — the adaptive form of a
  * quality cutoff ("drop the most-repetitive decile"), where the threshold
  * follows the data instead of being hand-tuned.
  *
  * Neither classic form survives both the 100 TB test and the oracle test:
  * a global `row_number` rank is a single-task sort, and interpolated
  * `percentile`/`quantile_cont` differ across engines in final ulps
  * (boundary rows flip). Instead: aggregate the metric into a VALUE
  * HISTOGRAM — after 4-decimal rounding its cardinality is bounded (≤ ~10⁴
  * distinct values) regardless of corpus size — cumulate counts over that
  * tiny frame, pick the smallest value whose cumulative count reaches
  * ⌈q·n⌉, and broadcast the one-row threshold back. Every step is a plain
  * hash aggregate or a window over the bounded histogram; comparisons are
  * exact (the rounded doubles are bit-identical in any engine), so the
  * gate is deterministic and oracle-checkable.
  *
  * Population rules (identical in both forms): null and NaN metrics are
  * excluded entirely — they could never be emitted (`null <= thr` filters
  * nulls; NaN sorts ABOVE every real value in Spark, so a NaN threshold
  * would admit the whole corpus), and engines disagree on where they
  * cumulate, so counting them would shift the rank per engine. Ties at the
  * threshold are kept (the gate admits ≥ q of the population), matching
  * SQL's `<=` mirror exactly.
  */
object QuantileGate {

  /** Rows of `df` with a real (non-null, non-NaN) `metricCol` <= the exact
    * q-quantile threshold. `metricCol` should be bounded-cardinality (e.g.
    * r4-rounded); the histogram window is sized by distinct metric values,
    * not rows. */
  def atOrBelow(df: DataFrame, metricCol: String, q: Double): DataFrame =
    gate(df, None, metricCol, q)

  /** Per-group exact quantile gate: each `groupCol` value (INCLUDING a
    * null group — the threshold join is null-safe) gets its own q-quantile
    * threshold — per-domain quality cutoffs, so a noisy domain is trimmed
    * against its own distribution, not the global one. */
  def atOrBelowPerGroup(df: DataFrame, groupCol: String, metricCol: String,
                        q: Double): DataFrame =
    gate(df, Some(groupCol), metricCol, q)

  // ---- frozen-threshold (fit in batch, apply anywhere) ---------------------

  /** FIT ONLY: the one-row exact q-quantile threshold frame (`__thr`) over
    * a batch history — the half of [[atOrBelow]] that must see the whole
    * distribution. Freeze it once over yesterday's corpus, then gate an
    * always-on ingest stream with [[atOrBelowFrozen]] — the adaptive-cutoff
    * analog of [[Decontaminate.contamination]]'s static benchmark on a stream. */
  def fitThreshold(df: DataFrame, metricCol: String, q: Double): DataFrame = {
    validateQ(q) // before the localCheckpoint materializes the history
    thresholdFrom(realMetric(df.auditedCheckpoint(), metricCol), Nil, metricCol, q)
  }

  /** FIT ONLY, per group: (`groupCol`, `__thr`) — one frozen cutoff per
    * domain. */
  def fitThresholdPerGroup(df: DataFrame, groupCol: String, metricCol: String,
                           q: Double): DataFrame = {
    validateQ(q) // before the localCheckpoint materializes the history
    thresholdFrom(realMetric(df.auditedCheckpoint(), metricCol), Seq(groupCol), metricCol, q)
  }

  /** APPLY a frozen threshold frame to any frame — batch or STREAMING.
    * Stateless per row: the tiny threshold broadcasts, so on a stream this
    * is a stream-static broadcast join (no watermark, no state store) and
    * each document gates the moment it arrives. Population rules identical
    * to [[atOrBelow]] (null/NaN metrics excluded). */
  def atOrBelowFrozen(df: DataFrame, threshold: DataFrame, metricCol: String): DataFrame =
    realMetric(df, metricCol)
      .join(broadcast(threshold), col(metricCol) <= col("__thr")).drop("__thr")

  /** APPLY a per-group frozen threshold frame (null-safe group match, like
    * [[atOrBelowPerGroup]]). Rows of a group absent from the fit frame drop
    * (inner join): a domain never seen in the history has no cutoff — at
    * ingest that is the conservative quarantine-until-refit behavior. */
  def atOrBelowFrozenPerGroup(df: DataFrame, threshold: DataFrame, groupCol: String,
                              metricCol: String): DataFrame = {
    val src = realMetric(df, metricCol)
    // the fit frame usually DERIVES from df (self-fit), so a
    // src(groupCol) <=> threshold(groupCol) condition hits Spark's
    // ambiguous-self-join machinery (it resolves correctly but warns
    // "trivially true predicate"); renaming the fit side's key makes the
    // sides structurally distinct — no resolver heroics required
    val thr = threshold.withColumnRenamed(groupCol, "__g")
    src.join(broadcast(thr), col(groupCol) <=> col("__g"))
      .drop("__g")
      .filter(col(metricCol) <= col("__thr")).drop("__thr")
  }

  /** The shared population rule: real (non-null, non-NaN) metrics only. */
  private def realMetric(df: DataFrame, metricCol: String): DataFrame = {
    val m = col(metricCol)
    df.filter(m.isNotNull && !isnan(m.cast("double")))
  }

  /** One implementation for both forms (the global gate is the grouped
    * gate with no partition key) so the population rules and the
    * decimal-exact rank arithmetic cannot drift between them. */
  private def gate(df: DataFrame, group: Option[String], metricCol: String,
                   q: Double): DataFrame = {
    validateQ(q) // before the localCheckpoint below materializes the corpus
    val m = col(metricCol)
    // materialize ONCE with localCheckpoint: (a) the frame feeds two
    // branches (histogram + probe) — unmaterialized, the caller's metric
    // derivation runs per branch; (b) the null/NaN filter lands on a
    // LogicalRDD there is nothing to push into — below the caller's
    // projections it would be predicate-pushed through them, re-evaluating
    // an interpreted-HOF metric per row (measured 2.9s -> 19s on qe17);
    // (c) unlike persist(), checkpoint blocks are freed by the
    // ContextCleaner once unreachable — no session-lifetime storage leak.
    val src = realMetric(df.auditedCheckpoint(), metricCol)
    val cutoff = thresholdFrom(src, group.toSeq, metricCol, q)
    group match {
      case Some(g) =>
        // <=> keeps a null group matched to its own threshold; a plain
        // equi-join would silently drop every null-group row. The cutoff
        // frame derives from src, so a src(g) <=> cutoff(g) condition rides
        // Spark's ambiguous-self-join resolution (correct today, but it
        // emits "trivially true equals predicate" WARNs and is one resolver
        // change away from a wrong join); renaming the threshold side's key
        // makes the sides structurally distinct, as the frozen form does.
        val thr = cutoff.withColumnRenamed(g, "__g")
        src.join(broadcast(thr), col(g) <=> col("__g"))
          .drop("__g")
          .filter(m <= col("__thr")).drop("__thr")
      case None =>
        src.join(broadcast(cutoff), m <= col("__thr")).drop("__thr")
    }
  }

  /** The exact-rank threshold over an already-filtered population:
    * histogram → decimal-exact cumulative rank → per-group min qualifying
    * value. One definition under both the adaptive gate and the frozen-fit
    * path so the rank arithmetic cannot drift. */
  /** Validate q BEFORE any job runs: every public entry calls this ahead
    * of the localCheckpoint materialization, so an invalid quantile fails
    * in microseconds instead of after a corpus-sized job. */
  private def validateQ(q: Double): Unit = {
    require(q > 0 && q < 1, s"quantile must be in (0,1), got $q")
    // exact decimal form of q (shortest decimal repr of the double) — a
    // forced setScale(6) would silently round q < 5e-7 to 0, turning the
    // rank cutoff into ceil(0) = 0 and degenerating the gate to min-only
    val qDec = BigDecimal(q)
    // cap at 17, not DecimalType's 38: lit(qDec) * the DecimalType(20,0)
    // count must stay inside precision 38 to multiply exactly — beyond ~17
    // fractional digits Spark either rounds the product HALF_UP
    // (allowPrecisionLoss=true, default) or nulls it (=false), silently
    // corrupting the rank either way. Doubles carry <= 17 significant
    // digits, so any double q whose shortest decimal form is this precise
    // is indistinguishable from a representable neighbor anyway.
    require(math.max(qDec.precision, qDec.scale) <= 17,
      s"quantile q=$q needs ${math.max(qDec.precision, qDec.scale)} decimal digits; " +
        "only <= 17 multiply exactly against a long count in DecimalType(38)")
  }

  private def thresholdFrom(src: DataFrame, groupCols: Seq[String], metricCol: String,
                            q: Double): DataFrame = {
    validateQ(q)
    val qDec = BigDecimal(q)
    val m = col(metricCol)
    val gcols = groupCols.map(col)
    val hist = src.groupBy(gcols :+ m.as("__v"): _*).agg(count("*").as("__c"))
    val wCum = Window.partitionBy(gcols: _*).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(gcols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // ceil in DECIMAL, not double: 0.07*100 is 7.000000000000001 in binary,
    // whose ceil (8) disagrees with the exact rank 7 the oracle computes
    hist
      .withColumn("__cum", sum(col("__c")).over(wCum))
      .withColumn("__n", sum(col("__c")).over(wAll))
      .filter(col("__cum") >= ceil(lit(qDec) * col("__n")))
      .groupBy(gcols: _*).agg(min(col("__v")).as("__thr"))
  }
}
