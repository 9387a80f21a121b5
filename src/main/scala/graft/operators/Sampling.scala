package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

/** Sampling operators for training-data pipelines.
  *
  * All priorities derive from md5 rather than a JVM-local hash: md5 is
  * bit-identical in every engine (DuckDB: `md5(s)`), so the "random" sample
  * is itself oracle-checkable — the driver can recompute the exact sample
  * in SQL. Priorities are order- and partitioning-independent, so samples
  * are uniform, mergeable (classic bottom-k sketch) and reproducible —
  * unlike Algorithm-R reservoirs whose result depends on row arrival order.
  */
object Sampling {

  /** Refuse input columns that collide with an operator's generated
    * (output or temporary) names — withColumn would silently REPLACE the
    * caller's column and a later drop() would delete their data
    * (SeqPack.requireNoCollision's contract, applied to this file's
    * fixed names: rn/shard/ord/split/cum_w/__pr/...). */
  private def requireFresh(fn: String, df: DataFrame, generated: String*): Unit = {
    val bad = generated.filter(df.columns.contains)
    require(bad.isEmpty,
      s"$fn: input column(s) ${bad.mkString(", ")} collide with the " +
        s"generated column(s) ${generated.mkString("/")}; rename the input")
  }

  /** 48-bit priority: first 12 hex chars of md5("42:id"), seed 42 for
    * every sampler. 48 bits keeps the value positive in a SIGNED 64-bit
    * integer on every engine (the full low 64 bits would compare
    * differently as Spark's signed long vs DuckDB's UBIGINT). SQL twin:
    * `('0x' || substr(md5('42:' || CAST(id AS VARCHAR)), 1, 12))::BIGINT`. */
  def md5Priority(idCol: Column): Column =
    conv(substring(md5(concat(lit("42:"), idCol.cast("string")).cast("binary")), 1, 12),
      16, 10).cast("long")

  case class BKItem(priority: Long, id: Long)

  /** Bottom-k sketch over (priority, id) pairs — the k smallest priorities
    * win, ties broken by id. A typed `Aggregator` (the engine's UDAF
    * surface, SURVEY §2.2): per-partition partial sketches merge
    * associatively, so the shuffle carries k rows per group per partition,
    * never the group itself.
    *
    * The buffer is a bounded binary MAX-heap kept in a mutable array (root
    * = worst retained item): a full buffer rejects a losing row with ONE
    * comparison and accepts in O(log k) sift — vs the O(k log k)
    * sort-per-row of the naive `(buf :+ x).sortBy.take(k)` form, which is
    * the whole per-group scan cost at corpus scale. Heap order is only a
    * weak invariant of the serialized form, so merge/finish re-heapify
    * defensively after an encoder round-trip (spill/shuffle), which
    * happens once per partial — never per row. */
  class BottomKPairs(k: Int)
      extends Aggregator[(Long, Long), scala.collection.Seq[BKItem], Seq[Long]] {
    import scala.collection.mutable.ArrayBuffer

    /** item ordering: smaller (priority, id) = better = kept */
    private def worse(a: BKItem, b: BKItem): Boolean =
      a.priority > b.priority || (a.priority == b.priority && a.id > b.id)

    private def siftDown(h: ArrayBuffer[BKItem], i0: Int): Unit = {
      var i = i0
      var done = false
      while (!done) {
        val l = 2 * i + 1
        val r = l + 1
        var m = i
        if (l < h.length && worse(h(l), h(m))) m = l
        if (r < h.length && worse(h(r), h(m))) m = r
        if (m == i) done = true
        else { val t = h(i); h(i) = h(m); h(m) = t; i = m }
      }
    }

    private def siftUp(h: ArrayBuffer[BKItem], i0: Int): Unit = {
      var i = i0
      while (i > 0 && worse(h(i), h((i - 1) / 2))) {
        val p = (i - 1) / 2
        val t = h(i); h(i) = h(p); h(p) = t
        i = p
      }
    }

    private def offer(h: ArrayBuffer[BKItem], item: BKItem): Unit =
      if (k <= 0) () // degrade to an empty sample (the pre-heap behavior);
                     // without this, the full-buffer branch reads h(0)
      else if (h.length < k) { h += item; siftUp(h, h.length - 1) }
      else if (worse(h(0), item)) { h(0) = item; siftDown(h, 0) }
      // else: O(1) reject — the hot path once the sketch is warm

    /** Deserialized buffers come back as whatever Seq the encoder builds;
      * rebuild the heap then (O(k), once per round-trip, never per row). */
    private def asHeap(s: scala.collection.Seq[BKItem]): ArrayBuffer[BKItem] =
      s match {
        case h: ArrayBuffer[BKItem] => h
        case other =>
          val h = ArrayBuffer.empty[BKItem]
          other.foreach(offer(h, _))
          h
      }

    override def zero: scala.collection.Seq[BKItem] = ArrayBuffer.empty[BKItem]
    override def reduce(buf: scala.collection.Seq[BKItem], in: (Long, Long))
        : scala.collection.Seq[BKItem] = {
      val h = asHeap(buf)
      offer(h, BKItem(in._1, in._2))
      h
    }
    override def merge(a: scala.collection.Seq[BKItem], b: scala.collection.Seq[BKItem])
        : scala.collection.Seq[BKItem] = {
      val (big, small) = if (a.length >= b.length) (a, b) else (b, a)
      val h = asHeap(big)
      small.foreach(offer(h, _))
      h
    }
    override def finish(buf: scala.collection.Seq[BKItem]): Seq[Long] =
      buf.toSeq.sortBy(i => (i.priority, i.id)).map(_.id)
    override def bufferEncoder: Encoder[scala.collection.Seq[BKItem]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[scala.collection.Seq[BKItem]]()
    override def outputEncoder: Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
  }

  /** Per-group deterministic uniform sample of `k` ids (bottom-k by md5
    * priority — the distributed, reproducible "reservoir"). */
  def sampleIdsPerGroup(df: DataFrame, groupCols: Seq[String], idCol: String,
                        k: Int): DataFrame = {
    require(!groupCols.contains("sample_ids"),
      "sampleIdsPerGroup: a group column named sample_ids would duplicate the output column")
    val bk = udaf(new BottomKPairs(k))
    df.groupBy(groupCols.map(col): _*)
      .agg(bk(md5Priority(col(idCol)), col(idCol)).as("sample_ids"))
  }

  /** Whole-table deterministic p-percent sample (hash-mod filter — no
    * shuffle, codegen'd systematic sampling). Samples NEST: the p% sample
    * is a subset of every q% sample with q > p. */
  def deterministicSample(df: DataFrame, idCol: String, percent: Int): DataFrame = {
    require(percent >= 0 && percent <= 100,
      s"deterministicSample: percent must be in [0,100], got $percent")
    df.filter(pmod(md5Priority(col(idCol)), lit(100)) < percent)
  }

  /** Membership predicate of the deterministic 1-in-k hash-mod sample —
    * THE shared definition behind the sampled-mode certificates
    * (qe65/qe66) and their floor-measuring probes (CertProbe,
    * ScalingProbe): all of them must select the IDENTICAL rows as the
    * DuckDB oracle's twin expression
    * `('0x' || substr(md5('42:' || CAST(id AS VARCHAR)), 1, 12))::BIGINT % k = 0`
    * — one definition here, so a seed/mod/pmod edit cannot desynchronize
    * a copy from the oracle or from the measurements that pinned the
    * recall floors. */
  def modSample(idCol: Column, k: Int): Column = {
    // k = 0 would be pmod-by-zero → NULL predicate → every row silently
    // dropped: a misconfigured certificate probe would report an empty
    // sample as if the data were empty, instead of failing
    require(k >= 1, s"modSample: modulus k must be >= 1, got $k")
    pmod(md5Priority(idCol), lit(k)) === 0
  }

  /** [[deterministicSample]] at parts-per-million granularity — the
    * sample-rate floor a fit cap actually needs: whole percent floors at
    * 1%, so "train on at most 200k rows" over 10^9 rows would silently
    * sample 10^7 (1%), growing linearly with the corpus instead of
    * holding the cap. */
  def deterministicSamplePpm(df: DataFrame, idCol: String, ppm: Int): DataFrame = {
    require(ppm >= 0 && ppm <= 1000000,
      s"deterministicSamplePpm: ppm must be in [0,1000000], got $ppm")
    df.filter(pmod(md5Priority(col(idCol)), lit(1000000)) < ppm)
  }

  /** Domain-mixing stratified take: per-group deterministic bottom-k by md5
    * priority, where k may vary per group via `kExpr` (derive it from target
    * mixture weights — "keep 5% of web, 40% of code, all of books"). One
    * hash shuffle + per-group sort (window per partition key); priorities
    * make the take reproducible, partitioning-independent, and nested
    * (raising a group's k only ADDS documents — crucial for reproducible
    * mixture ablations over the same corpus). */
  def stratifiedTake(df: DataFrame, groupCol: String, idCol: String,
                     kExpr: Column): DataFrame = {
    requireFresh("stratifiedTake", df, "rn")
    val w = Window.partitionBy(groupCol).orderBy(md5Priority(col(idCol)), col(idCol))
    df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= kExpr)
      .drop("rn")
  }

  /** Weighted (probability-proportional-to-size) sample of k rows:
    * sequential Poisson sampling (Ohlsson 1998) — order by u/w with u the
    * md5-derived uniform and take the bottom k, giving inclusion
    * probability ∝ weight for small sampling fractions. Deliberately u/w
    * and NOT the exponential -ln(u)/w form: integer-to-double division is
    * bit-exact IEEE in every engine, so the selected set is reproducible
    * and oracle-checkable, where ln() differs in final ulps across libms.
    * Plans as TakeOrdered (per-partition partial top-k, no global sort
    * materialization) — scales to any corpus. */
  def ppsSample(df: DataFrame, idCol: String, weightCol: String, k: Int): DataFrame = {
    requireFresh("ppsSample", df, "__pr")
    // fail fast on w <= 0 (u/w would sort garbage first, silently): the
    // guard lives in the value path so pruning can't drop it
    val w = when(col(weightCol) > 0, col(weightCol).cast("double"))
      .otherwise(raise_error(concat(lit(s"ppsSample: non-positive weight in $weightCol: "),
        col(weightCol).cast("string"))))
    df.withColumn("__pr", md5Priority(col(idCol)).cast("double") / w)
      .orderBy(col("__pr"), col(idCol))
      .limit(k)
      .drop("__pr")
  }

  /** Budgeted per-group take: walk each group's rows in deterministic
    * md5-priority order and keep rows while the running `weightCol` total
    * stays within `budget` (inclusive) — the token-budget form of domain
    * mixing ("up to N tokens per source"), where [[stratifiedTake]] counts
    * documents. Reproducible (hash order), nested (a smaller budget's
    * selection is a prefix of a larger one's), and oracle-expressible
    * (exact integer cumsum, no sampling randomness).
    *
    * Scale shape: one hash shuffle on `groupCol` + a per-group sort for
    * the running sum — the standard windowed-cumsum plan. Skew follows
    * group size; at 100 TB keep groups domain-sized (the mixing use case)
    * rather than corpus-sized. */
  def budgetedTakePerGroup(df: DataFrame, groupCol: String, idCol: String,
                           weightCol: String, budget: Long): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    requireFresh("budgetedTakePerGroup", df, "cum_w")
    // fail fast on w <= 0 (the ppsSample guard): a zero/negative weight
    // makes the running total non-monotone, so the selection would no
    // longer be a prefix of the priority order and the documented
    // nesting property (smaller budget => prefix of larger) breaks
    val wgt = when(col(weightCol) > 0, col(weightCol))
      .otherwise(raise_error(concat(
        lit(s"budgetedTakePerGroup: non-positive weight in $weightCol: "),
        col(weightCol).cast("string"))))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(md5Priority(col(idCol)), col(idCol))
    df.withColumn("cum_w", sum(wgt).over(w))
      .filter(col("cum_w") <= budget)
  }

  /** Temperature-smoothed mixture targets (the multilingual "alpha
    * sampling" of mC4/XLM-R at T = 2, i.e. alpha = 1/2): allocate a
    * document `budget` across groups proportionally to sqrt(group size)
    * instead of size, upsampling rare domains relative to proportional
    * allocation while never exceeding a group's actual count. Output:
    * (groupCol, n_docs, w, target).
    *
    * alpha = 1/2 specifically because it is EXACT across engines: IEEE
    * sqrt is correctly rounded (pow/ln are not), and sqrt of a long below
    * 2^52 floors to the exact integer root, so `w = floor(sqrt(n))` and
    * everything downstream is order-independent long arithmetic — the
    * allocation is bit-reproducible and oracle-checkable. For other
    * temperatures, precompute a weight column and use [[stratifiedTake]];
    * the take stays exact, only the target derivation inherits pow's
    * last-ulp engine variance. Keeps `budget * w` within long range —
    * fine for any budget up to ~2^62 / sqrt(largest group).
    *
    * Scale shape: one map-side-combined count per group (output is
    * domain-cardinality-sized, i.e. tiny), a one-row total broadcast back
    * — the corpus itself is never touched here. */
  def temperatureTargets(df: DataFrame, groupCol: String, budget: Long): DataFrame = {
    require(budget >= 0, s"temperatureTargets: budget must be >= 0, got $budget")
    require(!Seq("n_docs", "w", "target", "sum_w").contains(groupCol),
      s"temperatureTargets: group column '$groupCol' collides with an output column")
    val counts = df.groupBy(groupCol).agg(count(lit(1)).as("n_docs"))
      .withColumn("w", floor(sqrt(col("n_docs"))).cast("long"))
    val tot = counts.agg(sum("w").as("sum_w"))
    counts.crossJoin(broadcast(tot))
      .select(col(groupCol), col("n_docs"), col("w"),
        least(col("n_docs"), expr(s"(${budget}L * w) DIV sum_w")).as("target"))
  }

  /** Temperature-smoothed domain mix: [[temperatureTargets]] joined back
    * (broadcast — domain-cardinality rows) and taken per group with the
    * deterministic md5-priority [[stratifiedTake]]. Inherits its nesting:
    * a smaller budget's selection is a subset of a larger one's (targets
    * are monotone in budget, the per-group priority order is fixed), so
    * mixture ablations stay comparable across budgets. */
  def temperatureMix(df: DataFrame, groupCol: String, idCol: String,
                     budget: Long): DataFrame = {
    requireFresh("temperatureMix", df, "target")
    val t = temperatureTargets(df, groupCol, budget).select(col(groupCol), col("target"))
    stratifiedTake(df.join(broadcast(t), Seq(groupCol)), groupCol, idCol,
      col("target")).drop("target")
  }

  /** Deterministic train/val/test split: hash-range assignment adds a
    * `split` column. Stable across runs/partitionings, disjoint and
    * exhaustive, and stable under corpus growth (a row's split never
    * changes when other rows are added) — the property random splits
    * lack. Weights are percentages summing to 100. A null id is REFUSED
    * (fused into the bucket expression, the ppsSample pattern): its
    * md5 bucket would be NULL, so every when() clause misses and the row
    * gets split = NULL — silently breaking disjoint-and-exhaustive and
    * vanishing from every filter(split === ...). */
  def splitByHash(df: DataFrame, idCol: String, splits: Seq[(String, Int)]): DataFrame = {
    require(splits.map(_._2).sum == 100, "split weights must sum to 100")
    requireFresh("splitByHash", df, "split")
    val id = when(col(idCol).isNotNull, col(idCol))
      .otherwise(raise_error(lit(
        s"splitByHash: null id in $idCol — the split would be NULL, " +
          "breaking the disjoint-and-exhaustive contract")))
    val bucket = pmod(md5Priority(id), lit(100))
    val expr = splits.tail.foldLeft((when(bucket < splits.head._2, splits.head._1),
      splits.head._2)) { case ((acc, cum), (name, w)) =>
      (acc.when(bucket < cum + w, name), cum + w)
    }._1
    df.withColumn("split", expr)
  }

  /** Deterministic SHARDED training order — the export step between
    * curation and the trainer: shard = md5 bucket of the id, ord = rank of
    * the md5 priority WITHIN the shard. Together they give a reproducible
    * global shuffle (adjacent source documents scatter across shards and
    * positions, so no same-domain runs reach the optimizer) that any
    * engine can replay bit-identically — rerunning the export after a
    * crash yields byte-identical shards.
    *
    * Scale shape: the rank window partitions BY SHARD, so each shard
    * sorts independently (max task = corpus/shards rows) — never a global
    * order-by; writers then emit one file per shard. */
  def trainOrder(df: DataFrame, idCol: String, shards: Int): DataFrame = {
    require(shards >= 1, s"shards must be >= 1, got $shards")
    requireFresh("trainOrder", df, "shard", "ord")
    val pri = md5Priority(col(idCol))
    val w = Window.partitionBy(col("shard")).orderBy(pri, col(idCol))
    df.withColumn("shard", pmod(pri, lit(shards)).cast("int"))
      .withColumn("ord", row_number().over(w).cast("long"))
  }

  /** Leakage-FREE train/val/test split: every near-dup CLUSTER lands
    * wholly in one split. `clusters` is a (doc_id, cluster) frame
    * ([[DupClusters.clusters]]); the split decision hashes the cluster
    * REPRESENTATIVE (a doc outside any cluster represents itself), so two
    * near-duplicate documents can never straddle train/test — the
    * structural prevention of the leakage [[Decontaminate.splitLeakage]]-
    * style audits only detect after the fact.
    *
    * Scale shape: one equi left join against the cluster map (|clustered
    * docs| rows — a small fraction of the corpus; AQE broadcasts it when
    * it fits) plus the same stateless md5-bucket projection as
    * [[splitByHash]]. Output: input columns + split. */
  def splitByCluster(df: DataFrame, clusters: DataFrame, idCol: String,
                     splits: Seq[(String, Int)]): DataFrame = {
    requireFresh("splitByCluster", df, "__cid", "__rep")
    val cl = clusters.select(col("doc_id").as("__cid"), col("cluster").as("__rep"))
    splitByHash(
      df.join(cl, col(idCol) === col("__cid"), "left")
        .withColumn("__rep", coalesce(col("__rep"), col(idCol)))
        .drop("__cid"),
      "__rep", splits)
      .drop("__rep")
  }
}
