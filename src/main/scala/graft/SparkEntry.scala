package graft

import graft.queries.{Extensions, Parity}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full registered surface: the t2 parity set (SURVEY §2.3
  * Q1–Q22) plus the extension operators (§2.4 E1–E5). Every entry with a
  * DuckDB-expressible oracle also appears in `oracleSql` with matching
  * column names; approximate operators are rows-only by design.
  */
object SparkEntry {

  private val registry: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = {
    val r = Parity.all ++ Extensions.all
    val dups = r.groupBy(_._1).collect { case (n, xs) if xs.size > 1 => n }
    require(dups.isEmpty,
      s"duplicate query names would silently drop from the driver map: $dups")
    r
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val (_, fn, _) = registry.find(_._1 == "q13_join_agg").get
    fn(spark, "/root/testdata/sf0.001")
  }

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (n, fn, _) => n -> fn }.toMap

  /** For each key in `queries`, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for approximate (rows-only) ops. */
  def oracleSql: Map[String, String] =
    registry.collect { case (n, _, Some(sql)) => n -> sql }.toMap

  /** Exact-anchor → registered scale-twin pairings. The left side of each
    * pair is an EXACT form that is deliberately quadratic (all-pairs or
    * hot-key self-join) and exists as driver-checkable ground truth; the
    * right side is the bucketed/sketched form that survives 100 TB and is
    * asserted result- or component-equal to its anchor in ScalaTest. A
    * user taking this library to production runs the twin, never the
    * anchor — and InvariantsSpec enforces that every anchor's twin is
    * actually registered, so no `weak-at-100x` plan can sit in `queries`
    * without its scale path beside it. */
  val scaleTwins: Map[String, String] = Map(
    "qe2_jaccard_pairs"        -> "qe2b_minhash_lsh",
    "qe7_embed_neardup"        -> "qe7b_embed_neardup_blocked",
    "qe13_dup_clusters"        -> "qe13b_fuzzy_dedup_e2e",
    "qe13b_fuzzy_dedup_e2e"    -> "qe13c_fuzzy_dedup_capped",
    "qe55_best_survivor"       -> "qe55b_best_survivor_lsh",
    "qe58_containment_pairs"   -> "qe58b_containment_sketch",
    "qe3_knn_brute"            -> "qe3c_knn_ivf",
    "qe3c_knn_ivf"             -> "qe3d_knn_ivf_frozen",
    // frozen IVF (raw-vector payload) → IVF-PQ (m-byte codes, the
    // memory-bounded form at 10⁹+ vectors)
    "qe3d_knn_ivf_frozen"      -> "qe3e_knn_ivfpq",
    "qe7c_semantic_dedup"      -> "qe7d_semantic_dedup_frozen",
    "qe57_lexical_diversity"   -> "qe57b_lexical_diversity_hll",
    // single-task global-window packer → sharded one-shuffle packer
    "qe11_seqpack"             -> "qe11b_seqpack_sharded",
    // exact in-memory benchmark join → bloom-filter scan predicate
    "qe12_decontaminate"       -> "qe12b_decon_bloom",
    // adaptive (self-fit) forms → frozen persisted-artifact apply forms
    "qe52_dup_spans"           -> "qe52b_dup_spans_frozen",
    "qe54_source_drift"        -> "qe54b_drift_cross_snapshot",
    "qe56b_cdc_dup_card"       -> "qe56c_cdc_dup_frozen")
}
