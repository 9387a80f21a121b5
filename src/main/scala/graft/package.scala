/** graft — a Spark-native analytics engine with the query and
  * data-processing capabilities of the `alex-lt-kong/sensor-data-pipeline`
  * reference (SURVEY.md), extended with the operators a large-scale
  * training-data pipeline needs.
  *
  * Architecture (Spark-first, not a port):
  *  - Every operator is a declarative DataFrame/Column plan — Catalyst does
  *    pushdown/pruning/join-selection/AQE; plan properties are asserted in
  *    `queries/PlanSpec` so they cannot silently regress.
  *  - [[graft.queries.Parity]] / [[graft.queries.Extensions]] define the
  *    driver-facing query surface: each entry pairs a Spark builder with a
  *    DuckDB oracle under a strict determinism contract (total ORDER BY,
  *    binary-faithful `ScalarOps.r4` rounding, µs epoch arithmetic,
  *    BIGINT-matched casts).
  *  - [[graft.streaming]] re-expresses the reference's pipelines as
  *    batch==stream transforms: windowed aggs share one plan builder with
  *    the batch parity queries; stateful ops (latest-value, change
  *    detection + rate, staleness watchdog) run on flatMapGroupsWithState
  *    with proven batch/stream equivalence and checkpoint-restart
  *    continuity; the streaming dedup and packers use transformWithState.
  *  - [[graft.sources.MqttLikeProvider]] is a full DataSourceV2 micro-batch
  *    source (seq-dense offsets → exactly-once ranges) with the transport
  *    stubbed by a spool directory; sinks cover publish (ForeachWriter) and
  *    latest-value dashboards (foreachBatch).
  *  - Custom Catalyst surface: [[graft.functions.CosineSim]] (codegen'd
  *    fused kernel, 38x the interpreted HOF form) exposed as a Column
  *    function, a SQL function, and an optimizer rewrite rule via
  *    [[graft.plans.GraftExtensions]].
  *  - Scale paths are first-class: MinHash-LSH banding / SimHash /
  *    IVF / sign-LSH beside their exact ground-truth counterparts,
  *    salted joins for hot keys, deterministic hash sampling/splits,
  *    sequence packing — see README's 100 TB playbook.
  */
package object graft
