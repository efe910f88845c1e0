package graft.storage

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.query.{Aggregates, QueryEngine}

/** Rollup (pre-aggregate) table builder (reference A1 — ingest-time rollup
  * arrays `_v_<aggr>[bucket]`, `pkg/aggregate/aggregate.go:188-264` +
  * `pkg/appender/store.go:323-401`).
  *
  * The reference stores per-partition arrays of partial aggregates per
  * series at `rollupTime` granularity; here the same partials live in a
  * columnar rollup table keyed `(name, labels_str, bucket_start)` — the
  * classic materialized partial-aggregate view. [[QueryEngine.serverAggregate]]
  * merges these to any coarser step (A2), which at 100 TB turns a
  * full-raw-scan query into a scan of `span/rollupInterval` rows per series.
  *
  * Buckets are epoch-aligned (`floor(t/rollup)*rollup`) — equivalent to the
  * reference's partition-relative cells because its partitions are themselves
  * epoch-aligned multiples of the rollup interval (`partmgr.go:366-368`).
  */
object Rollup {

  /** All six raw partials — what `schema.NewSchema` defaults to materializing. */
  val DefaultAggregates: Seq[String] = Aggregates.RawAggregates

  /** Build a rollup table from a samples DataFrame
    * (`name, labels, time, value, ...`). One shuffle on (keys, bucket)
    * with map-side combine.
    *
    * @param keys grouping identity; default = full series
    *             (name, labels_str). Pre-aggregate cross-label tables (A7,
    *             reference `config.PreAggregate` + `appender.go:219-231`)
    *             pass name + a label SUBSET instead — the materialized
    *             GroupBy rollup the query planner matches against.
    */
  def build(samples: DataFrame, rollupIntervalMs: Long,
            aggregates: Seq[String] = DefaultAggregates,
            keys: Seq[(String, org.apache.spark.sql.Column)] = Nil): DataFrame = {
    val v = QueryEngine.cleanValue(col("value"))
    val bucket = (floor(col("time") / lit(rollupIntervalMs)).cast("long") * lit(rollupIntervalMs))
      .as("bucket_start")
    val withLs = graft.core.Labels.withLabelsStr(samples)
    val keyCols =
      if (keys.nonEmpty) keys.map { case (n, c) => c.as(n) }
      else Seq(col("name"), col("labels_str"))
    val partials = Aggregates.withCompanions(("count" +: aggregates).distinct)
    withLs
      .groupBy(keyCols :+ bucket: _*)
      .agg(
        Aggregates.partialExpr(partials.head, v, col("time")).as("__p_" + partials.head),
        partials.tail.map(f => Aggregates.partialExpr(f, v, col("time")).as("__p_" + f)): _*)
  }

  /** Key spec for a pre-aggregate (cross-label) rollup over a label subset. */
  def preAggKeys(labelSubset: Seq[String]): Seq[(String, org.apache.spark.sql.Column)] =
    ("name" -> col("name")) +: labelSubset.map(k => k -> col("labels").getItem(k))
}
