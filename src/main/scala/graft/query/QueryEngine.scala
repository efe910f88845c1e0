package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Labels

/** The TSDB query engine, Spark-first (reference `pkg/pquerier/select.go` +
  * `collector.go` — the whole select/collector pipeline re-expressed as
  * declarative DataFrame transformations so Catalyst does pruning, pushdown
  * and whole-stage codegen, and the shuffle on the grouping keys replaces
  * the reference's hash-partitioned collector goroutines, `select.go:395`).
  *
  * Input: a *samples* DataFrame with columns
  * `name: string, labels: map<string,string>, time: long (unix ms),
  *  value: double, valueStr: string` (SURVEY §1.6), and optionally
  * `labels_str: string`.
  *
  * Series identity: a frame's own `labels_str` is the series key. Every
  * [[graft.storage.TsdbTable]] raw read carries the one stored at write
  * time, the reference's stored `_lset` (`pkg/utils/labels.go:73-95`),
  * so the engine never serializes labels again. Only a frame without
  * the column ([[graft.core.Samples.fromEvents]], test fixtures) gets
  * it from [[Labels.canonical]], a per-row higher-order expression that
  * Spark runs interpreted. The `labels` map itself is read only where
  * something needs it: a `groupBy` label, a filter that names it, or
  * [[labelValues]]. A TsdbTable raw read hands its label equalities to
  * the scan instead, so serving them decodes no map.
  *
  * Output: wide frames — grouping key columns + `t` (bucket unix ms) + one
  * double column per requested aggregate (the reference's FrameSet,
  * `pkg/pquerier/frames.go:646-661`); [[toSeriesSet]] melts to the long
  * Prometheus SeriesSet shape (`pkg/pquerier/series.go:33-50`).
  *
  * Result stage: every path returns its rows through [[ordered]] — the
  * result is coalesced into ONE partition and sorted there, the
  * reference's single series-key-ordered collector
  * (`pkg/querier/multipart.go:29-68`). The coalesce adds no exchange: a
  * select runs one job per exchange below it, plus the result job.
  *
  * Scale trade: where an exchange lies below the result (aggregation,
  * `distinct`), its map side keeps its parallelism, and the light work
  * after that exchange (final aggregation, `rate`'s window) runs in the
  * one result task. Where none lies below — a raw read — the scan and the
  * MOR merge run in that task too. [[downsample]] is the one path whose
  * heavy work follows its last exchange ([[resample]]'s windows); it
  * shuffles its rows into the result partition instead. A result too
  * large for one task to sort quickly sorts serially, with an external
  * sort that spills. A global range sort would instead sample its input
  * for range bounds first, evaluating the whole plan below it twice on
  * raw reads (scan and MOR merge included) at every result size.
  */
object QueryEngine {

  // ---------------------------------------------------------------- helpers

  /** The result stage of every query path: `result` coalesced into ONE
    * partition, sorted on `keys`. A one-partition child satisfies the sort
    * (and `rate`'s window) with no exchange: no job samples range bounds by
    * running the plan below a second time, and no shuffle, map-stage job
    * or adaptive re-plan moves the rows into that partition. The cost is
    * the coalesce's reach: everything after the last exchange below —
    * on a raw read, the scan and MOR merge themselves — runs in that one
    * task (the scale trade in the header); a caller whose heavy work
    * follows that exchange passes `result.repartition(1)`, which the
    * coalesce leaves as it is. Call it once per returned frame — a plain
    * `orderBy` over its output already plans no exchange. */
  private[graft] def ordered(result: DataFrame, keys: Column*): DataFrame =
    result.coalesce(1).orderBy(keys: _*)

  /** NaN/±Inf are "undefined" and are skipped by all aggregates
    * (reference `pkg/utils/misc.go:31-37`, `aggregate/functions.go:85-98`);
    * NULL gets the identical skip from Spark's aggregates. */
  def cleanValue(v: Column): Column =
    when(isnan(v) || v === Double.PositiveInfinity || v === Double.NegativeInfinity, lit(null).cast("double"))
      .otherwise(v)

  /** Tumbling bucket start: `from + floor((t-from)/step)*step` — the
    * reference's `getRelativeCell(roundUp=false)` (`collector.go:383-391`)
    * mapped back to a timestamp. Valid for `t >= from`. */
  def bucketExpr(time: Column, from: Long, step: Long): Column =
    (lit(from) + floor((time - lit(from)) / lit(step)).cast("long") * lit(step))

  /** Apply name/filter/time predicates and key the rows by `labels_str`
    * ([[Labels.withLabelsStr]]). Predicates are plain Catalyst filters → pushed
    * to the source scan (reference P1-P4, `select.go:572-606`). Nothing
    * here reads `labels` unless `p.filter` names it, so over a frame
    * with a stored `labels_str` column pruning drops the map from the
    * scan. */
  private def prepare(samples: DataFrame, p: SelectParams, loMs: Long, hiMs: Long): DataFrame = {
    var df = samples
    if (p.name.nonEmpty) df = df.filter(col("name") === p.name)
    if (p.filter.nonEmpty) df = df.filter(expr(p.filter))
    Labels.withLabelsStr(df.filter(col("time").between(loMs, hiMs)))
  }

  /** Grouping key columns for the query (reference frame hash:
    * labels | groupBy labels | 0 for cross-series — `select.go:354-371`).
    * A series missing a GroupBy label is an error, as in the reference
    * (`select.go:358-363`) — surfaced at execution via raise_error. */
  def groupKeys(p: SelectParams): Seq[(String, Column)] =
    if (p.isCrossSeries) Seq("name" -> col("name"))
    else if (p.groupByLabels.nonEmpty)
      ("name" -> col("name")) +: p.groupByLabels.map(k => k ->
        coalesce(col("labels").getItem(k),
          raise_error(concat(lit(s"series missing groupBy label '$k': "), col("labels_str")))))
    else Seq("name" -> col("name"), "labels_str" -> col("labels_str"))

  // ------------------------------------------------------------------ entry

  /** Main select path (reference `QuerierV2.Select`, `pquerier/querier.go:60-137`). */
  def select(samples: DataFrame, p: SelectParams): DataFrame = {
    if (p.isMultiMetricAggregate)
      return multiAggregate(samples, p)
    val fns = p.baseFunctions
    if (fns.isEmpty && (p.windows.nonEmpty || p.aggregationWindow > 0))
      throw new IllegalArgumentException(
        "overlapping/aggregation windows require aggregate functions")
    val out =
      if (fns.isEmpty && p.step > 0)
        downsample(samples, p)
      else if (fns.isEmpty)
        raw(samples, p)
      else if (p.windows.nonEmpty)
        overlappingWindows(samples, p, fns)
      else if (p.isCrossSeries)
        crossSeries(samples, p, fns)
      else if (p.aggregationWindow > 0)
        slidingAggregate(samples, p, fns)
      else
        clientAggregate(samples, p, fns)
    applyAliases(out, p)
  }

  /** Requested-column aliases (P5, types.go:56-108): aggregate columns
    * rename by function; an interp-only column renames the downsample value
    * column. Applied by every serving path (raw and rollup) so the output
    * schema never depends on the planner's choice. */
  def applyAliases(out: DataFrame, p: SelectParams): DataFrame = {
    val withFn = p.requestedColumns
      .filter(c => c.alias.nonEmpty && c.function.nonEmpty)
      .foldLeft(out)((d, c) =>
        d.withColumnRenamed(SelectParams.stripAll(c.function.toLowerCase), c.alias))
    p.requestedColumns.filter(c => c.alias.nonEmpty && c.function.isEmpty) match {
      case Seq(only) if withFn.columns.contains("v") => withFn.withColumnRenamed("v", only.alias)
      case many if many.size > 1 =>
        // the long frame has a single value column `v`; silently dropping
        // all but one alias would lie about the output schema (mirrors the
        // TsdbSql multi-metric-aggregate rejection)
        throw new IllegalArgumentException(
          s"cannot alias multiple raw/interpolated columns in one query " +
            s"(got: ${many.map(c => s"${c.metric} as ${c.alias}").mkString(", ")}); " +
            "the long-format result has a single value column")
      case _ => withFn
    }
  }

  /** Multi-metric aggregate select list, e.g.
    * `select avg(cpu), sum(mem) from tsdb` — one output column per
    * metric×function named `fn(metric)` (or the alias), aligned on the
    * time index per label set: the reference FrameSet's multi-metric frame
    * (`columnMeta.getColumnName`, `types.go:99`; `frames.go:255-275`).
    *
    * Plan shape: each metric's aggregation runs through the normal
    * single-metric path (so the rollup planner, cross-series resampling,
    * sliding windows and per-metric interpolators all apply), results melt
    * to `(keys, t, column, value)` and ONE pivot shuffle on `(keys, t)`
    * aligns them — k metrics cost k parallel aggregations + one merge, not
    * k-1 pairwise joins. */
  private[query] def multiAggregate(samples: DataFrame, p0: SelectParams): DataFrame = {
    val p = inheritMetric(p0)
    if (canFuseMultiAggregate(p)) multiAggregateFused(samples, p)
    else multiAggregateVia(p, sub => select(samples, sub))
  }

  /** Requested columns with an empty metric take `p.name`, as
    * [[RequestedColumn]] documents — both multi-metric paths see the same
    * metric list. */
  private def inheritMetric(p: SelectParams): SelectParams =
    p.copy(requestedColumns = p.requestedColumns.map(c =>
      if (c.metric.isEmpty) c.copy(metric = p.name) else c))

  /** The raw-samples multi-metric path can fuse (r16) when every
    * per-metric sub-query would take the plain tumbling-bucket
    * [[clientAggregate]] shape: same grid, same filters, only the name
    * predicate differs. Rollup-serving callers ([[graft.storage.TsdbTable]])
    * keep [[multiAggregateVia]] — their per-metric planner choice is the
    * point. A column with no metric at all (and no `p.name` to inherit)
    * keeps the via path, whose sub-query then filters no name. */
  private def canFuseMultiAggregate(p: SelectParams): Boolean =
    !p.isCrossSeries && p.windows.isEmpty && p.aggregationWindow <= 0 &&
      p.requestedColumns.forall(c => c.metric.nonEmpty &&
        Aggregates.All.contains(SelectParams.stripAll(c.function.toLowerCase)))

  /** [[multiAggregate]] in ONE scan + ONE shuffle (guide §2.3/§2.4):
    * instead of k per-metric aggregation sub-plans (k scans of the
    * sample source) melted and re-shuffled through a pivot on
    * `(keys, t)`, aggregate once over `name IN (metrics)` grouped by
    * `(keys, t)` with per-metric CONDITIONAL partials
    * (`when(name = m, v)` — rows of other metrics contribute NULL, which
    * every partial skips). Row set is identical: a `(keys, t)` pivot row
    * exists iff any selected metric has a sample there, which is exactly
    * when the fused group exists; per-metric NULLs match because
    * [[Aggregates.finalExpr]]'s `count > 0` gate nulls a metric with no
    * rows in the group — precisely the pivot's missing-row NULL. `rate`'s
    * adjacent-bucket lag is unchanged by the extra rows other metrics
    * contribute: every bucket sits on the shared `from + k*step` grid, so
    * the lagged row either IS the metric's previous grid bucket or has a
    * NULL `last` partial, and both finalize exactly as the unfused lag. */
  private def multiAggregateFused(samples: DataFrame, p: SelectParams): DataFrame = {
    val cols = p.requestedColumns
    def outName(c: RequestedColumn): String =
      if (c.alias.nonEmpty) c.alias
      else s"${SelectParams.stripAll(c.function.toLowerCase)}(${c.metric})"
    val outNames = cols.map(outName)
    require(outNames.distinct.size == outNames.size,
      s"duplicate output columns in select list: ${outNames.mkString(", ")}")
    val step = p.effectiveStep
    val metrics = cols.map(_.metric).distinct
    val df = prepare(samples.filter(col("name").isin(metrics: _*)), p.copy(name = ""),
      p.from, p.to)
    // the non-cross group keys MINUS the constant-per-metric name column
    // (the melted path's pivot never keyed on name either)
    val keyCols: Seq[(String, Column)] =
      if (p.groupByLabels.nonEmpty) p.groupByLabels.map(k => k ->
        coalesce(col("labels").getItem(k),
          raise_error(concat(lit(s"series missing groupBy label '$k': "), col("labels_str")))))
      else Seq("labels_str" -> col("labels_str"))
    val keyNames = keyCols.map(_._1)
    val bucket = bucketExpr(col("time"), p.from, step).as("t")
    val byMetric = cols.groupBy(_.metric).toSeq
    val mi = byMetric.map(_._1).zipWithIndex.toMap
    val aggExprs = byMetric.flatMap { case (metric, mcols) =>
      val v = cleanValue(when(col("name") === metric, col("value")))
      val fns = mcols.map(c => SelectParams.stripAll(c.function.toLowerCase))
      Aggregates.requiredPartials(fns).map(f =>
        Aggregates.partialExpr(f, v, col("time")).as(s"__p_${mi(metric)}_$f"))
    }
    val grouped = df
      .groupBy(keyCols.map { case (n, c) => c.as(n) } :+ bucket: _*)
      .agg(aggExprs.head, aggExprs.tail: _*)
    val outCols = cols.map { c =>
      val partial: String => Column = f => col(s"__p_${mi(c.metric)}_$f")
      val fin = SelectParams.stripAll(c.function.toLowerCase) match {
        case "rate" => rate(partial("last"), keyNames, step)
        case f => Aggregates.finalExpr(f, partial)
      }
      fin.as(outName(c))
    }
    finish(grouped, keyNames, outCols)
  }

  /** [[multiAggregate]] with the per-metric sub-query pluggable:
    * [[graft.storage.TsdbTable.select]] passes its own planner so each
    * metric independently gets the rollup fast path when its aggregates
    * are covered (safe to mix plans here, unlike the reference's
    * forceRawQuery, because both paths emit the same `from + k*step` grid
    * timestamps and exact partial algebra). */
  def multiAggregateVia(p0: SelectParams, runSub: SelectParams => DataFrame): DataFrame = {
    val p = inheritMetric(p0)
    val cols = p.requestedColumns
    if (cols.exists(_.function.isEmpty))
      throw new IllegalArgumentException(
        "cannot mix aggregated and raw columns in a multi-metric select list")
    if (p.windows.nonEmpty)
      throw new IllegalArgumentException(
        "overlapping windows do not support multi-metric select lists")
    val cross = p.isCrossSeries // also rejects mixing _all and plain (select.go:427-443)
    def outName(c: RequestedColumn): String =
      if (c.alias.nonEmpty) c.alias
      else s"${SelectParams.stripAll(c.function.toLowerCase)}(${c.metric})"
    val outNames = cols.map(outName)
    require(outNames.distinct.size == outNames.size,
      s"duplicate output columns in select list: ${outNames.mkString(", ")}")
    val keyNames: Seq[String] =
      if (cross) Nil
      else if (p.groupByLabels.nonEmpty) p.groupByLabels
      else Seq("labels_str")
    val melted = cols.groupBy(_.metric).toSeq.map { case (metric, mcols) =>
      val sub = p.copy(name = metric, functions = mcols.map(_.function).mkString(","),
        requestedColumns = mcols.map(_.copy(alias = "")))
      val entries = mcols.flatMap(c => Seq(lit(outName(c)),
        col(SelectParams.stripAll(c.function.toLowerCase))))
      runSub(sub)
        .select(keyNames.map(col) :+ col("t") :+
          explode(map(entries: _*)).as(Seq("__c", "__v")): _*)
    }.reduce(_.unionByName(_))
    ordered(melted
      .groupBy(keyNames.map(col) :+ col("t"): _*)
      .pivot("__c", outNames) // fixed value list: no pivot-values scan
      .agg(first(col("__v"))),
      keyNames.map(col) :+ col("t"): _*)
  }

  /** Per-metric (interpolator, tolerance) specs for the resample paths.
    *
    * An EXPLICIT requested column with an empty interpolator means 'none'
    * (unconditional next — reference `StrToInterpolateType("")`,
    * `interpolate.go:62`); the `next_val`-with-tolerance default only
    * applies to columns synthesized from the Name/Functions strings
    * (`querier.go:90`), i.e. when `requestedColumns` is empty and the
    * caller falls back to [[Interpolation.Default]]. */
  private def interpSpecs(p: SelectParams, stepMs: Long): Seq[(String, (String, Long))] =
    p.requestedColumns.map(c => c.metric -> ((
      if (c.interpolator.isEmpty) "none" else c.interpolator,
      if (c.tolerance > 0) c.tolerance else Interpolation.defaultTolerance(stepMs))))

  // ------------------------------------------------------------------- raw

  /** Raw range query (reference S1, `select.go:572-606` + RawSeries):
    * `(name, labels_str, t, v[, vstr])` time-ordered per series. */
  def raw(samples: DataFrame, p: SelectParams): DataFrame = {
    val df = prepare(samples, p, p.from, p.to)
    ordered(df.select(col("name"), col("labels_str"), col("time").as("t"),
        col("value").as("v"), col("valueStr").as("vstr")),
      col("name"), col("labels_str"), col("t"))
  }

  // ----------------------------------------------------- client aggregation

  /** Tumbling-window aggregation from raw samples (reference A3
    * `aggregateClientAggregates` + `intervalAggregation`,
    * `collector.go:171-185,340-344`): one hash-aggregate shuffle on
    * (series, bucket) with map-side combine — Catalyst's partial→final
    * mirrors the reference's cell accumulation. */
  def clientAggregate(samples: DataFrame, p: SelectParams, fns: Seq[String]): DataFrame = {
    val step = p.effectiveStep
    val df = prepare(samples, p, p.from, p.to)
    val keys = groupKeys(p)
    val bucket = bucketExpr(col("time"), p.from, step).as("t")
    aggregateBuckets(df, keys, bucket, fns, step)
  }

  /** Shared groupBy→partials→finalize pipeline. `bucket` must evaluate to
    * the bucket start time in ms aliased `t`. */
  private[query] def aggregateBuckets(
      df: DataFrame,
      keys: Seq[(String, Column)],
      bucket: Column,
      fns: Seq[String],
      step: Long): DataFrame = {
    val v = cleanValue(col("value"))
    val partials = Aggregates.requiredPartials(fns) // rate → last via dependencies()
    val keyCols = keys.map { case (n, c) => c.as(n) }
    val grouped = df
      .groupBy((keyCols :+ bucket): _*)
      .agg(
        Aggregates.partialExpr(partials.head, v, col("time")).as("__p_" + partials.head),
        partials.tail.map(f => Aggregates.partialExpr(f, v, col("time")).as("__p_" + f)): _*)
    finalizeAggregates(grouped, keys.map(_._1), fns, step)
  }

  /** Finalize requested aggregates from `__p_*` partial columns; `rate`
    * needs the previous ADJACENT bucket's `last` (reference
    * `Set.GetCellValue` aggrTypeRate, `aggregate/iterator.go:327-334`:
    * `(last[c]-last[c-1]) / (interval/1000)`, undefined at cell 0 or when
    * either cell's last is undefined — hence the `lag(t)==t-step` guard:
    * absent rows ARE empty cells). */
  private[query] def finalizeAggregates(
      grouped: DataFrame,
      keyNames: Seq[String],
      fns: Seq[String],
      step: Long): DataFrame = {
    val partial: String => Column = n => col("__p_" + n)
    val outCols = fns.map {
      case "rate" => rate(partial("last"), keyNames, step).as("rate")
      case f => Aggregates.finalExpr(f, partial).as(f)
    }
    finish(grouped, keyNames, outCols)
  }

  /** `rate` of a grid bucket from its `last` partial and the previous
    * bucket's, over a window per series (or group) ordered on `t`. */
  private def rate(last: Column, keyNames: Seq[String], step: Long): Column = {
    val w = Window.partitionBy(keyNames.map(col): _*).orderBy("t")
    val prevLast = lag(last, 1).over(w)
    val prevT = lag(col("t"), 1).over(w)
    val stepSec = step / 1000L // Go integer division, iterator.go:334
    // sub-second steps make stepSec 0 (the reference then emits ±Inf);
    // we treat the cell as undefined instead of tripping ANSI div-by-0
    val value =
      if (stepSec == 0) lit(null).cast("double")
      else (last - prevLast) / lit(stepSec.toDouble)
    when(prevT === col("t") - step && prevLast.isNotNull && last.isNotNull, value)
  }

  /** The finalized columns of grouped partials, in `(keys, t)` order. The
    * result stage sits BELOW the projection, so a `rate` window runs in
    * its one partition: one partition already satisfies the window's key
    * clustering, and rows sorted on `(keys, t)` its ordering, so the
    * window plans no exchange or sort of its own and keeps the order. */
  private def finish(grouped: DataFrame, keyNames: Seq[String], outCols: Seq[Column]): DataFrame = {
    val keys = keyNames.map(col) :+ col("t")
    ordered(grouped, keys: _*).select(keys ++ outCols: _*)
  }

  // ------------------------------------------------- sliding window (W2)

  /** Sliding-window aggregation (reference `windowAggregation`,
    * `collector.go:345-364`): cells sit on the step grid, rounded UP; a
    * sample at `t` feeds every cell `c` with `t <= c <= t+w`, i.e. cell `c`
    * aggregates samples in `[c-w, c]`. Implemented by exploding each sample
    * into its covering cells (w/step row amplification — exactly the
    * reference's work) then one hash aggregate. */
  def slidingAggregate(samples: DataFrame, p: SelectParams, fns: Seq[String]): DataFrame = {
    val step = p.effectiveStep
    val w = p.aggregationWindow
    // samples below `from` still feed cells >= from (partition range is
    // widened by the window — reference `querier.go:195`)
    val df = prepare(samples, p, p.from - w, p.to)
    val maxK = (p.to - p.from) / step
    val kMin = greatest(ceil((col("time") - p.from) / lit(step.toDouble)).cast("long"), lit(0L))
    val kMax = least(floor((col("time") + w - p.from) / lit(step.toDouble)).cast("long"), lit(maxK))
    // clamped start can exceed the clamped stop (sample near `to` whose
    // first covering cell is past the grid) — Spark's sequence would then
    // count DOWN; emit no cells instead
    val exploded = df
      .withColumn("__k",
        explode(when(kMin <= kMax, sequence(kMin, kMax))
          .otherwise(array().cast("array<bigint>"))))
    val keys = groupKeys(p)
    val bucket = (lit(p.from) + col("__k") * step).as("t")
    aggregateBuckets(exploded, keys, bucket, fns, step)
  }

  // --------------------------------------------- overlapping windows (W3)

  /** Overlapping windows (reference `chunks2WindowedAggregates`,
    * `pkg/querier/seriesset.go:186-218`): windows are MULTIPLES of step,
    * all ending at `maxAligned = floor(to/step)*step`; window `k` covers
    * `maxAligned - k*step < t < maxAligned` (both bounds strict) and is
    * emitted at `t = maxAligned - k*step` (`Set.GetCellTime`,
    * `aggregate/iterator.go:341-351`). One scan, explode into the covering
    * windows, one aggregate. */
  def overlappingWindows(samples: DataFrame, p: SelectParams, fns: Seq[String]): DataFrame = {
    val step = p.effectiveStep
    val maxAligned = (p.to / step) * step
    val wins = p.windows.sorted
    val df = prepare(samples, p, maxAligned - wins.max * step, maxAligned)
      .filter(col("time") < maxAligned)
    val winArr = array(wins.map(lit): _*)
    val exploded = df
      .withColumn("__win", explode(filter(winArr, w => col("time") > lit(maxAligned) - w * lit(step))))
    val keys = groupKeys(p)
    val bucket = (lit(maxAligned) - col("__win") * step).as("t")
    // rate across overlapping windows is meaningless (cells are not a time
    // series); the reference only defines it on the tumbling grid.
    // Ordered on (keys, win) by the aggregate's result stage: its
    // (keys, win, t) order is the same, as `t` is a function of `win`.
    aggregateBuckets(exploded, keys :+ ("win" -> col("__win")), bucket, fns, step)
      .select((keys.map(_._1).map(col) :+ col("win") :+ col("t")) ++ fns.map(col): _*)
  }

  // --------------------------------------------------- downsample (W5/J3)

  /** Downsample raw values onto the grid `{from + k*step}` with
    * interpolation (reference `downsampleRawData`, `collector.go:236-281`).
    * Per grid cell: exact sample wins; else interpolate between `prev`
    * (last sample `< tc`) and `next` (first sample `>= tc`); no `next` →
    * cell unset. The reference's cross-partition seam carry
    * (`previousPartitionLastTime`) vanishes here: one table, one ordered
    * window per series. */
  def downsample(samples: DataFrame, p: SelectParams): DataFrame = {
    // per-metric interpolator specs (a multi-metric list may mix them;
    // applying the first column's spec to every metric would silently
    // mis-interpolate the rest)
    val specs: Seq[(String, (String, Long))] = interpSpecs(p, p.step)
    val distinctSpecs = specs.map(_._2).distinct
    // prev/linear interpolation may take a donor sample just before `from`
    // (the reference's PeakBack reaches earlier samples in the loaded
    // chunk, collector.go:257-263); donors are only relevant within the
    // tolerance, so widen the range by the largest requested tolerance
    val maxTol = (Interpolation.defaultTolerance(p.step) +: specs.map(_._2._2)).max
    val df = prepare(samples, p, p.from - maxTol, p.to)
    val out =
      if (distinctSpecs.size <= 1) {
        val (interp, tol) = distinctSpecs.headOption
          .getOrElse((Interpolation.Default, Interpolation.defaultTolerance(p.step)))
        resample(df, Seq("name", "labels_str"), p.from, p.to, p.step, interp, tol)
      } else {
        specs.map { case (metric, (interp, tol)) =>
          resample(df.filter(col("name") === metric),
            Seq("name", "labels_str"), p.from, p.to, p.step, interp, tol)
        }.reduce(_.unionByName(_))
      }
    // the resample windows are the heavy work and follow its series-keyed
    // exchange: a coalesce onto them would run them all in the result
    // task, so the rows move there through a one-partition shuffle
    ordered(out.repartition(1), col("name"), col("labels_str"), col("t"))
  }

  /** Grid resample of each series — shared by downsample (W5) and
    * cross-series (A5). Output: keyCols + `t` + `v` (defined cells only).
    *
    * Mechanics: union raw points with grid markers, then two ordered
    * window passes per series give prev/next neighbors (the as-of join of
    * SURVEY J3). Grid rows order BEFORE same-time samples so `next`
    * captures an exact-time match (the reference's `Seek` lands on
    * `t == tc`, `collector.go:248`). NaN sample values flow through —
    * they are real stored points in the reference. */
  def resample(
      df: DataFrame,
      keyCols: Seq[String],
      from: Long, to: Long, step: Long,
      interp: String, tolMs: Long): DataFrame = {
    val keys = keyCols.map(col)
    val grid = df.select(keys: _*).distinct()
      .withColumn("time", explode(sequence(lit(from), lit(to), lit(step))))
      .withColumn("__v", lit(null).cast("double"))
      .withColumn("__isPoint", lit(0))
    val pts = df.select(keys :+ col("time") :+ col("value").as("__v"): _*)
      .withColumn("__isPoint", lit(1))
    // Explicit series-keyed repartition ahead of the window passes (r15,
    // guide §2.5): the interpolation windows are COMPUTE-heavy per byte
    // (two ordered passes of interpreted struct/when expressions —
    // WindowExec does not codegen), and AQE's byte-based coalescing
    // folded the tiny shuffle into 1-4 partitions, serializing ~2 s of
    // window CPU on a 32-core driver (profiled: 7 tasks total). A
    // user-specified partition count is exempt from AQE coalescing, and
    // the window's required ClusteredDistribution(keys) is satisfied by
    // it, so no second exchange appears. Scale note: parallelism-floored
    // at the configured shuffle partitions, so a production session that
    // sizes shuffle.partitions for its data keeps its setting.
    val nPart = graft.core.SparkTuning.windowPartitions(df.sparkSession)
    val u = grid.unionByName(pts).repartition(nPart, keys: _*)

    val ord = Window.partitionBy(keys: _*).orderBy(col("time"), col("__isPoint"))
    val prevW = ord.rowsBetween(Window.unboundedPreceding, -1)
    val nextW = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    // pack (t,v) so ignoreNulls tracks the sample row, not a non-null value
    val pt = when(col("__isPoint") === 1, struct(col("time").as("t"), col("__v").as("v")))
    val withNb = u
      .withColumn("__prev", last(pt, ignoreNulls = true).over(prevW))
      .withColumn("__next", first(pt, ignoreNulls = true).over(nextW))
      .filter(col("__isPoint") === 0)

    val tc = col("time")
    val prevT = col("__prev.t"); val prevV = col("__prev.v")
    val nextT = col("__next.t"); val nextV = col("__next.v")
    val value = when(nextT === tc, nextV)
      .otherwise(Interpolation.valueExpr(interp, tolMs, tc, prevT, prevV, nextT, nextV))
    withNb
      .select(keys :+ tc.as("t") :+ value.as("v"): _*)
      .filter(nextT.isNotNull && col("v").isNotNull)
  }

  // ------------------------------------------------- cross-series (A5)

  /** Cross-series (`_all`) aggregation (reference
    * `aggregateClientAggregatesCrossSeries`, `collector.go:283-338`):
    * resample EACH series to the bucket grid (same as-of/interpolation as
    * downsample, default `next_val` tol 2*step), then merge the resampled
    * cell values across series per bucket. Order matters — interpolate
    * first, aggregate second (SURVEY §7.5). */
  def crossSeries(samples: DataFrame, p: SelectParams, fns: Seq[String]): DataFrame = {
    val step = p.effectiveStep
    // per-metric interpolator specs, like downsample — the reference
    // resamples each metric's series with that column's interpolator
    // before merging (collector.go:283-338)
    val default = (Interpolation.Default, Interpolation.defaultTolerance(step))
    val specs: Seq[(String, (String, Long))] = interpSpecs(p, step)
    val maxTol = (default._2 +: specs.map(_._2._2)).max
    // widen for pre-`from` interpolation donors, as in downsample
    val df = prepare(samples, p, p.from - maxTol, p.to)
    val resampled = (if (specs.map(_._2).distinct.size <= 1) {
      val (interp, tol) = specs.headOption.map(_._2).getOrElse(default)
      resample(df, Seq("name", "labels_str"), p.from, p.to, step, interp, tol)
    } else
      specs.map { case (metric, (interp, tol)) =>
        resample(df.filter(col("name") === metric),
          Seq("name", "labels_str"), p.from, p.to, step, interp, tol)
      }.reduce(_.unionByName(_)))
      .withColumnRenamed("t", "time").withColumnRenamed("v", "value")
    val keys = groupKeys(p) // name only
    aggregateBuckets(resampled, keys, col("time").as("t"), fns, step)
  }

  // --------------------------------------------- server-side rollups (A2)

  /** Final aggregation from rollup partials (reference
    * `aggregateServerAggregates`, `collector.go:187-234`): each rollup cell
    * is re-bucketed into the step grid by its MEDIAN time
    * (`rollup_start + rollup/2`), partials merge (count/sum/sqr add,
    * min/max merge, last takes the latest rollup bucket's last —
    * `aggregate.go:317-361`), then the usual finalize.
    *
    * With `p.aggregationWindow` > 0 this is the SERVER-side sliding
    * window (reference `windowAggregationWithServerAggregates`,
    * `collector.go:366-381`): the median feeds every grid cell
    * `ceil((m-from)/step) .. floor((m+w-from)/step)` — the same coverage
    * rule as the raw path, applied to rollup cells, so a 100 TB sliding
    * window scans `span/rollupInterval` rows instead of every sample.
    *
    * `rollup`: output of [[graft.storage.Rollup]] — keys + `bucket_start`
    * + `__p_*` partial columns. At 100 TB this is THE fast path: the scan
    * touches `span/rollupInterval` pre-aggregated rows per series instead
    * of every raw sample. */
  def serverAggregate(
      rollup: DataFrame,
      p: SelectParams,
      fns: Seq[String],
      rollupIntervalMs: Long,
      keyNames: Seq[String] = Nil): DataFrame = {
    val step = p.effectiveStep
    val median = col("bucket_start") + lit(rollupIntervalMs / 2)
    val cell = floor((median - lit(p.from)) / lit(step.toDouble)).cast("long")
    val maxCell = (p.to - p.from) / step
    val keys: Seq[(String, Column)] =
      if (keyNames.nonEmpty) keyNames.map { k => // pre-agg table: keys materialized;
        // a NULL label key (series ingested without it) errors like the
        // raw path — plan choice must not change the answer
        if (k == "name") k -> col(k)
        else k -> coalesce(col(k),
          raise_error(lit(s"series missing groupBy label '$k' in pre-aggregate table")))
      }
      else if (p.groupByLabels.nonEmpty) // series rollup: parse labels_str on demand;
        // missing label errors like the raw path (plan choice must not
        // change the answer)
        ("name" -> col("name")) +: p.groupByLabels.map(k => k ->
          coalesce(Labels.parse(col("labels_str")).getItem(k),
            raise_error(concat(lit(s"series missing groupBy label '$k': "), col("labels_str")))))
      else Seq("name" -> col("name"), "labels_str" -> col("labels_str"))
    val keyCols = keys.map { case (n, c) => c.as(n) }
    var df = rollup
    if (df.columns.contains("labels_str") && !df.columns.contains("labels"))
      df = df.withColumn("labels", Labels.parse(col("labels_str"))) // for label filters
    if (p.name.nonEmpty) df = df.filter(col("name") === p.name)
    if (p.filter.nonEmpty) df = df.filter(expr(p.filter))
    // `last` merges by the true last-sample time when the rollup carries it
    // (within-bucket partial merges need it; legacy tables fall back to the
    // bucket time, which is correct across distinct buckets)
    val ord =
      if (df.columns.contains("__p_last_t")) col("__p_last_t") else col("bucket_start")
    val partials = Aggregates.withCompanions(Aggregates.requiredPartials(fns))
      .filter(f => f != "last_t" || df.columns.contains("__p_last_t"))
    val celled =
      if (p.aggregationWindow > 0) {
        // sliding: rollup cell feeds every covering grid cell (round-UP
        // current cell, inclusive to median + window — collector.go:366-381)
        val w = p.aggregationWindow
        val kMin = greatest(ceil((median - p.from) / lit(step.toDouble)).cast("long"), lit(0L))
        val kMax = least(floor((median + w - p.from) / lit(step.toDouble)).cast("long"), lit(maxCell))
        df.withColumn("__cell",
          explode(when(kMin <= kMax, sequence(kMin, kMax))
            .otherwise(array().cast("array<bigint>"))))
      } else df.withColumn("__cell", cell).filter(col("__cell").between(0, maxCell))
    val grouped = celled
      .withColumn("t", lit(p.from) + col("__cell") * step)
      .groupBy(keyCols :+ col("t"): _*)
      .agg(
        Aggregates.mergeExpr(partials.head, col("__p_" + partials.head), ord).as("__p_" + partials.head),
        partials.tail.map(f => Aggregates.mergeExpr(f, col("__p_" + f), ord).as("__p_" + f)): _*)
    applyAliases(finalizeAggregates(grouped, keys.map(_._1), fns, step), p)
  }

  // --------------------------------------------------------- emission

  /** Melt a wide aggregate frame into the long Prometheus SeriesSet shape:
    * one row per (series, aggregate, t) with the `Aggregate` label attached
    * (reference `pkg/pquerier/series.go:33-50`; `aggregate.AggregateLabel`).
    *
    * `aggregateLabel = false` is the Prometheus-compatibility emission
    * (reference `SelectProm` sets `showAggregateLabel` off,
    * `pquerier/querier.go:128-137`): the aggregate column is omitted, which
    * requires a single aggregate or the rows would be ambiguous.
    *
    * `wide` is a [[select]] result, already in one partition: the melt
    * keeps it there, so the sort below plans no exchange. */
  def toSeriesSet(wide: DataFrame, keyNames: Seq[String], fns: Seq[String],
                  aggregateLabel: Boolean = true): DataFrame = {
    if (!aggregateLabel)
      require(fns.size == 1,
        s"dropping the aggregate label needs exactly one aggregate, got ${fns.mkString(",")}")
    val entries = fns.flatMap(f => Seq(lit(f), col(f)))
    val long = wide
      .withColumn("__m", map(entries: _*))
      .select(keyNames.map(col) :+ explode(col("__m")).as(Seq("aggregate", "v")) :+ col("t"): _*)
      .filter(col("v").isNotNull)
    if (aggregateLabel)
      long.select(keyNames.map(col) ++ Seq(col("aggregate"), col("t"), col("v")): _*)
        .orderBy(keyNames.map(col) ++ Seq(col("aggregate"), col("t")): _*)
    else
      long.select(keyNames.map(col) ++ Seq(col("t"), col("v")): _*)
        .orderBy(keyNames.map(col) :+ col("t"): _*)
  }

  // ------------------------------------------------- multi-metric frames (J1)

  /** Multi-metric timeline alignment (reference J1,
    * `dataFrame.rawSeriesToColumns`, `pkg/pquerier/frames.go:479-642`): one
    * frame row per (label set, time) with a TYPED column per metric —
    * double for numeric metrics, string for variant ones (the reference's
    * mixed float/string frames, `frames.go:667-684` and the sparse/string
    * dataframe integration tests). The k-way merge onto one time index is
    * a single conditional aggregation — exactly what Spark lowers
    * `pivot(name, values)` to, generalized to per-metric value columns;
    * missing cells are NULL (the frame null mask). `metrics` fixes the
    * output column set and order up front (no pivot-values scan). */
  def frame(samples: DataFrame, p: SelectParams, metrics: Seq[String],
            variantMetrics: Seq[String] = Nil): DataFrame = {
    val all = metrics ++ variantMetrics
    require(all.nonEmpty, "frame() needs at least one metric column")
    val df = prepare(samples.filter(col("name").isin(all: _*)), p, p.from, p.to)
    val aggs = metrics.map(m => max(when(col("name") === m, col("value"))).as(m)) ++
      variantMetrics.map(m => max(when(col("name") === m, col("valueStr"))).as(m))
    ordered(df.groupBy(col("labels_str"), col("time").as("t"))
      .agg(aggs.head, aggs.tail: _*), col("labels_str"), col("t"))
  }

  // --------------------------------------------------------- metadata (S4/S5)

  /** Distinct metric names, sorted (reference `getMetricNames`,
    * `pquerier/querier.go:231-255`). */
  def names(samples: DataFrame): DataFrame =
    ordered(samples.select(col("name")).distinct(), col("name"))

  /** Distinct values of one label key (reference `getLabelValues`,
    * `querier.go:257-317`). */
  def labelValues(samples: DataFrame, key: String): DataFrame =
    ordered(samples.select(col("labels").getItem(key).as("value"))
      .filter(col("value").isNotNull).distinct(), col("value"))

  /** Distinct label sets per metric (reference `GetLabelSets`,
    * `querier.go:320-381`), keyed like [[select]] ([[Labels.withLabelsStr]]). */
  def labelSets(samples: DataFrame, metric: String = ""): DataFrame = {
    var df = samples
    if (metric.nonEmpty) df = df.filter(col("name") === metric)
    ordered(Labels.withLabelsStr(df).select(col("name"), col("labels_str"))
      .distinct(), col("name"), col("labels_str"))
  }
}
