package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.query.{QueryEngine, SelectParams}

/** Engine semantics against hand-built golden expectations — mirrors the
  * intent of the reference integration suites
  * (`pkg/pquerier/pqueriertest/` integration tests), which ingest known
  * DataPoints and compare inline goldens. */
class QueryEngineSpec extends SparkSuite {
  import spark.implicits._

  private val Base = 1000000000L // aligned bucket origin

  /** (name, host-label, t, v) → samples frame. */
  private def samples(rows: (String, String, Long, Double)*): DataFrame =
    rows.toSeq.toDF("name", "host", "time", "value")
      .select(col("name"), map(lit("host"), col("host")).as("labels"),
        col("time"), col("value"), lit(null).cast("string").as("valueStr"))

  private def rowsOf(df: DataFrame): Seq[Row] = df.collect().toSeq

  test("client aggregation: buckets, count gating, time-ordered last (collector.go:171-185)") {
    val df = samples(
      ("cpu", "a", Base + 1, 10.0), ("cpu", "a", Base + 5, 20.0),
      ("cpu", "a", Base + 15, 5.0), // second bucket
      ("cpu", "b", Base + 2, 7.0))
    val out = QueryEngine.select(df, SelectParams(name = "cpu",
      functions = "count,sum,min,max,avg,last", from = Base, to = Base + 19, step = 10))
    val m = out.collect().map(r => (r.getString(1), r.getLong(2)) -> r).toMap
    val a0 = m(("host=a", Base))
    assert(a0.getDouble(3) == 2.0 && a0.getDouble(4) == 30.0) // count, sum
    assert(a0.getDouble(5) == 10.0 && a0.getDouble(6) == 20.0) // min, max
    assert(a0.getDouble(7) == 15.0 && a0.getDouble(8) == 20.0) // avg, last@t5
    val a1 = m(("host=a", Base + 10))
    assert(a1.getDouble(3) == 1.0 && a1.getDouble(8) == 5.0)
    assert(m(("host=b", Base)).getDouble(4) == 7.0)
    assert(out.count() == 3) // empty buckets are absent rows
  }

  test("series key: a frame's own labels_str is the key, read without the labels map; a frame without one serializes the map") {
    val df = samples(("cpu", "b", Base + 2, 2.0), ("cpu", "a", Base + 1, 1.0),
      ("cpu", "a", Base + 11, 3.0))
    // the stored key, on a frame that has no labels map at all
    val stored = df.withColumn("labels_str", concat(lit("host="), col("labels")("host")))
      .drop("labels")
    val p = SelectParams(name = "cpu", from = Base, to = Base + 19)
    val raw = Seq(Row("cpu", "host=a", Base + 1, 1.0, null),
      Row("cpu", "host=a", Base + 11, 3.0, null), Row("cpu", "host=b", Base + 2, 2.0, null))
    assert(rowsOf(QueryEngine.select(df, p)) == raw)
    assert(rowsOf(QueryEngine.select(stored, p)) == raw)
    val agg = p.copy(functions = "sum", step = 10)
    val sums = Seq(Row("cpu", "host=a", Base, 1.0), Row("cpu", "host=a", Base + 10, 3.0),
      Row("cpu", "host=b", Base, 2.0))
    assert(rowsOf(QueryEngine.select(df, agg)) == sums)
    assert(rowsOf(QueryEngine.select(stored, agg)) == sums)
    val sets = Seq(Row("cpu", "host=a"), Row("cpu", "host=b"))
    assert(rowsOf(QueryEngine.labelSets(df)) == sets)
    assert(rowsOf(QueryEngine.labelSets(stored)) == sets)
  }

  test("NaN samples are undefined: skipped by aggregates, gate count (misc.go:31-37)") {
    val df = samples(("cpu", "a", Base + 1, Double.NaN), ("cpu", "a", Base + 2, 4.0),
      ("cpu", "a", Base + 11, Double.NaN)) // bucket 1 all-NaN
    val out = QueryEngine.select(df, SelectParams(name = "cpu",
      functions = "count,sum,avg", from = Base, to = Base + 19, step = 10))
      .collect().map(r => r.getLong(2) -> r).toMap
    assert(out(Base).getDouble(3) == 1.0 && out(Base).getDouble(4) == 4.0)
    // all-NaN bucket: row exists (samples present) but every aggregate is
    // undefined → null (frame NaN mask, frames.go:418-443)
    assert(out(Base + 10).isNullAt(3) && out(Base + 10).isNullAt(4) && out(Base + 10).isNullAt(5))
  }

  test("stddev/stdvar sample formulas; n==1 undefined (iterator.go:319-326)") {
    val df = samples(("m", "a", Base + 1, 2.0), ("m", "a", Base + 2, 4.0),
      ("m", "a", Base + 3, 6.0), ("m", "b", Base + 1, 5.0))
    val out = QueryEngine.select(df, SelectParams(name = "m",
      functions = "stddev,stdvar", from = Base, to = Base + 9, step = 10))
      .collect().map(r => r.getString(1) -> r).toMap
    assert(math.abs(out("host=a").getDouble(3) - 2.0) < 1e-12) // stddev of 2,4,6
    assert(math.abs(out("host=a").getDouble(4) - 4.0) < 1e-12)
    assert(out("host=b").isNullAt(3) && out("host=b").isNullAt(4)) // n=1 → NaN→null
  }

  test("rate needs ADJACENT buckets (iterator.go:327-334)") {
    val df = samples(("m", "a", Base + 1, 10.0), ("m", "a", Base + 11, 30.0),
      ("m", "a", Base + 31, 90.0)) // buckets 0,1,3 — 2 empty
    // sub-second step: stepSec = 10/1000 = 0 (Go int div) → undefined cells
    val out2 = QueryEngine.select(df, SelectParams(name = "m",
      functions = "rate", from = Base, to = Base + 39, step = 10))
      .collect().map(r => r.getLong(2) -> r).toMap
    assert(out2(Base).isNullAt(3)) // cell 0: no previous
    assert(out2(Base + 10).isNullAt(3)) // stepSec==0 → undefined
    val df2 = samples(("m", "a", Base + 1, 10.0), ("m", "a", Base + 1001, 30.0),
      ("m", "a", Base + 3001, 90.0))
    val out3 = QueryEngine.select(df2, SelectParams(name = "m",
      functions = "rate", from = Base, to = Base + 3999, step = 1000))
      .collect().map(r => r.getLong(2) -> r).toMap
    assert(out3(Base).isNullAt(3))
    assert(out3(Base + 1000).getDouble(3) == 20.0) // (30-10)/1s
    assert(out3(Base + 3000).isNullAt(3)) // previous bucket empty
  }

  test("downsample: exact / next-within-tolerance / unset (collector.go:236-281)") {
    val df = samples(
      ("m", "a", Base, 1.0),          // exact at cell 0
      ("m", "a", Base + 14, 3.0))     // next for cell 1 (dist 4 <= tol 20)
    val p = SelectParams(name = "m", from = Base, to = Base + 49, step = 10)
    val out = QueryEngine.select(df, p).collect()
      .map(r => r.getLong(2) -> r.getDouble(3)).toMap
    assert(out(Base) == 1.0)
    assert(out(Base + 10) == 3.0)   // next_val default
    assert(!out.contains(Base + 20)) // no next sample → unset
    assert(!out.contains(Base + 40))
  }

  test("downsample keeps its resample windows parallel: a shuffle, not a coalesce, makes the result partition") {
    val df = samples(("m", "a", Base, 1.0), ("m", "b", Base + 14, 3.0))
    val out = QueryEngine.select(df, SelectParams(name = "m", from = Base, to = Base + 49, step = 10))
    assert(out.collect().length == 3)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("Exchange SinglePartition") && !plan.contains("Coalesce 1"), plan)
    // window operators run below the one-partition exchange
    val cut = plan.indexOf("Exchange SinglePartition")
    assert(plan.indexOf("Window [", cut) > cut, plan)
  }

  test("downsample interpolators: prev/linear/none + tolerance (interpolate.go)") {
    import graft.query.RequestedColumn
    val df = samples(("m", "a", Base + 2, 10.0), ("m", "a", Base + 38, 20.0))
    def run(interp: String, tol: Long = 0L) =
      QueryEngine.select(df, SelectParams(name = "m", from = Base, to = Base + 39, step = 10,
        requestedColumns = Seq(RequestedColumn(metric = "m", interpolator = interp, tolerance = tol))))
        .collect().map(r => r.getLong(2) -> r.getDouble(3)).toMap
    // default tolerance = 2*step = 20ms (select.go:41)
    val prev = run("prev_val")
    assert(prev(Base + 10) == 10.0 && prev(Base + 20) == 10.0)
    assert(!prev.contains(Base + 30)) // prev dist 28 > tol 20
    assert(!prev.contains(Base)) // no prev before first sample
    val prevTight = run("prev_val", tol = 9L)
    assert(prevTight(Base + 10) == 10.0 && !prevTight.contains(Base + 20)) // dist 18 > 9
    val lin = run("linear")
    assert(!lin.contains(Base + 10)) // next dist 28 > tol 20
    assert(math.abs(lin(Base + 20) - (10.0 + 10.0 * 18 / 36)) < 1e-12)
    val none = run("none")
    assert(none(Base + 10) == 20.0 && none(Base + 30) == 20.0) // unconditional next
    // "" on an EXPLICIT requested column = 'none' (StrToInterpolateType,
    // interpolate.go:62) — NOT the functions-path next_val+tolerance default
    // (querier.go:90): cell Base+10's next is 28ms away (> tol 20) and must
    // still fill
    val empty = run("")
    assert(empty(Base + 10) == 20.0 && empty(Base + 30) == 20.0)
  }

  test("SeriesSet Prom emission drops the aggregate label (querier.go:128-137)") {
    val df = samples(("m", "a", Base + 1, 2.0), ("m", "a", Base + 11, 4.0))
    val wide = QueryEngine.select(df, SelectParams(name = "m",
      functions = "sum", from = Base, to = Base + 19, step = 10))
    val prom = QueryEngine.toSeriesSet(wide, Seq("name", "labels_str"), Seq("sum"),
      aggregateLabel = false)
    assert(prom.columns.toSeq == Seq("name", "labels_str", "t", "v"))
    assert(prom.collect().map(_.getDouble(3)).toSeq == Seq(2.0, 4.0))
    intercept[IllegalArgumentException](
      QueryEngine.toSeriesSet(wide, Seq("name"), Seq("sum", "count"), aggregateLabel = false))
  }

  test("multi-metric aggregate select: fn(metric) columns aligned per (labels, t)") {
    import graft.query.RequestedColumn
    val df = samples(
      ("cpu", "a", Base + 1, 10.0), ("cpu", "a", Base + 5, 20.0),
      ("mem", "a", Base + 2, 3.0),
      ("cpu", "b", Base + 12, 7.0)) // host=b has cpu only, in bucket 1
    val p = SelectParams(from = Base, to = Base + 19, step = 10,
      requestedColumns = Seq(
        RequestedColumn(metric = "cpu", function = "sum"),
        RequestedColumn(metric = "cpu", function = "count", alias = "n"),
        RequestedColumn(metric = "mem", function = "max")))
    val out = QueryEngine.select(df, p)
    assert(out.columns.toSeq == Seq("labels_str", "t", "sum(cpu)", "n", "max(mem)"))
    val m = out.collect().map(r => (r.getString(0), r.getLong(1)) -> r).toMap
    val a0 = m(("host=a", Base))
    assert(a0.getDouble(2) == 30.0 && a0.getDouble(3) == 2.0 && a0.getDouble(4) == 3.0)
    val b1 = m(("host=b", Base + 10))
    assert(b1.getDouble(2) == 7.0 && b1.isNullAt(4)) // no mem for host=b → null mask
    // mixing aggregated and raw columns is rejected (no faithful frame shape)
    val mixed = p.copy(requestedColumns =
      p.requestedColumns :+ RequestedColumn(metric = "disk"))
    intercept[IllegalArgumentException](QueryEngine.select(df, mixed))
    // ...including with only ONE aggregated metric — `select sum(cpu), mem`
    // must not slip into the single-metric path and aggregate every metric
    val oneAgg = p.copy(functions = "sum", requestedColumns = Seq(
      RequestedColumn(metric = "cpu", function = "sum"),
      RequestedColumn(metric = "mem")))
    intercept[IllegalArgumentException](QueryEngine.select(df, oneAgg))
  }

  test("multi-metric aggregate with GroupBy labels keys the frame on the label") {
    import graft.query.RequestedColumn
    val df = samples(
      ("cpu", "a", Base + 1, 10.0), ("cpu", "b", Base + 2, 20.0),
      ("mem", "a", Base + 3, 1.0), ("mem", "b", Base + 4, 2.0))
    val out = QueryEngine.select(df, SelectParams(
      from = Base, to = Base + 9, step = 10, groupBy = "host",
      requestedColumns = Seq(
        RequestedColumn(metric = "cpu", function = "sum"),
        RequestedColumn(metric = "mem", function = "max"))))
    assert(out.columns.toSeq == Seq("host", "t", "sum(cpu)", "max(mem)"))
    val m = out.collect().map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    assert(m == Map("a" -> ((10.0, 1.0)), "b" -> ((20.0, 2.0))))
  }

  test("multi-metric aggregate: an empty column metric inherits `name` on the fused and the per-metric path alike") {
    import graft.query.RequestedColumn
    val df = samples(
      ("cpu", "a", Base + 1, 10.0), ("cpu", "a", Base + 5, 20.0),
      ("mem", "a", Base + 2, 3.0), ("disk", "a", Base + 3, 100.0))
    val p = SelectParams(name = "cpu", from = Base, to = Base + 9, step = 10,
      requestedColumns = Seq(
        RequestedColumn(metric = "", function = "sum"),
        RequestedColumn(metric = "mem", function = "max")))
    val fused = QueryEngine.select(df, p) // fusable shape: one scan + one shuffle
    val via = QueryEngine.multiAggregateVia(p, sub => QueryEngine.select(df, sub))
    assert(fused.columns.toSeq == Seq("labels_str", "t", "sum(cpu)", "max(mem)"))
    assert(via.columns.toSeq == fused.columns.toSeq)
    assert(rowsOf(fused) == Seq(Row("host=a", Base, 30.0, 3.0)))
    assert(rowsOf(via) == rowsOf(fused))
  }

  test("multi-metric cross-series (_all) collapses to one row per bucket") {
    import graft.query.RequestedColumn
    val df = samples(
      ("cpu", "a", Base + 1, 10.0), ("cpu", "b", Base + 2, 30.0),
      ("mem", "a", Base + 3, 5.0))
    val p = SelectParams(from = Base, to = Base + 9, step = 10,
      requestedColumns = Seq(
        RequestedColumn(metric = "cpu", function = "sum_all"),
        RequestedColumn(metric = "mem", function = "count_all")))
    val out = QueryEngine.select(df, p)
    assert(out.columns.toSeq == Seq("t", "sum(cpu)", "count(mem)"))
    val r = out.collect().head
    assert(r.getLong(0) == Base && r.getDouble(1) == 40.0 && r.getDouble(2) == 1.0)
  }

  test("multiple raw-column aliases are rejected loudly (not silently dropped)") {
    import graft.query.RequestedColumn
    val df = samples(("x", "a", Base + 2, 10.0), ("y", "a", Base + 4, 20.0))
    val p = SelectParams(from = Base, to = Base + 39, step = 10,
      requestedColumns = Seq(
        RequestedColumn(metric = "x", alias = "ax"),
        RequestedColumn(metric = "y", alias = "ay")))
    val e = intercept[IllegalArgumentException](QueryEngine.select(df, p))
    assert(e.getMessage.contains("alias"))
  }

  test("sliding window: cell covers [c-w, c], cells round UP (collector.go:345-364)") {
    val df = samples(("m", "a", Base + 5, 1.0))
    val out = QueryEngine.select(df, SelectParams(name = "m",
      functions = "count", from = Base, to = Base + 49, step = 10,
      aggregationWindow = 20))
      .collect().map(r => r.getLong(2) -> r.getDouble(3)).toMap
    // sample t=Base+5 feeds cells at Base+10 and Base+20 (t<=c<=t+20)
    assert(!out.contains(Base))
    assert(out(Base + 10) == 1.0 && out(Base + 20) == 1.0)
    assert(!out.contains(Base + 30))
    // a sample ON a cell boundary feeds that cell too
    val out2 = QueryEngine.select(samples(("m", "a", Base + 10, 1.0)),
      SelectParams(name = "m", functions = "count", from = Base, to = Base + 49,
        step = 10, aggregationWindow = 20))
      .collect().map(r => r.getLong(2) -> r.getDouble(3)).toMap
    assert(out2(Base + 10) == 1.0 && out2(Base + 30) == 1.0 && !out2.contains(Base + 40))
    // w < step (reference windowAggregation middle branch): the sample
    // feeds its round-up cell only when the cell is within w of it
    val out4 = QueryEngine.select(
      samples(("m", "a", Base + 8, 1.0), ("m", "a", Base + 15, 2.0)),
      SelectParams(name = "m", functions = "count", from = Base, to = Base + 29,
        step = 10, aggregationWindow = 3))
      .collect().map(r => r.getLong(2) -> r.getDouble(3)).toMap
    assert(out4 == Map((Base + 10) -> 1.0)) // t=8: 8+3>=10 feeds; t=15: 15+3<20 doesn't
    // non-multiple range: a sample past the last grid cell must emit NO
    // cells (a clamped sequence would otherwise count DOWN and corrupt)
    val out3 = QueryEngine.select(samples(("m", "a", Base + 31, 1.0)),
      SelectParams(name = "m", functions = "count", from = Base, to = Base + 31,
        step = 10, aggregationWindow = 20))
      .collect().map(r => r.getLong(2) -> r.getDouble(3)).toMap
    assert(out3.isEmpty, s"kMin=4 > maxK=3 must yield nothing, got $out3")
  }

  test("overlapping windows: strict bounds, anchored at floor(to/step)*step (seriesset.go:186-218)") {
    val maxAligned = Base + 40
    val df = samples(
      ("m", "a", maxAligned, 100.0),      // t == maxAligned: EXCLUDED (strict <)
      ("m", "a", maxAligned - 5, 1.0),    // inside win=1 and win=3
      ("m", "a", maxAligned - 10, 2.0),   // on win=1 boundary: EXCLUDED from win1 (strict >)
      ("m", "a", maxAligned - 25, 4.0))   // inside win=3 only
    val out = QueryEngine.select(df, SelectParams(name = "m",
      functions = "count,sum", from = Base, to = maxAligned + 5, step = 10,
      windows = Seq(1, 3)))
      .collect().map(r => r.getInt(2) -> r).toMap
    assert(out(1).getDouble(5) == 1.0) // sum win=1: only t-5
    assert(out(3).getDouble(5) == 7.0) // win=3: 1+2+4
    assert(out(1).getLong(3) == maxAligned - 10) // emitted at window start
  }

  test("cross-series: per-series resample THEN merge (collector.go:283-338)") {
    // two series, alternating sample times; next_val resample fills both
    // onto the grid, so the merged sum sees both at every grid point
    val df = samples(
      ("m", "a", Base, 1.0), ("m", "a", Base + 20, 3.0),
      ("m", "b", Base + 10, 10.0), ("m", "b", Base + 20, 30.0))
    val out = QueryEngine.select(df, SelectParams(name = "m",
      functions = "sum_all,count_all", from = Base, to = Base + 20, step = 10))
      .collect().map(r => r.getLong(1) -> r).toMap // cols: name, t, sum, count
    assert(out(Base).getDouble(2) == 1.0 + 10.0)  // b interpolated next=10
    assert(out(Base + 10).getDouble(2) == 3.0 + 10.0) // a next=3
    assert(out(Base + 20).getDouble(2) == 33.0)
    assert(out(Base).getDouble(3) == 2.0) // count_all counts series
  }

  test("cross-series honors per-metric interpolators") {
    import graft.query.RequestedColumn
    // identical sample layout per metric; only the interpolator differs:
    // prev_val fills the mid cell, nan leaves it undefined
    val df = samples(
      ("x", "a", Base, 1.0), ("x", "a", Base + 20, 3.0), ("x", "b", Base + 20, 10.0),
      ("y", "a", Base, 2.0), ("y", "a", Base + 20, 6.0), ("y", "b", Base + 20, 20.0))
    val wide = QueryEngine.select(df, SelectParams(
      functions = "sum_all",
      requestedColumns = Seq(
        RequestedColumn(metric = "x", function = "sum_all", interpolator = "prev_val"),
        RequestedColumn(metric = "y", function = "sum_all", interpolator = "nan")),
      from = Base, to = Base + 20, step = 10))
    // two metrics with functions → multi-metric frame: t, sum(x), sum(y)
    assert(wide.columns.toSeq == Seq("t", "sum(x)", "sum(y)"))
    val out = wide.collect().map(r => r.getLong(0) ->
      (Option(r.get(1)).map(_.asInstanceOf[Double]),
        Option(r.get(2)).map(_.asInstanceOf[Double]))).toMap
    // mid cell t=10: x/a prev-filled with 1.0 (x/b has no prev → unset);
    // y/a is a NaN cell → skipped → y's whole bucket is undefined (null)
    assert(out(Base + 10)._1.contains(1.0))
    assert(out(Base + 10)._2.isEmpty)
    assert(out(Base + 20)._1.contains(13.0))
    assert(out(Base + 20)._2.contains(26.0))
  }

  test("server sliding window == raw sliding when samples sit at rollup medians (collector.go:366-381)") {
    // samples at b + rollup/2 make the median re-bucketing exact, so the
    // approximate server path must agree with the raw path cell-for-cell
    val rollup = 10L
    val df = samples((0 until 40).map(i =>
      ("m", if (i % 2 == 0) "a" else "b", Base + i * rollup + rollup / 2, i.toDouble)): _*)
    val p = SelectParams(name = "m", functions = "count,sum,max,avg",
      from = Base, to = Base + 399, step = 40, aggregationWindow = 80)
    val server = QueryEngine.serverAggregate(
        graft.storage.Rollup.build(df, rollup), p, p.baseFunctions, rollup)
      .collect().map(_.toSeq).toSet
    val raw = QueryEngine.select(df, p).collect().map(_.toSeq).toSet
    assert(server == raw && server.nonEmpty)
  }

  test("server aggregation from rollup == direct raw aggregation (aggregate.go:317-361)") {
    val df = samples(
      ("m", "a", Base + 1, 1.0), ("m", "a", Base + 11, 2.0),
      ("m", "a", Base + 21, 3.0), ("m", "a", Base + 31, 4.0),
      ("m", "b", Base + 5, 10.0))
    val rollup = graft.storage.Rollup.build(df, rollupIntervalMs = 10)
    val p = SelectParams(name = "m", functions = "count,sum,min,max,last,avg",
      from = Base, to = Base + 39, step = 40)
    val server = QueryEngine.serverAggregate(rollup, p, p.baseFunctions, 10)
      .collect().map(r => (r.getString(1), r.getLong(2)) -> r.toSeq.drop(3)).toMap
    val client = QueryEngine.select(df, p)
      .collect().map(r => (r.getString(1), r.getLong(2)) -> r.toSeq.drop(3)).toMap
    assert(server == client)
  }

  test("SeriesSet melt attaches the Aggregate label and drops undefined cells (series.go:33-50)") {
    val df = samples(("m", "a", Base + 1, 2.0))
    val wide = QueryEngine.select(df, SelectParams(name = "m",
      functions = "sum,stddev", from = Base, to = Base + 9, step = 10))
    val long = QueryEngine.toSeriesSet(wide, Seq("name", "labels_str"), Seq("sum", "stddev"))
      .collect()
    assert(long.map(_.getString(2)).toSet == Set("sum")) // stddev n=1 undefined → dropped
    assert(long.head.getDouble(4) == 2.0)
  }

  test("aggregates requested via RequestedColumn alone are computed, aliased, case-insensitive") {
    import graft.query.RequestedColumn
    val df = samples(("m", "a", Base + 1, 2.0), ("m", "a", Base + 2, 4.0))
    val out = QueryEngine.select(df, SelectParams(name = "m",
      requestedColumns = Seq(RequestedColumn(metric = "m", function = "SUM", alias = "total")),
      from = Base, to = Base + 9, step = 10))
    assert(out.columns.contains("total"))
    assert(out.collect().head.getAs[Double]("total") == 6.0)
  }

  test("windows without aggregate functions are rejected loudly") {
    val df = samples(("m", "a", Base + 1, 1.0))
    intercept[IllegalArgumentException](QueryEngine.select(df,
      SelectParams(name = "m", from = Base, to = Base + 9, step = 10, windows = Seq(1))))
    intercept[IllegalArgumentException](QueryEngine.select(df,
      SelectParams(name = "m", from = Base, to = Base + 9, step = 10, aggregationWindow = 20)))
  }

  test("prev_val interpolation reaches a donor sample just before `from` (collector.go:257-263)") {
    import graft.query.RequestedColumn
    val df = samples(("m", "a", Base - 5, 7.0), ("m", "a", Base + 25, 9.0))
    val out = QueryEngine.select(df, SelectParams(name = "m", from = Base, to = Base + 29,
      step = 10, requestedColumns = Seq(RequestedColumn(metric = "m", interpolator = "prev_val"))))
      .collect().map(r => r.getLong(2) -> r.getDouble(3)).toMap
    assert(out(Base) == 7.0, "donor before `from` must fill the first cell")
    assert(out(Base + 10) == 7.0) // dist 15 <= tol 20
  }

  test("GroupBy on a missing label errors, as in the reference (select.go:358-363)") {
    val df = samples(("m", "a", Base + 1, 1.0))
    val p = SelectParams(name = "m", functions = "sum", groupBy = "nosuch",
      from = Base, to = Base + 9, step = 10)
    val e = intercept[Exception](QueryEngine.select(df, p).collect())
    assert(e.getMessage.contains("missing groupBy label") ||
      Option(e.getCause).exists(_.getMessage.contains("missing groupBy label")))
  }

  test("metadata scans: names / label values / label sets (querier.go:231-381)") {
    val df = samples(("a", "x", Base, 1.0), ("b", "y", Base, 1.0), ("a", "y", Base, 1.0))
    assert(QueryEngine.names(df).collect().map(_.getString(0)).toSeq == Seq("a", "b"))
    assert(QueryEngine.labelValues(df, "host").collect().map(_.getString(0)).toSeq == Seq("x", "y"))
    assert(QueryEngine.labelSets(df, "a").count() == 2)
  }
}
