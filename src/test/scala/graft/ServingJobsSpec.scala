package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.query.SelectParams
import graft.storage.{TsdbConfig, TsdbTable}

/** The serving path launches no hidden Spark jobs: graft-owned
  * directories are read under declared schemas, and label filters resolve
  * through the per-version postings index of the series registry — so a
  * query on a warm table runs jobs only when it executes. Executing a
  * select then runs no range-bounds sampling job and no one-partition
  * shuffle: its result is coalesced into one partition and sorted there. */
class ServingJobsSpec extends SparkSuite {
  import spark.implicits._

  private val Base = 1704067200000L // day-aligned
  private val Day = 86400000L
  private val Hour = 3600000L

  /** (name, host, region, time, value) → samples frame. */
  private def samples(rows: (String, String, String, Long, Double)*): DataFrame =
    rows.toSeq.toDF("name", "host", "region", "time", "value")
      .select(col("name"),
        map(lit("host"), col("host"), lit("region"), col("region")).as("labels"),
        col("time"), col("value"))

  /** 8 hosts over 2 regions, hourly for two days, two metrics. */
  private def grid: DataFrame = samples((for {
    m <- Seq("cpu", "mem"); h <- 0 until 8; i <- 0 until 48
  } yield (m, s"h$h", s"r${h % 2}", Base + i * Hour + h * 1000L, (h * 100 + i).toDouble)): _*)

  private def labelFilter(host: String) = s"labels['host'] = '$host'"

  private def planJobs(build: => DataFrame): Int =
    jobsDuring(build.queryExecution.executedPlan)

  test("jobsDuring counts the jobs of the calling thread") {
    assert(jobsDuring(spark.range(10).count()) >= 1)
    assert(jobsDuring(spark.range(10).select(col("id") + 1)) == 0)
  }

  test("warm table: building and planning label, rollup, MOR and DSv2 label queries run no Spark job") {
    val dir = Files.createTempDirectory("tsdb_nojobs").toString
    val main = new TsdbTable(spark, s"$dir/main",
      TsdbConfig(preAggregates = Seq(Seq("region"))))
    main.append(grid, incrementalRollup = true)
    val mor = new TsdbTable(spark, s"$dir/mor", TsdbConfig(overrideOld = true))
    mor.append(grid)
    mor.append(samples(("cpu", "h1", "r1", Base + 1000L, -1.0)))

    val seriesRead = () => main.select(SelectParams(name = "cpu", from = Base,
      to = Base + 6 * Hour, filter = s"${labelFilter("h3")} AND labels['region'] = 'r1'"))
    val rollupP = SelectParams(name = "cpu", functions = "count,sum,avg,max",
      step = Day, from = Base, to = Base + 2 * Day - 1)
    assert(main.canServerAggregate(rollupP))
    val rollupAgg = () => main.select(rollupP)
    val rawAggP = SelectParams(name = "cpu", functions = "avg,max,rate", step = Hour,
      from = Base, to = Base + Day, filter = "labels['region'] = 'r1'")
    assert(!main.canServerAggregate(rawAggP))
    val rawAgg = () => main.select(rawAggP)
    val morRead = () => mor.select(SelectParams(name = "cpu", from = Base, to = Base + Day))
    val labelScan = () => spark.read.format("graft").option("label.host", "h3")
      .load(main.path).filter(col("time").between(Base, Base + Day))
      .groupBy("name").agg(count(lit(1)).as("n"), sum("value").as("s"))

    // the first label query on this registry version loads the `host`
    // (and `region`) postings: one job per key, while its scan plans
    // (the scan resolves the label set); building the frame runs none
    assert(jobsDuring(seriesRead()) == 0)
    assert(planJobs(seriesRead()) == 2)
    // warm every query once
    assert(seriesRead().count() == 6)
    assert(rollupAgg().count() == 16)
    assert(rawAgg().count() == 96) // 4 r1 hosts x 24 hourly buckets
    assert(morRead().filter(col("v") === -1.0).count() == 1)
    assert(labelScan().collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("cpu" -> 24L, "mem" -> 24L))

    val queries = Seq("series_read" -> seriesRead, "rollup_agg" -> rollupAgg,
      "raw_agg" -> rawAgg, "mor_read" -> morRead, "label_scan" -> labelScan)
    queries.foreach { case (cls, q) =>
      assert(planJobs(q()) == 0, s"$cls: build + plan launched Spark jobs")
    }

    // executing: a select coalesces its result into one partition and
    // sorts it there, so no job samples range bounds by running the plan
    // below the sort again, no shuffle moves the rows into that partition,
    // and `rate`'s window shares it instead of its own exchange
    assert(queries.map { case (cls, q) => cls -> jobsDuring(q().collect()) }.toMap ==
      Map("series_read" -> 1, "rollup_agg" -> 2, "raw_agg" -> 2, "mor_read" -> 1,
        "label_scan" -> 2))
    queries.filter(_._1 != "label_scan").foreach { case (cls, q) =>
      val df = q()
      df.collect()
      val plan = df.queryExecution.executedPlan.toString.toLowerCase
      assert(!plan.contains("rangepartitioning"), s"$cls: range exchange in\n$plan")
      assert(!plan.contains("exchange singlepartition"),
        s"$cls: one-partition shuffle in\n$plan")
    }
  }

  test("raw reads key series on the stored labels_str: no labels map for label equalities; other label uses still read it") {
    val dir = Files.createTempDirectory("tsdb_lstr").toString
    val main = new TsdbTable(spark, s"$dir/main",
      TsdbConfig(preAggregates = Seq(Seq("region"))))
    main.append(grid, incrementalRollup = true)
    val mor = new TsdbTable(spark, s"$dir/mor", TsdbConfig(overrideOld = true))
    mor.append(grid)
    mor.append(samples(("cpu", "h1", "r1", Base + 1000L, -1.0)))

    /** (rows, scan read schemas, lower-cased executed plan) of a query. */
    def run(df: DataFrame): (Seq[Row], Seq[String], String) = {
      val rows = df.collect().toSeq
      val plan = df.queryExecution.executedPlan.toString
      (rows, "ReadSchema: (\\S+)".r.findAllMatchIn(plan).map(_.group(1)).toSeq,
        plan.toLowerCase)
    }
    // reference rows: the live raw view, collected
    case class S(name: String, labels: Map[String, String], ls: String, t: Long, v: Double)
    def live(t: TsdbTable) = LwwOracle.readRaw(t).collect().toSeq.map(r => S(
      r.getAs[String]("name"), r.getMap[String, String](r.fieldIndex("labels")).toMap,
      r.getAs[String]("labels_str"), r.getAs[Long]("time"), r.getAs[Double]("value")))
    val mainRows = live(main)
    val morRows = live(mor)
    def rawRef(rows: Seq[S], name: String, from: Long, to: Long, keep: S => Boolean) =
      rows.filter(s => s.name == name && s.t >= from && s.t <= to && keep(s))
        .sortBy(s => (s.ls, s.t)).map(s => Row(s.name, s.ls, s.t, s.v, null))
    /** avg and max per (key, hour bucket of `from`) — every grid series
      * has one sample an hour, so `rate` is the change per second. */
    def aggRef(rows: Seq[S], from: Long, to: Long, key: S => String) =
      rows.filter(s => s.name == "cpu" && s.t >= from && s.t <= to)
        .groupBy(s => (key(s), from + (s.t - from) / Hour * Hour)).toSeq
        .map { case ((k, b), ss) => (k, b) -> (ss.map(_.v).sum / ss.size, ss.map(_.v).max) }
        .toMap

    // the label-equality shapes: the scan enforces the equalities, the
    // series key is the stored string — no map read, no map_entries
    val seriesRead = main.select(SelectParams(name = "cpu", from = Base, to = Base + 6 * Hour,
      filter = s"${labelFilter("h3")} AND labels['region'] = 'r1'"))
    val rawAgg = main.select(SelectParams(name = "cpu", functions = "avg,max,rate",
      step = Hour, from = Base, to = Base + Day, filter = "labels['region'] = 'r1'"))
    val morRead = mor.select(SelectParams(name = "cpu", from = Base, to = Base + Day))
    val (srRows, srSchemas, srPlan) = run(seriesRead)
    assert(srRows == rawRef(mainRows, "cpu", Base, Base + 6 * Hour,
      s => s.labels.get("host").contains("h3") && s.labels.get("region").contains("r1")))
    val (raRows, raSchemas, raPlan) = run(rawAgg)
    val raWant = aggRef(mainRows.filter(_.labels.get("region").contains("r1")),
      Base, Base + Day, _.ls)
    assert(raRows.map(r => (r.getString(1), r.getLong(2)) -> (r.getDouble(3), r.getDouble(4)))
      .toMap == raWant)
    raRows.filter(r => !r.isNullAt(5)).foreach { r =>
      val (prev, _) = raWant((r.getString(1), r.getLong(2) - Hour))
      assert(math.abs(r.getDouble(5) - (raWant((r.getString(1), r.getLong(2)))._1 - prev) / 3600) < 1e-9)
    }
    val (mrRows, mrSchemas, mrPlan) = run(morRead)
    assert(mrRows == rawRef(morRows, "cpu", Base, Base + Day, _ => true))
    assert(mrRows.exists(_.getDouble(3) == -1.0))
    Seq(("series_read", srSchemas, srPlan), ("raw_agg", raSchemas, raPlan),
        ("mor_read", mrSchemas, mrPlan)).foreach { case (cls, schemas, plan) =>
      assert(schemas.nonEmpty && schemas.forall(s => s.contains("labels_str:string") &&
        !s.contains("labels:")), s"$cls read the labels map: $schemas")
      assert(!plan.contains("map_entries"), s"$cls serialized labels per row:\n$plan")
    }

    // every other use of a label still reads the map, and answers alike
    def readsLabels(schemas: Seq[String]) = schemas.exists(_.contains("labels:map<string,string>"))
    val (gbRows, gbSchemas, _) = run(main.select(SelectParams(name = "cpu", functions = "avg",
      step = Hour, from = Base, to = Base + Day, groupBy = "host")))
    assert(readsLabels(gbSchemas), s"groupBy: $gbSchemas")
    assert(gbRows.map(r => (r.getString(1), r.getLong(2)) -> r.getDouble(3)).toMap ==
      aggRef(mainRows, Base, Base + Day, _.labels("host")).map { case (k, (avg, _)) => k -> avg })
    val (neRows, neSchemas, _) = run(main.select(SelectParams(name = "cpu", from = Base,
      to = Base + 6 * Hour, filter = "labels['host'] != 'h3'")))
    assert(readsLabels(neSchemas), s"!=: $neSchemas")
    assert(neRows == rawRef(mainRows, "cpu", Base, Base + 6 * Hour,
      s => s.labels.get("host").exists(_ != "h3")))
    val (orRows, orSchemas, _) = run(main.select(SelectParams(name = "cpu", from = Base,
      to = Base + 6 * Hour, filter = s"${labelFilter("h1")} OR ${labelFilter("h2")}")))
    assert(readsLabels(orSchemas), s"OR: $orSchemas")
    assert(orRows == rawRef(mainRows, "cpu", Base, Base + 6 * Hour,
      s => s.labels.get("host").exists(h => h == "h1" || h == "h2")))
    assert(orRows.nonEmpty && neRows.nonEmpty)
  }

  test("appending a new series moves the registry stamp; the next label query returns its rows") {
    val dir = Files.createTempDirectory("tsdb_stamp").toString
    val t = new TsdbTable(spark, dir)
    t.append(grid)
    val p = SelectParams(name = "cpu", from = Base, to = Base + 2 * Day,
      filter = labelFilter("h1"))
    val before = t.resolveSeries(Seq("host" -> "h1")).get
    assert(before.length == 2) // cpu + mem
    assert(t.select(p).count() == 48)
    // a NEW series under an already-indexed value: a stale index would
    // prune it away
    t.append(samples(("cpu", "h1", "r9", Base + 5000L, 7.0)))
    val after = t.resolveSeries(Seq("host" -> "h1")).get
    assert(after.length == 3 && before.forall(after.contains))
    assert(t.select(p).count() == 49)
    assert(spark.read.format("graft").option("label.host", "h1")
      .option("label.region", "r9").load(dir).count() == 1)
    // ...and an entirely new value
    t.append(samples(("cpu", "h99", "r0", Base + 6000L, 8.0)))
    assert(t.select(p.copy(filter = labelFilter("h99"))).count() == 1)
  }

  test("a pre-registry sidecar disables pruning; answers stay exact") {
    val dir = Files.createTempDirectory("tsdb_prereg").toString
    val t = new TsdbTable(spark, dir)
    t.append(grid)
    val p = SelectParams(name = "cpu", from = Base, to = Base + 2 * Day,
      filter = labelFilter("h2"))
    assert(t.resolveSeries(Seq("host" -> "h2")).nonEmpty)
    assert(t.select(p).count() == 48)
    // rewrite the sidecar in the pre-registry shape (series_id, variant)
    val enc = spark.read.parquet(s"$dir/series_enc").select("series_id", "variant")
      .collect()
    spark.createDataFrame(java.util.Arrays.asList(enc: _*),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("series_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("variant",
            org.apache.spark.sql.types.BooleanType))))
      .write.mode("overwrite").parquet(s"$dir/series_enc")
    assert(t.resolveSeries(Seq("host" -> "h2")).isEmpty)
    val got = t.select(p)
    assert(!"series_id#\\d+L? (=|IN) ".r
      .findFirstIn(got.queryExecution.executedPlan.toString).isDefined)
    assert(got.count() == 48)
    assert(spark.read.format("graft").option("label.host", "h2").load(dir).count() == 96)
  }

  test("a sidecar compacted past 64 files resolves the same ids") {
    val dir = Files.createTempDirectory("tsdb_compacted").toString
    val t = new TsdbTable(spark, dir)
    t.append(grid)
    val keys = Seq(Seq("host" -> "h1"), Seq("region" -> "r0"),
      Seq("host" -> "h4", "region" -> "r0"), Seq("host" -> "h4", "region" -> "r1"))
    val before = keys.map(k => t.resolveSeries(k).get.toSeq)
    assert(before.map(_.length) == Seq(2, 8, 2, 0))
    // balloon the sidecar past the bound with complete registry rows of
    // series that carry none of the queried values
    (0L until 70L).map(i => (i, false, "dummy", s"host=d$i", Map("host" -> s"d$i")))
      .toDF("series_id", "variant", "name", "labels_str", "labels")
      .repartitionByRange(70, col("series_id"))
      .write.mode("append").parquet(s"$dir/series_enc")
    assert(new java.io.File(s"$dir/series_enc").listFiles
      .count(_.getName.endsWith(".parquet")) > 64)
    assert(keys.map(k => t.resolveSeries(k).get.toSeq) == before)
    // the next append with a new series rewrites the sidecar into one file
    t.append(samples(("disk", "z", "z", Base, 1.0)))
    assert(new java.io.File(s"$dir/series_enc").listFiles
      .count(_.getName.endsWith(".parquet")) <= 2)
    assert(keys.map(k => t.resolveSeries(k).get.toSeq) == before)
    assert(t.resolveSeries(Seq("host" -> "d5")).get.toSeq == Seq(5L))
  }
}
