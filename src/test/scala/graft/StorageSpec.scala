package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.query.SelectParams
import graft.sql.TsdbSql
import graft.storage.{TsdbConfig, TsdbTable}

class TsdbTableSpec extends SparkSuite {
  import spark.implicits._

  private val Base = 1704067200000L // day-aligned

  private def samples(rows: (String, String, Long, Double)*): DataFrame =
    rows.toSeq.toDF("name", "host", "time", "value")
      .select(col("name"), map(lit("host"), col("host")).as("labels"),
        col("time"), col("value"))

  private def mkTable(rollupMs: Long = 3600000L): TsdbTable = {
    val dir = Files.createTempDirectory("tsdb").toString
    new TsdbTable(spark, dir, TsdbConfig(rollupIntervalMs = rollupMs))
  }

  // Manifest-state surgery for the crash simulations, through the
  // versioned commit log: manifest STATE is the latest version's
  // CONTENT, so "roll back to an earlier snapshot" = publish the old
  // body as the NEXT version; "drop" = remove the log (and the legacy
  // single file) entirely, aging the table into a manifest-less one.
  private def hfs(dir: String) = org.apache.hadoop.fs.FileSystem.get(
    new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
  private def manifestBody(dir: String): Array[Byte] =
    graft.storage.CommitLog
      .readLatest(hfs(dir), new org.apache.hadoop.fs.Path(dir))
      .map(_._2.getBytes("UTF-8"))
      .getOrElse(fail(s"no commit log at $dir"))
  private def manifestExists(dir: String): Boolean =
    graft.storage.CommitLog
      .readLatest(hfs(dir), new org.apache.hadoop.fs.Path(dir)).nonEmpty
  private def setManifest(dir: String, body: Array[Byte]): Unit = {
    val fs = hfs(dir)
    val p = new org.apache.hadoop.fs.Path(dir)
    val v = graft.storage.CommitLog.readLatest(fs, p).map(_._1).getOrElse(0L)
    assert(graft.storage.CommitLog.tryPublish(fs, p, v + 1, body))
  }
  private def dropManifest(dir: String): Unit = {
    graft.core.Fs.rmTree(new java.io.File(dir, "_commitlog"))
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(dir, "_commits"))
  }

  test("append/read roundtrip with partition pruning") {
    val t = mkTable()
    t.append(samples(
      ("cpu", "a", Base + 1000, 1.0),
      ("cpu", "a", Base + 86400000L + 1000, 2.0),      // day 2
      ("cpu", "a", Base + 5 * 86400000L + 1000, 3.0))) // day 6
    assert(t.countMetrics() == 3)
    val pruned = t.readRaw(Base, Base + 86400000L)
    assert(pruned.count() == 2)
    // partition pruning visible in the physical plan
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"))
    assert(t.names().collect().map(_.getString(0)).toSeq == Seq("cpu"))
  }

  test("planner: server aggregate iff step/rollup > coefficient and covered (aggregationParams.go:67-77)") {
    val t = mkTable(rollupMs = 3600000L)
    // 1d step / 1h rollup = 24 > 3 → server
    assert(t.canServerAggregate(SelectParams(name = "m", functions = "sum",
      from = Base, to = Base + 86400000L, step = 86400000L)))
    // 2h step / 1h rollup = 2 <= 3 → raw
    assert(!t.canServerAggregate(SelectParams(name = "m", functions = "sum",
      from = Base, to = Base + 86400000L, step = 7200000L)))
    // cross-series forces raw (resampling semantics)
    assert(!t.canServerAggregate(SelectParams(name = "m", functions = "sum_all",
      from = Base, to = Base + 86400000L, step = 86400000L)))
    // precision escape hatch (querier.go:172-175)
    assert(!t.canServerAggregate(SelectParams(name = "m", functions = "sum",
      from = Base, to = Base + 86400000L, step = 86400000L,
      usePreciseAggregations = true)))
    // raw query / downsample → raw
    assert(!t.canServerAggregate(SelectParams(name = "m", from = Base,
      to = Base + 86400000L, step = 86400000L)))
  }

  test("overrideOld: last write wins via merge-on-read; rollup never double-counts (store.go:336-352, config.go:146-147)") {
    val dir = Files.createTempDirectory("tsdb_mor").toString
    val t = new TsdbTable(spark, dir,
      TsdbConfig(rollupIntervalMs = 3600000L, overrideOld = true))
    t.append(samples(("cpu", "a", Base + 1000, 1.0), ("cpu", "a", Base + 2000, 2.0)))
    t.append(samples(("cpu", "a", Base + 1000, 9.0))) // rewrite of t=+1000
    assert(t.countMetrics() == 2) // superseded version invisible
    val raw = t.readRaw(Base, Base + 10000).select("time", "value")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(raw == Map((Base + 1000) -> 9.0, (Base + 2000) -> 2.0))
    // rollup rebuilt from the merged view: count 2, sum 11
    val roll = t.readRollup()
      .agg(sum("__p_count"), sum("__p_sum")).collect().head
    assert(roll.getDouble(0) == 2.0 && roll.getDouble(1) == 11.0)
    // a non-override table keeps both versions (duplicate policy belongs
    // to the streaming dedup there)
    val t2 = mkTable()
    t2.append(samples(("cpu", "a", Base + 1000, 1.0)))
    t2.append(samples(("cpu", "a", Base + 1000, 9.0)))
    assert(t2.countMetrics() == 2)
  }

  test("server sliding window serves from the pre-aggregate table under GroupBy") {
    val dir = Files.createTempDirectory("tsdb_slidepre").toString
    val rollup = 60000L
    val t = new TsdbTable(spark, dir, TsdbConfig(rollupIntervalMs = rollup,
      preAggregates = Seq(Seq("host"))))
    // samples at rollup medians → median re-bucketing exact vs raw
    t.append(samples((0 until 30).map(i =>
      ("cpu", if (i % 2 == 0) "a" else "b", Base + i * rollup + rollup / 2, i.toDouble)): _*))
    val p = SelectParams(name = "cpu", functions = "count,sum", groupBy = "host",
      from = Base, to = Base + 30 * rollup - 1,
      step = 5 * rollup, aggregationWindow = 10 * rollup)
    assert(t.canServerAggregate(p))
    val server = t.select(p).collect().map(_.toSeq).toSet
    val raw = graft.query.QueryEngine.select(
      t.readRaw(p.from - p.aggregationWindow, p.to), p).collect().map(_.toSeq).toSet
    assert(server == raw && server.nonEmpty)
  }

  test("disableClientAggregation: coarse steps coerce down to rollup granularity and serve from rollup (select.go:185-187, aggregationParams.go:74)") {
    val dir = Files.createTempDirectory("tsdb_dca").toString
    val t = new TsdbTable(spark, dir,
      TsdbConfig(rollupIntervalMs = 3600000L, disableClientAggregation = true))
    t.append(samples(
      ("cpu", "a", Base + 1000, 1.0), ("cpu", "a", Base + 3600000L + 1000, 2.0),
      ("cpu", "a", Base + 2 * 3600000L + 1000, 4.0)))
    // equality escape: step == rollup qualifies despite coefficient 3
    assert(t.canServerAggregate(SelectParams(name = "cpu", functions = "sum",
      from = Base, to = Base + 86400000L, step = 3600000L)))
    // a 6h step request comes back at 1h rollup cells
    val out = t.select(SelectParams(name = "cpu", functions = "sum",
      from = Base, to = Base + 86400000L, step = 6 * 3600000L))
      .collect().map(r => r.getLong(2) -> r.getDouble(3)).toMap
    assert(out == Map(Base -> 1.0, (Base + 3600000L) -> 2.0, (Base + 2 * 3600000L) -> 4.0))
    // but when the coerced query CANNOT be rollup-served (precise forces
    // raw), the requested step must survive — coercing and then falling to
    // the raw path would silently change the output granularity
    val precise = t.select(SelectParams(name = "cpu", functions = "sum",
      from = Base, to = Base + 86400000L, step = 6 * 3600000L,
      usePreciseAggregations = true))
      .collect().map(r => r.getLong(2) -> r.getDouble(3)).toMap
    assert(precise == Map(Base -> 7.0)) // one 6h bucket, all three samples
  }

  test("select: server path equals raw path on the same data") {
    val t = mkTable(rollupMs = 60000L)
    t.append(samples((1 to 50).map(i =>
      ("cpu", if (i % 2 == 0) "a" else "b", Base + i * 60000L, i.toDouble)): _*))
    val p = SelectParams(name = "cpu", functions = "count,sum,min,max,avg",
      from = Base, to = Base + 3600000L, step = 600000L) // 10m step / 1m rollup
    assert(t.canServerAggregate(p))
    val server = t.select(p).collect().map(_.toSeq).toSet
    val raw = graft.query.QueryEngine.select(t.readRaw(p.from, p.to), p)
      .collect().map(_.toSeq).toSet
    assert(server == raw && server.nonEmpty)
  }

  test("window queries through the table widen partition pruning below `from`") {
    val day = 86400000L
    val t = mkTable()
    t.append(samples(
      ("cpu", "a", Base + day - 1000, 5.0),   // day 1, just before boundary
      ("cpu", "a", Base + day + 1000, 7.0)))  // day 2
    // query FROM day 2 with a 2h sliding window: the day-1 sample sits in
    // [c-w, c] of the first cells and must be visible
    val out = t.select(SelectParams(name = "cpu", functions = "sum",
      from = Base + day, to = Base + 2 * day - 1, step = 3600000L,
      aggregationWindow = 2 * 3600000L))
    val cells = out.collect().map(r => r.getLong(2) -> r.getDouble(3)).toMap
    // cell at `from` covers [from-2h, from]: only the day-1 sample
    assert(cells(Base + day) == 5.0, "sample from the previous partition must be counted")
    // next cell covers both samples
    assert(cells(Base + day + 3600000L) == 12.0)
  }

  test("delete over the full range leaves a consistent empty table") {
    val t = mkTable()
    t.append(samples(("cpu", "a", Base + 1000, 1.0), ("cpu", "a", Base + 86400000L, 2.0)))
    t.delete(0L, Long.MaxValue / 4)
    assert(t.countMetrics() == 0)
    // derived tables are gone too; re-append works from scratch
    t.append(samples(("mem", "b", Base + 5000, 3.0)))
    assert(t.names().collect().map(_.getString(0)).toSeq == Seq("mem"))
    assert(t.readRollup().agg(sum("__p_count")).collect().head.getDouble(0) == 1.0)
  }

  test("config validation: rollup must divide the partition interval") {
    intercept[IllegalArgumentException](
      TsdbConfig(partitionIntervalMs = 86400000L, rollupIntervalMs = 7 * 3600000L))
  }

  test("incremental rollup merge equals full recompute across multiple appends") {
    val day = 86400000L
    val a = mkTable(rollupMs = 3600000L)
    val b = mkTable(rollupMs = 3600000L)
    val batch1 = samples(
      ("cpu", "a", Base + 1000, 1.0), ("cpu", "b", Base + 2000, 2.0),
      ("cpu", "a", Base + day + 1000, 3.0))
    val batch2 = samples(
      ("cpu", "a", Base + 3000, 5.0), // same bucket as batch1's first point
      ("mem", "a", Base + 7200000L, 7.0), // new metric, later bucket
      ("cpu", "a", Base + 2 * day, 9.0)) // brand-new partition
    a.append(batch1, incrementalRollup = true)
    a.append(batch2, incrementalRollup = true)
    b.append(batch1)
    b.append(batch2)
    val cols = Seq("name", "labels_str", "bucket_start",
      "__p_count", "__p_sum", "__p_sqr", "__p_min", "__p_max", "__p_last")
    val ra = a.readRollup().select(cols.map(col): _*).collect().map(_.toSeq).toSet
    val rb = b.readRollup().select(cols.map(col): _*).collect().map(_.toSeq).toSet
    assert(ra == rb && ra.nonEmpty)
  }

  test("delete: whole-partition drop + boundary rewrite + rollup rebuild (v3iotsdb.go:272-477)") {
    val t = mkTable()
    val day = 86400000L
    t.append(samples(
      ("cpu", "a", Base + 1, 1.0), ("cpu", "a", Base + 2, 2.0),
      ("cpu", "a", Base + day + 1, 3.0),
      ("cpu", "a", Base + 2 * day + 1, 4.0)))
    // delete day 2 fully and the first half of day 1
    t.delete(Base + 2, Base + 2 * day - 1)
    val left = t.readRaw(0, Long.MaxValue / 2).select("time").collect().map(_.getLong(0)).sorted
    assert(left.toSeq == Seq(Base + 1, Base + 2 * day + 1))
    // rollup reflects the delete
    val roll = t.readRollup().agg(sum("__p_count")).collect().head.getDouble(0)
    assert(roll == 2.0)
  }

  test("compact materializes the MOR view; later rewrites still win") {
    val dir = Files.createTempDirectory("tsdb_compact").toString
    val t = new TsdbTable(spark, dir, TsdbConfig(overrideOld = true))
    t.append(samples(("cpu", "a", Base + 1000, 1.0), ("cpu", "a", Base + 2000, 2.0)))
    t.append(samples(("cpu", "a", Base + 1000, 9.0)))
    // physically 3 rows before compaction, 2 after; logical view unchanged
    assert(spark.read.parquet(s"$dir/raw").count() == 3)
    t.compact()
    assert(spark.read.parquet(s"$dir/raw").count() == 2)
    assert(t.readRaw(Base, Base + 10000).select("time", "value").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap ==
      Map((Base + 1000) -> 9.0, (Base + 2000) -> 2.0))
    // a rewrite after compaction still orders after the re-stamped rows
    t.append(samples(("cpu", "a", Base + 2000, 7.0)))
    assert(t.readRaw(Base, Base + 10000).filter(col("time") === Base + 2000)
      .select("value").collect().map(_.getDouble(0)).toSeq == Seq(7.0))
    // no-op on non-override tables
    val t2 = mkTable()
    t2.append(samples(("cpu", "a", Base + 1, 1.0)))
    t2.compact()
    assert(t2.countMetrics() == 1)
  }

  test("labelSets/labelValues scan only the most recent partitions (querier.go:257-276,346-350)") {
    val day = 86400000L
    val t = mkTable()
    t.append(samples(
      ("cpu", "old", Base + 1, 1.0),             // day 1 — outside both bounds
      ("cpu", "mid", Base + 5 * day + 1, 2.0),   // day 6 — in last-2 only
      ("cpu", "new", Base + 6 * day + 1, 3.0)))  // day 7 — newest
    val sets = t.labelSets().collect().map(_.getString(1)).toSet
    assert(sets == Set("host=mid", "host=new")) // last 2 partitions
    val values = t.labelValues("host").collect().map(_.getString(0)).toSet
    assert(values == Set("new")) // newest partition only
    assert(t.labelSets("nope").collect().isEmpty)
  }

  test("delete by metrics list and label filter (DeleteParams.Metrics/Filter, v3iotsdb.go:71-78)") {
    val t = mkTable()
    t.append(samples(
      ("cpu", "a", Base + 1, 1.0), ("cpu", "b", Base + 2, 2.0),
      ("mem", "a", Base + 3, 3.0), ("disk", "a", Base + 4, 4.0)))
    // a series WITHOUT the filtered label: labels['host'] is NULL there —
    // three-valued logic must keep it, not silently delete it
    t.append(samples(("cpu", "x", Base + 5, 5.0))
      .withColumn("labels", map(lit("region"), lit("eu"))))
    // filter deletes only host=a rows of the named metrics
    t.delete(0L, Long.MaxValue / 4, metrics = Seq("cpu", "mem"),
      filter = "labels['host'] == 'a'")
    val left = t.readRaw(0, Long.MaxValue / 2)
      .select("name", "labels_str").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(left == Set(("cpu", "host=b"), ("disk", "host=a"), ("cpu", "region=eu")))
    // names dim refreshed: mem is gone entirely
    assert(t.names().collect().map(_.getString(0)).toSeq == Seq("cpu", "disk"))
    val roll = t.readRollup().agg(sum("__p_count")).collect().head.getDouble(0)
    assert(roll == 3.0) // three surviving samples
  }

  private def variantSamples(rows: (String, String, Long, String)*): DataFrame =
    rows.toSeq.toDF("name", "host", "time", "valueStr")
      .select(col("name"), map(lit("host"), col("host")).as("labels"), col("time"),
        lit(null).cast("double").as("value"), col("valueStr"))

  test("series type mismatch rejected: numeric↔string per series, in-batch and across appends (appender.go:244-254)") {
    val dir = Files.createTempDirectory("tsdb_enc").toString
    val t = new TsdbTable(spark, dir, TsdbConfig())
    t.append(samples(("cpu", "a", Base + 1000, 1.0)))
    // string sample into an existing numeric series → rejected
    val e1 = intercept[IllegalArgumentException](
      t.append(variantSamples(("cpu", "a", Base + 2000, "busy"))))
    assert(e1.getMessage.contains("Cannot append string type metric to numeric type metric"))
    // the rejected batch must not have landed
    assert(t.countMetrics() == 1)
    // reverse direction on a fresh variant series
    t.append(variantSamples(("status", "a", Base + 1000, "ok")))
    val e2 = intercept[IllegalArgumentException](
      t.append(samples(("status", "a", Base + 2000, 2.0))))
    assert(e2.getMessage.contains("Cannot append numeric type metric to string type metric"))
    // in-batch mix under one series → rejected up front
    val mixed = samples(("mem", "a", Base + 1000, 1.0))
      .withColumn("valueStr", lit(null).cast("string"))
      .unionByName(variantSamples(("mem", "a", Base + 2000, "x")))
    val e3 = intercept[IllegalArgumentException](t.append(mixed))
    assert(e3.getMessage.contains("series type mismatch"))
    // DIFFERENT series under one name may differ in type (per-series rule,
    // matching the reference's per-lset-hash check)
    t.append(variantSamples(("cpu", "b", Base + 3000, "idle")))
    // the encoding sidecar survives a table re-open (reference `_enc` attr)
    val t2 = new TsdbTable(spark, dir, TsdbConfig())
    val e4 = intercept[IllegalArgumentException](
      t2.append(variantSamples(("cpu", "a", Base + 4000, "late"))))
    assert(e4.getMessage.contains("Cannot append string type metric"))
  }

  test("series_enc sidecar compacts past 64 files; enforcement intact after rewrite") {
    import spark.implicits._
    val dir = Files.createTempDirectory("tsdb_encfiles").toString
    val t = new TsdbTable(spark, dir, TsdbConfig())
    t.append(samples(("cpu", "a", Base + 1, 1.0)))
    // simulate long streaming churn: balloon the sidecar past the 64-file
    // bound with (distinct) dummy series rows — repartitionByRange over 70
    // distinct keys fills every partition (round-robin repartition seeds
    // random offsets and leaves some partitions empty → fewer files)
    (1000L until 1070L).map(i => (i, false)).toDF("series_id", "variant")
      .repartitionByRange(70, col("series_id"))
      .write.mode("append").parquet(s"$dir/series_enc")
    assert(new java.io.File(s"$dir/series_enc").listFiles
      .count(_.getName.endsWith(".parquet")) > 64, "test setup must exceed the bound")
    // the next append with a NEW series triggers the bounded rewrite
    t.append(samples(("mem", "b", Base + 2, 2.0)))
    val files = new java.io.File(s"$dir/series_enc").listFiles
      .count(_.getName.endsWith(".parquet"))
    assert(files <= 2, s"sidecar not compacted: $files files")
    // merged sidecar still enforces the type rule for the original series
    val e = intercept[IllegalArgumentException](
      t.append(variantSamples(("cpu", "a", Base + 3, "x"))))
    assert(e.getMessage.contains("Cannot append string type metric"))
  }

  test("series_enc compaction swap is crash-recoverable: types stay pinned at every window") {
    val dir = Files.createTempDirectory("tsdb_enccrash").toString
    val t = new TsdbTable(spark, dir, TsdbConfig())
    t.append(samples(("cpu", "a", Base + 1, 1.0)))
    val enc = new java.io.File(s"$dir/series_enc")
    val tmp = new java.io.File(s"$dir/series_enc.tmp")
    val old = new java.io.File(s"$dir/series_enc.old")

    // window 1: killed after the live dir moved aside, tmp NOT committed
    // (no _SUCCESS) — the aside copy is authoritative and must come back.
    // The pre-fix delete-then-rename would leave NO sidecar here and the
    // next append would silently re-type every series
    assert(enc.renameTo(old))
    tmp.mkdirs()
    val e1 = intercept[IllegalArgumentException](
      t.append(variantSamples(("cpu", "a", Base + 2, "x"))))
    assert(e1.getMessage.contains("Cannot append string type metric"))
    assert(enc.exists && !old.exists && !tmp.exists)

    // window 2: killed between the two renames with tmp fully committed
    // (a real parquet dir carries _SUCCESS) — recovery finishes forward
    assert(enc.renameTo(tmp))
    val e2 = intercept[IllegalArgumentException](
      t.append(variantSamples(("cpu", "a", Base + 3, "y"))))
    assert(e2.getMessage.contains("Cannot append string type metric"))
    assert(enc.exists && !tmp.exists)

    // window 3: killed after the swap, aside copy left behind — reaped
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(old.toString))
    val e3 = intercept[IllegalArgumentException](
      t.append(variantSamples(("cpu", "a", Base + 4, "z"))))
    assert(e3.getMessage.contains("Cannot append string type metric"))
    assert(enc.exists && !old.exists)

    // and a well-typed append still lands after all that recovery churn
    t.append(samples(("cpu", "a", Base + 5, 5.0)))
    assert(t.readRaw(0, Long.MaxValue / 2).count() == 2)
  }

  test("names dimension survives an interrupted swap or overwrite: the next append keeps every name") {
    // crash states of the names writes, staged by hand after two appends:
    // (1) the swap died between deleting names/ and renaming the
    // committed names.tmp in; (2) an in-place overwrite (refreshNames)
    // died leaving names/ with only its _temporary dir. Read as "no
    // names yet", either state shrank the dimension to the next batch;
    // `names()` reads the committed state and repairs nothing
    val states = Seq[(String, java.io.File => Unit)](
      "committed tmp, no names/" -> { names =>
        assert(names.renameTo(new java.io.File(names.getPath + ".tmp")))
      },
      "names/ holding only _temporary" -> { names =>
        graft.core.Fs.rmTree(names)
        assert(new java.io.File(names, "_temporary/0").mkdirs())
      })
    for ((label, crash) <- states) {
      val t = mkTable()
      t.append(samples(("cpu", "a", Base + 1, 1.0)))
      t.append(samples(("mem", "a", Base + 2, 2.0)))
      crash(new java.io.File(t.path, "names"))
      def listing() = Seq("names", "names.tmp").map(d =>
        Option(new java.io.File(t.path, d).list()).map(_.toSeq.sorted))
      val staged = listing()
      assert(t.names().collect().map(_.getString(0)).toSeq == Seq("cpu", "mem"), label)
      assert(listing() == staged, s"$label: names() must write nothing")
      t.append(samples(("disk", "a", Base + 3, 3.0)))
      assert(t.names().collect().map(_.getString(0)).toSeq == Seq("cpu", "disk", "mem"),
        label)
      assert(!new java.io.File(t.path, "names.tmp").exists(), label)
    }
  }

  test("single-writer contract: a held _writer lock rejects mutations; stale leases break (store.go:449-465)") {
    val dir = Files.createTempDirectory("tsdb_lock").toString
    val t = new TsdbTable(spark, dir, TsdbConfig())
    t.append(samples(("cpu", "a", Base + 1, 1.0)))
    val lock = new java.io.File(dir, "_writer")
    // the lock is held only for the mutation's duration
    assert(!lock.exists)
    // a concurrent writer's live lock → loud rejection, nothing lands
    assert(lock.createNewFile())
    val e = intercept[java.util.ConcurrentModificationException](
      t.append(samples(("cpu", "a", Base + 2, 2.0))))
    assert(e.getMessage.contains("_writer"))
    assert(t.readRaw(0, Long.MaxValue / 2).count() == 1)
    val e2 = intercept[java.util.ConcurrentModificationException](t.delete(0L, Base))
    assert(e2.getMessage.contains("single-writer"))
    // a crashed writer's stale lock (older than the lease) is broken
    assert(lock.setLastModified(System.currentTimeMillis() - 31 * 60000L))
    t.append(samples(("cpu", "a", Base + 3, 3.0)))
    assert(t.readRaw(0, Long.MaxValue / 2).count() == 2)
    assert(!lock.exists)
  }

  test("lease break race: the rename arbiter admits exactly one of two concurrent breakers") {
    val dir = Files.createTempDirectory("tsdb_lockrace").toString
    // the property the lease-break path rests on (TsdbTable.withWriterLock:
    // claim-by-rename before delete): when two waiters race to claim the
    // SAME stale lock, hadoop rename is the atomic arbiter — exactly one
    // rename succeeds, so exactly one breaker deletes the stale file and
    // the loser falls through to the create-contention path
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    (1 to 10).foreach { round =>
      val lock = new org.apache.hadoop.fs.Path(dir, "_writer")
      fs.create(lock, false).close()
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val wins = new java.util.concurrent.atomic.AtomicInteger(0)
      val threads = (1 to 2).map { i =>
        new Thread(() => {
          val claimed = new org.apache.hadoop.fs.Path(dir, s"_writer.stale.$round.$i")
          barrier.await()
          // production (TsdbTable.withWriterLock) treats an IOException
          // from the claim-rename as a loss: on the local fs the loser's
          // rename falls back to FileUtil.copy, which throws
          // FileNotFoundException because the winner already moved the
          // source — mirror that here, or the loser thread dies uncaught
          try {
            if (fs.rename(lock, claimed)) { wins.incrementAndGet(); fs.delete(claimed, false) }
          } catch { case _: java.io.IOException => () }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join(120000))
      assert(threads.forall(!_.isAlive), s"round $round: breaker thread still running")
      assert(wins.get() == 1, s"round $round: ${wins.get()} breakers won the rename")
      assert(!fs.exists(lock))
    }

    // end-to-end: a stale lock + two concurrent mutating writers on the
    // same table path. Every interleaving must satisfy: no deadlock, at
    // most one loud single-writer rejection (zero when the loser arrives
    // after the winner released), all ADMITTED appends landed, and the
    // lock is released afterwards
    val t1 = new TsdbTable(spark, dir, TsdbConfig())
    t1.append(samples(("cpu", "a", Base + 1, 1.0)))
    val t2 = new TsdbTable(spark, dir, TsdbConfig())
    val lockFile = new java.io.File(dir, "_writer")
    var expected = 1L
    // several rounds: the steal-a-fresh-lock TOCTOU this pins (mtime CAS
    // in withWriterLock) only manifests on some interleavings — one
    // sample proved too weak to catch it before the fix
    (1 to 3).foreach { round =>
      assert(lockFile.createNewFile())
      assert(lockFile.setLastModified(System.currentTimeMillis() - 31 * 60000L))
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val rejected = new java.util.concurrent.atomic.AtomicInteger(0)
      val failed = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val ts = Seq((t1, Base + 10 * round, 2.0), (t2, Base + 10 * round + 1, 3.0))
        .map { case (t, tm, v) =>
          new Thread(() => {
            barrier.await()
            try t.append(samples(("cpu", "a", tm, v)))
            catch {
              case _: java.util.ConcurrentModificationException => rejected.incrementAndGet()
              case e: Throwable => failed.set(e)
            }
          })
        }
      ts.foreach(_.start()); ts.foreach(_.join(120000))
      assert(ts.forall(!_.isAlive), s"round $round: a writer deadlocked on the broken lease")
      assert(failed.get() == null, s"round $round: unexpected failure: ${failed.get()}")
      assert(rejected.get() <= 1,
        s"round $round: both writers rejected — the stale lease wedged the table")
      expected += 2 - rejected.get()
      val landed = t1.readRaw(0, Long.MaxValue / 2).count()
      assert(landed == expected,
        s"round $round: rejected=${rejected.get()} landed=$landed expected=$expected")
      assert(!lockFile.exists)
    }
  }

  test("MOR tombstone delete: predicate == anti-filter; re-add out-seqs the tombstone; compaction purges physically; names stay clean") {
    val dir = Files.createTempDirectory("tsdb_tomb").toString
    val t = new TsdbTable(spark, dir,
      TsdbConfig(rollupIntervalMs = 3600000L, overrideOld = true))
    t.append(samples(
      ("cpu", "a", Base + 1000, 1.0), ("cpu", "b", Base + 2000, 2.0),
      ("mem", "a", Base + 3000, 3.0), ("cpu", "a", Base + 4000, 4.0),
      ("tmp", "a", Base + 5000, 5.0)))
    // predicated delete → tombstones, no dir swap: cpu rows of host a
    // in [0, +3500] drop; everything else stays
    t.delete(Base, Base + 3500, metrics = Seq("cpu"),
      filter = "labels['host'] = 'a'")
    val live = t.readRaw(Base, Base + 10000)
      .select("name", "time", "value").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(live == Map(("cpu", Base + 2000) -> 2.0, ("mem", Base + 3000) -> 3.0,
      ("cpu", Base + 4000) -> 4.0, ("tmp", Base + 5000) -> 5.0))
    // rollup rebuilt from the merged view — the deleted row is gone there too
    assert(t.readRollup().agg(sum("__p_sum")).collect().head.getDouble(0) == 14.0)
    // a partial delete keeps the name: cpu still has live rows
    assert(t.names().collect().map(_.getString(0)).toSeq == Seq("cpu", "mem", "tmp"))
    // a metric deleted IN FULL leaves the names list even though its
    // tombstoned rows still exist physically until compaction
    t.delete(Base, Base + 10000, metrics = Seq("tmp"))
    assert(t.names().collect().map(_.getString(0)).toSeq == Seq("cpu", "mem"))
    // re-adding a deleted key out-seqs its tombstone (LWW resurrection)
    t.append(samples(("cpu", "a", Base + 1000, 7.0)))
    assert(t.readRaw(Base, Base + 1500).filter(col("time") === Base + 1000)
      .select("value").collect().map(_.getDouble(0)).toSeq == Seq(7.0))
    // physical rows exceed logical (tombstones + shadowed versions) until
    // compaction purges both and physical == logical again
    val logical = t.countMetrics()
    assert(spark.read.parquet(s"$dir/raw").count() > logical)
    t.compact()
    assert(spark.read.parquet(s"$dir/raw").count() == logical)
    assert(t.countMetrics() == logical)
  }

  test("reader atomicity: a select racing a MOR delete sees the pre- or post-delete view, never a torn one") {
    val dir = Files.createTempDirectory("tsdb_tombrace").toString
    val t = new TsdbTable(spark, dir,
      TsdbConfig(rollupIntervalMs = 3600000L, overrideOld = true))
    t.append(samples((0 until 600).map(i =>
      ("cpu", if (i % 2 == 0) "a" else "b", Base + i * 1000L, i.toDouble)): _*))
    def view() = {
      val r = t.readRaw(Base, Base + 700000000L)
        .agg(count(lit(1)), round(sum("value"), 3)).collect().head
      (r.getLong(0), r.getDouble(1))
    }
    val pre = view()
    // post view computed relationally: host-a rows in the first half drop
    val post = (pre._1 - 150, pre._2 - (0 until 300 by 2).map(_.toDouble).sum)
    val deleter = new Thread(() =>
      t.delete(Base, Base + 299000, filter = "labels['host'] = 'a'"))
    deleter.start()
    val seen = scala.collection.mutable.Set[(Long, Double)]()
    while (deleter.isAlive) seen += view()
    deleter.join()
    seen += view()
    assert(seen.subsetOf(Set(pre, post)),
      s"torn delete view: observed $seen, expected only $pre or $post")
    assert(seen.contains(post))
  }

  test("tombstone delete over a MIXED legacy/stamped partition: staging keeps mergeSchema, legacy LWW intact (pre-__seq files)") {
    val dir = Files.createTempDirectory("tsdb_morlegacy").toString
    val t = new TsdbTable(spark, dir, TsdbConfig(overrideOld = true))
    // a file written before `__seq` existed: enriched schema minus __seq
    samples(("cpu", "a", Base + 1000, 1.0))
      .withColumn("valueStr", lit(null).cast("string"))
      .withColumn("labels_str", graft.core.Labels.canonical(col("labels")))
      .withColumn("series_id", graft.core.Labels.seriesId(col("name"), col("labels")))
      .withColumn("part_start", lit(Base))
      .write.mode("append").partitionBy("part_start").parquet(s"$dir/raw")
    // a stamped rewrite of the same (series, time) — must win LWW
    t.append(samples(("cpu", "a", Base + 1000, 9.0), ("cpu", "a", Base + 2000, 2.0)))
    // a delete matching only Base+2000 goes through the TOMBSTONE path
    // over the mixed-schema partition: the staged read must mergeSchema
    // (a sampled legacy footer would strip __seq and break ordering)
    t.delete(Base + 1500, Base + 2500)
    val got = t.readRaw(Base, Base + 10000).select("time", "value")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // deleted row gone; the stamped version still supersedes the legacy
    assert(got == Map((Base + 1000) -> 9.0))
    // a no-match delete is a clean no-op on the same mixed partition
    t.delete(Base + 500000, Base + 600000)
    assert(t.readRaw(Base, Base + 10000).count() == 1)
  }

  test("retention drops whole partitions past the horizon (config.go:198-200)") {
    val day = 86400000L
    val dir = Files.createTempDirectory("tsdb_ret").toString
    val t = new TsdbTable(spark, dir, TsdbConfig(retentionMs = 2 * day))
    t.append(samples(
      ("cpu", "a", Base + 1, 1.0),             // day 1 — stale
      ("cpu", "a", Base + day + 1, 2.0),       // day 2 — partially covered, kept
      ("cpu", "a", Base + 2 * day + 1, 3.0)))  // day 3 — fresh
    // cutoff = Base + day + 1h: day 1 ends before it → drops; day 2 (whose
    // range extends past the cutoff) is kept whole — retention is
    // partition-granular, like the reference's partition-age deletion
    t.applyRetention(nowMs = Base + 3 * day + 3600000L)
    val left = t.readRaw(0, Long.MaxValue / 2).select("time")
      .collect().map(_.getLong(0)).sorted
    assert(left.toSeq == Seq(Base + day + 1, Base + 2 * day + 1))
    // no-op when retention is unset
    val t2 = mkTable()
    t2.append(samples(("cpu", "a", Base + 1, 1.0)))
    t2.applyRetention(nowMs = Base + 100 * day)
    assert(t2.countMetrics() == 1)
  }

  test("reader atomicity: a select racing an append sees the pre- or post-batch view, never a torn read") {
    // DETERMINISTIC pin of the mechanism: rows beyond the committed
    // watermark are invisible AS A WHOLE BATCH. Rolling `_commits` back
    // reproduces exactly what a reader sees mid-append (files on disk,
    // commit not yet published) without having to catch a microsecond
    // window: the in-flight batch must vanish entirely, not partially.
    val dir = Files.createTempDirectory("tsdb_atomic").toString
    val t = new TsdbTable(spark, dir, TsdbConfig(rollupIntervalMs = 3600000L))
    t.append(samples(("cpu", "a", Base + 1000, 1.0), ("cpu", "a", Base + 2000, 2.0)))
    assert(manifestExists(dir), "append must publish a commit watermark")
    val wm1 = manifestBody(dir)
    t.append(samples(("cpu", "a", Base + 3000, 3.0), ("cpu", "a", Base + 4000, 4.0)))
    assert(t.countMetrics() == 4)
    setManifest(dir, wm1) // batch 2 "in flight"
    assert(t.countMetrics() == 2, "an uncommitted batch must be invisible in full")
    assert(t.readRaw(Base, Base + 10000).agg(max("time"))
      .collect().head.getLong(0) == Base + 2000)
    // no manifest at all (legacy table) → everything visible
    dropManifest(dir)
    assert(t.countMetrics() == 4)
    t.append(samples(("cpu", "a", Base + 5000, 5.0))) // restore a fresh watermark
    assert(t.countMetrics() == 5)

    // clock-skew safety: plant a FAR-FUTURE watermark (as a fast-clocked
    // writer life would), then append through a FRESH table instance
    // (lastSeq = 0, like a restarted process on a slower clock). The
    // instance must seed its seq from the stored watermark — otherwise
    // its batch commits below the watermark's max() and is permanently
    // invisible, and under LWW its rewrites would lose to older rows
    val future = (System.currentTimeMillis() + 10_000_000_000L).toString
    setManifest(dir, future.getBytes("UTF-8")) // bare number = legacy floor
    val t2i = new TsdbTable(spark, dir, TsdbConfig(rollupIntervalMs = 3600000L))
    t2i.append(samples(("cpu", "a", Base + 6000, 6.0)))
    assert(t2i.countMetrics() == 6,
      "a restarted writer's batch must commit above a future watermark")

    // LIVE race: a bigger append from another thread while this thread
    // polls — every observed count is the pre- or the post-batch
    // cardinality, never in between
    val big = spark.range(2000).select(lit("mem").as("name"),
      map(lit("host"), lit("b")).as("labels"),
      (lit(Base) + col("id") * 1000L).as("time"),
      col("id").cast("double").as("value"))
    val pre = t.countMetrics()
    val appender = new Thread(() => t.append(big))
    appender.start()
    val seen = scala.collection.mutable.Set[Long]()
    while (appender.isAlive) seen += t.countMetrics()
    appender.join()
    seen += t.countMetrics()
    assert(seen.subsetOf(Set(pre, pre + 2000)),
      s"torn read: observed counts $seen, expected only $pre or ${pre + 2000}")
    assert(seen.contains(pre + 2000))
  }

  test("exact-set admission: a crashed mutation's orphans stay invisible across later commits; compaction purges them and collapses the manifest") {
    val dir = Files.createTempDirectory("tsdb_orphan").toString
    val t = new TsdbTable(spark, dir,
      TsdbConfig(rollupIntervalMs = 3600000L, overrideOld = true))
    t.append(samples(("cpu", "a", Base + 1000, 1.0), ("cpu", "a", Base + 2000, 2.0)))
    val beforeB2 = manifestBody(dir)
    t.append(samples(("cpu", "a", Base + 3000, 3.0), ("cpu", "a", Base + 4000, 4.0),
      ("cpu", "a", Base + 5000, 5.0)))
    assert(t.countMetrics() == 5)
    // simulate batch 2 CRASHING before its commit: its files are on disk
    // but its seq never entered the manifest
    setManifest(dir, beforeB2)
    assert(t.countMetrics() == 2)
    // a LATER commit must NOT resurrect the orphans — under the earlier
    // high-watermark design, batch 3's higher mark re-admitted every
    // orphan seq below it (review-caught); exact-set admission doesn't
    t.append(samples(("cpu", "a", Base + 6000, 6.0)))
    assert(t.countMetrics() == 3,
      "a later commit resurrected a crashed mutation's orphan batch")
    // compaction physically purges the orphans (its reads are
    // visibility-filtered) and advances the floor, collapsing the
    // manifest's explicit set
    t.compact()
    assert(t.countMetrics() == 3)
    assert(spark.read.parquet(s"$dir/raw").count() == 3)
    val manifest = new String(manifestBody(dir), "UTF-8")
      .split("\n").map(_.trim).filter(_.nonEmpty)
    assert(manifest.head.startsWith("floor=") &&
      manifest.forall(l => l.startsWith("floor=") || l.startsWith("horizon=")),
      s"manifest set not collapsed after compaction: ${manifest.toSeq}")
  }

  test("orphan seqs are never re-issued by a writer restart; vacuum() sweeps orphans and collapses the manifest") {
    val dir = Files.createTempDirectory("tsdb_seqreuse").toString
    val t1 = new TsdbTable(spark, dir, TsdbConfig(rollupIntervalMs = 3600000L))
    t1.append(samples(("cpu", "a", Base + 1000, 1.0)))
    // drive the table's seqs AHEAD of the wall clock (a fast-clocked
    // writer life), so a restarted writer would re-issue them if it
    // seeded from the manifest alone
    val future = (System.currentTimeMillis() + 10_000_000_000L).toString
    setManifest(dir, ("floor=" + future).getBytes("UTF-8"))
    val preOrphan = manifestBody(dir)
    val t2 = new TsdbTable(spark, dir, TsdbConfig(rollupIntervalMs = 3600000L))
    t2.append(samples(("cpu", "a", Base + 2000, 2.0))) // seq = future+1
    // simulate that append CRASHING before its commit
    setManifest(dir, preOrphan)
    assert(t2.countMetrics() == 1)
    // a THIRD writer life must seed past the orphan's STAMPED seq (the
    // manifest max is only `future`): if it re-issued future+1, this
    // commit would resurrect the orphan row alongside its own
    val t3 = new TsdbTable(spark, dir, TsdbConfig(rollupIntervalMs = 3600000L))
    t3.append(samples(("cpu", "a", Base + 3000, 3.0)))
    val live = t3.readRaw(Base, Base + 10000).select("time").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(live == Seq(Base + 1000, Base + 3000),
      s"orphan seq re-issued and resurrected: $live")
    // vacuum physically sweeps the orphan file and collapses the manifest
    val physBefore = spark.read.parquet(s"$dir/raw").count()
    assert(physBefore == 3) // orphan still on disk, just invisible
    t3.vacuum()
    assert(spark.read.parquet(s"$dir/raw").count() == 2)
    assert(t3.countMetrics() == 2)
    val manifest = new String(manifestBody(dir), "UTF-8")
      .split("\n").map(_.trim).filter(_.nonEmpty)
    assert(manifest.head.startsWith("floor=") &&
      manifest.forall(l => l.startsWith("floor=") || l.startsWith("horizon=")))
  }

  test("vacuum on a many-file table: executor-side sweep deletes exactly the orphans, all committed files survive") {
    val dir = Files.createTempDirectory("tsdb_vacuum_many").toString
    val t = new TsdbTable(spark, dir, TsdbConfig(rollupIntervalMs = 3600000L))
    // many committed generations -> many live files (one+ per append)
    for (i <- 0 until 12)
      t.append(samples(("cpu", "a", Base + i * 1000L, i.toDouble)))
    val committedFiles = spark.read.parquet(s"$dir/raw").count()
    assert(committedFiles >= 12)
    // TWO independent crashed appends (commit manifest rolled back after
    // each write), interleaved with one more committed generation
    val snap1 = manifestBody(dir)
    t.append(samples(("cpu", "a", Base + 100000L, 100.0)))
    setManifest(dir, snap1)
    t.append(samples(("cpu", "a", Base + 12000L, 12.0))) // committed
    val snap2 = manifestBody(dir)
    t.append(samples(("cpu", "a", Base + 200000L, 200.0)))
    setManifest(dir, snap2)
    assert(spark.read.parquet(s"$dir/raw").count() == committedFiles + 3)
    assert(t.countMetrics() == 13) // both orphans invisible
    t.vacuum()
    // exactly the two orphan rows' files are gone; every committed row
    // (including the one committed BETWEEN the crashes) survives
    assert(spark.read.parquet(s"$dir/raw").count() == committedFiles + 1)
    val live = t.readRaw(Base, Base + 600000000L).select("time").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(live == (0 to 12).map(i => Base + i * 1000L))
    val manifest = new String(manifestBody(dir), "UTF-8")
      .split("\n").map(_.trim).filter(_.nonEmpty)
    assert(manifest.forall(l => l.startsWith("floor=") || l.startsWith("horizon=")))
  }

  test("rollup-at-snapshot freezes the rollup file list: a commit landing after planning cannot alter the snapshot result") {
    val dir = Files.createTempDirectory("tsdb_asof_freeze").toString
    val t = new TsdbTable(spark, dir,
      TsdbConfig(rollupIntervalMs = 3600000L, overrideOld = true))
    t.append(samples((0 until 12).map(h =>
      ("cpu", "a", Base + h * 3600000L + 500, h.toDouble)): _*))
    t.append(samples((0 until 12).map(h =>
      ("cpu", "a", Base + 86400000L + h * 3600000L + 500, 100.0 + h)): _*))
    val snap = t.currentSeq()
    val p = SelectParams(functions = "count,sum",
      from = Base, to = Base + 10 * 86400000L, step = 86400000L)
    assert(t.canServerAggregate(p))
    def collectSorted(df: org.apache.spark.sql.DataFrame) =
      df.select("t", "count", "sum").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).sortBy(_._1).toSeq
    val expected = collectSorted(t.selectAsOf(p, snap))
    assert(expected.map(_._1) == Seq(Base, Base + 86400000L))
    // plan FIRST, commit a new partition into the query range SECOND,
    // execute the stale plan THIRD: the frozen rollup file list (listed
    // before the touched-partition probe) must keep the day-5 partials
    // out — the invariant the r9 review fix guarantees by construction
    // rather than by InMemoryFileIndex listing internals
    val stale = t.selectAsOf(p, snap)
    t.append(samples((0 until 6).map(h =>
      ("cpu", "a", Base + 5 * 86400000L + h * 3600000L + 500, 999.0)): _*))
    assert(collectSorted(stale) == expected,
      "post-plan commit leaked into the frozen snapshot plan")
    // a FRESH plan after the commit classifies day 5 as touched, rebuilds
    // it from the seq-fenced raw snapshot (empty at snap), and still
    // serves the exact snapshot
    assert(collectSorted(t.selectAsOf(p, snap)) == expected)
    // the CURRENT view does see the new day
    assert(collectSorted(t.select(p)).map(_._1).contains(Base + 5 * 86400000L))
    // a refreshRollup crashed mid-job leaves .spark-staging-*/ partials
    // under the rollup base FOREVER — the frozen file list must skip
    // hidden path SEGMENTS (not just hidden leaves), or the snapshot
    // aggregate double-counts day-0's partials (review finding r9 pass 2)
    val day0 = new java.io.File(s"$dir/rollup/part_start=$Base")
    val staged = new java.io.File(
      s"$dir/rollup/.spark-staging-test/part_start=$Base")
    staged.mkdirs()
    day0.listFiles.filter(_.getName.endsWith(".parquet")).foreach { src =>
      java.nio.file.Files.copy(src.toPath,
        new java.io.File(staged, src.getName).toPath)
    }
    assert(collectSorted(t.selectAsOf(p, snap)) == expected,
      "crashed-job staging partials leaked into the frozen snapshot plan")
  }

  test("selectAsOf raw fallback on a legacy un-stamped table keeps the REQUESTED step (no leaked coercion)") {
    val dir = Files.createTempDirectory("tsdb_asof_legacy").toString
    val t = new TsdbTable(spark, dir,
      TsdbConfig(rollupIntervalMs = 3600000L, disableClientAggregation = true))
    t.append(samples((0 until 30).map(h =>
      ("cpu", "a", Base + h * 3600000L + 500, h.toDouble)): _*))
    // age the table into a LEGACY one: strip __seq from raw and drop the
    // commit manifest (the pre-version-store on-disk shape)
    val rawDir = s"$dir/raw"
    val stripped = spark.read.parquet(rawDir).drop("__seq")
    stripped.write.mode("overwrite").partitionBy("part_start")
      .parquet(s"$dir/raw_legacy")
    graft.core.Fs.rmTree(new java.io.File(rawDir))
    assert(new java.io.File(s"$dir/raw_legacy").renameTo(new java.io.File(rawDir)))
    dropManifest(dir)
    val t2 = new TsdbTable(spark, dir,
      TsdbConfig(rollupIntervalMs = 3600000L, disableClientAggregation = true))
    // step=1d > rollup=1h: disableClientAggr coerces the LIVE query down
    // to 1h (rollup-served); the SNAPSHOT query cannot rollup-serve here
    // (no __seq -> no untouched proof) and must fall back to raw at the
    // ORIGINAL day step — pre-fix it leaked the coerced 1h step and
    // returned 30 cells instead of 2
    val p = SelectParams(functions = "sum",
      from = Base, to = Base + 2 * 86400000L, step = 86400000L)
    val snapRows = t2.selectAsOf(p, 1L).select("t", "sum").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    assert(snapRows.map(_._1) == Seq(Base, Base + 86400000L),
      s"fallback served the wrong granularity: ${snapRows.map(_._1)}")
    assert(snapRows.map(_._2) == Seq((0 until 24).sum.toDouble, (24 until 30).sum.toDouble))
    // the LIVE view still coerces and rollup-serves at 1h granularity
    assert(t2.select(p).count() == 30)
  }

  test("reader atomicity: a select racing compaction sees a constant view (append-alongside + LWW commit)") {
    val dir = Files.createTempDirectory("tsdb_atomic_c").toString
    val t = new TsdbTable(spark, dir,
      TsdbConfig(rollupIntervalMs = 3600000L, overrideOld = true))
    t.append(samples((0 until 500).map(i =>
      ("cpu", "a", Base + i * 1000L, i.toDouble)): _*))
    // rewrite half the keys so compaction has versions to drop
    t.append(samples((0 until 250).map(i =>
      ("cpu", "a", Base + i * 1000L, i + 0.5)): _*))
    val expect = t.readRaw(Base, Base + 600000000L)
      .agg(count(lit(1)), sum("value")).collect().head
    val (n0, s0) = (expect.getLong(0), expect.getDouble(1))
    val compactor = new Thread(() => t.compact())
    compactor.start()
    var errs = 0
    while (compactor.isAlive) {
      // the one documented residual hazard: a reader that resolved old
      // file names just before their post-commit deletion can hit a
      // retryable read ERROR — never wrong data. Tolerate the error,
      // assert the values.
      try {
        val r = t.readRaw(Base, Base + 600000000L)
          .agg(count(lit(1)), sum("value")).collect().head
        assert(r.getLong(0) == n0 && r.getDouble(1) == s0,
          s"torn compaction view: ${r.getLong(0)} rows / sum ${r.getDouble(1)}, expected $n0 / $s0")
      } catch { case _: org.apache.spark.SparkException => errs += 1 }
    }
    compactor.join()
    val after = t.readRaw(Base, Base + 600000000L)
      .agg(count(lit(1)), sum("value")).collect().head
    assert(after.getLong(0) == n0 && after.getDouble(1) == s0)
    // compaction physically dropped the superseded versions
    assert(spark.read.parquet(s"$dir/raw").count() == n0)
  }

  test("time travel: readRawAsOf/selectAsOf reproduce earlier states; compaction fences older snapshots") {
    import spark.implicits._
    val dir = Files.createTempDirectory("tsdb_tt").toString
    val t = new TsdbTable(spark, dir,
      TsdbConfig(rollupIntervalMs = 3600000L, overrideOld = true))
    t.append(samples(("cpu", "a", Base + 1000, 1.0), ("cpu", "a", Base + 2000, 2.0)))
    val s1 = t.currentSeq()
    t.append(samples(("cpu", "a", Base + 1000, 9.0), ("cpu", "a", Base + 3000, 3.0)))
    val s2 = t.currentSeq()
    t.delete(Base, Base + 2500) // tombstones t=+1000, t=+2000
    assert(t.readRaw(Base, Base + 10000).select("value").as[Double]
      .collect().toSeq == Seq(3.0))
    // snapshot s1: the original rows, pre-override, pre-delete
    val v1 = t.readRawAsOf(Base, Base + 10000, s1)
      .select("time", "value").as[(Long, Double)].collect().toMap
    assert(v1 == Map(Base + 1000 -> 1.0, Base + 2000 -> 2.0))
    // snapshot s2: the override won, the later delete hasn't happened
    val v2 = t.readRawAsOf(Base, Base + 10000, s2)
      .select("time", "value").as[(Long, Double)].collect().toMap
    assert(v2 == Map(Base + 1000 -> 9.0, Base + 2000 -> 2.0, Base + 3000 -> 3.0))
    // snapshot queries run precise-from-raw (rollup has no history)
    val day = 86400000L
    val sel = t.selectAsOf(SelectParams(name = "cpu", functions = "sum",
      from = Base, to = Base + day - 1, step = day), s1)
    assert(sel.select("sum").as[Double].collect().toSeq == Seq(3.0))
    // compaction destroys superseded generations → snapshots below refuse
    t.compact()
    val e = intercept[IllegalArgumentException](
      t.readRawAsOf(Base, Base + 10000, s1).collect())
    assert(e.getMessage.contains("horizon"))
    assert(t.readRaw(Base, Base + 10000).select("value").as[Double]
      .collect().toSeq == Seq(3.0), "compaction must not change the current view")
    // a fresh snapshot taken after compaction works
    assert(t.readRawAsOf(Base, Base + 10000, t.currentSeq()).count() == 1)
    // the commit log reflects the collapse: retained commits + floor +
    // the raised horizon (DESCRIBE HISTORY analog)
    val hist = t.history().collect().map(r => r.getString(0) -> r.getLong(1))
    assert(hist.exists { case (k, v) => k == "horizon" && v > 0 })
    assert(hist.exists { case (k, v) => k == "floor" && v > 0 })
  }

  test("SQL ASOF: time travel from the dialect routes select() to the snapshot path") {
    import spark.implicits._
    val dir = Files.createTempDirectory("tsdb_asof_sql").toString
    val t = new TsdbTable(spark, dir,
      TsdbConfig(rollupIntervalMs = 3600000L, overrideOld = true))
    t.append(samples(("cpu", "a", Base + 1000, 1.0), ("cpu", "a", Base + 2000, 2.0)))
    val snap = t.currentSeq()
    t.append(samples(("cpu", "a", Base + 1000, 9.0)))
    val day = 86400000L
    val p = TsdbSql.parse(s"select sum(cpu) from tsdb asof $snap")
      .copy(from = Base, to = Base + day - 1, step = day)
    assert(p.asOfSeq == snap)
    assert(t.select(p).select("sum").as[Double].collect().toSeq == Seq(3.0))
    // without ASOF the override is visible
    val now = TsdbSql.parse("select sum(cpu) from tsdb")
      .copy(from = Base, to = Base + day - 1, step = day)
    assert(t.select(now).select("sum").as[Double].collect().toSeq == Seq(11.0))
    // ASOF composes with WHERE and GROUP BY clauses
    val p2 = TsdbSql.parse(s"select sum(cpu) from tsdb asof $snap where host=='a' group by host")
    assert(p2.asOfSeq == snap && p2.filter.contains("labels['host']") &&
      p2.groupBy == "host")
    // `ASOF 0` is rejected at parse time, matching readRawAsOf's handle
    // validation — select() would silently treat it as "current view"
    // (advisor-caught)
    intercept[IllegalArgumentException](
      TsdbSql.parse("select sum(cpu) from tsdb asof 0"))
  }

  test("selectAsOf: server-aggregate fast path — untouched partitions serve from the live rollup, touched ones rebuild from the snapshot") {
    import spark.implicits._
    val day = 86400000L
    val dir = Files.createTempDirectory("tsdb_asof_rollup").toString
    val t = new TsdbTable(spark, dir,
      TsdbConfig(rollupIntervalMs = 3600000L, overrideOld = true))
    // two day-partitions; step 4h / rollup 1h ⇒ CanAggregate holds
    t.append(samples(
      ("cpu", "a", Base + 1000, 1.0), ("cpu", "a", Base + 7200000, 2.0),
      ("cpu", "a", Base + day + 1000, 3.0), ("cpu", "a", Base + day + 7200000, 4.0)))
    val p = SelectParams(name = "cpu", functions = "count,sum,max",
      from = Base, to = Base + 2 * day - 1, step = 4 * 3600000L)
    assert(t.canServerAggregate(p), "fixture must engage the rollup planner")
    val before = t.select(p).orderBy("t").collect().map(_.toSeq).toSeq
    val snap = t.currentSeq()
    // mutate ONLY day 1: an LWW override and a later tombstone delete
    t.append(samples(("cpu", "a", Base + day + 1000, 30.0)))
    t.delete(Base + day + 7000000, Base + day + 7400000)
    val res = t.selectAsOf(p, snap)
    assert(res.orderBy("t").collect().map(_.toSeq).toSeq == before,
      "snapshot aggregate must equal the pre-mutation result")
    // and the current view really changed (day-1 cells differ)
    assert(t.select(p).orderBy("t").collect().map(_.toSeq).toSeq != before)
    // plan receipts: the snapshot plan scans the LIVE ROLLUP (for the
    // untouched day-0 partition) and the raw table only for the touched
    // day-1 partition's rebuild
    val mixedPlan = res.queryExecution.executedPlan.toString
    assert(mixedPlan.contains("/rollup"), "untouched partitions must serve from the rollup")
    assert(mixedPlan.contains("/raw"), "touched partitions must rebuild from the raw snapshot")
    // a snapshot at the CURRENT seq has no touched partitions: pure
    // rollup scan, identical to the live fast path — no raw scan at all
    val nowRes = t.selectAsOf(p, t.currentSeq())
    val purePlan = nowRes.queryExecution.executedPlan.toString
    assert(purePlan.contains("/rollup") && !purePlan.contains("/raw"),
      s"no-touch snapshot must be a pure rollup scan, got:\n$purePlan")
    assert(nowRes.orderBy("t").collect().map(_.toSeq).toSeq ==
      t.select(p).orderBy("t").collect().map(_.toSeq).toSeq)
    // precise semantics are untouched: a step below the CanAggregate
    // coefficient falls back to raw and still matches the snapshot
    val fine = p.copy(step = 3600000L)
    assert(!t.canServerAggregate(fine))
    val fineSnap = t.selectAsOf(fine, snap).orderBy("t").collect().map(_.toSeq)
    assert(fineSnap.nonEmpty &&
      !t.selectAsOf(fine, snap).queryExecution.executedPlan.toString.contains("/rollup"))
    // usePreciseAggregations opts OUT of the fast path under ASOF too
    val precise = p.copy(usePreciseAggregations = true)
    assert(!t.selectAsOf(precise, snap).queryExecution.executedPlan
      .toString.contains("/rollup"))
    assert(t.selectAsOf(precise, snap).orderBy("t").collect().map(_.toSeq).toSeq == before)
    // the horizon fence governs the rollup path like the raw path:
    // compaction rewrites history, old snapshots are refused loudly
    t.compact()
    intercept[IllegalArgumentException](t.selectAsOf(p, snap).collect())
  }

  test("selectAsOf: pre-aggregate fast path serves a groupBy snapshot; touched partitions rebuild per label subset") {
    import spark.implicits._
    val day = 86400000L
    val dir = Files.createTempDirectory("tsdb_asof_preagg").toString
    val t = new TsdbTable(spark, dir,
      TsdbConfig(rollupIntervalMs = 3600000L, overrideOld = true,
        preAggregates = Seq(Seq("host"))))
    t.append(samples(
      ("cpu", "a", Base + 1000, 1.0), ("cpu", "b", Base + 7200000, 2.0),
      ("cpu", "a", Base + day + 1000, 3.0), ("cpu", "b", Base + day + 7200000, 4.0)))
    val p = SelectParams(name = "cpu", functions = "count,sum",
      groupBy = "host", from = Base, to = Base + 2 * day - 1, step = 4 * 3600000L)
    val before = t.select(p).orderBy("host", "t").collect().map(_.toSeq).toSeq
    val snap = t.currentSeq()
    t.append(samples(("cpu", "a", Base + day + 1000, 30.0)))
    val res = t.selectAsOf(p, snap)
    assert(res.orderBy("host", "t").collect().map(_.toSeq).toSeq == before)
    assert(t.select(p).orderBy("host", "t").collect().map(_.toSeq).toSeq != before)
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("rollup_agg"), "untouched partitions must serve from the pre-aggregate table")
  }

  test("changes: CDC window nets insert/update/delete; in-window insert+delete nets out") {
    import spark.implicits._
    val dir = Files.createTempDirectory("tsdb_cdc").toString
    val t = new TsdbTable(spark, dir,
      TsdbConfig(rollupIntervalMs = 3600000L, overrideOld = true))
    t.append(samples(("cpu", "a", Base + 1000, 1.0), ("cpu", "a", Base + 2000, 2.0)))
    val s1 = t.currentSeq()
    t.append(samples(("cpu", "a", Base + 1000, 9.0), // rewrite of a live key
      ("cpu", "a", Base + 3000, 3.0),                // new key
      ("cpu", "a", Base + 4000, 4.0)))               // new key, deleted below
    val s2 = t.currentSeq()
    t.delete(Base + 3500, Base + 4500) // in-window insert+delete → net no-op
    t.delete(Base + 1500, Base + 2500) // pre-existing key → delete
    val ch = t.changes(s1).select("time", "value", "_change_type")
      .as[(Long, Double, String)].collect().toSet
    assert(ch == Set((Base + 1000, 9.0, "update"),
      (Base + 3000, 3.0, "insert"),
      (Base + 2000, 2.0, "delete")))
    // untilSeq bounds the window: at s2 the deletes haven't happened
    val chBounded = t.changes(s1, s2).select("time", "value", "_change_type")
      .as[(Long, Double, String)].collect().toSet
    assert(chBounded == Set((Base + 1000, 9.0, "update"),
      (Base + 3000, 3.0, "insert"), (Base + 4000, 4.0, "insert")))
    // from the beginning: only what's net-live (or net-deleted-from-prior);
    // keys born AND killed inside the window are absent
    val ch0 = t.changes(0L).select("time", "_change_type")
      .as[(Long, String)].collect().toSet
    assert(ch0 == Set((Base + 1000, "insert"), (Base + 3000, "insert")))
    // preImages: each update gains its since-snapshot pre-image row (the
    // Delta CDF update_preimage half) — inserts and deletes don't
    val chPre = t.changes(s1, preImages = true)
      .select("time", "value", "_change_type")
      .as[(Long, Double, String)].collect().toSet
    assert(chPre == ch + ((Base + 1000, 1.0, "update_preimage")))
    // the SQL surface (r9) routes to the identical feed: CHANGES SINCE,
    // with UNTIL and WITH PREIMAGES, and an inverted window is rejected
    // at parse time (an empty feed would read as "no changes" to a CDC
    // consumer, silently falling behind)
    assert(t.sql(s"changes since $s1").collect().map(_.toSeq).toSet ==
      t.changes(s1).collect().map(_.toSeq).toSet)
    assert(t.sql(s"CHANGES SINCE $s1 UNTIL $s2 WITH PREIMAGES")
      .collect().map(_.toSeq).toSet ==
      t.changes(s1, s2, preImages = true).collect().map(_.toSeq).toSet)
    intercept[IllegalArgumentException](t.sql(s"changes since $s2 until $s1"))
    // and a SELECT through the same entry point still selects (full
    // range default when the caller supplies no window)
    assert(t.sql("select cpu from tsdb").count() > 0)
    // tombstone deletes preserve history: snapshots and CDC both still work
    assert(t.readRawAsOf(Base, Base + 10000, s1).count() == 2)
    // after compaction the pre-images are gone → changes below refuses
    t.compact()
    val e = intercept[IllegalArgumentException](t.changes(s1).collect())
    assert(e.getMessage.contains("horizon"))
    assert(t.changes(t.currentSeq()).count() == 0)
  }

  test("cloneAt: a snapshot export is independent of the source's later mutations and compactions") {
    import spark.implicits._
    val dir = Files.createTempDirectory("tsdb_clone").toString
    val t = new TsdbTable(spark, dir,
      TsdbConfig(rollupIntervalMs = 3600000L, overrideOld = true))
    t.append(samples(("cpu", "a", Base + 1000, 1.0), ("cpu", "a", Base + 2000, 2.0)))
    val snap = t.currentSeq()
    t.append(samples(("cpu", "a", Base + 1000, 9.0)))
    val clone = t.cloneAt(snap, s"$dir-clone")
    val view = (x: TsdbTable) => x.readRaw(Base, Base + 10000)
      .select("time", "value").as[(Long, Double)].collect().toMap
    assert(view(clone) == Map(Base + 1000 -> 1.0, Base + 2000 -> 2.0))
    // the source moves on — including a compaction that fences `snap`
    // there — while the clone keeps serving the exported state through
    // its own rollup and names
    t.delete(Base, Base + 1500)
    t.compact()
    intercept[IllegalArgumentException](t.readRawAsOf(Base, Base + 10000, snap))
    assert(view(clone) == Map(Base + 1000 -> 1.0, Base + 2000 -> 2.0))
    assert(clone.names().collect().map(_.getString(0)).toSeq == Seq("cpu"))
    assert(clone.readRollup().agg(sum("__p_sum")).collect().head.getDouble(0) == 3.0)
    // and the clone has its own history: one commit, no horizon
    val kinds = clone.history().collect().map(r => r.getString(0))
    assert(kinds.count(_ == "commit") == 1)
  }

  test("changes: update-then-delete in one window emits the AT-SINCE pre-image, not the tombstone's mid-window copy") {
    import spark.implicits._
    val dir = Files.createTempDirectory("tsdb_cdc_pre").toString
    val t = new TsdbTable(spark, dir,
      TsdbConfig(rollupIntervalMs = 3600000L, overrideOld = true))
    t.append(samples(("cpu", "a", Base + 1000, 1.0)))
    val s1 = t.currentSeq()
    t.append(samples(("cpu", "a", Base + 1000, 9.0))) // in-window update...
    t.delete(Base + 500, Base + 1500)                 // ...then delete
    val ch = t.changes(s1).select("value", "_change_type")
      .as[(Double, String)].collect().toSet
    // net effect since s1: the key is gone; the delete row must carry
    // the value live AT s1 (1.0) — an exact maintainer subtracts it —
    // not the tombstone's copy of the mid-window 9.0
    assert(ch == Set((1.0, "delete")), s"got $ch")
    // asOf handle 0 is never valid (legacy tables have no history)
    intercept[IllegalArgumentException](t.readRawAsOf(Base, Base + 9999, 0L))
  }

  test("changes on an append-only table: every window row is an insert") {
    import spark.implicits._
    val t = mkTable()
    t.append(samples(("cpu", "a", Base + 1000, 1.0)))
    val s1 = t.currentSeq()
    t.append(samples(("cpu", "a", Base + 2000, 2.0), ("mem", "b", Base + 3000, 5.0)))
    val ch = t.changes(s1).select("time", "_change_type")
      .as[(Long, String)].collect().toSet
    assert(ch == Set((Base + 2000, "insert"), (Base + 3000, "insert")))
    assert(t.changes(0L).count() == 3)
    // the scale contract: the CDC window filter reaches the parquet scan
    // as a __seq predicate, so row-group stats (constant __seq per file)
    // exclude unchanged files without reading them
    val plan = t.changes(s1).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("__seq"),
      s"__seq window not pushed to the scan:\n$plan")
  }

  test("horizon: partition-drop delete fences history, MOR tombstone delete does not") {
    val day = 86400000L
    val dir = Files.createTempDirectory("tsdb_hz").toString
    val t = new TsdbTable(spark, dir,
      TsdbConfig(rollupIntervalMs = 3600000L, overrideOld = true))
    t.append(samples(("cpu", "a", Base + 1000, 1.0),
      ("cpu", "a", Base + day + 1000, 2.0),
      ("cpu", "a", Base + 2 * day + 1000, 3.0)))
    val s1 = t.currentSeq()
    // predicated range inside a partition → tombstone path, history kept
    t.delete(Base + 2 * day + 500, Base + 2 * day + 1500)
    assert(t.readRawAsOf(Base, Base + 3 * day, s1).count() == 3)
    // whole-partition drop → generations physically gone, fence rises
    t.delete(Base, Base + day - 1)
    val e = intercept[IllegalArgumentException](
      t.readRawAsOf(Base, Base + 3 * day, s1).collect())
    assert(e.getMessage.contains("horizon"))
    // the POST-delete state still has a snapshot handle: the drop
    // commits its fence seq, so currentSeq() serves the current view
    // (a bare horizon advance would leave even fresh handles refused
    // until the next mutation)
    assert(t.currentSeq() >= 0)
    assert(t.readRawAsOf(Base, Base + 3 * day, t.currentSeq()).count() ==
      t.readRaw(Base, Base + 3 * day).count())
  }

  test("every landing path writes one seq per mutation and commits nothing on empty input") {
    val day = 86400000L
    val cfg = TsdbConfig(rollupIntervalMs = 3600000L, overrideOld = true)
    val rows = for {
      n <- Seq("cpu", "mem"); h <- Seq("a", "b"); d <- 0 until 3; i <- 0 until 4
    } yield (n, h, Base + d * day + i * 1000L, (d * 10 + i).toDouble)
    def mk(prefix: String): (String, TsdbTable) = {
      val dir = s"${Files.createTempDirectory(prefix)}/tbl"
      (dir, new TsdbTable(spark, dir, cfg))
    }
    val (dir, t) = mk("tsdb_land")
    def commits(): Seq[Long] = t.history().filter(col("kind") === "commit")
      .select("seq").as[Long].collect().toSeq.sorted
    // raw file -> the distinct __seq values it holds
    def files(): Map[String, Seq[Long]] =
      if (!new java.io.File(s"$dir/raw").exists()) Map.empty
      else spark.read.schema(TsdbTable.RawFileSchema).parquet(s"$dir/raw")
        .groupBy(input_file_name().as("f")).agg(collect_set("__seq").as("s"))
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    def landsOneSeq(what: String)(mutation: => Unit): Unit = {
      val (c0, f0) = (commits(), files())
      mutation
      val (c1, f1) = (commits(), files())
      val added = c1.diff(c0)
      assert(c0.forall(c1.contains) && added.size == 1,
        s"$what: expected one new commit, got $added")
      val fresh = f1 -- f0.keySet
      assert(fresh.nonEmpty && fresh.values.forall(_ == Seq(added.head)),
        s"$what: every new raw file must hold exactly seq ${added.head}: $fresh")
    }
    def landsNothing(what: String)(mutation: => Unit): Unit = {
      val (c0, f0, s0) = (commits(), files(), t.currentSeq())
      mutation
      assert(commits() == c0 && files() == f0 && t.currentSeq() == s0,
        s"$what: empty input must commit nothing")
    }

    landsOneSeq("append")(t.append(samples(rows: _*)))
    landsNothing("empty append")(t.append(samples().limit(0)))
    landsNothing("empty streaming micro-batch")(
      graft.streaming.IngestJob.appendBatch(t, samples().limit(0),
        inWatermarkDeduped = false, txn = Some(("q", 0L))))
    assert(t.txnVersion("q") < 0L)

    spark.sql(s"CREATE TABLE graft_land USING graft OPTIONS (path '$dir')")
    try {
      landsOneSeq("SQL UPDATE")(spark.sql(
        s"UPDATE graft_land SET value = value + 100 WHERE name = 'cpu' AND time < ${Base + day}"))
      Seq(("cpu", "a", Base + 2 * day + 1000L, 0.0, "delete"),
        ("mem", "b", Base + day, 7.0, "update"),
        ("disk", "c", Base + day + 500L, 4.0, "insert"))
        .toDF("name", "host", "time", "value", "action")
        .select(col("name"), map(lit("host"), col("host")).as("labels"),
          col("time"), col("value"), col("action"))
        .createOrReplaceTempView("graft_land_src")
      landsOneSeq("SQL MERGE")(spark.sql(
        """MERGE INTO graft_land tgt USING graft_land_src src
          |ON tgt.name = src.name AND tgt.labels_str = concat('host=', src.labels['host'])
          |   AND tgt.time = src.time
          |WHEN MATCHED AND src.action = 'delete' THEN DELETE
          |WHEN MATCHED THEN UPDATE SET value = src.value
          |WHEN NOT MATCHED THEN INSERT (name, labels, time, value)
          |  VALUES (src.name, src.labels, src.time, src.value)
          |""".stripMargin))
      landsOneSeq("MOR delete")(t.delete(Base, Base + day + 1500L, metrics = Seq("cpu")))
    } finally spark.sql("DROP TABLE graft_land")
    // touched rollup partitions and names follow the merged view
    def rollupOf(x: TsdbTable) = x.readRollup().drop("part_start")
      .collect().map(_.toString).sorted.toSeq
    val fresh = mk("tsdb_land_ref")._2
    fresh.append(t.readRaw(0L, Long.MaxValue).select("name", "labels", "time", "value"))
    assert(rollupOf(t) == rollupOf(fresh))
    assert(t.names().collect().map(_.getString(0)).sorted.toSeq == Seq("cpu", "disk", "mem"))

    // the API delete and the equivalent SQL DELETE land the same rows
    val (apiDir, api) = mk("tsdb_land_api")
    val (sqlDir, viaSql) = mk("tsdb_land_sql")
    api.append(samples(rows: _*))
    viaSql.append(samples(rows: _*))
    val (apiSince, sqlSince) = (api.currentSeq(), viaSql.currentSeq())
    api.delete(Base + 1000L, Base + 2 * day + 2000L, metrics = Seq("mem"))
    spark.sql(s"CREATE TABLE graft_land_del USING graft OPTIONS (path '$sqlDir')")
    try spark.sql(s"DELETE FROM graft_land_del WHERE name = 'mem' AND " +
      s"time BETWEEN ${Base + 1000L} AND ${Base + 2 * day + 2000L}")
    finally spark.sql("DROP TABLE graft_land_del")
    def view(x: TsdbTable) = x.readRaw(0L, Long.MaxValue)
      .drop("labels").collect().map(_.toString).sorted.toSeq
    def changed(x: TsdbTable, since: Long) = x.changes(since)
      .drop("labels").collect().map(_.toString).sorted.toSeq
    assert(view(api) == view(viaSql))
    assert(rollupOf(api) == rollupOf(viaSql))
    val apiChanges = changed(api, apiSince)
    assert(apiChanges == changed(viaSql, sqlSince))
    // delete rows carry the at-since pre-image: every deleted mem sample
    val deleted = rows.filter { case (n, _, tm, _) =>
      n == "mem" && tm >= Base + 1000L && tm <= Base + 2 * day + 2000L }
    val cdc = api.changes(apiSince).select("_change_type", "name", "time", "value")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(cdc.map(_._1).toSet == Set("delete"))
    assert(cdc.map { case (_, n, tm, v) => (n, tm, v) }.sorted.toSeq ==
      deleted.map { case (n, _, tm, v) => (n, tm, v) }.sorted)

    // Spark jobs of a MOR delete touching one and three partitions: the
    // per-partition tombstone loop this path replaced ran 10 and 22 (two
    // counts and a staged write per partition, then the rebuilds); one
    // landing is 8 at any partition count
    val (jobsDir, jobsT) = mk("tsdb_land_jobs")
    jobsT.append(samples(rows: _*))
    val onePart = jobsDuring(jobsT.delete(Base, Base + 1500L, metrics = Seq("cpu")))
    val threeParts = jobsDuring(jobsT.delete(Base, Base + 3 * day, metrics = Seq("mem")))
    assert(onePart <= 10 && threeParts <= 22, s"MOR delete jobs: $onePart / $threeParts")

    // a MOR delete that matches no row commits nothing and rebuilds
    // nothing: before, it rebuilt every overlapping partition's rollup and
    // the names dimension anyway (5 jobs over these three partitions)
    def derivedFiles(): Map[String, Long] = Seq("rollup", "names").flatMap { d =>
      import scala.jdk.CollectionConverters._
      val root = java.nio.file.Paths.get(jobsDir, d)
      val walk = Files.walk(root)
      try walk.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.getLastModifiedTime(f).toMillis).toList
      finally walk.close()
    }.toMap
    val (history0, derived0) = (jobsT.history().count(), derivedFiles())
    val noMatch = jobsDuring(jobsT.delete(Base, Base + 3 * day, metrics = Seq("disk")))
    assert(noMatch <= 1, s"no-match MOR delete jobs: $noMatch")
    assert(jobsT.history().count() == history0)
    assert(derived0.nonEmpty && derivedFiles() == derived0,
      "a no-match MOR delete must leave the rollup and names files untouched")
  }

  test("label-filtered selects prune through the series registry (r15)") {
    val day = 86400000L
    val t = mkTable()
    t.append(samples((0 until 60).map(i =>
      ("cpu", s"h${i % 10}", Base + (i / 10) * day + (i % 10) * 1000L,
        i.toDouble)): _*))
    val p = SelectParams(filter = "labels['host'] = 'h3'",
      from = Base, to = Base + 7 * day)
    // conjunct parsing is exact; nothing else is left to filter rows
    assert(TsdbTable.labelEqConjuncts("labels['host'] = 'h3'") ==
      (Seq(("host", "h3")), None))
    val got = t.select(p)
    // the registry-resolved series set reaches the scan: the conjunct
    // and the size of the set it resolved to show in the scan node
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("LabelFilters: [host=h3], LabelSeries: 1,"),
      s"expected the resolved label set in the scan:\n${plan.take(1500)}")
    def residualSql(c: Option[org.apache.spark.sql.Column]) = c.map(_.toString)
    val (eqs, rest) = TsdbTable.labelEqConjuncts(
      "labels['a'] = 'x' AND time > 5 AND 'y' = labels['b'] AND value < 2")
    assert(eqs.toSet == Set(("a", "x"), ("b", "y")))
    assert(residualSql(rest) == Some("((time > 5) AND (value < 2))"))
    // an OR must NOT contribute conjuncts (pruning would drop rows)
    val (orEqs, orRest) = TsdbTable.labelEqConjuncts("labels['a'] = 'x' OR labels['b'] = 'y'")
    assert(orEqs.isEmpty && orRest.isDefined)
    assert(TsdbTable.labelEqConjuncts("name = 'cpu'")._1.isEmpty)
    // an unparsable filter keeps itself as the residual, which fails loudly
    val (badEqs, badRest) = TsdbTable.labelEqConjuncts("labels['a'] = = 'x'")
    assert(badEqs.isEmpty)
    intercept[org.apache.spark.sql.catalyst.parser.ParseException](
      t.readRaw(Base, Base + day).filter(badRest.get))
    // pruned result == the unpruned row-level filter (6 rows: one h3
    // sample per day over 6 days)
    val expect = t.readRaw(Base, Base + 7 * day)
      .filter(expr("labels['host'] = 'h3'")).count()
    assert(expect == 6L && got.count() == expect)
    // provably-empty label match short-circuits to an empty scan
    assert(t.select(p.copy(filter = "labels['host'] = 'nope'")).count() == 0)
    // non-equality / OR shapes fall back to the unpruned exact filter
    assert(t.select(p.copy(
      filter = "labels['host'] = 'h3' OR labels['host'] = 'h4'")).count() == 12)
    // registry-less legacy sidecar: same answers, no pruned plan
    val enc = spark.read.parquet(s"${t.path}/series_enc")
      .select("series_id", "variant")
    val legacy = enc.collect()
    spark.createDataFrame(java.util.Arrays.asList(legacy: _*),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("series_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("variant",
            org.apache.spark.sql.types.BooleanType))))
      .write.mode("overwrite").parquet(s"${t.path}/series_enc")
    assert(t.select(p).count() == 6)
  }
}

class TsdbSqlSpec extends SparkSuite {
  test("CHANGES statement: SINCE/UNTIL/WITH PREIMAGES parse; inverted window rejected; SELECT is not a CHANGES") {
    import graft.sql.ChangesSpec
    assert(TsdbSql.parseChanges("changes since 7").contains(ChangesSpec(7)))
    assert(TsdbSql.parseChanges("CHANGES SINCE 7 UNTIL 9 WITH PREIMAGES")
      .contains(ChangesSpec(7, 9, preImages = true)))
    // since 0 = from the beginning, the Scala-API convention
    assert(TsdbSql.parseChanges("changes since 0 until 3")
      .contains(ChangesSpec(0, 3)))
    assert(TsdbSql.parseChanges("select avg(cpu) from t").isEmpty)
    intercept[IllegalArgumentException](TsdbSql.parseChanges("changes since 9 until 3"))
    intercept[IllegalArgumentException](TsdbSql.parseChanges("changes since 9 until 9"))
    // (\d+) admits >Long literals: parse-time error, not a raw
    // NumberFormatException with no statement context (same for ASOF)
    val big = "99999999999999999999"
    assert(intercept[IllegalArgumentException](
      TsdbSql.parseChanges(s"changes since $big")).getMessage.contains("Long range"))
    assert(intercept[IllegalArgumentException](
      TsdbSql.parseChanges(s"changes since 1 until $big")).getMessage.contains("Long range"))
    assert(intercept[IllegalArgumentException](
      TsdbSql.parse(s"select avg(cpu) from t asof $big")).getMessage.contains("Long range"))
  }

  test("HISTORY statement: parse + route to the commit manifest rows") {
    assert(TsdbSql.parseHistory("history"))
    assert(TsdbSql.parseHistory("  HISTORY ; "))
    assert(!TsdbSql.parseHistory("history of x"))
    assert(!TsdbSql.parseHistory("select avg(cpu) from t"))
    val Base = 1704067200000L
    val dir = Files.createTempDirectory("hist_sql").toString
    val t = new TsdbTable(spark, dir, TsdbConfig(rollupIntervalMs = 60000L))
    import spark.implicits._
    def batch(ts: Long) = Seq(("cpu", "a", ts, 1.0))
      .toDF("name", "host", "time", "value")
      .select(col("name"), map(lit("host"), col("host")).as("labels"),
        col("time"), col("value"))
    t.append(batch(Base + 60000L)); t.append(batch(Base + 120000L))
    val rows = t.sql("HISTORY").collect()
    assert(rows.count(_.getString(0) == "commit") == 2)
    assert(rows.count(_.getString(0) == "floor") == 1)
    // empty/manifest-less table: empty frame, same schema
    val t2 = new TsdbTable(spark,
      Files.createTempDirectory("hist_sql2").toString,
      TsdbConfig(rollupIntervalMs = 60000L))
    assert(t2.sql("history").collect().isEmpty)
  }

  test("aggregate select with where and group by (sql_parser_test.go)") {
    val p = TsdbSql.parse(
      "select max(cpu), avg(cpu) as mean from tsdb where os=='win' group by host")
    assert(p.name == "cpu")
    assert(p.functions.split(",").toSet == Set("max", "avg"))
    assert(p.filter == "labels['os']=='win'")
    assert(p.groupBy == "host")
    assert(p.requestedColumns.map(_.alias) == Seq("", "mean"))
  }

  test("interpolators, nested and bare, with tolerance") {
    val p = TsdbSql.parse("select max(prev_val(cpu, '1h')) from t")
    val c = p.requestedColumns.head
    assert(c.function == "max" && c.interpolator == "prev_val" && c.tolerance == 3600000L)
    val p2 = TsdbSql.parse("select next_val(cpu) from t")
    assert(p2.requestedColumns.head.interpolator == "next_val")
    assert(p2.functions.isEmpty)
  }

  test("multi-metric aggregate SQL routes per metric through the table planner") {
    import spark.implicits._
    val Base = 1704067200000L
    val dir = Files.createTempDirectory("multimetric").toString
    // rollup materializes only count+sum: avg(cpu) is rollup-servable,
    // stddev(mem) needs sqr and must fall back to raw — per-metric plans
    val t = new TsdbTable(spark, dir,
      TsdbConfig(rollupIntervalMs = 60000L, aggregates = Seq("count", "sum")))
    t.append(Seq(
      ("cpu", "a", Base + 1000L, 2.0), ("cpu", "a", Base + 2000L, 4.0),
      ("mem", "a", Base + 1000L, 10.0), ("mem", "a", Base + 2000L, 20.0))
      .toDF("name", "host", "time", "value")
      .select(col("name"), map(lit("host"), col("host")).as("labels"), col("time"), col("value")))
    val p = TsdbSql.parse("select avg(cpu), stddev(mem) from tsdb")
      .copy(from = Base, to = Base + 3600000L, step = 600000L)
    assert(t.canServerAggregate(p.copy(name = "cpu", functions = "avg", requestedColumns = Nil)))
    assert(!t.canServerAggregate(p.copy(name = "mem", functions = "stddev", requestedColumns = Nil)))
    val out = t.select(p).collect()
    assert(t.select(p).columns.toSeq == Seq("labels_str", "t", "avg(cpu)", "stddev(mem)"))
    assert(out.length == 1)
    assert(out.head.getDouble(2) == 3.0) // avg from rollup partials
    assert(math.abs(out.head.getDouble(3) - math.sqrt(50.0)) < 1e-9) // stddev from raw
    // raw multi-metric select still parses to the frame path
    val raw = TsdbSql.parse("select cpu, mem from tsdb")
    assert(raw.name == "" && raw.functions.isEmpty)
  }

  test("FROM is optional; duplicate aliases rejected (sql_parser_test.go)") {
    val p = TsdbSql.parse("select max(cpu) group by host")
    assert(p.name == "cpu" && p.functions == "max" && p.groupBy == "host")
    val p2 = TsdbSql.parse("select cpu where os == 'win'")
    assert(p2.name == "cpu" && p2.filter == "labels['os'] == 'win'")
    intercept[IllegalArgumentException](
      TsdbSql.parse("select cpu as something, mem as something from t"))
    intercept[IllegalArgumentException](
      TsdbSql.parse("select avg(cpu) as something, mem as something from t"))
    // wildcard inside aggregates: every metric, grouped by name
    val pw = TsdbSql.parse("select max(*), avg(*) from my_table")
    assert(pw.name == "" && pw.functions.split(",").toSet == Set("max", "avg"))
  }

  test("wildcard, filter rewrites (__name__, starts), validation errors") {
    assert(TsdbSql.parse("select * from t").name == "")
    val p = TsdbSql.parse("select cpu from t where starts(__name__, 'cp') and os != 'win'")
    assert(p.filter == "startswith(name, 'cp') and labels['os'] != 'win'")
    intercept[IllegalArgumentException](TsdbSql.parse("select median(cpu) from t"))
    intercept[IllegalArgumentException](TsdbSql.parse("select max(cpu), max(cpu) from t"))
    intercept[IllegalArgumentException](TsdbSql.parse("select avg(cpu) as cpu, cpu from t"))
  }

  test("aliases survive the rollup-served path (schema independent of plan choice)") {
    import spark.implicits._
    val Base = 1704067200000L
    val t = {
      val dir = Files.createTempDirectory("alias").toString
      new TsdbTable(spark, dir, TsdbConfig(rollupIntervalMs = 60000L))
    }
    t.append(Seq(("cpu", "a", Base + 60000L, 2.0), ("cpu", "a", Base + 120000L, 4.0))
      .toDF("name", "host", "time", "value")
      .select(col("name"), map(lit("host"), col("host")).as("labels"), col("time"), col("value")))
    val p = TsdbSql.parse("select avg(cpu) as mean from tsdb")
      .copy(from = Base, to = Base + 3600000L, step = 600000L)
    assert(t.canServerAggregate(p))
    val out = t.select(p)
    assert(out.columns.contains("mean") && !out.columns.contains("avg"))
  }

  test("sql → engine end-to-end on a tiny table") {
    import spark.implicits._
    val df = Seq(("cpu", "w", 1000L, 1.0), ("cpu", "w", 2000L, 3.0), ("cpu", "l", 1500L, 9.0))
      .toDF("name", "os", "time", "value")
      .select(col("name"), map(lit("os"), col("os")).as("labels"), col("time"),
        col("value"), lit(null).cast("string").as("valueStr"))
    val p = TsdbSql.parse("select sum(cpu) from tsdb where os=='w'")
      .copy(from = 0L, to = 10000L, step = 10000L)
    val out = graft.query.QueryEngine.select(df, p.copy(functions = "sum")).collect()
    assert(out.length == 1 && out.head.getDouble(3) == 4.0)
  }

}

/** Evaluation gate for the delete-vs-streaming-appender race spec: the
  * FIRST evaluation (IngestJob's pre-lock `isEmpty` probe) passes
  * through; every later evaluation — the first of which is `append`'s
  * first action, running UNDER the writer lock — blocks until released.
  * Top-level object so the closure serializes into local tasks. */
object IngestGateFixture {
  val calls = new java.util.concurrent.atomic.AtomicInteger(0)
  @volatile var release: java.util.concurrent.CountDownLatch = _
  def pass(@annotation.unused t: Long): Boolean = {
    if (calls.incrementAndGet() > 1)
      release.await(120, java.util.concurrent.TimeUnit.SECONDS)
    true
  }
}

class IngestJobSpec extends SparkSuite {
  import spark.implicits._

  test("streaming ingest: micro-batches land in raw+rollup+names; dup rows deduped") {
    val dir = Files.createTempDirectory("ingest").toString
    val table = new TsdbTable(spark, s"$dir/table")
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, String, Long, Double)]
    val stream = mem.toDF().toDF("name", "host", "time", "value")
      .select(col("name"), map(lit("host"), col("host")).as("labels"),
        col("time"), col("value"))
    val q = graft.streaming.IngestJob.start(stream, table, s"$dir/ckpt")
    try {
      val Base = 1704067200000L
      mem.addData(("cpu", "a", Base + 1000, 1.0), ("cpu", "a", Base + 2000, 2.0),
        ("cpu", "a", Base + 2000, 2.0)) // exact duplicate row
      q.processAllAvailable()
      mem.addData(("mem", "b", Base + 3000, 5.0))
      q.processAllAvailable()
      assert(table.countMetrics() == 3) // dup dropped
      assert(table.names().collect().map(_.getString(0)).toSeq == Seq("cpu", "mem"))
      val roll = table.readRollup()
      assert(roll.agg(sum("__p_count")).collect().head.getDouble(0) == 3.0)
      assert(roll.agg(sum("__p_sum")).collect().head.getDouble(0) == 8.0)
    } finally q.stop()
  }

  test("delete during an ACTIVE streaming append is rejected loudly; succeeds after the stream quiesces") {
    // the multi-writer scenario the CAS-hardened lock exists for,
    // exercised END-TO-END through the real IngestJob sink: a mutating
    // delete racing a micro-batch append must fail with the single-writer
    // rejection, never corrupt the table or deadlock
    val dir = Files.createTempDirectory("ingest_lock").toString
    val table = new TsdbTable(spark, s"$dir/table")
    implicit val sqlCtx = spark.sqlContext
    IngestGateFixture.calls.set(0)
    IngestGateFixture.release = new java.util.concurrent.CountDownLatch(1)
    val gate = udf(IngestGateFixture.pass _)
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, String, Long, Double)]
    val Base = 1704067200000L
    val stream = mem.toDF().toDF("name", "host", "time", "value")
      .select(col("name"), map(lit("host"), col("host")).as("labels"),
        col("time"), col("value"))
      .filter(gate(col("time")))
    val q = graft.streaming.IngestJob.start(stream, table, s"$dir/ckpt")
    try {
      mem.addData(("cpu", "a", Base + 1000, 1.0))
      // wait until the appender PROVABLY holds the lock: the lock file
      // exists and the batch action is parked on the gate — append cannot
      // release until the gate opens, so the window below is deterministic
      val lock = new java.io.File(s"$dir/table", "_writer")
      val deadline = System.currentTimeMillis() + 120000
      while (!lock.exists() && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      assert(lock.exists(), "appender never took the writer lock")
      val e = intercept[java.util.ConcurrentModificationException](
        table.delete(0L, Base + 86400000L))
      // holder info may not have flushed yet (the poll can win the race
      // between the lock's O_EXCL create and the info write) — assert the
      // rejection itself, not the holder string
      assert(e.getMessage.contains("cannot delete") &&
        e.getMessage.contains("_writer"), e.getMessage)
      // the rejected delete must not have touched the in-flight append
      IngestGateFixture.release.countDown()
      q.processAllAvailable()
      assert(table.countMetrics() == 1)
    } finally {
      IngestGateFixture.release.countDown()
      q.stop()
    }
    // with the stream stopped the same delete is admitted and applied
    table.delete(0L, Base + 86400000L)
    assert(table.countMetrics() == 0)
  }

  test("streaming micro-batches mint snapshot handles: selectAsOf/changes work across batch boundaries") {
    val dir = Files.createTempDirectory("ingest_tt").toString
    val table = new TsdbTable(spark, s"$dir/table")
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, String, Long, Double)]
    val stream = mem.toDF().toDF("name", "host", "time", "value")
      .select(col("name"), map(lit("host"), col("host")).as("labels"),
        col("time"), col("value"))
    val q = graft.streaming.IngestJob.start(stream, table, s"$dir/ckpt")
    try {
      val Base = 1704067200000L
      mem.addData(("cpu", "a", Base + 1000, 1.0), ("cpu", "a", Base + 2000, 2.0))
      q.processAllAvailable()
      val snap = table.currentSeq()
      assert(snap > 0, "a streamed micro-batch must mint a commit")
      mem.addData(("cpu", "a", Base + 3000, 3.0))
      q.processAllAvailable()
      // the snapshot excludes the later micro-batch; CDC reports it
      assert(table.readRawAsOf(Base, Base + 10000, snap).count() == 2)
      assert(table.readRaw(Base, Base + 10000).count() == 3)
      val ch = table.changes(snap).select("time", "_change_type").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toSet
      assert(ch == Set((Base + 3000) -> "insert"))
    } finally q.stop()
  }
}

/** CDC streaming source + incremental maintainer (r10 — the r9
  * verdict's #4 ask): the checkpointed poll loop over the commit
  * manifest drives a downstream rollup replica maintained PURELY from
  * insert/update/update_preimage/delete rows — and after arbitrary
  * mixed mutations the replica must equal a from-scratch recompute. */
class CdcReplicaSpec extends SparkSuite {
  import graft.streaming.ChangesStream
  import graft.storage.{TsdbConfig, TsdbTable}
  import java.nio.file.Files

  private val Base = 1704067200000L
  private val Day = 86400000L

  private def samples(rows: (String, String, Long, Double)*): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("name", "host", "time", "value")
      .select(col("name"), map(lit("host"), col("host")).as("labels"),
        col("time"), col("value"))
  }

  /** The ground truth: per (name, labels_str, day) count+sum over the
    * table's LIVE merged view — recomputed from scratch. */
  private def recompute(t: TsdbTable): Map[(String, String, Long), (Long, Double)] =
    t.readRaw(0L, Long.MaxValue)
      .groupBy(col("name"), col("labels_str"),
        (floor(col("time") / Day) * Day).cast("long").as("t"))
      .agg(count(lit(1)).as("count"), sum("value").as("sum"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)) ->
        ((r.getLong(3), r.getDouble(4)))).toMap

  private def replicaMap(r: ChangesStream.RollupReplica): Map[(String, String, Long), (Long, Double)] =
    r.state().collect()
      .map(x => (x.getString(0), x.getString(1), x.getLong(2)) ->
        ((x.getLong(3), x.getDouble(4)))).toMap

  private def close(a: Map[(String, String, Long), (Long, Double)],
                    b: Map[(String, String, Long), (Long, Double)]): Unit = {
    assert(a.keySet == b.keySet, s"key sets differ: ${a.keySet} vs ${b.keySet}")
    a.foreach { case (k, (c1, s1)) =>
      val (c2, s2) = b(k)
      assert(c1 == c2, s"count at $k: $c1 vs $c2")
      assert(math.abs(s1 - s2) < 1e-9, s"sum at $k: $s1 vs $s2")
    }
  }

  test("replica == recompute after mixed mutations; checkpoint resumes with no replay; emptied buckets vanish") {
    val dir = Files.createTempDirectory("cdc_replica").toString
    val t = new TsdbTable(spark, s"$dir/table",
      TsdbConfig(rollupIntervalMs = 3600000L, overrideOld = true))
    val feed = new ChangesStream.ChangesFeed(t, s"$dir/ckpt")
    val replica = new ChangesStream.RollupReplica(spark, s"$dir/replica", Day)

    // window 1: the initial corpus arrives as inserts
    t.append(samples(
      ("cpu", "a", Base + 1000, 1.0), ("cpu", "a", Base + 2000, 2.5),
      ("cpu", "a", Base + Day + 500, 4.0),
      ("mem", "b", Base + 3000, 10.0), ("mem", "b", Base + Day + 7, 20.0)))
    assert(ChangesStream.drain(feed)(replica.applyBatch) == 1)
    close(replicaMap(replica), recompute(t))

    // window 2: an OVERRIDE rewrite (update + update_preimage pair), a
    // brand-new series, and a range delete — all in one poll window
    t.append(samples(("cpu", "a", Base + 1000, 100.0))) // update
    t.append(samples(("disk", "c", Base + 2 * Day + 1, 7.75))) // new series
    t.delete(Base + Day, Base + 2 * Day - 1, metrics = Seq("cpu")) // day-2 cpu gone
    assert(ChangesStream.drain(feed)(replica.applyBatch) == 1)
    close(replicaMap(replica), recompute(t))
    // the fully-deleted (cpu, day 2) bucket must VANISH, not linger at 0
    assert(!replicaMap(replica).keySet.exists { case (n, _, tt) =>
      n == "cpu" && tt == Base + Day })

    // window 3: delete-then-reinsert in ONE window nets to the reinsert
    t.delete(Base, Base + Day - 1, metrics = Seq("mem"))
    t.append(samples(("mem", "b", Base + 4000, 3.25)))
    assert(ChangesStream.drain(feed)(replica.applyBatch) == 1)
    close(replicaMap(replica), recompute(t))

    // a RESTARTED consumer (fresh feed object, same checkpoint) sees no
    // pending window — offsets persisted, no replay, state untouched
    val feed2 = new ChangesStream.ChangesFeed(t, s"$dir/ckpt")
    assert(feed2.committedSeq == feed.committedSeq)
    assert(ChangesStream.drain(feed2)(replica.applyBatch) == 0)
    close(replicaMap(replica), recompute(t))

    // and the next mutation resumes seamlessly from the checkpoint
    t.append(samples(("cpu", "a", Base + 5000, 0.5)))
    assert(ChangesStream.drain(feed2)(replica.applyBatch) == 1)
    close(replicaMap(replica), recompute(t))
    graft.core.Fs.rmTree(new java.io.File(dir))
  }

  test("per-mutation windows (poll between every commit) reach the same state as one batched window") {
    val d1 = Files.createTempDirectory("cdc_fine").toString
    val d2 = Files.createTempDirectory("cdc_coarse").toString
    def stage(dir: String, drainEach: Boolean): Map[(String, String, Long), (Long, Double)] = {
      val t = new TsdbTable(spark, s"$dir/table",
        TsdbConfig(rollupIntervalMs = 3600000L, overrideOld = true))
      val feed = new ChangesStream.ChangesFeed(t, s"$dir/ckpt")
      val replica = new ChangesStream.RollupReplica(spark, s"$dir/replica", Day)
      def step(): Unit = if (drainEach)
        assert(ChangesStream.drain(feed)(replica.applyBatch) == 1)
      t.append(samples(("cpu", "a", Base + 1, 1.0), ("cpu", "a", Base + 2, 2.0))); step()
      t.append(samples(("cpu", "a", Base + 1, 5.0))); step()
      t.delete(Base, Base + Day - 1, metrics = Seq("cpu")); step()
      t.append(samples(("cpu", "a", Base + 3, 9.0))); step()
      if (!drainEach) assert(ChangesStream.drain(feed)(replica.applyBatch) == 1)
      val m = replicaMap(replica)
      close(m, recompute(t))
      m
    }
    val fine = stage(d1, drainEach = true)
    val coarse = stage(d2, drainEach = false)
    assert(fine.keySet == coarse.keySet)
    fine.foreach { case (k, (c, s)) =>
      assert(coarse(k)._1 == c && math.abs(coarse(k)._2 - s) < 1e-9, s"$k")
    }
    graft.core.Fs.rmTree(new java.io.File(d1))
    graft.core.Fs.rmTree(new java.io.File(d2))
  }

  test("applied-tip: a replayed window folds ONCE — the crash between fold and offset-commit can no longer double-count") {
    val dir = Files.createTempDirectory("cdc_replay").toString
    val t = new TsdbTable(spark, s"$dir/table",
      TsdbConfig(rollupIntervalMs = 3600000L, overrideOld = true))
    val feed = new ChangesStream.ChangesFeed(t, s"$dir/ckpt")
    val replica = new ChangesStream.RollupReplica(spark, s"$dir/replica", Day)
    t.append(samples(("cpu", "a", Base + 1000, 1.0), ("cpu", "a", Base + 2000, 2.5)))
    // poll the window, fold it, CRASH before feed.commit — simulated by
    // simply not committing; the restarted drain re-serves the window
    val Some((_, until, batch)) = feed.poll(): @unchecked
    replica.applyBatch(batch, until)
    assert(replica.appliedUntil == until)
    val afterFirst = replicaMap(replica)
    assert(ChangesStream.drain(feed)(replica.applyBatch) == 1,
      "the uncommitted window must replay")
    close(replicaMap(replica), afterFirst) // folded once, not twice
    close(replicaMap(replica), recompute(t))
    // direct double-apply is a no-op too (idempotent by window)
    val Some((_, u2, b2)) = new ChangesStream.ChangesFeed(t, s"$dir/ckpt2").poll(): @unchecked
    val r2 = new ChangesStream.RollupReplica(spark, s"$dir/replica2", Day)
    r2.applyBatch(b2, u2)
    r2.applyBatch(b2, u2)
    close(replicaMap(r2), recompute(t))
    graft.core.Fs.rmTree(new java.io.File(dir))
  }

  test("multi-view fan-out: one feed maintains rollup+stats+registry; a crash between sibling folds converges on replay") {
    val dir = Files.createTempDirectory("cdc_views").toString
    val t = new TsdbTable(spark, s"$dir/table",
      TsdbConfig(rollupIntervalMs = 3600000L, overrideOld = true))
    val feed = new ChangesStream.ChangesFeed(t, s"$dir/ckpt")
    val rollup = new ChangesStream.RollupReplica(spark, s"$dir/rollup", Day)
    val stats = new ChangesStream.SeriesStatsReplica(spark, s"$dir/stats")
    val registry = new ChangesStream.SeriesRegistryReplica(spark, s"$dir/registry")
    val mv = new ChangesStream.MultiViewMaintainer(feed, Seq(rollup, stats, registry))

    t.append(samples(
      ("cpu", "a", Base + 1000, 1.0), ("cpu", "a", Base + 2000, 2.5),
      ("cpu", "a", Base + Day + 500, 4.0), ("mem", "b", Base + 3000, 10.0)))
    // CRASH MID-FAN-OUT: the first view folds window 1, then the
    // process dies — siblings unfolded, offset uncommitted
    val Some((_, u1, b1)) = feed.poll(): @unchecked
    rollup.applyBatch(b1, u1)
    assert(rollup.appliedUntil == u1 && stats.appliedUntil == 0L)
    // restart: the full fan-out drains; rollup skips the replay by its
    // tip, stats/registry fold it — every view converges exactly once
    assert(mv.drainAll() == 1)
    close(replicaMap(rollup), recompute(t))
    // window 2: override + delete, straight through the maintainer
    t.append(samples(("cpu", "a", Base + 1000, 100.0)))
    t.delete(Base, Base + Day - 1, metrics = Seq("mem"))
    assert(mv.drainAll() == 1)
    close(replicaMap(rollup), recompute(t))

    // stats view == from-scratch per-series moments over the live table
    val expectStats = t.readRaw(0L, Long.MaxValue)
      .groupBy("name", "labels_str")
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum"),
        sum(col("value") * col("value")).as("sumsq"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    val gotStats = stats.state().collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(gotStats.keySet == expectStats.keySet)
    expectStats.foreach { case (k, (c, s, q)) =>
      val (c2, s2, q2) = gotStats(k)
      assert(c == c2 && math.abs(s - s2) < 1e-9 && math.abs(q - q2) < 1e-9, s"$k")
    }

    // registry: mem's refcount hit 0 -> left the registry; cpu's
    // refcount is its live row count; watermarks cover inserted times
    val reg = registry.state().collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(reg.keySet == Set("cpu"), s"fully-deleted series must leave: ${reg.keySet}")
    val (refs, firstT, lastT) = reg("cpu")
    assert(refs == 3L) // 3 live cpu rows (update rewrote, not added)
    assert(firstT == Base + 1000 && lastT == Base + Day + 500)
    graft.core.Fs.rmTree(new java.io.File(dir))
  }
}

/** Cross-JVM writer safety (r10 — the r9 verdict's #5 ask): the commit
  * manifest's read-modify-write is CAS-guarded, so a zombie writer
  * (one whose lock lease was broken while it was merely slow) loses
  * LOUDLY at publish time instead of silently rolling back the commits
  * a second writer published in between. */
class WriterFencingSpec extends SparkSuite {
  import graft.storage.{TsdbConfig, TsdbTable}
  import java.nio.file.Files

  private val Base = 1704067200000L

  private def samples(rows: (String, String, Long, Double)*): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("name", "host", "time", "value")
      .select(col("name"), map(lit("host"), col("host")).as("labels"),
        col("time"), col("value"))
  }

  test("zombie writer's commit CAS-fails loudly; the interleaved writer's data survives; orphans vacuum away") {
    val dir = Files.createTempDirectory("tsdb_fence").toString
    // A is the zombie-to-be: normal lease. B breaks any lock instantly
    // (lease 0) — the "presumed dead" adjudication a slow A would suffer
    val a = new TsdbTable(spark, dir, TsdbConfig(rollupIntervalMs = 3600000L))
    val b = new TsdbTable(spark, dir, TsdbConfig(rollupIntervalMs = 3600000L,
      writerLeaseMs = 0L))
    a.append(samples(("cpu", "x", Base + 1000, 1.0)))
    assert(a.countMetrics() == 1)

    // interleave B's FULL append (lock break + files + commit) into the
    // window between A's manifest read and A's publish — the zombie race
    a.testHookBeforeCommitCas = () =>
      b.append(samples(("cpu", "x", Base + 3000, 3.0)))
    val err = intercept[java.util.ConcurrentModificationException] {
      a.append(samples(("cpu", "x", Base + 2000, 2.0)))
    }
    assert(err.getMessage.contains("CAS failed"), err.getMessage)

    // never a torn manifest: B's commit stands, A's batch stayed
    // invisible (uncommitted seq), and a fresh reader agrees
    val fresh = new TsdbTable(spark, dir, TsdbConfig(rollupIntervalMs = 3600000L))
    val times = fresh.readRaw(Base, Base + 10000).select("time")
      .collect().map(_.getLong(0)).toSet
    assert(times == Set(Base + 1000, Base + 3000),
      s"expected B's row and the original, got $times")

    // the zombie's orphan files are physically swept by vacuum, and the
    // view is unchanged after
    fresh.vacuum()
    val after = fresh.readRaw(Base, Base + 10000).select("time")
      .collect().map(_.getLong(0)).toSet
    assert(after == Set(Base + 1000, Base + 3000))

    // and the fenced writer is not wedged: its NEXT append (fresh lock,
    // fresh manifest read) succeeds normally
    a.append(samples(("cpu", "x", Base + 4000, 4.0)))
    assert(fresh.readRaw(Base, Base + 10000).count() == 3)
    graft.core.Fs.rmTree(new java.io.File(dir))
  }

  test("plain two-writer contention still rejects at the LOCK, before any files are written") {
    val dir = Files.createTempDirectory("tsdb_lock2").toString
    val a = new TsdbTable(spark, dir, TsdbConfig())
    val b = new TsdbTable(spark, dir, TsdbConfig())
    // A holds the lock mid-mutation (simulated via the same seam): B's
    // append with a NORMAL lease must be rejected by the lock itself
    a.testHookBeforeCommitCas = () => {
      val e = intercept[java.util.ConcurrentModificationException] {
        b.append(samples(("mem", "y", Base + 1, 9.0)))
      }
      assert(e.getMessage.contains("another writer holds"), e.getMessage)
    }
    a.append(samples(("cpu", "x", Base + 1000, 1.0))) // succeeds: B never published
    assert(a.countMetrics() == 1)
    graft.core.Fs.rmTree(new java.io.File(dir))
  }
}

/** The conditional-put commit log itself — the CAS primitive under
  * [[WriterFencingSpec]]'s zombie scenario. The race here is REAL: no
  * fault-injection seam, just threads attempting the same version;
  * the primitive is small enough to race directly. */
/** Deletion-exact min/max extents view (r11): the bounded-synopsis
  * incremental fix — eviction keeps complete prefixes, deletes consume
  * them, exhaustion re-probes as-of the window. */
class CdcExtentsSpec extends SparkSuite {
  import graft.streaming.ChangesStream
  import graft.storage.{TsdbConfig, TsdbTable}
  import java.nio.file.Files

  private val Base = 1704067200000L

  private def samples(rows: (String, Long, Double)*): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("name", "time", "value")
      .select(col("name"), map(lit("host"), lit("x")).as("labels"),
        col("time"), col("value"))
  }

  private def recompute(t: TsdbTable): Map[(String, String), (Long, Long, Long)] =
    t.readRaw(0L, Long.MaxValue)
      .groupBy("name", "labels_str")
      .agg(count(lit(1)).as("cnt"), min("time").as("first_t"),
        max("time").as("last_t"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap

  private def viewMap(v: ChangesStream.SeriesExtentsReplica): Map[(String, String), (Long, Long, Long)] =
    v.extents().collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap

  test("extents stay exact under deletes: max eviction, synopsis exhaustion re-probe, full deletion, restart replay") {
    val dir = Files.createTempDirectory("cdc_ext").toString
    val t = new TsdbTable(spark, s"$dir/table",
      TsdbConfig(rollupIntervalMs = 3600000L, overrideOld = true))
    val feed = new ChangesStream.ChangesFeed(t, s"$dir/ckpt")
    val view = new ChangesStream.SeriesExtentsReplica(spark, s"$dir/ext",
      k = 3, snapshotAt = seq => t.readRawAsOf(0L, Long.MaxValue, seq))

    // window 1: 10 samples per series — beyond k, so fences engage
    t.append(samples(
      ((0 until 10).map(i => ("cpu", Base + i * 1000L, i.toDouble)) ++
       (0 until 10).map(i => ("mem", Base + 500 + i * 2000L, i.toDouble))): _*))
    assert(ChangesStream.drain(feed)(view.applyBatch) == 1)
    assert(viewMap(view) == recompute(t))

    // window 2: delete the CURRENT MAX of cpu (evicts from the max
    // synopsis, k=3 absorbs it without a probe)
    t.delete(Base + 9000, Base + 9000, metrics = Seq("cpu"))
    assert(ChangesStream.drain(feed)(view.applyBatch) == 1)
    assert(viewMap(view) == recompute(t))
    assert(viewMap(view)(("cpu", "host=x"))._3 == Base + 8000,
      "max must fall back to the next live time")

    // window 3: delete MORE than k times off the top AND bottom in one
    // window — both synopses exhaust, the as-of re-probe rebuilds them
    t.delete(Base, Base + 4000, metrics = Seq("cpu"))     // times 0..4
    t.delete(Base + 6000, Base + 8000, metrics = Seq("cpu")) // times 6..8
    assert(ChangesStream.drain(feed)(view.applyBatch) >= 1)
    assert(viewMap(view) == recompute(t))
    assert(viewMap(view)(("cpu", "host=x")) == ((1L, Base + 5000L, Base + 5000L)),
      "only time 5 survives")

    // window 4: full deletion drops the row; the untouched series keeps
    // exact extents; a returning series re-derives fresh ones
    t.delete(Base + 5000, Base + 5000, metrics = Seq("cpu"))
    t.append(samples(("cpu", Base + 777L, 42.0)))
    assert(ChangesStream.drain(feed)(view.applyBatch) >= 1)
    assert(viewMap(view) == recompute(t))
    assert(viewMap(view)(("cpu", "host=x")) == ((1L, Base + 777L, Base + 777L)))

    // replay absorption: re-folding the full history with the applied
    // tip is a no-op (crash-between-fold-and-commit convergence)
    val tip = view.appliedUntil
    view.applyBatch(t.changes(0, t.currentSeq(), preImages = true), tip)
    assert(viewMap(view) == recompute(t))

    // inserts BELOW the fence after heavy deletion stay exact (the
    // prefix-completeness invariant under mixed traffic)
    t.append(samples(("mem", Base + 1L, 9.0), ("mem", Base + 100000L, 9.0)))
    t.delete(Base + 500, Base + 500, metrics = Seq("mem"))
    assert(ChangesStream.drain(feed)(view.applyBatch) >= 1)
    assert(viewMap(view) == recompute(t))
    graft.core.Fs.rmTree(new java.io.File(dir))
  }

  test("extents view rides the multi-view fan-out: crash mid-fan-out converges, siblings unaffected") {
    val dir = Files.createTempDirectory("cdc_ext_mv").toString
    val t = new TsdbTable(spark, s"$dir/table",
      TsdbConfig(rollupIntervalMs = 3600000L, overrideOld = true))
    val feed = new ChangesStream.ChangesFeed(t, s"$dir/ckpt")
    val ext = new ChangesStream.SeriesExtentsReplica(spark, s"$dir/ext",
      k = 2, snapshotAt = seq => t.readRawAsOf(0L, Long.MaxValue, seq))
    val stats = new ChangesStream.SeriesStatsReplica(spark, s"$dir/stats")
    val mv = new ChangesStream.MultiViewMaintainer(feed, Seq(ext, stats))
    t.append(samples((0 until 8).map(i => ("cpu", Base + i * 1000L, i.toDouble)): _*))
    assert(mv.drainAll() == 1)
    // crash mid-fan-out: extents folds window 2 alone (offset never
    // committed), then the restarted maintainer drains the full fan-out
    t.delete(Base + 6000, Base + 7000, metrics = Seq("cpu"))
    val w = feed.poll().get
    ext.applyBatch(w._3, w._2)
    val mv2 = new ChangesStream.MultiViewMaintainer(
      new ChangesStream.ChangesFeed(t, s"$dir/ckpt"), Seq(ext, stats))
    assert(mv2.drainAll() >= 1)
    assert(viewMap(ext) == recompute(t), "extents converge exactly once")
    assert(viewMap(ext)(("cpu", "host=x"))._3 == Base + 5000L)
    val st = stats.state().filter(col("name") === "cpu").collect()(0)
    assert(st.getLong(2) == 6L, s"sibling stats view unaffected: $st")
    graft.core.Fs.rmTree(new java.io.File(dir))
  }

  test("updates never disturb the synopsis: a MOR rewrite keeps extents and count") {
    val dir = Files.createTempDirectory("cdc_ext_upd").toString
    val t = new TsdbTable(spark, s"$dir/table",
      TsdbConfig(rollupIntervalMs = 3600000L, overrideOld = true))
    val feed = new ChangesStream.ChangesFeed(t, s"$dir/ckpt")
    val view = new ChangesStream.SeriesExtentsReplica(spark, s"$dir/ext",
      k = 2, snapshotAt = seq => t.readRawAsOf(0L, Long.MaxValue, seq))
    t.append(samples((0 until 6).map(i => ("cpu", Base + i * 1000L, 1.0)): _*))
    assert(ChangesStream.drain(feed)(view.applyBatch) == 1)
    t.append(samples(("cpu", Base + 2000L, 99.0))) // rewrite, same time
    assert(ChangesStream.drain(feed)(view.applyBatch) == 1)
    assert(viewMap(view) == recompute(t))
    assert(viewMap(view)(("cpu", "host=x")) == ((6L, Base, Base + 5000L)))
    graft.core.Fs.rmTree(new java.io.File(dir))
  }
}

/** Deletion-exact per-series top-k VALUES view (r12): the extents
  * bounded-synopsis discipline over the (value, time) order — updates
  * move rows through pre-images, deletes evict past k, exhaustion
  * re-probes as-of the window. */
class CdcTopKSpec extends SparkSuite {
  import graft.streaming.ChangesStream
  import graft.storage.{TsdbConfig, TsdbTable}
  import java.nio.file.Files

  private val Base = 1704067200000L

  private def samples(rows: (String, Long, Double)*): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("name", "time", "value")
      .select(col("name"), map(lit("host"), lit("x")).as("labels"),
        col("time"), col("value"))
  }

  /** Driver-side truth: top-j (value, time) pairs per key from the live
    * table (tiny fixtures — a collect is the clearest oracle). */
  private def recompute(t: TsdbTable, j: Int): Map[(String, String), Seq[(Double, Long)]] =
    t.readRaw(0L, Long.MaxValue).filter(col("value").isNotNull)
      .select("name", "labels_str", "value", "time").collect()
      .groupBy(r => (r.getString(0), r.getString(1)))
      .map { case (k, rs) =>
        k -> rs.map(r => (r.getDouble(2), r.getLong(3)))
          .sortBy(p => (-p._1, -p._2)).take(j).toSeq
      }

  private def viewTopK(v: ChangesStream.SeriesTopKReplica, j: Int): Map[(String, String), Seq[(Double, Long)]] =
    v.topK(j).collect()
      .groupBy(r => (r.getString(0), r.getString(1)))
      .map { case (k, rs) =>
        k -> rs.sortBy(_.getInt(2)).map(r => (r.getDouble(3), r.getLong(4))).toSeq
      }

  test("top-k stays exact: eviction, update re-ranking, exhaustion re-probe, full deletion, replay") {
    val dir = Files.createTempDirectory("cdc_topk").toString
    val t = new TsdbTable(spark, s"$dir/table",
      TsdbConfig(rollupIntervalMs = 3600000L, overrideOld = true))
    val feed = new ChangesStream.ChangesFeed(t, s"$dir/ckpt")
    val view = new ChangesStream.SeriesTopKReplica(spark, s"$dir/topk",
      k = 3, snapshotAt = seq => t.readRawAsOf(0L, Long.MaxValue, seq))

    // window 1: 10 ascending values per series — every insert past k
    // evicts, so the fence engages immediately
    t.append(samples(
      ((0 until 10).map(i => ("cpu", Base + i * 1000L, i.toDouble)) ++
       (0 until 10).map(i => ("mem", Base + 500 + i * 2000L, (i * 7 % 10).toDouble))): _*))
    assert(ChangesStream.drain(feed)(view.applyBatch) == 1)
    assert(viewTopK(view, 2) == recompute(t, 2))

    // window 2: UPDATE the current max down below the fence — the
    // pre-image −(9,t9) leaves the synopsis, the post-image (−1,t9)
    // only counts; and update a mid row UP into the top
    t.append(samples(("cpu", Base + 9000L, -1.0), ("cpu", Base + 2000L, 50.0)))
    assert(ChangesStream.drain(feed)(view.applyBatch) == 1)
    assert(viewTopK(view, 2) == recompute(t, 2))
    assert(viewTopK(view, 2)(("cpu", "host=x")).head == ((50.0, Base + 2000L)))

    // window 3: delete ALL current candidates in one window — the
    // synopsis exhausts and the as-of re-probe rebuilds (k-1 cands)
    t.delete(Base + 2000L, Base + 2000L, metrics = Seq("cpu")) // 50.0
    t.delete(Base + 7000L, Base + 8000L, metrics = Seq("cpu")) // 7.0, 8.0
    assert(ChangesStream.drain(feed)(view.applyBatch) >= 1)
    assert(viewTopK(view, 2) == recompute(t, 2))
    assert(viewTopK(view, 2)(("cpu", "host=x")).map(_._1) == Seq(6.0, 5.0))

    // window 4: full deletion drops the key; a returning series
    // re-derives; the untouched sibling never moved
    t.delete(Base, Base + 10000L, metrics = Seq("cpu"))
    t.append(samples(("cpu", Base + 777L, 42.0)))
    assert(ChangesStream.drain(feed)(view.applyBatch) >= 1)
    assert(viewTopK(view, 1) == recompute(t, 1))

    // replay absorption: re-folding the whole history under the applied
    // tip is a no-op
    val before = viewTopK(view, 1)
    view.applyBatch(t.changes(0, t.currentSeq(), preImages = true),
      view.appliedUntil)
    assert(viewTopK(view, 1) == before)
    graft.core.Fs.rmTree(new java.io.File(dir))
  }

  test("duplicate values rank by time; null (variant) values stay outside the order") {
    val dir = Files.createTempDirectory("cdc_topk_dup").toString
    val t = new TsdbTable(spark, s"$dir/table",
      TsdbConfig(rollupIntervalMs = 3600000L, overrideOld = true))
    val feed = new ChangesStream.ChangesFeed(t, s"$dir/ckpt")
    val view = new ChangesStream.SeriesTopKReplica(spark, s"$dir/topk",
      k = 4, snapshotAt = seq => t.readRawAsOf(0L, Long.MaxValue, seq))
    // three rows share the top VALUE — (value, time) uniqueness carries
    // the synopsis through; ties rank by time descending
    t.append(samples(
      ("cpu", Base, 5.0), ("cpu", Base + 1000, 5.0), ("cpu", Base + 2000, 5.0),
      ("cpu", Base + 3000, 1.0), ("cpu", Base + 4000, 2.0)))
    assert(ChangesStream.drain(feed)(view.applyBatch) == 1)
    assert(viewTopK(view, 3) == recompute(t, 3))
    assert(viewTopK(view, 3)(("cpu", "host=x")).map(_._2) ==
      Seq(Base + 2000, Base + 1000, Base))
    // delete the newest tie; the remaining equal values still rank
    t.delete(Base + 2000, Base + 2000)
    assert(ChangesStream.drain(feed)(view.applyBatch) == 1)
    assert(viewTopK(view, 2) == recompute(t, 2))
    // a null-value (variant) metric is not part of the value order:
    // its rows neither rank nor count — the view carries no key for it
    import spark.implicits._
    val variant = Seq(("props", Base + 9000L)).toDF("name", "time")
      .select(col("name"), map(lit("host"), lit("x")).as("labels"),
        col("time"), lit(null).cast("double").as("value"),
        lit("blob").as("valueStr"))
    t.append(variant)
    assert(ChangesStream.drain(feed)(view.applyBatch) == 1)
    assert(viewTopK(view, 2) == recompute(t, 2))
    assert(view.state().filter(col("name") === "props").count() == 0,
      "variant-only series must not enter the top-k view")
    graft.core.Fs.rmTree(new java.io.File(dir))
  }

  test("re-probe cross-check fires when the snapshot cannot see an exhausted key (left join, not inner)") {
    val dir = Files.createTempDirectory("cdc_topk_probe").toString
    val t = new TsdbTable(spark, s"$dir/table",
      TsdbConfig(rollupIntervalMs = 3600000L, overrideOld = true))
    val feed = new ChangesStream.ChangesFeed(t, s"$dir/ckpt")
    // a BROKEN snapshot source: returns nothing — the exhausted key's
    // rebuild produces NO row, which the left-join cross-check must
    // surface as live=0 vs cnt>0, never silently drop (review-caught)
    val view = new ChangesStream.SeriesTopKReplica(spark, s"$dir/topk",
      k = 2, snapshotAt = seq =>
        t.readRawAsOf(0L, Long.MaxValue, seq).filter(col("name") === "nope"))
    t.append(samples((0 until 6).map(i => ("cpu", Base + i * 1000L, i.toDouble)): _*))
    assert(ChangesStream.drain(feed)(view.applyBatch) == 1)
    // delete both candidates {5,4} in one window -> synopsis exhausts
    t.delete(Base + 4000, Base + 5000, metrics = Seq("cpu"))
    val e = intercept[IllegalArgumentException] {
      ChangesStream.drain(feed)(view.applyBatch)
    }
    assert(e.getMessage.contains("re-probe disagrees"), e.getMessage)
    graft.core.Fs.rmTree(new java.io.File(dir))
  }

  test("top-k rides the multi-view fan-out and refuses a thinned synopsis instead of serving a partial top-j") {
    val dir = Files.createTempDirectory("cdc_topk_mv").toString
    val t = new TsdbTable(spark, s"$dir/table",
      TsdbConfig(rollupIntervalMs = 3600000L, overrideOld = true))
    val feed = new ChangesStream.ChangesFeed(t, s"$dir/ckpt")
    val topk = new ChangesStream.SeriesTopKReplica(spark, s"$dir/topk",
      k = 3, snapshotAt = seq => t.readRawAsOf(0L, Long.MaxValue, seq))
    val stats = new ChangesStream.SeriesStatsReplica(spark, s"$dir/stats")
    val mv = new ChangesStream.MultiViewMaintainer(feed, Seq(topk, stats))
    t.append(samples((0 until 8).map(i => ("cpu", Base + i * 1000L, i.toDouble)): _*))
    assert(mv.drainAll() == 1)
    // crash mid-fan-out: top-k folds window 2 alone, restart converges
    t.delete(Base + 7000, Base + 7000, metrics = Seq("cpu"))
    val w = feed.poll().get
    topk.applyBatch(w._3, w._2)
    val mv2 = new ChangesStream.MultiViewMaintainer(
      new ChangesStream.ChangesFeed(t, s"$dir/ckpt"), Seq(topk, stats))
    assert(mv2.drainAll() >= 1)
    assert(viewTopK(topk, 2) == recompute(t, 2))
    // after deleting 7 the synopsis holds {6,5} (2 cands): top-2 serves,
    // top-3 REFUSES loudly (cnt=7 >= 3 but only 2 candidates)
    val e = intercept[IllegalArgumentException](topk.topK(3))
    assert(e.getMessage.contains("underserved"), e.getMessage)
    graft.core.Fs.rmTree(new java.io.File(dir))
  }
}

class CommitLogSpec extends SparkSuite {
  import graft.storage.{CommitLog, TsdbConfig, TsdbTable}
  import java.nio.file.Files
  import scala.jdk.CollectionConverters._

  private val Base = 1704067200000L

  private def hfs = org.apache.hadoop.fs.FileSystem.get(
    new java.net.URI("/tmp"), spark.sparkContext.hadoopConfiguration)

  private def samples(rows: (String, Long, Double)*): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("name", "time", "value")
      .select(col("name"), map(lit("host"), lit("x")).as("labels"),
        col("time"), col("value"))
  }

  test("32 threads race one version: the filesystem admits exactly one, and its body is whole") {
    val dir = Files.createTempDirectory("clog_race")
    val p = new org.apache.hadoop.fs.Path(dir.toString)
    val fs = hfs
    val wins = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val barrier = new java.util.concurrent.CyclicBarrier(32)
    val threads = (0 until 32).map { i =>
      new Thread(() => {
        barrier.await()
        if (CommitLog.tryPublish(fs, p, 1L,
            s"floor=$i\nhorizon=0\n".getBytes("UTF-8"))) wins.add(i)
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(wins.size == 1, s"conditional put admitted ${wins.size} writers: ${wins.asScala}")
    val (v, body) = CommitLog.readLatest(fs, p).get
    assert(v == 1L)
    // the winner's content, complete — never a torn or foreign body
    assert(body == s"floor=${wins.peek()}\nhorizon=0\n")
    graft.core.Fs.rmTree(dir.toFile)
  }

  test("chained contention: every version has exactly one winner; losers see the new tip on re-read") {
    val dir = Files.createTempDirectory("clog_chain")
    val p = new org.apache.hadoop.fs.Path(dir.toString)
    val fs = hfs
    for (v <- 1L to 6L) {
      val winners = new java.util.concurrent.atomic.AtomicInteger
      val barrier = new java.util.concurrent.CyclicBarrier(8)
      val threads = (0 until 8).map { i =>
        new Thread(() => {
          barrier.await()
          if (CommitLog.tryPublish(fs, p, v, s"floor=$v\n".getBytes("UTF-8")))
            winners.incrementAndGet()
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(winners.get == 1, s"version $v had ${winners.get} winners")
      // a loser's recovery path: re-read finds the tip it must rebase on
      assert(CommitLog.readLatest(fs, p).get._1 == v)
    }
    graft.core.Fs.rmTree(dir.toFile)
  }

  test("GC keeps the list-to-open race buffer and drops the rest; readLatest serves the tip") {
    val dir = Files.createTempDirectory("clog_gc")
    val p = new org.apache.hadoop.fs.Path(dir.toString)
    val fs = hfs
    for (v <- 1L to 20L) {
      assert(CommitLog.tryPublish(fs, p, v, s"floor=$v\n".getBytes("UTF-8")))
      CommitLog.gc(fs, p, v)
    }
    val (v, body) = CommitLog.readLatest(fs, p).get
    assert(v == 20L && body == "floor=20\n")
    val kept = new java.io.File(dir.toFile, "_commitlog").list().sorted.toSeq
    assert(kept == (13L to 20L).map(CommitLog.fileName),
      s"GC must keep exactly the last ${CommitLog.Keep} versions: $kept")
    graft.core.Fs.rmTree(dir.toFile)
  }

  test("legacy single-file manifest is honored, then migrated: first publish writes v1 and retires _commits") {
    val dir = Files.createTempDirectory("clog_legacy").toString
    val t = new TsdbTable(spark, dir, TsdbConfig(rollupIntervalMs = 3600000L))
    t.append(samples(("cpu", Base + 1000, 1.0), ("cpu", Base + 2000, 2.0)))
    t.append(samples(("cpu", Base + 3000, 3.0)))
    // age the table into a pre-log one: latest state into the legacy
    // single file, log removed (the on-disk shape older tables have)
    val fs = hfs
    val p = new org.apache.hadoop.fs.Path(dir)
    val (_, body) = CommitLog.readLatest(fs, p).get
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "_commits"),
      body.getBytes("UTF-8"))
    graft.core.Fs.rmTree(new java.io.File(dir, "_commitlog"))
    // a fresh instance reads the legacy manifest as-is
    val t2 = new TsdbTable(spark, dir, TsdbConfig(rollupIntervalMs = 3600000L))
    assert(t2.countMetrics() == 3)
    // its first publish migrates: v1 created, the shadowed file retired
    t2.append(samples(("cpu", Base + 4000, 4.0)))
    assert(CommitLog.readLatest(fs, p).get._1 == 1L)
    assert(!new java.io.File(dir, "_commits").exists,
      "the legacy manifest must be retired once the log owns the state")
    assert(t2.countMetrics() == 4)
    // the pre-migration commits stayed visible through the carried state
    assert(t2.readRaw(Base, Base + 10000).select("time").collect()
      .map(_.getLong(0)).toSet ==
      Set(Base + 1000, Base + 2000, Base + 3000, Base + 4000))
    graft.core.Fs.rmTree(new java.io.File(dir))
  }

  test("non-atomic schemes are rejected loudly; a does-not-exist IOException is NOT a lost CAS") {
    // an object-store scheme must never silently take the
    // create(overwrite=false) branch (exists-then-put there = the TOCTOU
    // this class removes); fake the scheme over a local FS to pin it
    val dir = Files.createTempDirectory("clog_scheme")
    val local = new org.apache.hadoop.fs.RawLocalFileSystem {
      override def getScheme: String = "s3a"
    }
    local.initialize(new java.net.URI("file:///"),
      spark.sparkContext.hadoopConfiguration)
    val e = intercept[UnsupportedOperationException] {
      CommitLog.tryPublish(local, new org.apache.hadoop.fs.Path(dir.toString),
        1L, "floor=1\n".getBytes("UTF-8"))
    }
    assert(e.getMessage.contains("s3a"))
    // an hdfs-like scheme whose create fails with "does not exist" must
    // PROPAGATE (infrastructure error), not report a lost CAS (false)
    val failing = new org.apache.hadoop.fs.RawLocalFileSystem {
      override def getScheme: String = "hdfs"
      override def create(f: org.apache.hadoop.fs.Path,
          overwrite: Boolean): org.apache.hadoop.fs.FSDataOutputStream =
        throw new java.io.IOException(s"Parent directory does not exist: $f")
    }
    failing.initialize(new java.net.URI("file:///"),
      spark.sparkContext.hadoopConfiguration)
    intercept[java.io.IOException] {
      CommitLog.tryPublish(failing, new org.apache.hadoop.fs.Path(dir.toString),
        2L, "floor=2\n".getBytes("UTF-8"))
    }
    graft.core.Fs.rmTree(dir.toFile)
  }
}
