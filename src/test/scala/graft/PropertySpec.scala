package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.query.{QueryEngine, SelectParams}
import graft.storage.Rollup

/** Property tests for the aggregate algebra — an improvement the reference
  * lacks (SURVEY §5): partial→final merge must equal direct aggregation for
  * ANY data whenever the step is a multiple of the rollup interval, and the
  * engine must be insensitive to input row order. Uses scalacheck
  * generators with explicit seeds (the scalatest bridge isn't on the
  * offline classpath), so failures reproduce exactly. */
class PropertySpec extends SparkSuite {
  import spark.implicits._

  private val Base = 1704067200000L

  private case class S(series: Int, offsetMs: Long, value: Double)

  private val genCase: Gen[(List[S], Int, Int)] = for {
    n <- Gen.choose(1, 60)
    xs <- Gen.listOfN(n, for {
      series <- Gen.choose(0, 3)
      off <- Gen.choose(0L, 999L)
      v <- Gen.oneOf(Gen.choose(-1000.0, 1000.0), Gen.const(Double.NaN))
    } yield S(series, off, v))
    rollupUnits <- Gen.oneOf(1, 2, 4, 5, 10)
    stepFactor <- Gen.oneOf(2, 3, 4)
  } yield (xs, rollupUnits, stepFactor)

  private def df(xs: List[S], scaleMs: Long) =
    xs.map(s => ("m", s"h${s.series}", Base + s.offsetMs * scaleMs, s.value))
      .toDF("name", "host", "time", "value")
      .select(col("name"), map(lit("host"), col("host")).as("labels"),
        col("time"), col("value"), lit(null).cast("string").as("valueStr"))

  private def cases(n: Int): Seq[(List[S], Int, Int)] =
    (0 until n).map(i => genCase.pureApply(Gen.Parameters.default, Seed(42L + i)))

  test("PROPERTY: rollup-merge == direct aggregation when step % rollup == 0 (aggregate.go:317-361)") {
    cases(8).foreach { case (xs, rollupUnits, stepFactor) =>
      val unit = 10000L // 10s grid
      val data = df(xs, unit)
      val rollupMs = rollupUnits * unit
      val stepMs = rollupMs * stepFactor
      val p = SelectParams(name = "m",
        functions = "count,sum,sqr,min,max,avg,stddev,stdvar",
        from = Base, to = Base + 1000L * unit, step = stepMs)
      val direct = QueryEngine.select(data, p)
        .collect().map(r => (r.getString(1), r.getLong(2)) -> r.toSeq.drop(3)).toMap
      val merged = QueryEngine.serverAggregate(
        Rollup.build(data, rollupMs), p, p.baseFunctions, rollupMs)
        .collect().map(r => (r.getString(1), r.getLong(2)) -> r.toSeq.drop(3)).toMap
      assert(approxEq(direct, merged),
        s"rollup=$rollupMs step=$stepMs xs=$xs\ndirect=$direct\nmerged=$merged")
    }
  }

  test("PROPERTY: aggregation is input-order insensitive") {
    cases(8).foreach { case (xs, _, _) =>
      val p = SelectParams(name = "m", functions = "count,sum,min,max,last",
        from = Base, to = Base + 1000L * 1000L, step = 60000L)
      // `last` ties on identical (series,time) are resolved by max_by
      // nondeterministically — dedupe times per series to keep it defined
      val deduped = xs.groupBy(s => (s.series, s.offsetMs)).values.map(_.head).toList
      val a = QueryEngine.select(df(deduped, 1000L), p).collect().map(_.toSeq).toSet
      val b = QueryEngine.select(df(deduped.reverse, 1000L), p).collect().map(_.toSeq).toSet
      assert(a == b)
    }
  }

  test("PROPERTY: every ordered query output is globally sorted on its keys, in one partition, over multi-partition input") {
    import org.apache.spark.sql.{DataFrame, Row}
    import graft.query.RequestedColumn
    import graft.storage.{TsdbConfig, TsdbTable}
    val Hour = 3600000L
    val Day = 24 * Hour
    val to = Base + 3 * Day - 1
    val genRows = for {
      n <- Gen.choose(60, 160)
      xs <- Gen.listOfN(n, for {
        m <- Gen.oneOf("m0", "m1")
        h <- Gen.choose(0, 3)
        minute <- Gen.choose(0L, 3 * 24 * 60 - 1L)
        v <- Gen.choose(-100.0, 100.0)
      } yield (m, s"h$h", s"r${h % 2}", Base + minute * 60000L, v))
    } yield xs
    val keyOrd: Ordering[Seq[Any]] = new Ordering[Seq[Any]] {
      def compare(a: Seq[Any], b: Seq[Any]): Int = a.zip(b).iterator.map {
        case (x: String, y: String) => x.compareTo(y)
        case (x: Long, y: Long) => java.lang.Long.compare(x, y)
        case (x: Int, y: Int) => Integer.compare(x, y)
        case (x, y) => fail(s"unexpected sort key pair ($x, $y)")
      }.find(_ != 0).getOrElse(0)
    }
    def check(what: String, df: DataFrame, keys: String*): Unit = {
      val rows = df.collect().toSeq
      assert(rows.nonEmpty, s"$what: empty result")
      val sorted = rows.sortBy((r: Row) => keys.map(k => r.getAs[Any](k)))(keyOrd)
      assert(rows == sorted, s"$what: rows are not in (${keys.mkString(", ")}) order")
      assert(df.rdd.getNumPartitions == 1, s"$what: result is not one partition")
    }

    (0 until 2).foreach { i =>
      val xs = genRows.pureApply(Gen.Parameters.default, Seed(700L + i))
      val s = xs.toDF("name", "host", "region", "time", "value")
        .select(col("name"),
          map(lit("host"), col("host"), lit("region"), col("region")).as("labels"),
          col("time"), col("value"), lit(null).cast("string").as("valueStr"))
        .repartition(5)
      assert(s.rdd.getNumPartitions >= 4)
      val series = Seq("name", "labels_str")
      val agg = SelectParams(name = "m0", functions = "avg,max,rate", from = Base, to = to,
        step = Hour)
      check("raw", QueryEngine.raw(s, SelectParams(name = "m0", from = Base, to = to)),
        series :+ "t": _*)
      check("clientAggregate with rate", QueryEngine.clientAggregate(s, agg, agg.baseFunctions),
        series :+ "t": _*)
      check("slidingAggregate", QueryEngine.slidingAggregate(s,
        agg.copy(functions = "count,sum", aggregationWindow = 3 * Hour), Seq("count", "sum")),
        series :+ "t": _*)
      check("overlappingWindows", QueryEngine.overlappingWindows(s,
        agg.copy(functions = "count,max", windows = Seq(1, 3, 6)), Seq("count", "max")),
        series :+ "win": _*)
      check("downsample", QueryEngine.downsample(s,
        SelectParams(name = "m0", from = Base, to = to, step = Hour)), series :+ "t": _*)
      check("crossSeries", QueryEngine.crossSeries(s,
        agg.copy(functions = "avg_all,max_all"), Seq("avg", "max")), "name", "t")
      val multi = SelectParams(from = Base, to = to, step = Hour, requestedColumns = Seq(
        RequestedColumn("m0", "avg"), RequestedColumn("m1", "max"), RequestedColumn("m0", "rate")))
      check("multiAggregate fused", QueryEngine.select(s, multi), "labels_str", "t")
      check("multiAggregate via", QueryEngine.select(s,
        multi.copy(aggregationWindow = 2 * Hour)), "labels_str", "t")
      check("frame", QueryEngine.frame(s, SelectParams(from = Base, to = to), Seq("m0", "m1")),
        "labels_str", "t")
      check("toSeriesSet", QueryEngine.toSeriesSet(QueryEngine.select(s, agg), series,
        agg.baseFunctions), series ++ Seq("aggregate", "t"): _*)
      check("names", QueryEngine.names(s), "name")
      check("labelValues", QueryEngine.labelValues(s, "host"), "value")
      check("labelSets", QueryEngine.labelSets(s), series: _*)
    }

    // table paths: three one-day partitions, appended in two batches
    val xs = genRows.pureApply(Gen.Parameters.default, Seed(710L))
    val dir = java.nio.file.Files.createTempDirectory("prop_ordered").toString
    val t = new TsdbTable(spark, dir, TsdbConfig(preAggregates = Seq(Seq("region"))))
    def rows(part: List[(String, String, String, Long, Double)]) =
      part.toDF("name", "host", "region", "time", "value")
        .select(col("name"),
          map(lit("host"), col("host"), lit("region"), col("region")).as("labels"),
          col("time"), col("value"))
    val (first, second) = xs.splitAt(xs.length / 2)
    t.append(rows(first), incrementalRollup = true)
    val seq = t.currentSeq()
    t.append(rows(second), incrementalRollup = true)
    val rollupP = SelectParams(name = "m0", functions = "count,sum,avg,max", step = Day,
      from = Base, to = to)
    assert(t.canServerAggregate(rollupP))
    check("rollup-served TsdbTable.select", t.select(rollupP), "name", "labels_str", "t")
    check("pre-aggregate TsdbTable.select", t.select(rollupP.copy(groupBy = "region")),
      "name", "region", "t")
    check("TsdbTable.select multi-metric via", t.select(SelectParams(from = Base, to = to,
      step = Day, requestedColumns = Seq(RequestedColumn("m0", "sum"),
        RequestedColumn("m1", "max")))), "labels_str", "t")
    check("selectAsOf rollup", t.selectAsOf(rollupP, seq), "name", "labels_str", "t")
    check("selectAsOf raw", t.selectAsOf(SelectParams(name = "m0", from = Base, to = to), seq),
      "name", "labels_str", "t")
    check("TsdbTable.names", t.names(), "name")
  }

  test("PROPERTY: session_window == independent gap-island encoding") {
    import org.apache.spark.sql.expressions.Window
    cases(6).foreach { case (xs, rollupUnits, _) =>
      val gap = rollupUnits * 300L
      val data = xs.map(s => (s"u${s.series}", Base + s.offsetMs * 100L,
          if (s.value.isNaN) 0.0 else s.value))
        .toDF("key", "time", "value")
      val out = graft.ops.Sessions.byGap(data, col("key"), col("time"), col("value"), gap)
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
      // independent derivation: lag/cumsum islands (split when t - prev > gap)
      val w = Window.partitionBy("key").orderBy("time")
      val prev = lag(col("time"), 1).over(w)
      val isl = data
        .withColumn("brk", when(prev.isNull || col("time") - prev > gap, 1).otherwise(0))
        .withColumn("sid", sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("key", "sid")
        .agg(min("time").as("s"), (max("time") + gap).as("e"),
          count(lit(1)).as("n"), sum("value").as("sv"))
        .collect().map(r => (r.getString(0), r.getLong(2)) ->
          (r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
      assert(out.keySet == isl.keySet, s"gap=$gap xs=$xs")
      out.foreach { case (k, (e1, n1, sv1)) =>
        val (e2, n2, sv2) = isl(k)
        assert(e1 == e2 && n1 == n2 && math.abs(sv1 - sv2) <= 1e-9 * math.max(1.0, math.abs(sv1)),
          s"gap=$gap key=$k engine=($e1,$n1,$sv1) island=($e2,$n2,$sv2)")
      }
    }
  }

  test("PROPERTY: delete == relational anti-filter for ANY range/metric/label predicate; rollup and names rebuild to the survivors (v3iotsdb.go:272-477)") {
    import graft.storage.{TsdbConfig, TsdbTable}
    val HourMs = 3600000L
    // offsets span ~8 one-day partitions, so random ranges hit every
    // deleteImpl path: whole-partition metadata drops, boundary rewrites,
    // predicated rewrites, empty-partition cleanup, delete-everything
    val gen: Gen[(List[S], Long, Long, Boolean, Boolean)] = for {
      n <- Gen.choose(5, 40)
      xs <- Gen.listOfN(n, for {
        series <- Gen.choose(0, 2)
        off <- Gen.choose(0L, 199L)
        v <- Gen.choose(-100.0, 100.0)
      } yield S(series, off, v))
      fromOff <- Gen.choose(0L, 199L)
      len <- Gen.choose(0L, 220L) // can run past the data → full-tail drop
      byMetric <- Gen.oneOf(true, false)
      byLabel <- Gen.oneOf(true, false)
    } yield (xs, fromOff, fromOff + len, byMetric, byLabel)
    (0 until 6).foreach { i =>
      val (xs, f, t0, byMetric, byLabel) =
        gen.pureApply(Gen.Parameters.default, Seed(99L + i))
      val dir = java.nio.file.Files.createTempDirectory(s"del_prop$i").toString
      val tbl = new TsdbTable(spark, dir, TsdbConfig())
      val rows = xs.map(d =>
        (s"m${d.series % 2}", s"h${d.series}", Base + d.offsetMs * HourMs, d.value))
      tbl.append(rows.toDF("name", "host", "time", "value")
        .select(col("name"), map(lit("host"), col("host")).as("labels"),
          col("time"), col("value")))
      val (fromMs, toMs) = (Base + f * HourMs, Base + t0 * HourMs)
      tbl.delete(fromMs, toMs,
        metrics = if (byMetric) Seq("m0") else Nil,
        filter = if (byLabel) "labels['host'] = 'h1'" else "")
      def hit(r: (String, String, Long, Double)) =
        r._3 >= fromMs && r._3 <= toMs &&
          (!byMetric || r._1 == "m0") && (!byLabel || r._2 == "h1")
      // multiset compare: random (series, time) collisions keep BOTH rows
      val model = rows.filterNot(hit).groupBy(identity).view.mapValues(_.size).toMap
      val got = tbl.readRaw(0, Long.MaxValue / 2)
        .select("name", "labels_str", "time", "value").collect()
        .map(r => (r.getString(0), r.getString(1).stripPrefix("host="),
          r.getLong(2), r.getDouble(3)))
        .groupBy(identity).view.mapValues(_.size).toMap
      assert(got == model.toMap,
        s"case $i from=$f to=$t0 metric=$byMetric label=$byLabel")
      if (model.nonEmpty) {
        val cnt = tbl.readRollup().agg(sum("__p_count")).collect().head.getDouble(0)
        assert(cnt == model.values.sum.toDouble,
          s"case $i: rollup count $cnt != survivors ${model.values.sum}")
        assert(tbl.names().collect().map(_.getString(0)).toSet ==
          model.keySet.map(_._1), s"case $i: names dim not rebuilt")
      } else assert(tbl.countMetrics() == 0L, s"case $i: table should be empty")
    }
  }

  test("PROPERTY: overrideOld merge-on-read == last-write-wins map model") {
    import graft.storage.{TsdbConfig, TsdbTable}
    val genBatches: Gen[List[List[S]]] = Gen.listOfN(3, Gen.listOfN(8, for {
      series <- Gen.choose(0, 1)
      off <- Gen.choose(0L, 5L) // tiny domain → rewrites collide often
      v <- Gen.choose(-100.0, 100.0)
    } yield S(series, off, v)))
    (0 until 3).foreach { i =>
      val batches = genBatches.pureApply(Gen.Parameters.default, Seed(7L + i))
      val dir = java.nio.file.Files.createTempDirectory(s"mor_prop$i").toString
      val t = new TsdbTable(spark, dir, TsdbConfig(overrideOld = true))
      val model = scala.collection.mutable.Map.empty[(Int, Long), Double]
      batches.foreach { b =>
        // within one batch the table keeps an ARBITRARY row per (series,
        // time) — dedupe the batch in the model's favor by keeping one
        val deduped = b.groupBy(s => (s.series, s.offsetMs)).values.map(_.head).toList
        t.append(df(deduped, 60000L).drop("valueStr"))
        deduped.foreach(s => model((s.series, s.offsetMs)) = s.value)
      }
      val got = t.readRaw(0L, Long.MaxValue / 2)
        .select("labels_str", "time", "value").collect()
        .map(r => (r.getString(0).stripPrefix("host=h").toInt,
          (r.getLong(1) - Base) / 60000L) -> r.getDouble(2)).toMap
      assert(got == model.toMap, s"case $i: got=$got model=$model")
      // rollup agrees with the merged view: count == distinct keys
      val cnt = t.readRollup().agg(sum("__p_count")).collect().head.getDouble(0)
      assert(cnt == model.size.toDouble, s"case $i rollup count $cnt != ${model.size}")
    }
  }

  test("PROPERTY: nearDupClusters == driver-side union-find on random graphs") {
    def check(): Unit = (0 until 6).foreach { i =>
      val g = for {
        n <- Gen.choose(1, 40)
        edges <- Gen.listOfN(n, for {
          a <- Gen.choose(0L, 24L); b <- Gen.choose(0L, 24L) if a != b
        } yield (math.min(a, b), math.max(a, b)))
      } yield edges.distinct
      val edges = g.pureApply(Gen.Parameters.default, Seed(1000L + i))
      if (edges.nonEmpty) {
        // model: classic union-find, canonical = min member id
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
        val model = nodes.map(x => x -> find(x)).toMap
        val got = graft.ops.Dedup.nearDupClusters(
          edges.toDF("id_a", "id_b")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == model, s"case $i edges=$edges\ngot=$got\nmodel=$model")
      }
    }
    // as configured, adaptive execution coalesces each graph into one
    // partition; with coalescing off label propagation joins the
    // partitions' roots
    check()
    withConf("spark.sql.adaptive.coalescePartitions.enabled", "false")(check())
  }

  test("PROPERTY: LSH pairs == the self-join + explode-join reference, guard unbound and binding") {
    // random docs over a small vocabulary (many shared trigrams), a
    // one-word-edit near-dup of some of them, and a planted family of 5
    // identical docs: every band buckets the family together, so a guard
    // of 3 skips all of its buckets and the family's pairs must vanish
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    val family = "one two three four five six seven eight nine ten"
    (0 until 4).foreach { i =>
      val g = for {
        n <- Gen.choose(4, 24)
        base <- Gen.listOfN(n, for {
          len <- Gen.choose(3, 10)
          ws <- Gen.listOfN(len, Gen.oneOf(words))
        } yield ws)
        edits <- Gen.listOfN(n, Gen.option(Gen.zip(Gen.choose(0, 9), Gen.oneOf(words))))
      } yield base.zip(edits).zipWithIndex.flatMap { case ((ws, e), j) =>
        (j.toLong -> ws.mkString(" ")) +: e.toList.map { case (at, w) =>
          (500L + j) -> ws.updated(at % ws.size, w).mkString(" ")
        }
      }
      val rows = g.pureApply(Gen.Parameters.default, Seed(9100L + i)) ++
        (900L until 905L).map(_ -> family)
      val d = rows.toDF("doc_id", "text")
      for (maxBucket <- Seq(Int.MaxValue, 3)) {
        val out = graft.ops.Dedup.minHashLshPairs(d, "doc_id", "text", k = 3,
          threshold = 0.5, maxBucketSize = maxBucket)
        val got = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
        out.unpersist(blocking = true)
        val ref = LshOracle.pairs(d, "doc_id", "text", k = 3, threshold = 0.5,
            maxBucketSize = maxBucket)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
        assert(got.toSet == ref.toSet && got.size == ref.size,
          s"case $i maxBucket=$maxBucket\ngot=$got\nref=$ref")
        assert(got == got.sortBy(p => (p._1, p._2)), s"case $i: eager pairs not in (a, b) order")
        val familyPairs = got.count(p => p._1 >= 900L)
        assert(familyPairs == (if (maxBucket == 3) 0 else 10),
          s"case $i maxBucket=$maxBucket: $familyPairs planted-family pairs")
      }
    }
  }

  test("PROPERTY: indexed incremental dedup == recompute on random corpora") {
    // the touched-bucket broadcast restriction in crossVerifiedPairs must
    // be invisible in the output for ANY batch/history, including under a
    // binding maxBucketSize — the key invariant of the O(batch) refactor
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa")
    (0 until 3).foreach { i =>
      val g = for {
        nh <- Gen.choose(3, 12)
        nb <- Gen.choose(3, 12)
        mk = (id: Long) => for {
          len <- Gen.choose(3, 8)
          ws <- Gen.listOfN(len, Gen.oneOf(words))
        } yield id -> ws.mkString(" ")
        hist <- Gen.sequence[List[(Long, String)], (Long, String)](
          (0 until nh).map(j => mk(j.toLong)))
        batch <- Gen.sequence[List[(Long, String)], (Long, String)](
          (0 until nb).map(j => mk(100L + j)))
      } yield (hist, batch)
      val (hist, batch) = g.pureApply(Gen.Parameters.default, Seed(7000L + i))
      val hd = hist.toDF("doc_id", "text")
      val bd = batch.toDF("doc_id", "text")
      for (maxBucket <- Seq(Int.MaxValue, 2)) {
        val recompute = graft.ops.Dedup.incrementalDedupKeep(bd, hd,
            "doc_id", "text", k = 3, threshold = 0.5,
            maxBucketSize = maxBucket)
          .collect().map(_.getLong(0)).sorted.toSeq
        val dir = java.nio.file.Files.createTempDirectory("graft_pidx").toString
        graft.ops.Dedup.saveDedupIndex(hd, "doc_id", "text", dir, s"v$i", k = 3)
        val indexed = graft.ops.Dedup.incrementalDedupKeepIndexed(bd,
            "doc_id", "text", dir, threshold = 0.5, maxBucketSize = maxBucket)
          .collect().map(_.getLong(0)).sorted.toSeq
        assert(indexed == recompute,
          s"case $i maxBucket=$maxBucket\nindexed=$indexed\nrecompute=$recompute")
      }
    }
  }

  test("PROPERTY: hammingPairs == brute-force Hamming on random fingerprints (maxDist <= 3)") {
    // pigeonhole completeness: at maxDist <= 3 a shared 16-bit block is
    // GUARANTEED, so the banded output must equal brute force exactly.
    // Fingerprints mix clusters of near-identical values (few flipped
    // bits) with uniform randoms, so both dense and empty bands occur
    (0 until 4).foreach { i =>
      val g = for {
        n <- Gen.choose(2, 30)
        base <- Gen.listOfN(n, Gen.long)
        flips <- Gen.listOfN(n, Gen.choose(0, 4))
      } yield base.zip(flips)
      val cases = g.pureApply(Gen.Parameters.default, Seed(3000L + i))
      val fps = cases.zipWithIndex.flatMap { case ((b, fl), idx) =>
        // idx: the original; idx+1000: a copy with `fl` low bits flipped
        Seq((idx.toLong, b), (idx + 1000L, b ^ ((1L << fl) - 1)))
      }
      val model = (for {
        (ia, fa) <- fps; (ib, fb) <- fps if ia < ib
        d = java.lang.Long.bitCount(fa ^ fb) if d <= 3
      } yield (ia, ib) -> d).toMap
      // hammingPairs returns a persisted handle (Caching.scoped contract)
      // — release it per case, not at suite teardown
      val pairs = graft.ops.Dedup.hammingPairs(
        fps.toDF("id", "fp"), "id", "fp", maxDist = 3)
      val got =
        try pairs.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
        finally pairs.unpersist(blocking = false)
      assert(got == model, s"case $i\ngot=$got\nmodel=$model")
    }
  }

  test("PROPERTY: langIdModel classifies disjoint-alphabet languages perfectly on held-out strings") {
    import graft.ops.TextAnalysis
    // three synthetic "languages" over DISJOINT letter groups: every
    // cross-language bigram is unseen, so the add-k penalty makes the
    // true language's likelihood dominate by construction — any
    // misclassification is an estimator bug, not a fixture accident
    val alphabets = Seq(Seq("ab", "cd", "ef"), Seq("gh", "ij", "kl"), Seq("mn", "op", "qr"))
    val genDocs: Gen[List[(Long, Int, String)]] = Gen.listOfN(24, for {
      lang <- Gen.choose(0, 2)
      words <- Gen.listOfN(6, Gen.oneOf(alphabets(lang)))
    } yield (lang, words.mkString(" "))).map(_.zipWithIndex.map {
      case ((l, t), i) => (i.toLong, l, t)
    })
    (0 until 3).foreach { i =>
      val rows = genDocs.pureApply(Gen.Parameters.default, Seed(777L + i))
      val df = rows.map { case (id, l, t) => (id, s"L$l", t) }
        .toDF("doc_id", "lang", "text")
      val model = TextAnalysis.langIdModelTrain(
        df.filter(col("doc_id") % 2 === 0), "text", "lang")
      val pred = TextAnalysis.langIdModelScore(model,
          df.filter(col("doc_id") % 2 === 1), "doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      rows.filter(_._1 % 2 == 1).foreach { case (id, l, t) =>
        assert(pred(id) == s"L$l", s"case $i: doc $id '$t' predicted ${pred(id)}, is L$l")
      }
      // SHORT-doc backoff (r7): a single 2-char word has one bigram and
      // NO trigrams — the interpolated score must still classify it from
      // bigram evidence alone, for every word of every language
      val shorts = alphabets.zipWithIndex.flatMap { case (ws, l) =>
        ws.zipWithIndex.map { case (w, j) => (1000L + l * 10 + j, l, w) }
      }
      val sPred = TextAnalysis.langIdModelScore(model,
          shorts.map { case (id, _, w) => (id, w) }.toDF("doc_id", "text"),
          "doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      shorts.foreach { case (id, l, w) =>
        assert(sPred(id) == s"L$l", s"case $i: short doc '$w' predicted ${sPred(id)}, is L$l")
      }
    }
  }

  test("PROPERTY: dsirSelect is monotone in weight — no selected doc outranked by an unselected one; NULLs never selected") {
    import graft.ops.TextAnalysis
    val vocab = Seq("apple", "banana", "cherry", "gear", "piston", "valve", "motor")
    val genDocs: Gen[List[(Long, String)]] = Gen.listOfN(20, for {
      k <- Gen.choose(0, 8)
      ws <- Gen.listOfN(k, Gen.oneOf(vocab))
    } yield ws.mkString(" ")).map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) })
    (0 until 3).foreach { i =>
      val raw = genDocs.pureApply(Gen.Parameters.default, Seed(888L + i)).toDF("doc_id", "text")
      val target = Seq((100L, "apple banana cherry apple"),
        (101L, "banana cherry apple banana")).toDF("doc_id", "text")
      val sel = TextAnalysis.dsirSelect(
          TextAnalysis.dsirWeights(raw, target, "doc_id", "text"), 0.3)
        .collect().map(r => (if (r.isNullAt(4)) None else Some(r.getDouble(4)),
          r.getBoolean(5)))
      assert(sel.count(_._2) >= 1, s"case $i: nothing selected")
      sel.filter(_._1.isEmpty).foreach { case (_, s) =>
        assert(!s, s"case $i: NULL-weight doc selected") }
      val selectedMin = sel.collect { case (Some(w), true) => w }.minOption
      val unselectedMax = sel.collect { case (Some(w), false) => w }.maxOption
      (selectedMin, unselectedMax) match {
        case (Some(lo), Some(hi)) =>
          assert(lo >= hi, s"case $i: selected min $lo < unselected max $hi")
        case _ => ()
      }
    }
  }

  test("PROPERTY: CSV multi-sample lines == position-wise model for random value/time arrays (add.go:300-326)") {
    // each line: k values (numeric or variant word, mixed freely) paired
    // with k epoch-ms times — the reference's `v1:v2:v3` explode
    case class L(name: String, user: Int, vs: List[Either[Double, String]], ts: List[Long])
    val genLines: Gen[List[L]] = Gen.listOfN(12, for {
      name <- Gen.oneOf("m0", "m1")
      user <- Gen.choose(0, 3)
      k <- Gen.choose(1, 4)
      vs <- Gen.listOfN(k, Gen.oneOf(
        Gen.choose(-1e6, 1e6).map(Left(_)),
        Gen.oneOf("up", "down", "degraded").map(Right(_))))
      ts <- Gen.listOfN(k, Gen.choose(Base, Base + 86400000L))
    } yield L(name, user, vs, ts))
    (0 until 5).foreach { i =>
      val lines = genLines.pureApply(Gen.Parameters.default, Seed(321L + i))
      val df = lines.map(l => (l.name, s"user=${l.user}",
          l.vs.map(_.fold(_.toString, identity)).mkString(":"),
          l.ts.mkString(":")))
        .toDF("name", "labels", "value", "time")
      val got = graft.ingest.CsvSource.fromColumns(df, nowMs = Base)
        .collect().map(r => (r.getString(0), r.getMap[String, String](1)("user"),
          r.getLong(2), Option(if (r.isNullAt(3)) null else r.getDouble(3)),
          Option(r.getString(4))))
        .groupBy(identity).view.mapValues(_.size).toMap
      val model = lines.flatMap(l => l.vs.zip(l.ts).map { case (v, t) =>
        (l.name, l.user.toString, t,
          v.left.toOption, v.toOption)
      }).groupBy(identity).view.mapValues(_.size).toMap
      assert(got == model.toMap, s"case $i")
    }
  }

  test("PROPERTY: removeDupSpans keep-one — every duplicated gram survives contiguously in its owner doc; token accounting exact") {
    import graft.ops.Dedup
    // tiny vocabulary → dense duplication, adjacent spans with different
    // owners arise naturally (the island-ownership data-loss class)
    val genCorpus: Gen[List[(Long, String)]] = for {
      n <- Gen.choose(4, 10)
      docs <- Gen.listOfN(n, for {
        len <- Gen.choose(0, 14)
        ws <- Gen.listOfN(len, Gen.oneOf("a", "b", "c", "d"))
      } yield ws.mkString(" "))
    } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val k = 3
    (0 until 6).foreach { i =>
      val corpus = genCorpus.pureApply(Gen.Parameters.default, Seed(555L + i))
      val d = corpus.toDF("doc_id", "text")
      val out = Dedup.removeDupSpans(d, "doc_id", "text", k = k)
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
      def words(t: String) =
        if (t.trim.isEmpty) Seq.empty[String] else t.trim.split("\\s+").toSeq
      def grams(t: String) = words(t).sliding(k).filter(_.size == k).map(_.mkString(" ")).toSeq
      val byDoc = corpus.toMap
      // duplicated grams (>= 2 distinct docs) and their owners
      val docGrams = corpus.map { case (id, t) => id -> grams(t) }
      val dupGrams = docGrams.flatMap { case (id, gs) => gs.distinct.map(_ -> id) }
        .groupBy(_._1).filter(_._2.map(_._2).distinct.size >= 2)
        .view.mapValues(_.map(_._2).min).toMap
      dupGrams.foreach { case (g, owner) =>
        val cleaned = words(out(owner)._1).sliding(k).map(_.mkString(" ")).toSeq
        assert(cleaned.contains(g),
          s"case $i: duplicated gram '$g' lost from owner doc $owner " +
            s"('${byDoc(owner)}' -> '${out(owner)._1}')")
      }
      // token accounting: removed == original word count − cleaned count
      corpus.foreach { case (id, t) =>
        val (clean, removed) = out(id)
        assert(removed == words(t).size - words(clean).size,
          s"case $i doc $id: removed=$removed orig='${t}' clean='$clean'")
      }
    }
  }

  test("PROPERTY: wordNgrams == sliding-window model on random token lists") {
    (0 until 6).foreach { i =>
      val g = for {
        n <- Gen.choose(0, 30)
        words <- Gen.listOfN(n, Gen.oneOf("aa", "bb", "cc", "dd"))
        k <- Gen.choose(2, 5)
      } yield (words, k)
      val (words, k) = g.pureApply(Gen.Parameters.default, Seed(2000L + i))
      val text = words.mkString(" ")
      val model = if (words.isEmpty) Nil
                  else words.sliding(k).filter(_.size == k).map(_.mkString(" ")).toList
      val got = Seq(Tuple1(text)).toDF("text")
        .select(graft.ops.TextAnalysis.wordNgrams(col("text"), k))
        .collect().head.getSeq[String](0).toList
      assert(got == model, s"case $i k=$k words=$words\ngot=$got\nmodel=$model")
      // the codegen'd kernel must match the HOF formulation element-for-
      // element — including on whitespace-quirk inputs the model skips
      val fast = Seq(Tuple1(text)).toDF("text")
        .select(graft.ops.TextAnalysis.wordNgramsFast(col("text"), k))
        .collect().head.getSeq[String](0).toList
      assert(fast == model, s"case $i kernel diverges: $fast vs $model")
    }
    // quirk inputs: non-space outer whitespace (phantom tokens), empty,
    // NULL, k=1 filtering — kernel == HOF on every one
    val quirks = Seq("\tfoo bar", "foo bar\n", "  a  b  ", "", " ", "\t",
      "a", "one two three four", null)
    for (k <- 1 to 4; t <- quirks) {
      val df = Seq(Tuple1(t)).toDF("text")
      val hof = df.select(graft.ops.TextAnalysis.wordNgrams(col("text"), k))
        .collect().head.getSeq[String](0)
      val fast = df.select(graft.ops.TextAnalysis.wordNgramsFast(col("text"), k))
        .collect().head.getSeq[String](0)
      assert(fast == hof, s"k=$k text=${Option(t).map(_.replace("\t", "\\t").replace("\n", "\\n"))}: kernel $fast != HOF $hof")
    }
  }

  test("PROPERTY: packShards == driver cumulative-sum model on random ids/sizes") {
    (0 until 6).foreach { i =>
      val g = for {
        n <- Gen.choose(1, 60)
        rows <- Gen.listOfN(n, for {
          id <- Gen.choose(0L, 500L); tok <- Gen.choose(0L, 99L)
        } yield (id, tok))
        budget <- Gen.choose(50L, 300L)
        blocks <- Gen.oneOf(1, 7, 64, 1024)
      } yield (rows.distinctBy(_._1), budget, blocks)
      val (rows, budget, blocks) = g.pureApply(Gen.Parameters.default, Seed(3000L + i))
      val sorted = rows.sortBy(_._1)
      val offs = sorted.map(_._2).scanLeft(0L)(_ + _)
      val model = sorted.zip(offs).map { case ((id, tok), off) =>
        (id, tok, off, off / budget) }
      val got = graft.ops.Corpus.packShards(
          rows.toDF("doc_id", "tok"), "doc_id", col("tok"), budget, blocks)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toList
      assert(got == model, s"case $i budget=$budget blocks=$blocks rows=$sorted")
    }
  }

  test("PROPERTY: chunkByTokens == sliding-window model; overlap-stripped concat rebuilds the doc") {
    (0 until 6).foreach { i =>
      val g = for {
        n <- Gen.choose(0, 50)
        words <- Gen.listOfN(n, Gen.oneOf("aa", "bb", "cc", "dd", "ee"))
        chunk <- Gen.choose(2, 8)
        overlap <- Gen.choose(0, chunk - 1)
      } yield (words, chunk, overlap)
      val (words, chunk, overlap) = g.pureApply(Gen.Parameters.default, Seed(4000L + i))
      val stride = chunk - overlap
      // redundant-tail rule: a start s>0 with s+overlap >= len is dropped
      // (its chunk is contained in the previous one, which reached the end)
      val model = (0 until words.size by stride)
        .filter(st => st == 0 || st + overlap < words.size)
        .zipWithIndex.map { case (st, ci) =>
          val sl = words.slice(st, st + chunk)
          (1L, ci.toLong, sl.mkString(" "), sl.size.toLong)
        }
      val got = graft.ops.Corpus.chunkByTokens(
          Seq((1L, words.mkString(" "))).toDF("doc_id", "text"),
          "doc_id", "text", chunk, overlap)
        .orderBy("doc_id", "chunk_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toList
      assert(got == model.toList, s"case $i chunk=$chunk overlap=$overlap words=$words")
      // lossless: dropping each successor chunk's overlap prefix rebuilds the doc
      val rebuilt = got.map(_._3.split(" ").filter(_.nonEmpty).toList) match {
        case Nil => Nil
        case h :: t => h ++ t.flatMap(_.drop(overlap))
      }
      assert(rebuilt == words, s"case $i reconstruction failed")
    }
  }

  test("PROPERTY: vocabulary == driver tf/df model on random corpora") {
    (0 until 6).foreach { i =>
      val g = for {
        n <- Gen.choose(1, 30)
        docs <- Gen.listOfN(n, Gen.listOf(Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff")))
        minDf <- Gen.choose(1, 3)
      } yield (docs, minDf)
      val (docs, minDf) = g.pureApply(Gen.Parameters.default, Seed(5000L + i))
      val model = docs.zipWithIndex
        .flatMap { case (ws, id) => ws.map(w => (w, id)) }
        .groupBy(_._1)
        .map { case (w, occ) => (w, occ.size.toLong, occ.map(_._2).distinct.size.toLong) }
        .filter(_._3 >= minDf)
        .toList.sortBy { case (w, tf, _) => (-tf, w) }
        .take(4)
      val got = graft.ops.TextAnalysis.vocabulary(
          docs.zipWithIndex.map { case (ws, id) => (id.toLong, ws.mkString(" ")) }
            .toDF("doc_id", "text"),
          "doc_id", "text", minDf, topV = 4)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toList
      assert(got == model, s"case $i minDf=$minDf docs=$docs\ngot=$got\nmodel=$model")
    }
  }

  test("PROPERTY: every snapshot reproduces its recorded state; CDC replay transforms state i into state j") {
    import graft.storage.{TsdbConfig, TsdbTable}
    val HourMs = 3600000L
    sealed trait Mut
    case class App(rows: List[S]) extends Mut
    case class Del(fromOff: Long, toOff: Long) extends Mut
    val genMut: Gen[Mut] = Gen.frequency(
      3 -> (for {
        n <- Gen.choose(1, 10)
        xs <- Gen.listOfN(n, for {
          series <- Gen.choose(0, 2)
          off <- Gen.choose(0L, 47L) // 2 day-partitions; collisions rewrite
          v <- Gen.choose(-100.0, 100.0)
        } yield S(series, off, v))
      } yield App(xs)),
      1 -> (for {
        f <- Gen.choose(0L, 47L); l <- Gen.choose(0L, 12L)
      } yield Del(f, f + l)))
    val genScript: Gen[List[Mut]] = Gen.choose(4, 6).flatMap(Gen.listOfN(_, genMut))
    (0 until 2).foreach { i =>
      val script = genScript.pureApply(Gen.Parameters.default, Seed(2024L + i))
      val dir = java.nio.file.Files.createTempDirectory(s"tt_prop$i").toString
      val t = new TsdbTable(spark, dir, TsdbConfig(overrideOld = true))
      type Key = (String, String, Long)
      var state = Map.empty[Key, Double]
      val hist = scala.collection.mutable.ListBuffer.empty[(Long, Map[Key, Double])]
      script.foreach {
        case App(rows) =>
          // one row per key per batch (in-batch key ties are the
          // caller's bug, as in the reference — later BATCHES override)
          val dd = rows.groupBy(s => (s.series, s.offsetMs)).values.map(_.head).toList
          t.append(dd.map(s =>
              (s"m${s.series % 2}", s"h${s.series}", Base + s.offsetMs * HourMs, s.value))
            .toDF("name", "host", "time", "value")
            .select(col("name"), map(lit("host"), col("host")).as("labels"),
              col("time"), col("value")))
          dd.foreach { s =>
            state += ((s"m${s.series % 2}", s"h${s.series}", Base + s.offsetMs * HourMs) -> s.value)
          }
          hist += ((t.currentSeq(), state))
        case Del(f, to) =>
          // metric-predicated → always the tombstone path (no partition
          // drops, so the horizon never fences these snapshots)
          val (fromMs, toMs) = (Base + f * HourMs, Base + to * HourMs)
          t.delete(fromMs, toMs, metrics = Seq("m0", "m1"))
          state = state.filterNot { case ((_, _, tm), _) => tm >= fromMs && tm <= toMs }
          hist += ((t.currentSeq(), state))
      }
      def read(seq: Long): Map[Key, Double] =
        t.readRawAsOf(0L, Long.MaxValue / 2, seq)
          .select("name", "labels_str", "time", "value").collect()
          .map(r => (r.getString(0), r.getString(1).stripPrefix("host="),
            r.getLong(2)) -> r.getDouble(3)).toMap
      // 1) every snapshot handle reproduces the state recorded at mint time
      hist.foreach { case (seq, st) =>
        assert(read(seq) == st, s"case $i: snapshot $seq diverged")
      }
      // 2) CDC replay: state_i + changes(s_i, s_j) == state_j, for every
      // consecutive pair and the full span; pre-images match state_i
      val pairs = hist.toList.sliding(2).collect { case List(a, b) => (a, b) }.toList ++
        (if (hist.size > 1) List((hist.head, hist.last)) else Nil)
      pairs.foreach { case ((si, sti), (sj, stj)) =>
        val ch = t.changes(si, sj, preImages = true)
          .select("name", "labels_str", "time", "value", "_change_type").collect()
          .map(r => ((r.getString(0), r.getString(1).stripPrefix("host="),
            r.getLong(2)), r.getDouble(3), r.getString(4)))
        var replay = sti
        ch.foreach {
          case (k, v, "insert") =>
            assert(!sti.contains(k), s"case $i: insert of pre-existing $k"); replay += k -> v
          case (k, v, "update") => replay += k -> v
          case (k, v, "delete") =>
            assert(sti.get(k).contains(v),
              s"case $i: delete pre-image $v != since-state ${sti.get(k)}")
            replay -= k
          case (k, v, "update_preimage") =>
            assert(sti.get(k).contains(v),
              s"case $i: update pre-image $v != since-state ${sti.get(k)}")
          case (k, _, ct) => fail(s"case $i: unknown change type $ct for $k")
        }
        assert(replay == stj, s"case $i: replay(s=$si → $sj) diverged")
      }
    }
  }

  test("PROPERTY: physical rewrites fence exactly the pre-rewrite snapshots; later handles keep working") {
    import graft.storage.{TsdbConfig, TsdbTable}
    val HourMs = 3600000L
    val DayMs = 86400000L
    sealed trait Mut
    case class App(rows: List[S]) extends Mut
    case class Del(fromOff: Long, toOff: Long) extends Mut
    case object Compact extends Mut
    case class DropDay(day: Int) extends Mut
    val genMut: Gen[Mut] = Gen.frequency(
      4 -> (for {
        n <- Gen.choose(1, 8)
        xs <- Gen.listOfN(n, for {
          series <- Gen.choose(0, 2)
          off <- Gen.choose(0L, 71L) // 3 day-partitions
          v <- Gen.choose(-100.0, 100.0)
        } yield S(series, off, v))
      } yield App(xs)),
      2 -> (for { f <- Gen.choose(0L, 71L); l <- Gen.choose(0L, 10L) } yield Del(f, f + l)),
      1 -> Gen.const(Compact),
      1 -> Gen.choose(0, 2).map(DropDay(_)))
    val genScript: Gen[List[Mut]] = Gen.choose(5, 7).flatMap(Gen.listOfN(_, genMut))
    (0 until 2).foreach { i =>
      // always start with data on disk: handles only exist post-commit
      val script = App(List(S(0, 1L, 1.0), S(1, 30L, 2.0), S(2, 60L, 3.0))) +:
        genScript.pureApply(Gen.Parameters.default, Seed(4096L + i))
      val dir = java.nio.file.Files.createTempDirectory(s"hz_prop$i").toString
      val t = new TsdbTable(spark, dir, TsdbConfig(overrideOld = true))
      type Key = (String, String, Long)
      var state = Map.empty[Key, Double]
      def horizon(): Long = t.history().collect()
        .collectFirst { case r if r.getString(0) == "horizon" => r.getLong(1) }
        .getOrElse(0L)
      val hist = scala.collection.mutable.ListBuffer.empty[(Long, Map[Key, Double])]
      var fencedBelow = 0
      def afterMutation(): Unit = {
        hist += ((t.currentSeq(), state))
      }
      script.foreach {
        case App(rows) =>
          val dd = rows.groupBy(s => (s.series, s.offsetMs)).values.map(_.head).toList
          t.append(dd.map(s =>
              (s"m${s.series % 2}", s"h${s.series}", Base + s.offsetMs * HourMs, s.value))
            .toDF("name", "host", "time", "value")
            .select(col("name"), map(lit("host"), col("host")).as("labels"),
              col("time"), col("value")))
          dd.foreach { s =>
            state += ((s"m${s.series % 2}", s"h${s.series}", Base + s.offsetMs * HourMs) -> s.value)
          }
          afterMutation()
        case Del(f, to) =>
          val (fromMs, toMs) = (Base + f * HourMs, Base + to * HourMs)
          t.delete(fromMs, toMs, metrics = Seq("m0", "m1")) // tombstones only
          state = state.filterNot { case ((_, _, tm), _) => tm >= fromMs && tm <= toMs }
          afterMutation()
        case Compact =>
          val h0 = horizon()
          t.compact()
          if (horizon() > h0) fencedBelow = hist.length
          afterMutation()
        case DropDay(d) =>
          val h0 = horizon()
          val s0 = Base + d.toLong * DayMs
          t.delete(s0, s0 + DayMs - 1) // unpredicated full partition → drop
          state = state.filterNot { case ((_, _, tm), _) => tm >= s0 && tm <= s0 + DayMs - 1 }
          if (horizon() > h0) fencedBelow = hist.length
          afterMutation()
      }
      def read(seq: Long): Map[Key, Double] =
        t.readRawAsOf(0L, Long.MaxValue / 2, seq)
          .select("name", "labels_str", "time", "value").collect()
          .map(r => (r.getString(0), r.getString(1).stripPrefix("host="),
            r.getLong(2)) -> r.getDouble(3)).toMap
      hist.zipWithIndex.foreach { case ((seq, st), idx) =>
        if (idx < fencedBelow) {
          val e = intercept[IllegalArgumentException](read(seq))
          assert(e.getMessage.contains("horizon"),
            s"case $i idx=$idx: wrong refusal: ${e.getMessage}")
        } else {
          assert(read(seq) == st, s"case $i idx=$idx seq=$seq: snapshot diverged")
        }
      }
      // CDC from a fenced since refuses; from the newest fence-or-later
      // handle it replays to the final state
      if (fencedBelow > 0)
        intercept[IllegalArgumentException](t.changes(hist(0)._1).collect())
      val (okSeq, okState) = hist(fencedBelow)
      val ch = t.changes(okSeq)
        .select("name", "labels_str", "time", "value", "_change_type").collect()
        .map(r => ((r.getString(0), r.getString(1).stripPrefix("host="),
          r.getLong(2)), r.getDouble(3), r.getString(4)))
      var replay = okState
      ch.foreach {
        case (k, v, "insert") => replay += k -> v
        case (k, v, "update") => replay += k -> v
        case (k, _, "delete") => replay -= k
        case (k, _, ct) => fail(s"case $i: unexpected change type $ct for $k")
      }
      assert(replay == state, s"case $i: CDC replay from idx=$fencedBelow diverged")
    }
  }

  test("PROPERTY: every writer stores labels_str = canonicalStr(labels) on every live row") {
    import graft.core.Labels
    import graft.storage.{TsdbConfig, TsdbTable}
    val Day = 86400000L
    // empty maps and multi-key maps, keys drawn out of order
    val genLabels: Gen[Map[String, String]] = for {
      n <- Gen.choose(0, 3)
      keys <- Gen.pick(n, Seq("zone", "a", "host", "b2"))
      vals <- Gen.listOfN(n, Gen.oneOf("x", "y1", "z_9", "w"))
    } yield keys.zip(vals).toMap
    val genRows = for {
      n <- Gen.choose(20, 40)
      rows <- Gen.listOfN(n, for {
        m <- Gen.choose(0, 2)
        labels <- genLabels
        off <- Gen.choose(0L, 2 * Day - 1)
        v <- Gen.choose(-10.0, 10.0)
      } yield (s"m$m", labels, Base + off, v))
    } yield rows.groupBy(r => (r._1, r._2, r._3)).values.map(_.head).toList
    def frame(rows: Seq[(String, Map[String, String], Long, Double)]) =
      rows.toDF("name", "labels", "time", "value")
    def check(t: TsdbTable, step: String): Unit = {
      val live = LwwOracle.readRaw(t).select("labels", "labels_str").collect()
      assert(live.nonEmpty, s"$step: no live rows")
      live.foreach { r =>
        val m = r.getMap[String, String](0).toMap
        assert(r.getString(1) == Labels.canonicalStr(m), s"$step: $m stored as '${r.getString(1)}'")
      }
    }
    (0 until 2).foreach { i =>
      val rows = genRows.pureApply(Gen.Parameters.default, Seed(910L + i))
      val dir = java.nio.file.Files.createTempDirectory(s"graft_lstr_$i").toString
      // append-only: append, then a predicated delete that rewrites files
      val plain = new TsdbTable(spark, s"$dir/plain")
      plain.append(frame(rows))
      check(plain, s"case $i append")
      plain.delete(Base, Base + 2 * Day, filter = "value > 5")
      check(plain, s"case $i delete rewrite")
      // the streaming sink
      val sunk = new TsdbTable(spark, s"$dir/sink")
      new graft.sources.GraftStreamSink(spark, sunk.path,
        Map("checkpointlocation" -> s"$dir/ckpt")).addBatch(0L, frame(rows))
      check(sunk, s"case $i sink")
      // merge-on-read: append, rewrite, UPDATE, MERGE, compaction
      val mor = new TsdbTable(spark, s"$dir/mor", TsdbConfig(overrideOld = true))
      mor.append(frame(rows))
      check(mor, s"case $i MOR append")
      mor.append(frame(rows.take(rows.size / 2).map(r => r.copy(_4 = r._4 + 1))))
      check(mor, s"case $i MOR rewrite")
      val table = s"graft_lstr_$i"
      spark.sql(s"CREATE TABLE $table USING graft OPTIONS (path '${mor.path}')")
      try {
        // moves rows to a new label set: a tombstone plus an insert
        spark.sql(s"UPDATE $table SET labels = map_concat(labels, map('u', 'v')) WHERE value > 0")
        check(mor, s"case $i UPDATE")
        frame(rows.take(5).map(r => r.copy(_4 = 100.0)) ++
            rows.take(5).map(r => r.copy(_2 = r._2 + ("k0" -> "n"), _4 = 200.0)))
          .withColumn("ls", Labels.canonical(col("labels")))
          .createOrReplaceTempView(s"${table}_src")
        spark.sql(
          s"""MERGE INTO $table tgt USING ${table}_src src
             |ON tgt.name = src.name AND tgt.labels_str = src.ls AND tgt.time = src.time
             |WHEN MATCHED THEN UPDATE SET value = src.value
             |WHEN NOT MATCHED THEN INSERT (name, labels, time, value)
             |  VALUES (src.name, src.labels, src.time, src.value)
             |""".stripMargin)
        check(mor, s"case $i MERGE")
      } finally spark.sql(s"DROP TABLE $table")
      mor.compact()
      check(mor, s"case $i compaction")
      graft.core.Fs.rmTree(new java.io.File(dir))
    }
  }

  private def approxEq(a: Map[(String, Long), Seq[Any]], b: Map[(String, Long), Seq[Any]]): Boolean =
    a.keySet == b.keySet && a.forall { case (k, va) =>
      va.zip(b(k)).forall {
        case (null, null) => true
        case (x: Double, y: Double) =>
          (x.isNaN && y.isNaN) || math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(x))
        case (x, y) => x == y
      }
    }
}
