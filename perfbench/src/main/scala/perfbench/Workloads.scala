package perfbench

import java.io.File

import scala.io.Source

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{NumericType, StructType}

import graft.ops.{Corpus, Dedup, TextAnalysis}
import graft.query.SelectParams
import graft.storage.{TsdbConfig, TsdbTable}

/** Helpers shared by the workloads. */
object Common {
  val DayMs = 86400000L
  val HourMs = 3600000L

  /** A query op split at the layer boundaries: building the frame (schema
    * inference, registry collects), planning it, and running it. The rows
    * come back to the client; the result is their count plus the sum and
    * maximum of every numeric column. */
  def query(run: Run, cls: String)(build: => DataFrame): Map[String, Any] = {
    val df = run.tracer.span(s"scan.$cls.build")(build)
    run.tracer.span(s"scan.$cls.plan")(df.queryExecution.executedPlan)
    val rows = run.tracer.span(s"scan.$cls.exec")(df.collect())
    summarize(df.schema, rows)
  }

  def summarize(schema: StructType, rows: Array[Row]): Map[String, Any] = {
    val stats = schema.fields.zipWithIndex.collect {
      case (f, i) if f.dataType.isInstanceOf[NumericType] =>
        val vs = rows.filterNot(_.isNullAt(i)).map(_.get(i).asInstanceOf[Number].doubleValue)
        Seq(s"sum.${f.name}" -> vs.sum, s"max.${f.name}" -> (if (vs.isEmpty) Double.NaN else vs.max))
    }.flatten
    Map[String, Any]("rows" -> rows.length) ++ stats
  }

  /** Bytes and file count under `dir` (data files only). */
  def dirStats(dir: File): (Long, Long) =
    if (!dir.exists()) (0L, 0L)
    else if (dir.isFile) (if (dir.getName.startsWith(".")) (0L, 0L) else (dir.length, 1L))
    else dir.listFiles().map(dirStats).foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }

  def readPlan(path: String): Seq[Array[String]] = {
    val src = Source.fromFile(path, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map(_.split("\t")).toVector finally src.close()
  }

  def labelFilter(host: String, region: String): String =
    Seq(Option(host).map(h => s"labels['host'] = '$h'"),
      Option(region).map(r => s"labels['region'] = '$r'")).flatten.mkString(" AND ")
}

import Common._

/** `serve`: a read-only, seeded mix of query classes over an append-only
  * table (1 h rollup, `region` pre-aggregate) and a merge-on-read table
  * with rewrites and one tombstone. */
object Serve {
  def apply(run: Run): Unit = {
    val spark = run.spark
    val plan = readPlan(s"${run.input}/plan.tsv")
    val morDel = run.str("mor_delete").split(",")

    // with tracing on, the staging is traced as an op of its own: the bulk
    // append, and the manifest read after the last commit
    def stage(): (TsdbTable, TsdbTable) = run.tracer.op(-1L, traced = true) {
      val dir = s"${run.work}/serve"
      val a = new TsdbTable(spark, s"$dir/main", TsdbConfig(preAggregates = Seq(Seq("region"))))
      run.tracer.span("storage.append")(a.append(spark.read.parquet(s"${run.input}/main"),
        incrementalRollup = true))
      if (run.tracer.enabled) {
        val (bytes, files) = dirStats(new File(a.path))
        run.extra("append.setup.written_bytes") = bytes
        run.extra("append.setup.files_added") = files
      }
      val b = new TsdbTable(spark, s"$dir/mor", TsdbConfig(overrideOld = true))
      b.append(spark.read.parquet(s"${run.input}/mor_base"))
      b.append(spark.read.parquet(s"${run.input}/mor_rewrites"))
      b.delete(morDel(1).toLong, morDel(2).toLong, metrics = Seq(morDel(0)))
      run.tracer.span("storage.manifest")(b.currentSeq())
      (a, b)
    }

    def params(row: Array[String]): SelectParams = row(1) match {
      case "series_read" =>
        SelectParams(name = row(2), from = row(5).toLong, to = row(6).toLong,
          filter = labelFilter(row(3), row(4)))
      case "rollup_agg" =>
        SelectParams(name = row(2), functions = "count,sum,avg,max", step = DayMs,
          from = row(3).toLong, to = row(4).toLong)
      case "raw_agg" =>
        SelectParams(name = row(2), functions = "avg,max,rate", step = HourMs,
          from = row(4).toLong, to = row(5).toLong, filter = labelFilter(null, row(3)))
      case "mor_read" =>
        SelectParams(name = row(2), from = row(3).toLong, to = row(4).toLong)
    }

    def execute(row: Array[String], main: TsdbTable, mor: TsdbTable): Map[String, Any] = {
      val cls = row(1)
      val r = cls match {
        case "series_read" | "rollup_agg" | "raw_agg" =>
          query(run, cls)(main.select(params(row)))
        case "mor_read" =>
          query(run, cls)(mor.select(params(row)))
        case "label_scan" =>
          query(run, cls)(spark.read.format("graft").option("label.host", row(2)).load(main.path)
            .filter(col("time").between(row(3).toLong, row(4).toLong))
            .groupBy("name").agg(count(lit(1)).as("n"), sum("value").as("s")))
        case "meta" =>
          val vs = run.tracer.span("storage.meta")(main.labelValues("host").collect())
          Map("rows" -> vs.length, "values" -> vs.map(_.getString(0)).sorted.toSeq)
      }
      r ++ Map("plan" -> row(0).toInt)
    }

    // the set-up stages both tables and warms the JVM with queries taken
    // from the end of the plan, which no run reaches
    val (main, mor) = run.setup {
      val (a, b) = stage()
      plan.takeRight(run.int("warm_queries")).foreach(row => execute(row, a, b))
      (a, b)
    }

    // the planner's rollup share over the seeded plan: an exact count
    val aggs = plan.filter(r => r(1) == "rollup_agg" || r(1) == "raw_agg")
    run.extra("planner.agg_queries") = aggs.size
    run.extra("planner.rollup_served") = aggs.count(r => main.canServerAggregate(params(r)))

    var i = 0
    while (i < plan.size && run.timeLeft) {
      val row = plan(i)
      run.timed(row(1))(execute(row, main, mor))
      i += 1
    }
    run.extra("measured_s") = run.elapsedS
    run.extra("plan_rows_run") = i

    // merge-on-read checks: select and the DSv2 scan agree, rewrites show,
    // and the tombstoned range is empty
    val (lo, hi) = (run.long("mor_from"), run.long("mor_to"))
    for (m <- run.str("mor_metrics").split(",")) {
      val sel = mor.select(SelectParams(name = m, from = lo, to = hi))
        .agg(count(lit(1)), sum("v")).head()
      val scan = spark.read.format("graft").load(mor.path)
        .filter(col("name") === m && col("time").between(lo, hi))
        .agg(count(lit(1)), sum("value")).head()
      run.check(s"serve: MOR select and format(graft) agree on $m",
        sel.getLong(0) == scan.getLong(0) && sel.getDouble(1) == scan.getDouble(1),
        s"select $sel, scan $scan")
      run.extra(s"mor.$m.rows") = sel.getLong(0)
      run.extra(s"mor.$m.sum") = sel.getDouble(1)
    }
    val rewritten = run.str("mor_rewrite_probe").split(",")
    val got = mor.select(SelectParams(name = rewritten(0), from = rewritten(3).toLong,
      to = rewritten(3).toLong, filter = labelFilter(rewritten(1), rewritten(2))))
      .collect().map(_.getAs[Double]("v")).toSeq
    run.check("serve: a rewritten sample reads its new value",
      got == Seq(rewritten(4).toDouble), s"read $got, expected ${rewritten(4)}")
    val dead = mor.select(SelectParams(name = morDel(0), from = morDel(1).toLong,
      to = morDel(2).toLong)).count()
    val deadScan = spark.read.format("graft").load(mor.path)
      .filter(col("name") === morDel(0) && col("time").between(morDel(1).toLong, morDel(2).toLong))
      .count()
    run.check("serve: the tombstoned range is empty", dead == 0 && deadScan == 0,
      s"select $dead rows, scan $deadScan rows")
  }
}

/** `curate`: the training-data curation pipeline over staged corpus
  * shards, one shard per op; the curated rows come back to the client. */
object Curate {
  /** Gate → LSH pairs → clusters → drop → splits. Each stage is
    * materialized at its boundary so its span holds its own work. Returns
    * the kept docs (id, language, quality score, split) and the LSH pair
    * count. */
  def pipeline(run: Run, docs: DataFrame): (Array[Row], Long) = {
    val spark = run.spark
    val t = run.tracer
    val gated = t.span("ops.gate") {
      val g = docs
        .select(col("doc_id"), col("text"),
          TextAnalysis.tokens(col("text")).as("__w"),
          TextAnalysis.tokens(lower(col("text"))).as("__wl"))
        .select(col("doc_id"), col("text"), col("__w"),
          TextAnalysis.stopwordCounts(spark, col("__wl")).as("__sc"))
        .select(col("doc_id"),
          TextAnalysis.langIdFromCounts(col("text"), col("__sc")).as("pred_lang"),
          TextAnalysis.qualityColumnsFromCounts(col("text"), col("__w"), col("__sc")).last)
        .filter(col("quality_score") >= 0.4 && col("pred_lang") =!= "unknown")
        .persist()
      g.count()
      g
    }
    try {
      val (pairs, release, nPairs) = t.span("ops.lsh") {
        val (p, rel) = Dedup.minHashLshPairsDeferred(docs, "doc_id", "text",
          k = 3, threshold = 0.5, maxBucketSize = 1000)
        p.persist()
        (p, rel, p.count())
      }
      try {
        val clusters = t.span("ops.cluster")(Dedup.nearDupClusters(pairs))
        val kept = t.span("ops.drop") {
          Corpus.assignSplits(Dedup.dropNearDuplicates(gated, "doc_id", clusters),
            "doc_id", "split", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
            .select("doc_id", "pred_lang", "quality_score", "split").collect()
        }
        (kept, nPairs)
      } finally { release(); pairs.unpersist() }
    } finally gated.unpersist()
  }

  def apply(run: Run): Unit = {
    val spark = run.spark
    val nShards = run.int("shards")
    def read(dir: String) = spark.read.parquet(s"${run.input}/$dir").select("doc_id", "text")

    // the set-up stages the shards in memory and warms the JVM on the
    // warm-up corpus
    val staged = run.setup {
      val dfs = Vector.tabulate(nShards) { s =>
        val df = read(s"shards/$s").persist()
        df.count()
        df
      }
      for (_ <- 0 until run.int("warm_runs")) pipeline(run, read("warm"))
      dfs
    }

    // every shard runs at least once, so each is checked and the exact
    // per-shard counts cover the same shards in every run
    var i = 0
    while (run.timeLeft || i < nShards) {
      val s = i % nShards
      run.timed("curate") {
        val (kept, pairs) = pipeline(run, staged(s))
        Map("shard" -> s, "pairs" -> pairs, "docs" -> run.long(s"shard.$s.docs"),
          "rows" -> kept.length, "kept" -> kept.map(_.getLong(0)).sorted.toSeq)
      }
      i += 1
    }
    run.extra("measured_s") = run.elapsedS
  }
}
