package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale + honesty receipt for the DSv2 batch source (SCALE.md r12):
  * stages one tsdb table from `factor`-replicated events, then times
  * reads of the same data (min of 2 runs, full materialization via an
  * aggregate over every row that survives):
  *
  *  - `native` — `spark.read.parquet(raw/)`: Spark's vectorized reader,
  *    no visibility/merge semantics. The throughput CEILING the custom
  *    record-assembly reader is honestly compared against.
  *  - `dsv2_full` — `format("graft")` unfiltered: same rows + committed
  *    visibility through the row-assembly reader.
  *  - `dsv2_filtered` — one metric + a half-range time filter pushed
  *    into the source: partition pruning + row-group stats + exact rows.
  *    The pushdown receipt is the RATIO to dsv2_full.
  *
  * `TsdbTable.readRaw` is the same scan (the engine reads its merged raw
  * view through this source), so it has no lane of its own. On a MOR
  * table the DSv2 lanes run the shuffle-free k-way merge.
  *
  * Usage: runMain graft.tools.Dsv2Scale <sfDir> [factor] [mor]
  */
object Dsv2Scale {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Dsv2Scale <sfDir> [factor] [mor]")
    val sfDir = args(0)
    val factor = if (args.length > 1) args(1).toInt else 1
    val mor = args.length > 2 && args(2).toBoolean
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.SparkTuning.freezeTolerant(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2_scale")
    try {
      val ev0 = graft.core.Samples.fromEvents(spark, sfDir).drop("valueStr")
      val samples =
        if (factor <= 1) ev0
        else ev0.crossJoin(spark.range(factor.toLong).toDF("k"))
          .withColumn("labels",
            map(lit("user"), concat(col("labels")("user"), lit("_"), col("k"))))
          .drop("k")
      val t = new graft.storage.TsdbTable(spark, s"$dir/table",
        graft.storage.TsdbConfig(overrideOld = mor))
      t.append(samples)
      if (mor) {
        // a rewrite burst so the merge has real work: every 'click' row
        // rewritten once (superseded versions stay on disk)
        t.append(samples.filter(col("name") === "click")
          .withColumn("value", col("value") + 1))
      }
      val rows = t.readRaw(0L, Long.MaxValue).count()

      def time[A](body: => A): Double = {
        val t0 = System.nanoTime()
        body
        (System.nanoTime() - t0) / 1e9
      }
      def best(body: => Unit): Double = math.min(time(body), time(body))
      // sum over an EXPRESSION (abs) so the r14 SUM pushdown can never
      // hijack the lane — these lanes measure the COLUMNAR SCAN path
      def force(df: org.apache.spark.sql.DataFrame): Unit = {
        val r = df.agg(count(lit(1)), sum(abs(col("value")))).collect()(0)
        require(r.getLong(0) > 0, "scan produced no rows")
      }

      val F = 1704067200000L
      val T = F + 15L * 86400000L
      val native = best(force(spark.read.parquet(s"$dir/table/raw")))
      val dsv2Full = best(force(spark.read.format("graft").load(s"$dir/table")))
      val dsv2Filt = best(force(spark.read.format("graft").load(s"$dir/table")
        .filter(col("name") === "click" && col("time").between(F, T))))
      // r13 aggregate pushdown receipt: COUNT(*) through the DSv2
      // source is a footer walk (no page IO) on an append-only table —
      // compare against Spark's parquet count over the same files
      // (itself footer-stat served) and the full-scan time above
      val dsv2Count = best {
        require(spark.read.format("graft").load(s"$dir/table").count() > 0)
      }
      val nativeCount = best {
        require(spark.read.parquet(s"$dir/table/raw").count() > 0)
      }
      // r14 pushed SUM receipt: a bare-column sum rides the aggregate
      // pushdown (single-column page walk, one partial per split) —
      // against the same aggregation through Spark's own scan
      val dsv2SumPushed = best {
        val r = spark.read.format("graft").load(s"$dir/table")
          .agg(count(lit(1)), sum("value")).collect()(0)
        require(r.getLong(0) > 0)
      }
      val nativeSum = best {
        val r = spark.read.parquet(s"$dir/table/raw")
          .agg(count(lit(1)), sum("value")).collect()(0)
        require(r.getLong(0) > 0)
      }
      // r13 columnar receipts: the WIDE projection (six columns, two of
      // them strings) is where row-at-a-time assembly used to pay; the
      // MAP lane reads the labels column through the nested-leaf cursor
      def forceWide(df: org.apache.spark.sql.DataFrame): Unit = {
        val r = df.agg(count(lit(1)), sum("value"),
          sum(col("time") % 997), sum(abs(col("series_id")) % 997),
          sum(length(col("name"))), sum(length(col("labels_str")))).collect()(0)
        require(r.getLong(0) > 0)
      }
      def forceMap(df: org.apache.spark.sql.DataFrame): Unit = {
        val r = df.agg(count(lit(1)), sum(size(col("labels")))).collect()(0)
        require(r.getLong(0) > 0)
      }
      val nativeWide = best(forceWide(spark.read.parquet(s"$dir/table/raw")))
      val dsv2Wide = best(forceWide(spark.read.format("graft").load(s"$dir/table")))
      val nativeMap = best(forceMap(spark.read.parquet(s"$dir/table/raw")))
      val dsv2Map = best(forceMap(spark.read.format("graft").load(s"$dir/table")))

      println(s"""{"tool":"Dsv2Scale","rows":$rows,"factor":$factor,"mor":$mor,""" +
        s""""native_sec":${f"$native%.3f"},"dsv2_full_sec":${f"$dsv2Full%.3f"},""" +
        s""""dsv2_filtered_sec":${f"$dsv2Filt%.3f"},""" +
        s""""filter_ratio":${f"${dsv2Filt / dsv2Full}%.3f"},""" +
        s""""dsv2_count_sec":${f"$dsv2Count%.3f"},"native_count_sec":${f"$nativeCount%.3f"},""" +
        s""""dsv2_sum_pushed_sec":${f"$dsv2SumPushed%.3f"},"native_sum_sec":${f"$nativeSum%.3f"},""" +
        s""""wide_native_sec":${f"$nativeWide%.3f"},"wide_dsv2_sec":${f"$dsv2Wide%.3f"},""" +
        s""""map_native_sec":${f"$nativeMap%.3f"},"map_dsv2_sec":${f"$dsv2Map%.3f"}}""")
    } finally {
      graft.core.Fs.rmTree(dir.toFile)
      spark.stop()
    }
  }
}
