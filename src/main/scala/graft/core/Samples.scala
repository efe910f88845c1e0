package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The canonical sample model (reference §1.1: `(labels, t, v)` with the
  * metric name carried as a reserved label; `pkg/appender/appender.go:194-287`).
  *
  * Spark schema (SURVEY §1.6):
  * {{{
  *   name      string               metric name
  *   labels    map<string,string>   open label map
  *   time      long                 unix MILLISECONDS (the reference is ms-based)
  *   value     double               numeric sample (null for variant series)
  *   valueStr  string               variant ("string"-typed) sample, else null
  * }}}
  * Derived: `series_id` (xxhash64 of name+canonical labels) and
  * `part_start` (time partition) are added by the storage layer.
  */
object Samples {

  val TimeCol = "time"

  /** events.ts arrives as either parquet TIMESTAMP(NANOS) — which Spark
    * can only read as epoch-ns long (`nanosAsLong`) — or TIMESTAMP(MICROS),
    * which reads as a (NTZ) timestamp; driver snapshots have used both.
    * `tsMs` normalizes either to the reference's native epoch-ms long
    * (DuckDB oracle parity: `epoch_ns(ts) // 1000000`). The NTZ→timestamp
    * cast is a no-op on the underlying micros because every entry point
    * pins `spark.sql.session.timeZone=UTC`. */
  private def readEvents(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$sfDir/events.parquet")
  }

  private def tsMs(df: DataFrame): Column = df.schema("ts").dataType match {
    case org.apache.spark.sql.types.LongType => expr("ts div 1000000")
    case _ => expr("unix_micros(cast(ts as timestamp)) div 1000")
  }

  /** Map the driver `events` table onto numeric metric samples:
    * name = event_type, labels = {user: user_id}, time = epoch ms, value.
    * This is the fixture equivalent of the reference's ingest API. */
  def fromEvents(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = readEvents(spark, sfDir)
    ev.select(
      col("event_type").as("name"),
      map(lit("user"), col("user_id").cast("string")).as("labels"),
      tsMs(ev).as(TimeCol),
      col("value").as("value"),
      lit(null).cast("string").as("valueStr"))
  }

  /** Variant (string-typed) metric view over `events.props`
    * (reference variant encoding, `pkg/chunkenc/vartype.go`). */
  def variantFromEvents(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = readEvents(spark, sfDir)
    ev.select(
      lit("props").as("name"),
      map(lit("user"), col("user_id").cast("string")).as("labels"),
      tsMs(ev).as(TimeCol),
      lit(null).cast("double").as("value"),
      col("props").as("valueStr"))
  }
}
