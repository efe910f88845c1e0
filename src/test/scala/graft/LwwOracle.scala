package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.storage.TsdbTable

/** Reference merged raw view, independent of the DSv2 scan: the raw
  * files read by Spark's own parquet reader under the declared
  * [[TsdbTable.RawFileSchema]], committed rows only (NULL `__seq` =
  * legacy, always visible; under `asOf` also `__seq <= asOf`), then —
  * on an `overrideOld` table — last-write-wins by a `row_number` window
  * over (series_id, time) ordered by `__seq` desc (NULLs last), with
  * tombstone winners dropped. Specs compare the engine's reads with
  * this, so no spec compares the scan with itself. */
object LwwOracle {
  def readRaw(t: TsdbTable, asOf: Option[Long] = None): DataFrame = {
    val spark = SparkSession.active
    val listed = spark.read.schema(TsdbTable.RawFileSchema).parquet(s"${t.path}/raw")
    val committed = asOf.fold(t.commitsSnapshot())(t.commitsSnapshotAsOf) match {
      case Some((floor, seqs)) =>
        listed.filter(col("__seq").isNull || col("__seq") <= floor ||
          col("__seq").isin(seqs.toSeq: _*))
      case None => listed
    }
    val visible = asOf.fold(committed)(s =>
      committed.filter(col("__seq").isNull || col("__seq") <= s))
    val merged =
      if (!t.config.overrideOld) visible
      else visible
        .withColumn("__rn", row_number().over(
          Window.partitionBy("series_id", "time").orderBy(col("__seq").desc)))
        .filter(col("__rn") === 1 && !coalesce(col("__del"), lit(false)))
    merged.select(TsdbTable.RawSchema.fieldNames.map(col): _*)
  }
}
