package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Label-set handling (reference `pkg/utils/labels.go`).
  *
  * A series is identified by its metric name + sorted label key/value pairs;
  * the reference hashes them with xxhash (`HashWithName`,
  * `pkg/appender/appender.go:211-216`) and serializes them `k1=v1,k2=v2`
  * (`labels.go:73-95`). We keep both as derived Spark columns so the hash is
  * computed distributed, inside codegen, never on the driver.
  */
object Labels {

  /** Canonical `k1=v1,k2=v2` serialization of a map<string,string> column,
    * sorted by key (labels are stored sorted in the reference model). */
  def canonical(labels: Column): Column =
    array_join(
      transform(
        array_sort(map_entries(labels)),
        e => concat(e.getField("key"), lit("="), e.getField("value"))),
      ",")

  /** 64-bit series identity from name + canonical labels. Matches the
    * reference's "hash of labels incl. __name__" identity semantics (not the
    * exact xxhash bytes — identity only needs to be stable + collision-safe). */
  def seriesId(name: Column, labels: Column): Column =
    seriesIdOf(name, canonical(labels))

  /** [[seriesId]] from a `labels_str` column already serialized by
    * [[canonical]]: a frame that carries one hashes it instead of
    * serializing the map a second time. */
  def seriesIdOf(name: Column, labelsStr: Column): Column =
    xxhash64(name, labelsStr)

  /** `df` with its series key `labels_str`: the frame's own column when
    * it has one (every TsdbTable raw read does — the string stored at
    * write), else serialized from `labels` by [[canonical]]. */
  def withLabelsStr(df: DataFrame): DataFrame =
    if (df.columns.contains("labels_str")) df
    else df.withColumn("labels_str", canonical(col("labels")))

  /** Parse `k1=v1,k2=v2` back into a map (reference `LabelsFromString`). */
  def parse(serialized: Column): Column =
    str_to_map(serialized, lit(","), lit("="))

  /** Scala-side canonicalization for driver/test code. */
  def canonicalStr(labels: Map[String, String]): String =
    labels.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(",")

  /** Metric/label name validation (reference `pkg/utils/validators.go`). */
  private val NameRe = "^[a-zA-Z_:][a-zA-Z0-9_:.]*$".r
  def isValidMetricName(name: String): Boolean =
    name.nonEmpty && NameRe.matches(name)
}
