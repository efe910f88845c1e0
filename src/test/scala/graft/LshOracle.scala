package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.Dedup

/** Reference MinHash-LSH self-join pairs, independent of the engine's
  * candidate and verification shapes: the engine's own banding
  * ([[Dedup.lshBuckets]]), then a bucket SELF-JOIN whose `maxBucketSize`
  * guard is a count window over (band, bucket), then verification by
  * exploding both sides' shingles, hash-joining them on the shingle and
  * counting the matches per pair: |A∩B| = matching rows,
  * |A∪B| = |A|+|B|-|A∩B|. Uncached and unordered; specs compare
  * [[Dedup.minHashLshPairs]] with it set-wise. */
object LshOracle {
  def pairs(docs: DataFrame, idCol: String, textCol: String, k: Int,
            threshold: Double, numHashes: Int = 64, bands: Int = 32,
            maxBucketSize: Int = Int.MaxValue): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val sh = docs.select(col(idCol).as("id"), Dedup.shingles(col(textCol), k).as("sh"))
    val buckets = Dedup.lshBuckets(sh, numHashes, bands)
      .withColumn("__bs", count(lit(1)).over(Window.partitionBy("band", "bucket")))
      .filter(col("__bs") <= maxBucketSize).drop("__bs")
    val cand = buckets.as("x").join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    val ex = sh.select(col("id"), explode(col("sh")).as("s"))
    cand
      .join(ex.select(col("id").as("id_a"), col("s")), "id_a")
      .join(ex.select(col("id").as("id_b"), col("s")), Seq("id_b", "s"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("both"))
      .join(sh.select(col("id").as("id_a"), size(col("sh")).as("na")), "id_a")
      .join(sh.select(col("id").as("id_b"), size(col("sh")).as("nb")), "id_b")
      .withColumn("jaccard",
        col("both").cast("double") / (col("na") + col("nb") - col("both")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }
}
