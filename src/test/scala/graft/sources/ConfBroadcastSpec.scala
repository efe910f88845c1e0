package graft.sources

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import graft.SparkSuite
import graft.storage.TsdbTable

/** DSv2 scans share one Hadoop-conf broadcast per SparkContext while the
  * conf is unchanged; a `set` or `unset` on the live conf makes the next
  * scan broadcast afresh, carrying the change. */
class ConfBroadcastSpec extends SparkSuite {
  import spark.implicits._

  private lazy val table: String = {
    val dir = Files.createTempDirectory("graft_confbc").toString
    new TsdbTable(spark, dir).append(Seq(("cpu", 1704067200000L, 1.0))
      .toDF("name", "time", "value")
      .selectExpr("name", "map('host', 'a') AS labels", "time", "value"))
    dir
  }

  /** The conf broadcast a fresh DSv2 scan of the table hands its readers. */
  private def scanConf(): Broadcast[SerializableHadoopConf] = {
    val df = spark.read.format("graft").load(table)
    val scan = df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }
      .getOrElse(fail("no BatchScanExec in plan"))
    val conf = scan.readerFactory.asInstanceOf[GraftReaderFactory].conf
    assert(df.count() == 1)
    conf
  }

  private def entries(c: org.apache.hadoop.conf.Configuration): Map[String, String] =
    c.iterator().asScala.map(e => e.getKey -> e.getValue).toMap

  test("scans reuse one conf broadcast until a set or unset changes the conf") {
    val hc = spark.sparkContext.hadoopConfiguration
    val key = "graft.test.k"
    val saved = Option(hc.get(key))
    try {
      hc.unset(key)
      val first = scanConf()
      val second = scanConf()
      assert(second.id == first.id, "an unchanged conf was broadcast again")
      // the broadcast carries every entry of the live conf, as shipped
      assert(entries(first.value.value) == entries(hc))

      hc.set(key, "v")
      val afterSet = scanConf()
      assert(afterSet.id != first.id, "a set did not invalidate the broadcast")
      assert(afterSet.value.value.get(key) == "v")
      assert(scanConf().id == afterSet.id)

      hc.unset(key)
      val afterUnset = scanConf()
      assert(afterUnset.id != afterSet.id, "an unset did not invalidate the broadcast")
      assert(afterUnset.value.value.get(key) == null)
    } finally {
      hc.unset(key)
      saved.foreach(hc.set(key, _))
    }
  }
}
