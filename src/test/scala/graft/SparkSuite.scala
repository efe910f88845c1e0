package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites. */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSuite.session

  def sf(dir: String): String = s"/root/testdata/$dir"

  /** Runs `body` with the session conf `key` set to `value`, then
    * restores the previous setting. */
  def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Runs `body` and returns the number of Spark jobs it started: jobs
    * submitted by the calling thread, or by threads it spawned (they
    * inherit its local properties). The listener bus is drained before
    * counting, so no job start is still in flight. */
  def jobsDuring(body: => Any): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(SparkSuite.JobTag) == tag)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    val prev = sc.getLocalProperty(SparkSuite.JobTag)
    sc.setLocalProperty(SparkSuite.JobTag, tag)
    try {
      body
      org.apache.spark.TestListenerBus.drain(sc)
      jobs.get
    } finally {
      sc.setLocalProperty(SparkSuite.JobTag, prev)
      sc.removeSparkListener(listener)
    }
  }
}

object SparkSuite {
  private val JobTag = "graft.test.jobsDuring"

  lazy val session: SparkSession = {
    // freezeTolerant: this VM stalls whole minutes at a time (hypervisor
    // snapshots); default timeouts declare the local executor dead on wake
    // and abort whichever suite is running
    val s = graft.core.SparkTuning.freezeTolerant(SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
