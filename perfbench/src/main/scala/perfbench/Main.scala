package perfbench

import java.io.{File, FileInputStream, PrintWriter}
import java.util.Properties

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One timed operation of a workload's closed loop. A failed op keeps its
  * error and no latency: the report counts it as missing, never as fast. */
final case class OpRec(idx: Int, cls: String, startMs: Double, ms: Double, cpuMs: Double,
                       ok: Boolean, traced: Boolean, err: String,
                       result: Map[String, Any])

/** Everything one benchmark process measures; written as JSON at exit. */
final class Run(val spark: SparkSession, val tracer: Tracer, val seconds: Double,
                val input: String, val work: String) {
  val ops = ArrayBuffer[OpRec]()
  val checks = ArrayBuffer[(String, Boolean, String)]()
  val extra = mutable.LinkedHashMap[String, Any]()
  private val perClass = mutable.Map[String, Int]().withDefaultValue(0)
  private var clock = 0L

  val params: Properties = {
    val p = new Properties
    val in = new FileInputStream(s"$input/params.properties")
    try p.load(in) finally in.close()
    p
  }
  def int(k: String): Int = params.getProperty(k).toInt
  def long(k: String): Long = params.getProperty(k).toLong
  def str(k: String): String = params.getProperty(k)

  /** The workload's set-up (staging and warm-up); the timed loop starts
    * when it returns, and the report's set-up time ends there. */
  def setup[A](body: => A): A = {
    val t = System.nanoTime()
    val a = body
    clock = System.nanoTime()
    extra("staging_s") = (clock - t) / 1e9
    extra("first_op_epoch_s") = System.currentTimeMillis() / 1e3
    a
  }

  def elapsedS: Double = (System.nanoTime() - clock) / 1e9
  def timeLeft: Boolean = elapsedS < seconds

  /** Runs one op of class `cls`. With tracing on, the first op of a class
    * and every second one after it are traced, so traced and untraced ops
    * interleave. */
  def timed(cls: String)(body: => Map[String, Any]): Option[Map[String, Any]] = {
    val idx = ops.size
    val traced = tracer.enabled && perClass(cls) % 2 == 0
    perClass(cls) += 1
    val start = System.nanoTime()
    val cpu0 = Main.processCpuNs()
    def rec(ok: Boolean, err: String, r: Map[String, Any]) =
      ops += OpRec(idx, cls, (start - clock) / 1e6, (System.nanoTime() - start) / 1e6,
        (Main.processCpuNs() - cpu0) / 1e6, ok, traced, err, r)
    try {
      val r = tracer.op(idx + 1L, traced)(tracer.span(s"op.$cls")(body))
      rec(ok = true, "", r)
      Some(r)
    } catch {
      case NonFatal(e) =>
        rec(ok = false, e.toString.take(300), Map.empty)
        None
    }
  }

  def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    checks += ((name, ok, if (ok) "" else detail))
}

object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val cores = Runtime.getRuntime.availableProcessors()
    val work = a("work")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // JVM start to a ready session: paid once per process
    val sessionS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val tracer = new Tracer(spark.sparkContext, a("trace") == "1")
    val run = new Run(spark, tracer, a("seconds").toDouble, a("input"), work)
    run.extra("session_s") = sessionS
    run.extra("cores") = cores
    val status =
      try {
        workload match {
          case "serve" => Serve(run)
          case "curate" => Curate(run)
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
        0
      } catch {
        case NonFatal(e) =>
          run.check("workload completed", ok = false, e.toString)
          e.printStackTrace()
          1
      }
    tracer.finish()
    run.extra("peak_rss_mb") = peakRssMb()
    writeResult(run, a("out"))
    spark.stop()
    sys.exit(status)
  }

  /** CPU time of the whole process (all threads), ns. */
  def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** High-water resident set of this JVM, from the kernel. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  private def writeResult(run: Run, path: String): Unit = {
    val spans = run.tracer.spans.map(s => Map("id" -> s.id, "name" -> s.name,
      "parent" -> s.parent, "op" -> s.op, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    val counters = run.tracer.recorder.map { r =>
      import scala.jdk.CollectionConverters._
      r.bySpan.asScala.map { case (k, c) => k.toString -> c.toMap }.toMap
    }.getOrElse(Map.empty)
    val doc = Map(
      "ops" -> run.ops.map(o => Map("idx" -> o.idx, "cls" -> o.cls, "start_ms" -> o.startMs,
        "ms" -> o.ms, "cpu_ms" -> o.cpuMs, "ok" -> o.ok, "traced" -> o.traced, "err" -> o.err,
        "result" -> o.result)).toSeq,
      "checks" -> run.checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) }.toSeq,
      "extra" -> run.extra.toMap,
      "spans" -> spans.toSeq,
      "counters" -> counters)
    val w = new PrintWriter(new File(path), "UTF-8")
    try w.write(Json(doc)) finally w.close()
  }
}

/** Minimal JSON writer for the result document. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case x => quote(x.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
