package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast

/** Hadoop `Configuration` is not `java.io.Serializable` but IS a Hadoop
  * `Writable` — ship it to executors through its own wire format (the
  * same trick Spark's internal `SerializableConfiguration` uses; we keep
  * our own to stay off `private[spark]` API). Tasks get it through
  * [[SerializableHadoopConf.broadcast]]: one broadcast per SparkContext,
  * reused while the context's conf is unchanged. The raw-table files
  * themselves decode in [[GraftColumnar]]. */
final class SerializableHadoopConf(@transient var value: Configuration)
    extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}

object SerializableHadoopConf {

  // per context, the entries a broadcast was built from and the broadcast;
  // weak on the context, so a new SparkContext never receives an old one
  private val cache = new java.util.WeakHashMap[
    SparkContext, (Map[String, String], Broadcast[SerializableHadoopConf])]()

  /** The ONE way a task gets the Hadoop conf: as a broadcast, never
    * closure-captured — a closure-borne Configuration java-deserializes
    * per task. Serializing the whole conf (about a thousand entries) costs
    * far more than reading its entries, so the broadcast is cached per
    * SparkContext and reused while the entries of `sc.hadoopConfiguration`
    * equal the ones it was built from; any `set` or `unset` makes the next
    * call broadcast afresh. The value is a copy of those entries, so a
    * later change to the live conf never reaches a running reader. Unwrap
    * with `.value.value`; readers must not mutate it. */
  def broadcast(sc: SparkContext): Broadcast[SerializableHadoopConf] = {
    val entries = snapshot(sc.hadoopConfiguration)
    cache.synchronized {
      Option(cache.get(sc)).collect { case (built, conf) if built == entries => conf }
        .getOrElse {
          val copy = new Configuration(false)
          entries.foreach { case (k, v) => copy.set(k, v) }
          val conf = sc.broadcast(new SerializableHadoopConf(copy))
          cache.put(sc, (entries, conf))
          conf
        }
    }
  }

  private def snapshot(conf: Configuration): Map[String, String] = {
    val b = Map.newBuilder[String, String]
    conf.iterator().forEachRemaining(e => b += e.getKey -> e.getValue)
    b.result()
  }
}
