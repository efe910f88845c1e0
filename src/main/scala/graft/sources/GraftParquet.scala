package graft.sources

import org.apache.hadoop.conf.Configuration

/** Hadoop `Configuration` is not `java.io.Serializable` but IS a Hadoop
  * `Writable` — ship it to executors through its own wire format (the
  * same trick Spark's internal `SerializableConfiguration` uses; we keep
  * our own to stay off `private[spark]` API). The DSv2 scan broadcasts
  * it to its readers; WARC ingest and row-level writes ship it too. The
  * raw-table files themselves decode in [[GraftColumnar]]. */
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
