package graft.sources

import java.io.{IOException, ObjectInputStream, ObjectOutputStream}

import org.apache.hadoop.conf.Configuration
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession

/** A Hadoop [[Configuration]] that can reach executors. Configuration is
  * a Hadoop `Writable`, not `java.io.Serializable`, so readers built on
  * executors cannot receive the SESSION conf directly — and opening files
  * with a bare `new Configuration()` drops session-scoped settings (s3a
  * credentials, endpoints, custom filesystems). This wrapper serializes
  * the conf through its own Writable form (the standard Hadoop pattern;
  * Spark keeps an identical `SerializableConfiguration` internally, but it
  * is `private[spark]`).
  *
  * Task code never captures the wrapper itself: a captured conf would be
  * deserialized once per TASK (tens of ms for a full Configuration). Every
  * site ships it through [[SerializableHadoopConf.broadcast]] instead, as
  * Spark's own file formats do, so each executor deserializes it once and
  * tasks read `conf.value.value`.
  *
  * Deserialization rebuilds with `loadDefaults = false`: every default the
  * driver saw was captured by `write`, so the executor-side conf is an
  * exact snapshot, not a merge with executor-local defaults. */
private[graft] class SerializableHadoopConf(@transient var value: Configuration)
    extends Serializable {

  @throws[IOException]
  private def writeObject(out: ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }

  @throws[IOException]
  private def readObject(in: ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}

private[graft] object SerializableHadoopConf {

  /** Broadcasts the session's Hadoop conf, as it stands now, for
    * task-side file access. */
  def broadcast(spark: SparkSession): Broadcast[SerializableHadoopConf] =
    broadcast(spark, spark.sparkContext.hadoopConfiguration)

  /** Broadcasts an explicit conf (a file format's per-relation conf). */
  def broadcast(spark: SparkSession,
                conf: Configuration): Broadcast[SerializableHadoopConf] =
    spark.sparkContext.broadcast(new SerializableHadoopConf(conf))
}
