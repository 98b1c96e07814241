package org.apache.spark.sql.execution.datasources.v2

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext}

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Task-side row-file writing for the engine's streaming sink
  * ([[graft.sources.v2.VersionedStreamWrite]]): the format's own
  * output-writer factory (identical codec/conf to batch writes), wrapped
  * because `ParquetUtils`/`OutputWriterFactory` are sql-internal. The
  * handle is serializable and ships to executors; the write-job conf
  * rides a broadcast, so each executor deserializes it once. */
class GraftFileWriterHandle private[v2] (factory: OutputWriterFactory,
                                         jobConf: Broadcast[SerializableConfiguration])
    extends Serializable {
  def conf: Configuration = jobConf.value.value
  def extension(ctx: TaskAttemptContext): String = factory.getFileExtension(ctx)
  def open(path: String, schema: StructType, ctx: TaskAttemptContext): GraftRowFileWriter =
    new GraftRowFileWriter(factory.newInstance(path, schema, ctx))
}

/** Per-write session-conf isolation for the batch pool writer: rebinds a
  * DataFrame onto a CLONED session carrying INT64-MICROS parquet
  * timestamps, so engine pool files always get annotated (statistics-
  * bearing) timestamps while the caller's shared session — possibly
  * running other writes concurrently — keeps its own default. There is
  * no per-write option for the output timestamp type, and mutating the
  * shared session races concurrent query threads. */
object GraftWriteConf {
  /** Rebind `df` to a session clone configured for the engine's parquet
    * writes: INT64 MICROS timestamps, plus `extraConfs` copied verbatim
    * into the clone's SQLConf — `SessionState.newHadoopConf()` forwards
    * every session entry into the write job's Hadoop conf with its CASE
    * PRESERVED, which per-column parquet keys
    * (`parquet.bloom.filter.enabled#Col`) require; `DataFrameWriter
    * .options` lowercases keys through CaseInsensitiveMap and would
    * silently miss any mixed-case column. */
  def withMicrosTimestamps(df: org.apache.spark.sql.DataFrame,
                           extraConfs: Map[String, String] = Map.empty)
      : org.apache.spark.sql.DataFrame = {
    val classic = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val clone = classic.cloneSession()
    clone.conf.set(
      org.apache.spark.sql.internal.SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
      "TIMESTAMP_MICROS")
    extraConfs.foreach { case (k, v) => clone.conf.set(k, v) }
    org.apache.spark.sql.classic.Dataset.ofRows(clone,
      df.queryExecution.logical)
  }
}

class GraftRowFileWriter private[v2] (
    w: org.apache.spark.sql.execution.datasources.OutputWriter) {
  def write(row: InternalRow): Unit = w.write(row)
  def close(): Unit = w.close()
}

object GraftStreamWriteBridge {
  /** Driver-side preparation: write conf + factory for `fileSchema` in
    * the table's storage format — Spark's parquet/orc writer factories or
    * the engine's avro FileFormat (whose writer also leaves the hidden
    * stats sidecar the commit path reads). */
  def writerHandle(spark: SparkSession, fileSchema: StructType,
                   format: String): GraftFileWriterHandle = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val job = Job.getInstance(classic.sessionState.newHadoopConf())
    val factory = format match {
      case "parquet" =>
        val f = ParquetUtils.prepareWrite(
          classic.sessionState.conf, job, fileSchema,
          new ParquetOptions(Map.empty[String, String], classic.sessionState.conf))
        // engine-written timestamps are always INT64 MICROS (the form the
        // manifest's footer-stats reader and other engines decode; INT96
        // carries no usable statistics) — override whatever the session
        // default injected into the job conf
        job.getConfiguration.set(
          org.apache.spark.sql.internal.SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
          "TIMESTAMP_MICROS")
        f
      case "orc" => new org.apache.spark.sql.execution.datasources.orc.OrcFileFormat()
        .prepareWrite(classic, job, Map.empty[String, String], fileSchema)
      case "avro" => new graft.sources.avro.AvroFileFormat()
        .prepareWrite(classic, job, Map.empty[String, String], fileSchema)
      case other => throw new IllegalArgumentException(
        s"unstreamable storage format $other")
    }
    new GraftFileWriterHandle(factory,
      spark.sparkContext.broadcast(new SerializableConfiguration(job.getConfiguration)))
  }
}
