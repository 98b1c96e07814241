package graft.sources.v2

import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan}
import org.apache.spark.sql.execution.datasources.{FilePartition, FileStatusWithMetadata, PartitionDirectory, PartitionedFile}
import org.apache.spark.sql.execution.datasources.v2.GraftScanBridge
import org.apache.spark.sql.types.StructType

import graft.sources.{SerializableHadoopConf, avro => gavro}

/** V2 batch scan over a [[graft.sources.ManifestTable]] whose data files
  * are Avro containers — the third leg of the catalog's per-table format
  * story. The MANIFEST is the file listing (day pruning already applied
  * by [[VersionedScanBuilder.prunedManifest]]), so no file index or
  * partition discovery is needed. Input partitions follow the same split
  * policy as the parquet/orc legs ([[GraftScanBridge.packSplits]]): files
  * larger than the split size are cut into ranges, and ranges and small
  * files are bin-packed into multi-file partitions, so a table of many
  * small files runs about one task per core. Each range reads on Avro
  * sync markers (seek to the first block boundary at/after its start,
  * stop once past its end — the same protocol as the FileFormat leg),
  * records are projected by PHYSICAL field name into the required
  * schema, and `readSchema` reports the LOGICAL names. Filters are
  * re-applied exactly by Spark post-scan (the builder returns them all as
  * residual), identical to the parquet/orc legs' correctness contract —
  * those legs additionally prune row groups, which Avro containers don't
  * have.
  *
  * Split planning stats the listed files once on the driver (one
  * metadata call per file — a HEAD on object stores; the manifest is
  * already the pruned listing, so this is bounded by the files the scan
  * will actually read), and sizes splits from `spark`'s conf, the session
  * that planned the scan. */
class AvroManifestScan(spark: SparkSession, files: Seq[String],
                       physicalRead: StructType, logicalRead: StructType)
    extends Scan with Batch {

  override def readSchema(): StructType = logicalRead
  override def toBatch: Batch = this
  override def description(): String =
    s"AvroManifestScan[${files.size} files, ${logicalRead.fieldNames.mkString(",")}]"

  override def planInputPartitions(): Array[InputPartition] = {
    val statuses = files.map { f =>
      val p = new Path(f)
      FileStatusWithMetadata(p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getFileStatus(p))
    }
    val maxSplit = FilePartition.maxSplitBytes(spark,
      Seq(PartitionDirectory(InternalRow.empty, statuses)))
    GraftScanBridge.packSplits(spark, statuses, InternalRow.empty, maxSplit,
      _ => true).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new AvroManifestReaderFactory(physicalRead,
      SerializableHadoopConf.broadcast(spark))
}

class AvroManifestReaderFactory(physicalRead: StructType,
                                conf: Broadcast[SerializableHadoopConf])
    extends PartitionReaderFactory {

  // initial-defaults for columns absent from old files (EXISTS_DEFAULT
  // field metadata, internal representation) — all-null when no column
  // declares one; evaluated once per task, not per record
  @transient private lazy val existenceDefaults: Array[Any] = {
    val ds = org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
      .getExistenceDefaultValues(physicalRead)
    if (ds.forall(_ == null)) null else ds
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val splits = partition.asInstanceOf[FilePartition].files.iterator
    // the SESSION conf reaches the task (s3a credentials, endpoints) —
    // same propagation contract as AvroFileFormat.buildReader
    val hadoopConf = conf.value.value
    new PartitionReader[InternalRow] {
      private var reader: DataFileReader[GenericRecord] = _
      private var end = 0L
      private var row: InternalRow = _

      /** Opens the next split, positioned at its first block boundary. */
      private def open(f: PartitionedFile): Unit = {
        val in = new org.apache.avro.mapred.FsInput(f.toPath, hadoopConf)
        reader = DataFileReader.openReader(in, new GenericDatumReader[GenericRecord]())
          .asInstanceOf[DataFileReader[GenericRecord]]
        reader.sync(f.start)
        end = f.start + f.length
      }

      override def next(): Boolean = {
        while (reader == null || !reader.hasNext || reader.pastSync(end)) {
          close()
          if (!splits.hasNext) return false
          open(splits.next())
        }
        row = gavro.AvroConversions.toInternalRow(reader.next(), physicalRead,
          existenceDefaults)
        true
      }
      override def get(): InternalRow = row
      override def close(): Unit =
        if (reader != null) { reader.close(); reader = null }
    }
  }
}
