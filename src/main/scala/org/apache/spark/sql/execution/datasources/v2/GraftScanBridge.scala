package org.apache.spark.sql.execution.datasources.v2

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.connector.expressions.{Expression => V2Expression, Transform}
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReaderFactory, Scan, Statistics, SupportsReportPartitioning, SupportsReportStatistics}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning}
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.{FilePartition, FileStatusWithMetadata, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Bridge for [[graft.sources.v2.VersionedScanBuilder]]'s delegation into
  * Spark's native parquet scan: `ParquetScanBuilder`'s filter state is
  * protected and `sessionState` is private[sql], so an external builder
  * that has already done its own file pruning and filter translation
  * assembles the `ParquetScan` here — same construction the builder's own
  * `build()` performs, minus the pushdown bookkeeping the caller did
  * upstream. */
object GraftScanBridge {
  /** V2 runtime-filter predicates → V1 filters (the translation Spark's
    * own file sources use); `PredicateUtils` is private[sql], hence the
    * forwarder. Untranslatable predicates drop out — safe, since runtime
    * filters are pure pruning hints and the join re-applies them exactly. */
  def predicatesToV1(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Array[Filter] =
    org.apache.spark.sql.internal.connector.PredicateUtils.toV1(predicates)

  /** Catalyst predicate → V1 source filter (`DataSourceStrategy
    * .translateFilter` is protected[sql]); None for untranslatable
    * shapes — callers decide whether that is an error. */
  def catalystToV1(expr: org.apache.spark.sql.catalyst.expressions.Expression)
      : Option[Filter] =
    org.apache.spark.sql.execution.datasources.DataSourceStrategy
      .translateFilter(expr, supportNestedPredicatePushdown = true)

  /** A vectorized parquet scan over an explicit (pre-pruned) file index.
    * `pushedFilters` may include anything V1-translatable; the parquet
    * reader keeps only the convertible subset for row-group pruning and
    * Spark re-applies every predicate post-scan regardless. */
  def parquetScan(spark: SparkSession, index: PartitioningAwareFileIndex,
                  dataSchema: StructType, readDataSchema: StructType,
                  readPartitionSchema: StructType, pushedFilters: Array[Filter],
                  options: CaseInsensitiveStringMap): ParquetScan = {
    val hadoopConf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.newHadoopConfWithOptions(options.asCaseSensitiveMap().asScala.toMap)
    ParquetScan(spark, hadoopConf, index, dataSchema, readDataSchema,
      readPartitionSchema, pushedFilters, options)
  }

  /** The orc leg of the same delegation — per-table format routing in
    * [[graft.sources.v2.VersionedScanBuilder]]: Spark's native OrcScan
    * (vectorized reader, search-argument row pruning) over the pre-pruned
    * manifest file index. */
  def orcScan(spark: SparkSession, index: PartitioningAwareFileIndex,
              dataSchema: StructType, readDataSchema: StructType,
              readPartitionSchema: StructType, pushedFilters: Array[Filter],
              options: CaseInsensitiveStringMap)
      : org.apache.spark.sql.execution.datasources.v2.orc.OrcScan = {
    val hadoopConf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.newHadoopConfWithOptions(options.asCaseSensitiveMap().asScala.toMap)
    org.apache.spark.sql.execution.datasources.v2.orc.OrcScan(
      spark, hadoopConf, index, dataSchema, readDataSchema,
      readPartitionSchema, options, None, pushedFilters)
  }

  /** Spark's own file-source split policy over an explicit listing: cut
    * every splittable file at `maxSplit`, then bin-pack the splits
    * largest-first into partitions of about `maxSplit` bytes (each file
    * charged `spark.sql.files.openCostInBytes`). `maxSplit` comes from
    * `FilePartition.maxSplitBytes` over the whole scan, so a table of many
    * small files plans about one partition per core and a single large
    * file plans many. */
  def packSplits(spark: SparkSession, files: Seq[FileStatusWithMetadata],
                 partitionValues: InternalRow, maxSplit: Long,
                 isSplitable: Path => Boolean): Seq[FilePartition] = {
    val splits = files.flatMap { f =>
      PartitionedFileUtil.splitFiles(
        f, f.getPath, isSplitable(f.getPath), maxSplit, partitionValues)
    }.sortBy(-_.length)
    FilePartition.getFilePartitions(spark, splits, maxSplit)
  }
}

/** One key group's slice of files: a normal size-packed [[FilePartition]]
  * plus the partition-value key Spark's storage-partitioned-join planner
  * groups on. Every row inside belongs to exactly one partition value —
  * the invariant [[HasPartitionKey]] demands. */
case class GraftKeyedPartition(key: InternalRow, fp: FilePartition)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = key
  override def preferredLocations(): Array[String] = fp.preferredLocations()
}

/** Unwraps the key envelope and hands the inner [[FilePartition]] to the
  * format's own reader factory — the physical read is bit-identical to
  * the unkeyed scan. */
class GraftKeyedReaderFactory(inner: PartitionReaderFactory)
    extends PartitionReaderFactory {
  private def unwrap(p: InputPartition): FilePartition =
    p.asInstanceOf[GraftKeyedPartition].fp
  override def createReader(p: InputPartition) = inner.createReader(unwrap(p))
  override def createColumnarReader(p: InputPartition) =
    inner.createColumnarReader(unwrap(p))
  override def supportColumnarReads(p: InputPartition) =
    inner.supportColumnarReads(unwrap(p))
}

/** Reorders each emitted row/batch by a fixed column permutation —
  * `perm(j)` = the inner reader's ordinal feeding output position `j`.
  * File readers append partition-directory columns AFTER the data
  * columns, but a streaming consumer binds to the table-schema order at
  * analysis time; this wrapper reconciles the two. Columnar batches are
  * re-wrapped by pointer (no copy); row readers project. */
class GraftReorderedReaderFactory(inner: PartitionReaderFactory,
                                  perm: Array[Int], emitted: StructType)
    extends PartitionReaderFactory {
  override def supportColumnarReads(p: InputPartition): Boolean =
    inner.supportColumnarReads(p)

  override def createReader(p: InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[InternalRow] = {
    val d = inner.createReader(p)
    val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(
      perm.toIndexedSeq.map(i => org.apache.spark.sql.catalyst.expressions.BoundReference(
        i, emitted.fields(i).dataType, emitted.fields(i).nullable)))
    new org.apache.spark.sql.connector.read.PartitionReader[InternalRow] {
      override def next(): Boolean = d.next()
      override def get(): InternalRow = proj(d.get())
      override def close(): Unit = d.close()
    }
  }

  override def createColumnarReader(p: InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val d = inner.createColumnarReader(p)
    new org.apache.spark.sql.connector.read.PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
      override def next(): Boolean = d.next()
      override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = {
        val b = d.get()
        new org.apache.spark.sql.vectorized.ColumnarBatch(
          perm.map(b.column(_)), b.numRows())
      }
      override def close(): Unit = d.close()
    }
  }
}

/** Storage-partitioned joins (Iceberg's preserve-data-grouping shape):
  * wraps the format's [[FileScan]] so that (a) every planned input
  * partition holds files of ONE partition value and carries that value as
  * its [[HasPartitionKey]], and (b) the scan reports a connector
  * [[KeyGroupedPartitioning]] over the identity partition columns. With
  * `spark.sql.sources.v2.bucketing.enabled`, Spark's
  * V2ScanPartitioningAndOrdering rule turns the report into a catalyst
  * KeyGroupedPartitioning and EnsureRequirements elides the exchange on
  * both sides of a join keyed on the partition columns — at 100 TB, two
  * co-partitioned fact tables join with ZERO shuffle. File packing within
  * a key reuses Spark's own split/pack logic, so per-key parallelism and
  * split sizing match the unkeyed scan. */
class GraftKeyGroupedScan(delegate: FileScan, clustering: Array[Transform],
                          pathKey: Option[String => Any] = None,
                          preserveOrder: Boolean = false,
                          fileOrder: Option[String => Int] = None)
    extends Scan with Batch with SupportsReportPartitioning
    with SupportsReportStatistics {

  def inner: Scan = delegate
  override def readSchema(): StructType = delegate.readSchema()
  override def toBatch: Batch = this
  override def description(): String = s"KeyGrouped(${delegate.description()})"

  private lazy val selected = delegate.fileIndex.listFiles(Nil, Nil)

  /** (key row, reader partition values, files) per partition value. Two
    * layouts: identity dirs surface as the index's partition columns (key
    * = the dir values), hidden transforms (`__part=`) never do — there
    * `pathKey` parses the transform value back out of each file's
    * directory and readers keep the (empty) projected values. */
  private lazy val groups: Seq[(InternalRow, InternalRow, Seq[org.apache.spark.sql.execution.datasources.FileStatusWithMetadata])] =
    pathKey match {
      case Some(kf) =>
        selected.flatMap(pd => pd.files.map(f => (kf(f.getPath.toString), pd.values, f)))
          .groupBy(_._1).toSeq
          .map { case (k, fs) =>
            (InternalRow(k), fs.head._2, fs.map(_._3)) }
      case None =>
        val partSchema = delegate.fileIndex.partitionSchema
        val partAttrs = DataTypeUtils.toAttributes(partSchema)
        // readers see the PROJECTED partition values (only the columns the
        // query reads); the partition KEY keeps the full clustering row
        val readAttrs = delegate.readPartitionSchema.fields.toIndexedSeq.map(f =>
          partAttrs.find(_.name.equalsIgnoreCase(f.name)).getOrElse(
            throw new IllegalStateException(
              s"read partition column ${f.name} absent from ${partSchema.fieldNames.mkString(",")}")))
        val needProject = delegate.readPartitionSchema != partSchema
        lazy val project = GenerateUnsafeProjection.generate(readAttrs, partAttrs)
        selected.map { pd =>
          val readerValues = if (needProject) project(pd.values).copy() else pd.values
          (pd.values, readerValues, pd.files)
        }
    }

  override def outputPartitioning(): Partitioning =
    new KeyGroupedPartitioning(
      clustering.map(t => t: V2Expression), math.max(1, groups.size))

  override def planInputPartitions(): Array[InputPartition] = {
    val spark = delegate.sparkSession
    // ORDER-PRESERVING mode (the scan reports SupportsReportOrdering —
    // see VersionedScanBuilder.reportableOrdering): one partition per
    // key, whole files unsplit and concatenated in `fileOrder` rank
    // (the builder's stamped-range order — a multi-file group with
    // provably disjoint ranges reads as one sorted run). Spark's
    // groupedPartitions concatenates a key's partitions in ARBITRARY
    // order and split-packing reorders by size, either of which would
    // silently break an elided Sort — the eligibility gate (per key: one
    // sorted file, or range-disjoint sorted files) makes this mode cost
    // little in parallelism.
    if (preserveOrder)
      groups.toArray.zipWithIndex.map { case ((key, readerValues, files), i) =>
        val inOrder = fileOrder match {
          case Some(rank) => files.sortBy(f => rank(f.getPath.getName))
          case None => files
        }
        val pfs = inOrder.map(f => PartitionedFileUtil.getPartitionedFile(
          f, f.getPath, readerValues, 0L, f.getLen)).toArray
        GraftKeyedPartition(key, FilePartition(i, pfs)): InputPartition
      }
    else {
      val maxSplit = FilePartition.maxSplitBytes(spark, selected)
      groups.toArray.flatMap { case (key, readerValues, files) =>
        GraftScanBridge.packSplits(spark, files, readerValues, maxSplit,
          delegate.isSplitable).map(fp => GraftKeyedPartition(key, fp): InputPartition)
      }
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftKeyedReaderFactory(delegate.createReaderFactory())
  override def estimateStatistics(): Statistics = delegate.estimateStatistics()
  override def supportedCustomMetrics() = delegate.supportedCustomMetrics()
}
