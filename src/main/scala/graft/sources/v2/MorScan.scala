package graft.sources.v2

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarArray, ColumnarBatch, ColumnarMap}
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.SerializableHadoopConf

/** Merge-on-read application of DELETE FILES in the V2 scan — the
  * read-side half of [[graft.sources.ManifestTable.appendDeletes]] /
  * `appendEqualityDeletes`, doing for the catalog what Iceberg's delete
  * readers do for the reference:
  *
  *  - POSITIONAL tombstones: the driver ships only the SET of tombstoned
  *    file names (bounded by files touched since the last compaction) —
  *    each task loads its own file's positions from the delete files with
  *    a pushed `__file = <rel>` parquet filter (delete files are sorted by
  *    (`__file`, `__pos`), so row-group statistics skip everything else).
  *    Position lists NEVER materialize on the driver. Affected parquet
  *    files KEEP their splits (each split offsets positions by its first
  *    file row, recovered from the footer — [[MorDeletes.splitBaseRow]]);
  *    their scans push no data filters (skipping would desynchronize the
  *    row index);
  *  - EQUALITY deletes (the CDC shape): each task loads the bounded key
  *    sets of the delete files APPLICABLE to its partition — a key file
  *    applies only to data files with a strictly smaller commit sequence,
  *    so same-commit upserts and later re-inserts survive. Partitions are
  *    re-grouped so every partition's files share one applicable set;
  *    content-based filtering keeps splits AND pushed filters legal. When
  *    the projection lacks a key column, the underlying scan is WIDENED
  *    to read it and the wrapper projects it back out;
  *  - reads stay VECTORIZED either way: surviving row ids map through
  *    [[MaskedColumnVector]] (zero-copy, the Iceberg vectorized-delete
  *    shape); batches with nothing to drop pass through untouched. */
class MorScan(delegate: Scan, declared: StructType, keepIdx: Array[Int],
              widened: Boolean, physicalBatch: StructType,
              posAffected: Set[String], posSources: Map[String, PosSource],
              eqSpecs: Seq[EqDeleteSpec], dataSeqByRel: Map[String, Long])
    extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  private[graft] def inner: Scan = delegate
  override def readSchema(): StructType = declared
  override def toBatch: Batch = this
  override def description(): String =
    s"Mor(${delegate.description()}, ${posAffected.size} tombstoned files, " +
      s"${eqSpecs.size} equality-delete files, task-side deletes)"
  // the delegate's size estimate is an upper bound (tombstoned rows are
  // still scanned, just dropped) — fine for join planning
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    GraftScanStats.of(delegate)

  private def relOf(path: String): String = {
    val i = path.lastIndexOf("/data/")
    if (i < 0) "" else path.substring(i + "/data/".length)
  }

  /** Eq-delete files applicable to a data file: strictly newer sequence. */
  private def eqSigOf(rel: String): Seq[Int] = {
    val s = dataSeqByRel.getOrElse(rel, 0L)
    eqSpecs.indices.filter(i => eqSpecs(i).seq > s)
  }

  /** (partitions, partition → tombstoned rel, partition → applicable eq
    * specs). PARQUET files with positional tombstones KEEP their splits —
    * each split becomes its own single-file partition (never bin-packed
    * with other files, so the partition's row stream is exactly that
    * split's) and the reader offsets positions by the split's starting
    * file row, recovered task-side from the footer ([[MorDeletes
    * .splitBaseRow]]). A 1 GB file with one tombstone keeps its 8-way
    * parallelism — Iceberg's split-level delete application. Non-parquet
    * tombstoned files (orc) fall back to one whole-file partition. The
    * rest keep their splits, re-grouped so one partition never mixes
    * files with different applicable eq-delete sets. */
  private lazy val planned
      : (Array[InputPartition], Map[Int, String], Map[Int, Seq[Int]]) = {
    val out = Vector.newBuilder[InputPartition]
    val posBy = Map.newBuilder[Int, String]
    val eqBy = Map.newBuilder[Int, Seq[Int]]
    var idx = 0
    val wholeFilesEmitted = scala.collection.mutable.Set.empty[String]
    delegate.toBatch.planInputPartitions().foreach {
      case fp: FilePartition =>
        val (hit, rest) = fp.files.partition(f => posAffected.contains(relOf(f.urlEncodedPath)))
        rest.groupBy(f => eqSigOf(relOf(f.urlEncodedPath))).toSeq
          .sortBy(_._1.mkString(",")).foreach { case (sig, fs) =>
            out += FilePartition(idx, fs)
            if (sig.nonEmpty) eqBy += idx -> sig
            idx += 1
          }
        hit.foreach { f =>
          val path = f.urlEncodedPath
          val rel = relOf(path)
          def emit(file: org.apache.spark.sql.execution.datasources.PartitionedFile): Unit = {
            out += FilePartition(idx, Array(file))
            posBy += idx -> rel
            val sig = eqSigOf(rel)
            if (sig.nonEmpty) eqBy += idx -> sig
            idx += 1
          }
          if (rel.endsWith(".parquet") || rel.endsWith(".orc")) emit(f) // split kept as-is
          else if (!wholeFilesEmitted.contains(path)) {
            // positions are file-absolute and only parquet footers / ORC
            // stripe directories can locate a split's first row: any other
            // format reads whole-file (emitted once across this file's
            // splits), from row 0
            wholeFilesEmitted += path
            emit(f.copy(start = 0, length = f.fileSize))
          }
        }
      case other => out += other; idx += 1 // defensive: pass through untouched
    }
    (out.result().toArray, posBy.result(), eqBy.result())
  }

  override def planInputPartitions(): Array[InputPartition] = planned._1

  override def createReaderFactory(): PartitionReaderFactory =
    new MorReaderFactory(delegate.toBatch.createReaderFactory(), planned._2,
      planned._3, posSources, eqSpecs, keepIdx, widened, declaredPhysical,
      SerializableHadoopConf.broadcast(SparkSession.active))

  /** The kept columns' physical types, for the row-path projection —
    * sliced from the caller-supplied physical BATCH layout, never from
    * `delegate.readSchema()` (a renamed delegate reports the logical
    * projection there, whose ordinals/types diverge from the batch). */
  private def declaredPhysical: StructType =
    StructType(keepIdx.map(physicalBatch.fields))

  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    delegate.columnarSupportMode()
}

/** One equality-delete file: pool path, commit sequence, and its key
  * columns resolved to ordinals/types of the (widened) physical batch. */
case class EqDeleteSpec(path: String, seq: Long, keyNames: Array[String],
                        keyOrdinals: Array[Int], keyTypes: Array[DataType])

/** One dv-blob section holding a target file's positions at one delete
  * version ([[graft.sources.DeleteVectors]]). */
private[graft] case class DvSlice(path: String, offset: Long, len: Int, seq: Long)

/** Every positional-tombstone artifact applying to ONE target file:
  * parquet tombstone files that name it (loaded with a pushed `__file`
  * filter) plus its deletion-vector slices (one ranged read each). */
private[graft] case class PosSource(parquet: Seq[String], slices: Seq[DvSlice]) {
  def isEmpty: Boolean = parquet.isEmpty && slices.isEmpty
  private[graft] def cacheKey(rel: String): String =
    parquet.mkString("\u0000") + "\u0002" +
      slices.map(s => s"${s.path}@${s.offset}+${s.len}").mkString("\u0000") +
      "\u0001" + rel
}
private[graft] object PosSource {
  val empty: PosSource = PosSource(Nil, Nil)
}

/** Task-side delete loading — positions for positional tombstones, key
  * sets for equality deletes. Both bounded by the delete backlog since the
  * last compaction (the same working-set bound Iceberg's task-side delete
  * loading has). */
private[graft] object MorDeletes {
  /** EXECUTOR-LEVEL delete cache — delete files are immutable and
    * UUID-named, so a path-keyed entry can never go stale. Without it
    * every task re-reads the delete files applicable to its partition:
    * O(tasks × backlog) reads where O(executors × backlog) suffices
    * (Iceberg's executor delete-file cache), and with split-preserving
    * positional reads every SPLIT of a tombstoned file would reload the
    * same position list. Soft references let memory pressure evict;
    * `compute` makes one thread load per key while racers wait. */
  private val cache = new java.util.concurrent.ConcurrentHashMap[
    String, java.lang.ref.SoftReference[AnyRef]]()
  /** Underlying delete-file LOAD counters (not cache hits) — observability
    * for the executor-cache specs. */
  val eqKeyLoads = new java.util.concurrent.atomic.AtomicLong(0)
  val positionLoads = new java.util.concurrent.atomic.AtomicLong(0)
  /** Ranged dv-slice reads (one per (file, slice), executor-cached). */
  val dvSliceLoads = new java.util.concurrent.atomic.AtomicLong(0)

  private def cached[T <: AnyRef](key: String)(load: => T): T = {
    var out: AnyRef = null
    while (out == null) { // re-load if the soft ref cleared mid-handoff
      out = cache.compute(key, (_, old) =>
        if (old != null && old.get() != null) old
        else new java.lang.ref.SoftReference[AnyRef](load)).get()
    }
    out.asInstanceOf[T]
  }

  def positionsFor(src: PosSource, rel: String,
                   conf: org.apache.hadoop.conf.Configuration): Array[Long] =
    // full-path key (no hashing): a hash collision would silently apply
    // the wrong file's tombstones
    cached(src.cacheKey(rel)) {
      val fromParquet =
        if (src.parquet.isEmpty) Array.emptyLongArray
        else {
          positionLoads.incrementAndGet()
          loadPositions(src.parquet, rel, conf)
        }
      if (src.slices.isEmpty) fromParquet
      else {
        val fromDv = src.slices.flatMap { s =>
          dvSliceLoads.incrementAndGet()
          graft.sources.DeleteVectors.decodePositions(
            graft.sources.DeleteVectors.readSliceBytes(s.path, s.offset, s.len, conf))
        }
        val all = fromParquet ++ fromDv
        java.util.Arrays.sort(all)
        dedupSorted(all)
      }
    }

  /** Parquet-only shape: positions of `rel` across tombstone files. */
  def positionsFor(deleteFiles: Seq[String], rel: String,
                   conf: org.apache.hadoop.conf.Configuration): Array[Long] =
    positionsFor(PosSource(deleteFiles, Nil), rel, conf)

  private def dedupSorted(arr: Array[Long]): Array[Long] =
    if (arr.length <= 1) arr
    else { // dedup: an UPDATE chain may re-tombstone a position across artifacts
      val b = Array.newBuilder[Long]
      var last = arr(0) - 1
      arr.foreach { p => if (p != last) { b += p; last = p } }
      b.result()
    }

  private def loadPositions(deleteFiles: Seq[String], rel: String,
                            conf: org.apache.hadoop.conf.Configuration): Array[Long] = {
    import org.apache.parquet.filter2.compat.FilterCompat
    import org.apache.parquet.filter2.predicate.FilterApi
    import org.apache.parquet.hadoop.ParquetReader
    import org.apache.parquet.hadoop.example.GroupReadSupport
    import org.apache.parquet.io.api.Binary
    val filter = FilterCompat.get(FilterApi.eq(
      FilterApi.binaryColumn("__file"), Binary.fromString(rel)))
    val out = Array.newBuilder[Long]
    deleteFiles.foreach { f =>
      val reader = ParquetReader
        .builder(new GroupReadSupport(), new org.apache.hadoop.fs.Path(f))
        .withConf(conf).withFilter(filter).build()
      try {
        var g = reader.read()
        while (g != null) {
          out += g.getLong("__pos", 0)
          g = reader.read()
        }
      } finally reader.close()
    }
    val arr = out.result()
    java.util.Arrays.sort(arr)
    dedupSorted(arr)
  }

  /** The FILE row index of a parquet split's first row. Spark's readers
    * assign a row group to the split containing its byte MIDPOINT
    * (`startingPos + compressedSize/2` — parquet-mr's
    * `filterFileMetaDataByMidpoint`), so the split's base row is the row
    * count of every row group whose midpoint precedes `splitStart`.
    * Replicating that rule from the footer (one task-side footer read,
    * the same read Iceberg tasks do) is what lets a tombstoned file keep
    * its splits: each split offsets file-absolute delete positions by
    * this base instead of collapsing to a whole-file read. */
  def splitBaseRow(path: org.apache.hadoop.fs.Path, splitStart: Long,
                   conf: org.apache.hadoop.conf.Configuration): Long = {
    if (splitStart == 0L) return 0L
    import scala.jdk.CollectionConverters._
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(path, conf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in,
      org.apache.parquet.HadoopReadOptions.builder(conf).build())
    try reader.getFooter.getBlocks.asScala
      .filter(b => b.getStartingPos + b.getCompressedSize / 2 < splitStart)
      .map(_.getRowCount).sum
    finally reader.close()
  }

  /** The ORC leg of [[splitBaseRow]]: ORC's record reader includes every
    * stripe whose STARTING OFFSET falls inside the byte range and counts
    * earlier stripes as skipped, so a split's base row is the row total of
    * stripes starting before `splitStart` — read from the file tail's
    * stripe directory (one task-side tail read, same as parquet's
    * footer). This is what lets a tombstoned ORC file keep its splits
    * instead of collapsing to a whole-file read. */
  def orcSplitBaseRow(path: org.apache.hadoop.fs.Path, splitStart: Long,
                      conf: org.apache.hadoop.conf.Configuration): Long = {
    if (splitStart == 0L) return 0L
    import scala.jdk.CollectionConverters._
    val reader = org.apache.orc.OrcFile.createReader(
      path, org.apache.orc.OrcFile.readerOptions(conf))
    try reader.getStripes.asScala
      .filter(_.getOffset < splitStart).map(_.getNumberOfRows).sum
    finally reader.close()
  }

  /** Extension-dispatched split base row (0 for whole-file reads). */
  def baseRowFor(path: org.apache.hadoop.fs.Path, splitStart: Long,
                 conf: org.apache.hadoop.conf.Configuration): Long =
    if (path.getName.endsWith(".orc")) orcSplitBaseRow(path, splitStart, conf)
    else splitBaseRow(path, splitStart, conf)

  /** First index of `positions` at or past `base` (positions sorted). */
  def lowerBound(positions: Array[Long], base: Long): Int = {
    var lo = 0; var hi = positions.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (positions(mid) < base) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Executor-cached key set of one eq-delete file. The pool path alone
    * is not the full identity: the extracted VALUES depend on the key
    * TYPES of the reading query's widened batch (a later type widening
    * changes them), so names and types join the cache key — same table
    * state shares one entry, post-widening queries load a fresh,
    * correctly-typed set. */
  def loadEqKeys(spec: EqDeleteSpec,
                 conf: org.apache.hadoop.conf.Configuration): java.util.HashSet[Seq[Any]] =
    cached(spec.path + "\u0001" + spec.keyNames.mkString(",") +
        "\u0001" + spec.keyTypes.mkString(",")) {
      eqKeyLoads.incrementAndGet()
      readEqKeys(spec, conf)
    }

  /** The canonical value of one key column from a parquet Group record —
    * chosen to compare equal to [[keyValueOf]]'s row-side extraction. */
  private def readEqKeys(spec: EqDeleteSpec,
                 conf: org.apache.hadoop.conf.Configuration): java.util.HashSet[Seq[Any]] = {
    import org.apache.parquet.hadoop.ParquetReader
    import org.apache.parquet.hadoop.example.GroupReadSupport
    val set = new java.util.HashSet[Seq[Any]]()
    val reader = ParquetReader
      .builder(new GroupReadSupport(), new org.apache.hadoop.fs.Path(spec.path))
      .withConf(conf).build()
    try {
      var g = reader.read()
      while (g != null) {
        set.add(spec.keyNames.indices.map { i =>
          val name = spec.keyNames(i)
          if (g.getFieldRepetitionCount(name) == 0) null
          else spec.keyTypes(i) match {
            case LongType | TimestampType | TimestampNTZType => g.getLong(name, 0)
            case IntegerType | DateType | ShortType | ByteType => g.getInteger(name, 0)
            case StringType  => UTF8String.fromString(g.getString(name, 0))
            case BooleanType => g.getBoolean(name, 0)
            case DoubleType  => g.getDouble(name, 0)
            case FloatType   => g.getFloat(name, 0)
            case other => throw new UnsupportedOperationException(
              s"equality-delete key type $other is not supported")
          }
        }.toSeq)
        g = reader.read()
      }
    } finally reader.close()
    set
  }

  /** Row-side canonical key value (widened-batch ordinals). Smaller
    * integral types widen to Int to match the parquet INT32 physical. */
  def keyValueOf(row: InternalRow, ord: Int, dt: DataType): Any =
    if (row.isNullAt(ord)) null
    else dt match {
      case LongType | TimestampType | TimestampNTZType => row.getLong(ord)
      case IntegerType | DateType => row.getInt(ord)
      case ShortType   => row.getShort(ord).toInt
      case ByteType    => row.getByte(ord).toInt
      case StringType  => row.getUTF8String(ord)
      case BooleanType => row.getBoolean(ord)
      case DoubleType  => row.getDouble(ord)
      case FloatType   => row.getFloat(ord)
      case other => throw new UnsupportedOperationException(
        s"equality-delete key type $other is not supported")
    }

  def keyTupleOf(row: InternalRow, spec: EqDeleteSpec): Seq[Any] =
    spec.keyOrdinals.indices.map(i =>
      keyValueOf(row, spec.keyOrdinals(i), spec.keyTypes(i)))
}

private[v2] class MorReaderFactory(delegate: PartitionReaderFactory,
                                   posBy: Map[Int, String],
                                   eqBy: Map[Int, Seq[Int]],
                                   posSources: Map[String, PosSource],
                                   eqSpecs: Seq[EqDeleteSpec],
                                   keepIdx: Array[Int],
                                   widened: Boolean,
                                   keptPhysical: StructType,
                                   conf: Broadcast[SerializableHadoopConf])
    extends PartitionReaderFactory {

  private def idxOf(p: InputPartition): Int = p match {
    case fp: FilePartition => fp.index
    case _ => -1
  }

  override def supportColumnarReads(p: InputPartition): Boolean =
    delegate.supportColumnarReads(p)

  private def eqSetsFor(p: InputPartition): Seq[(EqDeleteSpec, java.util.HashSet[Seq[Any]])] =
    eqBy.getOrElse(idxOf(p), Nil).map { i =>
      (eqSpecs(i), MorDeletes.loadEqKeys(eqSpecs(i), conf.value.value))
    }

  private def positionsFor(p: InputPartition): Array[Long] =
    posBy.get(idxOf(p)) match {
      case Some(rel) => MorDeletes.positionsFor(
        posSources.getOrElse(rel, PosSource.empty), rel, conf.value.value)
      case None => Array.emptyLongArray
    }

  /** Split's starting file row — a positional partition always holds
    * exactly ONE file ([[MorScan.planned]]); parquet/ORC splits keep
    * their offsets and recover the base from the footer / stripe
    * directory, whole-file reads start at 0. */
  private def splitBaseFor(p: InputPartition): Long = p match {
    case fp: FilePartition if posBy.contains(fp.index) =>
      val f = fp.files.head
      MorDeletes.baseRowFor(f.filePath.toPath, f.start, conf.value.value)
    case _ => 0L
  }

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[ColumnarBatch] = {
    val inner = delegate.createColumnarReader(p)
    val positions = positionsFor(p)
    val eqSets = eqSetsFor(p)
    if (positions.isEmpty && eqSets.isEmpty && !widened) inner
    else new MorColumnarReader(inner, positions, splitBaseFor(p), eqSets,
      keepIdx, widened)
  }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    var reader = delegate.createReader(p)
    val positions = positionsFor(p)
    if (positions.nonEmpty)
      reader = new PosSkipRowReader(reader, positions, splitBaseFor(p))
    val eqSets = eqSetsFor(p)
    if (eqSets.nonEmpty) reader = new EqFilterRowReader(reader, eqSets)
    if (widened) reader = new ProjectRowReader(reader, keptPhysical, keepIdx)
    reader
  }
}

/** Row-path positional skip: sorted-array pointer walk, O(1)/row.
  * `startBase` is the split's first FILE row (0 for whole-file reads). */
private[v2] class PosSkipRowReader(inner: PartitionReader[InternalRow],
                                   positions: Array[Long],
                                   startBase: Long = 0L)
    extends PartitionReader[InternalRow] {
  private var rowIdx = startBase - 1L
  private var skipPtr = MorDeletes.lowerBound(positions, startBase)
  override def next(): Boolean = {
    while (inner.next()) {
      rowIdx += 1
      while (skipPtr < positions.length && positions(skipPtr) < rowIdx) skipPtr += 1
      if (skipPtr >= positions.length || positions(skipPtr) != rowIdx) return true
    }
    false
  }
  override def get(): InternalRow = inner.get()
  override def close(): Unit = inner.close()
}

/** Row-path equality filter: drop rows whose key tuple is in any
  * applicable delete set. */
private[v2] class EqFilterRowReader(inner: PartitionReader[InternalRow],
                                    sets: Seq[(EqDeleteSpec, java.util.HashSet[Seq[Any]])])
    extends PartitionReader[InternalRow] {
  override def next(): Boolean = {
    while (inner.next()) {
      val r = inner.get()
      val deleted = sets.exists { case (spec, set) =>
        set.contains(MorDeletes.keyTupleOf(r, spec))
      }
      if (!deleted) return true
    }
    false
  }
  override def get(): InternalRow = inner.get()
  override def close(): Unit = inner.close()
}

/** Row-path projection back to the declared columns after widening. */
private[v2] class ProjectRowReader(inner: PartitionReader[InternalRow],
                                   schema: StructType, keepIdx: Array[Int])
    extends PartitionReader[InternalRow] {
  private val proj =
    new org.apache.spark.sql.catalyst.ProjectingInternalRow(schema, keepIdx.toIndexedSeq)
  override def next(): Boolean = inner.next()
  override def get(): InternalRow = { proj.project(inner.get()); proj }
  override def close(): Unit = inner.close()
}

/** Columnar tombstone application: batches with nothing to drop pass
  * through (minus widened columns); otherwise surviving row ids map
  * through a zero-copy vector wrapper and the batch re-emits with the
  * kept count. Fully-deleted batches are skipped. */
private[v2] class MorColumnarReader(inner: PartitionReader[ColumnarBatch],
                                    positions: Array[Long],
                                    startBase: Long,
                                    eqSets: Seq[(EqDeleteSpec, java.util.HashSet[Seq[Any]])],
                                    keepIdx: Array[Int],
                                    project: Boolean)
    extends PartitionReader[ColumnarBatch] {
  // file row index of the current batch's first row — the split's first
  // file row at construction, advancing with each streamed batch
  private var base = startBase
  // next positional tombstone not yet behind `base`: starts past the
  // positions earlier splits own (a stale lower pointer would desync the
  // equality walk in the first batch and keep tombstoned rows alive)
  private var ptr = MorDeletes.lowerBound(positions, startBase)
  private var current: ColumnarBatch = _

  private def outColumns(b: ColumnarBatch): Array[ColumnVector] =
    if (project) keepIdx.map(b.column)
    else Array.tabulate(b.numCols())(b.column)

  override def next(): Boolean = {
    while (inner.next()) {
      val b = inner.get()
      val n = b.numRows()
      val start = ptr
      while (ptr < positions.length && positions(ptr) < base + n) ptr += 1
      // kept in-batch row ids after positional AND equality deletes
      val rowMap = new Array[Int](n)
      var o = 0; var i = 0; var d = start
      while (i < n) {
        var deleted = false
        if (d < ptr && positions(d) == base + i) { deleted = true; d += 1 }
        if (!deleted && eqSets.nonEmpty) {
          val row = b.getRow(i)
          deleted = eqSets.exists { case (spec, set) =>
            set.contains(MorDeletes.keyTupleOf(row, spec))
          }
        }
        if (!deleted) { rowMap(o) = i; o += 1 }
        i += 1
      }
      base += n
      if (o == n && !project) { current = b; return true }
      if (o > 0) {
        val kept = java.util.Arrays.copyOf(rowMap, o)
        val cols =
          if (o == n) outColumns(b)
          else outColumns(b).map(c => new MaskedColumnVector(c, kept): ColumnVector)
        current = new ColumnarBatch(cols, o)
        return true
      }
      // every row of this batch deleted: skip it
    }
    false
  }

  override def get(): ColumnarBatch = current
  override def close(): Unit = inner.close()
}

/** Zero-copy surviving-row view over a delegate vector: accessor row ids
  * map through `rowMap` (kept-row → delegate-row). Struct children wrap
  * recursively (their accessors are row-indexed too); arrays/maps/strings
  * delegate at the mapped row and keep referencing the delegate's element
  * storage. null stats are the delegate's — an over-approximation, which
  * consumers treat as advisory. */
private[v2] class MaskedColumnVector(inner: ColumnVector, rowMap: Array[Int])
    extends ColumnVector(inner.dataType()) {
  override def close(): Unit = inner.close()
  // ColumnarToRowExec calls closeIfFreeable() on every CONSUMED batch; the
  // delegate (a reader-reused WritableColumnVector) no-ops it, and so must
  // the wrapper — the default would close() the reader's live vectors and
  // crash the next batch read
  override def closeIfFreeable(): Unit = inner.closeIfFreeable()
  override def hasNull: Boolean = inner.hasNull
  override def numNulls(): Int = inner.numNulls()
  override def isNullAt(i: Int): Boolean = inner.isNullAt(rowMap(i))
  override def getBoolean(i: Int): Boolean = inner.getBoolean(rowMap(i))
  override def getByte(i: Int): Byte = inner.getByte(rowMap(i))
  override def getShort(i: Int): Short = inner.getShort(rowMap(i))
  override def getInt(i: Int): Int = inner.getInt(rowMap(i))
  override def getLong(i: Int): Long = inner.getLong(rowMap(i))
  override def getFloat(i: Int): Float = inner.getFloat(rowMap(i))
  override def getDouble(i: Int): Double = inner.getDouble(rowMap(i))
  override def getArray(i: Int): ColumnarArray = inner.getArray(rowMap(i))
  override def getMap(i: Int): ColumnarMap = inner.getMap(rowMap(i))
  override def getDecimal(i: Int, precision: Int, scale: Int): Decimal =
    inner.getDecimal(rowMap(i), precision, scale)
  override def getUTF8String(i: Int): UTF8String = inner.getUTF8String(rowMap(i))
  override def getBinary(i: Int): Array[Byte] = inner.getBinary(rowMap(i))
  override def getChild(ordinal: Int): ColumnVector =
    new MaskedColumnVector(inner.getChild(ordinal), rowMap)
}
