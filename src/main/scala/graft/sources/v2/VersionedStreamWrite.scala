package graft.sources.v2

import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.v2.{GraftFileWriterHandle, GraftStreamWriteBridge}
import org.apache.spark.sql.types._

import graft.sources.{ManifestTable, MetaIO}

/** Which directory each row lands in — the streaming mirror of the batch
  * writer's `partitionBy`/hidden-derivation, so streamed files are
  * indistinguishable from batch-written ones to every reader and pruner.
  *
  *  - `dayOrdinal`: hidden-day layout — `__day=<date>` from the
  *    TIMESTAMP_NTZ/DATE source column (wall-clock, zone-free).
  *  - `transform`: hidden months/years/bucket/truncate layout —
  *    `__part=<value>` with the EXACT batch derivation
  *    ([[VersionedCatalog.partDeriveExpr]]): `date_format` wall-clock
  *    months/years, Murmur3(seed 42) pmod buckets (hash(NULL) = seed),
  *    string-prefix / integral-floor truncation.
  *  - `identity`: identity layout — `col=value` dirs (Spark's own path
  *    escaping, hive default dir for nulls); the identity columns are
  *    PROJECTED OUT of the file, exactly like `partitionBy`.
  */
private[v2] case class StreamLayout(
    rowSchema: StructType,
    dayOrdinal: Option[Int],
    transform: Option[(String, Option[Int], Int)], // (kind, arg, ordinal)
    identity: Seq[(String, Int)],
    fileOrdinals: Array[Int]) extends Serializable {

  def dirOf(row: InternalRow): String =
    dayOrdinal match {
      case Some(ord) =>
        // a NULL day source lands in the hive default dir, exactly like
        // the batch writer's partitionBy over a null-valued __day column
        if (row.isNullAt(ord))
          ExternalCatalogUtils.getPartitionPathString(ManifestTable.DayCol, null)
        else {
          val day = rowSchema.fields(ord).dataType match {
            case DateType => java.time.LocalDate.ofEpochDay(row.getInt(ord).toLong)
            case _ => java.time.LocalDate.ofEpochDay(
              Math.floorDiv(row.getLong(ord), 86_400_000_000L))
          }
          s"${ManifestTable.DayCol}=$day"
        }
      case None => transform match {
        case Some((kind, arg, ord)) =>
          ExternalCatalogUtils.getPartitionPathString(
            VersionedCatalog.PartTransform.DirCol, transformValue(kind, arg, ord, row))
        case None =>
          identity.map { case (name, ord) =>
            val v =
              if (row.isNullAt(ord)) null
              else rowSchema.fields(ord).dataType match {
                case ByteType => row.getByte(ord).toString
                case ShortType => row.getShort(ord).toString
                case IntegerType => row.getInt(ord).toString
                case LongType => row.getLong(ord).toString
                case _ => row.getUTF8String(ord).toString
              }
            ExternalCatalogUtils.getPartitionPathString(name, v)
          }.mkString("/")
      }
    }

  /** The `__part` value of one row — bit-identical to the batch writer's
    * column expression (null ⇒ hive default dir, except bucket, whose
    * hash of NULL is the seed and lands in a real bucket). */
  private def transformValue(kind: String, arg: Option[Int], ord: Int,
                             row: InternalRow): String = {
    val dt = rowSchema.fields(ord).dataType
    def localDate: java.time.LocalDate = dt match {
      case DateType => java.time.LocalDate.ofEpochDay(row.getInt(ord).toLong)
      case _ => java.time.LocalDate.ofEpochDay(
        Math.floorDiv(row.getLong(ord), 86_400_000_000L))
    }
    kind match {
      case "bucket" =>
        val n = arg.get
        val h =
          if (row.isNullAt(ord)) 42
          else org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
            .hash(row.get(ord, dt), dt, 42L).toInt
        (((h % n) + n) % n).toString
      case _ if row.isNullAt(ord) => null
      case "months" =>
        val d = localDate
        f"${d.getYear}%04d-${d.getMonthValue}%02d"
      case "years" =>
        f"${localDate.getYear}%04d"
      case "truncate" => dt match {
        case StringType =>
          // batch uses substring(c, 1, w): first w CHARACTERS
          row.getUTF8String(ord).substringSQL(1, arg.get).toString
        case _ =>
          val v = dt match {
            case ByteType => row.getByte(ord).toLong
            case ShortType => row.getShort(ord).toLong
            case IntegerType => row.getInt(ord).toLong
            case _ => row.getLong(ord)
          }
          (v - Math.floorMod(v, arg.get.toLong)).toString
      }
      case other => throw new IllegalStateException(s"unstreamable transform $other")
    }
  }

  def isProjected: Boolean = fileOrdinals.length != rowSchema.length
  def projection(): UnsafeProjection =
    UnsafeProjection.create(fileOrdinals.toIndexedSeq.map(i =>
      BoundReference(i, rowSchema.fields(i).dataType, rowSchema.fields(i).nullable)))
}

/** Native streaming writes into a versioned table
  * (`df.writeStream.toTable("cat.ns.t")` — the V2 STREAMING_WRITE leg):
  * each task streams its rows into STAGED parquet files through Spark's
  * own parquet output writer — one open file per partition directory the
  * task touches, the same dynamic-partition shape the batch writer has —
  * and the epoch COMMIT moves the staged files into the pool under their
  * partition directories and publishes ONE manifest append carrying the
  * epoch marker (`stream.<queryId>.epoch`). A replayed epoch after
  * driver recovery is detected from the live manifest and its files are
  * discarded instead of double-appended — exactly-once, the same
  * contract the foreachBatch sink keeps. Commit cost per epoch follows
  * the epoch's data; nothing rewrites, and every downstream pruning tier
  * (day dirs, identity dirs, per-file stats with row counts) works on
  * streamed files exactly as on batch-written ones.
  *
  * Complete output mode maps to an overwrite commit per epoch (the new
  * result set replaces the snapshot; retained history keeps earlier
  * epochs time-travelable).
  */
private[v2] class VersionedStreamWrite(root: String, fileSchema: StructType,
                                       layout: StreamLayout, format: String,
                                       queryId: String, overwrite: Boolean,
                                       retain: () => Int,
                                       checks: Seq[(String, String,
                                         org.apache.spark.sql.catalyst.expressions.Expression)] = Nil)
    extends StreamingWrite {

  private val stageDir =
    s"$root/stage/stream_${java.util.UUID.randomUUID().toString.take(12)}"

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : StreamingDataWriterFactory =
    new VersionedStreamWriterFactory(
      GraftStreamWriteBridge.writerHandle(SparkSession.active, fileSchema, format),
      stageDir, fileSchema, layout, root, checks)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val staged = messages.collect { case StagedFiles(fs) => fs }.flatten.toSeq
    val key = s"stream.$queryId.epoch"
    // the marker reads from the WRITE base — under a WAP staging branch
    // that is the branch head, where this stream's epochs actually land
    val last =
      if (ManifestTable.exists(root))
        ManifestTable.writeBaseProps(root).get(key).map(_.toLong)
      else None
    if (last.exists(_ >= epochId)) {
      // replayed epoch: its rows are already committed — discard
      staged.foreach { case (path, _) => MetaIO.delete(path) }
    } else if (staged.isEmpty && !overwrite) {
      // empty append epoch: advance the marker when a manifest exists (an
      // empty manifest is unrepresentable, so a brand-new table waits)
      if (ManifestTable.exists(root))
        ManifestTable.commitStagedFiles(root, Nil, fileSchema, format,
          retain(), overwrite = false, Map(key -> epochId.toString))
    } else if (staged.isEmpty) {
      // Complete-mode epoch draining to ZERO rows: the new result set is
      // empty, and that must be what readers see — but a zero-entry
      // manifest is unrepresentable, so the epoch commits ONE zero-row
      // parquet file (written driver-side through the same writer the
      // tasks use). Readers, stats, and the metadata tables all handle a
      // zero-row file like any other.
      val handle = GraftStreamWriteBridge.writerHandle(
        SparkSession.active, fileSchema, format)
      val ctx = new TaskAttemptContextImpl(handle.conf,
        new TaskAttemptID(new TaskID(new JobID(
          "graftstream", (epochId % Int.MaxValue).toInt), TaskType.MAP, 0), 0))
      val path = s"$stageDir/e${epochId}_empty${handle.extension(ctx)}"
      handle.open(path, fileSchema, ctx).close()
      ManifestTable.commitStagedFiles(root, Seq((path, "")), fileSchema, format,
        retain(), overwrite = true, Map(key -> epochId.toString))
    } else {
      ManifestTable.commitStagedFiles(root, staged, fileSchema, format,
        retain(), overwrite, Map(key -> epochId.toString))
    }
    MetaIO.delete(stageDir, recursive = true)
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    messages.foreach {
      case StagedFiles(fs) => fs.foreach { case (path, _) => MetaIO.delete(path) }
      case _ => ()
    }
    MetaIO.delete(stageDir, recursive = true)
  }
}

/** (staged path, partition subdirectory — "" for flat) per file. */
private case class StagedFiles(files: Seq[(String, String)])
    extends WriterCommitMessage

private class VersionedStreamWriterFactory(handle: GraftFileWriterHandle,
                                           stageDir: String, schema: StructType,
                                           layout: StreamLayout,
                                           root: String = "",
                                           checks: Seq[(String, String,
                                             org.apache.spark.sql.catalyst.expressions.Expression)] = Nil)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val ctx = new TaskAttemptContextImpl(handle.conf,
        new TaskAttemptID(new TaskID(new JobID(
          "graftstream", (epochId % Int.MaxValue).toInt), TaskType.MAP, partitionId),
          (taskId % Int.MaxValue).toInt))
      // one open file per partition directory this task touches — the
      // batch writer's dynamic-partition shape
      private val open = scala.collection.mutable.LinkedHashMap
        .empty[String, (org.apache.spark.sql.execution.datasources.v2.GraftRowFileWriter, String)]
      private lazy val proj = layout.projection()
      // CHECK constraints, codegen'd once per writer; SQL ternary — only
      // FALSE violates, so NULL folds to pass before the predicate
      private val checkPreds = checks.map { case (n, sql, e) =>
        (n, sql, org.apache.spark.sql.catalyst.expressions.Predicate.create(
          org.apache.spark.sql.catalyst.expressions.Coalesce(Seq(e,
            org.apache.spark.sql.catalyst.expressions.Literal(true)))))
      }

      override def write(row: InternalRow): Unit = {
        checkPreds.foreach { case (n, sql, p) =>
          if (!p.eval(row)) throw new IllegalStateException(
            s"CHECK constraint '$n' violated by a streaming write to " +
              s"$root: ($sql) is false")
        }
        val dir = layout.dirOf(row)
        val (w, _) = open.getOrElseUpdate(dir, {
          val sub = if (dir.isEmpty) "" else s"$dir/"
          val path = s"$stageDir/${sub}e${epochId}_p${partitionId}_t$taskId" +
            handle.extension(ctx)
          (handle.open(path, schema, ctx), path)
        })
        w.write(if (layout.isProjected) proj(row) else row)
      }
      override def commit(): WriterCommitMessage = {
        open.values.foreach(_._1.close())
        StagedFiles(open.map { case (dir, (_, path)) => (path, dir) }.toSeq)
      }
      override def abort(): Unit = {
        open.values.foreach { case (w, path) =>
          scala.util.Try(w.close()); MetaIO.delete(path)
        }
      }
      override def close(): Unit = ()
    }
}
