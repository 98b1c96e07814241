package graft.sources.v2

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.ManifestTable

/** A table version as a streaming offset — the commit log IS the stream
  * position, exactly Delta's reservoir version / Iceberg's snapshot id. */
private[v2] case class VersionOffset(v: Long) extends Offset {
  override def json(): String = v.toString
}

/** Streaming (micro-batch) reads of a versioned table: each trigger
  * consumes the data files APPENDED between two committed versions, so a
  * downstream pipeline follows the table incrementally — processing cost
  * per trigger ∝ new data, never table size. The offset is the table
  * version; restarts resume from the checkpointed version with
  * exactly-once file accounting (a file belongs to exactly one (start,
  * end] window).
  *
  * Append-only contract (Delta's semantics): a window containing
  * row-level changes — new delete entries, or data files REMOVED by an
  * overwrite/compaction — fails the stream loudly, unless the reader
  * opted into `ignoreChanges` (then the appended files still stream;
  * rewritten rows may re-deliver, the same caveat Delta documents).
  * Renamed-column and avro tables decline streaming reads honestly
  * rather than guessing at their file layout.
  */
private[v2] class VersionedMicroBatchStream(
    spark: SparkSession, root: String, dataSchema: StructType,
    required: StructType, meta: VersionedCatalog.Meta,
    options: CaseInsensitiveStringMap)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  require(ManifestTable.FileFormats.contains(meta.format),
    s"streaming read of $root: format ${meta.format} is not streamable")

  private def ignoreChanges: Boolean =
    Option(options.get("ignoreChanges")).exists(_.toBoolean)

  private def physical(st: StructType): StructType =
    StructType(st.fields.map(f => f.copy(name = meta.physicalName(f.name))))

  // identity partition values live in directory names — split the read
  // schema the same way the batch scan does, so the reader factory and
  // every window's planned partitions agree on the emitted row layout
  private val physPartNames: Set[String] =
    meta.identityCols.map(c => meta.physicalName(c).toLowerCase).toSet
  private val readData = physical(StructType(
    required.fields.filterNot(f => physPartNames.contains(f.name.toLowerCase))))
  private val readPart = physical(StructType(
    required.fields.filter(f => physPartNames.contains(f.name.toLowerCase))))

  private def fileScanFor(rels: Seq[String])
      : org.apache.spark.sql.connector.read.Scan = {
    // ext/ (shallow-clone) entries resolve into the source pool: a fresh
    // stream over a clone serves the cloned files as version 1's batch
    val files = rels.map(rel => new Path(ManifestTable.dataPath(root, rel)))
    if (meta.format == "avro")
      // the manifest IS the listing (no index/partition discovery); avro
      // tables never have identity columns, so readPart is empty and the
      // emitted layout is exactly readData
      new AvroManifestScan(spark, files.map(_.toString), readData, readData)
    else {
      val params =
        if (files.isEmpty || meta.identityCols.isEmpty) Map.empty[String, String]
        else Map("basePath" -> s"$root/data")
      val index = new InMemoryFileIndex(spark, files, params, Some(physical(dataSchema)))
      if (meta.format == "orc")
        org.apache.spark.sql.execution.datasources.v2.GraftScanBridge.orcScan(
          spark, index, physical(dataSchema), readData, readPart, Array.empty, options)
      else
        org.apache.spark.sql.execution.datasources.v2.GraftScanBridge.parquetScan(
          spark, index, physical(dataSchema), readData, readPart, Array.empty, options)
    }
  }

  override def initialOffset(): Offset =
    VersionOffset(Option(options.get("startVersion")).map(_.toLong).getOrElse(0L))

  override def latestOffset(): Offset =
    VersionOffset(ManifestTable.currentVersion(root).getOrElse(0L))

  // Trigger.AvailableNow: pin the target version at preparation, so the
  // run drains exactly the commits that existed at start and stops —
  // appends racing the drain wait for the next run
  @volatile private var availableNowTarget: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(ManifestTable.currentVersion(root).getOrElse(0L))

  /** Admission control: `maxVersionsPerTrigger` bounds how many commits
    * one micro-batch swallows, so a stream catching up on a deep backlog
    * (or bootstrapping a huge table) advances in checkpointed increments
    * instead of one giant batch — Delta's maxFilesPerTrigger shape, at
    * commit granularity (the unit our exactly-once accounting uses). */
  private val maxVersionsPerTrigger: Option[Long] =
    Option(options.get("maxVersionsPerTrigger")).map(_.toLong)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val cur = ManifestTable.currentVersion(root).getOrElse(0L)
    val target = availableNowTarget.fold(cur)(math.min(cur, _))
    val sV = start.asInstanceOf[VersionOffset].v
    val paced = maxVersionsPerTrigger.fold(target)(m =>
      math.min(target, sV + math.max(1L, m)))
    // a paced end must land on a RETAINED manifest (the window is planned
    // from it); expired intermediates advance the window to the oldest
    // surviving version — at worst one bigger batch, never a dead stop
    val end =
      if (paced >= target) target
      else ManifestTable.versions(root).find(_ >= paced)
        .map(math.min(_, target)).getOrElse(target)
    VersionOffset(end)
  }

  override def deserializeOffset(json: String): Offset = VersionOffset(json.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val sV = start.asInstanceOf[VersionOffset].v
    val eV = end.asInstanceOf[VersionOffset].v
    if (eV <= sV) return Array.empty
    // The window's appends come from the END manifest's per-entry commit
    // SEQUENCE stamps (seq > start), so the start manifest need not still
    // exist — retention can expire snapshots under a long-lived stream
    // without breaking it, exactly Delta's log-replay independence.
    val endEntries = try ManifestTable.entries(root, eV) catch {
      case e: IllegalArgumentException => throw new IllegalStateException(
        s"streaming read of $root: version $eV expired from retention — " +
          s"restart the stream from a fresh checkpoint", e)
    }
    def isDelete(rel: String) = ManifestTable.isDeleteEntry(rel)
    def inWindow(e: ManifestTable.FileEntry) = {
      // absent sequence reads as 0 (older than everything): such legacy
      // entries belong to the initial batch and no later window
      val seq = e.seq.getOrElse(0L)
      if (sV == 0) seq <= eV else seq > sV && seq <= eV
    }
    val appended = endEntries.filterNot(e => isDelete(e.rel)).filter(inWindow)
    // change detection needs no historical manifest: MOR delete entries
    // at END carry their commit sequence, and every file-removing commit
    // (copy-on-write DML, compaction, overwrite) stamped the carried
    // `lastChangeVersion` property. The INITIAL batch (sV = 0) is a
    // snapshot read — history before the stream started is not a change.
    if (!ignoreChanges && sV > 0) {
      val newDeletes = endEntries.filter(e => isDelete(e.rel)).filter(inWindow)
      val lastChange = ManifestTable.manifestProps(root, eV)
        .get(ManifestTable.ChangeProp).map(_.toLong).getOrElse(0L)
      require(newDeletes.isEmpty && lastChange <= sV,
        s"streaming read of $root: versions ($sV, $eV] contain row-level " +
          s"changes (${newDeletes.size} delete files; last file-removing " +
          s"commit v=$lastChange); this source streams APPENDS — set " +
          s"ignoreChanges to stream the appended files anyway (rewritten " +
          s"rows may re-deliver), or stream `$root`.changes for row-level " +
          s"change delivery")
    }
    if (!ignoreChanges && sV == 0) {
      // the INITIAL batch is a snapshot read, but this source streams the
      // data files RAW: live merge-on-read deletes would re-deliver
      // deleted rows. Fail loudly (the same escape hatch), pointing at
      // the paths that DO apply them.
      val liveDel = endEntries.filter(e => isDelete(e.rel))
      require(liveDel.isEmpty,
        s"streaming read of $root: the initial batch would stream " +
          s"${liveDel.size} live merge-on-read delete files' targets raw, " +
          s"re-delivering deleted rows — run CALL rewrite-compaction " +
          s"(system.optimize) first, stream `$root`.changes, or set " +
          s"ignoreChanges to accept re-delivery")
    }
    if (appended.isEmpty) Array.empty
    else fileScanFor(appended.map(_.rel)).toBatch.planInputPartitions()
  }

  /** Readers emit `readData ++ readPart` (file readers append partition
    * columns last); the streaming consumer binds to `required`'s order at
    * analysis time — permute per batch. */
  override def createReaderFactory(): PartitionReaderFactory = {
    val emitted = StructType(readData.fields ++ readPart.fields)
    val perm = required.fields.map(f =>
      emitted.fieldNames.indexWhere(_.equalsIgnoreCase(meta.physicalName(f.name))))
    require(perm.forall(_ >= 0),
      s"streaming read of $root: projection ${required.fieldNames.mkString(",")} " +
        s"not covered by emitted ${emitted.fieldNames.mkString(",")}")
    val inner = fileScanFor(Nil).toBatch.createReaderFactory()
    if (perm.zipWithIndex.forall { case (p, i) => p == i }) inner
    else new org.apache.spark.sql.execution.datasources.v2.GraftReorderedReaderFactory(
      inner, perm, emitted)
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
