package graft.sources.v2

import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.{FilePartition, InMemoryFileIndex}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.{FileStats, ManifestTable, SerializableHadoopConf}

/** CHANGE DATA FEED over a versioned table — `tbl.changes`, the Delta
  * CDF / Iceberg changelog surface: row-level changes between two
  * committed versions as a relation of the user columns plus
  * `_change_type` ('insert' | 'delete' | 'update_preimage' |
  * 'update_postimage') and `_commit_version`. Batch
  * reads (`SELECT * FROM cat.ns.tbl.changes`) cover every change the
  * retained metadata can prove; streaming reads
  * (`spark.readStream.table("cat.ns.tbl.changes")`) deliver an initial
  * SNAPSHOT (live rows as inserts, merge-on-read deletes applied) and
  * then per-window change events — so a downstream aggregate can be
  * maintained incrementally under upstream MERGE/DELETE, which the
  * plain append-only stream must refuse.
  *
  * Everything is reconstructed from the END manifest alone — no
  * historical manifest is read, so retention can expire snapshots under
  * a live change stream:
  *
  *  - a data file's commit sequence IS its insert version: its raw rows
  *    are `insert @ seq`;
  *  - a positional delete entry at sequence s contributes the rows of
  *    the target files at its tombstoned positions as `delete @ s`;
  *  - an equality delete entry at sequence s contributes the matching
  *    rows of every strictly-older data file as `delete @ s` — targets
  *    whose per-file column bounds PROVE no key can match are skipped at
  *    plan time;
  *  - rows already dead before s (older tombstones / older equality
  *    keys) are SUPPRESSED so a row deletes at most once — the same
  *    older-delete application Iceberg's changelog scan performs.
  *
  * UPDATE commits surface as image pairs (Delta CDF's contract): a
  * version that ATOMICALLY pairs delete entries with new data files at
  * one sequence is an update commit — only the merge-on-read UPDATE
  * path ([[graft.sources.ManifestTable.appendWithDeletes]]) produces
  * that shape, tombstoning the touched rows' old positions and landing
  * their rewritten versions in the same flip. Its delete events emit as
  * `update_preimage` and its inserts as `update_postimage`, both at the
  * update's version, so an SCD2/audit consumer gets old→new pairing
  * without joining within the version. The shape test reads the END
  * manifest alone (data sequences ∩ delete-unit versions), preserving
  * the no-historical-reads design; deletion-vector maintenance keeps
  * per-slice versions, so merged tombstones stay attributed to their
  * update commits.
  *
  * A merge-on-read MERGE refines the pairing PER ROW (Delta CDC's
  * fidelity): its NOT-MATCHED insert files are stamped `__op=insert`
  * ([[graft.sources.FileStats.OpKey]]) and serve as true `insert`
  * events, its DELETE-clause kills land as `dv_del_*` tombstones
  * ([[graft.sources.ManifestTable.isDeleteLabeledDv]]) and serve as true
  * `delete` events — only the genuine rewrites surface as image pairs.
  * Labels survive delete maintenance (`rewrite_deletes` merges per label
  * group). Unlabeled artifacts (plain UPDATE/DELETE DML, pre-label
  * history) classify by commit shape exactly as above.
  *
  * File-REMOVING commits (copy-on-write DML, compaction, overwrite)
  * destroy the insert provenance of the rows they rewrote, so changes
  * are only served after the table's `lastChangeVersion` — exactly the
  * horizon Delta's CDF has without its sidecar files; a streaming window
  * containing such a commit fails loudly. Merge-on-read DML (the MERGE
  * path) never removes files and streams cleanly.
  *
  * Column pruning reaches the file scan (the read widens only by live
  * equality-delete key columns, which suppression needs whatever the
  * projection). Windows with NO delete application read VECTORIZED —
  * the change columns ride as per-partition constant vectors — in batch
  * AND streaming (each micro-batch plans its own read mode, so an
  * append-only window or a deletes-free initial snapshot stays
  * columnar); any delete slice drops that window to row readers, since
  * change application is a per-row decision.
  */
object ChangeFeed {
  val TypeCol = "_change_type"
  val VersionCol = "_commit_version"

  def changeSchema(user: StructType): StructType =
    StructType(user.fields ++ Seq(
      StructField(TypeCol, StringType, nullable = false),
      StructField(VersionCol, LongType, nullable = false)))

  def table(name: String, root: String, pinnedUntil: Option[Long] = None): Table = {
    val meta = VersionedCatalog.readMeta(root).getOrElse(
      throw new IllegalArgumentException(s"no versioned table under $root"))
    require(meta.format == "parquet" || meta.format == "orc"
      || meta.format == "avro",
      s"change feed of $root: format ${meta.format} is not supported")
    ChangeFeedTable(name, root, meta, pinnedUntil)
  }

  /** The read's END cap — a `VERSION AS OF` pin on `tbl.changes`
    * (snapshot id or ref name, resolved at load) or the `branch` read
    * option (re-resolved at each USE, so a streaming reader follows the
    * branch as staged commits advance it). This is the WAP audit surface:
    * `tbl.changes VERSION AS OF 'wap'` answers "what would this publish
    * change" — staged commits feed the branch's changes while main's feed
    * (no cap: ends at `_CURRENT`) is untouched; `fast_forward` then flips
    * them into main's feed at their original staged versions. */
  private[v2] def endCapOf(root: String, options: CaseInsensitiveStringMap,
                           pinned: Option[Long]): Option[Long] =
    pinned.orElse(Option(options.get("branch")).filter(_.nonEmpty).map { n =>
      val r = ManifestTable.resolveRef(root, n)
      require(r.kind == "branch",
        s"change feed of $root: ref '$n' is a ${r.kind}, not a branch")
      r.version
    })

  /** The CDF horizon THIS READ observes: the last file-removing commit
    * among the partition keys the read can see — changes at or before it
    * cannot be reconstructed from the live manifest. Scoped by the
    * per-key horizons ([[ManifestTable.ChangeKeysProp]]): a key the
    * pushed filters provably EXCLUDE does not bound the read, so a
    * day-scoped OPTIMIZE of a cold day leaves a stream pruned to hot
    * days running. Keys folded past the capacity read as the floor;
    * legacy manifests (global stamp, no map) read unscoped — both
    * strictly conservative. */
  private[v2] def horizonOf(root: String, v: Long,
                            excluded: String => Boolean = _ => false): Long = {
    val props = ManifestTable.manifestProps(root, v)
    val global = props.get(ManifestTable.ChangeProp).map(_.toLong).getOrElse(0L)
    if (global == 0L) return 0L
    val (byKey, floor) = ManifestTable.decodeChangeKeys(props)
    val accounted = (byKey.values ++ Seq(floor)).max
    val effFloor = if (global > accounted) global else floor
    (byKey.collect { case (k, hv) if !excluded(k) => hv } ++ Seq(effFloor)).max
  }

  /** The `filter` read option — a SQL predicate over the table's columns
    * (`.option("filter", "region = 'r1'")`), the explicit scoping surface
    * for STREAMING readers (whose plans may not push query filters into
    * the source). Parsed, resolved against the declared schema, and
    * translated to source filters; shapes the translator can't express
    * fail loudly rather than silently scoping nothing. */
  private[v2] def optionFilters(meta: VersionedCatalog.Meta,
                                options: CaseInsensitiveStringMap)
      : Seq[org.apache.spark.sql.sources.Filter] =
    Option(options.get("filter")).filter(_.nonEmpty).toSeq.flatMap { sql =>
      val spark = SparkSession.active
      val parsed = spark.sessionState.sqlParser.parseExpression(sql)
      val attrs = meta.schema.fields.map(f =>
        org.apache.spark.sql.catalyst.expressions.AttributeReference(
          f.name, f.dataType, f.nullable)())
      val resolved = parsed.transformUp {
        case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          attrs.find(_.name.equalsIgnoreCase(u.nameParts.last)).getOrElse(
            throw new IllegalArgumentException(
              s"change-feed filter references unknown column ${u.name}"))
      }
      // fold literal-only subtrees (casts of constants etc.) so the
      // translator sees plain comparisons
      val simplified = resolved.transformUp {
        case e if e.foldable && e.deterministic =>
          org.apache.spark.sql.catalyst.expressions.Literal.create(
            e.eval(null), e.dataType)
      }
      Seq(org.apache.spark.sql.execution.datasources.v2.GraftScanBridge
        .catalystToV1(simplified)
        .getOrElse(throw new IllegalArgumentException(
          s"change-feed filter '$sql' is not translatable to a source filter")))
    }

  /** Parse a timestamp read option: ISO instant (`2024-05-01T08:00:00Z`)
    * or a wall-clock `yyyy-MM-dd[ HH:mm:ss]` interpreted in the SESSION
    * zone (the `TIMESTAMP AS OF` convention). */
  private[v2] def parseTs(s: String): Long = {
    val t = s.trim
    scala.util.Try(java.time.Instant.parse(t).toEpochMilli).getOrElse {
      val zone = java.time.ZoneId.of(
        SparkSession.active.sessionState.conf.sessionLocalTimeZone)
      val ldt = scala.util.Try(java.time.LocalDateTime.parse(t.replace(' ', 'T')))
        .getOrElse(java.time.LocalDate.parse(t).atStartOfDay)
      ldt.atZone(zone).toInstant.toEpochMilli
    }
  }

  /** The exclusive window START for a `fromTimestamp` option: one below
    * the earliest retained version committed at/after the instant, so
    * the feed delivers every commit from that instant on. An instant
    * after every retained commit yields an empty window (the feed has
    * nothing at/after it yet). */
  private[v2] def fromVersionAt(root: String, tsMillis: Long): Long = {
    val vt = ManifestTable.versionTimes(root)
    vt.find(_._2 >= tsMillis).map(_._1 - 1)
      .orElse(vt.lastOption.map(_._1)).getOrElse(0L)
  }

  /** The window END for an `untilTimestamp` option: the latest retained
    * version committed at or before the instant. An instant predating
    * every retained commit fails loudly — that history expired. */
  private[v2] def untilVersionAt(root: String, tsMillis: Long): Long = {
    val at = ManifestTable.versionTimes(root).filter(_._2 <= tsMillis)
    require(at.nonEmpty, s"change feed of $root: no retained commit at or " +
      s"before the requested untilTimestamp (earlier history may have " +
      "expired from retention)")
    at.last._1
  }

  /** Persist the stream's `filter` option beside its checkpointed offsets
    * and REFUSE a restart under a different one. The filter scopes which
    * partition keys the stream observes — and which rewrite horizons it
    * is exempt from — so a restart with a weakened filter would silently
    * deliver NO catch-up for the newly included keys (their history was
    * consumed as "excluded" by the old offsets), and a strengthened one
    * would silently narrow an established feed. Both fail loudly; the
    * remedy is a fresh checkpoint. A checkpoint written before this pin
    * existed adopts the current filter on first restart. */
  private[v2] def pinCheckpointFilter(root: String, checkpointLocation: String,
                                      filter: String): Unit = {
    val p = s"$checkpointLocation/graft-filter"
    if (graft.sources.MetaIO.exists(p)) {
      val pinned = graft.sources.MetaIO.readString(p)
      require(pinned == filter,
        s"change feed of $root: this checkpoint was built with filter " +
          s"'$pinned' but the restart specifies '$filter' — a stream's " +
          "filter is part of its offset semantics and cannot change " +
          "across restarts; restart from a fresh checkpoint instead")
    } else graft.sources.MetaIO.writeAtomic(p, filter)
  }
}

private[v2] case class ChangeFeedTable(tableName: String, root: String,
                                       meta: VersionedCatalog.Meta,
                                       pinnedUntil: Option[Long] = None)
    extends Table with SupportsRead {
  override def name(): String = tableName
  override def schema(): StructType = ChangeFeed.changeSchema(meta.schema)
  override def properties(): java.util.Map[String, String] =
    java.util.Collections.singletonMap("provider", "versioned-changes")
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns
        with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
      private var required: StructType = ChangeFeed.changeSchema(meta.schema)
      private var filters: Seq[org.apache.spark.sql.sources.Filter] = Nil
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema
      // filters are kept for PARTITION-KEY scoping (horizon + planning)
      // but stay fully residual — Spark re-applies every one post-scan,
      // so the scoping can only ever drop provably-filtered keys
      override def pushFilters(fs: Array[org.apache.spark.sql.sources.Filter])
          : Array[org.apache.spark.sql.sources.Filter] = { filters = fs.toSeq; fs }
      override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
        Array.empty
      override def build(): Scan =
        new ChangeFeedScan(root, meta, options, required,
          filters ++ ChangeFeed.optionFilters(meta, options), pinnedUntil)
    }
}

/** Batch scan (window = (`fromVersion` | horizon, `untilVersion` | live])
  * and the streaming entry point. */
private[graft] class ChangeFeedScan(root: String, meta: VersionedCatalog.Meta,
                                 options: CaseInsensitiveStringMap,
                                 required: StructType,
                                 filters: Seq[org.apache.spark.sql.sources.Filter] = Nil,
                                 pinnedUntil: Option[Long] = None)
    extends Scan with Batch {
  private lazy val ctx = ChangeFeedPlanner.Ctx(root, meta, required)
  private lazy val excluded: String => Boolean = ChangePrune.excluder(meta, filters)
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftChangeFeedScan($root, ${required.fieldNames.mkString(",")})"

  private lazy val partitions: Array[InputPartition] =
    ManifestTable.currentVersion(root) match {
      case None => Array.empty
      case Some(live) =>
        // a VERSION AS OF pin / branch head caps the read's end; without
        // one, the feed ends at `_CURRENT` — staged branch commits above
        // it never enter main's feed
        val cap = ChangeFeed.endCapOf(root, options, pinnedUntil)
        def one(vOpt: Option[Long], tsKey: String, resolve: Long => Long,
                vKey: String): Option[Long] = {
          val ts = Option(options.get(tsKey))
            .map(s => resolve(ChangeFeed.parseTs(s)))
          require(vOpt.isEmpty || ts.isEmpty,
            s"change feed of $root: specify $vKey or $tsKey, not both")
          vOpt.orElse(ts)
        }
        // an explicit untilVersion never escapes a pin/branch end cap: a
        // read pinned at a branch head must not silently scan past it
        val until = one(Option(options.get("untilVersion")).map(_.toLong),
            "untilTimestamp", ChangeFeed.untilVersionAt(root, _), "untilVersion")
          .map(u => cap.fold(u)(math.min(u, _)))
          .getOrElse(cap.getOrElse(live))
        val horizon = ChangeFeed.horizonOf(root, until, excluded)
        val from = one(Option(options.get("fromVersion")).map(_.toLong),
            "fromTimestamp", ChangeFeed.fromVersionAt(root, _), "fromVersion")
          .getOrElse(horizon)
        require(from >= horizon,
          s"change feed of $root: changes at or before v=$horizon were " +
            s"compacted/rewritten away (file-removing commit) in partition " +
            s"keys this read covers — fromVersion must be >= $horizon " +
            s"(a filter provably excluding the rewritten keys lowers the bound)")
        if (until <= from) Array.empty
        else ChangeFeedPlanner.plan(ctx, from, until, initialSnapshot = false, excluded)
    }

  override def planInputPartitions(): Array[InputPartition] = partitions

  override def createReaderFactory(): PartitionReaderFactory =
    ChangeFeedPlanner.readerFactory(ctx, ChangeFeedPlanner.innerFactory(ctx))

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    ChangeFeed.pinCheckpointFilter(root, checkpointLocation,
      Option(options.get("filter")).getOrElse(""))
    new ChangeFeedMicroBatchStream(root, meta, options, required, filters, pinnedUntil)
  }
}

/** Streaming change feed: offsets are table versions (the same commit-log
  * position the plain stream uses); the INITIAL batch is a snapshot read
  * with merge-on-read deletes applied, delivered as inserts. Row-based:
  * one reader factory serves every future window, and any window may
  * carry delete slices. */
private[v2] class ChangeFeedMicroBatchStream(root: String,
                                             meta: VersionedCatalog.Meta,
                                             options: CaseInsensitiveStringMap,
                                             required: StructType,
                                             filters: Seq[org.apache.spark.sql.sources.Filter] = Nil,
                                             pinnedUntil: Option[Long] = None)
    extends MicroBatchStream with SupportsTriggerAvailableNow {
  // ONE ctx for the stream's life: the widened read layout (equality-key
  // columns) must agree between this factory and every window's plan
  private lazy val ctx = ChangeFeedPlanner.Ctx(root, meta, required)
  private lazy val excluded: String => Boolean = ChangePrune.excluder(meta, filters)

  /** The stream's frontier: the branch head under the `branch` option
    * (re-resolved per trigger, so the stream follows staged commits as
    * they advance the ref), the `VERSION AS OF` pin, else `_CURRENT`. */
  private def frontier(): Long =
    ChangeFeed.endCapOf(root, options, pinnedUntil)
      .getOrElse(ManifestTable.currentVersion(root).getOrElse(0L))

  override def initialOffset(): Offset = {
    val byTs = Option(options.get("startingTimestamp"))
      .map(s => ChangeFeed.fromVersionAt(root, ChangeFeed.parseTs(s)))
    val byV = Option(options.get("startVersion")).map(_.toLong)
    require(byTs.isEmpty || byV.isEmpty,
      s"change feed of $root: specify startVersion or startingTimestamp, not both")
    // a timestamp start skips the initial snapshot (offset > 0): the
    // consumer asked for changes SINCE an instant, not the whole table
    VersionOffset(byV.orElse(byTs).getOrElse(0L))
  }
  override def latestOffset(): Offset = VersionOffset(frontier())

  @volatile private var availableNowTarget: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(frontier())

  private val maxVersionsPerTrigger: Option[Long] =
    Option(options.get("maxVersionsPerTrigger")).map(_.toLong)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val cur = frontier()
    val target = availableNowTarget.fold(cur)(math.min(cur, _))
    val sV = start.asInstanceOf[VersionOffset].v
    val paced = maxVersionsPerTrigger.fold(target)(m =>
      math.min(target, sV + math.max(1L, m)))
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
    if (sV == 0) {
      // initial batch: the live snapshot AT eV as inserts, deletes applied
      ChangeFeedPlanner.plan(ctx, 0L, eV, initialSnapshot = true, excluded)
    } else {
      val horizon = ChangeFeed.horizonOf(root, eV, excluded)
      require(horizon <= sV,
        s"change feed of $root: versions ($sV, $eV] contain a file-REMOVING " +
          s"commit (v=$horizon — copy-on-write DML, compaction, or overwrite) " +
          s"in partition keys this stream covers; row-level changes cannot be " +
          s"reconstructed across it — restart the stream from a fresh " +
          s"checkpoint (new initial snapshot), or scope the stream away from " +
          s"the rewritten keys with the 'filter' option")
      ChangeFeedPlanner.plan(ctx, sV, eV, initialSnapshot = false, excluded)
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    ChangeFeedPlanner.readerFactory(ctx, ChangeFeedPlanner.innerFactory(ctx))

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** One planned change slice: an inner file-scan partition plus the change
  * semantics its reader applies. Self-contained and serializable — the
  * reader factory needs no per-window side tables, so one factory serves
  * every window of a stream. */
/** One equality-delete application stage of a merged per-target pass:
  * the spec, whether a match EMITS (in-window) or only SUPPRESSES
  * (applied before the window), and the emitted `_change_type`. Stages
  * ride ascending by version — a row's fate is its EARLIEST match. */
private[graft] case class EqStage(spec: EqDeleteSpec, emit: Boolean,
                                  changeType: String)

private[graft] case class ChangePartition(
    inner: InputPartition,
    version: Long,
    kind: String, // "insert" | "delete-pos" | "delete-eq"
    changeType: String, // the emitted _change_type value (update-aware)
    relEnc: Option[String],        // single-file partitions only
    emitPos: PosSource,            // delete-pos: artifacts whose positions emit
    eqStages: Seq[EqStage],        // delete-eq: the window's specs, MERGED —
                                   // one scan of the target serves them all
    suppressPos: PosSource,        // older tombstones: rows already dead
    suppressEq: Seq[EqDeleteSpec], // older equality keys: rows already dead
    posByVersion: Seq[(Long, PosSource)] = Nil, // delete-eq: the target's
                                   // tombstones WITH versions (per-row
                                   // earliest-death arbitration)
    forceRow: Boolean = false)     // window holds delete slices: stay row-based
    extends InputPartition {
  def isCleanInsert: Boolean = kind == "insert" && emitPos.isEmpty &&
    eqStages.isEmpty && suppressPos.isEmpty && suppressEq.isEmpty
}

private[v2] object ChangeFeedPlanner {

  /** Scan-construction context: the physical read layout — the REQUIRED
    * user columns (identity partition values ride in directory names)
    * widened by every live equality-delete key column (suppression and
    * emission need them whatever the projection; a key column appearing
    * after a stream started fails its window's plan loudly) — and the
    * output projection from the emitted (data ++ partition) order to the
    * required column order with the change columns inlined. */
  case class Ctx(root: String, meta: VersionedCatalog.Meta, required: StructType) {
    def spark: SparkSession = SparkSession.active
    private def declared(name: String): StructField =
      meta.schema.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
        throw new IllegalArgumentException(
          s"change feed of $root: no such column $name"))
    /** The LOGICAL column a PHYSICAL (in-file) name maps back to. */
    private def logicalOf(phys: String): String =
      meta.schema.fieldNames.find(l =>
        meta.physicalName(l).equalsIgnoreCase(phys)).getOrElse(phys)
    private def physField(f: StructField): StructField =
      f.copy(name = meta.physicalName(f.name))
    private val partNames: Set[String] =
      meta.identityCols.map(_.toLowerCase).toSet
    private val userReq: Seq[StructField] = required.fields.toSeq
      .filter(f => meta.schema.fieldNames.exists(_.equalsIgnoreCase(f.name)))
      .map(f => declared(f.name))

    /** Key columns of the table's LIVE equality-delete files (at ctx
      * creation — one footer-schema read per file, bounded by the
      * backlog). Key files carry PHYSICAL names. */
    val eqKeyNames: Seq[String] =
      if (!ManifestTable.exists(root)) Nil
      else ManifestTable.liveDeleteEntries(root)
        .filter(e => ManifestTable.isEqDeleteEntry(e.rel))
        .flatMap(e => spark.read.parquet(ManifestTable.dataPath(root, e.rel)).schema.fieldNames)
        .distinct

    // the read layout is PHYSICAL (data files and identity dirs carry
    // physical names after a metadata-only rename); the output plan
    // below maps back to the required LOGICAL order
    val readData: StructType = {
      val direct = userReq
        .filterNot(f => partNames.contains(f.name.toLowerCase)).map(physField)
      val extras = eqKeyNames
        .filterNot(k => direct.exists(_.name.equalsIgnoreCase(k)))
        .map(k => physField(declared(logicalOf(k))))
      StructType(direct ++ extras)
    }
    val readPart: StructType = StructType(
      userReq.filter(f => partNames.contains(f.name.toLowerCase)).map(physField))
    val emitted: StructType = StructType(readData.fields ++ readPart.fields)

    /** Output column plan over `required`: Right(emitted ordinal) for
      * data columns (resolved through the logical-to-physical mapping),
      * Left(isVersion) for the change columns. */
    val outPlan: Seq[Either[Boolean, Int]] =
      required.fields.toIndexedSeq.map { f =>
        if (f.name.equalsIgnoreCase(ChangeFeed.TypeCol)) Left(false)
        else if (f.name.equalsIgnoreCase(ChangeFeed.VersionCol)) Left(true)
        else {
          val i = emitted.fieldNames.indexWhere(
            _.equalsIgnoreCase(meta.physicalName(f.name)))
          require(i >= 0, s"change feed of $root: ${f.name} not in the read layout")
          Right(i)
        }
      }

    def scanFor(rels: Seq[String]): Scan with Batch = {
      if (meta.format == "avro")
        // the manifest IS the listing (no index/partition discovery); avro
        // tables never have identity columns, so readPart is empty and
        // the emitted layout is exactly readData. Append-only by
        // construction — the planner declines any delete artifact.
        return new AvroManifestScan(spark,
          rels.map(rel => ManifestTable.dataPath(root, rel)), readData, readData)
      // ext/ (shallow-clone) entries resolve into the source pool — the
      // clone's v1 appears in the feed as an insert of every cloned row
      val files = rels.map(rel => new Path(ManifestTable.dataPath(root, rel)))
      val params =
        if (files.isEmpty || meta.identityCols.isEmpty) Map.empty[String, String]
        else Map("basePath" -> s"$root/data")
      val index = new InMemoryFileIndex(spark, files, params,
        Some(meta.physicalSchema))
      val opts = CaseInsensitiveStringMap.empty()
      if (meta.format == "orc")
        org.apache.spark.sql.execution.datasources.v2.GraftScanBridge.orcScan(
          spark, index, meta.physicalSchema, readData, readPart, Array.empty, opts)
      else
        org.apache.spark.sql.execution.datasources.v2.GraftScanBridge.parquetScan(
          spark, index, meta.physicalSchema, readData, readPart, Array.empty, opts)
    }
  }

  def innerFactory(ctx: Ctx): PartitionReaderFactory =
    ctx.scanFor(Nil).createReaderFactory()

  def readerFactory(ctx: Ctx, inner: PartitionReaderFactory): PartitionReaderFactory =
    new ChangeReaderFactory(inner, ctx.emitted, ctx.outPlan,
      SerializableHadoopConf.broadcast(ctx.spark))

  /** Plan the change slices of window (sV, eV] — or, for the streaming
    * initial snapshot, the live rows AT eV as inserts with every delete
    * applied. Metadata cost: the END manifest, one footer read per live
    * equality-delete file (schema + key bounds), and the positional
    * entries' target lists (stamped on the entries; pre-list legacy
    * entries fall back to one tiny distinct read). */
  def plan(ctx: Ctx, sV: Long, eV: Long, initialSnapshot: Boolean,
           excluded: String => Boolean = _ => false): Array[InputPartition] = {
    val root = ctx.root
    val spark = ctx.spark
    val endEntries = try ManifestTable.entries(root, eV) catch {
      case e: IllegalArgumentException => throw new IllegalStateException(
        s"change feed of $root: version $eV expired from retention — " +
          s"restart from a fresh checkpoint", e)
    }
    val (delAll1, dataAll0) = endEntries.partition(e => ManifestTable.isDeleteEntry(e.rel))
    // CDC sidecars (`cdc_pre_`/`cdc_del_`) are the change-preserving
    // scoped-merge's published pre-images — served verbatim below, never
    // treated as tombstones
    val (cdcAll, delAll) = delAll1.partition(e => ManifestTable.isCdcEntry(e.rel))
    // avro serves APPEND-ONLY feeds: delete application needs the
    // positional/equality reader stack the parquet tombstone formats
    // carry; a delete artifact appearing in the manifest fails the
    // window loudly rather than silently dropping change events
    if (ctx.meta.format == "avro")
      require(delAll.isEmpty,
        s"change feed of $root: avro change feeds are append-only, but " +
          s"version $eV's manifest carries ${delAll.size} delete artifact(s) " +
          "(merge-on-read DML ran against this table) — row-level delete " +
          "events cannot be reconstructed for avro data files")
    // key scoping: data files under provably-filtered partition keys drop
    // from the feed entirely — inserts, delete targets, and eq-delete
    // emission alike. This is what lets a scoped horizon serve a pruned
    // stream across a key-local rewrite: the rewritten key's files (whose
    // sequences would otherwise resurface as false inserts at the rewrite
    // version) never enter the plan, and Spark re-applies the filters
    // post-scan so surviving keys stay exact.
    val dataAll = dataAll0.filterNot(e => excluded(ManifestTable.keyOf(e.rel)))
    val (eqAll, posAll) = delAll.partition(e => ManifestTable.isEqDeleteEntry(e.rel))
    def seq0(e: ManifestTable.FileEntry): Long = e.seq.getOrElse(0L)
    def enc(rel: String): String = ManifestTable.encodedRel(root, rel)
    val encToRaw: Map[String, ManifestTable.FileEntry] =
      dataAll.map(e => enc(e.rel) -> e).toMap
    val excludedEnc: Set[String] =
      dataAll0.filter(e => excluded(ManifestTable.keyOf(e.rel)))
        .map(e => enc(e.rel)).toSet

    // positional tombstone UNITS — (target rel, delete version, artifact):
    // one per (parquet tombstone file × named target), one per dv-blob
    // slice. Delete versions ride per-unit, so a deletion-vector merge
    // (rewrite_deletes) keeps every tombstone attributed to its ORIGINAL
    // commit and the feed's windows stay exact across maintenance.
    def posPath(e: ManifestTable.FileEntry): String = ManifestTable.dataPath(root, e.rel)
    // the 4th element: DELETE-labeled artifact (a merge-on-read MERGE's
    // DELETE-clause kills, `dv_del_*`) — served as true `delete` events
    // even inside an update-shaped commit
    val posUnits: Seq[(String, Long, Either[String, DvSlice], Boolean)] =
      posAll.flatMap { e =>
        val del = ManifestTable.isDeleteLabeledDv(e.rel)
        if (ManifestTable.isDvEntry(e.rel))
          graft.sources.DeleteVectors.decodeIndex(e.stats.getOrElse("")).getOrElse(
            throw new IllegalStateException(s"dv entry ${e.rel} has no index"))
            .map(s => (s.relEnc, s.seq,
              Right(DvSlice(posPath(e), s.offset, s.len, s.seq))
                : Either[String, DvSlice], del))
        else {
          val touched = ManifestTable.deleteTouchedRels(e).getOrElse(
            spark.read.parquet(posPath(e))
              .select("__file").distinct().collect().map(_.getString(0)).toSet)
          touched.toSeq.map(r =>
            (r, seq0(e), Left(posPath(e)): Either[String, DvSlice], del))
        }
      }
    def srcOf(units: Seq[(String, Long, Either[String, DvSlice], Boolean)]): PosSource =
      PosSource(units.collect { case (_, _, Left(p), _) => p }.distinct,
        units.collect { case (_, _, Right(s), _) => s })

    // equality-delete specs (key columns resolved against the emitted
    // layout — data columns by the commit-path contract) plus each key
    // file's per-column BOUNDS from its own footer, for target pruning
    val conf = spark.sparkContext.hadoopConfiguration
    val eqSpecs: Seq[(EqDeleteSpec, Map[String, FileStats.ColStats])] = eqAll.map { e =>
      val p = posPath(e)
      val sch = spark.read.parquet(p).schema
      val ords = sch.fieldNames.map { n =>
        val i = ctx.emitted.fieldNames.indexWhere(_.equalsIgnoreCase(n))
        require(i >= 0 && i < ctx.readData.length,
          s"change feed of $root: equality-delete key '$n' is not in the " +
            s"read layout (a key column added after the stream started? " +
            s"restart from a fresh checkpoint)")
        i
      }
      val bounds = FileStats.collect(p, "parquet", sch, conf)
        .map(FileStats.decode).getOrElse(Map.empty)
      (EqDeleteSpec(p, seq0(e), sch.fieldNames, ords,
        ords.map(ctx.emitted.fields(_).dataType)), bounds)
    }

    /** Can rows of `entry` possibly match `es`'s keys? False only when
      * some key column's ranges are PROVABLY disjoint between the data
      * file's manifest stats and the key file's footer bounds. */
    def eqMayMatch(entry: ManifestTable.FileEntry, es: EqDeleteSpec,
                   keyBounds: Map[String, FileStats.ColStats]): Boolean = {
      val tStats = FileStats.decode(entry.stats.getOrElse(""))
      !es.keyNames.exists { k =>
        (tStats.get(k.toLowerCase), keyBounds.get(k.toLowerCase)) match {
          case (Some(t), Some(b)) => FileStats.provablyDisjoint(t, b)
          case _ => false
        }
      }
    }

    def suppressPosFor(relEnc: String, before: Long): PosSource =
      srcOf(posUnits.filter(u => u._1 == relEnc && u._2 < before))
    def suppressEqFor(fileSeq: Long, before: Long): Seq[EqDeleteSpec] =
      eqSpecs.map(_._1).filter(es => es.seq > fileSeq && es.seq < before)
    val posTargets: Set[String] = posUnits.map(_._1).toSet

    // UPDATE commits: a version whose commit atomically paired delete
    // units with fresh data files (appendWithDeletes — the merge-on-read
    // UPDATE). Pure END-manifest shape test: separate commits can never
    // share a version, and DV maintenance preserves per-slice versions.
    //
    // SCOPED-VIEW CONTRACT (spec-pinned): the shape test runs over the
    // files THIS read can see, so a filter that provably excludes every
    // partition key the update's NEW files landed in drops the version
    // from `updateVersions` — the surviving preimages classify as plain
    // `delete` events. That is the correct semantics, not an accident:
    // from the scoped view's perspective a row whose update moved it to
    // an excluded key LEFT the view, and a consumer maintaining that
    // view must retract it. An update whose new files stay inside the
    // view keeps its preimage/postimage pairing. The converse scoping is
    // asymmetric by design: a view containing only the DESTINATION still
    // sees the arrivals as `update_postimage` (the commit's shape is an
    // update; the exclusion applies to delete targets, not the version),
    // which consumers treat as a birth event either way — per-row
    // old→new pairing is only promised when the old row is in view.
    val updateVersions: Set[Long] =
      dataAll.map(seq0).toSet &
        (posUnits.map(_._2).toSet ++ eqSpecs.map(_._1.seq).toSet)
    def insertType(s: Long): String =
      if (updateVersions(s)) "update_postimage" else "insert"
    def deleteType(s: Long): String =
      if (updateVersions(s)) "update_preimage" else "delete"

    val out = Vector.newBuilder[InputPartition]
    if (initialSnapshot) {
      // live rows as inserts @ their commit sequence, every delete applied
      dataAll.groupBy(seq0).foreach { case (s, entries) =>
        val supEq = eqSpecs.map(_._1).filter(_.seq > s)
        val (hit, clean) = entries.partition(e => posTargets.contains(enc(e.rel)))
        if (clean.nonEmpty)
          ctx.scanFor(clean.map(_.rel)).toBatch.planInputPartitions().foreach(p =>
            out += ChangePartition(p, s, "insert", "insert", None, PosSource.empty,
              Nil, PosSource.empty, supEq))
        hit.foreach { e =>
          val rel = enc(e.rel)
          ctx.scanFor(Seq(e.rel)).toBatch.planInputPartitions().foreach(p =>
            out += ChangePartition(p, s, "insert", "insert", Some(rel),
              PosSource.empty, Nil, suppressPosFor(rel, Long.MaxValue), supEq))
        }
      }
    } else {
      // inserts: the window's appended files, raw (later deletes are
      // separate events); an update commit's new files are its
      // postimages — EXCEPT op-LABELED files: a merge-on-read MERGE's
      // `__op=insert` NOT-MATCHED files and a change-preserving scoped
      // merge's classified files ("insert" births, "update" rewritten
      // post-images, "carry" rows no clause fired on — the carry class
      // emits NOTHING, which is what keeps a CoW merge's feed volume
      // proportional to the touched rows instead of the partition)
      dataAll.filter(e => seq0(e) > sV && seq0(e) <= eV).groupBy(seq0).foreach {
        case (s, es) =>
          es.groupBy(e => graft.sources.FileStats.opLabel(
              graft.sources.FileStats.decode(e.stats.getOrElse(""))))
            .toSeq.sortBy(_._1.toString).foreach { case (label, grp) =>
              val typ: Option[String] = label match {
                case Some("insert") => Some("insert")
                case Some("update") => Some("update_postimage")
                case Some("carry")  => None // untouched rows: no event
                case _              => Some(insertType(s))
              }
              typ.foreach { tp =>
                ctx.scanFor(grp.map(_.rel)).toBatch.planInputPartitions().foreach(p =>
                  out += ChangePartition(p, s, "insert", tp, None,
                    PosSource.empty, Nil, PosSource.empty, Nil))
              }
            }
      }
      // CDC sidecars: the change-preserving scoped merge's published
      // pre-images, served verbatim at their commit version — update
      // preimages (`cdc_pre_`) and DELETE kills (`cdc_del_`)
      cdcAll.filter(e => seq0(e) > sV && seq0(e) <= eV).foreach { e =>
        val typ = if (ManifestTable.isCdcDeleteEntry(e.rel)) "delete"
          else "update_preimage"
        ctx.scanFor(Seq(e.rel)).toBatch.planInputPartitions().foreach(p =>
          out += ChangePartition(p, seq0(e), "insert", typ, None,
            PosSource.empty, Nil, PosSource.empty, Nil))
      }
      // positional deletes: tombstoned rows of each target file, grouped
      // by DELETE VERSION (per-unit, so merged deletion vectors keep
      // their original commits) and by LABEL (a merge's DELETE-clause
      // kills serve as `delete` even though the commit also added
      // files); excluded-key targets never emit
      posUnits.filter(u => u._2 > sV && u._2 <= eV && !excludedEnc.contains(u._1))
        .groupBy(u => (u._2, u._4)).toSeq.sortBy(_._1).foreach { case ((s, del), units) =>
          units.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (relEnc, us) =>
            val target = encToRaw.getOrElse(relEnc, throw new IllegalStateException(
              s"change feed of $root: tombstoned file $relEnc is not live at v=$eV"))
            ctx.scanFor(Seq(target.rel)).toBatch.planInputPartitions().foreach(p =>
              out += ChangePartition(p, s, "delete-pos",
                if (del) "delete" else deleteType(s),
                Some(relEnc), srcOf(us), Nil, suppressPosFor(relEnc, s),
                suppressEqFor(seq0(target), s)))
          }
        }
      // equality deletes: matching rows of every strictly-older live file
      // — except files whose column bounds prove no key can match. The
      // window's specs are MERGED into one pass per surviving target: a
      // window with k eq-delete commits scans each candidate file ONCE,
      // each row emitting at its EARLIEST matching spec's version
      // (pre-window specs ride as suppress-only stages; the target's
      // positional tombstones arbitrate per row by death version).
      val emitSpecs = eqSpecs.filter { case (es, _) => es.seq > sV && es.seq <= eV }
      if (emitSpecs.nonEmpty) dataAll.foreach { e =>
        val fe = seq0(e)
        val mine = emitSpecs.collect {
          case (es, kb) if es.seq > fe && eqMayMatch(e, es, kb) => es
        }
        if (mine.nonEmpty) {
          val relEnc = enc(e.rel)
          val stages =
            (suppressEqFor(fe, sV + 1).map(EqStage(_, emit = false, "")) ++
              mine.map(es => EqStage(es, emit = true, deleteType(es.seq))))
              .sortBy(_.spec.seq)
          val maxEmit = mine.map(_.seq).max
          val pbv = posUnits.filter(u => u._1 == relEnc && u._2 < maxEmit)
            .groupBy(_._2).toSeq.sortBy(_._1)
            .map { case (v, us) => (v, srcOf(us)) }
          ctx.scanFor(Seq(e.rel)).toBatch.planInputPartitions().foreach(p =>
            out += ChangePartition(p, mine.map(_.seq).min, "delete-eq",
              deleteType(mine.map(_.seq).min), Some(relEnc), PosSource.empty,
              stages, PosSource.empty, Nil, posByVersion = pbv))
        }
      }
    }
    val planned = out.result()
    // one read mode per window: vectorized only when EVERY slice is a
    // clean insert (Spark refuses mixed row/columnar partitions); the
    // streaming runner plans each micro-batch separately, so an
    // append-only window or a deletes-free initial snapshot stays
    // vectorized even mid-stream
    val allClean = planned.forall {
      case cp: ChangePartition => cp.isCleanInsert
      case _ => false
    }
    (if (allClean) planned
     else planned.map { case cp: ChangePartition => cp.copy(forceRow = true) })
      .toArray
  }
}

/** Assembles each slice's reader pipeline: position/key suppression and
  * emission over the raw file reader (index-tracking stages innermost),
  * then projection to the REQUIRED column order with the change columns
  * inlined. Columnar passthrough (constant change vectors, zero-copy
  * data columns) when the whole batch is clean inserts. */
private[v2] class ChangeReaderFactory(inner: PartitionReaderFactory,
                                      emitted: StructType,
                                      outPlan: Seq[Either[Boolean, Int]],
                                      conf: Broadcast[SerializableHadoopConf])
    extends PartitionReaderFactory {

  // per-PARTITION verdict — the planner forces a whole window to row mode
  // when any slice applies deletes, so every partition of one planned
  // batch agrees (the uniformity Spark's scan exec requires)
  override def supportColumnarReads(p: InputPartition): Boolean = p match {
    case cp: ChangePartition =>
      !cp.forceRow && cp.isCleanInsert && inner.supportColumnarReads(cp.inner)
    case _ => false
  }

  override def createColumnarReader(p: InputPartition): PartitionReader[ColumnarBatch] = {
    val cp = p.asInstanceOf[ChangePartition]
    require(cp.isCleanInsert, "columnar change reads serve clean inserts only")
    val d = inner.createColumnarReader(cp.inner)
    val plan = outPlan
    new PartitionReader[ColumnarBatch] {
      override def next(): Boolean = d.next()
      override def get(): ColumnarBatch = {
        val b = d.get()
        val n = b.numRows()
        val cols: Array[ColumnVector] = plan.map {
          case Right(i) => b.column(i)
          case Left(isVersion) =>
            if (isVersion) {
              val v = new org.apache.spark.sql.execution.vectorized
                .ConstantColumnVector(n, LongType)
              v.setLong(cp.version)
              v: ColumnVector
            } else {
              val v = new org.apache.spark.sql.execution.vectorized
                .ConstantColumnVector(n, StringType)
              v.setUtf8String(UTF8String.fromString(cp.changeType))
              v: ColumnVector
            }
        }.toArray
        new ColumnarBatch(cols, n)
      }
      override def close(): Unit = d.close()
    }
  }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val cp = p.asInstanceOf[ChangePartition]
    var r = inner.createReader(cp.inner)
    lazy val base: Long = cp.inner match {
      case fp: FilePartition =>
        val f = fp.files.head
        MorDeletes.baseRowFor(f.filePath.toPath, f.start, conf.value.value)
      case _ => 0L
    }
    def posOf(src: PosSource): Array[Long] =
      if (src.isEmpty) Array.emptyLongArray
      else MorDeletes.positionsFor(src, cp.relEnc.get, conf.value.value)
    def eqSets(specs: Seq[EqDeleteSpec]) =
      specs.map(s => (s, MorDeletes.loadEqKeys(s, conf.value.value)))
    val meta = new ChangeMeta(UTF8String.fromString(cp.changeType), cp.version)

    cp.kind match {
      case "insert" =>
        val sup = posOf(cp.suppressPos)
        if (sup.nonEmpty) r = new PosSkipRowReader(r, sup, base)
      case "delete-pos" =>
        // emitted positions minus rows already dead at the emission commit
        val emit = posOf(cp.emitPos)
        val sup = posOf(cp.suppressPos)
        val keep =
          if (sup.isEmpty) emit
          else emit.filter(p => java.util.Arrays.binarySearch(sup, p) < 0)
        r = new PosKeepRowReader(r, keep, base)
      case "delete-eq" =>
        () // the merged stage pass below arbitrates everything per row
      case other => throw new IllegalStateException(s"unknown change kind $other")
    }
    if (cp.suppressEq.nonEmpty) r = new EqFilterRowReader(r, eqSets(cp.suppressEq))
    if (cp.eqStages.nonEmpty) {
      // the merged pass counts FILE positions: it must wrap the BARE file
      // reader — a planner change that combined eqStages with an outer
      // filtering wrapper would silently corrupt row indexes (positions
      // counted post-filter), so refuse loudly instead
      require(cp.suppressEq.isEmpty && cp.suppressPos.isEmpty,
        s"delete-eq partition for ${cp.relEnc} planned with filtering " +
          "wrappers; EqKeepMultiRowReader requires the bare file reader")
      val loaded = cp.eqStages.map(st =>
        (st, MorDeletes.loadEqKeys(st.spec, conf.value.value),
          if (st.emit) UTF8String.fromString(st.changeType) else null))
      val pbv = cp.posByVersion.map { case (v, src) => (v, posOf(src)) }
      r = new EqKeepMultiRowReader(r, loaded, pbv, base, meta)
    }
    new AppendChangeRowReader(r, emitted, outPlan, meta)
  }
}

/** Row-path positional KEEP: emits only rows at the given file-absolute
  * positions — the mirror of [[PosSkipRowReader]], for delete-event
  * emission. */
private[v2] class PosKeepRowReader(inner: PartitionReader[InternalRow],
                                   positions: Array[Long], startBase: Long)
    extends PartitionReader[InternalRow] {
  private var rowIdx = startBase - 1L
  private var ptr = MorDeletes.lowerBound(positions, startBase)
  override def next(): Boolean = {
    while (ptr < positions.length && inner.next()) {
      rowIdx += 1
      if (positions(ptr) == rowIdx) { ptr += 1; return true }
    }
    false
  }
  override def get(): InternalRow = inner.get()
  override def close(): Unit = inner.close()
}

/** Mutable per-row change metadata — set once for constant slices
  * (inserts, positional deletes) and per accepted row by the merged
  * equality pass (whose rows die at different versions). */
private[v2] final class ChangeMeta(var changeType: UTF8String, var version: Long)

/** Merged equality-delete pass over ONE target file: stages ascend by
  * version; a row's fate is its EARLIEST matching stage. Suppress stages
  * (specs applied before the window) drop the row; emit stages emit it
  * at their version — unless one of the target's positional tombstones
  * killed it at a strictly older version (that death was or will be its
  * own delete event). One scan of the file serves the whole window,
  * however many eq-delete commits it holds. */
private[v2] class EqKeepMultiRowReader(
    inner: PartitionReader[InternalRow],
    stages: Seq[(EqStage, java.util.HashSet[Seq[Any]], UTF8String)],
    posByVersion: Seq[(Long, Array[Long])],
    startBase: Long, meta: ChangeMeta)
    extends PartitionReader[InternalRow] {
  private var rowIdx = startBase - 1L
  private def posKilledBefore(v: Long): Boolean =
    posByVersion.exists { case (tv, arr) =>
      tv < v && java.util.Arrays.binarySearch(arr, rowIdx) >= 0 }
  override def next(): Boolean = {
    while (inner.next()) {
      rowIdx += 1
      val row = inner.get()
      var i = 0
      var fate = -1
      while (i < stages.length && fate < 0) {
        if (stages(i)._2.contains(MorDeletes.keyTupleOf(row, stages(i)._1.spec)))
          fate = i
        i += 1
      }
      if (fate >= 0) {
        val (st, _, ct) = stages(fate)
        if (st.emit && !posKilledBefore(st.spec.seq)) {
          meta.changeType = ct
          meta.version = st.spec.seq
          return true
        }
      }
    }
    false
  }
  override def get(): InternalRow = inner.get()
  override def close(): Unit = inner.close()
}

/** Provable partition-key exclusion for change-feed scoping. The
  * direction is INVERTED from scan pruning's keep-floor: a key is
  * excluded only when NO row under its directory can satisfy the pushed
  * conjunction — uncertain always means "not excluded", so scoping can
  * drop neither change rows nor horizon violations it can't prove away.
  * Covered shapes: equality/IN conjuncts on identity partition columns
  * (typed directory-value compare) and wall-clock range conjuncts on a
  * hidden-day source column (DATE / TIMESTAMP_NTZ only — a session-zone
  * TIMESTAMP day is not a pure function of the value, so it never
  * excludes). */
private[v2] object ChangePrune {
  import org.apache.spark.sql.{sources => f}
  import java.time.LocalDate

  def excluder(meta: VersionedCatalog.Meta,
               filters: Seq[f.Filter]): String => Boolean = {
    if (filters.isEmpty) return _ => false

    def logicalType(c: String): Option[DataType] =
      meta.schema.fields.find(_.name.equalsIgnoreCase(c)).map(_.dataType)

    // equality-set constraints (EqualTo/In conjuncts) per identity column
    def eqValuesFor(c: String): Option[Set[Any]] = {
      var result: Option[Set[Any]] = None
      def add(vs: Set[Any]): Unit =
        result = Some(result.map(_ intersect vs).getOrElse(vs))
      def visit(x: f.Filter): Unit = x match {
        case f.And(l, r) => visit(l); visit(r)
        case f.EqualTo(a, v) if a.equalsIgnoreCase(c) && v != null => add(Set(v))
        case f.EqualNullSafe(a, v) if a.equalsIgnoreCase(c) && v != null => add(Set(v))
        case f.In(a, vs) if a.equalsIgnoreCase(c) => add(vs.filter(_ != null).toSet)
        case _ => ()
      }
      filters.foreach(visit)
      result
    }
    val idConstraints: Seq[(String, DataType, Set[Any])] =
      meta.identityCols.flatMap { c =>
        for (vs <- eqValuesFor(c); dt <- logicalType(c))
          yield (meta.physicalName(c).toLowerCase, dt, vs)
      }

    // wall-clock day bounds from range/equality conjuncts on the hidden
    // day source — only literal shapes that denote one wall-clock day
    def wallDay(v: Any): Option[LocalDate] = v match {
      case d: LocalDate => Some(d)
      case d: java.sql.Date => Some(d.toLocalDate)
      case t: java.time.LocalDateTime => Some(t.toLocalDate)
      case s: String if s.length >= 10 =>
        scala.util.Try(LocalDate.parse(s.take(10))).toOption
      case _ => None // Instant/Timestamp: zone-dependent — never exclude
    }
    val dayBounds: Option[(Option[LocalDate], Option[LocalDate])] =
      meta.dayOf.filter(c => logicalType(c).exists(t =>
        t == DateType || t == TimestampNTZType)).flatMap { ts =>
        var from: Option[LocalDate] = None
        var until: Option[LocalDate] = None
        def tFrom(d: LocalDate): Unit =
          from = Some(from.filter(_.isAfter(d)).getOrElse(d))
        def tUntil(d: LocalDate): Unit =
          until = Some(until.filter(_.isBefore(d)).getOrElse(d))
        def visit(x: f.Filter): Unit = x match {
          case f.And(l, r) => visit(l); visit(r)
          case f.EqualTo(a, v) if a.equalsIgnoreCase(ts) =>
            wallDay(v).foreach { d => tFrom(d); tUntil(d) }
          case f.GreaterThan(a, v) if a.equalsIgnoreCase(ts) =>
            wallDay(v).foreach(tFrom)
          case f.GreaterThanOrEqual(a, v) if a.equalsIgnoreCase(ts) =>
            wallDay(v).foreach(tFrom)
          case f.LessThan(a, v) if a.equalsIgnoreCase(ts) =>
            wallDay(v).foreach(tUntil)
          case f.LessThanOrEqual(a, v) if a.equalsIgnoreCase(ts) =>
            wallDay(v).foreach(tUntil)
          case _ => ()
        }
        filters.foreach(visit)
        if (from.isEmpty && until.isEmpty) None else Some((from, until))
      }

    if (idConstraints.isEmpty && dayBounds.isEmpty) return _ => false

    /** Typed equality of a dir value against a filter value; None =
      * uncertain (key stays in). */
    def dirMatches(dirval: String, v: Any, dt: DataType): Option[Boolean] =
      scala.util.Try {
        (dt, v) match {
          case (StringType, s: String) => dirval == s
          case (ByteType | ShortType | IntegerType | LongType, n: java.lang.Number) =>
            dirval.toLong == n.longValue
          case (BooleanType, b: java.lang.Boolean) => dirval.toBoolean == b.booleanValue
          case (DateType, d: java.sql.Date) => LocalDate.parse(dirval) == d.toLocalDate
          case (DateType, d: LocalDate) => LocalDate.parse(dirval) == d
          case _ => throw new IllegalArgumentException("uncomparable")
        }
      }.toOption

    (key: String) => key.nonEmpty && {
      val dirs = key.split('/').flatMap { seg =>
        val i = seg.indexOf('=')
        if (i < 0) None else Some(seg.take(i).toLowerCase -> seg.drop(i + 1))
      }.toMap
      val idExcluded = idConstraints.exists { case (phys, dt, vs) =>
        dirs.get(phys) match {
          case Some(raw) if !raw.contains('%') && raw != "__HIVE_DEFAULT_PARTITION__" =>
            val verdicts = vs.toSeq.map(dirMatches(raw, _, dt))
            verdicts.nonEmpty && verdicts.forall(_.contains(false))
          case _ => false
        }
      }
      val dayExcluded = dayBounds.exists { case (from, until) =>
        dirs.get(ManifestTable.DayCol).exists { raw =>
          scala.util.Try(LocalDate.parse(raw)).toOption.exists(d =>
            from.exists(d.isBefore) || until.exists(d.isAfter))
        }
      }
      idExcluded || dayExcluded
    }
  }
}

/** Projects the emitted (data ++ partition) layout to the REQUIRED column
  * order, inlining (`_change_type`, `_commit_version`) from the slice's
  * [[ChangeMeta]] — bound as two virtual trailing columns, so per-row
  * versions (merged eq passes) cost no projection rebuild. */
private[v2] class AppendChangeRowReader(inner: PartitionReader[InternalRow],
                                        emitted: StructType,
                                        plan: Seq[Either[Boolean, Int]],
                                        meta: ChangeMeta)
    extends PartitionReader[InternalRow] {
  private val metaRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)
  private val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
  private val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(
    plan.toIndexedSeq.map {
      case Right(i) => BoundReference(i, emitted.fields(i).dataType,
        emitted.fields(i).nullable): org.apache.spark.sql.catalyst.expressions.Expression
      case Left(true) => BoundReference(emitted.length, LongType, nullable = false)
      case Left(false) => BoundReference(emitted.length + 1, StringType, nullable = false)
    })
  override def next(): Boolean = inner.next()
  override def get(): InternalRow = {
    metaRow.update(0, meta.version)
    metaRow.update(1, meta.changeType)
    proj(joined(inner.get(), metaRow))
  }
  override def close(): Unit = inner.close()
}
