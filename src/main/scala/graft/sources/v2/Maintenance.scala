package graft.sources.v2

import org.apache.spark.sql.SparkSession

import graft.sources.ManifestTable

/** Catalog-addressed table maintenance — Iceberg's
  * `rewrite_data_files` / `expire_snapshots` ergonomics
  * (`CALL catalog.system.rewrite_data_files('tbl')`) for versioned
  * catalog tables: the caller speaks `cat.ns.tbl`, the resolution of
  * warehouse root, storage format, hidden-day partition source and
  * logical→physical column mapping all come from the catalog descriptor.
  * The underlying ops ([[ManifestTable.compact]] /
  * [[ManifestTable.expireOldVersions]]) stay available for bare roots.
  */
object Maintenance {

  /** Resolve `cat.ns.tbl` against a configured [[VersionedCatalog]] (same
    * conf-first resolution the DML layer uses — works before the plugin's
    * first instantiation). */
  private[v2] def resolve(spark: SparkSession, ident: String): (String, VersionedCatalog.Meta) = {
    val parts = ident.split('.')
    require(parts.length == 3, s"expected cat.ns.tbl, got $ident")
    require(spark.conf.getOption(s"spark.sql.catalog.${parts(0)}")
      .contains(classOf[VersionedCatalog].getName),
      s"${parts(0)} is not a VersionedCatalog")
    val wh = spark.conf.get(s"spark.sql.catalog.${parts(0)}.warehouse")
    val root = s"$wh/${parts(1)}/${parts(2)}"
    val meta = VersionedCatalog.readMeta(root).getOrElse(
      throw new IllegalArgumentException(s"no such table $ident (no descriptor at $root)"))
    (root, meta)
  }

  private def retainOf(spark: SparkSession, root: String): Int =
    VersionedCatalog.retainFor(root, spark)

  /** OPTIMIZE [ZORDER BY]: rewrite the live snapshot into
    * ~`targetFileBytes` files (per day for partitioned tables), keeping
    * the table's declared format, physical column names and commit
    * properties. With `zorderBy`, rows are CLUSTERED by the Morton
    * (bit-interleaved) key of the named columns before the write — the
    * Delta/Iceberg `OPTIMIZE ZORDER BY` layout op: per-file min/max
    * ranges on every z-dimension shrink, so a multi-column range filter
    * skips files (row groups) instead of scanning them. Old files age
    * out with their manifests. Returns the new version id.
    *
    * Scale shape: one tiny min/max agg per z-column (driver-pulled
    * bounds), then a single range shuffle on the key. Linear bucketing
    * per dimension (8 bits) — order-preserving and codegen'd; heavily
    * skewed dimensions cluster less evenly than Delta's range-id variant
    * but never affect correctness. */
  def optimize(spark: SparkSession, ident: String,
               targetFileBytes: Long = 128L << 20,
               zorderBy: Seq[String] = Nil,
               whereDays: Option[(String, String)] = None,
               maxCommits: Int = 1,
               maxConcurrentRewrites: Int = 1,
               whereKeys: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions._
    val (root, meta) = resolve(spark, ident)
    val physDay = meta.dayOf.map(meta.physicalName)
    // PARTIAL PROGRESS (Iceberg's rewrite_data_files partial-progress.
    // max-commits): chunk the rewrite into up to `maxCommits` independent
    // day-scoped commits — at 100 TB a monolithic OPTIMIZE is an
    // hours-long job whose failure loses EVERYTHING and whose single
    // commit conflicts with every concurrent day-write; chunked, a crash
    // keeps the finished chunks and each commit's conflict surface is
    // only its own days. Composes with `zorder_by` (each chunk Morton-
    // clusters against its OWN slice's bounds — the hours-long z-order
    // rewrite is exactly the job that needs resumable commits) and
    // `where_days` (chunk only the selected range). Day-keyed tables
    // only (the replace fast path carries every other day by reference);
    // other layouts fall through to the monolithic rewrite.
    // where_keys (Iceberg's rewrite filter over identity partitions):
    // compact ONLY the selected keys — exact (`ano=2024/mes=5`) or
    // prefix (`ano=2024` selects every mes under it). Identity layouts
    // only; with max_commits == 1 the selection lands as a single
    // key-replace commit.
    require(whereKeys.isEmpty || meta.identityCols.nonEmpty,
      s"where_keys selects identity partition directories; $ident has none")
    val keyInScope: String => Boolean =
      if (whereKeys.isEmpty) _ => true
      else k => whereKeys.exists(p => k == p || k.startsWith(p + "/"))
    if (maxCommits > 1 || (whereKeys.nonEmpty && meta.identityCols.nonEmpty)) {
      // IDENTITY layouts (the gold `ano, mes` shape) chunk per partition
      // KEY through the key-replace commit — same pin/conflict contract,
      // different scope predicate and write layout
      if (meta.identityCols.nonEmpty) {
        require(meta.dayOf.isEmpty && meta.part.isEmpty &&
            meta.pastDays.isEmpty && meta.pastParts.isEmpty,
          s"$ident mixes partition layouts (spec evolution); run a full " +
            "OPTIMIZE (max_commits => 1) to re-home, then chunk")
        // where_days cannot apply (identity layouts have no day dirs);
        // key ranges are what where_keys already scopes. zorder_by
        // COMPOSES: each chunk Morton-clusters against its own slice's
        // bounds and the order re-applies inside the pool write
        // (rewriteOrder) — the gold `ano, mes` layout's resumable z-order
        require(whereDays.isEmpty,
          "where_days selects day partitions; identity layouts scope by " +
            "where_keys instead")
        if (zorderBy.nonEmpty) requireNoSortOrder(root, ident)
        return optimizePartialKeys(spark, root, meta, targetFileBytes,
          maxCommits, retainOf(spark, root),
          maxConcurrent = math.max(1, maxConcurrentRewrites),
          keyInScope = keyInScope,
          zorderCols = zorderBy.map(meta.physicalName))
      }
      val pd = physDay.getOrElse(throw new IllegalArgumentException(
        s"$ident is not day-partitioned; partial-progress OPTIMIZE " +
          "(max_commits) needs a days() or identity layout to scope its " +
          "chunk commits"))
      require(meta.part.isEmpty && ManifestTable.isFullyDayKeyed(root),
        s"$ident mixes partition layouts (spec evolution); run a full " +
          "OPTIMIZE (max_commits => 1) to re-home, then chunk")
      if (zorderBy.nonEmpty) requireNoSortOrder(root, ident)
      val dayInRange: String => Boolean =
        whereDays.fold((_: String) => true)(r => dayRangePredicate(r._1, r._2))
      return optimizePartial(spark, root, pd, targetFileBytes, maxCommits,
        retainOf(spark, root), zorderCols = zorderBy.map(meta.physicalName),
        dayInRange = dayInRange,
        maxConcurrent = math.max(1, maxConcurrentRewrites))
    }
    // DAY-SCOPED compaction (Iceberg's rewrite_data_files(filter)): only
    // the selected days' files read and rewritten — at 100 TB you compact
    // the days the ingest fragmented, never the table. Other days' files
    // carry through the replaceDays commit untouched; tombstones naming
    // the replaced files go inert (self-scoping) and the next
    // rewrite_deletes drops them.
    whereDays.foreach { case (fromS, untilS) =>
      val physDayCol = physDay.getOrElse(throw new IllegalArgumentException(
        s"$ident is not day-partitioned; where_days needs a days() layout"))
      require(ManifestTable.isFullyDayKeyed(root),
        s"$ident mixes partition layouts (spec evolution); run a full OPTIMIZE")
      if (zorderBy.nonEmpty) requireNoSortOrder(root, ident)
      val days = ManifestTable.liveDays(root)
        .filter(dayRangePredicate(fromS, untilS))
      if (days.isEmpty)
        return ManifestTable.currentVersion(root).getOrElse(0L)
      val (v0, raw) = ManifestTable.readRawPinned(spark, root)
      val slice = raw.where(col(ManifestTable.DayCol).cast("string")
        .isInCollection(days.toSeq))
      val bytes = ManifestTable.liveEntries(root)
        .filter(e => days.exists(d =>
          ManifestTable.plainRel(e.rel).startsWith(s"${ManifestTable.DayCol}=$d/")))
        .map(e => ManifestTable.entryBytes(root, e)).sum
      val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
      // with zorder_by: Morton-cluster WITHIN the selected days — bounds
      // come from the slice itself (finer buckets than table-wide), the
      // range partitioner keys on (day, zkey) so each day's files hold
      // contiguous z-ranges, exactly the monolithic ZORDER layout but
      // paid only for the days being compacted
      // with zorder: the RANGE placement (which rows share a file) is
      // computed here; the within-file ORDER re-applies inside the pool
      // write AFTER the partition dirs re-derive (rewriteOrder), so the
      // file writer's own non-order-stable Sort never runs
      val zkeyExpr =
        if (zorderBy.isEmpty) None
        else {
          val zCols = zorderBy.map(meta.physicalName)
          zCols.foreach(c => require(slice.columns.exists(_.equalsIgnoreCase(c)),
            s"no such column $c"))
          Some(zKeyOf(slice, zCols))
        }
      val clustered = zkeyExpr match {
        case None => slice.repartition(nFiles, col(ManifestTable.DayCol))
        case Some(zo) => slice.withColumn("__zkey", zo)
          .repartitionByRange(nFiles, col(ManifestTable.DayCol), col("__zkey"))
          .drop("__zkey")
      }
      return ManifestTable.replaceDays(
        clustered.drop(ManifestTable.DayCol),
        root, days, physDayCol, retain = retainOf(spark, root),
        expectedVersion = Some(v0), preclustered = zorderBy.nonEmpty,
        rewriteOrder = zkeyExpr)
    }
    // partition-directory key columns of the table's layout (empty for a
    // flat table): rewrites cluster by them so each directory gets
    // locally-coalesced files, whatever the transform
    def dirKeyCols(df: org.apache.spark.sql.DataFrame): Seq[org.apache.spark.sql.Column] =
      physDay.map(ts => to_date(col(ts))).toSeq ++
        VersionedCatalog.partDeriveExpr(meta).map(_._2) ++
        meta.identityCols.map(c => col(meta.physicalName(c)))
    if (zorderBy.isEmpty) {
      if (meta.part.isEmpty && meta.identityCols.isEmpty)
        ManifestTable.compact(spark, root,
          partitionDayOf = physDay,
          targetFileBytes = targetFileBytes,
          retain = retainOf(spark, root),
          format = Some(meta.format))
      else {
        // generalized compaction for transform/identity layouts: full
        // read (partition values re-derived from directory names),
        // cluster by the directory keys, commit preserving the layout
        val raw = ManifestTable.read(spark, root)
          .drop(VersionedCatalog.PartTransform.DirCol)
        val bytes = ManifestTable.history(spark, root)
          .where(col("is_current")).select(col("bytes")).collect()(0).getLong(0)
        val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
        VersionedCatalog.commitPreservingLayout(root,
          raw.repartition(nFiles, dirKeyCols(raw): _*),
          retainOf(spark, root), ManifestTable.liveProps(root), op = "rewrite")
      }
    } else {
      requireNoSortOrder(root, ident)
      val zCols = zorderBy.map(meta.physicalName)
      val raw = ManifestTable.read(spark, root) // physical names
        .drop(VersionedCatalog.PartTransform.DirCol)
      zCols.foreach(c => require(raw.columns.exists(_.equalsIgnoreCase(c)),
        s"no such column $c"))
      val zkey = zKeyOf(raw, zCols)
      val bytes = ManifestTable.history(spark, root)
        .where(col("is_current")).select(col("bytes")).collect()(0).getLong(0)
      val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
      // range placement here; within-file order re-applies inside the
      // pool write (rewriteOrder — see the where_days note)
      val clustered = raw
        .withColumn("__zkey", zkey)
        .repartitionByRange(nFiles,
          (dirKeyCols(raw) :+ (col("__zkey"): org.apache.spark.sql.Column)): _*)
        .drop("__zkey")
      VersionedCatalog.commitPreservingLayout(root, clustered,
        retainOf(spark, root), ManifestTable.liveProps(root), op = "rewrite",
        preclustered = true, rewriteOrder = Some(zkey))
    }
  }

  /** Inclusive day-range membership for a `where_days` bound — ONE
    * implementation for the scoped and the chunked path (boundary
    * semantics must never diverge between them). Unparseable day keys
    * never match. */
  private def dayRangePredicate(fromS: String, untilS: String): String => Boolean = {
    val from = java.time.LocalDate.parse(fromS)
    val until = java.time.LocalDate.parse(untilS)
    d => scala.util.Try {
      val day = java.time.LocalDate.parse(d)
      !day.isBefore(from) && !day.isAfter(until)
    }.getOrElse(false)
  }

  /** Z-ORDER and a declared sort.order are both write layouts and cannot
    * compose: the pool write applies the declared sort WITHIN each file,
    * which would silently re-order the z-clustered rows right back out
    * of their Morton layout. Refuse loudly — one declared layout per
    * table (Iceberg models z-order AS the table's sort order for the
    * same reason). */
  private def requireNoSortOrder(root: String, ident: String): Unit =
    require(ManifestTable.sortOrder(root).isEmpty,
      s"$ident declares a sort.order; OPTIMIZE ZORDER BY would conflict " +
        "with it (the write re-sorts each file by the declared order). " +
        "UNSET TBLPROPERTIES ('sort.order') first, or rely on the " +
        "declared order instead of z-ordering")

  /** Morton (bit-interleaved) key over `zCols` of `df`: per-dimension
    * bounds from ONE tiny driver-pulled agg over df itself — a
    * day-scoped rewrite buckets against its own slice's bounds, finer
    * clustering than table-wide. Linear bucketing per dimension (8
    * bits) — order-preserving and codegen'd; heavily skewed dimensions
    * cluster less evenly than Delta's range-id variant but never affect
    * correctness. */
  private def zKeyOf(df: org.apache.spark.sql.DataFrame, zCols: Seq[String])
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val bits = 8
    val scale = 1 << bits
    // pairs in column order (lo_0, hi_0, lo_1, hi_1, …)
    val mmExprs = zCols.flatMap(c =>
      Seq(min(col(c)).cast("double"), max(col(c)).cast("double")))
    val mmRow = df.agg(mmExprs.head, mmExprs.tail: _*).collect()(0)
    // a dimension with NO bounds — an empty input (fully merge-on-read-
    // deleted slice) or an ALL-NULL column (a schema-evolution-added
    // column null-filled for this whole chunk) — contributes a constant
    // bucket: any constant is a correct order for rows that don't vary
    // on it, and the other dimensions still cluster. Per-dimension, so
    // one all-null column can never crash a chunk mid-run.
    val bucketCols = zCols.zipWithIndex.map { case (c, i) =>
      if (mmRow.isNullAt(2 * i) || mmRow.isNullAt(2 * i + 1)) lit(0L)
      else {
        val lo = mmRow.getDouble(2 * i)
        val hi = mmRow.getDouble(2 * i + 1)
        val span = math.max(hi - lo, java.lang.Double.MIN_NORMAL)
        least(lit((scale - 1).toLong), greatest(lit(0L),
          floor((col(c).cast("double") - lit(lo)) / lit(span) * lit(scale)).cast("long")))
      }
    }
    (0 until bits).flatMap { b =>
      bucketCols.zipWithIndex.map { case (bc, d) =>
        shiftrightunsigned(bc, b).bitwiseAND(lit(1L)) *
          lit(1L << (b * zCols.length + d))
      }
    }.reduce(_ + _)
  }

  /** The chunked rewrite behind partial-progress OPTIMIZE: live days
    * (optionally restricted to a `where_days` range) greedily packed
    * into ≤`maxCommits` byte-balanced groups (manifest `__bytes` only —
    * no FS stats), each group compacted — Morton-clustered when
    * `zorderCols` is set, against the chunk's OWN bounds — and committed
    * via the day-replace path. All chunks READ the pinned base snapshot
    * (their day sets are disjoint, so earlier chunk commits never
    * invalidate later reads) and each [[ManifestTable.replaceDays]]
    * verifies ITS days unchanged since the pin — a concurrent write to
    * an untouched day sails through; one to a chunk's own day fails that
    * chunk loudly with every finished chunk already durable.
    *
    * `maxConcurrent > 1` rewrites that many chunks at once (Iceberg's
    * `partial-progress` + `max-concurrent-file-group-rewrites`): at
    * 100 TB, sequential chunks leave the cluster idle between a chunk's
    * write tail and its commit — concurrent workers keep it saturated.
    * The commits themselves still serialize through [[ManifestTable]]'s
    * optimistic commit loop (same-ref racers collide on the version
    * claim and rebase); disjoint day sets mean every rebase passes its
    * unchanged-check. ALL chunks are awaited before the first failure
    * propagates, so a conflicted chunk never aborts its siblings'
    * in-flight work. */
  private def optimizePartial(spark: SparkSession, root: String,
                              physDayCol: String, targetFileBytes: Long,
                              maxCommits: Int, retain: Int,
                              zorderCols: Seq[String] = Nil,
                              dayInRange: String => Boolean = _ => true,
                              maxConcurrent: Int = 1): Long = {
    import org.apache.spark.sql.functions._
    val dataEntries = ManifestTable.liveEntries(root)
      .filterNot(e => ManifestTable.isDeleteEntry(e.rel))
    val dayPfx = s"${ManifestTable.DayCol}="
    val byDay: Map[String, Long] = dataEntries
      .groupBy(e => ManifestTable.keyOf(e.rel).stripPrefix(dayPfx))
      .view.mapValues(_.map(e => ManifestTable.entryBytes(root, e)).sum)
      .filter { case (d, _) => dayInRange(d) }.toMap
    if (byDay.isEmpty)
      return ManifestTable.currentVersion(root).getOrElse(0L)
    val work = packChunks(byDay, maxCommits)
    val (v0, raw) = ManifestTable.readRawPinned(spark, root)
    zorderCols.foreach(c => require(raw.columns.exists(_.equalsIgnoreCase(c)),
      s"no such column $c"))
    val chunkRetain = math.max(retain, work.size + 1)
    runChunks(root, v0, work, maxConcurrent) { chunk =>
      val days = chunk.toSet
      val slice = raw.where(col(ManifestTable.DayCol).cast("string")
        .isInCollection(days))
      val bytes = chunk.map(byDay).sum
      val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
      // zorder: range placement on (day, zkey) here; the within-file
      // ORDER re-applies inside the pool write after the partition dirs
      // re-derive (rewriteOrder) — same discipline as the scoped path
      val zkey = if (zorderCols.isEmpty) None else Some(zKeyOf(slice, zorderCols))
      val clustered = zkey match {
        case None => slice.repartition(nFiles, col(ManifestTable.DayCol))
        case Some(z) => slice.withColumn("__zkey", z)
          .repartitionByRange(nFiles, col(ManifestTable.DayCol), col("__zkey"))
          .drop("__zkey")
      }
      ManifestTable.replaceDays(
        clustered.drop(ManifestTable.DayCol),
        root, days, physDayCol, retain = chunkRetain,
        expectedVersion = Some(v0),
        preclustered = zorderCols.nonEmpty, rewriteOrder = zkey)
    }
    ManifestTable.currentVersion(root).getOrElse(v0)
  }

  /** The identity-layout twin: live partition KEYS (`ano=2024/mes=5`
    * directories) greedily packed into ≤`maxCommits` byte-balanced
    * groups, each chunk's FILES read pinned with deletes applied
    * ([[ManifestTable.readKeysPinned]] — no other key's file is opened),
    * re-clustered per key and committed through the key-replace path.
    * Same pin/conflict/retention discipline as the day variant (shared
    * [[runChunks]] harness). With `zorderCols`, each chunk
    * Morton-clusters against its OWN slice's bounds — range placement on
    * (identity keys, zkey) here, within-file order re-applied inside the
    * pool write (rewriteOrder) — the same discipline as the day variant,
    * giving the reference gold's `ano, mes` layout a RESUMABLE z-order. */
  private def optimizePartialKeys(spark: SparkSession, root: String,
                                  meta: VersionedCatalog.Meta,
                                  targetFileBytes: Long, maxCommits: Int,
                                  retain: Int, maxConcurrent: Int,
                                  keyInScope: String => Boolean = _ => true,
                                  zorderCols: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions._
    val v0 = ManifestTable.currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no committed version under $root"))
    val dataEntries = ManifestTable.entries(root, v0)
      .filterNot(e => ManifestTable.isDeleteEntry(e.rel))
    // the loose/NULL-partition refusal checks the WHOLE key set before
    // any scope filter: a scoped run must refuse up front exactly like
    // an unscoped one, not after a chunk's rewrite work when the commit-
    // time layout check finally trips
    val allKeys = dataEntries.map(e => ManifestTable.keyOf(e.rel)).toSet
    require(!allKeys.exists(k =>
        k.isEmpty || k.contains("__HIVE_DEFAULT_PARTITION__")),
      s"$root holds loose or NULL-partition files; run a full OPTIMIZE " +
        "(max_commits => 1) to re-home, then chunk")
    val byKey: Map[String, Long] = dataEntries
      .groupBy(e => ManifestTable.keyOf(e.rel))
      .view.mapValues(_.map(e => ManifestTable.entryBytes(root, e)).sum)
      .filter { case (k, _) => keyInScope(k) }.toMap
    if (byKey.isEmpty) return v0
    val physIds = meta.identityCols.map(meta.physicalName)
    val work = packChunks(byKey, maxCommits)
    val chunkRetain = math.max(retain, work.size + 1)
    runChunks(root, v0, work, maxConcurrent) { chunk =>
      val keys = chunk.toSet
      val slice = ManifestTable.readKeysPinned(spark, root, v0, keys)
      zorderCols.foreach(c => require(slice.columns.exists(_.equalsIgnoreCase(c)),
        s"no such column $c"))
      val bytes = chunk.map(byKey).sum
      val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
      val zkey = if (zorderCols.isEmpty) None else Some(zKeyOf(slice, zorderCols))
      val clustered = zkey match {
        case None => slice.repartition(nFiles, physIds.map(col): _*)
        case Some(z) => slice.withColumn("__zkey", z)
          .repartitionByRange(nFiles,
            (physIds.map(col) :+ (col("__zkey"): org.apache.spark.sql.Column)): _*)
          .drop("__zkey")
      }
      ManifestTable.replaceKeys(clustered,
        root, keys, partitionCols = physIds, retain = chunkRetain,
        expectedVersion = Some(v0),
        preclustered = zorderCols.nonEmpty, rewriteOrder = zkey)
    }
    ManifestTable.currentVersion(root).getOrElse(v0)
  }

  /** Greedy size-balanced packing of scope units (days or keys) into
    * ≤`maxCommits` contiguous groups in sorted-unit order. */
  private def packChunks(bySize: Map[String, Long], maxCommits: Int)
      : Seq[Seq[String]] = {
    val order = bySize.keys.toSeq.sorted
    val perChunk = math.max(1L, bySize.values.sum / maxCommits)
    val chunks = scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.ArrayBuffer.empty[String])
    var acc = 0L
    order.foreach { u =>
      if (acc >= perChunk && chunks.size < maxCommits) {
        chunks += scala.collection.mutable.ArrayBuffer.empty[String]
        acc = 0L
      }
      chunks.last += u
      acc += bySize(u)
    }
    chunks.filter(_.nonEmpty).map(_.toSeq).toSeq
  }

  /** Shared execution harness of the partial-progress paths. EVERY chunk
    * re-reads the pinned base manifest (its scope's unchanged-check
    * compares against v0's state), so nothing may expire it mid-run: the
    * chunk commits' own retention is widened by the callers, and a
    * temporary TAG pins v0 against CONCURRENT writers' gc too (ref pins
    * are honored by every committer — the documented 'a write to an
    * untouched scope sails through' contract would otherwise crash every
    * remaining chunk once the writer's retention swept the base). The
    * tag drops when the run ends; a crash leaves it visible in tbl.refs
    * for manual removal, never a correctness hazard. With
    * `maxConcurrent > 1`, that many chunks rewrite at once — commits
    * serialize through the optimistic commit loop, and ALL chunks are
    * awaited (unbounded: the rewrite IS the hours-long job; a wall-clock
    * cap would fail the CALL while the timed-out chunk kept running and
    * committed later anyway) before the first failure propagates. */
  private def runChunks(root: String, v0: Long, work: Seq[Seq[String]],
                        maxConcurrent: Int)(rewrite: Seq[String] => Long): Unit = {
    val pinTag = s"__optimize_pin_${java.util.UUID.randomUUID().toString.take(12)}"
    ManifestTable.createTag(root, pinTag, Some(v0))
    try {
      if (maxConcurrent <= 1 || work.size <= 1) work.foreach(rewrite)
      else {
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(maxConcurrent, work.size))
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        val done = work.map(c => Future(rewrite(c)))
          .map(f => scala.util.Try(Await.result(f, Duration.Inf)))
        pool.shutdown()
        done.collectFirst { case scala.util.Failure(e) => throw e }
      }
    } finally ManifestTable.dropRef(root, pinTag)
  }

  /** Distributed table integrity check (FSCK): verify the LIVE
    * snapshot's physical invariants —
    *  - every manifest entry's file exists and is non-empty (one FS stat
    *    per file, spread over the cluster);
    *  - every deletion-vector entry's slice index decodes, and every
    *    slice's BLOB CONTENT verifies: one ranged read per slice, a
    *    strict structural decode ([[graft.sources.DeleteVectors
    *    .decodePositionsStrict]] — bounded count, exact consumption),
    *    and every decoded position under its target file's recorded
    *    `__rows` (a corrupt blob with in-range offsets used to pass);
    *  - every entry's data sequence is at-or-below the live version;
    *  - delete entries whose targets all left the live file set are
    *    counted as INERT (informational — the expected state between a
    *    rewrite and the next `rewrite_deletes`, which drops them).
    * ALL per-entry work — existence probes, index decode, inert
    * classification, slice verification — runs on the cluster; the
    * driver holds only the manifest listing it already loaded to plan
    * (the same cost class as any scan) and the reduced counters.
    * Healthy = no missing files, no undecodable DVs, no corrupt slices,
    * no future sequences. Returns (live version, data files, delete
    * entries, missing files, bad DVs, inert deletes, corrupt DV slices,
    * bad sequences, healthy). */
  def fsck(spark: SparkSession, ident: String)
      : (Long, Long, Long, Long, Long, Long, Long, Long, Boolean) = {
    val (root, _) = resolve(spark, ident)
    val live = ManifestTable.currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no committed version under $ident"))
    val entries = ManifestTable.liveEntries(root)
    val (del, data) = entries.partition(e => ManifestTable.isDeleteEntry(e.rel))
    val conf = graft.sources.SerializableHadoopConf.broadcast(spark)
    // ext/ (shallow-clone) entries probe the SOURCE pool — fsck on a
    // clone is exactly how source-side expiry breakage is detected
    val paths = entries.map(e => ManifestTable.dataPath(root, e.rel))
    val parts = math.max(1, math.min(64, paths.size / 256 + 1))
    val nMissing =
      if (paths.isEmpty) 0L
      else spark.sparkContext.parallelize(paths, parts).mapPartitions { it =>
        val c = conf.value.value
        it.map { p =>
          val hp = new org.apache.hadoop.fs.Path(p)
          try {
            if (hp.getFileSystem(c).getFileStatus(hp).getLen > 0L) 0L else 1L
          } catch { case _: java.io.FileNotFoundException => 1L }
        }
      }.fold(0L)(_ + _)
    // delete artifacts name targets in SOURCE-relative form (the
    // _metadata-derived identity) — include the plain form of ext/
    // (shallow-clone) entries so their live targets never read as inert
    val dataRels = data.flatMap(e =>
      Seq(e.rel, ManifestTable.plainRel(e.rel))).toSet
    // per-target row counts (URL-encoded keys — the identity DV slices
    // carry) for the position-bound check; targets without recorded
    // `__rows` get no bound verdict, structural decode still applies
    val rowsByEnc: Map[String, Long] = data.flatMap { e =>
      graft.sources.FileStats.rowCount(
        graft.sources.FileStats.decode(e.stats.getOrElse("")))
        .map(r => ManifestTable.encodedRel(root, e.rel) -> r)
    }.toMap
    val (badDv, inert, corrupt) =
      if (del.isEmpty) (0L, 0L, 0L)
      else {
        val sc = spark.sparkContext
        val bcRels = sc.broadcast(dataRels)
        val bcRows = sc.broadcast(rowsByEnc)
        val dparts = math.max(1, math.min(64, del.size / 64 + 1))
        sc.parallelize(del, dparts).mapPartitions { it =>
          val c = conf.value.value
          def decT(s: String): String = scala.util.Try(
            java.net.URLDecoder.decode(s,
              java.nio.charset.StandardCharsets.UTF_8)).getOrElse(s)
          it.map { e =>
            val isDv = ManifestTable.isDvEntry(e.rel)
            val idx =
              if (isDv) e.stats.flatMap(graft.sources.DeleteVectors.decodeIndex)
              else None
            val bad = if (isDv && idx.isEmpty) 1L else 0L
            val inrt = if (ManifestTable.deleteTouchedRels(e).exists(ts =>
              ts.nonEmpty && !ts.exists(t => bcRels.value.contains(t) ||
                bcRels.value.contains(decT(t))))) 1L else 0L
            val corr = idx.toSeq.flatten.count { s =>
              scala.util.Try {
                val ps = graft.sources.DeleteVectors.decodePositionsStrict(
                  graft.sources.DeleteVectors.readSliceBytes(
                    ManifestTable.dataPath(root, e.rel), s.offset, s.len, c))
                bcRows.value.get(s.relEnc)
                  .exists(rows => ps.exists(p => p < 0 || p >= rows))
              }.getOrElse(true) // unreadable/undecodable slice = corrupt
            }.toLong
            (bad, inrt, corr)
          }
        }.fold((0L, 0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3))
      }
    val badSeq = entries.count(_.seq.exists(_ > live))
    (live, data.size.toLong, del.size.toLong, nMissing, badDv,
      inert, corrupt, badSeq.toLong,
      nMissing == 0 && badDv == 0 && corrupt == 0 && badSeq == 0)
  }

  /** Partition spec evolution by identifier — a descriptor rewrite only
    * (see [[VersionedCatalog.evolvePartitionSpec]]). */
  def evolvePartition(spark: SparkSession, ident: String, spec: String): Unit = {
    val (root, _) = resolve(spark, ident)
    VersionedCatalog.evolvePartitionSpec(root, spec)
  }

  /** Localize a shallow clone by identifier: copy every ext/ reference
    * into the table's own pool ([[ManifestTable.localize]]) — unlocks
    * diverged clone-of-clone and source-expiry independence. */
  def localize(spark: SparkSession, ident: String): (Long, Long) = {
    val (root, _) = resolve(spark, ident)
    ManifestTable.localize(spark, root, retainOf(spark, root))
  }

  /** Deletes-only rewrite by identifier: merge the positional-delete
    * backlog and drop inert equality deletes without touching any data
    * file (Iceberg's `rewrite_position_delete_files`). */
  def rewriteDeletes(spark: SparkSession, ident: String): Long = {
    val (root, _) = resolve(spark, ident)
    ManifestTable.rewriteDeletes(spark, root, retainOf(spark, root))
  }

  /** Explicit statistics (re)build by identifier — Iceberg's ANALYZE:
    * scan the live snapshot once, publish the per-column NDV sketch at
    * the live version ([[graft.sources.NdvStats.computeStats]]). For
    * streaming-sink tables and pre-stats history; also the reset path
    * after heavy deletes (the scan applies them). Returns logical-name
    * estimates. */
  def computeStats(spark: SparkSession, ident: String): Map[String, Long] = {
    val (root, meta) = resolve(spark, ident)
    val phys = graft.sources.NdvStats.computeStats(spark, root)
    // report under LOGICAL names (the physical→logical rename map)
    val toLogical = meta.schema.fieldNames
      .map(l => meta.physicalName(l).toLowerCase -> l).toMap
    phys.map { case (p, n) => toLogical.getOrElse(p.toLowerCase, p) -> n }
  }

  /** Standalone orphan-file sweep by identifier (Iceberg's
    * `remove_orphan_files`): pool/shard files no retained manifest
    * references, behind the grace window (or an explicit `older_than`
    * 'yyyy-MM-dd HH:mm:ss' cutoff in the session zone). Ref-pinned and
    * staged-branch snapshots keep their files. `dryRun` lists without
    * deleting. Returns the swept (or would-sweep) paths. */
  def removeOrphanFiles(spark: SparkSession, ident: String,
                        olderThan: Option[String] = None,
                        dryRun: Boolean = false): Seq[String] = {
    val (root, _) = resolve(spark, ident)
    val cutoff = olderThan.filter(_.nonEmpty).map { ts =>
      java.time.LocalDateTime.parse(ts.replace(' ', 'T'))
        .atZone(java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone))
        .toInstant.toEpochMilli
    }
    ManifestTable.removeOrphanFiles(root, cutoff, dryRun)
  }

  /** SHALLOW CLONE by identifier (Delta's `CREATE TABLE … SHALLOW
    * CLONE src`): create `dstIdent` as a zero-copy snapshot of
    * `srcIdent`'s live version — descriptor (schema, format, partition
    * layout, renames, table properties incl. CHECK constraints and
    * `sort.order`) copied, manifest published as `ext/` references into
    * the source pool, statistics sidecar carried. One metadata write
    * however large the source; the clone diverges freely (its writes land
    * locally) and OPTIMIZE localizes it. See [[ManifestTable.cloneTo]]
    * for the contract limits (clone-of-a-clone FLATTENS to the original
    * base when the intermediate is undiverged, refuses when it mixed
    * local and ext files; equality backlogs clone via rank-compacted
    * sequence carry-over) and the Delta-inherited
    * hazard: expiring the SOURCE's snapshots can remove files live
    * clones reference — fsck on the clone detects it. Returns the
    * clone's first version. */
  def cloneTable(spark: SparkSession, srcIdent: String, dstIdent: String): Long = {
    val (srcRoot, srcMeta) = resolve(spark, srcIdent)
    val parts = dstIdent.split('.')
    require(parts.length == 3, s"expected cat.ns.tbl, got $dstIdent")
    require(spark.conf.getOption(s"spark.sql.catalog.${parts(0)}")
      .contains(classOf[VersionedCatalog].getName),
      s"${parts(0)} is not a VersionedCatalog")
    val wh = spark.conf.get(s"spark.sql.catalog.${parts(0)}.warehouse")
    val dstRoot = s"$wh/${parts(1)}/${parts(2)}"
    require(VersionedCatalog.readMeta(dstRoot).isEmpty,
      s"$dstIdent already exists; clone targets a fresh table")
    require(!graft.plans.Views.definitionFileExists(
        wh, Seq(parts(1)), parts(2)),
      s"cannot clone onto $dstIdent: a VIEW of that name exists")
    // identity layouts surface partition values via ONE basePath per
    // scan; a clone's listing mixes two pools — refuse rather than plan
    // wrong partition columns (hidden transforms and day layouts are
    // per-base and clone fine)
    require(srcMeta.identityCols.isEmpty,
      s"$srcIdent has identity partition columns; shallow clone supports " +
        "hidden-transform and unpartitioned layouts (OPTIMIZE-copy instead)")
    // ALL source-side refusals fire BEFORE the descriptor persists — a
    // refusal after writeMeta would leave a phantom versionless table
    // that blocks the retry until a manual DROP; the validated entry
    // list threads through so a million-entry manifest reads ONCE
    val validated = ManifestTable.validateCloneSource(srcRoot)
    VersionedCatalog.writeMeta(dstRoot, srcMeta)
    VersionedCatalog.applySortOrderProp(dstRoot, srcMeta)
    VersionedCatalog.applyBloomProp(dstRoot, srcMeta)
    VersionedCatalog.applyStatsProps(dstRoot, srcMeta)
    ManifestTable.cloneTo(srcRoot, dstRoot, retain = retainOf(spark, dstRoot),
      prevalidated = Some(validated))
  }

  /** Expire retained snapshots beyond `retain` and GC unreferenced pool
    * files (orphan claims included). Metadata + file deletes only. */
  def expireSnapshots(spark: SparkSession, ident: String, retain: Int = 1,
                      olderThan: Option[String] = None): Unit = {
    val (root, _) = resolve(spark, ident)
    // 'yyyy-MM-dd HH:mm:ss' in the session zone, the same literal shape
    // delete_older_than takes
    val cutoff = olderThan.filter(_.nonEmpty).map { ts =>
      java.time.LocalDateTime.parse(ts.replace(' ', 'T'))
        .atZone(java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone))
        .toInstant.toEpochMilli
    }
    ManifestTable.expireOldVersions(root, retain, cutoff)
  }

  /** Retention DELETE by identifier: drop all data strictly older than
    * `olderThanTs` (`yyyy-MM-dd HH:mm:ss`, interpreted in the column's
    * timeline). Routes through the engine's DELETE lowering, so whole
    * days covered by the bound drop at the MANIFEST (no data read) and
    * only a partially-covered boundary day rewrites. */
  def deleteOlderThan(spark: SparkSession, ident: String, olderThanTs: String): Unit = {
    val (_, meta) = resolve(spark, ident)
    val ts = meta.dayOf.getOrElse(throw new IllegalArgumentException(
      s"$ident has no hidden-day partition source; use DELETE FROM with an explicit predicate"))
    val tsType = meta.schema.fields
      .find(_.name.equalsIgnoreCase(ts))
      .map(_.dataType.typeName).getOrElse("timestamp")
    val litType = if (tsType == "timestamp_ntz") "TIMESTAMP_NTZ" else "TIMESTAMP"
    graft.plans.MergeInto.sql(spark,
      s"DELETE FROM $ident WHERE $ts < $litType '$olderThanTs'")
    ()
  }
}
