package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Object-store-safe table commit protocol: versioned data directories plus
  * an atomically-flipped pointer file — the minimal form of the snapshot
  * commit the reference gets from Iceberg
  * (`/root/reference/dags/2_bronze_to_silver.py:245-258`: every silver
  * MERGE is an ACID snapshot commit).
  *
  * Layout:
  * {{{
  *   <root>/v=1/part-*.parquet     immutable snapshot 1
  *   <root>/v=2/part-*.parquet     immutable snapshot 2
  *   <root>/v=2/_<name>            optional sidecar committed with snapshot 2
  *   <root>/_CURRENT               text file holding the live version id
  * }}}
  *
  * Why not rename the data directory (the previous implementation)?
  * Directory rename is atomic only on a real filesystem; on S3-family
  * object stores it is a non-atomic copy+delete of every key, during
  * which readers see a half-table. Here the data files are IMMUTABLE once
  * written — the only mutation is the single-key `_CURRENT` pointer
  * overwrite, which is atomic both locally (rename of a temp file via
  * [[MetaIO.writeAtomic]] — all metadata I/O goes through the Hadoop
  * FileSystem API, so a root can be a local path, `file://`, `hdfs://`
  * or `s3a://` URI) and on object stores (single-key PUT is
  * all-or-nothing). Readers that
  * resolved the pointer before a commit keep reading their pinned v=N
  * snapshot — writers never touch it — giving snapshot isolation and
  * crash safety: a writer dying mid-write leaves an orphan v=N+1 dir and
  * an untouched pointer, never a corrupt table.
  *
  * Retained versions double as time travel ([[readVersion]]), the
  * degenerate form of Iceberg's snapshot log the reference documents
  * (`/root/reference/README.md:332-340`).
  */
object Versioned {

  private val Pointer = "_CURRENT"

  private def pointerPath(root: String): String = s"$root/$Pointer"

  /** Live version id, if the table exists (committed at least once). */
  def currentVersion(root: String): Option[Long] = {
    val p = pointerPath(root)
    if (MetaIO.exists(p)) Some(MetaIO.readString(p).trim.toLong) else None
  }

  def exists(root: String): Boolean = currentVersion(root).isDefined

  /** Data directory of the live snapshot. */
  def currentPath(root: String): Option[String] =
    currentVersion(root).map(v => s"$root/v=$v")

  /** Read the live snapshot (hidden partition column stripped). */
  def read(spark: SparkSession, root: String): DataFrame =
    stripHidden(spark.read.parquet(currentPath(root).getOrElse(
      throw new IllegalStateException(s"no committed version under $root"))))

  /** Time travel: read a specific retained snapshot. */
  def readVersion(spark: SparkSession, root: String, version: Long): DataFrame = {
    val dir = s"$root/v=$version"
    require(MetaIO.exists(dir),
      s"version $version of $root does not exist (GC'd or never committed)")
    stripHidden(spark.read.parquet(dir))
  }

  private def stripHidden(df: DataFrame): DataFrame =
    if (df.columns.contains(DayCol)) df.drop(DayCol) else df

  /** Timestamp-range read over a hidden-day-partitioned snapshot: the
    * per-day partition predicate is DERIVED from the timestamp bounds
    * (this is what Iceberg does inside its scan planning), so the scan
    * prunes whole day directories while the caller only ever speaks in
    * terms of `tsCol`. The precise timestamp filter still applies on the
    * surviving partitions. */
  def readDayRange(spark: SparkSession, root: String, tsCol: String,
                   fromTs: String, untilTs: String): DataFrame = {
    val raw = spark.read.parquet(currentPath(root).getOrElse(
      throw new IllegalStateException(s"no committed version under $root")))
    require(raw.columns.contains(DayCol),
      s"$root is not hidden-day-partitioned; use read()")
    raw
      .where(col(DayCol) >= to_date(lit(fromTs)) && col(DayCol) <= to_date(lit(untilTs)))
      .where(col(tsCol) >= lit(fromTs).cast("timestamp")
        && col(tsCol) < lit(untilTs).cast("timestamp"))
      .drop(DayCol)
  }

  /** All retained snapshot ids, ascending — the snapshot log. */
  def versions(root: String): Seq[Long] =
    MetaIO.listStatus(root)
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v=") => n.drop(2).toLong }
      .sorted

  /** Synthetic partition column used by hidden day-partitioning. */
  private val DayCol = "__day"

  /** Commit `df` as the next snapshot of `root` and flip the pointer.
    * Old snapshots beyond `retain` are GC'd AFTER the flip (a failed GC
    * leaves garbage, never a broken table). Returns the new version id.
    *
    * `partitionDayOf`: hidden partitioning — the Iceberg transform
    * `days(tsCol)` re-expressed: the snapshot is laid out in per-day
    * directories derived from the named timestamp column, but the
    * transform column is synthetic ([[DayCol]]) and stripped again by
    * [[read]]/[[readVersion]], so the table's USER schema never changes.
    * Readers filter on the timestamp through [[readDayRange]], which
    * re-derives the partition predicate — the query never mentions the
    * partition column, which is the hidden-partitioning contract.
    *
    * `sidecars`: small text files published WITH the snapshot (Delta
    * commits the files a version consumed in its log entry the same way),
    * written as `_<name>` into `v=N` before the pointer flip. They become
    * visible, roll back and age out exactly with their snapshot, and the
    * `_` prefix keeps them out of every data read. Read back with
    * [[sidecar]]. */
  def commit(df: DataFrame, root: String, retain: Int = 2,
             partitionDayOf: Option[String] = None,
             sidecars: Map[String, String] = Map.empty): Long = {
    require(retain >= 1, "must retain at least the live snapshot")
    sidecars.keys.foreach(n => require(n.matches("[a-z][a-z0-9-]*") && !n.startsWith("metadata"),
      s"illegal sidecar name '$n'"))
    val next = allocateVersion(root)
    writeSnapshot(df, root, next, partitionDayOf)
    sidecars.foreach { case (n, body) => MetaIO.write(sidecarPath(root, next, n), body) }

    flipPointer(root, next)

    // GC: age out old snapshots, but never one pinned by a tag or held
    // as a branch head (an unpublished audit branch must stay readable)
    val pinned = tags(root).values.toSet ++ branches(root).values.toSet
    versions(root).filter(v => v <= next - retain && !pinned(v)).foreach { v =>
      MetaIO.delete(s"$root/v=$v", recursive = true)
      MetaIO.delete(s"$root/claims/$v")
    }
    next
  }

  /** Sidecar `name` as [[commit]] published it with snapshot `version`;
    * None when that commit wrote none (older code, [[compact]],
    * [[commitToBranch]]). */
  def sidecar(root: String, version: Long, name: String): Option[String] = {
    val p = sidecarPath(root, version, name)
    if (MetaIO.exists(p)) Some(MetaIO.readString(p)) else None
  }

  private def sidecarPath(root: String, version: Long, name: String): String =
    s"$root/v=$version/_$name"

  /** Write `df` as the immutable data of snapshot `v`. */
  private def writeSnapshot(df: DataFrame, root: String, v: Long,
                            partitionDayOf: Option[String]): Unit =
    partitionDayOf match {
      case Some(ts) =>
        df.withColumn(DayCol, to_date(col(ts)))
          .write.mode("overwrite").partitionBy(DayCol).parquet(s"$root/v=$v")
      case None =>
        df.write.mode("overwrite").parquet(s"$root/v=$v")
    }

  /** Win-or-fail snapshot-version allocation: every writer — main commit
    * or branch commit — CLAIMS its `v=N` with an exclusive-create marker
    * before any data is written. The previous max+1 scheme was a
    * check-then-act race the write-audit-publish topology invites (a
    * branch writer and a main writer allocating the same N would
    * `mode(overwrite)` each other's snapshot directory mid-write).
    * Allocation starts past every RETAINED directory, not just the
    * pointer: after a rollback the pointer sits below younger retained
    * snapshots, and pointer+1 would overwrite one of them. */
  private def allocateVersion(root: String): Long = {
    var next = math.max(
      currentVersion(root).getOrElse(0L),
      versions(root).lastOption.getOrElse(0L)) + 1
    while (true) {
      try { MetaIO.createNew(s"$root/claims/$next", ""); return next }
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => next += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Single-key atomic pointer flip: temp file + rename-with-overwrite
    * ([[MetaIO.writeAtomic]] — POSIX/HDFS rename, single-key PUT on an
    * object store). */
  private def flipPointer(root: String, v: Long): Unit =
    MetaIO.writeAtomic(pointerPath(root), v.toString)

  /** Roll the live pointer back to a retained snapshot — Iceberg's
    * `rollback_to_snapshot`. Pointer-only (one atomic PUT): the younger
    * snapshots stay retained and time-travelable; the NEXT commit
    * allocates above them ([[commit]] uses max(retained)+1), so history
    * is never overwritten by a post-rollback write. */
  def rollback(root: String, toVersion: Long): Unit = {
    require(MetaIO.exists(s"$root/v=$toVersion"),
      s"cannot roll back: version $toVersion of $root is not retained")
    flipPointer(root, toVersion)
  }

  // ---- branches + write-audit-publish ------------------------------------

  private def branchesDir(root: String): String = s"$root/branches"

  /** Create a named BRANCH pointer — Iceberg's snapshot branches, the
    * staging half of the write-audit-publish pattern
    * (`/root/reference/README.md:332-340` lists branching as a headline
    * Iceberg capability). A branch is a movable sibling of `_CURRENT`:
    * commits can target it ([[commitToBranch]]), audit queries read it
    * ([[readBranch]]) while MAIN is untouched, and [[publishBranch]]
    * fast-forwards `_CURRENT` to the audited head with one atomic flip.
    * Defaults to branching from the live snapshot. */
  def createBranch(root: String, name: String, version: Option[Long] = None): Long = {
    require(name.matches("[A-Za-z0-9._-]+"), s"illegal branch name '$name'")
    val v = version.getOrElse(currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $root")))
    require(MetaIO.exists(s"$root/v=$v"), s"version $v of $root is not retained")
    MetaIO.writeAtomic(s"${branchesDir(root)}/$name", v.toString)
    v
  }

  /** All branches of a table (name → head version). `writeAtomic`'s
    * in-flight staging files (dot-prefixed temps) are skipped — a commit
    * GC listing this directory mid-publish must never read one. */
  def branches(root: String): Map[String, Long] =
    MetaIO.listStatus(branchesDir(root))
      .filterNot(_.getPath.getName.startsWith("."))
      .map(st => st.getPath.getName ->
        MetaIO.readString(st.getPath.toString).trim.toLong)
      .toMap

  def dropBranch(root: String, name: String): Unit =
    MetaIO.delete(s"${branchesDir(root)}/$name")

  private def branchHead(root: String, name: String): Long =
    branches(root).getOrElse(name,
      throw new IllegalArgumentException(s"no branch '$name' on $root"))

  /** Read a branch's head snapshot (the audit query's view). */
  def readBranch(spark: SparkSession, root: String, name: String): DataFrame =
    readVersion(spark, root, branchHead(root, name))

  /** Commit `df` as the branch's new head WITHOUT touching `_CURRENT`:
    * the snapshot is written exactly like [[commit]]'s (immutable
    * directory above every retained version) but only the BRANCH pointer
    * moves — main readers cannot see it until [[publishBranch]]. The
    * previous branch head stays retained (it is GC-pinned only while a
    * branch or tag names it, like any other snapshot). */
  def commitToBranch(df: DataFrame, root: String, branch: String,
                     partitionDayOf: Option[String] = None): Long = {
    branchHead(root, branch) // the branch must exist
    val next = allocateVersion(root) // claimed: can't collide with main commits
    writeSnapshot(df, root, next, partitionDayOf)
    MetaIO.writeAtomic(s"${branchesDir(root)}/$branch", next.toString)
    next
  }

  /** Publish the audited branch: fast-forward `_CURRENT` to the branch
    * head with one atomic pointer flip — the snapshot main readers see
    * next is bit-identical to the one the audit queries validated (no
    * rewrite between audit and publish, the whole point of WAP). The
    * branch pointer survives; drop it when the staging cycle is done. */
  def publishBranch(root: String, name: String): Long = {
    val v = branchHead(root, name)
    flipPointer(root, v)
    v
  }

  private def tagsDir(root: String): String = s"$root/tags"

  /** Pin a snapshot under a name — Iceberg's tags. A tagged snapshot is
    * exempt from [[commit]]'s retention GC until the tag is dropped, so
    * `readTag` stays valid indefinitely (audit pins, "the corpus we
    * trained run X on"). Defaults to tagging the live snapshot. */
  def tag(root: String, name: String, version: Option[Long] = None): Long = {
    require(name.matches("[A-Za-z0-9._-]+"), s"illegal tag name '$name'")
    val v = version.getOrElse(currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no committed version under $root")))
    require(MetaIO.exists(s"$root/v=$v"), s"version $v is not retained")
    MetaIO.writeAtomic(s"${tagsDir(root)}/$name", v.toString)
    v
  }

  /** All tags of a table (name → pinned version). */
  def tags(root: String): Map[String, Long] =
    MetaIO.listStatus(tagsDir(root))
      .filter(st => !st.getPath.getName.endsWith(".tmp"))
      .map(st => st.getPath.getName ->
        MetaIO.readString(st.getPath.toString).trim.toLong)
      .toMap

  def dropTag(root: String, name: String): Unit =
    MetaIO.delete(s"${tagsDir(root)}/$name")

  /** Read the snapshot a tag pins. */
  def readTag(spark: SparkSession, root: String, name: String): DataFrame =
    readVersion(spark, root, tags(root).getOrElse(name,
      throw new IllegalArgumentException(s"no tag '$name' on $root")))

  /** Small-file compaction — the OPTIMIZE / `rewrite_data_files`
    * maintenance op every snapshot table needs once streaming or
    * per-batch commits have fragmented it: rewrite the live snapshot's
    * data into ~`targetFileBytes` files and commit the packed layout as
    * a NEW snapshot. Readers pinned to the old version are untouched
    * (immutability), the pointer flip publishes the packed files
    * atomically, and a crash mid-compaction leaves only an orphan
    * directory. File count is sized from the live snapshot's actual
    * on-disk bytes, so one pass converges. Returns the new version id. */
  def compact(spark: SparkSession, root: String,
              targetFileBytes: Long = 128L << 20, retain: Int = 2,
              partitionDayOf: Option[String] = None): Long = {
    val v = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no committed version under $root"))
    val dir = s"$root/v=$v"
    // A hidden-day-partitioned snapshot compacted without partitionDayOf
    // would silently commit an UNpartitioned layout (read() strips the
    // day column before the rewrite), breaking readDayRange on the next
    // call. Refuse rather than guess: the caller knows the ts column.
    if (partitionDayOf.isEmpty
        && spark.read.parquet(dir).columns.contains(DayCol))
      throw new IllegalArgumentException(
        s"$root's live snapshot is hidden-day-partitioned; pass " +
          "partitionDayOf so compaction preserves the partition layout")
    val bytes = MetaIO.listFilesRec(dir).map(_.getLen).sum
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    commit(read(spark, root).repartition(nFiles), root, retain, partitionDayOf)
  }

  /** Snapshot history — the metadata table Iceberg exposes as
    * `table.snapshots`: one row per retained version with file count,
    * byte size, commit time (newest file mtime), and whether it is the
    * live pointer target. Driver-side directory metadata only (no data
    * read) — snapshot counts are bounded by `retain`, never by data. */
  def history(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val live = currentVersion(root)
    versions(root).map { v =>
      val files = MetaIO.listFilesRec(s"$root/v=$v")
      (v, files.size.toLong, files.map(_.getLen).sum,
        new java.sql.Timestamp(files.map(_.getModificationTime).maxOption.getOrElse(0L)),
        live.contains(v))
    }.toDF("version", "n_files", "bytes", "committed_at", "is_current")
  }

  /** Commit instant of a retained snapshot (newest data-file mtime —
    * the same definition [[history]] reports as `committed_at`). */
  private def commitMillis(root: String, v: Long): Long =
    MetaIO.listFilesRec(s"$root/v=$v")
      .map(_.getModificationTime).maxOption.getOrElse(0L)

  /** `TIMESTAMP AS OF` resolution: the latest retained snapshot committed
    * at or before the instant. Driver-side metadata only. */
  def versionAsOf(root: String, epochMillis: Long): Long = {
    val cands = versions(root).filter(v => commitMillis(root, v) <= epochMillis)
    require(cands.nonEmpty,
      s"no retained snapshot of $root committed at or before epoch-ms $epochMillis")
    cands.max
  }

  /** Snapshot diff (change-data-feed over retained snapshots): the rows
    * that were inserted, updated, or deleted between two versions, keyed
    * by `keys` — the capability Delta exposes as CDF / Iceberg as
    * incremental reads, reconstructed from immutable snapshots. One
    * full-outer join on the key columns; change detection compares the
    * non-key columns. Scale: shuffles both snapshots once on the key —
    * the same cost as the MERGE that produced the new snapshot. */
  def diff(spark: SparkSession, root: String, fromV: Long, toV: Long,
           keys: Seq[String]): DataFrame = {
    val before = readVersion(spark, root, fromV)
    val after = readVersion(spark, root, toV)
    require(before.columns.sorted.sameElements(after.columns.sorted),
      "diff requires like-schema snapshots; evolve-then-diff needs column mapping")
    val valueCols = after.columns.filterNot(keys.contains).toSeq
    // explicit presence markers: detecting presence from value-column
    // nullability would misclassify present-but-all-null rows
    val b = before.select(keys.map(col) ++ valueCols.map(c => col(c).as(s"__b_$c")): _*)
      .withColumn("__in_b", lit(true))
    val a = after.select(keys.map(col) ++ valueCols.map(c => col(c).as(s"__a_$c")): _*)
      .withColumn("__in_a", lit(true))
    val sameRow: Column = valueCols
      .map(c => col(s"__b_$c") <=> col(s"__a_$c"))
      .reduceOption(_ && _).getOrElse(lit(true))
    b.join(a, keys, "full_outer")
      .withColumn("change_type",
        when(col("__in_b").isNull, "insert")
          .when(col("__in_a").isNull, "delete")
          .when(!sameRow, "update")
          .otherwise("unchanged"))
      .where(col("change_type") =!= "unchanged")
      .select(keys.map(col) :+ col("change_type")
        :+ struct(valueCols.map(c => col(s"__b_$c").as(c)): _*).as("before")
        :+ struct(valueCols.map(c => col(s"__a_$c").as(c)): _*).as("after"): _*)
  }

}
