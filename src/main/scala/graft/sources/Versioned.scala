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
  *
  * This is only the snapshot protocol, for the medallion silver table,
  * `MicroBatch.upsertSink` and the CDC gold query. Branches, tags,
  * write-audit-publish, the hidden `days(ts)` layout and SQL time travel
  * belong to [[ManifestTable]] behind the
  * [[graft.sources.v2.VersionedCatalog]].
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

  /** Read the live snapshot. */
  def read(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(currentPath(root).getOrElse(
      throw new IllegalStateException(s"no committed version under $root")))

  /** Time travel: read a specific retained snapshot. */
  def readVersion(spark: SparkSession, root: String, version: Long): DataFrame = {
    val dir = s"$root/v=$version"
    require(MetaIO.exists(dir),
      s"version $version of $root does not exist (GC'd or never committed)")
    spark.read.parquet(dir)
  }

  /** All retained snapshot ids, ascending — the snapshot log. */
  def versions(root: String): Seq[Long] =
    MetaIO.listStatus(root)
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v=") => n.drop(2).toLong }
      .sorted

  /** Commit `df` as the next snapshot of `root` and flip the pointer.
    * Old snapshots beyond `retain` are GC'd AFTER the flip (a failed GC
    * leaves garbage, never a broken table). Returns the new version id.
    *
    * `sidecars`: small text files published WITH the snapshot (Delta
    * commits the files a version consumed in its log entry the same way),
    * written as `_<name>` into `v=N` before the pointer flip. They become
    * visible, roll back and age out exactly with their snapshot, and the
    * `_` prefix keeps them out of every data read. Read back with
    * [[sidecar]]. */
  def commit(df: DataFrame, root: String, retain: Int = 2,
             sidecars: Map[String, String] = Map.empty): Long = {
    require(retain >= 1, "must retain at least the live snapshot")
    sidecars.keys.foreach(n => require(n.matches("[a-z][a-z0-9-]*") && !n.startsWith("metadata"),
      s"illegal sidecar name '$n'"))
    val next = allocateVersion(root)
    df.write.mode("overwrite").parquet(s"$root/v=$next")
    sidecars.foreach { case (n, body) => MetaIO.write(sidecarPath(root, next, n), body) }

    flipPointer(root, next)

    versions(root).filter(_ <= next - retain).foreach { v =>
      MetaIO.delete(s"$root/v=$v", recursive = true)
      MetaIO.delete(s"$root/claims/$v")
    }
    next
  }

  /** Sidecar `name` as [[commit]] published it with snapshot `version`;
    * None when that commit wrote none (older code, [[compact]]). */
  def sidecar(root: String, version: Long, name: String): Option[String] = {
    val p = sidecarPath(root, version, name)
    if (MetaIO.exists(p)) Some(MetaIO.readString(p)) else None
  }

  private def sidecarPath(root: String, version: Long, name: String): String =
    s"$root/v=$version/_$name"

  /** Win-or-fail snapshot-version allocation: every writer CLAIMS its
    * `v=N` with an exclusive-create marker before any data is written. A
    * plain max+1 would be a check-then-act race: two concurrent commits
    * (a compaction beside a batch commit) allocating the same N would
    * `mode(overwrite)` each other's snapshot directory mid-write.
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
              targetFileBytes: Long = 128L << 20, retain: Int = 2): Long = {
    val dir = currentPath(root).getOrElse(
      throw new IllegalStateException(s"no committed version under $root"))
    val bytes = MetaIO.listFilesRec(dir).map(_.getLen).sum
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    commit(read(spark, root).repartition(nFiles), root, retain)
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
