package graft.sources

import java.util.UUID

import org.apache.hadoop.fs.FileAlreadyExistsException
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Manifest-based table format: immutable data files in a shared pool,
  * each version a MANIFEST (file list), commits an atomic pointer flip.
  *
  * [[Versioned]] copies the whole table per snapshot — fine for the
  * medallion swap it implements, wrong at 100 TB where a MERGE touches a
  * sliver of the data. This is the shape Iceberg actually uses
  * (`/root/reference/dags/2_bronze_to_silver.py:245-258` commits behave
  * this way): unchanged files are REFERENCED by the new manifest, never
  * rewritten, so commit cost is proportional to the data that changed,
  * not to table size; retained manifests share files, which makes time
  * travel free and GC a reference count.
  *
  * Layout:
  * {{{
  *   <root>/data/__day=D/<uuid>.<fmt>     immutable data files (partitioned)
  *   <root>/data/<uuid>.<fmt>             (unpartitioned tables)
  *   <root>/manifests/v=N.txt             manifest: '#k=v' props, then
  *                                        '@key\tshardRel\tn\text' shard
  *                                        refs and/or inline entry lines
  *                                        ('rel[\tstats]')
  *   <root>/manifests/shards/<uuid>.txt   immutable per-key entry shards,
  *                                        shared across versions
  *   <root>/refs/<name>                   named refs: 'tag:N'/'branch:N'
  *   <root>/_CURRENT                      live version id (atomic flip)
  * }}}
  *
  * MANIFEST SCALING: a manifest is a manifest LIST. Small tables stay
  * fully inline (entry lines, the original format — still parseable by
  * any line reader); past the inline budget loose entries fold into
  * per-partition-key shard files referenced by `@` lines. Commits carry
  * untouched shard refs as lines (contents never read), so commit
  * metadata cost follows the appended/touched data; scans prune whole
  * shards by key before opening any; per-key shard counts are bounded by
  * merge-on-commit. This is Iceberg's manifest-list design re-expressed
  * in the same plain-text protocol.
  *
  * All metadata I/O goes through the Hadoop `FileSystem` API ([[MetaIO]]),
  * so a table root can be a local path, `file://`, `hdfs://`, or `s3a://`
  * URI — the reference's tables live on s3a MinIO
  * (`/root/reference/dags/2_bronze_to_silver.py:47-52`) and this format
  * can be pointed at the same bucket. Data files were always written/read
  * through Spark's Hadoop-aware writers.
  *
  * Data files carry their format in the extension (`.parquet`/`.orc`/
  * `.avro` — the same three legs as the reference's fan-out), so a
  * manifest is self-describing: reads dispatch per extension and a table
  * converted between formats stays readable mid-history. Writers default
  * to the live table's format.
  *
  * The hidden day partition rides in the directory name, exactly like the
  * parquet layout Spark itself writes; reads pass the manifest's file
  * list with `basePath` so Spark re-derives the partition column, and
  * [[readDayRange]] prunes AT THE MANIFEST level — the scan never opens a
  * file outside the requested days (Iceberg's scan planning, re-expressed).
  *
  * Crash safety: data files and manifests are written before the
  * single-key `_CURRENT` flip; a writer dying mid-commit leaves orphan
  * files that the next successful commit's GC sweeps, never a broken
  * table. (On an object store the stage→pool move is a server-side copy
  * per NEW file only; Iceberg avoids even that with custom committers —
  * out of scope here.)
  *
  * Concurrency: each committer CLAIMS its version by creating
  * `v=N+1.txt` with create-new semantics ([[MetaIO.createNew]] — POSIX
  * `O_EXCL` locally, namenode-exclusive create on HDFS, conditional PUT
  * on an object store), so two writers racing for the same version
  * produce one winner and one [[FileAlreadyExistsException]] BEFORE any
  * pointer moves. Losers are then absorbed, not just detected:
  *
  *  - APPEND commits rebase automatically — the new files are already in
  *    the pool, so the retry re-reads the new live manifest and publishes
  *    base ∪ new at the next version (append/append never conflicts
  *    logically; this is Iceberg's fast-append retry).
  *  - Partition-scoped commits ([[replaceDays]]/[[dropDays]]) rebase iff
  *    the winning commit did not touch the days being replaced; otherwise
  *    they throw [[java.util.ConcurrentModificationException]] — the
  *    caller's input was computed against a snapshot whose touched days
  *    are gone.
  *  - Full-table overwrites never rebase (an overwrite that silently
  *    discarded a concurrent append would be a lost update, so the
  *    conflict surfaces to the caller).
  *
  * A claim whose committer crashed before the pointer flip would block
  * its version number forever; since claim→flip is milliseconds, any
  * claim above the live pointer older than the grace period
  * (`spark.graft.manifest.claimGraceMs`, default 60 s) is an orphan —
  * retries reclaim it, and GC sweeps such orphans as a backstop.
  */
object ManifestTable {

  private val Pointer = "_CURRENT"
  /** Hidden partition directory prefix (same column name Versioned uses). */
  val DayCol = "__day"
  /** The three fan-out formats a table can store its data files in. */
  val FileFormats: Set[String] = Set("parquet", "orc", "avro")
  /** Commit property fencing each manifest to the committer that wrote it
    * (re-stamped on every commit; see the fencing notes in [[commitLoop]]). */
  val FenceProp = "__committer"
  /** Commit property naming the REF the commit landed on (`main` or a
    * branch name; re-stamped by [[commitLoop]] on every commit). Version
    * numbers are one shared sequence across refs, but only the HEAD of a
    * branch is pinned by its ref file — this stamp is how everything else
    * tells a branch's retained intermediate history apart from a crashed
    * committer's claim: allocation and collision handling skip (never
    * contend with, never reclaim) a manifest owned by a DIFFERENT ref,
    * and the orphan sweep spares manifests that are published history of
    * a ref that still exists. Legacy manifests without the stamp keep
    * the old behavior. */
  val RefOwnerProp = "__ref"
  /** Commit property naming the version this commit EXTENDED (its logical
    * parent — Iceberg's snapshot parent-id; `0` for a first commit).
    * Stamped by [[commitLoop]] with the planning base unless the planner
    * chose one itself: [[rollbackTo]] stamps the RESTORED version, since
    * the rollback's state — and therefore its lineage — is the target's.
    * Parent stamps make ancestry decidable ([[onLineage]]): whether a
    * version was ever published onto a ref's head, which guards rollback
    * target resolution and cherry-pick double-publish. */
  val ParentProp = "__parent"
  /** Carried (NOT stripped) property listing the versions already
    * cherry-picked onto this lineage — the content-inclusion record the
    * parent chain cannot express, since a pick's parent is the head it
    * extended, not its source. Appends and rewrites carry it forward;
    * an overwrite replaces props (content replaced — re-picking is
    * legitimate again) and a rollback restores the target's list (picks
    * the rollback discarded become re-pickable), both exactly right. */
  val PickedProp = "__cherrypicked"
  /** Commit property recording the session zone `__day` was derived in
    * for TIMESTAMP (zone-sensitive) partition sources; `"mixed"` once
    * appends from differently-zoned sessions coexist in one manifest.
    * Zone-independent derivations (TIMESTAMP_NTZ, DATE) never set it. */
  val ZoneProp = "__writer_zone"

  /** What each commit DID — Iceberg's snapshot-summary `operation` field:
    * `append`, `overwrite`, `delete`, `update`, `replace`, `rewrite`, or
    * `stream`. Stamped per commit (never inherited: every commit path
    * sets its own), surfaced by the `tbl.snapshots` metadata table. */
  val OpProp = "__operation"

  /** Version of the most recent commit that REMOVED a data entry
    * (copy-on-write DML, compaction, overwrite, day drop) — stamped by
    * [[commitLoop]] itself and carried forward by appends, so a streaming
    * reader can detect row-level changes inside its window even after the
    * window's start manifest expired from retention (Delta's
    * commit-action introspection, reduced to one monotone property). */
  val ChangeProp = "lastChangeVersion"

  /** SCOPED change horizons — the per-partition-key refinement of
    * [[ChangeProp]]: `enc(key):version` pairs recording, for each
    * partition key (manifest directory prefix), the last commit that
    * removed one of ITS data entries. A change-feed stream whose filter
    * provably avoids the rewritten keys can keep running across a
    * key-scoped rewrite (day-scoped OPTIMIZE of a cold day no longer
    * kills streams reading hot ones) — the coexistence Delta buys with
    * persisted CDC sidecars, bought here from commit metadata alone.
    * Bounded: past [[changeKeysCap]] entries the OLDEST versions fold
    * into [[ChangeFloorProp]] (keys not listed have horizon <= floor —
    * strictly conservative, never permissive). [[ChangeProp]] stays the
    * global max, so pre-scoping readers keep their exact behavior. */
  val ChangeKeysProp = "lastChangeByKey"
  val ChangeFloorProp = "lastChangeFloor"
  private val changeKeysCap = 512

  /** Decode (per-key horizons, fold floor) from manifest props. */
  private[graft] def decodeChangeKeys(props: Map[String, String]): (Map[String, Long], Long) = {
    val m = props.get(ChangeKeysProp).filter(_.nonEmpty).map { s =>
      s.split(',').iterator.map { kv =>
        val i = kv.lastIndexOf(':')
        java.net.URLDecoder.decode(kv.take(i),
          java.nio.charset.StandardCharsets.UTF_8) -> kv.drop(i + 1).toLong
      }.toMap
    }.getOrElse(Map.empty)
    (m, props.get(ChangeFloorProp).map(_.toLong).getOrElse(0L))
  }

  private def encodeChangeKeys(m: Map[String, Long], floor: Long): Map[String, String] =
    Map(
      ChangeKeysProp -> m.toSeq.sortBy(_._1).map { case (k, v) =>
        s"${java.net.URLEncoder.encode(k, java.nio.charset.StandardCharsets.UTF_8)}:$v"
      }.mkString(","),
      ChangeFloorProp -> floor.toString)

  /** The scoped-horizon props after a commit at `next` removed data
    * entries under `removedKeys` — existing map updated, capacity fold
    * keeps the NEWEST horizons enumerable (old ones collapse into the
    * floor: readers treat unlisted keys as horizon <= floor). */
  private def scopedChangeProps(props: Map[String, String],
                                removedKeys: Set[String], next: Long): Map[String, String] = {
    val (m0, floorRead) = decodeChangeKeys(props)
    // a LEGACY manifest (global ChangeProp, no key map) attributes its
    // old horizon to no key: fold it into the floor on the FIRST scoped
    // commit, else a filtered read excluding this commit's keys would
    // compute horizon 0 and silently reconstruct across the legacy
    // rewrite — "legacy reads unscoped" must stay strictly conservative
    val floor0 =
      if (m0.isEmpty)
        math.max(floorRead, props.get(ChangeProp).map(_.toLong).getOrElse(0L))
      else floorRead
    val m1 = m0 ++ removedKeys.iterator.map(_ -> next)
    if (m1.size <= changeKeysCap) encodeChangeKeys(m1, floor0)
    else {
      val sorted = m1.toSeq.sortBy(-_._2)
      val folded = sorted.drop(changeKeysCap)
      encodeChangeKeys(sorted.take(changeKeysCap).toMap,
        math.max(floor0, folded.map(_._2).max))
    }
  }
  /** Reserved pool directory for merge-on-read POSITIONAL DELETE files:
    * parquet files of (`__file` relative data path, `__pos` file row
    * index) listing rows a DELETE removed without rewriting data. A
    * manifest entry under this directory is a delete entry, never a data
    * file. Positional deletes are self-scoping — they name specific data
    * files, so later appends (new rels) and rewrites are naturally
    * unaffected, with no Iceberg-style sequence numbers needed. Reads
    * apply them (anti-join / reader-side skip); compaction and full
    * rewrites materialize them away. */
  val DeleteDir = "__deletes"

  /** True for manifest entries under the reserved delete directory —
    * including `ext/` (shallow-clone) POSITIONAL artifacts, which clone
    * alongside their target files and read through [[dataPath]] like
    * data entries. */
  def isDeleteEntry(rel: String): Boolean =
    plainRel(rel).startsWith(s"$DeleteDir/")

  /** True for DELETION-VECTOR entries (`__deletes/dv_*.bin`): one binary
    * blob holding the positional tombstones of many data files, one
    * section per (target file, delete version), addressed by the entry's
    * `dv=` stats index ([[DeleteVectors]] — the Iceberg-v3/Delta DV
    * shape). Produced by [[rewriteDeletes]]; applying deletes to a file
    * costs ONE ranged read of its own section. */
  def isDvEntry(rel: String): Boolean =
    plainRel(rel).startsWith(s"$DeleteDir/dv_")

  /** True for DELETE-LABELED deletion vectors — the tombstones a
    * merge-on-read MERGE writes for rows its DELETE clauses killed, as
    * opposed to the rewrite preimages of its UPDATE clauses (plain
    * `dv_`). The change feed serves labeled tombstones as true `delete`
    * events even though the commit also added files; everything else
    * treats them as ordinary deletion vectors. The label lives in the
    * rel NAME so it survives shards, clones and manifests untouched, and
    * [[rewriteDeletes]] merges each label group into its OWN blob, so
    * the per-row delete labels survive delete maintenance too. */
  def isDeleteLabeledDv(rel: String): Boolean =
    plainRel(rel).startsWith(s"$DeleteDir/dv_del_")

  /** True for CHANGE-DATA (CDC) sidecar entries
    * (`__deletes/cdc_{pre,del}_*.parquet`) — the Delta `_change_data`
    * shape: parquet files of USER columns (full physical schema) holding
    * the PRE-IMAGE rows of a change-preserving copy-on-write scoped
    * MERGE ([[graft.plans.MergeInto]] with `changefeed.cow=true`):
    * `cdc_pre_` rows are update preimages, `cdc_del_` rows are
    * DELETE-clause kills. They live under the reserved delete directory
    * so every data-file selection excludes them structurally, but they
    * are NOT delete artifacts: reads, tombstone application, fsck's
    * structural checks and the deletes metadata table all skip them;
    * only the change feed serves their rows (constant `_change_type`,
    * `_commit_version` = the entry's sequence). A commit carrying them
    * is CHANGE-PRESERVING: its touched keys' CDF horizon stamps at
    * version−1 instead of version, so an up-to-date consumer reads the
    * scoped rewrite as exact per-row events instead of a loud break. */
  def isCdcEntry(rel: String): Boolean =
    plainRel(rel).startsWith(s"$DeleteDir/cdc_")

  /** True for the DELETE-kill half of a CDC sidecar (`cdc_del_*`);
    * `cdc_pre_*` entries serve as `update_preimage`. */
  def isCdcDeleteEntry(rel: String): Boolean =
    plainRel(rel).startsWith(s"$DeleteDir/cdc_del_")

  /** True for EQUALITY-delete entries (`__deletes/eq_*.parquet`): parquet
    * files whose columns ARE the retraction key — every row of an older
    * data file matching a key row is deleted, no positions needed. This is
    * Iceberg v2's equality delete, the shape a CDC/Flink writer emits when
    * it cannot know row positions. Scoped by commit sequence: applies only
    * to data files with a strictly SMALLER sequence ([[FileEntry.seq]]). */
  def isEqDeleteEntry(rel: String): Boolean =
    plainRel(rel).startsWith(s"$DeleteDir/eq_")

  // ---- external (shallow-cloned) entries ---------------------------------

  /** Prefix marking a manifest entry whose data file lives in ANOTHER
    * table's pool — the Delta SHALLOW CLONE / Iceberg snapshot-table
    * representation: the clone's manifest references the source's files
    * byte-for-byte (rel `ext/<source-rel>`), so cloning a 100 TB table
    * costs one manifest write and zero data IO. The source data root is
    * recorded ONCE in the immutable `_clone_src` sidecar (written at
    * clone time, never mutated), so rels stay short and partition-key
    * logic sees the SOURCE layout through [[plainRel]]. New writes land
    * in the clone's own pool as ordinary local entries; OPTIMIZE
    * rewrites localize everything (ext entries leave the manifest, the
    * source file is never touched — the clone's GC cannot delete what
    * is not under its root). The documented hazard is Delta's:
    * expiring/vacuuming the SOURCE can delete files live clones still
    * reference (fsck on the clone detects it). Cannot collide with
    * engine layouts: generated dirs are `__day=`/`__part=`,
    * identity dirs always carry '=', loose files are UUID names. */
  private[graft] val ExtPrefix = "ext/"

  /** True for entries resolving into a clone SOURCE's pool. */
  def isExtEntry(rel: String): Boolean = rel.startsWith(ExtPrefix)

  /** An entry's rel in SOURCE-layout terms: partition-key directories,
    * day values, delete-dir membership all read through this, so an
    * `ext/` entry behaves exactly like the source file it names. */
  private[graft] def plainRel(rel: String): String =
    if (isExtEntry(rel)) rel.substring(ExtPrefix.length) else rel

  private val cloneSrcCache =
    new java.util.concurrent.ConcurrentHashMap[String, Option[String]]()

  /** The clone-source DATA directory of a root (contents of its
    * immutable `_clone_src` sidecar), None for ordinary tables. Cached
    * per JVM — the sidecar is written once at clone time and never
    * changes for the life of the table. */
  private[graft] def cloneSrcOf(root: String): Option[String] =
    cloneSrcCache.computeIfAbsent(root, r => {
      val p = s"$r/_clone_src"
      if (MetaIO.exists(p)) Some(MetaIO.readString(p).trim) else None
    })

  /** Absolute path of a manifest entry's data file: the root's own pool
    * for ordinary entries, the clone source's pool for `ext/` entries.
    * Every READ resolution (scans, MOR artifacts, fsck probes, byte-size
    * fallbacks) goes through here; WRITE paths never do — staged files
    * always move into the local pool. */
  private[graft] def dataPath(root: String, rel: String): String =
    if (isExtEntry(rel))
      s"${cloneSrcOf(root).getOrElse(throw new IllegalStateException(
        s"$root carries ext/ manifest entries but no _clone_src sidecar"))}/${plainRel(rel)}"
    else s"$root/data/$rel"

  /** The URL-ENCODED relative form of a pool path — the representation
    * `_metadata.file_path`-derived row identities (tombstone `__file`
    * values) use. Identical to the raw rel for the engine's own layouts
    * (UUID names, `__day=`/`__part=` dirs); differs only when identity
    * partition values need URI escaping (spaces, '%'). For an `ext/`
    * entry this is the SOURCE-relative form (the resolved path's own
    * `/data/` suffix), matching what `_metadata.file_path` yields when
    * the clone scans the source file — tombstones written against the
    * clone key by the same string. */
  private[graft] def encodedRel(root: String, rel: String): String = {
    val enc = org.apache.spark.paths.SparkPath.fromPath(
      new org.apache.hadoop.fs.Path(dataPath(root, rel))).urlEncoded
    val i = enc.lastIndexOf("/data/")
    if (i < 0) plainRel(rel) else enc.substring(i + "/data/".length)
  }

  /** Live delete entries (empty for tables with no merge-on-read state) —
    * only the [[DeleteDir]]-keyed shards and inline deletes are read. */
  def liveDeleteEntries(root: String): Seq[FileEntry] = {
    val v = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no committed version under $root"))
    val (refs, inline) = manifestIndex(root, v)
    refs.filter(_.key == DeleteDir).flatMap(r => shardEntries(root, r.rel)) ++
      inline.filter(e => isDeleteEntry(e.rel))
  }

  /** True iff the live snapshot carries delete ARTIFACTS (positional /
    * equality) — CDC sidecars are provenance, not row-level state. */
  def hasDeletes(root: String): Boolean =
    exists(root) && liveDeleteEntries(root).exists(e => !isCdcEntry(e.rel))

  private def pointerPath(root: String): String = s"$root/$Pointer"
  private def manifestPath(root: String, v: Long): String =
    s"$root/manifests/v=$v.txt"

  private def confLong(key: String, dflt: Long): Long =
    SparkSession.getActiveSession.flatMap(_.conf.getOption(key))
      .map(_.toLong).getOrElse(dflt)

  /** The session's write-audit-publish STAGING branch
    * (`spark.graft.write.branch` — Iceberg's `spark.wap.branch` shape):
    * when set, every commit targets the named branch — the manifest is
    * claimed in the shared version sequence, the DML's base is the BRANCH
    * head, and only the branch ref moves, so main readers see nothing
    * until `fast_forward` publishes the audited head. The branch must
    * already exist on the table (an accidental global conf must not
    * silently invent branches on every table it touches).
    *
    * Scope is WRITE-ONLY — a deliberate divergence from Iceberg's
    * `spark.wap.branch`, which routes the session's plain reads to the
    * staging branch too. Here a plain `SELECT` (including one feeding an
    * `INSERT ... SELECT`) under the conf still reads MAIN; audit queries
    * address the staged snapshot explicitly with `VERSION AS OF
    * '<branch>'` or the `branch` read option. Rationale: a session-global
    * conf that silently redirects every read makes audit queries and
    * production readers indistinguishable; the explicit form keeps "what
    * am I reading" in the query text. DML is the exception — its
    * read-modify-write base IS the branch head, or staging would corrupt.
    * Audit sessions that WANT the Iceberg read workflow opt in
    * explicitly with `spark.graft.read.branch` ([[readBranchVersion]]). */
  private def wapBranch: Option[String] =
    SparkSession.getActiveSession
      .flatMap(_.conf.getOption("spark.graft.write.branch")).filter(_.nonEmpty)

  /** OPT-IN read scoping for audit sessions (`spark.graft.read.branch`):
    * when set, PLAIN batch reads of a table carrying the named branch
    * resolve at that branch's head instead of the live pointer — the
    * Iceberg `spark.wap.branch` read workflow, behind its own explicit
    * conf so the write-only default above keeps production reads and
    * audit reads distinguishable. Tables WITHOUT the branch fall back to
    * main (Iceberg's rule — an audit join against an unbranched
    * dimension must still resolve), time travel (`VERSION AS OF`) always
    * wins, and streaming reads stay on main. Returns None when the conf
    * is unset or the table lacks the ref; a ref of the wrong kind is an
    * error, not a fallback. */
  def readBranchVersion(root: String): Option[Long] =
    SparkSession.getActiveSession
      .flatMap(_.conf.getOption("spark.graft.read.branch")).filter(_.nonEmpty)
      .flatMap { b =>
        refs(root).get(b).map { r =>
          require(r.kind == "branch",
            s"spark.graft.read.branch '$b' on $root is a ${r.kind}, not a branch")
          r.version
        }
      }

  /** The snapshot version DML reads and extends: the staging branch head
    * under `spark.graft.write.branch`, else the live pointer. */
  def writeBaseVersion(root: String): Option[Long] =
    wapBranch match {
      case Some(b) =>
        val r = resolveRef(root, b)
        require(r.kind == "branch",
          s"spark.graft.write.branch '$b' on $root is a ${r.kind}, not a branch")
        Some(r.version)
      case None => currentVersion(root)
    }
  /** Claims above the pointer older than this are crashed committers'.
    * The default is 10 minutes — far above any plausible claim→flip pause
    * (the flip is milliseconds after the claim), because a reclaim that
    * fires DURING a paused-but-alive committer forces that committer's
    * commit to fail at the fence check. A crashed committer therefore
    * blocks its version number for at most this long; correctness never
    * depends on the value (the fence catches a too-eager reclaim). */
  private def claimGraceMs: Long =
    confLong("spark.graft.manifest.claimGraceMs", 600000L)
  /** Unreferenced POOL files younger than this survive GC: they may belong
    * to an in-flight commit (moved into the pool just before its claim).
    * Pool files are mtime-stamped at MOVE-IN ([[writePool]]), so this
    * ages from pool entry, not from the Spark write — and the default is
    * a deliberate order of magnitude above the claim grace (Iceberg's
    * orphan-file age defaults to days): sweeping late costs bytes,
    * sweeping early costs a committed manifest's data files. */
  private def orphanFileGraceMs: Long =
    confLong("spark.graft.manifest.orphanFileGraceMs", 3600000L)
  /** Rebase attempts before surfacing a claim conflict to the caller. */
  private def commitRetries: Int =
    confLong("spark.graft.manifest.commitRetries", 4L).toInt

  def currentVersion(root: String): Option[Long] = {
    val p = pointerPath(root)
    if (MetaIO.exists(p)) Some(MetaIO.readString(p).trim.toLong) else None
  }

  def exists(root: String): Boolean = currentVersion(root).isDefined

  def versions(root: String): Seq[Long] =
    MetaIO.listStatus(s"$root/manifests")
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v=") && n.endsWith(".txt") =>
        n.stripPrefix("v=").stripSuffix(".txt").toLong }
      .sorted

  /** One manifest data-file entry: relative path, the file's encoded
    * per-column statistics ([[FileStats]]) when the format carries them,
    * and the COMMIT SEQUENCE the file entered the table at (the version id
    * of its first commit — Iceberg's data sequence number). Serialized
    * `rel<TAB>stats<TAB>seq=N`; manifests written before stats or
    * sequences existed parse with those fields absent and keep reading
    * (an absent sequence reads as 0 — "older than everything"). The
    * sequence scopes EQUALITY deletes: an eq-delete retracts only rows of
    * files committed strictly before it, so same-commit upsert rows and
    * later re-inserts of a deleted key survive. */
  case class FileEntry(rel: String, stats: Option[String],
                       seq: Option[Long] = None) {
    def render: String =
      if (seq.isEmpty) rel + stats.map("\t" + _).getOrElse("")
      else s"$rel\t${stats.getOrElse("")}\tseq=${seq.get}"
  }

  private def parseEntry(line: String): FileEntry = {
    val f = line.split('\t')
    FileEntry(f(0),
      f.drop(1).find(s => s.nonEmpty && !s.startsWith("seq=")),
      // a PARSED entry always carries a concrete sequence: pre-sequence
      // (legacy) manifests normalize to 0 ("older than everything") HERE,
      // so seq=None afterwards means exactly "fresh this commit" and the
      // commit loop's stamping can never promote a carried legacy entry
      // to the current version (which would let a same-commit eq-delete
      // silently skip it — 'row_seq < eq_seq' must hold for old data)
      f.drop(1).collectFirst { case s if s.startsWith("seq=") =>
        s.stripPrefix("seq=").toLong }.orElse(Some(0L)))
  }

  /** One manifest-LIST line referencing an immutable shard file
    * (`manifests/shards/<uuid>.txt`) that holds the entries of one
    * partition key. `key` is the entries' shared directory prefix (""
    * for unpartitioned files, [[DeleteDir]] for tombstone shards); `n`
    * (entry count) and `ext` (uniform data-file extension, `"mixed"`
    * mid-conversion) ride in the line so planners reason about a shard
    * without opening it. Rendered `@key<TAB>rel<TAB>n<TAB>ext`.
    *
    * This is the manifest-list + sharded-manifest structure Iceberg uses:
    * commits rewrite only the shards their data touches (untouched refs
    * are carried as LINES, their contents never read), and scans drop
    * whole shards by key before reading any of them — both costs follow
    * the CHANGED/SELECTED data, never total table size. */
  case class ShardRef(key: String, rel: String, n: Int, ext: String) {
    def render: String = s"@$key\t$rel\t$n\t$ext"
  }

  private def parseRef(line: String): ShardRef = {
    val p = line.drop(1).split('\t')
    ShardRef(p(0), p(1), p(2).toInt, p.lift(3).getOrElse(""))
  }

  /** Partition key of a manifest entry: its directory prefix, in SOURCE
    * layout for `ext/` entries (a cloned `__day=d` file keys exactly like
    * a local one, so day pruning, replaceDays/dropDays scoping and shard
    * keying treat clones transparently). Keys are path-derived, so an
    * entry can never change key between versions. */
  private[graft] def keyOf(rel0: String): String = {
    val rel = plainRel(rel0)
    val i = rel.lastIndexOf('/')
    if (i < 0) "" else rel.substring(0, i)
  }

  /** Parsed manifest: shard references, inline (loose) entries, props.
    * Manifests written before sharding existed are all-inline and keep
    * reading; small tables stay all-inline forever. */
  private case class Doc(refs: Seq[ShardRef], inline: Seq[FileEntry],
                         props: Map[String, String])

  private def readDoc(root: String, v: Long): Doc = {
    val lines = manifestLines(root, v)
    Doc(
      lines.filter(_.startsWith("@")).map(parseRef),
      lines.filter(l => l.nonEmpty && !l.startsWith("#") && !l.startsWith("@"))
        .map(parseEntry),
      lines.filter(_.startsWith("#")).map { l =>
        val kv = l.drop(1).split("=", 2)
        kv(0) -> (if (kv.length > 1) kv(1) else "")
      }.toMap)
  }

  /** Entries of one shard file. */
  def shardEntries(root: String, shardRel: String): Seq[FileEntry] =
    MetaIO.readString(s"$root/manifests/$shardRel").linesIterator
      .filter(_.nonEmpty).map(parseEntry).toSeq

  /** Plan-time view of one manifest WITHOUT materializing shard contents:
    * (shard refs, inline entries). Scans prune whole shards by `key`
    * (hidden-day / transform / identity directories ride in it) and read
    * only survivors — plan cost ∝ surviving shards. */
  def manifestIndex(root: String, v: Long): (Seq[ShardRef], Seq[FileEntry]) = {
    val d = readDoc(root, v)
    (d.refs, d.inline)
  }

  /** Relative data-file paths of one manifest (property lines skipped). */
  def manifest(root: String, v: Long): Seq[String] =
    entries(root, v).map(_.rel)

  /** Data-file entries of one manifest, stats included — shard references
    * are followed transparently (the fully-materialized view; planners
    * wanting shard-level pruning use [[manifestIndex]]). */
  def entries(root: String, v: Long): Seq[FileEntry] = {
    val d = readDoc(root, v)
    // sharded (older) entries first, inline (newest appends) last — the
    // same old-to-new order the all-inline format had
    d.refs.flatMap(r => shardEntries(root, r.rel)) ++ d.inline
  }

  /** Commit properties of one manifest (`#key=value` header lines) — the
    * degenerate form of Iceberg's snapshot summary / Delta's txn actions.
    * Carried forward by [[append]] so the live snapshot always exposes
    * the latest value per key (streaming sinks store their last batch id
    * here, giving exactly-once appends under foreachBatch retries). */
  /** Retained versions with their commit instants (manifest mtime,
    * millis) — the timestamp axis for `TIMESTAMP AS OF` and the change
    * feed's `fromTimestamp`/`untilTimestamp`. Ascending by version;
    * cost is one listing plus one mtime stat per retained manifest. */
  def versionTimes(root: String): Seq[(Long, Long)] =
    versions(root).map(v => v -> MetaIO.mtimeMillis(manifestPath(root, v)))

  def manifestProps(root: String, v: Long): Map[String, String] =
    // the fence, ref-owner, and parent stamps are commit-protocol-internal
    allProps(root, v) - FenceProp - RefOwnerProp - ParentProp

  private def allProps(root: String, v: Long): Map[String, String] =
    manifestLines(root, v).filter(_.startsWith("#")).map { l =>
      val kv = l.drop(1).split("=", 2)
      kv(0) -> (if (kv.length > 1) kv(1) else "")
    }.toMap

  /** Protocol-stamp lookup by PREFIX read: props render first in a
    * manifest and sort alphabetically, so the `__…` stamps sit in the
    * first few lines — one small read answers ownership/lineage probes
    * on arbitrarily large listings (the full read is the fallback when
    * the prefix ends inside the prop block without surfacing the key). */
  private def headProp(root: String, v: Long, key: String): Option[String] = {
    val prefix = MetaIO.readPrefix(manifestPath(root, v), 8192)
    val lines = prefix.split('\n')
    val complete = prefix.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      .length < 8192
    val usable = if (complete) lines else lines.dropRight(1)
    val props = usable.takeWhile(_.startsWith("#")).map { l =>
      val kv = l.drop(1).split("=", 2)
      kv(0) -> (if (kv.length > 1) kv(1) else "")
    }.toMap
    val propsEnded = complete ||
      usable.exists(l => !l.startsWith("#")) // saw a ref/entry line
    if (propsEnded || props.contains(key)) props.get(key)
    else allProps(root, v).get(key)
  }

  /** The ref a manifest is stamped as belonging to (absent on legacy
    * manifests, and on a manifest that vanished mid-probe). */
  private[graft] def ownerOf(root: String, v: Long): Option[String] =
    scala.util.Try(headProp(root, v, RefOwnerProp)).toOption.flatten

  /** A manifest's operation label by header-prefix read (absent on
    * pre-label manifests and on one that vanished mid-probe). */
  private[graft] def opOf(root: String, v: Long): Option[String] =
    scala.util.Try(headProp(root, v, OpProp)).toOption.flatten

  /** A manifest's commit instant (mtime), None when unreadable. */
  private[graft] def manifestMtimeMillis(root: String, v: Long): Option[Long] =
    scala.util.Try(MetaIO.mtimeMillis(manifestPath(root, v))).toOption

  /** The stamped logical parent of a committed version. */
  private[graft] def parentOf(root: String, v: Long): Option[Long] =
    scala.util.Try(headProp(root, v, ParentProp)).toOption.flatten
      .flatMap(s => scala.util.Try(s.toLong).toOption)

  /** Is `v` on `head`'s lineage (an ancestor-or-self by parent-stamp
    * walk)? `Some(true)` = proven published onto that head's history,
    * `Some(false)` = the walk passed below `v` without meeting it,
    * `None` = unprovable — the chain broke on a retention-expired or
    * pre-stamp manifest before the answer was decided. Cost: one small
    * prefix read per retained ancestor above `v`. */
  private[graft] def onLineage(root: String, head: Long, v: Long): Option[Boolean] = {
    var cur = head
    while (cur > v) {
      parentOf(root, cur) match {
        case Some(p) if p < cur => cur = p
        case _ => return None
      }
    }
    Some(cur == v)
  }

  /** Properties of the live manifest (empty if never committed). */
  def liveProps(root: String): Map[String, String] =
    currentVersion(root).map(manifestProps(root, _)).getOrElse(Map.empty)

  /** Props of the snapshot WRITES extend — the staging branch head under
    * `spark.graft.write.branch`, else the live snapshot. Exactly-once
    * markers (streaming epoch ids) must be read from here: under WAP the
    * stream's commits land on the branch, so a replayed epoch checked
    * against MAIN's props would re-commit and double-append the batch. */
  def writeBaseProps(root: String): Map[String, String] =
    writeBaseVersion(root).map(manifestProps(root, _)).getOrElse(Map.empty)

  private def manifestLines(root: String, v: Long): Seq[String] = {
    val p = manifestPath(root, v)
    require(MetaIO.exists(p), s"manifest v=$v of $root does not exist")
    MetaIO.readString(p).linesIterator.toSeq
  }

  private def liveManifest(root: String): Seq[String] =
    manifest(root, currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no committed version under $root")))

  /** Live manifest entries (stats included). */
  def liveEntries(root: String): Seq[FileEntry] =
    entries(root, currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no committed version under $root")))

  /** Day value of a manifest entry, None for unpartitioned files. */
  private def dayOf(rel0: String): Option[String] = {
    val rel = plainRel(rel0)
    if (rel.startsWith(s"$DayCol=")) Some(rel.takeWhile(_ != '/').stripPrefix(s"$DayCol="))
    else None
  }

  /** True iff every live DATA entry lives under a `__day=` directory —
    * the prerequisite of the day-scoped rewrite fast paths. After a
    * partition spec evolution a snapshot mixes layouts and a "day" no
    * longer maps to a carryable file set, so those paths must decline
    * (the full rewrite re-homes every row under the current spec).
    * Answered from keys alone, no shard contents opened. */
  def isFullyDayKeyed(root: String): Boolean = {
    val d = readDoc(root, currentVersion(root).getOrElse(return false))
    d.refs.filterNot(_.key == DeleteDir).forall(_.key.startsWith(s"$DayCol=")) &&
      d.inline.filterNot(e => isDeleteEntry(e.rel))
        .forall(e => keyOf(e.rel).startsWith(s"$DayCol="))
  }

  /** Live DATA-file count per hidden-day value, from the manifest INDEX
    * alone — shard refs carry their entry count (`n`) in the list line,
    * inline entries group by key; no shard contents open. The
    * fragmentation signal auto-compaction polls per append, priced for
    * polling: O(index lines), never O(files). */
  def liveDayFileCounts(root: String): Map[String, Int] = {
    val d = readDoc(root, currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no committed version under $root")))
    val fromRefs = d.refs.filter(_.key != DeleteDir)
      .flatMap(r => dayOf(s"${r.key}/x").map(_ -> r.n))
    val fromInline = d.inline.filterNot(e => isDeleteEntry(e.rel))
      .flatMap(e => dayOf(e.rel).map(_ -> 1))
    (fromRefs ++ fromInline).groupBy(_._1)
      .view.mapValues(_.map(_._2).sum).toMap
  }

  /** Live DATA-file count per partition KEY — the identity-layout twin
    * of [[liveDayFileCounts]], same index-only pricing (shard-ref `n`
    * counts + inline keys; no shard contents opened). */
  def liveKeyFileCounts(root: String): Map[String, Int] = {
    val d = readDoc(root, currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no committed version under $root")))
    val fromRefs = d.refs.filter(_.key != DeleteDir).map(r => r.key -> r.n)
    val fromInline = d.inline.filterNot(e => isDeleteEntry(e.rel))
      .map(e => keyOf(e.rel) -> 1)
    (fromRefs ++ fromInline).groupBy(_._1)
      .view.mapValues(_.map(_._2).sum).toMap
  }

  /** Distinct hidden-day values present in the live manifest — read from
    * shard KEYS and inline entries, no shard contents opened. */
  def liveDays(root: String): Set[String] = {
    val d = readDoc(root, currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no committed version under $root")))
    (d.inline.flatMap(e => dayOf(e.rel)) ++
      d.refs.flatMap(r => dayOf(s"${r.key}/x"))).toSet
  }

  private def extOf(rel: String): String = rel.substring(rel.lastIndexOf('.') + 1)

  /** Storage format of the live snapshot's data files (None before the
    * first commit). A mid-conversion table reports its newest files'
    * format — new writes continue it. Positional-delete entries are
    * always parquet and never speak for the DATA format. Resolved from
    * the manifest list alone (inline entries are the newest; a shard's
    * uniform `ext` rides in its ref line), so the write path never
    * materializes the table's file list. */
  def formatOf(root: String): Option[String] =
    if (!exists(root)) None
    else {
      val d = readDoc(root, currentVersion(root).get)
      d.inline.filterNot(e => isDeleteEntry(e.rel)).lastOption.map(e => extOf(e.rel))
        .orElse(d.refs.filter(_.key != DeleteDir).lastOption.map { r =>
          if (r.ext.nonEmpty && r.ext != "mixed") r.ext
          else shardEntries(root, r.rel).lastOption.map(e => extOf(e.rel))
            .getOrElse("parquet")
        })
    }

  private def readFiles(spark: SparkSession, root: String,
                        entries: Seq[FileEntry]): DataFrame = {
    require(entries.nonEmpty, s"empty manifest under $root — empty commits are not supported")
    // dispatch per extension: a manifest may reference files of several
    // formats mid-conversion; each group reads through its own source and
    // basePath re-derives the hidden day column identically for all three.
    // Reads plan through the manifest-seeded index (zero listing) —
    // `spark.read.load(paths)` would run the listing job per call.
    entries.groupBy(e => extOf(e.rel)).toSeq.sortBy(_._1).map { case (fmt, es) =>
      require(FileFormats.contains(fmt), s"unknown data-file format .$fmt under $root")
      seededRead(spark, root, fmt, es, userSchema = None)
    }.reduce(_ unionByName _)
  }

  /** [[org.apache.spark.sql.execution.datasources.GraftSeededIndex]] read
    * of pool entries: file sizes resolve from the entries' own `__bytes`
    * (entries committed pre-`__bytes` fall back to real stats). */
  private[graft] def seededRead(spark: SparkSession, root: String, fmt: String,
                         entries: Seq[FileEntry],
                         userSchema: Option[org.apache.spark.sql.types.StructType])
      : DataFrame =
    seededReadLegs(spark, root, fmt, entries, userSchema).reduce(_ unionByName _)

  /** One seeded read per POOL BASE — local entries against `$root/data`,
    * `ext/` (shallow-clone) entries against the clone source's pool, each
    * with its own `basePath` so hidden-day directory derivation stays
    * correct per base (one mixed read would refuse conflicting bases).
    * Callers needing `_metadata` columns (row identity) must derive them
    * PER LEG — `_metadata` does not resolve through a union. */
  private[graft] def seededReadLegs(spark: SparkSession, root: String, fmt: String,
                             entries: Seq[FileEntry],
                             userSchema: Option[org.apache.spark.sql.types.StructType])
      : Seq[DataFrame] =
    entries.groupBy(e => isExtEntry(e.rel)).toSeq.sortBy(_._1).map { case (ext, es) =>
      val base = if (ext) cloneSrcOf(root).getOrElse(throw new IllegalStateException(
        s"$root carries ext/ manifest entries but no _clone_src sidecar"))
        else s"$root/data"
      val sizes: Map[org.apache.hadoop.fs.Path, (Long, Long)] = es
        .flatMap(e => FileStats.byteSize(FileStats.decode(e.stats.getOrElse("")))
          .map(new org.apache.hadoop.fs.Path(dataPath(root, e.rel)) -> _))
        .toMap
      org.apache.spark.sql.execution.datasources.GraftSeededIndex.read(
        spark, fmt, es.map(e => new org.apache.hadoop.fs.Path(dataPath(root, e.rel))), sizes,
        Map("basePath" -> base), userSchema)
    }

  /** Data files of `entries` with the snapshot's deletes APPLIED. Without
    * delete entries this is [[readFiles]]; with them the parquet data is
    * read with its metadata columns and
    *
    *  - POSITIONAL tombstones anti-join out by (relative pool path, file
    *    row index) — row identity from `_metadata`, the last `/data/`
    *    marking the pool root (partition directory values cannot contain
    *    '/');
    *  - EQUALITY deletes anti-join out by their key columns, scoped to
    *    rows of data files with a strictly smaller commit sequence (the
    *    per-row sequence rides in via a broadcast rel→seq lookup). Key
    *    files are grouped by schema, so differently-keyed retractions
    *    coexist; NULL keys match NULL values (`<=>`).
    *
    * Exactly what Iceberg's delete-file readers buy the reference. Both
    * joins let AQE pick broadcast vs shuffle, so a huge delete backlog
    * degrades to a shuffled anti-join instead of driver/executor OOM.
    *
    * TWIN of [[graft.plans.MergeInto]]'s `morRead` delete application
    * (that copy speaks LOGICAL names for DML; this one is physical) — a
    * change to delete semantics must land in BOTH. */
  private def readApplied(spark: SparkSession, root: String,
                          es: Seq[FileEntry]): DataFrame = {
    // CDC sidecars are provenance for the change feed, never read input
    // and never tombstones — drop them before the delete split
    val (del, data) = es.filterNot(e => isCdcEntry(e.rel))
      .partition(e => isDeleteEntry(e.rel))
    if (del.isEmpty) readFiles(spark, root, data)
    else {
      require(data.nonEmpty, s"only delete entries under $root")
      require(data.forall(_.rel.endsWith(".parquet")),
        s"merge-on-read deletes are a parquet capability; $root mixes formats")
      val (eqDel, posDel) = del.partition(e => isEqDeleteEntry(e.rel))
      // a DIRECT parquet read (not the per-format union) so the _metadata
      // column resolves; basePath re-derives partition dirs as usual.
      // Row identity derives PER LEG (`_metadata` does not resolve
      // through the local/ext union a cloned table's listing splits into)
      val keyed = seededReadLegs(spark, root, "parquet", data, userSchema = None)
        .map(_.withColumn("__mor_rel",
            regexp_extract(col("_metadata.file_path"), ".*/data/(.*)$", 1))
          .withColumn("__mor_pos", col("_metadata.row_index")))
        .reduce(_ unionByName _)
      val afterPos =
        if (posDel.isEmpty) keyed
        else {
          val (dvDel, pqDel) = posDel.partition(e => isDvEntry(e.rel))
          val parts =
            (if (pqDel.isEmpty) Nil
             else Seq(spark.read.parquet(pqDel.map(e => dataPath(root, e.rel)): _*)
               .select(col("__file"), col("__pos")))) ++
            (if (dvDel.isEmpty) Nil
             else Seq(DeleteVectors.tombstoneDf(spark, root, dvDel)))
          val delDf = parts.reduce(_ unionByName _)
            .select(col("__file").as("__del_file"), col("__pos").as("__del_pos"))
          keyed.join(delDf,
            keyed("__mor_rel") === delDf("__del_file") &&
              keyed("__mor_pos") === delDf("__del_pos"), "left_anti")
        }
      val afterEq =
        if (eqDel.isEmpty) afterPos
        else {
          import spark.implicits._
          val seqDf = broadcast(
            data.map(e => (encodedRel(root, e.rel), e.seq.getOrElse(0L)))
              .toDF("__seq_rel", "__row_seq"))
          val withSeq = afterPos
            .join(seqDf, afterPos("__mor_rel") === seqDf("__seq_rel"), "left")
            .drop("__seq_rel")
          val bySchema = eqDel.groupBy(e =>
            spark.read.parquet(dataPath(root, e.rel)).schema.fieldNames.toSeq.sorted)
          bySchema.values.foldLeft(withSeq) { (acc, group) =>
            val keys = group.map { e =>
              spark.read.parquet(dataPath(root, e.rel))
                .withColumn("__eq_seq", lit(e.seq.getOrElse(0L)))
            }.reduce(_ unionByName _)
            val keyCols = keys.columns.filterNot(_ == "__eq_seq")
            val cond = keyCols.map(c => acc(c) <=> keys(c)).reduce(_ && _) &&
              acc("__row_seq") < keys("__eq_seq")
            acc.join(keys, cond, "left_anti")
          }.drop("__row_seq")
        }
      afterEq.drop("__mor_rel", "__mor_pos")
    }
  }

  /** Live snapshot, hidden partition column stripped, deletes applied. */
  def read(spark: SparkSession, root: String): DataFrame =
    readRaw(spark, root).drop(DayCol)

  /** Live snapshot with the hidden day column exposed (internal plumbing
    * for partition-scoped rewrites); deletes applied. */
  private[graft] def readRaw(spark: SparkSession, root: String): DataFrame =
    readApplied(spark, root, liveEntries(root))

  /** [[readRaw]] pinned to one version resolution: returns the version the
    * files came from, so a partition-scoped rewrite can pass it as
    * `expectedVersion` and detect commits that landed between this read
    * and its own commit (Iceberg's validate-against-scan-snapshot). */
  private[graft] def readRawPinned(spark: SparkSession, root: String): (Long, DataFrame) = {
    val v = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no committed version under $root"))
    (v, readApplied(spark, root, entries(root, v)))
  }

  /** Pinned, KEY-scoped read: the named partition keys' data files of
    * version `v` with that snapshot's delete artifacts applied — the
    * chunk input of the identity-layout partial-progress OPTIMIZE.
    * Files select by manifest key alone; delete artifacts narrow to the
    * ones that can TOUCH those keys (positional entries name their
    * targets in their stats; list-less legacy entries and equality
    * deletes stay conservatively), so a chunk never pays another key's
    * tombstone backlog. */
  private[graft] def readKeysPinned(spark: SparkSession, root: String, v: Long,
                                    keys: Set[String]): DataFrame = {
    val (del, data) = entries(root, v).partition(e => isDeleteEntry(e.rel))
    def decT(s: String): String = scala.util.Try(java.net.URLDecoder.decode(s,
      java.nio.charset.StandardCharsets.UTF_8)).getOrElse(s)
    val relevantDel = del.filter(e =>
      isEqDeleteEntry(e.rel) || (deleteTouchedRels(e) match {
        case Some(ts) => ts.exists(t => keys(keyOf(t)) || keys(keyOf(decT(t))))
        case None => true // unknown targets: keep, never drop a tombstone
      }))
    readApplied(spark, root,
      data.filter(e => keys(keyOf(e.rel))) ++ relevantDel)
  }

  /** Time travel: a retained manifest's snapshot (deletes of THAT
    * snapshot applied — a pre-delete version still shows the rows). */
  def readVersion(spark: SparkSession, root: String, v: Long): DataFrame =
    readApplied(spark, root, entries(root, v)).drop(DayCol)

  /** Timestamp-range read with MANIFEST-level pruning: files of
    * out-of-range days are never handed to the scan. */
  def readDayRange(spark: SparkSession, root: String, tsCol: String,
                   fromTs: String, untilTs: String): DataFrame = {
    val fromD = java.time.LocalDate.parse(fromTs.take(10))
    val untilD = java.time.LocalDate.parse(untilTs.take(10))
    val live = liveEntries(root)
    val picked = live.filter { e =>
      dayOf(e.rel).exists { d =>
        val day = java.time.LocalDate.parse(d)
        !day.isBefore(fromD) && !day.isAfter(untilD)
      }
    } ++ live.filter(e => isDeleteEntry(e.rel))
    readApplied(spark, root, picked)
      .where(col(tsCol) >= lit(fromTs).cast("timestamp")
        && col(tsCol) < lit(untilTs).cast("timestamp"))
      .drop(DayCol)
  }

  /** Write distribution mode: `hash` (default — cluster by partition
    * values via an AQE REBALANCE before the file write) or `none`. */
  private def writeDistribution: String =
    SparkSession.getActiveSession.flatMap(
      _.conf.getOption("spark.graft.write.distribution")).getOrElse("hash")

  /** Declared write sort order — Iceberg's `write.sort-order`: every
    * pool write sorts rows WITHIN each output file by these columns
    * (ascending, nulls first) and stamps the file's manifest entry
    * ([[FileStats.SortKey]]), so scans can report the ordering to the
    * planner and elide redundant Sort nodes over clean tables. The
    * marker file holds comma-separated PHYSICAL column names; the V2
    * catalog writes it from the `sort.order` table property. */
  private def sortOrderPath(root: String) = s"$root/_sortorder"

  def setSortOrder(root: String, physCols: Seq[String]): Unit =
    if (physCols.isEmpty) MetaIO.delete(sortOrderPath(root))
    else MetaIO.writeAtomic(sortOrderPath(root),
      physCols.map(_.toLowerCase).mkString(","))

  def sortOrder(root: String): Seq[String] =
    if (!MetaIO.exists(sortOrderPath(root))) Nil
    else scala.util.Try(MetaIO.readString(sortOrderPath(root)).trim)
      .toOption.filter(_.nonEmpty).map(_.split(',').toSeq).getOrElse(Nil)

  /** Declared bloom-filter columns (the `bloom.columns` table property,
    * Delta's bloom-filter-index / Iceberg's `write.parquet.bloom-filter-
    * enabled.column.*` shape): every pool write emits a WRITER-side
    * bloom filter for these columns into each parquet row group (or the
    * ORC stream), so a point lookup on a high-cardinality key — where
    * min/max bounds prune nothing because every file spans the full
    * range — skips row groups at SCAN time off one bloom probe instead
    * of decoding pages. Purely a write-side layout property: readers are
    * stock Spark (parquet-mr/ORC consult the filter under any pushed
    * equality predicate), files written before the declaration simply
    * carry no filter and scan as before. The marker holds
    * comma-separated PHYSICAL names (+ optional `=ndv` sizing); the V2
    * catalog writes it from the table property. */
  private def bloomPath(root: String) = s"$root/_bloom"

  def setBloomColumns(root: String, physCols: Seq[String], ndv: Option[Long]): Unit =
    if (physCols.isEmpty) MetaIO.delete(bloomPath(root))
    else MetaIO.writeAtomic(bloomPath(root),
      physCols.map(_.toLowerCase).mkString(",") +
        ndv.map(n => s"\n$n").getOrElse(""))

  /** (columns, expected NDV per column) of the bloom declaration. */
  def bloomColumns(root: String): (Seq[String], Option[Long]) =
    if (!MetaIO.exists(bloomPath(root))) (Nil, None)
    else scala.util.Try {
      val lines = MetaIO.readString(bloomPath(root)).linesIterator.toSeq
      (lines.headOption.map(_.trim).filter(_.nonEmpty)
        .map(_.split(',').toSeq).getOrElse(Nil),
        lines.lift(1).flatMap(s => scala.util.Try(s.trim.toLong).toOption))
    }.getOrElse((Nil, None))

  /** Per-table statistics opt-outs (the `stats.ndv` / `stats.histogram`
    * table properties — the write-path-tax dial for write-mostly tables
    * whose plans never consult CBO statistics): the marker holds
    * `ndv=false` and/or `histogram=false`, each overriding the session
    * conf for THIS table's pool writes. Absent marker = conf decides. */
  private def statsOptPath(root: String) = s"$root/_statsopt"

  def setStatsOpts(root: String, ndv: Option[Boolean],
                   histogram: Option[Boolean]): Unit = {
    val lines = ndv.map(v => s"ndv=$v").toSeq ++
      histogram.map(v => s"histogram=$v").toSeq
    if (lines.isEmpty) MetaIO.delete(statsOptPath(root))
    else MetaIO.writeAtomic(statsOptPath(root), lines.mkString("\n"))
  }

  /** (ndv override, histogram override) — None = no table-level opinion. */
  def statsOpts(root: String): (Option[Boolean], Option[Boolean]) =
    if (!MetaIO.exists(statsOptPath(root))) (None, None)
    else scala.util.Try {
      val kv = MetaIO.readString(statsOptPath(root)).linesIterator
        .map(_.trim.split('=')).collect { case Array(k, v) => k -> v.toBoolean }
        .toMap
      (kv.get("ndv"), kv.get("histogram"))
    }.getOrElse((None, None))

  /** Write `df`'s files into the pool (staged, then moved in — invisible
    * until a manifest references them) and return their manifest entries.
    * Each new parquet/orc file's per-column min/max/null stats are read
    * from its own footer/tail ([[FileStats]] — one metadata read per NEW
    * file, never a second data pass) and ride the manifest entry, feeding
    * plan-time file skipping in the V2 scan. */
  private def writePool(df: DataFrame, root: String,
                        partitionDayOf: Option[String], format: String,
                        partitionExpr: Option[(String, org.apache.spark.sql.Column)] = None,
                        partitionCols: Seq[String] = Nil,
                        preclustered: Boolean = false,
                        rewriteOrder: Option[org.apache.spark.sql.Column] = None): PoolWrite = {
    require(FileFormats.contains(format), s"unsupported data-file format $format")
    val stage = s"$root/stage/${UUID.randomUUID().toString.take(12)}"
    // three layouts beyond flat: the hidden day, an arbitrary hidden
    // derived column (months/years/bucket/truncate transforms), or plain
    // IDENTITY partitionBy on existing columns — one per table
    val (wdf, partNames): (DataFrame, Seq[String]) = partitionDayOf match {
      case Some(ts) => (df.withColumn(DayCol, to_date(col(ts))), Seq(DayCol))
      case None => partitionExpr match {
        case Some((name, e)) => (df.withColumn(name, e), Seq(name))
        case None => (df, partitionCols)
      }
    }
    // Write distribution (Iceberg's write.distribution-mode=hash): cluster
    // incoming rows by the partition values before the file write, or a
    // 1000-task append to a 365-day table lands tasks × days tiny files
    // per commit. REBALANCE (not plain repartition) so AQE both coalesces
    // small partition groups AND splits a skewed day across tasks by its
    // advisory size — no single hot partition bottlenecks the write.
    // `none` opts out (pre-clustered inputs keep their layout).
    // `preclustered` opts out PER WRITE: a ZORDER rewrite arrives
    // range-partitioned and z-sorted — a rebalance above it would both
    // coalesce away the target file count and shred the within-file
    // Morton order (an exchange discards the child's sort)
    val clustered0 =
      if (!preclustered && partNames.nonEmpty && writeDistribution == "hash")
        wdf.hint("REBALANCE", partNames.map(col): _*)
      else wdf
    // declared sort order: sort within partitions by (partition dirs,
    // then the sort columns) — the partition-column prefix satisfies the
    // file writer's required ordering, so it never re-sorts and destroy
    // the spec; within each output file (one partition value) rows are
    // therefore ordered by exactly the sort columns. Applied only when
    // every sort column is present (a hidden-derivation write that
    // dropped one skips the stamp rather than stamping a lie). ONE
    // marker read: a concurrent ALTER must not split the filter and the
    // completeness check across two snapshots of the spec.
    val declaredOrder = sortOrder(root)
    val sortCols = declaredOrder
      .filter(c => wdf.columns.exists(_.equalsIgnoreCase(c)))
    val sortApplied = sortCols.nonEmpty && sortCols.size == declaredOrder.size
    val clustered =
      if (sortApplied)
        clustered0.sortWithinPartitions((partNames ++ sortCols).map(col): _*)
      else rewriteOrder match {
        // a ZORDER rewrite's within-file order: sorted HERE, with the
        // partition dirs prefixed, exactly like the declared-sort path —
        // the file writer's required ordering (partition columns) is
        // then already satisfied and it inserts no Sort of its own. A
        // caller-side sort before the partition column re-derivation
        // cannot register (the dropped column's ordering is lost), and
        // the writer's own Sort(partition) is NOT order-stable once it
        // spills, which would silently shred the Morton layout at
        // exactly the scales compaction targets.
        case Some(zo) => clustered0.withColumn("__graft_zo", zo)
          .sortWithinPartitions((partNames.map(col) :+ col("__graft_zo")): _*)
          .drop("__graft_zo") // projection keeps the partition-prefix ordering
        case None => clustered0
      }
    val sortSpec = if (sortApplied) Some(sortCols.mkString(",")) else None
    // engine-written parquet timestamps are always INT64 MICROS: the
    // session default (INT96) carries no logical annotation and no usable
    // footer statistics, so timestamp columns would never get manifest
    // bounds (no pruning, no metadata-only aggregates). The conf rides an
    // isolated session clone — the caller's session may be running other
    // writes concurrently and must keep its own default.
    // declared bloom columns: writer-side row-group bloom filters for
    // point-lookup skipping ([[bloomColumns]]); resolved against the
    // ACTUAL column case (parquet's per-column keys are name-exact, so
    // they ride the session-clone conf below — DataFrameWriter options
    // lowercase their keys and would miss mixed-case columns) and
    // silently absent for columns a derivation dropped. Per-write
    // either way — never a shared-conf mutation a concurrent write
    // would inherit.
    val (bloomDecl, bloomNdv) = bloomColumns(root)
    val bloomCols = bloomDecl.flatMap(c => wdf.columns.find(_.equalsIgnoreCase(c)))
    val parquetBloomConfs: Map[String, String] =
      if (format != "parquet") Map.empty
      else bloomCols.flatMap(c =>
        Seq(s"parquet.bloom.filter.enabled#$c" -> "true") ++
          bloomNdv.map(n => s"parquet.bloom.filter.expected.ndv#$c" -> n.toString)).toMap
    val bloomOpts: Map[String, String] = format match {
      case "orc" if bloomCols.nonEmpty =>
        Map("orc.bloom.filter.columns" -> bloomCols.mkString(","))
      case _ => Map.empty
    }
    val toWrite =
      if (format == "parquet")
        org.apache.spark.sql.execution.datasources.v2.GraftWriteConf
          .withMicrosTimestamps(clustered, parquetBloomConfs)
      else clustered
    // per-column NDV sketches ride the write job itself ([[NdvStats]]):
    // an Observation updates HLL sketches as the rows stream to the
    // files — no read-back, no second pass. Sketch only the USER columns
    // (hidden partition derivations never face a planner estimate); the
    // table's stats.ndv/stats.histogram properties override the session
    // default for write-mostly tables.
    val (tableNdv, tableHist) = statsOpts(root)
    val (observed, obs) = NdvStats.attach(toWrite,
      allowed = df.schema.fieldNames.toSet,
      ndvOverride = tableNdv, histOverride = tableHist)
    if (partNames.isEmpty) observed.write.options(bloomOpts).format(format).save(stage)
    else observed.write.options(bloomOpts).partitionBy(partNames: _*)
      .format(format).save(stage)
    // partitionBy moves partition columns into directory names: the FILE
    // schema is df's columns minus identity partition columns
    val fileSchema = org.apache.spark.sql.types.StructType(
      df.schema.fields.filterNot(f =>
        partitionCols.exists(_.equalsIgnoreCase(f.name))))
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val entries = MetaIO.listFilesRec(stage)
      .filter(_.getPath.getName.endsWith(s".$format"))
      .map { st =>
        val rel0 = MetaIO.relativize(stage, st.getPath)
        val sub = rel0.split('/').dropRight(1).mkString("/") // "" or partition dirs
        val name = s"${UUID.randomUUID().toString.take(16)}.$format"
        val rel = if (sub.isEmpty) name else s"$sub/$name"
        val stats = FileStats.collect(st.getPath.toString, format, fileSchema, conf)
        MetaIO.rename(st.getPath.toString, s"$root/data/$rel")
        // stamp POOL-ENTRY time: rename preserves the Spark write mtime,
        // which for a slow multi-minute write is already older than the
        // move — GC's orphan grace must age from entry or it would sweep
        // an in-flight commit's files out from under it
        val moveIn = System.currentTimeMillis()
        MetaIO.setTimes(s"$root/data/$rel", moveIn)
        // byte length + mtime ride the entry so scan planning can build
        // its file index from the manifest alone (zero FS listing);
        // a sorted write stamps its spec per file ([[FileStats.SortKey]])
        val withSorted = sortSpec.fold(stats)(sp => FileStats.withSort(stats, sp))
        FileEntry(rel, FileStats.withBytes(withSorted, st.getLen, moveIn))
      }
    MetaIO.delete(stage, recursive = true)
    PoolWrite(entries, NdvStats.harvest(obs))
  }

  /** A completed pool write: the staged entries plus the NDV sketch the
    * write job observed over them (None when disabled/unsketchable). */
  private case class PoolWrite(entries: Seq[FileEntry],
                               ndv: Option[Map[String, Array[Byte]]])

  /** One commit attempt's content, planned against the current base:
    * `carried` shard refs pass through as manifest-list LINES (their
    * contents never read), `entries` are the loose entries to publish —
    * fresh files plus any surviving inline entries of the base. `ndv`
    * is the new data's NDV sketch, merged with the base's and published
    * beside the winning manifest ([[NdvStats]]). */
  private case class Planned(entries: Seq[FileEntry], props: Map[String, String],
                             carried: Seq[ShardRef] = Nil,
                             ndv: Option[Map[String, Array[Byte]]] = None,
                             // a file-removing commit that ALSO publishes
                             // its per-row changes (CDC sidecars + op-
                             // labeled adds): the touched keys' change
                             // horizon stamps at version-1, so an up-to-
                             // date CDF consumer reads the commit as
                             // exact events instead of a loud break
                             changePreserving: Boolean = false)

  /** The base state a commit plans against (re-read per attempt). Shard
    * contents load lazily and only for the keys a planner asks about —
    * the property that keeps commit cost ∝ touched data at any table
    * size. */
  private case class Base(root: String, version: Option[Long],
                          refs: Seq[ShardRef], inline: Seq[FileEntry],
                          props: Map[String, String]) {
    def entriesForKeys(keep: String => Boolean): Seq[FileEntry] =
      refs.filter(r => keep(r.key)).flatMap(r => shardEntries(root, r.rel)) ++
        inline.filter(e => keep(keyOf(e.rel)))
  }

  /** Loose-entry budget before a manifest folds them into shards: small
    * tables stay fully inline (exactly the pre-sharding format), large
    * tables amortize one fold per `inlineEntries` appended files. */
  private def inlineMaxEntries: Int =
    confLong("spark.graft.manifest.inlineEntries", 64L).toInt
  /** Refs-per-key cap: past it the key's shards merge into one (cost ∝
    * that key only) — Iceberg's merge-on-commit manifest maintenance,
    * bounding manifest-list length without rewriting untouched keys. */
  private def maxShardsPerKey: Int =
    confLong("spark.graft.manifest.maxShardsPerKey", 8L).toInt

  private def writeShard(root: String, key: String, es: Seq[FileEntry]): ShardRef = {
    val rel = s"shards/${UUID.randomUUID().toString.take(16)}.txt"
    MetaIO.writeAtomic(s"$root/manifests/$rel", es.map(_.render).mkString("\n"))
    val exts = es.map(e => extOf(e.rel)).distinct
    ShardRef(key, rel, es.size, if (exts.length == 1) exts.head else "mixed")
  }

  /** The session zone this write derives `__day` in — set only when the
    * partition source is a zone-SENSITIVE TIMESTAMP (`to_date` on NTZ and
    * DATE is pure wall-clock). Recorded so day-scoped rewrites
    * ([[graft.plans.MergeInto]]) can compute day boundaries in the
    * writer's timeline instead of assuming the deleting session's zone. */
  private def writeZoneOf(df: DataFrame, partitionDayOf: Option[String]): Option[String] =
    partitionDayOf.flatMap { ts =>
      df.schema.fields.find(_.name.equalsIgnoreCase(ts)).map(_.dataType) match {
        case Some(org.apache.spark.sql.types.TimestampType) =>
          Some(df.sparkSession.sessionState.conf.sessionLocalTimeZone)
        case _ => None
      }
    }

  /** Fold this write's zone into the carried properties: agreement keeps
    * the zone, disagreement degrades to `"mixed"` (files from two zones
    * now coexist — no single zone describes the layout, and the fast
    * day-scoped paths decline). */
  private def mergeZoneProp(baseProps: Map[String, String],
                            zone: Option[String]): Map[String, String] =
    zone.map { z =>
      ZoneProp -> (baseProps.get(ZoneProp) match {
        case Some(prev) if prev != z => "mixed"
        case _ => z
      })
    }.toMap

  /** The optimistic-concurrency loop. `plan` maps the CURRENT base
    * (live file list + props — both re-read per attempt) to the manifest
    * content to publish; it throws to refuse a rebase. On a lost claim:
    * reclaim it if stale (crashed committer), else — when `rebase` —
    * re-plan against the new live state and try the next version, else
    * surface the conflict. */
  /** Test-only, one-shot: pause between PLAN and the staleness guard,
    * widening the plan→allocate window so a spec can land a racing
    * commit inside it deterministically (consumed by the first commit
    * that sees it; 0 — no-op — in production). */
  private[graft] val testPlanPause = new java.util.concurrent.atomic.AtomicLong(0L)

  private def commitLoop(root: String, retain: Int, rebase: Boolean)
                        (plan: Base => Planned): Long = {
    require(retain >= 1, "must retain at least the live snapshot")
    var attempt = 0
    // version numbers proven occupied by foreign published state (another
    // ref's pinned head, an expired main slot): never contend with these
    var skipFloor = 0L
    while (true) {
      // WAP staging: the base is the BRANCH head (resolved per attempt so
      // a racing branch commit rebases correctly) and the flip below
      // moves the ref, not `_CURRENT`
      val branch = wapBranch
      val baseV = branch.fold(currentVersion(root))(_ =>
        writeBaseVersion(root))
      val base = baseV match {
        case Some(v) =>
          val d = readDoc(root, v)
          Base(root, baseV, d.refs, d.inline,
            d.props - FenceProp - RefOwnerProp - ParentProp)
        case None => Base(root, None, Nil, Nil, Map.empty)
      }
      val planned = plan(base)
      testPlanPause.getAndSet(0L) match {
        case 0L => (); case ms => Thread.sleep(ms)
      }
      require(planned.props.keys.forall(k => !k.contains("=") && !k.contains("\n"))
        && planned.props.values.forall(v => !v.contains("\n")), "illegal manifest property")
      // ALLOCATION: the smallest number above the base (and the recorded
      // high-water mark) not occupied by foreign PUBLISHED state — a main
      // slot at-or-below the live pointer (its manifest may already be
      // GC-expired, so a branch commit landing there would silently reuse
      // a number `VERSION AS OF` once resolved on main's lineage), or
      // another ref's pinned head (a claim this committer can never
      // reclaim). In-flight claims (above the pointer, unpinned) do NOT
      // advance the scan: same-ref racers must land on the SAME number
      // and serialize through createNew — that collision IS the
      // optimistic-concurrency protocol, and the loser's re-plan waits
      // for the winner's flip to surface the new base. The scan consults
      // only published state, so racing same-ref committers compute the
      // same number; the post-claim re-check below backstops the rare
      // case where that state moved between scan and claim.
      val live0 = currentVersion(root).getOrElse(0L)
      // STALENESS GUARD: if our ref's head moved past the planning base
      // while we planned, a racer LANDED. The allocation scan below
      // steps `next` past published state — claiming there with the
      // stale plan would publish a manifest that silently BURIES the
      // racer's commit (both callers report success; one's rows are
      // gone). Re-plan on the fresh base instead. Not counted as a
      // collision attempt: each re-plan is forced by real progress
      // (another commit landed), so the loop terminates.
      val baseStale = rebase &&
        branch.fold(currentVersion(root))(_ => writeBaseVersion(root)) != baseV
      if (!baseStale) {
      def pinnedByOthers(): Set[Long] = {
        val others = branch.fold(ManifestTable.refs(root))(b =>
          ManifestTable.refs(root) - b)
        others.values.map(_.version).toSet
      }
      val pinned0 = pinnedByOthers()
      val refName = branch.getOrElse("main")
      // a manifest STAMPED with another ref's name is foreign state — a
      // branch's retained intermediate commit (only its head is ref-
      // pinned) or another ref's in-flight claim; both are numbers this
      // committer can never win, so the scan steps past them. Unstamped
      // (legacy / same-ref) manifests keep colliding: that collision is
      // the same-ref optimistic-concurrency protocol.
      def foreignAt(v: Long): Boolean =
        MetaIO.exists(manifestPath(root, v)) &&
          ownerOf(root, v).exists(_ != refName)
      var next = math.max(baseV.getOrElse(0L),
        math.max(highWaterMark(root), skipFloor)) + 1
      while (next <= live0 || pinned0.contains(next) || foreignAt(next)) next += 1
      // stamp FRESH entries (no sequence yet) with this commit's version —
      // the data sequence number that scopes equality deletes; carried
      // inline entries keep the sequence of their original commit
      val stamped = planned.entries.map { e0 =>
        val e = if (e0.seq.isEmpty) e0.copy(seq = Some(next)) else e0
        // fresh DIRECT-DML deletion vectors carry sentinel slice
        // delete-versions — the version IS this commit's, unknown until
        // the claim wins; carried dv entries keep their original stamps
        if (e0.seq.isEmpty && isDvEntry(e.rel))
          e.stats.flatMap(DeleteVectors.decodeIndex) match {
            case Some(sl) if sl.exists(_.seq == DeleteVectors.SeqSentinel) =>
              e.copy(stats = Some(DeleteVectors.encodeIndex(sl.map(s =>
                if (s.seq == DeleteVectors.SeqSentinel) s.copy(seq = next) else s))))
            case _ => e
          }
        else e
      }
      // does this commit REMOVE a base data entry? Only the shards the
      // planner re-materialized need reading (carried refs are untouched
      // by construction), so the check costs ∝ touched data. Delete-file
      // churn doesn't count: retiring delete entries (deletes-only
      // rewrite) changes no scan result.
      val carriedRels = planned.carried.map(_.rel).toSet
      val keptRels = stamped.map(_.rel).toSet
      val removedKeys: Set[String] =
        (base.refs.filterNot(r => carriedRels.contains(r.rel))
          .flatMap(r => shardEntries(root, r.rel)) ++ base.inline)
          .collect { case e if !isDeleteEntry(e.rel) && !keptRels.contains(e.rel) =>
            keyOf(e.rel) }.toSet
      val plannedProps =
        if (removedKeys.nonEmpty) {
          // change-preserving removals (CDC-sidecar commits) bound the
          // feed one version EARLIER: windows starting at next-1 serve
          // this commit's own changes exactly; anything older is still
          // unreconstructible (the removed files' provenance died)
          val hv = if (planned.changePreserving) next - 1 else next
          val hv0 = math.max(hv,
            planned.props.get(ChangeProp).map(_.toLong).getOrElse(0L))
          planned.props + (ChangeProp -> hv0.toString) ++
            scopedChangeProps(planned.props, removedKeys, hv)
        } else planned.props
      // fold loose entries into per-key shards past the inline budget,
      // then merge any key that accumulated too many refs — shard files
      // land BEFORE the claim (unreferenced on a lost race; swept by the
      // maintenance orphan sweep)
      val (refs0, inline) =
        if (stamped.size <= inlineMaxEntries) (planned.carried, stamped)
        else (planned.carried ++
          stamped.groupBy(e => keyOf(e.rel)).toSeq.sortBy(_._1)
            .map { case (k, es) => writeShard(root, k, es) }, Seq.empty[FileEntry])
      val refs = {
        val perKey = refs0.groupBy(_.key)
        if (perKey.values.forall(_.size <= maxShardsPerKey)) refs0
        else {
          val merged = perKey.collect { case (k, rs) if rs.size > maxShardsPerKey =>
            k -> writeShard(root, k, rs.flatMap(r => shardEntries(root, r.rel)))
          }
          val emitted = scala.collection.mutable.Set.empty[String]
          refs0.flatMap { r =>
            merged.get(r.key) match {
              case Some(m) => if (emitted.add(r.key)) Some(m) else None
              case None    => Some(r)
            }
          }
        }
      }
      // the FENCE: a per-attempt token stamped into the manifest. The
      // claim-reclaim protocol is a lease without hard CAS — a committer
      // paused longer than the claim grace between its claim and its flip
      // can have the claim reclaimed and re-created by a racer at the SAME
      // version. Flipping blind would then publish the racer's content
      // while both callers report success for version `next` (one commit
      // silently lost). Verifying the manifest is still OURS immediately
      // before and after the flip turns that silent loss into a surfaced
      // conflict; the grace default makes the race itself vanishingly rare.
      val fence = UUID.randomUUID().toString
      // the logical parent is the planning base unless the planner chose
      // one itself (rollback stamps the restored version — its state and
      // therefore its lineage is the target's)
      val parentStamp =
        if (plannedProps.contains(ParentProp)) Map.empty[String, String]
        else Map(ParentProp -> baseV.getOrElse(0L).toString)
      val body = (plannedProps ++ parentStamp +
        (FenceProp -> fence) + (RefOwnerProp -> refName))
        .toSeq.sortBy(_._1)
        .map { case (k, v) => s"#$k=$v" } ++ refs.map(_.render) ++ inline.map(_.render)
      def claimIsOurs(): Boolean =
        MetaIO.exists(manifestPath(root, next)) &&
          allProps(root, next).get(FenceProp).contains(fence)
      def fenceLost(stage: String): Nothing =
        throw new java.util.ConcurrentModificationException(
          s"commit of v=$next to $root lost its claim $stage the pointer flip " +
            "(reclaimed as stale by a racing committer — this committer paused " +
            "longer than spark.graft.manifest.claimGraceMs); nothing was published")
      try {
        // the CLAIM: create-new manifest with full content — the one
        // win-or-fail step; nothing points at it until the flip below
        MetaIO.createNew(manifestPath(root, next), body.mkString("\n"))
        // post-claim BACKSTOP: published state can move between the scan
        // and the claim (a fast-forward publish, another ref's flip) — a
        // won claim now sitting at-or-below main's pointer or on another
        // ref's pinned head squats a foreign number; release it, record
        // the obstacle, and re-plan against the fresh base
        if (next <= currentVersion(root).getOrElse(0L)
            || pinnedByOthers().contains(next)) {
          MetaIO.delete(manifestPath(root, next))
          skipFloor = math.max(skipFloor, next)
        } else {
        // test hook: an injected claim→flip pause (simulates the driver GC
        // stall the fencing protects against); 0 — no-op — in production
        confLong("spark.graft.manifest.testClaimPauseMs", 0L) match {
          case 0L => ()
          case ms => Thread.sleep(ms)
        }
        if (!claimIsOurs()) fenceLost("before")
        branch match {
          case Some(b) =>
            // only the BRANCH ref moves; main is untouched and retention
            // GC stays off this path (the staged head is ref-pinned, and
            // main's window is main commits' business)
            MetaIO.writeAtomic(refPath(root, b), s"branch:$next")
            // a racing same-branch committer that allocated a DIFFERENT
            // number (possible only if foreign published state moved
            // mid-race) may have overwritten this flip — surface it
            if (!ManifestTable.refs(root).get(b).exists(_.version == next))
              fenceLost("after")
          case None =>
            MetaIO.writeAtomic(pointerPath(root), next.toString)
        }
        if (!claimIsOurs()) fenceLost("after")
        // publish the NDV sketch beside the landed manifest: fresh-data
        // sketch ∪ the base's (append/update), or alone (overwrite — a
        // full rewrite RESETS the estimate, the only subtraction HLL
        // gets). A full replacement WITHOUT a sketch (opted-out writer,
        // failed harvest) publishes an EMPTY sidecar instead: it cuts
        // the parent walk, or readers would present the REPLACED table's
        // stale NDV as this snapshot's. Best-effort and post-flip: a
        // sketch failure or a crash here costs planning statistics,
        // never the commit — readers walk to the parent's sketch
        // ([[NdvStats.forVersion]]).
        scala.util.Try {
          val carriedBase = planned.carried.nonEmpty ||
            planned.entries.exists(_.seq.isDefined)
          // publish whatever the write HARVESTED: attach() already made
          // the per-table decision (table property first, session conf
          // as default), so re-filtering on the session conf here would
          // silently discard a stats.ndv=true table's sketch under a
          // stats-off fleet default — the write would pay the full
          // sketch cost and publish nothing
          planned.ndv match {
            case Some(m) =>
              // a STALE parent resolution (a row-adding ancestor carried
              // no sketch) keeps missing that gap's values after the
              // union — the merged sidecar inherits the marker so the
              // under-count stays visible until compute_stats re-bases.
              // resolveFresh waits out the sibling-commit sidecar lag.
              val parent = if (carriedBase)
                baseV.flatMap(p => NdvStats.resolveFresh(root, p)) else None
              val merged = parent
                .map(r => NdvStats.merge(
                  NdvStats.alignHistogram(r.sketches, m), m))
                .getOrElse(m)
              // a carried base whose sketch resolution FAILED outright
              // (pre-stamp history, broken walk) or resolved to the
              // EMPTY sentinel (an opted-out full replacement) means the
              // merged sketch covers only this commit's fresh rows — a
              // massive under-count that must publish MARKED, never
              // authoritative
              val mergedStale = parent.exists(_.stale) ||
                (carriedBase && parent.forall(_.sketches.isEmpty))
              // test hook: an injected merge→write delay (the GC-stall
              // window the racer-side resolveFresh retry waits out)
              confLong("spark.graft.stats.testSidecarPauseMs", 0L) match {
                case 0L => ()
                case ms => Thread.sleep(ms)
              }
              NdvStats.write(root, next, merged, stale = mergedStale)
            case None if !carriedBase =>
              NdvStats.write(root, next, Map.empty)
            case None =>
              // inherit-only commit (delete/metadata/failed harvest):
              // readers walk to the parent's sidecar. REACHABILITY
              // guarantee: a long run of such commits pushes the walk
              // toward its 64-hop cap, after which NDV silently
              // disappears — republish the inherited sketch here once
              // the distance passes half the cap (one tiny sidecar
              // write per 32 commits, walk cost amortized the same
              // way). Create-if-absent: a racing committer's own
              // (richer, merged) sketch must win whatever the order.
              NdvStats.resolve(root, next).foreach { r =>
                if (r.hops >= 32)
                  NdvStats.writeIfAbsent(root, next, r.sketches, r.stale)
              }
          }
        }
        if (branch.isEmpty) gc(root, next, retain)
        return next
        }
      } catch {
        case e: FileAlreadyExistsException =>
          if (foreignAt(next)) {
            // another ref's manifest landed on this number between the
            // scan and the claim — never contend with or reclaim it
            skipFloor = math.max(skipFloor, next)
          } else if (reclaimIfStale(root, next, refName)) {
            // crashed committer's orphan removed; same base, retry now
          } else if (next <= currentVersion(root).getOrElse(0L)
              || pinnedByOthers().contains(next)) {
            // foreign PUBLISHED state landed on this number between the
            // scan and the claim — never contend with it; skip above
            skipFloor = math.max(skipFloor, next)
          } else {
            attempt += 1
            if (!rebase || attempt > commitRetries) throw e
            // a racing committer holds the claim; its flip (ms away)
            // surfaces a new base for the re-plan
            Thread.sleep(50L * attempt)
          }
      }
      } // !baseStale
    }
    throw new IllegalStateException("unreachable")
  }

  /** True iff v's manifest is an orphan claim — above the live pointer
    * and older than the claim grace (claim→flip is milliseconds, so a
    * live committer's claim is never this old) — and was deleted.
    * Ref-pinned versions are never reclaimed (a rolled-over snapshot a
    * tag protects must not be destroyed by a later commit), and neither
    * is a manifest STAMPED as another ref's: a branch's retained
    * intermediate commit looks exactly like a stale claim from main's
    * side (above the pointer, unpinned, old), and reclaiming it would
    * destroy staged history. */
  private def reclaimIfStale(root: String, v: Long, refName: String): Boolean = {
    val p = manifestPath(root, v)
    val live = currentVersion(root).getOrElse(0L)
    val stale = v > live && MetaIO.exists(p) &&
      MetaIO.mtimeMillis(p) < System.currentTimeMillis() - claimGraceMs &&
      !pinnedVersions(root).contains(v) &&
      !ownerOf(root, v).exists(_ != refName)
    if (stale) MetaIO.delete(p)
    stale
  }

  /** Full-table commit: every row of `df` becomes the new snapshot.
    * `props` REPLACE the previous commit's properties (an overwrite is a
    * new history; pass `liveProps(root)` to carry them). Never rebases:
    * losing the claim to a concurrent commit surfaces as
    * [[FileAlreadyExistsException]] (an overwrite that silently discarded
    * the winner's rows would be a lost update). `format` defaults to the
    * table's current format (parquet for a new table). */
  def commit(df: DataFrame, root: String, retain: Int = 2,
             partitionDayOf: Option[String] = None,
             props: Map[String, String] = Map.empty,
             format: Option[String] = None,
             partitionExpr: Option[(String, org.apache.spark.sql.Column)] = None,
             partitionCols: Seq[String] = Nil,
             op: String = "overwrite",
             preclustered: Boolean = false,
             rewriteOrder: Option[org.apache.spark.sql.Column] = None): Long = {
    val fmt = format.orElse(formatOf(root)).getOrElse("parquet")
    val fresh = writePool(df, root, partitionDayOf, fmt, partitionExpr, partitionCols,
      preclustered = preclustered, rewriteOrder = rewriteOrder)
    // a full rewrite re-derives every file's day in THIS session: its zone
    // is the table's zone, whatever history said
    val zp = writeZoneOf(df, partitionDayOf).map(ZoneProp -> _).toMap
    // the label is THIS commit's, never inherited through carried props
    commitLoop(root, retain, rebase = false)(_ =>
      Planned(fresh.entries, props - OpProp ++ zp + (OpProp -> op),
        ndv = fresh.ndv))
  }

  /** Append commit (INSERT INTO semantics): write only `df`'s files into
    * the pool and publish a manifest referencing live ∪ new — commit cost
    * proportional to the appended data, never to table size (the property
    * that makes per-batch ingestion viable at 100 TB). First append on an
    * empty table degenerates to [[commit]]. Rebases on claim conflicts:
    * two concurrent appenders both succeed, union of both file sets. */
  def append(df: DataFrame, root: String, retain: Int = 2,
             partitionDayOf: Option[String] = None,
             props: Map[String, String] = Map.empty,
             format: Option[String] = None,
             partitionExpr: Option[(String, org.apache.spark.sql.Column)] = None,
             partitionCols: Seq[String] = Nil): Long = {
    val fmt = format.orElse(formatOf(root)).getOrElse("parquet")
    val fresh = writePool(df, root, partitionDayOf, fmt, partitionExpr, partitionCols)
    val zone = writeZoneOf(df, partitionDayOf)
    // base ∪ new, props inherited ++ ours: the live manifest always
    // exposes the latest value per property key, so idempotence markers
    // survive later appends — all re-read per attempt when rebasing.
    // Base shard refs carry as LINES: append cost never reads them.
    commitLoop(root, retain, rebase = true) { base =>
      Planned(base.inline ++ fresh.entries,
        base.props ++ props ++ mergeZoneProp(base.props, zone) +
          (OpProp -> "append"),
        carried = base.refs, ndv = fresh.ndv)
    }
  }

  /** Merge-on-read DELETE commit: stage `tombstones` — a DataFrame of
    * (`__file` relative data path, `__pos` file row index) — as parquet
    * under the reserved [[DeleteDir]] and publish base ∪ tombstones. NO
    * data file is read or rewritten: commit cost follows the number of
    * DELETED rows, not the table (the property a 10-row delete on a
    * 100 TB table needs). Readers anti-join them out until a compaction
    * or full rewrite materializes them away. Rebases like [[append]]
    * (tombstones reference specific files, so concurrent appends of NEW
    * files never conflict logically). */
  /** Commit files ALREADY WRITTEN by streaming tasks ([[graft] the V2
    * STREAMING_WRITE leg]): move each staged file into the pool (stats
    * from its own footer, one metadata read), then publish one manifest —
    * an append carrying base ∪ new, or a full replacement (streaming
    * Complete mode). `schema` is the files' PHYSICAL schema. */
  private[graft] def commitStagedFiles(root: String,
                                       staged: Seq[(String, String)],
                                       schema: StructType, format: String,
                                       retain: Int,
                                       overwrite: Boolean,
                                       props: Map[String, String]): Long = {
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    // the WRITER's format, passed explicitly: an empty table has no live
    // entries to infer it from, and a mis-suffixed pool name would corrupt
    // the manifest's per-extension read dispatch
    val fmt = format
    val entries = staged.map { case (p, sub) =>
      val stats = FileStats.collect(p, fmt, schema, conf)
      val len = MetaIO.size(p)
      val base = s"${UUID.randomUUID().toString.take(16)}.$fmt"
      val name = if (sub.isEmpty) base else s"$sub/$base"
      MetaIO.rename(p, s"$root/data/$name")
      val moveIn = System.currentTimeMillis()
      MetaIO.setTimes(s"$root/data/$name", moveIn)
      FileEntry(name, FileStats.withBytes(stats, len, moveIn))
    }
    if (overwrite)
      commitLoop(root, retain, rebase = false)(_ =>
        Planned(entries, props + (OpProp -> "stream")))
    else
      commitLoop(root, retain, rebase = true) { base =>
        Planned(base.inline ++ entries,
          base.props ++ props + (OpProp -> "stream"), carried = base.refs)
      }
  }

  /** Merge-on-read DELETE commit: the tombstoned positions publish as
    * DELETION VECTORS (`dv_*.bin`, [[DeleteVectors]]) in the SAME commit
    * — every scan between the DML and the next maintenance pass pays one
    * RANGED read per tombstoned file, never a scan of staged tombstone
    * parquet (the shape a CDC-churned table lives in). Zero data files
    * rewritten; slice delete-versions stamp inside the commit loop. */
  def appendDeletes(tombstones: DataFrame, root: String, retain: Int = 2): Long = {
    val counts = touchedCountsOf(tombstones)
    val touched = counts.keySet
    val fresh = writeDvPoolDirect(tombstones, root, counts)
    commitLoop(root, retain, rebase = true) { base =>
      requireTombstonedFilesLive(root, base, touched)
      Planned(base.inline ++ fresh, base.props + (OpProp -> "delete"),
        carried = base.refs)
    }
  }

  /** The pre-deletion-vector positional commit — parquet tombstone files
    * under [[DeleteDir]]. Kept as the EXTERNAL CDC-writer shape (a
    * non-Spark writer that can emit sorted parquet but not our dv blob)
    * and as the legacy backlog the [[rewriteDeletes]] merge and the
    * parquet-tombstone read path stay covered against. */
  private[graft] def appendDeletesParquet(tombstones: DataFrame, root: String,
                                          retain: Int = 2): Long = {
    val touched = touchedRelsOf(tombstones)
    val fresh = writeDeletePool(tombstones, root, touched)
    commitLoop(root, retain, rebase = true) { base =>
      requireTombstonedFilesLive(root, base, touched)
      Planned(base.inline ++ fresh, base.props + (OpProp -> "delete"),
        carried = base.refs)
    }
  }


  /** The encoded-rel file list a positional-delete entry names, carried in
    * its stats field (`files=enc1,enc2,…` for parquet tombstones, the
    * `dv=` slice index for deletion vectors) so SCAN PLANNING resolves
    * the affected files from the manifest alone — no Spark job, no
    * delete-file read at plan time. None for entries written before the
    * list existed (planners fall back to reading the delete files). */
  def deleteTouchedRels(e: FileEntry): Option[Set[String]] =
    e.stats.filter(_.startsWith("files=")).map(
      _.stripPrefix("files=").split(',').filter(_.nonEmpty)
        .map(s => java.net.URLDecoder.decode(s, java.nio.charset.StandardCharsets.UTF_8))
        .toSet)
      .orElse(e.stats.flatMap(DeleteVectors.decodeIndex)
        .map(_.map(_.relEnc).toSet))

  /** EQUALITY-delete commit: stage `keys` — a DataFrame whose columns are
    * the retraction key (physical names, primitive types) — as parquet
    * under [[DeleteDir]] and publish base ∪ keys. NO data file is read or
    * rewritten and no positions are computed: commit cost follows the
    * number of retracted KEYS, which is what a CDC writer that cannot
    * know row positions needs (Iceberg v2 equality deletes, the Flink
    * shape). Readers anti-join older-sequence rows out until compaction
    * materializes; appends in the SAME or a later commit are untouched
    * (sequence-scoped), so deleted keys can be re-inserted. Never
    * conflicts with concurrent appends — rebases like [[append]]. */
  def appendEqualityDeletes(keys: DataFrame, root: String, retain: Int = 2): Long = {
    require(exists(root), s"no committed version under $root")
    val fresh = writeEqDeletePool(keys, root)
    commitLoop(root, retain, rebase = true) { base =>
      Planned(base.inline ++ fresh, base.props + (OpProp -> "delete"),
        carried = base.refs)
    }
  }

  /** Deletes-only maintenance — Iceberg's `rewrite_position_delete_files`
    * procedure shape: shrink the delete BACKLOG without rewriting any
    * data file (compaction materializes deletes but pays a full data
    * rewrite; this pays only the backlog):
    *
    *  - POSITIONAL tombstones (parquet files and earlier deletion
    *    vectors) merge into ONE deletion vector ([[DeleteVectors]]) —
    *    one compact per-(target, delete-version) section each, so a
    *    reader pays one ranged read per file — dropping tombstones whose
    *    target data file is no longer live (its rewriter already
    *    materialized them). Per-section delete versions preserve
    *    change-feed provenance, and the merged entry keeps the NEWEST
    *    source version as its own sequence, so a stream past it never
    *    sees the rewrite as a change;
    *  - EQUALITY delete files that can no longer retract anything — no
    *    live data file carries an older commit sequence — drop outright.
    *
    * Returns the committed version (the current one when the backlog is
    * already minimal). Superseded delete files are reclaimed by GC as
    * their snapshots expire. Rebases over concurrent appends; a
    * concurrent commit that REMOVED one of the merging delete entries
    * (compaction) surfaces as [[java.util.ConcurrentModificationException]]. */
  def rewriteDeletes(spark: SparkSession, root: String, retain: Int = 2): Long = {
    require(exists(root), s"no committed version under $root")
    val live = liveEntries(root)
    val (delAll0, dataEntries) = live.partition(e => isDeleteEntry(e.rel))
    // CDC sidecars are provenance, not backlog: they carry untouched
    // through delete maintenance EXCEPT provably-dead ones — once every
    // partition key's change horizon has reached a sidecar's version, no
    // servable feed window can include it (windows need sV >= horizon)
    val (cdcAll, delAll) = delAll0.partition(e => isCdcEntry(e.rel))
    val deadCdc: Set[String] =
      if (cdcAll.isEmpty) Set.empty
      else {
        val (byKey, floor) = decodeChangeKeys(liveProps(root))
        val minHorizon = (byKey.values ++ Seq(floor)).min
        cdcAll.filter(_.seq.getOrElse(0L) <= minHorizon).map(_.rel).toSet
      }
    val (eqDel, posDel) = delAll.partition(e => isEqDeleteEntry(e.rel))
    val liveRels = dataEntries.map(e => encodedRel(root, e.rel)).toSet
    // an eq delete at sequence s retracts only rows with seq < s: when
    // every live data file is at s or newer, the file is inert
    val minDataSeq =
      if (dataEntries.isEmpty) Long.MaxValue
      else dataEntries.map(_.seq.getOrElse(0L)).min
    val deadEq = eqDel.filter(_.seq.getOrElse(0L) <= minDataSeq).map(_.rel).toSet
    // positional artifacts are worth merging past one, or when one names
    // targets that died — metadata-only off the stats lists (files= /
    // dv= indexes); a pre-list parquet entry forces one distinct-read of
    // THAT file (an UNDER-approximated target set would silently drop
    // its tombstones in the merge and resurrect deleted rows)
    val perEntryTargets: Seq[Set[String]] = posDel.map { e =>
      deleteTouchedRels(e).getOrElse(
        spark.read.parquet(dataPath(root, e.rel))
          .select("__file").distinct().collect().map(_.getString(0)).toSet)
    }
    val posTargets: Set[String] = perEntryTargets.flatten.toSet
    // artifacts merge PER LABEL GROUP (plain `dv_` vs a MOR MERGE's
    // delete-labeled `dv_del_`), so the change feed's per-row delete
    // labels survive maintenance — work exists when some GROUP has >1
    // artifacts or any artifact names dead targets (a cross-group pair
    // of singletons is already minimal; "merging" it would just churn
    // fresh uuids forever)
    val grouped: Map[Boolean, Seq[(FileEntry, Set[String])]] =
      posDel.zip(perEntryTargets).groupBy { case (e, _) => isDeleteLabeledDv(e.rel) }
    // per-GROUP work decision: a group merges when it has >1 artifacts or
    // any of its artifacts names dead targets; a group that is already a
    // single all-live blob carries untouched (re-writing it under a fresh
    // uuid would be pure churn)
    val groupNeeds: Map[Boolean, Boolean] = grouped.map { case (lab, grp) =>
      lab -> (grp.size > 1 ||
        grp.exists { case (_, ts) => !ts.subsetOf(liveRels) })
    }
    val needPos = groupNeeds.values.exists(identity)
    if (!needPos && deadEq.isEmpty && deadCdc.isEmpty)
      return currentVersion(root).getOrElse(0L)

    val mergedRels: Set[String] =
      grouped.filter(g => groupNeeds(g._1)).values.flatten.map(_._1.rel).toSet
    val fresh: Seq[FileEntry] =
      if (!needPos) Nil
      else grouped.toSeq.filter(g => groupNeeds(g._1))
        .sortBy(_._1).flatMap { case (labeled, grp) =>
        val keep = grp.flatMap(_._2).toSet.intersect(liveRels)
        if (keep.isEmpty) Nil // every target died: this backlog vanishes
        else {
          // tombstones with their ORIGINAL delete version: parquet files
          // carry it at entry level, dv slices per section; duplicates
          // keep the earliest (the commit that really deleted the row).
          // Dedup is per group — a cross-group duplicate cannot arise
          // through the engine (a deleted row is invisible to later DML)
          // and would be read-harmless anyway (both slices mark it dead).
          val (dvDel, pqDel) = grp.map(_._1).partition(e => isDvEntry(e.rel))
          val parts =
            pqDel.map(e => spark.read.parquet(dataPath(root, e.rel))
              .select(col("__file").cast("string"), col("__pos").cast("long"))
              .withColumn("__seq", lit(e.seq.getOrElse(0L)))) ++
            (if (dvDel.isEmpty) Nil
             else Seq(DeleteVectors.tombstoneDf(spark, root, dvDel, withSeq = true)))
          val tomb = parts.reduce(_ unionByName _)
            .where(col("__file").isInCollection(keep))
            .groupBy(col("__file"), col("__pos"))
            .agg(min(col("__seq")).as("__seq"))
          Seq(writeDvPool(spark, tomb, root,
            namePrefix = if (labeled) "dv_del_" else "dv_"))
        }
      }
    commitLoop(root, retain, rebase = true) { base =>
      val (delRefs, dataRefs) = base.refs.partition(_.key == DeleteDir)
      val delEntries = delRefs.flatMap(r => shardEntries(root, r.rel)) ++
        base.inline.filter(e => isDeleteEntry(e.rel))
      if (!mergedRels.subsetOf(delEntries.map(_.rel).toSet))
        throw new java.util.ConcurrentModificationException(
          s"delete files merging under $root were removed concurrently " +
            "(compaction?); recompute against the new snapshot")
      // delete entries added by concurrent commits (absent from the merge
      // set) carry through untouched, data shards carry as refs unread
      val keptDel = delEntries.filterNot(e =>
        mergedRels.contains(e.rel) || deadEq.contains(e.rel) ||
          deadCdc.contains(e.rel))
      val dataInline = base.inline.filterNot(e => isDeleteEntry(e.rel))
      Planned(dataInline ++ keptDel ++ fresh,
        base.props + (OpProp -> "rewrite"), carried = dataRefs)
    }
  }

  private def writeEqDeletePool(keys: DataFrame, root: String): Seq[FileEntry] = {
    val stage = s"$root/stage/${UUID.randomUUID().toString.take(12)}"
    keys.coalesce(1).write.parquet(stage)
    val fresh = MetaIO.listFilesRec(stage)
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map { st =>
        val rel = s"$DeleteDir/eq_${UUID.randomUUID().toString.take(16)}.parquet"
        MetaIO.rename(st.getPath.toString, s"$root/data/$rel")
        MetaIO.setTimes(s"$root/data/$rel", System.currentTimeMillis())
        FileEntry(rel, None)
      }
    MetaIO.delete(stage, recursive = true)
    fresh
  }

  /** Distinct data files a tombstone set names (encoded-rel form). */
  private def touchedRelsOf(tombstones: DataFrame): Set[String] =
    tombstones.select(col("__file").cast("string")).distinct()
      .collect().map(_.getString(0)).toSet

  /** Per-target-file tombstone counts — the same single pass the rel
    * listing costs, but the counts let the dv writer scale its
    * parallelism with position volume, not just file count. Driver
    * memory is bounded by the touched-file count, never by rows. */
  private def touchedCountsOf(tombstones: DataFrame): Map[String, Long] =
    tombstones.select(col("__file").cast("string")).groupBy(col("__file"))
      .count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Tombstones are only meaningful against the exact files they name: a
    * concurrent compaction/rewrite that replaced those files would turn
    * this commit into a silent no-op (DELETE) or a row resurrection
    * (UPDATE appends the new versions while the compacted copies of the
    * old ones survive). Same validate-against-base discipline as
    * [[replaceDays]] — surface the conflict, never publish it. Only the
    * shards of the KEYS the tombstones touch are opened. */
  private def requireTombstonedFilesLive(root: String, base: Base,
                                         touched: Set[String]): Unit = {
    // tombstone __file values are URL-ENCODED rels; compare keys in the
    // same space by encoding each candidate key through a synthetic rel
    val touchedKeys = touched.map(keyOf)
    def encKey(k: String): String =
      if (k.isEmpty) "" else keyOf(encodedRel(root, s"$k/x"))
    val live = base.entriesForKeys(k => k != DeleteDir && touchedKeys.contains(encKey(k)))
      .filterNot(e => isDeleteEntry(e.rel))
      .map(e => encodedRel(root, e.rel)).toSet
    if (!touched.subsetOf(live))
      throw new java.util.ConcurrentModificationException(
        s"files tombstoned by this merge-on-read commit were rewritten " +
          s"concurrently under $root; recompute against the new snapshot")
  }

  /** Merge-on-read UPDATE/MERGE commit: tombstones for the OLD positions
    * of the touched rows plus their REWRITTEN versions as new data files,
    * published in ONE atomic commit — base ∪ tombstones ∪ new files.
    * Commit cost follows the touched rows, never the table; readers see
    * either the pre-update snapshot or the complete post-update one.
    *
    * PER-ROW CHANGE-FEED LABELS (Delta CDC's per-row fidelity): a MERGE
    * caller splits its outcome three ways and this commit records each —
    *  - `df`: rewritten versions of UPDATE-matched rows (plain entries;
    *    the feed pairs them with `tombstones` as update pre/postimages);
    *  - `insertRows`: NOT-MATCHED inserts, stamped `__op=insert` in
    *    their manifest stats ([[FileStats.OpKey]]) so the feed serves
    *    them as true `insert` events;
    *  - `deleteTombstones`: positions DELETE clauses killed, written as
    *    `dv_del_*` blobs ([[isDeleteLabeledDv]]) so the feed serves them
    *    as true `delete` events.
    * All land in the ONE atomic commit. `None` everywhere = the plain
    * UPDATE shape, classified by manifest shape exactly as before. */
  def appendWithDeletes(df: DataFrame, tombstones: DataFrame, root: String,
                        retain: Int = 2,
                        partitionDayOf: Option[String] = None,
                        format: Option[String] = None,
                        partitionExpr: Option[(String, org.apache.spark.sql.Column)] = None,
                        partitionCols: Seq[String] = Nil,
                        insertRows: Option[DataFrame] = None,
                        deleteTombstones: Option[DataFrame] = None,
                        dfIsEmpty: Boolean = false): Long = {
    val fmt = format.orElse(formatOf(root)).getOrElse("parquet")
    val counts = touchedCountsOf(tombstones)
    val delCounts = deleteTombstones.map(touchedCountsOf).getOrElse(Map.empty)
    val touched = counts.keySet ++ delCounts.keySet
    // `dfIsEmpty` skips the rewrite pool write when the CALLER already
    // knows df carries no rows (a delete+insert-only MERGE) — a zero-row
    // pool write would stage an empty file the manifest must never carry
    val freshData =
      if (dfIsEmpty) PoolWrite(Nil, None)
      else writePool(df, root, partitionDayOf, fmt, partitionExpr, partitionCols)
    val freshIns = insertRows.map { d =>
      val w = writePool(d, root, partitionDayOf, fmt, partitionExpr, partitionCols)
      w.copy(entries = w.entries.map(e =>
        e.copy(stats = FileStats.withOp(e.stats, "insert"))))
    }
    // EMPTY tombstones degrade to a plain append (an insert-only MERGE
    // outcome): no delete blob, no tombstone liveness check, and the
    // commit labels "append" so the change feed serves plain inserts
    // instead of fabricating an update-shaped version
    val freshDel =
      (if (counts.isEmpty) Nil else writeDvPoolDirect(tombstones, root, counts)) ++
        (if (delCounts.isEmpty) Nil
         else writeDvPoolDirect(deleteTombstones.get, root, delCounts,
           namePrefix = "dv_del_"))
    val op = if (touched.isEmpty) "append" else "update"
    val zone = writeZoneOf(if (dfIsEmpty) insertRows.getOrElse(df) else df,
      partitionDayOf)
    val ndv = (freshData.ndv.toSeq ++ freshIns.flatMap(_.ndv).toSeq)
      .reduceOption(NdvStats.merge)
    commitLoop(root, retain, rebase = true) { base =>
      if (touched.nonEmpty) requireTombstonedFilesLive(root, base, touched)
      Planned(base.inline ++ freshDel ++ freshData.entries ++
        freshIns.toSeq.flatMap(_.entries),
        base.props ++ mergeZoneProp(base.props, zone) + (OpProp -> op),
        carried = base.refs, ndv = ndv)
    }
  }

  private def writeDeletePool(tombstones: DataFrame, root: String,
                              touched: Set[String]): Seq[FileEntry] = {
    val filesList = "files=" + touched.toSeq.sorted
      .map(r => java.net.URLEncoder.encode(r, java.nio.charset.StandardCharsets.UTF_8))
      .mkString(",")
    val stage = s"$root/stage/${UUID.randomUUID().toString.take(12)}"
    // globally sorted by (__file, __pos): task-side tombstone loading
    // pushes a `__file = <rel>` filter, and sorted files give it tight
    // row-group ranges to skip on (Iceberg sorts delete files the same
    // way, for the same reason). Small row groups make the skipping
    // fine-grained — a reader should pay for ITS file's positions, not
    // the whole backlog (with the default 128 MB group a million-row
    // delete file is one group and every task decodes all of it).
    tombstones.select(col("__file").cast("string"), col("__pos").cast("long"))
      .sort(col("__file"), col("__pos"))
      .write.option("parquet.block.size", (1L << 20).toString).parquet(stage)
    val fresh = MetaIO.listFilesRec(stage)
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map { st =>
        val rel = s"$DeleteDir/${UUID.randomUUID().toString.take(16)}.parquet"
        MetaIO.rename(st.getPath.toString, s"$root/data/$rel")
        MetaIO.setTimes(s"$root/data/$rel", System.currentTimeMillis())
        FileEntry(rel, Some(filesList))
      }
    MetaIO.delete(stage, recursive = true)
    fresh
  }

  /** DIRECT deletion-vector write from a DML commit's (`__file`,
    * `__pos`) tombstones — DISTRIBUTED: targets range-partition by file
    * (a file's positions land whole in one task) and each task streams
    * its own `dv_*.bin` blob section by section, so nothing funnels
    * through the driver however many rows the DML touched. Slice
    * delete-versions carry [[DeleteVectors.SeqSentinel]]; the commit
    * loop stamps them with the version the claim wins. */
  private def writeDvPoolDirect(tombstones: DataFrame, root: String,
                                touched: Map[String, Long],
                                namePrefix: String = "dv_"): Seq[FileEntry] = {
    val spark = tombstones.sparkSession
    import spark.implicits._
    val stageDir = s"$root/stage/dvw_${UUID.randomUUID().toString.take(12)}"
    val conf = SerializableHadoopConf.broadcast(spark)
    // one blob per ~64 target files: parallel write at scale, a bounded
    // slice index per manifest entry, same one-ranged-read-per-file shape.
    // Parallelism follows BOTH backlog dimensions: ~64 target files per
    // blob bounds each entry's slice index, and ~4M positions per blob
    // keeps a DENSE DML (millions of tombstones over few files) off a
    // single-task funnel. Ranging on (__file, __pos) lets one dense
    // file's positions split across tasks at a position boundary — each
    // side emits its own slice, and readers union slices per file
    // ([[graft.sources.v2.MorDeletes.positionsFor]] merges+dedups), so a
    // split is invisible beyond one extra ranged read.
    val rowsPerBlob =
      math.max(1L, confLong("spark.graft.delete.dvRowsPerBlob", 4L << 20))
    val totalRows = touched.valuesIterator.sum
    val nOut = math.max(1L, math.min(64L,
      math.max((touched.size + 63L) / 64L,
        (totalRows + rowsPerBlob - 1) / rowsPerBlob))).toInt
    val written: Seq[(String, Seq[(String, Long, Int, Long)])] = tombstones
      .select(col("__file").cast("string"), col("__pos").cast("long"))
      .repartitionByRange(nOut, col("__file"), col("__pos"))
      .sortWithinPartitions(col("__file"), col("__pos"))
      .as[(String, Long)]
      .mapPartitions { it =>
        if (!it.hasNext) Iterator.empty
        else {
          val path = s"$stageDir/${UUID.randomUUID().toString.take(16)}.bin"
          val p = new org.apache.hadoop.fs.Path(path)
          val fs = p.getFileSystem(conf.value.value)
          val out = fs.create(p, true)
          val slices = Vector.newBuilder[(String, Long, Int, Long)]
          var offset = 0L
          try {
            var cur: String = null
            var last = Long.MinValue
            val buf = Vector.newBuilder[Long]
            def flush(): Unit = if (cur != null) {
              val ps = buf.result()
              val bytes = DeleteVectors.encodePositions(ps)
              out.write(bytes)
              slices += ((cur, offset, bytes.length, ps.length.toLong))
              offset += bytes.length
              buf.clear()
            }
            it.foreach { case (f, pos) =>
              if (f != cur) { flush(); cur = f; last = Long.MinValue }
              if (pos != last) { buf += pos; last = pos } // UPDATE chains may dup
            }
            flush()
          } finally out.close()
          Iterator.single((path, slices.result()))
        }
      }.collect().toSeq
    val fresh = written.map { case (stagePath, sl) =>
      val rel = s"$DeleteDir/$namePrefix${UUID.randomUUID().toString.take(16)}.bin"
      MetaIO.rename(stagePath, s"$root/data/$rel")
      MetaIO.setTimes(s"$root/data/$rel", System.currentTimeMillis())
      FileEntry(rel, Some(DeleteVectors.encodeIndex(sl.map { case (f, off, len, n) =>
        DeleteVectors.Slice(f, off, len, DeleteVectors.SeqSentinel, n) })))
    }
    MetaIO.delete(stageDir, recursive = true) // orphaned retry attempts
    fresh
  }

  /** Write one DELETION VECTOR blob from a (`__file`, `__pos`, `__seq`)
    * tombstone DataFrame: globally sorted by (file, version, position),
    * streamed to the blob section by section through a local iterator —
    * driver memory stays O(one section), however deep the backlog. The
    * returned entry carries the slice index in its stats field and the
    * NEWEST source version as its sequence (a reader/stream that already
    * consumed past it sees no new delete entry). */
  private def writeDvPool(spark: SparkSession, tomb: DataFrame,
                          root: String, namePrefix: String = "dv_"): FileEntry = {
    val stage = s"$root/stage/dv_${UUID.randomUUID().toString.take(12)}.bin"
    val p = new org.apache.hadoop.fs.Path(stage)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Option(p.getParent).foreach(fs.mkdirs(_))
    val out = fs.create(p, true)
    val slices = Vector.newBuilder[DeleteVectors.Slice]
    var offset = 0L
    var maxSeq = 0L
    try {
      val it = tomb
        .select(col("__file").cast("string"), col("__seq").cast("long"),
          col("__pos").cast("long"))
        .sort(col("__file"), col("__seq"), col("__pos"))
        .toLocalIterator()
      var cur: (String, Long) = null
      val buf = Vector.newBuilder[Long]
      def flush(): Unit = if (cur != null) {
        val ps = buf.result()
        val bytes = DeleteVectors.encodePositions(ps)
        out.write(bytes)
        slices += DeleteVectors.Slice(cur._1, offset, bytes.length, cur._2,
          ps.length.toLong)
        offset += bytes.length
        maxSeq = math.max(maxSeq, cur._2)
        buf.clear()
      }
      while (it.hasNext) {
        val r = it.next()
        val key = (r.getString(0), r.getLong(1))
        if (key != cur) { flush(); cur = key }
        buf += r.getLong(2)
      }
      flush()
    } finally out.close()
    val rel = s"$DeleteDir/$namePrefix${UUID.randomUUID().toString.take(16)}.bin"
    MetaIO.rename(stage, s"$root/data/$rel")
    MetaIO.setTimes(s"$root/data/$rel", System.currentTimeMillis())
    FileEntry(rel, Some(DeleteVectors.encodeIndex(slices.result())),
      seq = Some(maxSeq))
  }

  /** Partition-scoped commit: replace the named days with `df`'s rows;
    * files of every other day are carried into the new manifest untouched
    * (this is the Iceberg copy-on-write property — commit cost follows
    * the touched data, not the table). `df` must be the FULL new contents
    * of `removeDays` (plus any rows landing in other days, which append
    * to those days). Rebases over concurrent commits that did not touch
    * `removeDays` (e.g. appends to other days); throws
    * [[java.util.ConcurrentModificationException]] when they did — `df`
    * was computed against a base whose touched days are gone.
    * `expectedVersion` anchors the check to the version `df` was COMPUTED
    * from ([[readRawPinned]]), catching commits that landed between that
    * read and this call; default = the live version at entry. */
  /** True for keys of the days being replaced/dropped. Delete-entry keys
    * carry day-independently (their tombstones name specific files: inert
    * for replaced files, still applied for kept). */
  private def removedDayKey(removeDays: Set[String])(key: String): Boolean =
    key.startsWith(s"$DayCol=") && removeDays.contains(key.stripPrefix(s"$DayCol="))

  /** A day-scoped rewrite needs a day-partitioned table: any DATA key
    * outside a `__day=` directory refuses — checked from keys alone. */
  private def requireDayLayout(root: String, base: Base, op: String): Unit = {
    val dataKeys = base.refs.filterNot(_.key == DeleteDir).map(_.key) ++
      base.inline.filterNot(e => isDeleteEntry(e.rel)).map(e => keyOf(e.rel))
    if (dataKeys.exists(k => !k.startsWith(s"$DayCol=")))
      throw new IllegalStateException(
        s"$root holds unpartitioned files; $op needs a day-partitioned table")
  }

  /** The touched-day file set of one manifest, in two tiers: the shard-ref
    * lines for those days (compared first — shards are immutable, so equal
    * refs PROVE equal contents with zero reads) and the materialized rel
    * set (read only when the refs differ, e.g. across a fold). */
  private def touchedDayState(root: String, refs: Seq[ShardRef],
                              inline: Seq[FileEntry], removed: String => Boolean)
      : (Seq[ShardRef], Seq[String], () => Set[String]) = {
    val rs = refs.filter(r => removed(r.key))
    val il = inline.filter(e => removed(keyOf(e.rel))).map(_.rel)
    (rs, il, () => (rs.flatMap(r => shardEntries(root, r.rel).map(_.rel)) ++ il).toSet)
  }

  /** DELETE entries of one manifest state (DeleteDir shard contents +
    * inline delete entries) — bounded by the merge-on-read backlog. */
  private def deleteEntriesOf(root: String, refs: Seq[ShardRef],
                              inline: Seq[FileEntry]): Seq[FileEntry] =
    refs.filter(_.key == DeleteDir).flatMap(r => shardEntries(root, r.rel)) ++
      inline.filter(e => isDeleteEntry(e.rel))

  /** Change-preserving payload of a scoped rewrite: the rewritten
    * partitions' rows split by ROW OPERATION — written as separate files
    * whose entries carry `__op` labels ("update" rewrites, "carry"
    * untouched rows, "insert" births) — plus the change feed's
    * PRE-IMAGE sidecars ("pre" = update preimages, "del" = DELETE
    * kills; user columns, committed as `__deletes/cdc_*` entries).
    * Empty classes are omitted by the caller. A commit carrying one is
    * CHANGE-PRESERVING: its horizon stamps at version−1. */
  case class ChangeSplit(byOp: Seq[(String, DataFrame)],
                         preImages: Seq[(String, DataFrame)])

  def replaceDays(df: DataFrame, root: String, removeDays: Set[String],
                  partitionDayOf: String, retain: Int = 2,
                  expectedVersion: Option[Long] = None,
                  preclustered: Boolean = false,
                  rewriteOrder: Option[org.apache.spark.sql.Column] = None,
                  changeSplit: Option[ChangeSplit] = None): Long =
    replaceScoped(df, root, removedDayKey(removeDays),
      scopeDesc = s"days ${removeDays.mkString(",")}",
      partitionDayOf = Some(partitionDayOf), partitionCols = Nil,
      retain = retain, expectedVersion = expectedVersion,
      preclustered = preclustered, rewriteOrder = rewriteOrder,
      layoutCheck = base => requireDayLayout(root, base, "replaceDays"),
      changeSplit = changeSplit)

  /** IDENTITY-layout twin of [[replaceDays]] — the key-scoped rewrite
    * behind partial-progress OPTIMIZE on the gold `ano, mes` shape:
    * remove the named partition KEYS' files (exact directory-prefix
    * match, e.g. `ano=2024/mes=5`) and land `df`'s files in their
    * place, every other key carried by reference. Same pin/unchanged/
    * row-level-delete conflict contract as the day variant — the shared
    * core IS the day variant's body, only the key predicate and the
    * write layout differ. */
  def replaceKeys(df: DataFrame, root: String, removeKeys: Set[String],
                  partitionCols: Seq[String], retain: Int = 2,
                  expectedVersion: Option[Long] = None,
                  preclustered: Boolean = false,
                  rewriteOrder: Option[org.apache.spark.sql.Column] = None): Long = {
    require(removeKeys.nonEmpty && removeKeys.forall(k => k.nonEmpty && k.contains("=")),
      s"replaceKeys takes identity partition-directory keys, got $removeKeys")
    replaceScoped(df, root, removeKeys.contains,
      scopeDesc = s"keys ${removeKeys.mkString(",")}",
      partitionDayOf = None, partitionCols = partitionCols,
      retain = retain, expectedVersion = expectedVersion,
      preclustered = preclustered, rewriteOrder = rewriteOrder,
      layoutCheck = base => {
        val dataKeys = base.refs.filterNot(_.key == DeleteDir).map(_.key) ++
          base.inline.filterNot(e => isDeleteEntry(e.rel)).map(e => keyOf(e.rel))
        // "__part=" is the hidden-transform dir prefix (the v2 layer's
        // PartTransform.DirCol; literal here to keep sources → v2
        // layering one-way). Engine-generated prefixes start "__",
        // identity dirs never do (reserved prefix, checked at CREATE).
        if (dataKeys.exists(k => k.isEmpty || k.startsWith(s"$DayCol=") ||
            k.startsWith("__part=")))
          throw new IllegalStateException(
            s"$root holds non-identity files; replaceKeys needs a pure identity layout")
      })
  }

  private def replaceScoped(df: DataFrame, root: String,
                            removed: String => Boolean, scopeDesc: String,
                            partitionDayOf: Option[String],
                            partitionCols: Seq[String],
                            retain: Int, expectedVersion: Option[Long],
                            preclustered: Boolean,
                            rewriteOrder: Option[org.apache.spark.sql.Column],
                            layoutCheck: Base => Unit,
                            changeSplit: Option[ChangeSplit] = None): Long = {
    val baseV = expectedVersion.orElse(currentVersion(root)).getOrElse(
      throw new IllegalStateException(s"no committed version under $root"))
    val d0 = readDoc(root, baseV)
    val (refs0, inline0, mat0) = touchedDayState(root, d0.refs, d0.inline, removed)
    val dels0 = deleteEntriesOf(root, d0.refs, d0.inline).map(_.rel).toSet
    val fmt = formatOf(root).getOrElse("parquet")
    // change-preserving rewrites land one pool write PER row-operation
    // class, each class's entries stamped with its `__op` label (the
    // change feed's per-row classification); plain rewrites stay one
    // write. `df` remains the authoritative full result for zone/schema.
    val (fresh, cdcEntries) = changeSplit match {
      case None => (writePool(df, root, partitionDayOf, fmt,
        partitionCols = partitionCols,
        preclustered = preclustered, rewriteOrder = rewriteOrder),
        Seq.empty[FileEntry])
      case Some(cs) =>
        // the per-class data writes and the CDC pre-image sidecars are
        // independent jobs over one shared (checkpointed) classification,
        // each staging into its own UUID directory — run them from a
        // bounded pool so each leg's write/commit tail back-fills the
        // others' idle cores (guide §2.6) instead of paying up to five
        // sequential actions per merge. Results are awaited in
        // declaration order (deterministic entry order), and every leg
        // settles before a failure propagates, so no cleanup races an
        // in-flight write.
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.max(1, cs.byOp.size + cs.preImages.size))
        try {
          implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
          val wFs = cs.byOp.map { case (label, d) => Future(scala.util.Try {
            val w = writePool(d, root, partitionDayOf, fmt,
              partitionCols = partitionCols)
            w.copy(entries = w.entries.map(e =>
              e.copy(stats = FileStats.withOp(e.stats, label))))
          })}
          val cdcFs = cs.preImages.map { case (kind, d) =>
            Future(scala.util.Try(writeCdcPool(d, root, kind))) }
          val settled = Await.result(Future.sequence(wFs ++ cdcFs),
            Duration(10, "min"))
          val ws = settled.take(wFs.size).map(_.get.asInstanceOf[PoolWrite])
          val cdc = settled.drop(wFs.size)
            .flatMap(_.get.asInstanceOf[Seq[FileEntry]])
          (PoolWrite(ws.flatMap(_.entries),
            ws.flatMap(_.ndv).reduceOption(NdvStats.merge)), cdc)
        } finally pool.shutdown()
    }
    val zone = writeZoneOf(df, partitionDayOf)
    def decT(s: String): String = scala.util.Try(java.net.URLDecoder.decode(s,
      java.nio.charset.StandardCharsets.UTF_8)).getOrElse(s)
    commitLoop(root, retain, rebase = true) { base =>
      layoutCheck(base)
      val (refsC, inlineC, matC) = touchedDayState(root, base.refs, base.inline, removed)
      val unchanged = (refsC == refs0 && inlineC == inline0) || matC() == mat0()
      if (!unchanged)
        throw new java.util.ConcurrentModificationException(
          s"$scopeDesc of $root changed under this rewrite; recompute and retry")
      // the file-set check above misses ROW-LEVEL concurrent writes: a
      // merge-on-read DELETE (or the delete half of a MOR UPDATE) between
      // the pin and this commit adds a __deletes/ entry WITHOUT touching
      // the day's file set — rewriting the day from the PINNED rows would
      // silently resurrect the deleted rows (the tombstone's targets die
      // with the replaced files and it goes inert). Conflict on any new
      // delete entry that could target a replaced day: positional
      // artifacts name their targets in the entry stats (exact check;
      // list-less legacy entries are conservative conflicts), equality
      // deletes retract from every OLDER file — a rewrite re-stamps rows
      // with a FRESH sequence that would escape the retraction, so any
      // new eq entry conflicts.
      val newDels = deleteEntriesOf(root, base.refs, base.inline)
        .filterNot(e => dels0.contains(e.rel) || isCdcEntry(e.rel))
      val delConflict = newDels.exists { e =>
        isEqDeleteEntry(e.rel) || (deleteTouchedRels(e) match {
          case Some(ts) => ts.exists(t =>
            removed(keyOf(t)) || removed(keyOf(decT(t))))
          case None => true // unknown targets: assume the worst
        })
      }
      if (delConflict)
        throw new java.util.ConcurrentModificationException(
          s"rows of $scopeDesc of $root were deleted " +
            "concurrently under this rewrite; recompute and retry")
      // partial update of a continuing table: carry the commit properties
      // (e.g. streaming idempotence markers) into the new manifest
      Planned(base.inline.filterNot(e => removed(keyOf(e.rel))) ++
          cdcEntries ++ fresh.entries,
        base.props ++ mergeZoneProp(base.props, zone) + (OpProp -> "replace"),
        carried = base.refs.filterNot(r => removed(r.key)), ndv = fresh.ndv,
        changePreserving = changeSplit.isDefined)
    }
  }

  /** Stage a CDC pre-image sidecar (`__deletes/cdc_<kind>_*.parquet`,
    * kind = "pre" | "del"): user-column parquet, served by the change
    * feed as constant-type events at the commit's version. */
  private def writeCdcPool(rows: DataFrame, root: String,
                           kind: String): Seq[FileEntry] = {
    val stage = s"$root/stage/${UUID.randomUUID().toString.take(12)}"
    rows.write.parquet(stage)
    val fresh = MetaIO.listFilesRec(stage)
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map { st =>
        val rel = s"$DeleteDir/cdc_${kind}_${UUID.randomUUID().toString.take(16)}.parquet"
        MetaIO.rename(st.getPath.toString, s"$root/data/$rel")
        MetaIO.setTimes(s"$root/data/$rel", System.currentTimeMillis())
        FileEntry(rel, None)
      }
    MetaIO.delete(stage, recursive = true)
    fresh
  }

  /** Metadata-only day drop — the retention-DELETE fast path: remove the
    * named days' files from the manifest and flip the pointer. NO data is
    * read or written; cost is one manifest write regardless of table
    * size. Refuses to commit an empty table (empty manifests are not
    * representable — drop the table instead). Same rebase/conflict rule
    * (and `expectedVersion` anchor) as [[replaceDays]]. */
  def dropDays(root: String, removeDays: Set[String], retain: Int = 2,
               expectedVersion: Option[Long] = None): Long = {
    val removed = removedDayKey(removeDays) _
    val baseV = expectedVersion.orElse(currentVersion(root)).getOrElse(
      throw new IllegalStateException(s"no committed version under $root"))
    val d0 = readDoc(root, baseV)
    val (refs0, inline0, mat0) = touchedDayState(root, d0.refs, d0.inline, removed)
    commitLoop(root, retain, rebase = true) { base =>
      requireDayLayout(root, base, "dropDays")
      val (refsC, inlineC, matC) = touchedDayState(root, base.refs, base.inline, removed)
      val unchanged = (refsC == refs0 && inlineC == inline0) || matC() == mat0()
      if (!unchanged)
        throw new java.util.ConcurrentModificationException(
          s"days ${removeDays.mkString(",")} of $root changed under this drop; recompute and retry")
      val keepRefs = base.refs.filterNot(r => removed(r.key))
      val keepInline = base.inline.filterNot(e => removed(keyOf(e.rel)))
      require(keepInline.exists(e => !isDeleteEntry(e.rel)) ||
        keepRefs.exists(r => r.key != DeleteDir && r.n > 0),
        s"dropDays would empty $root; DROP the table (or overwrite) instead")
      Planned(keepInline, base.props + (OpProp -> "delete"), carried = keepRefs)
    }
  }

  // ---- named refs: tags + branches ---------------------------------------

  /** A named snapshot pointer — Iceberg's refs. `kind` is `"tag"`
    * (immutable pin) or `"branch"` (movable head). */
  case class Ref(name: String, kind: String, version: Long)

  private def refsDir(root: String): String = s"$root/refs"
  private def refPath(root: String, name: String): String = s"${refsDir(root)}/$name"

  /** All named refs of a table (tags and branches share ONE namespace, so
    * a `VERSION AS OF '<name>'` lookup is never ambiguous). */
  def refs(root: String): Map[String, Ref] =
    MetaIO.listStatus(refsDir(root))
      .filterNot(_.getPath.getName.startsWith("."))
      .map { st =>
        val name = st.getPath.getName
        val body = MetaIO.readString(st.getPath.toString).trim.split(":", 2)
        name -> Ref(name, body(0), body(1).toLong)
      }.toMap

  /** Pin a retained snapshot under a name — Iceberg's tags ("the corpus
    * run X trained on"). Tagged manifests and their files are EXEMPT from
    * retention GC until the tag drops, so the ref stays readable
    * indefinitely. Defaults to the live snapshot. Tags are immutable:
    * re-tagging an existing name throws (drop it first). */
  def createTag(root: String, name: String, version: Option[Long] = None): Long =
    createRef(root, name, "tag", version)

  /** Create a named BRANCH pointer — a movable sibling of `_CURRENT` for
    * the write-audit-publish pattern: audit queries read the branch
    * (`VERSION AS OF '<name>'`) while main is untouched; [[advanceBranch]]
    * moves the head; [[publishBranch]] fast-forwards `_CURRENT` to it with
    * one atomic flip. Branch-pinned snapshots survive GC like tags. */
  def createBranch(root: String, name: String, version: Option[Long] = None): Long =
    createRef(root, name, "branch", version)

  private def createRef(root: String, name: String, kind: String,
                        version: Option[Long]): Long = {
    // names share SQL surface with numeric version ids ('VERSION AS OF x'
    // resolves digits as a version first), so an all-digit name is banned
    require(name.matches("[A-Za-z0-9._-]+") && !name.forall(_.isDigit),
      s"illegal ref name '$name' (letters/digits/._- and not all digits)")
    val v = version.getOrElse(currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no committed version under $root")))
    require(MetaIO.exists(manifestPath(root, v)),
      s"version $v of $root is not retained")
    refs(root).get(name) match {
      case Some(r) if kind == "tag" || r.kind != kind =>
        throw new IllegalArgumentException(
          s"ref '$name' already exists on $root as a ${r.kind} (drop it first)")
      case Some(_) =>
        // existing branch: re-point (same last-writer-wins advanceBranch has)
        MetaIO.writeAtomic(refPath(root, name), s"$kind:$v")
      case None =>
        // CREATE-EXCLUSIVE, not check-then-write: two same-instant creates
        // of one name must produce one winner, or tag immutability is only
        // advisory (both racers would report success, last body winning)
        try MetaIO.createNew(refPath(root, name), s"$kind:$v")
        catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
          throw new IllegalArgumentException(
            s"ref '$name' already exists on $root (lost a concurrent create race)")
        }
    }
    // re-verify the pinned manifest survived: a GC sweeping between our
    // retention check and the ref write never saw this pin and may have
    // deleted the target — a dangling ref must fail loudly, not linger
    if (!MetaIO.exists(manifestPath(root, v))) {
      MetaIO.delete(refPath(root, name))
      throw new IllegalStateException(
        s"version $v of $root was garbage-collected while ref '$name' was " +
          "being created; the ref was rolled back")
    }
    v
  }

  /** Move an existing branch's head to a retained version. */
  def advanceBranch(root: String, name: String, toVersion: Long): Unit = {
    val r = resolveRef(root, name)
    require(r.kind == "branch", s"ref '$name' on $root is a ${r.kind}, not a branch")
    require(MetaIO.exists(manifestPath(root, toVersion)),
      s"version $toVersion of $root is not retained")
    MetaIO.writeAtomic(refPath(root, name), s"branch:$toVersion")
  }

  /** Fast-forward `_CURRENT` to the branch head (one atomic flip) — the
    * publish half of write-audit-publish: main readers see exactly the
    * snapshot the audit queries validated. Moving the pointer BELOW
    * retained versions records a high-water mark first, so later commits
    * allocate above the rolled-over history instead of colliding with
    * (or reclaiming) it. */
  def publishBranch(root: String, name: String): Long = {
    val r = resolveRef(root, name)
    require(r.kind == "branch", s"ref '$name' on $root is a ${r.kind}, not a branch")
    versions(root).lastOption.filter(_ > r.version).foreach(raiseFloor(root, _))
    MetaIO.writeAtomic(pointerPath(root), r.version.toString)
    r.version
  }

  /** Version-allocation floor recorded when the pointer moved backwards. */
  private val MaxMark = "_MAXV"
  private def highWaterMark(root: String): Long = {
    val p = s"$root/$MaxMark"
    if (MetaIO.exists(p)) MetaIO.readString(p).trim.toLong else 0L
  }

  /** Raise `_MAXV` to at least `v`. The mark is a plain file, so two
    * concurrent raisers are last-writer-wins — a naive read-check-write
    * lets a racer's HIGHER floor be overwritten with a lower one,
    * re-enabling reuse of rolled-over version numbers. Verify-and-retry:
    * after writing, re-read; if the visible floor is still below `v`
    * (our write was clobbered by a lower concurrent value), write again.
    * Bounded — floors only ever need to go up, so one surviving write at
    * the max value terminates every racer's loop. */
  private def raiseFloor(root: String, v: Long): Unit = {
    var attempts = 0
    while (highWaterMark(root) < v && attempts < 8) {
      MetaIO.writeAtomic(s"$root/$MaxMark", v.toString)
      attempts += 1
    }
  }

  def dropRef(root: String, name: String): Unit = {
    val r = resolveRef(root, name) // must exist
    // a dropped ref abandons any manifests it pinned ABOVE the live
    // pointer (a WAP branch's staged commits); record the floor so later
    // commits never contend with — or, after the orphan sweep deletes
    // them, silently reuse — the abandoned version numbers
    val live = currentVersion(root).getOrElse(0L)
    if (r.version > live) raiseFloor(root, r.version)
    MetaIO.delete(refPath(root, name))
  }

  /** Resolve a ref name, with a listing of what exists on a miss. */
  def resolveRef(root: String, name: String): Ref =
    refs(root).getOrElse(name, throw new IllegalArgumentException(
      s"no tag or branch '$name' on $root" + {
        val known = refs(root).keys.toSeq.sorted
        if (known.isEmpty) " (no refs exist)" else s" (refs: ${known.mkString(", ")})"
      }))

  /** Versions pinned by any ref — exempt from retention AND from the
    * orphan-claim sweep (a branch head may sit above `_CURRENT`). */
  private def pinnedVersions(root: String): Set[Long] =
    refs(root).values.map(_.version).toSet

  /** Commit-path GC, INCREMENTAL: drop manifests beyond `retain`, then
    * delete the pool files reachable ONLY through the expiring manifests.
    * Keys are path-derived (a file can never change key), so the kept
    * shards of the expiring entries' keys are the complete reference set —
    * the diff is exact at cost ∝ churned keys, never ∝ table size. Also
    * sweeps orphan CLAIMS — manifests above the live pointer whose
    * committer crashed before flipping (older than the claim grace) — so a
    * crashed commit can never block the version sequence. Ref-pinned
    * versions (tags/branches) are exempt and keep their files referenced.
    * Never-referenced junk (crashed writers' pool files, lost-race shards)
    * is NOT this path's job — [[expireOldVersions]] does those full
    * sweeps, Iceberg's remove-orphan-files split. */
  private def gc(root: String, live: Long, retain: Int,
                 olderThanMillis: Option[Long] = None): Unit = {
    val now = System.currentTimeMillis()
    val pinned = pinnedVersions(root)
    val refMap = refs(root)
    // a manifest above main's pointer that is stamped as a still-existing
    // branch's history (at-or-below that branch's head) is PUBLISHED
    // state, not a crashed committer's claim — the orphan sweep must
    // spare it and the file sweep must honor what it references
    val branchHistory = scala.collection.mutable.Map.empty[Long, Boolean]
    def publishedBranchHistory(v: Long): Boolean =
      branchHistory.getOrElseUpdate(v,
        ownerOf(root, v)
          .exists(o => o != "main" && refMap.get(o).exists(r => v <= r.version)))
    // retention applies PER LINEAGE: a manifest owned by a live branch
    // expires by the window behind that BRANCH's head; everything else
    // by main's window behind the live pointer. Versions are one shared
    // sequence, so without the owner split main's window both destroyed
    // a branch's recent history below the pointer AND (after the
    // ownership-aware orphan sweep) let a long-lived unpublished branch
    // accumulate manifests above it without bound. Owner probes are
    // header-prefix reads and only run when a branch ref exists.
    val anyBranch = refMap.values.exists(_.kind == "branch")
    // main's PROVEN lineage: ancestors-or-self of the live pointer by
    // parent-stamp walk, computed once per gc (one header-prefix read per
    // retained ancestor). Needed because an owner stamp alone can't
    // classify a manifest at-or-below the pointer: fast_forward keeps the
    // branch stamp on what is now published main history (whose expiry
    // must use MAIN's window — the branch-head window would expire main's
    // LIVE manifest once staged commits push that head onward), while a
    // main commit racing PAST a still-unpublished branch leaves genuinely
    // staged manifests below the pointer (whose expiry must use the
    // BRANCH's window — main's window would gut the branch's retained
    // intermediates). A version the walk can't reach (chain broken on an
    // expired manifest) is necessarily below every intact window, so the
    // branch-window fallback expires it exactly when main's would.
    lazy val mainLineage: Set[Long] = {
      val b = scala.collection.mutable.Set.empty[Long]
      var cur = live
      var walking = live > 0
      while (walking) {
        b += cur
        parentOf(root, cur) match {
          case Some(p) if p < cur && p > 0 => cur = p
          case _ => walking = false
        }
      }
      b.toSet
    }
    val (dead, kept0) = versions(root)
      .partition { v =>
        val branchOwner =
          if (anyBranch)
            ownerOf(root, v).filter(o => o != "main" && refMap.contains(o))
          else None
        val expired = branchOwner match {
          case Some(o) if v > live || !mainLineage.contains(v) =>
            v <= refMap(o).version - retain
          case _ => v <= live - retain
        }
        expired && !pinned.contains(v) &&
          olderThanMillis.forall(MetaIO.mtimeMillis(manifestPath(root, v)) < _)
      }
    // expiring docs are read BEFORE their manifests are deleted
    val deadDocs = dead.map(v => readDoc(root, v))
    val kept = kept0.filter { v =>
      val orphan = v > live && !pinned.contains(v) &&
        MetaIO.mtimeMillis(manifestPath(root, v)) < now - claimGraceMs &&
        !publishedBranchHistory(v)
      if (orphan) {
        MetaIO.delete(manifestPath(root, v))
        NdvStats.delete(root, v)
      }
      !orphan
    }
    val keptDocs = kept.filter(v => v <= live || pinned.contains(v) ||
        publishedBranchHistory(v))
      .map(v => readDoc(root, v))
    val keptShardRels = keptDocs.flatMap(_.refs.map(_.rel)).toSet
    val deadOnlyShards = deadDocs.flatMap(_.refs)
      .filterNot(r => keptShardRels.contains(r.rel)).distinctBy(_.rel)
    // candidate pool files: reachable only through expiring manifests
    val candidates = (deadDocs.flatMap(_.inline.map(_.rel)) ++
      deadOnlyShards.flatMap(r => shardEntries(root, r.rel).map(_.rel))).toSet
    if (candidates.nonEmpty) {
      val candKeys = candidates.map(keyOf)
      val referenced = keptDocs.flatMap { d =>
        d.inline.map(_.rel).filter(r => candKeys.contains(keyOf(r))) ++
          d.refs.filter(r => candKeys.contains(r.key))
            .flatMap(r => shardEntries(root, r.rel).map(_.rel))
      }.toSet
      // ext/ (shallow-clone) entries are NEVER deleted by the clone's gc
      // — the file lives in the SOURCE's pool; only the source's own
      // lifecycle may remove it
      (candidates -- referenced).filterNot(isExtEntry).foreach { rel =>
        // unreferenced files younger than the ORPHAN grace are protected:
        // mtime-stamped at pool entry, so the grace ages from move-in
        val p = s"$root/data/$rel"
        if (MetaIO.exists(p) && MetaIO.mtimeMillis(p) < now - orphanFileGraceMs)
          MetaIO.delete(p)
      }
    }
    // before expiring ancestors, pin the NDV lineage: a surviving head
    // (live pointer, branch heads, tag-pinned snapshots — a tag's
    // time-travel reads walk the same parent chain) that resolves its
    // sketch through an ANCESTOR's sidecar gets that sketch republished
    // at the head itself
    // — otherwise expiry can delete the sidecar the parent-stamp walk
    // depends on, and (worse) the next append's merge, finding no parent
    // sketch, would publish its fresh-rows-only sketch as the TABLE's
    // NDV — no longer an upper bound, and CBO would plan on it. One tiny
    // sidecar write per head, converging immediately (the next gc finds
    // the head's own file).
    if (dead.nonEmpty) scala.util.Try {
      (live +: refMap.values.map(_.version).toSeq)
        .distinct.filter(_ > 0).foreach { head =>
          if (NdvStats.read(root, head).isEmpty)
            NdvStats.resolve(root, head)
              // create-if-absent, never overwrite: a racing committer's
              // post-flip sketch write (the MERGED sketch — a superset)
              // must win over this parent copy, whatever the order; a
              // stale resolution republishes WITH its marker, so the
              // under-count stays visible after the gap's manifests expire
              .foreach(r => NdvStats.writeIfAbsent(root, head, r.sketches, r.stale))
        }
    }
    dead.foreach { v =>
      MetaIO.delete(manifestPath(root, v))
      NdvStats.delete(root, v)
    }
    // shard files listed by no surviving manifest: exact-diff delete
    // (shards are metadata-internal — no grace needed once unreferenced)
    deadOnlyShards.foreach(r => MetaIO.delete(s"$root/manifests/${r.rel}"))
  }

  /** Iceberg's `expire_snapshots` + `remove_orphan_files`, standalone: cut
    * retained history to `retain` manifests behind the live pointer, run
    * the incremental GC, then the FULL orphan sweeps — pool files no
    * retained manifest references (crashed writers' junk) and shard files
    * no manifest lists (lost commit races), both behind the orphan grace.
    * The full sweeps are O(table listing) and live ONLY here, never on
    * the commit path.
    *
    * `olderThanMillis` adds Iceberg's AGE rule (`expire_snapshots(
    * older_than => ts, retain_last => n)`): a snapshot expires only when
    * it is BOTH beyond the retain-count window AND committed before the
    * instant — so "expire everything older than 7 days, but always keep
    * the last N" composes from the two knobs. The live snapshot and
    * ref-pinned versions never expire under either rule. */
  def expireOldVersions(root: String, retain: Int = 1,
                        olderThanMillis: Option[Long] = None): Unit = {
    require(retain >= 1, "must retain at least the live snapshot")
    currentVersion(root).foreach { live =>
      gc(root, live, retain, olderThanMillis)
      removeOrphanFiles(root)
      // NDV sidecars of expired manifests (exact-version files). The
      // sweep re-reads the pointer and re-lists versions IMMEDIATELY
      // before deleting, and never touches a sidecar ABOVE the pointer
      // it just read: a commit that claims/flips mid-procedure publishes
      // its sidecar post-flip at a version above the old pointer, and
      // deleting that just-published sketch would drop the batch's
      // distinct values from every future parent∪fresh merge — a
      // permanent NDV under-count, violating the upper-bound invariant.
      if (MetaIO.exists(s"$root/${NdvStats.Dir}")) {
        val liveNow = currentVersion(root).getOrElse(live)
        val retainedVs = versions(root).toSet
        MetaIO.listStatus(s"$root/${NdvStats.Dir}").foreach { st =>
          val sweep = scala.util.Try(st.getPath.getName.toLong).toOption match {
            case Some(v) => v <= liveNow && !retainedVs.contains(v)
            // non-version names (a crashed writeAtomic's stray temp):
            // age-gated so an in-flight publish is never raced
            case None => st.getModificationTime <
              System.currentTimeMillis() - claimGraceMs
          }
          if (sweep) MetaIO.delete(st.getPath.toString)
        }
      }
    }
  }

  /** Iceberg's `remove_orphan_files`, standalone: sweep pool files and
    * shard files that NO retained manifest references — crashed writers'
    * junk, lost commit races — and that were last modified before
    * `olderThanMillis` (default: the orphan grace behind now, so a file
    * an in-flight commit just moved into the pool always survives).
    * Every retained manifest counts, including staged branch history and
    * ref-pinned snapshots, so a pinned snapshot's files never sweep.
    * `dryRun` lists the candidates without deleting. Returns the swept
    * (or, dry-run, would-sweep) paths.
    *
    * Execution is DISTRIBUTED when a session is live (Iceberg's
    * `DeleteOrphanFilesSparkAction` shape): the pool and shard trees are
    * listed by cluster tasks (top-level directories fan out), the
    * referenced-file set — inline manifest entries plus shard contents
    * expanded on executors — anti-joins the candidates as a Dataset, and
    * deletes run per-partition. The driver holds only the manifest INDEX
    * (refs + inline, the cost class of any scan plan) and the returned
    * orphan list — at a million pool files the serial walk was minutes
    * of driver stall and O(files) driver memory; this is neither. Bare
    * tooling without a session falls back to the serial walk. */
  def removeOrphanFiles(root: String, olderThanMillis: Option[Long] = None,
                        dryRun: Boolean = false): Seq[String] = {
    val cutoff = olderThanMillis.getOrElse(
      System.currentTimeMillis() - orphanFileGraceMs)
    val docs = versions(root).map(v => readDoc(root, v))
    // distribute when the manifest index says the pool is big enough for
    // cluster listing to beat job-launch overhead; tiny tables (and bare
    // tooling without a session) keep the serial walk
    val indexedEntries = docs.map(d =>
      d.refs.map(_.n.toLong).sum + d.inline.size).maxOption.getOrElse(0L)
    SparkSession.getActiveSession match {
      case Some(spark) if indexedEntries >= confLong(
          "spark.graft.orphan.distributeMinFiles", 512L) =>
        removeOrphanFilesDistributed(spark, root, cutoff, dryRun, docs)
      case _ =>
        val referencedFiles = docs.flatMap(d => d.inline.map(_.rel) ++
          d.refs.flatMap(r => shardEntries(root, r.rel).map(_.rel))).toSet
        val orphanData = MetaIO.listFilesRec(s"$root/data").filter { st =>
          !referencedFiles.contains(MetaIO.relativize(s"$root/data", st.getPath)) &&
            st.getModificationTime < cutoff
        }.map(_.getPath.toString)
        val referencedShards = docs.flatMap(_.refs.map(_.rel)).toSet
        val orphanShards = MetaIO.listFilesRec(s"$root/manifests/shards").filter { st =>
          !referencedShards.contains(s"shards/${st.getPath.getName}") &&
            st.getModificationTime < cutoff
        }.map(_.getPath.toString)
        val all = orphanData ++ orphanShards
        if (!dryRun) all.foreach(p => MetaIO.delete(p))
        all
    }
  }

  /** The raw filesystem for executor-side maintenance IO — the same
    * no-checksum-sidecar discipline [[MetaIO]] applies on the driver, so
    * the sweep SEES `.crc` strays a checksummed listing would hide. */
  private def taskFs(p: org.apache.hadoop.fs.Path,
                     c: org.apache.hadoop.conf.Configuration)
      : org.apache.hadoop.fs.FileSystem =
    p.getFileSystem(c) match {
      case l: org.apache.hadoop.fs.LocalFileSystem => l.getRaw
      case other => other
    }

  private def removeOrphanFilesDistributed(spark: SparkSession, root: String,
      cutoff: Long, dryRun: Boolean, docs: Seq[Doc]): Seq[String] = {
    import spark.implicits._
    val conf = SerializableHadoopConf.broadcast(spark)
    // referenced rels, tagged by tree: inline entries ride from the
    // driver (already loaded); shard CONTENTS expand on executors — the
    // driver never materializes the full file listing
    val shardRels = docs.flatMap(_.refs.map(_.rel)).distinct
    val inlineRefs = docs.flatMap(_.inline.map(e => ("data", e.rel))).distinct ++
      shardRels.map(r => ("manifests", r))
    val shardContentRefs: org.apache.spark.sql.Dataset[(String, String)] =
      if (shardRels.isEmpty) spark.emptyDataset[(String, String)]
      else spark.createDataset(shardRels)
        .repartition(math.max(1, math.min(64, shardRels.size / 16 + 1)))
        .mapPartitions { it =>
          val c = conf.value.value
          it.flatMap { rel =>
            val p = new org.apache.hadoop.fs.Path(s"$root/manifests/$rel")
            val fs = taskFs(p, c)
            val in = fs.open(p)
            val body = try new String(in.readAllBytes(),
              java.nio.charset.StandardCharsets.UTF_8) finally in.close()
            // first tab field of a shard line is the entry's rel
            body.linesIterator.filter(_.nonEmpty)
              .map(l => ("data", l.split('\t')(0))).toVector
          }
        }
    val referenced = spark.createDataset(inlineRefs)
      .union(shardContentRefs).distinct()
      .toDF("tree", "rel")
    // candidate listing, two cluster stages: seeds list their immediate
    // children (files become candidates, subdirectories fan out), then
    // the subdirectory batch lists recursively — partition-dir layouts
    // parallelize across the cluster, and NO listing touches the driver
    val seeds = Seq(("data", s"$root/data", ""),
      ("manifests", s"$root/manifests/shards", "shards/"))
    def listTask(it: Iterator[(String, String, String)])
        : Iterator[(String, String, String, Long, Boolean)] = {
      val c = conf.value.value
      it.flatMap { case (tree, dir, prefix) =>
        val p = new org.apache.hadoop.fs.Path(dir)
        val fs = taskFs(p, c)
        if (!fs.exists(p)) Iterator.empty
        else fs.listStatus(p).iterator.map { st =>
          (tree, st.getPath.toString, s"$prefix${st.getPath.getName}",
            st.getModificationTime, st.isDirectory)
        }
      }
    }
    val level1 = spark.createDataset(seeds).mapPartitions(listTask)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val subdirs = level1.filter(_._5).map(t => (t._1, t._2, t._3 + "/"))
    val deeper = subdirs
      .repartition(32)
      .mapPartitions { it =>
        val c = conf.value.value
        it.flatMap { case (tree, dir, prefix) =>
          val p = new org.apache.hadoop.fs.Path(dir)
          val fs = taskFs(p, c)
          if (!fs.exists(p)) Iterator.empty
          else {
            val li = fs.listFiles(p, true)
            val qual = fs.makeQualified(p).toString
            new Iterator[(String, String, String, Long, Boolean)] {
              def hasNext = li.hasNext
              def next() = {
                val st = li.next()
                val full = st.getPath.toString
                (tree, full, prefix + full.stripPrefix(qual + "/"),
                  st.getModificationTime, false)
              }
            }
          }
        }
      }
    val candidates = level1.filter(t => !t._5 && t._4 < cutoff)
      .union(deeper.filter(_._4 < cutoff))
      .map(t => (t._1, t._2, t._3)).toDF("tree", "path", "rel")
    val orphans = candidates.join(referenced, Seq("tree", "rel"), "left_anti")
      .select(col("path")).as[String].collect().toSeq
    level1.unpersist()
    if (!dryRun && orphans.nonEmpty)
      spark.createDataset(orphans)
        .repartition(math.max(1, math.min(32, orphans.size / 64 + 1)))
        .foreachPartition { (it: Iterator[String]) =>
          val c = conf.value.value
          it.foreach { s =>
            val p = new org.apache.hadoop.fs.Path(s)
            taskFs(p, c).delete(p, false); ()
          }
        }
    orphans
  }

  /** `TIMESTAMP AS OF` resolution: the latest manifest committed at or
    * before the instant (manifest-file mtime = commit instant — data files
    * are shared across manifests, so their mtimes don't identify commits). */
  def versionAsOf(root: String, epochMillis: Long): Long = {
    val cands = versions(root).filter(v =>
      MetaIO.mtimeMillis(manifestPath(root, v)) <= epochMillis)
    require(cands.nonEmpty,
      s"no retained snapshot of $root committed at or before epoch-ms $epochMillis")
    cands.max
  }

  /** A file entry's byte size off its own `__bytes` stat when recorded
    * (the plan-from-manifest discipline — no FS call), else one real
    * stat for pre-`__bytes` entries. */
  private[graft] def entryBytes(root: String, e: FileEntry): Long =
    FileStats.byteSize(FileStats.decode(e.stats.getOrElse("")))
      .map(_._1).getOrElse(MetaIO.size(dataPath(root, e.rel)))

  /** Snapshot history metadata table: one row per retained manifest.
    * Sizes fold from the entries' own `__bytes` (zero FS stats for
    * post-`__bytes` manifests — OPTIMIZE sizing reads this per call, and
    * O(versions×files) driver stats was the pre-`__bytes` cost). */
  def history(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val live = currentVersion(root)
    versions(root).map { v =>
      val es = entries(root, v)
      (v, es.size.toLong, es.map(e => entryBytes(root, e)).sum, live.contains(v))
    }.toDF("version", "n_files", "bytes", "is_current")
  }

  /** Roll the table back to an earlier RETAINED snapshot — Delta's
    * RESTORE / Iceberg's `rollback_to_snapshot`, the recover-from-a-bad-
    * commit move. Publishes a NEW version whose content (entries, shard
    * refs, properties) is exactly `target`'s manifest: a pure metadata
    * commit — no data file is read, copied, or rewritten, so rolling back
    * a 100 TB table costs one manifest write. History is PRESERVED: the
    * rolled-back commits stay addressable by `VERSION AS OF` until
    * retention expires them, and the rollback itself is an ordinary
    * commit readers flip to atomically (and that a further rollback can
    * undo). Under `spark.graft.write.branch` the BRANCH rolls back and
    * main is untouched.
    *
    * Semantics inherited from the commit loop, not re-implemented here:
    * if the rollback removes base data entries (it un-inserts everything
    * appended after `target`), the loop stamps the change horizon, so a
    * change-feed window spanning the rollback FAILS LOUDLY instead of
    * silently replaying rows the table no longer holds. Properties
    * restore to the target's too — including streaming idempotence
    * markers, deliberately: a sink whose epochs were rolled back SHOULD
    * re-deliver them on restart, exactly like Delta RESTORE. */
  def rollbackTo(root: String, target: Long, retain: Int = 2): Long = {
    require(MetaIO.exists(manifestPath(root, target)),
      s"cannot roll back $root to version $target: that snapshot is not " +
        "retained (expired or never committed)")
    // a snapshot that was never PUBLISHED onto this ref's lineage —
    // another branch's staged commit, or a crashed committer's unflipped
    // claim — must not be restorable: that would smuggle un-audited data
    // past the WAP gate. Legal targets: stamped as OUR ref (own history),
    // unstamped (legacy), or provably an ancestor of our head by the
    // parent-stamp walk (covers fast_forward-published branch commits,
    // which keep their staging branch's owner stamp forever). Publishing
    // staged work goes through fast_forward / cherrypick_snapshot, never
    // through rollback.
    val ourRef = wapBranch.getOrElse("main")
    val ourHead = wapBranch match {
      case Some(b) => Some(resolveRef(root, b).version)
      case None => currentVersion(root)
    }
    val owner = ownerOf(root, target)
    val published = owner.isEmpty || owner.contains(ourRef) ||
      ourHead.exists(h => target <= h && onLineage(root, h, target).contains(true))
    require(published,
      s"rollback target $target of $root is '${owner.getOrElse("?")}' " +
        s"history never published onto '$ourRef'; publish it with " +
        "fast_forward or cherrypick_snapshot instead")
    val d = readDoc(root, target)
    commitLoop(root, retain, rebase = false) { base =>
      val head = base.version.getOrElse(
        throw new IllegalStateException(s"no committed version under $root"))
      require(target <= head,
        s"rollback target $target is ahead of $root's current head $head; " +
          "use fast_forward to advance")
      Planned(d.inline,
        d.props - FenceProp - RefOwnerProp + (OpProp -> "rollback") +
          (ParentProp -> target.toString),
        carried = d.refs)
    }
  }

  /** [[rollbackTo]] addressed by wall-clock instead of version: restore
    * the newest snapshot committed at or before `epochMillis` (Delta's
    * `RESTORE … TO TIMESTAMP AS OF`). Resolution is LINEAGE-AWARE where
    * the raw [[versionAsOf]] is not: another ref's staged commits and
    * crashed committers' unflipped claims share the retained-manifest
    * namespace, and the newest-mtime pick must step over them — the user
    * asked for THIS ref's state at the instant, not whatever landed in
    * the shared version sequence most recently. */
  def rollbackToTimestamp(root: String, epochMillis: Long, retain: Int = 2): Long = {
    val ourRef = wapBranch.getOrElse("main")
    val ourHead = wapBranch match {
      case Some(b) => Some(resolveRef(root, b).version)
      case None => currentVersion(root)
    }
    val cands = versions(root)
      .filter(v => ourHead.forall(v <= _) &&
        MetaIO.mtimeMillis(manifestPath(root, v)) <= epochMillis)
      .sorted.reverse
    val target = cands.find { v =>
      val owner = ownerOf(root, v)
      owner.isEmpty || owner.contains(ourRef) ||
        ourHead.exists(h => onLineage(root, h, v).contains(true))
    }.getOrElse(throw new IllegalArgumentException(
      s"no retained snapshot of $root on '$ourRef' committed at or before " +
        s"epoch-ms $epochMillis"))
    rollbackTo(root, target, retain)
  }

  /** Cherry-pick ONE append commit onto the current head — Iceberg's
    * `cherrypick_snapshot`, the selective half of write-audit-publish:
    * where `fast_forward` publishes a branch wholesale, cherry-pick
    * republishes a single audited commit (typically staged on a WAP
    * branch) without the rest. Pure metadata — the source commit's data
    * files are re-referenced, never read or copied.
    *
    * The commit's own additions are exactly the entries stamped with its
    * sequence (fresh entries get the committing version's seq), so no
    * parent lookup is needed; they re-enter the target lineage with a
    * FRESH sequence — the new commit's — so equality deletes that landed
    * between the source and the cherry-pick do NOT retract them
    * (Iceberg's new-sequence-number semantics: the rows arrive NOW).
    * Only `append`-labeled commits qualify: delete/update/overwrite/
    * rewrite shapes don't commute past later commits, and a streaming
    * epoch's exactly-once marker can't be attributed without its parent,
    * so all of them decline loudly rather than publish wrong history.
    * A file already present in the target lineage (the commit was
    * already published) also fails loudly instead of doubling rows.
    * Cost ∝ the SOURCE manifest's entry count (one driver-side scan of a
    * retained manifest), not table data. */
  def cherrypick(root: String, source: Long, retain: Int = 2): Long = {
    require(MetaIO.exists(manifestPath(root, source)),
      s"cannot cherry-pick version $source of $root: that snapshot is not " +
        "retained (expired or never committed)")
    val d = readDoc(root, source)
    val op = d.props.getOrElse(OpProp, "overwrite")
    require(op == "append",
      s"cherry-pick needs an append commit; version $source of $root is " +
        s"'$op' — use fast_forward to publish non-append history")
    val delta = (d.refs.flatMap(r => shardEntries(root, r.rel)) ++ d.inline)
      .filter(e => e.seq.contains(source) && !isDeleteEntry(e.rel))
    require(delta.nonEmpty, s"version $source of $root added no data files")
    val deltaKeys = delta.map(e => keyOf(e.rel)).toSet
    val deltaRels = delta.map(_.rel).toSet
    commitLoop(root, retain, rebase = true) { base =>
      val present = base.entriesForKeys(deltaKeys.contains).map(_.rel).toSet
      val dup = deltaRels.intersect(present)
      require(dup.isEmpty,
        s"version $source of $root is already present in the target " +
          s"lineage (${dup.head} among ${dup.size} shared files); " +
          "cherry-picking it again would double its rows")
      // the file-level check above misses a pick whose published files
      // were since REWRITTEN (compaction, copy-on-write DML) — re-adding
      // the originals would double surviving rows and resurrect deleted
      // ones. Two records close it exactly: the carried [[PickedProp]]
      // ledger (publication via an earlier cherry-pick — not expressible
      // in parentage, since a pick's parent is the head it extended) and
      // the parent-stamp ancestry walk (publication via fast_forward).
      // An undecidable chain (retention expired an ancestor mid-walk)
      // refuses loudly rather than risk a silent double-publish. A
      // rollback re-parents to its restored version and restores its
      // ledger, so picking a commit the rollback discarded is correctly
      // allowed again.
      val picked = base.props.get(PickedProp).toSeq
        .flatMap(_.split(',')).filter(_.nonEmpty)
        .flatMap(s => scala.util.Try(s.toLong).toOption).toSet
      require(!picked.contains(source),
        s"version $source of $root was already cherry-picked onto this " +
          "lineage; picking it again would double its rows")
      base.version.foreach { head =>
        onLineage(root, head, source) match {
          case Some(false) => ()
          case Some(true) => throw new IllegalArgumentException(
            s"version $source of $root was already published onto this " +
              "lineage; cherry-picking it again would double its rows")
          case None => throw new IllegalStateException(
            s"cannot prove version $source of $root was never published " +
              "onto this lineage (parent chain broken by retention); " +
              "refusing the cherry-pick")
        }
      }
      Planned(base.inline ++ delta.map(_.copy(seq = None)),
        base.props + (OpProp -> "cherrypick") +
          (PickedProp -> (picked + source).toSeq.sorted.mkString(",")),
        carried = base.refs)
    }
  }

  /** SHALLOW CLONE (Delta's `CREATE TABLE … SHALLOW CLONE`, Iceberg's
    * snapshot-table action): publish `dstRoot`'s first snapshot as a
    * manifest of `ext/`-prefixed references to the SOURCE's live data
    * files — zero data copied, cost is one manifest write however large
    * the source. The clone then diverges freely: appends/DML land in its
    * own pool, OPTIMIZE localizes (rewrites drop the ext references; the
    * clone's GC never deletes a file outside its root). The source's NDV/
    * KLL statistics sidecar carries over, so CBO plans on the clone from
    * commit one.
    *
    * MERGE-ON-READ artifacts CLONE. Positional ones (parquet tombstones,
    * deletion vectors) are self-scoping and reference the same source
    * pool the data entries do, so the clone reads the deletes-applied
    * snapshot exactly; the clone commit stamps the change horizon so
    * plain streams refuse the row-level state loudly. EQUALITY backlogs
    * clone by carrying the source's sequence stamps into the clone's
    * version space (rank-compacted to 1..k; the clone commit allocates
    * k+1 above them), so strictly-older-sequence retraction — and the
    * survival of later re-inserts — is exactly preserved.
    *
    * Contract limits (each refused loudly):
    *  - a DIVERGED clone source (live local files mixed with `ext/`
    *    references — two pools, one `_clone_src` slot) cannot clone;
    *    OPTIMIZE it to localize, then clone. An UNDIVERGED clone source
    *    (all-ext) clones fine: the new clone FLATTENS to the original
    *    base, so chains never deepen and the intermediate stays
    *    droppable;
    *  - `dstRoot` must have no committed version.
    *
    * The documented lifecycle hazard is Delta's own: expiring snapshots /
    * sweeping orphans on the SOURCE can delete files live clones still
    * reference — `fsck` on the clone detects the breakage; localize
    * clones you intend to outlive their source. */
  /** The clone-source contract checks, callable BEFORE any destination
    * state persists (a refusal after the descriptor write would leave a
    * phantom table blocking the retry). Returns (source live version,
    * its materialized entries) for [[cloneTo]] to reuse. */
  private[graft] def validateCloneSource(srcRoot: String): (Long, Seq[FileEntry]) = {
    val srcLive = currentVersion(srcRoot).getOrElse(throw new IllegalStateException(
      s"no committed version under $srcRoot — nothing to clone"))
    val es = entries(srcRoot, srcLive)
    // CLONE OF A CLONE flattens: a source whose live set is ALL ext/
    // entries (an undiverged clone — the second-generation dev-branch
    // shape) clones against the ORIGINAL base: its ext rels are already
    // source-relative to that base and carry verbatim, so the new clone
    // references ONE pool and never depends on the intermediate clone's
    // lifetime (dropping the intermediate cannot break it). Only a
    // DIVERGED clone — local appends/DML mixed with ext references, two
    // pools where the _clone_src slot holds one — is genuinely
    // unresolvable and refused.
    val (ext, local) = es.partition(e => isExtEntry(e.rel))
    require(ext.isEmpty || local.isEmpty,
      s"$srcRoot is a DIVERGED shallow clone (live local files mixed with " +
        "ext/ references — two source pools, one _clone_src slot); " +
        "CALL <catalog>.system.localize on it to materialize the ext " +
        "references (or OPTIMIZE to rewrite them), then clone")
    (srcLive, es)
  }

  def cloneTo(srcRoot: String, dstRoot: String, retain: Int = 2,
              prevalidated: Option[(Long, Seq[FileEntry])] = None): Long = {
    // a catalog-level caller validated BEFORE persisting its descriptor
    // and passes the result through — no second full-manifest read
    val (srcLive, es) = prevalidated.getOrElse(validateCloneSource(srcRoot))
    require(currentVersion(dstRoot).isEmpty,
      s"$dstRoot already has committed versions; clone targets a fresh root")
    // clone-of-clone FLATTENS: an all-ext source (undiverged clone)
    // resolves to ITS base pool — the new clone's _clone_src names the
    // original base, the carried rels stay base-relative, and the
    // intermediate clone can be dropped without breaking this one
    val baseData =
      if (es.nonEmpty && es.forall(e => isExtEntry(e.rel)))
        cloneSrcOf(srcRoot).getOrElse(throw new IllegalStateException(
          s"$srcRoot carries ext/ manifest entries but no _clone_src sidecar"))
      else s"$srcRoot/data"
    // immutable for the table's life — written before the manifest so a
    // reader can never see ext/ entries without their base. CREATE-IF-
    // ABSENT semantics: overwriting a concurrent clone's sidecar would
    // re-point ITS committed ext/ entries at OUR base (wrong rows /
    // missing files for every later read) — an existing sidecar must
    // agree with this clone's base or this clone refuses; a failed
    // clone deletes the sidecar it created (nothing durable).
    val sidecarPath = s"$dstRoot/_clone_src"
    val createdSidecar =
      if (MetaIO.exists(sidecarPath)) {
        require(MetaIO.readString(sidecarPath).trim == baseData,
          s"$dstRoot already carries _clone_src '${MetaIO.readString(sidecarPath).trim}' " +
            s"(a concurrent clone from a different source?); this clone's base is '$baseData'")
        false
      } else { MetaIO.writeAtomic(sidecarPath, baseData); true }
    cloneSrcCache.remove(dstRoot) // a dropped+recreated root must re-read
    // DV slice indexes embed PER-SECTION delete versions — SOURCE-table
    // numbers that mean nothing in the clone's version space: left
    // intact, the change feed would fabricate delete/update events once
    // the clone's head reaches them, fsck would flag a clone-side
    // rewrite_deletes' merged entry (seq = max slice seq) as a future
    // sequence, and streams would misattribute the carried tombstones to
    // new windows. Without an equality backlog, re-stamp every slice at
    // 1 — the clone's first (and only) version, "deleted at or before
    // the clone" — which the horizon stamp below already fences out of
    // change windows (positional artifacts are self-scoping: they NAME
    // their targets, so no cross-entry sequence relation must survive).
    //
    // An EQUALITY backlog is the one shape where a sequence RELATION
    // must survive: an eq delete retracts rows of files with a strictly
    // SMALLER sequence, so flattening every carried entry to one stamp
    // would silently void every retraction. Strict order is all the
    // relation needs, so RANK-COMPACT the carried stamps (entry seqs ∪
    // DV slice seqs) into 1..k by an order-preserving map and raise the
    // clone's version floor to k — the clone commit deterministically
    // allocates k+1, every later local commit lands above, and a clone
    // of a version-10⁶ source still starts its own history compactly.
    val hasEq = es.exists(e => isEqDeleteEntry(e.rel))
    val rank: Long => Long =
      if (!hasEq) _ => 1L
      else {
        val sliceSeqs = es.flatMap(e =>
          if (!isDvEntry(e.rel)) Nil
          else e.stats.toSeq.flatMap(s =>
            DeleteVectors.decodeIndex(s).toSeq.flatten.map(_.seq)))
        val m = (es.map(_.seq.getOrElse(0L)) ++ sliceSeqs)
          .distinct.sorted.zipWithIndex
          .map { case (s, i) => s -> (i + 1L) }.toMap
        m.apply
      }
    val extEntries = es.map { e =>
      val stats =
        if (!isDvEntry(e.rel)) e.stats
        else e.stats.map(s => DeleteVectors.decodeIndex(s)
          .map(idx => DeleteVectors.encodeIndex(idx.map(sl =>
            sl.copy(seq = rank(sl.seq)))))
          .getOrElse(s))
      // an already-ext rel (clone-of-clone) carries VERBATIM: it is
      // base-relative to the flattened _clone_src written above
      FileEntry(if (isExtEntry(e.rel)) e.rel else ExtPrefix + e.rel, stats,
        seq = if (hasEq) Some(rank(e.seq.getOrElse(0L))) else None)
    }
    // the clone commit's version: 1 on a fresh root, or k+1 above the
    // rank-compacted carried stamps (raiseFloor makes the commit loop's
    // allocation deterministic — fresh root, no competing state)
    val cloneV =
      if (!hasEq) 1L
      else {
        val k = extEntries.flatMap(_.seq).max
        raiseFloor(dstRoot, k)
        k + 1L
      }
    // carried props: the writer zone (day values of carried files keep
    // their recorded interpretation) — NOT streaming idempotence markers
    // or the change-key ledger (the clone is a NEW table; its history
    // starts here)
    val zp = liveProps(srcRoot).get(ZoneProp).map(ZoneProp -> _).toMap
    // carried MERGE-ON-READ artifacts make the clone's first snapshot a
    // row-level-change state: a plain appended-files stream would serve
    // the tombstoned rows, so stamp the change horizon at the clone
    // commit — streams refuse without ignoreChanges (the append-only
    // contract), CDF windows start here anyway.
    val cp =
      if (es.exists(e => isDeleteEntry(e.rel)))
        Map(ChangeProp -> cloneV.toString)
      else Map.empty[String, String]
    val v = try {
      val v0 = commitLoop(dstRoot, retain, rebase = false) { base =>
        // the fresh-root and floor checks run INSIDE the loop, i.e. BEFORE
        // the manifest publishes: `cp` was computed from the PREDICTED
        // clone version, and a raced dstRoot (foreign commit, foreign floor
        // raise) must fail with nothing durable — the post-commit backstop
        // below used to fire only after a wrongly-horizon-stamped clone was
        // already committed
        require(base.version.isEmpty,
          s"$dstRoot was committed to while this clone staged; clone targets " +
            "a fresh root")
        require(highWaterMark(dstRoot) == cloneV - 1L,
          s"$dstRoot's version floor moved while this clone staged (expected " +
            s"${cloneV - 1}, found ${highWaterMark(dstRoot)}); was the fresh " +
            "root raced?")
        Planned(extEntries, zp ++ cp + (OpProp -> "clone"))
      }
      require(v0 == cloneV, s"clone commit landed at v$v0, expected v$cloneV " +
        "(the stamped change horizon would be wrong) — was the fresh root raced?")
      v0
    } catch { case t: Throwable =>
      // a failed clone leaves nothing durable: drop the sidecar THIS call
      // created, but only while no snapshot committed under the root (a
      // racer's committed clone from the SAME base keeps it, rightly)
      if (createdSidecar && currentVersion(dstRoot).isEmpty) {
        scala.util.Try(MetaIO.delete(sidecarPath))
        cloneSrcCache.remove(dstRoot)
      }
      throw t
    }
    // statistics carry over: the source's resolved sketch at its live
    // version IS the clone's table content (stale markers ride along).
    // A plain write: the commit loop just published the full-replacement
    // EMPTY sentinel here (no sketch rode the metadata-only commit), and
    // the source's sketch must replace it — no racer exists on a
    // just-created root.
    NdvStats.resolve(srcRoot, srcLive).foreach(r =>
      NdvStats.write(dstRoot, v, r.sketches, r.stale))
    v
  }

  /** LOCALIZE a shallow clone (the remedy the diverged clone-of-clone
    * refusal names): COPY every live `ext/` entry's file from the clone
    * source's pool into this table's own pool — same source-relative
    * path, so positional tombstones' `__file` identities and DV slice
    * indexes keep matching byte-for-byte — and commit a manifest whose
    * entries are all local (stats and sequence stamps carried verbatim;
    * data content unchanged). After it: the table clones freely
    * (clone-of-clone, even when diverged), and expiring/sweeping the
    * SOURCE can no longer strand this table's LIVE snapshot (retained
    * HISTORICAL versions still reference the source until they expire,
    * so the `_clone_src` sidecar stays for their reads). The copy fans
    * out over executors; cost is the ext bytes, the commit is one
    * manifest write. Returns (new version, files copied); a table with
    * no ext entries returns (live version, 0) untouched. */
  def localize(spark: SparkSession, root: String, retain: Int = 2): (Long, Long) = {
    val v0 = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no committed version under $root"))
    val es = entries(root, v0)
    val ext = es.filter(e => isExtEntry(e.rel))
    if (ext.isEmpty) return (v0, 0L)
    val srcBase = cloneSrcOf(root).getOrElse(throw new IllegalStateException(
      s"$root carries ext/ manifest entries but no _clone_src sidecar"))
    val conf = SerializableHadoopConf.broadcast(spark)
    val copies: Seq[(String, String)] = ext.map(e =>
      (s"$srcBase/${plainRel(e.rel)}", s"$root/data/${plainRel(e.rel)}"))
    val parts = math.max(1, math.min(64, copies.size / 16 + 1))
    val copied = spark.sparkContext.parallelize(copies, parts).mapPartitions { it =>
      val c = conf.value.value
      it.map { case (src, dst) =>
        val sp = new org.apache.hadoop.fs.Path(src)
        val dp = new org.apache.hadoop.fs.Path(dst)
        val dfs = dp.getFileSystem(c)
        if (!dfs.exists(dp)) {
          dfs.mkdirs(dp.getParent)
          require(org.apache.hadoop.fs.FileUtil.copy(
            sp.getFileSystem(c), sp, dfs, dp, false, true, c),
            s"localize: copy failed for $src")
        }
        1L
      }
    }.fold(0L)(_ + _)
    val v = commitLoop(root, retain, rebase = true) { base =>
      // every base entry must map: ext rels localize to their plain
      // form (files staged above — a base ext entry we did NOT stage
      // means a concurrent commit added one: recompute), local entries
      // carry verbatim. Shard refs materialize (their contents change).
      val staged = ext.map(_.rel).toSet
      val all = base.refs.flatMap(r => shardEntries(root, r.rel)) ++ base.inline
      val mapped = all.map { e =>
        if (!isExtEntry(e.rel)) e
        else if (staged.contains(e.rel)) e.copy(rel = plainRel(e.rel))
        else throw new java.util.ConcurrentModificationException(
          s"ext entries of $root changed under localize; recompute and retry")
      }
      Planned(mapped, base.props + (OpProp -> "localize"))
    }
    (v, copied)
  }

  /** Small-file compaction (Iceberg's `rewrite_data_files`): rewrite the
    * live snapshot into ~`targetFileBytes` files per day and commit; old
    * files age out with their manifests. Data is unchanged — only layout
    * (and optionally the storage format, Iceberg's
    * `rewrite_data_files(options => map('format', …))`). */
  def compact(spark: SparkSession, root: String, partitionDayOf: Option[String],
              targetFileBytes: Long = 128L << 20, retain: Int = 2,
              format: Option[String] = None): Long = {
    val totalBytes = liveEntries(root).map(e => entryBytes(root, e)).sum
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    val df = partitionDayOf match {
      // repartition by day so each partition dir gets locally-coalesced files
      case Some(_) => readRaw(spark, root).repartition(nFiles, col(DayCol)).drop(DayCol)
      case None    => read(spark, root).repartition(nFiles)
    }
    // layout maintenance continues the table's history: carry properties
    // (a lost streaming marker would let a replayed batch double-append)
    commit(df, root, retain = retain, partitionDayOf = partitionDayOf,
      props = liveProps(root), format = format, op = "rewrite")
  }
}
