package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ManifestTable
import graft.sources.v2.VersionedCatalog

/** `write.delete.mode` / `write.update.mode` as TABLE properties —
  * Iceberg's TBLPROPERTIES shape. The property wins over the session
  * conf (`spark.graft.<kind>.mode`, now only a fleet default), so two
  * queries running CONCURRENTLY on one session can take different DML
  * paths without racing through shared mutable state: the conf
  * set-in-try / restore-in-finally pattern this replaces could flip a
  * concurrent query's in-flight DELETE from merge-on-read to
  * copy-on-write (a file-REMOVING commit that breaks its change feed). */
class DmlModeTableSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.gdm", classOf[VersionedCatalog].getName)
    s.conf.set("spark.sql.catalog.gdm.warehouse",
      Files.createTempDirectory("graft_dmwh").toString)
    s.sql("CREATE NAMESPACE IF NOT EXISTS gdm.ns")
    s
  }
  private def root(t: String) =
    s"${spark.conf.get("spark.sql.catalog.gdm.warehouse")}/ns/$t"
  private def dataRels(r: String): Set[String] =
    ManifestTable.liveEntries(r).map(_.rel)
      .filterNot(ManifestTable.isDeleteEntry).toSet

  test("write.delete.mode=merge-on-read table property drives the MOR path with NO session conf") {
    import spark.implicits._
    val t = "gdm.ns.propmor"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    assert(spark.conf.getOption("spark.graft.delete.mode").isEmpty)
    (0L until 10000L).map(k => (k, k * 2.0)).toDF("k", "v")
      .repartition(4).writeTo(t)
      .tableProperty("write.delete.mode", "merge-on-read").create()
    val r = root("propmor")
    val before = dataRels(r)
    graft.plans.MergeInto.sql(spark, s"DELETE FROM $t WHERE k % 10 = 3")
    assert(dataRels(r) === before, "MOR delete must rewrite zero data files")
    assert(ManifestTable.hasDeletes(r))
    assert(spark.table(t).count() === 9000L)
    spark.sql(s"DROP TABLE $t")
  }

  test("the TABLE property wins over the session conf in BOTH directions") {
    import spark.implicits._
    val cow = "gdm.ns.propcow"
    spark.sql(s"DROP TABLE IF EXISTS $cow")
    // session says merge-on-read, table says copy-on-write -> CoW
    (0L until 4000L).map(k => (k, k.toDouble)).toDF("k", "v")
      .repartition(2).writeTo(cow)
      .tableProperty("write.delete.mode", "copy-on-write").create()
    spark.conf.set("spark.graft.delete.mode", "merge-on-read")
    try {
      graft.plans.MergeInto.sql(spark, s"DELETE FROM $cow WHERE k % 10 = 3")
      assert(!ManifestTable.hasDeletes(root("propcow")),
        "explicit copy-on-write property must override the session conf")
      assert(spark.table(cow).count() === 3600L)
    } finally spark.conf.unset("spark.graft.delete.mode")
    // no property at all -> the conf default still applies
    val dflt = "gdm.ns.propdflt"
    spark.sql(s"DROP TABLE IF EXISTS $dflt")
    (0L until 4000L).map(k => (k, k.toDouble)).toDF("k", "v")
      .repartition(2).writeTo(dflt).create()
    spark.conf.set("spark.graft.delete.mode", "merge-on-read")
    try {
      graft.plans.MergeInto.sql(spark, s"DELETE FROM $dflt WHERE k % 10 = 3")
      assert(ManifestTable.hasDeletes(root("propdflt")),
        "with no table property the session conf remains the default")
    } finally spark.conf.unset("spark.graft.delete.mode")
    spark.sql(s"DROP TABLE $cow"); spark.sql(s"DROP TABLE $dflt")
  }

  test("ALTER TABLE SET TBLPROPERTIES flips the mode; UNSET restores the default") {
    import spark.implicits._
    val t = "gdm.ns.propalter"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    (0L until 6000L).map(k => (k, k.toDouble)).toDF("k", "v")
      .repartition(3).writeTo(t).create()
    val r = root("propalter")
    // default (no property, no conf) = copy-on-write
    graft.plans.MergeInto.sql(spark, s"DELETE FROM $t WHERE k % 30 = 1")
    assert(!ManifestTable.hasDeletes(r))
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES('write.delete.mode'='merge-on-read')")
    val before = dataRels(r)
    graft.plans.MergeInto.sql(spark, s"DELETE FROM $t WHERE k % 30 = 2")
    assert(dataRels(r) === before && ManifestTable.hasDeletes(r))
    spark.sql(s"ALTER TABLE $t UNSET TBLPROPERTIES('write.delete.mode')")
    assert(VersionedCatalog.dmlModeFor(r, "delete", spark) === "copy-on-write")
    spark.sql(s"DROP TABLE $t")
  }

  test("invalid declarations are refused BEFORE any metadata persists") {
    import spark.implicits._
    val df = Seq((1L, 1.0)).toDF("k", "v")
    val bad1 = intercept[Exception] {
      df.writeTo("gdm.ns.badmode")
        .tableProperty("write.delete.mode", "vectorized").create()
    }
    assert(bad1.getMessage.contains("copy-on-write or merge-on-read"))
    val bad2 = intercept[Exception] {
      df.writeTo("gdm.ns.badmerge")
        .tableProperty("write.merge.mode", "merge-on-read")
        .tableProperty("format", "orc").create()
    }
    assert(bad2.getMessage.contains("parquet row identity"))
    val bad3 = intercept[Exception] {
      df.writeTo("gdm.ns.badavro")
        .tableProperty("format", "avro")
        .tableProperty("write.update.mode", "merge-on-read").create()
    }
    assert(bad3.getMessage.contains("parquet row identity"))
    for (t <- Seq("badmode", "badmerge", "badavro"))
      assert(VersionedCatalog.readMeta(root(t)).isEmpty,
        s"$t: refused create must not leave a descriptor behind")
  }

  test("write.merge.mode=merge-on-read: MERGE tombstones+appends, never rewrites a data file") {
    import spark.implicits._
    val t = "gdm.ns.mormrg"
    val twin = "gdm.ns.cowmrg"
    spark.sql(s"DROP TABLE IF EXISTS $t"); spark.sql(s"DROP TABLE IF EXISTS $twin")
    val base = (0L until 12000L).map(k => (k, k * 1.0, s"g${k % 7}"))
      .toDF("k", "v", "grp")
    base.repartition(4).writeTo(t)
      .tableProperty("write.merge.mode", "merge-on-read").create()
    base.repartition(4).writeTo(twin).create()
    val r = root("mormrg")
    val dataBefore = ManifestTable.liveEntries(r).map(_.rel)
      .filterNot(ManifestTable.isDeleteEntry).toSet
    // source: updates for k%10==3 (half conditionally doubled), deletes
    // for k%10==7, inserts beyond the key space
    (0L until 13000L).filter(k => k % 10 == 3 || k % 10 == 7 || k >= 12000L)
      .map(k => (k, k * 2.0)).toDF("k", "nv")
      .createOrReplaceTempView("mrg_src")
    val stmt = (tbl: String) =>
      s"""MERGE INTO $tbl t USING mrg_src s ON t.k = s.k
         |WHEN MATCHED AND s.k % 10 = 3 THEN UPDATE SET v = s.nv
         |WHEN MATCHED AND s.k % 10 = 7 THEN DELETE
         |WHEN NOT MATCHED THEN INSERT (k, v, grp) VALUES (s.k, s.nv, 'new')
         |""".stripMargin
    graft.plans.MergeInto.sql(spark, stmt(t))
    graft.plans.MergeInto.sql(spark, stmt(twin))
    val dataAfter = ManifestTable.liveEntries(r).map(_.rel)
      .filterNot(ManifestTable.isDeleteEntry).toSet
    assert(dataBefore.subsetOf(dataAfter),
      "MOR merge must never rewrite or drop a pre-merge data file")
    assert(dataAfter.size > dataBefore.size, "rewritten+inserted rows land as new files")
    assert(ManifestTable.hasDeletes(r), "matched updates/deletes tombstone positionally")
    // results are EXACTLY the CoW merge's
    assert(spark.table(t).orderBy("k", "v").collect().toSeq ===
      spark.table(twin).orderBy("k", "v").collect().toSeq)
    // the change feed serves the commit as image pairs; birth/death
    // folding stays exact: births - deaths == net row delta
    val ch = spark.table(s"$t.changes")
      .where(org.apache.spark.sql.functions.col("_commit_version") === 2L)
    val births = ch.where("_change_type IN ('insert','update_postimage')").count()
    val deaths = ch.where("_change_type IN ('delete','update_preimage')").count()
    assert(births - deaths ===
      spark.table(t).count() - 12000L, s"births=$births deaths=$deaths")
    // an INSERT-ONLY batch against the tombstone-carrying MOR table must
    // commit as a plain append — never fall back to the CoW full rewrite
    // and never fabricate an update-shaped (empty-tombstone) commit
    val delsBefore = ManifestTable.liveDeleteEntries(r).map(_.rel).toSet
    val dataBefore2 = ManifestTable.liveEntries(r).map(_.rel)
      .filterNot(ManifestTable.isDeleteEntry).toSet
    Seq((50000L, 5.0), (50001L, 5.1)).toDF("k", "nv")
      .createOrReplaceTempView("mrg_ins")
    graft.plans.MergeInto.sql(spark,
      s"MERGE INTO $t x USING mrg_ins s ON x.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET v = s.nv " +
        "WHEN NOT MATCHED THEN INSERT (k, v, grp) VALUES (s.k, s.nv, 'new2')")
    val v2 = ManifestTable.currentVersion(r).get
    assert(ManifestTable.opOf(r, v2).contains("append"),
      "insert-only MOR merge must commit as a plain append")
    assert(dataBefore2.subsetOf(ManifestTable.liveEntries(r).map(_.rel).toSet),
      "insert-only MOR merge must not rewrite any data file")
    assert(ManifestTable.liveDeleteEntries(r).map(_.rel).toSet === delsBefore,
      "insert-only MOR merge adds no delete entries")
    assert(spark.table(t).where("grp = 'new2'").count() === 2L)

    // multi-match still errors loudly
    Seq((3L, 1.0), (3L, 2.0)).toDF("k", "nv").createOrReplaceTempView("mrg_dup")
    val e = intercept[Exception] { graft.plans.MergeInto.sql(spark,
      s"MERGE INTO $t x USING mrg_dup s ON x.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET v = s.nv") }
    def msgs(x: Throwable): Seq[String] = Option(x).toSeq
      .flatMap(y => Option(y.getMessage).toSeq ++ msgs(y.getCause))
    assert(msgs(e).exists(_.contains("matched")), msgs(e).mkString(" | "))
    spark.sql(s"DROP TABLE $t"); spark.sql(s"DROP TABLE $twin")
  }

  test("MOR MERGE prunes its target read at the manifest by the source's join keys") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val t = "gdm.ns.prnmrg"; val twin = "gdm.ns.prnmrgtw"
    spark.sql(s"DROP TABLE IF EXISTS $t"); spark.sql(s"DROP TABLE IF EXISTS $twin")
    val base = (0L until 14000L).map(k => (k, k * 1.0, s"g${k % 7}"))
      .toDF("k", "v", "grp")
    Seq(t, twin).foreach(n => base.writeTo(n).partitionedBy(col("grp"))
      .tableProperty("write.merge.mode", "merge-on-read")
      .tableProperty("write.delete.mode", "merge-on-read").create())
    // live tombstones BEFORE the merge: the pruned read must still apply
    // (and narrow) the delete backlog — resurrecting a deleted row would
    // show up as a twin mismatch
    Seq(t, twin).foreach(n =>
      graft.plans.MergeInto.sql(spark, s"DELETE FROM $n WHERE k % 1000 = 11"))
    // staging touches ONE of the seven identity partitions (updates for
    // its div-5 keys, inserts beyond the key space)
    ((0L until 14000L).filter(k => k % 7 == 3 && k % 5 == 0) ++
      Seq(99001L, 99008L))
      .map(k => (k, k * 2.0, "g3")).toDF("k", "nv", "sgrp")
      .createOrReplaceTempView("prn_src")
    def stmt(tbl: String) =
      s"""MERGE INTO $tbl t USING prn_src s ON t.grp = s.sgrp AND t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.nv
         |WHEN NOT MATCHED THEN INSERT (k, v, grp) VALUES (s.k, s.nv, s.sgrp)
         |""".stripMargin
    graft.plans.MergeInto.sql(spark, stmt(t))
    val (opened, total) = graft.plans.MergeInto.lastMergeScan.get(root("prnmrg"))
    assert(opened > 0 && opened * 2 <= total,
      s"the executed merge plan must open under half the live files " +
        s"(opened=$opened total=$total)")
    // pruning must be invisible in the DATA: the unpruned twin (conf off)
    // agrees row-for-row, and its plan read everything
    spark.conf.set("spark.graft.merge.targetPrune", "false")
    try graft.plans.MergeInto.sql(spark, stmt(twin))
    finally spark.conf.unset("spark.graft.merge.targetPrune")
    val (o2, t2) = graft.plans.MergeInto.lastMergeScan.get(root("prnmrgtw"))
    assert(o2 == t2, s"unpruned twin must read every live file ($o2 of $t2)")
    assert(spark.table(t).orderBy("k", "v").collect().toSeq ===
      spark.table(twin).orderBy("k", "v").collect().toSeq)
    spark.sql(s"DROP TABLE $t"); spark.sql(s"DROP TABLE $twin")
  }

  test("bounds pruning on range-clustered files; an all-null-key batch keeps one file and still inserts") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val t = "gdm.ns.prnrng"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    (0L until 40000L).map(k => (k, k * 1.0)).toDF("k", "v")
      .repartitionByRange(8, col("k"))
      .writeTo(t).tableProperty("write.merge.mode", "merge-on-read").create()
    val r = root("prnrng")
    // 200 distinct keys in a narrow range, over a tiny cap: the BOUNDS
    // fallback path must prune to the overlapping range files
    (1000L until 2000L by 5L).map(k => (k, -1.0)).toDF("k", "nv")
      .createOrReplaceTempView("prnrng_src")
    spark.conf.set("spark.graft.merge.pruneMaxKeys", "50")
    try graft.plans.MergeInto.sql(spark,
      s"MERGE INTO $t t USING prnrng_src s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET v = s.nv")
    finally spark.conf.unset("spark.graft.merge.pruneMaxKeys")
    val (opened, total) = graft.plans.MergeInto.lastMergeScan.get(r)
    assert(opened > 0 && opened * 2 <= total, s"opened=$opened total=$total")
    assert(spark.table(t).where("v = -1.0").count() === 200L)
    assert(spark.table(t).count() === 40000L)
    // a source with NO non-null join keys can match nothing: AlwaysFalse
    // prunes every file, morRead keeps ONE, and the NOT MATCHED inserts
    // still land
    Seq((Option.empty[Long], 7.7), (Option.empty[Long], 8.8)).toDF("k", "nv")
      .createOrReplaceTempView("prnrng_null")
    graft.plans.MergeInto.sql(spark,
      s"MERGE INTO $t t USING prnrng_null s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET v = s.nv " +
        "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.nv)")
    val (o2, _) = graft.plans.MergeInto.lastMergeScan.get(r)
    assert(o2 === 1L, s"all-null keys must keep exactly one file, opened=$o2")
    assert(spark.table(t).where("k IS NULL").count() === 2L)
    spark.sql(s"DROP TABLE $t")
  }

  test("MOR UPDATE/DELETE prune their target reads by the WHERE predicate at the manifest") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val t = "gdm.ns.prndml"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    (0L until 40000L).map(k => (k, k * 1.0)).toDF("k", "v")
      .repartitionByRange(8, col("k"))
      .writeTo(t).tableProperty("write.delete.mode", "merge-on-read")
      .tableProperty("write.update.mode", "merge-on-read").create()
    val r = root("prndml")
    // range-scoped UPDATE: only files whose k-bounds admit the predicate
    // are read for the rewrite
    graft.plans.MergeInto.sql(spark,
      s"UPDATE $t SET v = -1.0 WHERE k >= 1000 AND k < 2000")
    val (o1, t1) = graft.plans.MergeInto.lastMergeScan.get(r)
    assert(o1 > 0 && o1 * 2 <= t1, s"UPDATE opened=$o1 total=$t1")
    assert(spark.table(t).where("v = -1.0").count() === 1000L)
    // range-scoped DELETE: same discipline for tombstone discovery
    graft.plans.MergeInto.sql(spark, s"DELETE FROM $t WHERE k >= 35000")
    val (o2, t2) = graft.plans.MergeInto.lastMergeScan.get(r)
    assert(o2 > 0 && o2 * 2 <= t2, s"DELETE opened=$o2 total=$t2")
    assert(spark.table(t).count() === 35000L)
    assert(spark.table(t).where("v = -1.0").count() === 1000L,
      "the pruned DELETE must not disturb the earlier update's rows")
    spark.sql(s"DROP TABLE $t")
  }

  test("identity directory pseudo-stats unescape HIVE-style: a '+' partition value still matches") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // escapePathName leaves '+' literal in the directory name; a
    // URL-style decoder would read it back as a SPACE, fail the In
    // probe, prune the file that holds the match, and the merge would
    // silently insert a duplicate
    val t = "gdm.ns.prnplus"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    ((0L until 100L).map(k => (k, k * 1.0, "US+CA")) ++ // the LARGEST partition
      Seq((900L, 9.0, "EU"), (901L, 9.1, "APAC")))
      .toDF("k", "v", "grp").writeTo(t).partitionedBy(col("grp"))
      .tableProperty("write.merge.mode", "merge-on-read").create()
    Seq((1L, -1.0, "US+CA")).toDF("k", "nv", "sgrp")
      .createOrReplaceTempView("plus_src")
    graft.plans.MergeInto.sql(spark,
      s"MERGE INTO $t t USING plus_src s ON t.grp = s.sgrp AND t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET v = s.nv " +
        "WHEN NOT MATCHED THEN INSERT (k, v, grp) VALUES (s.k, s.nv, s.sgrp)")
    assert(spark.table(t).count() === 102L, "the match must be FOUND, not re-inserted")
    assert(spark.table(t).where("k = 1").collect().map(_.getDouble(1)).toSeq
      === Seq(-1.0))
    val (o, tot) = graft.plans.MergeInto.lastMergeScan.get(root("prnplus"))
    assert(o === 1L && tot === 3L, s"prune to the matching partition only ($o of $tot)")
    spark.sql(s"DROP TABLE $t")
  }

  test("copy-on-write MERGE on identity layouts rewrites only the MATCHED keys; pure-insert merges append") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val t = "gdm.ns.cowkey"; val twin = "gdm.ns.cowkeytw"
    spark.sql(s"DROP TABLE IF EXISTS $t"); spark.sql(s"DROP TABLE IF EXISTS $twin")
    val base = (0L until 14000L).map(k => (k, k * 1.0, s"g${k % 7}"))
      .toDF("k", "v", "grp")
    Seq(t, twin).foreach(n =>
      base.writeTo(n).partitionedBy(col("grp")).create()) // CoW default
    val r = root("cowkey")
    def relsByKey: Map[String, Set[String]] = ManifestTable.liveEntries(r)
      .map(_.rel).groupBy(ManifestTable.keyOf).map { case (k, v) => k -> v.toSet }
    val before = relsByKey
    // updates touch g3 only; inserts land in g3 (matched key) and in a
    // BRAND-NEW key g9 (an append to a key the merge never read)
    ((0L until 14000L).filter(k => k % 7 == 3 && k % 5 == 0).map(k => (k, "g3")) ++
      Seq((99001L, "g3"), (99002L, "g9")))
      .map { case (k, g) => (k, k * 2.0, g) }.toDF("k", "nv", "sgrp")
      .createOrReplaceTempView("cow_src")
    def stmt(tbl: String) =
      s"""MERGE INTO $tbl t USING cow_src s ON t.grp = s.sgrp AND t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.nv
         |WHEN NOT MATCHED THEN INSERT (k, v, grp) VALUES (s.k, s.nv, s.sgrp)
         |""".stripMargin
    graft.plans.MergeInto.sql(spark, stmt(t))
    val after = relsByKey
    // untouched keys keep their EXACT file sets; only g3 rewrote; g9 is new
    (0 to 6).map(i => s"grp=g$i").filterNot(_ == "grp=g3").foreach(k =>
      assert(after(k) === before(k), s"untouched $k must carry by reference"))
    assert(after("grp=g3") !== before("grp=g3"))
    assert(after.contains("grp=g9"), "insert into a new key lands as an append")
    // the scoped result equals the full-rewrite twin row-for-row
    spark.conf.set("spark.graft.merge.partitionScoped", "false")
    try graft.plans.MergeInto.sql(spark, stmt(twin))
    finally spark.conf.unset("spark.graft.merge.partitionScoped")
    assert(spark.table(t).orderBy("k", "v").collect().toSeq ===
      spark.table(twin).orderBy("k", "v").collect().toSeq)
    // a PURE-INSERT merge (no key matches) must append, rewriting nothing
    val before2 = relsByKey
    Seq((77001L, 1.0, "g2"), (77002L, 2.0, "g8")).toDF("k", "nv", "sgrp")
      .createOrReplaceTempView("cow_ins")
    graft.plans.MergeInto.sql(spark,
      s"MERGE INTO $t t USING cow_ins s ON t.grp = s.sgrp AND t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET v = s.nv " +
        "WHEN NOT MATCHED THEN INSERT (k, v, grp) VALUES (s.k, s.nv, s.sgrp)")
    val after2 = relsByKey
    before2.keySet.foreach(k =>
      assert(after2(k).intersect(before2(k)) === before2(k),
        s"pure-insert merge must not rewrite $k"))
    assert(spark.table(t).where("k >= 77000 AND k < 78000").count() === 2L)
    spark.sql(s"DROP TABLE $t"); spark.sql(s"DROP TABLE $twin")
  }

  test("concurrent MOR and CoW DML on different tables never interfere (the race the property model kills)") {
    import spark.implicits._
    val mor = "gdm.ns.racemor"
    val cow = "gdm.ns.racecow"
    spark.sql(s"DROP TABLE IF EXISTS $mor"); spark.sql(s"DROP TABLE IF EXISTS $cow")
    (0L until 20000L).map(k => (k, k.toDouble)).toDF("k", "v")
      .repartition(4).writeTo(mor)
      .tableProperty("write.delete.mode", "merge-on-read")
      .tableProperty("write.update.mode", "merge-on-read").create()
    (0L until 20000L).map(k => (k, k.toDouble)).toDF("k", "v")
      .repartition(4).writeTo(cow).create()
    val rMor = root("racemor")
    val morData = dataRels(rMor)
    @volatile var failure: Option[Throwable] = None
    def thread(body: => Unit) = new Thread(() =>
      try body catch { case t: Throwable => failure = Some(t) })
    // interleave many small DMLs from two threads over the one shared
    // session; with conf-based modes a restore on either side could flip
    // the other's path mid-flight — with table properties there is no
    // shared state to race on
    val t1 = thread {
      for (i <- 0 until 5)
        graft.plans.MergeInto.sql(spark, s"DELETE FROM $mor WHERE k % 100 = $i")
    }
    val t2 = thread {
      for (i <- 0 until 5)
        graft.plans.MergeInto.sql(spark,
          s"UPDATE $cow SET v = v + 1 WHERE k % 100 = ${50 + i}")
    }
    t1.start(); t2.start(); t1.join(60000); t2.join(60000)
    failure.foreach(throw _)
    assert(dataRels(rMor) === morData,
      "every MOR delete must have tombstoned, never rewritten, data files")
    assert(ManifestTable.hasDeletes(rMor))
    assert(!ManifestTable.hasDeletes(root("racecow")),
      "the CoW table must never have taken the merge-on-read path")
    assert(spark.table(mor).count() === 20000L - 5 * 200L)
    assert(spark.table(cow).where("v = k + 1").count() === 5 * 200L)
    spark.sql(s"DROP TABLE $mor"); spark.sql(s"DROP TABLE $cow")
  }

  test("MOR DML predicate pruning survives a column RENAME (filters speak physical names)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val t = "gdm.ns.prnren"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    (0L until 40000L).map(k => (k, k * 1.0)).toDF("k", "v")
      .repartitionByRange(8, col("k"))
      .writeTo(t).tableProperty("write.delete.mode", "merge-on-read")
      .tableProperty("write.update.mode", "merge-on-read").create()
    spark.sql(s"ALTER TABLE $t RENAME COLUMN k TO kk")
    val r = root("prnren")
    // the WHERE speaks the new LOGICAL name; file stats carry the
    // physical one — the pruning tier must translate, not decline
    graft.plans.MergeInto.sql(spark, s"DELETE FROM $t WHERE kk >= 35000")
    val (o, tot) = graft.plans.MergeInto.lastMergeScan.get(r)
    assert(o > 0 && o * 2 <= tot,
      s"renamed-column DELETE must still prune at the manifest (opened=$o total=$tot)")
    assert(spark.table(t).count() === 35000L)
    // and the rewrite path too: a range UPDATE through the renamed name
    graft.plans.MergeInto.sql(spark, s"UPDATE $t SET v = -1.0 WHERE kk < 1000")
    val (o2, t2) = graft.plans.MergeInto.lastMergeScan.get(r)
    assert(o2 > 0 && o2 * 2 <= t2, s"UPDATE opened=$o2 total=$t2")
    assert(spark.table(t).where("v = -1.0").count() === 1000L)
    spark.sql(s"DROP TABLE $t")
  }

  test("day-scoped CoW MERGE discovery probe prunes at the manifest (no full-table read)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    val t = "gdm.ns.cowday"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    // 20 days x 2000 rows, k strictly follows ts so per-day files carry
    // tight k bounds; day-partitioned catalog table, default CoW modes
    spark.range(0, 40000).select(
        col("id").as("k"),
        expr("timestamp_ntz '2024-03-01 00:00:00' + make_interval(0,0,0,0,0,0, id * 43.2)").as("ts"),
        (col("id") % 97).cast("double").as("v"))
      .writeTo(t)
      .partitionedBy(org.apache.spark.sql.functions.partitioning.days(col("ts")))
      .create()
    val r = root("cowday")
    def relsByDay: Map[String, Set[String]] =
      graft.sources.ManifestTable.liveEntries(r).map(_.rel)
        .groupBy(graft.sources.ManifestTable.keyOf)
        .map { case (kk, v) => kk -> v.toSet }
    val before = relsByDay
    assert(before.size >= 15, s"expected many day partitions, got ${before.size}")
    // staging batch confined to one day's key range: updates + an insert
    spark.range(4000, 4100).select(col("id").as("k"),
        expr("timestamp_ntz '2024-03-03 00:00:00' + make_interval(0,0,0,0,0,0, (id - 4000) * 10)").as("ts"),
        org.apache.spark.sql.functions.lit(-1.0d).as("v"))
      .createOrReplaceTempView("cowday_stg")
    graft.plans.MergeInto.sql(spark,
      s"""MERGE INTO $t t USING cowday_stg s
         |ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT (k, ts, v) VALUES (s.k, s.ts, s.v)""".stripMargin)
    // the discovery probe's EXECUTED plan must have opened well under
    // half the live files (the staged keys' bounds prune at the manifest)
    val (o, tot) = Option(graft.plans.MergeInto.lastMergeScan.get(r)).getOrElse(
      fail("scoped merge recorded no probe-scan evidence"))
    assert(o > 0 && o * 2 <= tot, s"discovery probe opened=$o of total=$tot")
    // scoping: untouched days carried their exact file sets
    val after = relsByDay
    val changed = before.keySet.filter(k => after.get(k) != Some(before(k)))
    assert(changed.nonEmpty && changed.size * 2 <= before.size,
      s"only touched days may rewrite (changed=$changed)")
    // correctness: matched rows updated in place, no duplicates
    assert(spark.table(t).count() === 40000L)
    assert(spark.table(t).where("v = -1.0").count() === 100L)
    assert(spark.table(t).groupBy("k").count().where("count > 1").count() === 0L)
    spark.sql(s"DROP TABLE $t")
  }

  test("key-scoped CoW MERGE composes with live MOR tombstones: scoped commit, deletes never resurrect") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, concat, lit}
    val t = "gdm.ns.cowtmb"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    (0L until 20000L).map(k => (k, s"g${k % 4}", k * 1.0)).toDF("k", "grp", "v")
      .writeTo(t).partitionedBy(col("grp"))
      .tableProperty("write.delete.mode", "merge-on-read").create() // merge mode: default CoW
    val r = root("cowtmb")
    // live tombstones across EVERY partition (the r18 cliff trigger)
    graft.plans.MergeInto.sql(spark, s"DELETE FROM $t WHERE k % 10 = 3")
    assert(graft.sources.ManifestTable.hasDeletes(r))
    def relsByKey: Map[String, Set[String]] =
      graft.sources.ManifestTable.liveEntries(r).map(_.rel)
        .filterNot(graft.sources.ManifestTable.isDeleteEntry)
        .groupBy(graft.sources.ManifestTable.keyOf)
        .map { case (k, v) => k -> v.toSet }
    val before = relsByKey
    // staged batch into ONE partition: updates (k≡2 mod 20, i.e. g2 rows
    // no DELETE touched) + one insert
    val stg = (0L until 20000L).filter(k => k % 4 == 2 && k % 10 == 2)
      .map(k => (k, "g2", -1.0)) ++ Seq((1000000001L, "g2", -2.0))
    stg.toDF("k", "grp", "v").createOrReplaceTempView("cowtmb_stg")
    graft.plans.MergeInto.sql(spark,
      s"""MERGE INTO $t t USING cowtmb_stg s
         |ON t.grp = s.grp AND t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT (k, grp, v) VALUES (s.k, s.grp, s.v)""".stripMargin)
    val after = relsByKey
    // scoped commit: untouched partitions byte-identical, no cliff
    before.keySet.filterNot(_ == "grp=g2").foreach(k =>
      assert(after.get(k).contains(before(k)), s"untouched $k rewrote"))
    assert(after("grp=g2") != before("grp=g2"), "the touched key must rewrite")
    // deleted rows never resurrect — in touched OR carried partitions
    assert(spark.table(t).where("k % 10 = 3").count() === 0L)
    assert(spark.table(t).where("v = -1.0").count() ===
      (0L until 20000L).count(k => k % 4 == 2 && k % 10 == 2).toLong)
    assert(spark.table(t).where("v = -2.0").count() === 1L)
    assert(spark.table(t).count() === 20000L - 2000L + 1L)
    spark.sql(s"DROP TABLE $t")
  }

  test("day-scoped CoW MERGE composes with live MOR tombstones") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    val t = "gdm.ns.cowdtmb"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.range(0, 20000).select(
        col("id").as("k"),
        expr("timestamp_ntz '2024-03-01 00:00:00' + make_interval(0,0,0,0,0,0, id * 86.4)").as("ts"),
        col("id").cast("double").as("v"))
      .writeTo(t)
      .partitionedBy(org.apache.spark.sql.functions.partitioning.days(col("ts")))
      .tableProperty("write.delete.mode", "merge-on-read").create()
    val r = root("cowdtmb")
    graft.plans.MergeInto.sql(spark, s"DELETE FROM $t WHERE k % 10 = 7")
    assert(graft.sources.ManifestTable.hasDeletes(r))
    def relsByDay: Map[String, Set[String]] =
      graft.sources.ManifestTable.liveEntries(r).map(_.rel)
        .filterNot(graft.sources.ManifestTable.isDeleteEntry)
        .groupBy(graft.sources.ManifestTable.keyOf)
        .map { case (k, v) => k -> v.toSet }
    val before = relsByDay
    // day 2 (2024-03-03) holds ids [2000, 3000): update its k%10==1 rows
    spark.range(2000, 3000).where(col("id") % 10 === 1)
      .select(col("id").as("k"),
        expr("timestamp_ntz '2024-03-03 00:00:00'").as("ts"),
        org.apache.spark.sql.functions.lit(-1.0d).as("v"))
      .createOrReplaceTempView("cowdtmb_stg")
    graft.plans.MergeInto.sql(spark,
      s"""MERGE INTO $t t USING cowdtmb_stg s
         |ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT (k, ts, v) VALUES (s.k, s.ts, s.v)""".stripMargin)
    val after = relsByDay
    val touched = "__day=2024-03-03"
    before.keySet.filterNot(_ == touched).foreach(k =>
      assert(after.get(k).contains(before(k)), s"untouched $k rewrote"))
    assert(after(touched) != before(touched))
    assert(spark.table(t).where("k % 10 = 7").count() === 0L,
      "deleted rows must stay dead through the scoped rewrite")
    assert(spark.table(t).where("v = -1.0").count() === 100L)
    assert(spark.table(t).count() === 20000L - 2000L)
    spark.sql(s"DROP TABLE $t")
  }

  test("pruned MOR MERGE drops out-of-range equality deletes from its read (twin-equal vs unpruned)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def build(name: String): String = {
      val t = s"gdm.ns.$name"
      spark.sql(s"DROP TABLE IF EXISTS $t")
      (0L until 40000L).map(k => (k, k * 1.0)).toDF("k", "v")
        .repartitionByRange(8, col("k"))
        .writeTo(t).tableProperty("write.merge.mode", "merge-on-read").create()
      // an equality-delete backlog whose key bounds live FAR from the
      // staging batch's range
      graft.sources.ManifestTable.appendEqualityDeletes(
        (35000L until 35010L).toDF("k"), root(name))
      t
    }
    val (tp, tu) = (build("eqnarrow"), build("eqnarrow_u"))
    ((1000L until 1100L).map(k => (k, -1.0)) ++ Seq((1000000001L, -2.0)))
      .toDF("k", "sv").createOrReplaceTempView("eqnarrow_stg")
    def merge(t: String): Unit = graft.plans.MergeInto.sql(spark,
      s"""MERGE INTO $t t USING eqnarrow_stg s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.sv
         |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.sv)""".stripMargin)
    merge(tp)
    val (o, tot) = graft.plans.MergeInto.lastMergeScan.get(root("eqnarrow"))
    assert(o > 0 && o * 2 <= tot, s"merge must prune (opened=$o total=$tot)")
    assert(graft.plans.MergeInto.lastMergeDeleteScan.get(root("eqnarrow")) === 0L,
      "an out-of-range equality delete must not be loaded by a pruned merge")
    // twin equality: the unpruned merge commits the identical table
    spark.conf.set("spark.graft.merge.targetPrune", "false")
    try merge(tu) finally spark.conf.unset("spark.graft.merge.targetPrune")
    val a = spark.table(tp).orderBy("k").collect().toSeq
    val b = spark.table(tu).orderBy("k").collect().toSeq
    assert(a === b, "pruned and unpruned merges must commit identical tables")
    assert(spark.table(tp).where("k >= 35000 AND k < 35010").count() === 0L,
      "the eq-retracted rows stay dead")
    assert(spark.table(tp).count() === 40000L - 10L + 1L)
    spark.sql(s"DROP TABLE $tp"); spark.sql(s"DROP TABLE $tu")
  }

  test("cross-typed MERGE keys emit no prune filter: DOUBLE source on DECIMAL target never mis-prunes") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    // the prune verdict renders values in the TARGET's stats domain
    // (exact decimal strings) while the join compares under DOUBLE
    // coercion — a cross-typed pair must simply not prune, so the file
    // holding the real match is read and the row updates instead of
    // silently re-inserting as NOT MATCHED
    val t = "gdm.ns.prndec"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.range(0, 4000).select(
        expr("CAST(id AS DECIMAL(12,2)) / 100").as("k"),
        col("id").cast("double").as("v"))
      .repartitionByRange(4, col("k"))
      .writeTo(t).tableProperty("write.merge.mode", "merge-on-read").create()
    Seq((1.1d, -5.0d)).toDF("sk", "sv").createOrReplaceTempView("prndec_stg")
    graft.plans.MergeInto.sql(spark,
      s"MERGE INTO $t t USING prndec_stg s ON t.k = s.sk " +
        "WHEN MATCHED THEN UPDATE SET v = s.sv " +
        "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.sk, s.sv)")
    assert(spark.table(t).count() === 4000L,
      "the decimal row must be FOUND and updated, never duplicated")
    assert(spark.table(t).where("v = -5.0").count() === 1L)
    // the conservative half of the contract: no filter was emitted, so
    // the target read stayed unpruned
    val (o, tot) = graft.plans.MergeInto.lastMergeScan.get(root("prndec"))
    assert(o === tot, s"cross-typed key must skip pruning (opened=$o total=$tot)")
    spark.sql(s"DROP TABLE $t")
  }

  /** A 10-day table, 200 rows a day, `k` following `ts`: day d
    * (2024-03-01 + d) holds k in [200d, 200d + 200), one file each. */
  private def tenDays(t: String): Unit = {
    import org.apache.spark.sql.functions.{col, expr}
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.range(0, 2000).select(
        col("id").as("k"),
        expr("timestamp_ntz '2024-03-01 00:00:00' + make_interval(0,0,0,0,0,0, id * 432)").as("ts"),
        (col("id") % 97).cast("double").as("v"))
      .writeTo(t)
      .partitionedBy(org.apache.spark.sql.functions.partitioning.days(col("ts")))
      .create()
  }
  private def day(d: Int): String = s"2024-03-${"%02d".format(d + 1)}"
  private def noon(d: Int) = java.time.LocalDate.parse(day(d)).atTime(12, 0)
  private def dayFiles(r: String): Map[String, Set[String]] =
    ManifestTable.liveEntries(r).map(_.rel)
      .filterNot(ManifestTable.isDeleteEntry)
      .groupBy(ManifestTable.keyOf).map { case (k, v) => k -> v.toSet }

  test("day-scoped CoW MERGE discovery: pin, key summary, ONE single-scan join, rewrite") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.util.QueryExecutionListener
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import spark.implicits._
    val t = "gdm.ns.cowstmt"
    tenDays(t)
    // more keys than the cap (the bounds path) plus an insert: still one
    // key-summary statement and one discovery join
    ((400L until 450L).map(k => (Option(k), noon(2), -1.0)) ++
      Seq((Option(90001L), noon(8), 5.0)))
      .toDF("k", "ts", "v").createOrReplaceTempView("cowstmt_src")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(f -> qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = seen.add(f -> qe)
    }
    spark.conf.set("spark.graft.merge.pruneMaxKeys", "20")
    spark.listenerManager.register(listener)
    val stmts = try {
      graft.plans.MergeInto.sql(spark,
        s"""MERGE INTO $t t USING cowstmt_src s ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET v = s.v
           |WHEN NOT MATCHED THEN INSERT (k, ts, v) VALUES (s.k, s.ts, s.v)""".stripMargin)
      // the listener bus delivers in order: once this marker statement
      // arrives, every statement the MERGE ran has too
      spark.range(0, 7, 1, 1).collect()
      import scala.jdk.CollectionConverters._
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def isMarker(qe: QueryExecution) = qe.logical.collectFirst {
        case r: org.apache.spark.sql.catalyst.plans.logical.Range if r.end == 7 => r
      }.nonEmpty
      while (!seen.asScala.exists(e => isMarker(e._2)) && System.nanoTime() < deadline)
        Thread.sleep(20)
      seen.asScala.toSeq.takeWhile { case (_, qe) => !isMarker(qe) }
    } finally {
      spark.listenerManager.unregister(listener)
      spark.conf.unset("spark.graft.merge.pruneMaxKeys")
    }
    val inner = stmts.filterNot { case (_, qe) =>
      qe.logical.collectFirst { case c: graft.plans.GraftMergeCommand => c }.nonEmpty }
    assert(stmts.size - inner.size === 1, s"one MERGE command: ${stmts.map(_._1)}")
    assert(inner.size === 4,
      s"pin, key summary, discovery, rewrite — got ${inner.map(_._1)}")
    def nodes(qe: QueryExecution) =
      graft.sources.v2.GraftScans.executedNodes(qe.executedPlan)
    val withJoin = inner.filter { case (_, qe) => nodes(qe).exists(_.isInstanceOf[BaseJoinExec]) }
    val discovery = withJoin.filter { case (f, _) => f == "collect" }
    assert(discovery.size === 1, s"one discovery statement: ${inner.map(_._1)}")
    val dn = nodes(discovery.head._2)
    assert(dn.count(_.isInstanceOf[BatchScanExec]) === 1,
      s"discovery scans the target once:\n${discovery.head._2.executedPlan}")
    assert(!dn.exists {
      case j: BaseJoinExec => j.joinType == LeftAnti
      case _ => false
    }, s"no anti probe:\n${discovery.head._2.executedPlan}")
    // and the merge did its work
    assert(spark.table(t).where("v = -1.0").count() === 50L)
    assert(spark.table(t).count() === 2001L)
    spark.sql(s"DROP TABLE $t")
  }

  test("day-scoped CoW MERGE rewrites exactly the touched days and equals the full-rewrite twin") {
    import spark.implicits._
    // each case runs the scoped MERGE and the partitionScoped=false twin;
    // `changed` is the exact set of days whose file set may move
    def twinCase(name: String, src: org.apache.spark.sql.DataFrame, clauses: String,
                 changed: Set[Int], confs: Map[String, String] = Map.empty,
                 pruned: Boolean = false): Unit = {
      val t = s"gdm.ns.dtw_$name"; val twin = s"gdm.ns.dtw_${name}_full"
      Seq(t, twin).foreach(tenDays)
      src.createOrReplaceTempView(s"dtw_${name}_src")
      def stmt(tbl: String) =
        s"MERGE INTO $tbl t USING dtw_${name}_src s ON t.k = s.k $clauses"
      val r = root(s"dtw_$name")
      val before = dayFiles(r)
      def withConfs(cs: Map[String, String])(body: => Unit): Unit = {
        cs.foreach { case (k, v) => spark.conf.set(k, v) }
        try body finally cs.keys.foreach(spark.conf.unset)
      }
      withConfs(confs)(graft.plans.MergeInto.sql(spark, stmt(t)))
      if (pruned) {
        val (o, tot) = graft.plans.MergeInto.lastMergeScan.get(r)
        assert(o * 2 <= tot, s"$name: the key summary must prune the probe ($o of $tot)")
      }
      withConfs(confs + ("spark.graft.merge.partitionScoped" -> "false"))(
        graft.plans.MergeInto.sql(spark, stmt(twin)))
      assert(spark.table(t).orderBy("k", "ts", "v").collect().toSeq ===
        spark.table(twin).orderBy("k", "ts", "v").collect().toSeq, s"$name: twin rows")
      val after = dayFiles(r)
      val moved = before.keySet.filter(k => after.get(k) != Some(before(k)))
      assert(moved === changed.map(d => s"${ManifestTable.DayCol}=${day(d)}"),
        s"$name: only the touched days may change")
      spark.sql(s"DROP TABLE $t"); spark.sql(s"DROP TABLE $twin")
    }
    // update-only: the source ts sits on day 7, the matches on day 2
    twinCase("upd",
      (400L until 410L).map(k => (k, noon(7), -1.0)).toDF("k", "ts", "v"),
      "WHEN MATCHED THEN UPDATE SET v = s.v", changed = Set(2))
    // conditional insert: accepted rows land on day 4, rejected ones sit
    // on day 6, the matched rows' source ts on day 9
    twinCase("cins",
      ((400L until 405L).map(k => (k, noon(9), -1.0)) ++
        Seq((90001L, noon(4), 2.0), (90002L, noon(6), -3.0),
          (90003L, noon(6), 0.0))).toDF("k", "ts", "v"),
      "WHEN MATCHED THEN UPDATE SET v = s.v " +
        "WHEN NOT MATCHED AND s.v > 0 THEN INSERT (k, ts, v) VALUES (s.k, s.ts, s.v)",
      changed = Set(2, 4))
    // a matched UPDATE moves rows from day 2 to day 5: day 2 rewrites,
    // day 5 receives the moved rows
    twinCase("move",
      (400L until 410L).map(k => (k, noon(5), -1.0)).toDF("k", "ts", "v"),
      "WHEN MATCHED THEN UPDATE SET ts = s.ts, v = s.v", changed = Set(2, 5))
    // all-null keys match nothing: pure inserts landing on day 3
    twinCase("nulls",
      Seq((Option.empty[Long], noon(3), 1.0),
        (Option.empty[Long], noon(3), 2.0)).toDF("k", "ts", "v"),
      "WHEN MATCHED THEN UPDATE SET v = s.v " +
        "WHEN NOT MATCHED THEN INSERT (k, ts, v) VALUES (s.k, s.ts, s.v)",
      changed = Set(3))
    // more keys than pruneMaxKeys: the [min, max] bounds still prune the
    // probe to day 1; null-key inserts land on day 8
    twinCase("bounds",
      ((200L until 300L).map(k => (Option(k), noon(1), -1.0)) ++
        Seq((Option.empty[Long], noon(8), 4.0))).toDF("k", "ts", "v"),
      "WHEN MATCHED THEN UPDATE SET v = s.v " +
        "WHEN NOT MATCHED THEN INSERT (k, ts, v) VALUES (s.k, s.ts, s.v)",
      changed = Set(1, 8), confs = Map("spark.graft.merge.pruneMaxKeys" -> "20"),
      pruned = true)
  }
}
