package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Evolution, Formats, Versioned}

/** Table-format semantics the reference gets from Iceberg, re-expressed
  * without it: versioned snapshot commits with an atomic pointer flip
  * (+ time travel over retained snapshots) and schema evolution over
  * catalog tables. */
class TableFormatSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  test("versioned commit: snapshot isolation, pointer flip, time travel, GC") {
    import spark.implicits._
    val root = Files.createTempDirectory("versioned").toString + "/t"

    assert(!Versioned.exists(root))
    intercept[IllegalStateException](Versioned.read(spark, root))

    val v1 = Versioned.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root, retain = 2)
    assert(v1 === 1L && Versioned.currentVersion(root) === Some(1L))
    assert(Versioned.read(spark, root).count() === 2)

    // a reader pinned to v=1 survives the v=2 commit untouched
    val pinned = Versioned.currentPath(root).get
    val v2 = Versioned.commit(Seq((1L, "a"), (2L, "B"), (3L, "c")).toDF("k", "v"), root, retain = 2)
    assert(v2 === 2L)
    assert(spark.read.parquet(pinned).count() === 2, "v=1 snapshot must remain intact")
    assert(Versioned.read(spark, root).count() === 3)

    // time travel across retained snapshots
    assert(Versioned.readVersion(spark, root, 1L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap === Map(1L -> "a", 2L -> "b"))
    assert(Versioned.versions(root) === Seq(1L, 2L))

    // retain=2: committing v=3 GCs v=1 but keeps v=2
    Versioned.commit(Seq((9L, "z")).toDF("k", "v"), root, retain = 2)
    assert(Versioned.versions(root) === Seq(2L, 3L))
    intercept[IllegalArgumentException](Versioned.readVersion(spark, root, 1L))

    // crash safety: an orphan data dir with no pointer flip is invisible
    val orphan = s"$root/v=99"
    Seq((0L, "junk")).toDF("k", "v").write.parquet(orphan)
    assert(Versioned.currentVersion(root) === Some(3L))
    assert(Versioned.read(spark, root).collect().map(_.getLong(0)).toSeq === Seq(9L))
  }

  test("versioned sidecars: published, rolled back and aged out with their snapshot") {
    import spark.implicits._
    val root = Files.createTempDirectory("vsidecar").toString + "/t"
    val rows = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val more = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")

    val v1 = Versioned.commit(rows, root, sidecars = Map("consumed" -> "f1"))
    val v2 = Versioned.commit(more, root, sidecars = Map("consumed" -> "f1\nf2"))
    // visible only through the version that carries it
    assert(Versioned.sidecar(root, v1, "consumed") === Some("f1"))
    assert(Versioned.sidecar(root, v2, "consumed") === Some("f1\nf2"))
    assert(Versioned.sidecar(root, v2, "other") === None)
    // data reads and the snapshot log never see it
    assert(Versioned.read(spark, root).count() === 3)
    assert(Versioned.readVersion(spark, root, v1).columns.toSeq === Seq("k", "v"))
    assert(Versioned.readVersion(spark, root, v1).count() === 2)
    assert(Versioned.history(spark, root).count() === 2)
    // names that data readers would not skip are refused
    Seq("SUCCESS", "metadata", "x=1", "").foreach { n =>
      intercept[IllegalArgumentException](Versioned.commit(rows, root, sidecars = Map(n -> "")))
    }

    // rollback moves the live list with the live snapshot
    Versioned.rollback(root, v1)
    assert(Versioned.sidecar(root, Versioned.currentVersion(root).get, "consumed") === Some("f1"))

    // a writer failing after its data write, before the flip: the sidecar
    // path is taken by a directory planted from inside the write job
    val next = Versioned.versions(root).max + 1
    val blocker = s"$root/v=$next/_consumed/blocker"
    val plant = udf { (k: Long) => new java.io.File(blocker).mkdirs(); k }
    intercept[Exception](Versioned.commit(
      spark.range(1, 4).select(plant(col("id")).as("k"), lit("x").as("v")), root,
      sidecars = Map("consumed" -> "f1\nf2\nf3")))
    assert(Files.exists(Paths.get(blocker)), "the data write ran")
    assert(Versioned.currentVersion(root) === Some(v1))
    assert(Versioned.sidecar(root, v1, "consumed") === Some("f1"))
    assert(Versioned.read(spark, root).count() === 2)

    // retention GC removes each list with its v=N directory
    val v4 = Versioned.commit(more, root, sidecars = Map("consumed" -> "f4"))
    assert(v4 > next && Versioned.sidecar(root, v4, "consumed") === Some("f4"))
    assert(!Versioned.versions(root).contains(v1) && Versioned.sidecar(root, v1, "consumed") === None)
    assert(!Files.exists(Paths.get(s"$root/v=$v1")))
  }

  test("compaction: packs fragmented files into a new snapshot, data identical") {
    import spark.implicits._
    val root = Files.createTempDirectory("vcompact").toString + "/t"
    // commit a deliberately fragmented snapshot (20 tiny files)
    val df = (1L to 200L).map(i => (i, s"row_$i")).toDF("k", "v")
    Versioned.commit(df.repartition(20), root, retain = 3)
    val before = Versioned.history(spark, root).collect()
      .find(_.getAs[Boolean]("is_current")).get
    assert(before.getAs[Long]("n_files") >= 20)

    val v2 = Versioned.compact(spark, root, targetFileBytes = 128L << 20, retain = 3)
    assert(Versioned.currentVersion(root) === Some(v2))
    val after = Versioned.history(spark, root).collect()
      .find(_.getAs[Boolean]("is_current")).get
    assert(after.getAs[Long]("n_files") < before.getAs[Long]("n_files"),
      "compaction must reduce the data-file count")
    // contents identical; the fragmented snapshot is still time-travelable
    assert(Versioned.read(spark, root).collect().map(_.getLong(0)).sorted.toSeq
      === (1L to 200L))
    assert(Versioned.readVersion(spark, root, 1L).count() === 200)
  }

  test("rollback: pointer-only rollback, post-rollback commits allocate above history") {
    import spark.implicits._
    val root = Files.createTempDirectory("vrollback").toString + "/t"
    Versioned.commit(Seq((1L, "a")).toDF("k", "v"), root, retain = 3)        // v=1
    Versioned.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root, retain = 3) // v=2

    // rollback is a pointer flip; younger snapshot stays retained
    Versioned.rollback(root, 1L)
    assert(Versioned.currentVersion(root) === Some(1L))
    assert(Versioned.read(spark, root).count() === 1)
    assert(Versioned.versions(root) === Seq(1L, 2L))

    // the next commit must allocate ABOVE the retained v=2, not at pointer+1
    val v3 = Versioned.commit(Seq((9L, "z")).toDF("k", "v"), root, retain = 2)
    assert(v3 === 3L)
    assert(Versioned.readVersion(spark, root, 2L).count() === 2,
      "post-rollback commit must not overwrite retained history")
    // retention GC ages out v=1 (3 - retain 2)
    assert(Versioned.versions(root) === Seq(2L, 3L))
  }

  test("snapshot history: one row per retained version, live flagged") {
    import spark.implicits._
    val root = Files.createTempDirectory("vhist").toString + "/t"
    Versioned.commit(Seq((1L, "a")).toDF("k", "v"), root, retain = 3)
    Versioned.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root, retain = 3)
    val h = Versioned.history(spark, root).collect()
      .map(r => r.getAs[Long]("version") -> r).toMap
    assert(h.keySet === Set(1L, 2L))
    assert(h(2L).getAs[Boolean]("is_current") && !h(1L).getAs[Boolean]("is_current"))
    h.values.foreach { r =>
      assert(r.getAs[Long]("n_files") > 0 && r.getAs[Long]("bytes") > 0)
      assert(r.getAs[java.sql.Timestamp]("committed_at").getTime > 0)
    }
  }

  test("snapshot diff: insert/update/delete change feed between versions") {
    import spark.implicits._
    val root = Files.createTempDirectory("vdiff").toString + "/t"
    Versioned.commit(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), root, retain = 3)
    Versioned.commit(Seq((2L, "B"), (3L, "c"), (4L, "d")).toDF("k", "v"), root, retain = 3)

    val changes = Versioned.diff(spark, root, 1L, 2L, Seq("k")).collect()
      .map(r => r.getAs[Long]("k") ->
        ((r.getAs[String]("change_type"),
          r.getAs[org.apache.spark.sql.Row]("before").getAs[String]("v"),
          r.getAs[org.apache.spark.sql.Row]("after").getAs[String]("v")))).toMap
    assert(changes.keySet === Set(1L, 2L, 4L), "unchanged key 3 must not appear")
    assert(changes(1L) === (("delete", "a", null)))
    assert(changes(2L) === (("update", "b", "B")))
    assert(changes(4L) === (("insert", null, "d")))
  }

  test("saveAsTable durability: data lives in the warehouse dir, readable without the catalog") {
    // The reference's Hive Metastore gives catalog durability across
    // sessions; the session catalog here is in-memory, but the DATA
    // durability half holds: saveAsTable writes real parquet under the
    // warehouse dir that any future session (or engine) can read by path,
    // so losing the catalog loses names, never tables.
    val df = Tables.region(spark, sf)
    val Seq(name) = Formats.fanoutTables(spark, df, "graft_test", "durable_region", Seq("parquet"))
    val loc = spark.sql(s"DESCRIBE TABLE EXTENDED $name")
      .where(col("col_name") === "Location").select("data_type").head().getString(0)
    assert(loc.startsWith("file:"), s"expected a filesystem location, got $loc")
    val path = new java.net.URI(loc).getPath
    assert(new java.io.File(path).isDirectory, "table files must exist on disk")
    // catalog-free read-back: same rows via the raw path
    val back = spark.read.parquet(path)
    assert(back.count() === df.count())
    assert(back.columns.sorted.toSeq === df.columns.sorted.toSeq)
  }

  test("schema evolution: ADD COLUMN is metadata-only, old rows read NULL") {
    val df = Tables.region(spark, sf)
    val Seq(name, _) = Formats.fanoutTables(spark, df, "graft_test", "evo_region")
    Evolution.addColumn(spark, name, "ingest_note", "STRING")

    val evolved = spark.table(name)
    assert(evolved.columns.contains("ingest_note"))
    // pre-evolution files lack the column -> NULLs, row count unchanged
    assert(evolved.count() === df.count())
    assert(evolved.where(col("ingest_note").isNull).count() === df.count())

    // new writes carry the column; both generations coexist in one table
    evolved.limit(1).withColumn("ingest_note", lit("backfill"))
      .write.mode("append").format("parquet").saveAsTable(name)
    assert(spark.table(name).where(col("ingest_note") === "backfill").count() === 1)
  }

  test("schema evolution: RENAME COLUMN preserves data through the CTAS swap") {
    val df = Tables.nation(spark, sf)
    val Seq(name, _) = Formats.fanoutTables(spark, df, "graft_test", "evo_nation")
    val before = spark.table(name).select(col("n_name")).collect().map(_.getString(0)).sorted

    Evolution.renameColumn(spark, name, "n_name", "nation_name")

    val t = spark.table(name)
    assert(t.columns.contains("nation_name") && !t.columns.contains("n_name"))
    val after = t.select(col("nation_name")).collect().map(_.getString(0)).sorted
    assert(after.toSeq === before.toSeq, "rename must not lose or alter rows")
    // the staging table must not survive the swap
    assert(!spark.catalog.tableExists("graft_test.evo_nation_parquet__rename_tmp"))
  }

  test("manifest optimistic concurrency: a held claim blocks, a stale claim is reclaimed") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val root = Files.createTempDirectory("manifest_occ").toString + "/t"
    ManifestTable.commit(Seq((1L, "a")).toDF("k", "v"), root)   // v1 live

    // an in-flight committer holds the v=2 claim (fresh mtime): this
    // committer's claim collides, rebase retries find the same base (the
    // holder never flips), and the conflict surfaces — no pointer moved,
    // no silent lost update
    val mdir = Paths.get(root, "manifests")
    val claim = mdir.resolve("v=2.txt")
    Files.write(claim, ManifestTable.manifest(root, 1).mkString("\n").getBytes)
    spark.conf.set("spark.graft.manifest.commitRetries", "1")
    try intercept[org.apache.hadoop.fs.FileAlreadyExistsException] {
      ManifestTable.append(Seq((2L, "b")).toDF("k", "v"), root)
    } finally spark.conf.unset("spark.graft.manifest.commitRetries")
    // the table is untouched: pointer still v1, v1 content intact
    assert(ManifestTable.currentVersion(root).contains(1L))
    assert(ManifestTable.read(spark, root).count() === 1)

    // the same claim aged past the grace period is a CRASHED committer
    // (claim→flip is milliseconds): the next commit reclaims it and lands,
    // so an orphan can never block the version sequence permanently
    Files.setLastModifiedTime(claim, java.nio.file.attribute.FileTime.from(
      java.time.Instant.now().minusSeconds(900))) // > the 10-min claim grace
    ManifestTable.append(Seq((2L, "b")).toDF("k", "v"), root)
    assert(ManifestTable.currentVersion(root).contains(2L))
    assert(ManifestTable.read(spark, root).count() === 2)
  }

  test("manifest commits rebase: concurrent appenders both land, both file sets survive") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val root = Files.createTempDirectory("manifest_rebase").toString + "/t"
    ManifestTable.commit(Seq((0L, "seed")).toDF("k", "v"), root, retain = 10)

    // two appenders race from the same base: the claim loser re-reads the
    // winner's manifest and publishes base ∪ its own files — append/append
    // never conflicts (Iceberg's fast-append retry)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 2).map { i =>
      new Thread(() => {
        try ManifestTable.append(Seq((i.toLong, s"t$i")).toDF("k", "v"), root, retain = 10)
        catch { case t: Throwable => errs.add(t) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"concurrent appends must both land: ${errs}")
    assert(ManifestTable.currentVersion(root).contains(3L))
    assert(ManifestTable.read(spark, root).orderBy("k").as[(Long, String)].collect().toSeq
      === Seq(0L -> "seed", 1L -> "t1", 2L -> "t2"))

    // replaceDays vs append on the SAME days: the rewrite was computed
    // against version v0, the append landed after — anchoring the rewrite
    // at v0 must refuse with ConcurrentModificationException, not lose the
    // appended row
    val proot = Files.createTempDirectory("manifest_rebase2").toString + "/p"
    def ts(d: Int, h: Int) = java.time.LocalDateTime.of(2024, 5, d, h, 0)
    val v0 = ManifestTable.commit(
      Seq((1L, ts(1, 6)), (2L, ts(2, 6))).toDF("k", "ts"),
      proot, retain = 10, partitionDayOf = Some("ts"))
    val rewritten = ManifestTable.read(spark, proot).where("k = 1")
    // a concurrent appender lands MORE rows into day 05-01 first
    ManifestTable.append(Seq((9L, ts(1, 9))).toDF("k", "ts"), proot,
      retain = 10, partitionDayOf = Some("ts"))
    intercept[java.util.ConcurrentModificationException] {
      ManifestTable.replaceDays(rewritten, proot, Set("2024-05-01"), "ts",
        retain = 10, expectedVersion = Some(v0))
    }
    assert(ManifestTable.read(spark, proot).count() === 3, "the append must survive")
    // a rewrite of a day the append did NOT touch rebases and lands
    val (v2, raw2) = ManifestTable.readRawPinned(spark, proot)
    val day2 = raw2
      .where(col("__day") === "2024-05-02").drop("__day").withColumn("k", col("k") + 100)
    ManifestTable.replaceDays(day2, proot, Set("2024-05-02"), "ts",
      retain = 10, expectedVersion = Some(v2))
    assert(ManifestTable.read(spark, proot).orderBy("k")
      .select("k").as[Long].collect().toSeq === Seq(1L, 9L, 102L))
  }

  test("versioned table on an explicit file:// Hadoop URI: commit, time travel, rollback") {
    import spark.implicits._
    val root = "file://" + Files.createTempDirectory("versioned_scheme").toString + "/t"
    Versioned.commit(Seq((1L, "a")).toDF("k", "v"), root, retain = 5)
    Versioned.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root, retain = 5)
    assert(Versioned.currentVersion(root).contains(2L))
    assert(Versioned.read(spark, root).count() === 2)
    assert(Versioned.readVersion(spark, root, 1L).count() === 1)
    Versioned.rollback(root, 1L)
    assert(Versioned.read(spark, root).count() === 1)
    assert(Versioned.history(spark, root).count() === 2)
  }

  test("many concurrent appenders all land: union of every file set survives") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val root = Files.createTempDirectory("manifest_many").toString + "/t"
    ManifestTable.commit(Seq((0L, "seed")).toDF("k", "v"), root, retain = 20)
    val n = 6
    // worst case the last appender loses n-1 claims before landing
    spark.conf.set("spark.graft.manifest.commitRetries", (n + 2).toString)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    try {
      val threads = (1 to n).map { i =>
        new Thread(() => {
          try ManifestTable.append(Seq((i.toLong, s"t$i")).toDF("k", "v"), root, retain = 20)
          catch { case t: Throwable => errs.add(t) }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
    } finally spark.conf.unset("spark.graft.manifest.commitRetries")
    assert(errs.isEmpty, s"all $n concurrent appends must land: $errs")
    assert(ManifestTable.currentVersion(root).contains((n + 1).toLong))
    assert(ManifestTable.read(spark, root).orderBy("k").select("k").as[Long]
      .collect().toSeq === (0L to n.toLong))
  }

  test("staleness guard: a commit planned before a racer landed re-plans, never buries it") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val root = Files.createTempDirectory("manifest_stale").toString + "/t"
    ManifestTable.commit(Seq((0L, "seed")).toDF("k", "v"), root, retain = 20)
    // one committer pauses between planning and allocating; the racer
    // lands INSIDE that window. The paused committer must detect its
    // base went stale and re-plan — publishing past the racer with the
    // stale plan would silently bury the racer's rows (the lost-update
    // shape the statistical appender test only catches sometimes).
    ManifestTable.testPlanPause.set(1500L)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val slow = new Thread(() => {
      try ManifestTable.append(Seq((1L, "slow")).toDF("k", "v"), root, retain = 20)
      catch { case t: Throwable => errs.add(t) }
    })
    slow.start()
    Thread.sleep(500) // the pause is consumed; land the racer inside it
    ManifestTable.append(Seq((2L, "fast")).toDF("k", "v"), root, retain = 20)
    slow.join()
    ManifestTable.testPlanPause.set(0L)
    assert(errs.isEmpty, s"both commits must land: $errs")
    assert(ManifestTable.read(spark, root).select("k").as[Long]
      .collect().toSet === Set(0L, 1L, 2L),
      "the overlapped commit must carry the racer's rows, not bury them")
    assert(ManifestTable.currentVersion(root).contains(3L))
  }

  test("manifest table on an explicit file:// Hadoop URI: full protocol round-trip") {
    import spark.implicits._
    import graft.sources.ManifestTable
    // the metadata plane goes through the Hadoop FileSystem API, so a
    // scheme-qualified URI must behave exactly like a bare local path —
    // the same code path an hdfs:// or s3a:// root would take
    val root = "file://" + Files.createTempDirectory("manifest_scheme").toString + "/t"
    def ts(d: Int) = java.time.LocalDateTime.of(2024, 7, d, 12, 0)
    ManifestTable.commit(Seq((1L, ts(1)), (2L, ts(2))).toDF("k", "ts"),
      root, retain = 10, partitionDayOf = Some("ts"))
    ManifestTable.append(Seq((3L, ts(3))).toDF("k", "ts"),
      root, retain = 10, partitionDayOf = Some("ts"),
      props = Map("stream.app.batch" -> "1"))
    assert(ManifestTable.currentVersion(root).contains(2L))
    assert(ManifestTable.liveDays(root) ===
      Set("2024-07-01", "2024-07-02", "2024-07-03"))
    assert(ManifestTable.liveProps(root)("stream.app.batch") === "1")
    // manifest-level day pruning and time travel through the URI
    assert(ManifestTable.readDayRange(spark, root, "ts",
      "2024-07-02 00:00:00", "2024-07-04 00:00:00").count() === 2)
    assert(ManifestTable.readVersion(spark, root, 1L).count() === 2)
    // metadata-only day drop, then history
    ManifestTable.dropDays(root, Set("2024-07-01"), retain = 10)
    assert(ManifestTable.read(spark, root).orderBy("k")
      .select("k").as[Long].collect().toSeq === Seq(2L, 3L))
    assert(ManifestTable.history(spark, root).count() === 3)
  }

  test("commit fencing: a reclaimed-midflight committer fails loudly, never publishes the racer's manifest as its own") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val root = Files.createTempDirectory("manifest_fence").toString + "/t"
    ManifestTable.commit(Seq((0L, "seed")).toDF("k", "v"), root, retain = 10)

    // committer A claims v=2 then stalls (injected pause) past a tiny
    // claim grace; committer B reclaims A's "stale" claim and lands its
    // own v=2. A must NOT report success for a version that now holds B's
    // content — the fence check turns the silent lost-commit into a
    // surfaced ConcurrentModificationException. Separate sessions: the
    // pause hook must stall ONLY A.
    val sA = spark.newSession(); val sB = spark.newSession()
    sA.conf.set("spark.graft.manifest.claimGraceMs", "400")
    sA.conf.set("spark.graft.manifest.testClaimPauseMs", "3000")
    sB.conf.set("spark.graft.manifest.claimGraceMs", "400")
    val aFailure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val a = new Thread(() => {
      org.apache.spark.sql.SparkSession.setActiveSession(sA)
      try ManifestTable.append(Seq((1L, "A")).toDF("k", "v"), root, retain = 10)
      catch { case t: Throwable => aFailure.set(t) }
    })
    try {
      a.start()
      // wait for A to hold the v=2 claim (it then sleeps in the pause hook)
      val claim = Paths.get(root, "manifests", "v=2.txt")
      val deadline = System.currentTimeMillis() + 10000
      while (!Files.exists(claim) && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(Files.exists(claim), "committer A never claimed")
      Thread.sleep(600) // age the claim past the 400 ms grace
      org.apache.spark.sql.SparkSession.setActiveSession(sB)
      ManifestTable.append(Seq((2L, "B")).toDF("k", "v"), root, retain = 10)
      a.join()
    } finally org.apache.spark.sql.SparkSession.setActiveSession(spark)
    assert(aFailure.get() != null, "the fenced-out committer must not report success")
    assert(aFailure.get().isInstanceOf[java.util.ConcurrentModificationException],
      s"expected a fencing conflict, got ${aFailure.get()}")
    // B's commit is the live v=2, intact; A's row never half-published
    assert(ManifestTable.currentVersion(root).contains(2L))
    assert(ManifestTable.read(spark, root).orderBy("k").as[(Long, String)]
      .collect().toSeq === Seq(0L -> "seed", 2L -> "B"))
    // the fence is protocol-internal: not part of the public props surface
    assert(!ManifestTable.liveProps(root).contains(ManifestTable.FenceProp))
  }

  test("GC orphan grace ages from POOL ENTRY and defaults far above the claim grace") {
    import spark.implicits._
    import graft.sources.{ManifestTable, MetaIO}
    val root = Files.createTempDirectory("manifest_orphan").toString + "/t"
    ManifestTable.commit(Seq((1L, "a")).toDF("k", "v"), root, retain = 1)

    // pool files of a live commit are mtime-stamped at move-in: a slow
    // Spark write (old file mtime) must not make them look sweep-aged
    val dataDir = Paths.get(root, "data")
    val pooled = Files.list(dataDir).toArray.map(_.toString).filter(_.endsWith(".parquet"))
    assert(pooled.nonEmpty)
    pooled.foreach { f =>
      assert(math.abs(System.currentTimeMillis() - MetaIO.mtimeMillis(f)) < 60000,
        s"pool file $f must be stamped with its ENTRY time, not the write time")
    }

    // an unreferenced file younger than the orphan grace survives GC even
    // when it is older than the CLAIM grace (the r6 hazard: in-flight
    // appends outliving a 60 s grace had their files swept mid-commit) …
    val inflight = dataDir.resolve("inflight_like.parquet")
    Files.write(inflight, Array[Byte](1, 2, 3))
    Files.setLastModifiedTime(inflight, java.nio.file.attribute.FileTime.from(
      java.time.Instant.now().minusSeconds(1200))) // 20 min: > claim grace, < orphan grace
    ManifestTable.commit(Seq((2L, "b")).toDF("k", "v"), root, retain = 1)
    assert(Files.exists(inflight),
      "an unreferenced pool file inside the orphan grace must survive GC")

    // … and one aged past the orphan grace is swept by MAINTENANCE (the
    // full never-referenced sweep is expire-only — commits never list the
    // pool, so commit cost can't grow with table size)
    Files.setLastModifiedTime(inflight, java.nio.file.attribute.FileTime.from(
      java.time.Instant.now().minusSeconds(7200))) // 2 h: past the 1 h orphan grace
    ManifestTable.commit(Seq((3L, "c")).toDF("k", "v"), root, retain = 1)
    assert(Files.exists(inflight),
      "commit-path GC must not do full-pool sweeps (cost ∝ table size)")
    ManifestTable.expireOldVersions(root, retain = 1)
    assert(!Files.exists(inflight), "an orphan aged past the grace is swept by expire")
  }

  test("writeAtomic under concurrent same-key writers: readers always see one full body") {
    import graft.sources.MetaIO
    val dir = Files.createTempDirectory("meta_atomic").toString
    val key = s"$dir/k"
    MetaIO.writeAtomic(key, "init")
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    // two writers hammer the SAME key (the r6 hazard: a shared `.tmp`
    // sibling let one publish the other's half-staged content or fail on
    // a vanished temp); a reader verifies every observed body is complete
    val writers = (1 to 2).map { i =>
      new Thread(() => {
        org.apache.spark.sql.SparkSession.setActiveSession(spark)
        var n = 0
        try while (!stop.get()) { MetaIO.writeAtomic(key, s"w$i-body-$n"); n += 1 }
        catch { case t: Throwable => errs.add(t) }
      })
    }
    val reader = new Thread(() => {
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
      try while (!stop.get()) {
        val s = MetaIO.readString(key)
        if (!(s == "init" || s.matches("w[12]-body-\\d+"))) errs.add(
          new IllegalStateException(s"torn read: '$s'"))
      } catch { case t: Throwable => errs.add(t) }
    })
    (writers :+ reader).foreach(_.start())
    Thread.sleep(1500)
    stop.set(true)
    (writers :+ reader).foreach(_.join())
    assert(errs.isEmpty, s"atomic publish violated: ${errs.peek()}")
    // no temp-file litter left behind
    assert(Files.list(Paths.get(dir)).toArray.map(_.toString).count(_.endsWith(".tmp")) === 0)
  }

  test("writer zone is recorded per commit and degrades to 'mixed' on cross-zone appends") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val root = Files.createTempDirectory("manifest_zone").toString + "/t"
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val df = Seq("2024-01-14 10:00:00").toDF("s")
        .select(to_timestamp(col("s")).as("ts"))
      ManifestTable.commit(df, root, retain = 10, partitionDayOf = Some("ts"))
      assert(ManifestTable.liveProps(root).get(ManifestTable.ZoneProp)
        .contains("America/New_York"))
      // same-zone append keeps the zone
      ManifestTable.append(df, root, retain = 10, partitionDayOf = Some("ts"))
      assert(ManifestTable.liveProps(root).get(ManifestTable.ZoneProp)
        .contains("America/New_York"))
      // a different-zone append means files from two timelines coexist:
      // no single zone describes the layout any more
      spark.conf.set("spark.sql.session.timeZone", "UTC")
      ManifestTable.append(df, root, retain = 10, partitionDayOf = Some("ts"))
      assert(ManifestTable.liveProps(root).get(ManifestTable.ZoneProp).contains("mixed"))
    } finally spark.conf.set("spark.sql.session.timeZone", prev)

    // zone-independent derivations (NTZ) never record a zone
    val root2 = Files.createTempDirectory("manifest_zone2").toString + "/t"
    val ntz = Seq("2024-01-14 10:00:00").toDF("s")
      .select(col("s").cast("timestamp_ntz").as("ts"))
    ManifestTable.commit(ntz, root2, retain = 10, partitionDayOf = Some("ts"))
    assert(!ManifestTable.liveProps(root2).contains(ManifestTable.ZoneProp))
  }

  test("NDV sketches: commits accumulate, MOR deletes inherit by parent walk, overwrite resets") {
    import spark.implicits._
    import graft.sources.{ManifestTable, NdvStats}
    val root = Files.createTempDirectory("versioned_ndv").toString + "/t"
    val v1 = ManifestTable.commit(
      (0L until 100L).map(i => (i, s"a$i")).toDF("k", "v"), root, retain = 10)
    val e1 = NdvStats.estimates(root, v1)
    assert(e1.get("k").exists(n => n > 90 && n < 110), e1.toString)
    // append DIFFERENT keys: the union grows past either side alone
    val v2 = ManifestTable.append(
      (100L until 200L).map(i => (i, s"b$i")).toDF("k", "v"), root, retain = 10)
    assert(NdvStats.estimates(root, v2).get("k").exists(n => n > 180 && n < 220))
    // a MOR delete commit writes no data and no sketch — the reader
    // walks the parent stamps to the last data commit's
    val rel = ManifestTable.encodedRel(root, ManifestTable.liveEntries(root)
      .map(_.rel).filterNot(ManifestTable.isDeleteEntry).head)
    val dv = ManifestTable.appendDeletes(
      Seq((rel, 0L)).toDF("__file", "__pos"), root, retain = 10)
    assert(NdvStats.read(root, dv).isEmpty, "delete commit carries no sketch")
    assert(NdvStats.estimates(root, dv).get("k").exists(_ > 180),
      "reader walks to the parent's sketch")
    // retention must not destroy the sketch lineage: expiring the
    // ancestors republishes the nearest sketch AT the surviving head
    // before their sidecars delete — without it the walk breaks AND the
    // next append would publish a fresh-rows-only sketch as the table's
    // NDV (no longer an upper bound)
    ManifestTable.expireOldVersions(root, retain = 1)
    assert(NdvStats.read(root, dv).nonEmpty,
      "gc republishes the ancestor's sketch at the surviving head")
    assert(NdvStats.estimates(root, dv).get("k").exists(_ > 180))
    val vAfter = ManifestTable.append(
      Seq((5000L, "w")).toDF("k", "v"), root, retain = 10)
    assert(NdvStats.estimates(root, vAfter).get("k").exists(_ > 180),
      "the post-expiry append merges with the preserved sketch")
    // overwrite resets: the stale 200-key estimate must not survive a
    // full rewrite that leaves 5 keys
    val v3 = ManifestTable.commit(
      (0L until 5L).map(i => (i, "z")).toDF("k", "v"), root, retain = 10)
    assert(NdvStats.estimates(root, v3).get("k").exists(_ <= 7))
    // opt-out: a session with the conf off writes no sketch for appends
    // (readers walk to the parent) — but an opted-out FULL REPLACEMENT
    // publishes the EMPTY sentinel: the walk must stop there, or readers
    // would present the replaced table's stale NDV as this snapshot's
    spark.conf.set("spark.graft.stats.ndv", "false")
    try {
      val v4 = ManifestTable.append(
        Seq((999L, "q")).toDF("k", "v"), root, retain = 10)
      assert(NdvStats.read(root, v4).isEmpty)
      assert(NdvStats.estimates(root, v4).get("k").exists(_ <= 7),
        "append still inherits the parent's (reset) sketch")
      val v5 = ManifestTable.commit(
        Seq((1L, "only")).toDF("k", "v"), root, retain = 10)
      assert(NdvStats.read(root, v5).exists(_.isEmpty),
        "an opted-out overwrite publishes the walk-cutting sentinel")
      assert(NdvStats.estimates(root, v5).isEmpty,
        "no stale pre-overwrite NDV is presented")
    } finally spark.conf.unset("spark.graft.stats.ndv")
    // a SKETCHED append on top of the sentinel covers only its own rows
    // (the replaced base was never sketched) — it must publish MARKED
    val v6 = ManifestTable.append(
      Seq((2L, "more")).toDF("k", "v"), root, retain = 10)
    val r6 = NdvStats.resolve(root, v6)
    assert(r6.exists(r => r.sketches.nonEmpty && r.stale),
      s"fresh-only sketch over an unsketched base reads stale, got $r6")
  }

  test("NDV sidecar-lag race: racing data commits keep the union upper bound") {
    import spark.implicits._
    import graft.sources.{ManifestTable, NdvStats}
    val root = Files.createTempDirectory("versioned_ndv_race").toString + "/t"
    ManifestTable.commit(
      (0L until 100L).map(i => (i, "base")).toDF("k", "v"), root, retain = 20)
    // a sidecar publishes AFTER its commit's flip: with an injected
    // flip→write stall, a racer that rebased onto the fresh version
    // would resolve PAST it and merge the grandparent's sketch — its
    // head sidecar would then be missing the sibling's 100 keys forever
    // (an unmarked under-count). resolveFresh waits the stall out.
    spark.conf.set("spark.graft.stats.testSidecarPauseMs", "300")
    try {
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = Seq(100L, 200L).map { base =>
        new Thread(() => {
          try ManifestTable.append(
            (base until base + 100L).map(i => (i, s"t$base")).toDF("k", "v"),
            root, retain = 20)
          catch { case t: Throwable => errs.add(t) }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(errs.isEmpty, s"both racing appends must land: $errs")
    } finally spark.conf.unset("spark.graft.stats.testSidecarPauseMs")
    val head = ManifestTable.currentVersion(root).get
    val est = NdvStats.estimates(root, head).getOrElse("k", 0L)
    assert(est > 280 && est < 330,
      s"head NDV must bound the union of both racers' keys, got $est")
    assert(NdvStats.resolve(root, head).exists(r => !r.stale),
      "the closed race leaves no stale marker")
  }

  test("NDV reachability: 100 consecutive delete commits never out-walk the sketch") {
    import spark.implicits._
    import graft.sources.{ManifestTable, NdvStats}
    val root = Files.createTempDirectory("versioned_ndv_reach").toString + "/t"
    val v1 = ManifestTable.commit(
      (0L until 100L).map(i => (i, s"a$i")).toDF("k", "v"), root, retain = 200)
    assert(NdvStats.estimates(root, v1).get("k").exists(_ > 90))
    // a LONG delete-only run under long retention: no gc republish ever
    // fires (nothing expires), so without the every-32-commits inherit
    // republish the parent walk hits its 64-hop cap and NDV silently
    // disappears
    val keys = Seq(-1L).toDF("k") // retracts nothing — pure delete commits
    var last = v1
    (1 to 100).foreach { _ =>
      last = ManifestTable.appendEqualityDeletes(keys, root, retain = 200)
    }
    val r = NdvStats.resolve(root, last)
    assert(r.exists(_.sketches.nonEmpty), "NDV survives 100 delete commits")
    assert(r.exists(_.hops < 64), s"republish keeps the walk short, got $r")
    assert(r.exists(!_.stale), "delete gaps keep the upper bound — not stale")
    assert(NdvStats.estimates(root, last).get("k").exists(_ > 90))
  }

  test("NDV staleness: a sketch-less row-adding gap is surfaced, compute_stats clears it") {
    import spark.implicits._
    import graft.sources.{ManifestTable, NdvStats}
    val root = Files.createTempDirectory("versioned_ndv_stale").toString + "/t"
    val v1 = ManifestTable.commit(
      (0L until 100L).map(i => (i, s"a$i")).toDF("k", "v"), root, retain = 50)
    // an opted-out append: its 50 new keys never enter any sketch — the
    // permanent-under-count hole the stale flag makes visible
    spark.conf.set("spark.graft.stats.ndv", "false")
    val v2 = try ManifestTable.append(
      (100L until 150L).map(i => (i, s"b$i")).toDF("k", "v"), root, retain = 50)
    finally spark.conf.unset("spark.graft.stats.ndv")
    val r2 = NdvStats.resolve(root, v2)
    assert(r2.exists(r => r.version == v1 && r.stale),
      s"sketch-less append gap reads stale, got $r2")
    // a later SKETCHED append merges parent∪fresh but the gap's values
    // are still missing — the marker rides the merged sidecar
    val v3 = ManifestTable.append(
      Seq((9999L, "z")).toDF("k", "v"), root, retain = 50)
    val r3 = NdvStats.resolve(root, v3)
    assert(r3.exists(r => r.version == v3 && r.stale),
      s"merged sidecar inherits the stale marker, got $r3")
    // gc's lineage republish preserves the marker too
    ManifestTable.expireOldVersions(root, retain = 1)
    assert(NdvStats.resolve(root, v3).exists(_.stale))
    // the remediation: an explicit full-scan rebuild re-bases the sketch
    NdvStats.computeStats(spark, root)
    val rc = NdvStats.resolve(root, v3)
    assert(rc.exists(r => !r.stale), s"compute_stats clears staleness, got $rc")
    assert(rc.exists(r => NdvStats.estimate(r.sketches("k")) > 140),
      "the rebuilt sketch counts the gap's keys")
  }

  test("pre-__bytes manifests fall back to real listing: reads stay exact") {
    import spark.implicits._
    import graft.sources.{ManifestTable, MetaIO}
    val root = Files.createTempDirectory("versioned_legacy").toString + "/t"
    val v = ManifestTable.commit(
      (0L until 50L).map(i => (i, s"x$i")).toDF("k", "v"), root, retain = 10)
    // strip the __bytes entries from the manifest in place — the shape
    // of any table committed before sizes rode the manifest
    val mPath = s"$root/manifests/v=$v.txt"
    val stripped = MetaIO.readString(mPath).linesIterator.map { l =>
      if (l.startsWith("#")) l
      else l.split("\t").map(tok =>
        if (tok.contains("__bytes")) // drop the pseudo-column from stats
          tok.split(";").filterNot(_.startsWith("__bytes")).mkString(";")
        else tok).mkString("\t")
    }.mkString("\n")
    MetaIO.writeAtomic(mPath, stripped)
    val ents = ManifestTable.liveEntries(root)
    assert(ents.forall(e => graft.sources.FileStats.byteSize(
      graft.sources.FileStats.decode(e.stats.getOrElse(""))).isEmpty),
      "fixture must look pre-__bytes")
    // the seeded index misses on every path and lists for real — reads
    // stay exact, sizes come from the file system
    assert(ManifestTable.read(spark, root).count() === 50L)
    assert(ManifestTable.read(spark, root).where($"k" < 10).count() === 10L)
  }

  test("publishBranch never lowers the version-allocation floor") {
    import spark.implicits._
    import graft.sources.{ManifestTable, MetaIO}
    val root = Files.createTempDirectory("versioned_floor").toString + "/t"
    ManifestTable.commit(Seq((1L, "a")).toDF("k", "v"), root, retain = 10)
    ManifestTable.commit(Seq((2L, "b")).toDF("k", "v"), root, retain = 10)
    ManifestTable.commit(Seq((3L, "c")).toDF("k", "v"), root, retain = 10)
    ManifestTable.createBranch(root, "old", Some(1L))
    // a floor recorded earlier (e.g. a dropped staging branch whose head
    // rolled past) must not be clobbered by publishing a lower head —
    // the floor only ever rises, or rolled-over version numbers come
    // back into circulation
    MetaIO.writeAtomic(s"$root/_MAXV", "50")
    ManifestTable.publishBranch(root, "old") // pointer back to v1
    assert(ManifestTable.currentVersion(root).contains(1L))
    val next = ManifestTable.commit(Seq((9L, "z")).toDF("k", "v"), root, retain = 10)
    assert(next === 51L,
      s"allocation must respect the pre-existing floor of 50, got $next")
  }
}
