package graft

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.v2.{GraftScans, VersionedCatalog}

/** DataSource V2 catalog integration: versioned tables as first-class
  * planner objects — SQL DDL/DML, INSERT through the V2 write path,
  * manifest-level hidden-partition pruning visible in the physical plan,
  * and time travel through Spark's own VERSION/TIMESTAMP AS OF.
  */
class V2CatalogSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.gtest", classOf[VersionedCatalog].getName)
    s.conf.set("spark.sql.catalog.gtest.warehouse",
      java.nio.file.Files.createTempDirectory("graft_v2wh").toString)
    s
  }

  private def scanOf(df: org.apache.spark.sql.DataFrame): ParquetScan = {
    val scans = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan
    }
    assert(scans.nonEmpty, "plan has no BatchScan:\n" + df.queryExecution.executedPlan)
    graft.sources.v2.GraftScans.innermost(scans.head).asInstanceOf[ParquetScan]
  }

  test("create / insert / select round-trip through SQL identifiers") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.ns")
    spark.sql("CREATE TABLE gtest.ns.kv (k BIGINT, v STRING)")
    assert(spark.sql("SELECT * FROM gtest.ns.kv").count() === 0)
    spark.sql("INSERT INTO gtest.ns.kv VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO gtest.ns.kv VALUES (3, 'c')")
    val got = spark.table("gtest.ns.kv").orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got === Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // INSERT OVERWRITE commits a fresh snapshot
    spark.sql("INSERT OVERWRITE gtest.ns.kv VALUES (9, 'z')")
    assert(spark.table("gtest.ns.kv").collect().map(_.getLong(0)).toSeq === Seq(9L))
    spark.sql("DROP TABLE gtest.ns.kv")
    assert(!spark.catalog.tableExists("gtest.ns.kv"))
  }

  test("hidden-day partitioning: ts filter prunes the manifest file listing") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.ns")
    spark.sql("DROP TABLE IF EXISTS gtest.ns.ev")
    spark.sql(
      "CREATE TABLE gtest.ns.ev (id BIGINT, ts TIMESTAMP_NTZ, v DOUBLE) " +
        "PARTITIONED BY (days(ts))")
    import spark.implicits._
    val rows = (0 until 200).map { i =>
      (i.toLong, java.time.LocalDateTime.of(2024, 1, 1 + i % 10, i % 24, 0), i * 1.0)
    }
    rows.toDF("id", "ts", "v").createOrReplaceTempView("ev_src")
    spark.sql("INSERT INTO gtest.ns.ev SELECT * FROM ev_src")

    // schema is clean: the hidden __day column never surfaces
    assert(spark.table("gtest.ns.ev").columns.toSeq === Seq("id", "ts", "v"))

    val all = spark.sql("SELECT * FROM gtest.ns.ev")
    val pruned = spark.sql(
      "SELECT id, v FROM gtest.ns.ev " +
        "WHERE ts >= TIMESTAMP_NTZ '2024-01-03 00:00:00' " +
        "AND ts < TIMESTAMP_NTZ '2024-01-05 00:00:00'")
    val nAll = scanOf(all).fileIndex.inputFiles.length
    val nPruned = scanOf(pruned).fileIndex.inputFiles.length
    assert(nAll >= 10, s"expected >= 10 day files, got $nAll") // one+ per day
    assert(nPruned < nAll, s"pruning had no effect: $nPruned vs $nAll")
    assert(scanOf(pruned).fileIndex.inputFiles.forall { f =>
      val day = f.split("__day=")(1).take(10)
      day >= "2024-01-03" && day <= "2024-01-05"
    })
    // column pruning reached the scan: the projection plus the residual
    // filter's ts — and nothing else on a filterless projection
    assert(scanOf(pruned).readDataSchema.fieldNames.toSet === Set("id", "v", "ts"))
    assert(scanOf(spark.sql("SELECT id FROM gtest.ns.ev"))
      .readDataSchema.fieldNames.toSet === Set("id"))
    // and the result is exactly the in-range rows
    val expected = rows.filter { case (_, t, _) =>
      !t.isBefore(java.time.LocalDateTime.of(2024, 1, 3, 0, 0)) &&
        t.isBefore(java.time.LocalDateTime.of(2024, 1, 5, 0, 0))
    }.map(_._1).sorted
    assert(pruned.collect().map(_.getLong(0)).sorted.toSeq === expected)
  }

  test("time travel: VERSION AS OF and TIMESTAMP AS OF read retained snapshots") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.ns")
    spark.sql("DROP TABLE IF EXISTS gtest.ns.tt")
    spark.sql("CREATE TABLE gtest.ns.tt (k BIGINT)")
    spark.sql("INSERT INTO gtest.ns.tt VALUES (1)")          // v1
    val afterV1 = System.currentTimeMillis()
    Thread.sleep(1100) // manifest mtime is second-granular on some filesystems
    spark.sql("INSERT INTO gtest.ns.tt VALUES (2)")          // v2
    assert(spark.sql("SELECT * FROM gtest.ns.tt VERSION AS OF 1").count() === 1)
    assert(spark.sql("SELECT * FROM gtest.ns.tt VERSION AS OF 2").count() === 2)
    assert(spark.sql("SELECT * FROM gtest.ns.tt").count() === 2)
    val asOf = spark.sql(
      s"SELECT * FROM gtest.ns.tt TIMESTAMP AS OF " +
        s"CAST(timestamp_millis($afterV1) AS TIMESTAMP)").count()
    assert(asOf === 1, "TIMESTAMP AS OF between the commits must see v1")
    // a pinned (time-travel) table refuses writes
    intercept[Exception] {
      spark.sql("INSERT INTO gtest.ns.tt VERSION AS OF 1 VALUES (3)")
    }
  }

  test("MERGE INTO a catalog identifier commits a snapshot; scoped merge rewrites only touched days") {
    import graft.plans.MergeInto
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.ns")
    spark.sql("DROP TABLE IF EXISTS gtest.ns.m")
    spark.sql(
      "CREATE TABLE gtest.ns.m (k BIGINT, ts TIMESTAMP_NTZ, v DOUBLE) " +
        "PARTITIONED BY (days(ts))")
    import spark.implicits._
    val rows = (0 until 60).map { i =>
      (i.toLong, java.time.LocalDateTime.of(2024, 2, 1 + i % 6, 12, 0), i * 1.0)
    }
    rows.toDF("k", "ts", "v").createOrReplaceTempView("m_src")
    spark.sql("INSERT INTO gtest.ns.m SELECT * FROM m_src")

    val root = graft.sources.v2.VersionedCatalog.warehouseOf("gtest").get + "/ns/m"
    val before = graft.sources.ManifestTable.manifest(root, 1).toSet

    // update only rows of 2024-02-03 (one touched day)
    Seq((2L, 99.0), (8L, 99.0)).toDF("k", "nv").createOrReplaceTempView("m_stage")
    MergeInto.sql(spark,
      """MERGE INTO gtest.ns.m t USING m_stage s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.nv""".stripMargin)

    val after = graft.sources.ManifestTable.manifest(root, 2).toSet
    val untouched = before.filterNot(_.startsWith("__day=2024-02-03"))
    assert(untouched.subsetOf(after),
      "scoped MERGE must carry files of untouched days into the new manifest")
    assert(!before.filter(_.startsWith("__day=2024-02-03")).exists(after.contains),
      "touched day files must be rewritten")
    // readers see the committed result through the catalog, no refresh step
    val got = spark.table("gtest.ns.m").where(col("k").isin(2L, 8L))
      .collect().map(_.getDouble(2)).toSeq
    assert(got === Seq(99.0, 99.0))
    assert(spark.table("gtest.ns.m").count() === 60)
  }

  test("spark.read.format(versioned): path-addressed reads, time travel via option") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.ns")
    spark.sql("DROP TABLE IF EXISTS gtest.ns.fr")
    spark.sql("CREATE TABLE gtest.ns.fr (k BIGINT)")
    spark.sql("INSERT INTO gtest.ns.fr VALUES (1)")
    spark.sql("INSERT INTO gtest.ns.fr VALUES (2)")
    val root = graft.sources.v2.VersionedCatalog.warehouseOf("gtest").get + "/ns/fr"
    assert(spark.read.format("versioned").load(root).count() === 2)
    assert(spark.read.format("versioned").option("version", 1).load(root).count() === 1)
    // a bare ManifestTable root (no _TABLE descriptor) infers its schema
    import spark.implicits._
    val bare = java.nio.file.Files.createTempDirectory("graft_bare").toString
    graft.sources.ManifestTable.commit(Seq((1L, "x")).toDF("id", "s"), bare)
    val back = spark.read.format("versioned").load(bare)
    assert(back.columns.toSeq === Seq("id", "s") && back.count() === 1)
  }

  test("ALTER TABLE ADD COLUMN is metadata-only; old files read NULL; MERGE sees the declared schema") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.ns")
    spark.sql("DROP TABLE IF EXISTS gtest.ns.evo")
    spark.sql("CREATE TABLE gtest.ns.evo (k BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO gtest.ns.evo VALUES (1, 1.0), (2, 2.0)")
    val root = graft.sources.v2.VersionedCatalog.warehouseOf("gtest").get + "/ns/evo"
    val filesBefore = graft.sources.ManifestTable.manifest(root, 1)

    spark.sql("ALTER TABLE gtest.ns.evo ADD COLUMN note STRING")
    // metadata-only: the data files are untouched
    assert(graft.sources.ManifestTable.manifest(root, 1) === filesBefore)
    assert(spark.table("gtest.ns.evo").columns.toSeq === Seq("k", "v", "note"))
    assert(spark.table("gtest.ns.evo").where(col("note").isNull).count() === 2)

    // new writes carry the column; old rows still null-fill
    spark.sql("INSERT INTO gtest.ns.evo VALUES (3, 3.0, 'x')")
    val rows = spark.table("gtest.ns.evo").orderBy("k")
      .collect().map(r => (r.getLong(0), Option(r.getString(2)))).toSeq
    assert(rows === Seq((1L, None), (2L, None), (3L, Some("x"))))

    // MERGE over the evolved table reads the declared schema (old files
    // null-fill) and writes the full shape back
    import spark.implicits._
    Seq((1L, "seen")).toDF("k", "n").createOrReplaceTempView("evo_stage")
    graft.plans.MergeInto.sql(spark,
      """MERGE INTO gtest.ns.evo t USING evo_stage s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET note = s.n""".stripMargin)
    val merged = spark.table("gtest.ns.evo").orderBy("k")
      .collect().map(r => Option(r.getString(2))).toSeq
    assert(merged === Seq(Some("seen"), None, Some("x")))

    // non-metadata-only changes are refused with the rewrite pointer
    // (RENAME and DROP are metadata-only since the column-mapping descriptor)
    intercept[Exception] {
      spark.sql("ALTER TABLE gtest.ns.evo ALTER COLUMN v TYPE STRING")
    }
  }

  test("retention DELETE: whole days drop at the manifest, boundary day rewrites, others untouched") {
    import graft.plans.MergeInto
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.ns")
    spark.sql("DROP TABLE IF EXISTS gtest.ns.ret")
    spark.sql(
      "CREATE TABLE gtest.ns.ret (k BIGINT, ts TIMESTAMP_NTZ, v DOUBLE) " +
        "PARTITIONED BY (days(ts))")
    import spark.implicits._
    // 6 days × 4 rows at hours 0/6/12/18
    val rows = for (d <- 0 until 6; h <- Seq(0, 6, 12, 18))
      yield ((d * 4 + h / 6).toLong, java.time.LocalDateTime.of(2024, 3, 1 + d, h, 0), 1.0)
    rows.toDF("k", "ts", "v").createOrReplaceTempView("ret_src")
    spark.sql("INSERT INTO gtest.ns.ret SELECT * FROM ret_src")
    val root = graft.sources.v2.VersionedCatalog.warehouseOf("gtest").get + "/ns/ret"
    val before = graft.sources.ManifestTable.manifest(root, 1).toSet

    // midnight-aligned retention: days 03-01 and 03-02 fully covered —
    // METADATA-ONLY (no new data files in the pool)
    MergeInto.sql(spark,
      "DELETE FROM gtest.ns.ret WHERE ts < TIMESTAMP_NTZ '2024-03-03 00:00:00'")
    val after1 = graft.sources.ManifestTable.manifest(root, 2).toSet
    assert(after1.subsetOf(before), "metadata-only drop must write no new files")
    assert(!after1.exists(f => f.contains("2024-03-01") || f.contains("2024-03-02")))
    assert(spark.table("gtest.ns.ret").count() === 16)

    // boundary in mid-day: 03-03 fully gone, 03-04 rewritten (rows before
    // 07:00 deleted), 03-05 and 03-06 files carried untouched
    MergeInto.sql(spark,
      "DELETE FROM gtest.ns.ret WHERE ts < TIMESTAMP_NTZ '2024-03-04 07:00:00'")
    val after2 = graft.sources.ManifestTable.manifest(root, 3).toSet
    assert(!after2.exists(_.contains("2024-03-03")))
    val untouched = after1.filter(f => f.contains("2024-03-05") || f.contains("2024-03-06"))
    assert(untouched.subsetOf(after2), "days outside the region must carry over")
    assert(!after1.filter(_.contains("2024-03-04")).exists(after2.contains),
      "the boundary day must be rewritten")
    val left = spark.table("gtest.ns.ret").orderBy("ts").collect()
    assert(left.length === 10) // 2 of day 4 (12:00, 18:00) + 4 + 4
    assert(left.forall(!_.getAs[java.time.LocalDateTime]("ts")
      .isBefore(java.time.LocalDateTime.of(2024, 3, 4, 7, 0))))

    // a non-range condition falls back to the rewrite and stays correct
    MergeInto.sql(spark, "DELETE FROM gtest.ns.ret WHERE k % 2 = 0")
    assert(spark.table("gtest.ns.ret").collect().forall(_.getLong(0) % 2 != 0))
  }

  test("per-table format: USING orc|avro routes the manifest's data files, reads agree") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.ns")
    val src = Seq((1L, "a", 1.5), (2L, "b", -0.25), (3L, null.asInstanceOf[String], 2.0))
      .toDF("k", "s", "x")
    for (fmt <- Seq("parquet", "orc", "avro")) {
      spark.sql(s"DROP TABLE IF EXISTS gtest.ns.fmt_$fmt")
      spark.sql(
        s"CREATE TABLE gtest.ns.fmt_$fmt (k BIGINT, s STRING, x DOUBLE) USING $fmt")
      src.writeTo(s"gtest.ns.fmt_$fmt").append()
      // INSERT goes through the V2 write path too
      spark.sql(s"INSERT INTO gtest.ns.fmt_$fmt VALUES (4, 'd', 0.0)")
      val root = VersionedCatalog.warehouseOf("gtest").get + s"/ns/fmt_$fmt"
      // every pool file carries the declared format's extension
      assert(graft.sources.ManifestTable.manifest(root, 2)
        .forall(_.endsWith(s".$fmt")), s"wrong extensions for $fmt")
      assert(VersionedCatalog.readMeta(root).get.format === fmt)
      val got = spark.table(s"gtest.ns.fmt_$fmt").orderBy("k")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
      assert(got === Seq((1L, "a", 1.5), (2L, "b", -0.25), (3L, null, 2.0), (4L, "d", 0.0)),
        s"round-trip mismatch for $fmt")
      // column pruning + filters still work through each leg
      assert(spark.table(s"gtest.ns.fmt_$fmt").where("k >= 2").agg(sum("x"))
        .collect()(0).getDouble(0) === 1.75)
    }
  }

  test("RENAME COLUMN is metadata-only: old files readable, new writes use the mapping") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.ns")
    spark.sql("DROP TABLE IF EXISTS gtest.ns.rn")
    spark.sql("CREATE TABLE gtest.ns.rn (k BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO gtest.ns.rn VALUES (1, 10.0), (2, 20.0)")
    val root = VersionedCatalog.warehouseOf("gtest").get + "/ns/rn"
    val v1Files = graft.sources.ManifestTable.manifest(root, 1).toSet

    spark.sql("ALTER TABLE gtest.ns.rn RENAME COLUMN v TO amount")
    // descriptor-only: the data files were not touched
    assert(graft.sources.ManifestTable.manifest(root, 1).toSet === v1Files)
    assert(VersionedCatalog.readMeta(root).get.renames === Map("amount" -> "v"))
    assert(spark.table("gtest.ns.rn").columns.toSeq === Seq("k", "amount"))

    // old files read through the new name; filters on the renamed column
    // reach the scan and prune correctly
    assert(spark.table("gtest.ns.rn").where("amount > 15.0")
      .select("k").as[Long].collect().toSeq === Seq(2L))

    // new writes go through the mapping: physical files keep the ORIGINAL
    // name, so the pool stays uniform and old+new read identically
    spark.sql("INSERT INTO gtest.ns.rn VALUES (3, 30.0)")
    val newFiles = (graft.sources.ManifestTable.manifest(root, 2).toSet -- v1Files).toSeq
    val newSchema = spark.read.parquet(newFiles.map(r => s"$root/data/" + r): _*).schema
    assert(newSchema.fieldNames.toSeq === Seq("k", "v"),
      "new files must store the physical name")
    assert(spark.table("gtest.ns.rn").agg(sum("amount")).collect()(0).getDouble(0) === 60.0)

    // chained rename keeps pointing at the original physical column
    spark.sql("ALTER TABLE gtest.ns.rn RENAME COLUMN amount TO total")
    assert(VersionedCatalog.readMeta(root).get.renames === Map("total" -> "v"))
    assert(spark.table("gtest.ns.rn").agg(sum("total")).collect()(0).getDouble(0) === 60.0)
    // and MERGE through the renamed logical schema commits correctly
    Seq((2L, 5.0), (9L, 90.0)).toDF("k", "total").createOrReplaceTempView("rn_stg")
    graft.plans.MergeInto.sql(spark,
      """MERGE INTO gtest.ns.rn t USING rn_stg s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET total = t.total + s.total
        |WHEN NOT MATCHED THEN INSERT (k, total) VALUES (s.k, s.total)""".stripMargin)
    assert(spark.table("gtest.ns.rn").orderBy("k").as[(Long, Double)].collect().toSeq
      === Seq(1L -> 10.0, 2L -> 25.0, 3L -> 30.0, 9L -> 90.0))
  }

  test("catalog-addressed maintenance: OPTIMIZE packs files, expire cuts history, retention deletes by identifier") {
    import graft.sources.v2.Maintenance
    import graft.sources.ManifestTable
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.ns")
    spark.sql("DROP TABLE IF EXISTS gtest.ns.mt")
    // an ORC day-partitioned table: maintenance must preserve BOTH the
    // format and the hidden partition layout
    spark.sql("CREATE TABLE gtest.ns.mt (k BIGINT, ts TIMESTAMP_NTZ, v DOUBLE) " +
      "USING orc PARTITIONED BY (days(ts))")
    val root = VersionedCatalog.warehouseOf("gtest").get + "/ns/mt"
    // fragment it: 4 appends × 2 days
    for (i <- 0 until 4)
      spark.sql("INSERT INTO gtest.ns.mt VALUES " +
        s"($i, TIMESTAMP_NTZ '2024-06-01 0$i:00:00', $i.5), " +
        s"(${i + 10}, TIMESTAMP_NTZ '2024-06-02 0$i:00:00', ${i + 10}.5)")
    spark.conf.set("spark.graft.versioned.retain", "10")
    try {
      val before = ManifestTable.manifest(root, ManifestTable.currentVersion(root).get)
      assert(before.size >= 8)

      val v = Maintenance.optimize(spark, "gtest.ns.mt")
      val after = ManifestTable.manifest(root, v)
      assert(after.size < before.size, "optimize must pack small files")
      assert(after.forall(_.endsWith(".orc")), "optimize must keep the table's format")
      assert(after.forall(_.startsWith("__day=")), "optimize must keep the day layout")
      assert(spark.table("gtest.ns.mt").count() === 8)
      assert(spark.table("gtest.ns.mt").agg(sum("v")).collect()(0).getDouble(0)
        === (0 until 4).map(_ + 0.5).sum + (10 until 14).map(_ + 0.5).sum)

      // retention DELETE by identifier: day 06-01 drops at the manifest
      Maintenance.deleteOlderThan(spark, "gtest.ns.mt", "2024-06-02 00:00:00")
      assert(ManifestTable.liveDays(root) === Set("2024-06-02"))
      assert(spark.table("gtest.ns.mt").count() === 4)

      // expire: history collapses to the live snapshot only
      assert(ManifestTable.versions(root).size > 1)
      Maintenance.expireSnapshots(spark, "gtest.ns.mt", retain = 1)
      assert(ManifestTable.versions(root).size === 1)
      assert(spark.table("gtest.ns.mt").count() === 4, "live snapshot untouched")
    } finally spark.conf.unset("spark.graft.versioned.retain")
  }

  test("DROP COLUMN is metadata-only; a re-added column never resurrects old values") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.ns")
    spark.sql("DROP TABLE IF EXISTS gtest.ns.dc")
    spark.sql("CREATE TABLE gtest.ns.dc (k BIGINT, secret STRING, v DOUBLE)")
    spark.sql("INSERT INTO gtest.ns.dc VALUES (1, 'hunter2', 1.0), (2, 'hunter3', 2.0)")
    val root = VersionedCatalog.warehouseOf("gtest").get + "/ns/dc"
    val v1Files = graft.sources.ManifestTable.manifest(root, 1).toSet

    spark.sql("ALTER TABLE gtest.ns.dc DROP COLUMN secret")
    // metadata-only: files untouched, column gone from the schema
    assert(graft.sources.ManifestTable.manifest(root, 1).toSet === v1Files)
    assert(spark.table("gtest.ns.dc").columns.toSeq === Seq("k", "v"))
    assert(VersionedCatalog.readMeta(root).get.retired === Seq("secret"))

    // re-ADD of the same name maps to a FRESH physical column: old files
    // read NULL (never 'hunter2'), new writes land under the new physical
    spark.sql("ALTER TABLE gtest.ns.dc ADD COLUMN secret STRING")
    assert(VersionedCatalog.readMeta(root).get.renames === Map("secret" -> "secret__2"))
    val rows0 = spark.table("gtest.ns.dc").orderBy("k")
      .select("k", "secret").collect()
    assert(rows0.forall(_.isNullAt(1)), "old values must stay buried")
    // re-added columns append at the END of the schema: (k, v, secret)
    spark.sql("INSERT INTO gtest.ns.dc VALUES (3, 3.0, 'fresh')")
    val got = spark.table("gtest.ns.dc").orderBy("k")
      .select("k", "secret").collect().map(r => r.getLong(0) -> Option(r.getString(1)))
    assert(got.toSeq === Seq(1L -> None, 2L -> None, 3L -> Some("fresh")))
    // and the new physical name is what the new file stores
    val newFiles = (graft.sources.ManifestTable
      .manifest(root, graft.sources.ManifestTable.currentVersion(root).get).toSet -- v1Files).toSeq
    val newSchema = spark.read.parquet(newFiles.map(r => s"$root/data/" + r): _*).schema
    assert(newSchema.fieldNames.contains("secret__2")
      && !newSchema.fieldNames.contains("secret"))
    // the partition-source and last-column guards hold
    intercept[Exception](spark.sql("ALTER TABLE gtest.ns.dc DROP COLUMN nope"))
  }

  test("MERGE WITH SCHEMA EVOLUTION adds source columns metadata-only, then merges") {
    import spark.implicits._
    import graft.plans.MergeInto
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.ns")
    spark.sql("DROP TABLE IF EXISTS gtest.ns.se")
    spark.sql("CREATE TABLE gtest.ns.se (k BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO gtest.ns.se VALUES (1, 10.0), (2, 20.0)")
    Seq((2L, 25.0, "b"), (3L, 30.0, "c"))
      .toDF("k", "v", "tag").createOrReplaceTempView("se_stg")
    MergeInto.sql(spark,
      """MERGE WITH SCHEMA EVOLUTION INTO gtest.ns.se t USING se_stg s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val t = spark.table("gtest.ns.se").orderBy("k")
    assert(t.columns.toSeq === Seq("k", "v", "tag"))
    assert(t.collect().map(r => (r.getLong(0), r.getDouble(1), Option(r.getString(2)))).toSeq
      === Seq((1L, 10.0, None), (2L, 25.0, Some("b")), (3L, 30.0, Some("c"))))
    // non-catalog targets still refuse with a pointer to ALTER TABLE
    spark.sql("DROP TABLE IF EXISTS se_plain")
    Seq((1L, 1.0)).toDF("k", "v").write.saveAsTable("se_plain")
    intercept[UnsupportedOperationException] {
      MergeInto.sql(spark,
        """MERGE WITH SCHEMA EVOLUTION INTO se_plain t USING se_stg s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin)
    }
  }

  test("OPTIMIZE ZORDER BY clusters files: per-file ranges shrink on both dimensions") {
    import graft.sources.v2.Maintenance
    import graft.sources.ManifestTable
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.ns")
    spark.sql("DROP TABLE IF EXISTS gtest.ns.zo")
    spark.sql("CREATE TABLE gtest.ns.zo (id BIGINT, x BIGINT, y BIGINT)")
    // sequential ids, (x, y) decorrelated from the write order: every
    // pre-optimize file spans nearly the whole x range
    spark.range(40000).selectExpr("id", "id % 97 AS x", "(id * 31) % 89 AS y")
      .writeTo("gtest.ns.zo").append()
    val root = VersionedCatalog.warehouseOf("gtest").get + "/ns/zo"

    // a z-curve segment bounds the (x-span × y-span) AREA each file
    // covers — that is what lets a two-dimensional range filter skip
    // files. The per-axis span alone can stay wide (segments crossing
    // quadrant boundaries), so the assertion is on the area fraction.
    def meanAreaFrac(files: Seq[String]): Double = {
      val fracs = files.map { f =>
        val r = spark.read.parquet(s"$root/data/$f")
          .agg(org.apache.spark.sql.functions.min("x"),
            org.apache.spark.sql.functions.max("x"),
            org.apache.spark.sql.functions.min("y"),
            org.apache.spark.sql.functions.max("y")).collect()(0)
        ((r.getLong(1) - r.getLong(0)).toDouble / 96.0) *
          ((r.getLong(3) - r.getLong(2)).toDouble / 88.0)
      }
      fracs.sum / fracs.size
    }
    val bytes = ManifestTable.history(spark, root)
      .where(col("is_current")).select("bytes").collect()(0).getLong(0)
    spark.conf.set("spark.graft.versioned.retain", "5")
    try {
      val before = meanAreaFrac(
        ManifestTable.manifest(root, ManifestTable.currentVersion(root).get))
      // target ~8 output files so each covers ~1/8 of the z-plane
      val v = Maintenance.optimize(spark, "gtest.ns.zo",
        targetFileBytes = math.max(1L, bytes / 8), zorderBy = Seq("x", "y"))
      val files = ManifestTable.manifest(root, v)
      assert(files.size >= 4, s"expected several clustered files, got ${files.size}")
      // data identical
      assert(spark.table("gtest.ns.zo").count() === 40000)
      assert(spark.table("gtest.ns.zo").agg(sum("x")).collect()(0).getLong(0)
        === (0L until 40000L).map(_ % 97).sum)
      val after = meanAreaFrac(files)
      assert(after < 0.5 && after < before * 0.6,
        f"files not clustered: mean area fraction $after%.2f (was $before%.2f)")
    } finally spark.conf.unset("spark.graft.versioned.retain")
  }

  test("SQL CALL procedures: optimize / expire_snapshots / delete_older_than by identifier") {
    import graft.sources.ManifestTable
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.ns")
    spark.sql("DROP TABLE IF EXISTS gtest.ns.proc")
    spark.sql("CREATE TABLE gtest.ns.proc (k BIGINT, ts TIMESTAMP_NTZ, v DOUBLE) " +
      "PARTITIONED BY (days(ts))")
    for (i <- 0 until 3)
      spark.sql("INSERT INTO gtest.ns.proc VALUES " +
        s"($i, TIMESTAMP_NTZ '2024-08-01 0$i:00:00', 1.0), " +
        s"(${i + 10}, TIMESTAMP_NTZ '2024-08-02 0$i:00:00', 2.0)")
    val root = VersionedCatalog.warehouseOf("gtest").get + "/ns/proc"
    val before = ManifestTable.manifest(root, ManifestTable.currentVersion(root).get)

    spark.conf.set("spark.graft.versioned.retain", "10")
    try {
      // the Iceberg CALL ergonomics, end-to-end through Spark's parser
      val out = spark.sql("CALL gtest.system.optimize(`table` => 'ns.proc')").collect()
      assert(out.length === 1 && out(0).getLong(0) > 1L, "optimize returns the new version")
      val after = ManifestTable.manifest(root, ManifestTable.currentVersion(root).get)
      assert(after.size < before.size && spark.table("gtest.ns.proc").count() === 6)

      spark.sql("CALL gtest.system.delete_older_than(`table` => 'ns.proc', " +
        "older_than => '2024-08-02 00:00:00')")
      assert(ManifestTable.liveDays(root) === Set("2024-08-02"))
      assert(spark.table("gtest.ns.proc").count() === 3)

      spark.sql("CALL gtest.system.expire_snapshots(`table` => 'ns.proc')")
      assert(ManifestTable.versions(root).size === 1)
      assert(spark.table("gtest.ns.proc").count() === 3)
    } finally spark.conf.unset("spark.graft.versioned.retain")
  }

  test("rollback_to_version / rollback_to_timestamp restore a retained snapshot as a new commit") {
    import graft.sources.ManifestTable
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.ns")
    spark.sql("DROP TABLE IF EXISTS gtest.ns.rb")
    spark.sql("CREATE TABLE gtest.ns.rb (k BIGINT, v BIGINT)")
    spark.conf.set("spark.graft.versioned.retain", "10")
    try {
      spark.sql("INSERT INTO gtest.ns.rb VALUES (1, 10), (2, 20)")
      val root = VersionedCatalog.warehouseOf("gtest").get + "/ns/rb"
      val good = ManifestTable.currentVersion(root).get
      // wall-clock gap so the timestamp literal (second granularity) can
      // address the good snapshot unambiguously
      Thread.sleep(1100)
      val cut = java.time.LocalDateTime.now(
        java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone))
        .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
      Thread.sleep(1100)
      spark.sql("INSERT INTO gtest.ns.rb VALUES (3, -999)")                  // bad append
      graft.plans.MergeInto.sql(spark, "DELETE FROM gtest.ns.rb WHERE k = 1") // bad delete
      val damaged = ManifestTable.currentVersion(root).get
      assert(spark.table("gtest.ns.rb").count() === 2)

      val r = spark.sql("CALL gtest.system.rollback_to_version(" +
        s"`table` => 'ns.rb', version => $good)").collect()(0)
      assert(r.getLong(0) === damaged && r.getLong(1) === good && r.getLong(2) > damaged)
      assert(spark.table("gtest.ns.rb").orderBy("k").collect()
        .map(x => (x.getLong(0), x.getLong(1))).toSeq === Seq((1L, 10L), (2L, 20L)))
      // history preserved: the damaged snapshot stays addressable
      assert(spark.sql(s"SELECT k FROM gtest.ns.rb VERSION AS OF $damaged")
        .collect().map(_.getLong(0)).toSet === Set(2L, 3L))
      // the rollback un-inserted files, so the change horizon moved to it
      assert(ManifestTable.liveProps(root)
        .get(ManifestTable.ChangeProp).map(_.toLong) === Some(r.getLong(2)))

      // a second damage pass, undone by TIMESTAMP addressing this time
      spark.sql("INSERT INTO gtest.ns.rb VALUES (4, -4)")
      val r2 = spark.sql("CALL gtest.system.rollback_to_timestamp(" +
        s"`table` => 'ns.rb', older_than => '$cut')").collect()(0)
      assert(r2.getLong(1) === good)
      assert(spark.table("gtest.ns.rb").count() === 2)

      // loud failures: a forward target and an expired (never committed) one
      val fwd = intercept[Exception] {
        spark.sql("CALL gtest.system.rollback_to_version(" +
          s"`table` => 'ns.rb', version => ${r2.getLong(2) + 100})").collect()
      }
      assert(fwd.getMessage.contains("not retained")
        || fwd.getMessage.contains("ahead"), fwd.getMessage)
    } finally spark.conf.unset("spark.graft.versioned.retain")
    spark.sql("DROP TABLE gtest.ns.rb")
  }

  test("rollback under spark.graft.write.branch rolls the BRANCH back; main is untouched") {
    import graft.sources.ManifestTable
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.ns")
    spark.sql("DROP TABLE IF EXISTS gtest.ns.rbwap")
    spark.sql("CREATE TABLE gtest.ns.rbwap (k BIGINT)")
    spark.conf.set("spark.graft.versioned.retain", "10")
    try {
      spark.sql("INSERT INTO gtest.ns.rbwap VALUES (1)")
      val root = VersionedCatalog.warehouseOf("gtest").get + "/ns/rbwap"
      val mainV = ManifestTable.currentVersion(root).get
      spark.sql("CALL gtest.system.create_branch(`table` => 'ns.rbwap', name => 'wap')")
      spark.conf.set("spark.graft.write.branch", "wap")
      try {
        spark.sql("INSERT INTO gtest.ns.rbwap VALUES (2)") // staged on wap
        val stagedHead = ManifestTable.resolveRef(root, "wap").version
        assert(stagedHead > mainV)
        spark.sql("CALL gtest.system.rollback_to_version(" +
          s"`table` => 'ns.rbwap', version => $mainV)").collect()
        // the branch rolled back to main's content; main never moved
        val rolled = ManifestTable.resolveRef(root, "wap").version
        assert(rolled > stagedHead)
        assert(ManifestTable.currentVersion(root).get === mainV)
        assert(spark.sql("SELECT k FROM gtest.ns.rbwap VERSION AS OF 'wap'")
          .collect().map(_.getLong(0)).toSet === Set(1L))
      } finally spark.conf.unset("spark.graft.write.branch")
      assert(spark.table("gtest.ns.rbwap").collect().map(_.getLong(0)).toSet === Set(1L))
      // MAIN must not "roll back" to the branch's staged (unpublished)
      // snapshot — that would smuggle un-audited data past the WAP gate
      val staged = ManifestTable.resolveRef(root, "wap").version
      val leak = intercept[Exception] {
        spark.sql("CALL gtest.system.rollback_to_version(" +
          s"`table` => 'ns.rbwap', version => $staged)").collect()
      }
      assert(leak.getMessage.contains("never published"), leak.getMessage)
    } finally spark.conf.unset("spark.graft.versioned.retain")
    spark.sql("DROP TABLE gtest.ns.rbwap")
  }

  test("cherrypick_snapshot republishes one staged append; declines non-appends and duplicates") {
    import graft.sources.ManifestTable
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.ns")
    spark.sql("DROP TABLE IF EXISTS gtest.ns.cp")
    spark.sql("CREATE TABLE gtest.ns.cp (k BIGINT, v BIGINT)")
    spark.conf.set("spark.graft.versioned.retain", "10")
    try {
      spark.sql("INSERT INTO gtest.ns.cp VALUES (1, 10)")
      val root = VersionedCatalog.warehouseOf("gtest").get + "/ns/cp"
      val mainV = ManifestTable.currentVersion(root).get
      spark.sql("CALL gtest.system.create_branch(`table` => 'ns.cp', name => 'wap')")
      spark.conf.set("spark.graft.write.branch", "wap")
      val (stagedB, stagedHead) = try {
        spark.sql("INSERT INTO gtest.ns.cp VALUES (2, 20), (5, 50)") // staged commit B
        val b = ManifestTable.resolveRef(root, "wap").version
        spark.sql("INSERT INTO gtest.ns.cp VALUES (3, 30)")          // staged commit C
        (b, ManifestTable.resolveRef(root, "wap").version)
      } finally spark.conf.unset("spark.graft.write.branch")
      assert(spark.table("gtest.ns.cp").collect().map(_.getLong(0)).toSet === Set(1L))

      // an equality delete of k=5 lands on MAIN before the cherry-pick:
      // the picked rows must arrive with a FRESHER sequence and survive it
      import spark.implicits._
      ManifestTable.appendEqualityDeletes(Seq(5L).toDF("k"), root, retain = 10)

      val r = spark.sql("CALL gtest.system.cherrypick_snapshot(" +
        s"`table` => 'ns.cp', version => $stagedB)").collect()(0)
      assert(r.getLong(0) === stagedB && r.getLong(1) > stagedHead)
      assert(spark.table("gtest.ns.cp").orderBy("k").collect()
        .map(x => (x.getLong(0), x.getLong(1))).toSeq
        === Seq((1L, 10L), (2L, 20L), (5L, 50L)))
      // branch untouched; the other staged commit stays unpublished
      assert(ManifestTable.resolveRef(root, "wap").version === stagedHead)

      val dup = intercept[Exception] {
        spark.sql("CALL gtest.system.cherrypick_snapshot(" +
          s"`table` => 'ns.cp', version => $stagedB)").collect()
      }
      assert(dup.getMessage.contains("already present"), dup.getMessage)
      graft.plans.MergeInto.sql(spark, "DELETE FROM gtest.ns.cp WHERE k = 1")
      val delV = ManifestTable.currentVersion(root).get
      assert(delV > mainV)
      val nonAppend = intercept[Exception] {
        spark.sql("CALL gtest.system.cherrypick_snapshot(" +
          s"`table` => 'ns.cp', version => $delV)").collect()
      }
      assert(nonAppend.getMessage.contains("needs an append commit"),
        nonAppend.getMessage)
    } finally spark.conf.unset("spark.graft.versioned.retain")
    spark.sql("DROP TABLE gtest.ns.cp")
  }

  test("main commits past a branch's staged history; GC and reclaim spare it") {
    import graft.sources.ManifestTable
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.ns")
    spark.sql("DROP TABLE IF EXISTS gtest.ns.refown")
    spark.sql("CREATE TABLE gtest.ns.refown (k BIGINT)")
    spark.conf.set("spark.graft.versioned.retain", "10")
    try {
      spark.sql("INSERT INTO gtest.ns.refown VALUES (1)")
      val root = VersionedCatalog.warehouseOf("gtest").get + "/ns/refown"
      spark.sql("CALL gtest.system.create_branch(`table` => 'ns.refown', name => 'wap')")
      spark.conf.set("spark.graft.write.branch", "wap")
      val (mid, head) = try {
        spark.sql("INSERT INTO gtest.ns.refown VALUES (2)")
        val m = ManifestTable.resolveRef(root, "wap").version
        spark.sql("INSERT INTO gtest.ns.refown VALUES (3)")
        (m, ManifestTable.resolveRef(root, "wap").version)
      } finally spark.conf.unset("spark.graft.write.branch")
      // the branch holds TWO staged commits; only its head is ref-pinned.
      // A main commit must allocate PAST the intermediate one instead of
      // contending with (or after the grace, reclaiming) it
      spark.conf.set("spark.graft.manifest.claimGraceMs", "1")
      try {
        spark.sql("INSERT INTO gtest.ns.refown VALUES (10)")
        val mainV = ManifestTable.currentVersion(root).get
        assert(mainV > head, s"main must allocate past staged history, got $mainV")
        assert(spark.table("gtest.ns.refown").collect()
          .map(_.getLong(0)).toSet === Set(1L, 10L))
        // with the 1 ms grace every staged manifest looks stale to the
        // old sweep — the ref-ownership stamp is what spares it
        spark.sql("INSERT INTO gtest.ns.refown VALUES (11)") // main gc pass
        assert(ManifestTable.versions(root).contains(mid),
          "gc must not sweep a branch's retained intermediate commit")
        assert(spark.sql(s"SELECT k FROM gtest.ns.refown VERSION AS OF $mid")
          .collect().map(_.getLong(0)).toSet === Set(1L, 2L))
        // and the staged branch reads whole
        assert(spark.sql("SELECT k FROM gtest.ns.refown VERSION AS OF 'wap'")
          .collect().map(_.getLong(0)).toSet === Set(1L, 2L, 3L))
      } finally spark.conf.unset("spark.graft.manifest.claimGraceMs")
      // dropping the branch abandons its staged numbers; a later main
      // commit neither contends with nor reuses them
      spark.sql("CALL gtest.system.drop_ref(`table` => 'ns.refown', name => 'wap')")
      spark.sql("INSERT INTO gtest.ns.refown VALUES (12)")
      assert(ManifestTable.currentVersion(root).get > head)
    } finally spark.conf.unset("spark.graft.versioned.retain")
    spark.sql("DROP TABLE gtest.ns.refown")
  }

  test("lineage: ff-published snapshots roll back; re-picks refuse after rewrite; timestamps skip staged history") {
    import graft.sources.ManifestTable
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.ns")
    spark.sql("DROP TABLE IF EXISTS gtest.ns.lin")
    spark.sql("CREATE TABLE gtest.ns.lin (k BIGINT)")
    spark.conf.set("spark.graft.versioned.retain", "10")
    try {
      spark.sql("INSERT INTO gtest.ns.lin VALUES (1)") // main v1
      val root = VersionedCatalog.warehouseOf("gtest").get + "/ns/lin"
      val v1 = ManifestTable.currentVersion(root).get
      spark.sql("CALL gtest.system.create_branch(`table` => 'ns.lin', name => 'wap')")
      spark.conf.set("spark.graft.write.branch", "wap")
      val staged = try {
        spark.sql("INSERT INTO gtest.ns.lin VALUES (2)")
        ManifestTable.resolveRef(root, "wap").version
      } finally spark.conf.unset("spark.graft.write.branch")

      // rollback_to_timestamp resolves on MAIN's lineage: the staged
      // commit is the newest retained manifest at the cut, and must be
      // stepped over in favor of v1 (the state main actually had)
      Thread.sleep(1100)
      val cut = java.time.LocalDateTime.now(
        java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone))
        .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
      val r0 = spark.sql("CALL gtest.system.rollback_to_timestamp(" +
        s"`table` => 'ns.lin', older_than => '$cut')").collect()(0)
      assert(r0.getLong(1) === v1, s"resolved ${r0.getLong(1)}, wanted main's $v1")

      // a fast_forward-published snapshot keeps its branch owner stamp
      // but IS main lineage now — rollback to it must work
      spark.sql("CALL gtest.system.fast_forward(`table` => 'ns.lin', branch => 'wap')")
      spark.sql("INSERT INTO gtest.ns.lin VALUES (3)")
      val r1 = spark.sql("CALL gtest.system.rollback_to_version(" +
        s"`table` => 'ns.lin', version => $staged)").collect()(0)
      assert(r1.getLong(1) === staged)
      assert(spark.table("gtest.ns.lin").collect().map(_.getLong(0)).toSet
        === Set(1L, 2L))

      // re-publishing a cherry-picked commit refuses even after a
      // rewrite replaced its files (the file-level duplicate check
      // cannot see it; the carried pick ledger does)
      spark.sql("CALL gtest.system.create_branch(`table` => 'ns.lin', name => 'wap2')")
      spark.conf.set("spark.graft.write.branch", "wap2")
      val staged2 = try {
        spark.sql("INSERT INTO gtest.ns.lin VALUES (4)")
        ManifestTable.resolveRef(root, "wap2").version
      } finally spark.conf.unset("spark.graft.write.branch")
      spark.sql("CALL gtest.system.cherrypick_snapshot(" +
        s"`table` => 'ns.lin', version => $staged2)").collect()
      spark.sql("CALL gtest.system.optimize(`table` => 'ns.lin')") // rewrites files
      val again = intercept[Exception] {
        spark.sql("CALL gtest.system.cherrypick_snapshot(" +
          s"`table` => 'ns.lin', version => $staged2)").collect()
      }
      assert(again.getMessage.contains("already cherry-picked"), again.getMessage)
      assert(spark.table("gtest.ns.lin").collect().map(_.getLong(0)).toSet
        === Set(1L, 2L, 4L))
    } finally spark.conf.unset("spark.graft.versioned.retain")
    spark.sql("DROP TABLE gtest.ns.lin")
  }

  test("branch retention: a long-lived staging branch expires its old intermediates, keeps its window") {
    import graft.sources.ManifestTable
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.ns")
    spark.sql("DROP TABLE IF EXISTS gtest.ns.bret")
    spark.sql("CREATE TABLE gtest.ns.bret (k BIGINT)")
    spark.conf.set("spark.graft.versioned.retain", "2")
    try {
      spark.sql("INSERT INTO gtest.ns.bret VALUES (0)")
      val root = VersionedCatalog.warehouseOf("gtest").get + "/ns/bret"
      spark.sql("CALL gtest.system.create_branch(`table` => 'ns.bret', name => 'wap')")
      spark.conf.set("spark.graft.write.branch", "wap")
      val staged = try {
        (1 to 4).map { i =>
          spark.sql(s"INSERT INTO gtest.ns.bret VALUES ($i)")
          ManifestTable.resolveRef(root, "wap").version
        }
      } finally spark.conf.unset("spark.graft.write.branch")
      // a main commit runs gc: staged intermediates beyond the branch's
      // retain window expire; the recent window and the head survive
      spark.sql("INSERT INTO gtest.ns.bret VALUES (100)")
      val retained = ManifestTable.versions(root).toSet
      assert(!retained.contains(staged.head),
        s"oldest staged intermediate ${staged.head} must expire (have $retained)")
      assert(retained.contains(staged.last) && retained.contains(staged(2)),
        s"the branch head and its retain window must survive (have $retained)")
      // the staged content is whole (the head manifest references it all)
      assert(spark.sql("SELECT k FROM gtest.ns.bret VERSION AS OF 'wap'")
        .collect().map(_.getLong(0)).toSet === Set(0L, 1L, 2L, 3L, 4L))
      // and publish still works after the expiry
      spark.sql("CALL gtest.system.fast_forward(`table` => 'ns.bret', branch => 'wap')")
      assert(spark.table("gtest.ns.bret").collect().map(_.getLong(0)).toSet
        === Set(0L, 1L, 2L, 3L, 4L))
    } finally spark.conf.unset("spark.graft.versioned.retain")
    spark.sql("DROP TABLE gtest.ns.bret")
  }

  test("column statistics: NDV sketches ride commits, CBO reads them, the broadcast side flips") {
    import graft.sources.{ManifestTable, NdvStats}
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.ns")
    spark.sql("DROP TABLE IF EXISTS gtest.ns.cstat")
    spark.sql("DROP TABLE IF EXISTS gtest.ns.cfact")
    spark.sql("CREATE TABLE gtest.ns.cstat (k BIGINT, v STRING)")
    // hash-spread layout: DISTRIBUTE BY a hash so `k < 50` cannot
    // file-prune — only ESTIMATION can shrink the filtered side
    spark.sql("INSERT INTO gtest.ns.cstat SELECT id, md5(cast(id AS string)) " +
      "FROM (SELECT id FROM range(5000) DISTRIBUTE BY md5(cast(id AS string)))")
    spark.sql("CREATE TABLE gtest.ns.cfact (k BIGINT, p STRING)")
    spark.sql("INSERT INTO gtest.ns.cfact SELECT id % 5000, md5(cast(id AS string)) " +
      "FROM range(50000)")
    val root = VersionedCatalog.warehouseOf("gtest").get + "/ns/cstat"
    val saved = Seq("spark.sql.cbo.enabled", "spark.sql.autoBroadcastJoinThreshold")
      .map(x => x -> spark.conf.getOption(x))
    try {
      // the commit-time sketch landed beside the manifest and estimates
      // within HLL error of the true 5000
      val v = ManifestTable.currentVersion(root).get
      val ndv = NdvStats.estimates(root, v)
      assert(ndv.get("k").exists(n => n > 4500 && n < 5500), ndv.toString)
      // the relation reports rowCount + per-column stats to catalyst
      spark.conf.set("spark.sql.cbo.enabled", "true")
      val st = spark.table("gtest.ns.cstat").queryExecution.optimizedPlan.stats
      assert(st.rowCount.contains(BigInt(5000)))
      val kStat = st.attributeStats.collectFirst {
        case (a, cs) if a.name == "k" => cs }.get
      assert(kStat.min.contains(0L) && kStat.max.contains(4999L))
      assert(kStat.nullCount.contains(BigInt(0)))
      assert(kStat.distinctCount.exists(d => d > 4500 && d < 5500))
      // the flip: threshold between raw size and the ~1% filtered
      // estimate — the statistics feed is the only way across
      spark.conf.set("spark.sql.cbo.enabled", "false")
      val raw = spark.table("gtest.ns.cstat").queryExecution.optimizedPlan
        .stats.sizeInBytes
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (raw / 4).toString)
      def kinds(cbo: Boolean): Seq[String] = {
        spark.conf.set("spark.sql.cbo.enabled", cbo.toString)
        spark.table("gtest.ns.cfact")
          .join(spark.table("gtest.ns.cstat").where(col("k") < lit(50L)), "k")
          .groupBy().count()
          .queryExecution.sparkPlan.collect {
            case p if p.nodeName.contains("Join") => p.nodeName }
      }
      assert(kinds(cbo = true).exists(_.contains("BroadcastHashJoin")),
        "CBO on: filtered dim must broadcast")
      val off = kinds(cbo = false)
      assert(off.exists(_.contains("SortMergeJoin")) &&
        !off.exists(_.contains("BroadcastHashJoin")),
        s"CBO off must keep the sort-merge join, got $off")
      // NDV maintenance: a delete keeps the estimate an upper bound
      // (HLL can't subtract); an overwrite RESETS the sketch
      graft.plans.MergeInto.sql(spark, "DELETE FROM gtest.ns.cstat WHERE k = 1")
      val v2 = ManifestTable.currentVersion(root).get
      assert(NdvStats.estimates(root, v2).get("k").exists(_ > 4500),
        "post-delete estimate stays the upper bound")
      spark.sql("INSERT OVERWRITE gtest.ns.cstat SELECT id, 'x' FROM range(10)")
      val v3 = ManifestTable.currentVersion(root).get
      assert(NdvStats.estimates(root, v3).get("k").exists(_ <= 12),
        "overwrite resets the estimate")
    } finally {
      saved.foreach { case (x, Some(value)) => spark.conf.set(x, value)
                      case (x, None) => spark.conf.unset(x) }
      spark.sql("DROP TABLE gtest.ns.cstat")
      spark.sql("DROP TABLE gtest.ns.cfact")
    }
  }

  test("sort order: writes sort per file, single-file scans report ordering, Sort nodes elide") {
    import graft.sources.{FileStats, ManifestTable}
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.ns")
    spark.sql("DROP TABLE IF EXISTS gtest.ns.sorted")
    spark.sql("CREATE TABLE gtest.ns.sorted (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('sort.order'='k')")
    val root = VersionedCatalog.warehouseOf("gtest").get + "/ns/sorted"
    // a SHUFFLED single-partition insert: the write must sort it
    spark.range(1000).selectExpr("(id * 37) % 1000 AS k", "md5(cast(id AS string)) AS v")
      .coalesce(1).writeTo("gtest.ns.sorted").append()
    val entries = ManifestTable.liveEntries(root)
    assert(entries.size === 1)
    assert(FileStats.sortSpec(FileStats.decode(entries.head.stats.get)).contains("k"),
      "the file is stamped with its sort spec")
    def sortNodes(df: org.apache.spark.sql.DataFrame): Seq[SortExec] = {
      df.collect() // finalize any adaptive plan
      GraftScans.executedNodes(df.queryExecution.executedPlan)
        .collect { case s: SortExec => s }
    }
    // the ordering reaches catalyst: the relation records k ASC
    val rel = spark.table("gtest.ns.sorted").queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r }
    assert(rel.exists(_.ordering.exists(_.nonEmpty)),
      s"reported ordering must reach the scan relation, got ${rel.map(_.ordering)}")
    // a partition-local sort over the sorted file ELIDES (a global ORDER
    // BY cannot — the V2 scan reports UnknownPartitioning, so a range
    // exchange always lands between scan and sort; the per-partition
    // claim is what SupportsReportOrdering is)
    val local = spark.table("gtest.ns.sorted").sortWithinPartitions("k")
    val ks = local.collect().map(_.getLong(0)).toSeq
    assert(ks === ks.sorted, "rows come back sorted")
    assert(sortNodes(local).isEmpty,
      "a clean sorted single-file table must elide the local Sort")
    // a second file: per-partition ordering is no longer claimable on a
    // flat listing (FilePartition packing is subset-unstable under
    // runtime filters) — the report goes silent, the Sort comes back
    spark.range(5).selectExpr("id + 2000 AS k", "'x' AS v")
      .coalesce(1).writeTo("gtest.ns.sorted").append()
    assert(sortNodes(spark.table("gtest.ns.sorted").sortWithinPartitions("k")).nonEmpty,
      "a multi-file flat listing must keep the Sort")
    // OPTIMIZE rewrites the table into one sorted file: elision returns
    spark.sql("CALL gtest.system.optimize(`table` => 'ns.sorted')")
    assert(ManifestTable.liveEntries(root).size === 1)
    val reopt = spark.table("gtest.ns.sorted").sortWithinPartitions("k")
    val ks2 = reopt.collect().map(_.getLong(0)).toSeq
    assert(ks2 === ks2.sorted && sortNodes(reopt).isEmpty,
      "OPTIMIZE re-sorts and the elision returns")
    // column pruning that drops the sort column silences the report but
    // never breaks the query
    assert(spark.table("gtest.ns.sorted").select(col("v")).count() === 1005)
    // RENAME follows into the property: writes keep sorting (the marker
    // is physical) and the report works under the new logical name
    spark.sql("ALTER TABLE gtest.ns.sorted RENAME COLUMN k TO kk")
    assert(spark.sql("SHOW TBLPROPERTIES gtest.ns.sorted")
      .collect().exists(r => r.getString(0) == "sort.order" && r.getString(1) == "kk"))
    val renamed = spark.table("gtest.ns.sorted").sortWithinPartitions("kk")
    assert(sortNodes(renamed).isEmpty, "report survives the rename")
    // Z-ORDER and a declared sort order are both write layouts — refuse
    val z = intercept[Exception] { spark.sql(
      "CALL gtest.system.optimize(`table` => 'ns.sorted', zorder_by => 'kk')") }
    assert(z.getMessage.contains("sort.order"), z.getMessage)
    // dropping the sort column refuses until the property unsets
    intercept[Exception] {
      spark.sql("ALTER TABLE gtest.ns.sorted DROP COLUMN kk") }
    spark.sql("ALTER TABLE gtest.ns.sorted UNSET TBLPROPERTIES ('sort.order')")
    spark.sql("ALTER TABLE gtest.ns.sorted DROP COLUMN kk")
    assert(spark.table("gtest.ns.sorted").columns.toSeq === Seq("v"))
    spark.sql("DROP TABLE gtest.ns.sorted")
  }

  test("sorted storage-partitioned merge join: zero exchanges AND zero sorts") {
    import graft.sources.ManifestTable
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.ns")
    Seq("smja", "smjb").foreach(t => spark.sql(s"DROP TABLE IF EXISTS gtest.ns.$t"))
    // both sides identity-partitioned on the join key AND sorted on ts:
    // one file per key (the hash write distribution's natural layout)
    Seq("smja", "smjb").foreach { t =>
      spark.sql(s"CREATE TABLE gtest.ns.$t (region BIGINT, ts BIGINT, v DOUBLE) " +
        "PARTITIONED BY (region) TBLPROPERTIES ('sort.order'='ts')")
      spark.sql(s"INSERT INTO gtest.ns.$t " +
        s"SELECT id % 8, (id * ${if (t == "smja") 37 else 61}) % 10000, id * 0.5 " +
        "FROM range(20000)")
    }
    Seq("gtest.ns.smja", "gtest.ns.smjb").foreach { t =>
      val root = VersionedCatalog.warehouseOf("gtest").get + "/ns/" + t.split('.').last
      assert(ManifestTable.liveEntries(root).groupBy(e =>
        e.rel.split('/').dropRight(1).mkString("/")).values.forall(_.size == 1),
        s"$t must land one file per region")
    }
    val saved = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.requireAllClusterKeysForCoPartition")
      .map(x => x -> spark.conf.getOption(x))
    try {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // the join keys (region, ts) are a SUPERSET of the partition key
      // (region): co-partitioning on the subset is sound (same region ⇒
      // same partition ⇒ same (region, ts) partition) but gated off by
      // default — the gate exists for hash partitioning, where subset
      // co-partitioning could skew; key-grouped storage partitions are
      // exactly the case it's for
      spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
      val joined = spark.table("gtest.ns.smja").as("a")
        .join(spark.table("gtest.ns.smjb").as("b"), Seq("region", "ts"))
        .groupBy(col("region")).agg(count(lit(1)).as("n"))
      val rows = joined.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(rows.nonEmpty)
      val nodes = GraftScans.executedNodes(joined.queryExecution.executedPlan)
      assert(nodes.exists(_.nodeName.contains("SortMergeJoin")),
        s"expected a merge join, got ${nodes.map(_.nodeName).distinct}")
      val joinSubtree = nodes.dropWhile(!_.nodeName.contains("SortMergeJoin"))
      assert(!joinSubtree.exists(_.isInstanceOf[SortExec]),
        "sorted co-partitioned sides must merge-join with ZERO sorts")
      assert(!joinSubtree.exists(_.isInstanceOf[ShuffleExchangeLike]),
        "storage-partitioned join must run with ZERO exchanges below it")
      // the data agrees with a plain (shuffled, sorted) run
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      val plain = spark.table("gtest.ns.smja")
        .join(spark.table("gtest.ns.smjb"), Seq("region", "ts"))
        .groupBy(col("region")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(rows === plain, "SPJ + elided sorts must not change results")
    } finally {
      saved.foreach { case (x, Some(value)) => spark.conf.set(x, value)
                      case (x, None) => spark.conf.unset(x) }
      Seq("smja", "smjb").foreach(t => spark.sql(s"DROP TABLE gtest.ns.$t"))
    }
  }

  test("multi-file sort groups: disjoint stamped ranges still merge-join with zero sorts; overlap silences the claim") {
    import graft.sources.ManifestTable
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.ns")
    Seq("smj2a", "smj2b", "smj2o").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS gtest.ns.$t"))
    // both sides: TWO sorted files per region with PROVABLY DISJOINT ts
    // ranges (first append covers [0,5000), second [5000,10000)) — the
    // stamped min/max let the scan plan each group as one sorted run
    Seq("smj2a", "smj2b").foreach { t =>
      spark.sql(s"CREATE TABLE gtest.ns.$t (region BIGINT, ts BIGINT, v DOUBLE) " +
        "PARTITIONED BY (region) TBLPROPERTIES ('sort.order'='ts')")
      val mul = if (t == "smj2a") 37 else 61
      spark.sql(s"INSERT INTO gtest.ns.$t " +
        s"SELECT id % 8, (id * $mul) % 5000, id * 0.5 FROM range(10000)")
      spark.sql(s"INSERT INTO gtest.ns.$t " +
        s"SELECT id % 8, 5000 + (id * $mul) % 5000, id * 0.5 FROM range(10000)")
      val root = VersionedCatalog.warehouseOf("gtest").get + "/ns/" + t
      assert(ManifestTable.liveEntries(root).groupBy(e =>
        e.rel.split('/').dropRight(1).mkString("/")).values.forall(_.size == 2),
        s"$t must land two files per region")
    }
    val saved = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.requireAllClusterKeysForCoPartition")
      .map(x => x -> spark.conf.getOption(x))
    try {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
      val joined = spark.table("gtest.ns.smj2a")
        .join(spark.table("gtest.ns.smj2b"), Seq("region", "ts"))
        .groupBy(col("region")).agg(count(lit(1)).as("n"))
      val rows = joined.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val nodes = GraftScans.executedNodes(joined.queryExecution.executedPlan)
      assert(nodes.exists(_.nodeName.contains("SortMergeJoin")),
        s"expected a merge join, got ${nodes.map(_.nodeName).distinct}")
      val joinSubtree = nodes.dropWhile(!_.nodeName.contains("SortMergeJoin"))
      assert(!joinSubtree.exists(_.isInstanceOf[SortExec]),
        "range-disjoint two-file groups must merge-join with ZERO sorts")
      assert(!joinSubtree.exists(_.isInstanceOf[ShuffleExchangeLike]),
        "storage-partitioned join must run with ZERO exchanges below it")
      // rows actually arrive sorted per partition (the claim is true,
      // not just believed): a partition-local sort on the CLAIMED prefix
      // (identity region, then ts) also elides
      val local = spark.table("gtest.ns.smj2a").sortWithinPartitions("region", "ts")
      local.collect()
      assert(!GraftScans.executedNodes(local.queryExecution.executedPlan)
        .exists(_.isInstanceOf[SortExec]))
      // data agrees with a plain shuffled run
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      val plain = spark.table("gtest.ns.smj2a")
        .join(spark.table("gtest.ns.smj2b"), Seq("region", "ts"))
        .groupBy(col("region")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(rows === plain, "multi-file elided sorts must not change results")

      // OVERLAPPING ranges: same layout but both appends span the full
      // ts domain — no stamped proof, the claim must go silent and the
      // local Sort must come back (never a wrong elision)
      spark.sql("CREATE TABLE gtest.ns.smj2o (region BIGINT, ts BIGINT, v DOUBLE) " +
        "PARTITIONED BY (region) TBLPROPERTIES ('sort.order'='ts')")
      (0 until 2).foreach(_ => spark.sql("INSERT INTO gtest.ns.smj2o " +
        "SELECT id % 8, (id * 37) % 10000, id * 0.5 FROM range(10000)"))
      val overlapped = spark.table("gtest.ns.smj2o")
        .sortWithinPartitions("region", "ts")
      val ts = overlapped.collect()
      assert(GraftScans.executedNodes(overlapped.queryExecution.executedPlan)
        .exists(_.isInstanceOf[SortExec]),
        "overlapping two-file groups must NOT claim an ordering")

      // NULLS in a later-ranked file: min/max bounds ignore nulls, so
      // the ranges still look disjoint — but NULLS FIRST means the
      // second file's nulls would land mid-run. The claim must go
      // silent (only the first-ranked file may carry nulls).
      spark.sql("DROP TABLE IF EXISTS gtest.ns.smj2nl")
      spark.sql("CREATE TABLE gtest.ns.smj2nl (region BIGINT, ts BIGINT, v DOUBLE) " +
        "PARTITIONED BY (region) TBLPROPERTIES ('sort.order'='ts')")
      spark.sql("INSERT INTO gtest.ns.smj2nl " +
        "SELECT id % 8, (id * 37) % 5000, id * 0.5 FROM range(10000)")
      spark.sql("INSERT INTO gtest.ns.smj2nl " +
        "SELECT id % 8, CASE WHEN id % 100 = 0 THEN NULL " +
        "ELSE 5000 + (id * 37) % 5000 END, id * 0.5 FROM range(10000)")
      val nulled = spark.table("gtest.ns.smj2nl")
        .sortWithinPartitions("region", "ts")
      nulled.collect()
      assert(GraftScans.executedNodes(nulled.queryExecution.executedPlan)
        .exists(_.isInstanceOf[SortExec]),
        "a later-ranked file holding NULLs must NOT claim an ordering")
      spark.sql("DROP TABLE gtest.ns.smj2nl")
    } finally {
      saved.foreach { case (x, Some(value)) => spark.conf.set(x, value)
                      case (x, None) => spark.conf.unset(x) }
      Seq("smj2a", "smj2b", "smj2o").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS gtest.ns.$t"))
    }
  }

  test("histogram statistics: commit-time KLL quantiles fix skewed-predicate selectivity") {
    import graft.sources.{ManifestTable, NdvStats}
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.ns")
    spark.sql("DROP TABLE IF EXISTS gtest.ns.hstat")
    spark.sql("DROP TABLE IF EXISTS gtest.ns.hfact")
    spark.sql("CREATE TABLE gtest.ns.hstat (k BIGINT, v BIGINT, pad STRING)")
    // heavy-tailed v: 99% of rows in [0,99], 1% spread over [100, ~10M) —
    // hash-spread across files so `v >= 1000` cannot file-prune; only
    // ESTIMATION can shrink it
    spark.sql("""INSERT INTO gtest.ns.hstat
      SELECT id,
             CASE WHEN id % 100 < 99 THEN id % 100
                  ELSE 100 + (id % 1000) * 9973 END,
             md5(cast(id AS string))
      FROM (SELECT id FROM range(100000) DISTRIBUTE BY md5(cast(id AS string)))""")
    spark.sql("CREATE TABLE gtest.ns.hfact (k BIGINT, p STRING)")
    spark.sql("INSERT INTO gtest.ns.hfact SELECT id % 100000, md5(cast(id AS string)) " +
      "FROM range(200000)")
    val root = VersionedCatalog.warehouseOf("gtest").get + "/ns/hstat"
    val saved = Seq("spark.sql.cbo.enabled", "spark.sql.autoBroadcastJoinThreshold",
      "spark.graft.stats.histogram").map(x => x -> spark.conf.getOption(x))
    try {
      // the KLL sketch landed beside the manifest
      val v = ManifestTable.currentVersion(root).get
      assert(NdvStats.kllSketches(root, v).contains("v"),
        "commit-time KLL sketch published")
      spark.conf.set("spark.sql.cbo.enabled", "true")
      // the histogram reaches catalyst's ColumnStat
      val st = spark.table("gtest.ns.hstat").queryExecution.optimizedPlan.stats
      val vStat = st.attributeStats.collectFirst {
        case (a, cs) if a.name == "v" => cs }.get
      assert(vStat.histogram.isDefined, "ColumnStat.histogram must be populated")
      // selectivity of the tail predicate: uniform interpolation between
      // min/max says ~everything passes; the histogram knows it's ~1%
      def filteredEstimate(): BigInt =
        spark.table("gtest.ns.hstat").where(col("v") >= lit(1000L))
          .queryExecution.optimizedPlan.stats.rowCount.getOrElse(BigInt(-1))
      val withHist = filteredEstimate()
      spark.conf.set("spark.graft.stats.histogram", "false")
      val withoutHist = filteredEstimate()
      spark.conf.unset("spark.graft.stats.histogram")
      val truth = spark.table("gtest.ns.hstat").where(col("v") >= lit(1000L)).count()
      assert(truth < 1100, s"skew fixture drifted: $truth tail rows")
      assert(withHist < truth * 10 && withHist > 0,
        s"histogram estimate must land near the ~1% truth, got $withHist")
      assert(withoutHist > truth * 20,
        s"uniform estimate must overshoot by orders of magnitude, got $withoutHist")
      // the planning consequence: a broadcast threshold between the two
      // estimates — only the histogram can carry the filtered dim across
      val histSize = spark.table("gtest.ns.hstat").where(col("v") >= lit(1000L))
        .queryExecution.optimizedPlan.stats.sizeInBytes
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (histSize * 8).toString)
      def kinds(hist: Boolean): Seq[String] = {
        if (hist) spark.conf.unset("spark.graft.stats.histogram")
        else spark.conf.set("spark.graft.stats.histogram", "false")
        spark.table("gtest.ns.hfact")
          .join(spark.table("gtest.ns.hstat").where(col("v") >= lit(1000L)), "k")
          .groupBy().count()
          .queryExecution.sparkPlan.collect {
            case p if p.nodeName.contains("Join") => p.nodeName }
      }
      assert(kinds(hist = true).exists(_.contains("BroadcastHashJoin")),
        "histogram selectivity must broadcast the tail slice")
      val off = kinds(hist = false)
      assert(off.exists(_.contains("SortMergeJoin")) &&
        !off.exists(_.contains("BroadcastHashJoin")),
        s"uniform estimation must keep the sort-merge join, got $off")
      // an append whose writer had the histogram tier OFF resets the
      // quantile keys instead of carrying bins that miss its rows — the
      // reader sees NO histogram (honest) rather than a silent one
      spark.conf.set("spark.graft.stats.histogram", "false")
      try spark.sql("INSERT INTO gtest.ns.hstat " +
        "SELECT id + 200000, 42, 'x' FROM range(10)")
      finally spark.conf.unset("spark.graft.stats.histogram")
      assert(NdvStats.kllSketches(root,
        ManifestTable.currentVersion(root).get).isEmpty,
        "a histogram-off append drops the parent's one-sided KLL keys")
      val vStat2 = spark.table("gtest.ns.hstat").queryExecution
        .optimizedPlan.stats.attributeStats.collectFirst {
          case (a, cs) if a.name == "v" => cs }.get
      assert(vStat2.histogram.isEmpty,
        "no histogram is reported over the unsketched rows")
      assert(vStat2.distinctCount.isDefined,
        "the NDV tier is unaffected by the histogram reset")
    } finally {
      saved.foreach { case (x, Some(value)) => spark.conf.set(x, value)
                      case (x, None) => spark.conf.unset(x) }
      spark.sql("DROP TABLE gtest.ns.hstat")
      spark.sql("DROP TABLE gtest.ns.hfact")
    }
  }

  test("delete-aware row count: DV tombstone counts subtract exactly, broadcast flips without compute_stats") {
    import graft.sources.ManifestTable
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.ns")
    spark.sql("DROP TABLE IF EXISTS gtest.ns.dstat")
    spark.sql("DROP TABLE IF EXISTS gtest.ns.dfact")
    spark.sql("CREATE TABLE gtest.ns.dstat (k BIGINT, v STRING)")
    // v NULL for half the rows: the null count must stay consistent with
    // the delete-subtracted row count
    spark.sql("INSERT INTO gtest.ns.dstat SELECT id, " +
      "CASE WHEN id % 2 = 0 THEN md5(cast(id AS string)) END FROM range(20000)")
    spark.sql("CREATE TABLE gtest.ns.dfact (k BIGINT, p STRING)")
    spark.sql("INSERT INTO gtest.ns.dfact SELECT id % 20000, md5(cast(id AS string)) " +
      "FROM range(60000)")
    val root = VersionedCatalog.warehouseOf("gtest").get + "/ns/dstat"
    val saved = Seq("spark.sql.cbo.enabled", "spark.sql.autoBroadcastJoinThreshold",
      "spark.graft.delete.mode").map(x => x -> spark.conf.getOption(x))
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      def rc = spark.table("gtest.ns.dstat")
        .queryExecution.optimizedPlan.stats.rowCount
      assert(rc.contains(BigInt(20000)))
      // a 90% MOR delete: the DV slice index records the exact tombstone
      // count, and the report subtracts it — no compute_stats, no scan
      spark.conf.set("spark.graft.delete.mode", "merge-on-read")
      graft.plans.MergeInto.sql(spark, "DELETE FROM gtest.ns.dstat WHERE k >= 2000")
      assert(ManifestTable.liveEntries(root)
        .exists(e => ManifestTable.isDvEntry(e.rel)), "delete landed as a DV")
      assert(rc.contains(BigInt(2000)),
        s"rowCount subtracts the exact tombstone total, got $rc")
      // null counts scale with the subtraction: 10,000 undeleted nulls
      // against 2,000 live rows would make FilterEstimation's null
      // fraction 5.0 (negative IS-NOT-NULL selectivity)
      val vNulls = spark.table("gtest.ns.dstat")
        .queryExecution.optimizedPlan.stats.attributeStats.collectFirst {
          case (a, cs) if a.name == "v" => cs.nullCount }.flatten
      assert(vNulls.exists(n => n >= 0 && n <= BigInt(2000)),
        s"null count must not exceed the live row count, got $vNulls")
      // the planning consequence: a threshold only the SUBTRACTED
      // estimate passes (5x the live projected size — the undeleted
      // upper bound is 10x) broadcasts the churned dimension
      val projSize = spark.table("gtest.ns.dstat").select(col("k"))
        .queryExecution.optimizedPlan.stats.sizeInBytes
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (projSize * 5).toString)
      val kinds = spark.table("gtest.ns.dfact")
        .join(spark.table("gtest.ns.dstat").select(col("k")), "k")
        .groupBy().count()
        .queryExecution.sparkPlan.collect {
          case p if p.nodeName.contains("Join") => p.nodeName }
      assert(kinds.exists(_.contains("BroadcastHashJoin")),
        s"the live-count estimate must broadcast, got $kinds")
      // equality deletes can't be counted from metadata: the row count
      // keeps the (now live-count) upper bound, never guesses lower
      ManifestTable.appendEqualityDeletes(
        spark.range(5).selectExpr("id AS k"), root)
      assert(rc.contains(BigInt(2000)),
        "eq deletes keep the upper bound — no metadata-only subtraction")
    } finally {
      saved.foreach { case (x, Some(value)) => spark.conf.set(x, value)
                      case (x, None) => spark.conf.unset(x) }
      spark.sql("DROP TABLE gtest.ns.dstat")
      spark.sql("DROP TABLE gtest.ns.dfact")
    }
  }

  test("expire after fast_forward: published branch-stamped history keeps main's window") {
    import graft.sources.ManifestTable
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.ns")
    spark.sql("DROP TABLE IF EXISTS gtest.ns.ffgc")
    spark.sql("CREATE TABLE gtest.ns.ffgc (k BIGINT)")
    spark.conf.set("spark.graft.versioned.retain", "10")
    try {
      spark.sql("INSERT INTO gtest.ns.ffgc VALUES (1)") // main v1
      val root = VersionedCatalog.warehouseOf("gtest").get + "/ns/ffgc"
      spark.sql("CALL gtest.system.create_branch(`table` => 'ns.ffgc', name => 'wap')")
      spark.conf.set("spark.graft.write.branch", "wap")
      try {
        spark.sql("INSERT INTO gtest.ns.ffgc VALUES (2)") // wap v2
        spark.sql("INSERT INTO gtest.ns.ffgc VALUES (3)") // wap v3
      } finally spark.conf.unset("spark.graft.write.branch")
      spark.sql("CALL gtest.system.fast_forward(`table` => 'ns.ffgc', branch => 'wap')")
      val live = ManifestTable.currentVersion(root).get // v3, owner stamp 'wap'
      // further STAGED branch commits push the branch head past the pointer
      spark.conf.set("spark.graft.write.branch", "wap")
      try {
        spark.sql("INSERT INTO gtest.ns.ffgc VALUES (4)") // wap v4
        spark.sql("INSERT INTO gtest.ns.ffgc VALUES (5)") // wap v5 (head)
      } finally spark.conf.unset("spark.graft.write.branch")
      // the hazard: every retained manifest ≤ live carries the 'wap' owner
      // stamp; expiring them by the BRANCH head's window (5 - retain)
      // deletes main's LIVE manifest. Published history must use main's
      // window regardless of the surviving owner stamp.
      ManifestTable.expireOldVersions(root, retain = 1)
      assert(ManifestTable.currentVersion(root).contains(live))
      assert(ManifestTable.versions(root).contains(live),
        s"main's live manifest $live expired (have ${ManifestTable.versions(root)})")
      assert(spark.table("gtest.ns.ffgc").collect().map(_.getLong(0)).toSet
        === Set(1L, 2L, 3L), "main must still read after expire")
      // the staged branch stays whole through its head
      assert(spark.sql("SELECT k FROM gtest.ns.ffgc VERSION AS OF 'wap'")
        .collect().map(_.getLong(0)).toSet === Set(1L, 2L, 3L, 4L, 5L))
    } finally spark.conf.unset("spark.graft.versioned.retain")
    spark.sql("DROP TABLE gtest.ns.ffgc")
  }

  test("scan planning never lists the file system: the manifest-seeded index plans a vanished file") {
    import graft.sources.{FileStats, ManifestTable}
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.ns")
    spark.sql("DROP TABLE IF EXISTS gtest.ns.seedidx")
    spark.sql("CREATE TABLE gtest.ns.seedidx (k BIGINT, v STRING)")
    spark.sql("INSERT INTO gtest.ns.seedidx " +
      "SELECT id, md5(cast(id AS string)) FROM range(1000)")
    val root = VersionedCatalog.warehouseOf("gtest").get + "/ns/seedidx"
    val entries = ManifestTable.liveEntries(root)
    val sized = entries.flatMap(e =>
      FileStats.byteSize(FileStats.decode(e.stats.getOrElse(""))))
    assert(sized.size === entries.size, "every commit entry records __bytes")
    // the index answers from the manifest: delete a PHYSICAL file and
    // planning still succeeds with the recorded size — a real listing
    // would have had to stat (and miss) it
    val victim = entries.head.rel
    val vPath = java.nio.file.Paths.get(s"$root/data/$victim")
    val vLen = java.nio.file.Files.size(vPath)
    java.nio.file.Files.delete(vPath)
    try {
      val scan = scanOf(spark.table("gtest.ns.seedidx"))
      assert(scan.fileIndex.inputFiles.exists(_.endsWith(victim)),
        "the vanished file still plans from its manifest entry")
      assert(scan.fileIndex.sizeInBytes === sized.map(_._1).sum,
        "size estimates are the manifest-recorded exact lengths")
    } finally {
      // restore so the table stays consistent for the drop
      java.nio.file.Files.write(vPath, new Array[Byte](vLen.toInt))
    }
    spark.sql("DROP TABLE gtest.ns.seedidx")
  }

  test("compute_stats: explicit ANALYZE builds the sketch opted-out writers skipped; deletes reset") {
    import graft.sources.{ManifestTable, NdvStats}
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.ns")
    spark.sql("DROP TABLE IF EXISTS gtest.ns.anlz")
    spark.sql("CREATE TABLE gtest.ns.anlz (k BIGINT, v STRING)")
    spark.conf.set("spark.graft.stats.ndv", "false")
    try spark.sql("INSERT INTO gtest.ns.anlz " +
      "SELECT id, md5(cast(id AS string)) FROM range(2000)")
    finally spark.conf.unset("spark.graft.stats.ndv")
    val root = VersionedCatalog.warehouseOf("gtest").get + "/ns/anlz"
    assert(NdvStats.estimates(root, ManifestTable.currentVersion(root).get).isEmpty,
      "opted-out write must carry no sketch")
    val rows = spark.sql("CALL gtest.system.compute_stats(`table` => 'ns.anlz')")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.get("k").exists(n => n > 1800 && n < 2200), rows.toString)
    assert(NdvStats.estimates(root, ManifestTable.currentVersion(root).get)
      .get("k").exists(_ > 1800), "the sketch published at the live version")
    // ANALYZE is the one SUBTRACTING path: after a heavy delete the
    // rebuild scans live rows (deletes applied) and the estimate drops
    graft.plans.MergeInto.sql(spark, "DELETE FROM gtest.ns.anlz WHERE k >= 100")
    val after = spark.sql("CALL gtest.system.compute_stats(`table` => 'ns.anlz')")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after.get("k").exists(n => n > 80 && n < 120), after.toString)
    spark.sql("DROP TABLE gtest.ns.anlz")
  }

  test("remove_orphan_files: grace window, dry-run listing, ref-pinned survivors") {
    import graft.sources.ManifestTable
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.ns")
    spark.sql("DROP TABLE IF EXISTS gtest.ns.rof")
    spark.sql("CREATE TABLE gtest.ns.rof (k BIGINT)")
    spark.sql("INSERT INTO gtest.ns.rof VALUES (1)")  // v1
    val root = VersionedCatalog.warehouseOf("gtest").get + "/ns/rof"
    ManifestTable.createTag(root, "keep", None)       // pins v1
    spark.sql("INSERT OVERWRITE gtest.ns.rof VALUES (2)") // v2 (v1 files now tag-only)
    // a crashed writer's junk lands in the pool
    val junk = java.nio.file.Paths.get(s"$root/data/junk_crashed_writer.parquet")
    java.nio.file.Files.write(junk, Array[Byte](1, 2, 3))
    def call(args: String) = spark.sql(
      s"CALL gtest.system.remove_orphan_files(`table` => 'ns.rof'$args)")
      .collect().map(r => (r.getString(0), r.getBoolean(1)))
    // default grace: the fresh junk file is protected (an in-flight
    // commit's just-moved file must never sweep)
    assert(call("").isEmpty, "grace window must protect fresh files")
    assert(java.nio.file.Files.exists(junk))
    // explicit cutoff ahead of now + dry_run: listed, NOT deleted
    val future = "299-01-01 00:00:00".replace("299", "2099")
    val dry = call(s", older_than => '$future', dry_run => true")
    assert(dry.map(_._1).exists(_.endsWith("junk_crashed_writer.parquet")))
    assert(dry.forall(!_._2) && java.nio.file.Files.exists(junk))
    // the tag-pinned snapshot's files are REFERENCED, never orphans
    assert(!dry.map(_._1).exists(p =>
      ManifestTable.manifestIndex(root, 1L)._2.exists(e => p.endsWith(e.rel))),
      s"tag-pinned v1 files listed as orphans: ${dry.mkString(",")}")
    // real run: swept
    val swept = call(s", older_than => '$future'")
    assert(swept.map(_._1).exists(_.endsWith("junk_crashed_writer.parquet")))
    assert(swept.forall(_._2) && !java.nio.file.Files.exists(junk))
    // the DISTRIBUTED execution (cluster listing, executor-expanded
    // shard references, anti-join, per-partition deletes — the
    // million-file shape) keeps identical semantics; forced onto this
    // small table by zeroing the distribution threshold, and proven to
    // run as cluster jobs by a listener
    java.nio.file.Files.write(junk, Array[Byte](4, 5, 6))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    spark.conf.set("spark.graft.orphan.distributeMinFiles", "0")
    try {
      val dry2 = call(s", older_than => '$future', dry_run => true")
      assert(dry2.map(_._1).exists(_.endsWith("junk_crashed_writer.parquet")))
      assert(!dry2.map(_._1).exists(p =>
        ManifestTable.manifestIndex(root, 1L)._2.exists(e => p.endsWith(e.rel))),
        "distributed sweep must spare tag-pinned files")
      val swept2 = call(s", older_than => '$future'")
      assert(swept2.map(_._1).exists(_.endsWith("junk_crashed_writer.parquet")))
      assert(!java.nio.file.Files.exists(junk), "distributed delete ran")
      org.scalatest.concurrent.Eventually.eventually(
        org.scalatest.concurrent.Eventually.timeout(
          org.scalatest.time.Span(5, org.scalatest.time.Seconds))) {
        assert(jobs.get() > 0, "the sweep must run as cluster jobs")
      }
    } finally {
      spark.conf.unset("spark.graft.orphan.distributeMinFiles")
      spark.sparkContext.removeSparkListener(listener)
    }
    // the table and its pinned history still read
    assert(spark.table("gtest.ns.rof").collect().map(_.getLong(0)).toSeq === Seq(2L))
    assert(spark.sql("SELECT k FROM gtest.ns.rof VERSION AS OF 'keep'")
      .collect().map(_.getLong(0)).toSeq === Seq(1L))
    spark.sql("DROP TABLE gtest.ns.rof")
  }

  test("distributed orphan sweep expands SHARDED manifests on executors") {
    import graft.sources.ManifestTable
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.ns")
    spark.sql("DROP TABLE IF EXISTS gtest.ns.rofs")
    // a tiny inline budget forces the manifest into shard files, so the
    // referenced set must come from EXECUTOR-side shard reads (the
    // 4096-file ScaleBench shape, reproduced small)
    Seq("spark.graft.manifest.inlineEntries" -> "4",
      "spark.graft.write.distribution" -> "none",
      "spark.graft.orphan.distributeMinFiles" -> "0")
      .foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      spark.sql("CREATE TABLE gtest.ns.rofs (k BIGINT)")
      spark.range(24).selectExpr("id AS k").repartition(12)
        .writeTo("gtest.ns.rofs").append()
      spark.range(24).selectExpr("id + 24 AS k").repartition(12)
        .writeTo("gtest.ns.rofs").append()
      val root = VersionedCatalog.warehouseOf("gtest").get + "/ns/rofs"
      val (refs, inline) = ManifestTable.manifestIndex(root,
        ManifestTable.currentVersion(root).get)
      assert(refs.nonEmpty, s"fixture must shard (refs=${refs.size} inline=${inline.size})")
      val junk = java.nio.file.Paths.get(s"$root/data/orphan_sharded.parquet")
      java.nio.file.Files.write(junk, Array[Byte](1))
      val swept = ManifestTable.removeOrphanFiles(root,
        olderThanMillis = Some(System.currentTimeMillis() + 60000))
      assert(swept.size === 1 && swept.head.endsWith("orphan_sharded.parquet"),
        s"only the planted junk sweeps — shard-referenced files survive, got $swept")
      assert(!java.nio.file.Files.exists(junk))
      assert(spark.table("gtest.ns.rofs").count() === 48, "table intact")
    } finally {
      Seq("spark.graft.manifest.inlineEntries", "spark.graft.write.distribution",
        "spark.graft.orphan.distributeMinFiles").foreach(spark.conf.unset)
      spark.sql("DROP TABLE gtest.ns.rofs")
    }
  }

  test("spark.graft.read.branch: opt-in audit reads resolve the staged head; default reads main") {
    import graft.sources.ManifestTable
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.ns")
    Seq("rdbr", "rdnb").foreach(t => spark.sql(s"DROP TABLE IF EXISTS gtest.ns.$t"))
    spark.sql("CREATE TABLE gtest.ns.rdbr (k BIGINT)")
    spark.sql("CREATE TABLE gtest.ns.rdnb (k BIGINT)") // never branched
    spark.sql("INSERT INTO gtest.ns.rdbr VALUES (1)")            // main v1
    spark.sql("INSERT INTO gtest.ns.rdnb VALUES (7)")
    spark.sql("CALL gtest.system.create_branch(`table` => 'ns.rdbr', name => 'audit')")
    spark.conf.set("spark.graft.write.branch", "audit")
    try spark.sql("INSERT INTO gtest.ns.rdbr VALUES (2)")        // staged
    finally spark.conf.unset("spark.graft.write.branch")
    def ks(t: String) = spark.table(t).collect().map(_.getLong(0)).toSet
    // default: plain reads see MAIN only
    assert(ks("gtest.ns.rdbr") === Set(1L))
    spark.conf.set("spark.graft.read.branch", "audit")
    try {
      // opt-in: plain reads resolve the staged head, no VERSION AS OF
      assert(ks("gtest.ns.rdbr") === Set(1L, 2L))
      // a table WITHOUT the branch falls back to main (audit joins
      // against unbranched dimensions must resolve)
      assert(ks("gtest.ns.rdnb") === Set(7L))
      // explicit time travel still wins over the conf
      assert(spark.sql("SELECT k FROM gtest.ns.rdbr VERSION AS OF 1")
        .collect().map(_.getLong(0)).toSet === Set(1L))
      // row-level DML refuses while the audit read conf is set: a
      // copy-on-write rewrite would read the branch and commit to main —
      // a silent cross-lineage rewrite (staged rows published, main-only
      // rows dropped). Both the table and main's content stay untouched.
      val dml = intercept[Exception] {
        graft.plans.MergeInto.sql(spark, "DELETE FROM gtest.ns.rdbr WHERE k = 1") }
      assert(dml.getMessage.contains("cross-lineage"), dml.getMessage)
      // …and so do WRITES (INSERT…SELECT / OVERWRITE / CTAS): fed by
      // branch-scoped reads, they would publish staged data onto main
      val wr = intercept[Exception] {
        spark.sql("INSERT OVERWRITE gtest.ns.rdbr SELECT * FROM gtest.ns.rdbr") }
      def msgs(e: Throwable): String = Option(e).map(x =>
        Option(x.getMessage).getOrElse("") + "|" + msgs(x.getCause)).getOrElse("")
      assert(msgs(wr).contains("read-only"), msgs(wr))
      assert(ks("gtest.ns.rdbr") === Set(1L, 2L))
      // a non-branch ref of that name is an error, not a fallback
      val root = VersionedCatalog.warehouseOf("gtest").get + "/ns/rdbr"
      ManifestTable.createTag(root, "audit2", None)
      spark.conf.set("spark.graft.read.branch", "audit2")
      val e = intercept[Exception] { ks("gtest.ns.rdbr") }
      assert(e.getMessage.contains("not a branch"), e.getMessage)
    } finally spark.conf.unset("spark.graft.read.branch")
    // conf gone: main again
    assert(ks("gtest.ns.rdbr") === Set(1L))
    Seq("rdbr", "rdnb").foreach(t => spark.sql(s"DROP TABLE gtest.ns.$t"))
  }

  test("fsck verifies the live snapshot; a vanished data file is found") {
    import graft.sources.ManifestTable
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.ns")
    spark.sql("DROP TABLE IF EXISTS gtest.ns.fsck")
    spark.sql("CREATE TABLE gtest.ns.fsck (k BIGINT, v BIGINT)")
    spark.conf.set("spark.graft.versioned.retain", "10")
    val prevMode = spark.conf.getOption("spark.graft.delete.mode")
    try {
      spark.sql("INSERT INTO gtest.ns.fsck VALUES (1, 10), (2, 20)")
      spark.sql("INSERT INTO gtest.ns.fsck VALUES (3, 30), (4, 40)")
      spark.conf.set("spark.graft.delete.mode", "merge-on-read")
      graft.plans.MergeInto.sql(spark, "DELETE FROM gtest.ns.fsck WHERE k = 2")
      val r0 = spark.sql("CALL gtest.system.fsck(`table` => 'ns.fsck')").collect()(0)
      assert(r0.getLong(1) >= 2 && r0.getLong(2) >= 1,
        s"expected data + delete entries, got $r0")
      assert(r0.getLong(3) === 0 && r0.getLong(6) === 0 && r0.getBoolean(8),
        s"fresh table unhealthy: $r0")

      // DV CONTENT verification: scribbling garbage over the blob (same
      // length — every offset stays in range) must surface as corrupt
      val root = VersionedCatalog.warehouseOf("gtest").get + "/ns/fsck"
      val dvRel = ManifestTable.liveEntries(root)
        .filter(e => ManifestTable.isDvEntry(e.rel)).head.rel
      val dvPath = java.nio.file.Paths.get(s"$root/data/$dvRel")
      val origBytes = java.nio.file.Files.readAllBytes(dvPath)
      java.nio.file.Files.write(dvPath,
        Array.fill[Byte](origBytes.length)(0x7f.toByte))
      val rc = spark.sql("CALL gtest.system.fsck(`table` => 'ns.fsck')").collect()(0)
      assert(rc.getLong(6) >= 1 && !rc.getBoolean(8),
        s"fsck missed the corrupt dv blob: $rc")
      java.nio.file.Files.write(dvPath, origBytes) // restore

      // a structurally VALID blob whose position exceeds the target
      // file's row count is corrupt too (2 rows per file here)
      val target = ManifestTable.encodedRel(root, ManifestTable.liveEntries(root)
        .map(_.rel).filterNot(ManifestTable.isDeleteEntry).head)
      import spark.implicits._
      ManifestTable.appendDeletes(
        Seq((target, 1000000L)).toDF("__file", "__pos"), root, retain = 10)
      val ro = spark.sql("CALL gtest.system.fsck(`table` => 'ns.fsck')").collect()(0)
      assert(ro.getLong(6) >= 1 && !ro.getBoolean(8),
        s"fsck missed the out-of-range position: $ro")

      // a data file vanishing out from under the manifest is FOUND
      val victim = ManifestTable.liveEntries(root)
        .filterNot(e => ManifestTable.isDeleteEntry(e.rel)).head.rel
      java.nio.file.Files.delete(java.nio.file.Paths.get(s"$root/data/$victim"))
      val r1 = spark.sql("CALL gtest.system.fsck(`table` => 'ns.fsck')").collect()(0)
      assert(r1.getLong(3) === 1 && !r1.getBoolean(8),
        s"fsck missed the vanished file: $r1")
    } finally {
      spark.conf.unset("spark.graft.versioned.retain")
      prevMode match {
        case Some(m) => spark.conf.set("spark.graft.delete.mode", m)
        case None => spark.conf.unset("spark.graft.delete.mode")
      }
    }
    spark.sql("DROP TABLE gtest.ns.fsck")
  }

  test("avro catalog tables split large files on sync markers through the V2 scan") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.ns")
    spark.sql("DROP TABLE IF EXISTS gtest.ns.avsplit")
    spark.sql("CREATE TABLE gtest.ns.avsplit (k BIGINT, s STRING) USING avro")
    // one large container file: coalesce(1) before the V2 append
    spark.range(200000).selectExpr("id AS k", "concat('row-', id) AS s")
      .coalesce(1).writeTo("gtest.ns.avsplit").append()
    val root = VersionedCatalog.warehouseOf("gtest").get + "/ns/avsplit"
    assert(graft.sources.ManifestTable.manifest(root, 1).size === 1)

    val whole = spark.table("gtest.ns.avsplit")
      .agg(count(lit(1)), sum("k")).collect()(0)
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", (64 * 1024).toString)
    try {
      val split = spark.table("gtest.ns.avsplit")
      assert(split.rdd.getNumPartitions > 4,
        s"expected many splits, got ${split.rdd.getNumPartitions}")
      val a = split.agg(count(lit(1)), sum("k")).collect()(0)
      assert(a === whole)
      assert(a.getLong(0) === 200000L)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)

    // small appended files pack into shared partitions (with each other
    // or with the big file's tail range) once opening a file is cheap,
    // and every record still reads exactly once
    (0 until 4).foreach { i =>
      spark.range(200000 + i * 100, 200000 + (i + 1) * 100)
        .selectExpr("id AS k", "concat('row-', id) AS s")
        .writeTo("gtest.ns.avsplit").append()
    }
    val all = spark.table("gtest.ns.avsplit")
      .agg(count(lit(1)), sum("k"), countDistinct("k")).collect()(0)
    assert(all.getLong(0) === 200400L && all.getLong(2) === 200400L)
    val prevOpen = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", (64 * 1024).toString)
    spark.conf.set("spark.sql.files.openCostInBytes", "1024")
    try {
      val packed = spark.table("gtest.ns.avsplit")
      val parts = packed.queryExecution.executedPlan
        .collect { case b: BatchScanExec => b.scan }.map(GraftScans.innermost)
        .flatMap(_.toBatch.planInputPartitions().collect {
          case fp: org.apache.spark.sql.execution.datasources.FilePartition => fp })
      assert(parts.size > 4, s"expected many partitions, got ${parts.size}")
      assert(parts.exists(_.files.map(_.filePath).distinct.length > 1),
        "some partition must pack ranges of different files")
      assert(packed.agg(count(lit(1)), sum("k"), countDistinct("k")).collect()(0) === all)
    } finally {
      spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
      spark.conf.set("spark.sql.files.openCostInBytes", prevOpen)
    }
  }

  test("per-file column stats: commits record footer min/max, scans skip files on non-partition predicates") {
    import graft.sources.ManifestTable
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.ns")
    for (fmt <- Seq("parquet", "orc")) {
      spark.sql(s"DROP TABLE IF EXISTS gtest.ns.st_$fmt")
      import spark.implicits._
      // 4 disjoint value bands -> 4 files with tight, non-overlapping stats
      val df = (0 until 400).map(i => (i.toLong, i.toDouble, s"s${"%03d".format(i)}"))
        .toDF("k", "v", "s").repartitionByRange(4, col("v"))
      df.writeTo(s"gtest.ns.st_$fmt").using(fmt).create()
      val root = VersionedCatalog.warehouseOf("gtest").get + s"/ns/st_$fmt"

      // every committed entry carries decoded stats for all three columns
      val entries = ManifestTable.liveEntries(root)
      assert(entries.size >= 2, s"$fmt: expected multiple files")
      entries.foreach { e =>
        val st = e.stats.map(graft.sources.FileStats.decode).getOrElse(Map.empty)
        assert(Set("k", "v", "s").subsetOf(st.keySet),
          s"$fmt entry ${e.rel} lacks stats: ${e.stats}")
        assert(st("v").min.isDefined && st("v").max.isDefined && st("v").nulls.contains(0L))
      }

      def files(df: org.apache.spark.sql.DataFrame): Int =
        df.queryExecution.executedPlan.collect {
          case b: BatchScanExec => b.scan
        }.map(graft.sources.v2.GraftScans.innermost).map {
          case p: ParquetScan => p.fileIndex.inputFiles.length
          case o: org.apache.spark.sql.execution.datasources.v2.orc.OrcScan =>
            o.fileIndex.inputFiles.length
          case other => fail(s"unexpected scan $other")
        }.sum

      val t = spark.table(s"gtest.ns.st_$fmt")
      val all = files(t)
      // a range predicate on a NON-partition column must shrink the listing
      val hi = files(t.where(col("v") >= 300.0))
      assert(hi < all && hi >= 1, s"$fmt: value-range filter kept $hi of $all files")
      // equality on the string column skips the bands that can't hold it
      val eq = files(t.where(col("s") === "s399"))
      assert(eq < all, s"$fmt: string filter kept $eq of $all files")
      // result correctness is untouched by pruning (residual filters exact)
      assert(t.where(col("v") >= 300.0).count() === 100)
      assert(t.where(col("s") === "s399").count() === 1)
      // a filter the stats can't judge keeps every file
      assert(files(t.where(length(col("s")) === lit(4))) === all)
      spark.sql(s"DROP TABLE gtest.ns.st_$fmt")
    }
  }

  test("stats survive append/compaction and combine with day pruning; avro writes carry writer-side stats") {
    import graft.sources.ManifestTable
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.ns")
    spark.sql("DROP TABLE IF EXISTS gtest.ns.stday")
    import spark.implicits._
    def batch(day: Int, lo: Int): org.apache.spark.sql.DataFrame =
      (lo until lo + 100).map(i =>
        (i.toLong, java.time.LocalDateTime.of(2024, 3, day, 12, 0), i.toDouble))
        .toDF("k", "ts", "v")
    spark.sql("CREATE TABLE gtest.ns.stday (k BIGINT, ts TIMESTAMP_NTZ, v DOUBLE) " +
      "PARTITIONED BY (days(ts))")
    batch(1, 0).writeTo("gtest.ns.stday").append()     // day 1: v in [0,100)
    batch(2, 1000).writeTo("gtest.ns.stday").append()  // day 2: v in [1000,1100)
    val root = VersionedCatalog.warehouseOf("gtest").get + "/ns/stday"
    assert(ManifestTable.liveEntries(root).forall(_.stats.isDefined))

    def files(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collect { case b: BatchScanExec => b.scan }
        .map(graft.sources.v2.GraftScans.innermost)
        .collect { case p: ParquetScan => p.fileIndex.inputFiles.length }.sum
    val t = spark.table("gtest.ns.stday")
    val all = files(t)
    // stats alone: day 2's band is excluded by a value predicate
    assert(files(t.where(col("v") < 100.0)) < all)
    // stats + day pruning compose (both floors, listing shrinks further)
    assert(files(t.where(col("v") < 100.0) // day 1 only by value...
      .where(col("ts") >= lit("2024-03-02 00:00:00").cast("timestamp_ntz"))) === 0)
    assert(t.where(col("v") < 100.0)
      .where(col("ts") >= lit("2024-03-02 00:00:00").cast("timestamp_ntz")).count() === 0)

    // the avro leg: containers carry no column statistics, so the WRITER
    // accumulates min/max/null while streaming and the manifest entry
    // rides them — stats-based skipping now fires on all three formats
    spark.sql("DROP TABLE IF EXISTS gtest.ns.stavro")
    batch(1, 0).writeTo("gtest.ns.stavro").using("avro").create() // v in [0,100)
    batch(2, 1000).writeTo("gtest.ns.stavro").append()            // v in [1000,1100)
    val rootA = VersionedCatalog.warehouseOf("gtest").get + "/ns/stavro"
    assert(ManifestTable.liveEntries(rootA).forall(_.stats.isDefined),
      "avro entries must carry writer-accumulated stats")
    def avroFiles(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collect { case b: BatchScanExec => b.scan }
        .map(graft.sources.v2.GraftScans.innermost)
        .map(_.description()).collect {
          case d if d.startsWith("AvroManifestScan[") =>
            d.stripPrefix("AvroManifestScan[").takeWhile(_.isDigit).toInt
        }.sum
    val ta = spark.table("gtest.ns.stavro")
    val allA = avroFiles(ta)
    assert(avroFiles(ta.where(col("v") < 100.0)) < allA,
      "a value predicate must skip avro files on writer-side stats")
    // pruning is a floor: results stay exact, unjudgeable filters keep all
    assert(ta.where(col("v") < 100.0).count() === 100)
    assert(ta.where(col("v") < 50.0).count() === 50)
    assert(avroFiles(ta.where(length(col("ts").cast("string")) > lit(0))) === allA)
    spark.sql("DROP TABLE gtest.ns.stday")
    spark.sql("DROP TABLE gtest.ns.stavro")
  }

  test("partition transforms: months/years/bucket/truncate layouts write, prune, and read back exactly") {
    import graft.sources.ManifestTable
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.ns")
    def files(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.executedPlan.collect { case b: BatchScanExec => b.scan }
        .map(graft.sources.v2.GraftScans.innermost)
        .collect { case p: ParquetScan => p.fileIndex.inputFiles.toSeq }.flatten

    // months(ts): six months of rows, a two-month window prunes the listing
    spark.sql("DROP TABLE IF EXISTS gtest.ns.pm")
    val rows = (0 until 600).map { i =>
      (i.toLong, java.time.LocalDateTime.of(2024, 1 + i % 6, 1 + i % 28, i % 24, 0), i * 1.0)
    }.toDF("k", "ts", "v")
    rows.writeTo("gtest.ns.pm")
      .partitionedBy(org.apache.spark.sql.functions.partitioning.months(col("ts"))).create()
    val rootPm = VersionedCatalog.warehouseOf("gtest").get + "/ns/pm"
    assert(ManifestTable.manifest(rootPm, 1).forall(_.startsWith("__part=2024-")))
    val tPm = spark.table("gtest.ns.pm")
    assert(!tPm.columns.contains("__part"), "hidden dir column must not leak")
    val win = tPm.where(col("ts") >= lit("2024-03-01 00:00:00").cast("timestamp_ntz")
      && col("ts") < lit("2024-05-01 00:00:00").cast("timestamp_ntz"))
    assert(files(win).nonEmpty && files(win).size < files(tPm).size)
    assert(files(win).forall(f => f.contains("__part=2024-03") || f.contains("__part=2024-04")))
    assert(win.count() === rows.where(
      col("ts") >= lit("2024-03-01 00:00:00").cast("timestamp_ntz")
        && col("ts") < lit("2024-05-01 00:00:00").cast("timestamp_ntz")).count())

    // bucket(8, k): equality filter touches exactly one bucket directory
    spark.sql("DROP TABLE IF EXISTS gtest.ns.pb")
    (0L until 400L).map(i => (i, s"u$i")).toDF("k", "u")
      .writeTo("gtest.ns.pb")
      .partitionedBy(org.apache.spark.sql.functions.partitioning.bucket(8, col("k"))).create()
    val tPb = spark.table("gtest.ns.pb")
    val onePb = tPb.where(col("k") === 37L)
    assert(files(onePb).size < files(tPb).size && files(onePb).nonEmpty)
    assert(onePb.collect().map(_.getString(1)).toSeq === Seq("u37"))
    // the bucket of 37 computed plan-side must be the one Spark's hash
    // assigned at write: the surviving dir holds the row
    assert(tPb.count() === 400)

    // truncate(10, k) on LONG: ranges of 10 share a directory
    spark.sql("DROP TABLE IF EXISTS gtest.ns.pt")
    spark.sql("CREATE TABLE gtest.ns.pt (k BIGINT, s STRING) PARTITIONED BY (truncate(10, k))")
    spark.sql("INSERT INTO gtest.ns.pt SELECT id, concat('s', id) FROM range(100)")
    val tPt = spark.table("gtest.ns.pt")
    val onePt = tPt.where(col("k") === 55L)
    assert(files(onePt).forall(_.contains("__part=50")))
    assert(files(onePt).size < files(tPt).size || files(tPt).size == 1)
    assert(onePt.count() === 1 && tPt.count() === 100)

    // years(d) on DATE via SQL DDL
    spark.sql("DROP TABLE IF EXISTS gtest.ns.py")
    spark.sql("CREATE TABLE gtest.ns.py (d DATE, v DOUBLE) PARTITIONED BY (years(d))")
    spark.sql("INSERT INTO gtest.ns.py VALUES (DATE'2022-06-01', 1.0), (DATE'2023-06-01', 2.0), (DATE'2024-06-01', 3.0)")
    val tPy = spark.table("gtest.ns.py")
    val oneY = tPy.where(col("d") >= lit("2024-01-01").cast("date"))
    assert(files(oneY).forall(_.contains("__part=2024")))
    assert(oneY.count() === 1)
    Seq("pm", "pb", "pt", "py").foreach(t => spark.sql(s"DROP TABLE gtest.ns.$t"))
  }

  test("identity partition columns: CTAS layout, dir-value round-trip, equality pruning, DML and OPTIMIZE preserve the layout") {
    import graft.sources.ManifestTable
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.ns")
    spark.sql("DROP TABLE IF EXISTS gtest.ns.idp")
    // the reference gold shape: PARTITIONED BY (ano, mes) — two identity cols
    val rows = (0 until 300).map { i =>
      (i.toLong, 2023 + i % 2, 1 + i % 3, i * 1.5)
    }.toDF("k", "ano", "mes", "v")
    rows.writeTo("gtest.ns.idp").partitionedBy(col("ano"), col("mes")).create()
    val root = VersionedCatalog.warehouseOf("gtest").get + "/ns/idp"
    assert(ManifestTable.manifest(root, 1).forall(_.matches("ano=\\d+/mes=\\d+/.*")))

    val t = spark.table("gtest.ns.idp")
    assert(t.columns.toSeq === Seq("k", "ano", "mes", "v"))
    // values survive the directory round-trip
    assert(t.where(col("k") === 7L).select("ano", "mes").collect().map(r =>
      (r.getInt(0), r.getInt(1))).toSeq === Seq((2024, 2)))
    // equality pruning on the identity columns shrinks the listing
    def files(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.executedPlan.collect { case b: BatchScanExec => b.scan }
        .map(graft.sources.v2.GraftScans.innermost)
        .collect { case p: ParquetScan => p.fileIndex.inputFiles.toSeq }.flatten
    val one = t.where(col("ano") === 2024 && col("mes") === 2)
    assert(files(one).nonEmpty && files(one).size < files(t).size)
    assert(files(one).forall(f => f.contains("ano=2024") && f.contains("mes=2")))
    assert(one.count() === rows.where(col("ano") === 2024 && col("mes") === 2).count())

    // a full-rewrite UPDATE must keep the identity layout (a flat rewrite
    // would break partition discovery for every subsequent reader)
    graft.plans.MergeInto.sql(spark, "UPDATE gtest.ns.idp SET v = v + 1 WHERE k < 10")
    val v2rels = ManifestTable.manifest(root, ManifestTable.currentVersion(root).get)
    assert(v2rels.forall(_.matches("ano=\\d+/mes=\\d+/.*")),
      s"DML rewrite flattened the identity layout: ${v2rels.take(3)}")
    assert(spark.table("gtest.ns.idp").where(col("k") === 7L)
      .select("v").collect()(0).getDouble(0) === 7 * 1.5 + 1)

    // OPTIMIZE keeps the layout too
    spark.sql(s"CALL gtest.system.optimize(`table` => 'ns.idp')")
    val v3rels = ManifestTable.manifest(root, ManifestTable.currentVersion(root).get)
    assert(v3rels.forall(_.matches("ano=\\d+/mes=\\d+/.*")))
    assert(spark.table("gtest.ns.idp").count() === 300)

    // identity + avro is refused (values live only in dirs; the avro scan
    // cannot re-derive them) — refusal, not silent data loss
    intercept[Exception] {
      rows.writeTo("gtest.ns.idp_av").using("avro").partitionedBy(col("ano")).create()
    }
    spark.sql("DROP TABLE gtest.ns.idp")
  }

  test("merge-on-read DELETE: tombstones instead of rewrites, self-scoping across appends, materialized by OPTIMIZE") {
    import graft.sources.ManifestTable
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.ns")
    spark.sql("DROP TABLE IF EXISTS gtest.ns.mor")
    (0L until 200L).map(i => (i, s"v$i", i % 7 == 3)).toDF("k", "s", "flag")
      .repartition(4).writeTo("gtest.ns.mor").create()
    val root = VersionedCatalog.warehouseOf("gtest").get + "/ns/mor"
    def dataRels = ManifestTable.liveEntries(root).map(_.rel)
      .filterNot(_.startsWith(s"${ManifestTable.DeleteDir}/"))
    val v1Data = dataRels.toSet
    assert(v1Data.size >= 2)

    spark.conf.set("spark.graft.delete.mode", "merge-on-read")
    try {
      // a ~10-row scattered delete must rewrite ZERO data files
      graft.plans.MergeInto.sql(spark, "DELETE FROM gtest.ns.mor WHERE k % 20 = 5")
      assert(dataRels.toSet === v1Data,
        "merge-on-read DELETE must not rewrite any data file")
      assert(ManifestTable.hasDeletes(root), "expected a positional-delete entry")
      // the tombstone-applying scan hides exactly the deleted rows
      val t = spark.table("gtest.ns.mor")
      assert(t.count() === 190)
      assert(t.where(col("k") === 5L).count() === 0)
      assert(t.where(col("k") === 6L).count() === 1)
      // projection/filters still work through the wrapped readers
      assert(t.where(col("flag")).count() ===
        (0L until 200L).count(i => i % 7 == 3 && i % 20 != 5))
      // time travel to v1 still shows the deleted rows
      assert(spark.sql("SELECT * FROM gtest.ns.mor VERSION AS OF 1").count() === 200)
      // ManifestTable.read (the DML/compaction read path) applies them too
      assert(ManifestTable.read(spark, root).count() === 190)

      // tombstones are SELF-SCOPING: appended rows matching the same
      // predicate are untouched (they live in new files)
      Seq((205L, "v205", false)).toDF("k", "s", "flag")
        .writeTo("gtest.ns.mor").append()
      val afterAppend = dataRels.toSet
      assert(spark.table("gtest.ns.mor").where(col("k") === 205L).count() === 1)
      assert(spark.table("gtest.ns.mor").count() === 191)

      // a second MOR delete stacks; data files still untouched
      graft.plans.MergeInto.sql(spark, "DELETE FROM gtest.ns.mor WHERE k = 6")
      assert(spark.table("gtest.ns.mor").count() === 190)
      assert(dataRels.toSet === afterAppend)

      // merge-on-read UPDATE: tombstones + one small appended rewrite in
      // ONE commit; every pre-existing data file untouched
      spark.conf.set("spark.graft.update.mode", "merge-on-read")
      val vBefore = ManifestTable.currentVersion(root).get
      graft.plans.MergeInto.sql(spark,
        "UPDATE gtest.ns.mor SET s = concat(s, '!') WHERE k % 50 = 7")
      spark.conf.unset("spark.graft.update.mode")
      assert(ManifestTable.currentVersion(root).contains(vBefore + 1),
        "tombstones + rewrites must land as ONE commit")
      assert(afterAppend.subsetOf(dataRels.toSet),
        "MOR UPDATE must not rewrite any pre-existing data file")
      assert(spark.table("gtest.ns.mor").count() === 190, "UPDATE must not change row count")
      assert(spark.table("gtest.ns.mor").where(col("k") === 7L)
        .select("s").collect()(0).getString(0) === "v7!")
      assert(spark.table("gtest.ns.mor").where(col("s").endsWith("!")).count() ===
        (0L until 200L).count(i => i % 50 == 7).toLong)
      // an updated-then-deleted row never resurrects: k=57 was updated
      // above; MOR-delete it, then update the same predicate again — the
      // second update must not bring it back
      graft.plans.MergeInto.sql(spark, "DELETE FROM gtest.ns.mor WHERE k = 57")
      spark.conf.set("spark.graft.update.mode", "merge-on-read")
      graft.plans.MergeInto.sql(spark,
        "UPDATE gtest.ns.mor SET s = concat(s, '?') WHERE k % 50 = 7")
      spark.conf.unset("spark.graft.update.mode")
      assert(spark.table("gtest.ns.mor").where(col("k") === 57L).count() === 0,
        "an UPDATE over tombstoned rows must not resurrect them")
      assert(spark.table("gtest.ns.mor").where(col("k") === 7L)
        .select("s").collect()(0).getString(0) === "v7!?")

      // OPTIMIZE materializes: no delete entries survive, data identical,
      // and the table is back on clean vectorized scans
      spark.sql("CALL gtest.system.optimize(`table` => 'ns.mor')")
      assert(!ManifestTable.hasDeletes(root), "compaction must clear tombstones")
      assert(spark.table("gtest.ns.mor").count() === 189) // 200 - 10 - k6 - k57 + k205
      assert(spark.table("gtest.ns.mor").where(
        col("k") === 5L || col("k") === 6L || col("k") === 57L).count() === 0)
      assert(spark.table("gtest.ns.mor").where(col("k") === 7L)
        .select("s").collect()(0).getString(0) === "v7!?",
        "updates survive materialization")
    } finally {
      spark.conf.unset("spark.graft.delete.mode")
      spark.sql("DROP TABLE gtest.ns.mor")
    }
  }

  test("metadata tables: .files/.snapshots/.partitions reflect the manifest, including tombstones") {
    import graft.sources.{ManifestTable, MetaIO}
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.ns")
    spark.sql("DROP TABLE IF EXISTS gtest.ns.mt")
    (0 until 100).map(i =>
      (i.toLong, java.time.LocalDateTime.of(2024, 4, 1 + i % 3, 8, 0), i * 1.0))
      .toDF("k", "ts", "v")
      .writeTo("gtest.ns.mt")
      .partitionedBy(org.apache.spark.sql.functions.partitioning.days(col("ts"))).create()
    spark.sql("INSERT INTO gtest.ns.mt VALUES (500, TIMESTAMP_NTZ'2024-04-05 09:00:00', 1.5)")
    val root = VersionedCatalog.warehouseOf("gtest").get + "/ns/mt"

    // .files: one row per manifest entry, byte sizes physical
    val files = spark.table("gtest.ns.mt.files")
    val entries = ManifestTable.liveEntries(root)
    assert(files.count() === entries.size)
    assert(files.agg(sum("size_bytes")).collect()(0).getLong(0) ===
      entries.map(e => MetaIO.size(s"$root/data/${e.rel}")).sum)
    assert(files.where(col("stats").isNotNull).count() > 0, "stats ride the .files rows")

    // .snapshots: both retained versions, the live one flagged
    val snaps = spark.table("gtest.ns.mt.snapshots")
      .orderBy("version").collect()
    assert(snaps.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(snaps.map(r => r.getBoolean(r.fieldIndex("is_current"))).toSeq ===
      Seq(false, true))
    // lineage stamps surface: v2 extended v1 (v1 extended nothing), both
    // committed on main
    assert(snaps.map(r => r.getLong(r.fieldIndex("parent"))).toSeq === Seq(0L, 1L))
    assert(snaps.map(r => r.getString(r.fieldIndex("ref_owner"))).toSeq ===
      Seq("main", "main"))

    // .partitions: one row per live day directory
    val parts = spark.table("gtest.ns.mt.partitions")
    assert(parts.select("partition").collect().map(_.getString(0)).toSet ===
      ManifestTable.liveDays(root).map(d => s"__day=$d"))
    assert(parts.agg(sum("n_files")).collect()(0).getLong(0) === entries.size)

    // metadata SQL composes: biggest partition by bytes
    val top = spark.sql(
      "SELECT partition FROM gtest.ns.mt.partitions ORDER BY total_bytes DESC LIMIT 1")
    assert(top.count() === 1)

    // .refs: tags and branches list with their pinned versions
    spark.sql("CALL gtest.system.create_tag(`table` => 'ns.mt', name => 'rel1', version => 1)")
    spark.sql("CALL gtest.system.create_branch(`table` => 'ns.mt', name => 'audit')")
    val refs = spark.table("gtest.ns.mt.refs").orderBy("name").collect()
    assert(refs.map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq ===
      Seq(("audit", "branch", 2L), ("rel1", "tag", 1L)))
    assert(refs.map(_.getBoolean(3)).toSeq === Seq(true, false),
      ".refs flags refs pointing at the live version")

    // .stats: the planner's per-column view — NDV from the commit-time
    // sketch, bounds/nulls folded from the manifest, canonical strings
    val stats = spark.table("gtest.ns.mt.stats").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(stats.keySet === Set("k", "ts", "v"))
    val kRow = stats("k")
    assert(kRow.getLong(kRow.fieldIndex("ndv")) > 90 &&
      kRow.getLong(kRow.fieldIndex("ndv")) < 115, kRow.toString)
    assert(kRow.getString(kRow.fieldIndex("min")) === "0" &&
      kRow.getString(kRow.fieldIndex("max")) === "500")
    assert(kRow.getLong(kRow.fieldIndex("null_count")) === 0L)
    assert(kRow.getLong(kRow.fieldIndex("n_rows")) === 101L)
    // NDV provenance: the sidecar's version surfaces, and with every
    // data commit sketched the estimate is not stale
    assert(!kRow.isNullAt(kRow.fieldIndex("stats_version")))
    assert(!kRow.getBoolean(kRow.fieldIndex("stale")), kRow.toString)

    // a MOR delete surfaces as a delete-file row in .files
    spark.conf.set("spark.graft.delete.mode", "merge-on-read")
    try graft.plans.MergeInto.sql(spark, "DELETE FROM gtest.ns.mt WHERE k = 7")
    finally spark.conf.unset("spark.graft.delete.mode")
    assert(spark.table("gtest.ns.mt.files").where(col("is_delete_file")).count() === 1)
    // .partitions stays data-only
    assert(spark.table("gtest.ns.mt.partitions")
      .agg(sum("n_files")).collect()(0).getLong(0) === entries.size)
    spark.sql("DROP TABLE gtest.ns.mt")
  }

  test("table properties persist, alter, and drive per-table retention") {
    import graft.sources.ManifestTable
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.ns")
    spark.sql("DROP TABLE IF EXISTS gtest.ns.props")
    spark.sql("""CREATE TABLE gtest.ns.props (k BIGINT)
                 TBLPROPERTIES ('team'='data-eng', 'retain'='5')""")
    def props(): Map[String, String] =
      spark.sql("SHOW TBLPROPERTIES gtest.ns.props").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props().get("team").contains("data-eng"))
    assert(props().get("retain").contains("5"))

    // retain=5 keeps five snapshots where the session default keeps two
    (1 to 6).foreach(i => Seq(i.toLong).toDF("k").writeTo("gtest.ns.props").append())
    val root = VersionedCatalog.warehouseOf("gtest").get + "/ns/props"
    assert(ManifestTable.versions(root) === Seq(2L, 3L, 4L, 5L, 6L))

    // DML writes resolve the same per-table retention
    graft.plans.MergeInto.sql(spark, "DELETE FROM gtest.ns.props WHERE k = 1")
    assert(ManifestTable.versions(root) === Seq(3L, 4L, 5L, 6L, 7L),
      "a DELETE commit must honor the table's retain property")

    spark.sql("ALTER TABLE gtest.ns.props SET TBLPROPERTIES ('team'='ml', 'tier'='gold')")
    assert(props().get("team").contains("ml") && props().get("tier").contains("gold"))
    spark.sql("ALTER TABLE gtest.ns.props UNSET TBLPROPERTIES ('tier')")
    assert(!props().contains("tier"))
    // engine-managed keys refuse
    intercept[Exception](
      spark.sql("ALTER TABLE gtest.ns.props SET TBLPROPERTIES ('format'='orc')"))
    spark.sql("DROP TABLE gtest.ns.props")
  }

  test("second engine: duckdb resolves pointer -> manifest -> parquet and applies tombstones, no Spark involved") {
    import graft.sources.ManifestTable
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.ns")
    spark.sql("DROP TABLE IF EXISTS gtest.ns.ext")
    (0L until 100L).map(i => (i, s"s$i")).toDF("k", "s")
      .repartition(3).writeTo("gtest.ns.ext").create()
    spark.conf.set("spark.graft.delete.mode", "merge-on-read")
    try graft.plans.MergeInto.sql(spark, "DELETE FROM gtest.ns.ext WHERE k % 10 = 4")
    finally spark.conf.unset("spark.graft.delete.mode")
    val root = VersionedCatalog.warehouseOf("gtest").get + "/ns/ext"
    assert(ManifestTable.hasDeletes(root))

    // the OTHER engine reads the same root through the documented
    // protocol — the reference's HMS+Trino interoperability property
    import scala.sys.process._
    val script = new java.io.File("scripts/duckdb_versioned.py").getAbsolutePath
    val out = Seq("python3", script, root,
      "SELECT COUNT(*) AS n, SUM(k) AS s FROM t").!!
    val nums = out.linesIterator.toSeq.last.trim.split("\\s+")
    val (extN, extS) = (nums(0).toLong, nums(1).toDouble.toLong)
    val sparkRows = spark.table("gtest.ns.ext")
      .agg(count(lit(1)), sum("k")).collect()(0)
    assert(extN === sparkRows.getLong(0), s"duckdb row count diverged: $out")
    assert(extS === sparkRows.getLong(1), s"duckdb sum diverged: $out")
    spark.sql("DROP TABLE gtest.ns.ext")
  }

  test("merge-on-read over multi-row-group files: pushed filters never desynchronize tombstone positions") {
    import graft.sources.ManifestTable
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.ns")
    spark.sql("DROP TABLE IF EXISTS gtest.ns.morrg")
    val hc = spark.sparkContext.hadoopConfiguration
    val prevBlock = hc.get("parquet.block.size")
    hc.set("parquet.block.size", (64 * 1024).toString) // force many row groups
    try {
      (0L until 200000L).map(i => (i, s"pad-$i-${"x" * 20}")).toDF("k", "s")
        .coalesce(1).writeTo("gtest.ns.morrg").create()
    } finally {
      if (prevBlock == null) hc.unset("parquet.block.size")
      else hc.set("parquet.block.size", prevBlock)
    }
    val root = VersionedCatalog.warehouseOf("gtest").get + "/ns/morrg"
    val rel = ManifestTable.manifest(root, 1).head
    // the scenario only bites with several row groups in one file
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$root/data/$rel"), hc))
    val nGroups = try reader.getFooter.getBlocks.size finally reader.close()
    assert(nGroups > 3, s"fixture must span row groups, got $nGroups")

    spark.conf.set("spark.graft.delete.mode", "merge-on-read")
    try graft.plans.MergeInto.sql(spark, "DELETE FROM gtest.ns.morrg WHERE k % 1000 = 7")
    finally spark.conf.unset("spark.graft.delete.mode")
    assert(ManifestTable.hasDeletes(root))

    val t = spark.table("gtest.ns.morrg")
    assert(t.count() === 200000L - 200L)
    // a SELECTIVE filter over the tombstoned file: with filter pushdown
    // the reader would skip early row groups and the position counter
    // would tombstone the wrong rows (the r7 review finding) — verify
    // both directions exactly in a late range
    val hi = t.where(col("k") >= 190000L)
    assert(hi.count() === 10000L - 10L)
    assert(hi.where(col("k") === 190007L).count() === 0, "deleted row visible")
    assert(hi.where(col("k") === 190008L).count() === 1, "live row lost")
    assert(t.where(col("k") === 7L).count() === 0)
    assert(t.where(col("k") === 8L).count() === 1)
    spark.sql("DROP TABLE gtest.ns.morrg")
  }

  test("a tombstoned parquet file KEEPS its splits: positions apply per split, parallelism survives") {
    import graft.sources.ManifestTable
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.ns")
    spark.sql("DROP TABLE IF EXISTS gtest.ns.morsp")
    val hc = spark.sparkContext.hadoopConfiguration
    val prevBlock = hc.get("parquet.block.size")
    hc.set("parquet.block.size", (64 * 1024).toString) // many row groups
    try {
      (0L until 200000L).map(i => (i, s"pad-$i-${"x" * 20}")).toDF("k", "s")
        .coalesce(1).writeTo("gtest.ns.morsp").create()
    } finally {
      if (prevBlock == null) hc.unset("parquet.block.size")
      else hc.set("parquet.block.size", prevBlock)
    }
    val root = VersionedCatalog.warehouseOf("gtest").get + "/ns/morsp"
    spark.conf.set("spark.graft.delete.mode", "merge-on-read")
    try graft.plans.MergeInto.sql(spark, "DELETE FROM gtest.ns.morsp WHERE k % 1000 = 7")
    finally spark.conf.unset("spark.graft.delete.mode")
    assert(ManifestTable.hasDeletes(root))

    // force the single ~multi-MB file into many splits: a whole-file
    // fallback would collapse them to ONE partition and a 1 GB file with
    // a single tombstone would lose its 8-way parallelism at scale
    spark.conf.set("spark.sql.files.maxPartitionBytes", (256 * 1024).toString)
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    try {
      val t = spark.table("gtest.ns.morsp")
      val scan = t.queryExecution.executedPlan
        .collect { case b: BatchScanExec => b }.head.scan
      assert(scan.description().contains("tombstoned"))
      val parts = scan.toBatch.planInputPartitions()
      assert(parts.length > 3,
        s"tombstoned file must keep its splits, got ${parts.length} partition(s)")
      // exact correctness across split boundaries, early and late ranges —
      // and the position list loads ONCE per executor across all splits
      // (DML commits deletion vectors directly: the load is a dv slice)
      val posBefore = graft.sources.v2.MorDeletes.positionLoads.get()
      val dvBefore = graft.sources.v2.MorDeletes.dvSliceLoads.get()
      assert(t.count() === 200000L - 200L)
      assert(graft.sources.v2.MorDeletes.positionLoads.get() - posBefore === 0L,
        "a direct-DV DELETE leaves no parquet tombstones to scan")
      assert(graft.sources.v2.MorDeletes.dvSliceLoads.get() - dvBefore === 1L,
        "all splits of one tombstoned file must share a single cached slice load")
      assert(t.where(col("k") === 7L).count() === 0)
      assert(t.where(col("k") === 8L).count() === 1)
      val hi = t.where(col("k") >= 190000L)
      assert(hi.count() === 10000L - 10L)
      assert(hi.where(col("k") === 190007L).count() === 0, "deleted row visible")
      assert(hi.where(col("k") === 190008L).count() === 1, "live row lost")
      val all = t.select("k").collect().map(_.getLong(0))
      assert(all.length === 199800)
      assert(all.toSet === (0L until 200000L).filterNot(_ % 1000 == 7).toSet)
    } finally {
      spark.conf.unset("spark.sql.files.maxPartitionBytes")
      spark.conf.unset("spark.sql.files.openCostInBytes")
    }
    spark.sql("DROP TABLE gtest.ns.morsp")
  }

  test("tbl.snapshots carries each commit's OPERATION label") {
    import graft.sources.ManifestTable
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.ns")
    spark.sql("DROP TABLE IF EXISTS gtest.ns.ops")
    spark.sql("CREATE TABLE gtest.ns.ops (k BIGINT, v DOUBLE) TBLPROPERTIES('retain'='10')")
    spark.sql(
      "INSERT OVERWRITE gtest.ns.ops VALUES (1, 1.0), (2, 2.0), (3, 3.0)") // v1 overwrite
    Seq((4L, 4.0)).toDF("k", "v").writeTo("gtest.ns.ops").append()       // v2 append
    val prev = spark.conf.getOption("spark.graft.delete.mode")
    val prevU = spark.conf.getOption("spark.graft.update.mode")
    spark.conf.set("spark.graft.delete.mode", "merge-on-read")
    spark.conf.set("spark.graft.update.mode", "merge-on-read")
    try {
      graft.plans.MergeInto.sql(spark, "DELETE FROM gtest.ns.ops WHERE k = 2") // v3 delete
      graft.plans.MergeInto.sql(spark,
        "UPDATE gtest.ns.ops SET v = v + 1 WHERE k = 3")                 // v4 update
    } finally {
      prev match { case Some(m) => spark.conf.set("spark.graft.delete.mode", m)
                   case None => spark.conf.unset("spark.graft.delete.mode") }
      prevU match { case Some(m) => spark.conf.set("spark.graft.update.mode", m)
                    case None => spark.conf.unset("spark.graft.update.mode") }
    }
    spark.sql("CALL gtest.system.rewrite_deletes(`table` => 'ns.ops')")  // v5 rewrite
    spark.sql("CALL gtest.system.optimize(`table` => 'ns.ops')")         // v6 rewrite

    val ops = spark.table("gtest.ns.ops.snapshots")
      .select($"version", $"operation").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(ops === Map(1L -> "overwrite", 2L -> "append", 3L -> "delete",
      4L -> "update", 5L -> "rewrite", 6L -> "rewrite"), s"got $ops")
    spark.sql("DROP TABLE gtest.ns.ops")
  }

  test("day-scoped OPTIMIZE compacts only the selected days; other days' files carry untouched") {
    import graft.sources.ManifestTable
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.ns")
    spark.sql("DROP TABLE IF EXISTS gtest.ns.dopt")
    spark.sql("CREATE TABLE gtest.ns.dopt (k BIGINT, ts TIMESTAMP_NTZ) PARTITIONED BY (days(ts))")
    val prevDist = spark.conf.getOption("spark.graft.write.distribution")
    spark.conf.set("spark.graft.write.distribution", "none") // deliberate fragmentation
    try {
      // 4 appends × 4 days, several tasks each: every day fragments
      for (_ <- 1 to 4)
        (0 until 80).map(i => (i.toLong,
          java.time.LocalDateTime.of(2024, 7, 1 + i % 4, i % 24, 0)))
          .toDF("k", "ts").repartition(4).writeTo("gtest.ns.dopt").append()
    } finally prevDist match {
      case Some(v) => spark.conf.set("spark.graft.write.distribution", v)
      case None => spark.conf.unset("spark.graft.write.distribution")
    }
    val root = VersionedCatalog.warehouseOf("gtest").get + "/ns/dopt"
    def relsOf(day: String): Set[String] = ManifestTable.liveEntries(root)
      .map(_.rel).filter(_.startsWith(s"__day=$day/")).toSet
    val beforeIn = Seq("2024-07-01", "2024-07-02").map(d => d -> relsOf(d)).toMap
    val beforeOut = Seq("2024-07-03", "2024-07-04").map(d => d -> relsOf(d)).toMap
    assert(beforeIn.values.forall(_.size > 1), "days must start fragmented")
    val expect = spark.table("gtest.ns.dopt").as[(Long, java.time.LocalDateTime)]
      .collect().toSeq.sorted

    spark.sql("CALL gtest.system.optimize(`table` => 'ns.dopt', " +
      "where_days => '2024-07-01,2024-07-02')")

    // selected days coalesced, others byte-for-byte the SAME entries
    Seq("2024-07-01", "2024-07-02").foreach(d =>
      assert(relsOf(d).size < beforeIn(d).size,
        s"$d must coalesce: ${relsOf(d).size} vs ${beforeIn(d).size}"))
    Seq("2024-07-03", "2024-07-04").foreach(d =>
      assert(relsOf(d) === beforeOut(d), s"$d must carry untouched"))
    assert(spark.table("gtest.ns.dopt").as[(Long, java.time.LocalDateTime)]
      .collect().toSeq.sorted === expect)
    spark.sql("DROP TABLE gtest.ns.dopt")
  }

  test("age-based snapshot expiry composes with retain-last and honors ref pins") {
    import graft.sources.ManifestTable
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.ns")
    spark.sql("DROP TABLE IF EXISTS gtest.ns.age")
    spark.sql("CREATE TABLE gtest.ns.age (k BIGINT) TBLPROPERTIES('retain'='10')")
    (1 to 4).foreach(i => Seq(i.toLong).toDF("k").writeTo("gtest.ns.age").append())
    val root = VersionedCatalog.warehouseOf("gtest").get + "/ns/age"
    assert(ManifestTable.versions(root) === Seq(1L, 2L, 3L, 4L))
    spark.sql("CALL gtest.system.create_tag(`table` => 'ns.age', name => 'pin', version => 2)")

    def ts(offsetMinutes: Long): String =
      java.time.LocalDateTime.now().plusMinutes(offsetMinutes)
        .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
    // a PAST cutoff: nothing is old enough — every snapshot survives even
    // beyond the retain-count window (the age rule only RESTRICTS expiry)
    spark.sql(s"CALL gtest.system.expire_snapshots(`table` => 'ns.age', " +
      s"retain => 1, older_than => '${ts(-60)}')")
    assert(ManifestTable.versions(root) === Seq(1L, 2L, 3L, 4L))
    // a FUTURE cutoff: age satisfied everywhere, so retain-last rules —
    // keep the last 2 plus the tag-pinned v2; v1 expires
    spark.sql(s"CALL gtest.system.expire_snapshots(`table` => 'ns.age', " +
      s"retain => 2, older_than => '${ts(60)}')")
    assert(ManifestTable.versions(root) === Seq(2L, 3L, 4L))
    // the pinned snapshot still reads
    assert(spark.sql("SELECT * FROM gtest.ns.age VERSION AS OF 'pin'")
      .as[Long].collect().toSet === Set(1L, 2L))
    spark.sql("DROP TABLE gtest.ns.age")
  }

  test("a tombstoned ORC file KEEPS its splits: stripe-directory base rows apply per split") {
    import graft.sources.ManifestTable
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.ns")
    spark.sql("DROP TABLE IF EXISTS gtest.ns.morso")
    spark.sql("CREATE TABLE gtest.ns.morso (k BIGINT, s STRING) TBLPROPERTIES('format'='orc')")
    val hc = spark.sparkContext.hadoopConfiguration
    val prevStripe = hc.get("orc.stripe.size")
    hc.set("orc.stripe.size", (64 * 1024).toString) // many small stripes
    try {
      (0L until 200000L).map(i => (i, s"pad-$i-${"x" * 20}")).toDF("k", "s")
        .coalesce(1).writeTo("gtest.ns.morso").append()
    } finally {
      if (prevStripe == null) hc.unset("orc.stripe.size")
      else hc.set("orc.stripe.size", prevStripe)
    }
    val root = VersionedCatalog.warehouseOf("gtest").get + "/ns/morso"
    val dataRels = ManifestTable.liveEntries(root).map(_.rel)
      .filterNot(ManifestTable.isDeleteEntry)
    assert(dataRels.size === 1)
    // ORC has no row-index metadata column in Spark, so engine DML stays
    // parquet-gated — but positional tombstones against ORC files are a
    // first-class protocol citizen (the external-CDC-writer shape): the
    // single-partition write preserved row order, so file position == k
    val rel = ManifestTable.encodedRel(root, dataRels.head)
    val tomb = (0L until 200000L).filter(_ % 1000 == 7)
      .map(p => (rel, p)).toDF("__file", "__pos")
    ManifestTable.appendDeletesParquet(tomb, root)
    assert(ManifestTable.hasDeletes(root))

    // the tombstoned ~multi-MB ORC file must NOT collapse to one
    // whole-file partition: each split recovers its base row from the
    // stripe directory (ORC includes stripes whose start offset falls in
    // the split's byte range) and offsets positions by it
    spark.conf.set("spark.sql.files.maxPartitionBytes", (256 * 1024).toString)
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    try {
      val t = spark.table("gtest.ns.morso")
      assert(t.rdd.getNumPartitions > 1,
        s"tombstoned ORC file must keep >1 split, got ${t.rdd.getNumPartitions}")
      val all = t.select("k").collect().map(_.getLong(0))
      assert(all.length === 199800)
      assert(all.toSet === (0L until 200000L).filterNot(_ % 1000 == 7).toSet)
    } finally {
      spark.conf.unset("spark.sql.files.maxPartitionBytes")
      spark.conf.unset("spark.sql.files.openCostInBytes")
    }
    spark.sql("DROP TABLE gtest.ns.morso")
  }

  test("a concurrent compaction surfaces to merge-on-read commits instead of silently dropping them") {
    import graft.sources.ManifestTable
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.ns")
    spark.sql("DROP TABLE IF EXISTS gtest.ns.morcc")
    (0L until 100L).map(i => (i, s"v$i")).toDF("k", "s")
      .repartition(2).writeTo("gtest.ns.morcc").create()
    val root = VersionedCatalog.warehouseOf("gtest").get + "/ns/morcc"
    // tombstones computed against snapshot v1's files …
    val staleRel = ManifestTable.manifest(root, 1).head
    val tomb = Seq((staleRel, 0L)).toDF("__file", "__pos")
    // … but a compaction rewrites every file before the delete commits:
    // publishing would be a silent no-op DELETE, so it must refuse
    spark.sql("CALL gtest.system.optimize(`table` => 'ns.morcc')")
    intercept[java.util.ConcurrentModificationException] {
      ManifestTable.appendDeletes(tomb, root)
    }
    assert(!ManifestTable.hasDeletes(root))
    assert(spark.table("gtest.ns.morcc").count() === 100)
    spark.sql("DROP TABLE gtest.ns.morcc")
  }

  test("wrapper scans keep reporting size statistics (renamed and tombstoned tables still broadcast)") {
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.ns")
    spark.sql("DROP TABLE IF EXISTS gtest.ns.stats")
    (0L until 100L).map(i => (i, s"v$i")).toDF("k", "s")
      .writeTo("gtest.ns.stats").create()
    spark.sql("ALTER TABLE gtest.ns.stats RENAME COLUMN s TO label") // RenamedScan
    spark.conf.set("spark.graft.delete.mode", "merge-on-read")
    try graft.plans.MergeInto.sql(spark, "DELETE FROM gtest.ns.stats WHERE k = 3")
    finally spark.conf.unset("spark.graft.delete.mode")            // + MorScan

    val scan = spark.table("gtest.ns.stats").queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.scan
    }.head
    scan match {
      case s: org.apache.spark.sql.connector.read.SupportsReportStatistics =>
        val est = s.estimateStatistics()
        assert(est.sizeInBytes().isPresent && est.sizeInBytes().getAsLong > 0,
          "size estimate must pass through the wrappers")
      case other => fail(s"wrapped scan lost SupportsReportStatistics: $other")
    }
    assert(spark.table("gtest.ns.stats").count() === 99)
    spark.sql("DROP TABLE gtest.ns.stats")
  }

  test("CTAS + append cost: appending references old files, never rewrites them") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.ns")
    spark.sql("DROP TABLE IF EXISTS gtest.ns.cc")
    spark.sql("CREATE TABLE gtest.ns.cc AS SELECT id AS k FROM range(100)")
    val root = VersionedCatalog.warehouseOf("gtest").get + "/ns/cc"
    val v1Files = graft.sources.ManifestTable.manifest(root, 1).toSet
    spark.sql("INSERT INTO gtest.ns.cc SELECT id FROM range(100, 110)")
    val v2Files = graft.sources.ManifestTable.manifest(root, 2).toSet
    assert(v1Files.subsetOf(v2Files), "append must carry v1's files untouched")
    assert(v2Files.size > v1Files.size)
    assert(spark.table("gtest.ns.cc").count() === 110)
  }

  test("merge-on-read scans stay VECTORIZED: tombstones mask columnar batches, positions load task-side") {
    import org.apache.spark.sql.execution.ColumnarToRowExec
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.ns")
    spark.sql("DROP TABLE IF EXISTS gtest.ns.morv")
    (0L until 50000L).map(i => (i, i * 2.0)).toDF("k", "v")
      .repartition(4).writeTo("gtest.ns.morv").create()
    spark.conf.set("spark.graft.delete.mode", "merge-on-read")
    try graft.plans.MergeInto.sql(spark, "DELETE FROM gtest.ns.morv WHERE k % 7 = 3")
    finally spark.conf.unset("spark.graft.delete.mode")
    val root = VersionedCatalog.warehouseOf("gtest").get + "/ns/morv"
    assert(graft.sources.ManifestTable.hasDeletes(root))

    val df = spark.table("gtest.ns.morv")
    // the scan advertises task-side delete loading (the driver ships file
    // NAMES only — positions can no longer materialize driver-side by
    // construction) and the plan keeps the vectorized read
    val scans = df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
    assert(scans.nonEmpty)
    assert(scans.head.scan.description().contains("task-side deletes"))
    assert(scans.head.supportsColumnar, "a tombstoned scan must stay vectorized")
    assert(df.queryExecution.executedPlan.collect {
      case c: ColumnarToRowExec => c }.nonEmpty,
      "plan must convert from columnar batches, not fall back to row readers")
    // exactness across batch boundaries: several batches per file, masked
    // and pass-through batches interleaved
    val agg = df.agg(count(lit(1)), sum("k")).collect()(0)
    val expected = (0L until 50000L).filter(_ % 7 != 3)
    assert(agg.getLong(0) === expected.size.toLong)
    assert(agg.getLong(1) === expected.sum)
    spark.sql("DROP TABLE gtest.ns.morv")
  }

  test("ALTER COLUMN TYPE widening is metadata-only; narrow files read through the wide schema") {
    import graft.sources.ManifestTable
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.ns")
    spark.sql("DROP TABLE IF EXISTS gtest.ns.w")
    spark.sql("CREATE TABLE gtest.ns.w (k INT, v FLOAT)")
    spark.sql("INSERT INTO gtest.ns.w VALUES (1, CAST(1.5 AS FLOAT)), (2, CAST(2.5 AS FLOAT))")
    val root = VersionedCatalog.warehouseOf("gtest").get + "/ns/w"
    val filesBefore = ManifestTable.manifest(root, ManifestTable.currentVersion(root).get)

    spark.sql("ALTER TABLE gtest.ns.w ALTER COLUMN k TYPE BIGINT")
    spark.sql("ALTER TABLE gtest.ns.w ALTER COLUMN v TYPE DOUBLE")
    // metadata-only: no commit happened, no file moved
    assert(ManifestTable.manifest(root,
      ManifestTable.currentVersion(root).get) === filesBefore)
    assert(spark.table("gtest.ns.w").schema.map(_.dataType.simpleString)
      === Seq("bigint", "double"))

    // values beyond the narrow ranges land in NEW files; both generations
    // read through the wide schema, vectorized promotion included
    spark.sql("INSERT INTO gtest.ns.w VALUES (3000000000, 3.5)")
    val got = spark.table("gtest.ns.w").orderBy("k")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got === Seq((1L, 1.5), (2L, 2.5), (3000000000L, 3.5)))
    // per-file stats keep pruning across generations (width-agnostic tags)
    assert(spark.table("gtest.ns.w").where(col("k") >= 3000000000L).count() === 1)

    // narrowing and cross-family changes refuse (rewrite path territory)
    intercept[Exception] { spark.sql("ALTER TABLE gtest.ns.w ALTER COLUMN k TYPE INT") }
    intercept[Exception] { spark.sql("ALTER TABLE gtest.ns.w ALTER COLUMN v TYPE STRING") }
    spark.sql("DROP TABLE gtest.ns.w")
  }

  test("tier-2 widening: decimal precision growth and int/long -> decimal, vectorized across generations") {
    import graft.sources.ManifestTable
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.ns")
    for (fmt <- Seq("parquet", "orc")) {
      val t = s"gtest.ns.wd_$fmt"
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"CREATE TABLE $t (k INT, amt DECIMAL(7,2), big BIGINT) " +
        s"TBLPROPERTIES('format'='$fmt')")
      spark.sql(s"INSERT INTO $t VALUES " +
        "(1, CAST(12345.67 AS DECIMAL(7,2)), 10), " +
        "(2, CAST(99999.99 AS DECIMAL(7,2)), 20)")
      val root = VersionedCatalog.warehouseOf("gtest").get + s"/ns/wd_$fmt"
      val filesBefore = ManifestTable.manifest(root, ManifestTable.currentVersion(root).get)

      // decimal(7,2) -> decimal(18,2): same scale, wider precision;
      // int -> decimal(10,0); long -> decimal(20,0) — all metadata-only
      spark.sql(s"ALTER TABLE $t ALTER COLUMN amt TYPE DECIMAL(18,2)")
      spark.sql(s"ALTER TABLE $t ALTER COLUMN k TYPE DECIMAL(10,0)")
      spark.sql(s"ALTER TABLE $t ALTER COLUMN big TYPE DECIMAL(20,0)")
      assert(ManifestTable.manifest(root,
        ManifestTable.currentVersion(root).get) === filesBefore,
        s"$fmt: widening must not rewrite data")
      assert(spark.table(t).schema.map(_.dataType.simpleString)
        === Seq("decimal(10,0)", "decimal(18,2)", "decimal(20,0)"))

      // values only the WIDE types can hold land in a second generation
      spark.sql(s"INSERT INTO $t VALUES " +
        "(CAST(3000000000 AS DECIMAL(10,0)), CAST(1234567890123456.78 AS DECIMAL(18,2)), " +
        "CAST(99999999999999999999 AS DECIMAL(20,0)))")
      val got = spark.table(t).orderBy("k").collect().map(r =>
        (r.getDecimal(0).toBigInteger.longValueExact,
          r.getDecimal(1).toPlainString, r.getDecimal(2).toPlainString)).toSeq
      assert(got === Seq(
        (1L, "12345.67", "10"),
        (2L, "99999.99", "20"),
        (3000000000L, "1234567890123456.78", "99999999999999999999")),
        s"$fmt: both generations must read through the widened schema, got $got")
      // aggregates cross the generation boundary exactly
      assert(spark.table(t).agg(sum(col("amt"))).collect()(0)
        .getDecimal(0).toPlainString === "1234567890235802.44")
      // stats-tag class change is conservative, never wrong: the narrow
      // generation's 'l' stamps give no verdict against a decimal
      // predicate, so the filter still answers exactly
      assert(spark.table(t).where(col("k") >= lit(BigDecimal(3000000000L)))
        .count() === 1)
      // widening refusals: precision shrink, scale change, too-narrow
      // integral homes
      intercept[Exception] {
        spark.sql(s"ALTER TABLE $t ALTER COLUMN amt TYPE DECIMAL(12,2)") }
      intercept[Exception] {
        spark.sql(s"ALTER TABLE $t ALTER COLUMN amt TYPE DECIMAL(20,4)") }
      spark.sql(s"DROP TABLE $t")
    }
    // a fresh int column cannot move to decimal(9,0) (domain would not fit)
    spark.sql("DROP TABLE IF EXISTS gtest.ns.wdn")
    spark.sql("CREATE TABLE gtest.ns.wdn (k INT)")
    intercept[Exception] {
      spark.sql("ALTER TABLE gtest.ns.wdn ALTER COLUMN k TYPE DECIMAL(9,0)") }
    intercept[Exception] {
      spark.sql("ALTER TABLE gtest.ns.wdn ALTER COLUMN k TYPE DECIMAL(12,2)") }
    spark.sql("DROP TABLE gtest.ns.wdn")
  }

  test("partition spec evolution: mixed layouts scan exactly, prune conservatively, DML falls back, OPTIMIZE re-homes") {
    import graft.sources.ManifestTable
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.ns")
    spark.sql("DROP TABLE IF EXISTS gtest.ns.pe")
    spark.sql("CREATE TABLE gtest.ns.pe (id BIGINT, ts TIMESTAMP_NTZ, v DOUBLE) " +
      "PARTITIONED BY (days(ts))")
    import spark.implicits._
    def rows(off: Int) = (0 until 100).map { i =>
      (off + i.toLong, java.time.LocalDateTime.of(2024, 4, 1 + i % 10, i % 24, 0), i * 1.0)
    }
    rows(0).toDF("id", "ts", "v").createOrReplaceTempView("pe_src1")
    spark.sql("INSERT INTO gtest.ns.pe SELECT * FROM pe_src1")
    val root = VersionedCatalog.warehouseOf("gtest").get + "/ns/pe"

    spark.sql("CALL gtest.system.evolve_partition(`table` => 'ns.pe', spec => 'months(ts)')")
    rows(1000).toDF("id", "ts", "v").createOrReplaceTempView("pe_src2")
    spark.sql("INSERT INTO gtest.ns.pe SELECT * FROM pe_src2")

    // mixed layouts on disk, exact reads across both
    val rels = ManifestTable.manifest(root, ManifestTable.currentVersion(root).get)
    assert(rels.exists(_.startsWith("__day=")) && rels.exists(_.startsWith("__part=")),
      s"expected mixed layouts, got $rels")
    assert(spark.table("gtest.ns.pe").count() === 200)

    // pruning holds for BOTH generations: a 2-day window keeps only those
    // days' files plus the month dir (the new layout's floor)
    val windowed = spark.sql(
      "SELECT id FROM gtest.ns.pe " +
        "WHERE ts >= TIMESTAMP_NTZ '2024-04-03 00:00:00' " +
        "AND ts < TIMESTAMP_NTZ '2024-04-05 00:00:00'")
    val scanned = scanOf(windowed).fileIndex.inputFiles
    assert(scanned.forall(f =>
      (f.contains("__day=") && {
        val d = f.split("__day=")(1).take(10); d >= "2024-04-03" && d <= "2024-04-05"
      }) || (f.contains("__part=") && f.split("__part=")(1).take(7) == "2024-04")))
    assert(scanned.length < scanOf(spark.sql("SELECT id FROM gtest.ns.pe"))
      .fileIndex.inputFiles.length)
    val expected = (0 until 100).filter(i => i % 10 == 2 || i % 10 == 3)
      .flatMap(i => Seq(i.toLong, 1000L + i)).sorted
    assert(windowed.collect().map(_.getLong(0)).sorted.toSeq === expected)

    // day-scoped DML declines on mixed layouts and the full path lands
    // (April 1 holds i%10==0 from both generations: 20 rows)
    graft.plans.MergeInto.sql(spark,
      "DELETE FROM gtest.ns.pe WHERE ts < TIMESTAMP_NTZ '2024-04-02 00:00:00'")
    assert(spark.table("gtest.ns.pe").count() === 180)

    // OPTIMIZE re-homes everything under the CURRENT spec
    spark.sql("CALL gtest.system.optimize(`table` => 'ns.pe')")
    val after = ManifestTable.manifest(root, ManifestTable.currentVersion(root).get)
    assert(after.forall(_.startsWith("__part=")), s"optimize must re-home: $after")
    assert(spark.table("gtest.ns.pe").count() === 180)
    spark.sql("DROP TABLE gtest.ns.pe")
  }

  test("named refs: VERSION AS OF tag/branch by name, GC pinning, fast-forward") {
    import graft.sources.ManifestTable
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.ns")
    spark.sql("DROP TABLE IF EXISTS gtest.ns.rf")
    spark.sql("CREATE TABLE gtest.ns.rf (k BIGINT)")
    spark.sql("INSERT INTO gtest.ns.rf VALUES (1)")                          // v1
    spark.sql("CALL gtest.system.create_tag(`table` => 'ns.rf', name => 'first')")
    spark.sql("INSERT INTO gtest.ns.rf VALUES (2)")                          // v2
    spark.sql("INSERT INTO gtest.ns.rf VALUES (3)")                          // v3
    spark.sql("INSERT INTO gtest.ns.rf VALUES (4)")                          // v4
    val root = VersionedCatalog.warehouseOf("gtest").get + "/ns/rf"

    // retention (retain=2) swept v2 but the tag PINNED v1
    assert(ManifestTable.versions(root).contains(1L), "tagged snapshot must survive GC")
    assert(!ManifestTable.versions(root).contains(2L), "untagged v2 ages out normally")
    // ref name resolves through Spark's own VERSION AS OF; digits stay ids
    assert(spark.sql("SELECT * FROM gtest.ns.rf VERSION AS OF 'first'").count() === 1)
    assert(spark.sql("SELECT * FROM gtest.ns.rf VERSION AS OF 4").count() === 4)

    // branch at an older retained head reads by name; fast_forward flips main
    spark.sql("CALL gtest.system.create_branch(`table` => 'ns.rf', name => 'audit', version => 3)")
    assert(spark.sql("SELECT * FROM gtest.ns.rf VERSION AS OF 'audit'").count() === 3)
    spark.sql("CALL gtest.system.fast_forward(`table` => 'ns.rf', branch => 'audit')")
    assert(spark.table("gtest.ns.rf").count() === 3)
    // post-rollback commits allocate ABOVE the retained v4, never colliding
    spark.sql("INSERT INTO gtest.ns.rf VALUES (5)")                          // v5
    assert(ManifestTable.currentVersion(root).get === 5L)
    assert(spark.table("gtest.ns.rf").count() === 4)

    // missing refs error with a listing; illegal/duplicate names refuse
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM gtest.ns.rf VERSION AS OF 'nope'").collect()
    }
    assert(e.getMessage.contains("no tag or branch"))
    intercept[Exception] { ManifestTable.createTag(root, "5") }       // all digits
    intercept[Exception] { ManifestTable.createTag(root, "first") }   // tag exists
    intercept[Exception] { ManifestTable.createBranch(root, "first") } // kind clash
    spark.sql("CALL gtest.system.drop_ref(`table` => 'ns.rf', name => 'first')")
    intercept[Exception] {
      spark.sql("SELECT * FROM gtest.ns.rf VERSION AS OF 'first'").collect()
    }
    spark.sql("DROP TABLE gtest.ns.rf")
  }

  test("CHECK constraints: ADD validates existing rows; writes and DML enforce inline") {
    import spark.implicits._
    def messages(e: Throwable): Seq[String] =
      Option(e).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.ns")
    spark.sql("DROP TABLE IF EXISTS gtest.ns.ck")
    spark.sql("CREATE TABLE gtest.ns.ck (k BIGINT, v BIGINT)")
    Seq((1L, 10L), (2L, 20L)).toDF("k", "v").writeTo("gtest.ns.ck").append()

    // ADD validates existing rows and the predicate itself
    val badAdd = intercept[Exception] { spark.sql(
      "ALTER TABLE gtest.ns.ck SET TBLPROPERTIES('check.vmax'='v < 15')") }
    assert(messages(badAdd).exists(_.contains("existing rows violate")))
    val badCol = intercept[Exception] { spark.sql(
      "ALTER TABLE gtest.ns.ck SET TBLPROPERTIES('check.bad'='nope > 0')") }
    assert(messages(badCol).exists(_.toLowerCase.contains("nope")))
    spark.sql("ALTER TABLE gtest.ns.ck SET TBLPROPERTIES('check.vpos'='v > 0')")

    // conforming rows pass; SQL ternary: a NULL check result passes
    Seq((3L, 30L)).toDF("k", "v").writeTo("gtest.ns.ck").append()
    Seq((6L, Option.empty[Long])).toDF("k", "v").writeTo("gtest.ns.ck").append()
    assert(spark.table("gtest.ns.ck").count() === 4)

    // a violating INSERT fails loudly, naming constraint and row; the
    // table is untouched (the job dies before any commit)
    val ins = intercept[Exception] {
      Seq((4L, -1L)).toDF("k", "v").writeTo("gtest.ns.ck").append() }
    assert(messages(ins).exists(m => m.contains("CHECK constraint 'vpos'")
      && m.contains("\"k\":4")), s"${messages(ins)}")
    assert(spark.table("gtest.ns.ck").count() === 4)

    // copy-on-write and merge-on-read UPDATEs both enforce
    val updCow = intercept[Exception] { graft.plans.MergeInto.sql(spark,
      "UPDATE gtest.ns.ck SET v = -5 WHERE k = 1") }
    assert(messages(updCow).exists(_.contains("CHECK constraint 'vpos'")))
    spark.conf.set("spark.graft.update.mode", "merge-on-read")
    try {
      val updMor = intercept[Exception] { graft.plans.MergeInto.sql(spark,
        "UPDATE gtest.ns.ck SET v = -7 WHERE k = 2") }
      assert(messages(updMor).exists(_.contains("CHECK constraint 'vpos'")))
    } finally spark.conf.unset("spark.graft.update.mode")
    assert(spark.table("gtest.ns.ck").where($"v" < 0).count() === 0)

    // MERGE inserting a violating row enforces too
    Seq((9L, -2L)).toDF("k", "v").createOrReplaceTempView("ck_src")
    val mrg = intercept[Exception] { graft.plans.MergeInto.sql(spark,
      "MERGE INTO gtest.ns.ck t USING ck_src s ON t.k = s.k " +
        "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)") }
    assert(messages(mrg).exists(_.contains("CHECK constraint 'vpos'")))

    // UNSET drops enforcement
    spark.sql("ALTER TABLE gtest.ns.ck UNSET TBLPROPERTIES('check.vpos')")
    Seq((5L, -9L)).toDF("k", "v").writeTo("gtest.ns.ck").append()
    assert(spark.table("gtest.ns.ck").count() === 5)
    spark.sql("DROP TABLE gtest.ns.ck")
  }

  test("catalog SQL views: create, aliases, nesting, replace, clashes, cycles, drop") {
    import spark.implicits._
    def gsql(s: String) = graft.plans.MergeInto.sql(spark, s)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.ns")
    spark.sql("DROP TABLE IF EXISTS gtest.ns.vwt")
    spark.sql("CREATE TABLE gtest.ns.vwt (k BIGINT, region STRING, v BIGINT)")
    (0 until 10).map(i => (i.toLong, s"r${i % 2}", i * 10L))
      .toDF("k", "region", "v").writeTo("gtest.ns.vwt").append()

    // create with column aliases; reads re-resolve lazily
    gsql("CREATE VIEW gtest.ns.v1 (kk, reg) AS " +
      "SELECT k, region FROM gtest.ns.vwt WHERE region = 'r1'")
    assert(gsql("SELECT kk FROM gtest.ns.v1").as[Long].collect().toSet
      === Set(1L, 3L, 5L, 7L, 9L))
    // new data appears through the view without any view refresh
    Seq((11L, "r1", 0L)).toDF("k", "region", "v").writeTo("gtest.ns.vwt").append()
    assert(gsql("SELECT kk FROM gtest.ns.v1").count() === 6)

    // views nest; aggregation through a view of a view
    gsql("CREATE VIEW gtest.ns.v2 AS " +
      "SELECT reg, COUNT(*) AS n FROM gtest.ns.v1 GROUP BY reg")
    assert(gsql("SELECT n FROM gtest.ns.v2").as[Long].collect().toSeq === Seq(6L))

    // SHOW VIEWS lists the namespace's definitions, pattern-filtered
    assert(gsql("SHOW VIEWS IN gtest.ns").select($"viewName")
      .as[String].collect().toSet === Set("v1", "v2"))
    assert(gsql("SHOW VIEWS IN gtest.ns LIKE 'v1'").count() === 1)

    // a broken definition fails its CREATE, not its first read
    val bad = intercept[Exception] {
      gsql("CREATE VIEW gtest.ns.v3 AS SELECT nope FROM gtest.ns.vwt") }
    assert(bad.getMessage.toLowerCase.contains("nope"))
    // alias-count mismatch and table-name clashes are loud
    val badCols = intercept[Exception] {
      gsql("CREATE VIEW gtest.ns.v3 (a, b, c) AS SELECT k FROM gtest.ns.vwt") }
    assert(badCols.getMessage.contains("column aliases"))
    val clash = intercept[Exception] {
      gsql("CREATE VIEW gtest.ns.vwt AS SELECT 1 AS x") }
    assert(clash.getMessage.contains("a table of that name exists"))
    // …and the mirror: a table never shadows a view (its reads would be
    // silently answered by the view and its INSERTs rejected)
    val tclash = intercept[Exception] {
      spark.sql("CREATE TABLE gtest.ns.v1 (x BIGINT)") }
    assert(tclash.getMessage.contains("a VIEW of that name exists"),
      tclash.getMessage)
    // SHOW VIEWS patterns: only '*' is a wildcard — metacharacters match
    // literally and never throw
    assert(gsql("SHOW VIEWS IN gtest.ns LIKE 'v.'").count() === 0)
    assert(gsql("SHOW VIEWS IN gtest.ns LIKE 'v*'").count() === 2)
    assert(gsql("SHOW VIEWS IN gtest.ns LIKE 'v+('").count() === 0)
    // duplicate create without OR REPLACE is loud; with it, it replaces
    val dup = intercept[Exception] {
      gsql("CREATE VIEW gtest.ns.v1 AS SELECT 1 AS x") }
    assert(dup.getMessage.contains("already exists"))
    gsql("CREATE OR REPLACE VIEW gtest.ns.v2 AS " +
      "SELECT reg, COUNT(*) AS n FROM gtest.ns.v1 WHERE kk > 1 GROUP BY reg")
    assert(gsql("SELECT n FROM gtest.ns.v2").as[Long].collect().toSeq === Seq(5L))

    // ALTER VIEW … AS replaces the definition, re-validating like CREATE
    // and dropping the original column aliases (the new query defines
    // the columns — Spark's own ALTER VIEW AS semantics)
    gsql("ALTER VIEW gtest.ns.v1 AS SELECT k AS kk2 FROM gtest.ns.vwt WHERE k < 3")
    assert(gsql("SELECT kk2 FROM gtest.ns.v1").as[Long].collect().toSet
      === Set(0L, 1L, 2L))
    // (programmatic spark.table() view resolution is covered in
    // MergeIntoSqlSpec's withExtensions-session cases — the shared test
    // session here deliberately runs without the extensions)
    val badAlter = intercept[Exception] {
      gsql("ALTER VIEW gtest.ns.v1 AS SELECT nope FROM gtest.ns.vwt") }
    assert(badAlter.getMessage.toLowerCase.contains("nope"))
    // …the failed ALTER left the previous definition intact
    assert(gsql("SELECT kk2 FROM gtest.ns.v1").count() === 3)
    val missAlter = intercept[Exception] {
      gsql("ALTER VIEW gtest.ns.nosuch AS SELECT 1 AS x") }
    assert(missAlter.getMessage.contains("does not exist"))
    val tblAlter = intercept[Exception] {
      gsql("ALTER VIEW gtest.ns.vwt AS SELECT 1 AS x") }
    assert(tblAlter.getMessage.contains("alters only views"), tblAlter.getMessage)

    // SHOW CREATE TABLE on a view reconstructs the definition; on a
    // catalog TABLE it keeps Spark's own handling
    val created = gsql("SHOW CREATE TABLE gtest.ns.v1").collect().head.getString(0)
    assert(created.startsWith("CREATE VIEW gtest.ns.v1"), created)
    assert(created.contains("SELECT k AS kk2"), created)
    val tblCreated = gsql("SHOW CREATE TABLE gtest.ns.vwt").collect().head.getString(0)
    assert(tblCreated.contains("CREATE TABLE") && !tblCreated.contains("CREATE VIEW"),
      tblCreated)

    // restore v1 to the aliased r1 shape for the cycle check below
    gsql("CREATE OR REPLACE VIEW gtest.ns.v1 (kk, reg) AS " +
      "SELECT k, region FROM gtest.ns.vwt WHERE region = 'r1'")

    // a replace that closes a definition cycle fails its READ loudly
    gsql("CREATE OR REPLACE VIEW gtest.ns.v1 (kk, reg) AS " +
      "SELECT n, reg FROM gtest.ns.v2")
    val cyc = intercept[Exception] { gsql("SELECT * FROM gtest.ns.v1").collect() }
    assert(cyc.getMessage.contains("exceeded depth"), cyc.getMessage)

    // drop: gone for reads; dropping a missing view is loud sans IF EXISTS
    gsql("DROP VIEW gtest.ns.v1")
    gsql("DROP VIEW IF EXISTS gtest.ns.v1")
    val gone = intercept[Exception] { gsql("DROP VIEW gtest.ns.v1") }
    assert(gone.getMessage.contains("does not exist"))
    gsql("DROP VIEW gtest.ns.v2")
    spark.sql("DROP TABLE gtest.ns.vwt")
  }
}
