package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.MergeIntoTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{GraftMergeCommand, GraftSqlParser, MergeInto}
import graft.silver.Merge
import graft.sources.ManifestTable
import graft.sources.v2.VersionedCatalog

/** Engine-native MERGE INTO SQL (plans.MergeInto): parser lowering, all
  * four clause kinds, star forms (differential vs Merge.upsert), the
  * multi-match guard, snapshot commits and time travel on versioned
  * catalog tables, and the SparkSessionExtensions end-to-end path. */
class MergeIntoSqlSpec extends AnyFunSuite {
  private lazy val wh: String = tmp("msq_wh")
  private lazy val spark = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.gmsq", classOf[VersionedCatalog].getName)
    s.conf.set("spark.sql.catalog.gmsq.warehouse", wh)
    s.sql("CREATE NAMESPACE IF NOT EXISTS gmsq.ns")
    s
  }
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** A fresh `gmsq.ns.<name>` table; returns its identifier and root. */
  private def catalogTable(name: String): (String, String) = {
    spark.sql(s"DROP TABLE IF EXISTS gmsq.ns.$name")
    (s"gmsq.ns.$name", s"$wh/ns/$name")
  }

  test("parser lowers MERGE INTO to GraftMergeCommand, delegates the rest") {
    val p = new GraftSqlParser(spark.sessionState.sqlParser)
    val merged = p.parsePlan(
      "MERGE INTO a USING b ON a.k = b.k WHEN MATCHED THEN DELETE")
    assert(merged.isInstanceOf[GraftMergeCommand])
    assert(merged.asInstanceOf[GraftMergeCommand].merge.isInstanceOf[MergeIntoTable])
    // non-MERGE statements pass through to the delegate untouched
    val sel = p.parsePlan("SELECT 1 AS x")
    assert(!sel.isInstanceOf[GraftMergeCommand])
    assert(sel.nodeName ==
      spark.sessionState.sqlParser.parsePlan("SELECT 1 AS x").nodeName)
    assert(p.parseExpression("1 + 2").sql ==
      spark.sessionState.sqlParser.parseExpression("1 + 2").sql)
  }

  test("all four clause kinds over a catalog table") {
    spark.sql("DROP TABLE IF EXISTS msq_target")
    Seq((1L, 10.0, "keep"), (2L, 20.0, "upd"), (3L, 30.0, "del"), (4L, 40.0, "lonely"))
      .toDF("k", "v", "tag").write.saveAsTable("msq_target")
    Seq((2L, 5.0), (3L, -1.0), (9L, 90.0), (10L, -1.0))
      .toDF("k", "sv").createOrReplaceTempView("msq_stg")
    MergeInto.sql(spark,
      """MERGE INTO msq_target t USING msq_stg s ON t.k = s.k
        |WHEN MATCHED AND s.sv > 0 THEN UPDATE SET v = t.v + s.sv
        |WHEN MATCHED THEN DELETE
        |WHEN NOT MATCHED AND s.sv > 0 THEN INSERT (k, v, tag) VALUES (s.k, s.sv, 'new')
        |WHEN NOT MATCHED BY SOURCE AND t.tag = 'lonely'
        |  THEN UPDATE SET tag = 'dormant'
        |""".stripMargin)
    val out = spark.table("msq_target").collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getString(2)))).toMap
    assert(out == Map(
      1L -> ((10.0, "keep")),      // matched-by-nothing path untouched
      2L -> ((25.0, "upd")),       // conditional update
      4L -> ((40.0, "dormant")),   // not matched by source update
      9L -> ((90.0, "new"))))      // conditional insert (k=3 deleted, k=10 filtered)
  }

  test("star forms match Merge.upsert algebra (differential, 10 seeded cases)") {
    val rng = new scala.util.Random(7)
    for (i <- 1 to 10) {
      val target = List.fill(25)((rng.nextInt(12).toLong, rng.nextInt(1000)))
        .toDF("k", "v").dropDuplicates("k")
      val staging = List.fill(25)((rng.nextInt(12).toLong, rng.nextInt(1000)))
        .toDF("k", "v").dropDuplicates("k")
      spark.sql(s"DROP TABLE IF EXISTS msq_star_$i")
      target.write.saveAsTable(s"msq_star_$i")
      staging.createOrReplaceTempView("msq_star_stg")
      MergeInto.sql(spark,
        s"""MERGE INTO msq_star_$i t USING msq_star_stg s ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val viaSql = spark.table(s"msq_star_$i").as[(Long, Int)].collect().toMap
      val viaAlgebra = Merge.upsert(target, staging, Seq("k"))
        .as[(Long, Int)].collect().toMap
      assert(viaSql == viaAlgebra, s"case $i")
      spark.sql(s"DROP TABLE msq_star_$i")
    }
  }

  test("multi-match guard raises; disabling the check lets duplicates through") {
    spark.sql("DROP TABLE IF EXISTS msq_dup")
    Seq((1L, 1.0)).toDF("k", "v").write.saveAsTable("msq_dup")
    Seq((1L, 2.0), (1L, 3.0)).toDF("k", "sv").createOrReplaceTempView("msq_dup_stg")
    val stmt =
      """MERGE INTO msq_dup t USING msq_dup_stg s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.sv""".stripMargin
    val e = intercept[Exception](MergeInto.sql(spark, stmt))
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("matched 2 source rows")))
    spark.conf.set("spark.graft.merge.multiMatchCheck", "false")
    try {
      MergeInto.sql(spark, stmt)
      // without the guard the join fan-out materializes: documented escape hatch
      assert(spark.table("msq_dup").count() == 2)
    } finally spark.conf.set("spark.graft.merge.multiMatchCheck", "true")
  }

  test("multi-match guard rides the SOURCE side for splittable conditions: no window over the joined relation") {
    spark.sql("DROP TABLE IF EXISTS msq_fast")
    (0L until 5000L).map(k => (k, k * 1.0)).toDF("k", "v")
      .write.saveAsTable("msq_fast")
    // duplicate source keys exist, but only ONE row per key passes the
    // source-only conjunct — the fast path must count the QUALIFYING
    // rows, not the raw key group
    ((0L until 100L).map(k => (k * 7, 1.0)) ++
      (0L until 100L).map(k => (k * 7, -1.0)))
      .toDF("k", "sv").createOrReplaceTempView("msq_fast_stg")
    val cmd = new GraftSqlParser(spark.sessionState.sqlParser).parsePlan(
      """MERGE INTO msq_fast t USING msq_fast_stg s
        |ON t.k = s.k AND s.sv > 0
        |WHEN MATCHED THEN UPDATE SET v = s.sv""".stripMargin)
      .asInstanceOf[GraftMergeCommand].merge.asInstanceOf[MergeIntoTable]
    // the source must carry its statement alias (execute() builds it from
    // the parsed subtree the same way)
    val res = MergeInto.mergeResult(spark.table("msq_fast"), "t",
      org.apache.spark.sql.GraftColumnBridge.ofRows(spark, cmd.sourceTable), cmd)
    val out = res.localCheckpoint(true)
    assert(out.count() === 5000L)
    assert(out.where("v = 1.0").count() === 100L + 1L) // k=1 kept its 1.0
    // EXECUTED-plan audit: the guard's window must sit strictly BELOW
    // the join (over the small source), never above the joined relation
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def flatten(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec => flatten(q.plan)
      case _ => p.children.flatMap(flatten)
    })
    val all = flatten(res.queryExecution.executedPlan)
    val windows = all.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows.nonEmpty, "the guard must still run (as a source-side window)")
    windows.foreach { w =>
      assert(!flatten(w).drop(1).exists(
        _.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec]),
        "guard window must not consume the joined relation:\n" + w)
    }
    // and the fast path still RAISES when >1 qualifying row matches
    Seq((21L, 5.0), (21L, 6.0)).toDF("k", "sv")
      .createOrReplaceTempView("msq_fast_dup")
    val e = intercept[Exception](MergeInto.sql(spark,
      """MERGE INTO msq_fast t USING msq_fast_dup s
        |ON t.k = s.k AND s.sv > 0
        |WHEN MATCHED THEN UPDATE SET v = s.sv""".stripMargin))
    def msgs(x: Throwable): Seq[String] = Option(x).toSeq
      .flatMap(y => Option(y.getMessage).toSeq ++ msgs(y.getCause))
    assert(msgs(e).exists(_.contains("matched 2 source rows")), msgs(e))
    spark.sql("DROP TABLE msq_fast")
  }

  test("residual cross-side conditions fall back to the joined-relation guard and still raise") {
    spark.sql("DROP TABLE IF EXISTS msq_resid")
    Seq((1L, 1.0)).toDF("k", "v").write.saveAsTable("msq_resid")
    Seq((1L, 2.0), (1L, 3.0)).toDF("k", "sv")
      .createOrReplaceTempView("msq_resid_stg")
    // t.v < s.sv references BOTH sides in one conjunct — unsplittable,
    // so the per-target-row window path must carry the guard
    val e = intercept[Exception](MergeInto.sql(spark,
      """MERGE INTO msq_resid t USING msq_resid_stg s
        |ON t.k = s.k AND t.v < s.sv
        |WHEN MATCHED THEN UPDATE SET v = s.sv""".stripMargin))
    def msgs(x: Throwable): Seq[String] = Option(x).toSeq
      .flatMap(y => Option(y.getMessage).toSeq ++ msgs(y.getCause))
    assert(msgs(e).exists(_.contains("matched 2 source rows")), msgs(e))
    spark.sql("DROP TABLE msq_resid")
  }

  test("Versioned target: MERGE commits snapshots; history and time travel see both") {
    val (t, root) = catalogTable("vt")
    Seq((1L, "a"), (2L, "b")).toDF("k", "s").writeTo(t)
      .tableProperty("retain", "5").create()
    assert(ManifestTable.versions(root) == Seq(1L))
    Seq((2L, "B"), (3L, "C")).toDF("k", "s").createOrReplaceTempView("msq_vstg")
    MergeInto.sql(spark,
      s"""MERGE INTO $t t USING msq_vstg s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    // one MERGE, one snapshot
    assert(ManifestTable.versions(root) == Seq(1L, 2L))
    assert(ManifestTable.history(spark, root).count() == 2L)
    // the catalog serves the post-merge snapshot
    assert(spark.table(t).as[(Long, String)].collect().toMap ==
      Map(1L -> "a", 2L -> "B", 3L -> "C"))
    // time travel still reads the pre-merge snapshot
    assert(spark.sql(s"SELECT k, s FROM $t VERSION AS OF 1").as[(Long, String)]
      .collect().toMap == Map(1L -> "a", 2L -> "b"))
    // and SQL over the table composes with the rest of the session
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE s = 'C'").head().getLong(0) == 1L)
    spark.sql(s"DROP TABLE $t")
  }

  test("MERGE source pinned with VERSION AS OF merges that snapshot's rows, not the live ones") {
    val (src, _) = catalogTable("pin_src")
    val (t, _) = catalogTable("pin_t")
    Seq((1L, "v1"), (2L, "v1")).toDF("k", "s").writeTo(src)
      .tableProperty("retain", "5").create()                           // src v1
    MergeInto.sql(spark, s"UPDATE $src SET s = 'v2'")                  // src v2
    Seq((3L, "v2")).toDF("k", "s").writeTo(src).append()               // src v3
    Seq((1L, "t")).toDF("k", "s").writeTo(t).create()
    // Spark's grammar takes a table name or a parenthesized query after
    // USING, so the pinned read is a subquery
    MergeInto.sql(spark,
      s"""MERGE INTO $t t USING (SELECT * FROM $src VERSION AS OF 1) s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.table(t).as[(Long, String)].collect().toMap ==
      Map(1L -> "v1", 2L -> "v1"))
    // the live source is untouched by the pin
    assert(spark.table(src).as[(Long, String)].collect().toMap ==
      Map(1L -> "v2", 2L -> "v2", 3L -> "v2"))
    spark.sql(s"DROP TABLE $t")
    spark.sql(s"DROP TABLE $src")
  }

  test("withExtensions session: plain spark.sql(MERGE INTO) works") {
    val old = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val ext = SparkSession.builder()
        .master("local[4]")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      assert(ext ne old) // a genuinely new session with the injected parser
      ext.sql("DROP TABLE IF EXISTS msq_ext")
      ext.createDataFrame(Seq((1L, 1.0), (2L, 2.0))).toDF("k", "v")
        .write.saveAsTable("msq_ext")
      ext.createDataFrame(Seq((2L, 20.0), (3L, 30.0))).toDF("k", "v")
        .createOrReplaceTempView("msq_ext_stg")
      ext.sql(
        """MERGE INTO msq_ext t USING msq_ext_stg s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      assert(ext.table("msq_ext").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap ==
        Map(1L -> 1.0, 2L -> 20.0, 3L -> 30.0))
      // injected native functions ride along on the same session
      assert(ext.sql("SELECT rolling_hash('abc') = rolling_hash('abc') AS eq").head().getBoolean(0))
    } finally {
      SparkSession.setDefaultSession(old)
      SparkSession.setActiveSession(old)
    }
  }

  test("withExtensions session: CREATE VIEW via plain spark.sql; spark.table resolves it") {
    val old = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val ext = SparkSession.builder().master("local[4]")
        .withExtensions(new GraftExtensions).getOrCreate()
      ext.conf.set("spark.sql.catalog.gext",
        classOf[graft.sources.v2.VersionedCatalog].getName)
      ext.conf.set("spark.sql.catalog.gext.warehouse", tmp("msq_vwwh"))
      ext.sql("CREATE NAMESPACE IF NOT EXISTS gext.ns")
      ext.sql("CREATE TABLE gext.ns.base (k BIGINT, v BIGINT)")
      ext.createDataFrame(Seq((1L, 10L), (2L, 20L), (3L, 30L))).toDF("k", "v")
        .writeTo("gext.ns.base").append()
      // plain spark.sql through the injected parser
      ext.sql("CREATE VIEW gext.ns.big AS SELECT k FROM gext.ns.base WHERE v >= 20")
      assert(ext.sql("SELECT k FROM gext.ns.big").collect().map(_.getLong(0)).toSet
        == Set(2L, 3L))
      // the PROGRAMMATIC read path resolves views via the analyzer rule
      assert(ext.table("gext.ns.big").collect().map(_.getLong(0)).toSet
        == Set(2L, 3L))
      // ALTER VIEW … AS through plain spark.sql; the programmatic read
      // resolves the replaced definition on its next analysis
      ext.sql("ALTER VIEW gext.ns.big AS SELECT v AS vv FROM gext.ns.base WHERE k = 1")
      assert(ext.table("gext.ns.big").columns.toSeq == Seq("vv"))
      assert(ext.table("gext.ns.big").collect().map(_.getLong(0)).toSeq == Seq(10L))
      ext.sql("DROP VIEW gext.ns.big")
      val gone = intercept[Exception](ext.table("gext.ns.big").collect())
      assert(!gone.getMessage.contains("exceeded depth"))
      ext.sql("DROP TABLE gext.ns.base")
    } finally {
      SparkSession.setDefaultSession(old)
      SparkSession.setActiveSession(old)
    }
  }

  test("SQL time travel: VERSION AS OF / TIMESTAMP AS OF on a versioned table") {
    val old = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val ext = SparkSession.builder().master("local[4]")
        .withExtensions(new GraftExtensions).getOrCreate()
      ext.conf.set("spark.sql.catalog.gtt", classOf[VersionedCatalog].getName)
      ext.conf.set("spark.sql.catalog.gtt.warehouse", tmp("msq_ttwh"))
      ext.sql("CREATE NAMESPACE IF NOT EXISTS gtt.ns")
      ext.createDataFrame(Seq((1L, "a"), (2L, "b"))).toDF("k", "s")
        .writeTo("gtt.ns.tt").tableProperty("retain", "5").create()
      ext.createDataFrame(Seq((2L, "B2"))).toDF("k", "s").createOrReplaceTempView("msq_tt_stg")
      ext.sql(
        """MERGE INTO gtt.ns.tt t USING msq_tt_stg s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
      // live reads see v2; VERSION AS OF pins v1
      assert(ext.sql("SELECT s FROM gtt.ns.tt WHERE k = 2").head().getString(0) == "B2")
      assert(ext.sql("SELECT s FROM gtt.ns.tt VERSION AS OF 1 WHERE k = 2")
        .head().getString(0) == "b")
      // TIMESTAMP AS OF far in the future resolves to the latest snapshot
      assert(ext.sql("SELECT s FROM gtt.ns.tt TIMESTAMP AS OF '2100-01-01' WHERE k = 2")
        .head().getString(0) == "B2")
      // before the first commit: no snapshot to serve
      val e = intercept[Exception](
        ext.sql("SELECT * FROM gtt.ns.tt TIMESTAMP AS OF '2000-01-01'").collect())
      assert(e.getMessage.contains("no retained snapshot"))
      // non-catalog relations get Spark's own error, not ours
      val e2 = intercept[Exception](
        ext.sql("SELECT * FROM range(1) VERSION AS OF 1").collect())
      assert(!e2.getMessage.contains("retained snapshot"))
      ext.sql("DROP TABLE gtt.ns.tt")
    } finally {
      SparkSession.setDefaultSession(old)
      SparkSession.setActiveSession(old)
    }
  }

  test("UPDATE and DELETE SQL over catalog and Versioned targets") {
    // catalog table
    spark.sql("DROP TABLE IF EXISTS msq_dml")
    Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "v").write.saveAsTable("msq_dml")
    MergeInto.sql(spark, "UPDATE msq_dml SET v = v * 2 WHERE k >= 2")
    assert(spark.table("msq_dml").as[(Long, Double)].collect().toMap ==
      Map(1L -> 10.0, 2L -> 40.0, 3L -> 60.0))
    MergeInto.sql(spark, "DELETE FROM msq_dml WHERE v > 50")
    assert(spark.table("msq_dml").as[(Long, Double)].collect().toMap ==
      Map(1L -> 10.0, 2L -> 40.0))
    // versioned catalog table: each statement is one snapshot commit
    val (vt, root) = catalogTable("dml_vt")
    Seq((1L, "x"), (2L, "y")).toDF("k", "s").writeTo(vt)
      .tableProperty("retain", "5").create()
    MergeInto.sql(spark, s"UPDATE $vt SET s = upper(s)")
    MergeInto.sql(spark, s"DELETE FROM $vt WHERE k = 1")
    assert(ManifestTable.versions(root) == Seq(1L, 2L, 3L))
    assert(spark.table(vt).as[(Long, String)].collect().toSeq == Seq(2L -> "Y"))
    spark.sql(s"DROP TABLE $vt")
    // parser lowering for the extension path
    val p = new GraftSqlParser(spark.sessionState.sqlParser)
    assert(p.parsePlan("UPDATE a SET x = 1").isInstanceOf[graft.plans.GraftUpdateCommand])
    assert(p.parsePlan("DELETE FROM a WHERE x = 1").isInstanceOf[graft.plans.GraftDeleteCommand])
  }

  test("day-scoped DELETE on a TIMESTAMP column classifies days in the session zone") {
    val prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    val (t, root) = catalogTable("tzdel")
    try {
      spark.sql(s"CREATE TABLE $t (ts TIMESTAMP) PARTITIONED BY (days(ts))")
      // TIMESTAMP (instant) values at NY-local 01-14 10:00, 01-15 10:00,
      // 01-15 20:00 — partition days derive from to_date(ts) in NY time
      Seq("2024-01-14 10:00:00", "2024-01-15 10:00:00", "2024-01-15 20:00:00")
        .toDF("s").select(to_timestamp(col("s")).as("ts")).writeTo(t).append()
      assert(ManifestTable.liveDays(root) === Set("2024-01-14", "2024-01-15"))
      // the region covers all of NY-day 01-14 but only PART of 01-15: with
      // UTC day bounds 01-15 would be classified fully covered and the
      // 20:00 row silently dropped at the manifest (ADVICE r5, high)
      MergeInto.sql(spark,
        s"DELETE FROM $t WHERE ts < TIMESTAMP '2024-01-15 20:00:00'")
      val left = spark.table(t)
        .select(date_format(col("ts"), "yyyy-MM-dd HH:mm").as("t")).collect()
      assert(left.map(_.getString(0)).toSeq === Seq("2024-01-15 20:00"))
      assert(ManifestTable.liveDays(root) === Set("2024-01-15"))
      // the day-scoped path ran: a boundary-day replace, not the full
      // rewrite's overwrite
      assert(ManifestTable.opOf(root, ManifestTable.currentVersion(root).get)
        === Some("replace"))
    } finally {
      spark.conf.set("spark.sql.session.timeZone", prev)
      spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }

  test("day-scoped DELETE from a DIFFERENT session zone: drop-only runs in the writer's timeline, boundary rewrites decline") {
    val prev = spark.conf.get("spark.sql.session.timeZone")
    val (t, root) = catalogTable("xzone")
    try {
      // written from a New York session: __day derives in NY local time
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      spark.sql(s"CREATE TABLE $t (ts TIMESTAMP) PARTITIONED BY (days(ts)) " +
        "TBLPROPERTIES('retain'='10')")
      Seq("2024-01-14 10:00:00", "2024-01-15 10:00:00", "2024-01-15 20:00:00")
        .toDF("s").select(to_timestamp(col("s")).as("ts")).writeTo(t).append()
      assert(ManifestTable.liveDays(root) === Set("2024-01-14", "2024-01-15"))

      // deleted from a UTC session. Region bound 2024-01-15 05:00 UTC IS
      // NY midnight: NY-day 01-14 is fully covered — the metadata-only
      // drop is exact in the WRITER's recorded timeline even though the
      // deleting session sits five zones away (pre-fix, boundaries were
      // computed in the DELETING session's zone).
      spark.conf.set("spark.sql.session.timeZone", "UTC")
      val day15Before = ManifestTable.manifest(root,
        ManifestTable.currentVersion(root).get).filter(_.contains("2024-01-15"))
      MergeInto.sql(spark,
        s"DELETE FROM $t WHERE ts < TIMESTAMP '2024-01-15 05:00:00'")
      val day15After = ManifestTable.manifest(root,
        ManifestTable.currentVersion(root).get).filter(_.contains("2024-01-15"))
      assert(ManifestTable.liveDays(root) === Set("2024-01-15"))
      assert(day15After === day15Before,
        "a pure whole-day drop must be metadata-only: untouched day files identical")
      assert(spark.table(t).count() === 2)

      // a boundary (partial-day) delete from the mismatched zone must
      // DECLINE the fast path — the rewrite re-derives __day in the
      // deleting session's zone, which is not the table's layout zone.
      // Correctness: the full rewrite deletes exactly the predicate rows.
      MergeInto.sql(spark,
        s"DELETE FROM $t WHERE ts < TIMESTAMP '2024-01-15 16:00:00'")
      val left = spark.table(t)
        .select(date_format(col("ts"), "yyyy-MM-dd HH:mm").as("t"))
        .collect().map(_.getString(0)).toSeq
      assert(left === Seq("2024-01-16 01:00"),
        s"NY 10:00 = 15:00Z deleted, NY 20:00 = 16th 01:00Z kept; got $left")
    } finally {
      spark.conf.set("spark.sql.session.timeZone", prev)
      spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }

  test("full-rewrite DML carries manifest props (streaming idempotence markers)") {
    val (t, root) = catalogTable("props")
    spark.sql(s"CREATE TABLE $t (k BIGINT, v DOUBLE)")
    val df = Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v")
    // a streaming sink's batch 7 lands with its idempotence marker
    assert(graft.streaming.MicroBatch.appendBatchIdempotent(df, root, "app1", 7L))
    assert(ManifestTable.liveProps(root).get("stream.app1.batch").contains("7"))
    MergeInto.sql(spark, s"UPDATE $t SET v = v + 1 WHERE k = 1")
    assert(ManifestTable.opOf(root, ManifestTable.currentVersion(root).get)
      === Some("overwrite"), "the UPDATE must take the full-rewrite path")
    // the rewrite continued the table's history: the marker survived, so a
    // foreachBatch replay of batch 7 is still detected and skipped
    assert(ManifestTable.liveProps(root).get("stream.app1.batch").contains("7"))
    assert(!graft.streaming.MicroBatch.appendBatchIdempotent(df, root, "app1", 7L))
    assert(spark.table(t).as[(Long, Double)].collect().toMap == Map(1L -> 2.0, 2L -> 2.0))
    spark.sql(s"DROP TABLE $t")
  }

  test("cross-typed equi keys decline the source-side guard: coerce-equal duplicates still raise") {
    // BIGINT target key, STRING source key: the join coerces both to
    // DOUBLE, so the distinct raw strings '5' and '05' equal ONE target
    // row. The source-side fast path would window them into separate
    // partitions (NM=1 each) and miss the violation — cross-typed pairs
    // must take the per-target-row fallback, which counts in the join's
    // own domain and raises.
    spark.sql("DROP TABLE IF EXISTS msq_xtyped")
    Seq((5L, 1.0)).toDF("k", "v").write.saveAsTable("msq_xtyped")
    Seq(("5", 2.0), ("05", 3.0)).toDF("sk", "sv")
      .createOrReplaceTempView("msq_xtyped_stg")
    val e = intercept[Exception](MergeInto.sql(spark,
      """MERGE INTO msq_xtyped t USING msq_xtyped_stg s
        |ON t.k = s.sk
        |WHEN MATCHED THEN UPDATE SET v = s.sv""".stripMargin))
    def msgs(x: Throwable): Seq[String] = Option(x).toSeq
      .flatMap(y => Option(y.getMessage).toSeq ++ msgs(y.getCause))
    assert(msgs(e).exists(_.contains("matched 2 source rows")), msgs(e))
    // same-typed keys with distinct values keep the fast path's exact
    // semantics: no raise, one update each
    Seq((5L, 7.0)).toDF("sk", "sv").createOrReplaceTempView("msq_sametyp_stg")
    MergeInto.sql(spark,
      """MERGE INTO msq_xtyped t USING msq_sametyp_stg s
        |ON t.k = s.sk
        |WHEN MATCHED THEN UPDATE SET v = s.sv""".stripMargin)
    assert(spark.table("msq_xtyped").collect().map(_.getDouble(1)).toSeq == Seq(7.0))
    spark.sql("DROP TABLE msq_xtyped")
  }

  test("fallback guard's window consumes ONLY matched rows (exchange input filtered)") {
    spark.sql("DROP TABLE IF EXISTS msq_fbk")
    (0L until 4000L).map(k => (k, k * 1.0)).toDF("k", "v")
      .write.saveAsTable("msq_fbk")
    // residual cross-side conjunct -> fallback guard; only 3 rows match
    // (the .5 sentinel collides with no original v = k * 1.0 value)
    Seq((1L, 9999.5), (2L, 9999.5), (3L, 9999.5)).toDF("k", "sv")
      .createOrReplaceTempView("msq_fbk_stg")
    val cmd = new GraftSqlParser(spark.sessionState.sqlParser).parsePlan(
      """MERGE INTO msq_fbk t USING msq_fbk_stg s
        |ON t.k = s.k AND t.v < s.sv
        |WHEN MATCHED THEN UPDATE SET v = s.sv""".stripMargin)
      .asInstanceOf[GraftMergeCommand].merge.asInstanceOf[MergeIntoTable]
    val res = MergeInto.mergeResult(spark.table("msq_fbk"), "t",
      org.apache.spark.sql.GraftColumnBridge.ofRows(spark, cmd.sourceTable), cmd)
    val out = res.localCheckpoint(true)
    assert(out.count() === 4000L)
    assert(out.where("v = 9999.5").count() === 3L)
    // EXECUTED-plan audit: every guard window's input subtree must carry
    // the matched-rows filter (both presence markers non-null) — the
    // exchange feeding the window is bounded by touched rows, never the
    // full joined relation
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def flatten(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec => flatten(q.plan)
      case _ => p.children.flatMap(flatten)
    })
    val all = flatten(res.queryExecution.executedPlan)
    val windows = all.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows.nonEmpty, "the fallback guard must still run as a window")
    windows.foreach { w =>
      // the matched-leg filter (both presence markers non-null) lets the
      // optimizer collapse the leg's full-outer join to INNER — the
      // window's exchange input is then exactly the matched rows. Either
      // shape (inner join, or an explicit marker filter) proves the
      // input is bounded by touched rows; a FULL-OUTER join directly
      // under the window would mean the old unbounded shape returned.
      val joins = flatten(w).drop(1).collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j }
      assert(joins.nonEmpty, "guard window must sit over the join legs:\n" + w)
      joins.foreach(j => assert(
        j.joinType == org.apache.spark.sql.catalyst.plans.Inner ||
          flatten(w).exists {
            case f: org.apache.spark.sql.execution.FilterExec =>
              val c = f.condition.toString
              c.contains("__graft_t") && c.contains("__graft_s")
            case _ => false
          },
        s"fallback guard window consumes an unbounded ${j.joinType} join:\n" + w))
    }
    spark.sql("DROP TABLE msq_fbk")
  }

  test("driver-contract query: full lifecycle at sf0.001") {
    val out = MergeInto.mergeIntoSql(spark, TestSpark.sf)
    assert(out.columns.toSeq == Seq("c_custkey", "c_acctbal", "c_mktsegment"))
    val byTag = out.groupBy("c_mktsegment").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byTag.getOrElse("NEW", 0L) > 0, s"expected inserts, got $byTag")
    assert(byTag.getOrElse("DORMANT", 0L) >= 0)
    // keys are unique post-merge (MERGE preserves key uniqueness)
    assert(out.count() == out.select("c_custkey").distinct().count())
  }
}
