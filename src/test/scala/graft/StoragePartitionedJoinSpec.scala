package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.scalatest.Outcome
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.v2.VersionedCatalog

/** Storage-partitioned joins on the versioned catalog: two tables
  * identity-partitioned the same way join on the partition columns with
  * ZERO shuffle — each scan reports KeyGroupedPartitioning and plans one
  * input partition per key, so EnsureRequirements elides both exchanges
  * (and the post-join aggregate on the same key needs none either). At
  * 100 TB this removes the dominant cost of a co-partitioned fact-fact
  * join. Gated by Spark's spark.sql.sources.v2.bucketing.enabled, like
  * Iceberg's preserve-data-grouping.
  */
class StoragePartitionedJoinSpec extends AnyFunSuite {
  private val Spj = "spark.sql.sources.v2.bucketing.enabled"

  /** Every test leaves the shared session's SPJ flag as it found it (Spark
    * 4.1 defaults it ON), so later suites never inherit this one's last
    * setting. */
  override def withFixture(test: NoArgTest): Outcome = {
    val prior = spark.conf.getOption(Spj)
    try super.withFixture(test)
    finally prior.fold(spark.conf.unset(Spj))(spark.conf.set(Spj, _))
  }

  private lazy val spark = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.gspj", classOf[VersionedCatalog].getName)
    s.conf.set("spark.sql.catalog.gspj.warehouse",
      java.nio.file.Files.createTempDirectory("graft_spjwh").toString)
    s.sql("CREATE NAMESPACE IF NOT EXISTS gspj.ns")
    s
  }

  private def shuffles(df: org.apache.spark.sql.DataFrame): Int = {
    def walk(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec =>
        (if (q.plan.isInstanceOf[ShuffleExchangeLike]) 1 else 0) + walk(q.plan)
      case s: ShuffleExchangeLike => 1 + s.children.map(walk).sum
      case other => other.children.map(walk).sum
    }
    walk(df.queryExecution.executedPlan)
  }

  /** Shuffles feeding any JOIN's inputs — the cost SPJ removes; a
    * downstream aggregate's exchange is out of scope (and unavoidable
    * under partially-clustered output). */
  private def joinInputShuffles(df: org.apache.spark.sql.DataFrame): Int = {
    def count(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => count(a.executedPlan)
      case q: QueryStageExec =>
        (if (q.plan.isInstanceOf[ShuffleExchangeLike]) 1 else 0) + count(q.plan)
      case s: ShuffleExchangeLike => 1 + s.children.map(count).sum
      case other => other.children.map(count).sum
    }
    def walk(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
        j.children.map(count).sum
      case other => other.children.map(walk).sum
    }
    walk(df.queryExecution.executedPlan)
  }

  private def writeFacts(t: String, seed: Int): Unit = {
    import spark.implicits._
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT, region STRING, v DOUBLE) PARTITIONED BY (region)")
    (0 until 2000).map(i => ((i + seed).toLong, s"r${i % 4}", i * 1.0))
      .toDF("k", "region", "v").writeTo(t).append()
  }

  test("co-partitioned identity tables join and aggregate with zero shuffles") {
    writeFacts("gspj.ns.fact_a", 0)
    writeFacts("gspj.ns.fact_b", 7)
    val prevAuto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val a = spark.table("gspj.ns.fact_a")
      val b = spark.table("gspj.ns.fact_b").select(
        col("region").as("r2"), col("v").as("v2"))
      val joined = a.join(b, col("region") === col("r2"))
        .groupBy(col("region"))
        .agg(count(lit(1)).as("n"), sum(col("v") + col("v2")).as("sv"))
      val rows = joined.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(rows === (0 until 4).map(i => s"r$i" -> 250_000L).toMap,
        "join result must match the 500x500 per-region product")
      assert(shuffles(joined) === 0,
        s"SPJ must elide every exchange:\n${joined.queryExecution.executedPlan}")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevAuto)
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE gspj.ns.fact_a")
      spark.sql("DROP TABLE gspj.ns.fact_b")
    }
  }

  test("same join shuffles when the SPJ flag is off, with identical results") {
    writeFacts("gspj.ns.fact_c", 0)
    writeFacts("gspj.ns.fact_d", 3)
    val prevAuto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set(Spj, "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def run(): (Map[String, Long], Int) = {
        val j = spark.table("gspj.ns.fact_c")
          .join(spark.table("gspj.ns.fact_d")
            .select(col("region").as("r2")), col("region") === col("r2"))
          .groupBy(col("region")).agg(count(lit(1)).as("n"))
        (j.collect().map(r => r.getString(0) -> r.getLong(1)).toMap, shuffles(j))
      }
      val (offRows, offShuffles) = run()
      assert(offShuffles > 0, "without the flag the join must shuffle")
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      val (onRows, onShuffles) = run()
      assert(onShuffles === 0)
      assert(onRows === offRows, "SPJ must not change results")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevAuto)
      spark.sql("DROP TABLE gspj.ns.fact_c")
      spark.sql("DROP TABLE gspj.ns.fact_d")
    }
  }

  test("bucket-partitioned tables join on the raw key with zero shuffles") {
    import spark.implicits._
    def writeBucketed(t: String, n: Int): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"CREATE TABLE $t (k BIGINT, v DOUBLE) PARTITIONED BY (bucket(8, k))")
      spark.range(n).select($"id".as("k"), ($"id" * 2.0).as("v")).writeTo(t).append()
    }
    writeBucketed("gspj.ns.bk_a", 1000)
    writeBucketed("gspj.ns.bk_b", 600)
    val prevAuto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("gspj.ns.bk_a")
        .join(spark.table("gspj.ns.bk_b").select($"k".as("k2"), $"v".as("v2")),
          $"k" === $"k2")
        .groupBy($"k").agg(count(lit(1)).as("n"), sum($"v" + $"v2").as("sv"))
      val rows = joined.collect()
      assert(rows.length === 600 && rows.forall(_.getLong(1) === 1L))
      assert(rows.map(_.getDouble(2)).sum === (0 until 600).map(i => i * 4.0).sum)
      assert(shuffles(joined) === 0,
        s"bucket SPJ must elide the join exchanges:\n${joined.queryExecution.executedPlan}")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevAuto)
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE gspj.ns.bk_a")
      spark.sql("DROP TABLE gspj.ns.bk_b")
    }
  }

  test("SPJ composes with runtime filtering: keyed scan, narrowed listing, exact rows") {
    import spark.implicits._
    writeFacts("gspj.ns.fact_rf", 0)
    writeFacts("gspj.ns.dim_rf", 11)
    val prevAuto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      // dim side selective (one region of four): with SPJ reporting on
      // both sides AND the dim filter runtime-reaching the fact manifest,
      // results must stay exact whatever plan Spark picks
      val dim = spark.table("gspj.ns.dim_rf").where($"region" === "r2")
        .select($"region".as("r2c"), $"v".as("dv"))
      val joined = spark.table("gspj.ns.fact_rf")
        .join(dim, $"region" === $"r2c")
        .groupBy($"region").agg(count(lit(1)).as("n"))
      val rows = joined.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(rows === Map("r2" -> (500L * 500L)))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevAuto)
      spark.sql("DROP TABLE gspj.ns.fact_rf")
      spark.sql("DROP TABLE gspj.ns.dim_rf")
    }
  }

  test("bucket() is SQL-callable and v2 shuffle mode buckets the plain side correctly") {
    import spark.implicits._
    // the catalog's bucket() resolves from SQL and matches the writer's
    // derivation exactly
    val direct = spark.sql("SELECT gspj.bucket(8, CAST(42 AS BIGINT)) AS b").collect()(0).getInt(0)
    val expected = spark.range(42, 43)
      .select(pmod(hash($"id"), lit(8)).as("b")).collect()(0).getInt(0)
    assert(direct === expected, "SQL bucket() must equal pmod(hash(k), n)")

    // v2 bucketing shuffle: joining a bucketed table with a PLAIN source
    // shuffles only the plain side — by OUR bucket function — so a wrong
    // produceResult would send rows to the wrong buckets and lose matches
    val t = "gspj.ns.bk_shuffle"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT, v DOUBLE) PARTITIONED BY (bucket(8, k))")
    spark.range(1000).select($"id".as("k"), ($"id" * 1.0).as("v")).writeTo(t).append()
    val plainDir = java.nio.file.Files.createTempDirectory("spj_plain").toString
    spark.range(400).select($"id".as("pk"), lit(1L).as("w"))
      .write.mode("overwrite").parquet(plainDir)
    val prevAuto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.sources.v2.bucketing.shuffle.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table(t)
        .join(spark.read.parquet(plainDir), $"k" === $"pk")
        .agg(count(lit(1)).as("n"))
      assert(joined.collect()(0).getLong(0) === 400L,
        "every plain-side row must land in its key's bucket")
    } finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.shuffle.enabled")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevAuto)
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      spark.sql(s"DROP TABLE $t")
    }
  }

  test("ASYMMETRIC key sets join with zero shuffles (push part values fills the gaps)") {
    import spark.implicits._
    // A holds r0..r4, B only r0..r2: Spark pads the missing groups with
    // empty partitions instead of falling back to a shuffle
    spark.sql("DROP TABLE IF EXISTS gspj.ns.asym_a")
    spark.sql("DROP TABLE IF EXISTS gspj.ns.asym_b")
    spark.sql("CREATE TABLE gspj.ns.asym_a (k BIGINT, region STRING, v DOUBLE) PARTITIONED BY (region)")
    spark.sql("CREATE TABLE gspj.ns.asym_b (k BIGINT, region STRING, v DOUBLE) PARTITIONED BY (region)")
    (0 until 2500).map(i => (i.toLong, s"r${i % 5}", i * 1.0))
      .toDF("k", "region", "v").writeTo("gspj.ns.asym_a").append()
    (0 until 900).map(i => (i.toLong, s"r${i % 3}", i * 2.0))
      .toDF("k", "region", "v").writeTo("gspj.ns.asym_b").append()
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (c, _) => c -> spark.conf.getOption(c) }
    try {
      confs.foreach { case (c, v) => spark.conf.set(c, v) }
      val b = spark.table("gspj.ns.asym_b")
        .select($"region".as("r2"), $"v".as("v2"))
      val joined = spark.table("gspj.ns.asym_a")
        .join(b, $"region" === $"r2")
        .groupBy($"region").agg(count(lit(1)).as("n"), sum($"v2").as("s2"))
      val rows = joined.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(shuffles(joined) === 0, s"asymmetric SPJ must not shuffle:\n${joined.queryExecution.executedPlan}")
      // inner join keeps only B's regions; per-region cardinality = |A| x |B|
      assert(rows === Map("r0" -> 500L * 300L, "r1" -> 500L * 300L, "r2" -> 500L * 300L))

      // partially-clustered distribution (skew handling) stays exact
      spark.conf.set(
        "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled", "true")
      val joined2 = spark.table("gspj.ns.asym_a")
        .join(b, $"region" === $"r2")
        .groupBy($"region").agg(count(lit(1)).as("n"))
      val rows2 = joined2.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(rows2 === Map("r0" -> 500L * 300L, "r1" -> 500L * 300L, "r2" -> 500L * 300L))
      // partially-clustered output is no longer key-grouped, so the
      // downstream aggregate legitimately exchanges — the JOIN must not
      assert(joinInputShuffles(joined2) === 0,
        s"partially-clustered SPJ join must not shuffle its inputs:\n${joined2.queryExecution.executedPlan}")
    } finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled")
      prev.foreach { case (c, v) => v match {
        case Some(x) => spark.conf.set(c, x)
        case None => spark.conf.unset(c)
      } }
      spark.sql("DROP TABLE gspj.ns.asym_a")
      spark.sql("DROP TABLE gspj.ns.asym_b")
    }
  }

  test("hidden-DAY layouts join on the timestamp with zero shuffles (days() clustering)") {
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS gspj.ns.day_a")
    spark.sql("DROP TABLE IF EXISTS gspj.ns.day_b")
    spark.sql("CREATE TABLE gspj.ns.day_a (k BIGINT, ts TIMESTAMP_NTZ, v DOUBLE) PARTITIONED BY (days(ts))")
    spark.sql("CREATE TABLE gspj.ns.day_b (k BIGINT, ts TIMESTAMP_NTZ, w DOUBLE) PARTITIONED BY (days(ts))")
    def rowsFor(n: Int): Seq[(Long, java.time.LocalDateTime, Double)] =
      (0 until n).map(i => (i.toLong,
        java.time.LocalDateTime.of(2024, 6, 1 + i % 4, i % 24, 0), i * 1.0))
    rowsFor(800).toDF("k", "ts", "v").writeTo("gspj.ns.day_a").append()
    rowsFor(400).toDF("k", "ts", "w").writeTo("gspj.ns.day_b").append()
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (c, _) => c -> spark.conf.getOption(c) }
    try {
      confs.foreach { case (c, v) => spark.conf.set(c, v) }
      val b = spark.table("gspj.ns.day_b").select($"ts".as("ts2"), $"w")
      val joined = spark.table("gspj.ns.day_a").join(b, $"ts" === $"ts2")
        .agg(count(lit(1)).as("n"), sum($"v" + $"w").as("s"))
      val row = joined.collect()(0)
      // the global aggregate's SinglePartition exchange is out of scope;
      // the ts-equality JOIN over the day-clustered scans must not shuffle
      assert(joinInputShuffles(joined) === 0,
        s"day-clustered join must not shuffle its inputs:\n${joined.queryExecution.executedPlan}")
      // exact recompute of the ts-equality join
      val am = rowsFor(800).groupBy(_._2).view.mapValues(_.map(x => (x._1, x._3))).toMap
      val expected = rowsFor(400).flatMap { case (_, ts, w) =>
        am.getOrElse(ts, Nil).map { case (_, v) => v + w } }
      assert(row.getLong(0) === expected.size.toLong)
      assert(math.abs(row.getDouble(1) - expected.sum) < 1e-6)
    } finally {
      prev.foreach { case (c, v) => v match {
        case Some(x) => spark.conf.set(c, x)
        case None => spark.conf.unset(c)
      } }
      spark.sql("DROP TABLE gspj.ns.day_a")
      spark.sql("DROP TABLE gspj.ns.day_b")
    }
  }

  test("hidden-MONTHS layouts join on the timestamp with zero shuffles (months() clustering)") {
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS gspj.ns.mon_a")
    spark.sql("DROP TABLE IF EXISTS gspj.ns.mon_b")
    spark.sql("CREATE TABLE gspj.ns.mon_a (k BIGINT, ts TIMESTAMP_NTZ, v DOUBLE) PARTITIONED BY (months(ts))")
    spark.sql("CREATE TABLE gspj.ns.mon_b (k BIGINT, ts TIMESTAMP_NTZ, w DOUBLE) PARTITIONED BY (months(ts))")
    def rowsFor(n: Int): Seq[(Long, java.time.LocalDateTime, Double)] =
      (0 until n).map(i => (i.toLong,
        java.time.LocalDateTime.of(2024, 1 + i % 5, 1 + i % 28, i % 24, 0), i * 1.0))
    rowsFor(900).toDF("k", "ts", "v").writeTo("gspj.ns.mon_a").append()
    rowsFor(500).toDF("k", "ts", "w").writeTo("gspj.ns.mon_b").append()
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (c, _) => c -> spark.conf.getOption(c) }
    try {
      confs.foreach { case (c, v) => spark.conf.set(c, v) }
      val b = spark.table("gspj.ns.mon_b").select($"ts".as("ts2"), $"w")
      val joined = spark.table("gspj.ns.mon_a").join(b, $"ts" === $"ts2")
        .agg(count(lit(1)).as("n"), sum($"v" + $"w").as("s"))
      val row = joined.collect()(0)
      assert(joinInputShuffles(joined) === 0,
        s"months-clustered join must not shuffle its inputs:\n${joined.queryExecution.executedPlan}")
      val am = rowsFor(900).groupBy(_._2).view.mapValues(_.map(x => (x._1, x._3))).toMap
      val expected = rowsFor(500).flatMap { case (_, ts, w) =>
        am.getOrElse(ts, Nil).map { case (_, v) => v + w } }
      assert(row.getLong(0) === expected.size.toLong)
      assert(math.abs(row.getDouble(1) - expected.sum) < 1e-6)
    } finally {
      prev.foreach { case (c, v) => v match {
        case Some(x) => spark.conf.set(c, x)
        case None => spark.conf.unset(c)
      } }
      spark.sql("DROP TABLE gspj.ns.mon_a")
      spark.sql("DROP TABLE gspj.ns.mon_b")
    }
  }

  test("hidden-YEARS layouts over DATE join with zero shuffles (years() clustering)") {
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS gspj.ns.yr_a")
    spark.sql("DROP TABLE IF EXISTS gspj.ns.yr_b")
    spark.sql("CREATE TABLE gspj.ns.yr_a (k BIGINT, d DATE, v DOUBLE) PARTITIONED BY (years(d))")
    spark.sql("CREATE TABLE gspj.ns.yr_b (k BIGINT, d DATE, w DOUBLE) PARTITIONED BY (years(d))")
    def rowsFor(n: Int): Seq[(Long, java.time.LocalDate, Double)] =
      (0 until n).map(i => (i.toLong,
        java.time.LocalDate.of(2021 + i % 4, 1 + i % 12, 1 + i % 28), i * 1.0))
    rowsFor(700).toDF("k", "d", "v").writeTo("gspj.ns.yr_a").append()
    rowsFor(300).toDF("k", "d", "w").writeTo("gspj.ns.yr_b").append()
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (c, _) => c -> spark.conf.getOption(c) }
    try {
      confs.foreach { case (c, v) => spark.conf.set(c, v) }
      val b = spark.table("gspj.ns.yr_b").select($"d".as("d2"), $"w")
      val joined = spark.table("gspj.ns.yr_a").join(b, $"d" === $"d2")
        .agg(count(lit(1)).as("n"), sum($"v" + $"w").as("s"))
      val row = joined.collect()(0)
      assert(joinInputShuffles(joined) === 0,
        s"years-clustered join must not shuffle its inputs:\n${joined.queryExecution.executedPlan}")
      val am = rowsFor(700).groupBy(_._2).view.mapValues(_.map(x => (x._1, x._3))).toMap
      val expected = rowsFor(300).flatMap { case (_, d, w) =>
        am.getOrElse(d, Nil).map { case (_, v) => v + w } }
      assert(row.getLong(0) === expected.size.toLong)
      assert(math.abs(row.getDouble(1) - expected.sum) < 1e-6)
    } finally {
      prev.foreach { case (c, v) => v match {
        case Some(x) => spark.conf.set(c, x)
        case None => spark.conf.unset(c)
      } }
      spark.sql("DROP TABLE gspj.ns.yr_a")
      spark.sql("DROP TABLE gspj.ns.yr_b")
    }
  }

  test("truncate-clustered tables (string prefix and integral floor) join with zero shuffles") {
    import spark.implicits._
    // string prefix: ids sharing a 3-char prefix co-locate; dirs are
    // hive-escaped (the ':' forces escaping) and must parse back exactly
    for (t <- Seq("gspj.ns.tr_a", "gspj.ns.tr_b")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"CREATE TABLE $t (id STRING, v DOUBLE) PARTITIONED BY (truncate(3, id))")
    }
    def srows(n: Int): Seq[(String, Double)] =
      (0 until n).map(i => (s"${('a' + i % 4).toChar}:${i % 7}-suffix$i", i * 1.0))
    srows(600).toDF("id", "v").writeTo("gspj.ns.tr_a").append()
    srows(350).toDF("id", "v").writeTo("gspj.ns.tr_b").append()
    // integral floor: k floors to multiples of 100
    for (t <- Seq("gspj.ns.tri_a", "gspj.ns.tri_b")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"CREATE TABLE $t (k BIGINT, v DOUBLE) PARTITIONED BY (truncate(100, k))")
    }
    spark.range(800).select($"id".as("k"), ($"id" * 1.0).as("v")).writeTo("gspj.ns.tri_a").append()
    spark.range(500).select($"id".as("k"), ($"id" * 2.0).as("v")).writeTo("gspj.ns.tri_b").append()
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (c, _) => c -> spark.conf.getOption(c) }
    try {
      confs.foreach { case (c, v) => spark.conf.set(c, v) }
      val js = spark.table("gspj.ns.tr_a")
        .join(spark.table("gspj.ns.tr_b").select($"id".as("id2"), $"v".as("v2")),
          $"id" === $"id2")
        .agg(count(lit(1)).as("n"))
      assert(js.collect()(0).getLong(0) === 350L, "each b-row matches its a twin")
      assert(joinInputShuffles(js) === 0,
        s"string-truncate join must not shuffle its inputs:\n${js.queryExecution.executedPlan}")
      val ji = spark.table("gspj.ns.tri_a")
        .join(spark.table("gspj.ns.tri_b").select($"k".as("k2"), $"v".as("v2")),
          $"k" === $"k2")
        .agg(count(lit(1)).as("n"), sum($"v" + $"v2").as("s"))
      val row = ji.collect()(0)
      assert(row.getLong(0) === 500L && row.getDouble(1) === (0 until 500).map(_ * 3.0).sum)
      assert(joinInputShuffles(ji) === 0,
        s"integral-truncate join must not shuffle its inputs:\n${ji.queryExecution.executedPlan}")
    } finally {
      prev.foreach { case (c, v) => v match {
        case Some(x) => spark.conf.set(c, x)
        case None => spark.conf.unset(c)
      } }
      for (t <- Seq("gspj.ns.tr_a", "gspj.ns.tr_b", "gspj.ns.tri_a", "gspj.ns.tri_b"))
        spark.sql(s"DROP TABLE $t")
    }
  }

  test("months over session-zone TIMESTAMP declines clustering; a NULL months dir declines too") {
    import spark.implicits._
    // TIMESTAMP (with zone): dir names were written in the writer's zone —
    // not a pure function of the value, so the scan must plan unkeyed
    spark.sql("DROP TABLE IF EXISTS gspj.ns.mon_tz")
    spark.sql("CREATE TABLE gspj.ns.mon_tz (k BIGINT, ts TIMESTAMP) PARTITIONED BY (months(ts))")
    Seq((1L, java.sql.Timestamp.valueOf("2024-03-05 10:00:00")),
        (2L, java.sql.Timestamp.valueOf("2024-04-01 00:30:00")))
      .toDF("k", "ts").writeTo("gspj.ns.mon_tz").append()
    // NULL ts under a wall-clock type: __HIVE_DEFAULT_PARTITION__ has no key
    spark.sql("DROP TABLE IF EXISTS gspj.ns.mon_null")
    spark.sql("CREATE TABLE gspj.ns.mon_null (k BIGINT, ts TIMESTAMP_NTZ) PARTITIONED BY (months(ts))")
    Seq((1L, Some(java.time.LocalDateTime.of(2024, 3, 5, 10, 0))), (2L, None))
      .toDF("k", "ts").writeTo("gspj.ns.mon_null").append()
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      for (t <- Seq("gspj.ns.mon_tz", "gspj.ns.mon_null")) {
        // reported partitioning must be unknown (no key-grouping), through
        // whatever wrapper layers the scan planned with
        val keyed = spark.table(t).queryExecution.executedPlan.collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.scan match {
              case p: org.apache.spark.sql.connector.read.SupportsReportPartitioning =>
                p.outputPartitioning().isInstanceOf[
                  org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning]
              case _ => false
            }
        }
        assert(keyed.nonEmpty && keyed.forall(_ == false),
          s"$t must decline months clustering")
        assert(spark.table(t).count() === 2)
      }
    } finally {
      spark.sql("DROP TABLE gspj.ns.mon_tz")
      spark.sql("DROP TABLE gspj.ns.mon_null")
    }
  }

  test("a NULL-day directory declines day clustering instead of crashing the plan") {
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS gspj.ns.day_n")
    spark.sql("CREATE TABLE gspj.ns.day_n (k BIGINT, ts TIMESTAMP_NTZ) PARTITIONED BY (days(ts))")
    Seq((1L, Some(java.time.LocalDateTime.of(2024, 6, 1, 8, 0))),
        (2L, None), (3L, Some(java.time.LocalDateTime.of(2024, 6, 2, 8, 0))))
      .toDF("k", "ts").writeTo("gspj.ns.day_n").append()
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      // the __HIVE_DEFAULT_PARTITION__ dir has no date key: the scan must
      // plan unkeyed (and stay exact), not throw parsing the path
      assert(spark.table("gspj.ns.day_n").count() === 3)
      assert(spark.table("gspj.ns.day_n").where($"ts".isNull)
        .select($"k").as[Long].collect().toSeq === Seq(2L))
    } finally {
      spark.sql("DROP TABLE gspj.ns.day_n")
    }
  }

  test("keyed planning keeps filter pruning and row-level filters exact") {
    import spark.implicits._
    writeFacts("gspj.ns.fact_e", 0)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val one = spark.table("gspj.ns.fact_e")
        .where($"region" === "r1" && $"v" < 100.0)
      assert(one.count() === 25, "identity + data filters stay exact under keyed planning")
      // partition pruning still reaches the file listing through the wrapper
      val scanned = one.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
      }.map(graft.sources.v2.GraftScans.innermost).collect {
        case p: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan =>
          p.fileIndex.inputFiles.length
      }.sum
      val all = spark.table("gspj.ns.fact_e").queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
      }.map(graft.sources.v2.GraftScans.innermost).collect {
        case p: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan =>
          p.fileIndex.inputFiles.length
      }.sum
      assert(scanned > 0 && scanned < all)
    } finally {
      spark.sql("DROP TABLE gspj.ns.fact_e")
    }
  }
}
