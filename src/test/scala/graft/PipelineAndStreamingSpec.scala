package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Medallion
import graft.silver.{Ingest, Merge}
import graft.sources.{Formats, Versioned}
import graft.streaming.MicroBatch

class PipelineAndStreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  test("medallion: bronze CSV batches -> silver merge -> gold fanout") {
    val work = Files.createTempDirectory("medallion").toString
    val bronze = s"$work/bronze"; val silver = s"$work/silver/events"; val gold = s"$work/gold"

    // two overlapping batches: ids ≡ 0,1 (mod 3) then ids ≡ 1,2 (mod 3)
    Medallion.landBronzeBatch(spark, sf, bronze, "b1", 3, 0)
    Medallion.landBronzeBatch(spark, sf, bronze, "b1b", 3, 1)
    val n1 = Medallion.bronzeToSilver(spark, bronze, silver)
    Medallion.landBronzeBatch(spark, sf, bronze, "b2", 3, 2)
    val n2 = Medallion.bronzeToSilver(spark, bronze, silver)

    val total = Tables.events(spark, sf).count()
    assert(n2 === total, s"after both batches silver must hold all $total events")
    assert(n1 < n2)
    // idempotence: re-running with no new bronze keeps the count
    assert(Medallion.bronzeToSilver(spark, bronze, silver) === total)

    val outs = Medallion.silverToGold(spark, silver, gold)
    assert(outs.keySet === Set("parquet", "orc", "avro"))
    // parquet leg is partitioned by ano/mes and readable
    val back = spark.read.parquet(outs("parquet"))
    assert(back.count() > 0)
    assert(back.columns.toSet ===
      Set("ano", "mes", "user_id", "volume", "total_transacoes"))
  }

  /** The bronze→silver step as the reference runs it: re-read the whole
    * bronze glob, keep rows newer than the silver watermark, dedup, merge. */
  private def fullGlobSilver(bronze: String, silver: String): Unit = {
    val all = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(s"$bronze/events/*")
    val silverExists = Versioned.exists(silver)
    val incremental =
      if (!silverExists) all
      else {
        val wm = Versioned.read(spark, silver)
          .agg(max(col("ingestion_timestamp"))).first().get(0)
        if (wm == null) all else Ingest.newerThanWatermark(all, "ingestion_timestamp", wm)
      }
    val staging = Ingest.dedupLatest(incremental, Seq("event_id"), "ingestion_timestamp", "event_id")
    val merged =
      if (!silverExists) staging
      else Merge.upsert(Versioned.read(spark, silver), staging, Seq("event_id"))
    Versioned.commit(merged, silver)
  }

  test("medallion: reading only unconsumed bronze files equals the full-glob re-read") {
    val work = Files.createTempDirectory("medallion_inc").toString
    val bronze = s"$work/bronze"
    val silver = s"$work/silver/events"; val reference = s"$work/reference/events"
    val events = Tables.events(spark, sf)
    val total = events.count()
    def land(batchId: String, df: DataFrame): Unit =
      Formats.writeCsvPartitioned(df, bronze, "events", batchId)
    def consumed: Option[Seq[String]] =
      Versioned.sidecar(silver, Versioned.currentVersion(silver).get, "consumed")
        .map(_.linesIterator.toSeq)
    def csvFiles: Int = Files.walk(Paths.get(bronze)).iterator().asScala
      .count(_.getFileName.toString.endsWith(".csv"))
    def watermark: Any = Versioned.read(spark, silver)
      .agg(max(col("ingestion_timestamp"))).first().get(0)
    def step(what: String): Long = {
      val n = Medallion.bronzeToSilver(spark, bronze, silver)
      fullGlobSilver(bronze, reference)
      val (got, want) = (Versioned.read(spark, silver), Versioned.read(spark, reference))
      assert(got.schema === want.schema, what)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty, what)
      assert(n === want.count(), what)
      n
    }

    // first load: silver is new, every listed file is read and recorded
    Medallion.landBronzeBatch(spark, sf, bronze, "b1", 3, 0)
    Medallion.landBronzeBatch(spark, sf, bronze, "b1b", 3, 1)
    val n1 = step("first load")
    assert(consumed.map(_.size) === Some(csvFiles))

    // re-delivered keys with new values win the merge
    land("b2", events.where(col("event_id") % 2 === 0 && col("event_id") % 3 =!= 2)
      .withColumn("value", col("value") + 1.0)
      .withColumn("ingestion_timestamp", current_timestamp()))
    assert(step("re-delivered keys") === n1)
    assert(consumed.map(_.size) === Some(csvFiles))

    // a late batch at or below the watermark is listed but skipped
    val wm = watermark
    land("late", events.where(col("event_id") % 5 === 0)
      .withColumn("event_type", lit("late"))
      .withColumn("ingestion_timestamp",
        when(col("event_id") % 2 === 0, lit(wm)).otherwise(lit(wm) - expr("INTERVAL 1 HOUR"))))
    assert(step("late batch") === n1)
    assert(Versioned.read(spark, silver).where(col("event_type") === "late").isEmpty)
    val beforeRelanding = Versioned.currentVersion(silver).get

    // the same batch id landed again: new file names, new rows
    land("b2", events.where(col("event_id") % 3 === 2)
      .withColumn("ingestion_timestamp", current_timestamp()))
    assert(step("re-landed batch id") === total)

    // rollback restores the older list, so the re-landed files are read again
    Versioned.rollback(silver, beforeRelanding)
    Versioned.rollback(reference, Versioned.currentVersion(reference).get - 1)
    assert(Versioned.read(spark, silver).count() === n1)
    assert(step("rerun after rollback") === total)

    // a live snapshot without a list (compaction commits none): full read
    Versioned.compact(spark, silver)
    Versioned.compact(spark, reference)
    assert(consumed.isEmpty)
    land("b3", events.where(col("event_id") % 7 === 0)
      .withColumn("event_type", lit("b3"))
      .withColumn("ingestion_timestamp", current_timestamp()))
    assert(step("live snapshot without a list") === total)
    assert(consumed.map(_.size) === Some(csvFiles))

    // a hand-written batch whose own inference is narrower than silver:
    // integral values (INT where silver has DOUBLE) and all-empty columns
    // (STRING on their own; an INT column would widen to BIGINT)
    val schema = Versioned.read(spark, silver).schema
    val at = java.time.Instant.now().plusSeconds(1)
      .truncatedTo(java.time.temporal.ChronoUnit.MILLIS)
    val hand = Paths.get(s"$bronze/events/batch_id=hand/part-00000.csv")
    Files.createDirectories(hand.getParent)
    Files.write(hand, (Seq(events.columns.mkString(",") + ",ingestion_timestamp") ++
      Seq(1, 2, 3).map(k => s"$k,2024-01-02T03:04:05.000,,hand,$k,,$at")).asJava)
    assert(step("narrower batch") === total)
    assert(Versioned.read(spark, silver).schema === schema, "silver's schema must not change")
    assert(Versioned.read(spark, silver).where(col("event_type") === "hand")
      .select(col("value")).collect().map(_.getDouble(0)).sorted.toSeq === Seq(1.0, 2.0, 3.0))

    // a rerun with no new bronze file returns the count and commits nothing
    val live = Versioned.currentVersion(silver)
    assert(Medallion.bronzeToSilver(spark, bronze, silver) === total)
    assert(Versioned.currentVersion(silver) === live)
  }

  test("fanout: identical data in parquet/orc/avro, partitioned") {
    val work = Files.createTempDirectory("fanout").toString
    val df = Tables.orders(spark, sf).withColumn("yr", year(col("o_orderdate")))
    val outs = Formats.fanout(df, work, "orders", partitionCols = Seq("yr"))
    val n = df.count()
    outs.foreach { case (fmt, path) =>
      assert(spark.read.format(fmt).load(path).count() === n, s"$fmt row count")
    }
    // partition dirs exist on disk
    assert(new java.io.File(outs("parquet")).listFiles.exists(_.getName.startsWith("yr=")))
  }

  test("partitioned read prunes partitions: filter lands in PartitionFilters") {
    val work = Files.createTempDirectory("prune").toString
    val df = Tables.orders(spark, sf).withColumn("yr", year(col("o_orderdate")))
    val outs = Formats.fanout(df, work, "orders", partitionCols = Seq("yr"))
    val q = spark.read.parquet(outs("parquet")).where(col("yr") === 1997)
    val plan = q.queryExecution.executedPlan.toString
    // the yr predicate must prune at the partition level, not post-scan
    assert(plan.contains("PartitionFilters") && plan.contains("yr"),
      "partition filter missing:\n" + plan.take(600))
    val expected = df.where(col("yr") === 1997).count()
    assert(q.count() === expected && expected > 0)
  }

  test("catalog fanout tables: existence probe + DDL + saveAsTable") {
    val df = Tables.region(spark, sf)
    val names = Formats.fanoutTables(spark, df, "graft_test", "region")
    names.foreach { n =>
      assert(spark.catalog.tableExists(n))
      assert(spark.table(n).count() === df.count())
    }
    // idempotent: second run drops and recreates
    Formats.fanoutTables(spark, df, "graft_test", "region")
    names.foreach(n => assert(spark.table(n).count() === df.count()))
  }

  test("bucketed tables: co-located join plans without a shuffle exchange") {
    val li  = Tables.lineitem(spark, sf).select("l_orderkey", "l_extendedprice")
    val ord = Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
    Formats.writeBucketed(spark, li, "graft_test", "li_b", 8, Seq("l_orderkey"))
    Formats.writeBucketed(spark, ord.withColumnRenamed("o_orderkey", "l_orderkey"),
      "graft_test", "ord_b", 8, Seq("l_orderkey"))

    val joined = spark.table("graft_test.li_b")
      .join(spark.table("graft_test.ord_b"), Seq("l_orderkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      "bucketed join must not shuffle:\n" + plan.take(800))
    assert(joined.count() === li.count())   // every lineitem matches its order
  }

  test("streaming: watermarked windowed aggregate over a memory stream") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val events = mem.toDF().toDF("ts", "event_type", "value")

    val q = MicroBatch.windowedTypeMetrics(events, "1 hour", "30 minutes")
      .writeStream.format("memory").queryName("win_out")
      .outputMode("append").start()
    def t(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    mem.addData((t(1, 10), "click", 10.0), (t(1, 20), "click", 5.0), (t(1, 30), "view", 1.0))
    q.processAllAvailable()
    mem.addData((t(5, 0), "click", 2.0))   // advances watermark past hour 1
    q.processAllAvailable()
    mem.addData((t(6, 0), "view", 1.0))    // next batch emits closed windows
    q.processAllAvailable()
    val rows = spark.table("win_out").collect()
    q.stop()
    // hour-1 windows are closed and emitted: click n=2 volume=15, view n=1
    assert(rows.exists(r => r.getAs[String]("event_type") == "click"
      && r.getAs[Long]("n") == 2L
      && math.abs(r.getAs[Double]("volume") - 15.0) < 1e-9))
    assert(rows.exists(r => r.getAs[String]("event_type") == "view"))
  }

  test("streaming: file-source readStream drives the windowed aggregate") {
    val work = Files.createTempDirectory("stream_files").toString
    val in = s"$work/in"
    // land the real events table as the stream's first file batch
    // (watermarks need TIMESTAMP, not the table's NTZ)
    val batch = Tables.events(spark, sf)
      .select(col("ts").cast("timestamp").as("ts"), col("event_type"), col("value"))
    batch.write.mode("overwrite").parquet(in)

    val stream = spark.readStream.schema(batch.schema).parquet(in)
    val q = MicroBatch.windowedTypeMetrics(stream, "1 day", "1 hour")
      .writeStream.format("memory").queryName("file_win_out")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // append mode only emits watermark-closed windows; with a single batch
    // the final window stays open, so compare against the batch-mode
    // equivalent for the closed prefix
    val streamed = spark.table("file_win_out")
      .select(col("window.start").as("ws"), col("event_type"), col("n"), col("volume"))
      .collect().map(_.toSeq).toSet
    val batchEq = MicroBatch.windowedTypeMetrics(batch, "1 day", "1 hour")
      .select(col("window.start").as("ws"), col("event_type"), col("n"), col("volume"))
    val maxTs = batch.agg(max(col("ts"))).first().getAs[java.sql.Timestamp](0)
    val closed = batchEq.where(
      col("ws") + expr("INTERVAL 1 DAY") <= lit(maxTs) - expr("INTERVAL 1 HOUR"))
      .collect().map(_.toSeq).toSet
    assert(closed.nonEmpty && closed.subsetOf(streamed))
  }

  test("streaming: foreachBatch upsert sink merges micro-batches by key") {
    import spark.implicits._
    val work = Files.createTempDirectory("stream_upsert").toString
    val target = s"$work/events"; val ckpt = s"$work/ckpt"

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    mem.addData((1L, "a"), (2L, "b"))
    val q1 = MicroBatch.upsertSink(mem.toDF().toDF("k", "v"), target, Seq("k"), ckpt)
    q1.awaitTermination()

    mem.addData((2L, "B"), (3L, "c"))
    val q2 = MicroBatch.upsertSink(mem.toDF().toDF("k", "v"), target, Seq("k"), ckpt)
    q2.awaitTermination()

    val got = graft.sources.Versioned.read(spark, target).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "a", 2L -> "B", 3L -> "c"))
  }

  test("streaming: append sink lands micro-batches as manifest commits, replay-idempotent") {
    import spark.implicits._
    val work = Files.createTempDirectory("stream_append").toString
    val target = s"$work/tbl"; val ckpt = s"$work/ckpt"

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    mem.addData((1L, "a"), (2L, "b"))
    MicroBatch.appendSink(mem.toDF().toDF("k", "v"), target, "app1", ckpt)
      .awaitTermination()
    mem.addData((3L, "c"))
    MicroBatch.appendSink(mem.toDF().toDF("k", "v"), target, "app1", ckpt)
      .awaitTermination()

    val got = graft.sources.ManifestTable.read(spark, target)
    assert(got.count() === 3)
    // the live manifest carries the batch marker forward
    val props = graft.sources.ManifestTable.liveProps(target)
    assert(props.get("stream.app1.batch").exists(_.toLong >= 1L))

    // a replay of an already-committed batch id is skipped entirely
    val replay = Seq((9L, "dup")).toDF("k", "v")
    val lastBatch = props("stream.app1.batch").toLong
    assert(!MicroBatch.appendBatchIdempotent(replay, target, "app1", lastBatch))
    assert(graft.sources.ManifestTable.read(spark, target).count() === 3)
    // a NEW batch id commits
    assert(MicroBatch.appendBatchIdempotent(replay, target, "app1", lastBatch + 1))
    assert(graft.sources.ManifestTable.read(spark, target).count() === 4)
    // independent sinks (other appId) keep their own marker
    assert(MicroBatch.appendBatchIdempotent(
      Seq((10L, "x")).toDF("k", "v"), target, "app2", 0L))
    assert(graft.sources.ManifestTable.liveProps(target).keySet
      -- Set(graft.sources.ManifestTable.OpProp)
      === Set("stream.app1.batch", "stream.app2.batch"))
  }

  test("streaming: an empty first micro-batch never bricks a new table root") {
    import spark.implicits._
    val target = Files.createTempDirectory("stream_empty").toString + "/tbl"
    val empty = Seq.empty[(Long, java.sql.Timestamp, String)].toDF("k", "ts", "v")
    // day-partitioned empty write produces zero pool files; committing an
    // empty manifest would make every later read fail — must be skipped
    assert(!MicroBatch.appendBatchIdempotent(empty, target, "app", 0L, Some("ts")))
    assert(!graft.sources.ManifestTable.exists(target))
    // the first real batch then initializes the table normally
    val batch = Seq((1L, java.sql.Timestamp.valueOf("2024-03-01 10:00:00"), "a"))
      .toDF("k", "ts", "v")
    assert(MicroBatch.appendBatchIdempotent(batch, target, "app", 1L, Some("ts")))
    assert(graft.sources.ManifestTable.read(spark, target).count() === 1)
    // an empty LATER batch is fine: marker-only commit keeps ids monotonic
    assert(MicroBatch.appendBatchIdempotent(empty, target, "app", 2L, Some("ts")))
    assert(graft.sources.ManifestTable.read(spark, target).count() === 1)
    assert(graft.sources.ManifestTable.liveProps(target)("stream.app.batch") === "2")
  }

  test("streaming: mapGroupsWithState running totals") {
    import spark.implicits._
    val events = Seq((1L, 10.0), (1L, 5.0), (2L, 2.0))
      .toDF("user_id", "value")
    val out = MicroBatch.runningUserTotals(spark, events).collect()
      .map(a => a.user_id -> ((a.n_events, a.total_value))).toMap
    assert(out(1L) === ((2L, 15.0)))
    assert(out(2L) === ((1L, 2.0)))
  }

  test("streaming: session_window sessionization closes sessions at the gap") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long, Double)]
    val events = mem.toDF().toDF("ts", "user_id", "value")
    val q = MicroBatch.sessionizedStream(events, "30 minutes", "10 minutes")
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    def t(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    // user 7: two events 10 min apart (one session), then silence
    mem.addData((t(1, 0), 7L, 1.0), (t(1, 10), 7L, 2.0))
    q.processAllAvailable()
    mem.addData((t(4, 0), 7L, 5.0))   // watermark passes; first session closes
    q.processAllAvailable()
    mem.addData((t(8, 0), 9L, 1.0))
    q.processAllAvailable()
    val rows = spark.table("sess_out").collect()
    q.stop()
    val s = rows.filter(_.getAs[Long]("user_id") == 7L)
    assert(s.exists(r => r.getAs[Long]("n_events") == 2L
      && math.abs(r.getAs[Double]("volume") - 3.0) < 1e-9
      && r.getAs[java.sql.Timestamp]("se").getTime
        - r.getAs[java.sql.Timestamp]("ss").getTime == 40 * 60 * 1000)) // 10 min span + 30 min gap
  }

  test("streaming: AvailableNow file-stream aggregate equals the batch recompute") {
    val streamed = MicroBatch.streamTumblingVolume(spark, sf).collect()
      .map(r => (r.getAs[java.time.LocalDateTime]("ws"),
        r.getAs[Long]("n_events"), r.getAs[Double]("volume"))).sortBy(_._1.toString).toSeq
    val batch = Tables.events(spark, sf)
      .groupBy(window(col("ts"), "3 hours"))
      .agg(count(lit(1)).as("n"), graft.Dsl.dsum(col("value")).as("v"))
      .select(col("window.start").as("ws"), col("n"), col("v"))
      .collect()
      .map(r => (r.getAs[java.time.LocalDateTime]("ws"),
        r.getAs[Long]("n"), r.getAs[Double]("v"))).sortBy(_._1.toString).toSeq
    assert(streamed === batch, "streaming and batch must agree bit-for-bit")
  }

  test("streaming: dropDuplicatesWithinWatermark keeps first arrival per key") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long, String)]
    val events = mem.toDF().toDF("ts", "event_id", "payload")
    val q = MicroBatch.streamingDedup(events, Seq("event_id"), "10 minutes")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    def t(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    mem.addData((t(1, 0), 100L, "first"), (t(1, 1), 100L, "dup"),
      (t(1, 2), 101L, "other"))
    q.processAllAvailable()
    mem.addData((t(1, 5), 100L, "late-dup"))
    q.processAllAvailable()
    val rows = spark.table("dedup_out").collect()
    q.stop()
    assert(rows.count(_.getAs[Long]("event_id") == 100L) === 1)
    assert(rows.find(_.getAs[Long]("event_id") == 100L).get
      .getAs[String]("payload") === "first")
    assert(rows.count(_.getAs[Long]("event_id") == 101L) === 1)
  }
}
