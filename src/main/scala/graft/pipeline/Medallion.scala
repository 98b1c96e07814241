package graft.pipeline

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.Tables
import graft.gold.Analytics
import graft.silver.{Ingest, Merge}
import graft.sources.{Formats, Versioned}

/** End-to-end medallion orchestration — the reference's three DAGs as one
  * callable pipeline (SURVEY §3): bronze CSV batches → incremental
  * watermark filter + dedup + merge into silver → gold full-refresh
  * analytics fan-out.
  *
  * The reference's control flow is imperative Python over table configs;
  * here it is imperative Scala over DataFrames, with all data movement in
  * Spark plans. Each stage is idempotent (MERGE semantics / full refresh),
  * mirroring the reference's exactly-once-per-batch behavior.
  */
object Medallion {

  /** Bronze: land a batch of events as partitioned, headered CSV
    * (`dags/1_generate_bronze_batch.py:142-149` shape). */
  def landBronzeBatch(spark: SparkSession, dir: String, base: String,
                      batchId: String, mod: Int, rem: Int): Unit = {
    val batch = Tables.events(spark, dir)
      .where(col("event_id") % mod === rem)
      .withColumn("ingestion_timestamp", current_timestamp())
    Formats.writeCsvPartitioned(batch, base, "events", batchId)
  }

  /** Silver: read the bronze batches the live silver snapshot has not
    * consumed yet, keep rows newer than the silver watermark, dedup the
    * staging batch, and MERGE into the silver table. Returns the merged
    * row count (`dags/2_bronze_to_silver.py:177-298` shape).
    *
    * The reference re-reads the whole bronze glob every run; this step
    * reads only `listed − consumed`, where `listed` is what the glob reads
    * now (each file known by path, size and mtime) and `consumed` is the
    * list the live snapshot was committed with (a [[Versioned]] sidecar,
    * the set of files a Delta version or a Spark file-stream batch records
    * as read). The result is the full re-read's, row for row: every row of
    * a consumed file either failed the watermark filter of its own run or
    * lost the dedup to a row now in silver, so its `ingestion_timestamp`
    * is at or below today's watermark and the strict filter drops it
    * anyway. A rollback restores the older list with the older watermark,
    * so the files consumed since are read again. With no live snapshot,
    * no list (older code, [[Versioned.compact]]) or a NULL watermark,
    * `consumed` is empty: one code path, no switch. The staging columns
    * are typed as the full re-read would type them ([[Formats.readCsv]]
    * continues inference from silver's schema). A run that finds no new
    * bronze file commits nothing.
    *
    * The MERGE result is committed through [[Versioned]] — immutable
    * snapshot dir + atomic pointer flip — the object-store-safe stand-in
    * for the reference's Iceberg snapshot commit: the snapshot being read
    * (watermark scan + merge input) is never touched by the write, and a
    * crash mid-commit leaves the old pointer intact. */
  def bronzeToSilver(spark: SparkSession, bronzeBase: String, silverRoot: String): Long = {
    val listed = Formats.csvGlobFiles(spark, bronzeBase, "events")
    val live = Versioned.currentVersion(silverRoot)
    val silver = live.map(Versioned.readVersion(spark, silverRoot, _))
    val wm = silver.map(_.agg(max(col("ingestion_timestamp"))).first().get(0)).orNull
    val consumed = live.filter(_ => wm != null)
      .flatMap(Versioned.sidecar(silverRoot, _, ConsumedSidecar))
      .fold(Set.empty[String])(_.linesIterator.toSet)
    val fresh = listed.filterNot(f => consumed(consumedEntry(f)))
    if (fresh.isEmpty && silver.isDefined) return silver.get.count() // nothing new: no commit

    val bronze = Formats.readCsv(spark, fresh.map(_.getPath.toString),
      silver.fold(new StructType())(_.schema))
    val incremental =
      if (wm == null) bronze else Ingest.newerThanWatermark(bronze, "ingestion_timestamp", wm)

    val staging = Ingest.dedupLatest(incremental, Seq("event_id"), "ingestion_timestamp", "event_id")

    val merged = silver.fold(staging)(Merge.upsert(_, staging, Seq("event_id")))

    Versioned.commit(merged, silverRoot,
      sidecars = Map(ConsumedSidecar -> listed.map(consumedEntry).mkString("\n")))
    Versioned.read(spark, silverRoot).count()
  }

  /** Sidecar of a silver snapshot listing the bronze files it consumed,
    * one [[consumedEntry]] line each. */
  private val ConsumedSidecar = "consumed"

  private def consumedEntry(f: FileStatus): String =
    s"${f.getLen}\t${f.getModificationTime}\t${f.getPath}"

  /** Gold: full-refresh analytics over a silver events table, fanned out
    * per format with partitioned writes
    * (`dags/3_silver_to_gold.py:162-195` shape). */
  def silverToGold(spark: SparkSession, silverRoot: String, goldBase: String): Map[String, String] = {
    val events = Versioned.read(spark, silverRoot)
    events.createOrReplaceTempView("silver_events")   // S12 temp-view staging
    // cached: the three format writes share one scan and aggregate of silver
    val monthly = spark.sql(
      """SELECT year(ts) AS ano, month(ts) AS mes, user_id,
        |       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS volume,
        |       COUNT(*) AS total_transacoes
        |FROM silver_events WHERE ts IS NOT NULL GROUP BY 1, 2, 3""".stripMargin)
      .repartition(col("ano"), col("mes")).cache()
    try Formats.fanout(monthly, goldBase, "monthly_balance", partitionCols = Seq("ano", "mes"))
    finally {
      monthly.unpersist()
      spark.catalog.dropTempView("silver_events")
    }
  }
}
