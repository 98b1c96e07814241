package graft.silver

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Bronze→silver ingestion operators (reference:
  * `dags/2_bronze_to_silver.py:177-229`): the application-level
  * incremental watermark filter (P3) and key dedup (A12) — here in its
  * deterministic row_number form so results are oracle-comparable (the
  * reference's `dropDuplicates` keeps an arbitrary row; SURVEY §7.4 flags
  * this nondeterminism). The CSV reads live in [[graft.sources.Formats]].
  */
object Ingest {

  /** P3: watermark-style change capture — keep rows strictly newer than the
    * max timestamp already processed. The scalar watermark is a one-row
    * driver pull (mirrors `dags/2_bronze_to_silver.py:205-216`); the filter
    * itself is pushed into the scan by Catalyst. */
  def newerThanWatermark(df: DataFrame, tsCol: String, watermark: Any): DataFrame =
    df.where(col(tsCol) > lit(watermark))

  /** A12 (deterministic variant): one row per key, newest `tsCol` first,
    * ties broken by `tieCol` descending. Shuffles once on the key columns. */
  def dedupLatest(df: DataFrame, keys: Seq[String], tsCol: String, tieCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol).desc, col(tieCol).desc)
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }

  // ---- driver-contract query shapes over testdata ----

  private val eventCols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")

  /** Upsert: target = events with id % 3 != 0; staging = modified copies of
    * even-id events. Staging must win on matched keys. */
  def silverUpsert(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val target  = e.where(col("event_id") % 3 =!= 0)
    val staging = e.where(col("event_id") % 2 === 0)
      .withColumn("event_type", lit("updated"))
      .withColumn("value", col("value") + lit(1000.0))
    Merge.upsert(target, staging, Seq("event_id")).select(eventCols.map(col): _*)
  }

  /** Insert-only: staged rows may not overwrite existing keys. */
  def silverInsertOnly(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val target  = e.where(col("event_id") % 3 =!= 0)
    val staging = e
      .withColumn("event_type", lit("inserted"))
      .withColumn("value", lit(-1.0))
    Merge.insertOnly(target, staging, Seq("event_id")).select(eventCols.map(col): _*)
  }

  /** Deterministic key dedup of the events table. */
  def silverDedup(spark: SparkSession, dir: String): DataFrame =
    dedupLatest(Tables.events(spark, dir), Seq("user_id", "event_type"), "ts", "event_id")

  /** Incremental watermark filter: rows strictly newer than the max ts of
    * the already-processed subset (ids divisible by 4). */
  def silverIncremental(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val wm = e.where(col("event_id") % 4 === 0).agg(max(col("ts"))).first().get(0)
    newerThanWatermark(e, "ts", wm)
  }

  object oracle {
    private val cols = "event_id, ts, user_id, event_type, value, props"

    val silverUpsert: String =
      s"""WITH target AS (SELECT $cols FROM events WHERE event_id % 3 <> 0),
         |staging AS (SELECT event_id, ts, user_id, 'updated' AS event_type,
         |                   value + 1000.0 AS value, props
         |            FROM events WHERE event_id % 2 = 0)
         |SELECT * FROM staging
         |UNION ALL
         |SELECT t.* FROM target t
         |WHERE NOT EXISTS (SELECT 1 FROM staging s WHERE s.event_id = t.event_id)""".stripMargin

    val silverInsertOnly: String =
      s"""WITH target AS (SELECT $cols FROM events WHERE event_id % 3 <> 0),
         |staging AS (SELECT event_id, ts, user_id, 'inserted' AS event_type,
         |                   -1.0 AS value, props
         |            FROM events)
         |SELECT * FROM target
         |UNION ALL
         |SELECT s.* FROM staging s
         |WHERE NOT EXISTS (SELECT 1 FROM target t WHERE t.event_id = s.event_id)""".stripMargin

    val silverDedup: String =
      s"""SELECT $cols FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
         |                               ORDER BY ts DESC, event_id DESC) AS rn
         |  FROM events) WHERE rn = 1""".stripMargin

    val silverIncremental: String =
      s"""SELECT $cols FROM events
         |WHERE ts > (SELECT max(ts) FROM events WHERE event_id % 4 = 0)""".stripMargin
  }
}
