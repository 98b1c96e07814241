package graft.silver

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Change-history operators completing the silver-layer DML family.
  *
  * The reference's silver upsert (`/root/reference/dags/2_bronze_to_silver.py:278-293`,
  * `MERGE INTO … WHEN MATCHED THEN UPDATE`) is SCD Type-1: each key keeps
  * only its latest attributes. The two operators here are the other half
  * of that surface every warehouse eventually needs:
  *
  *  - [[scd2UserType]] builds the Type-2 variant — a full validity-interval
  *    history per key — from the same event stream the upsert consumes;
  *  - [[cdcApply]] materializes the final table state from a changelog with
  *    delete semantics, the consumer side of the CDC diff that
  *    `sources/Versioned.diff` produces.
  *
  * Scale shape (both): one shuffle on the entity key; all windows are
  * per-key, so reducer state is bounded by a single key's history, never
  * the corpus. That is the standard distributed SCD/CDC plan — key count
  * grows with the data, per-key history does not.
  */
object Changelog {

  /** SCD Type-2 dimension build over the `events` stream: treating
    * `event_type` as the tracked attribute of `user_id`, emit one row per
    * attribute VERSION — compacted so consecutive duplicates collapse —
    * with `[valid_from, valid_to)` validity intervals and an `is_current`
    * flag on each key's open-ended last version.
    *
    * Plan: lag() marks change points, the filter keeps them, lead() closes
    * each interval with the next change's timestamp. Both windows share
    * the (user_id) partitioning and (ts, event_id) order, so Catalyst
    * plans ONE exchange; event_id breaks timestamp ties deterministically.
    */
  def scd2UserType(spark: SparkSession, dir: String): DataFrame =
    scd2On(Tables.events(spark, dir))

  /** [[scd2UserType]] over an arbitrary (user_id, ts, event_id,
    * event_type) frame — the scale-bench entry point. */
  def scd2On(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .where(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
      .withColumn("version", row_number().over(w))
      .withColumn("valid_to", lead(col("ts"), 1).over(w))
      .select(
        col("user_id"), col("version"), col("event_type"),
        col("ts").as("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"))
  }

  /** Changelog apply (CDC materialization): fold an ordered op log into
    * final table state. Ops derive deterministically from `event_type`
    * (`signup`→insert, `error`→delete, rest→update); the final state of a
    * key is its last op in (ts, event_id) order — absent if that op is a
    * delete. `n_ops` audits how much log each surviving key absorbed.
    *
    * This is the consumer of a snapshot CDC diff ([[graft.sources.Versioned]]):
    * replaying the emitted changelog through `cdcApply` reproduces the
    * target snapshot. Last-writer-wins needs only the per-key MAX of the
    * ordering key, so the whole fold is one hash aggregate (map-side
    * partial → final), cheaper than a ranking window at 100 TB.
    */
  def cdcApply(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(
        col("user_id"), col("ts"), col("event_id"), col("value"),
        when(col("event_type") === "signup", lit("I"))
          .when(col("event_type") === "error", lit("D"))
          .otherwise(lit("U")).as("op"))
      .groupBy(col("user_id"))
      .agg(
        max_by(struct(col("op"), col("ts"), col("value")),
          struct(col("ts"), col("event_id"))).as("last"),
        count(lit(1)).as("n_ops"))
      .where(col("last.op") =!= "D")
      .select(
        col("user_id"), col("last.op").as("last_op"),
        col("last.ts").as("last_ts"), col("last.value").as("last_value"),
        col("n_ops"))

  object oracle {
    val scd2UserType: String =
      """WITH marked AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    LAG(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev_type
        |  FROM events),
        |changes AS (
        |  SELECT * FROM marked
        |  WHERE prev_type IS NULL OR prev_type <> event_type)
        |SELECT user_id,
        |  CAST(ROW_NUMBER() OVER w AS INT) AS version,
        |  event_type,
        |  ts AS valid_from,
        |  LEAD(ts, 1) OVER w AS valid_to,
        |  (LEAD(ts, 1) OVER w) IS NULL AS is_current
        |FROM changes
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin

    val cdcApply: String =
      """WITH ops AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE event_type WHEN 'signup' THEN 'I' WHEN 'error' THEN 'D'
        |      ELSE 'U' END AS op
        |  FROM events),
        |ranked AS (
        |  SELECT user_id, op, ts, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn,
        |    COUNT(*) OVER (PARTITION BY user_id) AS n_ops
        |  FROM ops)
        |SELECT user_id, op AS last_op, ts AS last_ts, value AS last_value,
        |  CAST(n_ops AS BIGINT) AS n_ops
        |FROM ranked WHERE rn = 1 AND op <> 'D'""".stripMargin
  }
}
