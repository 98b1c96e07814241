package lakebench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.bronze.Generate
import graft.sources.Formats
import graft.sources.v2.VersionedCatalog

/** The shape of the reference's DAGs 2-3 on its own star schema: every
  * batch of transactions is merged into three day-partitioned catalog
  * tables, one per file format, the reference gold aggregates are
  * refreshed per format, and ad-hoc scans read each format beside the
  * writes. After every batch the catalog's maintenance procedures run.
  *
  * Inputs are `Generate.fTransactions` rows staged during set-up. New rows
  * arrive in the most recent days; re-delivered keys mostly come from
  * recent days too, the way late corrections do. */
final class StarFormatsWorkload extends Workload {
  import StarFormatsWorkload._

  private var next = 1
  private var lastBatch = 0
  private def inputs(ctx: Ctx) = ctx.path("inputs/transactions")
  private def gold(ctx: Ctx) = ctx.path("lake/gold")
  private def warehouse(ctx: Ctx) = ctx.path("lake/warehouse")
  private def table(fmt: String) = s"$Cat.silver.tx_$fmt"
  private def root(ctx: Ctx, fmt: String) = s"${warehouse(ctx)}/silver/tx_$fmt"

  override def prepare(ctx: Ctx): Unit = {
    val spark = ctx.spark
    Fs.delete(ctx.path("inputs"))
    val total = Initial + Batches.toLong * NewPerBatch
    val dayS = 86400L
    val base = Generate.fTransactions(spark, total, Contracts, ctx.seed.toInt)
    // batch b's new rows complete within one day that starts b*StepS after
    // the initial month, so each merge touches the newest days
    val batchOf = when(col("transaction_id") < Initial, lit(0))
      .otherwise(((col("transaction_id") - Initial) / NewPerBatch).cast("int") + 1)
    val shifted = base.withColumn("b", batchOf)
      .withColumn("completed_at_time_id",
        when(col("b") === 0, col("completed_at_time_id"))
          .otherwise((lit(Epoch + 30 * dayS) + col("b") * StepS +
            pmod(xxhash64(lit(ctx.seed), col("transaction_id")), lit(dayS))).cast("int")))
      .withColumn("requested_at_time_id", (col("completed_at_time_id") - 60).cast("int"))
    val times = shifted.select("transaction_id", "completed_at_time_id", "b").collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong, r.getInt(2)))

    // re-deliveries: 80% from the two newest days of what exists so far,
    // the rest from anywhere; distinct within a batch
    val rnd = new java.util.Random(ctx.seed)
    val redelivered = (1 to Batches).flatMap { b =>
      val known = times.filter(_._3 < b)
      val newest = known.map(_._2).max
      val recent = known.filter(_._2 >= newest - 2 * dayS)
      val picked = mutable.LinkedHashSet.empty[Long]
      while (picked.size < RedeliveredPerBatch) {
        val pool = if (rnd.nextDouble() < 0.8) recent else known
        picked += pool(rnd.nextInt(pool.length))._1
      }
      picked.toSeq.map(id => (id, b, rnd.nextInt(1000)))
    }
    val redRows = spark.createDataFrame(redelivered).toDF("transaction_id", "rb", "r")
    val updates = shifted.drop("b").join(redRows, "transaction_id")
      .withColumn("amount", round(col("amount") * 1.05 + col("r") / 100.0, 2))
      .withColumn("transaction_status", lit("COMPLETED"))
      .withColumnRenamed("rb", "b").drop("r")
    shifted.unionByName(updates)
      .withColumn("ts", col("completed_at_time_id").cast("timestamp").cast("timestamp_ntz"))
      .repartition(col("b"))
      .write.partitionBy("b").parquet(inputs(ctx))
  }

  private def batch(ctx: Ctx, b: Int): DataFrame =
    ctx.spark.read.parquet(inputs(ctx)).where(col("b") === b).drop("b").select(Columns.map(col): _*)

  override def warmup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    Fs.delete(ctx.path("lake"))
    spark.conf.set(s"spark.sql.catalog.$Cat", classOf[VersionedCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$Cat.warehouse", warehouse(ctx))
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $Cat.silver")
    val initial = batch(ctx, 0)
    Formats.fanoutFormats.foreach { fmt =>
      spark.sql(s"DROP TABLE IF EXISTS ${table(fmt)}")
      initial.writeTo(table(fmt)).using(fmt)
        .partitionedBy(partitioning.days(col("ts"))).create()
    }
    // batch 1 runs untimed too, so the first timed MERGE is not the
    // session's first
    merge(ctx, 1)
    refreshGold(ctx)
    for ((_, q) <- scanQueries(1); fmt <- Formats.fanoutFormats) spark.sql(q(table(fmt))).collect()
    Formats.fanoutFormats.foreach(fmt => ctx.rec.counters(s"version_start.$fmt") =
      graft.sources.ManifestTable.currentVersion(root(ctx, fmt)).getOrElse(0L).toDouble)
    next = 2
    lastBatch = 1
  }

  private def refreshGold(ctx: Ctx): Unit = {
    val types = Generate.dTransactionTypes(ctx.spark)
    Formats.fanoutFormats.foreach { fmt =>
      ctx.rec.span(s"gold.$fmt") {
        val tx = ctx.spark.table(table(fmt))
        Formats.fanout(Generate.referenceMonthlyBalance(tx, types), gold(ctx),
          "monthly_balance", formats = Seq(fmt))
        Formats.fanout(Generate.referenceDailyMetrics(tx, types), gold(ctx),
          "daily_metrics", formats = Seq(fmt))
      }
    }
  }

  private def merge(ctx: Ctx, b: Int): Unit = {
    val spark = ctx.spark
    val src = s"staged_$b"
    batch(ctx, b).createOrReplaceTempView(src)
    Formats.fanoutFormats.foreach { fmt =>
      ctx.rec.span(s"plans.merge.$fmt") {
        spark.sql(
          s"""MERGE INTO ${table(fmt)} t USING $src s
             |ON t.transaction_id = s.transaction_id
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      }
    }
    spark.catalog.dropTempView(src)
  }

  /** Ad-hoc scans: a full aggregate and a day-range aggregate that prunes. */
  private def scanQueries(b: Int): Seq[(String, String => String)] = {
    val from = Epoch + 30 * 86400L + (b - 1).toLong * StepS
    Seq(
      "full" -> ((t: String) => s"SELECT transaction_status, count(*) AS n, " +
        s"CAST(sum(CAST(amount AS DECIMAL(18,2))) AS STRING) AS total FROM $t GROUP BY 1"),
      "range" -> ((t: String) => s"SELECT transaction_type_id, count(*) AS n, " +
        s"CAST(sum(CAST(amount AS DECIMAL(18,2))) AS STRING) AS total FROM $t " +
        s"WHERE ts >= CAST(timestamp_seconds($from) AS TIMESTAMP_NTZ) GROUP BY 1"))
  }

  /** Each scan is its own op; the three formats must agree. */
  private def scans(ctx: Ctx, b: Int): Unit =
    scanQueries(b).foreach { case (kind, q) =>
      val results = Formats.fanoutFormats.map { fmt =>
        var rows = Array.empty[Row]
        ctx.rec.op("scan", "kind" -> kind, "format" -> fmt) { op =>
          rows = ctx.rec.span(s"sources.scan.$fmt") { ctx.spark.sql(q(table(fmt))).collect() }
          op.attrs("rows") = rows.length
        }
        if (ctx.rec.traced) ctx.rec.ops.last.attrs("live_bytes") = ctx.spark.table(s"${table(fmt)}.files")
          .agg(sum("size_bytes")).first().getLong(0)
        rows.map(_.toString).sorted.toSeq
      }
      if (results.distinct.size != 1) ctx.rec.add("scan_format_mismatch", 1)
    }

  private def maintain(ctx: Ctx): Unit =
    ctx.rec.op("maintain") { _ =>
      Formats.fanoutFormats.foreach { fmt =>
        val name = s"silver.tx_$fmt"
        ctx.rec.span(s"sources.v2.optimize.$fmt") {
          ctx.spark.sql(s"CALL $Cat.system.optimize(`table` => '$name')").collect()
        }
        ctx.rec.span(s"sources.v2.expire.$fmt") {
          ctx.spark.sql(s"CALL $Cat.system.expire_snapshots(`table` => '$name', retain => 1)").collect()
        }
        // files no retained snapshot references stay on disk until removed,
        // and by default only past a grace period; without removing them
        // now the bytes stored would depend on how many batches a run got
        // through (one client, so no write is in flight)
        val now = java.time.LocalDateTime.now(java.time.ZoneOffset.UTC).plusSeconds(1)
          .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
        ctx.rec.span(s"sources.v2.remove_orphans.$fmt") {
          ctx.spark.sql(s"CALL $Cat.system.remove_orphan_files(`table` => '$name', " +
            s"older_than => '$now')").collect()
        }
      }
    }

  /** One batch group: the batch op, its scans and the maintenance op. The
    * run's deadline is checked between groups, so every run ends after
    * maintenance and the bytes it leaves on disk are comparable. */
  override def step(ctx: Ctx): Boolean = {
    if (next > Batches) return false
    val b = next
    batchOp(ctx, b)
    scans(ctx, b)
    maintainOp(ctx)
    next += 1
    true
  }

  private def batchOp(ctx: Ctx, b: Int): Unit = {
    val rows = NewPerBatch + RedeliveredPerBatch
    val tr = ctx.rec.traced
    val w0 = if (tr) Fs.files(warehouse(ctx)) else Map.empty[String, (Long, Long)]
    val g0 = if (tr) Fs.files(gold(ctx)) else Map.empty[String, (Long, Long)]
    ctx.rec.op("batch", "batch" -> b, "rows" -> rows) { _ =>
      merge(ctx, b)
      refreshGold(ctx)
    }
    if (tr) {
      val op = ctx.rec.ops.last
      val w1 = Fs.files(warehouse(ctx))
      val (data, meta) = w1.partition { case (p, _) => isDataFile(p) }
      op.attrs("data_bytes") = Fs.written(w0, data)
      op.attrs("meta_bytes") = Fs.written(w0, meta)
      op.attrs("gold_bytes") = Fs.written(g0, Fs.files(gold(ctx)))
    }
    lastBatch = b
  }

  private def maintainOp(ctx: Ctx): Unit = {
    val tr = ctx.rec.traced
    if (tr) ctx.rec.add("maintain.files_before", liveFiles(ctx))
    val m0 = if (tr) Fs.files(warehouse(ctx)) else Map.empty[String, (Long, Long)]
    maintain(ctx)
    if (tr) {
      ctx.rec.add("maintain.files_after", liveFiles(ctx))
      ctx.rec.add("maintain.bytes_rewritten", Fs.written(m0, Fs.files(warehouse(ctx))))
    }
  }

  private def isDataFile(p: String): Boolean =
    Formats.fanoutFormats.exists(f => p.endsWith(s".$f")) && !p.contains("/manifests/")

  private def liveFiles(ctx: Ctx): Long =
    Formats.fanoutFormats.map(f => ctx.spark.table(s"${table(f)}.files").count()).sum

  /** Initial rows plus the applied batches, latest delivery per key. */
  private def expected(ctx: Ctx): DataFrame = {
    val all = ctx.spark.read.parquet(inputs(ctx)).where(col("b") <= lastBatch)
    all.withColumn("rn", row_number().over(
        Window.partitionBy("transaction_id").orderBy(col("b").desc)))
      .where(col("rn") === 1).select(Columns.map(col): _*)
  }

  override def check(ctx: Ctx): Seq[(String, Boolean, String)] = {
    val spark = ctx.spark
    val want = expected(ctx).cache()
    val types = Generate.dTransactionTypes(spark)
    val silver = Formats.fanoutFormats.map(fmt =>
      Checks.sameRows(s"silver.tx_$fmt", spark.table(table(fmt)).select(Columns.map(col): _*), want))
    val goldChecks = Formats.fanoutFormats.flatMap { fmt =>
      Seq(
        Checks.close(s"gold.monthly_balance_$fmt",
          spark.read.format(fmt).load(s"${gold(ctx)}/monthly_balance_$fmt"),
          Generate.referenceMonthlyBalance(want, types), Seq("ano", "mes", "contract_id")),
        Checks.close(s"gold.daily_metrics_$fmt",
          spark.read.format(fmt).load(s"${gold(ctx)}/daily_metrics_$fmt"),
          Generate.referenceDailyMetrics(want, types),
          Seq("data_transacao", "transaction_type_name", "is_financial")))
    }
    val mismatches = ctx.rec.counters.getOrElse("scan_format_mismatch", 0.0)
    val scanCheck = ("scans.formats_agree", mismatches == 0.0, s"mismatched_scans=$mismatches")
    (silver ++ goldChecks) :+ scanCheck
  }

  override def facts(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    val perFormat = Formats.fanoutFormats.map { fmt =>
      val files = spark.table(s"${table(fmt)}.files")
      val rows = spark.table(table(fmt)).count()
      fmt -> Map(
        "rows" -> rows,
        "live_files" -> files.count(),
        "live_bytes" -> files.agg(sum("size_bytes")).first().getLong(0),
        "stored_bytes" -> Fs.bytes(root(ctx, fmt)),
        "version" -> graft.sources.ManifestTable.currentVersion(root(ctx, fmt)).getOrElse(0L))
    }.toMap
    Map(
      "live_rows" -> perFormat("parquet")("rows"),
      "stored_bytes" -> Fs.bytes(ctx.path("lake")),
      "batches_applied" -> lastBatch,
      "formats" -> perFormat)
  }
}

object StarFormatsWorkload {
  val Cat = "lake"
  val Initial = 20000L
  val Contracts = 2000L
  val Batches = 16
  val NewPerBatch = 2000
  val RedeliveredPerBatch = 500
  /** Batch b's new rows start b * StepS seconds after the initial month. */
  val StepS = 21600L
  /** 2024-01-01 UTC, the base of `Generate.fTransactions` times. */
  val Epoch = 1704067200L
  val Columns = Seq("transaction_id", "contract_id", "transaction_type_id",
    "requested_at_time_id", "completed_at_time_id", "transaction_status",
    "amount", "currency", "ts")
}
