package lakebench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.pipeline.Medallion
import graft.sources.Versioned

/** The paper's own cycle through `graft.pipeline.Medallion`, one op per
  * batch: land the batch as bronze CSV, upsert it into the versioned
  * silver table, refresh gold in all three formats.
  *
  * Inputs are events-shaped batches generated from the seed during set-up.
  * A share of every batch re-delivers earlier `event_id`s with new values;
  * no key appears twice within a batch, because `dedupLatest` breaks ties
  * on the key itself and a within-batch duplicate would have no defined
  * winner. */
final class MedallionWorkload extends Workload {
  import MedallionWorkload._

  private var next = 0

  private def inputDir(ctx: Ctx, i: Int) = ctx.path(s"inputs/$i")
  private def bronze(ctx: Ctx) = ctx.path("lake/bronze")
  private def silver(ctx: Ctx) = ctx.path("lake/silver/events")
  private def gold(ctx: Ctx) = ctx.path("lake/gold")

  override def prepare(ctx: Ctx): Unit = {
    Fs.delete(ctx.path("inputs"))
    writeInputs(ctx.spark, ctx.seed, ctx.path("inputs"))
  }

  /** Batch 0 creates silver and gold; the first load has no merge. The
    * batches after it run untimed too, until merge and write paths are
    * compiled: the first merging batch of a session takes about one and a
    * half times as long as the third. */
  override def warmup(ctx: Ctx): Unit = {
    Fs.delete(ctx.path("lake"))
    (0 until WarmupBatches).foreach(runBatch(ctx, _))
    next = WarmupBatches
  }

  private def runBatch(ctx: Ctx, i: Int): Unit = {
    val spark = ctx.spark
    val rec = ctx.rec
    val tr = rec.traced
    rec.span("bronze") {
      Medallion.landBronzeBatch(spark, inputDir(ctx, i), bronze(ctx), i.toString, 1, 0)
    }
    val landed = if (tr) Fs.bytes(s"${bronze(ctx)}/events/batch_id=$i") else 0L
    if (tr) rec.current.foreach(_.attrs("bronze_bytes") = landed)
    val s0 = if (tr) Fs.files(silver(ctx)) else Map.empty[String, (Long, Long)]
    rec.span("silver") { Medallion.bronzeToSilver(spark, bronze(ctx), silver(ctx)) }
    if (tr) rec.current.foreach(_.attrs("silver_bytes") = Fs.written(s0, Fs.files(silver(ctx))))
    val g0 = if (tr) Fs.files(gold(ctx)) else Map.empty[String, (Long, Long)]
    rec.span("gold") { Medallion.silverToGold(spark, silver(ctx), gold(ctx)) }
    if (tr) rec.current.foreach(_.attrs("gold_bytes") = Fs.written(g0, Fs.files(gold(ctx))))
  }

  override def step(ctx: Ctx): Boolean = {
    if (next > Batches) return false
    val i = next
    ctx.rec.op("batch", "batch" -> i, "rows" -> rowsOf(i))(_ => runBatch(ctx, i))
    next += 1
    true
  }

  /** Latest delivery of every key across the applied batches. */
  private def expectedSilver(ctx: Ctx): DataFrame = {
    val all = (0 until next).map(i =>
      ctx.spark.read.parquet(s"${inputDir(ctx, i)}/events.parquet").withColumn("b", lit(i)))
      .reduce(_ unionByName _)
    all.withColumn("rn", row_number().over(Window.partitionBy("event_id").orderBy(col("b").desc)))
      .where(col("rn") === 1).drop("rn", "b")
  }

  private def canon(df: DataFrame): DataFrame = df.select(
    col("event_id").cast("long"), date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
    col("user_id").cast("long"), col("event_type").cast("string"),
    col("value").cast("double"), col("props").cast("string"))

  private def monthly(df: DataFrame): DataFrame = df
    .groupBy(year(col("ts")).as("ano"), month(col("ts")).as("mes"), col("user_id").cast("long").as("user_id"))
    .agg(sum(col("value").cast("decimal(18,6)")).cast("double").as("volume"),
      count(lit(1)).as("total_transacoes"))

  override def check(ctx: Ctx): Seq[(String, Boolean, String)] = {
    val spark = ctx.spark
    val expected = expectedSilver(ctx).cache()
    val silverCheck = Checks.sameRows("silver.events",
      canon(Versioned.read(spark, silver(ctx))), canon(expected))
    val goldExpected = monthly(expected).cache()
    val goldChecks = graft.sources.Formats.fanoutFormats.map { fmt =>
      val got = spark.read.format(fmt).load(s"${gold(ctx)}/monthly_balance_$fmt")
        .select(col("ano").cast("int"), col("mes").cast("int"), col("user_id").cast("long"),
          col("volume").cast("double"), col("total_transacoes").cast("long"))
      Checks.sameRows(s"gold.monthly_balance_$fmt", got, goldExpected)
    }
    silverCheck +: goldChecks
  }

  override def facts(ctx: Ctx): Map[String, Any] = Map(
    "live_rows" -> Versioned.read(ctx.spark, silver(ctx)).count(),
    "stored_bytes" -> Fs.bytes(ctx.path("lake")),
    "batches_applied" -> (next - 1))
}

object MedallionWorkload {
  /** Rows of the set-up batch that creates silver. */
  val InitialRows = 60000L
  /** Batches run in set-up, the first one included. */
  val WarmupBatches = 3
  /** Batches prepared per run after batch 0, more than a run gets through. */
  val Batches = 14
  val NewPerBatch = 12000L
  val RedeliveredPerBatch = 3000L
  val Users = 400
  private val EventTypes = Seq("view", "click", "purchase", "signup", "error")
  /** A prime above every key: j -> j * KeyStride mod n visits distinct keys. */
  private val KeyStride = 1000003L

  def rowsOf(b: Int): Long = if (b == 0) InitialRows else NewPerBatch + RedeliveredPerBatch

  /** First new key of batch b. */
  private def firstKey(b: Int): Long = if (b == 0) 0L else InitialRows + (b - 1) * NewPerBatch

  /** Batch b: its new keys, plus (from batch 1 on) re-deliveries of distinct
    * earlier keys, with values drawn from (seed, batch, key). */
  private def batch(spark: SparkSession, seed: Long, b: Int): DataFrame = {
    val fresh = spark.range(firstKey(b), firstKey(b) + (if (b == 0) InitialRows else NewPerBatch)).toDF()
    val keys =
      if (b == 0) fresh
      else {
        val known = firstKey(b)
        val offset = java.lang.Math.floorMod(seed * 7919L + b, known)
        fresh.union(spark.range(RedeliveredPerBatch)
          .select(pmod(col("id") * KeyStride + offset, lit(known)).as("id")))
      }
    def h(salt: Int, m: Long) = pmod(xxhash64(lit(seed), lit(b), lit(salt), col("id")), lit(m))
    keys.select(
      lit(b).as("b"),
      col("id").as("event_id"),
      (lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).cast("timestamp_ntz") +
        make_dt_interval(lit(0), lit(0), lit(0), h(1, 59L * 86400).cast("decimal(18,6)"))).as("ts"),
      h(2, Users.toLong).as("user_id"),
      element_at(array(EventTypes.map(lit): _*), (h(3, EventTypes.size.toLong) + 1).cast("int")).as("event_type"),
      (h(4, 50000L) / 100.0).as("value"),
      concat(lit("{\"k\": "), h(5, 100L).cast("string"), lit("}")).as("props"))
  }

  /** One `events.parquet` directory per batch, the layout
    * `Medallion.landBronzeBatch` reads. */
  def writeInputs(spark: SparkSession, seed: Long, dir: String): Unit = {
    val staged = s"$dir/_staged"
    (0 to Batches).map(batch(spark, seed, _)).reduce(_ union _)
      .repartition(col("b"))
      .write.partitionBy("b").parquet(staged)
    (0 to Batches).foreach { i =>
      val target = new File(s"$dir/$i")
      target.mkdirs()
      require(new File(s"$staged/b=$i").renameTo(new File(target, "events.parquet")),
        s"could not move input batch $i")
    }
    Fs.delete(staged)
  }
}
