package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.SerializableHadoopConf
import graft.sources.v2.VersionedCatalog

/** Task planning of avro catalog scans ([[graft.sources.v2.AvroManifestScan]]):
  * small files pack into partitions under the same split policy as the
  * parquet/orc legs, and the session's Hadoop conf reaches the tasks
  * through a broadcast. Large-file splitting and cross-file packing of
  * splits are in V2CatalogSpec's avro split test. */
class AvroCatalogScanSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.gavro", classOf[VersionedCatalog].getName)
    s.conf.set("spark.sql.catalog.gavro.warehouse",
      java.nio.file.Files.createTempDirectory("graft_avrowh").toString)
    s
  }

  private def liveFiles(table: String): Int =
    graft.sources.ManifestTable.liveEntries(
      VersionedCatalog.warehouseOf("gavro").get + s"/ns/$table").size

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  test("a day-partitioned avro table packs its small files like its parquet twin") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gavro.ns")
    val days = 40
    val rows = spark.range(0, days * 50).selectExpr(
      "id AS k",
      s"timestamp_ntz'2024-01-01 00:00:00' + make_interval(0, 0, 0, CAST(id % $days AS INT)) AS ts",
      "concat('v-', id) AS s")
    for (fmt <- Seq("avro", "parquet")) {
      spark.sql(s"DROP TABLE IF EXISTS gavro.ns.pk_$fmt")
      spark.sql(s"CREATE TABLE gavro.ns.pk_$fmt (k BIGINT, ts TIMESTAMP_NTZ, s STRING) " +
        s"USING $fmt PARTITIONED BY (days(ts))")
      rows.writeTo(s"gavro.ns.pk_$fmt").append()
    }
    assert(liveFiles("pk_avro") >= 32 && liveFiles("pk_avro") === liveFiles("pk_parquet"))

    // storage-partitioned joins would key the parquet twin's partitions
    // by day (a capability the avro leg does not have): compare plain scans
    val spj = "spark.sql.sources.v2.bucketing.enabled"
    val prevSpj = spark.conf.getOption(spj)
    spark.conf.set(spj, "false")
    try {
      val avro = spark.table("gavro.ns.pk_avro")
      val parquet = spark.table("gavro.ns.pk_parquet")
      val avroParts = avro.rdd.getNumPartitions
      assert(avroParts === parquet.rdd.getNumPartitions)
      assert(avroParts < liveFiles("pk_avro"), "small files must share partitions")
      assert(sorted(avro) === sorted(parquet))
      assert(avro.count() === days * 50L)
      // a pruned scan packs its surviving files the same way
      val window = col("ts") >= lit("2024-01-11 00:00:00").cast("timestamp_ntz")
      assert(avro.where(window).rdd.getNumPartitions ===
        parquet.where(window).rdd.getNumPartitions)
      assert(sorted(avro.where(window)) === sorted(parquet.where(window)))
    } finally prevSpj match {
      case Some(v) => spark.conf.set(spj, v)
      case None => spark.conf.unset(spj)
    }
    spark.sql("DROP TABLE gavro.ns.pk_avro")
    spark.sql("DROP TABLE gavro.ns.pk_parquet")
  }

  test("a key set on the session's Hadoop conf reaches every task through the broadcast") {
    val key = "graft.test.broadcastProbe"
    val token = java.util.UUID.randomUUID().toString
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set(key, token)
    try {
      val conf = SerializableHadoopConf.broadcast(spark)
      val seen = spark.sparkContext.parallelize(1 to 16, 8)
        .mapPartitions(_ => Iterator(conf.value.value.get(key)))
        .collect()
      assert(seen.length === 8 && seen.forall(_ == token))
      // the executor-side copy is rebuilt from the serialized form (a
      // remote executor fetches the bytes, not the driver's object)
      val ser = org.apache.spark.SparkEnv.get.closureSerializer.newInstance()
      val back = ser.deserialize[SerializableHadoopConf](ser.serialize(conf.value))
      assert(back.value.get(key) === token)
      assert(back.value ne conf.value.value)
    } finally hc.unset(key)
  }
}
