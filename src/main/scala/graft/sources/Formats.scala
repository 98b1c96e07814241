package graft.sources

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.{classic, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.{CSVInferSchema, CSVOptions}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, NullType, StructType}

/** Source/sink surface of the reference (SURVEY §2.1):
  * CSV partitioned/static writes + glob listing and reads (S1-S4), multi-format
  * fan-out (S7-S9), existence probes and DDL (S10-S12).
  *
  * The reference writes every silver/gold table once per file format
  * (`_parquet`/`_orc`/`_avro` suffixes — `dags/2_bronze_to_silver.py:164`).
  * The avro leg is REAL: no spark-avro module ships here, so the engine
  * carries its own [[graft.sources.avro.AvroFileFormat]] (same FileFormat
  * extension point spark-avro uses) over the classpath's core Avro
  * library — snappy container files, dynamic partitioning, partition
  * discovery.
  *
  * Scale notes: writes set a 128 MB file-size target via
  * maxRecordsPerFile estimation upstream and rely on `partitionBy` for
  * storage-level pruning; snappy for parquet matches the reference's
  * Iceberg table properties (`dags/2_bronze_to_silver.py:245-248`).
  */
object Formats {

  /** Formats the fan-out writes to — the reference's exact trio. */
  val fanoutFormats: Seq[String] = Seq("parquet", "orc", "avro")

  /** S1: Hive-style batch-partitioned CSV write (bronze layer shape:
    * `<base>/<table>/batch_id=<id>/`). */
  def writeCsvPartitioned(df: DataFrame, base: String, table: String, batchId: String): Unit =
    df.write.mode("overwrite")
      .option("header", "true")
      .csv(s"$base/$table/batch_id=$batchId")

  /** S2: unpartitioned overwrite CSV (static reference data). */
  def writeCsvStatic(df: DataFrame, base: String, table: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(s"$base/$table")

  /** S3/S4, listing half: the files the reference's headered CSV glob
    * over every batch partition of `<base>/<table>` reads
    * (`dags/2_bronze_to_silver.py:177-185`), without opening any of them.
    * The listing is Spark's own file index, so hidden `_`/`.` names are
    * skipped exactly as the read skips them. */
  def csvGlobFiles(spark: SparkSession, base: String, table: String): Seq[FileStatus] =
    spark.read.schema("c STRING") // a given schema: nothing is read to infer one
      .csv(s"$base/$table/*").queryExecution.analyzed
      .collectFirst { case l: LogicalRelation => l.relation } match {
      case Some(HadoopFsRelation(index: PartitioningAwareFileIndex, _, _, _, _, _)) =>
        index.allFiles()
      case other => throw new IllegalStateException(s"unexpected CSV relation $other")
    }

  /** S3/S4, reading half: headered CSV read of `files`, typed by CSV
    * schema inference (the reference reads with `inferSchema`). `prior`
    * continues an earlier inference: its column types seed the inference
    * fold, so the result is typed as if the files `prior` was inferred
    * from were read in the same call — a full re-read's types, from one
    * inference pass over `files` alone. A column that was empty in every
    * earlier row is the exception: `prior` holds it as STRING (CSV's type
    * for all-empty columns), which a full re-read would refine. */
  def readCsv(spark: SparkSession, files: Seq[String], prior: StructType): DataFrame = {
    val reader = spark.read.option("header", "true")
    val raw = reader.csv(files: _*) // every column STRING: the tokens inference sees
    val names = raw.columns
    val infer = new CSVInferSchema(new CSVOptions(
      Map("header" -> "true", "inferSchema" -> "true"),
      spark.sessionState.conf.csvColumnPruning, spark.sessionState.conf.sessionLocalTimeZone))
    val seed: Array[DataType] =
      names.map(n => prior.find(_.name == n).fold[DataType](NullType)(_.dataType))
    val types = SQLExecution.withSQLConfPropagated(spark.asInstanceOf[classic.SparkSession]) {
      raw.queryExecution.toRdd
        .map(r => Array.tabulate(r.numFields)(i =>
          if (r.isNullAt(i)) null else r.getUTF8String(i).toString))
        .aggregate(seed)(infer.inferRowType, infer.mergeRowTypes)
    }
    reader.schema(StructType(infer.toStructFields(types, names))).csv(files: _*)
  }

  /** S7-S9: write `df` once per format, optionally partitioned, with the
    * reference's compression/file-size targets. Returns format→path. */
  def fanout(df: DataFrame, base: String, table: String,
             partitionCols: Seq[String] = Nil,
             formats: Seq[String] = fanoutFormats): Map[String, String] =
    formats.map { fmt =>
      val path = s"$base/${table}_$fmt"
      var w = df.write.mode("overwrite").format(fmt)
        .option("maxRecordsPerFile", 4000000)  // ≈128 MB at ~32 B/row
      if (fmt == "parquet") w = w.option("compression", "snappy")
      if (partitionCols.nonEmpty) w = w.partitionBy(partitionCols: _*)
      w.save(path)
      fmt -> path
    }.toMap

  /** Bucketed, sorted table write: joins/aggregations between tables
    * bucketed on the same keys with the same bucket count need NO shuffle —
    * the pre-partitioning is the storage-level answer to repeated
    * co-located joins at 100 TB (vs paying an Exchange per query). */
  def writeBucketed(spark: SparkSession, df: DataFrame, db: String, table: String,
                    buckets: Int, keys: Seq[String]): String = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    val name = s"$db.$table"
    if (spark.catalog.tableExists(name)) spark.sql(s"DROP TABLE IF EXISTS $name")
    df.write.bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet").saveAsTable(name)
    name
  }

  /** Columns of the integrity checksum — exact-typed only (keys, chars,
    * dates): double→string rendering is engine-specific and has no place
    * in a cross-system checksum. */
  private val ChecksumCols = Seq("l_orderkey", "l_partkey", "l_suppkey",
    "l_linenumber", "l_returnflag", "l_linestatus", "l_shipdate")

  /** Cross-format integrity verification — the op a format-compare
    * lakehouse actually needs: an ORDER-INDEPENDENT table checksum
    * (count + sum of a per-row md5-derived hash, so any row order,
    * partitioning, or file layout yields the same value) computed over
    * the parquet source AND over a fresh copy written through the
    * engine's avro leg, with the equality verdict in the output. The
    * DuckDB oracle recomputes the same checksum from the source parquet
    * and pins `formats_match` TRUE — a single corrupted value in the
    * avro encode/decode path (or in either checksum) fails the
    * cell-exact compare. Scale shape: two map-only scans + two one-row
    * aggregates; the hash sum is DECIMAL(38,0) so ~2⁶⁰-sized hashes
    * cannot overflow at any row count that fits in a table. */
  def formatIntegrityCheck(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    import graft.operators.Dedup
    // spread: the single-row-group source would otherwise serialize the
    // avro encode AND both per-row md5 checksum passes into one task; the
    // checksum is order-independent by design, so parallelism is free
    val src = graft.Dsl.spread(graft.Tables.lineitem(spark, dir)
      .select(ChecksumCols.map(col): _*))
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_fic_" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    try {
      src.write.format("avro").save(path)

      // checksum surfaces as STRING: a 70+-bit decimal sum round-trips
      // engines' client layers as float otherwise (precision loss in the
      // comparison harness, not in the engines)
      def checksum(df: DataFrame): DataFrame = df
        .select(Dedup.md5Long(
          concat_ws("|", ChecksumCols.map(c => col(c).cast("string")): _*)).as("h"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("h").cast(DecimalType(38, 0))).cast("string").as("checksum"))

      val viaParquet = checksum(src)
      val viaAvro = checksum(spark.read.format("avro").load(path))
        .select(col("n_rows").as("a_rows"), col("checksum").as("a_sum"))
      viaParquet.crossJoin(viaAvro)
        .select(col("n_rows"), col("checksum"),
          (col("n_rows") === col("a_rows") && col("checksum") === col("a_sum"))
            .as("formats_match"))
        // materialize (one row) so the finally can delete the avro copy
        .localCheckpoint(true)
    } finally MetaIO.delete(path, recursive = true)
  }

  /** DuckDB mirror: one checksum from the source parquet, verdict TRUE
    * (concat_ws skips NULLs identically in both engines). */
  def formatIntegrityOracle: String = {
    val args = ChecksumCols.map(c => s"CAST($c AS VARCHAR)").mkString(", ")
    s"""SELECT COUNT(*) AS n_rows,
       |  CAST(SUM(CAST(${graft.operators.Dedup.md5LongSql(s"concat_ws('|', $args)")} AS DECIMAL(38,0)))
       |    AS VARCHAR) AS checksum,
       |  TRUE AS formats_match
       |FROM lineitem""".stripMargin
  }

  /** S7 (catalog variant): `saveAsTable` per format with S10 existence
    * probe + S11 idempotent DDL, like the reference's create-vs-merge gate
    * (`dags/2_bronze_to_silver.py:239`). */
  def fanoutTables(spark: SparkSession, df: DataFrame, db: String, table: String,
                   formats: Seq[String] = Seq("parquet", "orc")): Seq[String] = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    formats.map { fmt =>
      val name = s"$db.${table}_$fmt"
      if (spark.catalog.tableExists(name)) spark.sql(s"DROP TABLE IF EXISTS $name")
      df.write.format(fmt).saveAsTable(name)
      name
    }
  }
}
