package graft.sources.avro

import java.util.{ArrayList => JArrayList}

import scala.jdk.CollectionConverters._

import org.apache.avro.{LogicalTypes, Schema => ASchema}
import org.apache.avro.file.{CodecFactory, DataFileStream, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext}
import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.execution.datasources.{FileFormat, OutputWriter, OutputWriterFactory, PartitionedFile}
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** A real Avro file format for Spark — the reference's third fan-out leg
  * (`/root/reference/dags/2_bronze_to_silver.py:164`: every silver/gold
  * table is written as `_parquet`, `_orc` AND `_avro`). No `spark-avro`
  * module ships in this environment, but the core Avro library does, so
  * this implements the same extension point spark-avro itself uses —
  * [[FileFormat]] — which buys the WHOLE file-source machinery for free:
  * dynamic `partitionBy` writes through `FileFormatWriter`'s commit
  * protocol, partition discovery and pruning on read, `maxRecordsPerFile`,
  * globbing, and schema propagation. Registered as `format("avro")` via
  * META-INF/services.
  *
  * Type bridge (both directions): Spark's INTERNAL row representation
  * already matches Avro's logical types — timestamps are epoch-micro
  * longs (`timestamp-micros` / `local-timestamp-micros`), dates are
  * epoch-day ints (`date`) — so reads and writes move primitives with no
  * per-value datetime conversion at all; only strings (UTF8String ↔ Utf8)
  * and arrays re-wrap. Nullable fields map to `union(null, T)` with a
  * null default. Files are snappy-compressed blocks (snappy-java is on
  * the classpath) and reads are SPLIT on Avro's sync markers: each task
  * seeks to the first block boundary at or after its split start
  * (`DataFileReader.sync`) and stops once past its split end
  * (`pastSync`), so every block lands in exactly one task — a stray
  * multi-GB file parallelizes like parquet instead of becoming one task.
  */
class AvroFileFormat extends FileFormat with DataSourceRegister with Serializable {

  override def shortName(): String = "avro"
  override def toString: String = "avro"

  override def isSplitable(sparkSession: SparkSession,
                           options: Map[String, String], path: Path): Boolean = true

  override def inferSchema(sparkSession: SparkSession, options: Map[String, String],
                           files: Seq[FileStatus]): Option[StructType] =
    files.find(f => f.getPath.getName.endsWith(".avro") && f.getLen > 0).map { f =>
      val conf = sparkSession.sparkContext.hadoopConfiguration
      val in = f.getPath.getFileSystem(conf).open(f.getPath)
      val stream = new DataFileStream(in, new GenericDatumReader[GenericRecord]())
      try AvroConversions.toSparkSchema(stream.getSchema)
      finally stream.close()
    }

  override def supportDataType(dataType: DataType): Boolean = dataType match {
    case _: LongType | _: IntegerType | _: DoubleType | _: FloatType |
         _: BooleanType | _: StringType | _: BinaryType |
         _: TimestampType | _: TimestampNTZType | _: DateType |
         _: DecimalType => true
    case ArrayType(et, _) => supportDataType(et)
    case StructType(fields) => fields.forall(f => supportDataType(f.dataType))
    case MapType(StringType, vt, _) => supportDataType(vt)
    case _ => false
  }

  override def prepareWrite(sparkSession: SparkSession, job: Job,
                            options: Map[String, String],
                            dataSchema: StructType): OutputWriterFactory = {
    val avroJson = AvroConversions.toAvroSchema(dataSchema, "spark_record").toString
    new OutputWriterFactory {
      override def getFileExtension(context: TaskAttemptContext): String = ".avro"
      override def newInstance(path: String, dataSchema: StructType,
                               context: TaskAttemptContext): OutputWriter =
        new AvroOutputWriter(path, dataSchema, avroJson, context)
    }
  }

  override def buildReader(sparkSession: SparkSession, dataSchema: StructType,
                           partitionSchema: StructType, requiredSchema: StructType,
                           filters: Seq[Filter], options: Map[String, String],
                           hadoopConf: Configuration)
      : PartitionedFile => Iterator[InternalRow] = {
    val required = requiredSchema // serializable; closure ships it
    // the SESSION conf must reach the task-side open: s3a credentials /
    // endpoints / custom filesystems ride it, and a bare Configuration()
    // would silently drop them (the parquet/orc legs propagate it too)
    val confSer = graft.sources.SerializableHadoopConf.broadcast(sparkSession, hadoopConf)
    (file: PartitionedFile) => {
      val path = new Path(file.filePath.toString)
      val in = new org.apache.avro.mapred.FsInput(path, confSer.value.value)
      val reader = org.apache.avro.file.DataFileReader.openReader(
        in, new GenericDatumReader[GenericRecord]())
        .asInstanceOf[org.apache.avro.file.DataFileReader[GenericRecord]]
      // the canonical Avro split protocol: read the blocks whose sync
      // marker falls inside [start, start+length) — sync() seeks to the
      // first boundary at/after start, pastSync() stops after the end —
      // so concurrent splits of one file partition the records exactly
      reader.sync(file.start)
      val end = file.start + file.length
      Option(TaskContext.get()).foreach(
        _.addTaskCompletionListener[Unit](_ => reader.close()))
      new Iterator[InternalRow] {
        override def hasNext: Boolean = reader.hasNext && !reader.pastSync(end)
        override def next(): InternalRow =
          AvroConversions.toInternalRow(reader.next(), required)
      }
    }
  }
}

/** One Avro container file per task, snappy block compression, written
  * through the task-attempt filesystem so the normal commit protocol
  * (write to attempt dir → rename on commit) applies.
  *
  * Column STATISTICS: avro containers carry none (and header metadata is
  * sealed before the first record), so the writer accumulates per-column
  * min/max/null while streaming — O(columns) comparisons per row, zero
  * extra IO — and leaves them as a HIDDEN `.<name>.stats` sidecar beside
  * the file. The sidecar rides the task-commit rename with its data
  * file, [[graft.sources.FileStats.collect]] folds it onto the manifest
  * entry at commit, and the staging sweep discards it — so avro tables
  * get the same stats-based file skipping parquet and ORC footers buy,
  * without a second pass over the data. Hidden naming keeps it invisible
  * to every Spark file listing (plain `format("avro")` reads included). */
private[avro] class AvroOutputWriter(val path: String, dataSchema: StructType,
                                     avroJson: String, context: TaskAttemptContext)
    extends OutputWriter {

  private val avroSchema = new ASchema.Parser().parse(avroJson)
  private val stats = new graft.sources.FileStats.StatsAccumulator(dataSchema)
  private val writer = {
    val out = new Path(path).getFileSystem(context.getConfiguration)
      .create(new Path(path), true)
    val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](avroSchema))
    w.setCodec(CodecFactory.snappyCodec())
    w.create(avroSchema, out)
  }

  override def write(row: InternalRow): Unit = {
    stats.update(row)
    writer.append(AvroConversions.toRecord(row, dataSchema, avroSchema))
  }

  override def close(): Unit = {
    writer.close()
    stats.encoded.foreach { enc =>
      val p = new Path(path)
      val side = new Path(p.getParent, s".${p.getName}.stats")
      val os = side.getFileSystem(context.getConfiguration).create(side, true)
      try os.write(enc.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally os.close()
    }
  }
}

/** Driver-contract query making the avro leg ORACLE-gated, not just
  * spec-checked: lineitem is written through [[AvroFileFormat]], read
  * back through it, and aggregated — the DuckDB oracle computes the same
  * aggregate from the original parquet, so any value corruption in the
  * avro encode/decode path fails the cell-exact hash compare. */
object AvroQueries {
  def avroRoundtripAgg(spark: org.apache.spark.sql.SparkSession,
                       dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_avro_" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    try {
      graft.Tables.lineitem(spark, dir)
        .select(col("l_returnflag"), col("l_linestatus"),
          col("l_quantity"), col("l_extendedprice"))
        .write.format("avro").save(path)
      spark.read.format("avro").load(path)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          graft.Dsl.dsum(col("l_quantity")).as("sum_qty"),
          graft.Dsl.dsum(col("l_extendedprice")).as("sum_price"))
        // materialize (6 rows) so the finally can delete the avro copy
        .localCheckpoint(true)
    } finally graft.sources.MetaIO.delete(path, recursive = true)
  }

  val oracleSql: String =
    s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       |  ${graft.Dsl.sql.dsum("l_quantity")} AS sum_qty,
       |  ${graft.Dsl.sql.dsum("l_extendedprice")} AS sum_price
       |FROM lineitem GROUP BY 1, 2""".stripMargin
}

/** Schema and value bridges between Spark internal rows and Avro generic
  * records. Kept symmetric so write → read round-trips bit-exactly.
  * Covers the full nested surface: decimals (bytes + decimal logical
  * type, unscaled big-endian two's complement — the standard Avro
  * encoding), nested structs (named records — names derived from the
  * field path, so they stay unique within one file schema), and
  * string-keyed maps. */
object AvroConversions {

  def toAvroSchema(st: StructType, name: String): ASchema = {
    val fields = st.fields.map { f =>
      val base = toAvroType(f.dataType, s"${name}_${f.name}")
      val sch =
        if (f.nullable) ASchema.createUnion(ASchema.create(ASchema.Type.NULL), base)
        else base
      new ASchema.Field(f.name, sch, null,
        if (f.nullable) ASchema.Field.NULL_DEFAULT_VALUE else null)
    }
    ASchema.createRecord(name, null, "graft", false, fields.toList.asJava)
  }

  private def toAvroType(dt: DataType, path: String): ASchema = dt match {
    case LongType    => ASchema.create(ASchema.Type.LONG)
    case IntegerType => ASchema.create(ASchema.Type.INT)
    case DoubleType  => ASchema.create(ASchema.Type.DOUBLE)
    case FloatType   => ASchema.create(ASchema.Type.FLOAT)
    case BooleanType => ASchema.create(ASchema.Type.BOOLEAN)
    case StringType  => ASchema.create(ASchema.Type.STRING)
    case BinaryType  => ASchema.create(ASchema.Type.BYTES)
    case TimestampType =>
      LogicalTypes.timestampMicros().addToSchema(ASchema.create(ASchema.Type.LONG))
    case TimestampNTZType =>
      LogicalTypes.localTimestampMicros().addToSchema(ASchema.create(ASchema.Type.LONG))
    case DateType =>
      LogicalTypes.date().addToSchema(ASchema.create(ASchema.Type.INT))
    case d: DecimalType =>
      LogicalTypes.decimal(d.precision, d.scale)
        .addToSchema(ASchema.create(ASchema.Type.BYTES))
    case ArrayType(et, containsNull) =>
      val base = toAvroType(et, s"${path}_item")
      val el = if (containsNull)
        ASchema.createUnion(ASchema.create(ASchema.Type.NULL), base)
      else base
      ASchema.createArray(el)
    case st: StructType => toAvroSchema(st, path)
    case MapType(StringType, vt, valueContainsNull) =>
      val base = toAvroType(vt, s"${path}_value")
      val el = if (valueContainsNull)
        ASchema.createUnion(ASchema.create(ASchema.Type.NULL), base)
      else base
      ASchema.createMap(el)
    case other => throw new UnsupportedOperationException(
      s"avro writer does not support $other")
  }

  def toSparkSchema(s: ASchema): StructType =
    StructType(s.getFields.asScala.map { f =>
      val (dt, nullable) = toSparkType(f.schema())
      StructField(f.name(), dt, nullable)
    }.toArray)

  private def toSparkType(s: ASchema): (DataType, Boolean) = s.getType match {
    case ASchema.Type.UNION =>
      val branches = s.getTypes.asScala
      val nonNull = branches.filter(_.getType != ASchema.Type.NULL)
      require(nonNull.size == 1, s"unsupported union $s")
      (toSparkType(nonNull.head)._1, branches.size > nonNull.size)
    case ASchema.Type.LONG => s.getLogicalType match {
      case _: LogicalTypes.TimestampMicros => (TimestampType, false)
      case _: LogicalTypes.LocalTimestampMicros => (TimestampNTZType, false)
      case _ => (LongType, false)
    }
    case ASchema.Type.INT => s.getLogicalType match {
      case _: LogicalTypes.Date => (DateType, false)
      case _ => (IntegerType, false)
    }
    case ASchema.Type.DOUBLE  => (DoubleType, false)
    case ASchema.Type.FLOAT   => (FloatType, false)
    case ASchema.Type.BOOLEAN => (BooleanType, false)
    case ASchema.Type.STRING  => (StringType, false)
    case ASchema.Type.BYTES   => s.getLogicalType match {
      case d: LogicalTypes.Decimal => (DecimalType(d.getPrecision, d.getScale), false)
      case _ => (BinaryType, false)
    }
    case ASchema.Type.ARRAY =>
      val (et, elNullable) = toSparkType(s.getElementType)
      (ArrayType(et, elNullable), false)
    case ASchema.Type.RECORD => (toSparkSchema(s), false)
    case ASchema.Type.MAP =>
      val (vt, vNullable) = toSparkType(s.getValueType)
      (MapType(StringType, vt, vNullable), false)
    case other => throw new UnsupportedOperationException(
      s"avro reader does not support $other type in $s")
  }

  /** The non-null branch of a (null, T) union, identity otherwise —
    * nested writers need the concrete sub-schema to build records. */
  private def nonNullOf(s: ASchema): ASchema =
    if (s.getType == ASchema.Type.UNION)
      s.getTypes.asScala.find(_.getType != ASchema.Type.NULL).get
    else s

  /** InternalRow → GenericRecord; timestamps/dates pass through as raw
    * micros/days (identical physical representation). */
  def toRecord(row: InternalRow, st: StructType, avroSchema: ASchema): GenericRecord = {
    val rec = new GenericData.Record(avroSchema)
    var i = 0
    while (i < st.length) {
      val v =
        if (row.isNullAt(i)) null
        else toAvroValue(elementGetter(row, i, st(i).dataType), st(i).dataType,
          nonNullOf(avroSchema.getFields.get(i).schema()))
      rec.put(i, v)
      i += 1
    }
    rec
  }

  /** The Spark-internal value at position `i` of any row/array accessor. */
  private def elementGetter(s: org.apache.spark.sql.catalyst.expressions.SpecializedGetters,
                            i: Int, dt: DataType): Any = dt match {
    case LongType | TimestampType | TimestampNTZType => s.getLong(i)
    case IntegerType | DateType => s.getInt(i)
    case DoubleType  => s.getDouble(i)
    case FloatType   => s.getFloat(i)
    case BooleanType => s.getBoolean(i)
    case StringType  => s.getUTF8String(i)
    case BinaryType  => s.getBinary(i)
    case d: DecimalType => s.getDecimal(i, d.precision, d.scale)
    case ArrayType(_, _) => s.getArray(i)
    case st: StructType => s.getStruct(i, st.length)
    case MapType(_, _, _) => s.getMap(i)
    case other => throw new UnsupportedOperationException(s"avro write: $other")
  }

  /** A Spark-internal value → the Avro generic value for `avroSch`. */
  private def toAvroValue(v: Any, dt: DataType, avroSch: ASchema): AnyRef = dt match {
    case LongType | TimestampType | TimestampNTZType => java.lang.Long.valueOf(v.asInstanceOf[Long])
    case IntegerType | DateType => java.lang.Integer.valueOf(v.asInstanceOf[Int])
    case DoubleType  => java.lang.Double.valueOf(v.asInstanceOf[Double])
    case FloatType   => java.lang.Float.valueOf(v.asInstanceOf[Float])
    case BooleanType => java.lang.Boolean.valueOf(v.asInstanceOf[Boolean])
    case StringType  => v.toString
    case BinaryType  => java.nio.ByteBuffer.wrap(v.asInstanceOf[Array[Byte]])
    case _: DecimalType =>
      // standard Avro decimal encoding: unscaled two's-complement bytes
      java.nio.ByteBuffer.wrap(v.asInstanceOf[org.apache.spark.sql.types.Decimal]
        .toJavaBigDecimal.unscaledValue().toByteArray)
    case ArrayType(et, _) =>
      val arr = v.asInstanceOf[ArrayData]
      val elSch = nonNullOf(avroSch.getElementType)
      val out = new JArrayList[AnyRef](arr.numElements())
      var j = 0
      while (j < arr.numElements()) {
        out.add(if (arr.isNullAt(j)) null
          else toAvroValue(elementGetter(arr, j, et), et, elSch))
        j += 1
      }
      out
    case st: StructType => toRecord(v.asInstanceOf[InternalRow], st, avroSch)
    case MapType(StringType, vt, _) =>
      val m = v.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData]
      val keys = m.keyArray(); val vals = m.valueArray()
      val vSch = nonNullOf(avroSch.getValueType)
      val out = new java.util.HashMap[String, AnyRef](m.numElements())
      var j = 0
      while (j < m.numElements()) {
        out.put(keys.getUTF8String(j).toString,
          if (vals.isNullAt(j)) null
          else toAvroValue(elementGetter(vals, j, vt), vt, vSch))
        j += 1
      }
      out
    case other => throw new UnsupportedOperationException(s"avro write: $other")
  }

  /** GenericRecord → InternalRow projected to `required` (by field name —
    * records from files predating a column read the column's
    * initial-default when one is declared, else null; `defaults` is
    * [[org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
    * .getExistenceDefaultValues]] over `required`, already in Spark's
    * internal representation, null/absent = no defaults anywhere).
    * A field PRESENT in the record but holding null stays null — the
    * default substitutes only for physically-absent columns, exactly
    * Iceberg's initial-default read semantics. */
  def toInternalRow(rec: GenericRecord, required: StructType,
                    defaults: Array[Any] = null): InternalRow = {
    val values = new Array[Any](required.length)
    var i = 0
    while (i < required.length) {
      val f = required(i)
      values(i) =
        if (rec.getSchema.getField(f.name) == null)
          (if (defaults == null) null else defaults(i))
        else {
          val v = rec.get(f.name)
          if (v == null) null else toSparkValue(v, f.dataType)
        }
      i += 1
    }
    new GenericInternalRow(values)
  }

  private def toSparkValue(v: AnyRef, dt: DataType): Any = dt match {
    case StringType => UTF8String.fromString(v.toString)
    case BinaryType =>
      val bb = v.asInstanceOf[java.nio.ByteBuffer]
      val bytes = new Array[Byte](bb.remaining()); bb.duplicate().get(bytes); bytes
    case d: DecimalType =>
      val bb = v.asInstanceOf[java.nio.ByteBuffer]
      val bytes = new Array[Byte](bb.remaining()); bb.duplicate().get(bytes)
      org.apache.spark.sql.types.Decimal(
        new java.math.BigDecimal(new java.math.BigInteger(bytes), d.scale),
        d.precision, d.scale)
    case ArrayType(et, _) =>
      val list = v.asInstanceOf[java.util.List[AnyRef]]
      val out = new Array[Any](list.size())
      var j = 0
      while (j < list.size()) {
        val e = list.get(j)
        out(j) = if (e == null) null else toSparkValue(e, et)
        j += 1
      }
      new GenericArrayData(out)
    case st: StructType => toInternalRow(v.asInstanceOf[GenericRecord], st)
    case MapType(StringType, vt, _) =>
      val m = v.asInstanceOf[java.util.Map[AnyRef, AnyRef]]
      val keys = new Array[Any](m.size()); val vals = new Array[Any](m.size())
      var j = 0
      val it = m.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        keys(j) = UTF8String.fromString(e.getKey.toString)
        vals(j) = if (e.getValue == null) null else toSparkValue(e.getValue, vt)
        j += 1
      }
      new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
        new GenericArrayData(keys), new GenericArrayData(vals))
    // LONG/INT/DOUBLE/FLOAT/BOOLEAN (incl. timestamp micros / date days):
    // Avro's boxed primitive IS the internal representation
    case _ => v
  }
}
