package graft.sources

import java.net.{URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.sources
import org.apache.spark.sql.types._

/** Per-file column min/max/null-count statistics for manifest entries —
  * the metadata Iceberg keeps in its manifests (the reference's tables
  * get file skipping on ANY predicate from it,
  * `/root/reference/dags/2_bronze_to_silver.py:245-258`); here they ride
  * each manifest line and the V2 scan drops files whose bounds exclude
  * the pushed filters before the physical plan is built.
  *
  * Collection is METADATA-ONLY: parquet footers and ORC file tails
  * already carry exact per-column statistics, so stats cost one footer
  * read per NEW file at commit time (O(new files), driver-side — the
  * same order as the pool move itself), never a second pass over the
  * data. Avro containers have no column statistics, so avro entries
  * carry none and are simply never stats-pruned — correct, just not
  * skippable (the honest trade; a stats pass over avro would double
  * write I/O at 100 TB).
  *
  * The floor discipline (same as day pruning): a file is dropped ONLY
  * when its stats PROVE no row can match. Anything uncertain — missing
  * stats, unsupported type, non-ASCII string bounds (UTF-8 byte order
  * and Java's UTF-16 order diverge above ASCII), a filter shape we
  * don't model — keeps the file, and Spark's residual filters keep the
  * result exact regardless.
  *
  * Encoding (rides after a TAB on the manifest line, see
  * [[ManifestTable]]): `name:tag:min:max:nulls;…` with name/min/max
  * URL-encoded; `-` marks an absent bound/count. Tags: `l` integral,
  * `d` floating, `s` string, `m` decimal, `t` timestamp micros,
  * `n` timestamp_ntz micros, `a` date days, `b` boolean.
  */
object FileStats {

  /** One column's file-level bounds. `min`/`max` are canonical strings
    * of the tagged domain; None = unknown (never prune). */
  case class ColStats(tag: Char, min: Option[String], max: Option[String],
                      nulls: Option[Long])

  /** Reserved pseudo-column carrying the file's ROW COUNT (encoded as an
    * `l` entry with min = max = count). Predicates never name it — the
    * `__` prefix is reserved engine-wide — so pruning ignores it; the
    * metadata-only aggregate pushdown (COUNT(*) from the manifest alone)
    * is what reads it. Iceberg's `record_count` manifest field. */
  val RowsKey = "__rows"

  private[sources] def rowsEntry(n: Long): (String, ColStats) =
    RowsKey -> ColStats('l', Some(n.toString), Some(n.toString), Some(0L))

  /** Row count of an encoded stats string, if recorded. */
  def rowCount(decoded: Map[String, ColStats]): Option[Long] =
    decoded.get(RowsKey).flatMap(_.min).map(_.toLong)

  /** Reserved pseudo-column recording the SORT SPEC the writer applied
    * within this file — comma-separated PHYSICAL columns, ascending
    * nulls-first (encoded as an `s` entry with min = max = spec). The
    * per-file stamp is Iceberg's data-file `sort_order_id` shape: the
    * scan reports `SupportsReportOrdering` only when EVERY surviving
    * file carries the declared spec, so files written before the order
    * was declared (or added by an external writer) soundly silence the
    * report instead of corrupting it. */
  val SortKey = "__sort"

  private[sources] def sortEntry(spec: String): (String, ColStats) =
    SortKey -> ColStats('s', Some(spec), Some(spec), Some(0L))

  /** The file's recorded sort spec, if stamped. */
  def sortSpec(decoded: Map[String, ColStats]): Option[String] =
    decoded.get(SortKey).flatMap(_.min)

  /** Fold a sort-spec stamp into encoded stats (creating a stats string
    * when footer stats were off/unavailable). */
  def withSort(encoded: Option[String], spec: String): Option[String] =
    Some(encode(encoded.map(decode).getOrElse(Map.empty) + sortEntry(spec)))

  /** Reserved pseudo-column carrying the ROW-LEVEL OPERATION the file's
    * rows represent within their commit (encoded as an `s` entry with
    * min = max = label). Stamped by the merge-on-read MERGE on its
    * NOT-MATCHED insert files so the change feed can serve them as true
    * `insert` events instead of folding them into the commit's
    * update_postimage pairs (Delta CDC's per-row labels). Absent =
    * unlabeled, classified by the commit's manifest shape as before. */
  val OpKey = "__op"

  private[sources] def opEntry(label: String): (String, ColStats) =
    OpKey -> ColStats('s', Some(label), Some(label), Some(0L))

  /** The file's row-operation label, if stamped. */
  def opLabel(decoded: Map[String, ColStats]): Option[String] =
    decoded.get(OpKey).flatMap(_.min)

  /** Fold a row-operation label into encoded stats (creating a stats
    * string when footer stats were off/unavailable). */
  def withOp(encoded: Option[String], label: String): Option[String] =
    Some(encode(encoded.map(decode).getOrElse(Map.empty) + opEntry(label)))

  /** Reserved pseudo-column carrying the file's BYTE LENGTH (min = max =
    * bytes) and, in the nulls slot, its pool move-in mtime — recorded at
    * commit so scan planning builds its file index from the manifest
    * alone, with ZERO file-system listing (Iceberg's plan-from-manifest
    * property: at thousands of files the listing job dominates plan
    * time; at millions it's a driver stall per query). */
  val BytesKey = "__bytes"

  private[sources] def bytesEntry(len: Long, mtimeMillis: Long): (String, ColStats) =
    BytesKey -> ColStats('l', Some(len.toString), Some(len.toString),
      Some(mtimeMillis))

  /** (byte length, move-in mtime) of an encoded stats string, if recorded. */
  def byteSize(decoded: Map[String, ColStats]): Option[(Long, Long)] =
    decoded.get(BytesKey).flatMap(c =>
      c.min.map(_.toLong).map(_ -> c.nulls.getOrElse(0L)))

  /** Fold a file's byte length + mtime into its encoded stats (creating
    * a stats string when footer stats were off/unavailable). */
  def withBytes(encoded: Option[String], len: Long, mtimeMillis: Long): Option[String] =
    Some(encode(encoded.map(decode).getOrElse(Map.empty) +
      bytesEntry(len, mtimeMillis)))

  // ---- encoding -----------------------------------------------------------

  private def enc(s: String): String = URLEncoder.encode(s, StandardCharsets.UTF_8)
  private def dec(s: String): String = URLDecoder.decode(s, StandardCharsets.UTF_8)

  def encode(stats: Map[String, ColStats]): String =
    stats.toSeq.sortBy(_._1).map { case (name, c) =>
      Seq(enc(name), c.tag.toString,
        c.min.map(enc).getOrElse("-"), c.max.map(enc).getOrElse("-"),
        c.nulls.map(_.toString).getOrElse("-")).mkString(":")
    }.mkString(";")

  /** Lowercased column name → stats (prune-time lookups are
    * case-insensitive like the rest of the engine). Malformed input
    * decodes to empty — never prune on garbage. */
  def decode(s: String): Map[String, ColStats] =
    Try {
      s.split(';').filter(_.nonEmpty).map { tok =>
        val p = tok.split(":", -1)
        require(p.length == 5 && p(1).length == 1)
        dec(p(0)).toLowerCase -> ColStats(p(1)(0),
          Some(p(2)).filter(_ != "-").map(dec),
          Some(p(3)).filter(_ != "-").map(dec),
          Some(p(4)).filter(_ != "-").map(_.toLong))
      }.toMap
    }.getOrElse(Map.empty)

  // ---- collection ---------------------------------------------------------

  private def asciiOnly(s: String): Boolean = s.forall(_ < 0x80)

  /** Tag for a Spark type whose bounds we can model; None = no stats. */
  private[graft] def tagOf(dt: DataType): Option[Char] = dt match {
    case ByteType | ShortType | IntegerType | LongType => Some('l')
    case FloatType | DoubleType                        => Some('d')
    case StringType                                    => Some('s')
    case _: DecimalType                                => Some('m')
    case TimestampType                                 => Some('t')
    case TimestampNTZType                              => Some('n')
    case DateType                                      => Some('a')
    case BooleanType                                   => Some('b')
    case _                                             => None
  }

  /** Read one data file's per-column stats from its own metadata.
    * Returns None on any failure or when nothing useful was found —
    * stats never fail a commit. `schema` is the PHYSICAL file schema
    * (what the writer put on disk). Parquet/ORC footers carry exact
    * statistics; avro containers don't, so the avro WRITER accumulates
    * them while streaming records and leaves a hidden sidecar next to
    * the staged file ([[StatsAccumulator]]) — read here, one tiny IO,
    * never a second pass over the data. */
  def collect(path: String, format: String, schema: StructType,
              conf: Configuration): Option[String] = Try {
    format match {
      case "parquet" => Some(parquetStats(path, schema, conf)).filter(_.nonEmpty).map(encode)
      case "orc"     => Some(orcStats(path, schema, conf)).filter(_.nonEmpty).map(encode)
      case "avro"    => avroSidecar(path, conf)
      case _         => None
    }
  }.toOption.flatten

  /** The writer-produced stats sidecar of a staged avro file
    * (`.<name>.stats`, hidden from every file listing), validated by a
    * round-trip decode. */
  private def avroSidecar(path: String, conf: Configuration): Option[String] = {
    val p = new Path(path)
    val side = new Path(p.getParent, s".${p.getName}.stats")
    val fs = side.getFileSystem(conf)
    if (!fs.exists(side)) None
    else {
      val in = fs.open(side)
      val s = try {
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
        new String(out.toByteArray, StandardCharsets.UTF_8)
      } finally in.close()
      Some(s).filter(v => v.nonEmpty && decode(v).nonEmpty)
    }
  }

  /** Streaming min/max/null accumulator for formats whose containers
    * carry no column statistics (avro): the writer feeds every row as it
    * goes — O(columns) comparisons per row, no extra IO — and `encoded`
    * renders exactly the canonical strings footer-derived stats use, so
    * prune-time evaluation ([[mayContain]]) is format-blind. The same
    * floor discipline applies: a column whose bounds can't be canonical
    * (non-ASCII/long strings, NaN doubles) is omitted and its files are
    * simply never pruned on it. */
  final class StatsAccumulator(schema: StructType) {
    private val n = schema.length
    private val tags: Array[Option[Char]] = schema.fields.map(f => tagOf(f.dataType))
    private val nulls = new Array[Long](n)
    private val mins = new Array[Any](n)
    private val maxs = new Array[Any](n)
    private val poisoned = new Array[Boolean](n) // NaN seen: no bounds verdict

    private def comparable(row: org.apache.spark.sql.catalyst.InternalRow,
                           i: Int): Any = schema(i).dataType match {
      case ByteType    => row.getByte(i).toLong
      case ShortType   => row.getShort(i).toLong
      case IntegerType => row.getInt(i).toLong
      case LongType | TimestampType | TimestampNTZType => row.getLong(i)
      case DateType    => row.getInt(i).toLong
      case FloatType   => row.getFloat(i).toDouble
      case DoubleType  => row.getDouble(i)
      case StringType  => row.getUTF8String(i).toString
      case d: DecimalType =>
        row.getDecimal(i, d.precision, d.scale).toJavaBigDecimal
      case BooleanType => if (row.getBoolean(i)) 1L else 0L
      case other => throw new IllegalStateException(s"untagged $other")
    }

    private def lt(tag: Char, a: Any, b: Any): Boolean = tag match {
      case 'l' | 't' | 'n' | 'a' | 'b' => a.asInstanceOf[Long] < b.asInstanceOf[Long]
      case 'd' => a.asInstanceOf[Double] < b.asInstanceOf[Double]
      case 's' => a.asInstanceOf[String].compareTo(b.asInstanceOf[String]) < 0
      case 'm' => a.asInstanceOf[java.math.BigDecimal]
        .compareTo(b.asInstanceOf[java.math.BigDecimal]) < 0
    }

    private var rowCount = 0L

    def update(row: org.apache.spark.sql.catalyst.InternalRow): Unit = {
      rowCount += 1
      var i = 0
      while (i < n) {
        tags(i) match {
          case Some(tag) =>
            if (row.isNullAt(i)) nulls(i) += 1
            else {
              val v = comparable(row, i)
              if (tag == 'd' && java.lang.Double.isNaN(v.asInstanceOf[Double]))
                poisoned(i) = true
              else {
                if (mins(i) == null || lt(tag, v, mins(i))) mins(i) = v
                if (maxs(i) == null || lt(tag, maxs(i), v)) maxs(i) = v
              }
            }
          case None => ()
        }
        i += 1
      }
    }

    private def canonical(tag: Char, v: Any): Option[String] = tag match {
      case 's' => safeString(v.asInstanceOf[String])
      case 'm' => Some(v.asInstanceOf[java.math.BigDecimal].toPlainString)
      case _   => Some(v.toString)
    }

    /** The encoded stats string, None when no column got a verdict. */
    def encoded: Option[String] = {
      val cols = schema.fields.indices.flatMap { i =>
        tags(i).flatMap { tag =>
          if (poisoned(i)) None
          else if (mins(i) == null) // no non-null value seen
            Some(schema(i).name -> ColStats(tag, None, None, Some(nulls(i))))
          else (canonical(tag, mins(i)), canonical(tag, maxs(i))) match {
            case (Some(mn), Some(mx)) =>
              Some(schema(i).name -> ColStats(tag, Some(mn), Some(mx), Some(nulls(i))))
            case _ => None
          }
        }
      }.toMap
      Some(encode(cols + rowsEntry(rowCount)))
    }
  }

  /** Drop a string bound that can't be compared safely: non-ASCII (byte
    * vs UTF-16 order) or suspiciously long (writers truncate long binary
    * stats; a truncated max understates the bound). */
  private def safeString(s: String): Option[String] =
    Some(s).filter(v => v.length <= 64 && asciiOnly(v))

  private def parquetStats(path: String, schema: StructType,
                           conf: Configuration): Map[String, ColStats] = {
    import org.apache.parquet.HadoopReadOptions
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    // read options from the caller's conf: the no-options open builds
    // them over a fresh Hadoop Configuration, which reloads the default
    // XML resources from the jars for every file
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(path), conf),
      HadoopReadOptions.builder(conf).build())
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      if (blocks.isEmpty) return Map(rowsEntry(0L))
      val fileRows = blocks.map(_.getRowCount).sum
      // timestamps: footer longs are only micros when the logical
      // annotation says MICROS — MILLIS/NANOS footers (alternate writer
      // configs) would be misread by three orders of magnitude, so any
      // other unit yields no stats verdict for the column
      def microsAnnotated(c: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData): Boolean =
        c.getPrimitiveType.getLogicalTypeAnnotation match {
          case t: org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            t.getUnit == org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.MICROS
          case _ => false
        }
      schema.fields.flatMap { f =>
        tagOf(f.dataType).flatMap { tag =>
          // per-row-group chunks for this top-level column
          val chunks = blocks.map(_.getColumns.asScala
            .find(c => c.getPath.size() == 1 && c.getPath.toDotString == f.name))
          if (chunks.exists(_.isEmpty)) None
          else if ((tag == 't' || tag == 'n') && !chunks.flatten.forall(microsAnnotated)) None
          else {
            val sts = chunks.flatten.map(_.getStatistics)
            // every row group must carry usable stats, else no verdict
            if (sts.exists(s => s == null || s.isEmpty || !s.isNumNullsSet)) None
            else {
              val nulls = sts.map(_.getNumNulls).sum
              val valued = sts.filter(_.hasNonNullValue)
              val bounds: Option[(String, String)] =
                if (valued.isEmpty) None // all-null column: bounds absent
                else {
                  val mins = valued.map(s => parquetValue(s.genericGetMin, f.dataType))
                  val maxs = valued.map(s => parquetValue(s.genericGetMax, f.dataType))
                  if (mins.exists(_.isEmpty) || maxs.exists(_.isEmpty)) None
                  else Some((reduceBound(mins.flatten, tag, isMin = true),
                    reduceBound(maxs.flatten, tag, isMin = false)))
                }
              bounds match {
                case Some((mn, mx)) =>
                  Some(f.name -> ColStats(tag, Some(mn), Some(mx), Some(nulls)))
                case None if valued.isEmpty =>
                  Some(f.name -> ColStats(tag, None, None, Some(nulls)))
                case None => None
              }
            }
          }
        }
      }.toMap + rowsEntry(fileRows)
    } finally reader.close()
  }

  /** A parquet footer value rendered into the tag's canonical string. */
  private def parquetValue(v: Any, dt: DataType): Option[String] = (v, dt) match {
    case (i: java.lang.Integer, ByteType | ShortType | IntegerType) => Some(i.longValue.toString)
    case (l: java.lang.Long, LongType)        => Some(l.toString)
    case (f: java.lang.Float, FloatType)      => Some(f.doubleValue.toString)
    case (d: java.lang.Double, DoubleType)    => Some(d.toString)
    case (b: org.apache.parquet.io.api.Binary, StringType) =>
      safeString(new String(b.getBytes, StandardCharsets.UTF_8))
    case (i: java.lang.Integer, d: DecimalType) =>
      Some(java.math.BigDecimal.valueOf(i.longValue, d.scale).toPlainString)
    case (l: java.lang.Long, d: DecimalType) =>
      Some(java.math.BigDecimal.valueOf(l, d.scale).toPlainString)
    case (b: org.apache.parquet.io.api.Binary, d: DecimalType) =>
      Some(new java.math.BigDecimal(new java.math.BigInteger(b.getBytes), d.scale).toPlainString)
    case (l: java.lang.Long, TimestampType | TimestampNTZType) => Some(l.toString) // INT64 micros
    case (i: java.lang.Integer, DateType)     => Some(i.longValue.toString) // epoch days
    case (b: java.lang.Boolean, BooleanType)  => Some(if (b) "1" else "0")
    case _ => None // INT96 timestamps etc: no stats verdict
  }

  private def orcStats(path: String, schema: StructType,
                       conf: Configuration): Map[String, ColStats] = {
    import org.apache.orc.OrcFile
    val reader = OrcFile.createReader(new Path(path), OrcFile.readerOptions(conf))
    try {
      val st = reader.getStatistics
      val root = reader.getSchema
      if (root.getCategory != org.apache.orc.TypeDescription.Category.STRUCT) return Map.empty
      val rows = st(0).getNumberOfValues
      val names = root.getFieldNames.asScala.toSeq
      val children = root.getChildren.asScala.toSeq
      names.zip(children).flatMap { case (name, child) =>
        schema.fields.find(_.name == name).flatMap { f =>
          tagOf(f.dataType).flatMap { tag =>
            val cs = st(child.getId)
            val nulls = rows - cs.getNumberOfValues
            if (cs.getNumberOfValues == 0)
              Some(name -> ColStats(tag, None, None, Some(nulls)))
            else orcBounds(cs, f.dataType).map { case (mn, mx) =>
              name -> ColStats(tag, Some(mn), Some(mx), Some(nulls))
            }
          }
        }
      }.toMap + rowsEntry(rows)
    } finally reader.close()
  }

  private def orcBounds(cs: org.apache.orc.ColumnStatistics,
                        dt: DataType): Option[(String, String)] = {
    import org.apache.orc._
    (cs, dt) match {
      case (s: IntegerColumnStatistics, ByteType | ShortType | IntegerType | LongType) =>
        Some((s.getMinimum.toString, s.getMaximum.toString))
      case (s: DoubleColumnStatistics, FloatType | DoubleType) =>
        // ORC's double stats SEED min/max with the first value even when it
        // is NaN and ignore NaN afterwards, so a NaN-containing file carries
        // bounds that either are NaN or silently exclude it (Spark's MIN/MAX
        // over such data returns NaN — a metadata answer from these bounds
        // would be wrong, and a NaN min would wrongly prune LessThan). The
        // running SUM does propagate NaN, so a NaN sum is the reliable
        // poison flag; +Inf + -Inf also lands on NaN — conservative decline
        // either way (null count still rides).
        if (java.lang.Double.isNaN(s.getSum) ||
            java.lang.Double.isNaN(s.getMinimum) || java.lang.Double.isNaN(s.getMaximum)) None
        else Some((s.getMinimum.toString, s.getMaximum.toString))
      case (s: StringColumnStatistics, StringType) =>
        for {
          mn <- Option(s.getMinimum).flatMap(safeString)
          mx <- Option(s.getMaximum).flatMap(safeString)
        } yield (mn, mx)
      case (s: DecimalColumnStatistics, _: DecimalType) =>
        for {
          mn <- Option(s.getMinimum)
          mx <- Option(s.getMaximum)
        } yield (mn.bigDecimalValue.toPlainString, mx.bigDecimalValue.toPlainString)
      case (s: DateColumnStatistics, DateType) =>
        Some((s.getMinimumDayOfEpoch.toString, s.getMaximumDayOfEpoch.toString))
      // ORC TIMESTAMP statistics interact with writer zones; skipping them
      // keeps the floor honest (day pruning already covers the ts column)
      case _ => None
    }
  }

  private[graft] def reduceBound(vs: Seq[String], tag: Char, isMin: Boolean): String = {
    def pick[T](parse: String => T)(implicit ord: Ordering[T]): String =
      (if (isMin) vs.minBy(parse) else vs.maxBy(parse))
    tag match {
      case 'l' | 't' | 'n' | 'a' | 'b' => pick(_.toLong)
      case 'd'                         => pick(_.toDouble)
      case 'm'                         => pick(BigDecimal(_))
      case _                           => pick(identity[String])
    }
  }

  // ---- prune-time evaluation ----------------------------------------------

  /** The filter value converted into `tag`'s comparable domain; None =
    * can't compare (no prune). */
  private def domainValue(tag: Char, v: Any): Option[Any] = (tag, v) match {
    case ('l', x: java.lang.Number) if x.isInstanceOf[java.lang.Byte] ||
        x.isInstanceOf[java.lang.Short] || x.isInstanceOf[java.lang.Integer] ||
        x.isInstanceOf[java.lang.Long] => Some(x.longValue)
    // NaN never prunes: parquet/orc writers disagree on whether NaN enters
    // min/max (Spark's own ParquetFilters refuses to push NaN comparisons),
    // so a NaN bound verdict against a foreign-written footer is unsound.
    case ('d', x: java.lang.Number) =>
      val d = x.doubleValue
      if (java.lang.Double.isNaN(d)) None else Some(d)
    case ('s', x: String)           => Some(x)
    case ('m', x: java.math.BigDecimal) => Some(BigDecimal(x))
    case ('m', x: BigDecimal)       => Some(x)
    case ('m', x: java.lang.Number) => Try(BigDecimal(x.toString)).toOption
    case ('t', x: java.sql.Timestamp) =>
      Some(Math.floorDiv(x.getTime, 1000L) * 1000000L + x.getNanos / 1000L)
    case ('t', x: java.time.Instant) =>
      Some(x.getEpochSecond * 1000000L + x.getNano / 1000L)
    case ('n', x: java.time.LocalDateTime) =>
      Some(x.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + x.getNano / 1000L)
    case ('a', x: java.sql.Date)      => Some(x.toLocalDate.toEpochDay)
    case ('a', x: java.time.LocalDate) => Some(x.toEpochDay)
    case ('b', x: java.lang.Boolean) => Some(if (x) 1L else 0L)
    case _ => None
  }

  private def parseBound(tag: Char, s: String): Option[Any] = Try {
    tag match {
      case 'l' | 't' | 'n' | 'a' | 'b' => s.toLong
      // a NaN bound (legacy manifests written before the ORC NaN decline)
      // gives no ordering verdict — refuse it, never prune on it
      case 'd' => val d = s.toDouble; require(!java.lang.Double.isNaN(d)); d
      case 'm'                         => BigDecimal(s)
      case 's'                         => s
    }
  }.toOption

  private def cmp(tag: Char, a: Any, b: Any): Int = tag match {
    case 'l' | 't' | 'n' | 'a' | 'b' =>
      java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
    case 'd' => java.lang.Double.compare(a.asInstanceOf[Double], b.asInstanceOf[Double])
    case 'm' => a.asInstanceOf[BigDecimal].compare(b.asInstanceOf[BigDecimal])
    case 's' => a.asInstanceOf[String].compareTo(b.asInstanceOf[String])
  }

  /** True iff two columns' value ranges PROVABLY do not intersect — the
    * disjointness test behind equality-join target pruning (a target file
    * whose range for some join column misses the probe side's range
    * entirely cannot produce a match). Conservative: any missing bound,
    * tag mismatch, or unparseable value answers false (may intersect). */
  def provablyDisjoint(a: ColStats, b: ColStats): Boolean =
    a.tag == b.tag && (for {
      amn <- a.min.flatMap(parseBound(a.tag, _))
      amx <- a.max.flatMap(parseBound(a.tag, _))
      bmn <- b.min.flatMap(parseBound(b.tag, _))
      bmx <- b.max.flatMap(parseBound(b.tag, _))
    } yield cmp(a.tag, amx, bmn) < 0 || cmp(a.tag, bmx, amn) < 0)
      .getOrElse(false)

  /** Order-preserving concatenation check: can `files` (id → decoded
    * stats) be read back-to-back as ONE sorted run on `col`? Yes iff
    * every file carries both bounds for the column and the ranges are
    * pairwise STRICTLY disjoint — strict, because two files touching at
    * a boundary value could interleave that value's rows (and break any
    * secondary sort column's order within the tie). Returns the ids in
    * range order, or None when any bound is missing/unparseable or any
    * pair overlaps (conservative: never claim an order the stamps cannot
    * prove). Disjointness on the LEADING sort column alone is sufficient
    * for a multi-column spec: a strict first-key step between files
    * decides the lexicographic comparison before later keys are read. */
  def disjointOrder(col: String,
                    files: Seq[(String, Map[String, ColStats])]): Option[Seq[String]] = {
    val bounds = files.map { case (id, stats) =>
      stats.get(col.toLowerCase).flatMap(c => for {
        mn <- c.min.flatMap(parseBound(c.tag, _))
        mx <- c.max.flatMap(parseBound(c.tag, _))
        nulls <- c.nulls // unknown null count = unprovable, refuse
      } yield (id, c.tag, mn, mx, nulls))
    }
    if (bounds.exists(_.isEmpty)) return None
    val bs = bounds.flatten
    if (bs.map(_._2).distinct.size != 1) return None
    val tag = bs.head._2
    val sorted = bs.sortWith((a, b) => cmp(tag, a._3, b._3) < 0)
    // NULLS sort FIRST (the pool write's order): min/max bounds ignore
    // nulls, so a later-ranked file holding nulls would land them MID-
    // run — only the first-ranked file may carry any (its own nulls
    // lead its rows, which lead the run)
    val ok = sorted.drop(1).forall(_._5 == 0L) &&
      sorted.zip(sorted.drop(1)).forall { case (a, b) =>
        cmp(tag, a._4, b._3) < 0 // prev.max STRICTLY below next.min
      }
    if (ok) Some(sorted.map(_._1)) else None
  }

  /** Conservative may-contain verdict for one pushed filter against one
    * file's stats. True = the file must stay (match possible or unknown);
    * false = PROVEN empty for this filter. */
  def mayContain(stats: Map[String, ColStats], f: sources.Filter): Boolean = {
    def col(name: String): Option[ColStats] = stats.get(name.toLowerCase)
    // bounds comparison helpers: None anywhere => unknown => may contain
    // bounds absent + a positive null count recorded means the writer saw
    // only nulls: no comparison filter can match such a file
    def allNullProven(c: ColStats): Boolean =
      c.min.isEmpty && c.max.isEmpty && c.nulls.exists(_ > 0)
    def withBounds(name: String, v: Any)(verdict: (Char, Any, Any, Any) => Boolean): Boolean =
      (for {
        c <- col(name); mnS <- c.min; mxS <- c.max
        dv <- domainValue(c.tag, v)
        mn <- parseBound(c.tag, mnS); mx <- parseBound(c.tag, mxS)
      } yield verdict(c.tag, dv, mn, mx))
        .getOrElse(!col(name).exists(allNullProven))

    f match {
      case sources.And(l, r) => mayContain(stats, l) && mayContain(stats, r)
      case sources.Or(l, r)  => mayContain(stats, l) || mayContain(stats, r)
      case sources.EqualTo(a, v) =>
        withBounds(a, v)((t, dv, mn, mx) => cmp(t, dv, mn) >= 0 && cmp(t, dv, mx) <= 0)
      case sources.EqualNullSafe(a, v) if v != null =>
        withBounds(a, v)((t, dv, mn, mx) => cmp(t, dv, mn) >= 0 && cmp(t, dv, mx) <= 0)
      case sources.GreaterThan(a, v) =>
        withBounds(a, v)((t, dv, _, mx) => cmp(t, mx, dv) > 0)
      case sources.GreaterThanOrEqual(a, v) =>
        withBounds(a, v)((t, dv, _, mx) => cmp(t, mx, dv) >= 0)
      case sources.LessThan(a, v) =>
        withBounds(a, v)((t, dv, mn, _) => cmp(t, mn, dv) < 0)
      case sources.LessThanOrEqual(a, v) =>
        withBounds(a, v)((t, dv, mn, _) => cmp(t, mn, dv) <= 0)
      case sources.In(a, vs) =>
        vs.isEmpty || vs.exists(v => withBounds(a, v)((t, dv, mn, mx) =>
          cmp(t, dv, mn) >= 0 && cmp(t, dv, mx) <= 0))
      case sources.IsNull(a) =>
        col(a).flatMap(_.nulls) match {
          case Some(0L) => false // zero nulls proven
          case _ => true
        }
      case sources.IsNotNull(a) =>
        col(a) match {
          case Some(c) if allNullProven(c) => false
          case _ => true
        }
      case sources.AlwaysFalse() => false // provably-empty probe side
      case sources.StringStartsWith(a, prefix) if asciiOnly(prefix) =>
        (for {
          c <- col(a); mnS <- c.min; mxS <- c.max
        } yield {
          // values with the prefix live in [prefix, prefix∞): prune when
          // max < prefix, or min > prefix without sharing it
          !(mxS.compareTo(prefix) < 0 ||
            (mnS.compareTo(prefix) > 0 && !mnS.startsWith(prefix)))
        }).getOrElse(true)
      case _ => true // Not / unmodeled shapes: never prune
    }
  }
}
