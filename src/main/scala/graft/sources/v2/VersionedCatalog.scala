package graft.sources.v2

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import org.apache.spark.sql.catalyst.util.ResolveDefaultColumns

import graft.sources.{FileStats, ManifestTable, MetaIO}

/** DataSource V2 catalog plugin making [[graft.sources.ManifestTable]]
  * snapshot tables first-class PLANNER objects — the integration layer the
  * reference gets from Iceberg's SparkCatalog
  * (`/root/reference/dags/2_bronze_to_silver.py:30-44`: silver tables are
  * catalog objects addressed as `silver_catalog.silver.<tbl>`):
  *
  *  - `spark.sql("SELECT … FROM graft_cat.ns.tbl")` / `spark.table(…)`
  *    resolve through [[VersionedCatalog.loadTable]];
  *  - `VERSION AS OF` / `TIMESTAMP AS OF` go through the time-travel
  *    `loadTable` overloads — Spark's OWN parser drives snapshot reads,
  *    no injected-parser rewrite needed on this path;
  *  - `INSERT INTO` / `INSERT OVERWRITE` / CTAS run the V2 write path and
  *    commit manifests ([[VersionedWriteBuilder]]) — append cost is
  *    proportional to the appended data, and every commit is an atomic
  *    pointer flip with retained history;
  *  - scans prune AT THE MANIFEST: filters on the hidden-day partition's
  *    SOURCE timestamp column derive day bounds, out-of-range data files
  *    are dropped from the file listing before the scan is planned
  *    ([[VersionedScanBuilder]]) — Iceberg's scan planning re-expressed —
  *    and the surviving files are read by Spark's own vectorized parquet
  *    scan with columns pruned and data filters pushed to row-group
  *    statistics.
  *
  * Configuration:
  * {{{
  *   spark.sql.catalog.graft_cat           graft.sources.v2.VersionedCatalog
  *   spark.sql.catalog.graft_cat.warehouse /path/to/warehouse
  * }}}
  *
  * Layout: `<warehouse>/<namespace…>/<table>` is a [[ManifestTable]] root
  * plus a `_TABLE` descriptor (first line: hidden-day source column or
  * empty; rest: schema JSON). The hidden `__day` partition column never
  * appears in the user schema — days(ts) is reported through
  * `partitioning()` and derived at scan/write time, which is the
  * hidden-partitioning contract.
  */
class VersionedCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog {

  /** Partition-transform functions for the storage-partitioned-join
    * planner ([[GraftBucketFunction]]); resolved with an EMPTY namespace,
    * which is how V2ExpressionUtils addresses a reported transform. */
  override def listFunctions(namespace: Array[String])
      : Array[org.apache.spark.sql.connector.catalog.Identifier] =
    if (namespace.isEmpty)
      Array("bucket", "days", "months", "years", "truncate").map(
        org.apache.spark.sql.connector.catalog.Identifier.of(Array.empty, _))
    else Array.empty

  override def loadFunction(ident: org.apache.spark.sql.connector.catalog.Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.namespace.nonEmpty)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)
    else ident.name.toLowerCase match {
      case "bucket" => GraftBucketFunction
      case "days" => GraftDaysFunction
      case "months" => GraftMonthsFunction
      case "years" => GraftYearsFunction
      case "truncate" => GraftTruncateFunction
      case n if n.startsWith("truncate_w") &&
          n.stripPrefix("truncate_w").forall(_.isDigit) &&
          n.length > "truncate_w".length =>
        GraftTruncateWidthFunction(n.stripPrefix("truncate_w").toInt)
      case _ =>
        throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)
    }

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name needs spark.sql.catalog.$name.warehouse"))
    VersionedCatalog.register(name, warehouse)
  }

  override def name(): String = catalogName

  /** Declares column-default support so Spark's DDL layer routes
    * `ADD COLUMN ... DEFAULT v` / `ALTER COLUMN ... SET DEFAULT v`
    * through [[alterTable]] instead of rejecting them up front. */
  override def capabilities(): java.util.Set[TableCatalogCapability] =
    java.util.EnumSet.of(TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  private def tableRoot(ident: Identifier): String =
    (Seq(warehouse) ++ ident.namespace().toSeq :+ ident.name()).mkString("/")

  private def nsDir(ns: Array[String]): String =
    (Seq(warehouse) ++ ns.toSeq).mkString("/")

  // ---- tables -------------------------------------------------------------

  override def listTables(ns: Array[String]): Array[Identifier] = {
    val d = nsDir(ns)
    if (!MetaIO.isDirectory(d)) throw new NoSuchNamespaceException(ns)
    MetaIO.listStatus(d)
      .filter(st => MetaIO.exists(s"${st.getPath}/${VersionedCatalog.MetaFile}"))
      .map(st => Identifier.of(ns, st.getPath.getName))
      .toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    MetaIO.exists(s"${tableRoot(ident)}/${VersionedCatalog.MetaFile}")

  override def loadTable(ident: Identifier): Table = {
    // metadata-table suffix resolution (Iceberg's `db.tbl.files` shape):
    // `cat.ns.tbl.files|snapshots|partitions` arrives with the PARENT
    // table's name as the last namespace element
    if (!tableExists(ident) && ident.namespace().length >= 1 &&
        MetaTables.Kinds.contains(ident.name().toLowerCase)) {
      val ns = ident.namespace()
      val parent = Identifier.of(ns.dropRight(1), ns.last)
      if (tableExists(parent))
        return MetaTables.load(
          s"$catalogName.${(ns :+ ident.name()).mkString(".")}",
          tableRoot(parent), ident.name().toLowerCase)
    }
    loadVersion(ident, None)
  }

  /** `VERSION AS OF x` — Spark hands the literal as a string. An
    * all-digit literal is a snapshot id; anything else resolves through
    * the table's named refs (tags and branches share one namespace, and
    * ref names can never be all-digit, so precedence is unambiguous). */
  override def loadTable(ident: Identifier, version: String): Table = {
    // time travel on a metadata table: only the change feed is
    // version-addressable — `tbl.changes VERSION AS OF 'wap'` reads the
    // feed up to a branch head or pinned snapshot (the WAP audit's
    // "what would this publish change")
    if (!tableExists(ident) && ident.namespace().length >= 1 &&
        MetaTables.Kinds.contains(ident.name().toLowerCase)) {
      val ns = ident.namespace()
      val parent = Identifier.of(ns.dropRight(1), ns.last)
      if (tableExists(parent)) {
        val root = tableRoot(parent)
        val v = if (version.nonEmpty && version.forall(_.isDigit)) version.toLong
                else ManifestTable.resolveRef(root, version).version
        return MetaTables.load(
          s"$catalogName.${(ns :+ ident.name()).mkString(".")}",
          root, ident.name().toLowerCase, Some(v))
      }
    }
    if (version.nonEmpty && version.forall(_.isDigit))
      loadVersion(ident, Some(version.toLong))
    else {
      if (!tableExists(ident)) throw new NoSuchTableException(ident)
      loadVersion(ident,
        Some(ManifestTable.resolveRef(tableRoot(ident), version).version))
    }
  }

  /** `TIMESTAMP AS OF t` — Spark hands MICROseconds since epoch. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val root = tableRoot(ident)
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    loadVersion(ident, Some(ManifestTable.versionAsOf(root, timestampMicros / 1000L)))
  }

  private def loadVersion(ident: Identifier, version: Option[Long]): Table = {
    val root = tableRoot(ident)
    val meta = VersionedCatalog.readMeta(root).getOrElse(
      throw new NoSuchTableException(ident))
    VersionedTable(
      s"$catalogName.${(ident.namespace() :+ ident.name()).mkString(".")}",
      root, meta.schema, meta.dayOf, version, meta)
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: JMap[String, String]): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    // mirror of the CREATE VIEW guard: a view never shadows a table AND a
    // table never shadows a view — view expansion fires on the stored
    // definition file, so a table created under a view's name would have
    // its reads silently answered by the view and its INSERTs rejected
    // as writes to a subquery
    require(!graft.plans.Views.definitionFileExists(
        warehouse, ident.namespace().toSeq, ident.name()),
      s"cannot create table ${ident.namespace().mkString(".")}." +
        s"${ident.name()}: a VIEW of that name exists (DROP VIEW it first)")
    // classify the requested transforms: one hidden temporal/bucket/
    // truncate transform OR any number of identity columns (the reference
    // gold's `ano, mes`) — never both (one directory layout per table)
    def refCol(t: Transform): String = t.references().headOption
      .map(_.fieldNames().mkString("."))
      .getOrElse(throw new UnsupportedOperationException(s"$t has no column reference"))
    def intArg(t: Transform): Int = t.arguments().collectFirst {
      case l: org.apache.spark.sql.connector.expressions.Literal[_]
        if l.dataType == org.apache.spark.sql.types.IntegerType =>
        l.value.asInstanceOf[Int]
    }.getOrElse(throw new UnsupportedOperationException(s"$t needs an integer argument"))
    var dayOf: Option[String] = None
    var part: Option[VersionedCatalog.PartTransform] = None
    var identityCols: Vector[String] = Vector.empty
    partitions.foreach { t =>
      t.name() match {
        case "identity" => identityCols :+= refCol(t)
        case "days"     => require(dayOf.isEmpty, "at most one days() transform"); dayOf = Some(refCol(t))
        case "months" | "years" =>
          require(part.isEmpty && dayOf.isEmpty, "at most one hidden transform")
          part = Some(VersionedCatalog.PartTransform(t.name(), refCol(t), None))
        case "bucket" | "truncate" =>
          require(part.isEmpty && dayOf.isEmpty, "at most one hidden transform")
          part = Some(VersionedCatalog.PartTransform(t.name(), refCol(t), Some(intArg(t))))
        case other => throw new UnsupportedOperationException(
          s"unsupported partition transform $other " +
            "(supported: identity columns, days, months, years, bucket, truncate)")
      }
    }
    if ((dayOf.nonEmpty || part.nonEmpty) && identityCols.nonEmpty)
      throw new UnsupportedOperationException(
        "cannot combine a hidden transform with identity partition columns")
    if (Seq(dayOf, part).count(_.nonEmpty) > 1)
      throw new UnsupportedOperationException("at most one hidden transform per table")
    (dayOf.toSeq ++ part.map(_.col) ++ identityCols).foreach { c =>
      require(schema.fieldNames.exists(_.equalsIgnoreCase(c)),
        s"partition source $c: no such column in ${schema.fieldNames.mkString(", ")}")
    }
    // per-table storage format — the reference parametrizes this per table
    // via `write.format.default` (dags/2_bronze_to_silver.py:245-248):
    // `USING orc|avro` (the provider) or TBLPROPERTIES('format'='…')
    val format = Option(properties.get("format"))
      .orElse(Option(properties.get(TableCatalog.PROP_PROVIDER))
        .filter(p => ManifestTable.FileFormats.contains(p.toLowerCase)))
      .map(_.toLowerCase).getOrElse("parquet")
    require(ManifestTable.FileFormats.contains(format),
      s"unsupported table format '$format' (one of ${ManifestTable.FileFormats.mkString(", ")})")
    // identity values live ONLY in directory names (partitionBy strips the
    // columns from the files); the avro scan has no partition-append step,
    // so identity partitioning is a parquet/orc capability — refuse early
    // rather than silently lose the columns
    require(!(format == "avro" && identityCols.nonEmpty),
      "identity partition columns are not supported for avro tables")
    val root = tableRoot(ident)
    MetaIO.mkdirs(root)
    import scala.jdk.CollectionConverters._
    val userProps = properties.asScala.toMap.filter { case (k, _) =>
      val lk = k.toLowerCase
      !VersionedCatalog.ReservedProps.contains(lk) && lk != "owner" &&
        !lk.startsWith("option.") && !lk.startsWith("spark.")
    }
    val meta = VersionedCatalog.Meta(schema, dayOf, format,
      part = part, identityCols = identityCols, userProps = userProps)
    // declared write sort order (Iceberg's write.sort-order): validate
    // BEFORE the descriptor persists, then publish the table-root
    // marker every pool write consults (sort-within-file + stamp)
    VersionedCatalog.validateSortOrderProp(meta)
    VersionedCatalog.validateBloomProp(meta)
    VersionedCatalog.validateDmlModeProps(meta)
    VersionedCatalog.validateStatsProps(meta)
    VersionedCatalog.writeMeta(root, meta)
    VersionedCatalog.applySortOrderProp(root, meta)
    VersionedCatalog.applyBloomProp(root, meta)
    VersionedCatalog.applyStatsProps(root, meta)
    VersionedTable(
      s"$catalogName.${(ident.namespace() :+ ident.name()).mkString(".")}",
      root, schema, dayOf, None, meta)
  }

  /** Metadata-only schema evolution — a `_TABLE` descriptor rewrite and
    * nothing else:
    *
    *  - ADD COLUMN (nullable, appended at the end): old data files read
    *    NULL, because every scan passes the DECLARED schema and the file
    *    readers null-fill absent columns.
    *  - RENAME COLUMN: the descriptor records a logical→physical mapping
    *    (Iceberg does the same via field ids —
    *    `/root/reference/README.md:332-340` documents it as a headline
    *    Iceberg capability). Data files keep their physical names
    *    forever; scans alias physical to logical at plan time and writes
    *    map back, so old files stay readable and no data moves.
    *
    * Drops/type changes still need the rewrite path in
    * [[graft.sources.Evolution]]. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val root = tableRoot(ident)
    val meta0 = VersionedCatalog.readMeta(root).getOrElse(
      throw new NoSuchTableException(ident))
    val newMeta = changes.foldLeft(meta0) {
      case (m, add: TableChange.AddColumn) =>
        require(add.fieldNames().length == 1,
          "nested column additions are not supported")
        require(add.isNullable,
          "added columns must be nullable: existing files read the default (or NULL)")
        require(add.position() == null,
          "only appending at the end is metadata-only")
        // DEFAULT clause → Iceberg-style column defaults, still metadata-only:
        //  - initial-default (EXISTS_DEFAULT): what files written BEFORE the
        //    ADD read — fixed forever at ADD time. Spark's own parquet/orc
        //    readers substitute it for physically-absent columns, so no data
        //    file is ever touched.
        //  - write-default (CURRENT_DEFAULT): what an INSERT that omits the
        //    column stores — movable via ALTER COLUMN SET DEFAULT.
        val metadata = Option(add.defaultValue()).map { dv =>
          val sql = Option(dv.getSql).getOrElse(throw new IllegalArgumentException(
            "only SQL-expressible constant defaults are supported"))
          new org.apache.spark.sql.types.MetadataBuilder()
            .putString(ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY, sql)
            .putString(ResolveDefaultColumns.EXISTS_DEFAULT_COLUMN_METADATA_KEY, sql)
            .build()
        }.getOrElse(org.apache.spark.sql.types.Metadata.empty)
        VersionedCatalog.withColumnAdded(m, add.fieldNames()(0), add.dataType(),
          metadata)
      case (m, up: TableChange.UpdateColumnDefaultValue) =>
        // moves ONLY the write-default; the initial-default stays pinned to
        // the ADD-time value so old files keep reading what they always did
        require(up.fieldNames().length == 1,
          "nested column default changes are not supported")
        val name = up.fieldNames()(0)
        val f = m.schema.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
          throw new IllegalArgumentException(s"no such column $name"))
        val newSql = Option(up.newCurrentDefault()).flatMap(d => Option(d.getSql))
          .filter(_.nonEmpty) // empty SQL = DROP DEFAULT
        val mb = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .remove(ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY)
        newSql.foreach(s =>
          mb.putString(ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY, s))
        m.copy(schema = StructType(m.schema.fields.map(x =>
          if (x.name.equalsIgnoreCase(name)) x.copy(metadata = mb.build()) else x)))
      case (m, del: TableChange.DeleteColumn) =>
        require(del.fieldNames().length == 1,
          "nested column drops are not supported")
        val name = del.fieldNames()(0)
        require(m.schema.fieldNames.exists(_.equalsIgnoreCase(name)),
          s"no such column $name")
        require(!m.dayOf.exists(_.equalsIgnoreCase(name)),
          s"$name is the hidden-day partition source; repartition (rewrite) to drop it")
        require(!m.part.exists(_.col.equalsIgnoreCase(name)),
          s"$name is the hidden partition transform source; repartition (rewrite) to drop it")
        require(!m.identityCols.exists(_.equalsIgnoreCase(name)),
          s"$name is an identity partition column; repartition (rewrite) to drop it")
        require(m.schema.length > 1, "cannot drop the only column")
        // metadata-only: files keep the physical column, scans simply never
        // project it again; the physical name is RETIRED so a future
        // re-ADD maps to a fresh physical name and old values stay buried
        m.copy(
          schema = StructType(m.schema.fields.filterNot(_.name.equalsIgnoreCase(name))),
          renames = m.renames.filterNot(_._1.equalsIgnoreCase(name)),
          retired = m.retired :+ m.physicalName(name))
      case (m, rn: TableChange.RenameColumn) =>
        require(rn.fieldNames().length == 1,
          "nested column renames are not supported")
        val from = rn.fieldNames()(0)
        val to = rn.newName()
        require(m.schema.fieldNames.exists(_.equalsIgnoreCase(from)),
          s"no such column $from")
        require(!m.schema.fieldNames.exists(_.equalsIgnoreCase(to)),
          s"column $to already exists")
        // physical name is wherever the data files already are: the
        // original name for a first rename, carried through chains
        val physical = m.physicalName(from)
        m.copy(
          schema = StructType(m.schema.fields.map(f =>
            if (f.name.equalsIgnoreCase(from)) f.copy(name = to) else f)),
          dayOf = m.dayOf.map(d => if (d.equalsIgnoreCase(from)) to else d),
          part = m.part.map(p =>
            if (p.col.equalsIgnoreCase(from)) p.copy(col = to) else p),
          identityCols = m.identityCols.map(c =>
            if (c.equalsIgnoreCase(from)) to else c),
          // the sort.order property names LOGICAL columns — follow the
          // rename or the declared order strands on a dead name (writes
          // still sort — the marker is physical — but the ordering
          // REPORT and later property validation would break)
          // sort.order and bloom.columns name LOGICAL columns — follow
          // the rename or the declaration strands on a dead name (writes
          // still apply — the markers are physical — but later property
          // validation would break)
          userProps = m.userProps.map {
            case (k, v) if k.equalsIgnoreCase("sort.order") ||
                k.equalsIgnoreCase("bloom.columns") =>
              k -> v.split(',').map(_.trim).map(c =>
                if (c.equalsIgnoreCase(from)) to else c).mkString(",")
            case kv => kv
          },
          renames = (m.renames.filterNot(_._1.equalsIgnoreCase(from)) +
            (to -> physical)).filterNot { case (l, p) => l == p })
      case (m, up: TableChange.UpdateColumnType) =>
        // WIDENING promotions are metadata-only: the declared schema gets
        // the wider type and every scan already passes the declared schema
        // to the file readers, whose vectorized paths promote INT32→INT64
        // and FLOAT→DOUBLE natively (Spark's parquet type-widening). Old
        // files keep their narrow physical type forever; new writes use
        // the wide one. FileStats tags are width-agnostic ('l' integral,
        // 'd' floating), so file skipping keeps working across
        // generations. Anything non-widening still needs the rewrite path.
        require(up.fieldNames().length == 1,
          "nested column type changes are not supported")
        val name = up.fieldNames()(0)
        val f = m.schema.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
          throw new IllegalArgumentException(s"no such column $name"))
        val widening = (f.dataType, up.newDataType()) match {
          case (org.apache.spark.sql.types.ByteType,
                org.apache.spark.sql.types.ShortType |
                org.apache.spark.sql.types.IntegerType |
                org.apache.spark.sql.types.LongType) => true
          case (org.apache.spark.sql.types.ShortType,
                org.apache.spark.sql.types.IntegerType |
                org.apache.spark.sql.types.LongType) => true
          case (org.apache.spark.sql.types.IntegerType,
                org.apache.spark.sql.types.LongType) => true
          case (org.apache.spark.sql.types.FloatType,
                org.apache.spark.sql.types.DoubleType) => true
          // tier 2 (Iceberg v3 / Delta type-widening matrix): decimal
          // precision grows at FIXED scale (every narrow value embeds
          // exactly), and integrals move to a decimal(p,0) wide enough
          // for their full domain (int needs 10 digits, long 19 → ≥20
          // keeps the Delta bound). The file readers promote these
          // natively from INT32/INT64/decimal physical types; stats tags
          // change class ('l'→'m'), which file skipping treats as
          // UNKNOWN — conservative, never wrong, and new files stamp
          // decimal bounds.
          case (d0: org.apache.spark.sql.types.DecimalType,
                dt: org.apache.spark.sql.types.DecimalType)
            if dt.scale == d0.scale && dt.precision > d0.precision => true
          case (org.apache.spark.sql.types.ByteType |
                org.apache.spark.sql.types.ShortType |
                org.apache.spark.sql.types.IntegerType,
                dt: org.apache.spark.sql.types.DecimalType)
            if dt.scale == 0 && dt.precision >= 10 => true
          case (org.apache.spark.sql.types.LongType,
                dt: org.apache.spark.sql.types.DecimalType)
            if dt.scale == 0 && dt.precision >= 20 => true
          case _ => false
        }
        require(widening,
          s"${f.dataType.simpleString} -> ${up.newDataType().simpleString} is not a " +
            "widening promotion (metadata-only: byte/short/int -> wider integral, " +
            "float -> double, decimal(p,s) -> decimal(p+k,s), byte/short/int -> " +
            "decimal(>=10,0), long -> decimal(>=20,0)); use " +
            "graft.sources.Evolution for a rewrite")
        m.copy(schema = StructType(m.schema.fields.map(x =>
          if (x.name.equalsIgnoreCase(name)) x.copy(dataType = up.newDataType()) else x)))
      case (m, sp: TableChange.SetProperty) =>
        require(!VersionedCatalog.ReservedProps.contains(sp.property.toLowerCase),
          s"property ${sp.property} is engine-managed")
        require(!sp.property.contains("=") && !sp.property.contains("\n")
          && !sp.value.contains("\n"), "illegal property")
        // a CHECK constraint (`check.<name>` = predicate) validates NOW:
        // the predicate must resolve against the declared schema, and
        // every EXISTING row must satisfy it (Delta's ADD CONSTRAINT
        // discipline — one scan at SET time buys a table-wide invariant)
        if (sp.property.toLowerCase.startsWith("check."))
          VersionedCatalog.validateNewCheck(root, m, ident,
            sp.property.stripPrefix("check."), sp.value, catalogName)
        m.copy(userProps = m.userProps + (sp.property -> sp.value))
      case (m, rp: TableChange.RemoveProperty) =>
        m.copy(userProps = m.userProps - rp.property)
      case (_, other) => throw new UnsupportedOperationException(
        s"${other.getClass.getSimpleName} needs a data rewrite — use graft.sources.Evolution")
    }
    // a changed sort.order validates BEFORE the descriptor persists,
    // then re-publishes the write-side marker; the ordering REPORT
    // stays off until every live file carries the new spec (per-file
    // stamps — OPTIMIZE rewrites the history sorted)
    VersionedCatalog.validateSortOrderProp(newMeta)
    VersionedCatalog.validateBloomProp(newMeta)
    VersionedCatalog.validateDmlModeProps(newMeta)
    VersionedCatalog.validateStatsProps(newMeta)
    VersionedCatalog.writeMeta(root, newMeta)
    VersionedCatalog.applySortOrderProp(root, newMeta)
    VersionedCatalog.applyBloomProp(root, newMeta)
    VersionedCatalog.applyStatsProps(root, newMeta)
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val root = tableRoot(ident)
    if (!MetaIO.exists(s"$root/${VersionedCatalog.MetaFile}")) false
    else { MetaIO.delete(root, recursive = true); true }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    MetaIO.mkdirs(nsDir(newIdent.namespace()))
    MetaIO.rename(tableRoot(oldIdent), tableRoot(newIdent))
  }

  // ---- procedures (SQL CALL surface — see GraftProcedures) ----------------

  override def loadProcedure(ident: Identifier): org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    require(ident.namespace().sameElements(Array("system")),
      s"no such procedure ${ident.namespace().mkString(".")}.${ident.name()} (procedures live in `system`)")
    GraftProcedures.load(catalogName, ident.name())
  }

  override def listProcedures(ns: Array[String]): Array[Identifier] =
    if (ns.sameElements(Array("system")))
      GraftProcedures.Names.map(n => Identifier.of(Array("system"), n)).toArray
    else Array.empty

  // ---- namespaces ---------------------------------------------------------

  override def listNamespaces(): Array[Array[String]] =
    MetaIO.listStatus(warehouse)
      .filter(st => st.isDirectory
        && !MetaIO.exists(s"${st.getPath}/${VersionedCatalog.MetaFile}"))
      .map(st => Array(st.getPath.getName))
      .toArray

  override def listNamespaces(ns: Array[String]): Array[Array[String]] =
    if (ns.isEmpty) listNamespaces()
    else if (MetaIO.isDirectory(nsDir(ns))) Array.empty
    else throw new NoSuchNamespaceException(ns)

  override def loadNamespaceMetadata(ns: Array[String]): JMap[String, String] =
    if (ns.isEmpty || MetaIO.isDirectory(nsDir(ns))) Map.empty[String, String].asJava
    else throw new NoSuchNamespaceException(ns)

  override def createNamespace(ns: Array[String], meta: JMap[String, String]): Unit = {
    if (MetaIO.isDirectory(nsDir(ns))) throw new NamespaceAlreadyExistsException(ns)
    MetaIO.mkdirs(nsDir(ns))
  }

  override def alterNamespace(ns: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("namespace properties are not stored")

  override def dropNamespace(ns: Array[String], cascade: Boolean): Boolean = {
    val d = nsDir(ns)
    if (!MetaIO.isDirectory(d)) false
    else {
      if (!cascade && listTables(ns).nonEmpty)
        throw new IllegalStateException(s"namespace ${ns.mkString(".")} is not empty")
      MetaIO.delete(d, recursive = true); true
    }
  }
}

object VersionedCatalog {
  /** Table descriptor filename. Line 1: day-source column or empty;
    * line 2: schema JSON; optional `#key=value` lines after (storage
    * `format`, column `rename.<logical>=<physical>` mappings) — absent
    * lines default, so descriptors written before a capability existed
    * keep reading. */
  val MetaFile = "_TABLE"

  /** A non-day hidden partition transform: `months(ts)` / `years(ts)` /
    * `bucket(n, col)` / `truncate(w, col)`. The derived value rides in
    * `__part=<value>` directory names (the same hidden-partitioning
    * contract as `days`); `col` is LOGICAL. */
  case class PartTransform(kind: String, col: String, arg: Option[Int]) {
    require(PartTransform.Kinds.contains(kind), s"unknown transform $kind")
    def describe: String = arg match {
      case Some(a) => s"$kind($a, $col)"
      case None => s"$kind($col)"
    }
  }
  object PartTransform {
    val Kinds = Set("months", "years", "bucket", "truncate")
    /** Hidden-partition directory column for non-day transforms. */
    val DirCol = "__part"
  }

  /** `schema` holds LOGICAL (user-facing) names; `renames` maps logical →
    * physical for columns whose stored name differs after a metadata-only
    * RENAME COLUMN (data files always carry physical names). `retired`
    * lists physical names that ever held data and were dropped — a
    * re-added column of the same name is mapped to a FRESH physical name
    * so files written before the drop can never resurrect old values
    * (the problem Iceberg solves with field ids, solved here with the
    * same mapping that powers rename). A table is partitioned by AT MOST
    * one of: the hidden day (`dayOf`), one hidden [[PartTransform]]
    * (`part`), or a list of IDENTITY columns (`identityCols` — the
    * reference's gold `ano, mes` shape, `dags/3_silver_to_gold.py:193`). */
  case class Meta(schema: StructType, dayOf: Option[String],
                  format: String = "parquet",
                  renames: Map[String, String] = Map.empty,
                  retired: Seq[String] = Nil,
                  part: Option[PartTransform] = None,
                  identityCols: Seq[String] = Nil,
                  pastDays: Seq[String] = Nil,
                  pastParts: Seq[PartTransform] = Nil,
                  userProps: Map[String, String] = Map.empty) {
    def physicalName(logical: String): String =
      renames.collectFirst { case (l, p) if l.equalsIgnoreCase(logical) => p }
        .getOrElse(logical)
    /** The schema as stored in data files (logical names swapped out). */
    def physicalSchema: StructType =
      StructType(schema.fields.map(f => f.copy(name = physicalName(f.name))))
    /** A physical name for a NEW column: the logical name itself unless a
      * live or retired physical column already uses it (then `name__N`,
      * avro-legal, first free N). */
    def freshPhysicalName(logical: String): String = {
      val taken = (schema.fieldNames.map(physicalName) ++ retired)
        .map(_.toLowerCase).toSet
      if (!taken.contains(logical.toLowerCase)) logical
      else Iterator.from(2).map(n => s"${logical}__$n")
        .find(c => !taken.contains(c.toLowerCase)).get
    }
  }

  /** Effective snapshot retention for a table root: its `retain` table
    * property when set, else the session conf, else 2 — one resolution
    * shared by every write path (INSERT, MERGE/UPDATE/DELETE, OPTIMIZE,
    * streaming sink commits route through these). */
  private[graft] def retainFor(root: String,
                               spark: org.apache.spark.sql.SparkSession): Int =
    readMeta(root).flatMap(_.userProps.get("retain"))
      .flatMap(v => scala.util.Try(v.toInt).toOption).getOrElse(
        spark.conf.get("spark.graft.versioned.retain", "2").toInt)

  /** Effective row-level DML write mode for a table root — Iceberg's
    * `write.delete.mode` / `write.update.mode` TBLPROPERTIES shape. The
    * TABLE property wins; the session conf `spark.graft.<kind>.mode` is
    * only the fleet-wide DEFAULT. Making the mode a property of the
    * table (not the session) is what lets concurrently-running queries
    * on different tables pick different paths without racing through
    * shared session state — a finally-restore on one thread can never
    * flip another thread's in-flight DELETE to copy-on-write. */
  private[graft] def dmlModeFor(root: String, kind: String,
                                spark: org.apache.spark.sql.SparkSession): String =
    readMeta(root).flatMap(_.userProps.collectFirst {
      case (k, v) if k.equalsIgnoreCase(s"write.$kind.mode") =>
        v.trim.toLowerCase
    }).getOrElse(
      spark.conf.get(s"spark.graft.$kind.mode", "copy-on-write"))

  /** `changefeed.cow=true` (table property, Delta's
    * `enableChangeDataFeed` shape): a day-scoped copy-on-write MERGE
    * publishes its per-row changes (CDC sidecars + op-labeled adds) and
    * stamps a change-preserving horizon, so an up-to-date CDF consumer
    * survives the rewrite. Opt-in: the split write costs one pool write
    * per row-operation class plus the sidecars. */
  private[graft] def changefeedCowFor(root: String): Boolean =
    readMeta(root).exists(_.userProps.exists { case (k, v) =>
      k.equalsIgnoreCase("changefeed.cow") && v.trim.equalsIgnoreCase("true")
    })

  /** Validate `write.{delete,update,merge}.mode` BEFORE the descriptor
    * persists. merge-on-read needs parquet row identity (the positional
    * tombstones address rows by parquet row index). */
  private[v2] def validateDmlModeProps(meta: Meta): Unit = {
    Seq("delete", "update", "merge").foreach { kind =>
      meta.userProps.collectFirst {
        case (k, v) if k.equalsIgnoreCase(s"write.$kind.mode") =>
          v.trim.toLowerCase
      }.foreach { v =>
        require(v == "copy-on-write" || v == "merge-on-read",
          s"write.$kind.mode must be copy-on-write or merge-on-read, got '$v'")
        if (v == "merge-on-read")
          require(meta.format == "parquet",
            s"write.$kind.mode=merge-on-read needs parquet row identity " +
              s"(table format is ${meta.format})")
      }
    }
    meta.userProps.collectFirst {
      case (k, v) if k.equalsIgnoreCase("changefeed.cow") => v.trim.toLowerCase
    }.foreach { v =>
      require(v == "true" || v == "false",
        s"changefeed.cow must be true or false, got '$v'")
      // the CDC pre-image sidecars are parquet files the feed's scan
      // stack reads alongside the data files
      if (v == "true")
        require(meta.format == "parquet",
          s"changefeed.cow=true needs a parquet table (format is ${meta.format})")
    }
  }

  /** The declared write sort order of a table — the `sort.order` user
    * property (comma-separated LOGICAL columns, ascending nulls-first;
    * Iceberg's `write.sort-order`). Returns (logical, physical) pairs. */
  private[v2] def sortOrderOf(meta: Meta): Seq[(String, String)] =
    meta.userProps.collectFirst { case (k, v) if k.equalsIgnoreCase("sort.order") => v }
      .toSeq.flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))
      .map(c => c -> meta.physicalName(c))

  /** Validate the `sort.order` property against the schema — called
    * BEFORE the descriptor persists, so an invalid spec never poisons
    * the stored metadata (a post-write throw would leave every later
    * unrelated ALTER re-tripping on the bad property). */
  private[v2] def validateSortOrderProp(meta: Meta): Unit =
    sortOrderOf(meta).foreach { case (logical, _) =>
      val f = meta.schema.fields.find(_.name.equalsIgnoreCase(logical))
        .getOrElse(throw new IllegalArgumentException(
          s"sort.order column $logical: no such column in " +
            meta.schema.fieldNames.mkString(", ")))
      require(graft.sources.FileStats.tagOf(f.dataType).isDefined,
        s"sort.order column $logical: ${f.dataType.simpleString} is not a " +
          "sortable atomic type")
    }

  /** Publish (or clear) the table-root sort marker every pool write
    * consults — after [[validateSortOrderProp]] and the descriptor. */
  private[v2] def applySortOrderProp(root: String, meta: Meta): Unit =
    ManifestTable.setSortOrder(root, sortOrderOf(meta).map(_._2))

  /** The declared bloom-filter columns — the `bloom.columns` user
    * property (comma-separated LOGICAL columns; Delta's bloom index /
    * Iceberg's `write.parquet.bloom-filter-enabled` shape), with the
    * optional `bloom.ndv` expected-cardinality sizing. Returns
    * (logical, physical) pairs. */
  private[v2] def bloomColsOf(meta: Meta): Seq[(String, String)] =
    meta.userProps.collectFirst { case (k, v) if k.equalsIgnoreCase("bloom.columns") => v }
      .toSeq.flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))
      .map(c => c -> meta.physicalName(c))

  /** Validate `bloom.columns`/`bloom.ndv` BEFORE the descriptor persists
    * — columns must exist with atomic types, the format must carry
    * writer-side blooms (parquet/orc; avro has none), and the sizing
    * must be a positive integer. */
  private[v2] def validateBloomProp(meta: Meta): Unit = {
    val cols = bloomColsOf(meta)
    if (cols.nonEmpty)
      require(meta.format != "avro",
        "bloom.columns: avro carries no writer-side bloom filters " +
          "(parquet and orc tables only)")
    cols.foreach { case (logical, _) =>
      val f = meta.schema.fields.find(_.name.equalsIgnoreCase(logical))
        .getOrElse(throw new IllegalArgumentException(
          s"bloom.columns column $logical: no such column in " +
            meta.schema.fieldNames.mkString(", ")))
      require(graft.sources.FileStats.tagOf(f.dataType).isDefined,
        s"bloom.columns column $logical: ${f.dataType.simpleString} is not a " +
          "bloom-filterable atomic type")
    }
    meta.userProps.collectFirst { case (k, v) if k.equalsIgnoreCase("bloom.ndv") => v }
      .foreach(v => require(scala.util.Try(v.toLong).toOption.exists(_ > 0),
        s"bloom.ndv must be a positive integer, got '$v'"))
  }

  /** Publish (or clear) the table-root bloom marker every pool write
    * consults — after [[validateBloomProp]] and the descriptor. */
  private[v2] def applyBloomProp(root: String, meta: Meta): Unit =
    ManifestTable.setBloomColumns(root, bloomColsOf(meta).map(_._2),
      meta.userProps.collectFirst { case (k, v) if k.equalsIgnoreCase("bloom.ndv") => v }
        .flatMap(v => scala.util.Try(v.toLong).toOption))

  /** The per-table statistics opt-outs — `stats.ndv` / `stats.histogram`
    * user properties (true/false), overriding the session defaults for
    * this table's pool writes: the commit-time sketch tier is a write
    * tax a write-mostly table (streaming sink, staging table) may not
    * want to pay. Values validate BEFORE the descriptor persists. */
  private[v2] def statsOptsOf(meta: Meta): (Option[Boolean], Option[Boolean]) = {
    def get(k: String): Option[Boolean] =
      meta.userProps.collectFirst {
        case (p, v) if p.equalsIgnoreCase(k) => v.trim.toLowerCase
      }.map { v =>
        require(v == "true" || v == "false", s"$k must be true or false, got '$v'")
        v.toBoolean
      }
    (get("stats.ndv"), get("stats.histogram"))
  }

  private[v2] def validateStatsProps(meta: Meta): Unit = statsOptsOf(meta)

  /** Publish (or clear) the table-root stats marker every pool write
    * consults — after [[validateStatsProps]] and the descriptor. */
  private[v2] def applyStatsProps(root: String, meta: Meta): Unit = {
    val (ndv, hist) = statsOptsOf(meta)
    ManifestTable.setStatsOpts(root, ndv, hist)
  }

  /** CHECK constraints of a table: `check.<name>` user properties, each
    * a SQL predicate over the LOGICAL columns. Set via
    * `ALTER TABLE … SET TBLPROPERTIES('check.<name>' = '<predicate>')`,
    * dropped via UNSET — the property surface doubles as the constraint
    * catalog, exactly like `retain`. */
  private[graft] def checksOf(root: String): Seq[(String, String)] =
    readMeta(root).toSeq.flatMap(_.userProps.toSeq.collect {
      case (k, v) if k.toLowerCase.startsWith("check.") && k.length > 6 =>
        k.substring(6) -> v
    }).sortBy(_._1)

  /** Route a write's rows through the table's CHECK constraints: one
    * inlined filter per constraint whose violating branch RAISES with
    * the constraint name and the offending row — codegen'd with the
    * write itself, zero extra passes over the data. SQL-standard ternary
    * semantics: only FALSE violates (NULL passes). */
  private[graft] def withChecks(df: org.apache.spark.sql.DataFrame, root: String,
                                label: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    checksOf(root).foldLeft(df) { case (d, (name, sql)) =>
      d.where(when(coalesce(expr(sql), lit(true)), lit(true)).otherwise(
        raise_error(concat(
          lit(s"CHECK constraint '$name' violated writing to $label: " +
            s"($sql) is false for row "),
          to_json(struct(df.columns.map(col): _*)))).cast("boolean")))
    }
  }

  /** ADD-constraint validation: the predicate must resolve and be
    * boolean against the declared schema, and every existing row must
    * satisfy it. */
  private[graft] def validateNewCheck(root: String, meta: Meta,
                                      ident: Identifier, name: String,
                                      sql: String, catalogName: String): Unit = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit}
    require(name.nonEmpty && !name.contains("."),
      s"illegal CHECK constraint name '$name'")
    val spark = org.apache.spark.sql.SparkSession.active
    val table = spark.table(
      (Seq(catalogName) ++ ident.namespace().toSeq :+ ident.name())
        .map(p => s"`$p`").mkString("."))
    // resolve + type-check against the REAL table, then scan for any
    // existing violation (SQL ternary: only FALSE violates); an unknown
    // column or non-boolean predicate fails the analysis loudly here
    val cond = coalesce(expr(sql), lit(true))
    val bad = table.where(!cond).limit(1).count()
    require(bad == 0L,
      s"cannot add CHECK constraint '$name' to $catalogName.${ident}: " +
        s"existing rows violate ($sql)")
  }

  /** Properties the engine derives itself; SET TBLPROPERTIES refuses
    * them (the `format` of a table is fixed at create; `retain` IS
    * settable — it drives per-table snapshot retention). */
  private[v2] val ReservedProps: Set[String] =
    Set("provider", "location", "format", "day_of", "version")

  /** Registered catalog instances (name → warehouse): lets the engine's
    * DML layer ([[graft.plans.MergeInto]]) resolve `cat.ns.tbl` MERGE
    * targets to their manifest roots without a session lookup. */
  private val instances = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[graft] def register(name: String, warehouse: String): Unit =
    instances.put(name.toLowerCase, warehouse)
  private[graft] def warehouseOf(name: String): Option[String] =
    Option(instances.get(name.toLowerCase))

  def writeMeta(root: String, meta: Meta): Unit = {
    val props =
      (if (meta.format == "parquet") Nil else Seq(s"#format=${meta.format}")) ++
        meta.renames.toSeq.sortBy(_._1).map { case (l, p) => s"#rename.$l=$p" } ++
        (if (meta.retired.isEmpty) Nil
         else Seq(s"#retired=${meta.retired.mkString(",")}")) ++
        meta.part.toSeq.map(p =>
          s"#part=${(Seq(p.kind, p.col) ++ p.arg.map(_.toString)).mkString(":")}") ++
        (if (meta.identityCols.isEmpty) Nil
         else Seq(s"#partcols=${meta.identityCols.mkString(",")}")) ++
        (if (meta.pastDays.isEmpty) Nil
         else Seq(s"#pastdays=${meta.pastDays.mkString(",")}")) ++
        (if (meta.pastParts.isEmpty) Nil
         else Seq("#pastparts=" + meta.pastParts.map(p =>
           (Seq(p.kind, p.col) ++ p.arg.map(_.toString)).mkString(":")).mkString(";"))) ++
        meta.userProps.toSeq.sortBy(_._1).map { case (k, v) => s"#prop.$k=$v" }
    MetaIO.writeAtomic(s"$root/$MetaFile",
      (Seq(meta.dayOf.getOrElse(""), meta.schema.json) ++ props).mkString("\n"))
  }

  /** Append a nullable column (metadata-only), allocating a physical name
    * that cannot collide with any live or retired physical column — the
    * shared schema-evolution step behind ALTER TABLE ADD COLUMN and
    * MERGE WITH SCHEMA EVOLUTION. */
  private[graft] def withColumnAdded(m: Meta, name: String,
                                     dataType: DataType,
                                     metadata: org.apache.spark.sql.types.Metadata =
                                       org.apache.spark.sql.types.Metadata.empty): Meta = {
    require(!m.schema.fieldNames.exists(_.equalsIgnoreCase(name)),
      s"column $name already exists")
    val physical = m.freshPhysicalName(name)
    m.copy(
      schema = m.schema.add(org.apache.spark.sql.types.StructField(
        name, dataType, nullable = true, metadata)),
      renames = if (physical == name) m.renames else m.renames + (name -> physical))
  }

  /** Hidden-transform derivation in PHYSICAL column terms — the column
    * whose stringified value becomes the `__part=` directory. Mirrored
    * exactly by the plan-time pruning in [[VersionedScanBuilder]]:
    * `months`/`years` via date_format, `bucket` via Spark's Murmur3
    * `hash()` pmod n, `truncate` via integral floor-to-multiple (pmod
    * keeps negatives on the floor) or string prefix. */
  private[graft] def partDeriveExpr(meta: Meta): Option[(String, org.apache.spark.sql.Column)] = {
    import org.apache.spark.sql.functions._
    meta.part.map { p =>
      val c = col(meta.physicalName(p.col))
      val fieldType = meta.schema.fields
        .find(_.name.equalsIgnoreCase(p.col)).map(_.dataType)
      val e = p.kind match {
        case "months" => date_format(c, "yyyy-MM")
        case "years"  => date_format(c, "yyyy")
        case "bucket" => pmod(hash(c), lit(p.arg.get))
        case "truncate" => fieldType match {
          case Some(org.apache.spark.sql.types.StringType) =>
            substring(c, 1, p.arg.get)
          case _ => c - pmod(c, lit(p.arg.get))
        }
      }
      (PartTransform.DirCol, e)
    }
  }

  /** Commit a PHYSICAL-named full snapshot of `root`, preserving whatever
    * partition layout the descriptor declares — the write every full
    * rewrite (DML write-back, OPTIMIZE) must use so the pool's directory
    * structure stays uniform. */
  private[graft] def commitPreservingLayout(root: String,
                                            dfPhysical: org.apache.spark.sql.DataFrame,
                                            retain: Int,
                                            props: Map[String, String],
                                            op: String = "overwrite",
                                            preclustered: Boolean = false,
                                            rewriteOrder: Option[org.apache.spark.sql.Column] = None): Long = {
    val meta = readMeta(root).getOrElse(
      throw new IllegalStateException(s"no descriptor under $root"))
    // re-align to the DECLARED physical schema: identity values read back
    // from directory names carry INFERRED types (a string column holding
    // "0123" infers int) — the cast pins every column to its declared
    // type before the rewrite lands
    val aligned = dfPhysical.select(meta.physicalSchema.fields.toIndexedSeq.map(f =>
      org.apache.spark.sql.functions.col(f.name).cast(f.dataType).as(f.name)): _*)
    ManifestTable.commit(aligned, root, retain = retain,
      partitionDayOf = meta.dayOf.map(meta.physicalName),
      props = props, format = Some(meta.format),
      partitionExpr = partDeriveExpr(meta),
      partitionCols = meta.identityCols.map(meta.physicalName), op = op,
      preclustered = preclustered, rewriteOrder = rewriteOrder)
  }

  /** Opt-in post-append auto-compaction (Delta's `autoCompact`): when
    * the table declares `auto.compact`='true' and any day's live file
    * count reached `auto.compact.min_files` (default 16), compact
    * exactly those days through the day-replace commit — ingest-created
    * small files fold back continuously instead of accumulating until a
    * scheduled OPTIMIZE, and the cost stays proportional to the
    * FRAGMENTED days (untouched days carry by reference). Fires on the
    * batch INSERT path only (streaming sinks keep their epoch latency;
    * DML rewrites already re-cluster what they touch). BEST-EFFORT by
    * contract: the append it follows has already committed, so a
    * concurrent-writer conflict or any failure here logs and returns —
    * the data is durable either way and the next append retries. The
    * fragmentation poll is metadata-only (manifest index line counts). */
  private[graft] def maybeAutoCompact(spark: org.apache.spark.sql.SparkSession,
                                      root: String): Unit = {
    val meta = readMeta(root).getOrElse(return)
    if (!meta.userProps.get("auto.compact").exists(_.equalsIgnoreCase("true"))) return
    // one pure layout only: hidden-day tables fold per day, identity
    // tables per partition key; transform/mixed layouts keep the
    // scheduled-OPTIMIZE path
    val dayLayout = meta.dayOf.nonEmpty && meta.identityCols.isEmpty
    val idLayout = meta.identityCols.nonEmpty && meta.dayOf.isEmpty &&
      meta.pastDays.isEmpty && meta.pastParts.isEmpty
    if (meta.part.nonEmpty || (!dayLayout && !idLayout)) return
    // WAP staging writes to the BRANCH head while the fragmentation poll
    // and the pinned read below resolve MAIN — compacting across
    // lineages would land a non-append 'replace' on the staging branch
    // (wedging cherrypick publishes) from main-pinned rows. Auto-compact
    // is a main-lineage feature; staged ingest compacts at publish.
    if (spark.conf.getOption("spark.graft.write.branch")
        .exists(_.nonEmpty)) return
    // no non-local returns inside the Try: NonLocalReturnControl would
    // read as a failure and log a bogus skip
    scala.util.Try {
      val minFiles = meta.userProps.get("auto.compact.min_files")
        .flatMap(v => scala.util.Try(v.toInt).toOption).getOrElse(16)
      val target = meta.userProps.get("auto.compact.target_bytes")
        .flatMap(v => scala.util.Try(v.toLong).toOption).getOrElse(128L << 20)
      if (idLayout) {
        // identity layouts: fold over-threshold KEYS through the
        // key-replace commit (chunk-scoped pinned read; nothing else
        // opens). NULL-partition/loose keys never auto-fold — they need
        // the full-OPTIMIZE re-home.
        val frag = ManifestTable.liveKeyFileCounts(root)
          .filter { case (k, n) => n >= minFiles && k.nonEmpty &&
            k.contains("=") && !k.contains("__HIVE_DEFAULT_PARTITION__") }
          .keySet
        if (frag.nonEmpty) {
          val v0 = ManifestTable.currentVersion(root).getOrElse(
            throw new IllegalStateException(s"no committed version under $root"))
          val physIds = meta.identityCols.map(meta.physicalName)
          val slice = ManifestTable.readKeysPinned(spark, root, v0, frag)
          val bytes = ManifestTable.liveEntries(root)
            .filter(e => frag.contains(ManifestTable.keyOf(e.rel)))
            .map(e => ManifestTable.entryBytes(root, e)).sum
          val nFiles = math.max(1, math.ceil(bytes.toDouble / target).toInt)
          ManifestTable.replaceKeys(
            slice.repartition(nFiles,
              physIds.map(org.apache.spark.sql.functions.col): _*),
            root, frag, partitionCols = physIds,
            retain = retainFor(root, spark), expectedVersion = Some(v0))
        }
      } else {
        val frag =
          if (!ManifestTable.isFullyDayKeyed(root)) Set.empty[String]
          else ManifestTable.liveDayFileCounts(root)
            .filter(_._2 >= minFiles).keySet
        if (frag.nonEmpty) {
          val (v0, raw) = ManifestTable.readRawPinned(spark, root)
          val slice = raw.where(org.apache.spark.sql.functions
            .col(ManifestTable.DayCol).cast("string").isInCollection(frag.toSeq))
          val bytes = ManifestTable.liveEntries(root)
            .filter(e => frag.exists(d =>
              ManifestTable.plainRel(e.rel).startsWith(s"${ManifestTable.DayCol}=$d/")))
            .map(e => ManifestTable.entryBytes(root, e)).sum
          val nFiles = math.max(1, math.ceil(bytes.toDouble / target).toInt)
          ManifestTable.replaceDays(
            slice.repartition(nFiles, org.apache.spark.sql.functions
              .col(ManifestTable.DayCol)).drop(ManifestTable.DayCol),
            root, frag, meta.dayOf.map(meta.physicalName).get,
            retain = retainFor(root, spark), expectedVersion = Some(v0))
        }
      }
    }.failed.foreach(e => org.slf4j.LoggerFactory.getLogger(getClass).warn(
      s"auto-compact of $root skipped: ${e.getMessage}"))
  }

  def readMeta(root: String): Option[Meta] = {
    val p = s"$root/$MetaFile"
    if (!MetaIO.exists(p)) None
    else {
      val lines = MetaIO.readString(p).linesIterator.toVector
      val props = lines.drop(2).filter(_.startsWith("#")).map { l =>
        val kv = l.drop(1).split("=", 2)
        kv(0) -> (if (kv.length > 1) kv(1) else "")
      }.toMap
      Some(Meta(
        DataType.fromJson(lines(1).trim).asInstanceOf[StructType],
        Some(lines(0).trim).filter(_.nonEmpty),
        format = props.getOrElse("format", "parquet"),
        renames = props.collect { case (k, v) if k.startsWith("rename.") =>
          k.stripPrefix("rename.") -> v },
        retired = props.get("retired").toSeq
          .flatMap(_.split(',')).filter(_.nonEmpty),
        part = props.get("part").map { s =>
          val p = s.split(':')
          PartTransform(p(0), p(1), p.lift(2).map(_.toInt))
        },
        identityCols = props.get("partcols").toSeq
          .flatMap(_.split(',')).filter(_.nonEmpty),
        pastDays = props.get("pastdays").toSeq
          .flatMap(_.split(',')).filter(_.nonEmpty),
        pastParts = props.get("pastparts").toSeq
          .flatMap(_.split(';')).filter(_.nonEmpty).map { s =>
            val p = s.split(':')
            PartTransform(p(0), p(1), p.lift(2).map(_.toInt))
          },
        userProps = props.collect { case (k, v) if k.startsWith("prop.") =>
          k.stripPrefix("prop.") -> v }))
    }
  }

  /** Partition SPEC EVOLUTION (Iceberg's `update_partition_spec`): install
    * a new layout for FUTURE writes with a descriptor rewrite and nothing
    * else — old files keep their old directory layout forever, and scans
    * prune each file under every historical interpretation (conservative
    * union). `spec` is `days(col)` / `months(col)` / `years(col)` /
    * `bucket(n, col)` / `truncate(w, col)` / `identity(a, b, …)` /
    * `none`. Day-scoped DML fast paths decline on mixed layouts (the full
    * rewrite under the CURRENT spec re-homes every row); compaction
    * materializes the old layout away. */
  private[graft] def evolvePartitionSpec(root: String, spec: String): Unit = {
    val m = readMeta(root).getOrElse(
      throw new IllegalArgumentException(s"no table descriptor under $root"))
    val trimmed = spec.trim
    val Fn = """(\w+)\s*\(\s*([^)]*)\)""".r
    def requireCol(c: String): String = {
      require(m.schema.fieldNames.exists(_.equalsIgnoreCase(c)),
        s"partition source $c: no such column in ${m.schema.fieldNames.mkString(", ")}")
      c
    }
    val (newDay, newPart, newIds): (Option[String], Option[PartTransform], Seq[String]) =
      trimmed match {
        case "none" => (None, None, Nil)
        case Fn("days", c) => (Some(requireCol(c.trim)), None, Nil)
        case Fn(k @ ("months" | "years"), c) =>
          (None, Some(PartTransform(k, requireCol(c.trim), None)), Nil)
        case Fn(k @ ("bucket" | "truncate"), args) =>
          val a = args.split(',').map(_.trim)
          require(a.length == 2, s"$k needs (arg, column)")
          (None, Some(PartTransform(k, requireCol(a(1)), Some(a(0).toInt))), Nil)
        case Fn("identity", cols) =>
          val cs = cols.split(',').map(_.trim).filter(_.nonEmpty).toSeq
          require(cs.nonEmpty, "identity needs at least one column")
          require(m.format != "avro",
            "identity partition columns are not supported for avro tables")
          (None, None, cs.map(requireCol))
        case other => throw new IllegalArgumentException(
          s"unparseable partition spec '$other' (days/months/years/bucket/" +
            "truncate/identity/none)")
      }
    // identity values live ONLY in directory names: a snapshot mixing
    // identity dirs with other layouts could neither infer partitions nor
    // null-fill correctly — identity specs evolve on EMPTY tables only
    require((m.identityCols.isEmpty && newIds.isEmpty) ||
      !graft.sources.ManifestTable.exists(root),
      "identity partition layouts cannot be evolved on a non-empty table " +
        "(rewrite into a fresh table instead)")
    writeMeta(root, m.copy(
      dayOf = newDay, part = newPart, identityCols = newIds,
      pastDays = (m.pastDays ++ m.dayOf).distinct.filterNot(d => newDay.contains(d)),
      pastParts = (m.pastParts ++ m.part).distinct.filterNot(p => newPart.contains(p))))
  }
}

/** Path-addressed entry point for the same tables:
  * `spark.read.format("versioned").load(root)` (or `.option("version", n)`
  * for time travel) — registered as the `versioned` source via
  * META-INF/services. Catalog-created tables carry their `_TABLE`
  * descriptor; for a bare [[ManifestTable]] root the schema is inferred
  * from the live manifest's parquet files (hidden day column stripped)
  * and `option("day_of", col)` re-declares the hidden partition source. */
class VersionedTableProvider extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {

  override def shortName(): String = "versioned"

  private def rootOf(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("versioned source needs a path"))

  private def metaOf(root: String, options: CaseInsensitiveStringMap): VersionedCatalog.Meta =
    VersionedCatalog.readMeta(root).getOrElse {
      // bare ManifestTable root: infer user schema from the live snapshot
      val spark = SparkSession.getActiveSession.getOrElse(
        SparkSession.builder().getOrCreate())
      require(ManifestTable.exists(root),
        s"$root is neither a catalog-created versioned table nor a committed manifest root")
      VersionedCatalog.Meta(ManifestTable.read(spark, root).schema,
        Option(options.get("day_of")),
        format = ManifestTable.formatOf(root).getOrElse("parquet"))
    }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    metaOf(rootOf(options), options).schema

  override def inferPartitioning(options: CaseInsensitiveStringMap): Array[Transform] =
    metaOf(rootOf(options), options).dayOf.map(c => Expressions.days(c)).toArray

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    val root = rootOf(options)
    val meta = metaOf(root, options)
    VersionedTable(s"versioned `$root`", root, schema, meta.dayOf,
      Option(options.get("version")).map(_.toLong), meta)
  }
}

/** A [[ManifestTable]] as a V2 `Table`: batch-readable with manifest-level
  * pruning, batch-writable through the V1 fallback (append / truncate),
  * hidden-day partitioning surfaced as the `days(col)` transform. A table
  * loaded at a pinned version (time travel) is read-only. The table's
  * storage format and logical↔physical column mapping ride in `meta`. */
case class VersionedTable(tableName: String, root: String, userSchema: StructType,
                          dayOf: Option[String], pinnedVersion: Option[Long],
                          meta: VersionedCatalog.Meta)
    extends Table with SupportsRead with SupportsWrite {

  override def name(): String = tableName
  override def schema(): StructType = userSchema

  override def partitioning(): Array[Transform] =
    (dayOf.map(c => Expressions.days(c)).toSeq ++
      meta.part.map { p =>
        p.kind match {
          case "months"   => Expressions.months(p.col)
          case "years"    => Expressions.years(p.col)
          case "bucket"   => Expressions.bucket(p.arg.get, p.col)
          case "truncate" => Expressions.apply("truncate",
            Expressions.column(p.col), Expressions.literal(p.arg.get))
        }
      } ++
      meta.identityCols.map(c => Expressions.identity(c))).toArray

  override def properties(): JMap[String, String] =
    (meta.userProps
      ++ Map("provider" -> "versioned", "location" -> root, "format" -> meta.format)
      ++ dayOf.map("day_of" -> _)
      ++ pinnedVersion.map("version" -> _.toString)).asJava

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new VersionedScanBuilder(root, userSchema, dayOf, pinnedVersion, options, meta)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(pinnedVersion.isEmpty,
      s"$tableName@v=${pinnedVersion.get} is a time-travel read; writes go to the live table")
    // the audit read conf scopes this session's PLAIN reads to a staging
    // branch — any write fed by such a read (INSERT…SELECT, INSERT
    // OVERWRITE, CTAS) would publish branch data onto the write lineage,
    // the same silent cross-lineage rewrite the DML guard refuses. Audit
    // sessions are read-only; writes require the conf unset.
    SparkSession.getActiveSession
      .flatMap(_.conf.getOption("spark.graft.read.branch")).filter(_.nonEmpty)
      .foreach { rb =>
        throw new IllegalStateException(
          s"writes to $tableName are refused while spark.graft.read.branch" +
            s"='$rb' is set: a write fed by branch-scoped reads would publish " +
            "staged data onto the write lineage. Unset the read conf (audit " +
            "sessions are read-only); to stage writes on a branch use " +
            "spark.graft.write.branch.")
      }
    new VersionedWriteBuilder(root, userSchema, dayOf, meta, info.queryId())
  }
}

/** Scan planning with MANIFEST-level hidden-partition pruning, delegating
  * the physical read to Spark's own vectorized parquet scan.
  *
  * Pushdown contract: Spark hands the scan's filters ([[pushFilters]]) and
  * required columns ([[pruneColumns]]); at [[build]] time
  *
  *  1. conjunctive bounds on the hidden day's SOURCE timestamp column are
  *     translated to day bounds (monotone floor: `ts >= T ⇒ day >= day(T)`,
  *     `ts < T ⇒ day <= day(T)` — never drops a needed file), and manifest
  *     entries outside the bounds are REMOVED FROM THE FILE LISTING — the
  *     scan never opens them, exactly Iceberg's plan-time pruning;
  *  2. the surviving files back an [[InMemoryFileIndex]] (basePath keeps
  *     `__day` a directory-derived partition column, absent from output);
  *  3. a [[ParquetScanBuilder]] over that index gets the required columns
  *     and the parquet-translatable data filters, so the emitted
  *     `ParquetScan` carries column pruning, row-group statistics filters,
  *     and the vectorized reader — identical physical performance to a
  *     native parquet table over the pruned file set.
  *
  * All filters are also retained post-scan by Spark (pushFilters returns
  * them as residual), so pruning is a pure optimization, never a
  * correctness dependency. */
class VersionedScanBuilder(root: String, dataSchema: StructType,
                           dayOf: Option[String], pinnedVersion: Option[Long],
                           options: CaseInsensitiveStringMap,
                           meta: VersionedCatalog.Meta)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private var pushed: Array[sources.Filter] = Array.empty
  private var required: StructType = dataSchema

  // Metadata-only aggregates ([[AggPushdown]]): COUNT/MIN/MAX answered
  // from the manifest with no files opened. Spark offers the pushdown
  // only when every filter was consumed by the source; this source keeps
  // all filters residual, so `pushed.nonEmpty` can only mean Spark is
  // about to re-apply them — decline and scan normally. Live MOR deletes
  // make per-file stats overcounts — decline there too.
  private var pushedAggPlan: Option[(StructType, Seq[org.apache.spark.sql.catalyst.InternalRow])] = None
  private var aggCache: Option[(org.apache.spark.sql.connector.expressions.aggregate.Aggregation,
    Option[(StructType, Seq[org.apache.spark.sql.catalyst.InternalRow])])] = None

  private def planAgg(agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Seq[org.apache.spark.sql.catalyst.InternalRow])] =
    aggCache match {
      case Some((a, r)) if a eq agg => r
      case _ =>
        val r =
          if (pushed.nonEmpty || deleteEntries.nonEmpty) None
          else AggPushdown.plan(agg, prunedEntries, dataSchema, meta.physicalName,
            meta.identityCols)
        aggCache = Some((agg, r))
        r
    }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    planAgg(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    val p = planAgg(agg)
    p.foreach(x => pushedAggPlan = Some(x))
    p.isDefined
  }

  override def pushFilters(filters: Array[sources.Filter]): Array[sources.Filter] = {
    pushed = filters
    filters // all residual: Spark re-applies exact predicates after the scan
  }

  override def pushedFilters(): Array[sources.Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Day bounds implied by the pushed conjunction on `ts`, as (from,
    * until) inclusive LocalDates. Bounds must stay a FLOOR: residual
    * filters make the result exact, but a file dropped from the listing
    * is gone — the conversion of every value type has to be conservative,
    * never clever. */
  private def dayBoundsOf(ts: String): (Option[java.time.LocalDate], Option[java.time.LocalDate]) = {
    var from: Option[java.time.LocalDate] = None
    var until: Option[java.time.LocalDate] = None
    def tighterFrom(d: java.time.LocalDate): Unit =
      from = Some(from.filter(_.isAfter(d)).getOrElse(d))
    def tighterUntil(d: java.time.LocalDate): Unit =
      until = Some(until.filter(_.isBefore(d)).getOrElse(d))
    // __day was derived by to_date(ts) in the WRITER's session zone.
    // Wall-clock values (LocalDate/LocalDateTime/strings — the NTZ path)
    // map to exactly one day. Instant-typed values (TIMESTAMP columns,
    // with or without java8API) are converted in THIS session's zone and
    // widened ±1 day, so neither a session zone west/east of UTC nor a
    // writer session in a different zone can make the floor drop a file
    // whose rows satisfy the predicate. Cost: at most two extra days of
    // files in the listing, removed again by the residual filter.
    def dayRangeOf(v: Any): Option[(java.time.LocalDate, java.time.LocalDate)] = {
      def widened(i: java.time.Instant): (java.time.LocalDate, java.time.LocalDate) = {
        val zone = java.time.ZoneId.of(
          org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
        val d = i.atZone(zone).toLocalDate
        (d.minusDays(1), d.plusDays(1))
      }
      v match {
        case d: java.time.LocalDate => Some((d, d))
        case d: java.sql.Date => Some((d.toLocalDate, d.toLocalDate))
        case t: java.time.LocalDateTime => Some((t.toLocalDate, t.toLocalDate))
        case t: java.sql.Timestamp => Some(widened(t.toInstant))
        case i: java.time.Instant => Some(widened(i))
        case s: String if s.length >= 10 =>
          scala.util.Try(java.time.LocalDate.parse(s.take(10))).toOption.map(d => (d, d))
        case _ => None
      }
    }
    def visit(f: sources.Filter): Unit = f match {
      case sources.And(l, r) => visit(l); visit(r)
      case sources.EqualTo(a, v) if a.equalsIgnoreCase(ts) =>
        dayRangeOf(v).foreach { case (lo, hi) => tighterFrom(lo); tighterUntil(hi) }
      case sources.GreaterThan(a, v) if a.equalsIgnoreCase(ts) =>
        dayRangeOf(v).foreach { case (lo, _) => tighterFrom(lo) }
      case sources.GreaterThanOrEqual(a, v) if a.equalsIgnoreCase(ts) =>
        dayRangeOf(v).foreach { case (lo, _) => tighterFrom(lo) }
      case sources.LessThan(a, v) if a.equalsIgnoreCase(ts) =>
        dayRangeOf(v).foreach { case (_, hi) => tighterUntil(hi) }
      case sources.LessThanOrEqual(a, v) if a.equalsIgnoreCase(ts) =>
        dayRangeOf(v).foreach { case (_, hi) => tighterUntil(hi) }
      case sources.In(a, vs) if a.equalsIgnoreCase(ts) && vs.nonEmpty =>
        // an IN-set (static or a runtime DPP key set) bounds the span:
        // every value must convert or the conjunct prunes nothing
        val ranges = vs.toSeq.map(dayRangeOf)
        if (ranges.forall(_.isDefined)) {
          val rs = ranges.flatten
          tighterFrom(rs.map(_._1).min(Ordering.by((d: java.time.LocalDate) => d.toEpochDay)))
          tighterUntil(rs.map(_._2).max(Ordering.by((d: java.time.LocalDate) => d.toEpochDay)))
        }
      case _ => () // Or/Not/other columns: no pruning, still exact post-scan
    }
    pushed.foreach(visit)
    (from, until)
  }

  /** The version this scan resolves: explicit time travel first, then
    * the opt-in audit read branch (`spark.graft.read.branch`,
    * [[ManifestTable.readBranchVersion]]), then the live pointer. */
  private[v2] def resolvedVersion: Option[Long] =
    pinnedVersion.orElse(ManifestTable.readBranchVersion(root))
      .orElse(ManifestTable.currentVersion(root))

  /** The resolved snapshot's manifest index: shard refs + inline entries,
    * shard contents unread (nothing when never committed). */
  private def resolvedIndex: (Seq[ManifestTable.ShardRef], Seq[ManifestTable.FileEntry]) =
    resolvedVersion match {
      case Some(v) => ManifestTable.manifestIndex(root, v)
      case None => (Nil, Nil)
    }

  /** Delete entries (positional + equality) of the resolved snapshot —
    * only delete-keyed shards open; sequences ride along. */
  private[v2] def deleteEntries: Seq[ManifestTable.FileEntry] = {
    val (refs, inline) = resolvedIndex
    (refs.filter(_.key == ManifestTable.DeleteDir)
      .flatMap(r => ManifestTable.shardEntries(root, r.rel)) ++
      inline.filter(e => ManifestTable.isDeleteEntry(e.rel)))
      // CDC sidecars are feed provenance, never tombstones to apply
      .filterNot(e => ManifestTable.isCdcEntry(e.rel))
  }

  /** Data files surviving plan-time pruning, in TWO tiers (both floors):
    *
    *  1. SHARD-level — each manifest-list ref is tested by its partition
    *     KEY (a synthetic stats-free entry runs through the same
    *     predicates); pruned shards are never opened, so plan cost follows
    *     the shards the filter selects, not table size — Iceberg's
    *     manifest-list pruning;
    *  2. ENTRY-level over the survivors — hidden-day / transform /
    *     identity directory pruning plus per-file column-stats pruning
    *     ([[FileStats.mayContain]], physical names); a file drops only
    *     when its stats PROVE no row matches. Entries without stats
    *     (avro legs, pre-stats manifests) always survive.
    *
    * Residual filters keep the result exact either way — pruning is a
    * pure optimization, exactly Iceberg's manifest-stats scan planning. */
  private[v2] def prunedEntries: Seq[ManifestTable.FileEntry] = pruneCache match {
    // cached per pushed-filter state: one scan's plan touches the listing
    // several times (assemble, the agg-pushdown probe, the statistics
    // report) and each uncached computation re-reads every surviving
    // shard file — at thousands of files that's the dominant plan cost
    // paid multiply for nothing. Runtime filters reassign `pushed`, so
    // the narrowed listing recomputes exactly once per rebuild.
    case Some((p, e)) if p eq pushed => e
    case _ =>
      val (refs, inline) = resolvedIndex
      // delete entries are metadata for the reader, never data input
      val dataRefs = refs.filterNot(_.key == ManifestTable.DeleteDir)
      def synth(key: String) = ManifestTable.FileEntry(
        if (key.isEmpty) "f" else s"$key/f", None)
      val keptRefs = dataRefs.filter(r => pruneEntries(Seq(synth(r.key))).nonEmpty)
      val candidates = keptRefs.flatMap(r => ManifestTable.shardEntries(root, r.rel)) ++
        inline.filterNot(e => ManifestTable.isDeleteEntry(e.rel))
      val e = pruneEntries(candidates)
      pruneCache = Some((pushed, e))
      e
  }

  private var pruneCache: Option[(Array[sources.Filter],
    Seq[ManifestTable.FileEntry])] = None

  private[v2] def prunedManifest: Seq[String] = prunedEntries.map(_.rel)

  /** Sort-order eligibility of this scan's LISTING: the table declares a
    * `sort.order`, no delete artifacts are live (merge-on-read reshapes
    * partitions), EVERY surviving file carries the matching per-file
    * sort stamp ([[graft.sources.FileStats.SortKey]] — pre-declaration
    * or externally-added files soundly silence the claim), and every
    * partition key's files form a PROVABLE single sorted run: one file,
    * or several whose stamped min/max ranges on the leading sort column
    * are strictly disjoint (then concatenating them in range order IS
    * the sort — [[FileStats.disjointOrder]]). The value is the in-group
    * range rank per file NAME, what order-preserving planning reads;
    * None = not eligible. Computed once on the initial listing —
    * runtime filters only narrow it, which preserves every condition
    * (a subset of a disjoint run, read in the same rank order, is
    * still sorted). */
  private[v2] lazy val orderedFileRank: Option[Map[String, Int]] = {
    val order = VersionedCatalog.sortOrderOf(meta)
    if (order.isEmpty || deleteEntries.nonEmpty) None
    else {
      val spec = order.map(_._2.toLowerCase).mkString(",")
      val es = prunedEntries
      def nameOf(rel: String) = rel.substring(rel.lastIndexOf('/') + 1)
      if (es.isEmpty || !es.forall(e => FileStats.sortSpec(
          FileStats.decode(e.stats.getOrElse(""))).contains(spec))) None
      else {
        val leading = order.head._2
        val ranks = Map.newBuilder[String, Int]
        val ok = es.groupBy(e => graft.sources.ManifestTable.keyOf(e.rel))
          .values.forall { g =>
            if (g.size == 1) { ranks += nameOf(g.head.rel) -> 0; true }
            else FileStats.disjointOrder(leading, g.map(e =>
                nameOf(e.rel) -> FileStats.decode(e.stats.getOrElse("")))) match {
              case Some(inOrder) =>
                inOrder.zipWithIndex.foreach(ranks += _); true
              case None => false
            }
          }
        if (ok) Some(ranks.result()) else None
      }
    }
  }

  private[v2] def orderingEligible: Boolean = orderedFileRank.isDefined

  /** Whether [[build]] wrapped the file scan key-grouped (SPJ active). */
  @volatile private[v2] var builtKeyGrouped: Boolean = false

  /** The ordering this scan reports through `SupportsReportOrdering`
    * (logical names, ascending nulls-first). On top of
    * [[orderingEligible]], two soundness gates:
    *
    *  - every sort column survives column pruning (a SortOrder over a
    *    pruned-away attribute would fail resolution);
    *  - the planned partitions provably emit rows in sort order: either
    *    the scan is KEY-GROUPED in preserve-order mode (one whole-group
    *    partition per key, files concatenated in stamped-range order —
    *    the storage-partitioned merge-join shape, where both the
    *    exchange AND the sorts elide; multi-file groups qualify when
    *    [[orderedFileRank]] proves their ranges disjoint), or the whole
    *    listing is a SINGLE file (splits of one sorted file stay sorted
    *    per partition, and a one-file listing is subset-stable under
    *    runtime-filter re-packing — a multi-file FLAT listing is NOT:
    *    FilePartition bin-packing is size-ordered and split-happy, so it
    *    can co-locate two sorted files out of range order after a
    *    runtime filter narrows the set, silently breaking an
    *    already-elided Sort). */
  private[v2] def reportableOrdering: Seq[String] = {
    if (!orderingEligible) return Nil
    val order = VersionedCatalog.sortOrderOf(meta)
    val colsPresent = order.forall { case (l, _) =>
      required.fieldNames.exists(_.equalsIgnoreCase(l)) }
    if (colsPresent && (builtKeyGrouped || prunedEntries.size == 1)) {
      // identity partition columns are CONSTANT within every partition,
      // so they prefix the claim for free — and a storage-partitioned
      // merge join keyed (identity, sortCol) needs exactly that prefix
      // to elide its sorts
      val idPrefix = meta.identityCols.filter(c =>
        required.fieldNames.exists(_.equalsIgnoreCase(c)) &&
          !order.exists(_._1.equalsIgnoreCase(c)))
      idPrefix ++ order.map(_._1)
    } else Nil
  }

  /** Statistics report for the scan wrapper: the delegate's size estimate
    * enriched with manifest-derived row count and per-column
    * min/max/null/NDV over the PRUNED listing ([[ColumnStatsReport]]).
    * Cached per pushed-filter state — runtime filters rebuild the scan
    * and the narrowed listing re-reports. */
  private var statsCache: Option[(Array[sources.Filter],
    org.apache.spark.sql.connector.read.Statistics)] = None
  private[v2] def reportStatistics(
      base: org.apache.spark.sql.connector.read.Statistics)
      : org.apache.spark.sql.connector.read.Statistics = statsCache match {
    case Some((p, s)) if p eq pushed => s
    case _ =>
      val s = ColumnStatsReport.build(base, root, resolvedVersion,
        dataSchema, meta.physicalName, prunedEntries, deleteEntries)
      statsCache = Some((pushed, s))
      s
  }

  /** The conservative pruning pipeline over concrete entries. After a
    * partition SPEC EVOLUTION a snapshot mixes layouts, so every
    * historical interpretation gets a vote: `__day=` entries prune only
    * when exactly ONE day source column ever existed (ambiguity keeps);
    * `__part=` entries survive if ANY current-or-past transform would
    * keep them (a file was written by exactly one of them — the union is
    * the floor); identity directories and per-file stats prune as
    * before (both already keep anything they can't interpret). */
  private def pruneEntries(all: Seq[ManifestTable.FileEntry]): Seq[ManifestTable.FileEntry] = {
    val daySources = (dayOf.toSeq ++ meta.pastDays).distinct
    val dayPruned = if (daySources.size != 1) all
    else dayBoundsOf(daySources.head) match {
      case (None, None) => all
      case (from, until) =>
        all.filter { e =>
          val rel = ManifestTable.plainRel(e.rel) // ext/ entries keep the source layout
          val day = if (rel.startsWith(s"${ManifestTable.DayCol}="))
            scala.util.Try(java.time.LocalDate.parse(
              rel.takeWhile(_ != '/').stripPrefix(s"${ManifestTable.DayCol}="))).toOption
          else None
          day match {
            case Some(d) =>
              from.forall(!d.isBefore(_)) && until.forall(!d.isAfter(_))
            case None => true // other-layout or stray file: never day-prune
          }
        }
    }
    // hidden-transform (`__part=`) and identity-directory pruning — same
    // conservative floor as days: a file drops only when its directory
    // value PROVES the pushed conjunction can't match
    val partPruned = (meta.part.toSeq ++ meta.pastParts) match {
      case Nil => dayPruned
      case transforms =>
        val keptByAny = transforms.map(t => pruneHiddenPart(dayPruned, t).toSet)
        dayPruned.filter(e => keptByAny.exists(_.contains(e)))
    }
    val idPruned =
      if (meta.identityCols.nonEmpty) pruneIdentityDirs(partPruned) else partPruned
    val statsPruned =
      if (pushed.isEmpty || idPruned.forall(_.stats.isEmpty)) idPruned
      else {
        // stats are keyed by the names in the files — the PHYSICAL ones
        val physFilters = pushed.map(GraftScanBridge2.renameFilter(_, meta.physicalName))
        idPruned.filter { e =>
          e.stats.map(graft.sources.FileStats.decode) match {
            case Some(st) if st.nonEmpty =>
              physFilters.forall(f => graft.sources.FileStats.mayContain(st, f))
            case _ => true
          }
        }
      }
    statsPruned
  }

  /** The `__part=` directory value of an entry, None for stray files. */
  private def partDirOf(rel0: String): Option[String] = {
    val rel = ManifestTable.plainRel(rel0)
    val pfx = s"${VersionedCatalog.PartTransform.DirCol}="
    if (rel.startsWith(pfx)) Some(rel.takeWhile(_ != '/').stripPrefix(pfx)) else None
  }

  /** Equality constraint on a LOGICAL column implied by the pushed
    * conjunction: None = unconstrained, Some(vs) = must be one of vs.
    * Only top-level/And-nested EqualTo/In conjuncts constrain (Or/Not
    * never prune). */
  private def eqValuesFor(colName: String): Option[Set[Any]] = {
    var result: Option[Set[Any]] = None
    def add(vs: Set[Any]): Unit =
      result = Some(result.map(_ intersect vs).getOrElse(vs))
    def visit(f: sources.Filter): Unit = f match {
      case sources.And(l, r) => visit(l); visit(r)
      case sources.EqualTo(a, v) if a.equalsIgnoreCase(colName) && v != null => add(Set(v))
      case sources.EqualNullSafe(a, v) if a.equalsIgnoreCase(colName) && v != null => add(Set(v))
      case sources.In(a, vs) if a.equalsIgnoreCase(colName) =>
        add(vs.filter(_ != null).toSet)
      case _ => ()
    }
    pushed.foreach(visit)
    result
  }

  private def logicalType(colName: String): Option[org.apache.spark.sql.types.DataType] =
    dataSchema.fields.find(_.name.equalsIgnoreCase(colName)).map(_.dataType)

  /** The `__part` directory value the transform assigns to `v` — must
    * mirror [[VersionedCatalog.partDeriveExpr]] exactly; None = can't
    * compute (never prune on it). */
  private def partValueOf(p: VersionedCatalog.PartTransform, v: Any): Option[String] =
    scala.util.Try {
      import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash}
      p.kind match {
        case "bucket" =>
          val dt = logicalType(p.col).get
          val h = Murmur3Hash(Seq(Literal.create(v, dt)), 42).eval(null).asInstanceOf[Int]
          val n = p.arg.get
          (((h % n) + n) % n).toString
        case "truncate" => v match {
          case s: String => s.take(p.arg.get)
          case n: java.lang.Number
            if n.isInstanceOf[java.lang.Byte] || n.isInstanceOf[java.lang.Short] ||
               n.isInstanceOf[java.lang.Integer] || n.isInstanceOf[java.lang.Long] =>
            val w = p.arg.get.toLong
            (n.longValue - java.lang.Math.floorMod(n.longValue, w)).toString
          case _ => throw new IllegalArgumentException("untruncatable")
        }
        case _ => throw new IllegalArgumentException("not an equality transform")
      }
    }.toOption
      // directory values are HIVE-ESCAPED on disk ('ab:' becomes 'ab%3A');
      // a computed value outside the never-escaped class can't be compared
      // against the raw directory string, so it must not prune (floor
      // discipline: uncertain ⇒ keep)
      .filter(_.matches("[A-Za-z0-9._\\- ]*"))

  /** Prune `__part=` entries for months/years (range off the conservative
    * ts day bounds) and bucket/truncate (equality sets). */
  private def pruneHiddenPart(entries: Seq[ManifestTable.FileEntry],
                              p: VersionedCatalog.PartTransform): Seq[ManifestTable.FileEntry] =
    p.kind match {
      case "months" | "years" =>
        val (from, until) = dayBoundsOf(p.col)
        if (from.isEmpty && until.isEmpty) entries
        else entries.filter { e =>
          partDirOf(e.rel) match {
            case Some(dirval) =>
              scala.util.Try {
                if (p.kind == "months") {
                  val m = java.time.YearMonth.parse(dirval)
                  from.forall(d => !m.isBefore(java.time.YearMonth.from(d))) &&
                    until.forall(d => !m.isAfter(java.time.YearMonth.from(d)))
                } else {
                  val y = dirval.toInt
                  from.forall(d => y >= d.getYear) && until.forall(d => y <= d.getYear)
                }
              }.getOrElse(true)
            case None => true // stray unpartitioned file: never prune
          }
        }
      case _ => // bucket / truncate: equality-set pruning only
        eqValuesFor(p.col) match {
          case None => entries
          case Some(vs) =>
            val allowed = vs.map(partValueOf(p, _))
            if (allowed.exists(_.isEmpty)) entries // one unconvertible value: keep all
            else entries.filter { e =>
              partDirOf(e.rel) match {
                case Some(dirval) => allowed.flatten.contains(dirval)
                case None => true
              }
            }
        }
    }

  /** Prune identity-partitioned entries: each constrained identity column
    * must match one of the allowed values in the entry's directory path.
    * Escaped (`%`-containing) or default-partition dir values are treated
    * as unknown and kept. */
  private def pruneIdentityDirs(entries: Seq[ManifestTable.FileEntry]): Seq[ManifestTable.FileEntry] = {
    val constraints = meta.identityCols.flatMap { c =>
      for (vs <- eqValuesFor(c); dt <- logicalType(c))
        yield (meta.physicalName(c), dt, vs)
    }
    if (constraints.isEmpty) entries
    else entries.filter { e =>
      val dirs = e.rel.split('/').dropRight(1).flatMap { seg =>
        val i = seg.indexOf('=')
        if (i < 0) None else Some(seg.take(i) -> seg.drop(i + 1))
      }.toMap
      constraints.forall { case (phys, dt, vs) =>
        dirs.get(phys) match {
          case Some(raw) if !raw.contains('%') && raw != "__HIVE_DEFAULT_PARTITION__" =>
            val verdicts = vs.toSeq.map(v => dirValueMatches(raw, v, dt))
            if (verdicts.contains(None)) true else verdicts.flatten.contains(true)
          case _ => true
        }
      }
    }
  }

  /** Typed equality of a directory value string against a filter value;
    * None = uncertain (keep the file). */
  private def dirValueMatches(dirval: String, v: Any,
                              dt: org.apache.spark.sql.types.DataType): Option[Boolean] = {
    import org.apache.spark.sql.types._
    scala.util.Try {
      (dt, v) match {
        case (StringType, s: String) => dirval == s
        case (ByteType | ShortType | IntegerType | LongType, n: java.lang.Number) =>
          dirval.toLong == n.longValue
        case (FloatType | DoubleType, n: java.lang.Number) =>
          dirval.toDouble == n.doubleValue
        case (DateType, d: java.sql.Date) =>
          java.time.LocalDate.parse(dirval) == d.toLocalDate
        case (DateType, d: java.time.LocalDate) =>
          java.time.LocalDate.parse(dirval) == d
        case (BooleanType, b: java.lang.Boolean) => dirval.toBoolean == b.booleanValue
        case _ => throw new IllegalArgumentException("uncomparable")
      }
    }.toOption
  }

  override def build(): Scan = {
    // a fully-pushed aggregate IS the scan: one metadata-derived row
    pushedAggPlan match {
      case Some((schema, rows)) => new GraftAggScan(schema, rows)
      case None =>
        // ALWAYS the wrapper: one outer class carries the cross-cutting
        // scan capabilities (runtime filtering when the table has
        // partition-derived columns — empty filter attributes otherwise,
        // which Spark ignores — partitioning report, statistics, and the
        // micro-batch stream)
        new GraftRuntimeFilterScan(this, assemble(), runtimeFilterAttrs)
    }
  }

  /** Streaming (micro-batch) leg: consume versions as they commit. */
  private[v2] def microBatchStream()
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    val spark = SparkSession.getActiveSession.getOrElse(
      SparkSession.builder().getOrCreate())
    require(pinnedVersion.isEmpty,
      s"streaming read of $root: a time-travel read is a fixed snapshot, not a stream")
    new VersionedMicroBatchStream(spark, root, dataSchema, required, meta, options)
  }

  /** Columns whose runtime IN-sets can shrink the FILE LISTING — the
    * partition-derived ones (identity dirs, bucket/truncate sources, the
    * hidden day's source) under every live or historical layout. Spark
    * plans dynamic-partition-pruning subqueries only against these, so a
    * star join's dim-side filter reaches the manifest before any fact
    * file opens. */
  private[v2] def runtimeFilterAttrs: Array[String] =
    (meta.identityCols ++ meta.part.map(_.col) ++ meta.pastParts.map(_.col) ++
      dayOf.toSeq ++ meta.pastDays)
      .filter(c => dataSchema.fieldNames.exists(_.equalsIgnoreCase(c)))
      .distinct.toArray

  /** Re-assemble the scan with runtime predicates appended: they join the
    * pushed conjunction, so every plan-time pruning tier (shard keys, day
    * dirs, hidden transforms, identity dirs, per-file stats) re-applies
    * over the narrowed set. Only ever SHRINKS the listing — the static
    * filters stay in place. */
  private[v2] def withRuntimeFilters(fs: Array[sources.Filter]): Scan = {
    pushed = pushed ++ fs
    assemble()
  }

  private def assemble(): Scan = {
    val spark = SparkSession.getActiveSession.getOrElse(
      SparkSession.builder().getOrCreate())
    // data files carry PHYSICAL column names; the planner speaks logical.
    // The file scan is built entirely in physical terms and — when any
    // column was renamed — wrapped so readSchema() reports the logical
    // names back (rows are positional; only the schema needs the alias).
    def physical(st: StructType): StructType =
      StructType(st.fields.map(f => f.copy(name = meta.physicalName(f.name))))
    val prunedEs = prunedEntries
    val rels = prunedEs.map(_.rel)
    // ext/ (shallow-clone) entries resolve into the SOURCE pool; local
    // entries into ours. identity layouts never mix bases (clone refuses
    // them — the single basePath below could not serve two pools)
    val files = rels.map(rel => new Path(ManifestTable.dataPath(root, rel)))
    val logicalRead = required
    // merge-on-read: resolve WHICH files carry positional tombstones up
    // front (one tiny plan-time job over the delete files' __file column —
    // bounded by files touched since the last compaction, never by deleted
    // ROWS) and keep only those that SURVIVED pruning. Positions and
    // equality-key sets load task-side in [[MorDeletes]]; they never
    // materialize on the driver. Tombstone row identity is the
    // _metadata.file_path-derived URL-ENCODED rel, so the survival check
    // compares in that form.
    val delEntries = deleteEntries
    val (eqEntries, posEntries) =
      delEntries.partition(e => ManifestTable.isEqDeleteEntry(e.rel))
    // per-target positional SOURCES: listed parquet tombstones attach to
    // exactly the rels they name, deletion-vector slices to their
    // sections' rels (both metadata-only off the entry stats); a pre-list
    // legacy parquet entry attaches to every rel one tiny distinct read
    // surfaces. Each task then opens only ITS file's artifacts — O(1)
    // ranged reads for dv slices, row-group-skipped scans of only the
    // parquet files that name the rel.
    val (posSources, affectedRels): (Map[String, PosSource], Set[String]) =
      if (posEntries.isEmpty) (Map.empty[String, PosSource], Set.empty[String])
      else {
        val surviving = rels.map(r => ManifestTable.encodedRel(root, r)).toSet
        val (dvEntries, pqEntries) =
          posEntries.partition(e => ManifestTable.isDvEntry(e.rel))
        val pqListed = pqEntries.map(e => e -> ManifestTable.deleteTouchedRels(e))
        val legacyPaths = pqListed.collect { case (e, None) => ManifestTable.dataPath(root, e.rel) }
        val legacyTouched: Set[String] =
          if (legacyPaths.isEmpty) Set.empty
          else spark.read.parquet(legacyPaths: _*)
            .select("__file").distinct().collect().map(_.getString(0)).toSet
        val pqByRel = scala.collection.mutable.Map.empty[String, Vector[String]]
        pqListed.foreach {
          case (e, Some(t)) => t.foreach(r =>
            pqByRel(r) = pqByRel.getOrElse(r, Vector.empty) :+ ManifestTable.dataPath(root, e.rel))
          case _ => ()
        }
        legacyTouched.foreach(r =>
          pqByRel(r) = pqByRel.getOrElse(r, Vector.empty) ++ legacyPaths)
        val slicesByRel: Map[String, Seq[DvSlice]] = dvEntries.flatMap { e =>
          graft.sources.DeleteVectors.decodeIndex(e.stats.getOrElse("")).getOrElse(
            throw new IllegalStateException(s"dv entry ${e.rel} has no index"))
            .map(s => s.relEnc -> DvSlice(ManifestTable.dataPath(root, e.rel), s.offset, s.len, s.seq))
        }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
        val affected = (pqByRel.keySet ++ slicesByRel.keySet)
          .filter(surviving.contains).toSet
        (affected.map(r => r -> PosSource(
          pqByRel.getOrElse(r, Vector.empty),
          slicesByRel.getOrElse(r, Nil))).toMap, affected)
      }
    // equality-delete metadata: one footer-schema read per eq file (driver,
    // bounded by the eq backlog); key columns are PHYSICAL names
    val eqRaw: Seq[(String, Long, StructType)] = eqEntries.map { e =>
      val p = ManifestTable.dataPath(root, e.rel)
      (p, e.seq.getOrElse(0L), spark.read.parquet(p).schema)
    }
    var keepIdx: Array[Int] = Array.empty
    var widened = false
    var eqSpecs: Seq[EqDeleteSpec] = Nil
    var declaredFields: Array[org.apache.spark.sql.types.StructField] = logicalRead.fields
    // the PHYSICAL batch layout the file readers emit (widenedData ++
    // readPart) — passed to MorScan explicitly because the delegate's
    // readSchema() is the wrong source for it: under renames it reports
    // the LOGICAL projection, whose field list (and, without partition
    // columns, field types after widening) diverges from the batch
    var physicalBatch: StructType = logicalRead
    val delegate: Scan = meta.format match {
      case "avro" =>
        require(delEntries.isEmpty,
          s"merge-on-read deletes are a parquet capability; $root is avro")
        // no file index needed: the manifest IS the listing, __day rides in
        // dir names and is never part of the user schema, and filters are
        // re-applied exactly post-scan by Spark (pushFilters residual)
        new AvroManifestScan(spark, files.map(_.toString), physical(logicalRead), logicalRead)
      case fmt =>
        // basePath roots partition discovery at the data pool — needed ONLY
        // for identity layouts, whose column values live in directory names.
        // Hidden transforms (__day=/__part=) never surface as columns, and
        // skipping inference for them is what lets one snapshot MIX layouts
        // after a partition spec evolution (inference would refuse
        // conflicting partition column names). Absent for an empty listing
        // (the pool dir may not exist yet).
        val params =
          if (files.isEmpty || meta.identityCols.isEmpty) Map.empty[String, String]
          else Map("basePath" -> s"$root/data")
        // plan from the MANIFEST, not the file system: entries carry
        // their byte length (`__bytes`), so the index seeds from a
        // pre-populated status cache and never runs the listing job
        // (~6.5 s of one-stat tasks at 4096 files; a driver stall per
        // query at the million-file scale). Pre-`__bytes` entries miss
        // the cache and list for real — correctness never depends on
        // the seed.
        val sizes: Map[Path, (Long, Long)] = prunedEs.flatMap { e =>
          graft.sources.FileStats.byteSize(
            graft.sources.FileStats.decode(e.stats.getOrElse("")))
            .map(new Path(ManifestTable.dataPath(root, e.rel)) -> _)
        }.toMap
        val index = org.apache.spark.sql.execution.datasources.GraftSeededIndex(
          spark, files, sizes, params, Some(physical(dataSchema)))
        // required never contains the hidden day column (it is absent from
        // the table schema), so the partition side of the read schema stays
        // empty and __day rides only in the directory names
        val partNames = index.partitionSchema.fieldNames.toSet
        val readData = physical(StructType(
          logicalRead.fields.filterNot(f => partNames.contains(f.name))))
        val readPart = StructType(logicalRead.fields.filter(f => partNames.contains(f.name)))
        // WIDEN the file read with equality-key columns the projection
        // lacks: the MorScan wrapper filters on them, then projects them
        // back out. Keys must be data-file columns (a key living only in
        // identity partition directories has no file value to compare).
        val physTable = physical(dataSchema)
        val eqKeyNames = eqRaw.flatMap(_._3.fieldNames).distinct
        eqKeyNames.foreach { k =>
          require(physTable.fieldNames.exists(_.equalsIgnoreCase(k)) &&
            !partNames.exists(_.equalsIgnoreCase(k)),
            s"equality-delete key '$k' must be a data column of $root")
        }
        val extras = eqKeyNames
          .filterNot(k => readData.fieldNames.exists(_.equalsIgnoreCase(k)))
          .map(k => physTable.fields.find(_.name.equalsIgnoreCase(k)).get)
        val widenedData = StructType(readData.fields ++ extras)
        widened = extras.nonEmpty
        // batch layout is widenedData ++ readPart; the declared layout is
        // readData ++ readPart — keepIdx maps batch ordinals to declared,
        // and declaredFields records that composition under LOGICAL names
        keepIdx = (readData.indices ++
          readPart.indices.map(_ + widenedData.length)).toArray
        physicalBatch = StructType(widenedData.fields ++ readPart.fields)
        declaredFields =
          logicalRead.fields.filterNot(f => partNames.contains(f.name)) ++
            logicalRead.fields.filter(f => partNames.contains(f.name))
        eqSpecs = eqRaw.map { case (p, seq, sch) =>
          val ords = sch.fieldNames.map(n =>
            widenedData.fieldNames.indexWhere(_.equalsIgnoreCase(n)))
          EqDeleteSpec(p, seq, sch.fieldNames,
            ords, ords.map(widenedData.fields(_).dataType))
        }
        // with live positional tombstones the wrapped readers count FILE
        // row indexes as they stream — parquet row-group/page skipping
        // driven by pushed filters would desynchronize the count and drop
        // the wrong rows, so such a scan pushes NOTHING down (Spark still
        // applies every filter exactly post-scan; the cost lasts only
        // until compaction). Equality deletes are content-based and keep
        // pushdown.
        val physicalFilters =
          if (affectedRels.nonEmpty) Array.empty[sources.Filter]
          else pushed.map(GraftScanBridge2.renameFilter(_, meta.physicalName))
        val fileScan: org.apache.spark.sql.execution.datasources.v2.FileScan =
          if (fmt == "orc")
            org.apache.spark.sql.execution.datasources.v2.GraftScanBridge.orcScan(
              spark, index, physical(dataSchema), widenedData, readPart, physicalFilters, options)
          else
            org.apache.spark.sql.execution.datasources.v2.GraftScanBridge.parquetScan(
              spark, index, physical(dataSchema), widenedData, readPart, physicalFilters, options)
        // Storage-partitioned joins: a PURE identity layout with a clean
        // scan (no renames, live deletes, or historical layouts — those
        // re-plan rows or mix dir shapes, breaking the one-key-per-
        // partition invariant) keys every planned partition by its
        // partition-dir values and reports KeyGroupedPartitioning, so
        // joins on the partition columns skip both exchanges. Gated by
        // Spark's own SPJ flag, like Iceberg's preserve-data-grouping.
        val spjClean = meta.pastParts.isEmpty &&
          meta.pastDays.isEmpty && meta.renames.isEmpty && !widened &&
          affectedRels.isEmpty && eqSpecs.isEmpty &&
          spark.conf.get("spark.sql.sources.v2.bucketing.enabled", "false").toBoolean
        val identitySpj = spjClean && dayOf.isEmpty && meta.identityCols.nonEmpty &&
          meta.part.isEmpty && index.partitionSchema.nonEmpty &&
          index.partitionSchema.fieldNames.map(_.toLowerCase).toSet ==
            meta.identityCols.map(c => meta.physicalName(c).toLowerCase).toSet
        // hidden transform layouts (bucket / months / years / truncate):
        // the transform value never surfaces as a column, so the key is
        // parsed back out of each file's `__part=` directory; the
        // reported clustering resolves through this catalog's
        // FunctionCatalog ([[GraftBucketFunction]] and friends), letting
        // time-bucketed fact tables join shuffle-free. months/years
        // key-group over wall-clock sources only (DATE / TIMESTAMP_NTZ —
        // a session-zone TIMESTAMP's month is not a pure function of the
        // value), and EVERY dir must parse as a key: a NULL/empty dir
        // (__HIVE_DEFAULT_PARTITION__) has no key value to group on, so
        // such a snapshot plans unkeyed instead of crashing
        val transformSpj: Option[(Transform, String => Any)] =
          if (!spjClean || dayOf.nonEmpty || meta.identityCols.nonEmpty) None
          else meta.part.flatMap { p =>
            val prefix = s"${VersionedCatalog.PartTransform.DirCol}="
            val dirs = rels.map(_.split('/').find(_.startsWith(prefix))
              .map(_.substring(prefix.length)))
            def allParse(ok: String => Boolean): Boolean =
              rels.nonEmpty && dirs.forall(_.exists(ok))
            val keyType = meta.schema.fields
              .find(_.name.equalsIgnoreCase(p.col)).map(_.dataType)
            def parser(f: String => Any): String => Any = (path: String) => {
              val seg = path.split('/').find(_.startsWith(prefix)).getOrElse(
                throw new IllegalStateException(s"no $prefix dir in $path"))
              f(seg.substring(prefix.length))
            }
            def wallClock = keyType.exists(t =>
              t == org.apache.spark.sql.types.DateType ||
                t == org.apache.spark.sql.types.TimestampNTZType)
            p.kind match {
              case "bucket" if allParse(_.forall(_.isDigit)) =>
                Some((Expressions.bucket(p.arg.get, p.col), parser(_.toInt)))
              case "months" if wallClock && allParse(_.matches("""\d{4}-\d{2}""")) =>
                // key = months since epoch, [[GraftEpochUnitBound]]'s formula
                Some((Expressions.months(p.col), parser { s =>
                  val ym = java.time.YearMonth.parse(s)
                  (ym.getYear - 1970) * 12 + (ym.getMonthValue - 1)
                }))
              case "years" if wallClock && allParse(_.matches("""\d{4}""")) =>
                Some((Expressions.years(p.col), parser(_.toInt - 1970)))
              case "truncate" =>
                // width baked into the NAME ([[GraftTruncateWidthFunction]]):
                // a width literal as a transform child can never satisfy a
                // join clustered on the bare column
                val tf = Expressions.apply(s"truncate_w${p.arg.get}",
                  Expressions.column(p.col))
                keyType match {
                  case Some(org.apache.spark.sql.types.IntegerType)
                      if allParse(s => scala.util.Try(s.toInt).isSuccess) =>
                    Some((tf, parser(_.toInt)))
                  case Some(org.apache.spark.sql.types.LongType)
                      if allParse(s => scala.util.Try(s.toLong).isSuccess) =>
                    Some((tf, parser(_.toLong)))
                  case Some(org.apache.spark.sql.types.StringType)
                      // dir names are hive-escaped; NULL and "" both write
                      // the default dir and are indistinguishable — decline
                      if allParse(_ != org.apache.spark.sql.catalyst.catalog
                        .ExternalCatalogUtils.DEFAULT_PARTITION_NAME) =>
                    Some((tf, parser(s =>
                      org.apache.spark.unsafe.types.UTF8String.fromString(
                        org.apache.spark.sql.catalyst.catalog
                          .ExternalCatalogUtils.unescapePathName(s)))))
                  case _ => None
                }
              case _ => None
            }
          }
        // hidden DAY layout: the day parses back out of each `__day=` dir
        // and the reported days(ts) clustering resolves through the
        // catalog's days() function — wall-clock sources only (a
        // session-zone TIMESTAMP day is not a pure function of the value)
        val daySpj = spjClean && dayOf.nonEmpty && meta.identityCols.isEmpty &&
          meta.part.isEmpty &&
          // every dir must parse as a date: a NULL-day directory
          // (__HIVE_DEFAULT_PARTITION__) has no key value to group on
          rels.forall { r =>
            r.startsWith(s"${ManifestTable.DayCol}=") && scala.util.Try(
              java.time.LocalDate.parse(
                r.takeWhile(_ != '/').stripPrefix(s"${ManifestTable.DayCol}=")))
              .isSuccess
          } &&
          dataSchema.fields.find(_.name.equalsIgnoreCase(dayOf.get))
            .map(_.dataType).exists(t =>
              t == org.apache.spark.sql.types.DateType ||
                t == org.apache.spark.sql.types.TimestampNTZType)
        val keyGrouped = identitySpj || transformSpj.nonEmpty || daySpj
        if (keyGrouped) builtKeyGrouped = true
        // ordering-eligible listings plan key groups ORDER-PRESERVING
        // (one whole-group partition per key, files in stamped-range
        // order) so the reported sort survives Spark's same-key
        // partition concatenation
        val po = keyGrouped && orderingEligible
        val rankFn: Option[String => Int] =
          if (!po) None
          else orderedFileRank.map(m => (name: String) => m.getOrElse(name, 0))
        if (identitySpj)
          new org.apache.spark.sql.execution.datasources.v2.GraftKeyGroupedScan(
            fileScan, index.partitionSchema.fieldNames.map(Expressions.identity),
            preserveOrder = po, fileOrder = rankFn)
        else if (transformSpj.nonEmpty) {
          val (t, kf) = transformSpj.get
          new org.apache.spark.sql.execution.datasources.v2.GraftKeyGroupedScan(
            fileScan, Array(t), Some(kf), preserveOrder = po, fileOrder = rankFn)
        } else if (daySpj) {
          val prefix = s"${ManifestTable.DayCol}="
          new org.apache.spark.sql.execution.datasources.v2.GraftKeyGroupedScan(
            fileScan, Array(Expressions.days(dayOf.get)),
            preserveOrder = po, fileOrder = rankFn,
            pathKey = Some((path: String) => {
              val seg = path.split('/').find(_.startsWith(prefix)).getOrElse(
                throw new IllegalStateException(s"no $prefix dir in $path"))
              java.time.LocalDate.parse(seg.substring(prefix.length)).toEpochDay.toInt
            }))
        } else fileScan
    }
    val named = if (meta.renames.isEmpty) delegate
      else new RenamedScan(delegate, logicalRead)
    if (affectedRels.isEmpty && eqSpecs.isEmpty) named
    else {
      val dataSeqByRel = prunedEs.map(e =>
        ManifestTable.encodedRel(root, e.rel) -> e.seq.getOrElse(0L)).toMap
      new MorScan(named, StructType(declaredFields), keepIdx, widened,
        physicalBatch,
        affectedRels, posSources, eqSpecs, dataSeqByRel)
    }
  }
}

/** Filter attribute renaming for pushdown across the logical→physical
  * column mapping (only shapes the sources translate). */
private[v2] object GraftScanBridge2 {
  def renameFilter(f: sources.Filter, phys: String => String): sources.Filter = f match {
    case sources.And(l, r) => sources.And(renameFilter(l, phys), renameFilter(r, phys))
    case sources.Or(l, r) => sources.Or(renameFilter(l, phys), renameFilter(r, phys))
    case sources.Not(c) => sources.Not(renameFilter(c, phys))
    case sources.EqualTo(a, v) => sources.EqualTo(phys(a), v)
    case sources.EqualNullSafe(a, v) => sources.EqualNullSafe(phys(a), v)
    case sources.GreaterThan(a, v) => sources.GreaterThan(phys(a), v)
    case sources.GreaterThanOrEqual(a, v) => sources.GreaterThanOrEqual(phys(a), v)
    case sources.LessThan(a, v) => sources.LessThan(phys(a), v)
    case sources.LessThanOrEqual(a, v) => sources.LessThanOrEqual(phys(a), v)
    case sources.In(a, vs) => sources.In(phys(a), vs)
    case sources.IsNull(a) => sources.IsNull(phys(a))
    case sources.IsNotNull(a) => sources.IsNotNull(phys(a))
    case sources.StringStartsWith(a, v) => sources.StringStartsWith(phys(a), v)
    case sources.StringEndsWith(a, v) => sources.StringEndsWith(phys(a), v)
    case sources.StringContains(a, v) => sources.StringContains(phys(a), v)
    case other => other
  }
}

/** Runtime filtering (Spark's dynamic partition pruning for V2 sources,
  * the Iceberg `SparkBatchQueryScan` shape): when a join's build side has
  * executed, Spark hands the key set as predicates and the scan re-runs
  * MANIFEST pruning over the narrowed conjunction — shard keys, hidden
  * day/transform dirs, identity dirs, and per-file stats all re-apply, so
  * a star join's fact scan opens only the files the dim filter selects.
  * The rebuilt delegate replaces the initial one before Spark plans input
  * partitions ([[org.apache.spark.sql.execution.datasources.v2
  * .BatchScanExec]] calls `filter` then `toBatch` again); filters only
  * ever shrink the listing, and Spark re-applies the join exactly, so
  * this is — like all the plan-time pruning — a pure optimization. */
private[graft] class GraftRuntimeFilterScan(builder: VersionedScanBuilder,
                                         initial: Scan, attrs: Array[String])
    extends Scan with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportOrdering {
  /** Declared write sort order of a clean single-file listing — lets
    * the planner elide Sort nodes over sorted tables (see
    * [[VersionedScanBuilder.reportableOrdering]] for the soundness
    * conditions, including why multi-file listings never report). */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    builder.reportableOrdering.map(c =>
      Expressions.sort(Expressions.column(c),
        org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING,
        org.apache.spark.sql.connector.expressions.NullOrdering.NULLS_FIRST)).toArray
  /** Key-grouped partitioning passes through (storage-partitioned joins
    * compose with runtime filtering — the rebuilt delegate reports the
    * same clustering over the narrowed listing); everything else reports
    * unknown, same as not implementing the interface. */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    delegate match {
      case p: org.apache.spark.sql.connector.read.SupportsReportPartitioning =>
        p.outputPartitioning()
      case _ =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    }
  @volatile private var delegate: Scan = initial
  /** The live (possibly runtime-narrowed) inner scan — plan inspection. */
  private[graft] def current: Scan = delegate
  override def readSchema(): StructType = delegate.readSchema()
  override def toBatch: org.apache.spark.sql.connector.read.Batch = delegate.toBatch
  override def description(): String = s"RuntimeFilterable(${delegate.description()})"
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    // only columns the CURRENT projection kept: Spark's PartitionPruning
    // resolves these against the relation's (pruned) output and FAILS
    // analysis on a partition-source column the query never selects —
    // e.g. a day-partitioned table joined on a non-ts key. A dropped
    // attribute only forfeits that column's runtime pruning; the static
    // pruning tiers are untouched.
    val out = readSchema().fieldNames.map(_.toLowerCase).toSet
    attrs.filter(a => out.contains(a.toLowerCase)).map(Expressions.column)
  }
  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    val v1 = org.apache.spark.sql.execution.datasources.v2.GraftScanBridge
      .predicatesToV1(predicates)
    if (v1.nonEmpty) delegate = builder.withRuntimeFilters(v1)
  }
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    builder.microBatchStream()
  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    delegate.supportedCustomMetrics()
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    delegate.columnarSupportMode()
  /** Delegate size enriched with manifest-derived row count and COLUMN
    * statistics ([[ColumnStatsReport]]) — what CBO's join planning reads. */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    builder.reportStatistics(GraftScanStats.of(delegate))
}

/** Reports logical column names over a delegate scan built in physical
  * terms — rows are positional, so only `readSchema` changes. Size
  * statistics pass through so join planning over a renamed table sees
  * the same estimates as an unrenamed one (a small dimension should
  * still broadcast). */
private[v2] class RenamedScan(delegate: Scan, logical: StructType) extends Scan
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {
  private[graft] def inner: Scan = delegate
  override def readSchema(): StructType = logical
  override def toBatch: org.apache.spark.sql.connector.read.Batch = delegate.toBatch
  override def description(): String = s"Renamed(${delegate.description()})"
  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    delegate.supportedCustomMetrics()
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    delegate.columnarSupportMode()
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    GraftScanStats.of(delegate)
}

/** Plan-inspection helper: strip the engine's wrapper scans (runtime
  * filter / rename / merge-on-read) down to the underlying file scan. */
object GraftScans {
  @annotation.tailrec
  def innermost(s: Scan): Scan = s match {
    case r: GraftRuntimeFilterScan => innermost(r.current)
    case r: RenamedScan => innermost(r.inner)
    case m: MorScan => innermost(m.inner)
    case k: org.apache.spark.sql.execution.datasources.v2.GraftKeyGroupedScan =>
      innermost(k.inner)
    case other => other
  }

  /** Pre-order nodes of an EXECUTED physical plan, traversing THROUGH
    * adaptive wrappers and materialized query stages — their plans are
    * fields, not children, so a plain `collect` silently misses a node
    * (a Sort, a shuffle) sitting inside a finalized stage. Shared by
    * the plan-verdict queries and their specs so the traversal can
    * never diverge between the two. */
  def executedNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    val kids = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        Seq(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        Seq(q.plan)
      case other => other.children
    }
    p +: kids.flatMap(executedNodes)
  }
}

/** Shared statistics passthrough for wrapper scans. */
private[v2] object GraftScanStats {
  private object Unknown extends org.apache.spark.sql.connector.read.Statistics {
    override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.empty()
    override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
  }
  def of(delegate: Scan): org.apache.spark.sql.connector.read.Statistics =
    delegate match {
      case s: org.apache.spark.sql.connector.read.SupportsReportStatistics =>
        s.estimateStatistics()
      case _ => Unknown
    }
}

/** V1-fallback write: INSERT INTO appends a manifest (cost ∝ new data),
  * INSERT OVERWRITE / TRUNCATE commits a fresh snapshot; both are atomic
  * pointer flips with retained history. The V1 path hands the input as a
  * DataFrame, and [[ManifestTable]]'s committed file writer is Spark's
  * own (parquet/orc) or the engine's avro FileFormat — per the table's
  * declared format. Renamed columns are written under their PHYSICAL
  * names so every data file in the pool stays uniformly named. */
class VersionedWriteBuilder(root: String, schema: StructType,
                            dayOf: Option[String],
                            meta: VersionedCatalog.Meta,
                            queryId: String = "")
    extends WriteBuilder with SupportsTruncate {

  private var overwrite = false

  override def truncate(): WriteBuilder = { overwrite = true; this }

  override def build(): V1Write = new V1Write {
    /** Streaming leg (`df.writeStream.toTable`): tasks stage parquet
      * files, the epoch commit publishes one manifest append with an
      * epoch marker (exactly-once across replays). Unpartitioned parquet
      * tables only — partitioned streaming ingestion goes through the
      * foreachBatch sink ([[graft.streaming.MicroBatch.appendSink]]),
      * which reuses the full batch write path. */
    override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
      val physical = StructType(schema.fields.map(f =>
        f.copy(name = meta.physicalName(f.name))))
      def ordOf(c: String): Int = {
        val i = schema.fieldNames.indexWhere(_.equalsIgnoreCase(c))
        require(i >= 0, s"streaming write to $root: partition source $c missing " +
          s"from the written columns ${schema.fieldNames.mkString(",")}")
        i
      }
      val dayOrd = dayOf.map { c =>
        val i = ordOf(c)
        require(schema.fields(i).dataType == org.apache.spark.sql.types.TimestampNTZType ||
          schema.fields(i).dataType == org.apache.spark.sql.types.DateType,
          s"streaming write to $root: hidden-day source $c must be " +
            "TIMESTAMP_NTZ or DATE for streaming (session-zone TIMESTAMP " +
            "streams through the foreachBatch appendSink)")
        i
      }
      // hidden months/years/bucket/truncate layouts stream too: the task
      // derives each row's __part value with the batch expression's exact
      // semantics (zone-sensitive TIMESTAMP months/years decline — their
      // derivation depends on the writing session's zone)
      val transform = meta.part.map { p =>
        val i = ordOf(p.col)
        val dt = schema.fields(i).dataType
        p.kind match {
          case "months" | "years" =>
            require(dt == org.apache.spark.sql.types.TimestampNTZType ||
              dt == org.apache.spark.sql.types.DateType,
              s"streaming write to $root: ${p.kind} source ${p.col} must be " +
                "TIMESTAMP_NTZ or DATE for streaming (session-zone TIMESTAMP " +
                "streams through the foreachBatch appendSink)")
          case "truncate" =>
            require(dt == org.apache.spark.sql.types.StringType ||
              Seq[org.apache.spark.sql.types.DataType](
                org.apache.spark.sql.types.ByteType, org.apache.spark.sql.types.ShortType,
                org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.LongType)
                .contains(dt),
              s"streaming write to $root: truncate source ${p.col} must be " +
                "string or integral for streaming")
          case _ => () // bucket: the generic Murmur3 hash covers every type
        }
        (p.kind, p.arg, i)
      }
      val identity = meta.identityCols.map { c =>
        val i = ordOf(c)
        require(Seq[org.apache.spark.sql.types.DataType](
          org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.types.ByteType, org.apache.spark.sql.types.ShortType,
          org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.LongType)
          .contains(schema.fields(i).dataType),
          s"streaming write to $root: identity partition column $c must be " +
            "string or integral for streaming")
        (meta.physicalName(schema.fields(i).name), i)
      }
      val identityOrds = identity.map(_._2).toSet
      val fileOrdinals = schema.fields.indices.filterNot(identityOrds).toArray
      val fileSchema = StructType(fileOrdinals.map(physical.fields(_)))
      val layout = StreamLayout(physical, dayOrd, transform, identity, fileOrdinals)
      val spark = SparkSession.active
      // CHECK constraints ride to the tasks as ordinal-bound expressions
      // and evaluate per row in the stream writer — the same inline-raise
      // contract the batch paths keep, so a constrained table cannot be
      // violated through its streaming sink either. Resolution runs the
      // REAL analyzer against the write schema (functions, implicit
      // casts, struct fields — everything validateNewCheck admitted),
      // then rebinds the resolved attributes to row ordinals.
      val checks = VersionedCatalog.checksOf(root).map { case (n, sql) =>
        import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, BoundReference}
        import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
        val attrs = org.apache.spark.sql.catalyst.types.DataTypeUtils
          .toAttributes(schema)
        val parsed = spark.sessionState.sqlParser.parseExpression(sql)
        val analyzed = spark.sessionState.analyzer.executeAndCheck(
          Project(Seq(Alias(parsed, n)()), LocalRelation(attrs)),
          new org.apache.spark.sql.catalyst.QueryPlanningTracker)
        val resolved = analyzed.collectFirst {
          case p: Project => p.projectList.head
        }.map { case a: Alias => a.child; case e => e }.getOrElse(
          throw new IllegalStateException(
            s"CHECK constraint '$n' did not analyze to a projection"))
        require(resolved.dataType ==
          org.apache.spark.sql.types.BooleanType,
          s"streaming write to $root: CHECK constraint '$n' ($sql) is not " +
            s"a boolean predicate over the written columns")
        val ordOfExpr = attrs.map(_.exprId).zipWithIndex.toMap
        val bound = resolved.transform {
          case a: AttributeReference =>
            BoundReference(ordOfExpr(a.exprId), a.dataType, a.nullable)
        }
        (n, sql, bound)
      }
      new VersionedStreamWrite(root, fileSchema, layout, meta.format, queryId,
        overwrite, () => VersionedCatalog.retainFor(root, spark), checks)
    }

    override def toInsertableRelation: InsertableRelation = new InsertableRelation {
      override def insert(data: DataFrame, ignored: Boolean): Unit = {
        val spark = data.sparkSession
        // per-table retention (TBLPROPERTIES('retain'='N')) wins over the
        // session conf — operational knobs belong to the table
        val retain = VersionedCatalog.retainFor(root, spark)
        // CHECK constraints validate inline with the write (logical
        // names — the constraint surface), then align by name+type with
        // the declared schema (V2 resolution has already matched
        // columns; the cast pins exact physical types), then swap
        // logical for physical names
        val checked = VersionedCatalog.withChecks(data, root, root)
        val aligned = checked.select(schema.fields.toIndexedSeq.map(f =>
          org.apache.spark.sql.functions.col(f.name).cast(f.dataType)
            .as(meta.physicalName(f.name))): _*)
        val physDayOf = dayOf.map(meta.physicalName)
        val physExpr = VersionedCatalog.partDeriveExpr(meta)
        val physCols = meta.identityCols.map(meta.physicalName)
        if (overwrite || !ManifestTable.exists(root))
          ManifestTable.commit(aligned, root, retain, physDayOf,
            format = Some(meta.format),
            partitionExpr = physExpr, partitionCols = physCols)
        else {
          ManifestTable.append(aligned, root, retain, physDayOf,
            format = Some(meta.format),
            partitionExpr = physExpr, partitionCols = physCols)
          // the append is durable; fold ingest fragmentation back if the
          // table opted in (best-effort, never fails the INSERT)
          VersionedCatalog.maybeAutoCompact(spark, root)
        }
      }
    }
  }
}
