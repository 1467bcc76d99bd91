package graft.sources.v2

import java.util.{Map => JMap}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.MetadataColumn
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.{CommitLog, TableFormat}

/** SQL CATALOG over [[TableFormat]] tables — the `TableCatalog` plugin
  * that makes the format a first-class SQL citizen (the Delta/Iceberg
  * catalog integration shape):
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft",
  *     "graft.sources.v2.GraftTableCatalog")
  *   spark.conf.set("spark.sql.catalog.graft.warehouse", "/data/wh")
  *   spark.sql("SELECT * FROM graft.sales")                   // latest
  *   spark.sql("SELECT * FROM graft.sales VERSION AS OF 2")   // time travel
  * }}}
  *
  * A table named `t` resolves to the TableFormat log at
  * `<warehouse>/t` (namespace levels become path segments). `VERSION AS
  * OF` maps straight onto the log's pinned snapshots — Spark's own time
  * travel syntax rides the format's versioning with no extra state.
  *
  * The scan is the format's metadata made native to Catalyst:
  *
  *  - column pruning (`SupportsPushDownRequiredColumns`) reaches the
  *    parquet Group reader — unprojected columns are never materialized;
  *  - filter pushdown (`SupportsPushDownFilters`) turns key/zone-column
  *    comparisons into FILE PRUNING with pure driver arithmetic over the
  *    snapshot's stats — the `.explain` shows the pruned count, and a
  *    range probe on a clustered 100 TB table plans O(hit files)
  *    partitions (filters are also left residual, so Spark re-applies
  *    them row-level: pruning is best-effort, never a correctness
  *    dependency);
  *  - merge-on-read manifests are applied INSIDE the reader task: each
  *    partition carries the manifest files applicable to its data file
  *    (the strict seq rule), the task loads their keys into a hash set
  *    and skips masked rows before Spark sees them — memory O(manifest
  *    keys), the bound [[TableFormat.compactManifests]] maintains.
  *
  * Mutations flow through the SAME commit protocol as the library API
  * ([[TableFormat]]): DDL (`createTable`/`alterTable`/`dropTable`/
  * `renameTable`), the routed INSERT path, row-level DML (group-based
  * and delta merge-on-read), and the CALL procedures all land ordinary
  * versioned commits — SQL is a face on the format, never a second,
  * weaker write path. */
class GraftTableCatalog extends TableCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.FunctionCatalog
    with org.apache.spark.sql.connector.catalog.ViewCatalog {
  private var catalogName: String = _
  private var warehouse: String = _

  /** Opts into the analyzer's DEFAULT-clause support: CREATE/ALTER may
    * declare column defaults, which this catalog persists as
    * `coldefault.*` commit props (TableFormat's ledger) and serves back
    * as schema metadata — INSERT gap-fill and old-file back-fill then
    * ride Spark's own machinery. */
  override def capabilities()
      : java.util.Set[org.apache.spark.sql.connector.catalog.TableCatalogCapability] = {
    import org.apache.spark.sql.connector.catalog.TableCatalogCapability._
    java.util.EnumSet.of(SUPPORT_COLUMN_DEFAULT_VALUE,
      SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS,
      SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS)
  }

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = options.get("warehouse")
    require(warehouse != null && warehouse.nonEmpty,
      s"graft catalog '$name': set spark.sql.catalog.$name.warehouse")
  }

  override def name(): String = catalogName

  private def rootOf(ident: Identifier): String =
    (ident.namespace() :+ ident.name()).mkString(s"$warehouse/", "/", "")

  /** The table's log root under this catalog's warehouse — what the
    * `system.*` maintenance procedures resolve their `table` argument
    * through ([[GraftProcedures]]). */
  private[v2] def tableRoot(ident: Identifier): String = rootOf(ident)

  // ---- SQL-invocable maintenance: CALL <cat>.system.<proc>(...) ----

  override def loadProcedure(ident: Identifier): org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    require(ident.namespace().toSeq == Seq(GraftProcedures.Namespace),
      s"graft catalog: procedures live in the '${GraftProcedures.Namespace}' " +
        s"namespace (CALL $catalogName.system.<name>), got $ident")
    GraftProcedures.load(this, ident.name())
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.toSeq == Seq(GraftProcedures.Namespace))
      GraftProcedures.names
        .map(n => Identifier.of(namespace, n)).toArray
    else Array.empty

  // ---- V2 FUNCTIONS: the partition transforms (bucket/months/div) as
  // bound scalar functions. Spark's storage-partitioned-join machinery
  // resolves KeyGroupedPartitioning keys through THIS hook — and they
  // double as SQL surface (`SELECT graft.bucket(8, k)`). Root namespace
  // (where transform resolution looks) plus `system` (discoverable next
  // to the procedures). ----

  private def functionNamespace(ns: Seq[String]): Boolean =
    ns.isEmpty || ns == Seq(GraftProcedures.Namespace)

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (functionNamespace(namespace.toSeq))
      GraftFunctions.names.map(n => Identifier.of(namespace, n)).toArray
    else Array.empty

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (functionNamespace(ident.namespace().toSeq) &&
        GraftFunctions.names.contains(ident.name()))
      GraftFunctions.load(ident.name())
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident)

  // ---- PERSISTED VIEWS (ViewCatalog): CREATE/ALTER/DROP/SHOW VIEWS
  // over JSON view documents under <warehouse>/_views — the stored SQL
  // re-analyzes at read time, so views track table evolution. The
  // storage and semantics live in [[GraftViews]]. ----

  override def listViews(namespace: String*): Array[Identifier] =
    GraftViews.list(warehouse, namespace.toArray)

  override def loadView(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.View =
    GraftViews.load(warehouse, ident)

  override def viewExists(ident: Identifier): Boolean =
    GraftViews.exists(warehouse, ident)

  override def createView(info: org.apache.spark.sql.connector.catalog.ViewInfo)
      : org.apache.spark.sql.connector.catalog.View =
    GraftViews.create(warehouse, info, replace = false)

  override def replaceView(info: org.apache.spark.sql.connector.catalog.ViewInfo,
                           orCreate: Boolean)
      : org.apache.spark.sql.connector.catalog.View = {
    if (!orCreate && !GraftViews.exists(warehouse, info.ident()))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchViewException(info.ident())
    GraftViews.create(warehouse, info, replace = true)
  }

  override def alterView(ident: Identifier,
                         changes: org.apache.spark.sql.connector.catalog.ViewChange*)
      : org.apache.spark.sql.connector.catalog.View =
    GraftViews.alter(warehouse, ident, changes)

  override def dropView(ident: Identifier): Boolean =
    GraftViews.drop(warehouse, ident)

  override def renameView(from: Identifier, to: Identifier): Unit = {
    // mirror create_view's guard: tables SHADOW views at resolution, so
    // renaming a view onto a table-held name would succeed yet make the
    // view unreachable — refuse loudly instead
    if (tableExists(to))
      throw new IllegalArgumentException(
        s"graft rename_view: target '$to' names an existing TABLE — " +
          "tables shadow views; pick another name")
    GraftViews.rename(warehouse, from, to)
  }

  // ---- namespaces: warehouse subdirectories (a table is a dir with a
  // _log; a namespace is a dir without one) — CREATE/SHOW/DROP
  // NAMESPACE organize tables exactly as paths already resolve ----

  private def namespacePath(ns: Array[String]): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(ns.mkString(s"$warehouse/", "/", ""))

  private def fsOf(p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration)

  override def listNamespaces(): Array[Array[String]] =
    listNamespaces(Array.empty)

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    val base = namespacePath(namespace)
    val fs = fsOf(base)
    if (!fs.exists(base)) {
      if (namespace.isEmpty) return Array.empty
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(
        namespace.toSeq)
    }
    fs.listStatus(base).filter(_.isDirectory)
      .filter(st => !CommitLog.isTable(fs, st.getPath))
      .filterNot(_.getPath.getName.startsWith("_"))
      .map(st => namespace :+ st.getPath.getName)
  }

  override def namespaceExists(namespace: Array[String]): Boolean = {
    if (namespace.isEmpty) return true
    val p = namespacePath(namespace)
    val fs = fsOf(p)
    fs.exists(p) && !CommitLog.isTable(fs, p)
  }

  override def loadNamespaceMetadata(namespace: Array[String])
      : JMap[String, String] = {
    if (!namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(
        namespace.toSeq)
    java.util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
                               metadata: JMap[String, String]): Unit = {
    val p = namespacePath(namespace)
    val fs = fsOf(p)
    if (fs.exists(p))
      throw new org.apache.spark.sql.catalyst.analysis.NamespaceAlreadyExistsException(
        namespace)
    fs.mkdirs(p)
  }

  override def alterNamespace(namespace: Array[String],
                              changes: org.apache.spark.sql.connector.catalog.NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft catalog: namespaces carry no mutable metadata")

  override def dropNamespace(namespace: Array[String],
                             cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace)) return false
    val p = namespacePath(namespace)
    val fs = fsOf(p)
    if (!cascade && fs.listStatus(p).nonEmpty)
      throw new IllegalStateException(
        s"graft catalog: namespace ${namespace.mkString(".")} is not " +
          "empty — DROP NAMESPACE ... CASCADE to remove its tables")
    fs.delete(p, true)
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val spark = SparkSession.active
    val base = namespace.mkString(s"$warehouse/", "/", "")
    val p = new org.apache.hadoop.fs.Path(base)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Array.empty
    else fs.listStatus(p).filter(_.isDirectory)
      .filter(st => CommitLog.isTable(fs, st.getPath))
      .map(st => Identifier.of(namespace, st.getPath.getName))
  }

  override def loadTable(ident: Identifier): Table =
    loadPinned(ident, None)

  /** `VERSION AS OF` — a numeric argument pins a version; anything else
    * resolves as a NAMED REF (`VERSION AS OF 'prod'`), the Iceberg tag
    * idiom ([[TableFormat.createTag]]; all-digit tag names are refused
    * at creation so the two namespaces cannot collide). */
  override def loadTable(ident: Identifier, version: String): Table =
    version.toLongOption match {
      case Some(v) => loadPinned(ident, Some(v))
      case None =>
        val spark = SparkSession.active
        val name = ident.name()
        val dollar = name.indexOf('$')
        val baseName = if (dollar > 0) name.substring(0, dollar) else name
        val root = rootOf(Identifier.of(ident.namespace(), baseName))
        if (TableFormat.versions(spark, root).isEmpty)
          throw new NoSuchTableException(ident)
        loadPinned(ident,
          Some(TableFormat.snapshotOfTag(spark, root, version).version))
    }

  /** `TIMESTAMP AS OF` — Spark hands micros since epoch; resolve through
    * the log's commit mtimes ([[TableFormat.snapshotAsOfTime]]). */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val spark = SparkSession.active
    val root = rootOf(ident)
    if (TableFormat.versions(spark, root).isEmpty)
      throw new NoSuchTableException(ident)
    loadPinned(ident, Some(
      TableFormat.snapshotAsOfTime(spark, root, timestamp / 1000L).version))
  }

  private def loadPinned(ident: Identifier, version: Option[Long]): Table = {
    val spark = SparkSession.active
    val name = ident.name()
    val dollar = name.indexOf('$')
    if (dollar > 0 && name.substring(dollar + 1).startsWith("branch_")) {
      // `t$branch_<name>` — the BRANCH as a first-class SQL table (read
      // AND write): a branch is a TableFormat table at its own root, so
      // the whole SQL surface (INSERT, DELETE, MERGE, time travel)
      // works against it unchanged — which is what makes the CALL
      // create_branch / stage / audit / publish_branch flow driveable
      // without leaving SQL
      val baseRoot = rootOf(Identifier.of(ident.namespace(),
        name.substring(0, dollar)))
      val bname = name.substring(dollar + 1 + "branch_".length)
      val root = TableFormat.branchRoot(baseRoot, bname)
      if (TableFormat.versions(spark, root).isEmpty)
        throw new NoSuchTableException(ident)
      val snap = TableFormat.snapshot(spark, root, version)
      new GraftSqlTable(ident.toString, root, snap)
    } else if (dollar > 0) {
      // Iceberg's metadata-table idiom: `<table>$history` / `<table>$files`
      // — pure log/snapshot arithmetic served through a driver-local scan
      // (the row counts are file- and version-bounded by construction)
      val root = rootOf(Identifier.of(ident.namespace(),
        name.substring(0, dollar)))
      if (TableFormat.versions(spark, root).isEmpty)
        throw new NoSuchTableException(ident)
      val df = name.substring(dollar + 1) match {
        case "history" => TableFormat.historyTable(spark, root)
        case "files" => TableFormat.filesTable(spark,
          TableFormat.snapshot(spark, root, version))
        case "partitions" => TableFormat.partitionsTable(spark,
          TableFormat.snapshot(spark, root, version))
        case "refs" => TableFormat.refsTable(spark, root)
        case "manifests" => TableFormat.manifestsTable(spark,
          TableFormat.snapshot(spark, root, version))
        case other => throw new NoSuchTableException(ident)
      }
      new GraftMetaTable(ident.toString, df)
    } else {
      val root = rootOf(ident)
      if (TableFormat.versions(spark, root).isEmpty)
        throw new NoSuchTableException(ident)
      val snap = TableFormat.snapshot(spark, root, version)
      new GraftSqlTable(ident.toString, root, snap)
    }
  }

  override def invalidateTable(ident: Identifier): Unit = ()

  // Spark-managed reserved/bookkeeping property keys that must not leak
  // into the commit props
  private val ReservedProps =
    Set("provider", "location", "comment", "owner", "external",
      "is_managed_location")

  /** `CREATE TABLE graft.t (...) TBLPROPERTIES(...)` — bootstraps an
    * EMPTY TableFormat log (v1 = schema + declarations, no files; zero
    * data IO), which is also the first half of CTAS (Spark then appends
    * through the returned table's write path). Config rides
    * TBLPROPERTIES: `key_col` (default: the first integral column —
    * the format's zone/bloom key must be integral), `zone_cols`
    * (comma-separated), `num_bits`/`num_hashes` (bloom shape), and
    * `constraint.<name>` CHECK predicates enforced from the first
    * INSERT. Remaining user properties land in the commit props. */
  /** `PARTITIONED BY` DSv2 transforms mapped onto the format's
    * [[TableFormat.PartitionSpecProp]] spec terms — the idiomatic DDL
    * declaration (`CREATE TABLE ... PARTITIONED BY (months(od))`)
    * instead of the TBLPROPERTIES side-channel (which stays honored for
    * programmatic callers and ALTER-time evolution):
    *   - `col`             → identity term
    *   - `months(col)`     → `month(col)` (calendar-month routing)
    *   - `days(col)`       → resolved against the column's TYPE: a DATE's
    *                          zone-long image IS its epoch day, so
    *                          `div(col, 1)` is exactly day routing — but a
    *                          TIMESTAMP's zone-long is epoch MICROS, where
    *                          width-1 would route one file per distinct
    *                          microsecond; it maps to `div(col, 86400000000)`
    *                          (floor-div micros to the epoch day, matching
    *                          the writer's `Math.floorDiv` routing so
    *                          pre-1970 values stay day-aligned)
    *   - `bucket(n, col)`  → `bucket(col, n)` (modular fan-out)
    * Base columns are AUTO-DECLARED as zone columns (a partition column
    * the scan cannot prune on would be a silent contradiction). */
  private def specOfTransforms(partitions: Array[Transform],
                               schema: StructType): Option[String] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    if (partitions.isEmpty) return None
    def singleRef(refs: Array[NamedReference], t: Transform): String = {
      require(refs.length == 1 && refs(0).fieldNames().length == 1,
        s"graft catalog: transform $t must reference one top-level column")
      refs(0).fieldNames()(0)
    }
    Some(partitions.map {
      case t if t.name() == "identity" => singleRef(t.references(), t)
      case t if t.name() == "months" => s"month(${singleRef(t.references(), t)})"
      case t if t.name() == "days" =>
        val c = singleRef(t.references(), t)
        schema.fields.find(_.name == c).map(_.dataType) match {
          case Some(DateType) => s"div($c, 1)"
          case Some(TimestampType) => s"div($c, 86400000000)"
          case other => throw new UnsupportedOperationException(
            s"graft catalog: days($c) needs a DATE or TIMESTAMP column, " +
              s"got ${other.map(_.simpleString).getOrElse("<missing>")}")
        }
      case t if t.name() == "bucket" =>
        val n = t.arguments().collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_]
            if l.value().isInstanceOf[Number] =>
            l.value().asInstanceOf[Number].longValue()
        }.getOrElse(throw new IllegalArgumentException(
          s"graft catalog: bucket transform $t carries no numeric width"))
        s"bucket(${singleRef(t.references(), t)}, $n)"
      case t => throw new UnsupportedOperationException(
        s"graft catalog: unsupported partition transform $t (supported: " +
          "identity, months(col), days(col), bucket(n, col))")
    }.mkString(", "))
  }

  /** The non-deprecated CREATE entry point: Spark hands GENERATED /
    * IDENTITY declarations only on the `Column` objects (the back-compat
    * StructType conversion keeps defaults but DROPS them), so this
    * override re-attaches them as the metadata keys the schema-based
    * path below persists into the ledgers. */
  override def createTable(ident: Identifier,
                           columns: Array[org.apache.spark.sql.connector.catalog.Column],
                           partitions: Array[Transform],
                           properties: JMap[String, String]): Table = {
    val enriched = StructType(columns.map { c =>
      var mb = new org.apache.spark.sql.types.MetadataBuilder()
      Option(c.metadataInJSON()).filter(_.nonEmpty).foreach(j =>
        mb = mb.withMetadata(
          org.apache.spark.sql.types.Metadata.fromJson(j)))
      Option(c.comment()).foreach(cm => mb = mb.putString("comment", cm))
      Option(c.defaultValue()).foreach { dv =>
        import org.apache.spark.sql.catalyst.util.ResolveDefaultColumns._
        val lit = org.apache.spark.sql.catalyst.expressions.Literal(
          dv.getValue.value(), dv.getValue.dataType())
        mb = mb.putString(CURRENT_DEFAULT_COLUMN_METADATA_KEY,
            Option(dv.getSql).getOrElse(lit.sql))
          .putString(EXISTS_DEFAULT_COLUMN_METADATA_KEY, lit.sql)
      }
      Option(c.generationExpression()).filter(_.nonEmpty).foreach(g =>
        mb = mb.putString(org.apache.spark.sql.catalyst.util.GeneratedColumn
          .GENERATION_EXPRESSION_METADATA_KEY, g))
      Option(c.identityColumnSpec()).foreach { spec =>
        import org.apache.spark.sql.catalyst.util.IdentityColumn
        mb = mb.putLong(IdentityColumn.IDENTITY_INFO_START, spec.getStart)
          .putLong(IdentityColumn.IDENTITY_INFO_STEP, spec.getStep)
          .putBoolean(IdentityColumn.IDENTITY_INFO_ALLOW_EXPLICIT_INSERT,
            spec.isAllowExplicitInsert)
      }
      StructField(c.name(), c.dataType(), c.nullable(), mb.build())
    })
    createTable(ident, enriched, partitions, properties)
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: JMap[String, String]): Table = {
    val spark = SparkSession.active
    val root = rootOf(ident)
    if (TableFormat.versions(spark, root).nonEmpty)
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        (ident.namespace() :+ ident.name()).toSeq)
    import scala.jdk.CollectionConverters._
    val props = properties.asScala.toMap
    def integralCols = schema.fields.collect {
      case f if f.dataType == LongType || f.dataType == IntegerType ||
        f.dataType == ShortType || f.dataType == ByteType => f.name
    }
    val keyCol = props.getOrElse("key_col", integralCols.headOption.getOrElse(
      throw new IllegalArgumentException(
        "graft catalog: table needs an integral key column (set " +
          "TBLPROPERTIES('key_col'='...') or include an integral column)")))
    // reserved names: the synthesized metadata columns and the hidden
    // lineage column — a user column by these names would shadow or
    // corrupt the machinery that serves them
    schema.fieldNames.foreach(c => require(!GraftSqlReaderFactory.reserved(c),
      s"graft catalog: column name '$c' is reserved (metadata/lineage)"))
    val ddlSpec = specOfTransforms(partitions, schema)
    require(ddlSpec.isEmpty || !props.contains(TableFormat.PartitionSpecProp),
      "graft catalog: declare the partition spec EITHER via PARTITIONED BY " +
        s"or TBLPROPERTIES('${TableFormat.PartitionSpecProp}'), not both")
    val spec = ddlSpec.orElse(props.get(TableFormat.PartitionSpecProp))
    // spec base columns prune through zone stats: auto-declare them
    val specZones = spec.toSeq.flatMap(TableFormat.parseSpec)
      .map(_.baseCol).filterNot(_ == keyCol)
    val zoneCols = (props.get("zone_cols")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty) ++ specZones).distinct
    zoneCols.foreach(c => require(schema.fieldNames.contains(c),
      s"graft catalog: zone/partition column '$c' not in the table schema"))
    val carried = props -- ReservedProps --
      Seq("key_col", "zone_cols", "num_bits", "num_hashes") filterNot {
        case (k, _) => k.startsWith("option.")
      }
    // CREATE-time DEFAULT clauses arrive as Spark's schema metadata
    // (the SUPPORT_COLUMN_DEFAULT_VALUE contract): persist them in the
    // coldefault ledger — the DDL string itself stays metadata-free
    val defaultProps = schema.fields.flatMap { f =>
      import org.apache.spark.sql.catalyst.util.ResolveDefaultColumns._
      val cur =
        if (f.metadata.contains(CURRENT_DEFAULT_COLUMN_METADATA_KEY))
          Seq(TableFormat.ColDefaultCurPrefix + f.name ->
            f.metadata.getString(CURRENT_DEFAULT_COLUMN_METADATA_KEY))
        else Seq.empty
      val exist =
        if (f.metadata.contains(EXISTS_DEFAULT_COLUMN_METADATA_KEY))
          Seq(TableFormat.ColDefaultExistPrefix + f.name ->
            f.metadata.getString(EXISTS_DEFAULT_COLUMN_METADATA_KEY))
        else Seq.empty
      cur ++ exist
    }.toMap
    // GENERATED / IDENTITY declarations (the write edge enforces them;
    // GraftGenerated has the contract): persist the ledgers, refuse
    // shapes the writer cannot honor
    val genProps = schema.fields.flatMap { f =>
      org.apache.spark.sql.catalyst.util.GeneratedColumn
        .getGenerationExpression(f).map { sql =>
          GraftGenerated.ColGenPrefix + f.name -> sql
        }
    }.toMap
    val idProps = schema.fields.flatMap { f =>
      org.apache.spark.sql.catalyst.util.IdentityColumn.getIdentityInfo(f)
        .map { spec =>
          require(f.dataType == LongType || f.dataType == IntegerType,
            s"graft catalog: identity column '${f.name}' must be BIGINT " +
              s"or INT (got ${f.dataType.simpleString})")
          require(spec.getStep != 0,
            s"graft catalog: identity column '${f.name}' needs a non-zero " +
              "step")
          Seq(GraftGenerated.ColIdPrefix + f.name ->
              s"${spec.getStart},${spec.getStep},${spec.isAllowExplicitInsert}",
            GraftGenerated.ColIdNextPrefix + f.name -> spec.getStart.toString)
        }.getOrElse(Seq.empty)
    }.toMap
    TableFormat.createEmpty(spark, root, keyCol,
      TableFormat.stripDefaultMetadata(schema).toDDL,
      numBits = props.get("num_bits").map(_.toInt).getOrElse(1 << 14),
      numHashes = props.get("num_hashes").map(_.toInt).getOrElse(5),
      zoneCols = zoneCols,
      props = carried ++ defaultProps ++ genProps ++ idProps ++
        spec.map(TableFormat.PartitionSpecProp -> _))
    loadTable(ident)
  }

  /** `ALTER TABLE` — the metadata-only subset the format supports
    * natively, in ONE op=replace commit: ADD COLUMN(S) (add-only schema
    * evolution — existing files read the new column as null, the same
    * contract appends use) and SET/UNSET TBLPROPERTIES (which is also
    * the SQL route to CHECK constraints — `SET TBLPROPERTIES
    * ('constraint.x'='...')` validates the existing table exactly like
    * [[TableFormat.setConstraint]] — and to the partition spec).
    * Type changes, renames and drops need a rewrite and are refused. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val spark = SparkSession.active
    val root = rootOf(ident)
    if (TableFormat.versions(spark, root).isEmpty)
      throw new NoSuchTableException(ident)
    val first = TableFormat.snapshot(spark, root)
    val baseSchema = StructType.fromDDL(first.schemaDdl.getOrElse(
      throw new IllegalArgumentException(
        s"graft catalog: table at $root carries no schema")))
    val addedFields = scala.collection.mutable.ListBuffer.empty[StructField]
    val nestedAdds =
      scala.collection.mutable.ListBuffer.empty[(Seq[String], org.apache.spark.sql.types.DataType)]
    val setProps = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val unsetProps = scala.collection.mutable.ListBuffer.empty[String]
    val renames = scala.collection.mutable.ListBuffer.empty[(String, String)]
    val drops = scala.collection.mutable.ListBuffer.empty[String]
    val widens =
      scala.collection.mutable.ListBuffer.empty[(String, org.apache.spark.sql.types.DataType)]
    // (column, CURRENT_DEFAULT sql, EXISTS_DEFAULT sql) from ADD COLUMN
    // ... DEFAULT; (column, Some(sql)/None) from SET/DROP DEFAULT
    val defaultAdds =
      scala.collection.mutable.ListBuffer.empty[(String, String, String)]
    val defaultUpdates =
      scala.collection.mutable.ListBuffer.empty[(String, Option[String])]
    // rename/drop are metadata-only via the COLUMN MAPPING ledger
    // ([[TableFormat.physicalName]]). RENAMES now cover the key and
    // zone columns too: per-file stats stay recorded under each file
    // era's physical name and snapshot resolution RE-KEYS them to the
    // current logical names ([[TableFormat]] rekeyStats), so pruning,
    // blooms, SPJ tuples and metadata aggregates survive the rename.
    // DROPS of key/zone columns still refuse — a table cannot lose its
    // key, and a dropped zone column would orphan its declared stats.
    def mapName(c: String): String = {
      require(c.matches("[A-Za-z0-9_]+"),
        s"graft catalog: column mapping needs [A-Za-z0-9_]+ names, got '$c'")
      require(!GraftSqlReaderFactory.reserved(c),
        s"graft catalog: column name '$c' is reserved (metadata/lineage)")
      c
    }
    def mappable(c: String): String = {
      mapName(c)
      require(c != first.keyCol && !first.zoneCols.contains(c),
        s"graft catalog: cannot drop '$c' — it is the key or a " +
          "declared zone/partition column")
      c
    }
    changes.foreach {
      case r: TableChange.RenameColumn if r.fieldNames().length == 1 =>
        val from = mapName(r.fieldNames()(0))
        val to = mapName(r.newName())
        require(baseSchema.fieldNames.contains(from),
          s"graft catalog: no column '$from' to rename")
        require(!baseSchema.fieldNames.contains(to),
          s"graft catalog: rename target '$to' already exists")
        // CHECK constraints hold raw SQL text — a rename would silently
        // break (or worse, re-bind) their column references; refuse
        first.props.foreach { case (k, sql) =>
          require(!k.startsWith("constraint.") ||
            !sql.matches(s"(?s).*\\b$from\\b.*"),
            s"graft catalog: cannot rename '$from' — constraint '$k' " +
              s"references it ($sql); drop the constraint first")
          // generation expressions hold raw SQL too: renaming a BASE
          // column a generated column computes from would break it
          require(!k.startsWith(GraftGenerated.ColGenPrefix) ||
            k == GraftGenerated.ColGenPrefix + from ||
            !sql.matches(s"(?s).*\\b$from\\b.*"),
            s"graft catalog: cannot rename '$from' — generated column " +
              s"'${k.stripPrefix(GraftGenerated.ColGenPrefix)}' computes " +
              s"from it ($sql)")
        }
        renames += ((from, to))
      case r: TableChange.RenameColumn =>
        throw new UnsupportedOperationException(
          "graft catalog: only top-level columns can be renamed " +
            s"(got ${r.fieldNames().mkString(".")})")
      case d: TableChange.DeleteColumn if d.fieldNames().length == 1 =>
        val c = mappable(d.fieldNames()(0))
        require(baseSchema.fieldNames.contains(c),
          s"graft catalog: no column '$c' to drop")
        require(baseSchema.fields.length > 1,
          s"graft catalog: cannot drop the last column '$c'")
        first.props.foreach { case (k, sql) =>
          require(!k.startsWith(GraftGenerated.ColGenPrefix) ||
            k == GraftGenerated.ColGenPrefix + c ||
            !sql.matches(s"(?s).*\\b$c\\b.*"),
            s"graft catalog: cannot drop '$c' — generated column " +
              s"'${k.stripPrefix(GraftGenerated.ColGenPrefix)}' computes " +
              s"from it ($sql); drop the generated column first")
        }
        drops += c
      case d: TableChange.DeleteColumn =>
        throw new UnsupportedOperationException(
          "graft catalog: only top-level columns can be dropped " +
            s"(got ${d.fieldNames().mkString(".")})")
      case a: TableChange.AddColumn if a.fieldNames().length == 1 =>
        val name = a.fieldNames()(0)
        require(!GraftSqlReaderFactory.reserved(name),
          s"graft catalog: column name '$name' is reserved (metadata/lineage)")
        require(!baseSchema.fieldNames.contains(name) &&
          !addedFields.exists(_.name == name),
          s"graft catalog: column '$name' already exists")
        require(a.isNullable,
          "graft catalog: added columns must be nullable (existing files " +
            "back-fill them with null)")
        // ADD COLUMN ... DEFAULT d: the analyzer already folded d to a
        // typed literal — CURRENT_DEFAULT keeps the author's SQL,
        // EXISTS_DEFAULT freezes the folded literal (the Iceberg v3
        // initial default old files back-fill; SET DEFAULT later never
        // rewrites it)
        Option(a.defaultValue()).foreach { dv =>
          val lit = org.apache.spark.sql.catalyst.expressions.Literal(
            dv.getValue.value(), dv.getValue.dataType())
          defaultAdds += ((name, Option(dv.getSql).getOrElse(lit.sql),
            lit.sql))
        }
        addedFields += StructField(name, a.dataType(), nullable = true)
      case a: TableChange.AddColumn =>
        // NESTED add-only evolution: a new struct member (possibly under
        // an array element or map value) — rows written before it existed
        // null-fill it by name at every level, so no file is rewritten
        require(a.isNullable,
          "graft catalog: added nested fields must be nullable (existing " +
            "rows back-fill them with null)")
        require(a.defaultValue() == null,
          "graft catalog: DEFAULT is supported on top-level columns only " +
            s"(got ${a.fieldNames().mkString(".")})")
        nestedAdds += ((a.fieldNames().toSeq, a.dataType()))
      case u: TableChange.UpdateColumnType if u.fieldNames().length == 1 =>
        // SAFE WIDENING only (int->long, float->double, same-scale
        // decimal precision growth) — one metadata commit, readers
        // up-convert old narrow files; anything else refuses loudly
        val c = u.fieldNames()(0)
        val cur = baseSchema.fields.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(
            s"graft catalog: no column '$c' to retype")).dataType
        require(cur != u.newDataType() &&
          TableFormat.widened(cur, u.newDataType()).contains(u.newDataType()),
          s"graft catalog: ALTER COLUMN $c TYPE ${u.newDataType().simpleString}" +
            s" from ${cur.simpleString} is not a safe widening " +
            "(int->long, float->double, same-scale decimal precision " +
            "growth) — narrowing or retyping needs a rewrite")
        widens += ((c, u.newDataType()))
      case u: TableChange.UpdateColumnType =>
        throw new UnsupportedOperationException(
          "graft catalog: only top-level columns can be widened " +
            s"(got ${u.fieldNames().mkString(".")})")
      case u: TableChange.UpdateColumnDefaultValue
          if u.fieldNames().length == 1 =>
        // SET DEFAULT changes only the WRITE default (future INSERTs);
        // the exists default stays frozen at its ADD COLUMN value —
        // never retroactive, so no file is reinterpreted. DROP DEFAULT
        // removes the write default (inserts fill NULL again).
        val c = u.fieldNames()(0)
        val field = baseSchema.fields.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(
            s"graft catalog: no column '$c' to alter a default on"))
        Option(u.newCurrentDefault()).filter(d =>
            d.getSql == null || d.getSql.nonEmpty) match {
          case Some(dv) =>
            // re-analyze against the column's type: a malformed or
            // non-castable default refuses here, not at first INSERT
            val analyzed = org.apache.spark.sql.catalyst.util
              .ResolveDefaultColumns.analyze(c, field.dataType, dv,
                "ALTER TABLE ALTER COLUMN")
            val sql = Option(dv.getSql).getOrElse(
              org.apache.spark.sql.catalyst.expressions.Literal(
                analyzed.eval(), analyzed.dataType).sql)
            defaultUpdates += ((c, Some(sql)))
          case None => defaultUpdates += ((c, None))
        }
      case u: TableChange.UpdateColumnDefaultValue =>
        throw new UnsupportedOperationException(
          "graft catalog: only top-level columns can carry defaults " +
            s"(got ${u.fieldNames().mkString(".")})")
      case sp: TableChange.SetProperty =>
        setProps += sp.property() -> sp.value()
      case rp: TableChange.RemoveProperty =>
        // UNSETting the sort contract on a table with data would let the
        // scan's ordering report claim base-column order over files
        // actually sorted by the (now invisible) old sort columns — a
        // silent sort-merge-join corruption. SETTING it later is safe
        // (its presence alone suppresses the report).
        require(rp.property() != GraftSqlWrite.SortOrderProp ||
          first.files.isEmpty,
          s"graft catalog: cannot UNSET ${GraftSqlWrite.SortOrderProp} on " +
            "a table with data files — existing files keep the old order; " +
            "rewrite the table (compact/recluster) into a fresh one instead")
        unsetProps += rp.property()
      case other => throw new UnsupportedOperationException(
        s"graft catalog: unsupported table change $other — type changes " +
          "need a rewrite (library API)")
    }
    // new CHECK constraints validate the EXISTING table before they may
    // commit (the setConstraint contract), and spec declarations get the
    // same zone-coverage check as setPartitionSpec
    def validateNew(snap: TableFormat.Snapshot): Unit = {
      setProps.foreach {
        case (k, sql) if k.startsWith("constraint.") =>
          val bad = TableFormat.read(spark, snap)
            .filter(!org.apache.spark.sql.functions.coalesce(
              org.apache.spark.sql.functions.expr(sql),
              org.apache.spark.sql.functions.lit(true)))
            .limit(1).count()
          require(bad == 0,
            s"graft catalog: existing rows violate '$k' ($sql)")
        case (k, spec) if k == TableFormat.PartitionSpecProp =>
          TableFormat.parseSpec(spec).foreach(t =>
            require(t.baseCol == snap.keyCol ||
              snap.zoneCols.contains(t.baseCol),
              s"graft catalog: spec column '${t.baseCol}' must be the key " +
                "or a declared zone column"))
        case (k, v) if k == TableFormat.BloomColsProp =>
          v.split(',').map(_.trim).filter(_.nonEmpty).foreach(c =>
            require(snap.zoneCols.contains(c),
              s"graft catalog: bloom.cols column '$c' must be a declared " +
                "zone column (blooms ride the zone-stats aggregate)"))
        case _ => ()
      }
    }
    validateNew(first)
    // the TARGET schema: base + nested member inserts + appended
    // top-level columns (path validation — parent exists, member new —
    // happens here, against the schema the user altered)
    val target = StructType(
      (nestedAdds.foldLeft(baseSchema) { case (sc, (path, dt)) =>
        TableFormat.addNestedField(sc, path, dt)
      }.fields ++ addedFields).map { f =>
        widens.find(_._1 == f.name).map(w => f.copy(dataType = w._2))
          .getOrElse(f)
      })
    // a key/zone rename re-declares the commit's stats columns under
    // the new names (stored per-file stats re-key at resolution)
    val renMapAll = renames.toMap
    val newKeyCol = renMapAll.getOrElse(first.keyCol, first.keyCol)
    val newZoneCols = first.zoneCols.map(c => renMapAll.getOrElse(c, c))
    TableFormat.commitTransform(spark, root, newKeyCol, first.numBits,
      first.numHashes,
      { curOpt =>
        val cur = curOpt.getOrElse(
          throw new IllegalStateException("alterTable: nothing committed"))
        if (cur.version != first.version) validateNew(cur)
        cur.files
      },
      deriveProps = { curOpt =>
        var p = curOpt.map(_.props).getOrElse(Map.empty) ++ setProps -- unsetProps
        // the COLUMN MAPPING ledger updates stamp the version THIS
        // commit will get (cur + 1): files from earlier commits keep
        // resolving the old names, files from this version on bind the
        // new ones
        val v = curOpt.map(_.version).getOrElse(0L) + 1
        renames.foreach { case (from, to) =>
          val hist = p.getOrElse(s"colmap.$from", "")
          val newHist = (if (hist.isEmpty) "" else hist + ",") + s"$from:$v"
          p = p - s"colmap.$from" +
            (s"colmap.$to" -> newHist) + (s"coldead.$from" -> v.toString)
          if (p.contains(s"coldead.$to")) p += (s"colborn.$to" -> v.toString)
          // the default/generated/identity ledgers follow the rename
          // (declarations are per-LOGICAL-column)
          Seq(TableFormat.ColDefaultCurPrefix,
              TableFormat.ColDefaultExistPrefix,
              GraftGenerated.ColGenPrefix,
              GraftGenerated.ColIdNextPrefix,
              GraftGenerated.ColIdPrefix).foreach { pre =>
            p.get(pre + from).foreach { d =>
              p = p - (pre + from) + (pre + to -> d)
            }
          }
        }
        drops.foreach { d =>
          val names = p.getOrElse(s"colmap.$d", "").split(',')
            .filter(_.nonEmpty)
            .map(e => e.substring(0, e.lastIndexOf(':'))) :+ d
          names.foreach(n => p += (s"coldead.$n" -> v.toString))
          p -= s"colmap.$d"
          p = p - (TableFormat.ColDefaultCurPrefix + d) -
            (TableFormat.ColDefaultExistPrefix + d) -
            (GraftGenerated.ColGenPrefix + d) -
            (GraftGenerated.ColIdPrefix + d) -
            (GraftGenerated.ColIdNextPrefix + d)
        }
        defaultAdds.foreach { case (n, cur, exist) =>
          p += (TableFormat.ColDefaultCurPrefix + n -> cur)
          p += (TableFormat.ColDefaultExistPrefix + n -> exist)
          // pre-born files must take the ERA read path: a scan-wide
          // parquet row-group predicate naming `n` would treat the
          // missing column as all-null and silently DROP row groups
          // that must read the default — colborn routes those files
          // through the per-file schema (filter stripped, EXISTS
          // default filled), exactly as old-era renamed files
          p += (s"colborn.$n" -> v.toString)
        }
        defaultUpdates.foreach {
          case (n, Some(sql)) =>
            p += (TableFormat.ColDefaultCurPrefix + n -> sql)
          case (n, None) =>
            p -= TableFormat.ColDefaultCurPrefix + n
        }
        // a re-ADD of a previously-bound name: files older than this
        // commit hold the DEAD column's data under that name — colborn
        // pins the new column to files from here on
        addedFields.map(_.name).foreach { n =>
          if (p.contains(s"coldead.$n") && !p.contains(s"colmap.$n"))
            p += (s"colborn.$n" -> v.toString)
        }
        // name-carrying properties follow a key/zone rename: the
        // partition spec re-renders canonically (stored file tuples
        // re-key to the same canonical form at resolution) and the
        // write sort order renames its columns
        val renMap = renames.toMap
        if (renMap.nonEmpty) {
          p.get(TableFormat.PartitionSpecProp).foreach(spec =>
            p += TableFormat.PartitionSpecProp ->
              TableFormat.renameSpecCols(spec, renMap))
          p.get(GraftSqlWrite.SortOrderProp).foreach(so =>
            p += GraftSqlWrite.SortOrderProp ->
              so.split(',').map(_.trim).filter(_.nonEmpty)
                .map(c => renMap.getOrElse(c, c)).mkString(","))
          p.get(TableFormat.BloomColsProp).foreach(bc =>
            p += TableFormat.BloomColsProp ->
              bc.split(',').map(_.trim).filter(_.nonEmpty)
                .map(c => renMap.getOrElse(c, c)).mkString(","))
        }
        p
      },
      // schema re-derives against the RE-RESOLVED snapshot: a column a
      // concurrent append evolved in must survive this commit (deriving
      // from the stale base would silently drop it from the DDL);
      // evolveSchema merges recursively, so nested adds compose too —
      // renames and drops apply AFTER the merge, on the evolved shape
      deriveSchema = { curOpt =>
        val evolved = TableFormat.evolveSchema(
          curOpt.flatMap(_.schemaDdl).map(StructType.fromDDL)
            .getOrElse(baseSchema),
          target)
        val renamed = StructType(evolved.fields.map { f =>
          renames.find(_._1 == f.name).map(r => f.copy(name = r._2))
            .getOrElse(f)
        }.filterNot(f => drops.contains(f.name)))
        Some(renamed.toDDL)
      },
      op = Some("replace"),
      zoneCols =
        if (newZoneCols == first.zoneCols) None else Some(newZoneCols))
    loadTable(ident)
  }

  /** DROP TABLE — removes the table directory (log + data). Also what
    * Spark calls to clean up a failed CTAS. */
  override def dropTable(ident: Identifier): Boolean = {
    val spark = SparkSession.active
    val p = new org.apache.hadoop.fs.Path(rootOf(ident))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.delete(p, true)
  }

  /** ALTER TABLE ... RENAME TO — a root-directory move plus O(versions)
    * commit-path rewrites ([[TableFormat.renameRoot]]): history, time
    * travel, tags, stats, vectors and manifests all survive under the
    * new name. Refuses occupied targets (tables AND views — tables
    * shadow views at resolution, so landing on a view name would bury
    * it) and live WAP branches. */
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val spark = SparkSession.active
    if (TableFormat.versions(spark, rootOf(oldIdent)).isEmpty)
      throw new NoSuchTableException(oldIdent)
    require(!tableExists(newIdent),
      s"graft catalog: rename target '$newIdent' names an existing table")
    require(!viewExists(newIdent),
      s"graft catalog: rename target '$newIdent' names an existing VIEW — " +
        "tables shadow views; pick another name")
    TableFormat.renameRoot(spark, rootOf(oldIdent), rootOf(newIdent))
  }
}

/** A metadata table (`$history` / `$files`): version- or file-bounded
  * rows computed on the driver and served via [[LocalScan]] — no
  * executor work for what is already in-memory log arithmetic. */
private class GraftMetaTable(ident: String, df: org.apache.spark.sql.DataFrame)
    extends Table with SupportsRead {
  override def name(): String = ident
  override def schema(): StructType = df.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new LocalScan {
        override def readSchema(): StructType = df.schema
        override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] =
          df.queryExecution.executedPlan.executeCollect()
        override def description(): String = s"graft-meta($ident)"
      }
    }
}

/** Filter-value translation shared by the scan builder and the DELETE
  * path: pushed comparison values mapped into [[TableFormat.zoneLong]]
  * space (numbers cast/trunc, dates to epoch days, timestamps to epoch
  * micros). */
private[v2] object GraftSqlValues {
  def zoneValue(v: Any): Option[Long] = v match {
    case n: Number => Some(n.longValue())
    case d: java.sql.Date => Some(d.toLocalDate.toEpochDay)
    case d: java.time.LocalDate => Some(d.toEpochDay)
    case t: java.sql.Timestamp =>
      Some(t.getTime * 1000L + (t.getNanos / 1000L) % 1000L)
    case t: java.time.Instant =>
      Some(t.getEpochSecond * 1000000L + t.getNano / 1000L)
    case _ => None
  }

  def discreteType(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType |
         DateType | TimestampType => true
    case _ => false
  }
}

/** Conjunction-of-comparisons → single-column zone-long bound range —
  * the translation SQL DELETE and INSERT OVERWRITE (replace-where) both
  * plan by. Returns the narrowed `(col, lo, hi)` when EVERY filter is a
  * comparison/equality on ONE discrete key/zone column (an inverted
  * range, lo > hi via the overflow sentinels, means provably empty);
  * `None` when any filter falls outside that shape. */
private[v2] object GraftSqlFilters {
  import org.apache.spark.sql.sources._

  def boundRange(real: Array[Filter], keyCol: String, zoneCols: Seq[String],
                 schema: StructType): Option[(String, Long, Long)] = {
    def prunable(c: String): Boolean =
      (c == keyCol || zoneCols.contains(c)) &&
        schema.fields.find(_.name == c).map(_.dataType)
          .exists(GraftSqlValues.discreteType)
    var colOpt: Option[String] = None
    var lo = Long.MinValue; var hi = Long.MaxValue
    var sawComparison = false
    def narrow(c: String, nlo: Long, nhi: Long): Boolean = {
      if (!prunable(c) || colOpt.exists(_ != c)) return false
      colOpt = Some(c); lo = math.max(lo, nlo); hi = math.min(hi, nhi)
      sawComparison = true; true
    }
    val ok = real.forall {
      case EqualTo(c, v) => GraftSqlValues.zoneValue(v)
        .exists(l => narrow(c, l, l))
      // overflow guard: `k > Long.MaxValue` is PROVABLY EMPTY — a blind
      // l+1 would wrap to Long.MinValue and turn "delete nothing" into a
      // full-range delete that destroys the table. Narrowing to the
      // inverted sentinel (MaxValue, MinValue) forces lo > hi, which the
      // caller maps to the no-op path.
      case GreaterThan(c, v) => GraftSqlValues.zoneValue(v)
        .exists(l =>
          if (l == Long.MaxValue) narrow(c, Long.MaxValue, Long.MinValue)
          else narrow(c, l + 1, Long.MaxValue))
      case GreaterThanOrEqual(c, v) => GraftSqlValues.zoneValue(v)
        .exists(l => narrow(c, l, Long.MaxValue))
      case LessThan(c, v) => GraftSqlValues.zoneValue(v)
        .exists(l =>
          if (l == Long.MinValue) narrow(c, Long.MaxValue, Long.MinValue)
          else narrow(c, Long.MinValue, l - 1))
      case LessThanOrEqual(c, v) => GraftSqlValues.zoneValue(v)
        .exists(l => narrow(c, Long.MinValue, l))
      // implied by any comparison on the same column — but NEVER a range
      // by itself: a bare `k IS NOT NULL` delete through bounds
      // arithmetic would also drop a file's null-key rows (whole-file
      // drops can't see them); it falls through to the row-level rewrite
      case IsNotNull(c) => colOpt.forall(_ == c) && prunable(c) &&
        { colOpt = Some(c); true }
      case _ => false
    }
    if (ok && sawComparison && lo <= hi) Some((colOpt.get, lo, hi))
    else if (ok && sawComparison) Some((colOpt.get, 0L, -1L)) // provably empty
    else None
  }
}

private class GraftSqlTable(ident: String, root: String,
                            snap: TableFormat.Snapshot)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  // default metadata rides the reported schema: the analyzer fills
  // INSERT gaps from CURRENT_DEFAULT, and the scan's requested schema
  // carries EXISTS_DEFAULT down to the parquet readers (which back-fill
  // columns missing from pre-born files)
  private val tableSchema = TableFormat.withDefaultMetadata(
    StructType.fromDDL(snap.schemaDdl.getOrElse(
      throw new IllegalArgumentException(
        s"graft catalog: table $ident v${snap.version} carries no schema"))),
    snap.props)
  override def name(): String = s"$ident@v${snap.version}"
  override def schema(): StructType = tableSchema

  /** `SHOW TBLPROPERTIES` / DESCRIBE EXTENDED surface: the snapshot's
    * commit properties (constraints, partition spec, tags, ingest
    * gates) plus the format's own declarations. */
  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    snap.props.foreach { case (k, v) => m.put(k, v) }
    m.put("key_col", snap.keyCol)
    if (snap.zoneCols.nonEmpty) m.put("zone_cols", snap.zoneCols.mkString(","))
    m.put("graft.current_version", snap.version.toString)
    m
  }
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER, TableCapability.OVERWRITE_DYNAMIC,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftSqlScanBuilder(snap, tableSchema,
      ChangesStream.readOptions(options))
  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new GraftSqlWriteBuilder(root, info.schema(), info.queryId(),
      snap.props.get(TableFormat.PartitionSpecProp),
      // catalog-resolved: spec transforms CAN resolve through this
      // catalog's FunctionCatalog, so the write clusters by them
      resolveTransforms = true,
      targetFileBytes = GraftSqlWrite.targetOf(snap.props),
      sortOrder = GraftSqlWrite.sortOrderOf(snap.props))

  /** `MERGE INTO` / `UPDATE` / arbitrary-predicate `DELETE` — the
    * group-based copy-on-write rewrite ([[GraftRowLevelOperation]]) by
    * default; under the table's `write.update.mode` / `write.merge.mode`
    * / `write.delete.mode` = 'merge-on-read' knobs the DELTA operation
    * ([[GraftDeltaOperation]], Spark's `SupportsDelta`) instead: matched
    * rows mask by deletion-vector ordinals and new rows append — one
    * O(changed rows) commit, no file rewrites. Key-shape DELETEs never
    * reach either path ([[SupportsDelete]] answers them first with
    * metadata arithmetic or an equality manifest). */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    () => {
      import org.apache.spark.sql.connector.write.RowLevelOperation.Command._
      // generated columns would need RECOMPUTATION when a base column
      // changes, and MERGE inserts would need identity assignment —
      // neither row-level write path carries the generating writer, so
      // refuse rather than corrupt (DELETE only removes rows: fine)
      if (info.command() != DELETE) {
        require(!GraftGenerated.hasGenerated(snap.props),
          s"graft catalog: ${info.command()} on a table with generated " +
            "columns is not supported — generated values would not " +
            "recompute; rewrite via INSERT OVERWRITE of a SELECT")
        require(info.command() != MERGE ||
            !GraftGenerated.hasIdentity(snap.props),
          "graft catalog: MERGE into a table with an identity column is " +
            "not supported — inserted rows would bypass identity " +
            "assignment; INSERT the new rows instead")
      }
      val modeProp = info.command() match {
        case UPDATE => TableFormat.UpdateModeProp
        case MERGE => TableFormat.MergeModeProp
        case _ => TableFormat.DeleteModeProp
      }
      if (snap.props.get(modeProp).contains("merge-on-read"))
        new GraftDeltaOperation(root, snap, tableSchema, info.command())
      else
        new GraftRowLevelOperation(root, snap, tableSchema, info.command())
    }

  override def metadataColumns(): Array[MetadataColumn] =
    Array(GraftRowLevel.FileMetadataColumn, GraftRowLevel.PosMetadataColumn,
      GraftRowLevel.RowIdMetadataColumn)

  /** SQL `DELETE FROM graft.t [WHERE ...]` — a metadata-level plan, not
    * a rewrite-everything scan: an unconditional delete truncates in one
    * commit; a conjunction of comparisons on ONE discrete key/zone
    * column becomes [[TableFormat.deleteWhere]]'s bound-range delete
    * (whole files dropped by bounds arithmetic, only boundary files
    * rewritten). Anything richer is refused LOUDLY with the library
    * alternatives — a silent full-table rewrite is never the default. */
  private def deleteRange(filters: Array[Filter])
      : Option[Option[(String, Long, Long)]] = {
    val real = filters.filterNot(_.isInstanceOf[AlwaysTrue])
    if (real.isEmpty) return Some(None) // truncate
    GraftSqlFilters.boundRange(real, snap.keyCol, snap.zoneCols, tableSchema)
      .map(Some(_))
  }

  /** Under `write.delete.mode = merge-on-read` (the Iceberg knob), a
    * KEY equality/IN delete routes to an EQUALITY-DELETE MANIFEST
    * commit — O(keys) metadata, no file drops, no rewrite: the GDPR
    * shape, SQL-drivable. Only the exact membership shape qualifies
    * (one `key = v` or `key IN (...)` plus the implied IS NOT NULL);
    * ranges keep the metadata-drop arithmetic (already O(metadata) and
    * read-amplification-free), and anything else falls through to the
    * row-level rewrite as before. */
  private def morDeleteKeys(filters: Array[Filter]): Option[Seq[Long]] = {
    if (!snap.props.get(TableFormat.DeleteModeProp).contains("merge-on-read"))
      return None
    val real = filters.filterNot(_.isInstanceOf[AlwaysTrue])
    var keys: Option[Seq[Long]] = None
    val ok = real.nonEmpty && real.forall {
      case EqualTo(c, v) if c == snap.keyCol && keys.isEmpty =>
        GraftSqlValues.zoneValue(v).exists { l => keys = Some(Seq(l)); true }
      case In(c, vs) if c == snap.keyCol && keys.isEmpty && vs.nonEmpty =>
        val ls = vs.toSeq.filter(_ != null).map(GraftSqlValues.zoneValue)
        ls.nonEmpty && ls.forall(_.isDefined) && {
          keys = Some(ls.flatten.distinct); true
        }
      case IsNotNull(c) => c == snap.keyCol
      case _ => false
    }
    if (ok) keys else None
  }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    morDeleteKeys(filters).isDefined || deleteRange(filters).isDefined

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val spark = SparkSession.active
    morDeleteKeys(filters) match {
      case Some(keys) =>
        TableFormat.deleteKeysMoR(spark, root, s"$root/data", keys)
        return
      case None => ()
    }
    deleteRange(filters).getOrElse(throw new UnsupportedOperationException(
      "graft catalog: DELETE supports an unconditional truncate or range/" +
        "equality predicates on one discrete key/zone column — use " +
        "TableFormat.deleteKeysMoR / mergeRows for row-level shapes")) match {
      case None => TableFormat.overwriteFiles(spark, root, Seq.empty)
      case Some((c, lo, hi)) if lo <= hi =>
        TableFormat.deleteWhere(spark, root, s"$root/data", c, lo, hi)
      case _ => () // provably-empty range: nothing to delete, no commit
    }
  }
}

private class GraftSqlScanBuilder(snap: TableFormat.Snapshot,
                                  tableSchema: StructType,
                                  streamOpts: ChangesStream.ReadOptions =
                                    ChangesStream.ReadOptions(),
                                  deltaPos: Boolean = false)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit {
  import org.apache.spark.sql.connector.expressions.aggregate._
  import org.apache.spark.sql.connector.expressions.NamedReference

  private var required: StructType = tableSchema
  private var pushed: Array[Filter] = Array.empty
  // accumulated per-column bounds used ONLY for file pruning
  private val bounds = scala.collection.mutable.Map
    .empty[String, (Long, Long)]
  // labeled per-file keep-predicates from the NULL/IN shapes — driver
  // arithmetic over recorded null counts and key blooms, same
  // best-effort contract as `bounds` (filters always stay residual)
  private val pruners = scala.collection.mutable.ArrayBuffer
    .empty[(String, TableFormat.FileStat => Boolean)]

  private def prunable(col: String): Boolean =
    col == snap.keyCol || snap.zoneCols.contains(col)

  /** Strict bounds (`>`/`<`) may only be tightened by ±1 when the column
    * is integral in the TABLE schema: zone stats are cast-to-long, so for
    * a double/decimal column `x > 0.5` must keep lo=0 (trunc is monotone,
    * plain longValue() is conservative) — lo=1 would falsely prune a file
    * whose long-cast bounds are [0,0] but which holds 0.7. */
  private def integral(c: String): Boolean =
    tableSchema.fields.find(_.name == c).map(_.dataType).exists {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }

  private def tighten(col: String, lo: Long, hi: Long): Unit = {
    val (clo, chi) = bounds.getOrElse(col, (Long.MinValue, Long.MaxValue))
    bounds(col) = (math.max(clo, lo), math.min(chi, hi))
  }

  /** Translate a pushed filter value into the ZONE-LONG space the commit
    * stats live in ([[TableFormat.zoneLong]]): numbers cast/trunc, DATE
    * values (either java.sql/java.time form) map to epoch days,
    * TIMESTAMP values to epoch micros. Values outside the mapping yield
    * None — the filter simply doesn't prune (it always stays residual). */
  private def zoneValue(v: Any): Option[Long] = v match {
    case n: Number => Some(n.longValue())
    case d: java.sql.Date => Some(d.toLocalDate.toEpochDay)
    case d: java.time.LocalDate => Some(d.toEpochDay)
    case t: java.sql.Timestamp =>
      Some(t.getTime * 1000L + (t.getNanos / 1000L) % 1000L)
    case t: java.time.Instant =>
      Some(t.getEpochSecond * 1000000L + t.getNano / 1000L)
    case _ => None
  }

  /** Exact ±1 strict-bound tightening also applies to date/timestamp:
    * their zone-long mapping is a bijection onto the stored stats, so
    * `d > DATE'x'` means days >= x+1 exactly. */
  private def discrete(c: String): Boolean =
    integral(c) || tableSchema.fields.find(_.name == c).map(_.dataType)
      .exists(dt => dt == DateType || dt == TimestampType)

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    filters.foreach {
      case EqualTo(c, v) if prunable(c) =>
        zoneValue(v).foreach { l =>
          tighten(c, l, l)
          // a KEY point probe also consults the per-file bloom: bounds
          // keep every file whose range covers the value, the bloom
          // drops the ones that provably never held it (no false
          // negatives — exactly the library's bloom-gated point lookup,
          // now at SQL plan time; Catalyst folds 1-element IN to `=`,
          // so this is also the single-value IN path)
          if (c == snap.keyCol) {
            val s = org.apache.spark.unsafe.types.UTF8String
              .fromString(l.toString)
            pruners += ((s"EqBloom($c)", (f: TableFormat.FileStat) =>
              graft.functions.BloomUtil.contains(
                new org.apache.spark.sql.catalyst.util.GenericArrayData(f.bloom),
                s, snap.numBits, snap.numHashes)))
          } else {
            // a ZONE column declared in bloom.cols carries per-file
            // membership bitsets too — the high-cardinality non-key
            // point probe (files without one keep bounds-only pruning)
            val s = org.apache.spark.unsafe.types.UTF8String
              .fromString(l.toString)
            pruners += ((s"EqBloom($c)", (f: TableFormat.FileStat) =>
              f.blooms.get(c).forall(words =>
                graft.functions.BloomUtil.contains(
                  new org.apache.spark.sql.catalyst.util.GenericArrayData(words),
                  s, snap.numBits, snap.numHashes))))
          }
        }
      case GreaterThan(c, v) if prunable(c) =>
        // saturate at the domain edge: l+1 on Long.MaxValue would wrap
        // negative and silently widen the pruning range
        zoneValue(v).foreach(l =>
          tighten(c, if (discrete(c) && l != Long.MaxValue) l + 1 else l,
            Long.MaxValue))
      case GreaterThanOrEqual(c, v) if prunable(c) =>
        zoneValue(v).foreach(l => tighten(c, l, Long.MaxValue))
      case LessThan(c, v) if prunable(c) =>
        zoneValue(v).foreach(l =>
          tighten(c, Long.MinValue,
            if (discrete(c) && l != Long.MinValue) l - 1 else l))
      case LessThanOrEqual(c, v) if prunable(c) =>
        zoneValue(v).foreach(l => tighten(c, Long.MinValue, l))
      // `c IS NULL`: only files that MAY hold a null can match — a
      // RECORDED zero null count (FileStat.nulls) is proof of absence;
      // unknown (pre-null-stats commits) keeps the file (never guess)
      case IsNull(c) if prunable(c) =>
        pruners += ((s"IsNull($c)", (f: TableFormat.FileStat) => !f.nullFree(c)))
      // `c IS NOT NULL`: an ALL-null file (recorded null count = row
      // count) provably matches nothing
      case IsNotNull(c) if prunable(c) =>
        pruners += ((s"IsNotNull($c)", (f: TableFormat.FileStat) =>
          !(f.nRows > 0 && f.nulls.get(c).contains(f.nRows))))
      // `c IN (...)`: on the KEY, probe each value against the file's
      // key bounds AND its bloom (the per-file membership sketch every
      // commit carries — no false negatives, so dropping a
      // no-value-maybe-present file is exact); on a zone column, bounds
      // only. A null in the value list contributes no match (SQL IN
      // null-matches nothing), so it is simply not probed.
      case In(c, values) if prunable(c) && values.nonEmpty =>
        val longs = values.toSeq.flatMap(v => zoneValue(v))
        if (longs.size == values.count(_ != null)) {
          // every non-null value translated — the probe set is complete
          if (c == snap.keyCol) {
            val strs = longs.map(l =>
              org.apache.spark.unsafe.types.UTF8String.fromString(l.toString))
            pruners += ((s"In($c:${longs.size})", (f: TableFormat.FileStat) => {
              val bits =
                new org.apache.spark.sql.catalyst.util.GenericArrayData(f.bloom)
              longs.indices.exists { i =>
                longs(i) >= f.minKey && longs(i) <= f.maxKey &&
                  graft.functions.BloomUtil.contains(bits, strs(i),
                    snap.numBits, snap.numHashes)
              }
            }))
          } else {
            // zone columns: bounds always; a bloom.cols bitset refines
            // the probe to per-value membership when the file has one
            val strs = longs.map(l =>
              org.apache.spark.unsafe.types.UTF8String.fromString(l.toString))
            pruners += ((s"In($c:${longs.size})", (f: TableFormat.FileStat) =>
              f.blooms.get(c) match {
                case Some(words) =>
                  val bits = new org.apache.spark.sql.catalyst.util
                    .GenericArrayData(words)
                  longs.indices.exists { i =>
                    f.zones.get(c).forall { case (mn, mx) =>
                      longs(i) >= mn && longs(i) <= mx } &&
                      graft.functions.BloomUtil.contains(bits, strs(i),
                        snap.numBits, snap.numHashes)
                  }
                case None =>
                  f.zones.get(c).forall { case (mn, mx) =>
                    longs.exists(l => l >= mn && l <= mx)
                  }
              }))
          }
        }
      case _ => ()
    }
    pushed = filters.filter {
      case EqualTo(c, v) => prunable(c) && zoneValue(v).isDefined
      case GreaterThan(c, v) => prunable(c) && zoneValue(v).isDefined
      case GreaterThanOrEqual(c, v) => prunable(c) && zoneValue(v).isDefined
      case LessThan(c, v) => prunable(c) && zoneValue(v).isDefined
      case LessThanOrEqual(c, v) => prunable(c) && zoneValue(v).isDefined
      case IsNull(c) => prunable(c)
      case IsNotNull(c) => prunable(c)
      case In(c, values) => prunable(c) && values.nonEmpty &&
        values.forall(v => v == null || zoneValue(v).isDefined)
      case _ => false
    }
    // everything stays residual: pruning is an optimization, Spark keeps
    // the row-level filter above the scan
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  // ---- LIMIT pushdown as metadata FILE-PREFIX pruning: a bare LIMIT n
  // needs ANY n rows, and commit stats record every file's row count —
  // so the scan plans only a prefix of files whose cumulative recorded
  // rows reach n (a LIMIT 10 on a 100k-file table plans one file), and
  // Spark's residual limit (isPartiallyPushed) trims the surplus rows.
  // Spark only offers the pushdown on filter-free scans, so recorded
  // counts are exact row deliveries — except under pending merge-on-read
  // manifests, where masked rows make them overcounts and the prefix
  // could under-deliver: the scan refuses the prefix there. ----
  private var limit: Option[Int] = None

  override def pushLimit(n: Int): Boolean = {
    // delta mode serves row identities to a row-level write — a limit
    // prefix would truncate the operation's target set
    if (deltaPos) return false
    if (n > 0) limit = Some(n)
    limit.isDefined
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  // ---- METADATA-AGGREGATE pushdown: `SELECT count(*) / min / max FROM
  // graft.t` answered from COMMIT STATS with zero data-file IO (the
  // Iceberg/Trino stats-pushdown shape). Complete-pushdown only, under
  // the honesty rules the library's statsSummary already enforces:
  //  - refused when merge-on-read manifests are pending (masked rows
  //    would falsify counts and extrema) — Spark falls back to a real
  //    scan through the masked reader;
  //  - min/max only on the KEY or a DISCRETE-typed zone column
  //    (integral/date/timestamp — their zoneLong mapping is a
  //    bijection; a double's truncated bounds are not its extrema);
  //  - count(*) only (count(col) needs null counts stats don't carry);
  //  - no group-by, no filtered scans (Spark only offers the pushdown
  //    when every filter was consumed, and ours stay residual).
  private sealed trait AggSpec
  private case object CountStarSpec extends AggSpec
  private final case class MinSpec(col: String) extends AggSpec
  private final case class MaxSpec(col: String) extends AggSpec
  private var pushedAgg: Option[(Seq[String], Seq[AggSpec])] = None

  private def discreteStats(c: String): Boolean =
    (c == snap.keyCol ||
      // a zone column is usable only when EVERY live file carries its
      // bounds (a file committed before the zone declaration has values
      // but no recorded extrema — refuse, don't guess)
      (snap.zoneCols.contains(c) && snap.files.forall(_.zones.contains(c)))) &&
      tableSchema.fields.find(_.name == c).map(_.dataType).exists {
        case ByteType | ShortType | IntegerType | LongType |
             DateType | TimestampType => true
        case _ => false
      }

  private def planAgg(agg: Aggregation): Option[(Seq[String], Seq[AggSpec])] = {
    if (snap.deletes.nonEmpty || bounds.nonEmpty || pruners.nonEmpty)
      return None
    // GROUP BY pushes down when every group column is an IDENTITY term
    // of the declared partition spec and EVERY live file is tuple-pure
    // under it: each file then belongs to exactly ONE group (its tuple
    // component IS the column value — including for a DV'd file, whose
    // surviving rows keep the file's value), so per-group figures are
    // per-group-of-files arithmetic. A null-holding or mixed file
    // records no tuple and refuses the whole pushdown — Spark falls
    // back to the real scan, never a guessed group.
    val groupCols: Seq[String] = agg.groupByExpressions().toSeq.map {
      case r: NamedReference if r.fieldNames.length == 1 => r.fieldNames()(0)
      case _ => return None
    }
    if (groupCols.nonEmpty) {
      val spec = snap.props.get(TableFormat.PartitionSpecProp)
        .getOrElse(return None)
      val terms = scala.util.Try(TableFormat.parseSpec(spec))
        .getOrElse(return None)
      val ok = groupCols.forall(c => terms.exists {
        case TableFormat.IdentityTerm(b) => b == c
        case _ => false
      })
      if (!ok) return None
      if (snap.files.isEmpty ||
          !snap.files.forall(_.part.exists(_._1 == spec))) return None
    }
    // deletion vectors: count(*) stays exact (liveRows subtraction) but
    // extrema do not (a masked row may hold the min/max) — min/max
    // refuse, count keeps the metadata answer
    val anyDv = snap.files.exists(_.dv.isDefined)
    val specs = agg.aggregateExpressions().map {
      case _: CountStar => CountStarSpec
      case m: Min if !anyDv => m.column() match {
        case r: NamedReference if r.fieldNames.length == 1 &&
          discreteStats(r.fieldNames()(0)) => MinSpec(r.fieldNames()(0))
        case _ => return None
      }
      case m: Max if !anyDv => m.column() match {
        case r: NamedReference if r.fieldNames.length == 1 &&
          discreteStats(r.fieldNames()(0)) => MaxSpec(r.fieldNames()(0))
        case _ => return None
      }
      case _ => return None
    }
    Some((groupCols, specs.toSeq))
  }

  // delta mode (row-level merge-on-read target): build() always returns
  // the row-identity GraftDeltaScan and would silently IGNORE a pushed
  // aggregate — refuse at the entry points so the contract can never be
  // violated even if Spark someday offers an aggregate on this builder
  override def supportCompletePushDown(agg: Aggregation): Boolean =
    !deltaPos && planAgg(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean =
    if (deltaPos) false
    else planAgg(agg) match {
      case Some(planned) => pushedAgg = Some(planned); true
      case None => false
    }

  override def build(): Scan =
    // delta mode (row-level merge-on-read ops): same pushed-filter file
    // pruning, served through the row-identity scan — `_pos` must count
    // file-absolute ordinals, so no row-group filter and no agg/limit
    // shortcuts (Spark never offers them on a row-level target anyway)
    if (deltaPos) new GraftDeltaScan(snap, required, tableSchema,
      bounds.toMap, pruners.toSeq)
    else pushedAgg match {
      case Some((groupCols, specs)) =>
        new GraftSqlAggScan(snap, tableSchema, groupCols, specs)
      case None => new GraftSqlScan(snap, required, bounds.toMap, streamOpts,
        pruners.toSeq, rowGroupFilters(), tableSchema, limit)
    }

  /** The pushed shapes eligible for PARQUET ROW-GROUP pushdown inside
    * surviving files: comparisons/IN/NULL tests on DISCRETE-typed
    * key/zone columns, whose zone-long mapping is a bijection onto the
    * file's physical values — so a `FilterApi` predicate built from the
    * same translated values is exact at row-group granularity (and rows
    * are still residual-filtered above the scan either way). */
  private def rowGroupFilters(): Array[Filter] = pushed.filter {
    case EqualTo(c, _) => discrete(c)
    case GreaterThan(c, _) => discrete(c)
    case GreaterThanOrEqual(c, _) => discrete(c)
    case LessThan(c, _) => discrete(c)
    case LessThanOrEqual(c, _) => discrete(c)
    case In(c, _) => discrete(c)
    case IsNull(_) | IsNotNull(_) => true
    case _ => false
  }

  /** The pushed-aggregate scan: driver-local rows computed from the
    * snapshot's per-file stats — no input partition ever reads a data
    * file (the plan shows `graft-meta-agg`). Grouped form (r14): group
    * columns are identity spec terms and every file is tuple-pure, so
    * the files partition cleanly into groups and each group aggregates
    * its own file subset — `SELECT g, count(*) ... GROUP BY g` is pure
    * metadata arithmetic, one row per live partition value. */
  private class GraftSqlAggScan(snap: TableFormat.Snapshot,
                                tableSchema: StructType,
                                groupCols: Seq[String], specs: Seq[AggSpec])
      extends LocalScan {
    private def colType(c: String) =
      tableSchema.fields.find(_.name == c).get.dataType

    private def typed(c: String, v: Long): Any = colType(c) match {
      case ByteType => v.toByte
      case ShortType => v.toShort
      case IntegerType | DateType => v.toInt // date = epoch days
      case _ => v // long / timestamp-micros
    }

    override def readSchema(): StructType = StructType(
      groupCols.map(c => StructField(c, colType(c), nullable = false)) ++
        specs.map {
          case CountStarSpec =>
            StructField("count_star", LongType, nullable = false)
          case MinSpec(c) => StructField(s"min_$c", colType(c))
          case MaxSpec(c) => StructField(s"max_$c", colType(c))
        })

    private def statOf(files: Seq[TableFormat.FileStat], c: String,
                       take: TableFormat.FileStat => Long,
                       reduce: (Long, Long) => Long): Any = {
      // SQL min/max ignore nulls: an all-null file carries no real
      // bounds (key: full-range sentinel; zone: omitted — but zone
      // columns with any boundless file never pass discreteStats), so
      // extrema come from files with at least one non-null value
      val bounded = files.filterNot(f =>
        f.nRows > 0 && f.nulls.get(c).contains(f.nRows))
      if (bounded.isEmpty) null
      else typed(c, bounded.map(take).reduce(reduce))
    }

    private def aggRow(keyVals: Seq[Any], files: Seq[TableFormat.FileStat])
        : org.apache.spark.sql.catalyst.InternalRow =
      org.apache.spark.sql.catalyst.InternalRow.fromSeq(keyVals ++ specs.map {
        case CountStarSpec => files.map(_.liveRows).sum
        case MinSpec(c) =>
          statOf(files, c,
            f => if (c == snap.keyCol) f.minKey else f.zones(c)._1, math.min)
        case MaxSpec(c) =>
          statOf(files, c,
            f => if (c == snap.keyCol) f.maxKey else f.zones(c)._2, math.max)
      })

    override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] =
      if (groupCols.isEmpty) Array(aggRow(Seq.empty, snap.files))
      else {
        val spec = snap.props(TableFormat.PartitionSpecProp)
        val terms = TableFormat.parseSpec(spec)
        val idx = groupCols.map(c => terms.indexWhere {
          case TableFormat.IdentityTerm(b) => b == c
          case _ => false
        })
        snap.files
          .groupBy(f => idx.map(f.part.get._2(_)))
          .toSeq.sortBy(_._1.mkString("/"))
          .map { case (tuple, files) =>
            aggRow(groupCols.zip(tuple).map { case (c, v) => typed(c, v) },
              files)
          }.toArray
      }

    override def description(): String =
      s"graft-meta-agg(${snap.root}@v${snap.version}) " +
        (if (groupCols.isEmpty) ""
         else groupCols.mkString("group_by [", ", ", "] ")) +
        specs.mkString("[", ", ", "] — commit-stats only, no data files read")
  }
}

private trait GraftPartition extends InputPartition {
  def file: String
  def manifests: Seq[String]
  def keyCol: String
  def physSchemaJson: Option[String]
  /** Deletion-vector sidecar (path, cardinality) — the reader loads the
    * bitmap once and skips masked ordinals per batch; a DV read is
    * always FILTER-FREE so ordinals stay file-absolute. */
  def dv: Option[(String, Long)]
  /** Row-lineage sources: the file's assigned `_row_id` range start
    * (-1 = pre-lineage) and whether it carries the materialized
    * `__graft_row_id` column. */
  def rid: Long
  def ridCol: Boolean
}

private case class GraftSqlPartition(file: String, manifests: Seq[String],
                                     keyCol: String,
                                     physSchemaJson: Option[String] = None,
                                     dv: Option[(String, Long)] = None,
                                     rid: Long = -1L,
                                     ridCol: Boolean = false)
  extends GraftPartition

/** Several SMALL files served by ONE task — the reader chains the
  * member files sequentially (each with its own manifests / era
  * schema / `_file` synthesis). Packing is byte-bounded by
  * `spark.sql.files.maxPartitionBytes` + `openCostInBytes`, exactly
  * the arithmetic Spark's own FilePartition planner uses: after a
  * streaming-ingest burst a table holds thousands of tiny files, and
  * one task per file would pay scheduler + open latency per file
  * until compaction runs. Never used under a storage-partitioned
  * layout (key-grouped partitions must stay per-file for
  * HasPartitionKey and the ordering report). */
private case class GraftSqlPackedPartition(subs: Seq[GraftSqlPartition])
  extends InputPartition

/** A partition that KNOWS its partition tuple (`HasPartitionKey`) —
  * what lets Spark group co-valued files into one task and elide the
  * shuffle in a storage-partitioned join. `keyVals` are catalyst
  * internal values typed per the reported partitioning expressions. */
private case class GraftSqlKeyedPartition(file: String,
                                          manifests: Seq[String],
                                          keyCol: String,
                                          physSchemaJson: Option[String],
                                          keyVals: Array[Any],
                                          dv: Option[(String, Long)] = None,
                                          rid: Long = -1L,
                                          ridCol: Boolean = false)
  extends GraftPartition with HasPartitionKey {
  override def partitionKey(): org.apache.spark.sql.catalyst.InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(keyVals)
}

private class GraftSqlScan(snap: TableFormat.Snapshot, required: StructType,
                           bounds: Map[String, (Long, Long)],
                           streamOpts: ChangesStream.ReadOptions =
                             ChangesStream.ReadOptions(),
                           pruners: Seq[(String, TableFormat.FileStat => Boolean)] =
                             Seq.empty,
                           rowGroupFilters: Array[Filter] = Array.empty,
                           tableSchema: StructType = StructType(Nil),
                           limit: Option[Int] = None)
    extends Scan with Batch with SupportsRuntimeFiltering
    with SupportsReportStatistics with SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportOrdering {

  // ---- STORAGE-PARTITIONED JOINS: when the table declares a partition
  // spec and EVERY surviving file carries a recorded partition tuple
  // computed under that same spec (FileStat.part — the routed writers
  // stamp it; compaction across values clears it), the scan reports
  // KeyGroupedPartitioning over the spec's transforms. Spark resolves
  // the transforms through the catalog's FunctionCatalog, groups
  // co-valued files into one task each (HasPartitionKey), and a join of
  // two tables laid out by the same transform runs WITHOUT A SHUFFLE —
  // the bucketed co-located join, from table layout alone. Anything
  // impure (mixed files, stale-spec tuples, no spec) reports Unknown
  // and plans exactly as before. ----

  private lazy val spjTerms: Option[Seq[TableFormat.SpecTerm]] =
    snap.props.get(TableFormat.PartitionSpecProp).flatMap { spec =>
      // every term must resolve against the scan OUTPUT (Spark binds the
      // reported keys to the relation's columns), and every surviving
      // file must carry a tuple recorded under THIS spec string
      scala.util.Try(TableFormat.parseSpec(spec)).toOption.filter { terms =>
        terms.forall(t => required.fieldNames.contains(t.baseCol)) &&
          planHit.nonEmpty &&
          planHit.forall(f => f.part.exists(p =>
            p._1 == spec && p._2.length == terms.length))
      }
    }

  private def spjExprs(terms: Seq[TableFormat.SpecTerm])
      : Array[org.apache.spark.sql.connector.expressions.Expression] = {
    import org.apache.spark.sql.connector.expressions.{Expressions => E}
    terms.map {
      case TableFormat.IdentityTerm(c) => E.identity(c)
      case TableFormat.MonthTerm(c) => E.months(c)
      case TableFormat.BucketTerm(c, n) => E.bucket(n.toInt, c)
      case TableFormat.DivTerm(c, w) =>
        E.apply("div", E.column(c), E.literal(java.lang.Long.valueOf(w)))
    }.toArray[org.apache.spark.sql.connector.expressions.Expression]
  }

  /** One stored tuple value as the catalyst-internal value of the
    * reported key expression: identity keys carry the COLUMN's type
    * (int columns int, dates epoch-day ints), transform keys are the
    * functions' long results. */
  private def keyedValue(term: TableFormat.SpecTerm, v: Long): Any =
    term match {
      case TableFormat.IdentityTerm(c) =>
        tableSchema.fields.find(_.name == c).map(_.dataType) match {
          case Some(ByteType) => v.toByte
          case Some(ShortType) => v.toShort
          case Some(IntegerType) | Some(DateType) => v.toInt
          case _ => v
        }
      case _ => v
    }

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    spjTerms match {
      case Some(terms) =>
        new org.apache.spark.sql.connector.read.partitioning
          .KeyGroupedPartitioning(spjExprs(terms),
            planHit.flatMap(_.part.map(_._2)).distinct.size)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning
          .UnknownPartitioning(0)
    }

  /** SORT-FREE storage-partitioned joins (`SupportsReportOrdering`):
    * every routed write lands its files SORTED by the spec's base
    * columns (the Write's required ordering), so when the layout is
    * pure the scan reports that per-partition ordering and Spark's
    * sort-merge join drops BOTH its exchanges (from the partitioning)
    * AND its sorts (from here) — a join of two bucket-laid-out tables
    * runs as a pure streaming merge of pre-sorted files. Reported only
    * when each surviving file carries a DISTINCT current-spec tuple: a
    * key group holding two files (a size-rolled partition value) would
    * CONCATENATE two sorted runs, which is not sorted — that layout
    * keeps the partitioning report but lets the join re-sort. A table
    * with `write.sort-order` set ALSO withholds the report: its files
    * sort by the declared columns, not the bucket bases, and files
    * written before the property was set may be mixed in (which is why
    * UNSETting the property is refused once data exists — a report
    * claiming an order mixed files don't have would corrupt a
    * sort-merge join silently).
    *
    * The decisive evidence is each file's WRITE-PROVENANCE marker
    * ([[TableFormat.FileStat.sorted]], stamped only by the routed write
    * path whose required ordering IS the base columns): tuple purity
    * alone cannot prove sortedness — recluster repartitions with no
    * sort, bin-packing concatenates sorted runs, boundary rewrites
    * re-emit filtered rows — and every such maintenance rewrite drops
    * the marker, so this report is withheld the moment any surviving
    * file's order is unproven. Withholding merely costs the join its
    * sorts; over-claiming would silently corrupt it. */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    spjTerms match {
      case Some(terms)
        if !snap.props.contains(GraftSqlWrite.SortOrderProp) &&
          planHit.forall(_.sorted) &&
          planHit.map(_.part.map(_._2.toSeq)).distinct.size == planHit.size =>
        import org.apache.spark.sql.connector.expressions.{Expressions => E, SortDirection}
        terms.map(t => E.sort(E.column(t.baseCol),
          SortDirection.ASCENDING)).toArray
      case _ => Array.empty
    }

  /** HONEST plan-time statistics from commit metadata, AFTER file
    * pruning — without this a DSv2 relation carries the never-broadcast
    * default size, so a 3-row dim table still plans a shuffle join.
    * sizeInBytes = the pruned survivors' recorded on-disk bytes (the
    * same figure the v1 parquet relation reports); files from
    * pre-byte-stats commits fall back to rows × schema default width
    * (conservative, never zero). numRows is exact from commit stats and
    * REFUSED under pending merge-on-read manifests (masked rows would
    * overcount — the statsSummary honesty rule at plan time). */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      private val files = planHit
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(math.max(files.map { f =>
          if (f.bytes >= 0) f.bytes
          else f.nRows * math.max(tableSchema.defaultSize.toLong, 8L)
        }.sum, 1L))
      override def numRows(): java.util.OptionalLong =
        // deletion vectors subtract EXACTLY (liveRows); only equality
        // manifests (unknown per-file overlap) withhold the figure
        if (snap.deletes.isEmpty)
          java.util.OptionalLong.of(files.map(_.liveRows).sum)
        else java.util.OptionalLong.empty()

      /** PER-COLUMN statistics from the same commit metadata, over the
        * pruned survivors — what a cost-based optimizer reorders joins
        * by: merged-KMV distinct count for the key (~13% at k=64),
        * recorded null counts, and min/max for integral-typed key/zone
        * columns. Same honesty rules as numRows: nothing is reported
        * under pending MoR manifests; a column with any pre-stats file
        * (unknown nulls, sentinel bounds, missing sketch) omits that
        * figure rather than guessing. */
      override def columnStats(): java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
        val m = new java.util.HashMap[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
        // per-column figures are NOT exact under any pending mask:
        // manifests (unknown overlap) or deletion vectors (masked rows
        // still count in nulls/ndv/bounds) both withhold them
        if (snap.deletes.nonEmpty || files.exists(_.dv.isDefined) ||
            files.isEmpty) return m
        def integralLong(c: String): Boolean =
          tableSchema.fields.find(_.name == c).map(_.dataType)
            .contains(LongType)
        def statsFor(c: String)
            : org.apache.spark.sql.connector.read.colstats.ColumnStatistics = {
          val nullsKnown = files.forall(_.nulls.contains(c))
          val nullsTotal = files.map(_.nulls.getOrElse(c, 0L)).sum
          // extremes come from files with at least one non-null value;
          // an all-null key file carries the full-range sentinel, an
          // all-null zone file omits its bounds — both excluded
          val bounded =
            if (c == snap.keyCol)
              files.filter(f => !(f.minKey == Long.MinValue &&
                f.maxKey == Long.MaxValue))
            else files.filter(_.zones.contains(c))
          val allBoundedOrAllNull = files.forall(f =>
            (if (c == snap.keyCol)
              !(f.minKey == Long.MinValue && f.maxKey == Long.MaxValue)
            else f.zones.contains(c)) ||
              (f.nRows > 0 && f.nulls.get(c).contains(f.nRows)))
          def boundsOk = integralLong(c) && nullsKnown &&
            allBoundedOrAllNull && bounded.nonEmpty
          val ndv =
            if (c == snap.keyCol) TableFormat.approxDistinctOf(files)
            else TableFormat.approxDistinctZone(files, c)
          new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
            override def distinctCount(): java.util.OptionalLong =
              ndv.map(d => java.util.OptionalLong.of(math.round(d)))
                .getOrElse(java.util.OptionalLong.empty())
            override def nullCount(): java.util.OptionalLong =
              if (nullsKnown) java.util.OptionalLong.of(nullsTotal)
              else java.util.OptionalLong.empty()
            override def min(): java.util.Optional[Object] =
              if (boundsOk) java.util.Optional.of(java.lang.Long.valueOf(
                bounded.map(f => if (c == snap.keyCol) f.minKey
                  else f.zones(c)._1).min))
              else java.util.Optional.empty()
            override def max(): java.util.Optional[Object] =
              if (boundsOk) java.util.Optional.of(java.lang.Long.valueOf(
                bounded.map(f => if (c == snap.keyCol) f.maxKey
                  else f.zones(c)._2).max))
              else java.util.Optional.empty()
          }
        }
        (snap.keyCol +: snap.zoneCols).distinct
          .filter(required.fieldNames.contains)
          .foreach { c =>
            m.put(org.apache.spark.sql.connector.expressions.Expressions
              .column(c), statsFor(c))
          }
        m
      }
    }
  override def readSchema(): StructType = required

  /** STREAMING read of the table — `spark.readStream.table("graft.t")`
    * / `readStream.format("graft-table").load(root)`: delegates to the
    * same [[ChangesStream]] the `graft-table-changes` source runs
    * (offsets are table versions in the checkpoint, op=replace commits
    * skipped, a retention-expired prefix emits the first live version
    * as base — all proven by TableChangesSourceSpec). The stream reads
    * the LIVE log, not this scan's pinned snapshot: a stream by nature
    * outruns any single version. Zone-bound pruning does not apply to
    * streaming batches (they are planned from version diffs); pushed
    * filters stay residual above the scan, so results remain exact. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new ChangesStream(snap.root, required, streamOpts)

  private def boundsOf(f: TableFormat.FileStat, col: String): Option[(Long, Long)] =
    if (col == snap.keyCol) Some((f.minKey, f.maxKey)) else f.zones.get(col)

  /** PLAN-TIME survivors: zone-bound + null/bloom pruning from the
    * pushed filters. Runtime (DPP) filters narrow further below. */
  private lazy val planHit = snap.files.filter { f =>
    bounds.forall { case (col, (lo, hi)) =>
      boundsOf(f, col).forall { case (mn, mx) => mn <= hi && mx >= lo }
    } && pruners.forall(_._2(f))
  }

  // ---- RUNTIME (join-driven) file pruning — SupportsRuntimeFiltering.
  // Spark's dynamic-partition-pruning rule plants a subquery that
  // collects the OTHER join side's key values at execution time and
  // hands them here as `In`/`EqualTo` filters; each value probes the
  // per-file bounds AND (on the key) the commit blooms — exactly the
  // plan-time IN machinery, but fed by the join. A selective dim
  // filter thus prunes FACT FILES the WHERE clause never mentioned —
  // the 100 TB star-join lever (same contract as plan-time pruning:
  // best-effort, rows stay filtered by the join itself). ----
  @volatile private var runtimeKeep
      : Seq[TableFormat.FileStat => Boolean] = Seq.empty

  private def hit: Seq[TableFormat.FileStat] = {
    val base =
      if (runtimeKeep.isEmpty) planHit
      else planHit.filter(f => runtimeKeep.forall(_(f)))
    // LIMIT prefix: recorded counts are exact deliveries on a
    // filter-free scan (the only shape Spark pushes a limit on) UNLESS
    // merge-on-read masks are pending — refuse there, never
    // under-deliver
    limit match {
      case Some(n) if !anyMasked =>
        var acc = 0L
        // liveRows: a deletion vector's cardinality subtracts exactly,
        // so the prefix still never under-delivers
        base.takeWhile { f => val need = acc < n; acc += f.liveRows; need }
      case _ => base
    }
  }

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    (snap.keyCol +: snap.zoneCols).distinct
      // Spark resolves these against the scan's OUTPUT — a stats column
      // pruned out of the projection cannot be a runtime-filter anchor
      .filter(required.fieldNames.contains)
      .filter(c => tableSchema.fields.find(_.name == c).map(_.dataType)
        .exists(GraftSqlValues.discreteType))
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)
      .toArray

  override def filter(filters: Array[Filter]): Unit = {
    val keep = Seq.newBuilder[TableFormat.FileStat => Boolean]
    filters.foreach {
      case In(c, values) if c == snap.keyCol || snap.zoneCols.contains(c) =>
        val longs = values.toSeq.flatMap(GraftSqlValues.zoneValue)
        // only a COMPLETE translation may prune (a value outside the
        // zone-long mapping could match rows in any file); an empty
        // runtime set legitimately prunes everything — the join side
        // produced no keys
        if (longs.size == values.count(_ != null)) {
          if (c == snap.keyCol) {
            val strs = longs.map(l =>
              org.apache.spark.unsafe.types.UTF8String.fromString(l.toString))
            keep += { f =>
              val bits =
                new org.apache.spark.sql.catalyst.util.GenericArrayData(f.bloom)
              longs.indices.exists { i =>
                longs(i) >= f.minKey && longs(i) <= f.maxKey &&
                  graft.functions.BloomUtil.contains(bits, strs(i),
                    snap.numBits, snap.numHashes)
              }
            }
          } else {
            // zone columns: bounds, refined by a bloom.cols bitset when
            // the file carries one (runtime join keys probe membership)
            val strs = longs.map(l =>
              org.apache.spark.unsafe.types.UTF8String.fromString(l.toString))
            keep += { f =>
              f.blooms.get(c) match {
                case Some(words) =>
                  val bits = new org.apache.spark.sql.catalyst.util
                    .GenericArrayData(words)
                  longs.indices.exists { i =>
                    f.zones.get(c).forall { case (mn, mx) =>
                      longs(i) >= mn && longs(i) <= mx } &&
                      graft.functions.BloomUtil.contains(bits, strs(i),
                        snap.numBits, snap.numHashes)
                  }
                case None =>
                  f.zones.get(c).forall { case (mn, mx) =>
                    longs.exists(l => l >= mn && l <= mx)
                  }
              }
            }
          }
        }
      case EqualTo(c, v) if c == snap.keyCol || snap.zoneCols.contains(c) =>
        GraftSqlValues.zoneValue(v).foreach { l =>
          if (c == snap.keyCol) {
            val s = org.apache.spark.unsafe.types.UTF8String
              .fromString(l.toString)
            keep += { f =>
              l >= f.minKey && l <= f.maxKey &&
                graft.functions.BloomUtil.contains(
                  new org.apache.spark.sql.catalyst.util.GenericArrayData(f.bloom),
                  s, snap.numBits, snap.numHashes)
            }
          } else {
            val s = org.apache.spark.unsafe.types.UTF8String
              .fromString(l.toString)
            keep += { f =>
              f.zones.get(c).forall { case (mn, mx) => l >= mn && l <= mx } &&
                f.blooms.get(c).forall(words =>
                  graft.functions.BloomUtil.contains(
                    new org.apache.spark.sql.catalyst.util
                      .GenericArrayData(words),
                    s, snap.numBits, snap.numHashes))
            }
          }
        }
      case _ => () // unsupported runtime shape: no pruning, join filters rows
    }
    runtimeKeep = keep.result()
  }

  /** True when any surviving file has an applicable manifest — the scan
    * then reads the KEY column alongside the projection (appended when
    * not already projected) so the columnar mask can probe it; the
    * reader emits only the projected prefix. Judged on the PLAN-TIME
    * survivors: the read schema must not depend on runtime filters
    * (which arrive after the scan's schema is fixed). */
  private lazy val anyMasked =
    planHit.exists(f => snap.deletes.exists(_.seq > f.seq))

  /** The REAL columns parquet must deliver: the projection minus the
    * synthesized metadata columns, plus the key when a mask must probe
    * it — and the key alone when metadata columns are requested with no
    * real column at all (the ordinal/file synthesis needs true per-row
    * batches, not the footer-count fast path). */
  private lazy val extendedSchema: StructType =
    GraftSqlReaderFactory.extendedOf(required, tableSchema, snap.keyCol,
      anyMasked)

  override def description(): String =
    s"graft(${snap.root}@v${snap.version}) PrunedFiles: " +
      s"${snap.files.size - hit.size}/${snap.files.size}, " +
      s"RuntimeFiltered: ${planHit.size - hit.size}/${planHit.size}, " +
      s"Columnar: true, Bounds: " +
      bounds.toSeq.sortBy(_._1).map { case (c, (lo, hi)) => s"$c in [$lo,$hi]" }
        .mkString("[", ", ", "]") +
      s", Pruners: ${pruners.map(_._1).sorted.mkString("[", ", ", "]")}" +
      s", PackedTasks: ${
        if (spjTerms.isDefined) "keyed"
        else s"${planInputPartitions().length}/${hit.size}"}" +
      s", Ordered: ${outputOrdering().nonEmpty}" +
      s", RowGroupFilter: ${rowGroupFilter.isDefined}" +
      s", LimitPrefix: ${limit.filter(_ => !anyMasked).map(_.toString).getOrElse("none")}" +
      s", ReadSchema: ${required.catalogString}"

  override def toBatch: Batch = this

  /** The row-group-level `FilterApi` predicate stamped for the reader
    * — built from the pushed discrete-column filters ONLY when the scan
    * projects at least one column (a zero-column count(*) scan answers
    * from footer row counts and must never see a filter). */
  private lazy val rowGroupFilter
      : Option[org.apache.parquet.filter2.predicate.FilterPredicate] =
    if (required.fields.isEmpty) None
    else GraftRowGroupFilter.build(rowGroupFilters, tableSchema)

  private lazy val columnMapping = TableFormat.hasColumnMapping(snap.props)

  override def planInputPartitions(): Array[InputPartition] = {
    val perFile = hit.map { f =>
      val manifests = snap.deletes.filter(_.seq > f.seq).map(_.file)
      // under a rename/drop ledger, a file from an OLD ERA carries its
      // columns under old physical names: the partition ships the
      // era-resolved schema and the reader reads through it (output
      // stays positional, so logical names never reach the file)
      val phys =
        if (!columnMapping) None
        else {
          val ps = TableFormat.physicalSchemaOf(snap.props, extendedSchema,
            f.seq)
          if (ps.fieldNames.sameElements(extendedSchema.fieldNames)) None
          else Some(ps.json)
        }
      (f, manifests, phys)
    }
    spjTerms match {
      case Some(terms) =>
        // key-grouped: strictly one partition per file (HasPartitionKey
        // + the ordering report both depend on it)
        perFile.map { case (f, manifests, phys) =>
          GraftSqlKeyedPartition(f.file, manifests, snap.keyCol, phys,
            terms.zip(f.part.get._2).map { case (t, v) =>
              keyedValue(t, v)
            }.toArray, f.dv, f.rid, f.ridCol): InputPartition
        }.toArray
      case None =>
        packSmallFiles(perFile.map { case (f, manifests, phys) =>
          (GraftSqlPartition(f.file, manifests, snap.keyCol, phys, f.dv,
            f.rid, f.ridCol),
            if (f.bytes >= 0) f.bytes
            else f.nRows * math.max(tableSchema.defaultSize.toLong, 8L))
        })
    }
  }

  /** Byte-bounded first-fit packing of SMALL files into shared tasks —
    * Spark's own FilePartition arithmetic (`maxPartitionBytes` target,
    * `openCostInBytes` per-file padding) applied to the recorded commit
    * bytes, so a post-ingest tail of tiny files reads in a handful of
    * tasks instead of one task per file. Files stay in file-name order
    * (the LIMIT prefix and the ledger's determinism both like it);
    * a bin of one stays a plain per-file partition. */
  private def packSmallFiles(parts: Seq[(GraftSqlPartition, Long)])
      : Array[InputPartition] = {
    val spark = SparkSession.active
    val conf = spark.sessionState.conf
    val openCost = conf.filesOpenCostInBytes
    // Spark's own maxSplitBytes arithmetic: a SMALL table never packs
    // below the cluster's parallelism (bytes-per-core floor), a LARGE
    // one bins at maxPartitionBytes — so local benches keep their
    // fan-out and a 100k-tiny-file ingest tail still collapses
    val totalBytes = parts.map(_._2 + openCost).sum
    val bytesPerCore = totalBytes / spark.sparkContext.defaultParallelism
    val target = math.min(conf.filesMaxPartitionBytes,
      math.max(openCost, bytesPerCore))
    val bins = Seq.newBuilder[InputPartition]
    var cur = List.empty[GraftSqlPartition]
    var acc = 0L
    def flush(): Unit = {
      cur.reverse match {
        case Nil =>
        case one :: Nil => bins += one
        case many => bins += GraftSqlPackedPartition(many)
      }
      cur = Nil; acc = 0L
    }
    parts.foreach { case (p, bytes) =>
      val cost = bytes + openCost
      if (cur.nonEmpty && acc + cost > target) flush()
      cur = p :: cur; acc += cost
    }
    flush()
    bins.result().toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // scanConf stamps the parquet conversion settings the vectorized
    // delegate reads from the task conf; the requested schema is
    // scan-constant, so it stamps HERE — one Configuration for the
    // whole scan, never a per-file copy
    val c = GraftSqlColumnar.scanConf(SparkSession.active)
    c.set(org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
      .SPARK_ROW_REQUESTED_SCHEMA, extendedSchema.json)
    rowGroupFilter.foreach(GraftRowGroupFilter.stamp(c, _))
    new GraftSqlReaderFactory(required, extendedSchema,
      new SerializableHadoopConf(c))
  }
}

private object GraftSqlReaderFactory {
  /** A delete manifest's one column. */
  private val ManifestSchema = StructType(Seq(StructField("_del_key", LongType)))

  private def isSynth(n: String): Boolean =
    n == GraftRowLevel.FileColumn || n == GraftRowLevel.PosColumn ||
      n == GraftRowLevel.RowIdColumn

  /** Names a user column may not take: the synthesized metadata columns
    * and the hidden materialized-lineage column. */
  def reserved(n: String): Boolean =
    isSynth(n) || n == TableFormat.IdColName

  /** The parquet-delivered schema for a projection that may carry
    * synthesized metadata columns: real fields only, the key appended
    * when a mask must probe it, and the key ALONE when only metadata
    * columns were requested (their synthesis needs true per-row
    * batches). */
  def extendedOf(required: StructType, tableSchema: StructType,
                 keyCol: String, masked: Boolean): StructType = {
    val real = StructType(required.fields.filterNot(f => isSynth(f.name)))
    val needKey =
      (masked || (real.fields.isEmpty && required.fields.nonEmpty)) &&
        !real.fieldNames.contains(keyCol)
    if (needKey) StructType(real.fields :+ tableSchema(keyCol)) else real
  }
}

private class GraftSqlReaderFactory(required: StructType,
                                    extended: StructType,
                                    conf: SerializableHadoopConf)
    extends GraftColumnarReaderFactory {
  import GraftSqlReaderFactory.ManifestSchema

  /** The manifest read's conf, one copy per task: the manifest schema,
    * and NEVER the scan's stamped row-group predicate — a data-column
    * filter would drop `_del_key` row groups and the emptied mask would
    * resurrect deleted rows. */
  @transient private lazy val manifestConf = {
    val c = GraftRowGroupFilter.without(conf.value)
    c.set(org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
      .SPARK_ROW_REQUESTED_SCHEMA, ManifestSchema.json)
    c
  }

  /** The partition's delete-manifest keys in one hash set — memory
    * O(manifest keys); manifest compaction is the dial that bounds it. */
  private def maskOf(p: GraftPartition): java.util.HashSet[java.lang.Long] =
    if (p.manifests.isEmpty) null
    else {
      val m = new java.util.HashSet[java.lang.Long]()
      p.manifests.foreach { f =>
        val r = new GraftSqlColumnarReader(f, ManifestSchema, ManifestSchema,
          null, null, manifestConf)
        try while (r.next()) {
          val keys = r.get().column(0)
          var i = 0
          while (i < r.get().numRows()) {
            if (!keys.isNullAt(i)) m.add(keys.getLong(i))
            i += 1
          }
        } finally r.close()
      }
      m
    }

  /** The partition's DELETION VECTOR, loaded once per task — O(deleted
    * rows) small by design. */
  private def posMaskOf(p: GraftPartition)
      : org.roaringbitmap.longlong.Roaring64Bitmap =
    p.dv.map(d => graft.operators.TableFormat.readDv(conf.value, d._1))
      .orNull

  /** Era-resolved conf/schema for a partition under a rename/drop
    * ledger: the per-file conf copy happens ONLY for old-era files of
    * mapped tables — the common case keeps the one scan-wide stamp.
    * A DV'd partition additionally STRIPS the stamped row-group filter
    * (the manifest-read precedent): skipped row groups would break the
    * file-absolute ordinal count the vector masks by. An OLD-ERA file
    * (physSchemaJson present) strips it too: the predicate names the
    * CURRENT logical column, which the file stores under its physical
    * name — parquet treats the missing column as all-null and would
    * silently drop every row group. Pushdown is an optimization; the
    * residual Spark filter keeps results exact, and maintenance
    * rewrites migrate files back onto the filtered fast path. */
  // a `_pos` or `_row_id` projection forces an UNFILTERED open
  // everywhere: both are defined over the FILE-absolute row index,
  // which a row-group-skipping open would desynchronize
  private val needsPos = required.fieldNames.contains(GraftRowLevel.PosColumn)
  private val needsRowId =
    required.fieldNames.contains(GraftRowLevel.RowIdColumn)

  private def confFor(p: GraftPartition): org.apache.hadoop.conf.Configuration = {
    // a file with a MATERIALIZED id column serves a _row_id projection
    // by reading it — appended to the (possibly era-mapped) requested
    // schema for this partition only
    val plusId = needsRowId && p.ridCol
    val base = (p.physSchemaJson, plusId) match {
      case (None, false) => conf.value
      case (js, _) =>
        val c2 = new org.apache.hadoop.conf.Configuration(conf.value)
        val s0 = js.map(j => org.apache.spark.sql.types.DataType.fromJson(j)
            .asInstanceOf[StructType]).getOrElse(extended)
        val s = if (!plusId) s0
          else StructType(s0.fields :+ StructField(
            TableFormat.IdColName, LongType))
        c2.set(org.apache.spark.sql.execution.datasources.parquet
          .ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, s.json)
        c2
    }
    if ((p.dv.isDefined || p.physSchemaJson.isDefined || needsPos ||
        needsRowId) && GraftRowGroupFilter.hasFilter(base))
      GraftRowGroupFilter.without(base)
    else base
  }

  // the _file METADATA column (row-level op plumbing) is per partition
  // — per MEMBER FILE under a packed partition (each chained sub-reader
  // carries its own)
  private def columnarReaderOf(p: GraftPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new GraftSqlColumnarReader(p.file, required, extended, maskOf(p),
      p.keyCol, confFor(p), posMaskOf(p), p.rid,
      ridColRead = needsRowId && p.ridCol,
      constants = Map(GraftRowLevel.FileColumn ->
        org.apache.spark.unsafe.types.UTF8String.fromString(p.file)))

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    partition match {
      case pk: GraftSqlPackedPartition =>
        new GraftChainedReader(pk.subs, columnarReaderOf)
      case p: GraftPartition => columnarReaderOf(p)
    }
}

/** Sequential chain over a packed partition's member files: sub-readers
  * open LAZILY (one file's reader lives at a time — the memory profile
  * of a single-file task) and each member keeps its own manifests, era
  * schema and `_file` synthesis. */
private class GraftChainedReader[T](subs: Seq[GraftSqlPartition],
                                    mk: GraftSqlPartition => PartitionReader[T])
    extends PartitionReader[T] {
  private val it = subs.iterator
  private var cur: PartitionReader[T] = _

  override def next(): Boolean = {
    while (true) {
      if (cur == null) {
        if (!it.hasNext) return false
        cur = mk(it.next())
      }
      if (cur.next()) return true
      cur.close()
      cur = null
    }
    false // unreachable
  }

  override def get(): T = cur.get()

  override def close(): Unit = {
    if (cur != null) { cur.close(); cur = null }
  }
}
