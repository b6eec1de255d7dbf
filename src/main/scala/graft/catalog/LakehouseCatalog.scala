package graft.catalog

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, NonEmptyNamespaceException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Spark DSv2 catalog plugin: the from-scratch equivalent of the
  * reference's BigLake-Metastore-backed Iceberg catalog (registration
  * mechanism identical to `README.md:189-197` — a
  * `spark.sql.catalog.<name>` class plus a `warehouse` location; here
  * the warehouse is a filesystem directory instead of a GCS bucket +
  * REST metastore).
  *
  * Layout: `<warehouse>/<ns...>/` directories with a `_namespace.json`
  * marker (namespaces can nest, matching the reference's
  * catalog→database chain, `pyspark_jobs/iceberg_table_creation.py:44-61`)
  * and `<warehouse>/<ns...>/<table>/{metadata,data}` for tables.
  * A 4th identifier part resolves Iceberg-style metadata tables
  * (`tbl.metadata_log_entries` — notebook cell 11).
  */
class LakehouseCatalog extends TableCatalog with SupportsNamespaces
    with StagingTableCatalog with FunctionCatalog with ViewCatalog
    with ProcedureCatalog {

  /** Column DEFAULT values (Iceberg v3's initial/write defaults):
    * declaring the capability makes Spark's analyzer accept `DEFAULT`
    * in CREATE/REPLACE TABLE and fill missing INSERT columns with the
    * CURRENT_DEFAULT; the EXISTS_DEFAULT ("initial default") rides the
    * schema's field metadata into parquet read planning, where Spark's
    * readers substitute it for columns physically absent from a file —
    * so `ALTER TABLE ADD COLUMN ... DEFAULT v` backfills old files
    * metadata-only, no rewrite (see the AddColumn branch below). */
  /** CREATE TABLE with inline `CONSTRAINT nm CHECK (...)` arrives via
    * the TableInfo overload; the default delegation would silently DROP
    * the constraints — map them to graft.check.* properties first so
    * the declaration survives and enforces from the first insert. */
  /** Fold a TableInfo's inline declarations into properties: CHECK
    * constraints (with the same case-insensitive duplicate refusal the
    * ALTER path enforces), generated-column expressions, and identity
    * column specs (engine-minted sequences — see [[IdentityColumns]]).
    * Shared by createTable AND the staged CTAS/RTAS overloads — the
    * default TableInfo delegation forwards only info.properties() and
    * would silently DROP all of these. */
  private def withInlineDeclarations(info: TableInfo): java.util.Map[String, String] = {
    val checkProps = info.constraints().map {
      case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
        CheckConstraints.Prefix + c.name -> c.predicateSql()
      case other => KeyConstraints.encode(other).getOrElse(
        throw new UnsupportedOperationException(
          s"unsupported constraint kind: ${other.toDDL}"))
    }.toMap
    val lower = info.constraints().map(_.name.toLowerCase)
    if (lower.distinct.length != lower.length)
      throw new UnsupportedOperationException(
        "duplicate constraint names (SQL identifiers resolve case-insensitively): " +
          info.constraints().map(_.name).mkString(", "))
    val genProps = info.columns().flatMap { c =>
      Option(c.generationExpression())
        .map(g => GeneratedColumns.Prefix + c.name -> g)
    }.toMap
    // identity columns (GENERATED ALWAYS/BY DEFAULT AS IDENTITY): the
    // spec persists as a property; the engine mints values on INSERT
    // from a per-commit range reserved in metadata (IdentityColumns)
    val idProps = info.columns().flatMap { c =>
      Option(c.identityColumnSpec()).map { s =>
        IdentityColumns.SpecPrefix + c.name ->
          IdentityColumns.IdSpec(s.getStart, s.getStep, s.isAllowExplicitInsert).encoded
      }
    }.toMap
    val props = new java.util.HashMap[String, String](info.properties())
    (checkProps ++ genProps ++ idProps).foreach { case (k, v) => props.put(k, v) }
    props
  }

  override def createTable(ident: Identifier, info: TableInfo): Table =
    createTable(ident, info.schema(), info.partitions(), withInlineDeclarations(info))

  override def capabilities(): java.util.Set[TableCatalogCapability] =
    java.util.EnumSet.of(
      TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE,
      // ALTER TABLE ADD/DROP CONSTRAINT ... CHECK — the native SQL face
      // of the graft.check.* property machinery (CheckConstraints)
      TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT,
      TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS,
      TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS)

  // ---- ProcedureCatalog: CALL <cat>.system.<proc>(...) ---------------------

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    LakehouseProcedures.list(namespace)

  override def loadProcedure(ident: Identifier): org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    LakehouseProcedures.load(ident, catalogName).getOrElse(
      throw new RuntimeException(
        s"no such procedure: ${(ident.namespace :+ ident.name).mkString(".")}"))

  // ---- ViewCatalog: persistent SQL views -----------------------------------
  // The Iceberg-parity view surface (CREATE/ALTER/DROP/SHOW VIEWS):
  // each view is one JSON file under <ns>/_views/ storing the SQL text
  // plus the name-resolution context captured at definition time
  // (current catalog/namespace, schema, column aliases) — what Spark
  // needs to re-analyze the query faithfully at read time. Publishes
  // are conflict-checked with CREATE_NEW, same discipline as table
  // metadata commits.

  private def viewsDir(ns: Array[String]): Path = nsDir(ns).resolve("_views")
  private def viewFile(ident: Identifier): Path =
    viewsDir(ident.namespace).resolve(s"${ident.name}.json")

  private def viewToJson(v: ViewInfo): String = {
    def arr(a: Array[String]) = JArray(a.map(JString(_)).toList)
    JsonMethods.pretty(JsonMethods.render(JObject(
      "sql" -> JString(v.sql),
      "currentCatalog" -> JString(v.currentCatalog),
      "currentNamespace" -> arr(v.currentNamespace),
      "schema" -> JsonMethods.parse(v.schema.json),
      "queryColumnNames" -> arr(v.queryColumnNames),
      "columnAliases" -> arr(v.columnAliases),
      "columnComments" -> arr(v.columnComments),
      "properties" -> JObject(v.properties.asScala.toList.sortBy(_._1)
        .map { case (k, s) => k -> (JString(s): JValue) }))))
  }

  private def viewFromJson(ident: Identifier, json: String): View = {
    val j = JsonMethods.parse(json)
    def str(f: String) = (j \ f) match { case JString(s) => s; case _ => "" }
    def arr(f: String) = (j \ f) match {
      case JArray(xs) => xs.collect { case JString(s) => s }.toArray
      case _ => Array.empty[String]
    }
    val props = (j \ "properties") match {
      case JObject(fs) => fs.collect { case (k, JString(s)) => k -> s }.toMap
      case _ => Map.empty[String, String]
    }
    val viewSchema = org.apache.spark.sql.types.DataType
      .fromJson(JsonMethods.compact(JsonMethods.render(j \ "schema")))
      .asInstanceOf[StructType]
    new View {
      override def name(): String = fullName(ident)
      override def query(): String = str("sql")
      override def currentCatalog(): String = str("currentCatalog")
      override def currentNamespace(): Array[String] = arr("currentNamespace")
      override def schema(): StructType = viewSchema
      override def queryColumnNames(): Array[String] = arr("queryColumnNames")
      override def columnAliases(): Array[String] = arr("columnAliases")
      override def columnComments(): Array[String] = arr("columnComments")
      override def properties(): java.util.Map[String, String] = props.asJava
    }
  }

  override def listViews(namespace: String*): Array[Identifier] = {
    val ns = namespace.toArray
    if (!isNamespace(ns)) throw new NoSuchNamespaceException(ns)
    val vd = viewsDir(ns)
    if (!Files.isDirectory(vd)) Array.empty
    else Fs.children(vd).iterator
      .map(_.getFileName.toString).filter(_.endsWith(".json"))
      .map(n => Identifier.of(ns, n.stripSuffix(".json"))).toArray.sortBy(_.name)
  }

  override def loadView(ident: Identifier): View = {
    val f = viewFile(ident)
    if (!Files.isRegularFile(f))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident)
    viewFromJson(ident, Files.readString(f))
  }

  override def viewExists(ident: Identifier): Boolean = Files.isRegularFile(viewFile(ident))

  override def createView(info: ViewInfo): View = {
    if (!isNamespace(info.ident.namespace))
      throw new NoSuchNamespaceException(info.ident.namespace)
    if (tableExists(info.ident))
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(info.ident)
    Files.createDirectories(viewsDir(info.ident.namespace))
    try
      Files.writeString(viewFile(info.ident), viewToJson(info),
        java.nio.file.StandardOpenOption.CREATE_NEW)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(info.ident)
    }
    loadView(info.ident)
  }

  override def replaceView(info: ViewInfo, orCreate: Boolean): View = {
    if (!orCreate && !viewExists(info.ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(info.ident)
    Files.createDirectories(viewsDir(info.ident.namespace))
    Files.writeString(viewFile(info.ident), viewToJson(info))
    loadView(info.ident)
  }

  override def alterView(ident: Identifier, changes: ViewChange*): View = {
    val f = viewFile(ident)
    if (!Files.isRegularFile(f))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident)
    val j = JsonMethods.parse(Files.readString(f))
    val props0 = (j \ "properties") match {
      case JObject(fs) => fs.collect { case (k, JString(s)) => k -> s }.toMap
      case _ => Map.empty[String, String]
    }
    val props = changes.foldLeft(props0) {
      case (p, set: ViewChange.SetProperty) => p + (set.property -> set.value)
      case (p, rm: ViewChange.RemoveProperty) => p - rm.property
      case (p, _) => p
    }
    val updated = j.asInstanceOf[JObject].copy(obj =
      j.asInstanceOf[JObject].obj.filterNot(_._1 == "properties") :+
        ("properties" -> (JObject(props.toList.sortBy(_._1)
          .map { case (k, s) => k -> (JString(s): JValue) }): JValue)))
    Files.writeString(f, JsonMethods.pretty(JsonMethods.render(updated)))
    loadView(ident)
  }

  override def dropView(ident: Identifier): Boolean =
    Files.deleteIfExists(viewFile(ident))

  override def renameView(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val src = viewFile(oldIdent)
    if (!Files.isRegularFile(src))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(oldIdent)
    Files.createDirectories(viewsDir(newIdent.namespace))
    try Files.createLink(viewFile(newIdent), src)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(newIdent)
    }
    Files.delete(src)
  }

  // ---- FunctionCatalog: the bucket transform's definition ------------------

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || isNamespace(namespace))
      Array(Identifier.of(Array.empty, "bucket"))
    else throw new NoSuchNamespaceException(namespace)

  override def loadFunction(ident: Identifier): org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.name == "bucket") BucketFunction
    else IcebergBucketFunction.parse(ident.name).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident))

  private var catalogName: String = _
  private var warehouse: Path = _
  private[catalog] def warehousePath: Path = warehouse

  private def spark: SparkSession = SparkSession.active

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val wh = options.get("warehouse")
    require(wh != null, s"catalog $name needs spark.sql.catalog.$name.warehouse")
    warehouse = Paths.get(wh)
    Files.createDirectories(warehouse)
  }

  override def name(): String = catalogName

  // ---- paths ---------------------------------------------------------------

  private def nsDir(ns: Array[String]): Path = ns.foldLeft(warehouse)(_.resolve(_))
  private def nsMarker(ns: Array[String]): Path = nsDir(ns).resolve("_namespace.json")
  private def tableDir(ident: Identifier): Path = nsDir(ident.namespace).resolve(ident.name)

  private def isNamespace(ns: Array[String]): Boolean =
    ns.isEmpty || Files.exists(nsMarker(ns))

  // ---- namespaces ----------------------------------------------------------

  override def namespaceExists(ns: Array[String]): Boolean = isNamespace(ns)

  override def listNamespaces(): Array[Array[String]] = listNamespaces(Array.empty)

  override def listNamespaces(ns: Array[String]): Array[Array[String]] = {
    if (!isNamespace(ns)) throw new NoSuchNamespaceException(ns)
    val dir = nsDir(ns)
    if (!Files.isDirectory(dir)) return Array.empty
    Fs.children(dir).iterator
      .filter(p => Files.exists(p.resolve("_namespace.json")))
      .map(p => ns :+ p.getFileName.toString)
      .toArray
      .sortBy(_.mkString("."))
  }

  override def loadNamespaceMetadata(ns: Array[String]): java.util.Map[String, String] = {
    if (!isNamespace(ns)) throw new NoSuchNamespaceException(ns)
    if (ns.isEmpty) return Map.empty[String, String].asJava
    readProps(nsMarker(ns)).asJava
  }

  override def createNamespace(
      ns: Array[String], metadata: java.util.Map[String, String]): Unit = {
    if (isNamespace(ns) && ns.nonEmpty) throw new NamespaceAlreadyExistsException(ns)
    if (ns.length > 1 && !isNamespace(ns.init))
      throw new NoSuchNamespaceException(ns.init)
    Files.createDirectories(nsDir(ns))
    writeProps(nsMarker(ns), metadata.asScala.toMap)
  }

  override def alterNamespace(ns: Array[String], changes: NamespaceChange*): Unit = {
    if (!isNamespace(ns) || ns.isEmpty) throw new NoSuchNamespaceException(ns)
    val updated = changes.foldLeft(readProps(nsMarker(ns))) {
      case (props, set: NamespaceChange.SetProperty) => props + (set.property -> set.value)
      case (props, rm: NamespaceChange.RemoveProperty) => props - rm.property
      case (props, _) => props
    }
    writeProps(nsMarker(ns), updated)
  }

  override def dropNamespace(ns: Array[String], cascade: Boolean): Boolean = {
    if (!isNamespace(ns) || ns.isEmpty) throw new NoSuchNamespaceException(ns)
    val hasChildren = listNamespaces(ns).nonEmpty || listTables(ns).nonEmpty
    if (hasChildren && !cascade) throw new NonEmptyNamespaceException(ns)
    deleteRecursively(nsDir(ns))
    RestRegistry.unregisterPrefix(warehouse, ns.mkString("/"))
    true
  }

  // ---- tables --------------------------------------------------------------

  override def listTables(ns: Array[String]): Array[Identifier] = {
    if (!isNamespace(ns)) throw new NoSuchNamespaceException(ns)
    val dir = nsDir(ns)
    if (!Files.isDirectory(dir)) return Array.empty
    Fs.children(dir).iterator
      .filter(p => TableMetadata.exists(p))
      .map(p => Identifier.of(ns, p.getFileName.toString))
      .toArray
      .sortBy(_.name)
  }

  override def loadTable(ident: Identifier): Table = {
    val dir = tableDir(ident)
    if (TableMetadata.exists(dir)) {
      // O(refs) summary: chunk parsing deferred to first use, so a
      // partition-predicate scan on a cold driver resolves only the
      // overlapping chunks (TableMetadata.resolveForScan)
      val meta = TableMetadata.loadSummary(dir)
      return new LakehouseTable(spark, fullName(ident), dir, meta)
    }
    // 4-part name: cat.ns.tbl.<metadata-table>
    if (ident.namespace.nonEmpty && MetadataTables.names.contains(ident.name)) {
      val baseIdent = Identifier.of(ident.namespace.init, ident.namespace.last)
      val baseDir = tableDir(baseIdent)
      if (TableMetadata.exists(baseDir))
        return MetadataTables.load(ident.name, fullName(baseIdent), baseDir)
    }
    // cat.ns.tbl.changes — the streaming changelog face of the table
    if (ident.namespace.nonEmpty && ident.name == "changes") {
      val baseIdent = Identifier.of(ident.namespace.init, ident.namespace.last)
      val baseDir = tableDir(baseIdent)
      if (TableMetadata.exists(baseDir))
        return new ChangesTable(spark, s"${fullName(baseIdent)}.changes", baseDir,
          TableMetadata.load(baseDir).schema)
    }
    throw new NoSuchTableException(ident)
  }

  /** Time travel: `VERSION AS OF n` reads metadata version n directly —
    * data files are immutable, so an old snapshot is just an old JSON.
    * A non-numeric version is a TAG name, resolved through the current
    * snapshot's `graft.tag.*` properties (see [[Maintenance.tag]]). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = tableDir(ident)
    if (!TableMetadata.exists(dir)) throw new NoSuchTableException(ident)
    val props = TableMetadata.load(dir).properties
    // a branch name reads the branch HEAD (the audit read of WAP)
    if (version.toIntOption.isEmpty && props.contains(Maintenance.BranchPrefix + version))
      return new LakehouseTable(spark, s"${fullName(ident)}@$version", dir,
        Maintenance.branchHead(dir, version), pinned = true)
    val v = version.toIntOption.orElse(
      props.get(Maintenance.TagPrefix + version).flatMap(_.toIntOption))
      .getOrElse(throw new IllegalArgumentException(
        s"'$version' is neither a version number, a tag, nor a branch of ${fullName(ident)}"))
    val vf = TableMetadata.versionFile(dir, v)
    if (!Files.exists(vf)) {
      // below the expire floor the tombstone itself was collected: keep
      // the actionable "expired" error a missing-file probe would lose
      if (v <= TableMetadata.readFloor(TableMetadata.metadataDir(dir)))
        throw new ExpiredVersionException(
          s"version $v expired (expireSnapshots) — not time-travelable; " +
            "re-sync from the current snapshot")
      throw new IllegalArgumentException(
        s"no version $v for table ${fullName(ident)} (current: ${TableMetadata.currentVersion(dir)})")
    }
    new LakehouseTable(spark, s"${fullName(ident)}@v$v", dir,
      TableMetadata.loadFile(dir, vf), pinned = true)
  }

  /** Time travel: `TIMESTAMP AS OF t` (micros) → newest snapshot
    * committed at or before t. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val dir = tableDir(ident)
    if (!TableMetadata.exists(dir)) throw new NoSuchTableException(ident)
    val ms = timestampMicros / 1000L
    val log = TableMetadata.loadLog(dir)
    val meta = log.filter(_.snapshots.lastOption.forall(_.timestampMs <= ms)).lastOption
      .getOrElse(throw new IllegalArgumentException(
        s"no snapshot of ${fullName(ident)} at or before timestamp ${ms}ms"))
    new LakehouseTable(spark, s"${fullName(ident)}@t$ms", dir, meta, pinned = true)
  }

  private def identityPartitionCols(partitions: Array[Transform]): Seq[String] =
    partitions.toSeq.map { t =>
      if (t.name != "identity" || t.references.length != 1)
        throw new UnsupportedOperationException(
          s"unsupported partition transform: $t " +
            "(identity, bucket, years/months/days/hours, truncate)")
      t.references.head.fieldNames.mkString(".")
    }

  /** Split `PARTITIONED BY (...)` into identity columns and property
    * specs: at most one bucket(n, col) ([[Bucketing]]) plus any hidden
    * temporal/truncate transforms ([[HiddenPartitioning]]). */
  private def parsePartitioning(
      partitions: Array[Transform]): (Seq[String], Map[String, String]) = {
    val (hidden, rest) = partitions.partition(HiddenPartitioning.isHidden)
    val hiddenProps = HiddenPartitioning.encode(
      HiddenPartitioning.fromV2(hidden.toIndexedSeq))
    val (buckets, idents) = rest.partition(_.name == "bucket")
    val bucketProps = buckets.toSeq match {
      case Seq() => Map.empty[String, String]
      case Seq(b) =>
        require(b.references.length == 1, s"bucket transform needs one column: $b")
        val n = b.arguments.collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
            l.value.toString.toInt
        }.getOrElse(throw new UnsupportedOperationException(
          s"bucket transform needs a bucket count: $b"))
        require(n > 0, s"bucket count must be positive: $n")
        Map(Bucketing.ColProp -> b.references.head.fieldNames.mkString("."),
          Bucketing.CountProp -> n.toString)
      case _ =>
        throw new UnsupportedOperationException("at most one bucket transform per table")
    }
    (identityPartitionCols(idents), bucketProps ++ hiddenProps)
  }

  private def cleanProps(properties: java.util.Map[String, String]): Map[String, String] =
    properties.asScala.toMap - TableCatalog.PROP_PROVIDER -
      TableCatalog.PROP_LOCATION - TableCatalog.PROP_OWNER - TableCatalog.PROP_EXTERNAL

  /** One-line CREATE-time warning for the non-exportable bucket-layout
    * trap (see [[Bucketing.layoutNotice]]); the layout freezes once data
    * exists, so CREATE is the only moment the user can still opt in. */
  private def noticeLayout(
      ident: Identifier, schema: StructType, props: Map[String, String]): Unit =
    Bucketing.layoutNotice(schema, props).foreach { msg =>
      org.apache.log4j.LogManager.getLogger(getClass.getName)
        .warn(s"${fullName(ident)}: $msg")
    }

  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    if (!isNamespace(ident.namespace)) throw new NoSuchNamespaceException(ident.namespace)
    val dir = tableDir(ident)
    if (TableMetadata.exists(dir)) throw new TableAlreadyExistsException(ident)
    LakehouseCatalog.validateColumnNames(schema)
    val (partCols, bucketProps) = parsePartitioning(partitions)
    HiddenPartitioning.validate(schema, bucketProps)
    Bucketing.validate(schema, cleanProps(properties) ++ bucketProps)
    noticeLayout(ident, schema, cleanProps(properties) ++ bucketProps)
    WriteSortOrder.validate(schema, cleanProps(properties))
    CheckConstraints.validate(spark, schema, cleanProps(properties))
    GeneratedColumns.validate(spark, schema, cleanProps(properties))
    IdentityColumns.validate(schema, cleanProps(properties))
    KeyConstraints.validate(schema, cleanProps(properties))
    val meta = SnapshotChange.commit(dir, TableMetadata(
      version = 0, name = ident.name, schema = schema,
      partitionColumns = partCols,
      properties = cleanProps(properties) ++ bucketProps, files = Seq.empty,
      snapshots = Seq.empty), SnapshotChange.Change("create"), SnapshotChange.Once)
    new LakehouseTable(spark, fullName(ident), dir, meta)
  }

  // ---- atomic CTAS / RTAS (StagingTableCatalog) ----------------------------

  /** CREATE TABLE AS SELECT, all-or-nothing: data files land first, the
    * table becomes visible only at commitStagedChanges (the catalog's
    * normal data-before-metadata order, with the publish deferred). */
  override def stageCreate(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): StagedTable = {
    if (!isNamespace(ident.namespace)) throw new NoSuchNamespaceException(ident.namespace)
    val dir = tableDir(ident)
    if (TableMetadata.exists(dir)) throw new TableAlreadyExistsException(ident)
    LakehouseCatalog.validateColumnNames(schema)
    val (partCols, bucketProps) = parsePartitioning(partitions)
    HiddenPartitioning.validate(schema, bucketProps)
    Bucketing.validate(schema, cleanProps(properties) ++ bucketProps)
    noticeLayout(ident, schema, cleanProps(properties) ++ bucketProps)
    WriteSortOrder.validate(schema, cleanProps(properties))
    CheckConstraints.validate(spark, schema, cleanProps(properties))
    GeneratedColumns.validate(spark, schema, cleanProps(properties))
    IdentityColumns.validate(schema, cleanProps(properties))
    KeyConstraints.validate(schema, cleanProps(properties))
    new StagedLakehouseTable(spark, fullName(ident), dir, 1, schema,
      partCols, cleanProps(properties) ++ bucketProps, Seq.empty, "create")
  }

  /** REPLACE TABLE AS SELECT: the new schema/data publish as the next
    * snapshot of the existing table — readers see old-or-new, never a
    * dropped table, and prior versions stay time-travelable. */
  override def stageReplace(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): StagedTable = {
    val dir = tableDir(ident)
    if (!TableMetadata.exists(dir)) throw new NoSuchTableException(ident)
    val current = TableMetadata.load(dir)
    val (partCols, bucketProps) = parsePartitioning(partitions)
    HiddenPartitioning.validate(schema, bucketProps)
    Bucketing.validate(schema, cleanProps(properties) ++ bucketProps)
    noticeLayout(ident, schema, cleanProps(properties) ++ bucketProps)
    WriteSortOrder.validate(schema, cleanProps(properties))
    CheckConstraints.validate(spark, schema, cleanProps(properties))
    GeneratedColumns.validate(spark, schema, cleanProps(properties))
    IdentityColumns.validate(schema, cleanProps(properties))
    KeyConstraints.validate(schema, cleanProps(properties))
    new StagedLakehouseTable(spark, fullName(ident), dir, current.version + 1, schema,
      partCols, cleanProps(properties) ++ bucketProps,
      current.snapshots, "replace")
  }

  override def stageCreateOrReplace(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): StagedTable = {
    val dir = tableDir(ident)
    if (TableMetadata.exists(dir)) stageReplace(ident, schema, partitions, properties)
    else stageCreate(ident, schema, partitions, properties)
  }

  // inline CHECK constraints / generated columns survive the staged
  // DDL forms too (CTAS / REPLACE TABLE AS SELECT) — the default
  // delegation forwards only info.properties() and would drop them
  override def stageCreate(ident: Identifier, info: TableInfo): StagedTable =
    stageCreate(ident, info.schema(), info.partitions(), withInlineDeclarations(info))

  override def stageReplace(ident: Identifier, info: TableInfo): StagedTable =
    stageReplace(ident, info.schema(), info.partitions(), withInlineDeclarations(info))

  override def stageCreateOrReplace(ident: Identifier, info: TableInfo): StagedTable =
    stageCreateOrReplace(ident, info.schema(), info.partitions(), withInlineDeclarations(info))

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = tableDir(ident)
    if (!TableMetadata.exists(dir)) throw new NoSuchTableException(ident)
    // Schema changes never auto-rebase at the metadata level (field
    // merging is not a mechanical delta), but the ALTER itself is
    // replayable: the change list re-FOLDS over the fresh snapshot and
    // every guard (tombstones, widening, duplicate names) re-validates
    // against it — so a race with an append/compact re-derives the
    // whole ALTER instead of failing the user's DDL. A new CHECK
    // constraint or generation expression re-runs its existing-rows
    // verification against the fresh snapshot the same way, so a
    // racing INSERT of violating rows and the constraint can never
    // both land.
    SnapshotChange.rederive(dir)(current => Some(alterChange(dir, current, changes)))
    loadTable(ident)
  }

  private def alterChange(
      dir: Path, current: TableMetadata, changes: Seq[TableChange]): SnapshotChange.Change = {
    val updated = changes.foldLeft(current) { (m, change) =>
      change match {
        case addC: TableChange.AddConstraint =>
          // native SQL face of graft.check.*: ALTER TABLE ADD
          // CONSTRAINT nm CHECK (expr) stores the property after the
          // same resolve + existing-rows verification as a property SET
          addC.constraint() match {
            case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
              val sql = c.predicateSql()
              // SQL identifiers resolve case-insensitively, and the
              // constraint namespace spans kinds: a CHECK must not
              // shadow an existing PK/UNIQUE/FK of the same name (DROP
              // CONSTRAINT resolves CHECK first — a silent shadow would
              // make the later drop remove the wrong constraint)
              val dup = m.properties.keys.find(k =>
                k.startsWith(CheckConstraints.Prefix) &&
                  k.drop(CheckConstraints.Prefix.length).equalsIgnoreCase(c.name))
              if (dup.isDefined) throw new UnsupportedOperationException(
                s"constraint '${c.name}' already exists " +
                  s"(as '${dup.get.drop(CheckConstraints.Prefix.length)}')")
              if (KeyConstraints.namesOf(m.properties).contains(c.name.toLowerCase))
                throw new UnsupportedOperationException(
                  s"constraint '${c.name}' already exists (as a key constraint)")
              CheckConstraints.resolveBound(spark, m.schema, c.name, sql)
              CheckConstraints.verifyExisting(spark, dir, m, c.name, sql)
              m.copy(properties =
                m.properties + (CheckConstraints.Prefix + c.name -> sql))
            case other =>
              // informational PK/UNIQUE/FK: stored NOT ENFORCED, no
              // row verification (the engine never validates them) —
              // same case-insensitive duplicate refusal across kinds
              val (k, v) = KeyConstraints.encode(other).getOrElse(
                throw new UnsupportedOperationException(
                  s"unsupported constraint kind: ${other.toDDL}"))
              val allNames = KeyConstraints.namesOf(m.properties) ++
                m.properties.keys.collect {
                  case ck if ck.startsWith(CheckConstraints.Prefix) =>
                    ck.drop(CheckConstraints.Prefix.length).toLowerCase
                }
              if (allNames.contains(other.name.toLowerCase))
                throw new UnsupportedOperationException(
                  s"constraint '${other.name}' already exists")
              KeyConstraints.validate(m.schema, Map(k -> v))
              m.copy(properties = m.properties + (k -> v))
          }
        case dropC: TableChange.DropConstraint =>
          // case-insensitive lookup, like every other SQL identifier —
          // CHECK first, then the informational key-constraint kinds
          val key = (CheckConstraints.Prefix +: KeyConstraints.Prefixes)
            .flatMap(p => m.properties.keys.find(k =>
              k.startsWith(p) && k.drop(p.length).equalsIgnoreCase(dropC.name)))
            .headOption
          if (key.isEmpty && !dropC.ifExists)
            throw new UnsupportedOperationException(
              s"no such constraint: ${dropC.name}")
          key.map(k => m.copy(properties = m.properties - k)).getOrElse(m)
        case set: TableChange.SetProperty =>
          // a new/changed CHECK constraint must resolve against the
          // CURRENT schema and hold on the EXISTING rows (Delta's ADD
          // CONSTRAINT gate) — refusing here keeps every committed
          // constraint trustworthy at read time
          if (set.property.startsWith(CheckConstraints.Prefix) &&
            !m.properties.get(set.property).contains(set.value)) {
            val name = set.property.drop(CheckConstraints.Prefix.length)
            CheckConstraints.resolveBound(spark, m.schema, name, set.value)
            CheckConstraints.verifyExisting(spark, dir, m, name, set.value)
          }
          // declaring a generation expression over EXISTING data is a
          // conformance claim about every stored row — verify it like a
          // CHECK (otherwise 'a committed file can never disagree with
          // the expression' breaks, and the next unrelated COW rewrite
          // fails on the kept rows)
          if (set.property.startsWith(GeneratedColumns.Prefix) &&
            !m.properties.get(set.property).contains(set.value)) {
            GeneratedColumns.validate(spark, m.schema,
              Map(set.property -> set.value))
            val (n, sql) = GeneratedColumns.conformanceChecks(spark, m.schema,
              Map(set.property -> set.value)).head
            CheckConstraints.verifyExisting(spark, dir, m, n, sql)
          }
          // declaring an identity spec on an EXISTING table: the column
          // must be integral and non-null in every stored row (identity
          // NOT NULL conformance starts enforcing on row-level writes),
          // and the mint mark must start PAST the stored maximum —
          // both checked from footer stats, no scan
          // the bucket layout contract (column/count/hash) is baked
          // into every data file's physical placement — flipping it on
          // a non-empty table would make scans claim a
          // KeyGroupedPartitioning the files don't have (silently wrong
          // storage-partitioned joins) and the mirror export wrong
          // bucket tuples. Changeable only while the table holds no
          // data; the new value re-validates like CREATE.
          if (Bucketing.LayoutProps.contains(set.property) &&
            !m.properties.get(set.property).contains(set.value)) {
            require(m.files.isEmpty,
              s"cannot change ${set.property} on a table with existing data " +
                "files: the on-disk bucket layout was written under the " +
                "declared spec — recreate the table (CTAS) instead")
            Bucketing.validate(m.schema,
              m.properties + (set.property -> set.value))
          }
          if (set.property.startsWith(IdentityColumns.SpecPrefix) &&
            !m.properties.get(set.property).contains(set.value)) {
            val withId = m.properties + (set.property -> set.value)
            IdentityColumns.validate(m.schema, Map(set.property -> set.value))
            val c = set.property.drop(IdentityColumns.SpecPrefix.length)
            val field = m.schema.fields.find(_.name.equalsIgnoreCase(c)).get
            // a file is acceptable only when its stats PROVE the column
            // safe: a known-zero null count AND (when it has rows) a
            // value range the mint mark can advance past. A missing
            // null count or missing min/max (external writers may omit
            // either per column) is unverifiable, not zero — treating
            // None as 0 would admit NULL ids or under-advance the mark
            // into collisions. Provably-empty files are always safe.
            val bad = m.files.exists { f =>
              val empty = m.fileRows.get(f).contains(0L)
              m.fileStats.get(f).flatMap(_.get(field.name)) match {
                case None => !empty
                case Some(cs) => cs.nulls match {
                  case None => !empty
                  case Some(n) if n > 0 => true
                  case Some(_) => !cs.hasValues && !empty
                }
              }
            }
            if (bad) throw new IllegalStateException(
              s"cannot declare identity on '$c': existing files hold null or " +
                "unverifiable values — backfill the column first")
            m.copy(properties = IdentityColumns.advance(withId,
              IdentityColumns.committedExtreme(m.schema, withId, m.fileStats,
                m.fileRows)))
          } else m.copy(properties = m.properties + (set.property -> set.value))
        case rm: TableChange.RemoveProperty =>
          // removing a bucket-layout property is the same physical lie
          // as changing it (see SetProperty above)
          if (Bucketing.LayoutProps.contains(rm.property) &&
            m.properties.contains(rm.property))
            require(m.files.isEmpty,
              s"cannot remove ${rm.property} on a table with existing data " +
                "files: the on-disk bucket layout was written under the " +
                "declared spec — recreate the table (CTAS) instead")
          m.copy(properties = m.properties - rm.property)
        case add: TableChange.AddColumn =>
          require(add.fieldNames.length == 1, "nested ADD COLUMN not supported")
          val addName = add.fieldNames.head
          require(!addName.toLowerCase.startsWith("__graft_"),
            s"ADD COLUMN $addName: the __graft_ prefix is engine-reserved " +
              "(merge-on-read/CDC working columns) — pick another name")
          // Name-based parquet resolution: re-adding a dropped column's
          // name while old data files still carry it physically would
          // RESURRECT the dropped values (silently wrong, and a privacy
          // hazard if the drop was a PII purge). The tombstone clears
          // when every file has been rewritten under the current schema.
          if (m.properties.contains(LakehouseCatalog.TombstonePrefix + addName.toLowerCase))
            throw new UnsupportedOperationException(
              s"ADD COLUMN $addName: a previously dropped column of this name may still " +
                "exist in data files, and name-based resolution would resurrect its old " +
                "values. Rewrite the table first (Maintenance.compact / CALL " +
                "system.compact, or INSERT OVERWRITE), which clears the tombstone.")
          // re-checked on retry: a racer may have added it concurrently
          if (m.schema.fieldNames.contains(addName))
            throw new UnsupportedOperationException(
              s"ADD COLUMN $addName: column already exists on ${m.name}")
          // DEFAULT: encode CURRENT_DEFAULT (fills future INSERTs) and
          // EXISTS_DEFAULT (what files written BEFORE this column read
          // as — the Iceberg v3 initial-default) into field metadata
          // under the analyzer's documented keys. EXISTS_DEFAULT uses
          // the constant-folded literal, never the raw expression —
          // old rows must read the value frozen at ADD COLUMN time.
          val mb = new org.apache.spark.sql.types.MetadataBuilder()
          Option(add.comment).foreach(mb.putString("comment", _))
          Option(add.defaultValue).foreach { dv =>
            val folded = org.apache.spark.sql.catalyst.expressions.Literal(
              dv.getValue.value, dv.getValue.dataType).sql
            mb.putString("CURRENT_DEFAULT", Option(dv.getSql).getOrElse(folded))
            mb.putString("EXISTS_DEFAULT", folded)
          }
          m.copy(schema = StructType(m.schema.fields :+
            org.apache.spark.sql.types.StructField(
              addName, add.dataType, add.isNullable, mb.build())))
        case ren: TableChange.RenameColumn =>
          require(ren.fieldNames.length == 1, "nested RENAME COLUMN not supported")
          // Column resolution against parquet is NAME-based (no Iceberg
          // field IDs): existing data files keep the old physical name,
          // so a metadata-only rename would silently read every old row
          // as NULL. Refuse rather than corrupt; rewrite first.
          if (m.files.nonEmpty)
            throw new UnsupportedOperationException(
              s"RENAME COLUMN on non-empty table ${m.name}: data files resolve columns by " +
                "name, so existing rows would read back NULL. Use " +
                "graft.catalog.Maintenance.renameColumn, which rewrites the data and " +
                "commits the renamed schema atomically.")
          m.copy(schema = StructType(m.schema.fields.map(f =>
            if (f.name == ren.fieldNames.head) f.copy(name = ren.newName) else f)))
        case del: TableChange.DeleteColumn =>
          require(del.fieldNames.length == 1, "nested DROP COLUMN not supported")
          val delName = del.fieldNames.head
          // tombstone while live files still carry the physical column
          // (see AddColumn above); empty tables need none
          val tombstoned =
            if (m.files.nonEmpty)
              m.properties + (LakehouseCatalog.TombstonePrefix + delName.toLowerCase -> "true")
            else m.properties
          // dropping a GENERATED column takes its generation expression
          // with it (otherwise the end-of-fold validator refuses the
          // DDL with a misleading 'column does not exist'); expressions
          // that REFERENCE the dropped column still fail validation
          val withoutGen = tombstoned.filterNot { case (k, _) =>
            k.startsWith(GeneratedColumns.Prefix) &&
              k.drop(GeneratedColumns.Prefix.length).equalsIgnoreCase(delName)
          }
          m.copy(
            schema = StructType(m.schema.fields.filterNot(_.name == delName)),
            properties = withoutGen)
        case upd: TableChange.UpdateColumnDefaultValue =>
          // ALTER COLUMN ... SET/DROP DEFAULT changes only the
          // CURRENT_DEFAULT (future INSERTs); the EXISTS_DEFAULT stays
          // frozen — rows in files written before the column existed
          // must keep reading the value in force when it was added
          require(upd.fieldNames.length == 1, "nested ALTER COLUMN not supported")
          val updName = upd.fieldNames.head
          val i = m.schema.fieldNames.indexOf(updName)
          if (i < 0) throw new UnsupportedOperationException(
            s"ALTER COLUMN $updName: no such column on ${m.name}")
          val old = m.schema.fields(i)
          val mb2 = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(old.metadata)
          Option(upd.newDefaultValue).filter(_.nonEmpty) match {
            case Some(sql) => mb2.putString("CURRENT_DEFAULT", sql)
            case None => mb2.remove("CURRENT_DEFAULT")
          }
          m.copy(schema = StructType(m.schema.fields.updated(i,
            old.copy(metadata = mb2.build()))))
        case upd: TableChange.UpdateColumnType =>
          require(upd.fieldNames.length == 1, "nested ALTER COLUMN not supported")
          val name = upd.fieldNames.head
          val from = m.schema(name).dataType
          // Only WIDENING changes: the parquet reader upcasts old files'
          // values on read (verified int32→int64, float→double), so no
          // rewrite is needed and no value can be lost. Anything else
          // (narrowing, numeric→string, …) would need a data rewrite.
          val widens: Set[(org.apache.spark.sql.types.DataType, org.apache.spark.sql.types.DataType)] = {
            import org.apache.spark.sql.types._
            Set[(DataType, DataType)](
              (ByteType, ShortType), (ByteType, IntegerType), (ByteType, LongType),
              (ShortType, IntegerType), (ShortType, LongType),
              (IntegerType, LongType), (FloatType, DoubleType))
          }
          if (!widens.contains((from, upd.newDataType)))
            throw new UnsupportedOperationException(
              s"ALTER COLUMN $name: only widening type changes are supported " +
                s"(got ${from.simpleString} → ${upd.newDataType.simpleString})")
          m.copy(schema = StructType(m.schema.fields.map(f =>
            if (f.name == name) f.copy(dataType = upd.newDataType) else f)))
        case upd: TableChange.UpdateColumnNullability =>
          require(upd.fieldNames.length == 1, "nested ALTER COLUMN not supported")
          // relaxing to nullable is always safe; tightening would need a
          // full-table null check — refuse rather than lie
          if (!upd.nullable)
            throw new UnsupportedOperationException(
              s"ALTER COLUMN ${upd.fieldNames.head}: cannot add NOT NULL without a table scan")
          m.copy(schema = StructType(m.schema.fields.map(f =>
            if (f.name == upd.fieldNames.head) f.copy(nullable = true) else f)))
        case upd: TableChange.UpdateColumnComment =>
          require(upd.fieldNames.length == 1, "nested ALTER COLUMN not supported")
          m.copy(schema = StructType(m.schema.fields.map(f =>
            if (f.name == upd.fieldNames.head) f.withComment(upd.newComment) else f)))
        case other =>
          throw new UnsupportedOperationException(s"unsupported table change: $other")
      }
    }
    // a SET TBLPROPERTIES that declares a write sort order (or a DROP
    // COLUMN that orphans one) must fail here, not at first write
    WriteSortOrder.validate(updated.schema, updated.properties)
    // schema changes must not orphan a CHECK constraint either (e.g.
    // DROP COLUMN referenced by one): re-resolve every survivor
    CheckConstraints.validate(spark, updated.schema, updated.properties)
    GeneratedColumns.validate(spark, updated.schema, updated.properties)
    // nor an identity declaration (DROP/RETYPE of the minted column)
    IdentityColumns.validate(updated.schema, updated.properties)
    // nor an informational key constraint's local columns
    KeyConstraints.validate(updated.schema, updated.properties)
    SnapshotChange.Change("alter", schema = Some(updated.schema),
      properties = _ => updated.properties)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = tableDir(ident)
    if (!TableMetadata.exists(dir)) return false
    deleteRecursively(dir)
    RestRegistry.unregister(warehouse, relPath(ident))
    true
  }

  override def renameTable(from: Identifier, to: Identifier): Unit = {
    val fromDir = tableDir(from)
    if (!TableMetadata.exists(fromDir)) throw new NoSuchTableException(from)
    if (TableMetadata.exists(tableDir(to))) throw new TableAlreadyExistsException(to)
    if (!isNamespace(to.namespace)) throw new NoSuchNamespaceException(to.namespace)
    Files.move(fromDir, tableDir(to))
    // keep the REST listing registry in step: the old path is gone,
    // and the moved table won't re-commit (re-register) on its own
    RestRegistry.unregister(warehouse, relPath(from))
    RestRegistry.maybeRegister(tableDir(to))
  }

  private def relPath(ident: Identifier): String =
    (ident.namespace :+ ident.name).mkString("/")

  // ---- helpers -------------------------------------------------------------

  private def fullName(ident: Identifier): String =
    (catalogName +: ident.namespace :+ ident.name).mkString(".")

  private def readProps(marker: Path): Map[String, String] =
    JsonMethods.parse(Files.readString(marker)) match {
      case JObject(fields) => fields.collect { case (k, JString(v)) => k -> v }.toMap
      case _ => Map.empty
    }

  private def writeProps(marker: Path, props: Map[String, String]): Unit =
    Files.writeString(marker, JsonMethods.pretty(JsonMethods.render(
      JObject(props.toList.sortBy(_._1).map { case (k, v) => k -> JString(v): JField }))))

  private def deleteRecursively(dir: Path): Unit = Fs.deleteRecursively(dir)
}

object LakehouseCatalog {
  /** Property prefix marking a dropped column whose physical data may
    * still live in files (`graft.dropped.<lowercase-name>`); cleared
    * by any operation that rewrites every file under the current
    * schema. */
  val TombstonePrefix = "graft.dropped."

  /** The engine's reserved column namespace: MoR/CDC internals project
    * working columns under this prefix (`__graft_uf`, `__graft_pf`,
    * `__graft_relfile`, ...) with `withColumn`, which silently REPLACES
    * a same-named user column — refusing the name at DDL time turns a
    * would-be silent corruption into a create-time error. `_change_type`
    * / `_commit_version` stay legal here; the changelog reader guards
    * them at use. */
  def validateColumnNames(schema: org.apache.spark.sql.types.StructType): Unit =
    schema.fieldNames.filter(_.toLowerCase.startsWith("__graft_")) match {
      case Array() => ()
      case bad => throw new IllegalArgumentException(
        s"column name(s) ${bad.mkString(", ")} use the engine-reserved " +
          "__graft_ prefix (merge-on-read and CDC internals project " +
          "working columns under it) — rename the column(s)")
    }
}
