package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import graft.log.GwLog
import java.nio.charset.StandardCharsets
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import scala.util.Try

/**
 * SQL catalog for gwdelta tables — the reference's end-user surface
 * (reference README.md:74-84):
 *
 * {{{
 *   SET spark.sql.catalog.gw = graft.sources.GwCatalog
 *   SET spark.sql.catalog.gw.warehouse = /path/to/warehouse
 *
 *   CREATE NAMESPACE gw.guidewire;
 *   CREATE TABLE gw.guidewire.policy_holders USING gwdelta
 *     LOCATION '/path/to/db/policy_holders';
 *   SELECT * FROM gw.guidewire.policy_holders;
 *   SELECT * FROM gw.guidewire.policy_holders VERSION AS OF 2;
 *   SELECT * FROM gw.guidewire.policy_holders TIMESTAMP AS OF '...';
 * }}}
 *
 * The catalog persists only metadata-scale state: one JSON pointer file per
 * table (`<warehouse>/_catalog/<ns...>/<table>.json` holding the table
 * location) and one directory per namespace. The table's schema and file
 * set always come from its transaction log at load time, so a catalog table
 * tracks the indexer's commits with no ALTER ceremony — exactly the
 * reference's external-table semantics, where the Delta log is the single
 * source of truth and the metastore entry is just a pointer.
 *
 * Time travel implements `TableCatalog.loadTable(ident, version|timestamp)`,
 * which is what Spark's `VERSION AS OF` / `TIMESTAMP AS OF` SQL resolves to;
 * both route through the same snapshot replay as every other read surface.
 * Loaded tables are `GwDeltaTable`, so catalog reads inherit stats-based
 * file skipping and the delegated parquet scan (pushdown, vectorization,
 * AQE) unchanged.
 *
 * Writes: `INSERT INTO` appends one atomic commit and `INSERT OVERWRITE`
 * truncates-and-replaces in one commit (both via the engine's sink commit
 * path; old files stay time-travelable until vacuum). A table created with
 * declared columns is INSERT-ready before any data — the first insert
 * bootstraps its log. `DELETE FROM` / `TRUNCATE TABLE` run as stats-pruned
 * copy-on-write commits (SupportsDelete on the loaded table); row-level
 * UPDATE and MERGE are the `GwTable.update` / `GwTable.merge` API surface.
 * CDA-mirror tables remain read-only by convention (the indexer owns them).
 */
class GwCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = _
  private var warehouse: Path = _

  /** Column DEFAULT values (Delta `allowColumnDefaults`): declaring the
    * capability makes Spark's analyzer resolve `DEFAULT` in INSERT column
    * lists / VALUES from the field metadata our schema.json persists —
    * materialized BEFORE the write reaches the connector, so files always
    * carry the column physically and reads never need a fill. */
  override def capabilities(): java.util.Set[
      org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORT_COLUMN_DEFAULT_VALUE)

  private def conf: Configuration =
    SparkSession.active.sparkContext.hadoopConfiguration
  private def fs: FileSystem = warehouse.getFileSystem(conf)
  private val mapper = new ObjectMapper()

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = new Path(Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"spark.sql.catalog.$name.warehouse must be set")))
  }

  override def name(): String = catalogName

  // ---- layout: <warehouse>/_catalog/<ns...>/ dirs + <table>.json pointers

  private def metaDir(ns: Seq[String]): Path =
    ns.foldLeft(new Path(warehouse, "_catalog"))((p, n) => new Path(p, n))

  private def pointerPath(ident: Identifier): Path =
    new Path(metaDir(ident.namespace.toSeq), s"${ident.name}.json")

  private case class Pointer(location: String, managed: Boolean,
      declared: Option[StructType], partitionColumns: Seq[String],
      clusterBy: Seq[String] = Nil)

  private def readPointer(ident: Identifier): Option[Pointer] = {
    val p = pointerPath(ident)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val root = mapper.readTree(
          new String(org.apache.commons.io.IOUtils.toByteArray(in), StandardCharsets.UTF_8))
        val declared = Option(root.get("schemaJson")).map(_.asText())
          .flatMap(j => Try(org.apache.spark.sql.types.DataType.fromJson(j)
            .asInstanceOf[StructType]).toOption)
        def cols(field: String) = Option(root.get(field))
          .map(arr => (0 until arr.size()).map(arr.get(_).asText()).toSeq)
          .getOrElse(Nil)
        Some(Pointer(root.path("location").asText(),
          root.path("managed").asBoolean(false), declared,
          cols("partitionColumns"), cols("clusterBy")))
      } finally in.close()
    }
  }

  private def locationOf(ident: Identifier): String =
    readPointer(ident).map(_.location).getOrElse(throw new NoSuchTableException(ident))

  // ---- TableCatalog ----

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = metaDir(namespace.toSeq)
    if (!fs.exists(dir)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(dir).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".json"))
      .map(st => Identifier.of(namespace, st.getPath.getName.stripSuffix(".json")))
      .toArray
  }

  override def tableExists(ident: Identifier): Boolean = fs.exists(pointerPath(ident))

  override def loadTable(ident: Identifier): Table = loadAt(ident, None)

  /** `VERSION AS OF v` (Spark passes the version literal as a string). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val v = Try(version.trim.toLong).getOrElse(throw new IllegalArgumentException(
      s"gwdelta versions are numeric; got VERSION AS OF '$version'"))
    loadAt(ident, Some(v))
  }

  /** `TIMESTAMP AS OF ts` (Spark passes epoch MICROseconds). */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val log = GwLog.forTable(conf, locationOf(ident))
    loadAt(ident, Some(log.versionAtTimestamp(timestampMicros / 1000L)))
  }

  private def loadAt(ident: Identifier, version: Option[Long]): Table = {
    val pointer = readPointer(ident).getOrElse(throw new NoSuchTableException(ident))
    val location = pointer.location
    val log = GwLog.forTable(conf, location)
    val displayName = (catalogName +: ident.namespace.toSeq :+ ident.name).mkString(".")
    val seg = log.segment()
    if (seg.versions.isEmpty) {
      // registered before any commit: the table serves its DECLARED columns
      // (if any) and accepts the first INSERT, which bootstraps the log
      // (carrying the declared PARTITIONED BY layout into the metadata)
      new org.apache.spark.sql.graftbridge.GwDeltaPendingTable(
        displayName, pointer.declared.getOrElse(new StructType()), location,
        pointer.partitionColumns, pointer.clusterBy)
    } else {
      val opts = new CaseInsensitiveStringMap(java.util.Collections.singletonMap("path", location))
      new org.apache.spark.sql.graftbridge.GwDeltaTable(
        displayName, SparkSession.active, opts, log.snapshotIn(seg, version),
        writable = version.isEmpty,
        v2BatchWrite = version.isEmpty)
    }
  }

  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val ns = ident.namespace.toSeq
    if (!fs.exists(metaDir(ns))) throw new NoSuchNamespaceException(ident.namespace)
    Option(properties.get(TableCatalog.PROP_PROVIDER)).foreach { p =>
      require(p.equalsIgnoreCase("gwdelta"),
        s"GwCatalog stores gwdelta tables only; got USING $p")
    }
    // identity partition transforms (hive-style value directories, the
    // layout the log's partitionValues models) and CLUSTER BY (liquid-
    // style declared clustering: stored as the graft.clusterBy property,
    // applied by every OPTIMIZE without an explicit ZORDER BY)
    val clusterCols = partitions.toSeq.collect {
      case c: org.apache.spark.sql.connector.expressions.ClusterByTransform =>
        c.columnNames.map(_.fieldNames.mkString("."))
    }.flatten
    val partCols = partitions.toSeq
      .filterNot(_.isInstanceOf[org.apache.spark.sql.connector.expressions.ClusterByTransform])
      .map { t =>
        if (t.name == "identity" && t.references.length == 1 &&
            t.references.head.fieldNames.length == 1)
          t.references.head.fieldNames.head
        else throw new UnsupportedOperationException(
          s"gwdelta supports PARTITIONED BY (column) identity partitioning " +
            s"and CLUSTER BY (columns) only; got $t")
      }
    clusterCols.foreach(c => require(schema.isEmpty || schema.fieldNames.contains(c),
      s"CLUSTER BY column '$c' is not among the declared columns"))
    partCols.foreach(c => require(schema.isEmpty || schema.fieldNames.contains(c),
      s"partition column '$c' is not among the declared columns"))
    val explicit = Option(properties.get(TableCatalog.PROP_LOCATION))
    val location = explicit.getOrElse(
      ns.foldLeft(warehouse)((p, n) => new Path(p, n)).suffix(s"/${ident.name}").toString)
    // columns are optional: pointing at an EXISTING log needs none (the log
    // is the schema authority — declared columns must agree with it);
    // declaring columns on a fresh location makes the table INSERT-ready
    // before its first commit (GwDeltaPendingTable)
    if (schema.nonEmpty) {
      GwLog.forTable(conf, location).latestSnapshot().foreach { snap =>
        val logged = snap.schema
        require(org.apache.spark.sql.graftbridge.Bridge.sameType(
          graft.log.ColumnMapping.stripMeta(logged), schema),
          s"declared columns do not match the transaction log at $location\n" +
            s"  log:      ${logged.catalogString}\n  declared: ${schema.catalogString}")
        val loggedParts = snap.metadata.map(_.partitionColumns).getOrElse(Nil)
        require(partCols.isEmpty || partCols == loggedParts,
          s"PARTITIONED BY (${partCols.mkString(",")}) does not match the log's " +
            s"partitionColumns (${loggedParts.mkString(",")}) at $location")
      }
    }
    val node = mapper.createObjectNode()
    node.put("location", location)
    node.put("managed", explicit.isEmpty)
    node.put("createdTime", System.currentTimeMillis())
    if (schema.nonEmpty) node.put("schemaJson", schema.json)
    if (partCols.nonEmpty) {
      val arr = node.putArray("partitionColumns")
      partCols.foreach(c => arr.add(c))
    }
    if (clusterCols.nonEmpty) {
      val arr = node.putArray("clusterBy")
      clusterCols.foreach(c => arr.add(c))
    }
    // create-no-overwrite: concurrent CREATE of the same name — one wins
    val out =
      try fs.create(pointerPath(ident), /* overwrite = */ false)
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
          throw new TableAlreadyExistsException(ident)
        case _: java.io.IOException if fs.exists(pointerPath(ident)) =>
          throw new TableAlreadyExistsException(ident)
      }
    try out.write(mapper.writeValueAsString(node).getBytes(StandardCharsets.UTF_8))
    finally out.close()
    loadAt(ident, None)
  }

  /** ALTER TABLE ADD COLUMNS / RENAME COLUMN / DROP COLUMN / ALTER COLUMN
    * TYPE (lossless widening only) / SET TBLPROPERTIES / UNSET
    * TBLPROPERTIES — the schema evolution and property changes the log
    * supports natively (all metadata-only commits; old files null-fill or
    * up-convert at scan time, and `graft.constraints.*` properties become
    * write-path CHECK constraints validated at set time). Everything else
    * would orphan or misread existing file data and stays unsupported. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val unsupported = changes.filterNot(c =>
      c.isInstanceOf[TableChange.AddColumn] ||
        c.isInstanceOf[TableChange.SetProperty] ||
        c.isInstanceOf[TableChange.RemoveProperty] ||
        c.isInstanceOf[TableChange.RenameColumn] ||
        c.isInstanceOf[TableChange.DeleteColumn] ||
        c.isInstanceOf[TableChange.UpdateColumnType] ||
        c.isInstanceOf[TableChange.UpdateColumnDefaultValue])
    if (unsupported.nonEmpty)
      throw new UnsupportedOperationException(
        "gwdelta supports ALTER TABLE ADD COLUMNS, RENAME COLUMN, " +
          "DROP COLUMN, ALTER COLUMN TYPE (widening) and SET/UNSET " +
          s"TBLPROPERTIES only; got: ${unsupported.mkString(", ")}")
    val renames = changes.collect { case r: TableChange.RenameColumn =>
      require(r.fieldNames.length == 1,
        s"cannot rename a nested field: ${r.fieldNames.mkString(".")}")
      r.fieldNames.head -> r.newName
    }
    val drops = changes.collect { case d: TableChange.DeleteColumn =>
      require(d.fieldNames.length == 1,
        s"cannot drop a nested field: ${d.fieldNames.mkString(".")}")
      d.fieldNames.head
    }
    val widens = changes.collect { case w: TableChange.UpdateColumnType =>
      require(w.fieldNames.length == 1,
        s"cannot retype a nested field: ${w.fieldNames.mkString(".")}")
      w.fieldNames.head -> w.newDataType
    }
    val defaults = changes.collect { case d: TableChange.UpdateColumnDefaultValue =>
      require(d.fieldNames.length == 1,
        s"cannot default a nested field: ${d.fieldNames.mkString(".")}")
      // SET DEFAULT expr -> Some(sql); DROP DEFAULT arrives as null/""
      // (read the structured DefaultValue first — the string accessor is
      // not populated on newer Spark)
      val sql = Option(d.newCurrentDefault()).map(_.getSql)
        .orElse(Option(d.newDefaultValue())).filter(s => s != null && s.nonEmpty)
      d.fieldNames.head -> sql
    }
    val adds = changes.collect { case a: TableChange.AddColumn =>
      require(a.fieldNames.length == 1,
        s"cannot add a nested field: ${a.fieldNames.mkString(".")}")
      // Delta's restriction: a default on a NEW column would need a
      // read-time fill for every pre-existing file (EXISTS_DEFAULT) —
      // defaults attach at CREATE or via ALTER COLUMN SET DEFAULT only
      require(a.defaultValue() == null,
        s"cannot ADD COLUMN '${a.fieldNames.head}' WITH DEFAULT: existing " +
          "files would need a read-time fill; add the column, then " +
          "ALTER COLUMN ... SET DEFAULT for future inserts")
      org.apache.spark.sql.types.StructField(a.fieldNames.head, a.dataType, nullable = true)
    }
    val sets = changes.collect { case s: TableChange.SetProperty =>
      s.property -> s.value }
    val removes = changes.collect { case r: TableChange.RemoveProperty => r.property }
    val spark = SparkSession.active
    val table = graft.GwTable.forPath(spark, locationOf(ident))
    if (adds.nonEmpty) table.addColumns(adds: _*)
    renames.foreach { case (from, to) => table.renameColumn(from, to) }
    drops.foreach(table.dropColumn)
    widens.foreach { case (name, to) => table.widenColumn(name, to) }
    defaults.foreach { case (name, sql) => table.setColumnDefault(name, sql) }
    if (sets.nonEmpty || removes.nonEmpty)
      table.updateProperties(sets.toMap, removes.toSeq)
    loadAt(ident, None)
  }

  override def dropTable(ident: Identifier): Boolean =
    readPointer(ident) match {
      case None => false
      case Some(Pointer(location, managed, _, _, _)) =>
        // external tables: drop the pointer only — the data and its log
        // belong to the indexer (shallow-clone semantics). Managed tables
        // (no LOCATION given) own their directory, so drop reclaims it.
        if (managed) fs.delete(new Path(location), true)
        fs.delete(pointerPath(ident), false)
    }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    if (!fs.exists(metaDir(newIdent.namespace.toSeq)))
      throw new NoSuchNamespaceException(newIdent.namespace)
    require(fs.rename(pointerPath(oldIdent), pointerPath(newIdent)),
      s"rename failed: $oldIdent -> $newIdent")
  }

  // ---- SupportsNamespaces ----

  override def listNamespaces(): Array[Array[String]] = listNamespaces(Array.empty)

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    val dir = metaDir(namespace.toSeq)
    if (!fs.exists(dir)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(dir).toSeq
      .filter(_.isDirectory)
      .map(st => namespace :+ st.getPath.getName)
      .toArray
  }

  override def loadNamespaceMetadata(namespace: Array[String]): java.util.Map[String, String] = {
    if (!fs.exists(metaDir(namespace.toSeq))) throw new NoSuchNamespaceException(namespace)
    java.util.Collections.emptyMap()
  }

  override def createNamespace(
      namespace: Array[String],
      metadata: java.util.Map[String, String]): Unit = {
    val dir = metaDir(namespace.toSeq)
    if (fs.exists(dir)) throw new NamespaceAlreadyExistsException(namespace)
    fs.mkdirs(dir)
    ()
  }

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("GwCatalog namespaces carry no metadata")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val dir = metaDir(namespace.toSeq)
    if (!fs.exists(dir)) throw new NoSuchNamespaceException(namespace)
    if (!cascade)
      require(fs.listStatus(dir).isEmpty,
        s"namespace ${namespace.mkString(".")} is not empty (use CASCADE)")
    else {
      // CASCADE must honor per-table drop semantics — in particular delete
      // MANAGED tables' data dirs, which only their pointer files know about
      def dropAll(ns: Array[String]): Unit = {
        listTables(ns).foreach(dropTable)
        listNamespaces(ns).foreach(dropAll)
      }
      dropAll(namespace)
    }
    fs.delete(dir, true)
  }
}
