package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** CATALOG-NAMED graft tables — the DSv2 `TableCatalog` that makes the
  * versioned tier addressable like a production system instead of a
  * path library: register once
  * (`spark.sql.catalog.graft=graft.sources.GraftCatalog`,
  * `spark.sql.catalog.graft.warehouse=<dir>`) and then
  *
  *  - `CREATE TABLE graft.db.t (a INT, ...) [LOCATION '<path>']`
  *  - `SELECT * FROM graft.db.t [VERSION AS OF v | TIMESTAMP AS OF ts]`
  *  - `INSERT INTO / MERGE INTO / DELETE FROM / UPDATE / OPTIMIZE /
  *     VACUUM / RESTORE / ALTER TABLE / CLONE graft.db.t`
  *    (via [[graft.functions.GraftSqlParser]], which resolves the name
  *    through this catalog's warehouse layout and routes to the SAME
  *    [[graft.ops.SinkOps]] bodies as the path-addressed verbs)
  *
  * all route BY NAME — no path string in any statement, so a typo'd
  * name is a loud `NoSuchTableException` instead of a silently new
  * empty table (the #1 misuse class of a pure path API). The
  * path-addressed `graft_table(...)` / `graft_version(...)` surfaces
  * stay as the escape hatch; name and path reads are bit-identical by
  * construction (both are [[graft.ops.SinkOps.readVersion]]).
  *
  * Metadata model — intentionally metastore-free, like the table tier
  * itself: a table named `db.t` lives at `<warehouse>/db/t`. That
  * directory IS the table root (manifest/, data/, sidecars) for
  * managed tables; a table created with LOCATION records the external
  * root in one `_location.txt` line and keeps only catalog metadata in
  * the warehouse. The declared schema is kept as `_schema.json` for
  * DESCRIBE/SELECT before the first commit; once versions exist the
  * schema is ALWAYS the head snapshot's (one source of truth — the
  * manifest fold, including renames/drops). A directory holding a
  * `manifest/` (e.g. the target of a CLONE by name) is a table without
  * any CREATE — the catalog discovers it, because the manifest is the
  * table.
  *
  * Reads do NOT go through a DSv2 scan: [[GraftTable]] carries no read
  * capability, and [[GraftTableResolutionRule]] (injected by
  * [[graft.functions.GraftExtensions]]) replaces its relation with the
  * ANALYZED [[graft.ops.SinkOps.readVersion]] plan during resolution —
  * so a named read IS the path read (epoch-grouped DV anti-joins,
  * schema evolution, time travel), with Catalyst pushing
  * filters/pruning into it like any other plan. Implementing the
  * resolve as a custom Scan would have re-implemented the fold worse:
  * a DSv2 Scan is a leaf and cannot express the anti-join.
  *
  * Scale: every catalog operation is O(1) driver filesystem calls
  * (list/create/delete of one directory or marker file); nothing here
  * touches data.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = _
  private var warehousePath: String = _

  /** Test seam: invoked between CREATE's existence guard and its
    * no-overwrite `_schema.json` commit point, so specs can
    * interleave a competing CREATE deterministically (the repo's
    * beforeAttempt discipline — a thread race on the local FS tests
    * the filesystem's TOCTOU window, not this code). Production
    * leaves it defaulted.
    */
  private[graft] var createTableSeam: () => Unit = () => ()

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehousePath = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"graft catalog '$name' needs a warehouse: set " +
          s"spark.sql.catalog.$name.warehouse=<dir>"))
  }

  override def name(): String = catalogName

  private def spark: SparkSession = SparkSession.active

  private def fs: org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(warehousePath)
      .getFileSystem(spark.sessionState.newHadoopConf())

  private def nsPath(ns: Seq[String]): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path((warehousePath +: ns).mkString("/"))

  private def tableDir(ident: Identifier): org.apache.hadoop.fs.Path = {
    require(ident.namespace.length == 1,
      s"graft catalog namespaces are one level: db.table, got " +
        s"${ident.namespace.mkString(".")}.${ident.name}")
    new org.apache.hadoop.fs.Path(nsPath(ident.namespace.toSeq),
      ident.name)
  }

  /** A directory is a table iff it was CREATEd (`_schema.json`) or is
    * a versioned-table root (`manifest/` — e.g. a CLONE target).
    */
  private def isTable(dir: org.apache.hadoop.fs.Path): Boolean =
    fs.exists(new org.apache.hadoop.fs.Path(dir, "_schema.json")) ||
      fs.exists(new org.apache.hadoop.fs.Path(dir, "manifest"))

  /** The table ROOT a name resolves to: the external `_location.txt`
    * target when present, else the warehouse directory itself.
    */
  private def rootOf(dir: org.apache.hadoop.fs.Path): String = {
    val link = new org.apache.hadoop.fs.Path(dir, "_location.txt")
    if (!fs.exists(link)) dir.toString
    else {
      val in = fs.open(link)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    }
  }

  private def declaredSchema(dir: org.apache.hadoop.fs.Path)
      : Option[StructType] = {
    val sf = new org.apache.hadoop.fs.Path(dir, "_schema.json")
    if (!fs.exists(sf)) None
    else {
      val in = fs.open(sf)
      val json = try scala.io.Source.fromInputStream(in, "UTF-8")
        .mkString
      finally in.close()
      Some(org.apache.spark.sql.types.DataType.fromJson(json)
        .asInstanceOf[StructType])
    }
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val p = nsPath(namespace.toSeq)
    if (!fs.exists(p)) throw new NoSuchNamespaceException(
      (catalogName +: namespace).toSeq)
    fs.listStatus(p).filter(_.isDirectory)
      .filter(st => isTable(st.getPath))
      .map(st => Identifier.of(namespace, st.getPath.getName))
  }

  override def loadTable(ident: Identifier): Table =
    loadTableAt(ident, None, None)

  /** `VERSION AS OF <v>` on a named table. */
  override def loadTable(ident: Identifier, version: String): Table =
    loadTableAt(ident, Some(version.toIntOption.getOrElse(
      throw new IllegalArgumentException(
        s"graft table versions are integers: VERSION AS OF $version"))),
      None)

  /** `TIMESTAMP AS OF <t>` on a named table — Spark hands the catalog
    * MICROseconds; the manifest `ts:` stamps are millis.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    loadTableAt(ident, None, Some(timestamp / 1000L))

  private def loadTableAt(ident: Identifier, asOfVersion: Option[Int],
                          asOfTsMillis: Option[Long]): Table = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    GraftTable(s"$catalogName.${ident.namespace.mkString(".")}." +
        ident.name,
      rootOf(dir), declaredSchema(dir), asOfVersion, asOfTsMillis)
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    require(partitions.isEmpty,
      "graft tables declare partitioning per commit (INSERT ... " +
        "PARTITIONED BY / CommitSpec layout = Partitioned), not at " +
        "CREATE TABLE")
    val dir = tableDir(ident)
    if (isTable(dir)) throw new TableAlreadyExistsException(ident)
    fs.mkdirs(dir)
    createTableSeam()
    // `_schema.json` is the CREATE's commit point and is created
    // no-overwrite (every other commit path's discipline — r14
    // VERDICT #4): two concurrent CREATEs of the same name serialize
    // on the filesystem create (atomic on HDFS/object stores; the
    // local-FS TOCTOU window is the filesystem's, not ours), the
    // loser maps to the same loud TableAlreadyExistsException the
    // non-racing path throws, and it runs BEFORE the location link so
    // a losing external CREATE can never clobber the winner's
    // `_location.txt`.
    val out =
      try fs.create(
        new org.apache.hadoop.fs.Path(dir, "_schema.json"), false)
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
          throw new TableAlreadyExistsException(ident)
      }
    try out.write(schema.json
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val loc = Option(properties.get(TableCatalog.PROP_LOCATION))
    loc.foreach { l =>
      val lout = fs.create(
        new org.apache.hadoop.fs.Path(dir, "_location.txt"), true)
      try lout.write(
        l.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally lout.close()
    }
    GraftTable(s"$catalogName.${ident.namespace.mkString(".")}." +
        ident.name,
      rootOf(dir), Some(schema), None, None)
  }

  /** `ALTER TABLE graft.db.t RENAME/DROP COLUMN` through Spark's v2
    * ALTER path — routed to the SAME manifest op lines as the
    * path-addressed verbs (zero data IO). Anything else refuses
    * loudly; schema evolution here is exactly what the manifest fold
    * implements, never a silent metadata-only edit.
    */
  override def alterTable(ident: Identifier,
                          changes: TableChange*): Table = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    val root = rootOf(dir)
    changes.foreach {
      case rc: TableChange.RenameColumn =>
        require(rc.fieldNames.length == 1,
          "graft tables have no nested columns to rename")
        graft.ops.SinkOps.renameVersionColumn(spark, root,
          rc.fieldNames.head, rc.newName)
      case dc: TableChange.DeleteColumn =>
        require(dc.fieldNames.length == 1,
          "graft tables have no nested columns to drop")
        graft.ops.SinkOps.dropVersionColumn(spark, root,
          dc.fieldNames.head)
      case ut: TableChange.UpdateColumnType =>
        require(ut.fieldNames.length == 1,
          "graft tables have no nested columns to widen")
        graft.ops.SinkOps.widenVersionColumn(spark, root,
          ut.fieldNames.head, ut.newDataType.catalogString)
      case other => throw new UnsupportedOperationException(
        s"graft catalog supports RENAME/DROP COLUMN and ALTER COLUMN " +
          s"TYPE (widening); got $other — data-shaped changes go " +
          "through commits")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = tableDir(ident)
    if (!isTable(dir)) false
    // External table: drop removes the NAME (catalog dir with its
    // link + schema markers), never the external data — the standard
    // external-table contract. Managed: the dir is the data; it goes.
    else fs.delete(dir, true)
  }

  override def renameTable(oldIdent: Identifier,
                           newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "graft catalog does not rename tables: shallow-clone to the new " +
        "name (CLONE graft.db.old TO graft.db.new) and drop the old — " +
        "a rename under live readers is a race the manifest tier " +
        "refuses to paper over")

  // ---- namespaces (one level: a warehouse subdirectory) ----

  override def listNamespaces(): Array[Array[String]] = {
    val p = new org.apache.hadoop.fs.Path(warehousePath)
    if (!fs.exists(p)) Array.empty
    else fs.listStatus(p).filter(_.isDirectory)
      .map(st => Array(st.getPath.getName))
  }

  override def listNamespaces(namespace: Array[String])
      : Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(
      (catalogName +: namespace).toSeq)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.length == 1 && fs.exists(nsPath(namespace.toSeq))

  override def loadNamespaceMetadata(namespace: Array[String])
      : util.Map[String, String] =
    if (namespaceExists(namespace)) Map.empty[String, String].asJava
    else throw new NoSuchNamespaceException(
      (catalogName +: namespace).toSeq)

  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String])
      : Unit = {
    require(namespace.length == 1,
      s"graft catalog namespaces are one level, got " +
        namespace.mkString("."))
    if (namespaceExists(namespace))
      throw new NamespaceAlreadyExistsException(catalogName +: namespace)
    fs.mkdirs(nsPath(namespace.toSeq))
  }

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft catalog namespaces carry no mutable metadata")

  override def dropNamespace(namespace: Array[String],
                             cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace)) false
    else {
      if (!cascade) require(listTables(namespace).isEmpty,
        s"namespace ${namespace.mkString(".")} is not empty — " +
          "DROP ... CASCADE to drop its tables too")
      fs.delete(nsPath(namespace.toSeq), true)
    }
  }
}

object GraftCatalog {

  /** Is `cat` a graft catalog on this session? (The parser's intercept
    * guard: statements naming other catalogs flow to the delegate
    * untouched.)
    */
  def isGraftCatalog(spark: SparkSession, cat: String): Boolean =
    spark.conf.getOption(s"spark.sql.catalog.$cat")
      .contains(classOf[GraftCatalog].getName)

  /** Does `cat.db.t` exist in the warehouse layout? (CREATE-shaped
    * verbs' guard: CTAS must refuse an existing table loudly.)
    */
  /** The warehouse of catalog `cat` AS THE LOADED INSTANCE sees it.
    * Spark's CatalogManager caches catalog instances with the
    * warehouse pinned at `initialize`, so a raw conf read here could
    * silently diverge from what catalog-served SELECTs use if
    * `spark.sql.catalog.<cat>.warehouse` is re-pointed mid-session
    * (ADVICE r14): parser-routed DML and catalog reads must share ONE
    * source of truth — the instance. (First use loads the catalog,
    * pinning the current conf; the conf is effectively immutable
    * after that, exactly Spark's own catalog semantics.)
    */
  private def loadedWarehouse(spark: SparkSession,
                              cat: String): String =
    spark.sessionState.catalogManager.catalog(cat) match {
      case g: GraftCatalog => g.warehousePath
      case other => throw new IllegalArgumentException(
        s"catalog '$cat' is not a graft catalog " +
          s"(${other.getClass.getName})")
    }

  def tableExistsAt(spark: SparkSession, cat: String, db: String,
                    table: String): Boolean = {
    val wh = loadedWarehouse(spark, cat)
    val dir = new org.apache.hadoop.fs.Path(s"$wh/$db/$table")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    fs.exists(new org.apache.hadoop.fs.Path(dir, "_schema.json")) ||
      fs.exists(new org.apache.hadoop.fs.Path(dir, "manifest"))
  }

  /** Resolve `cat.db.t` to its table ROOT through the warehouse layout
    * (external `_location.txt` honored) — the name→path half the DML
    * parser shares with the catalog. `mustExist = false` serves CREATE
    * targets (CLONE destination).
    */
  def tableRoot(spark: SparkSession, cat: String, db: String,
                table: String, mustExist: Boolean = true): String = {
    val wh = loadedWarehouse(spark, cat)
    val dir = new org.apache.hadoop.fs.Path(s"$wh/$db/$table")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val link = new org.apache.hadoop.fs.Path(dir, "_location.txt")
    val schemaMarker = new org.apache.hadoop.fs.Path(dir, "_schema.json")
    val manifest = new org.apache.hadoop.fs.Path(dir, "manifest")
    if (mustExist)
      require(fs.exists(schemaMarker) || fs.exists(manifest),
        s"table $cat.$db.$table not found in warehouse $wh — " +
          "CREATE TABLE it first (a typo'd name must never become a " +
          "silently new table)")
    if (!fs.exists(link)) dir.toString
    else {
      val in = fs.open(link)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    }
  }
}

/** The catalog's Table handle: name, root, schema — and a DECLARATIVE
  * read capability only: BATCH_READ is advertised so the format/load
  * path accepts the table, but the scan builder itself REFUSES —
  * every read resolves through [[GraftTableResolutionRule]] into the
  * full [[graft.ops.SinkOps.readVersion]] plan before planning ever
  * asks for a scan (a DSv2 Scan is a leaf and cannot express the DV
  * anti-join fold), and writes route through the DML parser to the
  * SinkOps bodies. A session missing the graft extensions hits the
  * loud scan refusal instead of a silent wrong read. The schema is
  * the HEAD snapshot's once versions exist (the manifest fold is the
  * one source of truth, renames/drops/widens included), else the
  * CREATE-declared schema.
  */
case class GraftTable(identName: String, root: String,
                      declared: Option[StructType],
                      asOfVersion: Option[Int],
                      asOfTsMillis: Option[Long])
    extends Table with SupportsRead {

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder =
    throw new IllegalStateException(
      s"graft table $identName reached the DSv2 scan path — reads " +
        "resolve through GraftTableResolutionRule; register " +
        "spark.sql.extensions=graft.functions.GraftExtensions")

  override def name(): String = identName

  override lazy val schema: StructType = {
    val spark = SparkSession.active
    if (graft.ops.SinkOps.currentVersion(spark, root) >= 1)
      snapshot(spark).schema
    else declared.getOrElse(throw new IllegalArgumentException(
      s"table $identName at $root has no commits and no declared " +
        "schema — CREATE TABLE with columns or commit a first version"))
  }

  /** The snapshot this handle addresses (head / VERSION AS OF /
    * TIMESTAMP AS OF) — what the resolution rule splices in.
    */
  def snapshot(spark: SparkSession)
      : org.apache.spark.sql.DataFrame = asOfVersion match {
    case Some(v) => graft.ops.SinkOps.readVersion(spark, root, Some(v))
    case None => asOfTsMillis match {
      case Some(ts) => graft.ops.SinkOps.readVersionAsOf(spark, root, ts)
      case None => graft.ops.SinkOps.readVersion(spark, root)
    }
  }

  override def capabilities(): util.Set[TableCapability] =
    util.Collections.singleton(TableCapability.BATCH_READ)

  override def properties(): util.Map[String, String] =
    Map(TableCatalog.PROP_LOCATION -> root,
      TableCatalog.PROP_PROVIDER -> "graft").asJava
}
