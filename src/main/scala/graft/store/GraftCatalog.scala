package graft.store

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, ProcedureCatalog, SupportsNamespaces, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.constraints.Check
import org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.{DataFrame, SparkSession}

/** DSv2 `TableCatalog` over MergeStore tables — the engine's SQL front
  * door. Registered as
  * `spark.sql.catalog.graft = graft.store.GraftCatalog` (GraftSession
  * sets it), it makes every statement the reference's BI-facing
  * consumers speak (`architecture.md:152-158` — pure SQL over named
  * tables) work against the transactional format:
  *
  *   - `SELECT ... FROM graft.db.t [VERSION AS OF n | TIMESTAMP AS OF ts]`
  *     — planned through [[GraftFileIndex]] by [[GraftResolution]], so
  *     manifest stats/bloom skipping, deletion vectors, and column
  *     mapping apply to ANY spark.sql text for free.
  *   - `INSERT INTO` / `INSERT OVERWRITE` / `df.writeTo(...).append()`
  *     — Spark's analyzer aligns and casts the input, then the V1 write
  *     fallback dispatches to [[MergeStore.append]] /
  *     [[MergeStore.overwriteTable]] (the table declares
  *     `V1_BATCH_WRITE`; no second write path exists).
  *   - `UPDATE / DELETE FROM / MERGE INTO` — resolved by Spark's own
  *     analyzer against this catalog, then [[GraftResolution]] converts
  *     the resolved DML plan into a command dispatching the MergeStore
  *     verbs (conditions re-resolve inside the verb's plan).
  *   - `CREATE TABLE [AS SELECT]`, `DROP`, `ALTER TABLE ADD/DROP/RENAME
  *     COLUMN`, `SHOW TABLES` — mapped to [[MergeStore.create]] /
  *     directory ops / the schema-evolution verbs.
  *
  * Table resolution: an explicit [[GraftCatalog.register]] entry
  * (tests, external paths) wins; otherwise
  * `<warehouse>/<namespace...>/<table>` under the catalog's
  * `warehouse` option. At 100 TB the catalog itself stays O(1) per
  * lookup — it holds name → path only; all data/metadata scale lives
  * in the manifest machinery behind it. */
class GraftCatalog extends TableCatalog with SupportsNamespaces
  with ProcedureCatalog
  with org.apache.spark.sql.connector.catalog.StagingTableCatalog {

  private var catalogName: String = "graft"
  private var confWarehouse: Option[String] = None

  /** `spark.sql.catalog.<name>.warehouse` wins; the system property is
    * the late-bound fallback (the catalog instance is cached per
    * session, so tests point it at a temp dir after session build). */
  private def warehouse: Option[String] = confWarehouse
    .orElse(Option(System.getProperty("graft.catalog.warehouse")))

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    confWarehouse = Option(options.get("warehouse"))
  }

  override def name(): String = catalogName

  /** CREATE TABLE may declare CHECK constraints and column DEFAULT
    * values in the DDL (the TableInfo route below); without these
    * capabilities the analyzer refuses the statements outright.
    * Defaults ride the schema's field metadata (Spark's
    * CURRENT_DEFAULT / EXISTS_DEFAULT keys), which the manifest's
    * recorded schema JSON persists verbatim — the analyzer then fills
    * omitted columns and the explicit DEFAULT keyword on INSERT. */
  override def capabilities()
      : java.util.Set[org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.EnumSet.of(org.apache.spark.sql.connector.catalog
      .TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT,
      org.apache.spark.sql.connector.catalog
        .TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  private def key(ident: Identifier): String =
    (ident.namespace() :+ ident.name()).mkString(".")

  private def warehousePath(ident: Identifier): Option[String] =
    warehouse.map(w =>
      Paths.get(w, ident.namespace() :+ ident.name(): _*).toString)

  /** Registered path if any, else the warehouse-derived location. */
  private def pathOf(ident: Identifier): Option[String] =
    Option(GraftCatalog.registry.get(key(ident))).orElse(warehousePath(ident))

  override def tableExists(ident: Identifier): Boolean =
    pathOf(ident).exists(MergeStore.exists)

  /** Resolve a procedure argument's `'db.t'` spelling to the table's
    * location — the same registration-then-warehouse order as table
    * loads. Existence is the caller's contract (a clone DEST must not
    * exist yet). */
  private[store] def tablePath(name: String): String = {
    val parts = name.split('.').filter(_.nonEmpty)
    require(parts.length >= 2,
      s"table argument '$name' must be namespaced, e.g. 'db.orders'")
    val ident = Identifier.of(parts.init, parts.last)
    pathOf(ident).getOrElse(throw new NoSuchTableException(ident))
  }

  // --- ProcedureCatalog: CALL graft.system.<proc>(...) ---

  override def loadProcedure(ident: Identifier): UnboundProcedure =
    GraftProcedures.load(this, ident)

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    GraftProcedures.list(namespace)

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val ns = namespace.mkString(".")
    val registered = GraftCatalog.registry.asScala.keys
      .filter { k =>
        val parts = k.split('.')
        parts.init.mkString(".") == ns
      }
      .map(k => Identifier.of(namespace, k.split('.').last)).toSeq
    val fromWarehouse = warehouse.toSeq.flatMap { w =>
      val dir = Paths.get(w, namespace: _*)
      if (!Files.isDirectory(dir)) Seq.empty[Identifier]
      else Files.list(dir).iterator().asScala
        .filter(p => MergeStore.exists(p.toString))
        .map(p => Identifier.of(namespace, p.getFileName.toString)).toSeq
    }
    (registered ++ fromWarehouse).distinct.toArray
  }

  override def loadTable(ident: Identifier): Table =
    pathOf(ident).filter(MergeStore.exists) match {
      case Some(p) => GraftTable(key(ident), p, None)
      case None => throw new NoSuchTableException(ident)
    }

  /** `VERSION AS OF n` — a version-pinned table. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val t = loadTable(ident).asInstanceOf[GraftTable]
    val v = try version.toInt catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"VERSION AS OF wants the integer manifest version; got '$version'")
    }
    require(MergeStore.versionRetained(t.path, v),
      s"version $v of ${key(ident)} is not retained (vacuumed or never " +
        "committed)")
    t.copy(pinnedVersion = Some(v))
  }

  /** `TIMESTAMP AS OF ts` — `timestamp` arrives in MICROseconds. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val t = loadTable(ident).asInstanceOf[GraftTable]
    val v = MergeStore.versionAt(t.path, timestamp / 1000L)
      .getOrElse(throw new IllegalArgumentException(
        s"no commit of ${key(ident)} at or before timestamp $timestamp"))
    t.copy(pinnedVersion = Some(v))
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: java.util.Map[String, String])
      : Table = {
    // PARTITIONED BY (col, ...): identity transforms map onto the
    // format's own pruning machinery — the columns join the manifest
    // skip index (stats cols), so `WHERE year = 2024` prunes files the
    // way a Hive partition would prune directories, without the
    // small-file explosion per partition value. Non-identity
    // transforms (bucket, days, ...) keep the loud refusal: the format
    // has no directory layout to apply them to.
    val partitionCols = partitions.map {
      case t if t.name == "identity" && t.references().length == 1 =>
        t.references()(0).fieldNames().mkString(".")
      case other => throw new UnsupportedOperationException(
        s"PARTITIONED BY transform '$other' is not supported — " +
          "MergeStore tables prune by the manifest skip index; plain " +
          "PARTITIONED BY (col) maps onto it, transforms do not")
    }.toSeq
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val p = pathOf(ident).getOrElse(throw new IllegalStateException(
      s"no location for ${key(ident)}: configure " +
        s"spark.sql.catalog.$catalogName.warehouse or register the " +
        "table path explicitly (GraftCatalog.register)"))
    val props = properties.asScala
    MergeStore.create(p, schema,
      statsCols = (props.get("graft.stats.cols").toSeq
        .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty) ++
        partitionCols).distinct,
      bloomCols = props.get("graft.bloom.cols").toSeq
        .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty),
      bloomFpp = props.get("graft.bloom.fpp").map(_.toDouble)
        .getOrElse(0.01),
      // TBLPROPERTIES('graft.mor'/'graft.pk'): durable policy —
      // carried like constraints through every verb commit.
      mor = props.get("graft.mor").exists(_.toBoolean),
      pk = props.get("graft.pk").toSeq
        .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty),
      ckptFormat = props.get("graft.ckpt.format"),
      ckptInterval = props.get("graft.ckpt.interval").map(_.toInt))
    GraftTable(key(ident), p, None)
  }

  override def alterTable(ident: Identifier,
                          changes: TableChange*): Table = {
    val t = loadTable(ident).asInstanceOf[GraftTable]
    val spark = SparkSession.active
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames().length == 1,
          "nested ADD COLUMN is not supported")
        // ADD COLUMN ... DEFAULT refuses (Delta's contract): existing
        // rows null-fill by the missing-column rule, and a DEFAULT
        // that old rows silently ignore is a wrong-answer trap. Add
        // the column, then ALTER COLUMN ... SET DEFAULT — which is
        // explicit that only FUTURE inserts see it.
        if (add.defaultValue() != null)
          throw new UnsupportedOperationException(
            "ADD COLUMN with DEFAULT is not supported (rows written " +
              "before the column read NULL, not the default): ADD the " +
              "column, then ALTER COLUMN ... SET DEFAULT for future " +
              "inserts")
        MergeStore.addColumn(spark, t.path, add.fieldNames()(0),
          add.dataType()): Unit
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames().length == 1,
          "nested DROP COLUMN is not supported")
        MergeStore.dropColumn(spark, t.path, del.fieldNames()(0)): Unit
      case ren: TableChange.RenameColumn =>
        require(ren.fieldNames().length == 1,
          "nested RENAME COLUMN is not supported")
        MergeStore.renameColumn(spark, t.path, ren.fieldNames()(0),
          ren.newName()): Unit
      case ac: TableChange.AddConstraint => ac.constraint() match {
        case c: Check =>
          MergeStore.addConstraint(spark, t.path, c.name(),
            c.predicateSql()): Unit
        case p: org.apache.spark.sql.connector.catalog.constraints.PrimaryKey =>
          // Informational key policy (Delta's shape): records graft.pk
          // for table_changes / streaming helpers; NOT uniqueness-
          // enforced — the merge verbs' pk argument is the contract.
          MergeStore.setPolicy(t.path, "graft.pk",
            Some(p.columns().map(_.fieldNames().mkString("."))
              .mkString(","))): Unit
        case other => throw new UnsupportedOperationException(
          s"constraint ${other.toDDL} is not supported — MergeStore " +
            "enforces CHECK constraints and records PRIMARY KEY as the " +
            "graft.pk key policy; FOREIGN KEY/UNIQUE are unenforced")
      }
      case dc: TableChange.DropConstraint =>
        if (!dc.ifExists() ||
            MergeStore.constraints(t.path).contains(dc.name()))
          MergeStore.dropConstraint(spark, t.path, dc.name()): Unit
      case ud: TableChange.UpdateColumnDefaultValue =>
        require(ud.fieldNames().length == 1,
          "nested ALTER COLUMN is not supported")
        MergeStore.setColumnDefault(spark, t.path, ud.fieldNames()(0),
          Option(ud.newDefaultValue()).filter(_.nonEmpty)): Unit
      case sp: TableChange.SetProperty =>
        MergeStore.setPolicy(t.path, sp.property(),
          Some(sp.value())): Unit
      case rp: TableChange.RemoveProperty =>
        MergeStore.setPolicy(t.path, rp.property(), None): Unit
      case other => throw new UnsupportedOperationException(
        s"ALTER TABLE change ${other.getClass.getSimpleName} is not " +
          "supported — layout changes go through the Scala API " +
          "(MergeStore.compact clusterBy/zorderBy)")
    }
    loadTable(ident)
  }

  /** CREATE TABLE with in-DDL constraints — Spark 4.1's TableInfo
    * route. `CONSTRAINT ck CHECK (...)` becomes an enforced policy
    * (the table is empty at creation, so the add-constraint validation
    * scan is trivially clean); `PRIMARY KEY (cols)` becomes the
    * durable `graft.pk` key policy — informational, like Delta's, NOT
    * uniqueness-enforced (the merge verbs' pk argument is the enforced
    * contract) — which feeds `table_changes` and the streaming
    * helpers. FOREIGN KEY / UNIQUE refuse loudly. */
  override def createTable(ident: Identifier,
                           info: org.apache.spark.sql.connector.catalog.TableInfo)
      : Table = {
    // Validate constraint KINDS before anything commits: a refusal
    // after the 4-arg create would leave a table behind whose CREATE
    // reportedly failed (the retry then hits TableAlreadyExists).
    val checks = info.constraints().collect { case c: Check => c }
    val pks = info.constraints().collect {
      case p: org.apache.spark.sql.connector.catalog.constraints.PrimaryKey =>
        p.columns().map(_.fieldNames().mkString(".")).toSeq
    }
    info.constraints().foreach {
      case _: Check => ()
      case _: org.apache.spark.sql.connector.catalog.constraints.PrimaryKey => ()
      case other => throw new UnsupportedOperationException(
        s"constraint ${other.toDDL} is not supported — MergeStore " +
          "enforces CHECK constraints; PRIMARY KEY records the " +
          "graft.pk key policy; FOREIGN KEY/UNIQUE are unenforced")
    }
    require(pks.length <= 1,
      "at most one PRIMARY KEY constraint per table")
    val props = new java.util.HashMap[String, String](info.properties())
    pks.headOption.foreach { cols =>
      if (!props.containsKey("graft.pk"))
        props.put("graft.pk", cols.mkString(",")): Unit
    }
    val t = createTable(ident, info.schema(), info.partitions(), props)
    val spark = SparkSession.active
    checks.foreach(c => MergeStore.addConstraint(spark,
      t.asInstanceOf[GraftTable].path, c.name(), c.predicateSql()): Unit)
    t
  }

  // --- StagingTableCatalog: atomic CTAS / REPLACE / CREATE OR REPLACE ---
  //
  // Spark prefers the staged forms when the catalog offers them; the
  // payoff here is REPLACE TABLE [AS SELECT] with the format's own
  // semantics — ONE commit on the existing manifest chain carrying
  // the new definition whole (schema, content, reset policies), so
  // time travel below the replace still reads the old table — where
  // the non-staging fallback would drop+recreate and erase the log.
  // The staged CREATE writes into the final location only at
  // commitStagedChanges (an abort leaves nothing behind).

  private def staged(ident: Identifier, schema: StructType,
                     partitions: Array[Transform],
                     properties: java.util.Map[String, String],
                     checks: Seq[Check], pk: Seq[String],
                     replace: Boolean, orCreate: Boolean): StagedGraftTable = {
    if (replace && !orCreate && !tableExists(ident))
      throw new NoSuchTableException(ident)
    if (!replace && tableExists(ident))
      throw new TableAlreadyExistsException(ident)
    val p = pathOf(ident).getOrElse(throw new IllegalStateException(
      s"no location for ${key(ident)}: configure " +
        s"spark.sql.catalog.$catalogName.warehouse or register the " +
        "table path explicitly (GraftCatalog.register)"))
    new StagedGraftTable(this, ident, p, schema, partitions,
      properties.asScala.toMap, checks, pk, replace)
  }

  private def stagedFromInfo(ident: Identifier,
                             info: org.apache.spark.sql.connector.catalog.TableInfo,
                             replace: Boolean, orCreate: Boolean)
      : StagedGraftTable = {
    val checks = info.constraints().collect { case c: Check => c }.toSeq
    val pks = info.constraints().collect {
      case p: org.apache.spark.sql.connector.catalog.constraints.PrimaryKey =>
        p.columns().map(_.fieldNames().mkString(".")).toSeq
    }
    info.constraints().foreach {
      case _: Check => ()
      case _: org.apache.spark.sql.connector.catalog.constraints.PrimaryKey => ()
      case other => throw new UnsupportedOperationException(
        s"constraint ${other.toDDL} is not supported — MergeStore " +
          "enforces CHECK constraints; PRIMARY KEY records the " +
          "graft.pk key policy; FOREIGN KEY/UNIQUE are unenforced")
    }
    require(pks.length <= 1, "at most one PRIMARY KEY constraint per table")
    staged(ident, info.schema(), info.partitions(), info.properties(),
      checks, pks.headOption.getOrElse(Nil), replace, orCreate)
  }

  override def stageCreate(ident: Identifier,
                           info: org.apache.spark.sql.connector.catalog.TableInfo)
      : org.apache.spark.sql.connector.catalog.StagedTable =
    stagedFromInfo(ident, info, replace = false, orCreate = false)

  override def stageReplace(ident: Identifier,
                            info: org.apache.spark.sql.connector.catalog.TableInfo)
      : org.apache.spark.sql.connector.catalog.StagedTable =
    stagedFromInfo(ident, info, replace = true, orCreate = false)

  override def stageCreateOrReplace(ident: Identifier,
                                    info: org.apache.spark.sql.connector.catalog.TableInfo)
      : org.apache.spark.sql.connector.catalog.StagedTable =
    stagedFromInfo(ident, info, replace = true, orCreate = true)

  override def stageCreate(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: java.util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable =
    staged(ident, schema, partitions, properties, Nil, Nil,
      replace = false, orCreate = false)

  override def stageReplace(ident: Identifier, schema: StructType,
                            partitions: Array[Transform],
                            properties: java.util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable =
    staged(ident, schema, partitions, properties, Nil, Nil,
      replace = true, orCreate = false)

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
                                    partitions: Array[Transform],
                                    properties: java.util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable =
    staged(ident, schema, partitions, properties, Nil, Nil,
      replace = true, orCreate = true)

  /** The staged commit: runs on the driver at commitStagedChanges. */
  private[store] def commitStaged(ident: Identifier, path: String,
                                  schema: StructType,
                                  partitions: Array[Transform],
                                  props: Map[String, String],
                                  checks: Seq[Check], pk: Seq[String],
                                  replace: Boolean,
                                  stashed: Option[DataFrame]): Unit = {
    val spark = SparkSession.active
    val exists = MergeStore.exists(path)
    if (replace && exists) {
      val partitionCols = partitions.map {
        case t if t.name == "identity" && t.references().length == 1 =>
          t.references()(0).fieldNames().mkString(".")
        case other => throw new UnsupportedOperationException(
          s"PARTITIONED BY transform '$other' is not supported — " +
            "MergeStore tables prune by the manifest skip index; plain " +
            "PARTITIONED BY (col) maps onto it, transforms do not")
      }.toSeq
      val content = stashed.getOrElse(
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
      MergeStore.replaceTable(spark, content, path,
        statsCols = (props.get("graft.stats.cols").toSeq
          .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty) ++
          partitionCols).distinct,
        bloomCols = props.get("graft.bloom.cols").toSeq
          .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty),
        bloomFpp = props.get("graft.bloom.fpp").map(_.toDouble)
          .getOrElse(0.01),
        mor = props.get("graft.mor").exists(_.toBoolean),
        pk = if (pk.nonEmpty) pk else props.get("graft.pk").toSeq
          .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty),
        ckptFormat = props.get("graft.ckpt.format"),
        ckptInterval = props.get("graft.ckpt.interval").map(_.toInt)): Unit
    } else {
      val jProps = new java.util.HashMap[String, String](props.asJava)
      if (pk.nonEmpty && !jProps.containsKey("graft.pk"))
        jProps.put("graft.pk", pk.mkString(",")): Unit
      createTable(ident, schema, partitions, jProps): Unit
      stashed.foreach(df =>
        MergeStore.append(spark, df, path, maxRetries = 3): Unit)
    }
    checks.foreach(c => MergeStore.addConstraint(spark, path,
      c.name(), c.predicateSql()): Unit)
  }

  override def dropTable(ident: Identifier): Boolean =
    pathOf(ident) match {
      case Some(p) if MergeStore.exists(p) =>
        val root = Paths.get(p)
        Files.walk(root).iterator().asScala.toSeq.reverse
          .foreach(Files.deleteIfExists)
        GraftCatalog.registry.remove(key(ident))
        true
      case _ => false
    }

  override def renameTable(from: Identifier, to: Identifier): Unit = {
    if (!tableExists(from)) throw new NoSuchTableException(from)
    if (tableExists(to)) throw new TableAlreadyExistsException(to)
    (Option(GraftCatalog.registry.get(key(from))), warehousePath(to)) match {
      case (Some(_), _) =>
        // A registered (external-path) table renames in place: only the
        // catalog name moves.
        GraftCatalog.registry.put(key(to),
          GraftCatalog.registry.remove(key(from)))
      case (None, Some(dest)) =>
        Files.createDirectories(Paths.get(dest).getParent)
        Files.move(Paths.get(pathOf(from).get), Paths.get(dest))
      case _ => throw new IllegalStateException(
        s"no destination location for ${key(to)}")
    }
  }

  // --- SupportsNamespaces: directories under the warehouse. ---

  override def listNamespaces(): Array[Array[String]] = {
    val registered = GraftCatalog.registry.asScala.keys
      .map(_.split('.').init.toSeq).toSet
    val fromWarehouse = warehouse.toSeq.flatMap { w =>
      val dir = Paths.get(w)
      if (!Files.isDirectory(dir)) Seq.empty
      else Files.list(dir).iterator().asScala.filter(Files.isDirectory(_))
        .map(p => Seq(p.getFileName.toString)).toSeq
    }.toSet
    (registered ++ fromWarehouse).map(_.toArray).toArray
  }

  override def listNamespaces(namespace: Array[String])
      : Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces() else Array.empty

  override def namespaceExists(namespace: Array[String]): Boolean =
    listNamespaces().exists(_.sameElements(namespace)) ||
      warehouse.exists(w => Files.isDirectory(Paths.get(w, namespace: _*)))

  override def loadNamespaceMetadata(namespace: Array[String])
      : java.util.Map[String, String] =
    if (namespaceExists(namespace)) java.util.Collections.emptyMap()
    else throw new NoSuchNamespaceException(namespace)

  override def createNamespace(namespace: Array[String],
                               metadata: java.util.Map[String, String])
      : Unit = warehouse match {
    case Some(w) => Files.createDirectories(Paths.get(w, namespace: _*)): Unit
    case None => throw new IllegalStateException(
      s"no warehouse configured for catalog $catalogName")
  }

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "namespace properties are not supported")

  override def dropNamespace(namespace: Array[String],
                             cascade: Boolean): Boolean = warehouse match {
    case Some(w) =>
      val dir = Paths.get(w, namespace: _*)
      if (!Files.isDirectory(dir)) false
      else {
        require(cascade || !Files.list(dir).iterator().hasNext,
          s"namespace ${namespace.mkString(".")} is not empty")
        Files.walk(dir).iterator().asScala.toSeq.reverse
          .foreach(Files.deleteIfExists)
        true
      }
    case None => false
  }
}

object GraftCatalog {
  /** Explicit name → path registrations (`db.t` → table dir): the test
    * and external-location route; JVM-global like the session catalogs
    * themselves. */
  private[store] val registry = new ConcurrentHashMap[String, String]()

  /** Register `name` (e.g. "db.orders") at an explicit MergeStore path,
    * making `spark.sql("... graft.db.orders ...")` resolve to it. */
  def register(name: String, path: String): Unit = {
    require(name.contains('.'),
      "register a namespaced name, e.g. \"db.orders\"")
    registry.put(name, path): Unit
  }

  def unregister(name: String): Unit = { registry.remove(name): Unit }

  /** Catalog names the session has bound to [[GraftCatalog]] — every
    * `spark.sql.catalog.<name> = graft.store.GraftCatalog` entry. The
    * usual answer is Seq("graft") (GraftSession's registration), but
    * nothing stops a user registering the class under another name;
    * name-addressed surfaces (resolvePath) must recognize them all. */
  private def catalogNames(
      spark: org.apache.spark.sql.SparkSession): Seq[String] = {
    val cls = classOf[GraftCatalog].getName
    val prefix = "spark.sql.catalog."
    spark.conf.getAll.iterator.collect {
      case (k, v) if k.startsWith(prefix) && v == cls &&
          !k.stripPrefix(prefix).contains('.') =>
        k.stripPrefix(prefix)
    }.toSeq.sorted
  }

  /** Resolve `'db.t'` (or `'<catalog>.db.t'` for any catalog name the
    * session has bound to GraftCatalog) to its MergeStore location
    * WITHOUT a catalog instance — explicit [[register]] entry first,
    * then the named catalog's warehouse (session conf
    * `spark.sql.catalog.<name>.warehouse`, else the
    * `graft.catalog.warehouse` system property): the same order the
    * catalog's own lookups use. The library-side route for surfaces
    * that speak table names outside the analyzer — the streaming
    * sink/source helpers and the `table_changes` TVF.
    * `mustExist = false` returns the would-be location for a table
    * about to be born (a streaming sink's first batch creates it). */
  def resolvePath(spark: org.apache.spark.sql.SparkSession, name: String,
                  mustExist: Boolean = true): String = {
    val bound = catalogNames(spark) match {
      case Seq() => Seq("graft") // extension not installed: the default
      case cs => cs
    }
    val parts = name.split('.').filter(_.nonEmpty).toSeq
    val (catalog, rest) =
      if (parts.length >= 3 && bound.contains(parts.head))
        (parts.head, parts.tail)
      else (bound.head, parts)
    require(rest.length >= 2,
      s"expected a namespaced table name, e.g. 'db.orders'; got '$name'")
    val key = rest.mkString(".")
    val p = Option(registry.get(key))
      .orElse(Option(spark.conf
          .get(s"spark.sql.catalog.$catalog.warehouse", null))
        .orElse(Option(System.getProperty("graft.catalog.warehouse")))
        .map(w => Paths.get(w, rest: _*).toString))
      .getOrElse(sys.error(
        s"no location for table '$name' — register it " +
          "(GraftCatalog.register) or configure " +
          s"spark.sql.catalog.$catalog.warehouse"))
    require(!mustExist || MergeStore.exists(p),
      s"no committed MergeStore table at '$name' ($p)")
    p
  }

  /** MOR routing policy: the table's durable `graft.mor` manifest
    * policy decides whether SQL UPDATE/DELETE mark deletion vectors or
    * rewrite files. `version` pins the manifest read — a caller
    * assembling a multi-column summary at one version (CALL details)
    * must not let a rival SET TBLPROPERTIES mix a newer head's flag
    * into the row. */
  private[store] def isMor(path: String,
                           version: Option[Int] = None): Boolean =
    MergeStore.manifestMeta(path, version).get(MergeStore.MorKey)
      .exists(_.toBoolean)
}

/** A MergeStore table as seen by Spark's catalog machinery. Reads are
  * handled by [[GraftResolution]] (which swaps the relation for the
  * manifest-skipping plan — `pinnedVersion` carries time travel);
  * writes go through the V1 fallback to the append/overwrite verbs. */
final case class GraftTable(ident: String, path: String,
                            pinnedVersion: Option[Int])
  extends Table
  with org.apache.spark.sql.connector.catalog.SupportsWrite {

  override def name(): String = ident

  override def schema(): StructType = {
    val v = pinnedVersion.orElse(MergeStore.version(path))
      .getOrElse(sys.error(s"no committed version at $path"))
    StructType(MergeStore.manifestSchema(path, v).fields.map { f =>
      // Strip graft-internal field metadata (column-mapping physical
      // names) but KEEP Spark's column-default keys — the analyzer
      // reads CURRENT_DEFAULT to fill omitted INSERT columns and the
      // explicit DEFAULT keyword.
      val mb = new org.apache.spark.sql.types.MetadataBuilder()
      Seq("CURRENT_DEFAULT", "EXISTS_DEFAULT").foreach { k =>
        if (f.metadata.contains(k))
          mb.putString(k, f.metadata.getString(k))
      }
      // Nested fields read as nullable: the verbs store-assign into the
      // nullable form (NOT NULL is a CHECK constraint, not a type), and
      // a NOT NULL struct field would make the analyzer refuse
      // `SET s = src.s` from a source whose field may be NULL.
      f.copy(dataType = MergeStore.nullableForm(f.dataType),
        metadata = mb.build())
    })
  }

  // No OVERWRITE_DYNAMIC: the node has no V1 write fallback;
  // GraftResolution rewrites it to the truncate form instead (the
  // table is unpartitioned, so the two are identical).
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER)

  /** Surfaces in DESCRIBE TABLE EXTENDED: the table's head version and
    * carried policies, read from the (memoized) manifest state. */
  override def properties(): java.util.Map[String, String] = {
    val head = pinnedVersion.orElse(MergeStore.version(path))
    val policies = head.map { v =>
      val meta = MergeStore.manifestMeta(path, Some(v))
      val cons = MergeStore.constraints(path, Some(v))
      val stats = MergeStore.statsColumns(path, Some(v))
      Map("graft.version" -> v.toString) ++
        meta.get(MergeStore.MorKey).map("graft.mor" -> _) ++
        meta.get(MergeStore.PkKey).map("graft.pk" -> _) ++
        meta.get(MergeStore.CkptFormatKey).map("graft.ckpt.format" -> _) ++
        meta.get(MergeStore.CkptIntervalKey)
          .map("graft.ckpt.interval" -> _) ++
        (if (cons.isEmpty) Map.empty
         else Map("graft.constraints" -> cons.keys.toSeq.sorted.mkString(","))) ++
        (if (stats.isEmpty) Map.empty
         else Map("graft.stats.cols" -> stats.mkString(",")))
    }.getOrElse(Map.empty[String, String])
    (Map("provider" -> "graft", "location" -> path) ++ policies).asJava
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(pinnedVersion.isEmpty,
      "cannot write to a time-travel (VERSION/TIMESTAMP AS OF) relation")
    new GraftWriteBuilder(path)
  }
}

/** INSERT INTO → append; INSERT OVERWRITE (truncate under static
  * partitionOverwriteMode, dynamic-overwrite under dynamic — identical
  * on an unpartitioned table) → overwriteTable. The analyzer has
  * already aligned and store-assignment-cast the input columns. */
final class GraftWriteBuilder(path: String)
  extends WriteBuilder with SupportsTruncate
  with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {

  private var replace = false

  override def truncate(): WriteBuilder = { replace = true; this }

  override def overwriteDynamicPartitions(): WriteBuilder = {
    replace = true; this
  }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: DataFrame, overwrite: Boolean): Unit = {
          val spark = data.sparkSession
          if (replace || overwrite)
            MergeStore.overwriteTable(spark, data, path, maxRetries = 3): Unit
          else MergeStore.append(spark, data, path, maxRetries = 3): Unit
        }
      }
  }
}

/** A staged CREATE / REPLACE / CREATE OR REPLACE: nothing touches the
  * table location until [[commitStagedChanges]] — the CTAS/RTAS query
  * writes through the V1 fallback into a STASH (the planned frame,
  * executed at commit), so an abort or a mid-query failure leaves the
  * catalog exactly as it was. The commit itself is the format's own
  * atomicity: one manifest CAS (REPLACE = one more commit on the
  * existing chain, history intact; CREATE = the birth commit). */
private[store] final class StagedGraftTable(
    catalog: GraftCatalog, ident: Identifier, val path: String,
    schema0: StructType, partitions: Array[Transform],
    props: Map[String, String], checks: Seq[Check], pk: Seq[String],
    replace: Boolean)
  extends org.apache.spark.sql.connector.catalog.StagedTable
  with org.apache.spark.sql.connector.catalog.SupportsWrite {

  @volatile private var stashed: Option[DataFrame] = None

  override def name(): String =
    (ident.namespace() :+ ident.name()).mkString(".")
  override def schema(): StructType = schema0
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      override def truncate(): WriteBuilder = this
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame,
                                overwrite: Boolean): Unit = {
              stashed = Some(data)
            }
          }
      }
    }

  override def commitStagedChanges(): Unit =
    catalog.commitStaged(ident, path, schema0, partitions, props,
      checks, pk, replace, stashed)

  override def abortStagedChanges(): Unit = { stashed = None }
}
