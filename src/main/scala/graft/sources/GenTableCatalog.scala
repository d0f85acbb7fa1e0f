package graft.sources

import java.util
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, Row, SparkSession, SQLContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsOverwrite, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{BaseRelation, Filter, InsertableRelation, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A name-based SQL catalog over a directory of GenTables — the last
  * doorway a SQL-first team needs: no per-session view registration,
  * just
  * {{{
  * spark.conf.set("spark.sql.catalog.gt", "graft.sources.GenTableCatalog")
  * spark.conf.set("spark.sql.catalog.gt.base", "s3://lakes")
  * spark.sql("""CREATE TABLE gt.prod.events
  *   TBLPROPERTIES('keyCol'='event_id', 'orderCols'='ts')
  *   PARTITIONED BY (bucket) AS SELECT ...""")             // atomic CTAS
  * spark.sql("INSERT INTO gt.prod.events SELECT ...")      // atomic upsert
  * spark.sql("SELECT count(*) FROM gt.prod.events")        // metadata-only
  * spark.sql("SELECT * FROM gt.prod.events VERSION AS OF 1") // time travel
  * spark.sql("DELETE FROM gt.prod.events WHERE day < '2024-01-10'")
  * spark.sql("""INSERT OVERWRITE gt.prod.events
  *   PARTITION (day='2024-01-13') SELECT ...""")   // atomic backfill
  * spark.readStream.table("gt.prod.events.changes")          // CDC stream
  *   .writeStream.format("gentable").option("mode", "cdc")
  *   .option("checkpointLocation", ckpt).toTable("gt.prod.replica")
  * }}}
  * `gt.<namespace...>.<table>` maps to `<base>/<namespace...>/<table>`;
  * a table exists iff a committed manifest does. Reads go through the
  * public DSv2 `V1Scan` bridge back to the manifest-indexed relation
  * ([[GenTable.readIndexed]]), so Catalyst's pushed filters reach the
  * [[GenTableFileIndex]] pruning and the metadata-aggregate rule — the
  * catalog adds NAMES, not a second read path. SQL DML on catalog
  * tables routes through [[graft.plans.GenTableDml]] like view targets;
  * `INSERT INTO` goes through the DSv2 V1 write bridge to the table's
  * recorded append contract ([[GenTable.insertInto]]).
  *
  * Creation is SQL-first: `CREATE TABLE` publishes a meta-only first
  * commit (schema + partitioning + TBLPROPERTIES write contract —
  * `keyCol`, `orderCols`, `statsCols`, `bloomCols`); CTAS/RTAS stage
  * their data INVISIBLY and publish in `commitStagedChanges` (the
  * [[StagingTableCatalog]] contract — a failed CTAS aborts with no
  * manifest and no files). Destruction stays deliberately out of reach:
  * `dropTable`/`ALTER` refuse with pointers to the lifecycle operations
  * (retention and takedown are commits, not metastore calls).
  *
  * (Catalog shape follows the public Delta/Iceberg TableCatalog
  * pattern; built from scratch on the DSv2 interfaces.)
  */
final class GenTableCatalog extends TableCatalog with SupportsNamespaces
    with StagingTableCatalog {

  private var catName: String = _
  private var base: String = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catName = name
    base = Option(options.get("base")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog '$name' requires spark.sql.catalog.$name.base=<dir>"))
  }

  override def name(): String = catName

  /** Identifier components join onto the base path — REJECT anything
    * that could traverse outside it (a backtick-quoted `..` or a
    * component containing a separator would otherwise address — and via
    * DML, mutate — any GenTable reachable on the filesystem through a
    * catalog meant to scope access to `base`).
    */
  private def sane(parts: Seq[String]): Seq[String] =
    GenTableCatalog.sane(parts)

  private def dirOf(ident: Identifier): String =
    (base +: sane(ident.namespace.toSeq :+ ident.name)).mkString("/")

  override def tableExists(ident: Identifier): Boolean =
    GenTable.readCommit(dirOf(ident)).isDefined

  override def loadTable(ident: Identifier): Table = {
    val dir = dirOf(ident)
    if (GenTable.readCommit(dir).isEmpty) {
      // metadata-table convention (the Iceberg `db.table.history` naming
      // shape): `<table>.changes` is the parent table's CDC stream
      // relation ([[GenTableChangesTable]]). A REAL committed directory
      // named `changes` was already tried above and wins.
      if (ident.name.equalsIgnoreCase("changes") &&
          ident.namespace.nonEmpty) {
        val parent = (base +: sane(ident.namespace.toSeq)).mkString("/")
        if (GenTable.readCommit(parent).isDefined)
          return new GenTableChangesTable(parent)
      }
      // `<table>.history` — the commit lineage as a batch relation
      // (DESCRIBE HISTORY by name); same precedence rule: a real
      // committed table named `history` was already tried and wins
      if (ident.name.equalsIgnoreCase("history") &&
          ident.namespace.nonEmpty) {
        val parent = (base +: sane(ident.namespace.toSeq)).mkString("/")
        if (GenTable.readCommit(parent).isDefined)
          return new GenTableHistoryTable(parent)
      }
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        ident.asInstanceOf[Identifier])
    }
    new GenTableV2Table(dir, None, None,
      Some(catName +: ident.namespace.toSeq :+ ident.name))
  }

  /** SQL time travel on catalog names: `FOR VERSION AS OF <commit id>`
    * pins the archived commit ([[GenTable.frameOf]]'s listing) —
    * the name-based twin of the DataSource `versionAsOf` option.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = dirOf(ident)
    val id = try version.toLong catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"gentable versions are commit ids (integers, from commits()/" +
          s"history()), got '$version'")
    }
    if (GenTable.readCommit(dir).isEmpty)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        ident.asInstanceOf[Identifier])
    val c = GenTable.commitAt(dir, id)
    require(c.isDefined,
      s"no archived commit $id under $dir (vacuumed, or never " +
        s"committed? ids: GenTable.commits / history())")
    new GenTableV2Table(dir, Some(id), c)
  }

  /** `FOR TIMESTAMP AS OF <ts>` — the DSv2 contract hands MICROSECONDS
    * since epoch; resolution delegates to the lineage stamps
    * ([[GenTable.commitIdAsOf]], the `timestampAsOf` read path).
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val dir = dirOf(ident)
    val inst = java.time.Instant.ofEpochSecond(
      Math.floorDiv(timestamp, 1000000L),
      Math.floorMod(timestamp, 1000000L) * 1000L)
    if (GenTable.readCommit(dir).isEmpty)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        ident.asInstanceOf[Identifier])
    val id = GenTable.commitIdAsOf(dir, inst).getOrElse(
      throw new IllegalArgumentException(
        s"no commit at or before $inst under $dir (pre-stamp commits " +
          s"cannot be addressed by time)"))
    new GenTableV2Table(dir, Some(id))
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val (f, root) = GenTable.fsRoot(
      (base +: sane(namespace.toSeq)).mkString("/"))
    if (!f.exists(root)) Array.empty
    else f.listStatus(root).toSeq
      .filter(s => s.isDirectory &&
        f.exists(new HPath(s.getPath, "_commit")))
      .map(s => Identifier.of(namespace, s.getPath.getName)).toArray
  }

  // -- creation: SQL-first, through the commit protocol

  private def partitionColsOf(partitions: Array[Transform],
      properties: util.Map[String, String],
      schema: StructType): GenTable.PartitionCols = {
    // the concrete IdentityTransform class is private[sql]; the public
    // Transform API (name/references) identifies it just as well
    val fromTransforms = partitions.toSeq.map { t =>
      if (t.name == "identity" && t.references.length == 1)
        t.references.head.fieldNames.mkString(".")
      else throw new UnsupportedOperationException(
        s"gentable supports identity partitioning only (PARTITIONED BY " +
          s"(col, ...)), got: ${t.describe}")
    }
    val cols =
      if (fromTransforms.nonEmpty) fromTransforms
      else propOf(properties, "partitionCol")
        .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
        .getOrElse(Nil)
    require(cols.nonEmpty,
      "gentable tables are partitioned: declare PARTITIONED BY (<col>) " +
        "or TBLPROPERTIES('partitionCol'='day,bucket')")
    GenTable.PartitionCols(cols)
  }

  private def propOf(properties: util.Map[String, String],
      key: String): Option[String] =
    properties.asScala.collectFirst {
      case (k, v) if k.equalsIgnoreCase(key) && v.nonEmpty => v
    }

  /** TBLPROPERTIES → the manifest's write-contract meta (the same keys
    * [[GenTable.upsertBatch]] stamps), so `INSERT INTO` a created table
    * routes to its declared upsert. VALIDATED at DDL time — an
    * incomplete contract (`keyCol` without `orderCols` or vice versa) or
    * a column name outside the declared schema would otherwise surface
    * only at the first INSERT, deep inside the writer: fail loud here.
    */
  private def defaultsMetaOf(properties: util.Map[String, String],
      schema: StructType): Map[String, String] = {
    def csv(k: String): Seq[String] = propOf(properties, k)
      .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Nil)
    val names = schema.fieldNames.toSet
    def known(k: String): Seq[String] = {
      val cols = csv(k)
      val bad = cols.filterNot(names.contains)
      require(bad.isEmpty, s"TBLPROPERTIES '$k' names column(s) not in " +
        s"the table schema: ${bad.mkString(", ")} (schema: " +
        s"${schema.fieldNames.mkString(", ")})")
      cols
    }
    val keyCol = propOf(properties, "keyCol")
    val orderCols = known("orderCols")
    keyCol match {
      case Some(kc) =>
        require(names.contains(kc),
          s"TBLPROPERTIES 'keyCol'='$kc' is not a column of the table " +
            s"schema (${schema.fieldNames.mkString(", ")})")
        require(orderCols.nonEmpty,
          "TBLPROPERTIES 'keyCol' needs 'orderCols' (latest-per-key " +
            "needs an order) — declare both or neither")
        GenTable.writeDefaultsMeta(kc, orderCols,
          known("statsCols"), known("bloomCols"))
      case None =>
        require(orderCols.isEmpty,
          "TBLPROPERTIES 'orderCols' without 'keyCol' declares no usable " +
            "append contract — declare both or neither")
        (if (known("statsCols").isEmpty) Map.empty[String, String]
         else Map(GenTable.WriteStatsColsKey -> csv("statsCols").mkString(","))) ++
          (if (known("bloomCols").isEmpty) Map.empty[String, String]
           else Map(GenTable.WriteBloomColsKey -> csv("bloomCols").mkString(",")))
    }
  }

  /** Plain `CREATE TABLE` (no AS SELECT): one meta-only commit carrying
    * the declared schema, partitioning, and write contract. The table
    * reads as a schema-correct empty frame until the first insert.
    */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val dir = dirOf(ident)
    if (tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(ident.asInstanceOf[Identifier])
    GenTable.createEmpty(dir, partitionColsOf(partitions, properties, schema),
      schema, defaultsMetaOf(properties, schema))
    new GenTableV2Table(dir, None, None,
      Some(catName +: ident.namespace.toSeq :+ ident.name))
  }

  override def stageCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable = {
    if (tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(ident.asInstanceOf[Identifier])
    new GenTableStagedTable(dirOf(ident), schema,
      partitionColsOf(partitions, properties, schema),
      defaultsMetaOf(properties, schema))
  }

  override def stageReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable =
    new GenTableStagedTable(dirOf(ident), schema,
      partitionColsOf(partitions, properties, schema),
      defaultsMetaOf(properties, schema))

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable =
    stageReplace(ident, schema, partitions, properties)

  /** `ALTER TABLE ... ADD COLUMNS` only — the one metastore ALTER with
    * a sound lake meaning here: an additive, nullable, TOP-LEVEL column
    * lands as a meta-only schema commit ([[GenTable.addColumns]]); old
    * rows read the new columns null, exactly like write-side evolution.
    * Everything else (type changes, renames, drops, properties,
    * positions, nested fields, comments) keeps the loud refusal —
    * schema evolves through writes; repartitionTable re-keys.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = dirOf(ident)
    if (!tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchTableException(ident.asInstanceOf[Identifier])
    val adds = changes.map {
      case a: TableChange.AddColumn =>
        require(a.fieldNames.length == 1,
          s"ADD COLUMNS supports top-level columns only, got nested " +
            a.fieldNames.mkString("."))
        require(a.position == null,
          "ADD COLUMNS appends at the end; FIRST/AFTER positions are " +
            "not supported (generation files are immutable)")
        require(a.defaultValue == null,
          "ADD COLUMNS with DEFAULT is not supported (old rows read " +
            "null; backfill explicitly)")
        val f = org.apache.spark.sql.types
          .StructField(a.fieldNames.head, a.dataType, a.isNullable)
        if (a.comment == null) f else f.withComment(a.comment)
      case other =>
        throw new UnsupportedOperationException(
          s"unsupported ALTER ${other.getClass.getSimpleName}: gentable " +
            "schema evolves through writes (added columns merge; " +
            "repartitionTable re-keys); only ADD COLUMNS has a " +
            "metastore meaning here")
    }
    GenTable.addColumns(dir, adds)
    new GenTableV2Table(dir, None, None,
      Some(catName +: ident.namespace.toSeq :+ ident.name))
  }

  override def dropTable(ident: Identifier): Boolean =
    throw new UnsupportedOperationException(
      "refusing to drop data through the catalog; retention is a " +
        "lifecycle operation (GenTable.vacuum / deleteWhere / your " +
        "store's object lifecycle)")

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "gentable directories are addressed by path; rename at the store")

  // -- namespaces: directories under base (existence-only support)
  override def listNamespaces(): Array[Array[String]] = {
    val (f, root) = GenTable.fsRoot(base)
    if (!f.exists(root)) Array.empty
    else f.listStatus(root).toSeq.filter(_.isDirectory)
      .map(s => Array(s.getPath.getName)).toArray
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces() else Array.empty

  override def loadNamespaceMetadata(
      namespace: Array[String]): util.Map[String, String] = {
    val (f, root) = GenTable.fsRoot(
      (base +: sane(namespace.toSeq)).mkString("/"))
    if (!f.exists(root))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchNamespaceException(namespace)
    Map.empty[String, String].asJava
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "namespaces are directories; the first table write creates them")

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("no namespace metadata")

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean =
    throw new UnsupportedOperationException(
      "refusing to drop data through the catalog")
}

/** One committed GenTable as a DSv2 table, optionally pinned to an
  * archived commit (SQL time travel). Reads bridge to the
  * manifest-indexed relation; `INSERT` writes bridge through the public
  * DSv2→V1 write hook ([[V1Write]]) to [[GenTable.insertInto]] — the
  * table's OWN recorded append contract (atomic upsert) or a whole-table
  * replace for `INSERT OVERWRITE`, so the catalog surfaces no second
  * write path. Everything else (streaming, MERGE/UPDATE/DELETE) keeps
  * its transactional doorway ([[graft.plans.GenTableDml]], the gentable
  * sink). A version-pinned table refuses writes: history is immutable.
  */
final class GenTableV2Table(val dir: String,
    val pinnedVersion: Option[Long] = None,
    preparsed: Option[GenTable.Commit] = None,
    qualifiedName: Option[Seq[String]] = None)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.GraftV1FallbackTable {

  def this(dir: String) = this(dir, None, None)

  override def name(): String =
    dir + pinnedVersion.fold("")(v => s"@v$v")

  /** STREAMING by name rides the public `V2TableWithV1Fallback` bridge
    * (the shape Spark's analyzer and `DataStreamWriter.toTable` both
    * dispatch on): `spark.readStream.table("gt.ns.t")` falls back to the
    * `gentable` V1 streaming SOURCE (follow-the-table post-images,
    * keyed by the recorded contract), and `writeStream
    * .format("gentable").toTable("gt.ns.t")` to the exactly-once V1
    * SINK — one source and one sink for both the path and the name
    * spellings. Batch reads/writes never consult this. A version-pinned
    * table refuses: an archived snapshot produces no stream.
    *
    * The identifier must be the table's REAL `<catalog>.<ns>.<table>`
    * name: after every sink batch the engine refreshes the output table
    * by that string (`Catalog.refreshTable`), so a made-up qualifier
    * would kill the stream at the first commit. `TableIdentifier` holds
    * exactly one catalog + one database slot, so names outside that
    * shape (no namespace, or a nested one) refuse here — at start, not
    * mid-stream.
    */
  override def v1Table: org.apache.spark.sql.catalyst.catalog.CatalogTable = {
    pinnedVersion.foreach { v =>
      throw new UnsupportedOperationException(
        s"cannot stream $dir at version $v: archived commits are " +
          s"immutable snapshots (stream the table head)")
    }
    val ident = qualifiedName match {
      case Some(Seq(cat, ns, t)) =>
        org.apache.spark.sql.catalyst.TableIdentifier(t, Some(ns), Some(cat))
      case other => throw new UnsupportedOperationException(
        s"streaming by name needs a <catalog>.<namespace>.<table> " +
          s"identifier (got ${other.fold("a path-only table")(_.mkString("."))}" +
          s") — the engine refreshes the table by that name after each " +
          s"batch; stream the path instead: readStream/writeStream " +
          s".format(\"gentable\") with .load/.start($dir)")
    }
    GenTableCatalog.v1FallbackTable(dir, "gentable", schema, Map.empty,
      Some(ident))
  }

  /** The archived commit a time-travel table is pinned to, parsed ONCE
    * (schema and every scan share it — at 10^5+ cells a manifest parse
    * is driver-side seconds, not noise; SCALE.md §27).
    */
  private lazy val pinnedCommit: Option[GenTable.Commit] =
    preparsed.orElse(pinnedVersion.map(id =>
      GenTable.commitAt(dir, id).getOrElse(
        throw new IllegalArgumentException(
          s"no archived commit $id under $dir (vacuumed?)"))))

  override lazy val schema: StructType = {
    val spark = SparkSession.active
    pinnedCommit match {
      case Some(c) =>
        GenTable.schemaOf(c)
          .getOrElse(GenTable.indexedRelationParts(spark, dir)._2)
      case None => GenTable.indexedRelationParts(spark, dir)._2
    }
  }

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER)

  /** `DESCRIBE TABLE` partition info: the committed partition columns as
    * identity transforms. A version-pinned table reports the layout AS OF
    * that commit (partition evolution means head and pinned layouts can
    * differ — DESCRIBE must agree with what the pinned scan reads).
    */
  override def partitioning(): Array[Transform] =
    pinnedCommit.orElse(GenTable.readCommit(dir)).map(_.partitionCols.toArray
      .map(org.apache.spark.sql.connector.expressions.Expressions.identity))
      .getOrElse(Array.empty)

  /** `SHOW TBLPROPERTIES` / `DESCRIBE EXTENDED`: surface the manifest's
    * operational metadata — the write contract, lineage stamps, commit
    * id — so a SQL user can inspect the table's semantics by name. A
    * pinned table reports the AS-OF meta, consistent with its scan.
    */
  override def properties(): util.Map[String, String] =
    pinnedCommit.orElse(GenTable.readCommit(dir)).map { c =>
      (c.meta.view.filterKeys(k => !k.startsWith("table_schema")).toMap ++
        Map("partitionCol" -> c.partitionCol,
          "commit_id" -> c.tableGen.toString)).asJava
    }.getOrElse(Map.empty[String, String].asJava)

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new GenTableScanBuilder(dir, schema, pinnedCommit)

  /** Write builder: plain INSERT bridges to the table's recorded append
    * contract; `truncate` (INSERT OVERWRITE of the whole table) to
    * [[GenTable.replaceAll]]; `overwrite(filters)` — what Spark plans
    * for `INSERT OVERWRITE t PARTITION (day='x')` and
    * `writeTo(t).overwrite(cond)` — to the partition-scoped
    * [[GenTable.replaceWhere]] (untranslatable filters refuse loudly; a
    * row-level predicate is refused by replaceWhere itself).
    */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    pinnedVersion.foreach { v =>
      throw new UnsupportedOperationException(
        s"cannot write to $dir at version $v: archived commits are " +
          s"immutable (write to the table head)")
    }
    new WriteBuilder with SupportsOverwrite {
      private var replaceAll = false
      private var replaceFilters: Option[Array[Filter]] = None
      override def truncate(): WriteBuilder = { replaceAll = true; this }
      override def overwrite(filters: Array[Filter]): WriteBuilder = {
        if (filters.isEmpty ||
            filters.forall(_.isInstanceOf[sources.AlwaysTrue]))
          replaceAll = true
        else replaceFilters = Some(filters)
        this
      }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit =
              replaceFilters match {
                case Some(fs) =>
                  GenTable.replaceWhere(data, dir, fs.map(
                    GenTableV2Table.overwriteFilterToColumn).reduce(_ && _))
                case None =>
                  GenTable.insertInto(data, dir, replaceAll || overwrite)
              }
          }
      }
    }
  }
}

object GenTableCatalog {

  /** The shared identifier-component guard — REJECT anything that could
    * traverse outside a catalog base (see the instance doc). Used by the
    * catalog itself and by every NAME-accepting operational surface
    * (TVF name arms), so the name route can never address more than the
    * catalog route.
    */
  private[graft] def sane(parts: Seq[String]): Seq[String] = {
    parts.foreach { p =>
      require(p.nonEmpty && p != "." && p != ".." &&
        !p.contains('/') && !p.contains('\\'),
        s"illegal catalog identifier component '$p': names must not be " +
          s"empty, '.', '..', or contain path separators (the catalog " +
          s"scopes access to its base directory)")
    }
    parts
  }

  /** Resolve a `cat.ns.table` spelling against a CONFIGURED
    * [[GenTableCatalog]] in the session: Some(base-confined directory)
    * when the first component names a registered gentable catalog (the
    * components pass the same traversal guard as the catalog itself);
    * None otherwise (the caller treats the string as a filesystem
    * path). This is what lets the operational TVFs accept the same
    * names the data plane uses — `gentable_history('gt.ns.t')` — with
    * the catalog's confinement, not around it.
    */
  private[graft] def resolveName(spark: SparkSession,
      name: String): Option[String] = {
    if (name.contains('/') || name.contains('\\')) return None
    val parts = name.split('.').toSeq
    if (parts.length < 2) return None
    val cat = parts.head
    val impl = spark.conf.getOption(s"spark.sql.catalog.$cat")
    if (!impl.contains(classOf[GenTableCatalog].getName)) return None
    val base = spark.conf.getOption(s"spark.sql.catalog.$cat.base")
      .getOrElse(throw new IllegalArgumentException(
        s"catalog '$cat' requires spark.sql.catalog.$cat.base=<dir>"))
    Some((base +: sane(parts.tail)).mkString("/"))
  }

  /** The V1 `CatalogTable` a streaming fallback hands Spark: provider +
    * location are all the engine needs to rebuild the DSv1 source/sink
    * (`FindDataSourceTable.getStreamingRelation` merges
    * `storage.properties` and the location into the source options;
    * `DataStreamWriter.toTable` starts the sink at the location).
    */
  private[sources] def v1FallbackTable(dir: String, provider: String,
      schema: StructType,
      props: Map[String, String],
      ident: Option[org.apache.spark.sql.catalyst.TableIdentifier] = None)
      : org.apache.spark.sql.catalyst.catalog.CatalogTable = {
    import org.apache.spark.sql.catalyst.catalog._
    CatalogTable(
      // read-side fallbacks are addressed by LOCATION (the identifier is
      // cosmetic — UnresolvedCatalogRelation just asserts two parts);
      // SINK fallbacks must pass their real resolvable name (see
      // [[GenTableV2Table.v1Table]])
      identifier = ident.getOrElse(org.apache.spark.sql.catalyst
        .TableIdentifier(new HPath(dir).getName, Some("gentable"))),
      tableType = CatalogTableType.EXTERNAL,
      storage = CatalogStorageFormat.empty.copy(
        locationUri = Some(new HPath(dir).toUri),
        properties = props),
      schema = schema,
      provider = Some(provider))
  }
}

/** `gt.ns.t.changes` — the table's CDC stream as a CATALOG RELATION
  * (the Iceberg metadata-table naming shape): a streaming-only table
  * whose schema is the diff shape (`keyCol, _change, <data columns>`),
  * keyed by the parent table's RECORDED append contract, so
  * {{{
  * spark.readStream.table("gt.ns.t.changes")
  *   .writeStream.format("gentable").option("mode", "cdc")
  *   .option("checkpointLocation", ckpt).toTable("gt.ns.replica")
  * }}}
  * is the whole lake-to-lake replication pipeline by NAME — no paths,
  * no per-session options, exactly-once held by the same commit-id
  * offsets and sink markers as the path spelling. Batch reads refuse
  * (no BATCH_READ capability; the batch diff is the
  * `gentable_changes(dir, from, to, key)` TVF). A real committed table
  * literally named `changes` wins over this relation
  * ([[GenTableCatalog.loadTable]] tries the directory first).
  */
final class GenTableChangesTable(val dir: String) extends Table
    with org.apache.spark.sql.GraftV1FallbackTable {

  private val keyCol: String = GenTable.readCommit(dir)
    .flatMap(c => GenTable.writeDefaultsOf(c).keyCol).getOrElse(
      throw new UnsupportedOperationException(
        s"<table>.changes needs the table's recorded append contract " +
          s"(its keyCol keys the diff) and $dir records none — write " +
          s"once with keyCol/orderCols options or CREATE TABLE " +
          s"TBLPROPERTIES, or stream the path with " +
          s"format(\"gentable-cdc\").option(\"keyCol\", ...)"))

  override def name(): String = s"$dir@changes"

  override lazy val schema: StructType =
    GenTableCdcSource.cdcSchema(dir, keyCol)

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.noneOf(classOf[TableCapability])

  override def v1Table: org.apache.spark.sql.catalyst.catalog.CatalogTable =
    GenTableCatalog.v1FallbackTable(dir, "gentable-cdc", schema,
      Map("keyCol" -> keyCol, "images" -> "cdc"))
}

/** `gt.ns.t.history` — the commit lineage as a CATALOG RELATION (the
  * `DESCRIBE HISTORY` surface by name, completing what `gt.ns.t.changes`
  * started for the operational plane): one row per retained commit with
  * op, wall-clock stamp, and the manifest's own statistics — zero data
  * IO, computed at scan time from the commit archives
  * ([[GenTable.history]]). Batch-only (the lineage is not a stream);
  * rides the same public DSv2→V1 scan bridge as every other read.
  */
final class GenTableHistoryTable(val dir: String)
    extends Table with SupportsRead {

  override def name(): String = s"$dir@history"

  override def schema: StructType = GenTable.HistorySchema

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    () => new V1Scan {
      override def readSchema(): StructType = GenTable.HistorySchema
      override def toV1TableScan[T <: BaseRelation with TableScan](
          context: SQLContext): T =
        new BaseRelation with TableScan {
          override def sqlContext: SQLContext = context
          override def schema: StructType = GenTable.HistorySchema
          // driver metadata, re-read at each execution: a re-run query
          // sees the CURRENT lineage (same freshness as a table scan)
          override def buildScan(): RDD[Row] =
            GenTable.history(context.sparkSession, dir).rdd
        }.asInstanceOf[T]
    }
}

object GenTableV2Table {

  /** Source-filter → Column translation for `overwrite(filters)` — must
    * be TOTAL or refuse: an overwrite region silently narrowed to a
    * translatable subset would swap the wrong partitions. (The read-side
    * twin in [[GenTableBridgeRelation]] is deliberately partial — there,
    * an untranslated filter only costs IO.)
    */
  private[sources] def overwriteFilterToColumn(
      f: Filter): org.apache.spark.sql.Column = f match {
    case _: sources.AlwaysTrue => org.apache.spark.sql.functions.lit(true)
    case _: sources.AlwaysFalse => org.apache.spark.sql.functions.lit(false)
    case sources.EqualTo(a, v) => col(a) === v
    case sources.EqualNullSafe(a, v) => col(a) <=> v
    case sources.In(a, vs) => col(a).isin(vs.toSeq: _*)
    case sources.GreaterThan(a, v) => col(a) > v
    case sources.GreaterThanOrEqual(a, v) => col(a) >= v
    case sources.LessThan(a, v) => col(a) < v
    case sources.LessThanOrEqual(a, v) => col(a) <= v
    case sources.IsNull(a) => col(a).isNull
    case sources.IsNotNull(a) => col(a).isNotNull
    case sources.And(l, r) =>
      overwriteFilterToColumn(l) && overwriteFilterToColumn(r)
    case sources.Or(l, r) =>
      overwriteFilterToColumn(l) || overwriteFilterToColumn(r)
    case sources.Not(x) => !overwriteFilterToColumn(x)
    case other => throw new UnsupportedOperationException(
      s"gentable INSERT OVERWRITE cannot translate filter $other — " +
        s"bound the region with comparisons/IN/AND/OR/NOT over partition " +
        s"columns, or overwrite the whole table")
  }
}

/** The invisible half of atomic CTAS/RTAS ([[StagingTableCatalog]]):
  * the SELECT's rows land through [[GenTable.stageReplace]] — real data
  * files at the next generation, NO manifest swap — and
  * `commitStagedChanges` is the single atomic publish (stamped with the
  * TBLPROPERTIES write contract, so `INSERT INTO` the new table routes
  * to its declared upsert). `abortStagedChanges` deletes the staged
  * generations (and, for a CREATE that found no prior table, the table
  * directory itself): a failed CTAS leaves no manifest and no files.
  */
final class GenTableStagedTable(dir: String, declared: StructType,
    pcols: GenTable.PartitionCols, defaultsMeta: Map[String, String])
    extends StagedTable
    with org.apache.spark.sql.connector.catalog.SupportsWrite {

  @volatile private var staged: Option[GenTable.Commit] = None
  // abort may remove the whole directory ONLY if this stage created it —
  // a pre-existing path (committed table for RTAS, or any foreign
  // directory) keeps everything but the staged generations
  private val existedBefore = {
    val (f, root) = GenTable.fsRoot(dir)
    f.exists(root)
  }

  override def name(): String = dir
  override def schema: StructType = declared

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      override def truncate(): WriteBuilder = this // staging IS a replace
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit = {
              val wd = GenTable.writeDefaultsOfMeta(defaultsMeta)
              staged = Some(GenTable.stageReplace(data, dir, pcols,
                wd.statsCols, wd.bloomCols))
            }
          }
      }
    }

  override def commitStagedChanges(): Unit = staged match {
    case Some(s) =>
      GenTable.publish(dir, s.copy(meta =
        s.meta ++ defaultsMeta ++ GenTable.opMeta("ctas")))
    case None =>
      // no staged write ran: a plain staged CREATE commits the
      // declaration; a REPLACE TABLE (no AS SELECT) on an existing
      // table becomes the declared EMPTY table (DSv2 semantics — old
      // content stays time-travelable until vacuum)
      GenTable.replaceDeclared(dir, pcols, declared, defaultsMeta)
  }

  override def abortStagedChanges(): Unit = staged match {
    case Some(s) => GenTable.dropStaged(dir, s, removeDir = !existedBefore)
    case None =>
      // stageReplace threw MID-WRITE: no staged commit was recorded, but
      // partition files — and the directory itself — may already exist.
      // When this stage physically created the directory and nothing was
      // ever committed there, remove it wholesale: with no manifest the
      // leftovers would be invisible to fsck and vacuum forever. On a
      // pre-existing path the half-staged generation directories are
      // ordinary stale-gen candidates the table's own fsck/vacuum sees.
      if (!existedBefore) {
        val (f, root) = GenTable.fsRoot(dir)
        if (f.exists(root) && !f.exists(new HPath(root, "_commit")))
          f.delete(root, true)
      }
  }
}

/** Scan builder: accepts column pruning and RECORDS pushed filters
  * without claiming them (pushedFilters stays empty, so Spark always
  * re-applies every predicate post-scan — correctness never depends on
  * our pruning), then bridges to the V1 relation where the filters
  * drive the manifest-indexed pruning.
  */
final class GenTableScanBuilder(dir: String, full: StructType,
    pinnedCommit: Option[GenTable.Commit] = None)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private var filters: Array[Filter] = Array.empty
  private var required: StructType = full

  override def pushFilters(fs: Array[Filter]): Array[Filter] = {
    filters = fs
    fs // all returned as post-scan residuals: strictly conservative
  }

  override def pushedFilters(): Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    // an empty projection (count(*)) still needs one column to scan
    required = if (requiredSchema.isEmpty) StructType(full.take(1))
    else requiredSchema

  override def build(): Scan =
    new GenTableV1BridgeScan(dir, filters, required, pinnedCommit)
}

/** The public DSv2→V1 bridge: `toV1TableScan` hands Spark a classic
  * BaseRelation whose buildScan() evaluates the manifest-indexed frame —
  * one read path ([[GenTable.readIndexed]]) for both doorways.
  */
final class GenTableV1BridgeScan(dir: String, filters: Array[Filter],
    required: StructType, pinnedCommit: Option[GenTable.Commit] = None)
    extends V1Scan {

  override def readSchema(): StructType = required

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T =
    new GenTableBridgeRelation(context, dir, filters, required, pinnedCommit)
      .asInstanceOf[T]
}

final class GenTableBridgeRelation(ctx: SQLContext, dir: String,
    filters: Array[Filter], required: StructType,
    pinnedCommit: Option[GenTable.Commit] = None)
    extends BaseRelation with TableScan {

  override def sqlContext: SQLContext = ctx
  override def schema: StructType = required

  /** Translate the prunable subset of source filters back to Columns so
    * the nested indexed read's FileIndex can skip partitions; filters
    * with no translation are simply not applied here (Spark re-applies
    * everything — see [[GenTableScanBuilder.pushedFilters]]).
    */
  private def toColumn(f: Filter): Option[org.apache.spark.sql.Column] =
    f match {
      case sources.EqualTo(a, v) => Some(col(a) === v)
      case sources.GreaterThan(a, v) => Some(col(a) > v)
      case sources.GreaterThanOrEqual(a, v) => Some(col(a) >= v)
      case sources.LessThan(a, v) => Some(col(a) < v)
      case sources.LessThanOrEqual(a, v) => Some(col(a) <= v)
      case sources.In(a, vs) => Some(col(a).isin(vs.toSeq: _*))
      case sources.IsNotNull(a) => Some(col(a).isNotNull)
      case sources.IsNull(a) => Some(col(a).isNull)
      case sources.And(l, r) =>
        for (lc <- toColumn(l); rc <- toColumn(r)) yield lc && rc
      case _ => None // ours is an optimization; residual covers the rest
    }

  override def buildScan(): RDD[Row] = {
    val spark = ctx.sparkSession
    // a pinned (time-travel) scan reuses the table's ALREADY-PARSED
    // archived commit instead of re-reading the archive per scan
    val base = pinnedCommit
      .map(c => GenTable.frameOf(spark, dir, c))
      .getOrElse(GenTable.readIndexed(spark, dir).getOrElse(
        throw new IllegalStateException(s"no committed GenTable under $dir")))
    val pruned = filters.flatMap(toColumn).foldLeft(base)(_.filter(_))
    pruned.select(required.fieldNames.toSeq.map(col): _*).rdd
  }
}
