package graft.sources

import java.util

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{BaseRelation, Filter, InsertableRelation, TableScan}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.table.GraftTable

/** A DataSourceV2 [[TableCatalog]] over a warehouse directory of
  * graft tables — the pure-SQL front door (Delta's catalog shape):
  *
  * {{{
  * spark.conf.set("spark.sql.catalog.graft_cat",
  *   "graft.sources.GraftCatalog")
  * spark.conf.set("spark.sql.catalog.graft_cat.warehouse", "/data/wh")
  *
  * CREATE TABLE graft_cat.events (id BIGINT, v STRING)
  *   TBLPROPERTIES ('key' = 'id');
  * INSERT INTO graft_cat.events SELECT ...;          -- append commit
  * INSERT OVERWRITE graft_cat.events SELECT ...;     -- one-commit replace
  * SELECT * FROM graft_cat.events;                   -- head snapshot
  * SELECT * FROM graft_cat.events VERSION AS OF 3;   -- native time travel
  * SELECT * FROM graft_cat.events TIMESTAMP AS OF '...';
  * ALTER TABLE graft_cat.events RENAME COLUMN v TO label;  -- x53
  * ALTER TABLE graft_cat.events ADD COLUMN t STRING DEFAULT 'std'; -- x56
  * ALTER TABLE graft_cat.events DROP COLUMN label;
  * }}}
  *
  * Identifiers map to a pointer directory `<warehouse>/<ns...>/<name>`
  * whose `catalog.conf` records the key column, the declared schema,
  * and the table's STORAGE LOCATION under `<warehouse>/.store/` —
  * the metastore indirection every managed-table catalog uses, and
  * here a hard requirement: graft manifests and DV sidecars hold
  * absolute file paths (immutable once committed), so the storage
  * directory can never move; RENAME TO moves only the pointer. Reads
  * go through Spark's [[V1Scan]] shim to [[GraftSnapshotRelation]], the
  * pinned-snapshot relation the `USING graft` format reads too — DV
  * application, column mapping and manifest stats/bloom file pruning
  * ride along; pushed filters route to `readWhere` (file skipping) with
  * Spark re-checking every filter above the scan, and required-column
  * pruning reaches the inner parquet scan. The catalog's schema hides a
  * compound key's storage column and carries the declared defaults.
  * Writes ride [[V1Write]]: INSERT INTO is the transactional `append`
  * (declared defaults fill), INSERT OVERWRITE is `overwriteAll` — one
  * atomic commit, zero reads of the old data. ANSI ALTER TABLE column
  * verbs map onto the metadata-only evolution commits; ANSI
  * MERGE/UPDATE/DELETE compile onto the handle through
  * [[graft.plans.GraftRowLevelRule]], and OPTIMIZE/VACUUM stay on the
  * GRAFT SQL verbs, which carry the key/txn semantics a blind catalog
  * write cannot express. Time-travel tables are read-only (no write
  * capabilities), exactly like Delta's `@v` reads. */
class GraftCatalog extends TableCatalog with StagingTableCatalog {
  import GraftCatalog.storageKeyOf

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = options.get("warehouse")
    require(warehouse != null && warehouse.nonEmpty,
      s"catalog '$name' requires option " +
        s"'spark.sql.catalog.$name.warehouse'")
  }

  override def name(): String = catalogName

  override def capabilities(): util.Set[TableCatalogCapability] =
    util.EnumSet.of(
      TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  private def spark = SparkSession.active

  /** identifier → pointer directory, normalized CASE-INSENSITIVELY
    * unless `spark.sql.caseSensitive` is on — Spark resolves
    * identifiers that way, so `graft_cat.Events` must find the table
    * created as `events` and `CREATE TABLE EVENTS` must collide with
    * it (byte-exact paths let both coexist, unlike any metastore) */
  private def norm(part: String): String =
    if (spark.sessionState.conf.caseSensitiveAnalysis) part
    else part.toLowerCase(java.util.Locale.ROOT)
  private def rootOf(ident: Identifier): String =
    (warehouse +: (ident.namespace() :+ ident.name()).toSeq.map(norm))
      .mkString("/")
  private def confPath(root: String) = s"$root/catalog.conf"
  /** pointer mode lines (round 18): written as the conf's 4th line */
  private val ManagedLine = "managed"
  private val ExternalLine = "external"

  private def fs(path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  /** (keyCol, storage location, declared schema, external?) persisted
    * at CREATE. The trailing line is the ownership flag, `managed` or
    * `external` (read-only, x65): written atomically WITH the pointer,
    * so ownership rides the one exclusively-created file and no
    * marker-file interleaving can flip a table's mode (the round-17
    * advisor's registerPointer/registerExternal race). On external
    * tables reads/time travel/streams serve, every mutation refuses
    * and DROP removes only the pointer. A pointer without the line
    * was written by a pre-current catalog and is refused. The schema
    * JSON is a brace-delimited object, never a bare keyword, so the
    * trailing line is unambiguous. */
  private def readConf(root: String)
      : Option[(String, String, StructType, Boolean)] = {
    val (f, p) = fs(confPath(root))
    Option.when(f.exists(p)) {
      val in = f.open(p)
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }.map { s =>
      val lines = s.linesIterator.toSeq
      val external = lines.last.trim match {
        case ExternalLine => true
        case ManagedLine  => false
        case _ => throw new IllegalStateException(
          s"catalog pointer ${confPath(root)} has no managed/external " +
            "mode line: it was written by a pre-current catalog, which " +
            "this engine refuses — drop the pointer directory and " +
            "register the table again")
      }
      (lines.head.trim, lines(1).trim,
        DataType.fromJson(lines.drop(2).dropRight(1).mkString("\n"))
          .asInstanceOf[StructType], external)
    }
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = (warehouse +: namespace.toSeq).mkString("/")
    val (f, p) = fs(dir)
    if (!f.exists(p)) return Array.empty
    f.listStatus(p).filter(_.isDirectory).map(_.getPath.getName)
      .filter(n => readConf(s"$dir/$n").isDefined)
      .map(n => Identifier.of(namespace, n))
  }

  override def tableExists(ident: Identifier): Boolean =
    readConf(rootOf(ident)).isDefined

  override def loadTable(ident: Identifier): Table =
    loadVersioned(ident, -1L)

  /** `VERSION AS OF <v>` (Spark calls this with the literal text) */
  override def loadTable(ident: Identifier, version: String): Table = {
    require(version.forall(_.isDigit),
      s"graft versions are numeric (got '$version')")
    loadVersioned(ident, version.toLong)
  }

  /** `TIMESTAMP AS OF <ts>` — Spark passes MICROseconds */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val (key, loc, _, _) = readConf(rootOf(ident))
      .getOrElse(throw new NoSuchTableException(ident))
    // versionAt reads only the in-commit stamps: the key is immaterial
    val t = GraftTable.open(spark, loc, storageKeyOf(key))
    loadVersioned(ident, t.versionAt(timestampMicros / 1000L))
  }

  private def loadVersioned(ident: Identifier, version: Long): Table = {
    val (key, loc, declared, external) = readConf(rootOf(ident))
      .getOrElse(throw new NoSuchTableException(ident))
    val name = s"$catalogName.${ident.name()}"
    if (external)
      // no V1 streaming-write fallback: see GraftSqlManagedTable
      new GraftSqlTable(name, loc, key, declared, version,
        external = true)
    else new GraftSqlManagedTable(name, loc, key, declared, version)
  }

  /** PARTITIONED BY (c) / CLUSTER BY (c, ...) map onto the engine's
    * STANDING key-range clustering (x60 — Delta's own
    * partitioning→liquid-clustering migration): identity transforms
    * become ingest-time cluster columns, so every INSERT lays files
    * out range-partitioned on them and manifest stats prune
    * partition-predicate reads from the first commit — hive-style
    * directory fan-out (its small-file explosion included) is
    * exactly what the clustering replaces. Non-identity transforms
    * (bucket/days/hours) keep the honest refusal. */
  private def clusterColsOf(partitions: Array[Transform]): Seq[String] =
    partitions.toSeq.flatMap {
      case t if t.name == "identity" || t.name == "cluster_by" =>
        t.references.toSeq.map { r =>
          require(r.fieldNames.length == 1,
            "nested partition/clustering columns are not supported")
          r.fieldNames.head
        }
      case other => throw new UnsupportedOperationException(
        s"graft maps PARTITIONED BY onto key-range clustering; only " +
          s"identity transforms and CLUSTER BY are supported — got " +
          s"$other")
    }

  /** validate BEFORE any state lands: a failure after catalog.conf
    * exists would register a bootstrap-less table that blocks retries
    * with TableAlreadyExists until a manual DROP (a CTAS of an
    * unaliased aggregate — column "count(1)" — hits exactly this) */
  private def validatedKey(schema: StructType,
                           properties: util.Map[String, String],
                           clusterCols: Seq[String]): String = {
    require(!properties.containsKey(TableCatalog.PROP_LOCATION),
      "graft tables are MANAGED — storage lives under the " +
        "warehouse's .store indirection because manifests and DV " +
        "sidecars hold absolute paths; LOCATION on CTAS/REPLACE is " +
        "not supported (a plain CREATE TABLE ... LOCATION registers " +
        "an existing graft root READ-ONLY)")
    val key = Option(properties.get("key")).getOrElse(
      throw new IllegalArgumentException(
        "graft tables need a key column: CREATE TABLE ... " +
          "TBLPROPERTIES ('key' = '<column>' or 'a,b' for a " +
          "compound business key)"))
    CompoundKey.partsOf(key) match {
      case Some(parts) =>
        require(parts.distinct.size == parts.size,
          s"compound key repeats a column: '$key'")
        parts.foreach { p =>
          val f = schema.fields.find(_.name == p).getOrElse(
            throw new IllegalArgumentException(
              s"compound key part '$p' is not in the schema " +
                s"(${schema.fieldNames.mkString(", ")})"))
          require(CompoundKey.supportedType(f.dataType),
            s"compound key part '$p' has type " +
              s"${f.dataType.simpleString} — integral and string " +
              "parts only (the order-preserving encoding)")
        }
      case None =>
        require(schema.fieldNames.contains(key),
          s"key column '$key' is not in the schema " +
            s"(${schema.fieldNames.mkString(", ")})")
    }
    require(!schema.fieldNames.contains(CompoundKey.KeyName),
      s"column name '${CompoundKey.KeyName}' is reserved (the " +
        "compound-key storage column)")
    schema.fieldNames.foreach(n =>
      require(n.matches(graft.table.GraftTable.ColIdent),
        s"column names must be identifiers: '$n' — alias the column " +
          "in the query"))
    clusterCols.foreach(c => require(schema.fieldNames.contains(c),
      s"partition/cluster column '$c' is not in the schema " +
        s"(${schema.fieldNames.mkString(", ")})"))
    key
  }

  /** the storage-side schema for a declared key: identity for single
    * keys; compound keys add the synthesized `__gkey` column, which
    * every insert-shaped frame is wrapped with */
  private[sources] def storageSchemaOf(key: String,
                                       schema: StructType): StructType =
    if (CompoundKey.partsOf(key).isDefined)
      StructType(schema.fields :+ org.apache.spark.sql.types.StructField(
        CompoundKey.KeyName, org.apache.spark.sql.types.StringType,
        nullable = true))
    else schema

  /** bootstrap a FRESH storage directory: the declared-schema commit
    * (stamped with the key, INSERT discipline and standing clustering
    * — w26's sink, every load and every ingest read them from the
    * manifest) and — for an atomic CTAS — the initial data, all
    * BEFORE the table is registered. A failure deletes the orphan and
    * rethrows; nothing is ever registered half-built. */
  private def bootstrapStorage(ident: Identifier, schema: StructType,
                               key: String, clusterCols: Seq[String],
                               data: Option[DataFrame],
                               insertMode: String = "append"): String = {
    // storage indirection: manifests/DV sidecars hold absolute paths,
    // so the data location is immutable — renames move the pointer
    val loc = s"$warehouse/.store/${norm(ident.name())}-${
      java.util.UUID.randomUUID().toString.take(8)}"
    val (f, _) = fs(confPath(rootOf(ident)))
    f.mkdirs(new org.apache.hadoop.fs.Path(loc, "commits"))
    try {
      val parts = CompoundKey.partsOf(key)
      val t = GraftTable.open(spark, loc, storageKeyOf(key))
      t.declareColumns(storageSchemaOf(key, schema),
        keyRecord = Some(key), upsert = insertMode == "upsert",
        clusterBy = clusterOf(clusterCols, parts))
      data.foreach { df =>
        val keyed = parts.fold(df)(p => CompoundKey.withKey(df, p))
        if (insertMode == "upsert")
          GraftCatalog.withUniqueKeys(keyed, storageKeyOf(key),
            s"CTAS into an 'insert'='upsert' table")(
            (b, n) => t.merge(b, preCountedKeys = n))
        else t.append(keyed)
        ()
      }
      loc
    } catch {
      case scala.util.control.NonFatal(e) =>
        try { f.delete(new org.apache.hadoop.fs.Path(loc), true); () }
        catch {
          case scala.util.control.NonFatal(c) => e.addSuppressed(c)
        }
        throw e
    }
  }

  /** the registration COMMIT POINT: create-if-absent pointer write,
    * LAST — a crash before this leaves an orphaned .store directory,
    * never a registered-but-bootstrapless table (the round-15
    * advisor's crash window; the old pointer-first order had exactly
    * that). A lost CREATE race deletes its own orphan and reports the
    * conflict. */
  private def registerPointer(ident: Identifier, key: String,
                              loc: String, schema: StructType): Unit = {
    val root = rootOf(ident)
    val (f, p) = fs(confPath(root))
    try {
      val out = f.create(p, false)
      try out.write(
        s"$key\n$loc\n${schema.json}\n$ManagedLine".getBytes("UTF-8"))
      finally out.close()
    } catch {
      case e: Throwable =>
        try { f.delete(new org.apache.hadoop.fs.Path(loc), true); () }
        catch {
          case scala.util.control.NonFatal(c) => e.addSuppressed(c)
        }
        e match {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
            throw new TableAlreadyExistsException(ident)
          case _ => throw e
        }
    }
  }

  /** ATOMIC pointer overwrite (temp + rename-over) — the REPLACE
    * path's re-registration; readers see the old pointer or the new
    * one, never a truncated file */
  private def overwritePointer(ident: Identifier, key: String,
                               loc: String, schema: StructType): Unit = {
    val root = rootOf(ident)
    val (f, p) = fs(confPath(root))
    val tmp = new org.apache.hadoop.fs.Path(root,
      s".conf-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = f.create(tmp, true)
    try out.write(
      s"$key\n$loc\n${schema.json}\n$ManagedLine".getBytes("UTF-8"))
    finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      p.toUri, spark.sessionState.newHadoopConf())
    fc.rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    if (properties.containsKey(TableCatalog.PROP_LOCATION))
      return registerExternal(ident,
        properties.get(TableCatalog.PROP_LOCATION), schema, partitions,
        properties)
    val clusterCols = clusterColsOf(partitions)
    val key = validatedKey(schema, properties, clusterCols)
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val loc = bootstrapStorage(ident, schema, key, clusterCols, None,
      GraftCatalog.insertModeOf(properties))
    registerPointer(ident, key, loc, schema)
    loadTable(ident)
  }

  /** `CREATE TABLE ... LOCATION '<existing graft root>'` (x65):
    * READ-ONLY registration of storage owned elsewhere — the
    * CLONE/share shape (a second catalog, a second warehouse, a
    * colleague's table). Reads, time travel, and `readStream.table`
    * serve through the foreign root's own manifests; every mutation
    * refuses with the managed-storage message, and DROP removes only
    * the pointer. The key resolves from the root's manifest stamp
    * (every catalog bootstrap writes one); roots created bare through
    * the handle pass `TBLPROPERTIES ('key' = ...)` instead. A WRITABLE
    * external table stays refused on principle: graft manifests and
    * DV sidecars hold absolute paths under managed storage, and two
    * catalogs mutating one root would race each other's pointers. */
  private def registerExternal(ident: Identifier, loc0: String,
                               schema: StructType,
                               partitions: Array[Transform],
                               properties: util.Map[String, String])
      : Table = {
    require(partitions.isEmpty,
      "external registration takes no PARTITIONED BY/CLUSTER BY — " +
        "layout belongs to the owning table")
    require(schema.isEmpty,
      "graft tables are MANAGED (manifests hold absolute paths " +
        "under the warehouse's .store indirection) — LOCATION only " +
        "registers an EXISTING graft root read-only, and that " +
        "registration reads its schema from the root's own " +
        "manifest: declare no columns")
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val loc = new org.apache.hadoop.fs.Path(loc0).toString
    // prove the root opens under its key BEFORE anything registers —
    // a typo'd location or key must not land a broken pointer
    val resolved = GraftCatalog.resolveKey(spark, loc,
        Option(properties.get("key"))).getOrElse(
      throw new IllegalArgumentException(
        s"$loc0 carries no key stamp — register a bare graft root " +
          "with TBLPROPERTIES ('key' = '<column>')"))
    val handle = resolved.table
    val snap = handle.schemaAt(handle.head)
      .getOrElse(handle.read().schema)
    // ONE commit point (round 18): the `external` mode line rides the
    // exclusively-created pointer itself, so the registration is
    // atomic and self-describing — no state exists where a pointer
    // reads as MANAGED (writable; DROP would delete the foreign
    // storage).
    val root = rootOf(ident)
    val (pf, _) = fs(root)
    pf.mkdirs(new org.apache.hadoop.fs.Path(root))
    try {
      val out = pf.create(new org.apache.hadoop.fs.Path(confPath(root)),
        false)
      try out.write(
        s"${resolved.stored}\n$loc\n${snap.json}\n$ExternalLine"
          .getBytes("UTF-8"))
      finally out.close()
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
        throw new TableAlreadyExistsException(ident)
    }
    loadTable(ident)
  }

  // ---- ATOMIC CTAS / REPLACE TABLE / CREATE OR REPLACE (x61) -------
  // Spark plans these through a StagingTableCatalog so no reader can
  // observe a half-state: the staged table buffers the query, and
  // commitStagedChanges() lands everything in the right order —
  // CREATE bootstraps storage + data first and registers the pointer
  // LAST (a crash leaves an orphan, never a half-table; the
  // non-staging CTAS would register an EMPTY table before its data
  // landed), REPLACE is ONE replaceTable commit on the SAME storage
  // (history survives; a reader mid-replace sees old-or-new, never
  // the missing-table window drop-then-create exposes).

  override def stageCreate(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): StagedTable =
    new GraftStagedTable(this, ident, schema, clusterColsOf(partitions),
      properties, orCreate = true, orReplace = false)

  override def stageReplace(ident: Identifier, schema: StructType,
                            partitions: Array[Transform],
                            properties: util.Map[String, String]): StagedTable =
    new GraftStagedTable(this, ident, schema, clusterColsOf(partitions),
      properties, orCreate = false, orReplace = true)

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
                                    partitions: Array[Transform],
                                    properties: util.Map[String, String])
      : StagedTable =
    new GraftStagedTable(this, ident, schema, clusterColsOf(partitions),
      properties, orCreate = true, orReplace = true)

  /** the standing clustering a declaring commit stamps: the declared
    * columns, else — for compound tables — the key parts, which is
    * what makes __gkey's per-file string bounds tight from the first
    * insert (the merge-pruning story) */
  private def clusterOf(clusterCols: Seq[String],
                        parts: Option[Seq[String]]): Seq[String] =
    if (clusterCols.nonEmpty) clusterCols else parts.getOrElse(Seq.empty)

  /** the staged commit (see the section comment above). REPLACE is
    * ONE replaceTable commit: it resets the manifest's table
    * properties (constraints, schema mode, clustering, bloom index,
    * auto-compaction policy) by carrying only those the statement
    * declares — old-schema constraints cannot validate new-schema
    * files — so a failed replace, which commits nothing, leaves the
    * old table's properties in force. The pointer re-registers
    * atomically (temp + rename-over) after the commit — it changes
    * only when the key or declared schema did, and a crash before
    * that leaves a fully-functional table: loads take the new key
    * from the replace commit's stamp, and re-running the REPLACE
    * repairs the pointer. */
  private[sources] def commitStaged(ident: Identifier, schema: StructType,
                                    clusterCols: Seq[String],
                                    properties: util.Map[String, String],
                                    data: Option[DataFrame],
                                    orCreate: Boolean,
                                    orReplace: Boolean): Unit = {
    val key = validatedKey(schema, properties, clusterCols)
    readConf(rootOf(ident)) match {
      case None =>
        if (!orCreate) throw new NoSuchTableException(ident)
        val loc = bootstrapStorage(ident, schema, key, clusterCols,
          data, GraftCatalog.insertModeOf(properties))
        registerPointer(ident, key, loc, schema)
      case Some((_, loc, _, external)) =>
        if (!orReplace) throw new TableAlreadyExistsException(ident)
        require(!external,
          s"$ident is a READ-ONLY external registration — REPLACE it " +
            "through the owning table")
        val parts = CompoundKey.partsOf(key)
        val t = GraftTable.open(spark, loc, storageKeyOf(key))
        val df0 = data.getOrElse(spark.createDataFrame(
          spark.sparkContext.emptyRDD[Row], schema))
        // the NEW key, INSERT discipline and clustering are stamped by
        // the replace commit itself: a crash after it but before the
        // pointer rewrite leaves loads on the new key (they read the
        // stamp of the version they serve), and a failure before it
        // leaves the old table's stamps in force
        val upsert = GraftCatalog.insertModeOf(properties) == "upsert"
        def replace(b: DataFrame): Long =
          t.replaceTable(b, storageSchemaOf(key, schema),
            clusterOf(clusterCols, parts),
            keyRecord = Some(key), upsert = upsert)
        val keyed = parts.fold(df0)(p => CompoundKey.withKey(df0, p))
        if (upsert)
          GraftCatalog.withUniqueKeys(keyed, storageKeyOf(key),
            "RTAS into an 'insert'='upsert' table")((b, _) => replace(b))
        else replace(keyed)
        overwritePointer(ident, key, loc, schema)
    }
  }

  /** ANSI ALTER TABLE column verbs → ONE atomic
    * [[GraftTable.alterColumns]] commit carrying the full per-verb
    * guard set (x53/x56): the batch commits entirely or not at all —
    * a mid-statement guard failure or a lost commit race can never
    * half-apply. NOT NULL and positioned adds reject (readers
    * NULL-fill pre-add rows; columns append); renaming the KEY column
    * needs no pointer update — the pointer holds the key's immutable
    * PHYSICAL name and loads resolve the logical name from the
    * manifest's mapping rows. Anything else names its GRAFT verb. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val (key, loc, _, external) = readConf(rootOf(ident))
      .getOrElse(throw new NoSuchTableException(ident))
    require(!external,
      s"$ident is a READ-ONLY external registration — ALTER it " +
        "through the owning table")
    lazy val resolved = GraftCatalog.resolveKey(spark, loc, Some(key)).get
    // `ALTER TABLE ... CLUSTER BY (c, ...)` — re-declare the standing
    // ingest clustering (x60's machinery; `CLUSTER BY NONE` clears it).
    // Advisory layout, so it composes with (and applies before) any
    // column changes in the same statement.
    val (clusterChanges, rest) = changes.partition(
      _.isInstanceOf[TableChange.ClusterBy])
    if (clusterChanges.nonEmpty) {
      val t = resolved.table
      clusterChanges.foreach { c =>
        val cols = c.asInstanceOf[TableChange.ClusterBy]
          .clusteringColumns.toSeq.map { r =>
            require(r.fieldNames.length == 1,
              "nested clustering columns are not supported")
            r.fieldNames.head
          }
        if (cols.isEmpty) t.clearClusterBy() else t.setClusterBy(cols)
      }
      if (rest.isEmpty) return loadTable(ident)
    }
    val colChanges: Seq[graft.table.GraftTable.ColChange] = rest.map {
      case a: TableChange.AddColumn =>
        require(a.fieldNames.length == 1, "nested columns not supported")
        require(a.isNullable,
          "NOT NULL columns are not supported: readers NULL-fill rows " +
            "that predate the add — declare a CHECK constraint instead")
        require(a.position() == null,
          "column positions are not supported (columns append)")
        GraftTable.AddCol(a.fieldNames.head, a.dataType,
          Option(a.defaultValue()).map(_.getSql))
      case r: TableChange.RenameColumn =>
        require(r.fieldNames.length == 1, "nested columns not supported")
        GraftTable.RenameCol(r.fieldNames.head, r.newName)
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames.length == 1, "nested columns not supported")
        GraftTable.DropCol(d.fieldNames.head)
      case other => throw new UnsupportedOperationException(
        s"graft ALTER supports column add/rename/drop; for $other use " +
          "the GRAFT SQL verbs (CONSTRAINT, INDEX, AUTOCOMPACT, ...)")
    }.toSeq
    val t = resolved.table
    // compound keys: the synthesized __gkey column and the encodings
    // inside it are invariants — a part may RENAME (the stamp holds
    // physical names) but never DROP, and __gkey itself never alters
    resolved.parts.foreach { parts =>
      val logical = parts.toSet + CompoundKey.KeyName
      colChanges.foreach {
        case GraftTable.DropCol(n) => require(!logical(n),
          s"cannot drop '$n': it is a compound-key component")
        case GraftTable.RenameCol(o, n) =>
          require(o != CompoundKey.KeyName && n != CompoundKey.KeyName,
            s"'${CompoundKey.KeyName}' is the synthesized key column")
        case GraftTable.AddCol(n, _, _) =>
          require(n != CompoundKey.KeyName,
            s"'${CompoundKey.KeyName}' is reserved")
      }
    }
    t.alterColumns(colChanges)
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val root = rootOf(ident)
    readConf(root) match {
      case None => false
      case Some((_, loc, _, external)) =>
        val (f, p) = fs(root)
        // an external registration NEVER owns its storage: dropping
        // it removes only the pointer (the owning table is untouched)
        if (!external)
          f.delete(new org.apache.hadoop.fs.Path(loc), true)
        f.delete(p, true)
    }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    // the pointer directory moves; the storage location (absolute
    // paths in manifests and DV sidecars) never does
    val (f, op) = fs(rootOf(oldIdent))
    val np = new org.apache.hadoop.fs.Path(rootOf(newIdent))
    if (np.getParent != null) f.mkdirs(np.getParent)
    require(f.rename(op, np),
      s"rename ${oldIdent} -> ${newIdent} failed at the filesystem")
  }
}

/** a MANAGED catalog table: the base plus the V1 streaming-sink
  * fallback. STREAMING writes into the catalog —
  * `df.writeStream.toTable("gcat.t")` (w26): Spark routes V2 tables
  * without STREAMING_WRITE through this V1 fallback (the route
  * Delta's own DataStreamWriter integration uses), handing the
  * table's provider + storage location to the registered `graft`
  * streaming sink — i.e. the EXISTING exactly-once `streamAppend`
  * txn protocol (w22's sink; batch id = idempotency token, replay
  * detection inside the commit CAS loop). The fallback carries only
  * the location, so the sink resolves the key column from the
  * manifest's key stamp (written at CREATE and REPLACE; the key's
  * immutable PHYSICAL name). A true V2 StreamingWrite would need
  * executor-side writers minting data files + manifest stats — a
  * second write path for zero additional semantics.
  *
  * The fallback lives on the MANAGED subclass only: streaming
  * relation resolution constructs the fallback node EAGERLY even for
  * READS (which then use the V2 micro-batch path), so a read-only
  * external registration must simply not carry the trait — its
  * `readStream.table` then rides the V2 path and a
  * `writeStream.toTable` refuses with Spark's own does-not-support
  * message instead of silently writing into foreign storage. */
private[graft] class GraftSqlManagedTable(ident: String, root: String,
                                          keyCol: String,
                                          declared: StructType,
                                          version: Long)
    extends GraftSqlTable(ident, root, keyCol, declared, version)
    with org.apache.spark.sql.graftglue.V1FallbackBridge {

  override def v1Table: org.apache.spark.sql.catalyst.catalog.CatalogTable = {
    import org.apache.spark.sql.catalyst.catalog._
    require(version < 0, s"cannot stream into time-travel table $ident")
    // the fallback node asserts a database-qualified identifier
    val parts = ident.split('.')
    CatalogTable(
      identifier = org.apache.spark.sql.catalyst.TableIdentifier(
        parts.last,
        Some(if (parts.length > 1) parts(parts.length - 2) else "default")),
      tableType = CatalogTableType.EXTERNAL,
      storage = CatalogStorageFormat.empty.copy(
        locationUri = Some(new org.apache.hadoop.fs.Path(root).toUri)),
      schema = schema(),
      provider = Some("graft"))
  }
}

/** catalog-level helpers shared by the catalog and its tables */
private[sources] object GraftCatalog {
  /** the handle's key for a declared key: compound keys key on the
    * synthesized `__gkey` storage column */
  def storageKeyOf(key: String): String =
    if (CompoundKey.partsOf(key).isDefined) CompoundKey.KeyName else key

  /** a table's key, resolved: the handle its verbs run on, the key's
    * CURRENT logical name (`__gkey` for compound keys), the stored
    * declaration (the key's PHYSICAL name or the compound part list),
    * and the compound parts by current logical name */
  final case class ResolvedKey(table: GraftTable, logical: String,
                               stored: String, parts: Option[Seq[String]])

  /** THE key resolver: the key comes from the manifest's key stamp of
    * the version served ([[GraftTable.keyRecordAt]]), or — on an
    * unstamped root, a bare `GraftTable.create` root registered
    * externally — from `pointerKey`; None when neither exists. Keys
    * are stored PHYSICAL (immutable), so a key rename is complete the
    * instant its alterColumns commit publishes; compound keys key the
    * handle on the synthesized `__gkey` column (never renamed — ALTER
    * refuses). One probe handle serves the stamp read and usually the
    * final handle: a second open would re-fold the manifest. */
  def resolveKey(spark: SparkSession, root: String,
                 pointerKey: Option[String],
                 version: Long = -1L): Option[ResolvedKey] = {
    // without a pointer key, probe only a root that HAS a commit log:
    // `open` creates <root>/commits, and a fresh or mistyped root must
    // refuse without leaving directories behind
    if (pointerKey.isEmpty) {
      val commits = new org.apache.hadoop.fs.Path(root, "commits")
      if (!commits.getFileSystem(spark.sessionState.newHadoopConf())
            .exists(commits)) return None
    }
    val probeKey = pointerKey.fold(CompoundKey.KeyName)(storageKeyOf)
    val probe = GraftTable.open(spark, root, probeKey)
    def open(k: String) =
      if (k == probeKey) probe else GraftTable.open(spark, root, k)
    probe.keyRecordAt(version).orElse(pointerKey).map { stored =>
      val t0 = open(storageKeyOf(stored))
      CompoundKey.partsOf(stored) match {
        case Some(parts) => ResolvedKey(t0, CompoundKey.KeyName, stored,
          Some(parts.map(t0.logicalNameOf)))
        case None =>
          val lk = t0.logicalKeyName
          ResolvedKey(if (lk == stored) t0 else open(lk), lk, stored, None)
      }
    }
  }

  /** the declared INSERT discipline (x69): 'append' (default — INSERT
    * INTO is a raw append; duplicate keys are reachable and the
    * row-level DML verbs handle them row-addressed) or 'upsert'
    * (INSERT INTO routes through the keyed merge — one row per key is
    * a table INVARIANT, and a batch carrying duplicate keys refuses
    * with the cardinality message rather than landing
    * nondeterministically). */
  private[sources] def insertModeOf(
      properties: util.Map[String, String]): String = {
    val m = Option(properties.get("insert")).getOrElse("append")
    require(m == "append" || m == "upsert",
      s"TBLPROPERTIES 'insert' must be 'append' or 'upsert' (got '$m')")
    m
  }

  /** guard + run for x69's one-row-per-key invariant: PERSISTS the
    * batch (one evaluation — a non-deterministic query must not pass
    * the duplicate check on one row set and then land another; the
    * MERGE command's source-materialization discipline), checks
    * one-row-per-key with a LOUD refusal — never an arbitrary winner
    * (Hudi dedupes by a precombine field; without one, picking a row
    * silently is the nondeterminism an upsert table exists to
    * prevent) — then runs `f` on the pinned frame, unpersists. */
  private[sources] def withUniqueKeys[A](keyed: DataFrame,
      storageKey: String, ctx: String)(f: (DataFrame, Long) => A): A = {
    val pinned = keyed.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // ONE aggregate answers the guard AND the downstream merge's
      // key count (round-18 optim — was a groupBy probe plus the
      // merge's own count); a violation re-runs the targeted probe
      // for the offending key — the rare path only
      val st = pinned.agg(
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)),
        org.apache.spark.sql.functions.countDistinct(col(storageKey)))
        .head
      val (n, distinct) = (st.getLong(0), st.getLong(1))
      if (distinct != n) {
        val dup = pinned.groupBy(col(storageKey))
          .count().where(col("count") > 1).limit(1).collect()
        require(dup.isEmpty,
          s"$ctx: the batch carries duplicate keys (e.g. " +
            s"${dup.headOption.map(_.get(0)).getOrElse("")}) — an " +
            "'insert'='upsert' table holds one row per key; dedupe the " +
            "batch or MERGE with explicit clauses")
      }
      f(pinned, n)
    } finally { pinned.unpersist(); () }
  }
}

/** a catalog table: reads through [[GraftSnapshotRelation]] (V1Scan shim),
  * writes through the transactional handle (V1Write); TRUNCATE is one
  * `overwriteAll` commit of the empty typed frame — history stays
  * time-travelable, exactly like INSERT OVERWRITE of nothing; ANSI
  * `DELETE FROM ... WHERE` routes translatable predicates to the
  * stats-pruned copy-on-write `delete` commit; on an EXTENSIONS
  * session the injected rule covers the FULL condition surface
  * (arbitrary expressions + subqueries, x66), while extension-less
  * sessions keep the V1-filter refusal via canDeleteWhere */
private[graft] class GraftSqlTable(ident: String, root: String,
                                   keyCol: String, declared: StructType,
                                   version: Long,
                                   external: Boolean = false)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete {

  /** the transactional handle + resolved logical key, for the injected
    * row-level SQL rules (MERGE INTO / UPDATE, x59) — they compile the
    * statement onto the handle's stats-pruned mutation verbs */
  private[graft] def graftHandle: GraftTable = table
  private[graft] def graftKey: String = resolved.logical
  private[graft] def isTimeTravel: Boolean = version >= 0
  private[graft] def isExternalReadOnly: Boolean = external
  private[graft] def identName: String = ident
  /** compound-key part names (CURRENT logical), when 'key'='a,b' */
  private[graft] def graftKeyParts: Option[Seq[String]] = resolved.parts
  /** wrap an insert-shaped frame with the synthesized key (identity
    * for single-key tables) */
  private[graft] def withStorageKey(df: DataFrame): DataFrame =
    graftKeyParts.fold(df)(p => CompoundKey.withKey(df, p))

  override def truncateTable(): Boolean = {
    require(version < 0, "cannot truncate a time-travel table")
    require(!external,
      s"cannot truncate READ-ONLY external registration $ident")
    table.overwriteAll(withStorageKey(spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], schema())))
    true
  }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    version < 0 && !external &&
      filters.forall(f => GraftFilterBridge.toColumn(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(version < 0, "cannot delete from a time-travel table")
    require(!external,
      s"cannot delete from READ-ONLY external registration $ident")
    val pred = filters.flatMap(GraftFilterBridge.toColumn)
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    table.delete(pred)
    ()
  }

  private def spark = SparkSession.active
  /** ONE handle per loaded table: Spark calls schema()/stats many
    * times during analysis, and a fresh handle per call would re-fold
    * the manifest each time. The key comes from the manifest stamp of
    * the version served — so a key-changing REPLACE that crashed
    * before the pointer rewrite, or a RESTORE past a REPLACE, loads
    * under the right key — and from the pointer on unstamped roots. */
  private lazy val resolved =
    GraftCatalog.resolveKey(spark, root, Some(keyCol), version).get
  private def table: GraftTable = resolved.table

  /** the version READS serve, resolved ONCE at load time: a query's
    * analysis and its (lazy) execution must see the same snapshot
    * even if commits land in between — the same pinning discipline as
    * the `USING graft` relation. Writes always target the head (the
    * commit CAS re-reads it); an INSERT INTO t SELECT FROM t
    * self-feed therefore reads the pre-insert snapshot, per SQL. */
  private val pinnedVersion: Long =
    if (version >= 0) version else table.head

  override def name(): String =
    if (version < 0) ident else s"$ident@v$version"

  /** declared schema until the first commit; the snapshot's schema
    * (column mapping + declarations applied) afterwards — resolved
    * once per loaded table. Declared write-time defaults re-attach as
    * `CURRENT_DEFAULT` field metadata so Spark's own default
    * resolution pads an explicit `INSERT INTO t (k, v)` column list
    * with the DECLARED default — without the metadata Spark pads
    * NULL, the column arrives present-but-null in the incoming frame,
    * and the write-time fill (which only covers ABSENT columns)
    * correctly leaves the NULL: the declared default silently never
    * applied on that path (round-15 advisor). `EXISTS_DEFAULT` is
    * NULL by the engine's non-retroactive ADD COLUMN semantics
    * (pre-add rows read NULL; x56). */
  private lazy val resolvedSchema: StructType = {
    val base0 =
      if (pinnedVersion == 0) declared
      // manifest-only resolution (O(manifest), zero file opens — a
      // 100 TB table must not existence-check every path to answer
      // analysis); read(v).schema only on a true per-file type
      // conflict, which its footer sweep rejects
      else table.schemaAt(pinnedVersion)
        .getOrElse(table.read(pinnedVersion).schema)
    // the compound-key storage column is an implementation detail:
    // SQL never sees it (writes re-synthesize it; reads project over
    // the user columns)
    val base =
      if (graftKeyParts.isDefined)
        StructType(base0.fields.filterNot(_.name == CompoundKey.KeyName))
      else base0
    val defaults = table.declaredDefaults()
    if (defaults.isEmpty) base
    else StructType(base.fields.map { f =>
      defaults.get(f.name) match {
        case Some(sql) =>
          f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putString("CURRENT_DEFAULT", sql)
            .putString("EXISTS_DEFAULT", "NULL")
            .build())
        case None => f
      }
    })
  }

  override def schema(): StructType = resolvedSchema

  /** the served version's standing clustering, reported as identity
    * transforms (what CREATE accepted) — DESCRIBE shows it, and
    * Spark's static PARTITION clause resolution (`INSERT INTO t
    * PARTITION (c = 5)`) works against it; resolved once per loaded
    * table */
  private lazy val reportedPartitioning: Array[Transform] =
    table.clusterBy(pinnedVersion).map(p =>
      org.apache.spark.sql.connector.expressions.Expressions.identity(
        table.logicalNameOf(p))).toArray
  override def partitioning(): Array[Transform] = reportedPartitioning

  /** what SHOW CREATE TABLE needs to reconstruct the DDL: the key
    * declaration (single or compound), the provider, and the storage
    * location */
  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    m.put("key", resolved.stored)
    m.put(TableCatalog.PROP_PROVIDER, "graft")
    m.put(TableCatalog.PROP_LOCATION, root)
    if (external) m.put("external", "readonly")
    m
  }

  /** AUTOMATIC_SCHEMA_EVOLUTION enables `MERGE INTO ... WITH SCHEMA
    * EVOLUTION` (x64, Delta's autoMerge): Spark's own
    * ResolveMergeIntoSchemaEvolution computes the width change from
    * the source schema and lands it through this catalog's
    * alterTable — ONE atomic O(metadata) alterColumns commit, zero
    * data files rewritten (x56's non-retroactive ADD COLUMN; old
    * rows read NULL). The capability gates nothing else in Spark
    * 4.1 (MergeIntoTable is its only consumer). */
  override def capabilities(): util.Set[TableCapability] =
    if (version >= 0) util.EnumSet.of(TableCapability.BATCH_READ)
    else if (external) util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
    else util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownFilters
        with SupportsPushDownRequiredColumns {
      private var pushed: Array[Filter] = Array.empty
      private var required: Option[StructType] = None

      override def pushFilters(filters: Array[Filter]): Array[Filter] = {
        pushed = filters
        filters // every filter re-checked above: pushdown is pruning only
      }
      override def pushedFilters(): Array[Filter] =
        pushed.filter(f => GraftFilterBridge.toColumn(f).isDefined)
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = Some(requiredSchema)

      override def build(): Scan = new V1Scan {
        private val outSchema = required.getOrElse(schema())
        override def readSchema(): StructType = outSchema

        /** `spark.readStream.table(...)` — Delta's streaming-source
          * semantics over the graft-cdf machinery: offsets ARE table
          * versions, the first window is the current snapshot, later
          * windows are its appends, and an update/delete in a window
          * fails loudly (insertsOnly). Column pruning carries: the
          * stream conforms each window to this scan's readSchema.
          * `.option("startingVersion", v)` (Delta's option) starts the
          * catch-up consumer AT version v — its first window is the
          * appends AFTER v, no snapshot bootstrap; the checkpoint's
          * own offset always wins on restart (offsets are versions,
          * so an explicit start and a restart agree by construction). */
        override def toMicroBatchStream(
            checkpointLocation: String): org.apache.spark.sql.connector
              .read.streaming.MicroBatchStream =
          new GraftCdfMicroBatchStream(
            root = root, keyCol = resolved.logical,
            // startingVersion wins when both given (it IS a version,
            // no resolution step); startingTimestamp (epoch millis,
            // the format route's convention) resolves through the
            // in-commit stamps
            startingVersion =
              Option(options.get("startingVersion")).map(_.toLong)
                .orElse(Option(options.get("startingTimestamp"))
                  .map(ms => table.versionAt(ms.toLong)))
                .getOrElse(0L),
            maxVersionsPerBatch =
              Option(options.get("maxVersionsPerBatch"))
                .map(_.toLong).getOrElse(Long.MaxValue),
            preimages = false, schema = outSchema,
            checkpointLocation = checkpointLocation,
            insertsOnly = true)
        /** the pinned snapshot over the pruned schema and the pushed
          * filters — the same relation the `USING graft` format reads */
        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: SQLContext): T =
          new GraftSnapshotRelation(context, table, pinnedVersion,
            outSchema, pushed).asInstanceOf[T]
      }
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, legacyOverwrite: Boolean): Unit = {
              val t = table
              // the declared INSERT discipline (x69), read from the head
              // snapshot the write lands on
              val upsert = t.upsertAt()
              val df = withStorageKey(data)
              val storageKey =
                if (graftKeyParts.isDefined) CompoundKey.KeyName
                else graftKey
              if (overwrite || legacyOverwrite) {
                // the invariant covers INSERT OVERWRITE too: the
                // replacement corpus itself must hold one row per key
                if (upsert)
                  GraftCatalog.withUniqueKeys(df, storageKey,
                    s"INSERT OVERWRITE $ident")((b, _) => t.overwriteAll(b))
                else t.overwriteAll(df)
              } else if (upsert) {
                // x69: the declared INSERT discipline — one row per
                // key is a table invariant, so the batch routes
                // through the keyed merge (stats-pruned: only files
                // holding touched keys rewrite) after the loud
                // duplicate-batch guard, both on ONE pinned
                // evaluation of the batch
                GraftCatalog.withUniqueKeys(df, storageKey,
                  s"INSERT INTO $ident")(
                  (b, n) => t.merge(b, preCountedKeys = n))
              } else t.append(df)
              ()
            }
          }
      }
    }
}

/** a table staged by [[GraftCatalog.stageCreate]]/`stageReplace`/
  * `stageCreateOrReplace`: BUFFERS the CTAS/RTAS query (the V1 insert
  * hands over the DataFrame — a plan, nothing executed yet) and lands
  * everything inside `commitStagedChanges()` in crash-safe order.
  * `abortStagedChanges` is a true no-op: nothing durable exists
  * before commit. */
private[sources] class GraftStagedTable(
    cat: GraftCatalog, ident: Identifier, stagedSchema: StructType,
    clusterCols: Seq[String], properties: util.Map[String, String],
    orCreate: Boolean, orReplace: Boolean)
    extends StagedTable with SupportsWrite {

  private var data: Option[DataFrame] = None

  override def name(): String = ident.toString
  override def schema(): StructType = stagedSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      override def truncate(): WriteBuilder = this // RTAS truncates: moot
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(df: DataFrame,
                                legacyOverwrite: Boolean): Unit = {
              data = Some(df)
            }
          }
      }
    }

  override def commitStagedChanges(): Unit =
    cat.commitStaged(ident, stagedSchema, clusterCols, properties,
      data, orCreate, orReplace)

  override def abortStagedChanges(): Unit = ()
}

/** COMPOUND business keys (x62): `TBLPROPERTIES ('key' = 'a,b')`.
  *
  * The engine stays single-key — the catalog SYNTHESIZES a hidden
  * storage column `__gkey` holding an ORDER-PRESERVING encoding of
  * the parts (sign-bucketed fixed-width integers, raw strings, 
  * separator: lexicographic order on the encoding == (a, b) tuple
  * order), filled on every catalog write path and hidden from
  * `schema()`. Everything then composes from existing machinery:
  *  - single-column predicates (DELETE/UPDATE WHERE a = ...) prune
  *    through the manifest's PER-COLUMN stats/sstats, which every
  *    stats-covered column already has;
  *  - compound-key MERGE prunes through `__gkey`'s string bounds
  *    (x40's lexicographic range join) — tight because compound
  *    tables default their standing clustering to the key parts, and
  *    the fixed-width integer encoding makes part order and encoded
  *    order agree;
  *  - exactly-once streaming, CDC, time travel, replace: unchanged
  *    (they key on `__gkey` like any key).
  * The encoding refuses NULL parts and strings containing the
  * separator or U+0000 — loudly, at write time (negative integers
  * encode since round 17; see [[CompoundKey.encode]]). */
private[graft] object CompoundKey {
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.types._

  val KeyName = "__gkey"
  val Sep = ""

  /** Some(parts) when `key` declares a compound key */
  def partsOf(key: String): Option[Seq[String]] = {
    val ps = key.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    if (ps.length >= 2) Some(ps) else None
  }

  def supportedType(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType | StringType => true
    case _ => false
  }

  /** one part's order-preserving encoding, with loud write-time
    * refusals for values the encoding cannot order.
    *
    * Integers: nonnegative values keep the fixed-width decimal
    * (`%019d`); negative values (round-17, lifting the round-16
    * refusal) prefix `-` and bias by −Long.MinValue into the same
    * nonnegative width (`v = -1` → `-9223372036854775807`). `-`
    * (0x2D) sorts before every digit (0x30-0x39), and the bias is
    * monotone over [Long.MinValue, -1], so lexicographic order on
    * the encoding still equals numeric order — and every encoding a
    * pre-round-17 table wrote is byte-identical (the negative branch
    * previously refused, so no stored key carries it).
    *
    * Strings: raw, refusing the separator (U+0001) and U+0000 (the
    * one code point below the separator — a string carrying it would
    * make encoded order disagree with tuple order across parts,
    * degrading the __gkey range pruning's tightness). */
  def encode(c: Column, t: DataType, name: String): Column = {
    def err(m: String) = raise_error(lit(m))
    t match {
      case ByteType | ShortType | IntegerType | LongType =>
        when(c.isNull, err(s"compound key part '$name' is NULL — " +
            "key parts must be non-null"))
          .when(c < 0, concat(lit("-"), format_string("%019d",
            c.cast(LongType) - Long.MinValue)))
          .otherwise(format_string("%019d", c.cast(LongType)))
      case StringType =>
        when(c.isNull, err(s"compound key part '$name' is NULL — " +
            "key parts must be non-null"))
          .when(c.contains(Sep), err(s"compound key part '$name' " +
            "contains the reserved separator \\u0001"))
          .when(c.contains("\u0000"), err(s"compound key part " +
            s"'$name' contains \\u0000 — it sorts below the " +
            "separator and breaks the encoding's tuple ordering"))
          .otherwise(c)
      case other => throw new IllegalArgumentException(
        s"compound key part '$name' has unsupported type " +
          s"${other.simpleString} (integral and string parts only)")
    }
  }

  /** add `__gkey` to an insert-shaped frame (parts by LOGICAL name) */
  def withKey(df: DataFrame, parts: Seq[String]): DataFrame = {
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    parts.foreach(p => require(types.contains(p),
      s"compound key part '$p' missing from the frame " +
        s"(${df.columns.mkString(", ")})"))
    df.withColumn(KeyName,
      concat_ws(Sep, parts.map(p => encode(col(p), types(p), p)): _*))
  }
}
