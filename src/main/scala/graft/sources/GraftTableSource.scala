package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SQLContext}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

import graft.table.GraftTable

/** `graft` — BATCH read of a [[GraftTable]] as a registered Spark data
  * source, so a table is reachable from the DataFrame reader AND from
  * pure SQL with no Scala handle in sight:
  *
  * {{{
  * spark.read.format("graft")
  *   .option("path", root).option("keyCol", "id")
  *   .option("versionAsOf", "3")      // optional time travel
  *   .load()
  *
  * CREATE TEMPORARY VIEW t USING graft
  *   OPTIONS (path '<root>', keyCol 'id')   -- then: SELECT ... FROM t
  * }}}
  *
  * Implemented as [[GraftSnapshotRelation]] — the same relation a
  * catalog table's V1 scan builds — over the version pinned at load
  * (`versionAsOf`, `timestampAsOf`, else the head) and the snapshot's
  * own schema: it delegates to the handle's snapshot plan, so column
  * pruning reaches the inner parquet scan and pushed filters file-skip
  * through `readWhere` (Spark re-checks them above the scan). Writes
  * stay on the transactional BATCH handle (append/merge/delete): a
  * format-level blind `save()` could not express keyed upserts or
  * txn-guarded commits, and pretending otherwise invites silent
  * non-transactional writes — the same reason Delta routes batch
  * mutations through its own API/SQL verbs.
  *
  * STREAMING writes, by contrast, ARE expressible declaratively —
  * append-only micro-batches with the batch id as the idempotency
  * token — so the format registers a streaming SINK too:
  *
  * {{{
  * stream.writeStream.format("graft")
  *   .option("path", root).option("keyCol", "id")
  *   .option("checkpointLocation", ckpt)
  *   .start()
  * }}}
  *
  * Each micro-batch commits through `GraftTable.streamAppend(b,
  * batchId)`: the manifest records the batch id as a `txn` marker, so
  * the batch Spark re-delivers after a failure between sink commit and
  * checkpoint write is detected and skipped (the check re-runs inside
  * the commit CAS loop) — exactly-once table contents from
  * at-least-once delivery, the same contract Delta's sink implements.
  * Append output mode only: Update/Complete would require keyed
  * rewrites per batch, which belong to the merge API. */
class GraftTableSourceProvider extends RelationProvider
    with StreamSinkProvider
    with StreamSourceProvider
    with DataSourceRegister {
  override def shortName(): String = "graft"

  // V1 passes options case-insensitively lowercased on some paths;
  // accept both spellings
  private def opt(parameters: Map[String, String], k: String)
      : Option[String] =
    parameters.get(k).orElse(parameters.get(k.toLowerCase))
  private def required(parameters: Map[String, String], k: String): String =
    opt(parameters, k).getOrElse(
      throw new IllegalArgumentException(s"graft requires option '$k'"))

  /** the keyCol option (the format route wins), or the catalog's one
    * key resolver over the MANIFEST's key stamp — the same `keyrec`
    * row catalog loads resolve from, so the sink and the catalog can
    * never disagree about a table's key. Resolved to (handle key,
    * optional wrap parts by current logical name). */
  private def resolveKey(sqlContext: SQLContext,
                         parameters: Map[String, String],
                         root: String): (String, Option[Seq[String]]) =
    opt(parameters, "keyCol") match {
      case Some(k) => (k, None)
      case None =>
        val r = GraftCatalog.resolveKey(sqlContext.sparkSession, root, None)
          .getOrElse(throw new IllegalArgumentException(
            "graft needs option 'keyCol' (or a catalog-created table, " +
              "whose manifest records its key)"))
        (r.logical, r.parts)
    }

  /** V1 streaming-source SCHEMA only: Spark's streaming relation
    * resolution eagerly materializes a catalog table's V1 fallback —
    * including its source schema — even when the V2 micro-batch path
    * (graft-cdf, `readStream.table`) is the one that runs. Answered
    * from the manifest (O(manifest), zero file opens). */
  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String])
      : (String, StructType) = schema match {
    case Some(s) => (shortName(), s)
    case None =>
      val root = required(parameters, "path")
      val (key, parts) = resolveKey(sqlContext, parameters, root)
      val t = GraftTable.open(sqlContext.sparkSession, root, key)
      val full = t.schemaAt().getOrElse(t.read().schema)
      // the compound-key storage column stays hidden, like schema()
      (shortName(),
        if (parts.isDefined)
          StructType(full.fields.filterNot(_.name == CompoundKey.KeyName))
        else full)
  }

  /** never reached while the catalog table advertises
    * MICRO_BATCH_READ (Spark prefers the V2 stream); reached only if
    * an operator force-disables the V2 reader */
  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source =
    throw new UnsupportedOperationException(
      "graft tables stream through the V2 micro-batch source — " +
        "spark.readStream.table(...) or format(\"graft-cdf\") — not " +
        "the V1 format route")

  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String]): BaseRelation = {
    val root = required(parameters, "path")
    val key = required(parameters, "keyCol")
    // BATCH CHANGE-FEED read (Delta's readChangeFeed): the net
    // row-level feed over a version window, as a relation — the
    // catch-up/audit shape; the graft-cdf stream is the follow shape
    if (opt(parameters, "readChangeFeed").exists(_.toBoolean)) {
      val t = GraftTable.open(sqlContext.sparkSession, root, key)
      val from = opt(parameters, "startingVersion").map(_.toLong)
        .orElse(opt(parameters, "startingTimestamp")
          .map(ms => t.versionAt(ms.toLong)))
        .getOrElse(0L)
      val to = opt(parameters, "endingVersion").map(_.toLong)
        .getOrElse(t.head)
      val pre = opt(parameters, "preimages").exists(_.toBoolean)
      return new GraftChangesRelation(sqlContext, root, key, from, to, pre)
    }
    val t = GraftTable.open(sqlContext.sparkSession, root, key)
    val version = opt(parameters, "versionAsOf").map(_.toLong)
      // epoch millis → the version current at that instant (Delta's
      // TIMESTAMP AS OF, resolved once at load time)
      .orElse(opt(parameters, "timestampAsOf")
        .map(ms => t.versionAt(ms.toLong)))
      .getOrElse(t.head)
    new GraftSnapshotRelation(sqlContext, t, version, t.read(version).schema)
  }

  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: OutputMode): Sink = {
    require(outputMode == OutputMode.Append(),
      s"graft sink is append-only ingest; got $outputMode — keyed " +
        "upserts stream through foreachBatch + merge(b, txn = batchId)")
    require(partitionColumns.isEmpty,
      "graft manages its own file layout (key-range clustering); " +
        "partitionBy is not supported")
    val root = required(parameters, "path")
    // `writeStream.toTable("gcat.t")` arrives here through Spark's V1
    // fallback with ONLY the storage location: the key resolves from
    // the manifest's key stamp (its immutable PHYSICAL name — or the
    // compound part list, whose synthesized key the sink fills per
    // batch). An explicit keyCol option (the format route) wins.
    val (key, wrapParts) = resolveKey(sqlContext, parameters, root)
    val sink = new GraftStreamSink(sqlContext, root, key, wrapParts)
    // An 'insert'='upsert' table (x69) holds one row per key as an
    // INVARIANT — a streaming APPEND cannot keep it (batches repeat
    // keys, replays re-land them), so it refuses loudly here instead
    // of silently breaking the discipline its head snapshot declares.
    require(!sink.table.upsertAt(),
      "streaming append would break an 'insert'='upsert' table's " +
        "one-row-per-key invariant — stream into a staging table and " +
        "MERGE, or foreachBatch + merge(batch, txn = batchId)")
    sink
  }
}

/** the V1 streaming sink: one `streamAppend` commit per micro-batch,
  * idempotent by batch id (see provider doc) */
private[sources] class GraftStreamSink(sqlContext: SQLContext,
    root: String, keyCol: String,
    wrapParts: Option[Seq[String]] = None) extends Sink {
  // one handle for the query's lifetime: reuses its memoized
  // metadata (DV target sets) across batches
  private[sources] val table =
    GraftTable.open(sqlContext.sparkSession, root, keyCol)

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    // the incoming frame is the incremental plan (isStreaming leaves);
    // re-batch it Delta-style before handing it to the table's writer
    val batch = org.apache.spark.sql.graftglue.ColumnBridge.rebatch(data)
    table.streamAppend(
      wrapParts.fold(batch)(p => CompoundKey.withKey(batch, p)), batchId)
    ()
  }

  override def toString: String = s"GraftSink[$root]"
}

/** the batch change-feed relation: `changes(from, to)` as a scan —
  * `startingVersion = 0` bootstraps the `to` snapshot as pure inserts
  * (the stream source's initial-snapshot semantics, batch-shaped) */
private[sources] class GraftChangesRelation(
    override val sqlContext: SQLContext, root: String, keyCol: String,
    fromV: Long, toV: Long, preimages: Boolean)
    extends BaseRelation with TableScan {
  private def feed = {
    val t = GraftTable.open(sqlContext.sparkSession, root, keyCol)
    if (fromV == 0L)
      t.read(toV).withColumn("change_type", lit("insert"))
    else t.changes(fromV, toV, preimages = preimages)
  }
  override val schema: StructType = feed.schema
  override def buildScan(): RDD[Row] = feed.rdd
}

/** ONE pinned snapshot of a graft table as a V1 relation: the read
  * route of both the `USING graft` format (as a [[PrunedFilteredScan]],
  * required columns and filters from Spark's V1 strategy) and a catalog
  * table's V1 scan (as a [[TableScan]] over the columns and filters its
  * ScanBuilder was given). It holds one handle and the version PINNED
  * at load/analysis time: a DataFrame is an immutable snapshot, so
  * re-executing it after concurrent commits re-reads the SAME version,
  * never a newer head — Delta pins its snapshot at analysis the same
  * way. Each route passes its own `schema`: the format serves the
  * snapshot's, the catalog hides the compound-key column and carries
  * the declared-default metadata.
  *
  * The scan DELEGATES to the handle's snapshot plan (DV-applied,
  * schema-merged, and run through Catalyst like any DataFrame), so the
  * selected columns reach the inner parquet scan, and the pushed
  * filters route through `readWhere`: manifest FILE SKIPPING — min/max
  * stats plus any bloom index — before the row-level filter, so a
  * `WHERE token = '...'` opens candidate files only. Every filter is
  * declared UNHANDLED and re-checked by Spark above the scan: pushdown
  * is pruning, never a correctness dependency. `sizeInBytes` comes from
  * the manifest's counters (x44), so a join against a small graft table
  * broadcasts instead of paying the session default's shuffle. */
private[sources] class GraftSnapshotRelation(
    override val sqlContext: SQLContext, table: GraftTable, version: Long,
    override val schema: StructType, pushed: Array[Filter] = Array.empty)
    extends BaseRelation with TableScan with PrunedFilteredScan {

  override def sizeInBytes: Long = table.bytesOf(version)

  override def unhandledFilters(filters: Array[Filter]): Array[Filter] =
    filters

  override def buildScan(): RDD[Row] = buildScan(schema.fieldNames, pushed)

  override def buildScan(requiredColumns: Array[String],
                         filters: Array[Filter]): RDD[Row] = {
    // a declared-but-empty table has no snapshot to plan: an empty
    // typed frame (read(0) has no columns to select)
    if (version == 0) {
      val spark = sqlContext.sparkSession
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType(requiredColumns.map(schema(_)))).rdd
    }
    val base = filters.flatMap(GraftFilterBridge.toColumn)
      .reduceOption(_ && _) match {
      case Some(pred) => table.readWhere(pred, version)
      case None => table.read(version)
    }
    // select() with zero columns IS the COUNT(*) projection
    base.select(requiredColumns.toSeq.map(col): _*).rdd
  }
}

/** translate the pushable subset of V1 source filters to Columns —
  * anything untranslatable is simply not applied (callers re-check
  * every filter above the scan, so pushdown stays an optimization).
  * Used by [[GraftSnapshotRelation]]'s scan, by the catalog's
  * ScanBuilder to report which filters it pushed, and by the catalog's
  * V1-filter `DELETE` (where an untranslatable filter refuses the
  * delete instead). */
private[sources] object GraftFilterBridge {
  def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v)            => Some(col(a) === v)
    case GreaterThan(a, v)        => Some(col(a) > v)
    case GreaterThanOrEqual(a, v) => Some(col(a) >= v)
    case LessThan(a, v)           => Some(col(a) < v)
    case LessThanOrEqual(a, v)    => Some(col(a) <= v)
    case In(a, vs)                => Some(col(a).isin(vs.toSeq: _*))
    case IsNull(a)                => Some(col(a).isNull)
    case IsNotNull(a)             => Some(col(a).isNotNull)
    case StringStartsWith(a, v)   => Some(col(a).startsWith(v))
    case And(l, r) =>
      for { lc <- toColumn(l); rc <- toColumn(r) } yield lc && rc
    case Or(l, r) =>
      for { lc <- toColumn(l); rc <- toColumn(r) } yield lc || rc
    case Not(x) => toColumn(x).map(!_)
    case _ => None
  }
}
