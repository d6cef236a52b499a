package graft.sources

import java.util

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import graft.table.GraftTable

/** `graft-cdf` — STREAMING CHANGE-FEED consumption of a [[GraftTable]]
  * as a native DataSourceV2 micro-batch source, where stream offsets
  * ARE table versions (Delta CDF's `readChangeFeed` streaming shape):
  *
  * {{{
  * spark.readStream.format("graft-cdf")
  *   .option("path", tableRoot).option("keyCol", "id")
  *   .option("startingVersion", "1")    // 0 = initial snapshot as inserts
  *   .option("maxVersionsPerBatch", "8") // bounded catch-up windows
  *   .load()                            // table columns + change_type
  * }}}
  *
  * Each micro-batch covers a version window `(startV, endV]` and emits
  * the NET row-level feed `changes(startV, endV)` — insert/update
  * postimages and delete preimages — so a downstream
  * `applyChanges(batch, txn = batchId)` replicates the table
  * exactly-once. Because the OFFSET is the version, a consumer resumes
  * from its own checkpoint after a crash or restart with no
  * side-channel coordination (the round-11 w21 shape — a staged list
  * of version numbers driven through foreachBatch — is exactly what
  * this removes).
  *
  * Execution model: offsets are resolved on the driver against the
  * table's commit log (metadata-scale); the window's feed — a
  * change-proportional DataFrame (changed files + new DV targets
  * only, never a table scan) — is materialized ONCE per window into
  * the stream's own checkpoint directory as length-prefixed
  * [[UnsafeRow]] frames, written executor-side with the feed's own
  * partitioning, and the batch's [[PartitionReader]]s stream those
  * frames back. The materialization is idempotent (a `_DONE` marker
  * published after all frames land), so a batch replayed across a
  * failure re-reads the SAME bytes rather than recomputing against a
  * table whose head may have moved — the checkpoint dir is already
  * the stream's durable, cluster-visible storage (HDFS/S3 in
  * production), which is why the shuttle files live there. `commit`
  * prunes windows at or below the committed version.
  *
  * SMALL WINDOWS GO DIRECT (round-15 verdict #5 — the steady-state
  * shape): a ONE-version window whose manifest-estimated change
  * volume ([[GraftTable.changeVolumeBytes]], zero data reads) fits
  * [[GraftCdfMicroBatchStream.DirectWindowBytes]] skips the shuttle
  * entirely — the feed's UnsafeRows are computed at plan time and
  * shipped INLINE in the input partitions (one job, zero files,
  * bounded driver memory by the same budget). This is replay-safe
  * without materialization because the recompute is a pure function
  * of IMMUTABLE inputs: committed manifests never change (compact/
  * restore commit NEW versions), data files never rewrite in place,
  * and a vacuum past the window fails the replay LOUDLY ("expired
  * from the log") rather than yielding different bytes.
  *
  * COST OF THE SHUTTLE (deliberate trade, now catch-up-only): each
  * bigger window's feed is written once and read once, so a large
  * catch-up window pays ~2× its change volume in I/O — the price of
  * not holding an unbounded window on the driver.
  * `maxVersionsPerBatch` bounds the per-window volume; steady-state
  * windows are one version's changes, served direct.
  *
  * `startingVersion = 0` bootstraps a from-scratch mirror: the first
  * window emits the starting snapshot as pure inserts (Delta's
  * initial-snapshot semantics), then follows the log. The schema is
  * fixed at stream start (head schema + `change_type`); schema
  * evolution mid-stream requires a restart, as in Delta CDF. */
class GraftCdfSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-cdf"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val spark = SparkSession.active
    val t = GraftTable.open(spark, GraftCdfSourceProvider.path(options),
      GraftCdfSourceProvider.keyCol(options))
    val head = t.head
    require(head >= 1, "graft-cdf needs a table with at least one commit")
    t.read(head).schema.add("change_type", StringType, nullable = false)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new GraftCdfTable(schema, new CaseInsensitiveStringMap(properties))
}

private[sources] object GraftCdfSourceProvider {
  def path(o: CaseInsensitiveStringMap): String = {
    val p = o.get("path")
    require(p != null && p.nonEmpty, "graft-cdf requires option 'path'")
    p
  }
  def keyCol(o: CaseInsensitiveStringMap): String = {
    val k = o.get("keyCol")
    require(k != null && k.nonEmpty, "graft-cdf requires option 'keyCol'")
    k
  }
}

private[sources] class GraftCdfTable(schema0: StructType,
                                     options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String =
    s"graft-cdf(${GraftCdfSourceProvider.path(options)})"
  override def schema(): StructType = schema0
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = schema0
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
          val root = GraftCdfSourceProvider.path(options)
          val key = GraftCdfSourceProvider.keyCol(options)
          // startingTimestamp (Delta CDF parity): epoch millis resolved
          // once at stream start to the version current at that
          // instant — "follow changes since last night's run" without
          // a version number in hand. startingVersion wins when both
          // are set; the checkpointed offset wins over both on restart.
          val startV = Option(options.get("startingVersion")).map(_.toLong)
            .orElse(Option(options.get("startingTimestamp")).map(ms =>
              GraftTable.open(SparkSession.active, root, key)
                .versionAt(ms.toLong)))
            .getOrElse(0L)
          new GraftCdfMicroBatchStream(
            root = root,
            keyCol = key,
            startingVersion = startV,
            maxVersionsPerBatch =
              options.getLong("maxVersionsPerBatch", Long.MaxValue),
            // Delta CDF's update_preimage/update_postimage split — what
            // a downstream signed-delta fold (w23) consumes; default
            // false keeps the net replication shape (w21)
            preimages = options.getBoolean("preimages", false),
            schema = schema0,
            checkpointLocation = checkpointLocation)
        }
      }
    }
}

private[sources] case class GraftVersionOffset(v: Long) extends Offset {
  override def json(): String = v.toString
}

private[sources] class GraftCdfMicroBatchStream(
    root: String, keyCol: String, startingVersion: Long,
    maxVersionsPerBatch: Long, preimages: Boolean, schema: StructType,
    checkpointLocation: String, insertsOnly: Boolean = false)
    extends MicroBatchStream with SupportsAdmissionControl {

  private def spark = SparkSession.active
  /** ONE handle for the stream's whole life: its per-version manifest
    * memos are immutable-safe to share across triggers, and a fresh
    * handle per offset/plan call re-paid a COLD manifest fold (driver
    * parquet reads) every micro-batch — measured as ~2 s/window on
    * w23's three-window replay when the direct path added its
    * changeVolumeBytes lookups. `head` stays a live listing, so
    * following the log is unaffected. */
  private lazy val table = GraftTable.open(spark, root, keyCol)
  private val cacheRoot = s"$checkpointLocation/graft-cdf-cache"
  private def hconf = new SerializableConfiguration(
    spark.sessionState.newHadoopConf())

  override def initialOffset(): Offset = {
    require(startingVersion >= 0, "startingVersion must be >= 0")
    require(maxVersionsPerBatch >= 1, "maxVersionsPerBatch must be >= 1")
    GraftVersionOffset(startingVersion)
  }

  override def latestOffset(): Offset = GraftVersionOffset(table.head)

  /** admission control (Delta's maxFilesPerTrigger analog, in the
    * source's own unit): a consumer that fell far behind catches up in
    * BOUNDED version windows — each batch commits its own checkpoint,
    * so a crash mid-catch-up loses one window, not the whole replay.
    * The windows stay NET per batch (a row upserted in v5 and deleted
    * in v9 flows through both batches), landing at the same final
    * state with change-proportional work per trigger. */
  override def latestOffset(startOffset: Offset, limit: ReadLimit): Offset = {
    val s = startOffset.asInstanceOf[GraftVersionOffset].v
    val h = table.head
    if (maxVersionsPerBatch == Long.MaxValue) GraftVersionOffset(h)
    else GraftVersionOffset(math.min(h, s + maxVersionsPerBatch))
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def deserializeOffset(json: String): Offset =
    GraftVersionOffset(json.toLong)

  /** the window's NET feed, conformed to the stream's fixed schema —
    * the `(0, endV]` bootstrap window is the endV snapshot as inserts.
    *
    * Schema-evolution boundaries (x53/x56 landing mid-stream or inside
    * a catch-up range) conform by POLICY, never by accident:
    *  - window columns ⊂ pinned (a catch-up window below an ADD
    *    COLUMN): the missing column genuinely did not exist in those
    *    versions — fill typed NULL;
    *  - pinned columns ⊂ window (an ADD landed after the stream
    *    pinned): the new column projects OUT until a restart re-pins,
    *    Delta CDF's behavior;
    *  - BOTH sets differ (a RENAME boundary): filling NULL would emit
    *    silent nulls for data that exists under the other name — fail
    *    LOUDLY naming both sides; restarting the stream re-pins and
    *    resumes from the checkpointed version. */
  private def feedFor(startV: Long, endV: Long)
      : org.apache.spark.sql.DataFrame = {
    val raw0 =
      if (startV == 0L)
        table.read(endV).withColumn("change_type", lit("insert"))
      else table.changes(startV, endV, preimages = preimages)
    // STREAMING TABLE READS (`readStream.table`, Delta's streaming
    // source semantics): rows stream as APPENDS; a window carrying an
    // update/delete means the table is not append-only for this
    // consumer — fail loudly naming the alternative, never silently
    // drop or double-emit. The MANIFEST answers the common case for
    // free: a window that removes no data file and adds no deletion
    // vector cannot carry an update or delete — only then (compaction
    // windows, MoR deletes) does the limit-1 probe of the
    // change-proportional feed run.
    val raw =
      if (!insertsOnly || startV == 0L) raw0
      else {
        val fFrom = table.filesOf(startV).toSet
        val pureAppend =
          fFrom.subsetOf(table.filesOf(endV).toSet) &&
            table.deletionVectorsOf(endV).toSet ==
              table.deletionVectorsOf(startV).toSet
        if (!pureAppend) {
          val bad = raw0.where(col("change_type") =!= "insert")
            .limit(1).collect()
          if (bad.nonEmpty) throw new IllegalStateException(
            s"graft($root): version window ($startV, $endV] contains a " +
              s"'${bad.head.getAs[String]("change_type")}' change — " +
              "readStream.table streams APPENDS only; consume updates/" +
              "deletes through the graft-cdf change-feed source instead")
        }
        raw0
      }
    val have = raw.columns.toSet
    // change_type is the feed's own column, not the table's: an
    // insertsOnly stream pins the TABLE schema, so it must never
    // count as "extra" in the rename-boundary check below (it is
    // projected out by the conform select either way)
    val missing = schema.fieldNames.filterNot(have)
    val extra = raw.columns.filterNot(c =>
      schema.fieldNames.contains(c) || c == "change_type")
    if (missing.nonEmpty && extra.nonEmpty)
      throw new IllegalStateException(
        s"graft-cdf($root): window ($startV, $endV] columns differ from " +
          s"the stream's pinned schema in BOTH directions (window has " +
          s"${extra.mkString(", ")}; pinned has ${missing.mkString(", ")})" +
          " — a column rename crossed the stream. Restart the query to " +
          "re-pin the schema; it resumes from the checkpointed version.")
    raw.select(schema.fields.toSeq.map(f =>
      if (have(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)): _*)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftVersionOffset].v
    val e = end.asInstanceOf[GraftVersionOffset].v
    if (e <= s) return Array.empty
    // DIRECT path for the steady-state window (see the class doc): one
    // version, change volume provably small — serve the feed's rows
    // inline, zero shuttle files. The (0, 1] SNAPSHOT-BOOTSTRAP
    // window deliberately NEVER takes it (`s >= 1`): the byte budget
    // gates on manifest-recorded ON-DISK bytes, and an initial
    // snapshot is exactly the high-compression case (clustered,
    // dictionary-friendly) where 32 MB of parquet can decode to
    // hundreds of MB of UnsafeRows in the plan-time collect — a
    // driver OOM the executor-side shuttle never risks. A round-17
    // experiment lifted the guard and measured it perf-NEUTRAL at
    // sf0.1 (the bootstrap's cost is feed compute + one stateful
    // micro-batch, not shuttle I/O), so the conservative guard
    // stays; steady-state deltas keep the direct path — their
    // volume is scattered change data, the low-amplification shape.
    if (e - s == 1 && s >= 1) {
      val vol = table.changeVolumeBytes(s, e)
      if (vol <= GraftCdfMicroBatchStream.DirectWindowBytes) {
        val sch = schema
        val rows = feedFor(s, e).queryExecution.toRdd
          .mapPartitions { rs =>
            val proj = UnsafeProjection.create(sch)
            rs.map { r =>
              val u = proj(r)
              util.Arrays.copyOf(u.getBytes, u.getSizeInBytes)
            }
          }.collect() // bounded by DirectWindowBytes via the estimate
        // chunk to task-message-friendly partitions (~4 MB each)
        val chunks = scala.collection.mutable.ArrayBuffer
          .empty[scala.collection.mutable.ArrayBuffer[Array[Byte]]]
        var cur = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
        var curBytes = 0L
        for (b <- rows) {
          if (curBytes > 0 && curBytes + b.length > (4L << 20)) {
            chunks += cur
            cur = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
            curBytes = 0L
          }
          cur += b; curBytes += b.length
        }
        if (cur.nonEmpty) chunks += cur
        return chunks.map(c =>
          GraftCdfInlinePartition(c.toArray, schema.size): InputPartition)
          .toArray
      }
    }
    val dir = s"$cacheRoot/$s-$e"
    val conf = hconf
    val fs = new Path(dir).getFileSystem(conf.value)
    val done = new Path(dir, "_DONE")
    if (!fs.exists(done)) {
      // rebuild from scratch on a partial write (crash mid-materialize)
      fs.delete(new Path(dir), true)
      fs.mkdirs(new Path(dir))
      val sch = schema
      feedFor(s, e).queryExecution.toRdd
        .mapPartitionsWithIndex { (i, rows) =>
          if (rows.isEmpty) Iterator.empty
          else {
            val p = new Path(dir, f"frame-$i%05d.bin")
            val out = new java.io.DataOutputStream(
              p.getFileSystem(conf.value).create(p, true))
            val proj = UnsafeProjection.create(sch)
            val buf = new Array[Byte](8192)
            try rows.foreach { r =>
              val u = proj(r)
              out.writeInt(u.getSizeInBytes)
              u.writeToStream(out, buf)
            } finally out.close()
            Iterator.single(p.toString)
          }
        }.collect()
      // publish: the window is complete and will never be recomputed
      fs.create(done, true).close()
    }
    val frames = fs.listStatus(new Path(dir))
      .map(_.getPath).filter(_.getName.startsWith("frame-"))
      .sortBy(_.getName)
    frames.map(p => GraftCdfPartition(p.toString, schema.size): InputPartition)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftCdfReaderFactory(hconf)

  /** a committed window's shuttle frames are dead — prune them */
  override def commit(end: Offset): Unit = {
    val e = end.asInstanceOf[GraftVersionOffset].v
    val fs = new Path(cacheRoot).getFileSystem(hconf.value)
    val rootP = new Path(cacheRoot)
    if (fs.exists(rootP)) fs.listStatus(rootP).foreach { st =>
      st.getPath.getName.split("-") match {
        case Array(_, hi) if hi.forall(_.isDigit) && hi.toLong <= e =>
          fs.delete(st.getPath, true)
        case _ => ()
      }
    }
  }

  override def stop(): Unit = ()
}

private[sources] object GraftCdfMicroBatchStream {
  /** manifest-estimated change volume up to which a one-version window
    * serves DIRECT (inline rows, no shuttle files). Bounds the
    * plan-time collect; windows past it take the shuttle. */
  private[sources] val DirectWindowBytes: Long = 32L << 20
}

private[sources] case class GraftCdfPartition(file: String, numFields: Int)
    extends InputPartition

/** a direct (shuttle-free) window's rows, shipped inline: each element
  * is one UnsafeRow's backing bytes */
private[sources] case class GraftCdfInlinePartition(
    rows: Array[Array[Byte]], numFields: Int) extends InputPartition

private[sources] class GraftCdfReaderFactory(conf: SerializableConfiguration)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = partition match {
    case ip: GraftCdfInlinePartition =>
      new PartitionReader[InternalRow] {
        private var i = -1
        override def next(): Boolean = { i += 1; i < ip.rows.length }
        override def get(): InternalRow = {
          val row = new UnsafeRow(ip.numFields)
          row.pointTo(ip.rows(i), ip.rows(i).length)
          row
        }
        override def close(): Unit = ()
      }
    case other => createFileReader(other.asInstanceOf[GraftCdfPartition])
  }

  private def createFileReader(p: GraftCdfPartition): PartitionReader[InternalRow] = {
    new PartitionReader[InternalRow] {
      private val path = new Path(p.file)
      private val in = new java.io.DataInputStream(
        new java.io.BufferedInputStream(
          path.getFileSystem(conf.value).open(path)))
      private var current: UnsafeRow = _
      override def next(): Boolean = {
        val len =
          try in.readInt()
          catch { case _: java.io.EOFException => return false }
        val bytes = new Array[Byte](len)
        in.readFully(bytes)
        val row = new UnsafeRow(p.numFields)
        row.pointTo(bytes, len)
        current = row
        true
      }
      override def get(): InternalRow = current
      override def close(): Unit = in.close()
    }
  }
}
