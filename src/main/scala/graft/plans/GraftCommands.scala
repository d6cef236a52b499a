package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.LongType

/** Lazily-run Command nodes for the MUTATING half of the GRAFT SQL
  * surface (the round-11 gap: GraftSqlParser resolved its read-only
  * commands eagerly AT PARSE TIME, which is exactly why mutators could
  * not ride the same route — a parse-time side effect would fire on
  * EXPLAIN, on analysis, on anything that touches the plan).
  *
  * A [[LeafRunnableCommand]] is Spark's own contract for this (every
  * built-in DDL/DML statement is one): parsing and analysis build the
  * node, EXPLAIN formats it, and the side effect runs ONLY when the
  * command executes. Each command returns the new table version as a
  * one-row result, the way Delta's SQL verbs report their commit. */
private[plans] trait GraftVersionCommand extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
}

/** `GRAFT DELETE FROM '<root>' KEY <col> [USING MOR] WHERE <predicate>`
  * — row-level delete through [[graft.table.GraftTable.delete]]: the
  * predicate text parses lazily against the table's own schema at run
  * time, planning prunes off the manifest stats, and `USING MOR`
  * selects the deletion-vector cost model (no data file rewritten). */
case class GraftDeleteCommand(root: String, key: String, whereSql: String,
                              mor: Boolean) extends GraftVersionCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val t = graft.table.GraftTable.open(session, root, key)
    Seq(Row(t.delete(expr(whereSql), mode = if (mor) "mor" else "cow")))
  }
}

/** `GRAFT RESTORE '<root>' TO <version>` /
  * `GRAFT RESTORE '<root>' TO TIMESTAMP <epoch millis>` — roll the
  * table back to a retained version AS A NEW COMMIT
  * ([[graft.table.GraftTable.restore]]: pure metadata, history
  * preserved, vacuumed versions refuse). The timestamp form resolves
  * through the in-commit stamps at run time. */
case class GraftRestoreCommand(root: String, toVersion: Long,
                               toTimestamp: Option[Long] = None)
    extends GraftVersionCommand {
  override def run(session: SparkSession): Seq[Row] = {
    // restore never consults the key column
    val t = graft.table.GraftTable.open(session, root, "__unused__")
    Seq(Row(t.restore(toTimestamp.map(t.versionAt).getOrElse(toVersion))))
  }
}

/** `GRAFT CLONE '<src>' KEY <col> INTO '<dst>' [VERSION <v>]` —
  * zero-copy SHALLOW CLONE ([[graft.table.GraftTable.shallowClone]]):
  * the destination's v1 manifest references the source's files at the
  * given (default: head) version; mutations then copy-on-write into
  * the clone's own data dir. Returns the clone's head (1). */
case class GraftCloneCommand(srcRoot: String, key: String, dstRoot: String,
                             version: Long) extends GraftVersionCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val t = graft.table.GraftTable.shallowClone(session, srcRoot, key,
      dstRoot, version)
    Seq(Row(t.head))
  }
}

/** `GRAFT MERGE INTO '<root>' KEY <col> [TXN <id>] USING <query>` —
  * keyed upsert of the query's rows ([[graft.table.GraftTable.merge]]:
  * stats-pruned planning, matched-file-only rewrite; `TXN` makes the
  * merge idempotent by id for replay-safe ingestion). The source
  * query text resolves against the session at RUN time — parse,
  * analysis, and EXPLAIN never execute it. */
case class GraftMergeCommand(root: String, key: String, txn: Long,
                             sourceSql: String) extends GraftVersionCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val t = graft.table.GraftTable.open(session, root, key)
    Seq(Row(t.merge(session.sql(sourceSql), txn = txn)))
  }
}

/** `GRAFT CREATE '<root>' KEY <col> [RANGE CLUSTER INTO <n> FILES]
  * USING <query>` — create a table whose first data version (v1, or
  * the one after properties declared on the empty root) is the
  * query's rows; returns that version. The optional clause
  * range-clusters the layout on the key
  * (repartitionByRange + sortWithinPartitions), so every later
  * stats-pruned mutation reads only key-overlapping files — the
  * clustered-create a SQL-only pipeline otherwise could not ask
  * for. */
case class GraftCreateCommand(root: String, key: String,
                              clusterFiles: Option[Int],
                              sourceSql: String) extends GraftVersionCommand {
  override def run(session: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.col
    val src = session.sql(sourceSql)
    val laid = clusterFiles match {
      case Some(n) =>
        src.repartitionByRange(n, col(key)).sortWithinPartitions(key)
      case None => src
    }
    Seq(Row(graft.table.GraftTable.create(session, root, key, laid).head))
  }
}

/** `GRAFT APPEND INTO '<root>' KEY <col> USING <query>` — append-only
  * commit of the query's rows (new files; every existing file carries
  * by reference). */
case class GraftAppendCommand(root: String, key: String,
                              sourceSql: String) extends GraftVersionCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val t = graft.table.GraftTable.open(session, root, key)
    Seq(Row(t.append(session.sql(sourceSql))))
  }
}

/** `GRAFT OPTIMIZE '<root>' [TARGET <n> FILES] [WHERE <pred>]` —
  * small-file compaction ([[graft.table.GraftTable.compact]]: files
  * already at size carry by reference; pending deletion vectors fold
  * in; a WHERE clause scopes the fold to stats-overlapping files —
  * Delta's OPTIMIZE ... WHERE). */
case class GraftOptimizeCommand(root: String, targetFiles: Int,
                                whereSql: Option[String] = None)
    extends GraftVersionCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val t = graft.table.GraftTable.open(session, root, "__unused__")
    Seq(Row(t.compact(targetFiles = targetFiles,
      where = whereSql.map(expr))))
  }
}

/** `GRAFT CLUSTER '<root>' BY (<c1>[, <c2>...]) [TARGET <n> FILES]
  * [INCREMENTAL]` — Z-order reorganization
  * ([[graft.table.GraftTable.cluster]]: Delta's OPTIMIZE ... ZORDER
  * BY; rows identical, stats go tight on every clustered dimension;
  * INCREMENTAL rewrites only files the spec hasn't stamped — the
  * liquid-clustering cadence). */
case class GraftClusterCommand(root: String, by: Seq[String],
                               targetFiles: Int,
                               incremental: Boolean = false)
    extends GraftVersionCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val t = graft.table.GraftTable.open(session, root, "__unused__")
    Seq(Row(t.cluster(by, targetFiles = targetFiles,
      incremental = incremental)))
  }
}

/** `GRAFT INDEX '<root>' BLOOM (<c1>[, <c2>...]) [FPP <p>]` — declare
  * a bloom file index ([[graft.table.GraftTable.indexBloom]]): every
  * file staged from now on carries a per-column bloom filter sidecar,
  * and equality constraints on an indexed column prune files at
  * mutation/readWhere planning. A table property: one metadata commit
  * (none when unchanged) — returns the number of indexed columns. */
case class GraftIndexCommand(root: String, cols: Seq[String],
                             fpp: Double) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("indexed_columns", LongType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    val t = graft.table.GraftTable.open(session, root, "__unused__")
    t.indexBloom(cols, fpp = fpp)
    Seq(Row(cols.size.toLong))
  }
}

/** `GRAFT AUTOCOMPACT '<root>' MIN <n> [SMALL <bytes>] [TARGET <m>]` /
  * `GRAFT AUTOCOMPACT '<root>' OFF` — manage the ingest-time
  * auto-compaction policy ([[graft.table.GraftTable.setAutoCompact]],
  * x57), a table property: one metadata commit (none when unchanged).
  * Returns 1 when the policy is armed after the change, 0 when
  * cleared. */
case class GraftAutoCompactCommand(root: String, minSmallFiles: Option[Int],
                                   smallFileBytes: Option[Long],
                                   targetFiles: Option[Int])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("armed", LongType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    val t = graft.table.GraftTable.open(session, root, "__unused__")
    minSmallFiles match {
      case Some(n) => t.setAutoCompact(n,
        smallFileBytes.getOrElse(64L << 20), targetFiles.getOrElse(1))
      case None => t.clearAutoCompact()
    }
    Seq(Row(if (t.autoCompact().isDefined) 1L else 0L))
  }
}

/** `GRAFT CONSTRAINT '<root>' ADD <name> CHECK (<expr>)` /
  * `GRAFT CONSTRAINT '<root>' DROP <name>` — manage CHECK constraints
  * ([[graft.table.GraftTable.addCheck]]): every later staged row must
  * satisfy the expression or the mutation aborts untouched. Returns
  * the table's constraint count after the change. */
case class GraftConstraintCommand(root: String, name: String,
                                  checkExpr: Option[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("constraints", LongType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    val t = graft.table.GraftTable.open(session, root, "__unused__")
    checkExpr match {
      case Some(e) => t.addCheck(name, e)
      case None    => t.dropCheck(name)
    }
    Seq(Row(t.checks().size.toLong))
  }
}

/** `GRAFT UPDATE '<root>' KEY <col> SET <c> = <expr>[, ...] WHERE
  * <pred>` — row-level UPDATE ([[graft.table.GraftTable.update]],
  * x54): matched rows get the assignments (old-row RHS semantics),
  * planning is the stats-pruned matched-file COW. Returns the new
  * version. */
case class GraftUpdateCommand(root: String, key: String,
                              assignments: Seq[(String, String)],
                              whereSql: String)
    extends GraftVersionCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val t = graft.table.GraftTable.open(session, root, key)
    Seq(Row(t.update(org.apache.spark.sql.functions.expr(whereSql),
      assignments.map { case (c, e) =>
        c -> org.apache.spark.sql.functions.expr(e) }.toMap)))
  }
}

/** `GRAFT OVERWRITE '<root>' KEY <col> WHERE <pred> USING <query>` —
  * the backfill verb ([[graft.table.GraftTable.overwriteWhere]],
  * x55): one atomic commit replaces the predicate's window with the
  * query's rows, which must all satisfy the predicate. Returns the
  * new version. */
case class GraftOverwriteCommand(root: String, key: String,
                                 whereSql: String, sourceSql: String)
    extends GraftVersionCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val t = graft.table.GraftTable.open(session, root, key)
    Seq(Row(t.overwriteWhere(
      org.apache.spark.sql.functions.expr(whereSql),
      session.sql(sourceSql))))
  }
}

/** `GRAFT ALTER '<root>' RENAME COLUMN <old> TO <new>` — column
  * mapping's rename verb ([[graft.table.GraftTable.renameColumn]],
  * x53): an O(metadata) versioned commit, zero data files touched;
  * pre-rename files read through the new name, time travel below the
  * commit serves the old one. Returns the new version. */
case class GraftRenameColumnCommand(root: String, oldName: String,
                                    newName: String)
    extends GraftVersionCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val t = graft.table.GraftTable.open(session, root, "__unused__")
    Seq(Row(t.renameColumn(oldName, newName)))
  }
}

/** `GRAFT ALTER '<root>' KEY <col> DROP COLUMN <name>` — column
  * mapping's drop verb ([[graft.table.GraftTable.dropColumn]]): the
  * column stops projecting, old files keep their bytes, the retired
  * physical name refuses reuse. KEY is required so the
  * cannot-drop-the-key guard binds to the real key column. Returns
  * the new version. */
case class GraftDropColumnCommand(root: String, key: String, name: String)
    extends GraftVersionCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val t = graft.table.GraftTable.open(session, root, key)
    Seq(Row(t.dropColumn(name)))
  }
}

/** `GRAFT ALTER '<root>' ADD COLUMN <name> <type> [DEFAULT <expr>]` —
  * the declaration verb completing the evolution set
  * ([[graft.table.GraftTable.addColumn]], x56): an O(metadata)
  * versioned commit, zero data files touched; existing rows read
  * NULL, the DEFAULT (a constant expression) materializes into
  * post-add inserts that omit the column. Returns the new version. */
case class GraftAddColumnCommand(root: String, name: String,
                                 typeDdl: String, defaultSql: Option[String])
    extends GraftVersionCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val t = graft.table.GraftTable.open(session, root, "__unused__")
    Seq(Row(t.addColumn(name,
      session.sessionState.sqlParser.parseDataType(typeDdl), defaultSql)))
  }
}

/** `GRAFT VACUUM '<root>' KEEP <n>` — expire everything but the last
  * n versions and physically delete unreferenced files
  * ([[graft.table.GraftTable.expire]]: staging markers and the
  * retained union protect concurrent writers). Returns the deleted
  * file count. */
case class GraftVacuumCommand(root: String, keepLast: Int)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("deleted_files", LongType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    val t = graft.table.GraftTable.open(session, root, "__unused__")
    Seq(Row(t.expire(keepLast = keepLast).size.toLong))
  }
}
