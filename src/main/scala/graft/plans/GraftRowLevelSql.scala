package graft.plans

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference, Cast, EqualTo, ExprId, Expression, GetStructField, LeafExpression, Literal, ScalarSubquery, SubqueryExpression, Unevaluable, UpdateFields}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.{col, expr, lit, monotonically_increasing_id, when}
import org.apache.spark.sql.graftglue.ColumnBridge
import org.apache.spark.storage.StorageLevel

import graft.sources.GraftSqlTable
import graft.table.GraftTable

/** ANSI `UPDATE`, `DELETE`, and `MERGE INTO` on catalog tables — the
  * pure-SQL front door for the row-level verbs the engine already
  * executes (x54's stats-pruned UPDATE, x25's stats-pruned COW
  * delete, x23/x31's stats-pruned group-based merge, applyChanges'
  * atomic CDC apply):
  *
  * {{{
  * UPDATE gcat.t SET v = v * 2, flag = 'U' WHERE k % 37 = 0;
  * MERGE INTO gcat.t USING src s ON t.k = s.k
  *   WHEN MATCHED AND s.op = 'D' THEN DELETE
  *   WHEN MATCHED THEN UPDATE SET v = t.v + s.v
  *   WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v);
  * }}}
  *
  * Spark parses these into [[UpdateTable]]/[[MergeIntoTable]] and,
  * for tables without row-level-operation support, fails them in
  * checkAnalysis. This injected resolution rule intercepts the
  * RESOLVED statements whose target is a [[GraftSqlTable]] and
  * replaces them with lazily-run commands over the transactional
  * handle — the analysis-rule route Delta ships in production
  * (DeltaAnalysis → Merge/Update/DeleteCommand). The alternative,
  * DSv2 `SupportsRowLevelOperations`, hands Spark the rewrite: its
  * group-based `ReplaceData` plan requires a V2 `BatchWrite` whose
  * executor-side writers mint data files and manifest stats — a
  * second, parallel implementation of the engine's entire staged
  * write path. The handle already IS a group-based rewrite (only
  * matched files rewrite, spec-pinned), so the rule route gets the
  * identical read/write set with one write path to keep correct.
  *
  * Each statement takes ONE of four commands:
  *  - a subquery-free UPDATE or DELETE → [[GraftSqlUpdateCommand]] /
  *    [[GraftSqlDeleteCommand]], the handle's stats-pruned
  *    copy-on-write `update`/`delete` (uncorrelated scalar assignment
  *    values lift out and evaluate once, x68);
  *  - an UPDATE or DELETE that must address ROWS — a subquery
  *    condition (x66, x67), a correlated subquery in an assignment
  *    value (x70), a struct-field assignment (x71) →
  *    [[GraftSqlRowAddressedCommand]]: one old/new projection plan over
  *    the filtered target feeding one row-addressed apply; a DELETE is
  *    the same command with an empty postimage set;
  *  - MERGE → [[GraftSqlMergeCommand]].
  *
  * MERGE reads its target twice, Delta's own two-scan shape:
  *  1. findTouchedFiles — [[graft.table.GraftTable.readCandidates]]
  *     prunes the data files off the manifest's key ranges (one key
  *     pass that also counts the source keys; delta-scale keys open
  *     range-overlapping files, never the table), and the source joins
  *     those candidate rows ONCE, the source as the hash side. Every
  *     WHEN clause becomes a first-match CASE in ONE projection of the
  *     join, and one aggregate over the resulting net change feed
  *     answers the NULL-key and duplicate-key checks and collects the
  *     matched rows' files;
  *  2. the rewrite — the feed applies in ONE atomic commit via
  *     `applyChanges` (upserts + deletes; untouched files carry by
  *     reference), which rewrites exactly those files without planning
  *     again when it composes against the version the candidates were
  *     read at. A moved head or a lost race re-plans from the feed.
  * The collected files are the rewrite set only when no feed key can
  * sit in a file the join left unmatched, so they are handed over only
  * when the ON condition has no residual conjunct, there is no WHEN NOT
  * MATCHED BY SOURCE clause, and every INSERT assigns each key part
  * from that part's ON source expression; any other statement plans
  * its rewrite from the feed keys.
  *
  * Key-addressed semantics (documented deltas from vanilla SQL MERGE,
  * both inherent to an upsert table): the ON condition must contain
  * `t.<key> = <source expr>` per key component (extra conjuncts
  * compose freely); a WHEN NOT MATCHED INSERT of a key that exists
  * but failed the extra conjuncts is an upsert of that key, not a
  * duplicate row; a source whose rows collapse onto one key raises
  * the SQL:2003 cardinality violation. `WHEN NOT MATCHED BY SOURCE`
  * compiles on the table side: a `readWhere` over the OR of the
  * clause conditions (stats-pruned when they prune; a condition-less
  * clause reads the table — the honest cost everywhere, Delta
  * included) anti-joined against the source under the FULL ON
  * condition (key equality and residual conjuncts — SQL:2003/Delta
  * matching, so a key-matched row failing a residual conjunct DOES
  * receive the BY SOURCE clauses). One key-addressed consequence: a
  * key addressed by BOTH an INSERT clause and a BY SOURCE clause in
  * the same statement (possible only with residual conjuncts) raises
  * the cardinality violation — two rows cannot land under one key.
  *
  * `WITH SCHEMA EVOLUTION` (x64, Delta's autoMerge): the table
  * declares [[TableCapability.AUTOMATIC_SCHEMA_EVOLUTION]], so
  * Spark's own ResolveMergeIntoSchemaEvolution computes the width
  * change from the source schema and lands it through the catalog's
  * `alterTable` — ONE atomic O(metadata) alterColumns commit, zero
  * data files rewritten, old rows read NULL (x56's ADD COLUMN) —
  * then re-resolves the statement against the widened schema before
  * this rule compiles it.
  *
  * Sessions get the rule via `spark.sql.extensions=graft.GraftExtensions`
  * (or `Builder.withExtensions`); [[graft.util.ExtSession]] derives
  * such a session on a live SparkContext. */
case class GraftRowLevelRule(session: SparkSession)
    extends Rule[LogicalPlan] {

  private def graftTarget(plan: LogicalPlan)
      : Option[(GraftSqlTable, Seq[Attribute])] = plan match {
    case SubqueryAlias(_, child) => graftTarget(child)
    case r: DataSourceV2Relation => r.table match {
      case t: GraftSqlTable => Some((t, r.output))
      case _ => None
    }
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUp {
      case u @ UpdateTable(target, assignments, condition) if u.resolved =>
        graftTarget(target) match {
          case Some((t, tout)) =>
            // ROW addressing (one GraftSqlRowAddressedCommand over
            // GraftRowLevelSql.dualUpdatePlan) covers a subquery
            // CONDITION (x67: `WHERE k IN (SELECT ...)`), a CORRELATED
            // or predicate subquery in an assignment VALUE (x70: `SET
            // x = (SELECT max(y) FROM s WHERE s.k = t.k)` — a per-row
            // value, i.e. a join) and a STRUCT-FIELD assignment target
            // (x71: `SET s.x = ...`); its uncorrelated scalars evaluate
            // inside that plan. Every other UPDATE runs the handle's
            // stats-pruned update, with its UNCORRELATED scalars (x68:
            // `SET x = (SELECT max(...) ...)`) lifted into plan-typed
            // fields evaluated once at run time.
            val rooted = assignments.map(a =>
              GraftRowLevelSql.rootOf(a.key))
            val rowAddressed =
              condition.exists(GraftRowLevelSql.hasSubquery) ||
              assignments.exists(_.value.exists {
                case s: ScalarSubquery => s.outerAttrs.nonEmpty
                case _: SubqueryExpression => true
                case _ => false
              }) || rooted.exists(_.exists(_._2.nonEmpty))
            if (rowAddressed && rooted.forall(_.isDefined))
              GraftSqlRowAddressedCommand(t, tout,
                GraftRowLevelSql.dualUpdatePlan(target, tout,
                  assignments, condition),
                rooted.map(_.get._1.name))
            else {
              val plans =
                scala.collection.mutable.ArrayBuffer.empty[LogicalPlan]
              GraftSqlUpdateCommand(t, assignments.map(a =>
                  (a.key, GraftRowLevelSql.liftScalars(a.value, plans))),
                condition, plans.toSeq)
            }
          case None => u
        }
      // DELETE through the extensions session covers the FULL ANSI
      // condition surface (x66): a subquery-free condition, any
      // expression, routes to the handle's stats-pruned COW delete
      // verbatim; a SUBQUERY condition (the GDPR erasure-list shape —
      // `WHERE k IN (SELECT ...)`) is the row-addressed command with
      // no assignments, i.e. an empty postimage set. The V1-filter
      // SupportsDelete route remains for extension-less sessions
      // (equality/range conditions only — the V1 Filter language's
      // limit).
      case d @ DeleteFromTable(target, condition) if d.resolved =>
        graftTarget(target) match {
          case Some((t, tout)) =>
            if (GraftRowLevelSql.hasSubquery(condition))
              GraftSqlRowAddressedCommand(t, tout,
                GraftRowLevelSql.dualUpdatePlan(target, tout, Nil,
                  Some(condition)), Nil)
            else GraftSqlDeleteCommand(t, condition)
          case None => d
        }
      // `WITH SCHEMA EVOLUTION` (x64): resolution must NOT short-
      // circuit while Spark's own ResolveMergeIntoSchemaEvolution has
      // pending work — that rule (gated on the table's
      // AUTOMATIC_SCHEMA_EVOLUTION capability) widens the target
      // through the catalog's alterTable (ONE atomic O(metadata)
      // alterColumns commit, zero data files touched) and re-resolves
      // the statement, so star expansion and the clause CASEs below
      // see the widened schema; this rule shares its fixed-point
      // batch, hence the guard
      case m: MergeIntoTable if m.resolved && !m.needSchemaEvolution =>
        graftTarget(m.targetTable) match {
          case Some((t, tout)) =>
            // uncorrelated scalar subqueries in clause assignment
            // VALUES and clause CONDITIONS lift like UPDATE's (x68) —
            // one aggregate job each, a literal in the clause CASE.
            // Everything else (correlated scalars, IN/EXISTS in
            // clauses) keeps the refusal: a per-row condition
            // subquery is a join — stage it into the source.
            val plans =
              scala.collection.mutable.ArrayBuffer.empty[LogicalPlan]
            def liftC(c: Option[Expression]): Option[Expression] =
              c.map(GraftRowLevelSql.liftScalars(_, plans))
            def lift(as: Seq[MergeAction]): Seq[MergeAction] =
              as.map {
                case ua: UpdateAction => ua.copy(
                  condition = liftC(ua.condition),
                  assignments = ua.assignments.map(a => a.copy(
                    value = GraftRowLevelSql.liftScalars(a.value, plans))))
                case ia: InsertAction => ia.copy(
                  condition = liftC(ia.condition),
                  assignments = ia.assignments.map(a => a.copy(
                    value = GraftRowLevelSql.liftScalars(a.value, plans))))
                case da: DeleteAction =>
                  da.copy(condition = liftC(da.condition))
                case us: UpdateStarAction =>
                  us.copy(condition = liftC(us.condition))
                case is: InsertStarAction =>
                  is.copy(condition = liftC(is.condition))
                case other => other
              }
            GraftSqlMergeCommand(t, tout, m.sourceTable,
              m.mergeCondition, lift(m.matchedActions),
              lift(m.notMatchedActions),
              lift(m.notMatchedBySourceActions), m.withSchemaEvolution,
              plans.toSeq)
          case None => m
        }
    }
}

/** resolved placeholder for an extracted UNCORRELATED scalar
  * subquery in a DML assignment (x68): checkAnalysis rejects
  * subquery expressions held as bare fields on custom command nodes,
  * so [[GraftRowLevelRule]] lifts each subquery's plan into a
  * plan-typed `scalarPlans` field (opaque to the context check) and
  * leaves this slot in the expression; the command evaluates the
  * plan ONCE per statement (the ANSI contract for an uncorrelated
  * scalar) and substitutes the literal before compiling the
  * assignment. Nullable because an empty scalar subquery is NULL. */
private[plans] case class ScalarSlot(slot: Int, dataType: DataType)
    extends LeafExpression with Unevaluable {
  override def nullable: Boolean = true
}

private[plans] object GraftRowLevelSql {
  /** a clause expression → a Column that re-resolves BY NAME against
    * the frame it is applied to: every attribute reference collapses
    * to its bare name (the single-relation UPDATE case — MERGE uses
    * the exprId-keyed rewrite instead, names collide across sides).
    * `scalars` fills any [[ScalarSlot]] left by the rule's lifting
    * with its once-evaluated literal. */
  def byName(e: Expression, ctx: String,
             scalars: Seq[Literal] = Nil): Column = {
    require(!hasSubquery(e),
      s"$ctx: subqueries are not supported here — stage the subquery " +
        "into a source table and MERGE from it")
    ColumnBridge.column(e.transform {
      case s: ScalarSlot => scalars(s.slot)
      case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
    })
  }

  /** lift every UNCORRELATED scalar subquery out of an assignment
    * value or MERGE clause into `plans`, leaving a [[ScalarSlot]]
    * behind. CORRELATED scalars (outer references — per-row values)
    * stay put: an UPDATE holding one is row-addressed and never lifts,
    * and MERGE keeps the loud stage-into-the-source refusal. */
  def liftScalars(e: Expression,
                  plans: scala.collection.mutable.ArrayBuffer[LogicalPlan])
      : Expression =
    e.transform {
      case s: ScalarSubquery if s.outerAttrs.isEmpty =>
        plans += s.plan
        ScalarSlot(plans.size - 1, s.dataType)
    }

  /** evaluate the lifted scalar-subquery plans, ONCE per statement:
    * zero rows is NULL, more than one row raises the SQL:2003
    * cardinality violation (21000) exactly like Spark's own runtime
    * scalar-subquery check. */
  def evalScalars(session: SparkSession, plans: Seq[LogicalPlan],
                  ctx: String): Seq[Literal] =
    plans.map { p =>
      val rows = ColumnBridge.ofRows(session, p).limit(2).collect()
      require(rows.length <= 1,
        s"$ctx: a scalar subquery in an assignment returned more " +
          "than one row")
      val dt = p.output.head.dataType
      if (rows.isEmpty) Literal(null, dt)
      else Literal.create(rows.head.get(0), dt)
    }

  def hasSubquery(e: Expression): Boolean =
    e.exists(_.isInstanceOf[SubqueryExpression])

  /** the resolved assignment-key shapes the engine compiles: a
    * top-level column, or a struct-field path rooted at one (x71 —
    * `SET s.x = ...`, any depth). Map/array element targets return
    * None and keep the loud refusal downstream. */
  def rootOf(e: Expression): Option[(AttributeReference, List[String])] =
    e match {
      case a: AttributeReference => Some((a, Nil))
      case g: GetStructField =>
        rootOf(g.child).map { case (a, p) =>
          (a, p :+ g.name.getOrElse(
            g.child.dataType.asInstanceOf[StructType](g.ordinal).name))
        }
      case _ => None
    }

  /** the struct field type at `path` under `dt` (path comes from a
    * resolved GetStructField chain, so the names are exact) */
  def fieldTypeAt(dt: DataType, path: List[String]): DataType =
    path.foldLeft(dt) { (cur, f) =>
      val st = cur.asInstanceOf[StructType]
      st(st.fieldIndex(f)).dataType
    }

  /** dot-path for Column.withField, each segment backtick-quoted so
    * a field name containing a dot stays one segment */
  def quotePath(path: List[String]): String =
    path.map(f => "`" + f + "`").mkString(".")

  /** compose per-column assignment entries — (column ordinal,
    * isWholeColumn, old value → final value): struct-field patches on
    * one column chain in statement order; a whole-column assignment
    * excludes any other entry for that column (the x71 conflict
    * refusal, MERGE's clause shape). */
  def composeAssigns(ident: String, nameOf: Int => String,
      entries: Seq[(Int, Boolean, Column => Column)])
      : Map[Int, Column => Column] =
    entries.groupBy(_._1).map { case (j, es) =>
      require(es.size == 1 || es.forall(!_._2),
        s"$ident: cannot assign both column '${nameOf(j)}' and its " +
          "fields in one clause")
      j -> es.map(_._3).reduce((f, g) => (old: Column) => g(f(old)))
    }

  /** the dual old/new projection of a row-addressed UPDATE or DELETE
    * (x66/x67/x70/x71): one pass over the filtered target emitting each
    * matched row's OLD image (`__o<i>` — what the row-addressed apply
    * subtracts against) and, for an UPDATE, its POSTIMAGE (`__n<i>` —
    * assigned columns compute their RHS, ANSI-cast to the column's —
    * or, for a struct-field path, the field's — type; the rest carry).
    * A DELETE has no assignments and emits the old images only. Built
    * at RULE time from the resolved statement, so the condition's
    * subqueries sit in a Filter and the assignments' in a Project —
    * contexts Spark's analysis accepts and its optimizer compiles (a
    * predicate subquery becomes RewritePredicateSubquery's semi or anti
    * join, a correlated scalar the left-outer join + aggregate of
    * RewriteCorrelatedScalarSubquery, an uncorrelated scalar one
    * subquery evaluation with Spark's own more-than-one-row check;
    * UpdateFields folds to one CreateNamedStruct). The plan evaluates
    * ONCE, persisted by the command. */
  def dualUpdatePlan(target: LogicalPlan, targetOutput: Seq[Attribute],
                     assignments: Seq[Assignment],
                     condition: Option[Expression]): LogicalPlan = {
    val byRoot: Map[ExprId, Seq[(List[String], Expression)]] =
      assignments.map { a =>
        val (root, path) = rootOf(a.key).get
        root.exprId -> (path -> a.value)
      }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    def cast(e: Expression, dt: DataType): Expression =
      if (e.dataType == dt) e else Cast(e, dt)
    // patch one field path into the (possibly already-patched)
    // struct: disjoint paths compose; RHS values reference the OLD
    // row's attributes, never the patched struct, so fold order
    // cannot leak a new value into another assignment's RHS
    def setPath(cur: Expression, path: List[String],
                value: Expression): Expression = path match {
      case f :: Nil =>
        val st = cur.dataType.asInstanceOf[StructType]
        UpdateFields(cur, f, cast(value, st(st.fieldIndex(f)).dataType))
      case f :: rest =>
        val st = cur.dataType.asInstanceOf[StructType]
        UpdateFields(cur, f,
          setPath(GetStructField(cur, st.fieldIndex(f), Some(f)),
            rest, value))
      case Nil => cast(value, cur.dataType)
    }
    val old = targetOutput.zipWithIndex.map { case (a, i) =>
      Alias(a, s"__o$i")()
    }
    val neu = targetOutput.zipWithIndex.map { case (a, i) =>
      val v: Expression = byRoot.get(a.exprId) match {
        case None => a
        case Some(as) if as.forall(_._1.isEmpty) =>
          cast(as.last._2, a.dataType)
        case Some(as) =>
          require(as.forall(_._1.nonEmpty),
            s"UPDATE: cannot assign both column '${a.name}' and its " +
              "fields in one statement")
          as.foldLeft(a: Expression) { case (cur, (path, value)) =>
            setPath(cur, path, value)
          }
      }
      Alias(v, s"__n$i")()
    }
    Project(if (assignments.isEmpty) old else old ++ neu,
      condition.map(Filter(_, target)).getOrElse(target))
  }
}

/** `UPDATE <graft table> SET ... [WHERE ...]` → the handle's
  * stats-pruned copy-on-write [[graft.table.GraftTable.update]] (x54):
  * old-row right-hand sides, ANSI casts to each column's type, only
  * files holding qualifying rows rewrite. Returns the new version. */
case class GraftSqlUpdateCommand(
    table: GraftSqlTable,
    assignments: Seq[(Expression, Expression)],
    condition: Option[Expression],
    scalarPlans: Seq[LogicalPlan] = Nil) extends GraftVersionCommand {

  override def run(session: SparkSession): Seq[Row] = {
    val ident = table.identName
    require(!table.isTimeTravel,
      s"cannot UPDATE time-travel table $ident")
    require(!table.isExternalReadOnly,
      s"cannot UPDATE read-only external registration $ident — " +
        "mutate the owning table")
    val scalars = GraftRowLevelSql.evalScalars(session, scalarPlans,
      s"UPDATE $ident")
    val resolver = session.sessionState.conf.resolver
    val set = assignments.map { case (k, v) =>
      val name = k match {
        case a: AttributeReference => a.name
        case other => throw new UnsupportedOperationException(
          s"UPDATE $ident: only top-level columns can be assigned " +
            s"(got ${other.sql})")
      }
      // a compound key's parts are key columns: updating one without
      // re-synthesizing the storage key would strand the row under a
      // stale key — refuse like the engine refuses its key column
      table.graftKeyParts.foreach(parts =>
        require(!parts.exists(p => resolver(p, name)),
          s"UPDATE $ident: cannot UPDATE key column '$name' — " +
            "MERGE (DELETE + INSERT) moves rows between keys"))
      name -> GraftRowLevelSql.byName(v, s"UPDATE $ident", scalars)
    }.toMap
    val pred = condition
      .map(GraftRowLevelSql.byName(_, s"UPDATE $ident"))
      .getOrElse(lit(true))
    Seq(Row(table.graftHandle.update(pred, set)))
  }
}

/** `DELETE FROM <graft table> [WHERE ...]` through the extensions
  * session, for a subquery-free condition — any expression, `k % 43 =
  * 0` included, past what the V1 Filter language can say (x66): the
  * handle's stats-pruned copy-on-write `delete` runs it verbatim
  * (PredicateTree prunes the prunable conjuncts, the row filter
  * re-checks everything). A SUBQUERY condition is
  * [[GraftSqlRowAddressedCommand]]'s. Returns the new version. */
case class GraftSqlDeleteCommand(
    table: GraftSqlTable,
    condition: Expression) extends GraftVersionCommand {

  override def run(session: SparkSession): Seq[Row] = {
    val ident = table.identName
    require(!table.isTimeTravel,
      s"cannot DELETE from time-travel table $ident")
    require(!table.isExternalReadOnly,
      s"cannot DELETE from read-only external registration $ident — " +
        "mutate the owning table")
    Seq(Row(table.graftHandle.delete(
      GraftRowLevelSql.byName(condition, s"DELETE FROM $ident"))))
  }
}

/** the ROW-addressed UPDATE or DELETE: every statement the rule
  * cannot hand to the handle's stats-pruned `update`/`delete` — a
  * subquery condition (x66's erasure list, x67), a correlated
  * subquery in an assignment value (x70), a struct-field assignment
  * (x71). `dual` is [[GraftRowLevelSql.dualUpdatePlan]]'s old/new
  * projection over the filtered target: Spark plans its subqueries,
  * and conjuncts pushed beside them still prune through the V1 scan.
  * The plan is persisted so a non-deterministic condition selects ONE
  * row set across the old-image/postimage/apply traversals, and its
  * matched rows feed ONE atomic
  * [[graft.table.GraftTable.applyChangesRowAddressed]]: the handle
  * subtracts the matched OLD images from its own touched scan and
  * carries unmatched rows sharing a matched key as identity
  * postimages, so a duplicate-key table (`INSERT INTO` a keyed table
  * is a raw append) loses no sibling row — ANSI semantics at zero
  * extra pruned reads. No assignments means a DELETE: an EMPTY
  * postimage set, every matched row leaves. Key columns refuse
  * assignment like the other routes. Returns the new version. */
case class GraftSqlRowAddressedCommand(
    table: GraftSqlTable,
    targetOutput: Seq[Attribute],
    dual: LogicalPlan,
    assignedCols: Seq[String]) extends GraftVersionCommand {

  override def run(session: SparkSession): Seq[Row] = {
    val ident = table.identName
    val isDelete = assignedCols.isEmpty
    val verb = if (isDelete) "DELETE FROM" else "UPDATE"
    require(!table.isTimeTravel,
      s"cannot $verb time-travel table $ident")
    require(!table.isExternalReadOnly,
      s"cannot $verb read-only external registration $ident — " +
        "mutate the owning table")
    val resolver = session.sessionState.conf.resolver
    val keyNames: Seq[String] =
      table.graftKeyParts.getOrElse(Seq(table.graftKey))
    assignedCols.foreach(name =>
      require(!keyNames.exists(p => resolver(p, name)),
        s"UPDATE $ident: cannot UPDATE key column '$name' — " +
          "MERGE (DELETE + INSERT) moves rows between keys"))
    val df = ColumnBridge.ofRows(session, dual)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      def image(prefix: String): DataFrame =
        df.select(targetOutput.zipWithIndex.map {
          case (a, i) => col(s"$prefix$i").as(a.name) }: _*)
      val matched = image("__o")
      val post = if (isDelete) matched.limit(0) else image("__n")
      Seq(Row(table.graftHandle.applyChangesRowAddressed(
        table.withStorageKey(post), table.withStorageKey(matched))))
    } finally df.unpersist()
  }
}

/** `MERGE INTO <graft table> USING <source> ON ... WHEN ...` → one
  * pruned candidate read joined once with the source + clause
  * compilation into one projection + ONE atomic
  * [[graft.table.GraftTable.applyChanges]] commit that rewrites the
  * matched rows' files (see [[GraftRowLevelRule]] for the two-scan
  * shape, its guard and the full contract). Returns the new version. */
case class GraftSqlMergeCommand(
    table: GraftSqlTable,
    targetOutput: Seq[Attribute],
    source: LogicalPlan,
    mergeCondition: Expression,
    matchedActions: Seq[MergeAction],
    notMatchedActions: Seq[MergeAction],
    notMatchedBySourceActions: Seq[MergeAction],
    withSchemaEvolution: Boolean,
    scalarPlans: Seq[LogicalPlan] = Nil) extends GraftVersionCommand {

  override def run(session: SparkSession): Seq[Row] = {
    val ident = table.identName
    require(!table.isTimeTravel,
      s"cannot MERGE INTO time-travel table $ident")
    require(!table.isExternalReadOnly,
      s"cannot MERGE INTO read-only external registration $ident — " +
        "mutate the owning table")
    val scalarLits = GraftRowLevelSql.evalScalars(session, scalarPlans,
      s"MERGE INTO $ident")
    // withSchemaEvolution: by the time this command exists, Spark's
    // ResolveMergeIntoSchemaEvolution already landed the width change
    // through the catalog (see GraftRowLevelRule's guard) — the
    // targetOutput here IS the widened schema; nothing left to do
    require(matchedActions.nonEmpty || notMatchedActions.nonEmpty ||
        notMatchedBySourceActions.nonEmpty,
      s"MERGE INTO $ident needs at least one WHEN clause")

    val t = table.graftHandle
    val key = table.graftKey
    val resolver = session.sessionState.conf.resolver

    // ---- positional aliases: collision-proof names for both sides,
    // rewritten by exprId (MERGE clauses legally reference same-named
    // columns of either relation)
    val tNames = targetOutput.indices.map(i => s"__t$i")
    val sOut = source.output
    val sNames = sOut.indices.map(i => s"__s$i")
    val byId: Map[ExprId, String] =
      (targetOutput.zip(tNames) ++ sOut.zip(sNames))
        .map { case (a, n) => a.exprId -> n }.toMap
    val targetIds = targetOutput.map(_.exprId).toSet
    val sourceIds = sOut.map(_.exprId).toSet
    def rewrite(e: Expression): Column = {
      require(!GraftRowLevelSql.hasSubquery(e),
        s"MERGE INTO $ident: subqueries in clauses are not supported " +
          "— stage them into the source")
      ColumnBridge.column(e.transform {
        case s: ScalarSlot => scalarLits(s.slot)
        case a: AttributeReference =>
          UnresolvedAttribute.quoted(byId.getOrElse(a.exprId,
            throw new IllegalStateException(s"MERGE INTO $ident: " +
              s"reference '${a.name}' is neither target nor source")))
      })
    }

    // ---- ON condition: an equality PER KEY COMPONENT addresses the
    // rows (what the stats-pruned read needs — a compound business
    // key 'a,b' needs one per part); every other conjunct — duplicate
    // key equalities included — joins as a residual condition
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    val partNames: Seq[String] =
      table.graftKeyParts.getOrElse(Seq(key))
    val compound = table.graftKeyParts.isDefined
    val partIdxs: Seq[Int] = partNames.map { p =>
      val i = targetOutput.indexWhere(a => resolver(a.name, p))
      require(i >= 0,
        s"MERGE INTO $ident: key column '$p' not in target output")
      i
    }
    val partIdSet = partIdxs.map(targetOutput(_).exprId).toSet
    def partIdxOf(e: Expression): Option[Int] = e match {
      case a: AttributeReference if partIdSet.contains(a.exprId) =>
        Some(partIdxs.find(targetOutput(_).exprId == a.exprId).get)
      case _ => None
    }
    def sourceOnly(e: Expression): Boolean =
      e.references.forall(a => sourceIds.contains(a.exprId)) &&
        !e.references.isEmpty
    // first equality per part wins; everything else is residual
    val srcPartExpr =
      scala.collection.mutable.Map.empty[Int, Expression]
    val residual = conjuncts(mergeCondition).filterNot {
      case EqualTo(l, r) =>
        val hit = partIdxOf(l).filter(_ => sourceOnly(r)).map((_, r))
          .orElse(partIdxOf(r).filter(_ => sourceOnly(l)).map((_, l)))
        hit match {
          case Some((j, s)) if !srcPartExpr.contains(j) =>
            srcPartExpr(j) = s; true
          case _ => false
        }
      case _ => false
    }
    require(partIdxs.forall(srcPartExpr.contains),
      s"MERGE INTO $ident: the ON condition must contain an equality " +
        s"between EACH key column (${partNames.mkString(", ")}) and a " +
        "source expression — graft tables are key-addressed (extra " +
        "AND conjuncts compose freely)")

    // ---- frames: the source — MATERIALIZED once (Delta's merge-
    // source discipline), each row tagged with a row id (`__sid`): it
    // feeds the key pass, the join, the re-attach of unmatched rows
    // and the by-source anti-join, and a non-deterministic source
    // (rand(), a sampled view) re-executed across those could apply a
    // DIFFERENT matched set than the feed it produced
    val srcDf = ColumnBridge.ofRows(session, source).toDF(sNames: _*)
      .withColumn("__sid", monotonically_increasing_id())
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val types = targetOutput.map(_.dataType)
      val srcPartCols: Seq[(Int, Column)] = partIdxs.map(j =>
        j -> rewrite(srcPartExpr(j)).cast(types(j)))
      // the handle's key frame: the column itself, or the compound
      // encoding of the source part expressions
      val srcKeys =
        if (!compound)
          srcDf.select(srcPartCols.head._2.as(key))
        else srcDf.select(org.apache.spark.sql.functions.concat_ws(
          graft.sources.CompoundKey.Sep,
          srcPartCols.map { case (j, c) =>
            graft.sources.CompoundKey.encode(c, types(j),
              targetOutput(j).name) }: _*).as(table.graftKey))
      // findTouchedFiles' input: the candidate files' rows with their
      // `__file` provenance (one key pass prunes them and counts the
      // source keys in the same job)
      val cands = t.readCandidates(srcKeys)
      val tgtDf = cands.rows
        .select(targetOutput.map(a => col(a.name)) :+ col("__file"): _*)
        .toDF(tNames :+ "__file": _*)
      val joinCond = residual.map(rewrite)
        .foldLeft(srcPartCols.map { case (j, c) =>
          col(s"__t$j") === c }.reduce(_ && _))(_ && _)
      // THE join — the one pass over the candidate rows: the source is
      // the hash side (broadcast within the key-side budget). Spark
      // cannot broadcast the preserved side of an outer join, so the
      // source's unmatched rows re-attach by row id against the
      // delta-scale matched pairs instead of the source outer-joining
      // the scan.
      val pairs = tgtDf.join(GraftTable.keySide(srcDf, cands.nKeys),
          joinCond)
        .select(col("__sid").as("__psid") +: tNames.map(col) :+
          col("__file"): _*)
      val joined = srcDf.join(GraftTable.keySide(pairs, cands.nKeys),
        col("__sid") === col("__psid"), "left_outer")
      val isMatched = col("__psid").isNotNull

      // ---- clause compilation: first-true-condition CASE per side
      def condOf(a: MergeAction): Column = (a match {
        case x: UpdateAction     => x.condition
        case x: UpdateStarAction => x.condition
        case x: DeleteAction     => x.condition
        case x: InsertAction     => x.condition
        case x: InsertStarAction => x.condition
        case other => throw new UnsupportedOperationException(
          s"MERGE INTO $ident: unsupported clause $other")
      }).map(rewrite).getOrElse(lit(true))
      def firstAction(actions: Seq[MergeAction]): Column =
        actions.zipWithIndex.foldRight(lit(null).cast("int")) {
          case ((a, i), rest) => when(condOf(a), lit(i)).otherwise(rest)
        }
      /** `SET *` / `INSERT *`: target column ← the same-named source
        * column. For UPDATE the key columns are skipped (matched rows
        * keep the matched key — the ON equalities already pin it;
        * re-keying rows belongs to DELETE + INSERT). */
      def starAssigns(insert: Boolean): Map[Int, Column => Column] =
        targetOutput.zipWithIndex.flatMap { case (a, j) =>
          if (!insert && partIdxs.contains(j)) None
          else {
            val si = sOut.indexWhere(s => resolver(s.name, a.name))
            require(si >= 0, s"MERGE INTO $ident: `*` needs a source " +
              s"column named '${a.name}'")
            Some(j -> ((_: Column) => col(sNames(si)).cast(types(j))))
          }
        }.toMap
      /** the target ordinal an assignment's root column names: by
        * expression id, else by name (-1 when neither) */
      def targetIdx(root: AttributeReference): Int =
        if (targetIds.contains(root.exprId))
          targetOutput.indexWhere(_.exprId == root.exprId)
        else targetOutput.indexWhere(x => resolver(x.name, root.name))
      // assignment targets: whole columns, or struct-field paths
      // (x71's MERGE half — `SET s.x = ...` patches the field via
      // Column.withField on the OLD value; INSERT assigns whole
      // columns only, the ANSI shape)
      def assignMap(assigns: Seq[Assignment],
                    insert: Boolean): Map[Int, Column => Column] = {
        val entries: Seq[(Int, Boolean, Column => Column)] =
          assigns.flatMap { asg =>
            val (root, path) = GraftRowLevelSql.rootOf(asg.key)
              .getOrElse(throw new UnsupportedOperationException(
                s"MERGE INTO $ident: only columns and struct-field " +
                  s"paths can be assigned (got ${asg.key.sql})"))
            val j = targetIdx(root)
            require(j >= 0, s"MERGE INTO $ident: assignment targets an " +
              s"unknown column (${asg.key.sql})")
            if (path.isEmpty) {
              if (!insert && partIdxs.contains(j)) {
                // a matched-row key assignment is legal ONLY when it is
                // the ON clause's own key expression (what the
                // analyzer's `SET *` expansion emits) — the matched row
                // already HAS that key, so the assignment drops as a
                // no-op; anything else would move the row between keys
                // mid-update
                require(asg.value.semanticEquals(srcPartExpr(j)),
                  s"MERGE INTO $ident: cannot UPDATE key column " +
                    s"'${targetOutput(j).name}' to a new value — DELETE " +
                    "+ INSERT moves a row between keys")
                None
              } else Some((j, true,
                (_: Column) => rewrite(asg.value).cast(types(j))))
            } else {
              require(!partIdxs.contains(j),
                s"MERGE INTO $ident: cannot assign into key column " +
                  s"'${targetOutput(j).name}'")
              require(!insert,
                s"MERGE INTO $ident: INSERT assigns whole columns " +
                  s"(got ${asg.key.sql})")
              val ft = GraftRowLevelSql.fieldTypeAt(types(j), path)
              Some((j, false, (old: Column) =>
                old.withField(GraftRowLevelSql.quotePath(path),
                  rewrite(asg.value).cast(ft))))
            }
          }
        GraftRowLevelSql.composeAssigns(s"MERGE INTO $ident",
          j => targetOutput(j).name, entries)
      }

      // matched side: (isDelete, assignments); unassigned columns keep
      // the OLD row's value (SQL UPDATE semantics), every RHS casts to
      // the column's existing type (x54's ANSI-cast discipline)
      val mCompiled: Seq[(Boolean, Map[Int, Column => Column])] = matchedActions.map {
        case u: UpdateAction          => (false, assignMap(u.assignments, false))
        case _: UpdateStarAction      => (false, starAssigns(false))
        case _: DeleteAction          =>
          (true, Map.empty[Int, Column => Column])
        case other => throw new UnsupportedOperationException(
          s"MERGE INTO $ident: WHEN MATCHED supports UPDATE/DELETE " +
            s"(got $other)")
      }
      // insert side: unassigned columns take the DECLARED default (the
      // same write-time fill INSERT INTO gets) or NULL; the key must be
      // assigned explicitly
      val defaults = t.declaredDefaults()
      def insertFallback(j: Int): Column =
        defaults.get(targetOutput(j).name)
          .map(d => expr(d).cast(types(j)))
          .getOrElse(lit(null).cast(types(j)))
      val nmCompiled: Seq[Map[Int, Column => Column]] = notMatchedActions.map {
        case ia: InsertAction =>
          val m = assignMap(ia.assignments, insert = true)
          require(partIdxs.forall(m.contains),
            s"MERGE INTO $ident: WHEN NOT MATCHED INSERT must assign " +
              s"every key column (${partNames.mkString(", ")})")
          m
        case _: InsertStarAction => starAssigns(insert = true)
        case other => throw new UnsupportedOperationException(
          s"MERGE INTO $ident: WHEN NOT MATCHED supports INSERT " +
            s"(got $other)")
      }
      /** does `a` assign every key part from that part's ON source
        * expression (what the matched-row key check above accepts)? */
      def insertKeyedByOn(a: MergeAction): Boolean = a match {
        case ia: InsertAction => partIdxs.forall { j =>
          ia.assignments.exists { asg =>
            GraftRowLevelSql.rootOf(asg.key).exists { case (root, path) =>
              path.isEmpty && targetIdx(root) == j
            } && asg.value.semanticEquals(srcPartExpr(j))
          }
        }
        case _: InsertStarAction => partIdxs.forall { j =>
          sOut.find(s => resolver(s.name, targetOutput(j).name))
            .exists(_.semanticEquals(srcPartExpr(j)))
        }
        case _ => false
      }

      // ---- the net change feed (applyChanges' contract: the table's
      // columns + change_type; a key appears at most once), each
      // matched row carrying its `__file` for the footprint. Matched
      // and not-matched rows come out of ONE projection of the join: a
      // matched row takes the first firing WHEN MATCHED clause, an
      // unmatched source row the first firing WHEN NOT MATCHED clause
      // (CASE evaluates only the side the row is on)
      val parts = scala.collection.mutable.ArrayBuffer.empty[
        org.apache.spark.sql.DataFrame]
      if (matchedActions.nonEmpty || notMatchedActions.nonEmpty) {
        val none = lit(null).cast("int")
        val mIdx =
          if (matchedActions.isEmpty) none else firstAction(matchedActions)
        val nmIdx =
          if (notMatchedActions.isEmpty) none
          else firstAction(notMatchedActions)
        val mChange = mCompiled.zipWithIndex.foldRight(lit("update")) {
          case (((isDel, _), i), rest) =>
            when(mIdx === i, lit(if (isDel) "delete" else "update"))
              .otherwise(rest)
        }
        parts += joined
          .where(when(isMatched, mIdx.isNotNull)
            .otherwise(nmIdx.isNotNull))
          .select(targetOutput.zipWithIndex.map { case (a, j) =>
            val old = col(tNames(j))
            val mVal = mCompiled.zipWithIndex.foldRight(old) {
              case (((isDel, assigns), i), rest) =>
                // delete rows carry the OLD row verbatim: applyChanges
                // removes them BY KEY (the key must survive into the
                // feed); their non-key values are ignored
                val v =
                  if (isDel) old
                  else assigns.get(j).map(f => f(old)).getOrElse(old)
                when(mIdx === i, v).otherwise(rest)
            }
            val nmVal =
              if (notMatchedActions.isEmpty) lit(null).cast(types(j))
              else nmCompiled.zipWithIndex.foldRight(insertFallback(j)) {
                case ((assigns, i), rest) =>
                  when(nmIdx === i,
                    assigns.get(j).map(f => f(insertFallback(j)))
                      .getOrElse(insertFallback(j))).otherwise(rest)
              }
            when(isMatched, mVal).otherwise(nmVal).as(a.name)
          } ++ Seq(when(isMatched, mChange).otherwise(lit("insert"))
              .as("change_type"), col("__file")): _*)
      }
      if (notMatchedBySourceActions.nonEmpty) {
        // WHEN NOT MATCHED BY SOURCE (Delta's third clause family):
        // target rows with NO source row satisfying the FULL ON
        // condition. The clauses reference the TARGET only, so they
        // compile on the table-shaped frame — the read is `readWhere`
        // over the OR of the clause conditions (stats-pruned when the
        // conditions prune; a condition-less clause reads the table,
        // the honest cost everywhere, Delta included), anti-joined
        // against the source under the ON condition.
        def byNameChecked(e: Expression, what: String): Column = {
          require(e.references.forall(a => targetIds.contains(a.exprId)),
            s"MERGE INTO $ident: $what in WHEN NOT MATCHED BY SOURCE " +
              "can only reference the target table")
          // scalarLits fills the ScalarSlots the rule's lift left in
          // THIS clause family too — omitting it indexed into Nil
          GraftRowLevelSql.byName(e, s"MERGE INTO $ident", scalarLits)
        }
        val bCompiled: Seq[(Boolean, Column, Map[Int, Column => Column])] =
          notMatchedBySourceActions.map {
            case u: UpdateAction =>
              // whole columns or struct-field paths, like the matched
              // side — target-only references enforced either way
              val entries: Seq[(Int, Boolean, Column => Column)] =
                u.assignments.map { asg =>
                  val (root, path) = GraftRowLevelSql.rootOf(asg.key)
                    .getOrElse(throw new UnsupportedOperationException(
                      s"MERGE INTO $ident: only columns and " +
                        s"struct-field paths can be assigned " +
                        s"(got ${asg.key.sql})"))
                  val j = targetIdx(root)
                  require(j >= 0 && !partIdxs.contains(j),
                    s"MERGE INTO $ident: WHEN NOT MATCHED BY SOURCE " +
                      s"cannot assign a key column (${asg.key.sql})")
                  if (path.isEmpty)
                    (j, true, (_: Column) =>
                      byNameChecked(asg.value, "an assignment")
                        .cast(types(j)))
                  else {
                    val ft = GraftRowLevelSql.fieldTypeAt(types(j), path)
                    (j, false, (old: Column) =>
                      old.withField(GraftRowLevelSql.quotePath(path),
                        byNameChecked(asg.value, "an assignment")
                          .cast(ft)))
                  }
                }
              (false,
                u.condition.map(byNameChecked(_, "a condition"))
                  .getOrElse(lit(true)),
                GraftRowLevelSql.composeAssigns(s"MERGE INTO $ident",
                  j => targetOutput(j).name, entries))
            case d: DeleteAction =>
              (true,
                d.condition.map(byNameChecked(_, "a condition"))
                  .getOrElse(lit(true)), Map.empty[Int, Column => Column])
            case other => throw new UnsupportedOperationException(
              s"MERGE INTO $ident: WHEN NOT MATCHED BY SOURCE supports " +
                s"UPDATE/DELETE (got $other)")
          }
        val orPred = bCompiled.map(_._2).reduce(_ || _)
        // "matched by source" = ∃ a source row satisfying the FULL ON
        // condition (key equality AND residual conjuncts) — SQL:2003 /
        // Delta semantics: a target row whose key appears in the source
        // but fails a residual conjunct is NOT matched and lands here
        // (pinned by GraftRowLevelSqlSpec's residual-conjunct fixture).
        // With no residual the anti-join keys on the (distinct) key
        // set; with residuals they compose into the join condition —
        // still a key-equality join with a residual filter, the same
        // shuffle shape, never a cartesian.
        val read = t.readWhere(orPred)
        val affected =
          if (residual.isEmpty) {
            val anchorKey = if (compound) table.graftKey else key
            read.join(srcKeys.distinct(), Seq(anchorKey), "left_anti")
          } else {
            // target refs by their REAL column names (the table-shaped
            // frame), source refs by the __sN aliases (srcDf)
            def mixed(e: Expression): Column =
              ColumnBridge.column(e.transform {
                case a: AttributeReference if targetIds.contains(a.exprId) =>
                  UnresolvedAttribute.quoted(a.name)
                case a: AttributeReference =>
                  UnresolvedAttribute.quoted(byId.getOrElse(a.exprId,
                    throw new IllegalStateException(s"MERGE INTO $ident:" +
                      s" reference '${a.name}' is neither target nor " +
                      "source")))
              })
            val cond = residual.map(mixed)
              .foldLeft(srcPartCols.map { case (j, c) =>
                col(targetOutput(j).name) === c }.reduce(_ && _))(_ && _)
            read.join(srcDf, cond, "left_anti")
          }
        val bIdx = bCompiled.zipWithIndex
          .foldRight(lit(null).cast("int")) {
            case (((_, c, _), i), rest) => when(c, lit(i)).otherwise(rest)
          }
        val bChange = bCompiled.zipWithIndex.foldRight(lit("update")) {
          case (((isDel, _, _), i), rest) =>
            when(bIdx === i, lit(if (isDel) "delete" else "update"))
              .otherwise(rest)
        }
        parts += affected.where(bIdx.isNotNull)
          .select(targetOutput.zipWithIndex.map { case (a, j) =>
            val old = col(a.name)
            bCompiled.zipWithIndex.foldRight(old) {
              case (((isDel, _, assigns), i), rest) =>
                val v =
                  if (isDel) old
                  else assigns.get(j).map(f => f(old)).getOrElse(old)
                when(bIdx === i, v).otherwise(rest)
            }.as(a.name)
          } ++ Seq(bChange.as("change_type"),
              lit(null).cast("string").as("__file")): _*)
      }
      // a compound table's feed carries the synthesized storage key,
      // recomputed from the feed's own part values (deterministic
      // encoding — matched rows reproduce their stored key exactly)
      val feed0 = parts.reduce(_.unionByName(_))
      val keyed =
        if (compound)
          graft.sources.CompoundKey.withKey(feed0, partNames.toSeq)
        else feed0
      val checkKey = if (compound) table.graftKey else key
      // persisted: the feed re-executes inside applyChanges' staging
      // (and once for the cardinality check below) — one evaluation of
      // the user's source, Delta's source-materialization discipline,
      // at delta scale
      val feed = keyed.persist(StorageLevel.MEMORY_AND_DISK)
      try {
        // ONE aggregate answers every pre-apply question (round-18
        // optim — was three actions: a null-key probe, a duplicate-key
        // probe, and applyChanges' own key count): total rows, NULL
        // keys, distinct keys, and the files of the matched rows.
        // Violations re-run the targeted probe for the offending value
        // — the rare path only.
        val st = feed.agg(
          org.apache.spark.sql.functions.count(lit(1)),
          org.apache.spark.sql.functions.count(col(checkKey)),
          org.apache.spark.sql.functions.countDistinct(col(checkKey)),
          org.apache.spark.sql.functions.collect_set(col("__file")))
          .head
        val (n, nonNull, distinct) =
          (st.getLong(0), st.getLong(1), st.getLong(2))
        require(n == nonNull,
          s"MERGE INTO $ident: an INSERT clause produced a NULL key")
        if (distinct != n) {
          val dup = feed.groupBy(col(checkKey)).count()
            .where(col("count") > 1).limit(1).collect()
          require(dup.isEmpty,
            s"MERGE INTO $ident: multiple source rows address key " +
              s"'${dup.headOption.map(_.get(0)).orNull}' — the SQL:2003 " +
              "MERGE cardinality violation (deduplicate the source)")
        }
        // the matched rows' files are EXACTLY the files holding a feed
        // key — applyChanges rewrites them without planning again —
        // only when no feed key can sit in a file the join left
        // unmatched: no residual conjunct (a key-equal target row that
        // fails it is unmatched, and an INSERT of its key upserts it),
        // no BY SOURCE clause (its rows come from a separate read), and
        // every INSERT keys its row by the ON expressions (an unmatched
        // source key is in no candidate file, so in no file at all)
        val touched =
          if (residual.nonEmpty || notMatchedBySourceActions.nonEmpty ||
              !notMatchedActions.forall(insertKeyedByOn)) None
          else Some(GraftTable.Touched(cands.version, st.getSeq[String](3)))
        Seq(Row(t.applyChanges(feed.drop("__file"), preCountedKeys = n,
          touched = touched)))
      } finally { feed.unpersist(); () }
    } finally { srcDf.unpersist(); () }
  }
}
