package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Cast, Coalesce, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, Command, DeleteAction, DeleteFromTable, InsertAction, LeafNode, LogicalPlan, MergeAction, MergeIntoTable, SubqueryAlias, UpdateAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.lake.TableStore
import graft.sources.GraftTable

/** Row-level SQL (MERGE INTO / UPDATE / DELETE) on graft tables — the
  * reference's headline statement (`MERGE INTO catalog.db.table`,
  * icberg/iceberg_tables.py:45-50). ONE compiler serves both SQL
  * surfaces; each hands [[execute]] a statement Spark's analyzer has
  * already resolved over a pinned read of the target:
  *  - catalog-addressed tables in a vanilla session: a session
  *    extension ([[graft.functions.GraftExtensions]]) injects
  *    [[GraftDmlRule]], which claims the resolved `MergeIntoTable` /
  *    `UpdateTable` / `DeleteFromTable` whose target is a [[GraftTable]]
  *    relation and replaces it with a [[GraftDmlCommand]]. Spark's own
  *    rewrite only fires for `SupportsRowLevelOperations`, whose
  *    `ReplaceData` demands a second DSv2 parquet writer the store's
  *    commit path already subsumes — the Delta-shaped route instead;
  *  - the [[graft.lake.GraftSql]] front door, which binds the target
  *    to the pinned store read, runs the analyzer itself and calls
  *    [[execute]] (no session extension needed).
  *
  * Semantics (ANSI + Delta conventions):
  *  - DELETE: a row is removed iff the predicate is TRUE (NULL keeps).
  *  - UPDATE: each assigned column CASEs over the null-safe condition;
  *    unassigned columns and non-matching rows carry unchanged.
  *  - MERGE: one left-outer join classifies every target ROW by the
  *    first action (declaration order) whose condition holds; NOT
  *    MATCHED inserts anti-join against the pre-merge target; a
  *    target row matched by MORE than one source row raises a
  *    cardinality violation (inline `assert_true` — no second pass).
  *    An insert-ONLY merge commits as a blind append (no rewrite, no
  *    snapshot conflict surface — Delta's insert-only optimization).
  *  - Rewrites pin the analysis-time snapshot: a concurrent commit
  *    aborts ([[graft.lake.SnapshotConflictException]]) rather than
  *    being silently swallowed.
  *  - Under `spark.graft.delete.deletionVectors` DELETE and UPDATE
  *    commit the matched rows' positions (plus UPDATE's new copies)
  *    instead of rewriting survivors: O(matched rows) written, the
  *    read pays one delete-set filter until compaction folds it.
  *
  * Scale: the target scan is the store-composed plan (pushed filters,
  * stats/bloom skipping), the classification is one shuffle join on
  * the merge condition, and the commit is the store's atomic claim.
  * The cardinality guard rides the join output (a window over the
  * synthetic row id) only when MATCHED actions exist.
  *
  * The surfaces differ only before analysis: the front door widens
  * the target for star actions whose source carries new columns or
  * struct fields (`spark.graft.merge.schemaEvolution`, on by default),
  * while the catalog path rejects `WITH SCHEMA EVOLUTION`.
  */
object GraftDml {

  private val TidCol = "__graft_dml_tid"
  private val SrcMarkCol = "__graft_dml_sm"
  private val ActCol = "__graft_dml_act"
  private val CardCol = "__graft_dml_mc"

  private def colOf(e: Expression): Column = ColumnBridge.column(e)

  /** The graft table behind a (possibly aliased) DSv2 relation. */
  private[plans] def graftTarget(plan: LogicalPlan): Option[GraftTable] =
    plan match {
      case SubqueryAlias(_, child) => graftTarget(child)
      case r: DataSourceV2Relation => r.table match {
        case g: GraftTable => Some(g)
        case _ => None
      }
      case _ => None
    }

  /** The target relation of a row-level statement; None for any other
    * plan. */
  private[graft] def targetOf(stmt: LogicalPlan): Option[LogicalPlan] =
    stmt match {
      case d: DeleteFromTable => Some(d.table)
      case u: UpdateTable => Some(u.table)
      case m: MergeIntoTable => Some(m.targetTable)
      case _ => None
    }

  /** Compile `stmt` — a resolved DELETE / UPDATE / MERGE whose target
    * relation reads version `pinned` of store table `table` — and
    * commit it: a rewrite checked against `pinned`, a blind append
    * for an insert-only MERGE, or a deletion-vector commit. */
  def execute(spark: SparkSession, store: TableStore, table: String,
              pinned: Long, stmt: LogicalPlan): Unit = {
    requirePlain(store, table, stmt)
    def rewrite(rows: DataFrame, op: String): Unit =
      store.overwrite(table, rows, readSnapshot = Some(pinned), op = op)
    // deletion vectors: the Columns name the target's columns
    // ([[byName]]), so they bind to the store's own row-position read
    val positional = spark.conf
      .get("spark.graft.delete.deletionVectors", "false").toBoolean
    stmt match {
      case DeleteFromTable(target, cond) =>
        val drop = nullSafe(Some(cond))
        if (positional) store.deleteWhere(table, byName(drop, target.output))
        else rewrite(ColumnBridge.ofRows(spark, target).where(!colOf(drop))
          .select(target.output.map(a => colOf(a).as(a.name)): _*), "DELETE")

      case UpdateTable(target, assignments, cond) =>
        val attrs = target.output
        val hit = nullSafe(cond)
        val values = assignTargets(assignments, attrs)
        if (positional) store.updateWhere(table, byName(hit, attrs),
          attrs.flatMap(a => values.get(a.name.toLowerCase).map(v =>
            a.name -> byName(Cast(v, a.dataType), attrs))).toMap)
        else rewrite(ColumnBridge.ofRows(spark, target).select(attrs.map { a =>
          values.get(a.name.toLowerCase)
            .map(v => when(colOf(hit), colOf(v).cast(a.dataType))
              .otherwise(colOf(a)))
            .getOrElse(colOf(a)).as(a.name)
        }: _*), "UPDATE")

      case m: MergeIntoTable =>
        merge(spark, m, store.append(table, _), rewrite(_, "MERGE"))
    }
  }

  /** Materialized views are maintained from their source's change
    * feed, and a live view's `__def` companion holds its 1-row
    * definition: row-level DML on either would corrupt the view. */
  private def requirePlain(store: TableStore, table: String,
                           stmt: LogicalPlan): Unit = {
    val verb = stmt match {
      case _: MergeIntoTable => "MERGE"
      case _: UpdateTable => "UPDATE"
      case _ => "DELETE"
    }
    if (GraftTable.isMaterializedView(store, table))
      throw new UnsupportedOperationException(
        s"$table is a materialized view — it is maintained from its " +
          s"source's change feed (REFRESH MATERIALIZED VIEW), not by $verb")
    if (GraftTable.isLiveCompanion(store, table))
      throw new UnsupportedOperationException(
        s"$table is the definition companion of materialized view " +
          s"'${table.stripSuffix("__def")}' — it is engine-managed and " +
          s"cannot be modified by $verb")
  }

  /** `cond` with NULL read as false (absent = true). */
  private def nullSafe(cond: Option[Expression]): Expression =
    Coalesce(Seq(cond.getOrElse(Literal.TrueLiteral), Literal.FalseLiteral))

  /** `e` with every target attribute replaced by its column NAME, so
    * the Column resolves against any read of the table — the store's
    * row-position read under deletion vectors. Everything else in
    * `e` stays as the analyzer resolved it. */
  private def byName(e: Expression, target: Seq[Attribute]): Column = {
    val ids = target.map(_.exprId).toSet
    colOf(e.transform {
      case a: AttributeReference if ids(a.exprId) => UnresolvedAttribute(Seq(a.name))
    })
  }

  /** Assignment keys must be top-level target columns; resolve each to
    * the target attribute it assigns (by exprId, falling back to a
    * case-insensitive name match for aligned copies). */
  private def assignTargets(assigns: Seq[Assignment],
                            targetAttrs: Seq[Attribute])
      : Map[String, Expression] =
    assigns.map { a =>
      val attr = a.key match {
        case ar: AttributeReference =>
          targetAttrs.find(_.exprId == ar.exprId)
            .orElse(targetAttrs.find(_.name.equalsIgnoreCase(ar.name)))
            .getOrElse(throw new IllegalArgumentException(
              s"assignment target ${ar.name} is not a column of the " +
                "target table"))
        case other => throw new UnsupportedOperationException(
          s"unsupported assignment target ${other.sql} — only top-level " +
            "columns can be assigned")
      }
      attr.name.toLowerCase -> a.value
    }.toMap

  /** First-true-condition classification over an action chain. */
  private def chainOf(actions: Seq[MergeAction], offset: Int): Column =
    actions.zipWithIndex.foldLeft(lit(null).cast("int")) {
      case (acc, (a, i)) =>
        val c = a match {
          case DeleteAction(cc) => cc.map(colOf).getOrElse(lit(true))
          case UpdateAction(cc, _, _) => cc.map(colOf).getOrElse(lit(true))
          case InsertAction(cc, _) => cc.map(colOf).getOrElse(lit(true))
          case other => throw new UnsupportedOperationException(
            s"unsupported merge action ${other.getClass.getSimpleName}")
        }
        when(acc.isNotNull, acc).otherwise(when(c, lit(offset + i)))
    }

  /** Project classified rows back to the target schema: each column
    * CASEs over the action index — the matching update/insert
    * assignment value (cast to the target type) where an action
    * claims the row, the carried target value otherwise. */
  private def projectActions(df: DataFrame, actions: Seq[MergeAction],
                             offset: Int, targetAttrs: Seq[Attribute],
                             carry: Boolean): DataFrame = {
    val assignsByIdx: Map[Int, Map[String, Expression]] =
      actions.zipWithIndex.collect {
        case (UpdateAction(_, assigns, _), i) =>
          (offset + i) -> assignTargets(assigns, targetAttrs)
        case (InsertAction(_, assigns), i) =>
          (offset + i) -> assignTargets(assigns, targetAttrs)
      }.toMap
    df.select(targetAttrs.toIndexedSeq.map { a =>
      val base =
        if (carry) colOf(a) else lit(null).cast(a.dataType)
      assignsByIdx.foldLeft(base) { case (acc, (i, byName)) =>
        byName.get(a.name.toLowerCase)
          .map(v => when(col(ActCol) === i, colOf(v).cast(a.dataType))
            .otherwise(acc))
          .getOrElse(acc)
      }.as(a.name)
    }: _*)
  }

  private def dropDeletes(df: DataFrame, actions: Seq[MergeAction],
                          offset: Int): DataFrame =
    actions.zipWithIndex.collect { case (_: DeleteAction, i) => offset + i }
      .foldLeft(df)((d, i) =>
        d.where(col(ActCol).isNull || col(ActCol) =!= i))

  /** Classify and project a MERGE; commit the new rows through
    * `append` when it only inserts, else the full result through
    * `rewrite`. */
  private def merge(spark: SparkSession, m: MergeIntoTable,
                    append: DataFrame => Unit,
                    rewrite: DataFrame => Unit): Unit = {
    val targetAttrs = m.targetTable.output
    val t = ColumnBridge.ofRows(spark, m.targetTable)
    val s = ColumnBridge.ofRows(spark, m.sourceTable)
    val cond = colOf(m.mergeCondition)

    // NOT MATCHED is judged against the PRE-merge target
    def inserts: DataFrame = projectActions(
      s.join(t, cond, "left_anti")
        .withColumn(ActCol, chainOf(m.notMatchedActions, 0))
        .where(col(ActCol).isNotNull),
      m.notMatchedActions, 0, targetAttrs, carry = false)

    if (m.matchedActions.isEmpty && m.notMatchedBySourceActions.isEmpty) {
      // insert-only merge: the target is untouched — commit the new
      // rows as a blind append, no rewrite at any scale
      append(inserts)
    } else {
      val survivors =
        if (m.matchedActions.isEmpty) {
          // no matched action needs source VALUES — matched-ness via
          // duplication-free semi/anti joins (a raw duplicate-key
          // source can't multiply carried target rows)
          val matched = t.join(s, cond, "left_semi")
            .select(targetAttrs.map(a => colOf(a).as(a.name)): _*)
          val unmatched = t.join(s, cond, "left_anti")
            .withColumn(ActCol, chainOf(m.notMatchedBySourceActions, 0))
          val processed = projectActions(
            dropDeletes(unmatched, m.notMatchedBySourceActions, 0),
            m.notMatchedBySourceActions, 0, targetAttrs, carry = true)
          matched.unionByName(processed)
        } else {
          val tid = t.withColumn(TidCol, monotonically_increasing_id())
          val j = tid.join(s.withColumn(SrcMarkCol, lit(1)),
            cond, "left_outer")
          // ANSI cardinality rule, enforced inline on the join output
          // (one window over the synthetic row id, no second pass): a
          // target row matched by two source rows is ambiguous —
          // which update wins is undefined — so it raises instead of
          // silently double-applying
          val guarded = j.withColumn(CardCol,
              count(col(SrcMarkCol)).over(Window.partitionBy(TidCol)))
            .where(assert_true(col(CardCol) <= 1,
              lit("MERGE cardinality violation: a target row matched " +
                "more than one source row")).isNull)
          val all = m.matchedActions ++ m.notMatchedBySourceActions
          // the source marker (not the action conditions) decides
          // matched-ness, so a condition like `u.x IS NULL` can't fire
          // on an unmatched row
          val classified = guarded.withColumn(ActCol,
            when(col(SrcMarkCol).isNotNull, chainOf(m.matchedActions, 0))
              .otherwise(chainOf(m.notMatchedBySourceActions,
                m.matchedActions.size)))
          projectActions(dropDeletes(classified, all, 0), all, 0,
            targetAttrs, carry = true)
        }
      rewrite(if (m.notMatchedActions.isEmpty) survivors
        else survivors.unionByName(inserts))
    }
  }
}

/** The analyzed row-level statement and the graft table it targets. A
  * LEAF command: the statement rides as a field (not a child), so the
  * analyzer leaves it be and CheckAnalysis's node-type-specific
  * placement checks don't re-run on it — the statement was fully
  * resolved and validated inside its ORIGINAL node (the rule only
  * claims resolved statements; e.g. IN/EXISTS subqueries are legal
  * under DeleteFromTable but flagged on an unrecognized command). */
case class GraftDmlCommand(table: GraftTable, statement: LogicalPlan)
    extends LeafNode with Command {
  override def output: Seq[Attribute] = Nil
  override def simpleString(maxFields: Int): String =
    s"GraftDmlCommand ${statement.nodeName} ${table.name()}"
}

/** Claims resolved DELETE/UPDATE/MERGE plans whose target is a graft
  * DSv2 relation. Runs as an injected resolution rule: Spark's own
  * `RewriteMergeIntoTable`/`RewriteUpdateTable`/`RewriteDeleteFromTable`
  * skip non-`SupportsRowLevelOperations` tables (their `rewritable`
  * guard), so without this rule the statements die in CheckAnalysis /
  * planning with "table does not support row-level operations". */
case class GraftDmlRule(spark: org.apache.spark.sql.SparkSession)
    extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsDown {
      case stmt if stmt.resolved =>
        GraftDml.targetOf(stmt).flatMap(GraftDml.graftTarget).map { g =>
          stmt match {
            case m: MergeIntoTable if m.withSchemaEvolution =>
              throw new UnsupportedOperationException(
                "MERGE WITH SCHEMA EVOLUTION on a catalog-addressed graft " +
                  "table is not supported — use the GraftSql front door " +
                  "(spark.graft.merge.schemaEvolution)")
            case _ => GraftDmlCommand(g, stmt)
          }
        }.getOrElse(stmt)
    }
}

/** Plans [[GraftDmlCommand]]; the exec runs the store commit once on
  * the driver (the heavy lifting — joins, scans — are normal Spark
  * jobs the command launches) and returns no rows, like every DML. */
object GraftDmlStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case c: GraftDmlCommand => GraftDmlExec(c) :: Nil
    case _ => Nil
  }
}

case class GraftDmlExec(cmd: GraftDmlCommand) extends LeafExecNode {
  override def output: Seq[Attribute] = Nil

  @transient private lazy val sideEffect: Unit = {
    val g = cmd.table
    GraftDml.execute(session, g.graftStore, g.name(), g.pinnedVersion,
      cmd.statement)
  }

  override def executeCollect(): Array[InternalRow] = {
    sideEffect
    Array.empty
  }

  override protected def doExecute(): RDD[InternalRow] = {
    sideEffect
    sparkContext.emptyRDD[InternalRow]
  }
}
