package graft.lake

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedIdentifier, UnresolvedRelation, UnresolvedTable, UnresolvedTableValuedFunction}
import org.apache.spark.sql.catalyst.plans.logical.{AddCheckConstraint, AddColumns, AddConstraint, CreateTableAsSelect, DeleteFromTable, DropColumns, DropConstraint, DropTable, InsertIntoStatement, InsertStarAction, LogicalPlan, MergeIntoTable, RenameColumn, SubqueryAlias, UpdateStarAction, UpdateTable}
import org.apache.spark.sql.functions.{col, lit, struct, when}

/** SQL-text front door for the statements Spark can parse but not
  * execute without a v2 row-level-operation catalog: MERGE INTO — the
  * reference's merge_sql_stmnt (icberg/iceberg_tables.py:45-50) — and
  * the plain DML forms `UPDATE ... SET ... [WHERE]`, `DELETE FROM ...
  * WHERE` and `INSERT INTO | OVERWRITE` (compiled onto the store's
  * append / overwrite / partition-scoped overwrite commits when the
  * target is a graft table; otherwise it delegates to `spark.sql`,
  * the S9 session-catalog path), plus the DDL, maintenance and
  * time-travel verbs below.
  *
  * We reuse Catalyst's parser (no regex dialect). MERGE / UPDATE /
  * DELETE on a store table bind the parsed target to a pinned read
  * of the table, run Spark's analyzer over the statement, and hand
  * it to [[graft.plans.GraftDml]] — the one row-level compiler, the
  * same one `spark.sql` reaches on a catalog-addressed table, so both
  * surfaces share semantics and errors: any merge condition, subquery
  * sources, the full WHEN MATCHED / NOT MATCHED / NOT MATCHED BY
  * SOURCE matrix, the cardinality guard, and one atomic commit (a
  * blind append for an insert-only merge). The one surface
  * difference: star actions here evolve the target's schema by
  * default (`spark.graft.merge.schemaEvolution`, see [[evolveMerge]]).
  *
  * Any other statement delegates to `spark.sql` untouched.
  */
object GraftSql {

  // Maintenance statements (OPTIMIZE / VACUUM) sit OUTSIDE Catalyst's
  // grammar — parsePlan throws on them — so they get a two-pattern
  // pre-parse before the parser, the same carve-out the lakehouse
  // engines make. Strictly bounded: a statement that starts with
  // neither keyword never touches these patterns.
  private val OptimizeStmt =
    """(?is)^\s*OPTIMIZE\s+([A-Za-z_]\w*)\s*(?:ZORDER\s+BY\s*\(\s*([^)]+?)\s*\))?\s*;?\s*$""".r
  private val VacuumStmt =
    """(?is)^\s*VACUUM\s+([A-Za-z_]\w*)\s*(?:RETAIN\s+(\d+)\s+(HOURS?|VERSIONS?))?\s*;?\s*$""".r
  private val HistoryStmt =
    """(?is)^\s*DESCRIBE\s+HISTORY\s+([A-Za-z_]\w*)\s*;?\s*$""".r
  private val DetailStmt =
    """(?is)^\s*DESCRIBE\s+DETAIL\s+([A-Za-z_]\w*)\s*;?\s*$""".r
  private val IngestStmt =
    """(?is)^\s*DESCRIBE\s+INGEST\s+([A-Za-z_]\w*)\s*;?\s*$""".r
  private val SetPartitionedStmt =
    """(?is)^\s*ALTER\s+TABLE\s+([A-Za-z_]\w*)\s+SET\s+PARTITIONED\s+BY\s*\(\s*([^)]*?)\s*\)\s*;?\s*$""".r
  private val RestoreStmt =
    """(?is)^\s*RESTORE\s+TABLE\s+([A-Za-z_]\w*)\s+(?:TO\s+)?VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*$""".r
  private val RestoreTsStmt =
    """(?is)^\s*RESTORE\s+TABLE\s+([A-Za-z_]\w*)\s+(?:TO\s+)?TIMESTAMP\s+AS\s+OF\s+'([^']+)'\s*;?\s*$""".r
  private val ShowTablesStmt =
    """(?is)^\s*SHOW\s+GRAFT\s+TABLES\s*;?\s*$""".r
  private val ConvertStmt =
    """(?is)^\s*CONVERT\s+TO\s+GRAFT\s+([A-Za-z_]\w*)\s*;?\s*$""".r
  private val CloneStmt =
    """(?is)^\s*CREATE\s+TABLE\s+([A-Za-z_]\w*)\s+SHALLOW\s+CLONE\s+([A-Za-z_]\w*)\s*;?\s*$""".r
  private val ExportStmt =
    """(?is)^\s*EXPORT\s+TABLE\s+([A-Za-z_]\w*)\s+TO\s+'([^']+)'(?:\s+VERSION\s+AS\s+OF\s+(\d+))?\s*;?\s*$""".r
  private val BeginStmt =
    """(?is)^\s*BEGIN(?:\s+TRANSACTION)?\s*;?\s*$""".r
  private val CommitStmt = """(?is)^\s*COMMIT\s*;?\s*$""".r
  private val RollbackStmt = """(?is)^\s*ROLLBACK\s*;?\s*$""".r
  private val CopyIntoStmt =
    """(?is)^\s*COPY\s+INTO\s+([A-Za-z_]\w*)\s+FROM\s+'([^']+)'(?:\s+FILEFORMAT\s*=\s*([A-Za-z]+))?(?:\s+PATTERN\s*=\s*'([^']+)')?\s*;?\s*$""".r
  private val BloomIndexStmt =
    """(?is)^\s*CREATE\s+BLOOMFILTER\s+INDEX\s+ON\s+(?:TABLE\s+)?([A-Za-z_]\w*)\s+FOR\s+COLUMNS\s*\(\s*([A-Za-z_]\w*)\s*\)(?:\s+OPTIONS\s*\(\s*fpp\s*=\s*([0-9.]+)\s*\))?\s*;?\s*$""".r
  private val BloomRefreshStmt =
    """(?is)^\s*REFRESH\s+BLOOMFILTER\s+INDEX(?:ES)?\s+ON\s+(?:TABLE\s+)?([A-Za-z_]\w*)(?:\s+FOR\s+COLUMNS\s*\(\s*([A-Za-z_]\w*)\s*\))?\s*;?\s*$""".r
  private val AnalyzeStmt =
    """(?is)^\s*ANALYZE\s+TABLE\s+([A-Za-z_]\w*)\s+COMPUTE\s+STATISTICS(?:\s+FOR\s+COLUMNS\s*\(\s*([^)]+?)\s*\))?\s*;?\s*$""".r
  private val VectorIndexDescStmt =
    """(?is)^\s*DESCRIBE\s+VECTOR\s+INDEX\s+([A-Za-z_]\w*)\s*;?\s*$""".r
  // Incremental materialized views (graft.lake.MaterializedView):
  // the select list is a RESTRICTED grammar — group columns, count(*),
  // sum(col) — the self-maintainable aggregate set; anything else must
  // stay a plain (recomputed) query. No aliases: the view serves its
  // canonical names (group cols, cnt, sum_<col>).
  private val CreateMvStmt =
    """(?is)^\s*CREATE\s+MATERIALIZED\s+VIEW\s+([A-Za-z_]\w*)\s+AS\s+SELECT\s+(.+?)\s+FROM\s+([A-Za-z_]\w*)\s*(?:\s+WHERE\s+(.+?))?\s+GROUP\s+BY\s+(.+?)\s*;?\s*$""".r
  // the JOIN view form: FROM fact JOIN d1 USING (c1) [JOIN d2 USING
  // (c2) ...] — a chain of inner joins, the shape the multi-cursor
  // IVM maintains exactly (group 4 holds the whole chain; JoinClause
  // re-parses it per dim)
  private val CreateMvJoinStmt =
    """(?is)^\s*CREATE\s+MATERIALIZED\s+VIEW\s+([A-Za-z_]\w*)\s+AS\s+SELECT\s+(.+?)\s+FROM\s+([A-Za-z_]\w*)((?:\s+(?:INNER\s+)?JOIN\s+[A-Za-z_]\w*\s+USING\s*\([^)]+\))+)\s*(?:\s+WHERE\s+(.+?))?\s+GROUP\s+BY\s+(.+?)\s*;?\s*$""".r
  private val JoinClause =
    """(?is)JOIN\s+([A-Za-z_]\w*)\s+USING\s*\(([^)]+)\)""".r
  private val RefreshMvStmt =
    """(?is)^\s*REFRESH\s+MATERIALIZED\s+VIEW\s+([A-Za-z_]\w*)\s*;?\s*$""".r
  private val OptimizeMvStmt =
    """(?is)^\s*OPTIMIZE\s+MATERIALIZED\s+VIEW\s+([A-Za-z_]\w*)\s*;?\s*$""".r
  private val DescribeMvStmt =
    """(?is)^\s*DESCRIBE\s+MATERIALIZED\s+VIEW\s+([A-Za-z_]\w*)\s*;?\s*$""".r
  private val ShowMvsStmt =
    """(?is)^\s*SHOW\s+MATERIALIZED\s+VIEWS\s*;?\s*$""".r
  private val DropMvStmt =
    """(?is)^\s*DROP\s+MATERIALIZED\s+VIEW\s+(IF\s+EXISTS\s+)?([A-Za-z_]\w*)\s*;?\s*$""".r

  /** Execute a multi-statement SQL SCRIPT — the Glue-job shape (one
    * job text, several `;`-separated statements run in order). The
    * split respects single-quoted strings (a `';'` literal never
    * splits) and skips blank statements; each statement runs through
    * [[execute]] and the LAST statement's result returns, so a script
    * ending in a SELECT reads back what the script built. */
  def executeScript(spark: SparkSession, store: TableStore,
                    script: String): DataFrame = {
    // split on ';' OUTSIDE string literals and OUTSIDE comments —
    // a ';' in a `-- ...` or `/* ... */` comment must not truncate the
    // statement it annotates (half-applied scripts have no rollback)
    val stmts = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var inStr = false
    var i = 0
    while (i < script.length) {
      val c = script.charAt(i)
      def next = if (i + 1 < script.length) script.charAt(i + 1) else '\u0000'
      if (inStr) {
        if (c == '\'' && next == '\'') { cur.append("''"); i += 1 }
        else { if (c == '\'') inStr = false; cur.append(c) }
      } else if (c == '\'') { inStr = true; cur.append(c) }
      else if (c == '-' && next == '-') {
        while (i < script.length && script.charAt(i) != '\n') {
          cur.append(script.charAt(i)); i += 1
        }
        i -= 1 // the newline (if any) appends on the next loop turn
      } else if (c == '/' && next == '*') {
        val end = script.indexOf("*/", i + 2)
        val stop = if (end < 0) script.length else end + 2
        cur.append(script.substring(i, stop)); i = stop - 1
      } else if (c == ';') { stmts += cur.toString; cur.clear() }
      else cur.append(c)
      i += 1
    }
    stmts += cur.toString
    val runnable = stmts.map(_.trim).filter(_.nonEmpty)
    require(runnable.nonEmpty, "empty SQL script")
    // S10 hand-off: before each statement, refresh a temp view for
    // each store table the SCRIPT mentions by name, so plain SELECTs
    // resolve store tables and always see the preceding statements'
    // commits (a view registered once would pin the old manifest).
    // Scoped to mentioned tables: unrelated session views survive and
    // a wide store doesn't pay O(tables × statements) manifest reads.
    // Precedence caveat: a session temp view sharing a MENTIONED store
    // table's name is replaced — the store is the system of record.
    // a BEGIN opened by an OUTER caller (executeTransaction) is that
    // caller's to close; one opened by THIS script must be closed by
    // this script — an unbalanced BEGIN would leave the store
    // silently staging every later commit on this instance
    val txnWasOpen = store.inTransaction
    val result =
      try runnable.map { stmt =>
        // re-listed per statement: a table the script itself CREATEs
        // must resolve in the statements after its CTAS
        registerMentioned(store, script)
        executeStmt(spark, store, stmt, allowTxnControl = true)
      }.last
      catch { case t: Throwable =>
        // a failed statement inside an open BEGIN must not leave the
        // store half-applied AND mid-transaction: roll the staged
        // commits back, then surface the original failure
        if (store.inTransaction && !txnWasOpen) unwindOrFinish(store)
        throw t
      }
    if (store.inTransaction && !txnWasOpen) {
      store.rollbackTransaction()
      throw new IllegalStateException(
        "script ended with an open transaction (BEGIN without " +
          "COMMIT/ROLLBACK); its staged commits were rolled back")
    }
    result
  }

  /** One-row status frame for transaction-control statements. */
  private def txnStatus(spark: SparkSession, op: String): DataFrame = {
    import spark.implicits._
    Seq(op).toDF("txn")
  }

  /** Run `script` as ONE cross-table transaction: BEGIN, the
    * statements, COMMIT — with rollback on any failure. The atomicity
    * the reference's delete-then-append pair lacks (SURVEY §3.2): a
    * reader never sees table A updated but table B not, and a failed
    * statement unwinds every staged commit. Returns the last
    * statement's result (post-commit). */
  def executeTransaction(spark: SparkSession, store: TableStore,
                         script: String): DataFrame = {
    store.beginTransaction()
    val result =
      try executeScript(spark, store, script)
      catch { case t: Throwable =>
        if (store.inTransaction) unwindOrFinish(store)
        throw t
      }
    store.commitTransaction()
    result
  }

  /** Unwind an open transaction after a failure — UNLESS its COMMIT
    * already journaled the intent (rollback is then refused: the
    * decision is durable), in which case finish the swing instead.
    * A commit retry that fails again leaves the intent for
    * [[TableStore.recoverTransactions]]; either way the ORIGINAL
    * failure is what surfaces to the caller. */
  /** S10 hand-off: refresh a temp view for each store table `sql`
    * mentions by name, so plain SELECTs resolve store tables at the
    * current manifest (a view registered once would pin an old one).
    * Scoped to mentioned tables: unrelated session views survive and
    * a wide store doesn't pay O(tables) manifest reads per statement.
    * Precedence caveat: a session temp view sharing a MENTIONED store
    * table's name is replaced — the store is the system of record. */
  /** Split a select list on TOP-LEVEL commas only — a group
    * expression like `date_trunc('day', ts) AS day` must stay one
    * item. Tracks paren depth and quoted strings. */
  private def splitTopLevel(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0
    var quote: Char = 0
    s.foreach { ch =>
      if (quote != 0) { cur += ch; if (ch == quote) quote = 0 }
      else ch match {
        case '\'' | '"' => quote = ch; cur += ch
        case '(' => depth += 1; cur += ch
        case ')' => depth -= 1; cur += ch
        case ',' if depth == 0 => out += cur.toString.trim; cur.clear()
        case c => cur += c
      }
    }
    val last = cur.toString.trim
    if (last.nonEmpty) out += last
    out.result()
  }

  /** Parse a CREATE MATERIALIZED VIEW select list into the maintained
    * measure buckets (sum, min, max, avg) plus derived-group
    * expressions. Measure items are 1-arg calls over plain columns;
    * a `<expr> AS <alias>` item whose alias is a GROUP BY column
    * declares a derived group (the daily-rollup shape); bare
    * group-column mentions and count(*) pass through (cnt is always
    * maintained); anything else is rejected loudly. */
  private def parseMvMeasures(selectList: String, groupCols: Seq[String])
      : (Seq[String], Seq[String], Seq[String], Seq[String],
         Map[String, String], Seq[String]) = {
    val SumItem = """(?i)sum\s*\(\s*([A-Za-z_]\w*)\s*\)""".r
    val MinItem = """(?i)min\s*\(\s*([A-Za-z_]\w*)\s*\)""".r
    val MaxItem = """(?i)max\s*\(\s*([A-Za-z_]\w*)\s*\)""".r
    val AvgItem = """(?i)avg\s*\(\s*([A-Za-z_]\w*)\s*\)""".r
    val CntItem = """(?i)count\s*\(\s*\*\s*\)""".r
    // LOUD approximate contract: the view maintains a deterministic
    // KMV sketch and reads expose `approx_distinct_<c>` — an estimate
    // past k distinct values, exact below
    val ApproxItem =
      """(?i)approx_count_distinct\s*\(\s*([A-Za-z_]\w*)\s*\)""".r
    val Ident = """([A-Za-z_]\w*)""".r
    val ExprAs = """(?is)^(.+?)\s+AS\s+([A-Za-z_]\w*)$""".r
    val sumCols = scala.collection.mutable.ArrayBuffer.empty[String]
    val minCols = scala.collection.mutable.ArrayBuffer.empty[String]
    val maxCols = scala.collection.mutable.ArrayBuffer.empty[String]
    val avgCols = scala.collection.mutable.ArrayBuffer.empty[String]
    val distinctCols = scala.collection.mutable.ArrayBuffer.empty[String]
    val groupExprs = scala.collection.mutable.LinkedHashMap.empty[String, String]
    splitTopLevel(selectList).foreach {
      case SumItem(c) => sumCols += c
      case MinItem(c) => minCols += c
      case MaxItem(c) => maxCols += c
      case AvgItem(c) => avgCols += c
      case ApproxItem(c) => distinctCols += c
      case CntItem() => () // cnt is always maintained
      case Ident(c) if groupCols.exists(_.equalsIgnoreCase(c)) => ()
      case ExprAs(e, alias)
          if groupCols.exists(_.equalsIgnoreCase(alias)) =>
        groupExprs += alias.toLowerCase -> e.trim
      case other => throw new IllegalArgumentException(
        s"materialized views maintain only group columns (optionally " +
          s"derived: <expr> AS <group alias>), count(*), sum(col), " +
          s"avg(col), min(col), max(col) and " +
          s"approx_count_distinct(col) incrementally; '$other' is " +
          "not one of those — use a plain query (or CTAS) for it")
    }
    (sumCols.toSeq, minCols.toSeq, maxCols.toSeq, avgCols.toSeq,
      groupExprs.toMap, distinctCols.toSeq)
  }

  /** A CREATE MATERIALIZED VIEW group item: a plain column name or
    * the alias a `<expr> AS <alias>` select item declared. */
  private def groupAlias(item: String): String = {
    val Ident = """^([A-Za-z_]\w*)$""".r
    item.trim match {
      case Ident(n) => n
      case other => throw new IllegalArgumentException(
        "GROUP BY items in CREATE MATERIALIZED VIEW must be column " +
          "names or the alias of a derived group (<expr> AS alias in " +
          s"the select list); got '$other'")
    }
  }

  /** The parallel groupExprs list for [[MaterializedView.create]]:
    * empty when no derived groups, else one expr per group column
    * (identity for the plain ones). */
  private def groupExprsFor(groupCols: Seq[String],
                            m: Map[String, String]): Seq[String] =
    if (m.isEmpty) Nil
    else groupCols.map(gc => m.getOrElse(gc.toLowerCase, gc))

  private def registerMentioned(store: TableStore, sql: String): Unit = {
    def mentioned(t: String): Boolean =
      ("(?i)\\b" + java.util.regex.Pattern.quote(t) + "\\b").r
        .findFirstIn(sql).isDefined
    store.tables().filter(mentioned).foreach { t =>
      // a materialized view (it has a `<t>__def` companion) serves
      // its CONSOLIDATED rows in SQL — the stored signed partials are
      // an implementation detail a SELECT must never surface
      val df = if (!t.endsWith("__def") && store.exists(t + "__def"))
        MaterializedView.read(store, t)
      else store.read(t)
      df.createOrReplaceTempView(t)
    }
  }

  private def unwindOrFinish(store: TableStore): Unit =
    try store.rollbackTransaction()
    catch { case _: IllegalStateException =>
      try store.commitTransaction()
      catch { case scala.util.control.NonFatal(_) => () }
    }

  /** Execute ONE SQL statement against graft tables: MERGE runs on
    * the store; everything else is plain `spark.sql`. Returns the
    * affected table contents for MERGE, the query result otherwise.
    * Transaction control (BEGIN/COMMIT/ROLLBACK) is REJECTED here:
    * only [[executeScript]] (which enforces BEGIN/COMMIT balance and
    * rolls back on imbalance) and [[executeTransaction]] may open
    * one — a bare `execute("BEGIN")` would leave the store silently
    * staging every later commit with nothing guarding the close. */
  def execute(spark: SparkSession, store: TableStore, sql: String): DataFrame = {
    // the quickstart's most obvious line — `execute("SELECT * FROM t")`
    // — must resolve store tables just like a script statement does
    registerMentioned(store, sql)
    executeStmt(spark, store, sql, allowTxnControl = false)
  }

  private def executeStmt(spark: SparkSession, store: TableStore,
                          sql: String, allowTxnControl: Boolean): DataFrame = {
    if (!allowTxnControl) sql match {
      case BeginStmt() | CommitStmt() | RollbackStmt() =>
        throw new IllegalArgumentException(
          "transaction control is only valid inside a script: use " +
            "executeScript (BEGIN ... COMMIT with balance enforcement) " +
            "or executeTransaction, not a single-statement execute")
      case _ => ()
    }
    sql match {
      case CopyIntoStmt(table, path, fmt, pat) =>
        // exactly-once file ingest (ledger inside the data commit)
        val r = FileIngest.copyInto(spark, store, table, path,
          Option(fmt).map(_.toLowerCase).getOrElse("parquet"),
          pattern = Option(pat))
        import spark.implicits._
        Seq((table, path, r.filesLoaded, r.rowsLoaded))
          .toDF("table", "source", "files_loaded", "rows_loaded")
      case BeginStmt() =>
        store.beginTransaction()
        txnStatus(spark, "begin")
      case CommitStmt() =>
        store.commitTransaction()
        txnStatus(spark, "commit")
      case RollbackStmt() =>
        store.rollbackTransaction()
        txnStatus(spark, "rollback")
      case VectorIndexDescStmt(name) =>
        // per-list file/row profile of a persisted IVF / IVF-PQ index,
        // served from the manifest + stats sidecar (no list file
        // opened) — the rebuild-vs-append skew gauge as a SQL verb
        require(store.exists(graft.ops.VectorIndex.centroidsTable(name)),
          s"unknown vector index $name")
        graft.ops.VectorIndex.describeIvfIndex(store, name)
      case AnalyzeStmt(table, cols) =>
        // table-level column stats folded from the per-file footer
        // sidecar (TableStore.columnStats) — O(manifest), no data
        // scan; the ANALYZE a 100 TB table can afford to run daily
        require(store.exists(table), s"unknown graft table $table")
        store.columnStats(table,
          Option(cols).toSeq.flatMap(_.split(",")).map(_.trim))
      case CreateMvJoinStmt(mv, selectList, factT, joinChain,
                            filterSql, groupList) =>
        // the multi-cursor join/star view: count/sum/avg plus min/max
        // (extrema repair re-joins only the affected groups' slice)
        val dims = JoinClause.findAllMatchIn(joinChain).map { m =>
          m.group(1) -> m.group(2).split(",").map(_.trim).toSeq
        }.toSeq
        val groupCols = splitTopLevel(groupList).map(groupAlias)
        val (sumCols, minCols, maxCols, avgCols, exprMap, distinctCols) =
          parseMvMeasures(selectList, groupCols)
        require(distinctCols.isEmpty,
          "approx_count_distinct measures are supported on single-table " +
            "materialized views only (a join view's rows carry join " +
            "multiplicity the sketch repair cannot scope)")
        val bound = MaterializedView.createStar(store, mv, factT, dims,
          groupCols, sumCols, Option(filterSql).map(_.trim), avgCols,
          groupExprsFor(groupCols, exprMap), minCols, maxCols)
        import spark.implicits._
        Seq((mv, factT, dims.map(_._1).mkString(","), bound))
          .toDF("view_name", "source", "dim", "bound_version")
      case CreateMvStmt(mv, selectList, src, filterSql, groupList) =>
        // restricted IVM grammar: group cols + count(*) + sum(col).
        // The items are single identifiers or 1-arg calls, so a comma
        // split is unambiguous.
        val groupCols = splitTopLevel(groupList).map(groupAlias)
        val (sumCols, minCols, maxCols, avgCols, exprMap, distinctCols) =
          parseMvMeasures(selectList, groupCols)
        val bound = MaterializedView.create(store, mv, src,
          groupCols, sumCols, Option(filterSql).map(_.trim),
          minCols, maxCols, avgCols, groupExprsFor(groupCols, exprMap),
          distinctCols = distinctCols)
        import spark.implicits._
        Seq((mv, src, bound)).toDF("view_name", "source", "bound_version")
      case RefreshMvStmt(mv) =>
        // fold the source's change feed since the last refresh — one
        // atomic O(changed data) append of signed partials
        val bound = MaterializedView.refresh(store, mv)
        import spark.implicits._
        Seq((mv, bound)).toDF("view_name", "bound_version")
      case OptimizeMvStmt(mv) =>
        // fold accumulated partials to one row per group, binding kept
        MaterializedView.compactPartials(store, mv)
        import spark.implicits._
        Seq((mv, store.read(mv).count())).toDF("view_name", "groups")
      case DescribeMvStmt(mv) =>
        // definition + binding + staleness, metadata-only (no scan)
        MaterializedView.describe(store, mv)
      case DropMvStmt(ifExistsGrp, mv) =>
        // the view AND its definition companion go together — a bare
        // DROP TABLE on the view would orphan `<mv>__def` (and SHOW
        // MATERIALIZED VIEWS ignores orphans, but the junk lingers).
        // IF EXISTS is a REGEX GROUP, not a substring probe — the
        // grammar accepts any whitespace between the words, and a
        // contains("IF EXISTS") check would miss 'IF\n EXISTS'.
        val ifExists = ifExistsGrp != null
        val isMv = store.exists(mv) &&
          store.exists(MaterializedView.defTable(mv))
        if (!isMv && !ifExists) throw new IllegalArgumentException(
          s"$mv is not a materialized view")
        if (isMv) {
          // the VIEW table drops first: a crash between the two
          // deletes then leaves an INVISIBLE orphan __def (absent
          // from SHOW/DESCRIBE/rewrite; writeDef replaces it on
          // re-CREATE) — the opposite order would leave a visible
          // table of raw signed partials under the view's name AND
          // block re-creating it
          store.drop(mv)
          store.drop(MaterializedView.defTable(mv))
        }
        import spark.implicits._
        Seq((mv, isMv)).toDF("view_name", "dropped")
      case ShowMvsStmt() =>
        // the view registry at a glance — name, shape, and whether the
        // rewrite would currently serve from it. Metadata-only.
        import spark.implicits._
        store.tables().filter(_.endsWith("__def"))
          .map(_.stripSuffix("__def")).sorted
          .filter(mv => mv.nonEmpty && store.exists(mv))
          .flatMap { mv =>
            scala.util.Try(MaterializedView.surface(store, mv)).toOption }
          .map(s => (s.mv, s.src, s.dims.mkString(","),
            s.groupCols.mkString(","), s.fresh))
          .toDF("view_name", "source", "dim", "group_cols", "fresh")
      case OptimizeStmt(table, zcols) =>
        executeOptimize(spark, store, table,
          Option(zcols).toSeq.flatMap(_.split(",")).map(_.trim))
      case VacuumStmt(table, n, unit) =>
        executeVacuum(spark, store, table, Option(n).map(_.toLong),
          Option(unit).map(_.toUpperCase))
      case BloomIndexStmt(table, column, fpp) =>
        // Databricks' CREATE BLOOMFILTER INDEX surface over the
        // per-file bloom sidecar (TableStore.buildBloomIndex); one
        // distributed pass, returns a 1-row summary
        require(store.exists(table), s"unknown graft table $table")
        store.buildBloomIndex(table, column,
          Option(fpp).map(_.toDouble).getOrElse(0.01))
        import spark.implicits._
        Seq((table, column)).toDF("table_name", "indexed_column")
      case BloomRefreshStmt(table, column) =>
        // incremental counterpart: index ONLY files without an entry
        // (O(new files)); bare REFRESH sweeps every indexed column —
        // the steady-state verb that keeps AUTOMATIC bloom skipping
        // effective as appends land
        require(store.exists(table), s"unknown graft table $table")
        val cols = Option(column).map(Seq(_))
          .getOrElse(store.bloomIndexedColumns(table))
        import spark.implicits._
        cols.map(c => (table, c, store.updateBloomIndex(table, c)))
          .toDF("table_name", "indexed_column", "files_indexed")
      case HistoryStmt(table) =>
        // per-version files / delete-entries / bytes / rows / commit
        // time — metadata-only (manifests + stats sidecars, no scan)
        require(store.exists(table), s"unknown graft table $table")
        store.history(table)
      case DetailStmt(table) =>
        // one row of current-state metadata, no scan
        require(store.exists(table), s"unknown graft table $table")
        store.detail(table)
      case IngestStmt(table) =>
        // the COPY INTO ledger as rows — ingested files still inside
        // the watermark window plus the per-root watermarks; manifest
        // header only, no scan
        require(store.exists(table), s"unknown graft table $table")
        val st = FileIngest.state(store, table)
        import spark.implicits._
        (st.files.toSeq.sorted.map { case (p, t) => ("file", p, t) } ++
          st.watermarks.toSeq.sorted.map { case (r, t) =>
            ("watermark", r, t) })
          .toDF("kind", "path", "mtime")
      case SetPartitionedStmt(table, cols) =>
        // partition evolution: future writes only, no rewrite;
        // `SET PARTITIONED BY ()` makes new commits unpartitioned
        require(store.exists(table), s"unknown graft table $table")
        store.setPartitioning(table,
          cols.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
        store.detail(table)
      case RestoreStmt(table, v) =>
        // O(1) rollback: a NEW commit whose manifest copies version v's
        require(store.exists(table), s"unknown graft table $table")
        store.restore(table, v.toLong)
        store.read(table)
      case RestoreTsStmt(table, ts) =>
        require(store.exists(table), s"unknown graft table $table")
        val tsMs = sessionTimestampMs(spark, ts)
        val v = store.versionAsOf(table, tsMs).getOrElse(
          throw new IllegalArgumentException(
            s"no retained version of $table committed at or before $ts"))
        store.restore(table, v)
        store.read(table)
      case ShowTablesStmt() =>
        import spark.implicits._
        store.tables().toDF("table")
      case ConvertStmt(table) =>
        // in-place adoption of a pre-existing parquet dir: metadata
        // only, no rewrite
        store.convert(table)
        store.read(table)
      case CloneStmt(dst, src) =>
        // zero-copy: dst's v0 references src's current files
        require(store.exists(src), s"unknown graft table $src")
        store.cloneTable(src, dst)
        store.read(dst)
      case ExportStmt(table, dest, verGrp) =>
        // cross-engine snapshot hand-off (TableStore.exportSnapshot);
        // a materialized view exports its CONSOLIDATED rows — the
        // signed partials are an implementation detail no external
        // reader must ever see
        require(store.exists(table), s"unknown graft table $table")
        val ver = Option(verGrp).map(_.toLong)
        import spark.implicits._
        if (!table.endsWith("__def") && store.exists(table + "__def")) {
          require(ver.isEmpty,
            s"$table is a materialized view — it exports its CURRENT " +
              "consolidated state (time-travel the SOURCE table instead)")
          MaterializedView.read(store, table)
            .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(dest)
          Seq((table, store.currentVersion(table).get, dest))
            .toDF("table_name", "version", "export_path")
        } else {
          val v = store.exportSnapshot(table, dest, ver)
          Seq((table, v, dest)).toDF("table_name", "version", "export_path")
        }
      case _ => spark.sessionState.sqlParser.parsePlan(sql) match {
        case dml if graft.plans.GraftDml.targetOf(dml).isDefined =>
          executeDml(spark, store, dml, sql)
        case i: InsertIntoStatement => executeInsert(spark, store, i, sql)
        case c: CreateTableAsSelect => executeCtas(spark, store, c, sql)
        case d: DropTable => executeDrop(spark, store, d, sql)
        case a: AddColumns => executeAddColumns(spark, store, a, sql)
        case r: RenameColumn => executeRenameColumn(spark, store, r, sql)
        case d: DropColumns => executeDropColumns(spark, store, d, sql)
        case a: AddCheckConstraint => executeAddCheck(spark, store, a, sql)
        case a: AddConstraint => executeAddConstraint(spark, store, a, sql)
        case d: DropConstraint => executeDropConstraint(spark, store, d, sql)
        case p if p.collectFirst {
          case tvf: UnresolvedTableValuedFunction if isTableChanges(tvf) => tvf
        }.isDefined => executeTableChanges(spark, store, p, sql)
        case p if p.collectFirst { case tt: RelationTimeTravel => tt }.isDefined =>
          executeTimeTravelSelect(spark, store, p, sql)
        case plain =>
          // aggregate SELECTs consult the MV registry first: a FRESH
          // bound view whose definition subsumes the query serves it
          // at O(view) cost instead of a source scan (MvRewrite); any
          // non-match runs the statement directly
          MvRewrite.tryRewrite(spark, store, sql, plain)
            .getOrElse(spark.sql(sql))
      }
    }
  }

  /** `ALTER TABLE t ADD COLUMNS (c TYPE, ...)` — schema evolution as
    * an O(1) commit: one empty, schema-bearing file appends (Spark
    * preserves the schema of an empty write), and the read path's
    * union-by-name fills the new columns with NULL for every earlier
    * file — no data rewrite, the same evolution contract as `append`
    * with a wider batch. Top-level columns only; the store's layout
    * has no column ordering, so positions are rejected. */
  private def executeAddColumns(spark: SparkSession, store: TableStore,
                                a: AddColumns, sqlText: String): DataFrame = {
    import org.apache.spark.sql.types.{StructField, StructType}
    val target = storeTable(store, a.table).getOrElse(return spark.sql(sqlText))
    a.columnsToAdd.foreach { q =>
      require(q.position.isEmpty,
        "FIRST/AFTER positions are not supported on graft tables")
      require(q.nullable,
        s"column ${q.colName}: NOT NULL is unsatisfiable on ADD COLUMNS " +
          "(existing rows backfill with NULL)")
      require(q.default.isEmpty,
        s"column ${q.colName}: DEFAULT is not supported on graft tables " +
          "(existing rows would silently read NULL, not the default)")
    }
    val (nested, top) = a.columnsToAdd.partition(_.path.nonEmpty)
    val fields = top.map(q => StructField(q.colName, q.dataType,
      nullable = true))
    val dupes = fields.groupBy(_.name.toLowerCase).filter(_._2.size > 1).keys
    require(dupes.isEmpty,
      s"duplicate column(s) in ADD COLUMNS: ${dupes.mkString(", ")}")
    val current = store.read(target).schema
    val existing = current.fieldNames.map(_.toLowerCase).toSet
    fields.foreach(f => require(!existing(f.name.toLowerCase),
      s"column ${f.name} already exists in $target"))
    // nested adds (`ALTER TABLE t ADD COLUMNS (props.tag STRING)`):
    // widen the parent STRUCT's type in place — existing rows read the
    // new field as NULL through the same union-by-name the top-level
    // evolution rides (Spark fills missing nested struct fields too)
    def addNested(st: StructType, path: Seq[String],
                  f: StructField): StructType = {
      val idx = st.fields.indexWhere(_.name.equalsIgnoreCase(path.head))
      require(idx >= 0,
        s"no column ${path.head} in $target to nest ${f.name} under")
      val parent = st.fields(idx)
      val widened = parent.dataType match {
        case ps: StructType =>
          if (path.size == 1) {
            require(!ps.fields.exists(_.name.equalsIgnoreCase(f.name)),
              s"field ${parent.name}.${f.name} already exists in $target")
            parent.copy(dataType = StructType(ps.fields :+ f))
          } else parent.copy(dataType = addNested(ps, path.tail, f))
        case other => throw new IllegalArgumentException(
          s"column ${path.head} of $target is ${other.catalogString}, " +
            "not a struct; cannot add a nested field")
      }
      StructType(st.fields.updated(idx, widened))
    }
    val withNested = nested.foldLeft(StructType(current.fields ++ fields)) {
      (st, q) => addNested(st, q.path.toSeq.flatMap(_.name),
        StructField(q.colName, q.dataType, nullable = true))
    }
    // the evolved schema commits through the dedicated metadata path:
    // a 0-row write routed through the partitioned writer would emit
    // no files at all and silently no-op the evolution
    store.evolveSchema(target, withNested)
    store.read(target)
  }

  /** `ALTER TABLE t RENAME COLUMN a TO b` — a pure metadata commit on
    * graft tables ([[TableStore.renameColumn]], Delta name-mapping):
    * old files keep their physical name; the manifest maps the new
    * logical name onto it. Top-level columns only. */
  private def executeRenameColumn(spark: SparkSession, store: TableStore,
                                  r: RenameColumn, sqlText: String): DataFrame = {
    val target = storeTable(store, r.table).getOrElse(return spark.sql(sqlText))
    require(r.column.name.length == 1,
      s"nested column rename ${r.column.name.mkString(".")} is not " +
        "supported on graft tables")
    store.renameColumn(target, r.column.name.head, r.newName)
    store.read(target)
  }

  /** `ALTER TABLE t DROP COLUMN [IF EXISTS] c, ...` — metadata-only
    * ([[TableStore.dropColumn]]): the physical column stays in old
    * files, hidden from every read. Top-level columns only. */
  private def executeDropColumns(spark: SparkSession, store: TableStore,
                                 d: DropColumns, sqlText: String): DataFrame = {
    val target = storeTable(store, d.table).getOrElse(return spark.sql(sqlText))
    d.columnsToDrop.foreach { c =>
      require(c.name.length == 1,
        s"nested column drop ${c.name.mkString(".")} is not supported " +
          "on graft tables")
      val present = store.read(target).columns
        .exists(_.equalsIgnoreCase(c.name.head))
      if (present || !d.ifExists) store.dropColumn(target, c.name.head)
    }
    store.read(target)
  }

  /** `ALTER TABLE t ADD CONSTRAINT name CHECK (expr)` — compiled onto
    * the store's write-time CHECK machinery ([[TableStore.addConstraint]]:
    * existing rows validated by one read job, every later commit
    * validates its batch via `observe`, zero extra passes). Spark
    * parses the CHECK form into its own node whose child wraps the
    * target relation. */
  private def executeAddCheck(spark: SparkSession, store: TableStore,
                              a: AddCheckConstraint, sqlText: String): DataFrame = {
    val target = a.child.collectFirst { case r: UnresolvedRelation => r }
      .flatMap(storeTable(store, _)).getOrElse(return spark.sql(sqlText))
    val c = a.checkConstraint
    // an unnamed CHECK gets a deterministic content-derived name
    val name = Option(c.userProvidedName).getOrElse(
      s"chk_${Integer.toHexString(c.condition.hashCode & 0x7fffffff)}")
    store.addConstraint(target, name, c.condition)
    store.read(target)
  }

  /** `ALTER TABLE t ADD CONSTRAINT name PRIMARY KEY (cols) [RELY]` /
    * `UNIQUE (cols)` / `FOREIGN KEY (cols) REFERENCES r (cols)` —
    * informational RELY constraints ([[TableStore.setKeyConstraint]]/
    * [[TableStore.addForeignKey]]): validated ONCE at declaration,
    * trusted thereafter, and consumed by the MV rewrite's star-view
    * subsumption (a key-preserving dim join may be dropped from a
    * query the view still serves). */
  private def executeAddConstraint(spark: SparkSession, store: TableStore,
                                   a: AddConstraint, sqlText: String): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{ForeignKeyConstraint, PrimaryKeyConstraint, UniqueConstraint}
    val target = storeTable(store, a.table).getOrElse(return spark.sql(sqlText))
    def named(user: String, fallback: String): String =
      Option(user).filter(_.nonEmpty).getOrElse(fallback)
    a.tableConstraint match {
      case pk: PrimaryKeyConstraint =>
        store.setKeyConstraint(target,
          named(pk.userProvidedName, s"${target}_pk"),
          pk.columns, unique = false)
      case uq: UniqueConstraint =>
        store.setKeyConstraint(target,
          named(uq.userProvidedName,
            s"${target}_uq_${uq.columns.mkString("_")}"),
          uq.columns, unique = true)
      case fk: ForeignKeyConstraint =>
        // only a one-part name denotes a store table (see storeName)
        require(fk.parentTableId.size == 1, "a graft FOREIGN KEY references a " +
          s"store table by its bare name, got ${fk.parentTableId.mkString(".")}")
        store.addForeignKey(target,
          named(fk.userProvidedName,
            s"${target}_fk_${fk.childColumns.mkString("_")}"),
          fk.childColumns, fk.parentTableId.head, fk.parentColumns)
      case other => throw new IllegalArgumentException(
        s"graft tables support CHECK, PRIMARY KEY, UNIQUE and FOREIGN " +
          s"KEY constraints, got ${other.getClass.getSimpleName}")
    }
    store.read(target)
  }

  /** `ALTER TABLE t DROP CONSTRAINT [IF EXISTS] name`. */
  private def executeDropConstraint(spark: SparkSession, store: TableStore,
                                    d: DropConstraint, sqlText: String): DataFrame = {
    val target = storeTable(store, d.table).getOrElse(return spark.sql(sqlText))
    val check = store.constraints(target).contains(d.name)
    val rely = store.relyConstraintNames(target).contains(d.name)
    require(check || rely || d.ifExists,
      s"no constraint ${d.name} on $target " +
        s"(have ${(store.constraints(target).keys ++
          store.relyConstraintNames(target)).mkString(", ")})")
    if (check) store.dropConstraint(target, d.name)
    if (rely) store.dropRelyConstraint(target, d.name)
    store.read(target)
  }

  private def isTableChanges(tvf: UnresolvedTableValuedFunction): Boolean =
    tvf.name.last.equalsIgnoreCase("table_changes")

  /** `table_changes('t', fromV [, toV])` anywhere a relation can
    * appear (Delta's CDF TVF): compiles onto [[TableStore.changes]] —
    * O(changed data) over append-only ranges — via the same
    * origin-span splice as time travel, so the feed composes with
    * joins/aggregates, and the rewritten statement re-enters
    * [[execute]] (a query mixing `table_changes` with `VERSION AS OF`
    * resolves both). `toV` defaults to the current version. */
  private def executeTableChanges(spark: SparkSession, store: TableStore,
                                  plan: LogicalPlan, sqlText: String): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val tvfs = plan.collect {
      case tvf: UnresolvedTableValuedFunction if isTableChanges(tvf) => tvf
    }
    val splices = tvfs.map { tvf =>
      def lit(e: org.apache.spark.sql.catalyst.expressions.Expression): String =
        e match {
          case Literal(v, _) if v != null => v.toString
          case other => throw new IllegalArgumentException(
            s"table_changes arguments must be literals, got ${other.sql}")
        }
      val args = tvf.functionArgs.map(lit)
      require(args.size == 2 || args.size == 3,
        "table_changes takes (table, fromVersion [, toVersion])")
      val table = args.head
      require(store.exists(table),
        s"table_changes requires a graft table; $table is not one")
      val fromV = args(1).toLong
      val toV = args.lift(2).map(_.toLong)
        .getOrElse(store.currentVersion(table).get)
      val view = s"${table}__changes_${fromV}_$toV"
      store.changes(table, fromV, toV).createOrReplaceTempView(view)
      val st = tvf.origin.startIndex.getOrElse(
        throw new IllegalStateException("parse origin lost for table_changes"))
      (st, tvf.origin.stopIndex.get, view)
    }
    val rewritten = splices.sortBy(-_._1).foldLeft(sqlText) {
      case (txt, (st, sp, repl)) =>
        txt.substring(0, st) + repl + txt.substring(sp + 1)
    }
    execute(spark, store, rewritten)
  }

  /** `OPTIMIZE t [ZORDER BY (c1, c2, ...)]` — compaction through the
    * SQL front door. Plain OPTIMIZE folds merge-on-read delete debt if
    * any is pending (full fold — reads must stop paying the anti-join)
    * and then bin-packs small files (`compactSmall`: O(small data),
    * large files carry by reference). With ZORDER BY the table rewrites
    * into z-ordered ranges over the named dimensions ([[Layout]]),
    * keeping the current file count — one atomic overwrite commit.
    * Returns a one-row metrics frame. */
  private def executeOptimize(spark: SparkSession, store: TableStore,
                              table: String, zorderBy: Seq[String]): DataFrame = {
    import spark.implicits._
    require(store.exists(table), s"unknown graft table $table")
    // data-file count BEFORE any rewrite: the honest "inputs folded"
    // figure, and the z-order range count (a post-debt-fold manifest
    // would collapse it to ~1, losing the multi-range skipping layout)
    val filesBefore = store.liveDataFiles(table).size
    val debtFolded = store.deleteDebt(table) > 0
    val folded =
      if (zorderBy.nonEmpty) {
        // read() applies pending merge-on-read deletes, so the delete
        // debt folds INSIDE the clustering rewrite itself: one read,
        // one atomic overwrite commit — not a compact commit followed
        // by a cluster commit (two full rewrites, and an intermediate
        // un-clustered layout visible to concurrent readers).
        // Snapshot-checked like every read-then-rewrite; on a lost
        // race this idempotent maintenance RECOMPUTES from the new
        // head instead of surfacing the conflict.
        var attempts = 0
        var done = false
        while (!done) {
          attempts += 1
          val rs = store.currentVersion(table).get
          try {
            store.overwrite(table,
              Layout.cluster(store.readVersion(table, rs), zorderBy,
                math.max(1, filesBefore)),
              preserveLayout = true, readSnapshot = Some(rs),
              op = "OPTIMIZE (zorder)")
            done = true
          } catch { case e: SnapshotConflictException =>
            if (attempts >= 5) throw e }
        }
        filesBefore
      } else if (debtFolded) { store.compact(table); filesBefore }
      else store.compactSmall(table, minBytes = 128L << 20)
    Seq((table, if (zorderBy.nonEmpty) "zorder" else "compact",
      zorderBy.mkString(","), folded, debtFolded))
      .toDF("table", "operation", "zorder_by", "files_folded", "debt_folded")
  }

  /** `VACUUM t [RETAIN n HOURS | RETAIN n VERSIONS]` — snapshot
    * retention through the SQL front door: HOURS keeps every version
    * younger than the horizon (time travel inside it stays valid),
    * VERSIONS keeps the newest n, bare VACUUM keeps only the current
    * version. Returns the surviving version ids. */
  private def executeVacuum(spark: SparkSession, store: TableStore,
                            table: String, n: Option[Long],
                            unit: Option[String]): DataFrame = {
    import spark.implicits._
    require(store.exists(table), s"unknown graft table $table")
    unit match {
      case Some(u) if u.startsWith("HOUR") =>
        // same overflow hazard as the VERSIONS branch: a wrapped ttl
        // goes negative and vacuums ALL history
        require(n.get <= Long.MaxValue / 3600000L,
          s"RETAIN ${n.get} HOURS overflows")
        store.vacuumOlderThan(table, n.get * 3600L * 1000L)
      case Some(_) =>
        // toInt would wrap a huge n negative and delete ALL history —
        // the opposite of "retain everything"
        require(n.get <= Int.MaxValue, s"RETAIN ${n.get} VERSIONS overflows")
        store.vacuum(table, keep = n.get.toInt)
      case None => store.vacuum(table, keep = 1)
    }
    store.versions(table).map(v => (table, v)).toDF("table", "version")
  }

  /** `CREATE TABLE [IF NOT EXISTS] t [PARTITIONED BY (cols)] AS
    * <query>` — S6 through the SQL front door; with INSERT / UPDATE /
    * DELETE / MERGE this makes the whole DDL+DML lifecycle of a store
    * table SQL-drivable. Only identity partition transforms are
    * supported (hive-style layout, what the store writes). A
    * qualified target name delegates to `spark.sql`. */
  private def executeCtas(spark: SparkSession, store: TableStore,
                          c: CreateTableAsSelect, sqlText: String): DataFrame = {
    val target = storeName(c.name).getOrElse(return spark.sql(sqlText))
    if (store.exists(target)) {
      require(c.ignoreIfExists, s"table $target already exists")
      return store.read(target)
    }
    val parts = c.partitioning.map {
      case t if t.name == "identity" && t.references.length == 1 =>
        t.references.head.fieldNames.mkString(".")
      case other => throw new IllegalArgumentException(
        s"only identity PARTITIONED BY columns are supported, got $other")
    }
    val queryText = (for {
      st <- c.query.origin.startIndex
      sp <- c.query.origin.stopIndex
      txt <- c.query.origin.sqlText
    } yield txt.substring(st, sp + 1)).getOrElse(
      throw new IllegalArgumentException(
        "cannot recover the CTAS source query text from the parse"))
    store.create(target, runQuery(spark, store, queryText), partitionBy = parts)
    store.read(target)
  }

  /** `DROP TABLE [IF EXISTS] t` — store tables drop their whole
    * version history; unknown tables delegate to the session catalog
    * (temp views, S9 externals). */
  private def executeDrop(spark: SparkSession, store: TableStore,
                          d: DropTable, sqlText: String): DataFrame = {
    val target = storeTable(store, d.child).getOrElse(return spark.sql(sqlText))
    store.drop(target)
    spark.emptyDataFrame
  }

  /** `INSERT INTO | OVERWRITE [TABLE] t [(cols) | BY NAME]
    * [PARTITION (p = v, ...)] <query>` against a graft-store table —
    * the last DML form, so MERGE / UPDATE / DELETE / INSERT all land
    * on the same atomic commit protocol. A target the store doesn't
    * know delegates untouched to `spark.sql`. The source re-executes
    * from its own source span (the parser records every subtree's
    * text offsets), so any SELECT or VALUES Spark can run is a valid
    * source. Alignment follows SQL rules: positional by default
    * (arity must match), `(cols)` assigns the query's output to the
    * named columns and null-fills the rest, `BY NAME` matches
    * case-insensitively and null-fills absent target columns; every
    * inserted column is cast to the target's type. A PARTITION spec
    * must be static (literal values) and re-enters as literal
    * columns; with OVERWRITE it scopes the commit to the touched
    * partitions — O(touched partitions), not O(table), the shape
    * that lets a daily re-load coexist with a 100 TB table. */
  private def executeInsert(spark: SparkSession, store: TableStore,
                            i: InsertIntoStatement, sqlText: String): DataFrame = {
    val target = storeTable(store, i.table).getOrElse(return spark.sql(sqlText))
    require(!i.ifPartitionNotExists,
      "INSERT ... IF NOT EXISTS is not supported on graft tables")
    val queryText = (for {
      st <- i.query.origin.startIndex
      sp <- i.query.origin.stopIndex
      txt <- i.query.origin.sqlText
    } yield txt.substring(st, sp + 1)).getOrElse(
      throw new IllegalArgumentException(
        "cannot recover the INSERT source query text from the parse"))
    val src = runQuery(spark, store, queryText)

    require(i.partitionSpec.values.forall(_.isDefined),
      "PARTITION values must be literal; a dynamic spec is implicit " +
        "in the row data — omit the clause")
    val partVals = i.partitionSpec.map { case (k, v) => k.toLowerCase -> v.get }
    val destFields = store.read(target).schema.fields.toIndexedSeq
    val insertable = destFields.filterNot(f => partVals.contains(f.name.toLowerCase))

    val aligned: DataFrame =
      if (i.userSpecifiedCols.nonEmpty) {
        val names = i.userSpecifiedCols.map(_.toLowerCase)
        val known = insertable.map(_.name.toLowerCase).toSet
        val unknown = names.filterNot(known)
        require(unknown.isEmpty,
          s"INSERT column(s) not insertable on $target: ${unknown.mkString(", ")}")
        require(names.size == src.columns.length,
          s"INSERT names ${names.size} columns but the query produces " +
            s"${src.columns.length}")
        val posOf = names.zipWithIndex.toMap
        src.select(insertable.map { f =>
          posOf.get(f.name.toLowerCase)
            .map(ix => col(src.columns(ix)).cast(f.dataType))
            .getOrElse(lit(null).cast(f.dataType)).as(f.name)
        }: _*)
      } else if (i.byName) {
        val srcByLower = src.columns.map(c => c.toLowerCase -> c).toMap
        val known = insertable.map(_.name.toLowerCase).toSet
        val extra = src.columns.filterNot(c => known.contains(c.toLowerCase))
        require(extra.isEmpty,
          s"BY NAME source column(s) not in $target: ${extra.mkString(", ")}")
        src.select(insertable.map { f =>
          srcByLower.get(f.name.toLowerCase)
            .map(c => col(c).cast(f.dataType))
            .getOrElse(lit(null).cast(f.dataType)).as(f.name)
        }: _*)
      } else {
        require(src.columns.length == insertable.length,
          s"INSERT query produces ${src.columns.length} columns; $target " +
            s"expects ${insertable.length}")
        src.select(src.columns.toIndexedSeq.zip(insertable).map {
          case (c, f) => col(c).cast(f.dataType).as(f.name)
        }: _*)
      }

    val withParts = destFields.foldLeft(aligned) { (df, f) =>
      partVals.get(f.name.toLowerCase)
        .map(v => df.withColumn(f.name, lit(v).cast(f.dataType)))
        .getOrElse(df)
    }.select(destFields.map(f => col(f.name)): _*)

    if (!i.overwrite) store.append(target, withParts)
    else if (partVals.nonEmpty) {
      val parts = store.partitioning(target)
      require(parts.nonEmpty && parts.forall(p => partVals.contains(p.toLowerCase)),
        s"partition-scoped OVERWRITE on $target needs the full partition " +
          s"spec (${parts.mkString(", ")})")
      // Spark's own hive-path escaping, so the declared dir matches
      // the partitioned writer's rendering for special characters
      val touched = parts.map(p => s"$p=" +
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .escapePathName(partVals(p.toLowerCase).toString)).mkString("/")
      store.overwritePartitions(target, withParts, Seq(touched))
    } else store.overwrite(target, withParts)
    store.read(target)
  }

  import org.apache.spark.sql.types.StructType

  private def fieldNamesOf(st: StructType): Seq[String] = st.fields
    .toIndexedSeq.map(f => f.name.toLowerCase + ":" + (f.dataType match {
      case n: StructType => "{" + fieldNamesOf(n).mkString(",") + "}"
      case other => other.catalogString
    }))

  /** Merge two struct types field-by-NAME (case-insensitive),
    * recursing into fields both sides carry as structs; fields unique
    * to either side append in (target ++ source) declaration order,
    * nullable (existing rows backfill NULL). Non-struct field types
    * keep the TARGET's type — widening primitives is not evolution,
    * it's a conflict the write-side validation surfaces. */
  private def mergedStruct(t: StructType, s: StructType): StructType = {
    val sByName = s.fields.map(f => f.name.toLowerCase -> f).toMap
    val tNames = t.fields.map(_.name.toLowerCase).toSet
    StructType(t.fields.map { tf =>
      sByName.get(tf.name.toLowerCase) match {
        case Some(sf) => (tf.dataType, sf.dataType) match {
          case (ts: StructType, ss: StructType) =>
            tf.copy(dataType = mergedStruct(ts, ss))
          case _ => tf
        }
        case None => tf
      }
    } ++ s.fields.filterNot(f => tNames.contains(f.name.toLowerCase))
      .map(_.copy(nullable = true)))
  }

  /** Rebuild struct column `c` (typed `from`) as the wider struct
    * `to`: common fields carry by NAME (recursing into nested
    * structs), missing fields become typed NULLs, and a NULL struct
    * stays NULL (a positional struct cast would scramble fields). */
  private def widenStructTo(c: Column, from: StructType,
                            to: StructType): Column = {
    val fByName = from.fields.map(f => f.name.toLowerCase -> f).toMap
    val rebuilt = struct(to.fields.toIndexedSeq.map { f =>
      (fByName.get(f.name.toLowerCase), f.dataType) match {
        case (Some(ff), toSt: StructType)
            if ff.dataType.isInstanceOf[StructType] =>
          widenStructTo(c.getField(ff.name),
            ff.dataType.asInstanceOf[StructType], toSt).as(f.name)
        case (Some(ff), _) => c.getField(ff.name).as(f.name)
        case (None, dt) => lit(null).cast(dt).as(f.name)
      }
    }: _*)
    when(c.isNull, lit(null).cast(to)).otherwise(rebuilt)
  }

  /** `MERGE INTO` / `UPDATE ... SET` / `DELETE FROM` on a store table:
    * the statement's target relation is bound to the pinned read of
    * the table, Spark's analyzer resolves the statement, and the one
    * row-level compiler ([[graft.plans.GraftDml]]) commits it against
    * the pinned version. A MERGE is first widened for schema
    * evolution ([[evolveMerge]]). A target the store doesn't know
    * delegates to `spark.sql`. Returns the table after the commit. */
  private def executeDml(spark: SparkSession, store: TableStore,
                         stmt: LogicalPlan, sqlText: String): DataFrame = {
    val targetRel = graft.plans.GraftDml.targetOf(stmt).get
    val target = storeTable(store, targetRel).getOrElse(return spark.sql(sqlText))
    val rs = store.currentVersion(target).get
    val pinned = store.readVersion(target, rs)
    def bind(df: DataFrame): LogicalPlan = targetRel.transform {
      case _: UnresolvedRelation =>
        SubqueryAlias(target, df.queryExecution.analyzed)
    }
    val bound = stmt match {
      case m: MergeIntoTable => evolveMerge(spark, m, target, pinned, bind)
      case u: UpdateTable => u.copy(table = bind(pinned))
      case d: DeleteFromTable => d.copy(table = bind(pinned))
    }
    val analyzed = spark.sessionState.analyzer
      .executeAndCheck(bound, new QueryPlanningTracker)
    graft.plans.GraftDml.execute(spark, store, target, rs, analyzed)
    store.read(target)
  }

  /** MERGE schema evolution (Delta autoMerge semantics, matching the
    * reference's evolved-source reality — mergeSchema'd dynamic frames
    * feeding merge_sql_stmnt, icberg/iceberg_tables.py:23,45-50): when
    * a star action (INSERT * / UPDATE SET *) pulls the source schema
    * in and the source carries columns the target lacks, the target
    * is widened with typed NULLs up front, so every leg sees the
    * evolved schema — updated and inserted rows take the source
    * value, carried rows NULL — and the widened schema lands in the
    * SAME atomic commit. Explicit assignments to unknown columns stay
    * analysis errors. Disable with spark.graft.merge.schemaEvolution=
    * false (then an evolved source is a loud error, never a silent
    * half-evolution). Dropped-name resurrection and physical-name
    * collisions under column mapping are rejected by the commit's own
    * applyWrite validation. Returns `m` with its target bound to the
    * (widened) pinned read. */
  private def evolveMerge(spark: SparkSession, m: MergeIntoTable,
                          target: String, pinned: DataFrame,
                          bind: DataFrame => LogicalPlan): MergeIntoTable = {
    val starPulls = m.matchedActions.exists(_.isInstanceOf[UpdateStarAction]) ||
      m.notMatchedActions.exists(_.isInstanceOf[InsertStarAction])
    if (!starPulls) return m.copy(targetTable = bind(pinned))
    val updates = org.apache.spark.sql.graft.ColumnBridge
      .ofRows(spark, m.sourceTable)
    val destLower = pinned.columns.map(_.toLowerCase).toSet
    val srcExtra = updates.schema.fields.toIndexedSeq
      .filterNot(f => destLower.contains(f.name.toLowerCase))
    val evolveOn = spark.conf
      .get("spark.graft.merge.schemaEvolution", "true").toBoolean
    require(srcExtra.isEmpty || evolveOn,
      s"MERGE source carries column(s) ${srcExtra.map(_.name).mkString(", ")} " +
        s"absent from $target and spark.graft.merge.schemaEvolution is false")
    val destPre = srcExtra.foldLeft(pinned)((d, f) =>
      d.withColumn(f.name, lit(null).cast(f.dataType)))
    // NESTED evolution, the same autoMerge contract one level down
    // (the events.props / semi-structured direction): for columns BOTH
    // sides carry as structs with differing field sets, widen each leg
    // to the merged struct — existing fields carry, missing fields are
    // typed NULLs, recursing through nested structs — so the join, the
    // SET * assignment, and the final commit all see one evolved
    // struct type. Struct casts match by POSITION in Spark, so the
    // rebuild is by NAME ([[widenStructTo]]), never a cast.
    val structWide: Seq[(String, StructType, StructType, StructType)] =
      destPre.schema.fields.toIndexedSeq.flatMap { tf =>
        updates.schema.fields.find(_.name.equalsIgnoreCase(tf.name))
          .flatMap { sf =>
            (tf.dataType, sf.dataType) match {
              case (ts: StructType, ss: StructType) =>
                val m2 = mergedStruct(ts, ss)
                if (fieldNamesOf(m2) == fieldNamesOf(ts) &&
                    fieldNamesOf(m2) == fieldNamesOf(ss)) None
                else Some((tf.name, ts, ss, m2))
              case _ => None
            }
          }
      }
    require(structWide.isEmpty || evolveOn,
      s"MERGE struct column(s) ${structWide.map(_._1).mkString(", ")} " +
        s"differ in fields between source and $target and " +
        "spark.graft.merge.schemaEvolution is false")
    val dest = structWide.foldLeft(destPre) { case (d, (n, ts, _, m2)) =>
      d.withColumn(n, widenStructTo(col(n), ts, m2))
    }
    val widened = structWide.filterNot { case (_, _, ss, m2) =>
      fieldNamesOf(ss) == fieldNamesOf(m2) }
    // a rebuilt source keeps the name its columns are qualified by
    val source =
      if (widened.isEmpty) m.sourceTable
      else {
        val plan = widened.foldLeft(updates) { case (d, (n, _, ss, m2)) =>
          d.withColumn(n, widenStructTo(col(n), ss, m2))
        }.queryExecution.analyzed
        m.sourceTable match {
          case SubqueryAlias(id, _) => SubqueryAlias(id, plan)
          case r: UnresolvedRelation =>
            SubqueryAlias(r.multipartIdentifier.last, plan)
          case _ => plan
        }
      }
    m.copy(targetTable = bind(dest), sourceTable = source)
  }

  /** Read-side time travel: `SELECT ... FROM t VERSION AS OF n` /
    * `TIMESTAMP AS OF <expr>` anywhere a relation can appear —
    * including the same table at TWO versions in one statement (the
    * version-over-version diff that makes time travel useful). Spark
    * parses the clause into [[RelationTimeTravel]] but no session-
    * catalog source can execute it, so each node compiles onto the
    * store: resolve the version (explicit, or `versionAsOf` on the
    * manifest's commit-time header), register the pinned snapshot as
    * a temp view, and splice the view name over the statement's own
    * source span (the parser records every subtree's text offsets —
    * no regex dialect). The spliced span runs from the relation
    * child's start through the temporal clause's end, covering
    * exactly `t VERSION AS OF n`; a trailing alias sits outside it
    * and survives verbatim.
    * Reading a vacuumed / never-committed version fails loudly in
    * `readVersion`; an unparsable timestamp fails in the cast.
    * Metadata-only until the final `spark.sql` runs: pinning a
    * snapshot is O(manifest), never a data copy. */
  private def executeTimeTravelSelect(spark: SparkSession, store: TableStore,
                                      plan: LogicalPlan, sqlText: String): DataFrame =
    spark.sql(rewriteTimeTravel(spark, store, plan, sqlText))

  /** Run a source query (INSERT / CTAS body) that may itself use
    * `VERSION AS OF` / `TIMESTAMP AS OF` — plain `spark.sql` would
    * reject time travel on a temp view, making snapshots unreadable
    * exactly where they matter most (re-loading a target from a pinned
    * source version). Text offsets from this fresh parse are relative
    * to `queryText` itself, so the splice stays aligned. */
  private def runQuery(spark: SparkSession, store: TableStore,
                       queryText: String): DataFrame = {
    val plan = spark.sessionState.sqlParser.parsePlan(queryText)
    if (plan.collectFirst { case tt: RelationTimeTravel => tt }.isDefined)
      spark.sql(rewriteTimeTravel(spark, store, plan, queryText))
    else spark.sql(queryText)
  }

  private def rewriteTimeTravel(spark: SparkSession, store: TableStore,
                                plan: LogicalPlan, sqlText: String): String = {
    val tts = plan.collect { case tt: RelationTimeTravel => tt }
    val splices = tts.map { tt =>
      val table = storeTable(store, tt.relation).getOrElse(
        throw new IllegalArgumentException("time travel requires a graft " +
          s"table; ${nameParts(tt.relation).mkString(".")} is not one"))
      val v = tt.version match {
        case Some(vs) =>
          require(vs.forall(_.isDigit), s"VERSION AS OF must be a " +
            s"non-negative integer on graft tables, got '$vs'")
          vs.toLong
        case None =>
          val tsMs = evalTimestampMs(spark, tt.timestamp.get.sql)
          store.versionAsOf(table, tsMs).getOrElse(
            throw new IllegalArgumentException(
              s"no retained version of $table committed at or before " +
                tt.timestamp.get.sql))
      }
      val view = s"${table}__asof_v$v"
      store.readVersion(table, v).createOrReplaceTempView(view)
      // the node's own origin is the temporal CLAUSE; the relation
      // child's is the table name — the union is `t VERSION AS OF n`
      val spans = Seq(tt.origin, tt.relation.origin).map { o =>
        (o.startIndex.getOrElse(throw new IllegalStateException(
          "parse origin lost for time travel")), o.stopIndex.get)
      }
      val (st, sp) = (spans.map(_._1).min, spans.map(_._2).max)
      val span = sqlText.substring(st, sp + 1)
      require(!span.toUpperCase.contains("TABLESAMPLE"),
        "TABLESAMPLE combined with time travel is not supported")
      (st, sp, view)
    }
    // splice back-to-front so earlier offsets stay valid
    splices.sortBy(-_._1).foldLeft(sqlText) {
      case (txt, (st, sp, repl)) =>
        txt.substring(0, st) + repl + txt.substring(sp + 1)
    }
  }

  /** Evaluate a TIMESTAMP AS OF operand — any expression Spark can
    * cast to a timestamp — under the SESSION timezone, to epoch ms.
    * `try_cast` keeps the failure OURS: under ANSI a plain cast would
    * throw Spark's datetime error without naming the statement. */
  private def evalTimestampMs(spark: SparkSession, sqlExprText: String): Long = {
    import org.apache.spark.sql.functions.{expr, unix_millis}
    val row = spark.range(1)
      .select(unix_millis(expr(s"try_cast(($sqlExprText) AS TIMESTAMP)"))).head
    require(!row.isNullAt(0), s"cannot interpret $sqlExprText as a " +
      s"timestamp (session zone ${spark.conf.get("spark.sql.session.timeZone")})")
    row.getLong(0)
  }

  /** Parse a timestamp literal the way the SQL session would —
    * `to_timestamp` under `spark.sql.session.timeZone` — NOT
    * `java.sql.Timestamp.valueOf`, which silently reads the string in
    * the JVM default zone and resolves TIMESTAMP AS OF to the wrong
    * version whenever the two differ. Driver-only (a 1-row local
    * relation, no job). The RESTORE regex admits no quote characters
    * in the literal, so re-quoting is safe. */
  private[graft] def sessionTimestampMs(spark: SparkSession, ts: String): Long =
    evalTimestampMs(spark, s"'$ts'")

  /** The name a statement's target relation is written with. Anything
    * beyond a bare (optionally aliased) name — a subquery, a filter, a
    * join — is rejected loudly, never compiled from the name alone. */
  private def nameParts(plan: LogicalPlan): Seq[String] = plan match {
    case r: UnresolvedRelation => r.multipartIdentifier
    case SubqueryAlias(_, r: UnresolvedRelation) => r.multipartIdentifier
    case t: UnresolvedTable => t.multipartIdentifier
    case UnresolvedIdentifier(parts, _) => parts
    case other => throw new IllegalArgumentException(
      s"graft statements require a bare table name here (got " +
        s"${other.getClass.getSimpleName})")
  }

  /** The store table name `plan` is written with: only a one-part name
    * denotes one. A qualified name (`cat.db.t`) answers None whatever
    * its last part, so the caller delegates the statement to
    * `spark.sql` and never touches the store's own `t`. */
  private def storeName(plan: LogicalPlan): Option[String] =
    Some(nameParts(plan)).collect { case Seq(name) => name }

  /** [[storeName]], when the store holds that table; None sends the
    * statement to `spark.sql`, as for any table the store doesn't know. */
  private def storeTable(store: TableStore, plan: LogicalPlan): Option[String] =
    storeName(plan).filter(store.exists)
}
