package graft.sources

import java.util
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.connector.catalog.{Identifier, ProcedureCatalog, SupportsRead, SupportsWrite, Table, TableCapability, TableCatalog, TableChange, TableProvider}
import org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.execution.streaming.{Sink, Source}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{BaseRelation, DataSourceRegister, Filter, InsertableRelation, StreamSinkProvider, StreamSourceProvider, TableScan}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.lake.TableStore

/** Native Spark read/write path for graft store tables — the
  * DataSource V2 connector that makes a table readable WITHOUT the
  * graft API or the GraftSql front door, the way the reference's
  * Athena DDL makes its Delta output readable by other engines
  * (delta/delta_tables.py:41-72):
  *
  * {{{
  *   spark.read.format("graft").option("root", r).option("table", t)
  *   spark.read.format("graft").load(s"$root/$table")         // path form
  *   spark.conf.set("spark.sql.catalog.g", classOf[GraftCatalog].getName)
  *   spark.conf.set("spark.sql.catalog.g.root", root)
  *   spark.sql("SELECT ... FROM g.t")                          // catalog form
  *   spark.sql("SELECT ... FROM g.t VERSION AS OF 3")          // time travel
  * }}}
  *
  * The scan resolves the manifest exactly like [[TableStore.read]] —
  * merge-on-read equality deletes and deletion vectors applied,
  * column mapping resolved, stats/bloom sidecar file skipping driven
  * by the PUSHED filters — because it delegates to the store's read
  * and lets Catalyst push the scan-time work down. The DSv2 surface
  * is [[V1Scan]]: pushdown negotiates at the ScanBuilder (columns
  * prune, filters reach the sidecar pruning), execution hands Spark
  * the store-composed plan's rows directly (no row-by-row
  * re-conversion: `needConversion=false` passes InternalRows
  * through). A full custom `Batch`/`PartitionReader` would
  * re-implement the parquet reader the store plan already drives
  * through whole-stage codegen — strictly slower, same semantics.
  *
  * Writes: `INSERT INTO g.t` / `df.writeTo("g.t").append()` and
  * truncate-overwrites land as the store's own atomic commits
  * ([[V1Write]] → [[TableStore.append]]/[[TableStore.overwrite]]),
  * so every writer — front door, API, or vanilla Spark SQL —
  * serializes through the same claim protocol.
  *
  * Scale: identical to the store read path — O(1) current-version
  * resolution, manifest-driven planning, partition pruning via the
  * hive dirs, pushed-filter stats/bloom skipping before any footer
  * opens. The connector adds no per-row or per-file driver state.
  */
class GraftDataSource extends TableProvider with DataSourceRegister
    with StreamSourceProvider with StreamSinkProvider {

  override def shortName(): String = "graft"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftDataSource.resolve(options.asScala.toMap).schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    GraftDataSource.resolve(properties.asScala.toMap)

  /** `spark.readStream.format("graft")` — [[GraftStreamSource]]:
    * offsets = store versions, initial snapshot then per-commit
    * appends. The schema pins at stream start. */
  override def sourceSchema(ctx: SQLContext, schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String])
      : (String, StructType) = {
    // construct the source so the declared schema can never diverge
    // from the served one (readChangeFeed adds the CDF columns)
    val served =
      createSource(ctx, metadataPath = "", schema, providerName, parameters)
        .schema
    // the readStream.table() fallback route passes the catalog
    // table's schema through — accept it when it matches what the
    // source serves (modulo the CDF columns it appends); refuse a
    // genuinely different user schema instead of silently ignoring it
    schema.foreach(s => require(
      s == served || served.fields.take(s.length).sameElements(s.fields),
      "a graft stream serves the table's own schema — drop .schema(...)"))
    (shortName(), served)
  }

  override def createSource(ctx: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): Source = {
    val (root, table) = GraftDataSource.rootTableOf(parameters)
    val spark = ctx.sparkSession
    new GraftStreamSource(spark, new TableStore(spark, root), table,
      parameters)
  }

  /** `df.writeStream.format("graft")` — [[GraftStreamSink]]: one
    * atomic, batch-id-idempotent store commit per micro-batch. The
    * sink table must exist (its schema and partitioning are the
    * contract); the txn app id defaults to the checkpoint location,
    * the stable-across-restarts identity of the query. */
  override def createSink(ctx: SQLContext, parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: OutputMode): Sink = {
    val (root, table) = GraftDataSource.rootTableOf(parameters)
    require(partitionColumns.isEmpty,
      "partitioning comes from the existing sink table, not partitionBy")
    require(outputMode == OutputMode.Append() ||
        outputMode == OutputMode.Complete(),
      s"graft sink supports Append and Complete, not $outputMode")
    val ci = parameters.map { case (k, v) => k.toLowerCase -> v }
    // ':' delimits the store's txn header — strip it from derived ids
    val appId = ci.get("txnappid").orElse(
      ci.get("checkpointlocation").map(p =>
        "graft-sink@" + p.replace(":", "_"))).getOrElse(
      throw new IllegalArgumentException(
        "graft sink needs checkpointLocation (or an explicit txnAppId) " +
          "to key its exactly-once batch watermarks"))
    new GraftStreamSink(root, table, appId, outputMode)
  }
}

object GraftDataSource {
  /** `root` + `table` options, or `path` = `<root>/<table>` (the
    * `.load(path)` form). */
  private[sources] def rootTableOf(opts: Map[String, String])
      : (String, String) = {
    val ci = opts.map { case (k, v) => k.toLowerCase -> v }
    (ci.get("root"), ci.get("table")) match {
      case (Some(r), Some(t)) => (r, t)
      case _ =>
        val path = ci.getOrElse("path",
          throw new IllegalArgumentException(
            "graft reads need options root+table, or a path of the " +
              "form <storeRoot>/<table>"))
        val norm = path.stripSuffix("/")
        val i = norm.lastIndexOf('/')
        require(i > 0, s"cannot split '$path' into <storeRoot>/<table>")
        (norm.substring(0, i), norm.substring(i + 1))
    }
  }

  /** Resolve (store, table, pinned version) from reader options:
    * either `root` + `table`, or `path` = `<root>/<table>` (the
    * `.load(path)` form). `versionAsOf` / `timestampAsOf` pin a
    * retained version (time travel). */
  private[sources] def resolve(opts: Map[String, String]): GraftTable = {
    val ci = opts.map { case (k, v) => k.toLowerCase -> v }
    val (root, table) = rootTableOf(opts)
    val spark = SparkSession.active
    val store = new TableStore(spark, root)
    if (!store.exists(table))
      throw new NoSuchTableException(Seq(table))
    val isMv = GraftTable.isMaterializedView(store, table)
    val pinned = (ci.get("versionasof"), ci.get("timestampasof")) match {
      case (Some(vs), _) => Some(vs.trim.toLong)
      case (None, Some(ts)) =>
        val tsMs = graft.lake.GraftSql.sessionTimestampMs(spark, ts.trim)
        Some(store.versionAsOf(table, tsMs).getOrElse(
          throw new IllegalArgumentException(
            s"no retained version of $table committed at or before $ts")))
      case _ => None
    }
    if (isMv && pinned.isDefined)
      throw new IllegalArgumentException(
        s"$table is a materialized view — it serves its CURRENT " +
          "consolidated state; time travel over the stored partials is " +
          "not meaningful (time-travel the SOURCE table instead)")
    new GraftTable(store, table,
      pinned.getOrElse(store.currentVersion(table).get), isMv)
  }
}

/** Post-pruning scan-shape observability for specs: the number of
  * data files the last DSv2 graft scan planned AFTER manifest-level
  * stats/bloom skipping (the count a pushed filter must shrink). */
object GraftScanMetrics {
  val lastScanFiles = new AtomicLong(-1L)
}

/** One graft store table pinned to a version — pinning at load time
  * gives every statement a consistent snapshot (a concurrent commit
  * never tears one query's scans apart). A MATERIALIZED VIEW
  * (`isMv`) serves its CONSOLIDATED rows — the stored signed
  * partials are an implementation detail a vanilla reader must never
  * see, and writes are refused outright (an appended raw row would
  * corrupt the partial algebra). */
final class GraftTable(store: TableStore, table: String, version: Long,
                       isMv: Boolean = false)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.TruncatableTable
    with org.apache.spark.sql.graft.V1FallbackBridge {

  /** `TRUNCATE TABLE gq.t`: one atomic empty-overwrite commit —
    * history (and time travel to the pre-truncate state) retained,
    * same as the front door's DELETE-all. */
  override def truncateTable(): Boolean = {
    if (isMv || GraftTable.isLiveCompanion(store, table))
      throw new UnsupportedOperationException(
        s"$table belongs to a materialized view — TRUNCATE would " +
          "corrupt the partial algebra")
    store.overwrite(table, store.read(table).limit(0), op = "TRUNCATE")
    true
  }

  /** `spark.readStream.table("gq.t")`: the analyzer resolves a
    * streaming catalog relation through this V1 fallback (the same
    * hook Delta uses) — the fabricated CatalogTable routes back to
    * the `graft` provider's [[GraftStreamSource]] with root+table as
    * options, so catalog-addressed and format-addressed streams are
    * the one code path. Reader options (startingVersion,
    * readChangeFeed, ...) merge in from `.option(...)`. */
  override def v1Table: org.apache.spark.sql.catalyst.catalog.CatalogTable = {
    import org.apache.spark.sql.catalyst.TableIdentifier
    import org.apache.spark.sql.catalyst.catalog.{CatalogStorageFormat, CatalogTable, CatalogTableType}
    CatalogTable(
      identifier = TableIdentifier(table, Some("graft")),
      tableType = CatalogTableType.EXTERNAL,
      storage = CatalogStorageFormat.empty.copy(
        properties = Map("root" -> store.rootPath, "table" -> table)),
      schema = schema,
      provider = Some("graft"))
  }

  /** Exposed for the row-level DML extension ([[graft.plans.GraftDml]])
    * — the command executes against the SAME pinned version the
    * analyzed relation reads, and commits through the same store. */
  private[graft] def graftStore: TableStore = store
  private[graft] def pinnedVersion: Long = version
  private[graft] def isMaterialized: Boolean = isMv

  override def name(): String = table

  override lazy val schema: StructType =
    if (isMv) graft.lake.MaterializedView.readAt(store, table, version).schema
    else store.readVersion(table, version).schema

  override def partitioning(): Array[Transform] =
    if (isMv) Array.empty
    else store.partitioning(table).map(Expressions.identity).toArray

  override def properties(): util.Map[String, String] =
    Map("provider" -> "graft", "version" -> version.toString,
      "type" -> (if (isMv) "materialized-view" else "table")).asJava

  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.V1_BATCH_WRITE).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(store, table, version, schema, isMv)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    if (isMv) throw new UnsupportedOperationException(
      s"$table is a materialized view — it is maintained from its " +
        "source's change feed (REFRESH MATERIALIZED VIEW), never " +
        "written directly")
    // a live view's `__def` companion is the view's definition row —
    // a vanilla INSERT/TRUNCATE into it would corrupt the definition
    // (the next loadDef expects exactly 1 row) and brick the view
    if (GraftTable.isLiveCompanion(store, table))
      throw new UnsupportedOperationException(
        s"$table is the definition companion of materialized view " +
          s"'${table.stripSuffix("__def")}' — it is engine-managed " +
          "and cannot be written directly")
    new GraftWriteBuilder(store, table, truncate = false)
  }
}

object GraftTable {
  /** A store table is a materialized view iff its `__def` companion
    * exists (the same registry rule GraftSql and SHOW MATERIALIZED
    * VIEWS use). The companion itself reads as a plain table. */
  private[graft] def isMaterializedView(store: TableStore,
                                          table: String): Boolean =
    !table.endsWith("__def") && store.exists(table + "__def")

  /** `<mv>__def` companion of a LIVE view (both tables exist) — an
    * engine-managed definition row vanilla writers/droppers must not
    * touch in isolation. An ORPHAN def (view table absent) is not
    * live: it is invisible residue a re-create may replace. */
  private[graft] def isLiveCompanion(store: TableStore,
                                       table: String): Boolean =
    table.endsWith("__def") &&
      store.exists(table.stripSuffix("__def"))
}

/** Pushdown negotiation: Spark prunes columns and offers filters;
  * both are REMEMBERED and applied to the store-composed plan inside
  * the scan, where Catalyst pushes them to the parquet scans and the
  * manifest-level stats/bloom skipping. Every filter is returned as
  * needing re-evaluation (Spark keeps its own Filter on top), so the
  * result can never depend on this builder's translation fidelity —
  * the connector's pruning is an optimization, exactly like the
  * store's own. */
final class GraftScanBuilder(store: TableStore, table: String, version: Long,
                             tableSchema: StructType, isMv: Boolean = false)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private var required: StructType = tableSchema
  private var pushed: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(GraftFilters.toColumn(_).isDefined)
    filters // all re-evaluated by Spark on top — translation-safe
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new GraftScan(store, table, version, required, pushed, isMv)
}

/** The scan: a [[V1Scan]] whose relation executes the store-composed
  * plan (manifest resolution, MoR anti-joins, column mapping, sidecar
  * skipping) and hands its InternalRows to Spark unconverted. */
final class GraftScan(store: TableStore, table: String, version: Long,
                      required: StructType, pushed: Array[Filter],
                      isMv: Boolean = false)
    extends Scan with V1Scan {

  override def readSchema(): StructType = required

  override def description(): String =
    s"graft:$table@v$version pushed=[${pushed.mkString(", ")}]"

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T =
    new GraftRelation(context, store, table, version, required, pushed, isMv)
      .asInstanceOf[T]
}

private final class GraftRelation(context: SQLContext, store: TableStore,
                                  table: String, version: Long,
                                  required: StructType,
                                  pushed: Array[Filter],
                                  isMv: Boolean)
    extends BaseRelation with TableScan {

  override def sqlContext: SQLContext = context
  override def schema: StructType = required
  // rows below are the inner plan's InternalRows, passed through
  override def needConversion: Boolean = false

  override def buildScan(): RDD[Row] = {
    // a materialized view serves its consolidated rows (Catalyst
    // pushes group-column predicates below the consolidation groupBy
    // on its own) — pinned to the load-time version like a plain
    // table, so a refresh landing mid-statement can't tear one
    // query's scans across two view states
    val base =
      if (isMv) graft.lake.MaterializedView.readAt(store, table, version)
      else store.readVersion(table, version)
    // pushed filters re-apply on the inner plan — THIS is what drives
    // parquet predicate pushdown and the manifest-level stats/bloom
    // file skipping for the DSv2 path (Spark's own copy of the filter
    // sits above the V1 scan and re-evaluates regardless)
    val filtered = pushed.flatMap(GraftFilters.toColumn)
      .foldLeft(base)(_ where _)
    val pruned = filtered.select(
      required.fieldNames.map(GraftFilters.qcol).toSeq: _*)
    val qe = pruned.queryExecution
    val rdd = qe.toRdd
    GraftScanMetrics.lastScanFiles.set(GraftFilters.plannedFiles(qe))
    rdd.asInstanceOf[RDD[Row]]
  }
}

private[sources] object GraftFilters {
  /** Column ref tolerant of names needing quoting. */
  def qcol(n: String): Column = col("`" + n.replace("`", "``") + "`")

  /** Best-effort `sources.Filter` → `Column`. None = untranslated
    * (Spark re-evaluates it above the scan either way). */
  def toColumn(f: Filter): Option[Column] = f match {
    case sources.EqualTo(a, v) => Some(qcol(a) === lit(v))
    case sources.EqualNullSafe(a, v) => Some(qcol(a) <=> lit(v))
    case sources.GreaterThan(a, v) => Some(qcol(a) > lit(v))
    case sources.GreaterThanOrEqual(a, v) => Some(qcol(a) >= lit(v))
    case sources.LessThan(a, v) => Some(qcol(a) < lit(v))
    case sources.LessThanOrEqual(a, v) => Some(qcol(a) <= lit(v))
    case sources.In(a, vs) => Some(qcol(a).isin(vs.toIndexedSeq: _*))
    case sources.IsNull(a) => Some(qcol(a).isNull)
    case sources.IsNotNull(a) => Some(qcol(a).isNotNull)
    case sources.StringStartsWith(a, v) => Some(qcol(a).startsWith(v))
    case sources.StringEndsWith(a, v) => Some(qcol(a).endsWith(v))
    case sources.StringContains(a, v) => Some(qcol(a).contains(v))
    case sources.And(l, r) =>
      for (lc <- toColumn(l); rc <- toColumn(r)) yield lc && rc
    case sources.Or(l, r) =>
      for (lc <- toColumn(l); rc <- toColumn(r)) yield lc || rc
    case sources.Not(c) => toColumn(c).map(!_)
    case _ => None
  }

  /** Post-pruning file count of every file-source scan in the plan —
    * the manifest-level skipping evidence. Driver-side listing only
    * (the StatsFileIndex applies its sidecar rejects in listFiles),
    * and CHEAP on repeat: the leaf-file listing is memoized in the
    * underlying InMemoryFileIndex and the sidecar verdicts in the
    * store's per-(version, filters) reject cache, so this sweep does
    * not re-read the sidecar execution already folded. */
  def plannedFiles(qe: org.apache.spark.sql.execution.QueryExecution): Long = {
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Seq[Long] =
      p.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          Seq(s.relation.location
            .listFiles(s.partitionFilters, s.dataFilters)
            .map(_.files.size.toLong).sum)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          walk(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          walk(q.plan)
      }.flatten
    walk(qe.executedPlan).sum
  }
}

/** INSERT INTO / writeTo().append() / truncate- and
  * partition-overwrite as store commits — the write half of the
  * vanilla-Spark surface. `INSERT OVERWRITE gq.t PARTITION (p = v)`
  * arrives as an overwrite-by-filter (one EqualTo per partition
  * column); a FULL static spec maps onto the store's
  * O(touched-partitions) [[TableStore.overwritePartitions]] commit —
  * untouched partitions carry by reference, never rewritten. A
  * filterless overwrite (or AlwaysTrue) is the whole-table truncate
  * commit. Anything else (partial specs, non-partition columns,
  * non-equality predicates) refuses loudly via canOverwrite. */
private final class GraftWriteBuilder(store: TableStore, table: String,
                                      truncate: Boolean,
                                      overwriteFilters: Option[Array[Filter]] = None)
    extends WriteBuilder with SupportsTruncate
    with org.apache.spark.sql.connector.write.SupportsOverwrite {

  override def truncate(): WriteBuilder =
    new GraftWriteBuilder(store, table, truncate = true)

  /** The hive partition dirs a full-spec equality filter set pins, in
    * LAYOUT order — None when the filters are not a full static
    * partition spec. */
  private def touchedOf(filters: Array[Filter]): Option[String] = {
    val parts = store.partitioning(table)
    if (parts.isEmpty) return None
    val eqs = filters.toSeq.map {
      case sources.EqualTo(a, v) => Some(a.toLowerCase -> v)
      case sources.EqualNullSafe(a, v) => Some(a.toLowerCase -> v)
      case _ => None
    }
    if (eqs.exists(_.isEmpty)) return None
    val byCol = eqs.flatten.toMap
    if (byCol.size != eqs.size) return None // duplicate column
    if (!parts.map(_.toLowerCase).toSet.equals(byCol.keySet)) return None
    // values render with Spark's OWN hive-path escaping so the
    // declared dirs match what the partitioned writer produces
    // (special characters like ':' '=' '%' are percent-escaped in
    // the dir name — a raw rendering would make requireWithin reject
    // every file of a legal statement)
    val esc = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    Some(parts.map { p =>
      byCol(p.toLowerCase) match {
        case null => s"$p=__HIVE_DEFAULT_PARTITION__"
        case v => s"$p=${esc.escapePathName(v.toString)}"
      }
    }.mkString("/"))
  }

  private def isTruncateAll(filters: Array[Filter]): Boolean =
    filters.isEmpty || filters.toSeq.forall {
      case sources.AlwaysTrue() => true
      case _ => false
    }

  override def canOverwrite(filters: Array[Filter]): Boolean =
    isTruncateAll(filters) || touchedOf(filters).isDefined

  override def overwrite(filters: Array[Filter]): WriteBuilder =
    if (isTruncateAll(filters))
      new GraftWriteBuilder(store, table, truncate = true)
    else {
      require(touchedOf(filters).isDefined,
        s"graft overwrites by filter need a FULL static partition " +
          s"spec over (${store.partitioning(table).mkString(", ")}); " +
          s"got ${filters.mkString(", ")}")
      new GraftWriteBuilder(store, table, truncate = false,
        overwriteFilters = Some(filters))
    }

  override def build(): Write = new V1Write {
    override def toInsertableRelation(): InsertableRelation =
      new InsertableRelation {
        override def insert(data: DataFrame, overwrite: Boolean): Unit =
          overwriteFilters.flatMap(touchedOf) match {
            case Some(touched) =>
              store.overwritePartitions(table, data, Seq(touched))
            case None =>
              if (truncate || overwrite) store.overwrite(table, data)
              else store.append(table, data)
          }
      }
  }
}

/** `spark.sql.catalog.<name> = graft.sources.GraftCatalog` (+
  * `spark.sql.catalog.<name>.root = <store root>`): store tables
  * resolve as `<name>.<table>` in vanilla Spark SQL — SELECT with
  * manifest semantics, `VERSION AS OF` / `TIMESTAMP AS OF` time
  * travel, INSERT INTO, CREATE TABLE (CTAS lands as a store create),
  * DROP TABLE. Maintenance runs as stored procedures under the
  * `system` namespace ([[GraftProcedures]]):
  * `CALL <name>.system.optimize(table => 't')`. */
class GraftCatalog extends TableCatalog with ProcedureCatalog {

  private var catalogName: String = _
  private var initialRoot: Option[String] = None

  /** The root re-resolves from the LIVE session conf on every call:
    * Spark's CatalogManager caches plugin instances by name, so a
    * later `spark.sql.catalog.<name>.root` change must take effect
    * without a session restart (the initialize-time value is only
    * the fallback). */
  private def root: String =
    SparkSession.active.conf
      .getOption(s"spark.sql.catalog.$catalogName.root")
      .orElse(initialRoot)
      .getOrElse(throw new IllegalArgumentException(
        s"catalog $catalogName needs spark.sql.catalog.$catalogName" +
          ".root=<store root>"))

  private def store: TableStore =
    new TableStore(SparkSession.active, root)

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    initialRoot = Option(options.get("root"))
  }

  override def name(): String = catalogName

  private def nameOf(ident: Identifier): String = {
    if (ident.namespace().nonEmpty)
      throw new NoSuchTableException(ident.namespace().toSeq :+ ident.name())
    ident.name()
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (namespace.nonEmpty) throw new NoSuchNamespaceException(namespace.toSeq)
    val s = store
    // live views' `__def` companions are engine-managed internals —
    // hidden from SHOW TABLES (still loadable by exact name)
    s.tables().filterNot(GraftTable.isLiveCompanion(s, _))
      .map(Identifier.of(Array.empty[String], _)).toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    ident.namespace().isEmpty && store.exists(ident.name())

  /** Iceberg-style maintenance procedures: `CALL <cat>.system.<p>(...)`
    * ([[GraftProcedures]] — each binds onto the GraftSql verb's
    * machinery and returns its bounded summary rows). */
  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    val procs = GraftProcedures.all(() => store)
    if (!ident.namespace().sameElements(GraftProcedures.Namespace))
      throw new NoSuchTableException(ident.namespace().toSeq :+ ident.name())
    procs.getOrElse(ident.name(), throw new IllegalArgumentException(
      s"unknown procedure ${ident.name()} — available: " +
        procs.keys.toSeq.sorted.mkString(", ")))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(GraftProcedures.Namespace) || namespace.isEmpty)
      GraftProcedures.all(() => store).keys.toSeq.sorted
        .map(Identifier.of(GraftProcedures.Namespace, _)).toArray
    else Array.empty

  override def loadTable(ident: Identifier): Table = {
    val s = store
    val t = nameOf(ident)
    val v = s.currentVersion(t).getOrElse(
      throw new NoSuchTableException(Seq(t)))
    new GraftTable(s, t, v, GraftTable.isMaterializedView(s, t))
  }

  private def requirePlain(s: TableStore, t: String): Unit =
    if (GraftTable.isMaterializedView(s, t))
      throw new IllegalArgumentException(
        s"$t is a materialized view — it serves its CURRENT consolidated " +
          "state; time travel over the stored partials is not meaningful " +
          "(time-travel the SOURCE table instead)")

  /** `VERSION AS OF <v>` — any retained manifest reads. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val s = store
    val t = nameOf(ident)
    requirePlain(s, t)
    val v = version.trim.toLong
    if (!s.versions(t).contains(v)) throw new NoSuchTableException(Seq(t))
    new GraftTable(s, t, v)
  }

  /** `TIMESTAMP AS OF <ts>` — Spark hands MICROsecond epoch. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val s = store
    val t = nameOf(ident)
    requirePlain(s, t)
    val v = s.versionAsOf(t, timestampMicros / 1000L).getOrElse(
      throw new NoSuchTableException(Seq(t)))
    new GraftTable(s, t, v)
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    val s = store
    val t = nameOf(ident)
    val parts = partitions.toSeq.map { tr =>
      tr.name() match {
        case "identity" => tr.references().head.fieldNames().mkString(".")
        case other => throw new UnsupportedOperationException(
          s"graft tables partition by identity columns only, not $other")
      }
    }
    // creating `<x>__def` beside an existing plain table x would
    // reclassify x as a materialized view (the registry rule is
    // "companion exists") — DSv2 reads would then consolidate x's
    // raw rows against a bogus def and DROP MATERIALIZED VIEW
    // would delete user data. Refuse outright.
    if (t.endsWith("__def") && s.exists(t.stripSuffix("__def")))
      throw new IllegalArgumentException(
        s"cannot create $t: '__def'-suffixed names beside an existing " +
          s"table are reserved for materialized-view definitions " +
          s"(table '${t.stripSuffix("__def")}' exists)")
    // the mirror hazard: a new plain table t beside an ORPHAN
    // t__def (residue of a crashed DROP) would be reclassified as an
    // MV the moment it lands. The orphan is invisible to
    // SHOW/DESCRIBE/rewrite, so clearing it is safe — same rule as
    // MaterializedView.writeDef.
    if (s.exists(t + "__def") && !s.exists(t))
      s.drop(t + "__def")
    val spark = SparkSession.active
    // one empty schema-bearing commit; CTAS data follows via the
    // V1 write (both are normal store commits)
    val empty = spark.createDataFrame(
      util.Collections.emptyList[Row](), schema).repartition(1)
    s.create(t, empty, parts)
    new GraftTable(s, t, s.currentVersion(t).get)
  }

  /** `ALTER TABLE gq.t ADD COLUMNS (...)` in vanilla SQL: each
    * AddColumn maps onto the store's metadata-only schema-evolution
    * commit (one empty schema-bearing manifest entry; earlier files
    * backfill NULL through the read path's union-by-name — no data
    * rewrite). Top-level and one-level-nested struct fields, nullable
    * only, no positions/defaults — the same contract as the GraftSql
    * front door. Every other change type (drops, renames, type
    * changes) still routes to GraftSql's column-mapping path. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    import org.apache.spark.sql.types.{StructField, StructType}
    val s = store
    val t = nameOf(ident)
    if (GraftTable.isMaterializedView(s, t) || GraftTable.isLiveCompanion(s, t))
      throw new UnsupportedOperationException(
        s"$t belongs to a materialized view — its schema is derived " +
          "from the view definition, not ALTERable")
    val (addChanges, rest) =
      changes.partition(_.isInstanceOf[TableChange.AddColumn])
    val adds = addChanges.map(_.asInstanceOf[TableChange.AddColumn])
    // RENAME/DROP COLUMN land as the store's column-mapping metadata
    // commits (files keep the physical name; never a rewrite) — the
    // same path as the GraftSql verbs, with the store's own guards
    // (partition columns, constraint references, name reuse)
    rest.foreach {
      case r: TableChange.RenameColumn =>
        require(r.fieldNames.length == 1,
          "nested field renames are not supported on graft tables")
        s.renameColumn(t, r.fieldNames.head, r.newName)
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames.length == 1,
          "nested field drops are not supported on graft tables")
        val exists = s.read(t).columns
          .exists(_.equalsIgnoreCase(d.fieldNames.head))
        if (exists || !d.ifExists()) s.dropColumn(t, d.fieldNames.head)
      case other => throw new UnsupportedOperationException(
        s"ALTER change ${other.getClass.getSimpleName} on graft tables " +
          "goes through the graft API / GraftSql (column mapping is a " +
          "manifest commit, not a catalog change)")
    }
    if (adds.isEmpty) return new GraftTable(s, t, s.currentVersion(t).get)
    val current = s.read(t).schema

    def addNested(st: StructType, path: Seq[String],
                  f: StructField): StructType = path match {
      case Seq() =>
        require(!st.fields.exists(_.name.equalsIgnoreCase(f.name)),
          s"column ${f.name} already exists in $t")
        StructType(st.fields :+ f)
      case head +: tail =>
        val idx = st.fields.indexWhere(_.name.equalsIgnoreCase(head))
        require(idx >= 0, s"no column $head in $t to nest ${f.name} under")
        val parent = st.fields(idx)
        val widened = parent.dataType match {
          case ps: StructType => parent.copy(dataType = addNested(ps, tail, f))
          case other => throw new IllegalArgumentException(
            s"column $head of $t is ${other.catalogString}, not a " +
              "struct; cannot add a nested field")
        }
        StructType(st.fields.updated(idx, widened))
    }

    val evolved = adds.foldLeft(current) { (st, a) =>
      require(a.isNullable,
        s"column ${a.fieldNames.mkString(".")}: NOT NULL is " +
          "unsatisfiable on ADD COLUMNS (existing rows backfill NULL)")
      require(a.position() == null,
        s"column ${a.fieldNames.mkString(".")}: FIRST/AFTER positions " +
          "are not supported on graft tables")
      require(a.defaultValue() == null,
        s"column ${a.fieldNames.mkString(".")}: DEFAULT is not supported " +
          "on graft tables (existing rows would silently read NULL, " +
          "not the default)")
      val names = a.fieldNames.toSeq
      addNested(st, names.init,
        StructField(names.last, a.dataType, nullable = true))
    }
    s.evolveSchema(t, evolved)
    new GraftTable(s, t, s.currentVersion(t).get)
  }

  override def dropTable(ident: Identifier): Boolean = {
    if (ident.namespace().nonEmpty) return false
    val s = store
    val t = ident.name()
    // a live view's companion must never be dropped alone — that
    // would demote the view to a plain table of raw signed partials
    // under the view's name
    if (GraftTable.isLiveCompanion(s, t))
      throw new IllegalArgumentException(
        s"$t is the definition companion of materialized view " +
          s"'${t.stripSuffix("__def")}' — drop the view instead " +
          "(DROP TABLE <view> removes both)")
    val isMv = GraftTable.isMaterializedView(s, t)
    val dropped = s.drop(t)
    // MV: the definition companion goes with the view (same order as
    // the front door's DROP MATERIALIZED VIEW — view first, so a
    // crash between the two leaves only an invisible orphan def that
    // createTable/writeDef clear on re-create)
    if (dropped && isMv) s.drop(t + "__def")
    dropped
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "graft tables do not support RENAME (manifests reference the " +
        "table path; use CLONE + DROP)")
}
