package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.read.streaming.{Offset => OffsetV2Api, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Sink, Source}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{LongType, StringType, StructType}

import graft.lake.TableStore

/** Structured Streaming over graft store tables — the Delta-source
  * idiom (`spark.readStream.format("delta")`) re-expressed on the
  * graft manifest log:
  *
  * {{{
  *   spark.readStream.format("graft")
  *     .option("root", r).option("table", t)
  *     [.option("startingVersion", 3)]      // else: initial snapshot
  *     [.option("skipChangeCommits", true)] // else: fail on rewrites
  *     [.option("readChangeFeed", true)]    // CDF rows: inserts+deletes
  *     .load()
  *   df.writeStream.format("graft")
  *     .option("root", r).option("table", t)
  *     .option("checkpointLocation", dir)
  *     .outputMode("append" | "complete").start()
  * }}}
  *
  * Offsets ARE table versions ([[GraftStreamOffset]]): the manifest
  * log is the write-ahead log, so "what's new" is one O(1)
  * current-version read per trigger and a batch is the version range
  * `(start, end]` — no listing, no per-file bookkeeping in the
  * checkpoint, the property that keeps a stream over a 100 TB table's
  * commit history cheap. Each pure-append commit serves exactly its
  * own new data files (manifest-aware, O(changed data) via
  * [[TableStore.changes]]); content-neutral maintenance (COMPACT /
  * OPTIMIZE / z-order) is skipped by contract; a data-CHANGING commit
  * (DELETE / UPDATE / overwrite) fails the stream loudly unless
  * `skipChangeCommits=true` (Delta's option, same semantics: such
  * commits are skipped wholesale). Recovery replays version-pinned
  * reads, so a checkpointed batch is deterministic as long as VACUUM
  * retains the range — the same contract Delta documents.
  */
case class GraftStreamOffset(version: Long) extends OffsetV1 {
  override def json(): String = s"""{"version":$version}"""
}

object GraftStreamOffset {
  private val Re = """\s*\{\s*"version"\s*:\s*(-?\d+)\s*\}\s*""".r
  def parse(json: String): GraftStreamOffset = json match {
    case Re(v) => GraftStreamOffset(v.toLong)
    case j => throw new IllegalArgumentException(s"not a graft offset: $j")
  }
  /** Checkpoint recovery hands back a SerializedOffset — resolve any
    * V1 offset through its json. */
  def of(o: OffsetV1): GraftStreamOffset = o match {
    case g: GraftStreamOffset => g
    case other => parse(other.json())
  }
}

/** The V1 `Source`: schema pinned at stream start, offsets = store
  * versions, batches composed from the store's manifest-aware change
  * feed. See [[GraftStreamOffset]] for the full semantics. */
class GraftStreamSource(spark: SparkSession, store: TableStore,
                        table: String, options: Map[String, String])
    extends Source with SupportsTriggerAvailableNow {

  private val opts = options.map { case (k, v) => k.toLowerCase -> v }
  private val startingVersion: Option[Long] =
    opts.get("startingversion").map(_.trim.toLong)
  private val skipChangeCommits: Boolean =
    opts.get("skipchangecommits").exists(_.trim.toBoolean)
  /** `readChangeFeed=true` — Delta's CDF stream: rows arrive tagged
    * `_change_type` ∈ {insert, delete} / `_commit_version`, deletes
    * FLOW as rows instead of failing the stream, and a rewrite range
    * serves the exact bag diff. The initial snapshot (or a
    * `startingVersion` CREATE) is all-inserts at its version. */
  private val readChangeFeed: Boolean =
    opts.get("readchangefeed").exists(_.trim.toBoolean)
  require(!(readChangeFeed && skipChangeCommits),
    "readChangeFeed serves change commits as tagged rows — " +
      "skipChangeCommits contradicts it")
  /** Admission control (Delta's `maxFilesPerTrigger` analog, in the
    * store's natural unit): cap each micro-batch at N source COMMITS,
    * so a backlog drains as bounded batches instead of one giant one.
    * Best-effort — the initial snapshot is one batch by definition,
    * and the first batch after a restart recovers whatever range its
    * checkpoint recorded. */
  private val maxVersionsPerTrigger: Option[Long] =
    opts.get("maxversionspertrigger").map(_.trim.toLong)
  maxVersionsPerTrigger.foreach(n => require(n > 0,
    s"maxVersionsPerTrigger must be > 0, got $n"))

  /** `Trigger.AvailableNow` target: pinned at stream start so the
    * drain has a fixed finish line even while writers keep
    * committing ([[SupportsTriggerAvailableNow]] — without it the
    * engine would snapshot ONE capped `latestOffset` as the end and
    * stop after a single batch). */
  @volatile private var availableTarget: Option[Long] = None

  require(!GraftTable.isMaterializedView(store, table),
    s"$table is a materialized view — its consolidated state changes " +
      "in place, which is not an append stream; stream the SOURCE " +
      "table (or its change feed) instead")
  startingVersion.foreach(sv => require(sv >= 0,
    s"startingVersion must be >= 0, got $sv"))

  override val schema: StructType = {
    val base = store.read(table).schema
    if (readChangeFeed)
      base.add("_change_type", StringType).add("_commit_version", LongType)
    else base
  }

  override def getOffset: Option[OffsetV1] =
    store.currentVersion(table).map(GraftStreamOffset(_))

  /** The engine routes offset discovery here (Source with
    * SupportsAdmissionControl, the Delta shape), handing us the last
    * committed END — so the per-trigger cap needs no mutable anchor
    * and restarts resume capping from the checkpoint exactly. */
  override def latestOffset(start: OffsetV2Api,
                            limit: ReadLimit): OffsetV2Api =
    store.currentVersion(table).map { cur =>
      val bounded = availableTarget.fold(cur)(math.min(cur, _))
      val anchor = Option(start).map {
        case g: GraftStreamOffset => g.version
        case o => GraftStreamOffset.parse(o.json()).version
      }.orElse(startingVersion.map(_ - 1L))
      val capped = (maxVersionsPerTrigger, anchor) match {
        case (Some(n), Some(l)) => math.max(l, math.min(bounded, l + n))
        case _ => bounded // snapshot batch: one batch by definition
      }
      GraftStreamOffset(capped): OffsetV2Api
    }.orNull

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def prepareForTriggerAvailableNow(): Unit =
    availableTarget = store.currentVersion(table)

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame =
    ColumnBridge.asStreamingBatch(batchPlan(start, end))

  private def batchPlan(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val endV = GraftStreamOffset.of(end).version
    start.map(GraftStreamOffset.of(_).version) match {
      case Some(f) => incremental(f, endV)
      case None => startingVersion match {
        // no startingVersion: the first batch is the initial snapshot
        // (the table AS OF the stream-start version), Delta-style
        case None => conform(tagged(store.readVersion(table, endV), endV))
        // startingVersion=v: serve commits v..end incrementally, no
        // snapshot. v=0 includes the CREATE commit's rows (there is
        // no version before 0 to diff against, so it serves whole).
        case Some(0L) =>
          conform(tagged(store.readVersion(table, 0L), 0L))
            .unionByName(incremental(0L, endV))
        case Some(sv) =>
          require(store.versions(table).contains(sv - 1),
            s"startingVersion $sv needs retained version ${sv - 1} to " +
              "diff against — it was vacuumed")
          incremental(sv - 1, endV)
      }
    }
  }

  /** Rows appended in `(fromV, toV]`: per-commit classification, then
    * the manifest-aware single-version change feed (O(changed data)
    * for appends — never a table scan). In CDF mode the whole range
    * serves directly from [[TableStore.changes]] — deletes flow as
    * tagged rows, rewrites serve their exact bag diff. */
  private def incremental(fromV: Long, toV: Long): DataFrame = {
    if (readChangeFeed) {
      if (fromV >= toV) return emptyBatch(toV)
      return conform(store.changes(table, fromV, toV))
    }
    val served = ((fromV + 1) to toV).filter(servesAppends)
    served.map(v => store.changes(table, v - 1, v)
        .where(col("_change_type") === "insert"))
      .reduceOption(_ unionByName _)
      .map(conform)
      .getOrElse(emptyBatch(toV))
  }

  private def emptyBatch(toV: Long): DataFrame =
    conform(tagged(store.readVersion(table, toV).limit(0), 0L))

  /** CDF-tag a snapshot-shaped frame (all rows are inserts at `v`). */
  private def tagged(df: DataFrame, v: Long): DataFrame =
    if (!readChangeFeed) df
    else df.withColumn("_change_type", lit("insert"))
      .withColumn("_commit_version", lit(v))

  /** Whether the stream serves commit `v`: content-neutral
    * maintenance is skipped (as [[TableStore.changes]] skips it), and
    * any other commit that is not a pure append fails the stream
    * unless `skipChangeCommits` is set. */
  private def servesAppends(v: Long): Boolean = {
    val op = store.operationOf(table, v)
    if (TableStore.NeutralOps(op)) return false
    // the change feed's own case analysis: no line dropped, no delete
    // line added
    val pureAppend = !store.rangeMayDelete(table, v - 1, v)
    if (!pureAppend && !skipChangeCommits)
      throw new IllegalStateException(
        s"version $v of $table is a data-changing commit ($op); a graft " +
          "stream serves appends — set skipChangeCommits=true to skip " +
          "such commits, or restart from a fresh checkpoint to take a " +
          "new initial snapshot")
    pureAppend
  }

  /** Serve under the stream-start schema: name-stable column order,
    * types cast back if a later commit widened them. A commit from
    * BEFORE a schema evolution lacks the added columns — backfill
    * NULL, the same union-by-name semantic the store's batch read
    * gives old rows (a startingVersion replay crossing an ALTER
    * boundary must not fail). A column RENAME mid-stream still fails
    * loudly — restart with a fresh checkpoint, same as Delta. */
  private def conform(df: DataFrame): DataFrame = {
    val have = df.columns.toSet
    df.select(schema.map(f =>
      (if (have(f.name)) col(f.name) else lit(null))
        .cast(f.dataType).as(f.name)): _*)
  }

  override def stop(): Unit = ()
}

/** The V1 `Sink`: each micro-batch lands as ONE atomic store commit
  * carrying the batch id as an application-transaction watermark —
  * [[TableStore.appendTxn]]'s replay guard makes redelivered batch
  * ids no-ops, so the sink is exactly-once without reading its own
  * output (Delta's SetTransaction idempotence). Append mode appends;
  * Complete mode atomically overwrites with the new result. The
  * micro-batch executes ONCE, on its own incremental plan
  * ([[ColumnBridge.materializedBatch]]). */
class GraftStreamSink(root: String, table: String, appId: String,
                      mode: OutputMode) extends Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val store = new TableStore(data.sparkSession, root)
    require(store.exists(table),
      s"graft sink table $table does not exist — create it (with its " +
        "schema and partitioning) before starting the stream")
    // checked per batch, not once: a view created mid-stream must not
    // start receiving raw rows (they'd corrupt the partial algebra),
    // and a live view's __def companion is engine-managed
    require(!GraftTable.isMaterializedView(store, table),
      s"$table is a materialized view — it is maintained from its " +
        "source's change feed, never streamed into directly")
    require(!GraftTable.isLiveCompanion(store, table),
      s"$table is a live view's definition companion — engine-managed")
    val batch = ColumnBridge.materializedBatch(data)
    if (mode == OutputMode.Complete())
      store.overwriteTxn(table, batch, appId, batchId)
    else
      store.appendTxn(table, batch, appId, batchId)
  }

  override def toString: String = s"GraftSink[$root/$table]"
}
