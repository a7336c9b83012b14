package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Cdc

/** The reference pipeline end-to-end: full-load / incremental-load
  * dispatch with all its semantic traps preserved (SURVEY §7.7).
  *
  * Mirrors `main` in icberg/iceberg_tables.py:157-213 /
  * delta/delta_tables.py:171-227.
  */
object CdcIngest {

  final case class Config(
      primaryKey: String = "key",
      dateCol: String = "process_date",
      /** Full-load floor — compared as a STRING against the (timestamp)
        * date column, preserving the reference's implicit-cast semantics
        * (icberg/iceberg_tables.py:33-34,:103, trap §7.7.1). */
      floorDate: String = "1900-01-01 00:00:00",
      /** Extra DESC tiebreak columns after dateCol. The reference
        * orders only by process_date (trap §7.7.4) — nondeterministic
        * when a key has two rows at the same timestamp (routine with
        * second-granularity DMS stamps). Supply e.g. a sequence/LSN
        * column for deterministic merges. */
      tiebreak: Seq[String] = Nil,
      /** Date-bucket layout for the destination, e.g. "yyyy-MM". When
        * set, the table is created hive-partitioned on
        * `p_bucket = date_format(dateCol, bucketFormat)` and the
        * incremental merge rewrites ONLY partitions holding matched
        * keys (O(touched partitions)); untouched partitions are
        * carried by reference in the manifest. None = unpartitioned
        * legacy layout with O(table) overwrite — fine at small scale,
        * a scale-killer at 100 TB. The format must produce path-safe
        * values (date patterns do). */
      bucketFormat: Option[String] = None,
      /** Merge-on-read: incremental merges commit O(batch) equality
        * deletes + appended survivors with ZERO rewrite (takes
        * precedence over the partition-rewrite path). Read-side debt
        * grows one broadcast anti-join per commit — compact on a
        * cadence (`TableStore.compact`, gauge via `deleteDebt`). */
      mergeOnRead: Boolean = false)

  /** Hive partition column name used by the bucketed layout. */
  val BucketCol = "p_bucket"

  sealed trait Outcome
  case object FullLoad extends Outcome
  final case class IncrementalLoad(newRows: Long) extends Outcome
  case object NoNewData extends Outcome

  /** C1 dispatch: full vs incremental on table existence
    * (icberg/iceberg_tables.py:179-212). */
  def ingest(spark: SparkSession, store: TableStore, table: String,
             source: DataFrame, cfg: Config = Config()): Outcome = {
    // P1+P2: strip crawler partition columns (:176-177)
    val stripped = Cdc.removeColumns(source, Cdc.partitionCols(source))
    if (!store.exists(table)) fullLoad(store, table, stripped, cfg)
    else incrementalLoad(spark, store, table, stripped, cfg)
  }

  /** Full load (icberg/iceberg_tables.py:90-112): floor filter, dedup
    * keep-latest, tombstone drop (only when an op column exists — C2
    * fallback :184-187), create. */
  def fullLoad(store: TableStore, table: String, source: DataFrame,
               cfg: Config): Outcome = {
    val filtered = source.where(col(cfg.dateCol) > lit(cfg.floorDate))
    val deduped = Cdc.dedupLatest(filtered, Seq(cfg.primaryKey),
      (cfg.dateCol +: cfg.tiebreak).map(col(_).desc))
    val kept = if (Cdc.hasOpCol(source)) Cdc.dropTombstones(deduped) else deduped
    val cleaned = kept.drop("row_num", "Op")
    cfg.bucketFormat match {
      case Some(fmt) =>
        store.create(table, cleaned.withColumn(BucketCol,
          date_format(col(cfg.dateCol), fmt)), partitionBy = Seq(BucketCol))
      case None => store.create(table, cleaned)
    }
    FullLoad
  }

  /** Incremental load (icberg/iceberg_tables.py:115-153): strict `>`
    * watermark (ties with the destination max are silently dropped —
    * trap §7.7.3), dedup, merge-delete + append survivors as ONE
    * atomic commit (stronger than the reference's two commits). */
  def incrementalLoad(spark: SparkSession, store: TableStore, table: String,
                      source: DataFrame, cfg: Config): Outcome = {
    // pin the snapshot: the watermark, the anti-join survivors, and
    // the touched-bucket probe are all computed against THIS version;
    // a concurrent commit makes the merge abort (SnapshotConflict)
    // rather than silently replay/undo it. MoR appends keep CDC
    // blind-append semantics (equality deletes by design apply to a
    // racer's rows too), so no pin there.
    val rs = store.currentVersion(table).get
    val dest = store.readVersion(table, rs)
    // A1/A2: watermark = max(process_date) in the destination (:131)
    val maxDate = dest.agg(max(col(cfg.dateCol))).first().get(0)
    val newRows = source.where(col(cfg.dateCol) > lit(maxDate))
    if (newRows.isEmpty) NoNewData // C3 (:152-153), A3 via Dataset.isEmpty
    else {
      // localCheckpoint: the deduped batch feeds the row-count report
      // AND 2-3 consumers per merge path (survivors + delete keys on
      // MoR; touched-bucket probe + anti-join + union when bucketed) —
      // one window computation, cheap re-reads, instead of re-running
      // the dedup shuffle per consumer
      val deduped = Cdc.dedupLatest(newRows, Seq(cfg.primaryKey),
        (cfg.dateCol +: cfg.tiebreak).map(col(_).desc)).localCheckpoint()
      val n = deduped.count()
      if (cfg.mergeOnRead) {
        val survivors0 = Cdc.dropTombstones(deduped).drop("row_num", "Op")
        val survivors = cfg.bucketFormat match {
          case Some(fmt) if store.partitioning(table).contains(BucketCol) =>
            survivors0.withColumn(BucketCol, date_format(col(cfg.dateCol), fmt))
          case _ => survivors0
        }
        store.appendWithDeletes(table, survivors,
          deduped.select(cfg.primaryKey).distinct())
      } else if (store.partitioning(table).contains(BucketCol))
        mergeTouchedPartitions(store, table, dest, deduped, cfg, rs)
      else {
        val merged = CdcMerge.upsert(dest, deduped, Seq(cfg.primaryKey))
        store.overwrite(table, merged, readSnapshot = Some(rs),
          op = "MERGE")
      }
      IncrementalLoad(n)
    }
  }

  /** O(touched partitions) merge: find the date buckets that contain a
    * matched key (a column-pruned `(pk, bucket)` semi-join scan — no
    * rewrite) plus the buckets the survivors land in, rebuild ONLY
    * those partitions (anti-join scoped to them), and commit with the
    * rest of the table carried by reference. At 100 TB with a daily
    * CDC batch this rewrites a handful of partitions instead of the
    * whole table; the bucket list itself is a tiny driver-side
    * materialization (A2-style). */
  private def mergeTouchedPartitions(store: TableStore, table: String,
                                     dest: DataFrame, deduped: DataFrame,
                                     cfg: Config, readSnapshot: Long): Unit = {
    val fmt = cfg.bucketFormat.getOrElse(
      throw new IllegalStateException(
        s"$table is bucket-partitioned but cfg.bucketFormat is unset"))
    val updKeys = deduped.select(cfg.primaryKey).distinct()
    val survivors = Cdc.dropTombstones(deduped).drop("row_num", "Op")
      .withColumn(BucketCol, date_format(col(cfg.dateCol), fmt))
    // the bucket is read in its string form: partition inference types
    // a day bucket (yyyy-MM-dd) as DATE, and the string cast renders it
    // back exactly as its directory value
    val touched = dest.join(updKeys, Seq(cfg.primaryKey), "left_semi")
      .select(col(BucketCol).cast("string"))
      .union(survivors.select(BucketCol))
      .distinct().collect().map(_.getString(0))
    val touchedSpecs = touched.map {
      case null => s"$BucketCol=__HIVE_DEFAULT_PARTITION__"
      case v    => s"$BucketCol=$v"
    }
    val nonNull = touched.filter(_ != null)
    val bucketMatch =
      if (touched.contains(null))
        col(BucketCol).isNull || col(BucketCol).isin(nonNull.toSeq: _*)
      else col(BucketCol).isin(nonNull.toSeq: _*)
    val replacement = dest.where(bucketMatch)
      .join(updKeys, Seq(cfg.primaryKey), "left_anti")
      .unionByName(survivors, allowMissingColumns = true)
    // STRICT snapshot validation (disjointAddsOk stays false): the
    // touched-bucket probe above read EVERY partition (the pk
    // semi-join), so a concurrent append — even into an untouched
    // bucket — can carry a matched/tombstoned key this replacement
    // never folded. Tolerating it would resurrect deleted keys;
    // aborting (SnapshotConflictException) keeps the §7.7 merge
    // exactly-once under races, as the pin comment in
    // incrementalLoad promises.
    store.overwritePartitions(table, replacement, touchedSpecs.toSeq,
      readSnapshot = Some(readSnapshot), op = "MERGE")
  }
}
