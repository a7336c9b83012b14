package graft.lake

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{GreaterThan, Literal}
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
        * grows by each commit's keys in the delete set every read
        * filters by — compact on a cadence (`TableStore.compact`,
        * gauge via `deleteDebt`). */
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
        store.create(table, cleaned.withColumn(BucketCol, bucketOf(cfg, fmt)),
          partitionBy = Seq(BucketCol))
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
    // pin the snapshot: the watermark, the touched-bucket probe (one
    // grouped scan when bucketed) and the anti-join survivors are all
    // computed against THIS version; a concurrent commit makes the
    // merge abort (SnapshotConflict) rather than silently replay/undo
    // it. MoR appends keep CDC blind-append semantics (equality
    // deletes by design apply to a racer's rows too), so no pin there.
    val rs = store.currentVersion(table).get
    val dest = store.readVersion(table, rs)
    val bucketed = store.partitioning(table, rs).contains(BucketCol)
    if (bucketed && !cfg.mergeOnRead)
      return mergeTouchedPartitions(store, table, dest, source, cfg, rs)
    // A1/A2: watermark = max(process_date) in the destination (:131)
    val maxDate = dest.agg(max(col(cfg.dateCol))).first().get(0)
    val (deduped, n, _) = dedupObserved(
      source.where(col(cfg.dateCol) > lit(maxDate)), cfg, None)
    if (n == 0) return NoNewData // C3 (:152-153)
    if (cfg.mergeOnRead) {
      val survivors0 = Cdc.dropTombstones(deduped).drop("row_num", "Op")
      val survivors = cfg.bucketFormat match {
        case Some(fmt) if bucketed => survivors0.withColumn(BucketCol, bucketOf(cfg, fmt))
        case _ => survivors0
      }
      store.appendWithDeletes(table, survivors, deduped.select(cfg.primaryKey))
    } else {
      val merged = CdcMerge.upsert(dest, deduped, Seq(cfg.primaryKey))
      store.overwrite(table, merged, readSnapshot = Some(rs), op = "MERGE")
    }
    IncrementalLoad(n)
  }

  /** The bucket a row lands in: its date rendered with `fmt`. */
  private def bucketOf(cfg: Config, fmt: String): Column =
    date_format(col(cfg.dateCol), fmt)

  /** Dedup keep-latest over the rows past the watermark, localCheckpointed:
    * the deduped batch feeds 2-3 consumers per merge path (survivors +
    * delete keys on MoR; anti-join + union when bucketed), so the
    * window runs once and the consumers re-read it cheaply. One
    * Observation on that same job yields the row count and, given a
    * bucket format, the buckets the live (non-tombstone) rows land in
    * — no separate count() or survivor scan. Buckets are collected as
    * 1-field structs because collect_set drops null elements and a
    * null bucket is a real (default) partition. Returns the
    * checkpointed batch, its row count and the survivor buckets. */
  private def dedupObserved(newRows: DataFrame, cfg: Config,
                            fmt: Option[String]): (DataFrame, Long, Seq[String]) = {
    val deduped = Cdc.dedupLatest(newRows, Seq(cfg.primaryKey),
      (cfg.dateCol +: cfg.tiebreak).map(col(_).desc))
    val obs = new Observation()
    val buckets = fmt.map(f => collect_set(
      when(Cdc.live(deduped), struct(bucketOf(cfg, f)))).as("buckets"))
    val checkpointed = deduped
      .observe(obs, count(lit(1)).as("n"), buckets.toSeq: _*)
      .localCheckpoint()
    val facts = obs.get
    val survivorBuckets = facts.get("buckets").toSeq.flatMap(
      _.asInstanceOf[scala.collection.Seq[Row]].map(_.getString(0)))
    (checkpointed, facts("n").asInstanceOf[Long], survivorBuckets)
  }

  /** O(touched partitions) merge, planned from ONE grouped probe of the
    * destination: `(pk, bucket, dateCol)` left-joined to the batch's
    * newest date per key and grouped by bucket yields, per bucket, the
    * destination's max date and the batch's max date over the keys it
    * holds. The watermark is the largest destination max; a bucket
    * holds a matched key iff its batch max passes that watermark (a key
    * is in the deduped batch iff its newest row does). The observed
    * survivor buckets complete the touched set; ONLY those partitions
    * are rebuilt (anti-join scoped to them) and the rest of the table
    * is carried by reference. At 100 TB with a daily CDC batch this
    * rewrites a handful of partitions instead of the whole table; the
    * probe collects at most one row per partition (A2-style). */
  private def mergeTouchedPartitions(store: TableStore, table: String,
                                     dest: DataFrame, source: DataFrame,
                                     cfg: Config, readSnapshot: Long): Outcome = {
    val fmt = cfg.bucketFormat.getOrElse(
      throw new IllegalStateException(
        s"$table is bucket-partitioned but cfg.bucketFormat is unset"))
    val pk = cfg.primaryKey
    val dateType = dest.select(cfg.dateCol).schema.head.dataType
    // the batch max is cast to the destination's date type so both
    // sides of the driver-side `>` share one Spark ordering (a no-op
    // cast when the types agree, as they do for a table this loaded)
    val batchMax = source.groupBy(col(pk))
      .agg(max(col(cfg.dateCol)).cast(dateType).as("__batch_max"))
    // the bucket is read in its string form: partition inference types
    // a day bucket (yyyy-MM-dd) as DATE, and the string cast renders it
    // back exactly as its directory value
    val probe = dest.select(col(pk), col(BucketCol).cast("string").as(BucketCol),
        col(cfg.dateCol))
      .join(batchMax, Seq(pk), "left_outer")
      .groupBy(BucketCol)
      .agg(max(col(cfg.dateCol)), max(col("__batch_max")))
      .collect()
    // Spark's `>` for the column's type, the one the batch filter uses;
    // null on either side is not greater (as in the filter)
    def gt(a: Any, b: Any): Boolean =
      GreaterThan(Literal.create(a, dateType), Literal.create(b, dateType))
        .eval() == true
    // A1/A2: watermark = max(process_date) in the destination (:131);
    // null (empty table / all-null dates) filters every row, as before
    val maxDate = probe.map(_.get(1)).filter(_ != null)
      .reduceOption((a, b) => if (gt(b, a)) b else a).orNull
    val (deduped, n, survivorBuckets) = dedupObserved(
      source.where(col(cfg.dateCol) > lit(maxDate)), cfg, Some(fmt))
    if (n == 0) return NoNewData // C3 (:152-153)
    val matched = probe.filter(r => gt(r.get(2), maxDate)).map(_.getString(0))
    val touched = (matched.toSeq ++ survivorBuckets).distinct
    val touchedSpecs = touched.map {
      case null => s"$BucketCol=__HIVE_DEFAULT_PARTITION__"
      case v    => s"$BucketCol=$v"
    }
    val nonNull = touched.filter(_ != null)
    val bucketMatch =
      if (touched.contains(null))
        col(BucketCol).isNull || col(BucketCol).isin(nonNull: _*)
      else col(BucketCol).isin(nonNull: _*)
    val survivors = Cdc.dropTombstones(deduped).drop("row_num", "Op")
      .withColumn(BucketCol, bucketOf(cfg, fmt))
    // deduped holds one row per key, and an anti join is set-semantic
    // on its right side anyway: no distinct() shuffle on the keys
    val replacement = dest.where(bucketMatch)
      .join(deduped.select(pk), Seq(pk), "left_anti")
      .unionByName(survivors, allowMissingColumns = true)
    // STRICT snapshot validation (disjointAddsOk stays false): the
    // grouped probe above read EVERY partition to find the touched
    // buckets, so a concurrent append — even into an untouched
    // bucket — can carry a matched/tombstoned key this replacement
    // never folded. Tolerating it would resurrect deleted keys;
    // aborting (SnapshotConflictException) keeps the §7.7 merge
    // exactly-once under races, as the pin comment in
    // incrementalLoad promises.
    store.overwritePartitions(table, replacement, touchedSpecs,
      readSnapshot = Some(readSnapshot), op = "MERGE")
    IncrementalLoad(n)
  }
}
