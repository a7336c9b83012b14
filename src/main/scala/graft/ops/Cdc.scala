package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** CDC-shaped input derivation + the reference's dedup-keep-latest
  * operator (the heart of Hamza442/AWS-GLUE-DATA-LAKE).
  *
  * The reference ingests a DMS-style CDC table (primary key,
  * `process_date`, `Op` in {I,U,D}, crawler `partition_*` columns —
  * icberg/iceberg_tables.py:21-37). FIXTURES.md §CDC reconstructs that
  * shape deterministically from the `events` fixture.
  */
object Cdc {

  /** Derive a CDC batch from `events` (ts already read as epoch-nanos
    * long, see Tables.load):
    *   key          = event_id % k  (forces multiple versions per key)
    *   process_date = ts            (epoch nanos, exact total order)
    *   op           = error->D, signup->I, else->U
    *   partition_0..2 = year/month/day strings (crawler partitions)
    */
  def derive(events0: DataFrame, k: Int = 100, withOp: Boolean = true): DataFrame = {
    // schema-on-read guard: accept timestamp-typed ts too, not just the
    // epoch-nanos long that Tables.load already produces
    val events = graft.Tables.normalizeEventTime(events0)
    val ts = graft.Tables.nsToTimestamp("ts")
    val base = events
      .withColumn("key", col("event_id") % k)
      .withColumn("partition_0", date_format(ts, "yyyy"))
      .withColumn("partition_1", date_format(ts, "MM"))
      .withColumn("partition_2", date_format(ts, "dd"))
    if (withOp)
      base.withColumn("op",
        when(col("event_type") === "error", "D")
          .when(col("event_type") === "signup", "I")
          .otherwise("U"))
    else base
  }

  /** P2: crawler-partition-column discovery by substring match
    * (icberg/iceberg_tables.py:84-87 `get_partition_cols`). */
  def partitionCols(df: DataFrame): Seq[String] =
    df.columns.toIndexedSeq.filter(_.contains("partition_"))

  /** P3: case-insensitive op-column detection
    * (icberg/iceberg_tables.py:80-82 `check_op_col`). */
  def hasOpCol(df: DataFrame): Boolean =
    df.columns.exists(_.toLowerCase == "op")

  /** P1: drop columns, case-insensitively like the reference relies on
    * (spark.sql.caseSensitive=false default; icberg/iceberg_tables.py:61-62). */
  def removeColumns(df: DataFrame, cols: Seq[String]): DataFrame =
    df.drop(cols: _*)

  /** W1+P5: dedup-keep-latest-version-per-key
    * (load_sql_template, icberg/iceberg_tables.py:39-44).
    * `orderCols` must be a full tiebreak (SURVEY §7.7 trap 4) so results
    * are deterministic for the oracle; the reference orders only by
    * process_date desc.
    */
  def dedupLatest(df: DataFrame, keyCols: Seq[String],
                  orderCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(orderCols: _*)
    df.withColumn("row_num", row_number().over(w))
      .where(col("row_num") === 1)
      .drop("row_num")
  }

  /** Slowly-changing-dimension Type 2 build: turn a change log
    * (key, attributes, change time) into versioned dimension rows with
    * `valid_from` / `valid_to` / `is_current` — the standard lakehouse
    * dimension shape downstream of CDC.
    *
    * Consecutive no-op changes (same attribute values as the previous
    * version of the key) are dropped FIRST — a CDC feed that re-emits
    * unchanged rows must not mint phantom versions — then each
    * surviving change closes at the NEXT survivor's change time
    * (`lead`), open-ended (`valid_to` NULL, `is_current` true) on the
    * latest. Ties on `tsCol` within a key break by the full attribute
    * tuple (deterministic versioning under a violated unique-ts
    * precondition, never nondeterministic output).
    *
    * Scale: both windows partition by the key — ONE shuffle; the
    * exchange is reused across the lag (no-op drop) and lead (close)
    * passes. High-cardinality keys parallelize by key count; this is
    * the opposite of a global-window trap. */
  def scd2Build(changes: DataFrame, keyCols: Seq[String], tsCol: String,
                attrCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty && attrCols.nonEmpty, "need key and attr columns")
    val attrs = struct(attrCols.map(col): _*)
    val order = col(tsCol) +: attrCols.map(col)
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(order: _*)
    val deduped = changes
      .withColumn("__prev", lag(attrs, 1).over(w))
      // null-safe: the first version (no prev) keeps, and NULL attr
      // fields compare as values (IS DISTINCT FROM), never as unknowns
      .where(!(col("__prev") <=> attrs))
      .drop("__prev")
    deduped
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** P6: CDC tombstone predicate — keep op IS NULL OR op IN (I, U)
    * (icberg/iceberg_tables.py:35,:51); every row is live when `df`
    * has no op column. One Column, so a filter and an aggregate over
    * the same rows (CdcIngest's observed survivor buckets) agree. */
  def live(df: DataFrame): Column =
    if (hasOpCol(df)) col("op").isNull || col("op").isin("I", "U")
    else lit(true)

  def dropTombstones(df: DataFrame): DataFrame =
    if (hasOpCol(df)) df.where(live(df)) else df
}
