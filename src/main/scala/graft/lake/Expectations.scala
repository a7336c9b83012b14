package graft.lake

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Write-side data-quality expectations with QUARANTINE routing — the
  * Delta-Live-Tables shape that completes the engine's DQ story:
  * read-time audit (`dq_audit_report`), write-time hard CHECK
  * constraints (`TableStore.addConstraint`, abort on violation),
  * and now per-row routing: rows failing any expectation land in
  * `<table>_quarantine` tagged with the failed rule names, clean rows
  * commit to the table — the batch never aborts, every row lands on
  * one side or the other, and both sides publish in ONE cross-table
  * transaction (write-audit-publish made atomic).
  *
  * A NULL predicate result counts as a violation (expectations are
  * strict: "balance between 0 and 100" quarantines a NULL balance —
  * SQL's CHECK would wave it through, which is exactly how silent
  * garbage accumulates).
  *
  * Scale: the rule tags are ONE projection (an array of
  * when-expressions, codegen'd); the split is two filters over the
  * tagged batch — O(batch) twice, no shuffle, and each side commits
  * through the store's normal O(batch) append. */
object Expectations {

  final case class Rule(name: String, predicate: Column)

  /** The batch with a `__failed_rules` array column naming every
    * violated expectation (empty = clean). */
  def tag(df: DataFrame, rules: Seq[Rule]): DataFrame = {
    require(rules.nonEmpty, "need at least one expectation")
    df.withColumn("__failed_rules", array_compact(array(rules.map { r =>
      when(!coalesce(r.predicate, lit(false)), lit(r.name))
    }: _*)))
  }

  /** Result of a quarantining ingest: rows committed per side. */
  final case class Outcome(accepted: Long, quarantined: Long)

  /** Append `df` to `table` under `rules`: clean rows commit to the
    * table, violating rows to `<table>_quarantine` (batch schema +
    * `failed_rules` array). Three O(batch) passes — one counting
    * aggregate, one append per non-empty side — and no shuffle;
    * `df` should be a scan or a checkpointed frame, not an expensive
    * pipeline (or it re-executes per pass).
    *
    * ATOMIC across the two tables: both appends stage inside one
    * cross-table transaction ([[TableStore.beginTransaction]]) and
    * publish together — a FAILURE anywhere unwinds both, so a reader
    * can never observe the batch accepted but its rejects missing (or
    * vice versa). The residual window is a CRASH mid-pointer-swing
    * (accepted published, quarantine not — the same window every
    * transaction commit documents); failures, the common case, are
    * fully atomic. If the caller already opened a transaction on this
    * store, the appends stage inside IT and the caller owns the
    * commit (and its visibility). `df` must be DETERMINISTIC across the three passes (scan
    * or checkpointed frame): a nondeterministic source can make the
    * reported Outcome counts disagree with the rows committed. */
  def ingest(store: TableStore, table: String, df: DataFrame,
             rules: Seq[Rule]): Outcome = {
    val tagged = tag(df, rules)
    val r = tagged.agg(
      count(lit(1)).as("n"),
      count(when(size(col("__failed_rules")) > 0, 1)).as("bad")).first()
    val (total, nBad) = (r.getLong(0), r.getLong(1))
    val ownTxn = store.beginTransactionIfNone()
    try {
      if (total - nBad > 0)
        store.append(table,
          tagged.where(size(col("__failed_rules")) === 0)
            .drop("__failed_rules"))
      if (nBad > 0)
        store.append(s"${table}_quarantine",
          tagged.where(size(col("__failed_rules")) > 0)
            .withColumnRenamed("__failed_rules", "failed_rules"))
      if (ownTxn) store.commitTransaction()
    } catch { case t: Throwable =>
      if (ownTxn && store.inTransaction) store.rollbackTransaction()
      throw t
    }
    Outcome(total - nBad, nBad)
  }
}
