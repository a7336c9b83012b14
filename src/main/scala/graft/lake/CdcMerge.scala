package graft.lake

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The reference's MERGE primitive re-expressed as a Catalyst-planned
  * join (J1/J2, SURVEY §2.3).
  *
  * `MERGE INTO target USING updates ON target.pk = updates.pk
  *  WHEN MATCHED THEN DELETE` (icberg/iceberg_tables.py:45-50;
  * delta/delta_tables.py:159-160) removes every target row whose key
  * appears in the update batch. As a plan: a LEFT ANTI join on the key.
  *
  * Scale: the update side of a CDC merge is small post-dedup, so
  * Catalyst auto-broadcasts it (autoBroadcastJoinThreshold); the target
  * side streams through without a shuffle. Worst case both sides are
  * large → sort-merge join, one shuffle each — still the right plan.
  */
object CdcMerge {

  /** J1: delete-matched. A left anti join is already a key-set
    * subtraction (duplicate update keys change nothing), so the keys
    * go in as they are — no `distinct()` shuffle ahead of it. */
  def deleteMatched(target: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame =
    target.join(updates.select(keys.map(col): _*), keys, "left_anti")

  /** Full upsert-with-delete-propagation: target rows whose key is
    * updated are dropped, then surviving (non-tombstone) update rows are
    * appended. One DataFrame out — the caller commits it atomically
    * (vs. the reference's two separate commits, SURVEY §3.2 note). */
  def upsert(target: DataFrame, dedupedUpdates: DataFrame, keys: Seq[String],
             dropCols: Seq[String] = Seq("row_num", "Op")): DataFrame = {
    val afterDelete = deleteMatched(target, dedupedUpdates, keys)
    val survivors = graft.ops.Cdc.dropTombstones(dedupedUpdates).drop(dropCols: _*)
    afterDelete.unionByName(survivors, allowMissingColumns = true)
  }
}
