package graft.lake

import java.util.concurrent.atomic.AtomicLong

/** Driver-side metadata-operation counters, for specs that pin the
  * SHAPE of the metadata path rather than its result — e.g. "a table
  * read performs zero full manifest-directory listings once the
  * `_LATEST` checkpoint hint exists, no matter how many commits the
  * table has accrued" (the O(1)-metadata-read contract of
  * [[TableStore.currentVersion]]). Test-observability only: never
  * read by production logic. */
private[graft] object MetaMetrics {
  /** Full `manifest-<n>` directory listings (the O(#commits) path). */
  val manifestListings = new AtomicLong()

  /** Manifest file loads ([[TableStore]]'s one loader), so specs can
    * pin how often a read, a commit or a change feed opens each
    * version's manifest. Test observability only, like the rest. */
  val manifestLoads = new AtomicLong()

  /** MV definition loads that COLLECTED the 1-row `__def` table (a
    * Spark job) — the cache-miss path of [[MaterializedView]]'s def
    * cache; rewrite probes over a store with many views must answer
    * from the version-keyed cache, not a job per view per statement. */
  val mvDefLoads = new AtomicLong()

  /** Direct-plan analyses ([[MvRewrite]]'s schema-equality guard) —
    * at most ONE per rewritten statement regardless of how many
    * candidate views survive the structural match. */
  val mvDirectAnalyses = new AtomicLong()

  /** Lost version-claim races (the loser re-claims against the new
    * current — no data rewrite, just a manifest re-publish). */
  val claimConflicts = new AtomicLong()

  def reset(): Unit = {
    manifestListings.set(0)
    manifestLoads.set(0)
    mvDefLoads.set(0)
    mvDirectAnalyses.set(0)
    claimConflicts.set(0)
  }
}
