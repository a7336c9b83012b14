package graft.lake

import org.apache.spark.sql.SparkSession

/** Table-maintenance entry point — the scheduled companion to
  * IngestJob that keeps a 100 TB store healthy: recover claims
  * orphaned by crashed writers, sweep their unreferenced commit dirs,
  * fold merge-on-read delete debt — equality-delete entries AND
  * positional deletion vectors, which every read applies as a
  * driver-built hash-set filter — once the combined count crosses a
  * threshold (`deleteDebt` gauges both; `DESCRIBE DETAIL` breaks out
  * `n_dv_entries`/`dv_bytes`), and vacuum old snapshots.
  *
  * {{{
  *   spark-submit --class graft.lake.MaintenanceJob app.jar \
  *     --store_root s3a://bucket/lake --table survey_details \
  *     --claim_ttl_ms 3600000 --compact_debt 8 --vacuum_keep 3
  * }}}
  */
object MaintenanceJob {

  final case class Args(storeRoot: String, table: String,
                        claimTtlMs: Long = 60 * 60 * 1000L,
                        compactDebt: Int = 8, vacuumKeep: Int = 3,
                        compactSmallBytes: Long = 0L,
                        indexIdCol: String = "vec_id",
                        indexVecCol: String = "embedding")

  final case class Summary(recoveredClaims: Seq[Long],
                           sweptOrphanDirs: Seq[String],
                           compacted: Boolean,
                           smallFilesFolded: Int,
                           retainedVersions: Seq[Long],
                           txnsRolledForward: Seq[String] = Nil,
                           txnsRolledBack: Seq[String] = Nil,
                           bloomFilesIndexed: Int = 0,
                           indexesSynced: Seq[String] = Nil,
                           viewsRefreshed: Seq[String] = Nil)

  /** Defaults live ONLY on the Args case class; CLI flags override via
    * copy, so programmatic and CLI construction can't disagree. */
  def parseArgs(argv: Array[String]): Args = {
    val m = CliArgs.parse(argv, allowed = Set("store_root", "table",
      "claim_ttl_ms", "compact_debt", "vacuum_keep", "compact_small_bytes",
      "index_id_col", "index_vec_col"))
    val base = Args(CliArgs.required(m, "store_root"),
      CliArgs.required(m, "table"))
    val withTtl = m.get("claim_ttl_ms").map(_.toLong)
      .fold(base)(v => base.copy(claimTtlMs = v))
    val withDebt = m.get("compact_debt").map(_.toInt)
      .fold(withTtl)(v => withTtl.copy(compactDebt = v))
    val withKeep = m.get("vacuum_keep").map(_.toInt)
      .fold(withDebt)(v => withDebt.copy(vacuumKeep = v))
    val withSmall = m.get("compact_small_bytes").map(_.toLong)
      .fold(withKeep)(v => withKeep.copy(compactSmallBytes = v))
    val withId = m.get("index_id_col")
      .fold(withSmall)(v => withSmall.copy(indexIdCol = v))
    m.get("index_vec_col")
      .fold(withId)(v => withId.copy(indexVecCol = v))
  }

  /** One maintenance pass. Order matters: dead TRANSACTIONS resolve
    * first (a journaled crash mid-COMMIT rolls forward, an
    * unjournaled one rolls back — their claims and staged manifests
    * must not fall to blind takeover), then stale claims (unblocks
    * writers), orphan sweep (same TTL), bound-index sync while the
    * feed range is still append-only, compaction before vacuum
    * (vacuum then drops the superseded delete files once their
    * versions age out), and a second cursor catch-up sync between
    * compaction and vacuum so no index cursor is left below the
    * vacuum horizon. */
  def run(spark: SparkSession, args: Args): Summary = {
    val store = new TableStore(spark, args.storeRoot)
    val (txnFwd, txnBack) = store.recoverTransactions(args.claimTtlMs)
    val claims = store.recoverStaleClaims(args.table, args.claimTtlMs)
    val orphans = store.vacuumOrphans(args.table, args.claimTtlMs)
    // index freshness BEFORE the table's own compact/vacuum: every
    // vector index bound to this table pulls its change feed while
    // the range is still append-only (cheap, manifest-aware) and the
    // feed's manifests are guaranteed retained; this pass's own
    // OPTIMIZE lands in the NEXT sync range, where the content-
    // neutral short-circuit in `changes` keeps it free
    val synced1 = syncBoundIndexes(store, args)
    // materialized-view freshness rides the same window as index
    // sync: fold the feed while the range is still append-only, then
    // fold each refreshed view's accumulated partials (the refresh
    // path only ever appends; nothing else compacts view tables)
    val refreshed = refreshBoundViews(store, args)
    val compacted = store.deleteDebt(args.table) >= args.compactDebt
    if (compacted) store.compact(args.table)
    // small-file fold after debt compaction (it requires zero debt)
    // and before vacuum (the superseded tiny files age out with their
    // versions)
    val folded =
      if (args.compactSmallBytes > 0 && store.deleteDebt(args.table) == 0)
        store.compactSmall(args.table, args.compactSmallBytes)
      else 0
    // cursor catch-up BEFORE vacuum: this pass's own rewrites sit
    // between each index's sync cursor and the table head; advancing
    // the cursor over them now (an O(1) empty commit — the content-
    // neutral feed short-circuit) keeps it at the head, so the vacuum
    // below can never drop a manifest a future feed pull still needs
    val synced2 = syncBoundIndexes(store, args)
    val refreshed2 = refreshBoundViews(store, args)
    store.vacuum(args.table, keep = args.vacuumKeep)
    // last: refresh existing bloom indexes over the post-compaction
    // file set (O(files without an entry)) so AUTOMATIC bloom skipping
    // stays effective without user action; a compaction rewrite makes
    // this the full rebuild the stale index needed anyway
    val bloomed = store.refreshBloomIndexes(args.table)
    // per index, report the most informative entry across both sync
    // passes: a version-stamped "name@v" from either beats a bare
    // "already current" name
    def merged(a: Seq[String], b: Seq[String]): Seq[String] =
      (a ++ b).groupBy(_.takeWhile(_ != '@')).toSeq.sortBy(_._1)
        .map { case (n, es) =>
          es.filter(_.contains('@')).lastOption.getOrElse(n) }
    Summary(claims, orphans, compacted, folded, store.versions(args.table),
      txnFwd, txnBack, bloomed, merged(synced1, synced2),
      merged(refreshed, refreshed2))
  }

  /** Refresh every materialized view BOUND to `args.table` (its
    * `<mv>__def` companion names the table as source and the MV
    * manifest carries the `mv-sync-<table>` watermark), then fold the
    * refreshed view's partial rows — refresh only appends, so without
    * this fold a hot source grows the view's partial count without
    * bound. Returns "name@version" per refreshed view ("name" when
    * already current). Discovery is O(tables) metadata probes, no
    * data touched. */
  private def refreshBoundViews(store: TableStore, args: Args): Seq[String] = {
    // a view is bound to this table as its SOURCE (mv-sync) or, for a
    // join view, as its DIMENSION (mv-dimsync) — maintenance on either
    // side must catch the view up before vacuum drops feed manifests
    val apps = Seq(s"mv-sync-${args.table}", s"mv-dimsync-${args.table}")
    store.tables().sorted.flatMap { t =>
      val isBoundMv = !t.endsWith("__def") && store.exists(t + "__def") &&
        apps.exists(store.lastTxn(t, _).isDefined)
      if (!isBoundMv) None
      else {
        // "did the refresh land a delta?" is the VIEW's own version
        // advancing — watermark comparison alone misses a dim-only
        // fold, whose fact cursor stays put
        val before = store.currentVersion(t)
        val to = MaterializedView.refresh(store, t)
        if (store.currentVersion(t) == before)
          Some(t) // already current, no fold needed
        else {
          // a racing refresher can beat the fold to the snapshot —
          // defer to the next pass (the scheduled-job shape compact()
          // takes); the refresh above already landed, so the view is
          // fresh either way and only the partial fold waits
          try MaterializedView.compactPartials(store, t)
          catch { case _: SnapshotConflictException => () }
          Some(s"$t@$to")
        }
      }
    }
  }

  /** Sync every vector index BOUND to `args.table` (its lists/codes
    * table carries the `ivf-sync-<table>` watermark the
    * buildIvf[Pq]IndexFromTable bootstrap records) with the codec its
    * suffix names, then fold each synced index's own merge-on-read
    * debt — the `deleteFrom*`/sync paths accrue equality-delete
    * entries that otherwise grow unbounded, since nothing else
    * maintains index tables. Returns
    * "name@version" per synced index ("name" when already current).
    * Column names come from Args (`--index_id_col/--index_vec_col`):
    * indexes built with non-default columns declare them to the job.
    * Discovery is O(tables) `lastTxn` probes — head-manifest reads in
    * steady state, no data touched. */
  private def syncBoundIndexes(store: TableStore, args: Args): Seq[String] = {
    import graft.ops.VectorIndex
    val app = s"ivf-sync-${args.table}"
    store.tables().sorted.flatMap { t =>
      VectorIndex.indexOf(t).filter(_ => store.lastTxn(t, app).isDefined).map {
        case (name, codec) =>
          val to = VectorIndex.sync(store, name, codec, args.table, 0,
            args.indexIdCol, args.indexVecCol)
          if (store.deleteDebt(t) >= args.compactDebt) store.compact(t)
          to.fold(name)(v => s"$name@$v")
      }
    }
  }

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    val spark = SparkSession.builder()
      .appName(s"graft-maintenance-${args.table}")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    val s = run(spark, args)
    println(s"[graft] ${args.table}: claims=${s.recoveredClaims.mkString(",")} " +
      s"orphans=${s.sweptOrphanDirs.mkString(",")} compacted=${s.compacted} " +
      s"versions=${s.retainedVersions.mkString(",")} " +
      s"indexes=${s.indexesSynced.mkString(",")} " +
      s"views=${s.viewsRefreshed.mkString(",")}")
    spark.stop()
  }
}
