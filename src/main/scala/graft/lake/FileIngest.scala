package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** COPY INTO — idempotent, exactly-once FILE ingest (the Databricks
  * COPY INTO / Auto Loader batch shape, Iceberg's add_files cousin):
  * load a directory's files into a table such that re-running the
  * same command loads each file AT MOST ONCE, including under
  * concurrent runs AND under a crash at any point.
  *
  * Mechanism: the ledger of already-ingested file paths lives as
  * `#ingest=` header lines in the DATA TABLE'S OWN manifest (the
  * Delta SetTransaction pattern [[TableStore.overwriteTxn]] already
  * uses for streaming cursors), so the batch's rows and the ledger
  * entries that mark its files as done publish in ONE atomic pointer
  * swing ([[TableStore.appendIngest]]). There is no reachable state
  * in which the data is visible but the ledger is not — a crashed
  * run either published nothing (retry loads the batch once) or
  * everything (retry no-ops). The commit is snapshot-checked against
  * the version the ledger was read from, so two overlapping runs
  * cannot both load the same files: the loser aborts internally with
  * [[SnapshotConflictException]] and retries against the new ledger,
  * where the files are no longer fresh. Every other commit kind
  * carries the ledger lines forward, so later appends or overwrites
  * never forget what was ingested.
  *
  * Scale: the load reads ONLY fresh files — a daily drop into a
  * 100 TB table costs the day's files, never a rescan. Listing is
  * O(files under the source) driver-side metadata, but the ledger
  * consulted per run is bounded, not O(all history): each run
  * advances a per-source-root mtime WATERMARK (`#ingestwm=` header),
  * files older than `watermark - slackMs` are assumed ingested
  * without a ledger lookup, and ledger entries older than that bound
  * are pruned from the carried header — the manifest carries only
  * the recent-mtime window. The standard caveat of every
  * mtime-watermark loader applies: a file PLACED after runs advanced
  * the watermark but CARRYING an mtime older than the bound (a copy
  * preserving timestamps) is skipped; `slackMs` (default 1 h) is the
  * tolerance knob, and `slackMs = Long.MaxValue` disables the
  * watermark entirely for exact-but-O(history) behavior. */
object FileIngest {

  final case class Result(filesLoaded: Int, rowsLoaded: Long)

  /** Out-of-order-mtime tolerance; see the class note. */
  val DefaultSlackMs: Long = 60L * 60 * 1000

  private def slackFromEnv: Long =
    sys.env.get("SPARK_GRAFT_INGEST_SLACK_MS").map(_.toLong)
      .getOrElse(DefaultSlackMs)

  /** The table's CURRENT ingest state (empty for a table that never
    * saw COPY INTO) — the one resolution rule shared by the loader,
    * the ledger view, and DESCRIBE INGEST. */
  def state(store: TableStore, table: String): TableStore.IngestState =
    store.currentVersion(table)
      .map(store.ingestState(table, _)).getOrElse(TableStore.IngestState.empty)

  /** The ledger as a derived view — (file, mtime) per ingested source
    * file still inside the watermark window. Driver-side tiny (the
    * pruned header), for observability and specs. */
  def ledger(spark: SparkSession, store: TableStore,
             table: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    state(store, table).files.toSeq.sortBy(_._1).toDF("file", "mtime")
  }

  /** Load every not-yet-ingested data file under `srcPath` (a file or
    * a directory, recursively; `_`/`.`-prefixed entries skipped — the
    * same convention as the store's own listing) into `table`.
    * Creates the table on first run. Schema drift in a batch is
    * welcomed, not fatal: fresh files load with `mergeSchema` and the
    * table evolves union-by-name exactly like [[TableStore.append]]
    * (the reference's `mergeSchema: true` ingestion,
    * icberg/iceberg_tables.py:23). Returns how many files and rows
    * this run actually loaded. */
  /** `pattern`: optional glob over the path RELATIVE to `srcPath`
    * (Databricks COPY INTO's PATTERN option — e.g. `*.json`, or a
    * nested `dir/<star>/part-*.parquet` shape); non-matching files
    * are invisible to the run. Standard glob semantics (java.nio
    * PathMatcher): `*` does NOT cross `/`, `**` does — the behavior
    * every fnmatch/pathGlobFilter user expects; Hadoop's GlobPattern
    * would silently match into deeper directories. A pattern run
    * never ADVANCES the root's listing watermark (its listing proves
    * nothing about the files the pattern excluded — advancing would
    * make a later broader run silently skip them forever); it still
    * SKIPS by watermarks that unrestricted runs established, which
    * certify every then-present file. */
  def copyInto(spark: SparkSession, store: TableStore, table: String,
               srcPath: String, format: String = "parquet",
               slackMs: Long = slackFromEnv,
               pattern: Option[String] = None): Result = {
    val conf = spark.sessionState.newHadoopConf()
    val raw = new Path(srcPath)
    val rootFs = raw.getFileSystem(conf)
    require(rootFs.exists(raw), s"COPY INTO source $srcPath does not exist")
    val root = rootFs.makeQualified(raw).toString
    val matcher: String => Boolean = pattern match {
      case None => _ => true
      case Some(g) =>
        val m = java.nio.file.FileSystems.getDefault
          .getPathMatcher("glob:" + g)
        p => m.matches(java.nio.file.Paths.get(
          p.stripPrefix(root).stripPrefix("/")))
    }
    def bound(wm: Long): Long =
      if (wm == Long.MinValue || slackMs == Long.MaxValue) Long.MinValue
      else wm - slackMs
    // the highest watermark bound among the roots COVERING a path:
    // any such root's advanced watermark certifies that every
    // then-present file under it older than its bound was ingested,
    // so a file below that bound is skippable without a ledger entry
    // — crucially also for a DIFFERENT (new, nested, or enclosing)
    // root's first run, whose own watermark is still MinValue but
    // whose files a sibling watermark may already have pruned from
    // the ledger
    def coveredBound(wms: Map[String, Long])(path: String): Long =
      wms.collect { case (r, w) if path == r || path.startsWith(r + "/") =>
        bound(w)
      }.maxOption.getOrElse(Long.MinValue)
    var attempts = 0
    while (true) {
      attempts += 1
      // list + read the ledger fresh each attempt: a lost race means
      // someone else moved the table, and the decision must be remade
      val listed = FsListing.dataFilesWithTimes(new Path(root), conf)
        .filter(f => matcher(f._1))
      val dataV = store.currentVersion(table)
      val st = dataV.map(store.ingestState(table, _))
        .getOrElse(TableStore.IngestState.empty)
      val wm = st.watermarks.getOrElse(root, Long.MinValue)
      val skipBelow = coveredBound(st.watermarks) _
      val fresh = listed.filter { case (p, t) =>
        t >= skipBelow(p) && !st.files.contains(p)
      }
      if (fresh.isEmpty) return Result(0, 0L)
      val df = spark.read.option("mergeSchema", "true").format(format)
        .load(fresh.map(_._1): _*)
      // a PATTERN run must not advance the watermark: its listing
      // says nothing about the excluded files (see scaladoc)
      val newWms =
        if (pattern.isDefined) st.watermarks
        else st.watermarks + (root -> math.max(wm, listed.map(_._2).max))
      // prune entries every later run will skip by the mtime rule
      // anyway — this is what keeps the header O(window), not
      // O(history). The prune bound and the skip bound are the SAME
      // function over the same watermark set, so an entry is dropped
      // exactly when no future run (under any recorded root) could
      // need it. One wrinkle: a source file OVERWRITTEN in place is
      // skipped by path while its entry still carries the OLD mtime —
      // refresh a still-listed file's entry to max(recorded, listed)
      // so the entry can never prune while the file itself still
      // looks fresh (pruning at the stale mtime would make the next
      // run reload the file and duplicate its original rows)
      val listedTimes = listed.toMap
      val refreshed = st.files.map { case (p, t) =>
        p -> math.max(t, listedTimes.getOrElse(p, t)) }
      val pruneBelow = coveredBound(newWms) _
      val entries = (refreshed ++ fresh).filter { case (p, t) =>
        t >= pruneBelow(p) }
      val lines = entries.toSeq.sortBy(_._1)
        .map { case (p, t) => Manifest.ingestLine(t, p) } ++
        newWms.toSeq.sortBy(_._1)
          .map { case (r, t) => Manifest.ingestWmLine(t, r) }
      try {
        // the commit folds parquet footer row counts into the stats
        // sidecar anyway — the exactness report rides that, so the
        // batch is read ONCE (by the write), never a second counting
        // pass; at a daily 100 TB drop that's one read, not two. -1
        // (a source with a real __rows column) falls back to counting.
        val committed = dataV match {
          case Some(v) => store.appendIngest(table, df, lines, v)
          case None =>
            try store.createIngest(table, df, lines)
            catch {
              // racing first runs: the create loser retries as append
              case e: IllegalArgumentException
                  if e.getMessage.contains("already exists") =>
                throw new SnapshotConflictException(e.getMessage)
            }
        }
        val n = if (committed >= 0) committed else df.count()
        return Result(fresh.size, n)
      } catch {
        case e: SnapshotConflictException =>
          // a concurrent commit (often another COPY INTO) won; the
          // retry recomputes freshness and usually no-ops
          if (attempts >= 20) throw e
      }
    }
    Result(0, 0L) // unreachable
  }
}
