package graft.lake

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, count, countDistinct, expr, input_file_name, lit, sum, udf, when}

import java.nio.charset.StandardCharsets
import java.util.UUID

/** Versioned Parquet table store: ACID-ish table semantics
  * (create / append / overwrite / exists / read / time travel / vacuum)
  * over plain Parquet, replacing the reference's Iceberg v2 / Delta
  * destinations (icberg/iceberg_tables.py:112 `.writeTo(...).create()`,
  * delta/delta_tables.py:131,:166) — no connector jars are available.
  *
  * Protocol (Delta paper, VLDB 2020, simplified to per-version
  * manifests + a pointer):
  *
  * {{{
  *   <root>/<table>/d-<uuid>/part-*.parquet  data files of ONE commit
  *   <root>/<table>/manifest-<n>             version n: table metadata + files
  *   <root>/<table>/_LATEST                  checkpoint hint (a lower bound)
  * }}}
  *
  * Commit: write the batch's data files into a fresh `d-<uuid>` dir
  * (never shared between writers), then CLAIM version n exclusively
  * via the pluggable [[CommitPrimitive]] — O_EXCL file create on
  * file://‌/HDFS (the default), conditional PUT on S3-class object
  * stores: the loser gets a conflict and retries against the new
  * current version, so concurrent appends serialize instead of
  * silently losing a batch. The winner then publishes `manifest-<n>`
  * all-or-nothing (temp + rename-overwrite, or one atomic object
  * PUT); manifests are the only source of truth (`currentVersion` =
  * max manifest). A writer crashing between claim and manifest
  * publish leaves a stale `.claim-<n>` that blocks the version —
  * `recoverStaleClaims` gives claims a TTL (Delta LogStore-style
  * lock takeover).
  *
  * Scale design: `append` is O(batch), not O(table) — it writes only
  * the new files and its manifest carries the previous version's files
  * forward by reference (what makes 100 TB tables appendable).
  * `overwritePartitions` extends the same carry-by-reference trick to
  * partitioned tables, so a CDC merge rewrites only the partitions
  * holding matched keys (O(touched), not O(table));
  * `appendWithDeletes` goes further — merge-on-read equality deletes
  * (Iceberg v2 style) make a merge O(batch) with zero rewrite, paying
  * one delete-set filter per commit group at read until `compact`. Full
  * `overwrite` rewrites by nature. Reads
  * resolve a manifest once and only ever see fully-written, immutable
  * files. Time travel reads any retained manifest; `vacuum` deletes
  * data files unreferenced by retained versions and their manifests —
  * a vacuumed version then fails loudly on read instead of returning
  * partial data.
  *
  * Driver-side metadata bounds (the documented scale envelope, same
  * class as OSS Delta's driver-side log replay): the current-version
  * lookup is O(1) via the `_LATEST` checkpoint hint; a READ holds one
  * manifest (one line per live file) and one stats sidecar
  * (O(files × tracked columns) small entries) in driver memory — at
  * 10^6 files ≈ low hundreds of MB, the practical per-table ceiling
  * before partitioning into more tables (Delta's checkpoint-parquet
  * answer to the same wall is a format change, out of scope here).
  * Bloom probes never materialize per-file key sets beyond
  * `MaxBloomRejects` (excess files stay in the plan conservatively),
  * and bloom maintenance resolves membership with anti-joins, not
  * collected sets.
  */
final class TableStore(private[graft] val spark: SparkSession,
                       root: String,
                       primitive: Option[CommitPrimitive] = None) {

  /** The store's root directory (for opening a second, independent
    * reader over the same tables). */
  def rootPath: String = root

  private val hadoopConf = spark.sessionState.newHadoopConf()
  private val claims: CommitPrimitive =
    primitive.getOrElse(new HadoopCommitPrimitive(hadoopConf))
  private def fs(p: Path): FileSystem = p.getFileSystem(hadoopConf)
  /** Fully-qualified table path — manifests store qualified URIs so
    * relative or scheme-qualified roots behave identically. */
  private def tablePath(table: String): Path = {
    val raw = new Path(root, table)
    fs(raw).makeQualified(raw)
  }
  private def manifestPath(table: String, v: Long): Path =
    new Path(tablePath(table), s"manifest-$v")

  // ----- cross-table transaction staging -------------------------------
  // While a transaction is active on THIS store instance, every commit
  // stages its manifest under `staged-<txn>-manifest-<v>` instead of
  // publishing it. Claims are taken normally, so concurrent writers
  // block on the claimed versions (lock semantics) and nothing can
  // interleave; only this instance resolves staged manifests when
  // reading, so other readers keep seeing the pre-transaction state.
  // COMMIT swings each staged manifest to its final name in commit
  // order — rename per table is the atomic publication; a crash
  // mid-swing is the residual window (same class as claim-TTL
  // takeover), after which recoverStaleClaims + vacuumOrphans clean
  // the stale halves. ROLLBACK deletes the staged manifests and
  // releases the claims; orphaned data dirs fall to vacuumOrphans.
  @volatile private var activeTxn: Option[String] = None
  private val stagedCommits =
    scala.collection.mutable.ArrayBuffer.empty[(String, Long)]

  private def stagedManifestPath(txn: String, table: String, v: Long): Path =
    new Path(tablePath(table), s"staged-$txn-manifest-$v")

  /** Where to READ version `v`'s manifest from: the transaction's
    * staged copy if this instance staged one, else the published
    * path. Takes the monitor so the (activeTxn, stagedCommits) pair
    * is read atomically — a reader racing a staging append on the
    * same instance must see either both or neither, never torn
    * state. */
  private def manifestFile(table: String, v: Long): Path = synchronized {
    activeTxn match {
      case Some(txn) if stagedCommits.contains((table, v)) =>
        stagedManifestPath(txn, table, v)
      case _ => manifestPath(table, v)
    }
  }

  /** Begin a cross-table transaction on this store instance: commits
    * stage invisibly until [[commitTransaction]]; see the staging
    * notes above. One transaction per instance at a time. */
  def beginTransaction(): Unit = synchronized {
    require(activeTxn.isEmpty, "a transaction is already active")
    activeTxn = Some(UUID.randomUUID().toString.take(8))
    stagedCommits.clear()
  }

  private def txnDir: Path = {
    val raw = new Path(root, "_txn")
    fs(raw).makeQualified(raw)
  }
  private def intentPath(txn: String): Path = new Path(txnDir, s"commit-$txn")

  /** Commit intents journaled but not yet erased: txn id → the
    * (table, version) pairs its COMMIT promised to publish. A pending
    * intent means the decision to commit was DURABLE — recovery rolls
    * those transactions forward, never back. */
  private def pendingIntents(): Map[String, Seq[(String, Long)]] = {
    val d = txnDir
    val f = fs(d)
    if (!f.exists(d)) Map.empty
    else f.listStatus(d).toSeq
      .filter(_.getPath.getName.startsWith("commit-"))
      .flatMap { st =>
        val txn = st.getPath.getName.stripPrefix("commit-")
        // intents are short-lived (they exist only during a COMMIT's
        // swing window): one listed here may legitimately vanish
        // before we read it — the live writer finished; skip it
        try {
          val pairs = readSmallFile(st.getPath).split("\n").toSeq
            .filter(_.nonEmpty).map { l =>
              val i = l.lastIndexOf('\t')
              (l.substring(0, i), l.substring(i + 1).toLong)
            }
          Some(txn -> pairs)
        } catch { case _: java.io.FileNotFoundException => None }
      }.toMap
  }

  /** Publish every staged commit, in commit order, by renaming each
    * staged manifest to its final name. The COMMIT decision is made
    * durable FIRST — an intent record under `_txn/` listing every
    * pair to swing — then the pointers swing, then the intent is
    * erased. A crash anywhere mid-swing therefore leaves a
    * deterministic recovery: intent present → [[recoverTransactions]]
    * promotes the remaining staged manifests (roll forward, the
    * transaction happened); intent absent → it discards them (roll
    * back, it never happened). No half-applied final state
    * survives recovery. */
  def commitTransaction(): Unit = synchronized {
    val txn = activeTxn.getOrElse(
      throw new IllegalStateException("no active transaction"))
    if (stagedCommits.nonEmpty) {
      val d = txnDir
      if (!fs(d).exists(d)) fs(d).mkdirs(d)
      // the journal write is the commit POINT OF NO RETURN: atomic
      // publish via the same primitive as manifests. A promote
      // failure below leaves the transaction state intact — the
      // caller may RETRY commitTransaction (already-promoted pairs
      // are skipped, making it resumable) or leave the intent for
      // recoverTransactions; rollbackTransaction refuses once the
      // intent is durable, so the decision can never be half-undone.
      claims.publish(intentPath(txn),
        stagedCommits.map { case (t, v) => s"$t\t$v" }.mkString("\n"))
      stagedCommits.foreach { case (table, v) =>
        // the primitive owns atomic publication (rename on FS backends,
        // read+atomic-PUT on S3-class stores) — never raw FileSystem ops
        promoteIfPending(txn, table, v)
      }
      fs(intentPath(txn)).delete(intentPath(txn), false)
    }
    stagedCommits.clear()
    activeTxn = None
  }

  /** Promote (table, v)'s staged manifest unless the final manifest
    * already landed — makes commit/recovery promotion idempotent and
    * tolerant of a racing janitor (the loser's vanished-source rename
    * is benign iff the destination exists: same bytes either way). */
  private def promoteIfPending(txn: String, table: String, v: Long): Unit = {
    val dst = manifestPath(table, v)
    val sp = stagedManifestPath(txn, table, v)
    if (!fs(dst).exists(dst) && fs(sp).exists(sp)) {
      try claims.promote(sp, dst, hadoopConf)
      catch { case scala.util.control.NonFatal(t) =>
        if (!fs(dst).exists(dst)) throw t
      }
    }
    // A journaled intent must end with the final manifest in place.
    // If BOTH the staged source and the destination are missing, the
    // staged manifest was discarded out from under this transaction
    // (e.g. a janitor's TTL rollback raced a still-live writer) —
    // fail loudly instead of reporting a half-applied commit as
    // success, which is the exact state the journal exists to prevent.
    if (!fs(dst).exists(dst))
      throw new IllegalStateException(
        s"staged manifest for ($table,$v) in txn $txn vanished before " +
          "promotion — a concurrent recovery likely rolled this " +
          "transaction back; the commit cannot complete atomically")
    writeLatestHint(table, v)
  }

  /** Abort the active transaction: delete every staged manifest and
    * release its claim. Staged data dirs become orphans for
    * [[vacuumOrphans]]. REFUSED once a COMMIT journaled its intent —
    * the decision is durable, and discarding the not-yet-promoted
    * staged manifests would strand the transaction permanently
    * half-applied (retry [[commitTransaction]], or let
    * [[recoverTransactions]] finish the swing). */
  def rollbackTransaction(): Unit = synchronized {
    val txn = activeTxn.getOrElse(
      throw new IllegalStateException("no active transaction"))
    val ip = intentPath(txn)
    if (fs(ip).exists(ip))
      throw new IllegalStateException(
        s"transaction $txn already journaled its commit intent; it can " +
          "only roll FORWARD — retry commitTransaction or run " +
          "recoverTransactions")
    stagedCommits.reverseIterator.foreach { case (table, v) =>
      claims.discard(stagedManifestPath(txn, table, v), hadoopConf)
      claims.deleteClaim(tablePath(table), v)
    }
    stagedCommits.clear()
    activeTxn = None
  }

  /** Recovery for transactions whose writer died: scan every table
    * for `staged-<txn>-manifest-<v>` leftovers older than `ttlMs`
    * (the same takeover-safety margin as [[recoverStaleClaims]] — a
    * younger one may belong to a live writer) and resolve each dead
    * transaction DETERMINISTICALLY from its journal: a pending
    * `_txn/commit-<txn>` intent means COMMIT was decided — promote
    * every remaining staged manifest (roll forward; already-promoted
    * pairs are skipped), then erase the intent; no intent means it
    * never committed — discard the staged manifests and release
    * their claims (roll back). Either way, afterwards ALL of the
    * transaction's tables advanced or NONE did. Returns
    * (rolled-forward txn ids, rolled-back txn ids). */
  def recoverTransactions(ttlMs: Long): (Seq[String], Seq[String]) = {
    val now = System.currentTimeMillis()
    val StagedRe = "staged-([^-]+)-manifest-([0-9]+)".r
    // (txn, table, v, mtime) of every staged manifest in the store
    val staged = tablesWithDirs().flatMap { case (table, dir) =>
      val f = fs(dir)
      f.listStatus(dir).toSeq.flatMap { st =>
        st.getPath.getName match {
          case StagedRe(txn, v) =>
            Some((txn, table, v.toLong, st.getModificationTime))
          case _ => None
        }
      }
    }
    val intents0 = pendingIntents()
    // an intent can vanish between the listing and this stat — the
    // live writer completed its COMMIT; that txn is resolved, skip it
    val intentAge: Map[String, Long] = intents0.keys.flatMap { txn =>
      try Some(txn -> (now - fs(intentPath(txn))
        .getFileStatus(intentPath(txn)).getModificationTime))
      catch { case _: java.io.FileNotFoundException => None }
    }.toMap
    val intents = intents0.filter(kv => intentAge.contains(kv._1))
    val forward = scala.collection.mutable.ListBuffer.empty[String]
    val back = scala.collection.mutable.ListBuffer.empty[String]
    // roll FORWARD every dead transaction with a durable intent —
    // including one whose staged files were all promoted already
    // (crash between the last swing and the intent erase)
    intents.foreach { case (txn, pairs) =>
      val stagedOf = staged.filter(_._1 == txn)
      val age = (stagedOf.map(s => now - s._4) :+ intentAge(txn)).min
      if (age >= ttlMs) {
        pairs.foreach { case (table, v) => promoteIfPending(txn, table, v) }
        fs(intentPath(txn)).delete(intentPath(txn), false)
        forward += txn
      }
    }
    // roll BACK dead transactions that never journaled a commit
    staged.groupBy(_._1).foreach { case (txn, ss) =>
      if (!intents.contains(txn) && ss.forall(s => now - s._4 >= ttlMs)) {
        ss.foreach { case (_, table, v, _) =>
          claims.discard(stagedManifestPath(txn, table, v), hadoopConf)
          if (!fs(manifestPath(table, v)).exists(manifestPath(table, v)))
            claims.deleteClaim(tablePath(table), v)
        }
        back += txn
      }
    }
    (forward.toSeq.sorted, back.toSeq.sorted)
  }

  /** Directories under the root that are store tables OR contain
    * staged transaction leftovers — recovery must see a table whose
    * only content is a staged first commit. */
  private def tablesWithDirs(): Seq[(String, Path)] = {
    val r = fs(new Path(root)).makeQualified(new Path(root))
    val f = fs(r)
    if (!f.exists(r)) Seq.empty
    else f.listStatus(r).toSeq.filter(_.isDirectory)
      .map(st => (st.getPath.getName, st.getPath))
      .filterNot(_._1 == "_txn")
  }

  /** Atomically begin a transaction IF none is active; true iff THIS
    * call opened it (the caller then owns commit/rollback). The
    * check-and-begin is one synchronized step, so two threads racing
    * to wrap their own work can never both believe they own the
    * ambient transaction. */
  def beginTransactionIfNone(): Boolean = synchronized {
    if (activeTxn.isDefined) false
    else {
      activeTxn = Some(UUID.randomUUID().toString.take(8))
      stagedCommits.clear()
      true
    }
  }

  /** Whether a transaction is active on this instance. */
  def inTransaction: Boolean = activeTxn.isDefined
  // ---------------------------------------------------------------------

  /** S5: table-exists probe (icberg/iceberg_tables.py:73-78). */
  def exists(table: String): Boolean = currentVersion(table).isDefined

  /** Highest committed version (published manifests are the sole
    * source of truth). O(1) metadata: resolved through the `_LATEST`
    * checkpoint hint + forward existence probes, NOT by listing every
    * `manifest-<n>` — a streaming table at one commit per micro-batch
    * accrues ~86k manifests/day, and the hot read path must not pay a
    * directory listing that grows with table age (the `_last_
    * checkpoint` idea from the Delta paper, reduced to a pointer:
    * manifests here are already self-contained — each carries the
    * full file list and headers — so no log-replay rollup is
    * needed, only an entry point). */
  def currentVersion(table: String): Option[Long] =
    (publishedCurrent(table).toSeq ++ stagedVersions(table)).maxOption

  /** This instance's own staged commits of `table`: visible to itself
    * (a transaction reads its earlier writes), invisible to every other
    * reader until the commit swing. */
  private def stagedVersions(table: String): Seq[Long] = synchronized {
    if (activeTxn.isEmpty) Nil
    else stagedCommits.collect { case (t, v) if t == table => v }.toSeq
  }

  private def latestHintPath(table: String): Path =
    new Path(tablePath(table), "_LATEST")

  /** Best-effort checkpoint-hint write: DELETE the old hint, then
    * publish the new one through the commit primitive (readers never
    * see a torn file on rename-capable backends). The publish is then
    * a rename onto a free name: a rename that replaces an existing
    * file forces a data flush on ext4 (`auto_da_alloc`; ~50 ms against
    * ~0.1 ms for a 2-byte file on a 4-core VM's disk), which every
    * commit would otherwise pay. Between the
    * delete and the publish the hint is missing, the state a reader
    * already handles: [[publishedCurrent]] takes the listing fallback
    * and repairs the hint. Every value written is a published
    * version, so the hint stays a lower bound even when writers race.
    * The hint is an OPTIMIZATION, never a source of truth: a failed
    * write merely leaves the next reader a longer forward probe or
    * the listing fallback. */
  private def writeLatestHint(table: String, v: Long): Unit =
    try {
      val p = latestHintPath(table)
      fs(p).delete(p, false)
      claims.publish(p, v.toString)
    } catch { case scala.util.control.NonFatal(_) => () }

  /** The hint is trusted only as a LOWER bound on published versions:
    * even a torn plain-file write can only truncate the decimal to a
    * prefix, which is numerically smaller — the forward probe then
    * recovers the rest. Unparseable/missing → None → full-listing
    * fallback. */
  private def readLatestHint(table: String): Option[Long] = {
    val p = latestHintPath(table)
    try {
      if (!fs(p).exists(p)) None
      else Some(readSmallFile(p).trim.toLong)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Highest PUBLISHED version. Fast path: hint + forward probes —
    * O(commits since the hint was written), i.e. O(1) amortized, vs
    * the O(#commits-ever) directory listing. Published versions are
    * dense upward from the hint (claims serialize writers to
    * current+1; vacuum only removes versions below the retained
    * window), so the first missing `manifest-(v+1)` is the frontier.
    * A hint pointing at a since-vacuumed version falls back to the
    * full listing and repairs itself, and so does a missing hint —
    * including one a writer has just deleted and not yet republished
    * ([[writeLatestHint]]): the listing sees every published manifest,
    * so the fallback is slower in that window, never wrong. */
  private def publishedCurrent(table: String): Option[Long] =
    readLatestHint(table) match {
      case Some(h) if manifestPublished(table, h) =>
        var v = h
        while (manifestPublished(table, v + 1)) v += 1
        Some(v)
      case _ =>
        val cur = listedPublished(table).lastOption
        cur.foreach(writeLatestHint(table, _))
        cur
    }

  private def manifestPublished(table: String, v: Long): Boolean = {
    val m = manifestPath(table, v)
    fs(m).exists(m)
  }

  /** `o` (the table's current version, or the version a claim
    * supersedes), failing loudly when the table does not exist. */
  private def existing[A](table: String, o: Option[A]): A =
    o.getOrElse(throw new IllegalStateException(s"table $table does not exist"))

  /** S3/S4: destination table scan of the current committed version.
    * Stats-sidecar file skipping is AUTOMATIC here: the scan is built
    * over a [[StatsFileIndex]], so `read(t).where(pred)` drops
    * non-intersecting files when Catalyst pushes `pred` down — every
    * front-door path (SQL SELECT included) gets the same pruning. */
  def read(table: String): DataFrame = {
    val v = existing(table, currentVersion(table))
    readVersion(table, v)
  }

  /** Time-travel read of a retained version — fails loudly if the
    * version was vacuumed (its manifest is gone). Commit groups are
    * read in manifest order (carried files precede each append), so
    * evolved columns land after the original schema deterministically.
    *
    * Merge-on-read: `del|` manifest entries are equality-delete files
    * (their columns = the delete key). A delete applies to every data
    * group that appears BEFORE it in the manifest — within one commit
    * the delete lines precede the commit's own data files, so a batch
    * can delete-and-reinsert a key atomically. Each affected group
    * drops the rows in the union of its later delete sets (one filter
    * over driver-built hash sets, see [[DeleteSet]]); `compact` folds
    * the debt away. */
  def readVersion(table: String, v: Long): DataFrame =
    readManifest(table, v, load(table, v))

  /** Version `v`'s rows viewed under version `schemaV`'s column
    * mapping — how `changes(_, fromV, toV)` sees its fromV endpoint.
    * Exposed within the package for feed-telescoping assertions. */
  private[lake] def readVersionAs(table: String, v: Long,
                                  schemaV: Long): DataFrame =
    load(table, schemaV).columnMapping.applyRead(
      readLines(table, v, load(table, v), statsRejects = statsRejectsFor(table, v)))

  /** Version `v`'s rows from its loaded manifest `m`, logical names. */
  private def readManifest(table: String, v: Long, m: Manifest,
                           withRowId: Boolean = false): DataFrame =
    m.columnMapping.applyRead(readLines(table, v, m, withRowId,
      statsRejects = statsRejectsFor(table, v)))

  /** Raw (physical) rows of the files `m` lists — `m` is version `v`'s
    * manifest or a subset of its lines. With no data file at all the
    * result is an empty frame of the schema `v`'s commit recorded. */
  private def readLines(table: String, v: Long, m: Manifest,
                        withRowId: Boolean = false,
                        statsRejects: Seq[org.apache.spark.sql.catalyst.expressions.Expression] => Set[String] =
                          _ => Set.empty): DataFrame = {
    val lines = m.lines
    // Commit group = the d-<uuid> dir the file was written into. Find
    // it by the path component, NOT by stripping this table's prefix:
    // a shallow clone's manifest references files under the SOURCE
    // table's root, and those must group (and resolve hive partition
    // columns via basePath) exactly as they do there.
    def baseOf(f: String): String = {
      val segs = f.split('/')
      // LAST match: the commit dir sits directly above the file (or
      // its hive partition dirs, which always carry '='); a first
      // match could hit a uuid-shaped segment in the store root path
      // and collapse every commit into one group
      val i = segs.lastIndexWhere(s => CommitDirPattern.matches(s))
      if (i >= 0) segs.take(i + 1).mkString("/")
      else {
        // foreign file (CONVERTed in place): the dataset root is the
        // path minus the file name and any trailing hive k=v dirs —
        // prefix-independent, so clones of converted tables group and
        // resolve partition columns identically
        val dirSegs = segs.dropRight(1).reverse
          .dropWhile(_.contains("=")).reverse
        dirSegs.mkString("/")
      }
    }
    def at(kind: String => Boolean) = lines.zipWithIndex.collect {
      case (l, i) if kind(l) => (Manifest.lineFile(l), i) }
    val dels = at(Manifest.isDelLine)
    val dvs = at(Manifest.isDvLine)
    val data = at(!Manifest.isDeleteLine(_))
    if (data.isEmpty) return emptyFrame(table, v, m, withRowId)
    val groups = data.groupBy { case (f, _) => baseOf(f) }.toSeq
      .map { case (base, fs) => (base, fs.map(_._1), fs.map(_._2).min) }
      .sortBy(_._3)
    // Scan-run coalescing (round-15, guide §1/§6): one
    // InMemoryFileIndex + scan branch per commit group makes a read
    // O(groups) in fixed overhead (~35 ms/group measured) — an
    // n-append table pays n listings, n relations and an n-way union
    // EVERY read. Consecutive groups serve from ONE scan when
    //  (a) the same delete/DV sets apply to both (no delete line
    //      lands between them in the manifest — the merge-on-read
    //      case analysis is then identical),
    //  (b) their footer schemas are IDENTICAL (the merged scan then
    //      equals what unionByName over the per-group scans produces,
    //      column order included), and
    //  (c) every file sits directly under its commit dir (no hive
    //      partition dirs, so basePath-driven partition resolution is
    //      a no-op for the multi-root index).
    // Schemas come from the SchemaCache with no Spark job: the one
    // its commit seeded under the commit dir name, else (a foreign or
    // CONVERTed dir) the one an earlier statsScan inferred under the
    // exact manifest files' identity. A group whose schema is not
    // cached stays a single-group scan (its statsScan run caches it
    // for the next read).
    final case class Grp(base: String, minIdx: Int,
                         delSet: Seq[String], dvSet: Seq[String],
                         flat: Boolean,
                         metas: Seq[(String, Long, Long)],
                         schema: Option[org.apache.spark.sql.types.StructType])
    val infos = groups.map { case (base, files, minIdx) =>
      val flat = files.forall(f => f.length > base.length + 1 &&
        !f.substring(base.length + 1).contains('/'))
      // a data file the manifest lists but the filesystem can't stat
      // is lost data: fail the read naming it, never skip its rows
      val metas = files.map { f =>
        val (len, mt) = FsListing.fileMeta(new Path(f), hadoopConf).getOrElse(
          throw new java.io.FileNotFoundException(
            s"data file $f of table $table is missing"))
        (f, len, mt)
      }
      // schema (for run merging) only matters for flat groups —
      // partitioned groups never coalesce
      val schema =
        if (!flat) None
        else commitDirSchema(files.map(new Path(_)))
          .orElse(SchemaCache.get(SchemaCache.keyOf(
            metas.map { case (f, len, mt) => s"$f#$len#$mt" })))
      Grp(base, minIdx,
        dels.collect { case (f, i) if i > minIdx => f },
        dvs.collect { case (f, i) if i > minIdx => f },
        flat, metas, schema)
    }
    val runs = infos.foldLeft(Vector.empty[Vector[Grp]]) { (acc, g) =>
      acc.lastOption match {
        case Some(run) if run.head.flat && g.flat &&
            run.head.schema.isDefined && run.head.schema == g.schema &&
            run.head.delSet == g.delSet && run.head.dvSet == g.dvSet =>
          acc.init :+ (run :+ g)
        case _ => acc :+ Vector(g)
      }
    }
    runs.map { run =>
      val minIdx = run.head.minIdx
      val metas = run.flatMap(_.metas)
      val raw =
        if (run.size == 1)
          statsScan(Some(run.head.base), metas, statsRejects,
            (c, k) => bloomRejectsCached(table, c, k),
            knownSchema = run.head.schema, flat = run.head.flat)
        else
          statsScan(None, metas, statsRejects,
            (c, k) => bloomRejectsCached(table, c, k),
            knownSchema = run.head.schema, flat = true)
      // positional deletion vectors (Iceberg/Delta DV shape): rows are
      // identified by (file, row position in file) — `_metadata`
      // columns, zero storage cost on the data. A vector applies to
      // groups BEFORE it in the manifest, same rule as equality
      // deletes. Both delete kinds are KB-sized, so the group's merge
      // is one filter over driver-built delete sets (DeleteSet).
      val dvApplicable = dvs.collect { case (f, i) if i > minIdx => f }
      val applicable = dels.collect { case (f, i) if i > minIdx => f }
      val tagged =
        if (dvApplicable.isEmpty && !withRowId) raw
        else raw.select(col("*"),
          col("_metadata.file_path").as(RowFileCol),
          col("_metadata.row_index").as(RowPosCol))
      val deleted = Option.when(dvApplicable.nonEmpty)(inVectors(dvApplicable)) ++
        Option.when(applicable.nonEmpty)(
          DeleteSet.inKeys(spark, hadoopConf, applicable, tagged))
      val kept = deleted.reduceOption(_ || _).fold(tagged)(d => tagged.where(!d))
      if (withRowId || dvApplicable.isEmpty) kept
      else kept.drop(RowFileCol, RowPosCol)
    }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** A zero-file version's rows: none, under the physical schema its
    * commit recorded. A manifest written before the `#schema=` header
    * has no schema to offer, so the read fails naming the version. */
  private def emptyFrame(table: String, v: Long, m: Manifest,
                         withRowId: Boolean): DataFrame = {
    val schema = m.physicalSchema.getOrElse(throw new IllegalStateException(
      s"version $v of $table has no data file and records no schema"))
    spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      if (withRowId) schema.add(RowFileCol, "string").add(RowPosCol, "long") else schema)
  }

  /** A row-id-tagged read's row sits at a position vectors `files`
    * hold. */
  private def inVectors(files: Seq[String]): Column =
    DeleteSet.inVectors(spark, hadoopConf, files, DvSchema,
      col(RowFileCol), col(RowPosCol))

  /** One commit group's scan over its manifest files' (path, length,
    * mtime), built the way `spark.read.parquet` builds it (same
    * mergeSchema inference, same basePath partition resolution) but
    * over a [[StatsFileIndex]] so the sidecar's per-file
    * min/max/null stats prune files at predicate-pushdown time — the
    * DEFAULT read path's automatic data skipping. With no stats
    * recorded the index degenerates to the plain file list. */
  private def statsScan(base: Option[String], metas: Seq[(String, Long, Long)],
                        statsRejects: Seq[org.apache.spark.sql.catalyst.expressions.Expression] => Set[String],
                        bloomRejects: (String, String) => Option[Set[String]] =
                          (_, _) => None,
                        knownSchema: Option[org.apache.spark.sql.types.StructType] =
                          None,
                        flat: Boolean = false)
      : DataFrame = {
    import org.apache.spark.sql.execution.datasources.{FileIndex, GraftManifestIndex, HadoopFsRelation}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    // base is absent for coalesced multi-group scans (flat files only
    // — no partition resolution to anchor; see readLines), present
    // for the single-group scan spark.read.parquet would build.
    val opts = Map("mergeSchema" -> "true") ++ base.map("basePath" -> _)
    // the index comes straight off the manifest metadata — no Hadoop
    // listing, no per-file permission fork: flat groups via the
    // trivial ManifestFileIndex, hive-partitioned ones via
    // GraftManifestIndex (PartitioningAwareFileIndex fed our statuses,
    // so partition inference/pruning are Spark's own code verbatim)
    val (index, partSchema, listed) =
      if (flat) {
        val mfi = new ManifestFileIndex(metas)
        (mfi: FileIndex, mfi.partitionSchema, mfi.allFiles)
      } else {
        val sts = metas.map { case (p, len, mt) =>
          new org.apache.hadoop.fs.FileStatus(len, false, 1,
            128L * 1024 * 1024, mt, new Path(p)) }
        val gmi = new GraftManifestIndex(spark, opts, sts)
        (gmi: FileIndex, gmi.partitionSchema, gmi.allFiles())
      }
    val fmt = new ParquetFileFormat
    // merge-inference launches a DISTRIBUTED footer job per CALL.
    // Coalesced scans supply the schema (their merge precondition is
    // that every group's schema is cached and equal), so they never
    // infer. Files of one commit dir, any subset of them, take the
    // schema their commit seeded under the dir name. Anything else (a
    // foreign or CONVERTed dir) infers once and caches the merged
    // schema on the listed (path, size, mtime) identity, which is
    // immutable (SchemaCache doc); the listing already happened
    // above, so the key costs no extra IO.
    val dataSchema = knownSchema
      .orElse(commitDirSchema(listed.map(_.getPath).toSeq))
      .getOrElse {
        val key = SchemaCache.keyOf(listed.map(f =>
          s"${f.getPath}#${f.getLen}#${f.getModificationTime}").toSeq)
        SchemaCache.getOrInfer(key) {
          fmt.inferSchema(spark, opts, listed).getOrElse(
            throw new IllegalStateException(
              s"could not infer parquet schema under ${base.getOrElse(metas.head._1)}"))
        }
      }
    val rel = HadoopFsRelation(new StatsFileIndex(index, statsRejects, bloomRejects),
      partSchema, dataSchema, None, fmt, opts)(spark)
    spark.baseRelationToDataFrame(rel)
  }

  private val RowFileCol = "__row_file"
  private val RowPosCol = "__row_pos"
  private val DvFileCol = "__dv_file"
  private val DvPosCol = "__dv_pos"
  // `_metadata.file_path` and `_metadata.row_index`, as written by
  // deleteWhere and updateWhere
  private val DvSchema = new org.apache.spark.sql.types.StructType()
    .add(DvFileCol, "string").add(DvPosCol, "long")

  /** Exact shape of a commit dir name (`d-<uuid>`), so group detection
    * can't be fooled by a partition value or table name that merely
    * starts with `d-`. */
  private val CommitDirPattern =
    "^d-[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}$".r

  /** SchemaCache key of the schema `commit` seeds under its commit
    * dir's name: every file in a `d-<uuid>` dir comes from one Spark
    * write, so any subset of them shares that schema. */
  private def commitDirKey(dir: String): String =
    SchemaCache.keyOf(Seq("dir", dir))

  /** The seeded schema of the one commit dir holding every file of
    * `files` (directly or under hive `k=v` dirs); None when they span
    * dirs, sit in a foreign (CONVERTed) dir, or none was seeded. */
  private def commitDirSchema(files: Seq[Path])
      : Option[org.apache.spark.sql.types.StructType] = {
    def dirOf(f: Path): Option[String] =
      Iterator.iterate(f.getParent)(_.getParent).takeWhile(_ != null)
        .find(!_.getName.contains("=")).map(_.getName)
        .filter(n => CommitDirPattern.matches(n))
    files.map(dirOf).distinct match {
      case Seq(Some(dir)) => SchemaCache.get(commitDirKey(dir))
      case _ => None
    }
  }

  private def statsPath(table: String, v: Long): Path =
    new Path(tablePath(table), s"stats-$v")

  private def bloomPath(table: String, physCol: String): Path =
    new Path(tablePath(table), s"bloom-$physCol")

  /** Build (or rebuild) a per-file Bloom index over `column` for the
    * current version — Delta-style bloom file skipping for
    * point-lookup keys whose values min/max ranges can't separate
    * (uuid-like ids, hashes; range stats prune nothing there). ONE
    * distributed pass groups rows by physical file and folds each
    * file's values into a bloom sized from the file's footer row count
    * (driver-side metadata, no extra counting pass); executors write
    * the bits straight to a parquet sidecar — the driver never holds
    * the index during the build. Entries are per IMMUTABLE file, so
    * the index stays correct across later commits by construction:
    * carried files keep their entry, new files have none (conservative
    * keep) until the next build, and rewritten files' stale entries
    * are never looked up (their paths left the manifest). Values probe
    * as strings (the Membership convention); NULLs never enter the
    * bits. Partition columns don't need this — hive pruning already
    * skips them. */
  def buildBloomIndex(table: String, column: String, fpp: Double = 0.01): Unit = {
    val v = existing(table, currentVersion(table))
    val m = load(table, v)
    val phys = m.columnMapping.physicalOf(column)
    val lines = m.data
    if (lines.isEmpty) return
    bloomEntries(table, v, lines, phys, fpp)
      .write.mode(SaveMode.Overwrite).parquet(bloomPath(table, phys).toString)
  }

  /** Incremental bloom-index maintenance: index ONLY the data files
    * that have no entry yet (appends since the last build) and append
    * their bits to the sidecar — O(new files) scan, the steady-state
    * cost of keeping point-lookup skipping effective on an
    * append-heavy table, where [[buildBloomIndex]] is O(table).
    * Entries for files that left the manifest are dead weight until
    * the next full rebuild (compaction is the natural trigger: its
    * rewrite drops every indexed path anyway). Returns the number of
    * files newly indexed. */
  def updateBloomIndex(table: String, column: String,
                       fpp: Double = 0.01): Int = {
    val v = existing(table, currentVersion(table))
    val m = load(table, v)
    val phys = m.columnMapping.physicalOf(column)
    val p = bloomPath(table, phys)
    val live = m.data
    if (!fs(p).exists(p)) {
      buildBloomIndex(table, column, fpp)
      return live.size
    }
    import spark.implicits._
    // membership resolves as ANTI-JOINS, never a collected key set:
    // the sidecar holds one row per file ever indexed, and pulling
    // every key to the driver is exactly the O(#files) driver-memory
    // fold that walls at 10^7 files. Only the MISSING keys (O(new
    // files), the append working set) materialize here. An UNREADABLE
    // sidecar (the state the probe path negatively caches and treats
    // as no-index) rebuilds outright — maintenance is the only path
    // that can heal it, so it must never crash on it instead.
    val diffed = scala.util.Try {
      val side = spark.read.parquet(p.toString)
      // validate the WHOLE shape the probe path depends on, not just
      // the file column — appending good entries next to wrong-typed
      // ones would leave a mixed-schema sidecar that still fails every
      // probe (the rebuild below is the heal)
      require(side.schema("file").dataType ==
          org.apache.spark.sql.types.StringType &&
        side.schema("bits").dataType ==
          org.apache.spark.sql.types.BinaryType,
        s"sidecar schema is ${side.schema.simpleString}")
      val sideKeys = side.select(col("file"))
      val liveKeys = live.map(FileStats.fileKey).toDF("file")
      val missingKeys = liveKeys.join(sideKeys, Seq("file"), "left_anti")
        .as[String].collect().toSet
      (missingKeys, sideKeys.join(liveKeys, Seq("file"), "left_anti").count())
    }
    val (missingKeys, stale) = diffed match {
      case scala.util.Failure(e) =>
        println(s"[graft] bloom sidecar $table.$phys unreadable " +
          s"(${e.getMessage}); rebuilding it")
        buildBloomIndex(table, column, fpp)
        return live.size
      case scala.util.Success(d) => d
    }
    // entries for files that left the manifest (compaction rewrite,
    // vacuum) are dead weight every probe job scans — once they reach
    // the live file count (a compaction strands exactly one corpse
    // per rewritten file), appending more would keep a sidecar that
    // is half corpses, so fall back to the full rebuild the
    // compaction made necessary anyway
    if (stale > 0 && stale >= live.size) {
      buildBloomIndex(table, column, fpp)
      return live.size
    }
    val missing = live.filter(l => missingKeys(FileStats.fileKey(l)))
    if (missing.isEmpty) return 0
    bloomEntries(table, v, missing, phys, fpp)
      .write.mode(SaveMode.Append).parquet(p.toString)
    missing.size
  }

  /** LOGICAL names of the columns that have a bloom index sidecar —
    * physical `bloom-<col>` dirs mapped back through the current
    * column mapping, so the result feeds [[updateBloomIndex]]
    * directly. Indexes over since-dropped columns are dead weight and
    * not reported. Driver-side listing only. */
  def bloomIndexedColumns(table: String): Seq[String] = {
    val dir = tablePath(table)
    val f = fs(dir)
    if (!f.exists(dir)) return Nil
    val cm = currentMapping(table)
    f.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("bloom-")).map(_.stripPrefix("bloom-"))
      .filterNot(cm.isDropped)
      .map(cm.logicalOf)
      .sorted
  }

  /** Incremental refresh of EVERY existing bloom index on the table —
    * the maintenance-pass hook that keeps automatic bloom skipping
    * effective on append-heavy tables. Each refresh is O(files
    * without an entry); when stale entries (files that left the
    * manifest — a compaction rewrite drops every indexed path)
    * outnumber the live files, [[updateBloomIndex]] rebuilds the
    * sidecar outright so probe jobs stop scanning corpses. Returns
    * files newly indexed across all columns. */
  def refreshBloomIndexes(table: String, fpp: Double = 0.01): Int =
    bloomIndexedColumns(table).map(updateBloomIndex(table, _, fpp)).sum

  /** One (file, bloom bits) row per input file — NULL keys never enter
    * the bits (an equality lookup can't match NULL), but a file whose
    * keys are ALL null still gets an (empty, reject-everything) entry,
    * so incremental updates don't rescan it forever. */
  private def bloomEntries(table: String, v: Long, files: Seq[String],
                           physCol: String, fpp: Double): DataFrame = {
    import spark.implicits._
    // sizing comes from the footer row counts the commit already
    // folded into the stats sidecar — shared by full builds and
    // incremental updates so the two can never size filters apart,
    // extracted through the SAME guard fileRowCounts applies (a user
    // column literally named __rows must not crash the build)
    val rowsByFile = statsFor(table, v).flatMap {
      case ((f, c), st) => rowCountOf(c, st).map(f -> _)
    }
    val rowsB = spark.sparkContext.broadcast(rowsByFile)
    spark.read.parquet(files: _*)
      .select(input_file_name().as("__f"),
        col(physCol).cast("string").as("__k"))
      .as[(String, Option[String])]
      .groupByKey { case (f, _) => FileStats.fileKey(f) }
      .mapGroups { (file, it) =>
        val expected = math.max(rowsB.value.getOrElse(file, 1000000L), 64L)
        val bf = org.apache.spark.util.sketch.BloomFilter.create(expected, fpp)
        it.foreach { case (_, k) => k.foreach(bf.putString) }
        val bos = new java.io.ByteArrayOutputStream()
        bf.writeTo(bos)
        (file, bos.toByteArray)
      }
      .toDF("file", "bits")
  }

  /** Probe results for AUTOMATIC bloom skipping, keyed
    * (table, physical column, rendered probe key) → file keys whose
    * bloom definitely lacks the key. Safe to cache indefinitely:
    * entries are per IMMUTABLE file, so a file's reject verdict for a
    * given key never changes — files indexed AFTER the cached probe
    * (incremental [[updateBloomIndex]]) are merely kept conservatively
    * until a fresh probe, and keys for files that left the manifest
    * are never looked up. Bounded by wholesale clear, not LRU: probes
    * are point-lookup keys, a handful per session. */
  private val bloomProbeCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String), Set[String]]()

  /** Bound on one probe's collected reject set (and so on each
    * bloomProbeCache entry): at 10^7 files a key absent everywhere
    * would otherwise pull every file key to the driver per probe.
    * Past the cap the remainder is KEPT conservatively — pruning
    * loses effectiveness, correctness is untouched. ~100k keys ≈ a
    * few MB, probing stays planner-cheap. */
  private val MaxBloomRejects = 100000

  /** Bloom sidecars that failed to probe, (table, physCol) → a
    * content stamp of the sidecar at failure time. While the stamp
    * matches, the column is treated as UNINDEXED (logged once) — a
    * persistently corrupt sidecar must not re-run a driver-blocking
    * probe job on every plan of every query that touches the key. A
    * rebuilt sidecar changes the stamp and re-enables probing. Boxed
    * Long: absence must be `null`, never a sentinel a legitimate
    * stamp (e.g. an empty dir's fold = 0) could collide with. */
  private val bloomBroken =
    new java.util.concurrent.ConcurrentHashMap[(String, String), java.lang.Long]()

  /** Order-independent identity of a sidecar dir's contents (names,
    * lengths, mtimes) — one driver-side listing, no data read. */
  private def bloomStamp(p: Path): Long =
    fs(p).listStatus(p).foldLeft(0L) { (acc, st) =>
      acc ^ (st.getPath.getName.hashCode.toLong * 1315423911L +
        st.getLen * 31L + st.getModificationTime)
    }

  /** The automatic-path bloom probe behind [[StatsFileIndex]]: None
    * when `physCol` has no bloom index (nothing provable — the common
    * case, answered by one driver-side exists), else the set of file
    * keys that DEFINITELY lack `key`, computed where the bits are
    * (executors filter the sidecar; the driver never deserializes the
    * index) and cached so a query re-planned under AQE — or repeated
    * point lookups for the same key — pays the job once. Any probe
    * failure keeps every file. */
  private[lake] def bloomRejectsCached(table: String, physCol: String,
                                       key: String): Option[Set[String]] = {
    val p = bloomPath(table, physCol)
    if (!fs(p).exists(p)) return None
    val ck = (table, physCol, key)
    val hit = bloomProbeCache.get(ck)
    if (hit != null) return Some(hit)
    // a sidecar that failed before is no-index until its bytes
    // change — never a probe job per plan against known-bad bits.
    // The stamp is taken BEFORE the probe job: a rebuild landing
    // while the probe runs changes the live stamp, so stamping a
    // failure with this PRE-probe value can never mark the healthy
    // rebuilt sidecar broken (it would stay disabled until its
    // bytes changed again — conservative but needlessly blind).
    val broken = bloomBroken.get((table, physCol))
    val preStamp = try bloomStamp(p) catch {
      case scala.util.control.NonFatal(_) => return None
    }
    if (broken != null && broken.longValue == preStamp) return None
    try {
      import spark.implicits._
      val rejects = udf((bits: Array[Byte]) =>
        !org.apache.spark.util.sketch.BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(bits)).mightContainString(key))
      // the collected reject list is CAPPED (see MaxBloomRejects):
      // executors filter where the bits are, the driver receives at
      // most the cap — files past it stay in the plan conservatively
      val rejected = spark.read.parquet(p.toString)
        .where(rejects(col("bits")))
        .select("file").as[String].limit(MaxBloomRejects).collect().toSet
      if (bloomProbeCache.size > 1024) bloomProbeCache.clear()
      bloomProbeCache.put(ck, rejected)
      Some(rejected)
    } catch { case scala.util.control.NonFatal(e) =>
      val bk = (table, physCol)
      if (!bloomBroken.containsKey(bk))
        println(s"[graft] bloom index $table.$physCol failed to probe " +
          s"and is DISABLED until its sidecar changes: ${e.getMessage}")
      bloomBroken.put(bk, preStamp)
      None
    }
  }

  /** The one place a sidecar entry becomes a per-file ROW COUNT: only
    * the synthetic `__rows` entry with the count tag qualifies (a user
    * column literally named __rows writes a num-tagged entry whose max
    * — e.g. "12.5" — is not a count), and an unparseable max is
    * "unknown", never a crash. Every consumer (bloom sizing,
    * fileRowCounts, profiles) must extract through here so they can
    * never disagree on what counts as a count. */
  private def rowCountOf(col: String, st: FileStats.Stat): Option[Long] =
    if (col == FileStats.RowsCol && st.tag == FileStats.CntTag)
      scala.util.Try(st.max.toLong).toOption
    else None

  /** Parsed stats sidecar of a version (empty for pre-stats tables).
    * O(#files) driver memory — reserved for explicit profile verbs
    * (ANALYZE, DESCRIBE, bloom sizing) whose OUTPUT is per-file
    * anyway; the per-query read path never calls this, it streams
    * through [[statsRejectsFor]] instead. */
  private[lake] def statsFor(table: String, v: Long)
      : Map[(String, String), FileStats.Stat] =
    FileStats.parse(statsText(table, v))

  /** Version `v`'s stats sidecar text ("" for pre-stats tables) — what
    * a metadata-only commit publishing `v`'s files copies verbatim. */
  private def statsText(table: String, v: Long): String = {
    val p = statsPath(table, v)
    if (fs(p).exists(p)) readSmallFile(p) else ""
  }

  /** Run `f` over the sidecar's lines as a STREAM — the full text is
    * never materialized (a 10⁷-file sidecar is GBs; the reader holds
    * one line). Absent sidecar → empty iterator. */
  private def withStatsLines[A](table: String, v: Long)
                               (f: Iterator[String] => A): A = {
    val p = statsPath(table, v)
    if (!fs(p).exists(p)) return f(Iterator.empty)
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      fs(p).open(p), java.nio.charset.StandardCharsets.UTF_8))
    try f(Iterator.continually(in.readLine()).takeWhile(_ != null))
    finally in.close()
  }

  /** Reject-set ceiling for one stats fold, same contract as
    * [[MaxBloomRejects]]: files past the cap stay in the plan
    * conservatively, so the only O(#files)-shaped planner state —
    * the rejected-key set — is bounded (~100k keys ≈ a few MB)
    * while one file's column group is the only other resident
    * parse state. */
  private val MaxStatsRejects = 100000

  /** Verdicts for AUTOMATIC stats skipping, keyed
    * (table, version, canonicalized filter set) → rejected file keys.
    * Safe to cache: a version's sidecar is immutable once its
    * manifest publishes, so a (version, filters) verdict never
    * changes. Bounded by wholesale clear like [[bloomProbeCache]] —
    * entries are per distinct pushed filter set, a handful per
    * session. */
  private val statsRejectCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, String), Set[String]]()

  /** The automatic-path stats probe behind [[StatsFileIndex]]: the
    * file keys of version `v` whose sidecar stats PROVE the pushed
    * data filters can't match. Streams the sidecar
    * ([[FileStats.streamRejects]]) so planning a query over a
    * 10⁷-file table holds one file's column group plus the capped
    * reject set — never the O(#files × #cols) map [[statsFor]]
    * materializes. Any fold failure keeps every file (pruning is an
    * optimization; the scan result never depends on it). */
  private[lake] def statsRejectsFor(table: String, v: Long)(
      dataFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Set[String] = {
    if (dataFilters.isEmpty) return Set.empty
    val ck = (table, v,
      dataFilters.map(_.canonicalized.toString).sorted.mkString("&"))
    val hit = statsRejectCache.get(ck)
    if (hit != null) return hit
    val rejected = try {
      withStatsLines(table, v) { lines =>
        FileStats.streamRejects(lines,
          group => dataFilters.forall(e =>
            FileStats.exprMayMatch(e, c => group.get(c))),
          MaxStatsRejects)._1
      }
    } catch { case scala.util.control.NonFatal(_) => Set.empty[String] }
    if (statsRejectCache.size > 1024) statsRejectCache.clear()
    statsRejectCache.put(ck, rejected)
    rejected
  }

  /** Footer row counts of the CURRENT version's live data files,
    * keyed by full manifest path — served from the stats sidecar the
    * commit already folded, so it is O(manifest) and opens no data
    * file. The scan-free profile primitive (index sizing, DESCRIBE):
    * at 100 TB a "how big is each partition" question must never cost
    * a data pass. Files committed before the stats sidecar existed
    * (pre-stats tables, foreign CONVERT files whose footers were
    * unreadable) are absent from the map — callers treat absence as
    * "unknown", not zero. Counts are per-file physical rows; MoR
    * delete debt is NOT subtracted (fold it with compact/OPTIMIZE
    * first for exact liveness). */
  def fileRowCounts(table: String): Map[String, Long] =
    currentVersion(table).map(fileRowCounts(table, _)).getOrElse(Map.empty)

  /** [[fileRowCounts]] pinned to a version — pass the same `v` to
    * [[liveDataFiles]] when composing the two, or a commit racing the
    * reads tears the profile across versions. */
  def fileRowCounts(table: String, v: Long): Map[String, Long] =
    fileRows(table, v, load(table, v).data)

  /** Folded footer row counts of `files`, data files of version `v`. */
  private def fileRows(table: String, v: Long,
                       files: Seq[String]): Map[String, Long] = {
    val stats = statsFor(table, v)
    files.flatMap { f =>
      stats.get((FileStats.fileKey(f), FileStats.RowsCol))
        .flatMap(st => rowCountOf(FileStats.RowsCol, st))
        .map(f -> _)
    }.toMap
  }

  /** Full paths of the CURRENT version's live data files (delete-entry
    * lines excluded) — the manifest-level file inventory, O(manifest),
    * no filesystem listing. */
  def liveDataFiles(table: String): Seq[String] =
    currentVersion(table).map(liveDataFiles(table, _)).getOrElse(Nil)

  /** [[liveDataFiles]] pinned to a version (see [[fileRowCounts]]). */
  def liveDataFiles(table: String, v: Long): Seq[String] =
    load(table, v).data

  /** Table-level column statistics — one row per column:
    * (col_name, n_rows, n_nulls, min_v, max_v), numeric bounds as
    * DOUBLE — folded entirely from the stats sidecar the commits
    * already recorded, so ANALYZE on a 100 TB table is O(manifest)
    * and opens no data file. Exactness contract: a field is non-NULL
    * only when EVERY live file carries a sidecar entry for the column
    * with a known null count — files from pre-stats commits, or
    * columns whose footer stats were skipped (NaN-holding floats,
    * non-ASCII string bounds, timestamps/decimals) surface NULL =
    * unknown rather than a silently-wrong number. String columns
    * report exact null counts with NULL numeric bounds. Counts are
    * physical rows: MoR delete debt is NOT subtracted — fold it with
    * OPTIMIZE first when exact liveness matters. Names are LOGICAL on
    * both sides: `cols` takes the names users see, renamed columns
    * report under their logical name, dropped columns are hidden. */
  def columnStats(table: String, cols: Seq[String] = Nil): DataFrame = {
    import spark.implicits._
    val emptyOut = Seq.empty[
      (String, Option[Long], Option[Long], Option[Double], Option[Double])]
    val v = currentVersion(table).getOrElse(
      return emptyOut.toDF("col_name", "n_rows", "n_nulls", "min_v", "max_v"))
    val stats = statsFor(table, v)
    val m = load(table, v)
    val live = m.data.map(FileStats.fileKey)
    // the row count obeys the same contract as the bounds: any live
    // file without a folded footer count makes the total unknown
    val perFileRows = live.map(f => stats.get((f, FileStats.RowsCol))
      .flatMap(rowCountOf(FileStats.RowsCol, _)))
    val nRows: Option[Long] =
      if (perFileRows.exists(_.isEmpty)) None
      else Some(perFileRows.flatten.sum)
    // sidecar entries carry PHYSICAL names — report logical ones, hide
    // dropped columns, and take FOR COLUMNS requests in logical terms,
    // same translation discipline as every other sidecar consumer
    // (statsRejectsFor, bloomIndexedColumns)
    val cm = m.columnMapping
    val present = stats.keysIterator.map(_._2)
      .filter(_ != FileStats.RowsCol).toSeq.distinct
      .filterNot(cm.isDropped)
      .sortBy(cm.logicalOf)
    val wanted =
      if (cols.isEmpty) present
      else {
        val req = cols.map(c => cm.physicalOf(c.trim).toLowerCase).toSet
        present.filter(p => req.contains(p.toLowerCase))
      }
    val out = wanted.map { c0 =>
      val c = cm.logicalOf(c0)
      val entries = live.map(f => stats.get((f, c0)))
      if (entries.exists(_.isEmpty) ||
          entries.flatten.exists(_.nulls.isEmpty))
        (c, nRows, None: Option[Long], None: Option[Double],
          None: Option[Double])
      else {
        val es = entries.flatten
        val nNulls: Option[Long] = Some(es.flatMap(_.nulls).sum)
        // bounds only when every valued entry is numeric (all-null
        // files carry no bounds and legitimately contribute none)
        val numeric = es.forall(e =>
          e.tag == FileStats.NumTag || e.tag == FileStats.NullTag)
        val valued = es.filter(_.tag == FileStats.NumTag)
        val (mn, mx) =
          if (!numeric || valued.isEmpty)
            (None: Option[Double], None: Option[Double])
          else (Some(valued.map(e => BigDecimal(e.min)).min.toDouble),
                Some(valued.map(e => BigDecimal(e.max)).max.toDouble))
        (c, nRows, nNulls, mn, mx)
      }
    }
    out.toDF("col_name", "n_rows", "n_nulls", "min_v", "max_v")
  }

  /** S6: CTAS — fails if the table already exists. `partitionBy`
    * selects a hive-style layout; reads then get partition pruning on
    * those columns — the scan-avoidance lever at 100 TB. */
  def create(table: String, df: DataFrame, partitionBy: Seq[String] = Nil): Unit =
    createTxns(table, df, Nil, partitionBy)

  /** Drop the table: every version, manifest, claim and commit dir.
    * Irreversible (no trash); false if the table never existed. */
  def drop(table: String): Boolean = {
    val dir = tablePath(table)
    val f = fs(dir)
    f.exists(dir) && f.delete(dir, true)
  }

  /** S7: atomic overwrite (vs. non-atomic raw `mode("overwrite")`).
    * `preserveLayout = true` skips the partitioned-write rebalance for
    * frames the caller already shaped (a z-ordered `Layout.cluster`
    * rewrite must keep its range partitioning — a rebalance would
    * scramble each output file across the full clustering range and
    * silently defeat min/max file skipping).
    * `readSnapshot` opts into snapshot-isolation: pass the version the
    * frame was computed from (pin it with [[readVersion]]) and the
    * commit aborts with [[SnapshotConflictException]] if another
    * writer changed data or schema since — the contract every
    * read-then-rewrite path (UPDATE/DELETE/MERGE/OPTIMIZE) uses so a
    * stale rewrite can never silently swallow a concurrent append.
    * None = blind overwrite (INSERT OVERWRITE), last-writer-wins by
    * design. */
  def overwrite(table: String, df: DataFrame,
                preserveLayout: Boolean = false,
                readSnapshot: Option[Long] = None,
                op: String = "OVERWRITE"): Unit =
    commit(table, df, carried = _ => Nil, mustCreate = false,
      preserveLayout = preserveLayout, readSnapshot = readSnapshot, op = op)

  /** Overwrite that records an application transaction watermark in
    * the SAME atomic commit (Delta's SetTransaction / `txn` action):
    * `lastTxn(table, app)` later recovers `version`, so an
    * incremental maintainer advances its cursor and its output
    * together — a crash can never leave the data applied but the
    * cursor behind (double-apply) or vice versa. */
  def overwriteTxn(table: String, df: DataFrame,
                   app: String, version: Long,
                   readSnapshot: Option[Long] = None): Unit =
    commit(table, df, carried = _ => Nil, mustCreate = false,
      txns = Seq(app -> version), readSnapshot = readSnapshot,
      op = "OVERWRITE")

  /** Overwrite RE-ASSERTING application watermarks verbatim — for
    * maintenance that rewrites a table's contents WITHOUT advancing
    * the apps' cursors (an index rebuild re-committing its change-feed
    * binding so the watermark rides the new head manifest instead of
    * stranding in an old one a vacuum will drop; a join view's
    * partial fold re-asserting its fact AND dim bindings in the same
    * rewrite commit). Unlike [[overwriteTxn]], the replay guard is
    * OFF: re-publishing the SAME version is the point here, not a
    * redelivery to suppress — so this must never be used for
    * at-least-once batch commits. */
  def overwriteReassertTxns(table: String, df: DataFrame,
                            txns: Seq[(String, Long)],
                            readSnapshot: Option[Long] = None): Unit =
    commit(table, df, carried = _ => Nil, mustCreate = false,
      txns = txns, txnReassert = true,
      readSnapshot = readSnapshot, op = "OVERWRITE")

  /** Append recording an application transaction watermark in the
    * SAME atomic commit — the micro-batch half of [[overwriteTxn]]:
    * a streaming `foreachBatch` gets exactly-once appends by checking
    * [[lastTxn]] before committing a possibly-replayed batch id, an
    * O(manifest-header) guard instead of an O(table) data probe. */
  def appendTxn(table: String, df: DataFrame,
                app: String, version: Long,
                readSnapshot: Option[Long] = None): Unit =
    appendTxns(table, df, Seq(app -> version), readSnapshot)

  /** [[appendTxn]] carrying SEVERAL app watermarks in the one atomic
    * commit — the primitive a maintainer with a multi-table cursor
    * needs (a join materialized view folds a fact delta AND a dim
    * delta, then must advance BOTH cursors with the data or neither).
    * Replay guard: the commit no-ops iff every component is
    * at-or-behind its published watermark (a replayed vector), or any
    * single component is strictly past (a zombie crossing newer
    * work); a vector where at least one component advances is new
    * work and lands. */
  def appendTxns(table: String, df: DataFrame,
                 txns: Seq[(String, Long)],
                 readSnapshot: Option[Long] = None): Unit = {
    require(exists(table), s"table $table does not exist")
    commit(table, df, carryAll, mustCreate = false,
      txns = txns, readSnapshot = readSnapshot,
      op = "APPEND")
  }

  /** Create recording an initial transaction watermark atomically —
    * the bootstrap half of [[overwriteTxn]]. */
  def createTxn(table: String, df: DataFrame,
                app: String, version: Long,
                partitionBy: Seq[String] = Nil): Unit =
    createTxns(table, df, Seq(app -> version), partitionBy)

  /** [[createTxn]] with several initial watermarks — the bootstrap of
    * a multi-cursor maintainer (join materialized views). */
  def createTxns(table: String, df: DataFrame,
                 txns: Seq[(String, Long)],
                 partitionBy: Seq[String] = Nil): Unit = {
    require(!exists(table), s"table $table already exists")
    commit(table, df, carried = _ => Nil, mustCreate = true,
      base = Some(Manifest(parts = Some(partitionBy))), txns = txns, op = "CREATE")
  }

  /** Latest watermark `app` recorded on any RETAINED version, newest
    * first (an app that commits every tick finds it in the current
    * manifest — O(1) in steady state). None if the app never
    * committed or its last txn commit was vacuumed. */
  def lastTxn(table: String, app: String): Option[Long] =
    latestTxn(table, _ == app).map(_._2)

  /** Latest (app, watermark) among apps whose id starts with
    * `appPrefix`, walking down from the current version like
    * [[lastTxn]]. For maintenance that must REDISCOVER a binding it
    * didn't create — e.g. an index rebuild carrying forward the
    * change-feed watermark `buildIvfIndexFromTable` recorded, without
    * being told which corpus table the index follows. */
  def lastTxnMatching(table: String, appPrefix: String): Option[(String, Long)] =
    latestTxn(table, _.startsWith(appPrefix))

  /** The newest watermark whose app passes `app`, walking DOWN from
    * the current version — no manifest listing, so a steady-state
    * ingest answers from the head manifest alone. Versions are dense
    * downward until the vacuum horizon; a missing manifest IS that
    * horizon, past which a watermark is unrecoverable. */
  private def latestTxn(table: String,
                        app: String => Boolean): Option[(String, Long)] = {
    val v = currentVersion(table).getOrElse(return None)
    var hit: Option[(String, Long)] = None
    for (head <- loadFile(manifestFile(table, v)))
      walkTxns(table, v, head) { txns =>
        hit = txns.find(t => app(t._1))
        hit.isDefined
      }
    hit
  }

  /** Hands the `#txn=` watermarks of version `v` (manifest `head`, as
    * the caller loaded it) and then of each older retained version to
    * `done`, newest first, until `done` answers true or the walk
    * reaches version 0 or the vacuum horizon. */
  private def walkTxns(table: String, v: Long, head: Manifest)(
                       done: Seq[(String, Long)] => Boolean): Unit = {
    var (w, m) = (v, head)
    while (!done(m.txns) && w > 0) {
      w -= 1
      m = loadFile(manifestFile(table, w)).getOrElse(return)
    }
  }

  /** S8: append — O(batch): writes only the new files; the manifest
    * carries the previous version's files forward by reference.
    * Schema evolution is union-by-name at read time (mergeSchema).
    * Two first-appends racing on a fresh table: the create loser
    * retries as a carry append instead of failing. */
  def append(table: String, df: DataFrame): Unit =
    if (exists(table)) commit(table, df, carryAll, mustCreate = false,
      op = "APPEND")
    else try create(table, df) catch {
      case e: IllegalArgumentException if e.getMessage.contains("already exists") =>
        commit(table, df, carryAll, mustCreate = false, op = "APPEND")
    }

  private val carryAll: Option[Manifest] => Seq[String] =
    _.fold(Seq.empty[String])(_.lines)

  /** Merge-on-read commit (Iceberg v2 equality deletes): append `df`'s
    * rows AND register `deleteKeys` (its columns ARE the delete key)
    * in one atomic commit — O(batch) regardless of table size, no
    * partition rewrite at all. The delete applies to every PRIOR
    * commit's rows; `df`'s own rows are exempt (delete lines precede
    * them in the manifest), so a CDC batch deletes-and-reinserts a key
    * atomically. Each MoR commit adds its keys to every earlier
    * group's read-side delete set — fold it periodically with
    * `compact`.
    * `readSnapshot` (optional): CDC semantics make equality deletes
    * apply to ANY prior commit — including one that raced in after
    * this batch was computed (Iceberg allows the same) — so the
    * default stays blind-append; pass the pinned read version to get
    * serializable semantics instead (abort on any concurrent data or
    * schema change). */
  def appendWithDeletes(table: String, df: DataFrame, deleteKeys: DataFrame,
                        readSnapshot: Option[Long] = None,
                        txn: Option[(String, Long)] = None): Unit = {
    require(exists(table), s"table $table does not exist")
    val delDir = new Path(tablePath(table), s"x-${UUID.randomUUID()}")
    // delete keys filter raw (physical) data groups at read time,
    // so a key on a renamed column must be stored physically too
    currentMapping(table).applyWrite(deleteKeys, table)
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(delDir.toString)
    val delLines = listDataFiles(delDir).map(Manifest.delLine)
    // `txn` makes the delete+insert pair IDEMPOTENT under redelivery
    // (Delta SetTransaction semantics, same as appendTxn): a replayed
    // (app, version) no-ops inside the claim instead of double-applying
    commit(table, df,
      carried = carryAll(_) ++ delLines, mustCreate = false,
      readSnapshot = readSnapshot, txns = txn.toSeq, op = "MERGE-ON-READ")
  }

  /** Positional (deletion-vector) DELETE — Iceberg v2 position
    * deletes / Delta DVs: `DELETE WHERE pred` on ANY predicate (no
    * key needed) without rewriting a single data file. One pruned
    * scan finds the matching rows' (file, row-position) identities
    * (`_metadata` columns — free, no storage cost on the data), the
    * positions commit as a tiny `dv|` sidecar, and reads filter each
    * commit group by a driver-built set of its positions — the vector
    * holds deleted positions only. At 100 TB with wide rows this turns
    * "rewrite every touched file for a 0.1% delete" into "append KBs
    * of positions".
    * Snapshot-checked like every read-then-write: positions computed
    * against version `rs` must not publish over a concurrent data
    * change — on a lost race the delete RECOMPUTES against the new
    * head (SQL DELETE semantics: remove whatever matches at execution).
    * `compact` folds dv debt exactly like equality-delete debt.
    * Returns the number of rows deleted. */
  def deleteWhere(table: String, pred: Column): Long = recomputing(5) {
    val rs = existing(table, currentVersion(table))
    val withId = readManifest(table, rs, load(table, rs), withRowId = true)
    val dvDir = new Path(tablePath(table), s"v-${UUID.randomUUID()}")
    withId.where(pred)
      .select(col(RowFileCol).as(DvFileCol), col(RowPosCol).as(DvPosCol))
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(dvDir.toString)
    val dvFiles = listDataFiles(dvDir)
    // the deleted-row count comes from the vector files' footers — a
    // driver metadata read (as FileStats.compute does), not a scan job
    val n = dvFiles.map(FileStats.rowCount(hadoopConf, _)).sum
    if (n == 0) fs(dvDir).delete(dvDir, true)
    else try commitEdit(table, "DELETE (dv)") { (c, m) =>
      assertSnapshotCurrent(table, rs, Some(c))
      m.copy(lines = m.lines ++ dvFiles.map(Manifest.dvLine))
    } catch { case e: SnapshotConflictException =>
      fs(dvDir).delete(dvDir, true)
      throw e
    }
    n
  }

  /** `attempt`, rerun (`n` runs at most) after a lost snapshot race. */
  private def recomputing[A](n: Int)(attempt: => A): A = {
    var runs = 1
    var out: Option[A] = None
    while (out.isEmpty)
      try out = Some(attempt)
      catch { case _: SnapshotConflictException if runs < n => runs += 1 }
    out.get
  }

  /** Positional UPDATE — the deletion-vector companion to
    * [[deleteWhere]] (Delta's DV-backed UPDATE): matched rows'
    * positions commit as a `dv|` vector AND their updated copies
    * append as new data files, in ONE atomic commit — the vector
    * precedes the new group in the manifest, so the commit
    * delete-and-reinserts exactly like a MoR CDC batch. Cost is
    * O(matched rows), never O(table): a 0.1% UPDATE on wide 100 TB
    * files appends the changed rows plus KBs of positions instead of
    * rewriting every touched file. The matched frame is checkpointed
    * once so the positions and the copies are computed from the SAME
    * materialization (a re-executed nondeterministic scan could
    * otherwise delete one row set and reinsert another). Conflicts
    * recompute against the new head, same as [[deleteWhere]].
    * Returns the number of rows updated. */
  def updateWhere(table: String, cond: Column,
                  assigns: Map[String, Column]): Long = {
    require(assigns.nonEmpty, "updateWhere needs at least one assignment")
    recomputing(5) {
      val rs = existing(table, currentVersion(table))
      val mapped = readManifest(table, rs, load(table, rs), withRowId = true)
      val cols = mapped.columns.filterNot(c =>
        c == RowFileCol || c == RowPosCol).toIndexedSeq
      assigns.keys.foreach { k =>
        require(cols.exists(_.equalsIgnoreCase(k)),
          s"UPDATE assigns unknown column $k (have ${cols.mkString(", ")})")
      }
      val matched = mapped.where(cond).localCheckpoint()
      val n = matched.count()
      if (n > 0) {
        val dvDir = new Path(tablePath(table), s"v-${UUID.randomUUID()}")
        matched
          .select(col(RowFileCol).as(DvFileCol), col(RowPosCol).as(DvPosCol))
          .coalesce(1).write.mode(SaveMode.Overwrite).parquet(dvDir.toString)
        val dvFiles = listDataFiles(dvDir)
        val updated = matched.select(cols.map { c =>
          assigns.find(_._1.equalsIgnoreCase(c))
            .map(_._2.as(c)).getOrElse(col(c))
        }: _*)
        try commit(table, updated,
          carried = carryAll(_) ++ dvFiles.map(Manifest.dvLine),
          mustCreate = false,
          readSnapshot = Some(rs), op = "UPDATE (dv)")
        catch { case e: SnapshotConflictException =>
          fs(dvDir).delete(dvDir, true)
          throw e
        }
      }
      n
    }
  }

  /** Fold merge-on-read delete debt: materialize the current merged
    * view as one plain data commit (the new manifest carries no del
    * entries). Old versions stay time-travelable until vacuumed.
    * Snapshot-checked: losing a race to any data commit would
    * resurrect its deletes or drop its appends, so a conflicted fold
    * RECOMPUTES from the new head (idempotent maintenance — recompute,
    * don't surface) up to a bounded number of attempts. */
  def compact(table: String): Unit = {
    var runs = 0
    try recomputing(8) {
      runs += 1
      // two straight losses mean a HOT writer: without priority the
      // fold defers forever and the table's merge-on-read debt (a
      // delete-set filter on every read) grows unbounded. Raise the
      // janitor claim — writers back off at their claim point until
      // the fold lands or the marker's TTL expires — and recompute.
      if (runs == 3) raiseJanitor(table)
      val rs = existing(table, currentVersion(table))
      overwrite(table, readVersion(table, rs), readSnapshot = Some(rs), op = "COMPACT")
    } finally if (runs >= 3) clearJanitor(table)
  }

  /** The janitor priority claim: while `_JANITOR` holds an unexpired
    * deadline, every OTHER writer's claim attempt on the table waits —
    * the backpressure that bounds merge-on-read debt under continuous
    * ingest (a fold that loses every snapshot race defers forever; a
    * soak proves ingest alone will outrun it). TTL-bounded so a
    * crashed janitor can't wedge writers: the marker self-expires and
    * any later fold republishes it. */
  private def janitorMarker(table: String): Path =
    new Path(tablePath(table), "_JANITOR")

  /** Must exceed one fold's duration at your scale — an expired
    * marker mid-fold just means writers stop yielding (the fold then
    * retries under conflict, the pre-priority behavior). */
  private val JanitorTtlMs: Long = 10 * 60 * 1000L

  /** True on the thread that raised the janitor marker: its own fold
    * commit must pass `awaitJanitor`, not deadlock on it. */
  private val janitorThread: ThreadLocal[java.lang.Boolean] =
    ThreadLocal.withInitial(() => java.lang.Boolean.FALSE)

  private def raiseJanitor(table: String): Unit = {
    claims.publish(janitorMarker(table),
      (System.currentTimeMillis() + JanitorTtlMs).toString)
    janitorThread.set(java.lang.Boolean.TRUE)
  }

  private def clearJanitor(table: String): Unit = {
    janitorThread.set(java.lang.Boolean.FALSE)
    try { val m = janitorMarker(table); fs(m).delete(m, false); () }
    catch { case scala.util.control.NonFatal(_) => () }
  }

  /** Writer-side half of the priority claim: wait while a fresh
    * janitor marker is up. A torn/vanished marker or an expired
    * deadline means no janitor — proceed. Bounded by the marker's own
    * deadline, so a crashed janitor stalls writers at most TTL. */
  private def awaitJanitor(table: String): Unit = {
    if (janitorThread.get().booleanValue) return
    val m = janitorMarker(table)
    while (true) {
      val deadline =
        try {
          if (!fs(m).exists(m)) return
          readSmallFile(m).trim.toLong
        } catch { case scala.util.control.NonFatal(_) => return }
      if (System.currentTimeMillis() > deadline) return
      Thread.sleep(25)
    }
  }

  /** Roll the table back to retained version `v` as a NEW commit whose
    * manifest (and stats sidecar) is a byte copy of `v`'s — O(1)
    * metadata, no data moves, and the rolled-past versions stay
    * readable until vacuumed (Delta RESTORE semantics). `v`'s table
    * metadata (column mapping, layout, constraints, keys) comes back
    * with its rows, so no later constraint stands over unchecked rows. */
  def restore(table: String, v: Long): Unit = {
    require(versions(table).contains(v),
      s"version $v of $table is not retained (have ${versions(table).mkString(",")})")
    val restored = load(table, v)
    val stats = statsText(table, v)
    commitMeta(table, _ => (restored, stats),
      mustCreate = false, op = s"RESTORE($v)")
  }

  /** Zero-copy shallow clone: `dst` is a new table whose v0 manifest
    * references `src`'s current files BY REFERENCE — O(1) regardless
    * of table size. The clone owns its manifest history but not the
    * data files: vacuuming either table never deletes files outside
    * its own root (see vacuumRetain), so reaping shared files remains
    * the source's prerogative — drop or vacuum the SOURCE and the
    * clone dangles, the same caveat Delta's shallow clones carry. */
  /** Consolidated plain-parquet snapshot ANY engine can read — the
    * cross-engine hand-off the reference's Athena registration exists
    * for (delta/delta_tables.py:41-72). A store table's raw directory
    * is NOT externally readable (husk files superseded by later
    * commits, merge-on-read delete debt, physical column names under
    * column mapping, multi-era partition layouts); this resolves the
    * manifest exactly like [[read]] — version pinned, deletes
    * applied, logical names restored — and writes the result as flat
    * vanilla parquet to `destDir` (overwrite). Partition columns
    * export as regular columns, so the files need no hive-dir
    * convention on the reading side. O(live data at the exported
    * version) — a copy by design: the export is a decoupled artifact
    * external engines may outlive vacuum/compaction with. */
  def exportSnapshot(table: String, destDir: String,
                     version: Option[Long] = None): Long = {
    val v = version.getOrElse(existing(table, currentVersion(table)))
    require(versions(table).contains(v),
      s"version $v of $table is not retained")
    readVersion(table, v).write.mode(SaveMode.Overwrite).parquet(destDir)
    v
  }

  def cloneTable(src: String, dst: String): Unit = {
    val cur = existing(src, currentVersion(src))
    require(!exists(dst), s"table $dst already exists")
    val source = load(src, cur)
    val stats = statsText(src, cur)
    // a clone forks the source's table metadata with its manifest:
    // layout, constraints, keys, and the mapping the shared files'
    // PHYSICAL names need.
    // The COPY INTO ledger (#ingest=) deliberately does NOT clone —
    // same stance as Delta CLONE, whose docs exclude COPY INTO and
    // streaming txn metadata: the clone is a new ingest target, and
    // silently skipping files "already loaded" into the SOURCE would
    // be the surprising behavior
    commitMeta(dst, _ => (source, stats), mustCreate = true, op = s"CLONE($src)")
  }

  /** Adopt a pre-existing parquet directory at this table's path
    * (optionally hive-partitioned) as version 0 — no rewrite, the
    * manifest references the files in place (Delta's CONVERT TO DELTA
    * shape: at 100 TB, conversion must be a metadata operation).
    * Partition columns derive from the k=v path segments; subsequent
    * commits write normal d-<uuid> groups alongside. */
  def convert(table: String): Unit = {
    require(!exists(table), s"table $table already exists")
    val dir = tablePath(table)
    require(fs(dir).exists(dir), s"nothing to convert at $dir")
    val files = listDataFiles(dir)
    require(files.nonEmpty, s"no parquet files under $dir")
    // partition keys must agree across EVERY file: a mixed-depth
    // layout (or a stray unpartitioned file first in listing order)
    // silently adopted from files.head would mis-resolve partition
    // columns for the rest of the table's life — fail loudly instead
    val partsByFile = files.map { f =>
      f -> f.stripPrefix(dir.toString).stripPrefix("/")
        .split('/').dropRight(1).filter(_.contains("="))
        .map(_.takeWhile(_ != '=')).toSeq
    }
    val parts = partsByFile.head._2
    val offenders = partsByFile.collect {
      case (f, p) if p != parts => s"$f -> [${p.mkString(",")}]"
    }
    require(offenders.isEmpty,
      s"non-uniform partition layout under $dir: expected " +
        s"[${parts.mkString(",")}] from every file, got " +
        offenders.take(3).mkString("; "))
    commitMeta(table, _ => (Manifest(files, parts = Some(parts)), ""),
      mustCreate = true, op = "CONVERT")
  }

  /** Metadata-only commit under the standard claim/publish protocol —
    * no data write at all. `mkContent` maps the superseded version and
    * its manifest to (the manifest whose lines, schema and column
    * mapping to publish, stats sidecar content), re-evaluated on every
    * claim attempt so content derived from the current manifest can't
    * lose a racing commit. The ingest ledger carries from the
    * superseded version. */
  private def commitMeta(table: String,
                         mkContent: Option[(Long, Manifest)] => (Manifest, String),
                         mustCreate: Boolean,
                         op: String = "WRITE"): Unit = {
    // the data write creates the table dir in the normal commit path;
    // a metadata-only commit must do it itself or the claim fails
    val dir = tablePath(table)
    if (!fs(dir).exists(dir)) fs(dir).mkdirs(dir)
    claimLoop(table, mustCreate) { (cur, v) =>
      val curM = cur.map(c => (c, load(table, c)))
      val (content, statsContent) = mkContent(curM)
      writeSmallFile(statsPath(table, v), statsContent)
      publishManifest(table, v, content.next(op)
        .copy(ingest = curM.fold(Seq.empty[String])(_._2.ingest)))
    }
  }

  /** [[commitMeta]] publishing `edit`(head version, head manifest). */
  private def commitEdit(table: String, op: String)(
                         edit: (Long, Manifest) => Manifest): Unit =
    commitMeta(table, cur => {
      val (c, m) = existing(table, cur)
      (edit(c, m), statsText(table, c))
    }, mustCreate = false, op = op)

  /** Schema evolution as one commit: write ONE empty file carrying the
    * full `widened` schema (unpartitioned even on a partitioned table
    * — a 0-row dynamic-partition write emits no files at all, which
    * would silently no-op the evolution) and publish it alongside the
    * current manifest, re-read per claim attempt so a racing append is
    * never dropped. The read path's union-by-name backfills NULL for
    * earlier files; the empty group carries partition columns as plain
    * (absent) data columns, which union-by-name handles the same way. */
  def evolveSchema(table: String,
                   widened: org.apache.spark.sql.types.StructType): Unit = {
    val dataDir = new Path(tablePath(table), s"d-${UUID.randomUUID()}")
    // the schema-bearing file stores PHYSICAL names: renamed columns
    // resolve through the mapping, and a new name colliding with a
    // dropped or claimed physical name would corrupt old files' data
    val m = currentMapping(table)
    val physFields = widened.fields.map(f => f.copy(name = m.physicalOf(f.name)))
    physFields.foreach { f =>
      require(!m.isDropped(f.name),
        s"column ${f.name} was dropped from $table; re-adding it would " +
          "resurrect old files' hidden data — use a new name")
    }
    val clash = physFields.groupBy(_.name.toLowerCase).filter(_._2.length > 1)
    require(clash.isEmpty,
      s"evolved schema collides on physical name(s) ${clash.keys.mkString(", ")}")
    val physSchema = org.apache.spark.sql.types.StructType(physFields)
    spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), physSchema)
      .repartition(1)
      .write.mode(SaveMode.Overwrite).parquet(dataDir.toString)
    val newFiles = listDataFiles(dataDir)
    require(newFiles.nonEmpty,
      s"schema-evolution write for $table produced no schema-bearing file")
    commitEdit(table, "ADD COLUMNS")((_, m) =>
      m.copy(lines = m.lines ++ newFiles, schema = Some(physSchema.json)))
  }

  /** Size-aware compaction: fold only the data files smaller than
    * `minBytes` into fresh right-sized files, carrying every large
    * file by reference — O(small data), where `compact` is O(table).
    * The steady-state answer to append-driven file explosion: a CDC
    * table taking many small batches re-reads thousands of tiny files
    * per scan until they're folded, but rewriting the well-sized bulk
    * to fix that would be a 100 TB tax. File sizes are driver-side
    * metadata (no data scan decides anything). Requires zero
    * merge-on-read debt (`compact` folds that). The folded rows
    * coalesce to ~`targetBytes` output files (floor 1), so the commit
    * actually shrinks the file count instead of re-sharding the rows
    * across the default parallelism. Returns the number of files
    * folded (0 or 1 small file = nothing to gain, no commit). */
  def compactSmall(table: String, minBytes: Long,
                   targetBytes: Long = 128L << 20): Int = recomputing(5) {
    val cur = existing(table, currentVersion(table))
    val lines = load(table, cur).lines
    require(lines.forall(!Manifest.isDeleteLine(_)),
      s"table $table has pending merge-on-read deletes; compact first")
    def len(f: String): Long = { val p = new Path(f); fs(p).getFileStatus(p).getLen }
    val sizes = lines.map(f => f -> len(f)).toMap
    val small = lines.filter(sizes(_) < minBytes).toSet
    if (small.size > 1) {
      val outFiles = math.max(1,
        math.ceil(small.toSeq.map(sizes).sum.toDouble / targetBytes).toInt)
      val df = readLines(table, cur, Manifest(small.toSeq)).coalesce(outFiles)
      // carried re-evaluates against the WINNING claim's version, so
      // a racing append's files survive the fold. Two races are NOT
      // append-safe and conflict instead (then the fold recomputes):
      // a concurrent rewrite that removed any of the folding files
      // (their rows would resurrect through the folded copies), and
      // concurrent MoR delete markers (the folded copies, being this
      // commit's own rows, would be exempt from them).
      commit(table, df,
        carried = _.map { w =>
          val m = w.lines
          val gone = small -- m.toSet
          if (gone.nonEmpty)
            throw new SnapshotConflictException(
              s"$table: file(s) being folded were rewritten concurrently " +
                s"(e.g. ${gone.head}); recomputing the fold")
          if (m.exists(Manifest.isDeleteLine))
            throw new SnapshotConflictException(
              s"$table: merge-on-read deletes raced in during the fold; " +
                "recomputing")
          m.filterNot(small)
        }.getOrElse(Nil),
        mustCreate = false,
        physicalFrame = true, // raw readLines bytes: already physical
        op = "OPTIMIZE")
    }
    if (small.size > 1) small.size else 0
  }

  /** Number of equality-delete entries pending in the current version
    * — the read-side debt gauge for scheduling `compact`. */
  def deleteDebt(table: String): Int =
    headManifest(table).fold(0)(_.lines.count(Manifest.isDeleteLine))

  /** Dynamic partition overwrite — the O(touched partitions) commit
    * that keeps CDC merges from rewriting 100 TB to delete a day's
    * keys. `touched` lists the hive partition dirs being replaced
    * (e.g. `p_bucket=2024-01`, nested `a=1/b=2` for multi-level
    * layouts); every file of the previous version OUTSIDE those dirs
    * is carried forward by reference (same trick as `append`), files
    * inside them are superseded by `df`'s. A touched dir for which
    * `df` holds no rows simply gets no new files — that's how a
    * fully-deleted partition empties out. Values must be path-literal
    * (date buckets are); a null bucket maps to Hive's default
    * partition name.
    *
    * `disjointAddsOk` opts IN to partition-granular conflict
    * detection: a racer's pure append OUTSIDE the touched dirs is
    * tolerated (its files re-carry, the replacement supersedes only
    * dirs the racer never wrote). That is sound ONLY when the
    * transaction's READS were confined to the touched partitions —
    * the caller asserts that by passing true. A merge whose probe
    * scanned the whole table (e.g. CdcIngest's grouped pk probe
    * deciding which buckets are touched) must stay strict: a concurrent append of a
    * matched key into an UNtouched bucket is a logical conflict its
    * replacement frame can't see, and tolerating it resurrects
    * deleted keys. Default = strict (abort on any concurrent change
    * past a pinned `readSnapshot`). */
  def overwritePartitions(table: String, df: DataFrame, touched: Seq[String],
                          readSnapshot: Option[Long] = None,
                          disjointAddsOk: Boolean = false,
                          op: String = "OVERWRITE-PARTITIONS"): Unit = {
    // one pre-claim load serves every check and plans the write
    val head = headManifest(table)
    require(head.exists(_.layout.nonEmpty),
      s"table $table is not partitioned; use overwrite")
    require(head.forall(!_.lines.exists(Manifest.isDeleteLine)),
      s"table $table has pending merge-on-read deletes; compact first")
    head.foreach(requireCurrentLayout(table, _))
    val touchedSet = touched.toSet
    commit(table, df, base = head,
      // untouched partitions re-carry from the WINNING claim's version
      // (concurrent appends to them survive with readSnapshot = None);
      // a pinned readSnapshot instead aborts on ANY concurrent change —
      // the read-then-rewrite merge paths need that, because their
      // replacement frame folded the touched partitions' OLD contents
      carried = carryAll(_)
        .filterNot(f => touchedSet.contains(partitionDirOf(table, f))),
      mustCreate = false,
      requireWithin = Some(touchedSet),
      readSnapshot = readSnapshot,
      snapshotDisjointOk = disjointAddsOk,
      op = op)
  }

  /** Hive partition dir of a data file, relative to its commit dir:
    * `<table>/d-<uuid>/a=1/b=2/part-x.parquet` → `a=1/b=2`. */
  private def partitionDirOf(table: String, fileUri: String): String = {
    val rel = fileUri.stripPrefix(tablePath(table).toString).stripPrefix("/")
    rel.split("/").drop(1).dropRight(1).mkString("/")
  }

  /** Partition-column NAMES a data file's hive path encodes, in dir
    * order — the layout the file was actually written under. */
  private def partitionKeysOf(fileUri: String): Seq[String] =
    fileUri.split('/').dropRight(1).filter(_.contains("="))
      .map(_.takeWhile(_ != '=').toLowerCase).toSeq

  /** CURRENT partition layout — the one new commits write under
    * (empty = unpartitioned). Iceberg-style default spec: evolution
    * updates it for FUTURE writes only; already-written files keep
    * their own hive dirs, and the per-commit-group `basePath` read
    * resolves each era's dirs into columns, union-by-name aligning
    * the eras (a column that is a dir in one era is plain file data
    * in the other). */
  def partitioning(table: String): Seq[String] =
    headManifest(table).fold(Seq.empty[String])(_.layout)

  /** The layout in force at retained version `v` (time travel). */
  private[graft] def partitioning(table: String, v: Long): Seq[String] =
    load(table, v).layout

  /** Partition evolution: change the layout NEW commits write under —
    * a metadata commit, never a rewrite (at 100 TB, re-laying a table
    * out must be a choice, not a prerequisite). Old files stay under
    * their old dirs and keep reading correctly (see [[partitioning]]);
    * a later `compact`/OPTIMIZE folds everything into the new layout.
    * The new `#parts=` header over the same files is a metadata commit
    * (DESCRIBE HISTORY shows it). Partition dirs store values by NAME,
    * so renamed columns (files store the physical name) are rejected. */
  def setPartitioning(table: String, newParts: Seq[String]): Unit = {
    newParts.foreach(ColumnMapping.requireMappable)
    require(newParts.map(_.toLowerCase).distinct.size == newParts.size,
      s"duplicate partition columns in ${newParts.mkString(",")}")
    declare(table, "SET PARTITIONING") { (rs, pinned) =>
      val logical = readManifest(table, rs, pinned).columns
      val m = pinned.columnMapping
      newParts.foreach { p =>
        require(logical.exists(_.equalsIgnoreCase(p)),
          s"no column $p in $table (have ${logical.mkString(", ")})")
        require(m.physicalOf(p).equalsIgnoreCase(p),
          s"cannot partition on renamed column $p: hive dirs store the " +
            "current name, files the physical one — OPTIMIZE first")
      }
      _.copy(parts = Some(newParts))
    }
  }

  /** A table-metadata declaration: `plan` validates it against a pinned
    * version (Spark jobs allowed) and returns the edit the claim applies
    * to the head; a racing data commit makes it validate again. CHECK
    * and RELY constraints share one `name` space (DROP CONSTRAINT). */
  private def declare(table: String, op: String, name: Option[String] = None)(
                      plan: (Long, Manifest) => Manifest => Manifest): Unit = {
    name.foreach(n => require(!n.contains("\t") && !n.contains("\n"), "bad constraint name"))
    def free(m: Manifest): Unit = name.foreach(n => require(!m.constraintNames.contains(n),
      s"constraint $n already exists on $table"))
    recomputing(5) {
      val rs = existing(table, currentVersion(table))
      val pinned = load(table, rs)
      free(pinned)
      val edit = plan(rs, pinned)
      commitEdit(table, op) { (c, m) =>
        assertSnapshotCurrent(table, rs, Some(c)) // the rows `plan` validated
        free(m)
        edit(m)
      }
    }
  }

  /** Loud guard for operations whose partition arithmetic assumes
    * every live data file sits under the CURRENT layout (partition-
    * scoped overwrite): after an evolution, pre-evolution files would
    * silently escape the touched-dir filter. */
  private def requireCurrentLayout(table: String, head: Manifest): Unit = {
    val parts = head.layout.map(_.toLowerCase)
    val bad = head.data.filterNot(f => partitionKeysOf(f) == parts)
    require(bad.isEmpty,
      s"table $table carries files from an earlier partition layout " +
        s"(e.g. ${bad.take(2).mkString(", ")}); OPTIMIZE or compact " +
        "into the current layout first")
  }

  /** File list composing a retained version: data files and delete
    * entries in manifest order, no headers. */
  def manifest(table: String, v: Long): Seq[String] = load(table, v).lines

  /** The one code path that opens a manifest file: version `v` of
    * `table`, failing loudly when it is gone. */
  private def load(table: String, v: Long): Manifest =
    loadFile(manifestFile(table, v)).getOrElse(throw new IllegalStateException(
      s"version $v of $table is not retained (vacuumed or never committed)"))

  /** The current version's manifest; None for a missing table. */
  private def headManifest(table: String): Option[Manifest] =
    currentVersion(table).map(load(table, _))

  /** The manifest at `p` (published or staged), None when absent. */
  private def loadFile(p: Path): Option[Manifest] = {
    MetaMetrics.manifestLoads.incrementAndGet()
    try Some(withLegacyMeta(p.getParent, Manifest.parse(readSmallFile(p))))
    catch { case _: java.io.FileNotFoundException => None }
  }

  /** A manifest without `#parts=` predates the metadata headers: its table
    * kept them in `_PARTITIONING`, `_CONSTRAINTS` and `_RELY`, read only
    * here; the next commit carries them. */
  private def withLegacyMeta(dir: Path, m: Manifest): Manifest =
    if (m.parts.isDefined) m
    else {
      def lines(name: String): Seq[String] = {
        val p = new Path(dir, name)
        if (!fs(p).exists(p)) Nil
        else readSmallFile(p).split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
      }
      m.copy(parts = Some(lines("_PARTITIONING").flatMap(_.split(",")).filter(_.nonEmpty)),
        checks = lines("_CONSTRAINTS").map(_.split("\t", 2)).collect { case Array(n, sql) => n -> sql },
        keys = lines("_RELY"))
    }

  /** When version `v` was committed. The commit writes an explicit
    * `#ts=` header into the manifest itself — filesystem mtime is
    * coarse (1 s on many filesystems) and unstable on object stores (a
    * copied/restored object gets a NEW mtime), so TIMESTAMP AS OF must
    * not depend on it. Pre-header manifests fall back to mtime. */
  def commitTimeMs(table: String, v: Long): Long =
    commitTime(table, v, load(table, v))

  private def commitTime(table: String, v: Long, m: Manifest): Long =
    m.ts.getOrElse {
      val p = manifestFile(table, v)
      fs(p).getFileStatus(p).getModificationTime
    }

  /** Single publication point for manifests: stamps the commit time
    * and makes the version visible all-or-nothing. The COPY INTO
    * ledger rides the SAME atomic swing as the data it describes,
    * which is what makes file ingest exactly-once with no cross-commit
    * crash window. */
  private def publishManifest(table: String, v: Long, m: Manifest): Unit = {
    // `#parts=` always, even empty: its absence marks an old manifest
    val body = m.copy(ts = Some(System.currentTimeMillis()),
      parts = Some(m.layout)).render
    activeTxn match {
      case Some(t) =>
        // transaction staging: the claim is held, but publication
        // waits for commitTransaction's pointer swing
        claims.publish(stagedManifestPath(t, table, v), body)
        synchronized { stagedCommits += ((table, v)) }
      case None =>
        claims.publish(manifestPath(table, v), body)
        writeLatestHint(table, v)
    }
  }

  /** COPY INTO's ledger at version `v`, parsed:
    * (source file → its listing mtime, source root → listing
    * watermark). O(manifest header) — one small-file read, no table
    * scan; the watermark pruning in [[FileIngest]] keeps the header
    * bounded to the recent-mtime window instead of all history. */
  def ingestState(table: String, v: Long): TableStore.IngestState =
    load(table, v).ingestState

  /** Append that publishes data AND the updated COPY INTO ledger
    * (`ingestLines`, pre-formatted via [[Manifest.ingestLine]] /
    * [[Manifest.ingestWmLine]]) in ONE atomic commit, aborting
    * ([[SnapshotConflictException]]) if the table moved past
    * `readSnapshot` — the single-commit exactly-once ingest
    * primitive: there is no state in which the data is visible but
    * the ledger is not, so a crashed run's retry can never reload a
    * published batch. Returns the committed batch's row count folded
    * from the write's own parquet footers (-1 if unknown — see
    * [[commit]]), so the caller's exactness report costs no second
    * scan of the source. */
  def appendIngest(table: String, df: DataFrame, ingestLines: Seq[String],
                   readSnapshot: Long): Long =
    commit(table, df, carryAll, mustCreate = false,
      readSnapshot = Some(readSnapshot), ingest = Some(ingestLines),
      op = "COPY INTO")

  /** First-run half of [[appendIngest]]: CREATE is itself the
    * conflict check — a racing first run loses the create claim. */
  def createIngest(table: String, df: DataFrame,
                   ingestLines: Seq[String]): Long = {
    require(!exists(table), s"table $table already exists")
    commit(table, df, carried = _ => Nil, mustCreate = true,
      ingest = Some(ingestLines), op = "COPY INTO")
  }

  /** Column mapping in force at version `v` (identity when absent). */
  def columnMapping(table: String, v: Long): ColumnMapping =
    load(table, v).columnMapping

  private def currentMapping(table: String): ColumnMapping =
    headManifest(table).fold(ColumnMapping.empty)(_.columnMapping)

  /** RENAME COLUMN as a pure metadata commit (Delta name-mapping):
    * files keep the old PHYSICAL name; the new manifest maps
    * logical `to` onto it. O(manifest), never a rewrite. Partition
    * columns are physical layout (hive dirs) and cannot rename;
    * names referenced by CHECK constraints must drop the constraint
    * first (its SQL would silently stop matching rows). */
  def renameColumn(table: String, from: String, to: String): Unit = {
    ColumnMapping.requireMappable(to); ColumnMapping.requireMappable(from)
    commitEdit(table, "RENAME COLUMN") { (v, cm) =>
      // validated INSIDE the claim loop, against the winning claim's
      // version — a racing ADD COLUMNS / rename must re-fail the
      // checks, not slip between a stale validation and the commit
      val logical = readManifest(table, v, cm).columns
      require(logical.exists(_.equalsIgnoreCase(from)),
        s"no column $from in $table (have ${logical.mkString(", ")})")
      require(!logical.exists(_.equalsIgnoreCase(to)),
        s"column $to already exists in $table")
      require(!cm.layout.exists(_.equalsIgnoreCase(from)),
        s"cannot rename partition column $from: the hive layout is physical")
      requireNoConstraintRef(table, cm, from)
      val m = cm.columnMapping
      val phys = m.physicalOf(from)
      // OTHER columns' physical names are off-limits; renaming BACK to
      // this column's own physical name is the legal collapse case
      val otherPhys = m.renames.filterNot(_._1.equalsIgnoreCase(from)).values
      require(!m.isDropped(to) && !otherPhys.exists(_.equalsIgnoreCase(to)),
        s"name $to is claimed as a physical/dropped storage name in $table")
      // chain-collapse (a→b→c keeps c→physical(a)); renaming BACK to
      // the physical name removes the entry entirely
      val renames = m.renames.filterNot(_._1.equalsIgnoreCase(from)) ++
        (if (to.equalsIgnoreCase(phys)) Map.empty[String, String]
         else Map(to -> phys))
      cm.copy(colmap = ColumnMapping(renames, m.dropped).serialize)
    }
  }

  /** DROP COLUMN as a pure metadata commit: the PHYSICAL column stays
    * in old files but is hidden from every read; re-adding the same
    * name is rejected (it would resurrect the hidden bytes — rewrite
    * via OPTIMIZE first if the name must return). O(manifest). */
  def dropColumn(table: String, name: String): Unit = {
    ColumnMapping.requireMappable(name)
    commitEdit(table, "DROP COLUMN") { (v, cm) =>
      // inside the claim loop for the same reason as renameColumn
      val logical = readManifest(table, v, cm).columns
      require(logical.exists(_.equalsIgnoreCase(name)),
        s"no column $name in $table (have ${logical.mkString(", ")})")
      require(logical.length > 1, s"cannot drop the only column of $table")
      require(!cm.layout.exists(_.equalsIgnoreCase(name)),
        s"cannot drop partition column $name: the hive layout is physical")
      requireNoConstraintRef(table, cm, name)
      val m = cm.columnMapping
      val phys = m.physicalOf(name)
      cm.copy(colmap = ColumnMapping(m.renames.filterNot(_._1.equalsIgnoreCase(name)),
        m.dropped + phys).serialize)
    }
  }

  /** A CHECK constraint's SQL references logical names as free text;
    * renaming/dropping one out from under it would make the predicate
    * resolve differently (or fail) on the next commit. */
  private def requireNoConstraintRef(table: String, m: Manifest,
                                     name: String): Unit = {
    val pat = java.util.regex.Pattern.compile(
      s"(?i)\\b${java.util.regex.Pattern.quote(name)}\\b")
    val hits = m.checks.collect {
      case (n, sql) if pat.matcher(sql).find() => n
    }
    require(hits.isEmpty,
      s"column $name is referenced by CHECK constraint(s) " +
        s"${hits.mkString(", ")} on $table; drop them first")
  }

  /** Write data + claim the next version exclusively; retry on claim
    * conflict (optimistic concurrency). `carried` maps the current
    * version's manifest (as of the winning claim — re-evaluated per
    * attempt so a lost race carries the racer's files, not a stale
    * list) to the previous files this commit keeps by reference.
    * `base` (the pre-claim head, loaded when None; for a create, the
    * metadata version 0 publishes) gives the write its column mapping,
    * layout and CHECK set. `requireWithin` asserts every new file lands
    * inside the declared partition dirs (a row outside them would
    * silently double-count against a carried file). */
  private def commit(table: String, df: DataFrame,
                     carried: Option[Manifest] => Seq[String],
                     mustCreate: Boolean,
                     base: Option[Manifest] = None,
                     requireWithin: Option[Set[String]] = None,
                     physicalFrame: Boolean = false,
                     txns: Seq[(String, Long)] = Nil,
                     txnReassert: Boolean = false,
                     preserveLayout: Boolean = false,
                     readSnapshot: Option[Long] = None,
                     snapshotDisjointOk: Boolean = false,
                     ingest: Option[Seq[String]] = None,
                     op: String = "WRITE"): Long = {
    val dataDir = new Path(tablePath(table), s"d-${UUID.randomUUID()}")
    val planned = base.getOrElse(
      if (mustCreate) Manifest() else headManifest(table).getOrElse(Manifest()))
    val parts = planned.layout
    // CHECK constraints ride the write job itself (observe = metrics
    // collected during the action, zero extra passes); a violation
    // deletes the orphan data dir and aborts before any claim.
    // Constraints see LOGICAL names — the physical rename happens
    // after, on top of the observed plan.
    val checks = planned.checks
    val obs = if (checks.isEmpty) None
      else Some(new Observation(s"ck-${UUID.randomUUID()}"))
    val observed = obs.map { o =>
      val aggs = checks.map { case (n, s) =>
        count(when(!coalesce(expr(s), lit(true)), 1)).as(n) }
      df.observe(o, aggs.head, aggs.tail: _*)
    }.getOrElse(df)
    // files store PHYSICAL column names so every commit's files agree
    // with every other's; `physicalFrame` marks internal rewrites
    // (compactSmall) whose frame is already raw file bytes
    val toWrite =
      if (mustCreate || physicalFrame) observed
      else planned.columnMapping.applyWrite(observed, table)
    // Partitioned writes: AQE-rebalance on the partition columns first,
    // or every upstream task emits a file per partition value it holds
    // (tasks x values small files per commit — footer-read debt on every
    // later read, and the classic small-file pathology at scale). The
    // rebalance coalesces each value into few right-sized files AND
    // splits a skewed value across tasks (it does NOT force
    // one-task-per-value like a plain repartition would). Skipped when
    // the caller pre-shaped the frame (preserveLayout — a z-ordered
    // rewrite must keep its range partitioning) and for unpartitioned
    // writes, which keep the caller's layout as-is.
    val shaped =
      if (parts.nonEmpty && !preserveLayout) toWrite.hint("rebalance", parts: _*)
      else toWrite
    // the frame's schema in read order (partition columns last, as
    // hive dirs resolve them), so a version this write leaves without
    // a single file still reads as an empty table of these columns
    val schema = {
      val (p, d) = toWrite.schema.fields.toSeq
        .partition(f => parts.exists(_.equalsIgnoreCase(f.name)))
      org.apache.spark.sql.types.StructType((d ++ parts.flatMap(n =>
        p.find(_.name.equalsIgnoreCase(n)))).map(_.copy(nullable = true))).json
    }
    val writer = shaped.write.mode(SaveMode.Overwrite)
    JobLabel(spark, s"graft:commit $table op=$op") {
      (if (parts.nonEmpty) writer.partitionBy(parts: _*) else writer)
        .parquet(dataDir.toString)
    }
    obs.foreach { o =>
      val metrics = o.get
      val bad = checks.collect {
        case (n, s) if metrics(n).asInstanceOf[Long] > 0 =>
          s"$n ($s): ${metrics(n)} row(s)"
      }
      if (bad.nonEmpty) {
        fs(dataDir).delete(dataDir, true)
        throw new IllegalArgumentException(
          s"constraint violation writing to $table: ${bad.mkString("; ")}")
      }
    }
    val newFiles = listDataFiles(dataDir)
    requireWithin.foreach { allowed =>
      val outside = newFiles.map(partitionDirOf(table, _)).toSet -- allowed
      if (outside.nonEmpty) {
        fs(dataDir).delete(dataDir, true)
        throw new IllegalArgumentException(
          s"rows outside the declared touched partitions: ${outside.mkString(", ")}")
      }
    }

    // folded from the footers the write just produced — O(new files)
    // driver-side metadata reads, no second pass over the data;
    // retries reuse it (the files don't change across attempts)
    val FileStats.Folded(newStats, footerSchema) =
      FileStats.compute(hadoopConf, newFiles)
    // rows this commit adds, from the same footers — the exact-once
    // COPY INTO report reads the batch ONCE (the write), never a
    // second counting pass. -1 = unknown (a file carrying a real
    // __rows column suppresses its row line); callers fall back.
    val newRows: Long = {
      val byFile = newStats.flatMap { l =>
        l.split("\t", -1) match {
          case Array(k, c, _, total, _) if c == FileStats.RowsCol =>
            Some(k -> total.toLong)
          case _ => None
        }
      }.toMap
      val counts = newFiles.map(f => byFile.get(FileStats.fileKey(f)))
      if (counts.forall(_.isDefined)) counts.flatten.sum else -1L
    }

    // Seed the schema cache for this commit's group so its FIRST read
    // skips the distributed mergeSchema inference job: all newFiles
    // come from ONE Spark write, so every footer carries the same
    // Spark-written schema, and the footer pass above already read it
    // (a spark.read.parquet(...).schema probe here would itself launch
    // a small job per commit — measured at ~30 ms, i.e. exactly the
    // cost being saved; absent key ⇒ skip, the first read just
    // infers). Non-fatal on any error.
    footerSchema.foreach { json =>
      try {
        val st = org.apache.spark.sql.types.DataType.fromJson(json)
          .asInstanceOf[org.apache.spark.sql.types.StructType]
        // keyed on the dir name, so a read of any SUBSET of the group
        // (a partition overwrite superseded some of its files, or a
        // feed reads only the files a vector names) finds it too
        SchemaCache.getOrInfer(commitDirKey(dataDir.getName))(st)
      } catch { case scala.util.control.NonFatal(_) => () }
    }

    try claimLoop(table, mustCreate,
        onExists = () => fs(dataDir).delete(dataDir, true)) { (cur, v) =>
      // snapshot isolation for rewrite commits: abort (inside the
      // claim, before any sidecar/manifest write) if the table moved
      // past the version this rewrite's frame was computed from in a
      // way the rewrite would silently undo; partition-scoped
      // rewrites additionally tolerate pure appends OUTSIDE their
      // touched dirs (logical, not physical, conflict detection)
      readSnapshot.foreach(rs => assertSnapshotCurrent(table, rs, cur,
        disjointAddsOk = if (snapshotDisjointOk) requireWithin else None))
      // Delta's SetTransaction discipline: REVALIDATE the app-txn
      // watermark INSIDE the claim, against the published chain as of
      // this attempt. The caller-side lastTxn check happens before any
      // work, so a zombie writer (driver failover replaying a batch id
      // the new driver already committed) passes it — this check is
      // what actually makes appendTxn/overwriteTxn exactly-once under
      // concurrent redelivery: the replay no-ops instead of
      // double-applying.
      // cost: O(1) in steady state (an app that uses txn commits
      // writes a header near the chain's top every batch); an app's
      // FIRST-ever batch on a long-retained table pays one full
      // manifest scan before returning None — once per app, inside
      // the claim. Acceptable: vacuum bounds retained versions.
      // Multi-watermark commits (a join view binding fact AND dim in
      // one append) replay iff the whole VECTOR is at-or-behind the
      // published watermarks; any single component strictly PAST its
      // proposed value is a zombie crossing newer work — both no-op.
      // For the single-app case this is exactly the old `last >= ver`.
      // Every app resolves in ONE walk down from the claim's loaded head.
      val curM = cur.map(load(table, _))
      if (!txnReassert && txns.nonEmpty) {
        val apps = txns.map(_._1).toSet
        val last = scala.collection.mutable.Map.empty[String, Long]
        for (c <- cur; m <- curM) walkTxns(table, c, m) { found =>
          for ((app, w) <- found if apps(app) && !last.contains(app))
            last(app) = w
          last.size == apps.size
        }
        val regressed = txns.exists { case (app, ver) =>
          last.get(app).exists(_ > ver) }
        if (regressed || txns.forall { case (app, ver) =>
            last.get(app).exists(_ >= ver) }) {
          val (app, ver) = txns.head
          throw new TableStore.TxnAlreadyApplied(app, ver)
        }
      }
      // the metadata the write was planned under must still hold
      // (Delta: a concurrent metaData change conflicts): a CHECK added
      // since never saw these rows, and touched dirs need their layout
      if (curM.exists(m => !m.checks.toSet.subsetOf(checks.toSet) ||
          requireWithin.isDefined && m.layout != parts))
        throw new SnapshotConflictException(s"$table: table metadata (CHECK " +
          "constraints or layout) changed while the write was in flight; retry")
      val carriedLines = carried(curM)
      // carried files keep their stats by reference, same as the
      // data itself: copy the matching lines from cur's sidecar.
      // Written after the claim (so the version is ours) and before
      // the manifest (readers only consult stats of published
      // versions); a crash in between leaves an invisible sidecar
      // the next claimant of v simply overwrites. STREAMED line by
      // line — the commit-side mirror of the read path's bounded
      // fold: carrying a 10⁷-file sidecar holds one line plus the
      // carried-key set (whose strings the manifest already holds),
      // never the full text or the (file, column) map.
      val carriedKeys = carriedLines.filterNot(Manifest.isDeleteLine)
        .map(FileStats.fileKey).toSet
      writeStatsCarried(table, cur, v, carriedKeys.contains, newStats)
      // data commits carry cur's table metadata and ingest ledger
      val prev = curM.getOrElse(planned)
      publishManifest(table, v, prev.next(op, carriedLines ++ newFiles).copy(
        schema = Some(schema), txns = txns,
        ingest = ingest.getOrElse(prev.ingest)))
    } catch {
      case e: SnapshotConflictException =>
        // conflicts are an expected, caller-handled outcome (retry or
        // surface) — don't leave the orphan data dir for vacuumOrphans
        fs(dataDir).delete(dataDir, true)
        throw e
      case _: TableStore.TxnAlreadyApplied =>
        // replayed batch: the data is already in the table from the
        // first delivery — clean up this attempt's files and report
        // zero new rows (the claim was released by claimLoop)
        fs(dataDir).delete(dataDir, true)
        return 0L
    }
    newRows
  }

  /** Delta-ConflictChecker-style validation for rewrite commits: the
    * frame about to commit was computed from version `readSnapshot`;
    * `cur` is the version the winning claim builds on. Every version
    * in between must be provably harmless — a commit is harmless iff
    * its manifest's file lines AND its column mapping are identical to
    * its predecessor's (metadata-only commits: partition evolution,
    * RESTORE to the same state). Anything else — appends, deletes,
    * MoR delete markers, compactions, renames — would be silently
    * undone by publishing this rewrite, so it aborts. A vacuumed
    * in-between manifest is unverifiable and conflicts conservatively.
    *
    * LOGICAL conflict detection for partition-scoped rewrites
    * (`disjointAddsOk` = the hive dirs the commit replaces): an
    * in-between commit that is a PURE ADDITION of data files entirely
    * OUTSIDE the touched dirs is also harmless — the rewrite's
    * `carried` re-evaluates against the winning claim's manifest, so
    * the racer's files carry forward untouched while the replacement
    * frame only supersedes partitions the racer never wrote. This is
    * what lets a continuous-ingest table take a concurrent CDC merge
    * to OTHER partitions without serializing the two logically
    * (Delta/Iceberg's partition-level conflict granularity). Removed
    * lines, delete markers (equality/DV — they apply across partition
    * boundaries), or a column-mapping change still conflict. */
  private def assertSnapshotCurrent(table: String, readSnapshot: Long,
                                    cur: Option[Long],
                                    disjointAddsOk: Option[Set[String]] = None)
      : Unit = {
    val c = cur.getOrElse(return)
    if (c < readSnapshot)
      throw new SnapshotConflictException(
        s"$table: read snapshot $readSnapshot is ahead of current $c " +
          "(RESTOREd or recreated concurrently)")
    // the common, uncontended case: nothing moved — zero extra reads
    if (c == readSnapshot) return
    def stateOf(v: Long): (Set[String], Option[String]) =
      try { val m = load(table, v); (m.lines.toSet, m.colmap) }
      catch { case _: IllegalStateException =>
        throw new SnapshotConflictException(
          s"$table: version $v was vacuumed while a rewrite of " +
            s"snapshot $readSnapshot was in flight; cannot prove safety") }
    // each iteration's state is the next one's predecessor (inside
    // the held claim every read widens the claim window)
    var (prevLines, prevMap) = stateOf(readSnapshot)
    var w = readSnapshot + 1
    while (w <= c) {
      val (lines, map) = stateOf(w)
      if (lines != prevLines) {
        val harmlessAdd = disjointAddsOk.exists { touched =>
          val removed = prevLines -- lines
          val added = lines -- prevLines
          removed.isEmpty && added.forall(l =>
            !Manifest.isDeleteLine(l) && !touched.contains(partitionDirOf(table, l)))
        }
        if (!harmlessAdd)
          throw new SnapshotConflictException(
            s"$table: concurrent data change at version $w (rewrite read " +
              s"snapshot $readSnapshot, head is $c); retry against the " +
              "current version")
      }
      if (map != prevMap)
        throw new SnapshotConflictException(
          s"$table: concurrent schema change (column mapping) at version " +
            s"$w (rewrite read snapshot $readSnapshot, head is $c)")
      prevLines = lines
      prevMap = map
      w += 1
    }
  }

  /** True when only metadata commits lie between `from` and `to`. */
  private[lake] def sameRows(table: String, from: Long, to: Long): Boolean =
    try { assertSnapshotCurrent(table, from, Some(to)); true }
    catch { case _: SnapshotConflictException => false }

  /** THE optimistic-concurrency loop — every commit path (data or
    * metadata-only) serializes through this one helper so protocol
    * fixes can't drift between copies. Claims version cur+1; on a
    * lost race, backs off (linear, capped) and re-reads: the winner
    * holds the claim for v but its manifest may not be visible yet,
    * so currentVersion still reads v-1 and an immediate retry would
    * re-contend the SAME v — spinning through the attempt budget in
    * milliseconds while the winner is mid-publish. `publish(cur, v)`
    * must write sidecars first and the manifest last (the manifest IS
    * the publication point). */
  private def claimLoop(table: String, mustCreate: Boolean,
                        onExists: () => Unit = () => ())(
                        publish: (Option[Long], Long) => Unit): Unit = {
    var committed = false
    var attempts = 0
    while (!committed) {
      attempts += 1
      require(attempts <= 100,
        s"gave up claiming a version for $table after $attempts attempts " +
          "— a crashed writer's stale claim (recoverStaleClaims), a dead " +
          "transaction's staged commit (recoverTransactions), or another " +
          "instance's OPEN transaction holds the version; cross-instance " +
          "writes must wait for that transaction to finish")
      // priority yield: a janitor holding the table's _JANITOR marker
      // is folding merge-on-read debt it kept losing races for —
      // writers wait here (claim point, after their data is staged)
      // so the fold lands; TTL-bounded, janitor's own thread exempt
      awaitJanitor(table)
      val cur = currentVersion(table)
      if (mustCreate && cur.isDefined) {
        onExists()
        throw new IllegalArgumentException(s"table $table already exists")
      }
      val v = cur.map(_ + 1).getOrElse(0L)
      if (claims.tryClaim(tablePath(table), v)) {
        // a failed publish (validation inside the claim, a write error)
        // must release the claim — leaking it wedges EVERY later commit
        // to this table until recoverStaleClaims' TTL expires. NonFatal
        // only: a dying JVM can't guarantee cleanup, which is exactly
        // the crash window TTL recovery exists for
        try publish(cur, v)
        catch { case scala.util.control.NonFatal(t) =>
          claims.deleteClaim(tablePath(table), v); throw t }
        committed = true
      } else {
        // a lost claim is the CHEAP race outcome: the loser re-reads
        // the new current and re-publishes (appends recompute nothing
        // — carried re-evaluates). Counted so concurrency specs can
        // pin the retry budget of disjoint writers.
        MetaMetrics.claimConflicts.incrementAndGet()
        Thread.sleep(math.min(250L, 2L * attempts))
      }
    }
  }

  /** Admin recovery for a writer that crashed between claiming a
    * version and publishing its manifest: delete `.claim-<n>` files
    * older than `ttlMs` whose `manifest-<n>` never appeared, unblocking
    * that version for the next writer. Returns the recovered version
    * numbers. The TTL is the safety margin (Delta LogStore's lock
    * takeover works the same way): a claim younger than it may belong
    * to a writer still mid-publish, so pick a TTL above your longest
    * commit; a publish racing the takeover in the instant after the
    * manifest check is the inherent residual window of TTL-based
    * recovery. */
  def recoverStaleClaims(table: String, ttlMs: Long): Seq[Long] = {
    val dir = tablePath(table)
    val now = System.currentTimeMillis()
    val f = fs(dir)
    // versions a journaled-but-unfinished COMMIT still owes this
    // table: their claims and staged manifests belong to
    // recoverTransactions' roll-forward, not to takeover
    val owedByIntent: Set[Long] = pendingIntents().values.flatten
      .collect { case (t, v) if t == table => v }.toSet
    val recovered = claims.listClaims(dir)
      .flatMap { case (v, claimedAt) =>
        val published = f.exists(manifestPath(table, v))
        if (!published && now - claimedAt >= ttlMs &&
            !owedByIntent.contains(v)) {
          claims.deleteClaim(dir, v)
          Some(v)
        } else None
      }.sorted
    // a transaction that crashed between staging and the commit swing
    // leaves staged-<txn>-manifest-<v> files. They are dead weight
    // once the txn can no longer swing them: the version's claim is
    // gone (recovered above, or released) or the version republished
    // by a later writer. A LIVE transaction still holds fresh claims,
    // so its staged files are skipped — the TTL hazard is the same
    // one claim takeover documents (pick ttl above your longest txn).
    if (f.exists(dir)) {
      val held = claims.listClaims(dir).map(_._1).toSet
      f.listStatus(dir).toSeq
        .map(_.getPath)
        .filter(p => p.getName.startsWith("staged-") &&
          p.getName.contains("-manifest-"))
        .filter(p => now - f.getFileStatus(p).getModificationTime >= ttlMs)
        .filter { p =>
          val v = p.getName.substring(
            p.getName.lastIndexOf("-manifest-") + "-manifest-".length).toLong
          (!held.contains(v) || f.exists(manifestPath(table, v))) &&
            !owedByIntent.contains(v)
        }
        .foreach(claims.discard(_, hadoopConf))
    }
    recovered
  }

  /** Committed version history (manifest-backed; readable versions).
    * This is the HISTORY primitive (time travel, CDF, vacuum) and
    * legitimately lists the directory — the hot read path resolves
    * the current version through [[currentVersion]]'s O(1) checkpoint
    * hint instead and never calls this. */
  def versions(table: String): Seq[Long] =
    (listedPublished(table) ++ stagedVersions(table)).distinct.sorted

  /** Full `manifest-<n>` directory listing — O(#commits-ever).
    * Instrumented (MetaMetrics) so specs can pin that table READS
    * never take this path once the checkpoint hint exists. */
  private def listedPublished(table: String): Seq[Long] = {
    MetaMetrics.manifestListings.incrementAndGet()
    val dir = tablePath(table)
    val f = fs(dir)
    if (!f.exists(dir)) Seq.empty[Long]
    else f.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("manifest-"))
      .map(_.stripPrefix("manifest-").toLong)
      .sorted
  }

  /** Store tables (dirs under the root with at least one published
    * manifest) — driver-side metadata listing, no data touched. */
  def tables(): Seq[String] = {
    val r = new Path(root)
    val f = fs(r)
    if (!f.exists(r)) Seq.empty
    else f.listStatus(r).toSeq
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(t => currentVersion(t).isDefined)
      .sorted
  }

  /** Latest version committed at or before `tsMs` (the manifest's own
    * `#ts=` commit-time header, millisecond precision) — the
    * resolution rule behind TIMESTAMP AS OF. */
  def versionAsOf(table: String, tsMs: Long): Option[Long] =
    versions(table).filter(v => commitTimeMs(table, v) <= tsMs).lastOption

  /** Change data feed between two committed versions (Delta CDF /
    * Iceberg incremental-read equivalent): every row added or removed
    * in `(fromV, toV]`, tagged `_change_type` ∈ {insert, delete} and
    * `_commit_version`. The downstream-consumption primitive — an
    * incremental materialized view reads the feed, not the table.
    *
    * A range without rewrites (appends, merge-on-read commits and
    * deletion-vector DELETE/UPDATE — the CDC steady state) is read
    * COMMIT BY COMMIT from each commit's own manifest lines, the Delta
    * Lake change-feed design: inserts are the commit's new data files
    * as committed, and deletes are the previous version's rows the
    * commit removed — those matching its equality-delete keys or at
    * its deletion vectors' (file, row position) entries, one filter
    * over driver-built delete sets ([[DeleteSet]]). A vector-only
    * commit reads only the data files its vectors name. That is
    * O(changed data) on the insert side and, for vectors, on the
    * delete side too — no join and no shuffle, the property that
    * makes a daily feed off a 100 TB table cheap. A range containing a
    * rewrite (overwrite / compact / partition overwrite / restore:
    * some commit drops a line its predecessor had) falls back to a
    * full bag diff (`exceptAll` both ways — null-safe,
    * multiplicity-exact) with attribution collapsed to `toV`, as
    * rewrites don't preserve row-level lineage. */
  def changes(table: String, fromV: Long, toV: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    require(fromV <= toV, s"fromV $fromV must be <= toV $toV")
    def tagged(df: DataFrame, kind: String, v: Long): DataFrame =
      df.withColumn("_change_type", lit(kind))
        .withColumn("_commit_version", lit(v))
    val plan = new FeedPlan(table, fromV, toV)
    def empty = tagged(readManifest(table, toV, plan.manifest(toV)).limit(0), "", 0L)
    // a range of content-neutral rewrites preserves the row bag by
    // contract: emit the empty feed directly instead of falling back
    // to the O(table) two-sided bag diff a rewrite normally forces —
    // this is what keeps "maintenance ran between syncs" from turning
    // an incremental consumer's next pull into a full-table scan
    if (plan.neutral) return empty
    // the whole feed surfaces under the LATEST (toV) schema,
    // Delta-CDF-style: files and delete keys store PHYSICAL names, so
    // mapping every version through toV's colmap makes a range that
    // spans a RENAME emit one column under its current name (not an
    // old-name/new-name pair, each half-null), and a column dropped
    // by toV is absent from the whole feed
    val mvTo = plan.manifest(toV).columnMapping
    if (!plan.rewrite) {
      val feeds = plan.commits.flatMap { case (v, newLines) =>
        // inserts: this commit's own data files, as committed (its
        // delete lines precede them in the manifest, so they exempt
        // these rows by construction). Emitted UN-netted: a row
        // inserted at v1 and deleted at v2 appears as insert(v1) +
        // delete(v2) — with deletes taken from the v-1 view below, the
        // feed telescopes exactly from the fromV state to the toV
        // state under plain bag algebra, per version or all at once.
        val added = Manifest(newLines)
        val ins =
          if (added.data.nonEmpty)
            Some(tagged(mvTo.applyRead(readLines(table, v, added)), "insert", v))
          else None
        // deletes: the PREVIOUS version's rows this commit's delete
        // lines remove. Reading v-1 (not fromV) keeps multiplicities
        // exact when a later commit re-deletes a key it already
        // removed: the row is gone from the v-1 view, so no phantom
        // second delete; and a vector's positions are rows live at
        // v-1 by construction. A row both a key and a vector remove
        // emits once. The filter runs RAW (physical names on both
        // sides); the row ids drop before the mapping.
        val keyFiles = added.dels
        val dvFiles = added.dvs
        // a vector-only commit removes rows of the files its vectors
        // name and nothing else: read just those (and v-1's delete
        // lines, in manifest order) — O(changed files), not O(table)
        val prevLines =
          if (dvFiles.isEmpty || keyFiles.nonEmpty) plan.lines(v - 1)
          else {
            val named = DeleteSet.vectorTargets(spark, hadoopConf, dvFiles, DvSchema)
            val kept = plan.lines(v - 1)
              .filter(l => Manifest.isDeleteLine(l) || named(new Path(l)))
            // a name that matched no line would silently drop its deletes
            if (kept.count(!Manifest.isDeleteLine(_)) != named.size)
              throw new IllegalStateException(
                s"deletion vectors of $table version $v name files not live at ${v - 1}")
            kept
          }
        val del =
          if (keyFiles.isEmpty && dvFiles.isEmpty || prevLines.forall(Manifest.isDeleteLine)) None
          else {
            val prev = readLines(table, v - 1, Manifest(prevLines),
              withRowId = dvFiles.nonEmpty)
            val removed = Option.when(dvFiles.nonEmpty)(inVectors(dvFiles)) ++
              Option.when(keyFiles.nonEmpty)(
                DeleteSet.inKeys(spark, hadoopConf, keyFiles, prev))
            val rows = prev.where(removed.reduce(_ || _))
            Some(tagged(mvTo.applyRead(
              if (dvFiles.isEmpty) rows else rows.drop(RowFileCol, RowPosCol)),
              "delete", v))
          }
        ins.toSeq ++ del.toSeq
      }
      if (feeds.isEmpty) empty
      else feeds.reduce(_.unionByName(_, allowMissingColumns = true))
    } else {
      // both endpoints read RAW and map through toV's colmap (see
      // above) so a rename inside the range still diffs one column
      val a = mvTo.applyRead(readLines(table, fromV, plan.manifest(fromV)))
      val b = mvTo.applyRead(readLines(table, toV, plan.manifest(toV)))
      // the diff runs under toV's schema exactly: a column added since
      // fromV null-fills the old side (typed from toV), and a column
      // present only at fromV (its files all rewritten away by a
      // narrowing overwrite) is absent from the feed — same
      // latest-schema rule the rename story above applies
      val allCols = b.columns.toIndexedSeq
      def aligned(df: DataFrame) = df.select(allCols.map { c =>
        if (df.columns.contains(c)) col(c)
        else lit(null).cast(b.schema(c).dataType).as(c)
      }: _*)
      tagged(aligned(b).exceptAll(aligned(a)), "insert", toV)
        .unionByName(
          tagged(aligned(a).exceptAll(aligned(b)), "delete", toV))
    }
  }

  /** `changes`' case analysis over `(fromV, toV]`, from manifest
    * metadata alone — no Spark job. `changes`, [[rangeMayDelete]] and
    * [[changeRowsBound]] all read it, so the feed and the two answers
    * about it cannot drift apart. Each manifest is loaded at most once,
    * and only when asked for. */
  private final class FeedPlan(table: String, fromV: Long, toV: Long) {
    private val man = scala.collection.mutable.LongMap.empty[Manifest]
    def manifest(v: Long): Manifest = man.getOrElseUpdate(v, load(table, v))
    def lines(v: Long): Seq[String] = manifest(v).lines
    private def range = (fromV + 1) to toV
    /** Every commit is a content-neutral rewrite (COMPACT / OPTIMIZE /
      * z-order): the feed is empty. Decided from the commits' op
      * headers alone, so it still answers after a vacuum has aged out
      * fromV's manifest. */
    val neutral: Boolean =
      fromV < toV &&
        range.forall(v => TableStore.NeutralOps(manifest(v).op))
    /** Some commit drops a line its predecessor had — its rows lose
      * their lineage, so the feed is the endpoint bag diff. */
    lazy val rewrite: Boolean = range.exists { v =>
      val cur = lines(v).toSet
      !lines(v - 1).forall(cur)
    }
    /** Each commit's new manifest lines, in manifest order: data
      * files, `del|` key files and `dv|` vectors. */
    lazy val commits: Seq[(Long, Seq[String])] = range.map { v =>
      val prev = lines(v - 1).toSet
      (v, lines(v).filterNot(prev))
    }
  }

  /** Whether `changes(table, fromV, toV)` COULD emit any delete-typed
    * row — answered from MANIFEST METADATA alone, no Spark job. The
    * change-feed consumers that branch on "any deletes in this batch?"
    * (the MV extremum/sketch repair) were paying a take(1) job per
    * refresh to probe the feed; this reads `changes`' own case
    * analysis instead: a content-neutral range, and a range without
    * rewrites whose commits carry no delete lines, emit insert-only
    * feeds by construction. Conservative the other way: delete lines
    * that match nothing return true — the repair then runs with an
    * empty affected set and reproduces the plain fold exactly
    * (spec-pinned). */
  private[graft] def rangeMayDelete(table: String, fromV: Long,
                                    toV: Long): Boolean = {
    if (fromV >= toV) return false
    val plan = new FeedPlan(table, fromV, toV)
    !plan.neutral &&
      (plan.rewrite || plan.commits.exists(_._2.exists(Manifest.isDeleteLine)))
  }

  /** An upper bound on the rows `changes(table, fromV, toV)` emits,
    * from the manifests, the stats sidecar's footer row counts and the
    * deletion vectors' footers alone — no Spark job — so a consumer
    * that collects bounded feeds decides BEFORE the feed is evaluated.
    * Reads `changes`' case analysis: a content-neutral range emits
    * nothing; a range without rewrites emits, per commit, its new
    * files' rows, plus every row of the version before it when it has
    * equality-delete lines, or else its vectors' positions; a range
    * with a rewrite emits at most both endpoints whole. Exact for a
    * range of appends and deletion-vector DELETE/UPDATE commits. None
    * when a file it counts has no folded count. */
  private[graft] def changeRowsBound(table: String, fromV: Long,
                                     toV: Long): Option[Long] = {
    if (fromV >= toV) return Some(0L)
    val plan = new FeedPlan(table, fromV, toV)
    if (plan.neutral) return Some(0L)
    // physical rows of `v`'s data lines among `lines`
    def rows(v: Long, lines: Seq[String]): Option[Long] = {
      val data = Manifest(lines).data
      val counts = fileRows(table, v, data)
      if (data.forall(counts.contains)) Some(data.map(counts).sum) else None
    }
    val parts =
      if (plan.rewrite)
        Seq(rows(fromV, plan.lines(fromV)), rows(toV, plan.lines(toV)))
      else plan.commits.flatMap { case (v, nl) =>
        val added = Manifest(nl)
        rows(v, nl) +: (
          if (added.dels.nonEmpty) Seq(rows(v - 1, plan.lines(v - 1)))
          else added.dvs.map(f => Some(FileStats.rowCount(hadoopConf, f))))
      }
    parts.foldLeft(Option(0L))((acc, p) => acc.flatMap(a => p.map(a + _)))
  }

  /** Declarative write-time CHECK constraints (Delta parity), one
    * `#check=` header each, declared by a metadata commit that first
    * validates the pinned version's rows (one read job). Every create
    * / overwrite / append / MoR commit validates the incoming batch
    * and aborts BEFORE claiming a version when any row fails.
    * Validation rides the commit's own write job via `Dataset.observe`
    * — zero extra passes over the batch — and is O(batch), never
    * O(table): existing data was validated by its own commits. SQL
    * CHECK semantics: a NULL predicate passes. */
  def addConstraint(table: String, name: String, sql: String): Unit =
    declare(table, "ADD CONSTRAINT", Some(name)) { (rs, pinned) =>
      val bad = readManifest(table, rs, pinned)
        .where(!coalesce(expr(sql), lit(true))).count()
      require(bad == 0,
        s"constraint $name rejected: $bad existing row(s) of $table violate ($sql)")
      m => m.copy(checks = m.checks :+ (name -> sql))
    }

  /** DROP CONSTRAINT: removes the CHECK or RELY constraint `name` in
    * one metadata commit; false, and no commit, when there is none. */
  def dropConstraint(table: String, name: String): Boolean =
    headManifest(table).exists(_.constraintNames.contains(name)) && {
      commitEdit(table, "DROP CONSTRAINT")((_, m) => m.copy(
        checks = m.checks.filterNot(_._1 == name),
        keys = m.keys.filterNot(_.split("\t", -1)(1) == name)))
      true
    }

  def constraints(table: String): Map[String, String] =
    headManifest(table).fold(Map.empty[String, String])(_.checks.toMap)

  /** Informational RELY constraints (Databricks RELY / Snowflake
    * NOVALIDATE lineage): a declared PRIMARY KEY / UNIQUE / FOREIGN
    * KEY is VALIDATED ONCE at declaration — one bounded job — and
    * trusted thereafter, never re-enforced per commit (enforcing
    * uniqueness on append would be an O(table) shuffle per batch, a
    * price no lakehouse pays). Consumers: [[MvRewrite]]'s star-view
    * subsumption uses them to prove a dim join key-preserving — a
    * PK/UNIQUE on the dim's join columns means the join cannot
    * duplicate fact rows, and a FOREIGN KEY from the fact (whose
    * declaration additionally asserts the child columns are
    * NON-NULL) means the inner join cannot drop them — so a query
    * over a SUBSET of a star view's tables still serves from the
    * view. Storage: one `#key=` manifest header per constraint. */
  def setKeyConstraint(table: String, name: String, cols: Seq[String],
                       unique: Boolean = false): Unit = {
    require(cols.nonEmpty, "key constraint needs columns")
    val kind = if (unique) "UNIQUE" else "PRIMARY KEY"
    declare(table, "ADD CONSTRAINT", Some(name)) { (rs, pinned) =>
      // declare-time validation, ONE aggregation pass over the table:
      // total rows, rows with a NULL key column, and the distinct key
      // count (count(DISTINCT cols) skips any-NULL rows, SQL-style, so
      // uniqueness is total - nulls == distinct)
      val anyNull = cols.map(c => col(c).isNull).reduce(_ || _)
      val row = readManifest(table, rs, pinned).agg(
        count(lit(1)).as("total"),
        sum(when(anyNull, 1L).otherwise(0L)).as("nulls"),
        countDistinct(col(cols.head), cols.tail.map(col): _*).as("dist")).first()
      val (total, nulls, dist) =
        (row.getLong(0), Option(row.get(1)).fold(0L)(_ => row.getLong(1)),
          row.getLong(2))
      require(nulls == 0,
        s"$kind $name rejected: $nulls row(s) of $table hold NULL in " +
          s"(${cols.mkString(", ")})")
      require(total == dist,
        s"$kind $name rejected: (${cols.mkString(", ")}) has " +
          s"${total - dist} duplicate key(s) in $table")
      val line = s"${if (unique) "uq" else "pk"}\t$name\t${cols.mkString(",")}"
      m => m.copy(keys = m.keys :+ line)
    }
  }

  def addForeignKey(table: String, name: String, cols: Seq[String],
                    refTable: String, refCols: Seq[String]): Unit = {
    require(cols.nonEmpty && cols.length == refCols.length,
      "foreign key needs matching child/parent column lists")
    require(exists(refTable), s"referenced table $refTable does not exist")
    declare(table, "ADD CONSTRAINT", Some(name)) { (rs, pinned) =>
      // declare-time validation in ONE pass over the outer join: NULL
      // child keys (graft FKs assert NON-NULL children — the
      // subsumption proof needs "every fact row joins") and orphans
      // (non-NULL keys with no parent) fall out of the same scan
      val anyNull = cols.map(c => col(c).isNull).reduce(_ || _)
      val parents = read(refTable).select(refCols.zip(cols)
        .map { case (rc, c) => col(rc).as(c) }: _*)
        .distinct().withColumn("__fk_m", lit(1))
      val row = readManifest(table, rs, pinned).select(cols.map(col): _*)
        .join(parents, cols, "left_outer")
        .agg(
          sum(when(anyNull, 1L).otherwise(0L)).as("nulls"),
          sum(when(!anyNull && col("__fk_m").isNull, 1L).otherwise(0L))
            .as("orphans")).first()
      val nulls = Option(row.get(0)).fold(0L)(_ => row.getLong(0))
      val orphans = Option(row.get(1)).fold(0L)(_ => row.getLong(1))
      require(nulls == 0,
        s"FOREIGN KEY $name rejected: $nulls row(s) of $table hold NULL " +
          s"in (${cols.mkString(", ")})")
      require(orphans == 0,
        s"FOREIGN KEY $name rejected: $orphans row(s) of $table reference " +
          s"no row of $refTable")
      val line = s"fk\t$name\t${cols.mkString(",")}\t$refTable\t${refCols.mkString(",")}"
      m => m.copy(keys = m.keys :+ line)
    }
  }

  /** Column sets declared jointly unique (PRIMARY KEY or UNIQUE). */
  def uniqueKeys(table: String): Seq[Seq[String]] =
    headManifest(table).toSeq.flatMap(_.keyFields).collect {
      case Array("pk" | "uq", _, cols) => cols.split(",").toSeq }

  /** (name, childCols, refTable, refCols) per declared FK. */
  def foreignKeys(table: String): Seq[(String, Seq[String], String, Seq[String])] =
    headManifest(table).toSeq.flatMap(_.keyFields).collect {
      case Array("fk", n, cols, ref, refCols) =>
        (n, cols.split(",").toSeq, ref, refCols.split(",").toSeq) }

  /** Metadata-only COUNT(*): the sum of per-file row counts the commit
    * recorded from parquet footers — answers without a scan or a job,
    * the way Iceberg serves `count(*)` from manifests. None when
    * metadata can't be exact: pending equality deletes (rows need the
    * delete-set filter) or any data file lacking a recorded count (pre-stats
    * commits). */
  def fastRowCount(table: String): Option[Long] =
    currentVersion(table).flatMap(v => exactRows(table, v, load(table, v)))

  /** Version `v`'s row count from folded footer counts: None with any
    * delete entry pending, or any data file (or none at all) lacking
    * a count. */
  private def exactRows(table: String, v: Long, m: Manifest): Option[Long] = {
    if (m.lines.exists(Manifest.isDeleteLine)) return None
    val stats = statsFor(table, v)
    val counts = m.data.map(f => stats.get((FileStats.fileKey(f), FileStats.RowsCol)))
    if (counts.isEmpty || counts.exists(_.isEmpty)) None
    else Some(counts.flatten.map(_.min.toLong).sum)
  }

  /** DESCRIBE HISTORY equivalent: one row per retained version —
    * data-file / delete-entry counts, referenced bytes, recorded rows
    * (null where metadata can't know) and the commit publish time.
    * Driver-side metadata only; no scan. */
  def history(table: String): DataFrame = {
    import spark.implicits._
    versions(table).map { v =>
      val m = load(table, v)
      val data = m.data
      (v, m.op, data.size, m.lines.size - data.size, bytesOf(data), exactRows(table, v, m),
        new java.sql.Timestamp(commitTime(table, v, m)))
    }.toDF("version", "operation", "n_files", "n_delete_entries",
      "total_bytes", "n_rows", "committed_at")
  }

  /** Total length of `files`, one stat each. */
  private def bytesOf(files: Seq[String]): Long =
    files.map { f => val p = new Path(f); fs(p).getFileStatus(p).getLen }.sum

  /** The `#op=` provenance header of version `v` — which operation
    * published the commit (Delta history's operation column).
    * "WRITE" for pre-provenance manifests. */
  def operationOf(table: String, v: Long): String = load(table, v).op

  /** DESCRIBE DETAIL equivalent: ONE row of current-state table
    * metadata — location, version, commit times, file/byte/row
    * tallies, partitioning, constraints, and the column-mapping
    * exceptions (renames as `logical<-physical`, drops by physical
    * name). Driver-side metadata only (the head manifest, footer
    * stats); `n_rows` is null exactly when `fastRowCount` can't be
    * exact (pending MoR deletes or a pre-stats commit). */
  def detail(table: String): DataFrame = {
    import spark.implicits._
    val cur = existing(table, currentVersion(table))
    val retained = versions(table)
    val cm = load(table, cur)
    val data = cm.data
    // deletion-vector debt gets its own gauge: every dv| entry is
    // decoded into the delete set EVERY read filters by until
    // compacted, so count and bytes are the numbers a maintenance
    // policy thresholds on
    val dvs = cm.dvs
    val m = cm.columnMapping
    Seq((table, tablePath(table).toString, cur, retained.size,
      new java.sql.Timestamp(commitTimeMs(table, retained.head)),
      new java.sql.Timestamp(commitTime(table, cur, cm)),
      data.size, cm.lines.size - data.size, dvs.size, bytesOf(dvs), bytesOf(data),
      exactRows(table, cur, cm),
      cm.layout, cm.checks.map(_._1).sorted,
      m.renames.toSeq.sorted.map { case (l, p) => s"$l<-$p" },
      m.dropped.toSeq.sorted,
      // informational RELY constraints, rendered for the operator:
      // pk/uq as "name(cols)", fk as "name(cols)->ref(refcols)"
      cm.keyFields.map {
        case Array("fk", n, cols, ref, refCols) => s"$n($cols)->$ref($refCols)"
        case f => s"${f(1)}(${f(2)})"
      }.sorted))
      .toDF("table", "location", "version", "n_retained_versions",
        "oldest_retained_at", "last_committed_at", "n_files",
        "n_delete_entries", "n_dv_entries", "dv_bytes", "total_bytes",
        "n_rows", "partition_columns", "constraints", "renamed_columns",
        "dropped_columns", "rely_constraints")
  }

  /** Cursor-based incremental consumption: the feed from `cursor` to
    * the current version plus the new cursor, or None when nothing
    * committed since. A downstream sync loop is just
    * `changesSince(t, saved).foreach { case (feed, c) => apply(feed);
    * save(c) }` — Iceberg's incremental read shape, with the cursor
    * as the only state the consumer keeps. */
  def changesSince(table: String, cursor: Long): Option[(DataFrame, Long)] = {
    val cur = currentVersion(table).getOrElse(return None)
    if (cur <= cursor) None else Some((changes(table, cursor, cur), cur))
  }

  /** Drop data files not referenced by any of the `keep` most recent
    * versions (never the current one), plus the dropped versions'
    * manifests. Carried files referenced by retained manifests always
    * survive; a vacuumed version then fails loudly on read. */
  def vacuum(table: String, keep: Int = 1): Unit = {
    val cur = currentVersion(table).getOrElse(return)
    val all = versions(table)
    vacuumRetain(table,
      all.filter(_ < cur).takeRight(math.max(keep - 1, 0)) :+ cur)
  }

  /** Time-based retention: vacuum versions whose manifest was
    * published before `now − ttlMs` (never the current one) — the
    * "retain 7 days of time travel" policy expressed directly. */
  def vacuumOlderThan(table: String, ttlMs: Long): Unit = {
    val cur = currentVersion(table).getOrElse(return)
    val cutoff = System.currentTimeMillis() - ttlMs
    vacuumRetain(table, versions(table).filter { v =>
      v == cur || commitTimeMs(table, v) >= cutoff
    })
  }

  private def vacuumRetain(table: String, kept: Seq[Long]): Unit = {
    val all = versions(table)
    // manifest lines may carry a delete marker — compare raw paths
    def pathsOf(v: Long): Seq[String] = load(table, v).lines.map(Manifest.lineFile)
    val referenced = kept.flatMap(pathsOf).toSet
    val f = fs(tablePath(table))
    // never delete a file outside this table's own root: a shallow
    // clone's manifest references the SOURCE table's files, which are
    // that table's to reap, not ours
    val own = tablePath(table).toString + "/"
    // commit dirs this pass deletes files FROM: they were manifest-
    // referenced, so they can never be an in-flight writer's — safe
    // to sweep immediately once emptied, no age floor needed
    val touchedDirs = scala.collection.mutable.Set.empty[String]
    all.filterNot(kept.contains).foreach { v =>
      pathsOf(v).filterNot(referenced.contains)
        .filter(_.startsWith(own))
        .foreach { p =>
          f.delete(new Path(p), false)
          touchedDirs += p.stripPrefix(own).split("/").head
        }
      f.delete(manifestPath(table, v), false)
      f.delete(statsPath(table, v), false)
      claims.deleteClaim(tablePath(table), v)
    }
    // drop data/delete dirs emptied of parquet files. An IN-FLIGHT
    // writer's dir also "looks" empty — its rows still live under the
    // committer's _temporary attempt dirs, which the data-file listing
    // rightly skips — and reaping it kills the write job mid-task
    // (found by SoakSpec racing vacuum against continuous ingest);
    // crashed writers' leftovers fall to vacuumOrphans' TTL instead.
    val now0 = System.currentTimeMillis()
    f.listStatus(tablePath(table)).toSeq
      .filter(st => st.isDirectory &&
        (st.getPath.getName.startsWith("d-") || st.getPath.getName.startsWith("x-") ||
          st.getPath.getName.startsWith("v-")))
      .filter { st =>
        // Three guards against reaping a LIVE writer's dir, closing
        // the check-then-delete windows one by one: (1) an age floor
        // for dirs this pass did NOT empty itself — a writer mkdirs
        // its d-dir moments before the committer's _temporary appears,
        // so a young never-referenced dir is presumed in-flight (dirs
        // whose files this vacuum just deleted WERE referenced, hence
        // never in-flight — swept immediately); (2) _temporary
        // presence — the committer is mid-job; (3) a race-tolerant
        // listing — children vanishing mid-iteration (job-commit
        // renames) mean in-flight, treat as non-empty.
        // Guards (1) and (2) assume filesystem semantics an OBJECT
        // STORE doesn't give (dir mtimes are synthetic — often 0, so
        // every dir looks "old" — and cloud-native committers never
        // create _temporary): there, never-referenced dirs are left
        // to vacuumOrphans' TTL, and only dirs THIS pass emptied
        // (manifest-referenced, provably not in-flight) are swept.
        (touchedDirs.contains(st.getPath.getName) ||
          (!onObjectStore(table) &&
            now0 - st.getModificationTime >= EmptyDirSweepGraceMs)) &&
          !f.exists(new Path(st.getPath, "_temporary")) &&
          scala.util.Try(listDataFiles(st.getPath).isEmpty).getOrElse(false)
      }
      .foreach(st => f.delete(st.getPath, true))
  }

  /** Whether this table's files live on an object store (no real
    * directories: synthetic mtimes, rename = copy, cloud committers
    * skip `_temporary`) — the backends where mtime/_temporary-based
    * in-flight-writer heuristics fail OPEN and must not be trusted. */
  private def onObjectStore(table: String): Boolean = {
    val scheme = Option(tablePath(table).toUri.getScheme)
      .getOrElse("file").toLowerCase
    Set("s3", "s3a", "s3n", "gs", "oss", "cos", "obs",
      "wasb", "wasbs", "abfs", "abfss", "swift").contains(scheme)
  }

  /** Grace before an apparently-empty commit dir may be swept — must
    * exceed the gap between a writer's mkdirs and its first task file
    * (milliseconds in practice; minutes for margin). */
  private val EmptyDirSweepGraceMs: Long = 10 * 60 * 1000L

  /** Companion to `recoverStaleClaims`: delete d-/x- commit dirs that
    * no retained manifest references and that are older than `ttlMs` —
    * the data a writer wrote before crashing pre-publish. The TTL is
    * the in-flight-writer guard (a commit dir is written BEFORE its
    * claim), so pick it above your longest commit, same as the claim
    * TTL. Returns the deleted dir names. */
  def vacuumOrphans(table: String, ttlMs: Long): Seq[String] = {
    val dir = tablePath(table)
    val f = fs(dir)
    if (!f.exists(dir)) return Seq.empty
    // STAGED manifests reference data too: a transaction's dirs are
    // not orphans while its staged manifest exists on disk — the
    // manifest may yet promote (journaled roll-forward), and deleting
    // the dirs would publish a manifest over vanished files. Dead
    // unjournaled transactions lose their staged manifests to
    // recoverTransactions' rollback first; THEN the dirs orphan.
    val stagedLines = f.listStatus(dir).toSeq
      .map(_.getPath)
      .filter(p => p.getName.startsWith("staged-") &&
        p.getName.contains("-manifest-"))
      .flatMap(loadFile(_).toSeq.flatMap(_.lines))
    val referenced = (versions(table).flatMap(manifest(table, _)) ++
      stagedLines)
      .map(Manifest.lineFile)
      .flatMap { p =>
        val rel = p.stripPrefix(dir.toString).stripPrefix("/")
        rel.split("/").headOption
      }.toSet
    val now = System.currentTimeMillis()
    f.listStatus(dir).toSeq
      .filter(st => st.isDirectory &&
        (st.getPath.getName.startsWith("d-") || st.getPath.getName.startsWith("x-") ||
          st.getPath.getName.startsWith("v-")))
      .filterNot(st => referenced.contains(st.getPath.getName))
      .filter(st => now - st.getModificationTime >= ttlMs)
      .map { st => f.delete(st.getPath, true); st.getPath.getName }
  }

  /** Fully-qualified data file URIs under `dir` (recursively). */
  private def listDataFiles(dir: Path): Seq[String] =
    FsListing.dataFiles(dir, hadoopConf)

  private def readSmallFile(p: Path): String = {
    val in = fs(p).open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
      new String(out.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
  }

  private def writeSmallFile(p: Path, content: String): Unit = {
    // local fast path via FsListing.createOverwrite: Hadoop's local
    // create shells out for chmod; java.nio doesn't (round-14)
    val out = FsListing.createOverwrite(p, hadoopConf)
    try out.write(content.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  /** Write version `v`'s stats sidecar as a STREAM: copy the lines of
    * `from`'s sidecar whose file key passes `keep`, then append
    * `extra` — one line resident at a time, so a commit against a
    * 10⁷-file table never holds the multi-GB sidecar text the
    * string-based carry would. Crash-safe the same way the string
    * write was: the sidecar lands before the manifest publishes, and
    * an orphaned partial write is invisible (readers consult only
    * published versions' sidecars) until the next claimant of `v`
    * overwrites it. */
  private def writeStatsCarried(table: String, from: Option[Long], v: Long,
                                keep: String => Boolean,
                                extra: Seq[String]): Unit = {
    val p = statsPath(table, v)
    val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      FsListing.createOverwrite(p, hadoopConf), StandardCharsets.UTF_8))
    try {
      var first = true
      def emit(line: String): Unit = {
        if (!first) w.write("\n")
        w.write(line)
        first = false
      }
      from.foreach { f =>
        withStatsLines(table, f) { lines =>
          lines.foreach { l =>
            val t = l.trim
            if (t.nonEmpty) {
              val tab = t.indexOf('\t')
              val key = if (tab < 0) t else t.substring(0, tab)
              if (keep(key)) emit(t)
            }
          }
        }
      }
      extra.foreach(emit)
    } finally w.close()
  }
}

object TableStore {
  /** Content-neutral rewrites: the row bag is preserved by contract,
    * so change-feed readers skip them. */
  private[graft] val NeutralOps = Set("COMPACT", "OPTIMIZE", "OPTIMIZE (zorder)")

  /** Control flow for the in-claim app-txn revalidation: a commit
    * whose (app, version) watermark the published chain already
    * carries must no-op (exactly-once under zombie redelivery), not
    * publish a duplicate. NonFatal, so claimLoop releases the claim
    * on the way out; caught only by commit() itself. */
  private[lake] final class TxnAlreadyApplied(app: String, ver: Long)
    extends RuntimeException(s"txn $app:$ver already applied")

  /** Parsed COPY INTO ledger of one version: every ingested source
    * file (path → its listing mtime) plus the per-source-root listing
    * watermark [[FileIngest]] prunes and skips against. */
  final case class IngestState(files: Map[String, Long],
                               watermarks: Map[String, Long]) {
    def isEmpty: Boolean = files.isEmpty && watermarks.isEmpty
  }
  object IngestState { val empty: IngestState = IngestState(Map.empty, Map.empty) }
}

/** A rewrite commit lost a race it cannot safely win: between the
  * snapshot it read and the version it claimed, another writer
  * committed a data or schema change (Delta ConflictChecker
  * semantics). Extends [[java.util.ConcurrentModificationException]]
  * so generic retry harnesses recognize it. */
final class SnapshotConflictException(msg: String)
  extends java.util.ConcurrentModificationException(msg)
