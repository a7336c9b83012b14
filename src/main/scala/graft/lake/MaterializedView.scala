package graft.lake

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incrementally-maintained aggregate materialized views over a
  * [[TableStore]] table — the change-data-feed consumer
  * `TableStore.changes` was built for (its doc: "an incremental
  * materialized view reads the feed, not the table").
  *
  * Scope: GROUP BY views over `count(*)` / `sum(col)` — the pair
  * that folds under BOTH insert and delete (count ± 1, sum ± x);
  * `avg` derives as sum/count at read — plus `min(col)`/`max(col)`
  * under the standard IVM repair rule: inserts fold incrementally,
  * and a delete touching a group triggers a recompute of THAT
  * group's extrema from the source (O(affected groups' rows), the
  * best possible bound — a deleted extremum is not recoverable from
  * any delta). Recomputed extrema are fenced by a reset epoch on the
  * partial rows so pre-delete evidence can never resurface.
  *
  * Storage model is merge-on-read, mirroring the store's own delete
  * philosophy: the MV table holds PARTIAL-aggregate rows
  * (group cols, `__cnt`, `sum_<col>`...), each refresh APPENDS one
  * batch of signed deltas folded from the source's change feed —
  * O(changed data) per refresh, never O(source) — and [[read]] is a
  * tiny groupBy over the partials (O(MV), not O(source)).
  * [[compactPartials]] folds the accumulated partials back to one row
  * per group. At 100 TB this is the only viable shape: a view over a
  * daily-append corpus refreshes at the cost of the day's data, and
  * serves at the cost of the view.
  *
  * Freshness binding reuses the store's app-transaction watermark
  * (Delta SetTransaction semantics, same discipline as the vector
  * indexes' CDF sync): the version of the SOURCE folded so far rides
  * the MV's own manifest under app id `mv-sync:<src>`, committed in
  * the SAME atomic append as the delta rows — so refresh is
  * exactly-once under crash redelivery (a replayed version no-ops)
  * and concurrent refreshers serialize through the snapshot check
  * (the loser retries against the winner's watermark).
  *
  * The view definition (source table, group cols, sum cols) persists
  * in a 1-row companion table `<mv>__def`, so refresh/read/compact
  * need only the MV name across sessions.
  *
  * Reference behavior context: the reference's engines delegate this
  * to warehouse MVs; this is the from-scratch analog over the store's
  * own change feed.
  */
object MaterializedView {

  private[lake] def defTable(mv: String): String = mv + "__def"
  // no ':' — the txn header encodes app:version with ':' reserved
  private def appId(src: String): String = s"mv-sync-$src"
  // a join view carries a SECOND cursor for its dimension side,
  // committed in the same atomic append as the fact cursor
  private def dimAppId(dim: String): String = s"mv-dimsync-$dim"
  private[lake] val CntCol = "__cnt"
  private[lake] def sumCol(c: String): String = "sum_" + c
  private[lake] def minCol(c: String): String = "min_" + c
  private[lake] def maxCol(c: String): String = "max_" + c
  private def avgCol(c: String): String = "avg_" + c
  private[lake] def cntCol(c: String): String = "cnt_" + c
  /** Per-group KMV sketch column: the k smallest distinct 48-bit
    * hashes of the measure's INSERTED values, as a sorted
    * array<long>. LOUD approximate contract: reads expose it as
    * `approx_distinct_<c>` — deterministic (md5-derived, engine-
    * replayable) but an ESTIMATE once a group's distinct count
    * passes k. */
  private[lake] def kmvCol(c: String): String = "kmv_" + c
  // group EXPRESSIONS may contain commas, so the def row joins them on
  // a non-printing separator no SQL expression contains
  private val GroupExprSep = "\u0001"
  // extremum control pair, present only when min/max cols exist: every
  // partial row is stamped with the source version it folded
  // (`__mm_epoch`) and whether it REPLACES older extremum evidence
  // (`__mm_reset`) — the fence that keeps a deleted extremum from
  // resurfacing out of pre-delete partial rows
  private val EpochCol = "__mm_epoch"
  private val ResetCol = "__mm_reset"

  private final case class Def(src: String, groupCols: Seq[String],
                               sumCols: Seq[String],
                               filterSql: Option[String],
                               minCols: Seq[String] = Nil,
                               maxCols: Seq[String] = Nil,
                               avgCols: Seq[String] = Nil,
                               dims: Seq[String] = Nil,
                               dimJoinCols: Seq[Seq[String]] = Nil,
                               groupExprs: Seq[String] = Nil,
                               distinctCols: Seq[String] = Nil,
                               kmvK: Int = 64) {
    def joined: Boolean = dims.nonEmpty
    /** Fold a fact-shaped frame through every dim join in declaration
      * order — the ONE place the star's join shape is spelled, so the
      * initial fold, every refresh term and the extremum repair can
      * never join differently. `dimOf(i)` supplies dim i's snapshot
      * (old / new / delta, per the caller's IVM term). */
    def joinAll(fact: DataFrame, dimOf: Int => DataFrame): DataFrame =
      dims.indices.foldLeft(fact)((acc, i) =>
        acc.join(dimOf(i), dimJoinCols(i)))
    /** Derive the view's group columns on a source-shaped batch:
      * `groupExprs(i)` (a SQL expression over source columns — e.g. a
      * date_trunc for a daily rollup) materializes as column
      * `groupCols(i)`. Empty/identity exprs are a no-op. Every fold
      * path MUST project through this AFTER [[admitted]] (the WHERE
      * speaks source columns) and before [[partials]] (which groups
      * by the derived names). */
    def projectGroups(rows: DataFrame): DataFrame =
      if (groupExprs.isEmpty) rows
      else groupCols.zip(groupExprs).foldLeft(rows) {
        case (df, (a, e)) => if (e == a) df else df.withColumn(a, expr(e))
      }
    /** Apply the view's WHERE to a batch of source-shaped rows — the
      * initial fold and every feed fold MUST go through this, or a
      * filtered view would fold rows it never admitted. */
    def admitted(rows: DataFrame): DataFrame =
      filterSql.fold(rows)(f => rows.where(expr(f)))
    def hasMm: Boolean = minCols.nonEmpty || maxCols.nonEmpty
    /** The epoch/reset fence rides the partial rows whenever a
      * measure is NOT delete-subtractable: extrema AND KMV sketches
      * both repair delete-touched groups by recompute + fence. */
    def hasFence: Boolean = hasMm || distinctCols.nonEmpty
    /** Columns whose signed SUM the view stores: declared sums plus
      * the numerators of declared averages. */
    def storedSumCols: Seq[String] = (sumCols ++ avgCols).distinct
  }

  /** Parsed defs keyed by (store root, view, `__def` manifest
    * identity). The identity is the manifest's FILE LINES (uuid'd
    * data paths — unique per write), not the version number: a
    * DROP + re-CREATE resets the companion to version 0 again, so a
    * version key would serve the dropped definition. One small-file
    * manifest read per probe, NEVER a Spark job — the rewrite path's
    * registry sweep over a store with many views answers from here
    * instead of paying one collect job per view per statement.
    * Bounded by wholesale clear (defs are tiny; entries accrue one
    * per (view, redefinition)). */
  private val defCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String), Def]()

  private def loadDef(store: TableStore, mv: String): Def = {
    // the key carries the LINES themselves (small — a def table is a
    // handful of paths), not a 32-bit hash a redefinition could
    // collide with and silently serve the dropped definition
    val key = store.currentVersion(defTable(mv)).map(v =>
      (store.rootPath, mv, store.manifest(defTable(mv), v).mkString("\n")))
    key.flatMap(k => Option(defCache.get(k))) match {
      case Some(d) => d
      case None =>
        val d = loadDefUncached(store, mv)
        key.foreach { k =>
          if (defCache.size > 1024) defCache.clear()
          defCache.put(k, d)
        }
        d
    }
  }

  private def loadDefUncached(store: TableStore, mv: String): Def = {
    MetaMetrics.mvDefLoads.incrementAndGet()
    val r = JobLabel(store.spark, s"graft:mv def load $mv") {
      store.read(defTable(mv)).collect() } match {
      case Array(row) => row
      case rows => throw new IllegalStateException(
        s"$mv is not a materialized view (definition rows: ${rows.length})")
    }
    def split(s: String) = s.split(",").toSeq.filter(_.nonEmpty)
    // dim/join_cols arrived with join views — tolerate a def row
    // written before they existed
    def opt(c: String): String =
      if (r.schema.fieldNames.contains(c)) Option(r.getAs[String](c))
        .getOrElse("")
      else ""
    // dims serialize as a comma list; per-dim join-col lists join on
    // '|' (a 1-dim def without '|' is the pre-star format — one list)
    val dims = split(opt("dim"))
    val dimJoin = opt("join_cols") match {
      case "" => Nil
      case s => s.split("\\|", -1).toSeq.map(split)
    }
    Def(r.getAs[String]("src"), split(r.getAs[String]("group_cols")),
      split(r.getAs[String]("sum_cols")),
      Option(r.getAs[String]("filter_sql")).filter(_.nonEmpty),
      split(r.getAs[String]("min_cols")), split(r.getAs[String]("max_cols")),
      split(r.getAs[String]("avg_cols")),
      dims, dimJoin,
      // expressions may contain commas — they join on the
    // non-printing GroupExprSep
      opt("group_exprs").split(GroupExprSep).toSeq.filter(_.nonEmpty),
      // approx-distinct measures arrived after the formats above —
      // tolerate their absence (pre-existing views have none)
      split(opt("distinct_cols")),
      opt("kmv_k") match { case "" => 64; case s => s.toInt })
  }

  private def writeDef(store: TableStore, mv: String, d: Def): Unit = {
    val spark = store.spark
    import spark.implicits._
    // an ORPHAN def (companion present, view table absent — the
    // residue of a DROP that crashed after deleting the view) must
    // not block re-creating the view name: the orphan is invisible
    // to SHOW/rewrite, so replacing it is safe. A def whose VIEW
    // still exists falls through to create's loud already-exists.
    if (store.exists(defTable(mv)) && !store.exists(mv))
      store.drop(defTable(mv))
    store.create(defTable(mv),
      Seq((d.src, d.groupCols.mkString(","), d.sumCols.mkString(","),
        d.filterSql.getOrElse(""), d.minCols.mkString(","),
        d.maxCols.mkString(","), d.avgCols.mkString(","),
        d.dims.mkString(","),
        d.dimJoinCols.map(_.mkString(",")).mkString("|"),
        d.groupExprs.mkString(GroupExprSep),
        d.distinctCols.mkString(","), d.kmvK.toString))
        .toDF("src", "group_cols", "sum_cols", "filter_sql",
          "min_cols", "max_cols", "avg_cols", "dim", "join_cols",
          "group_exprs", "distinct_cols", "kmv_k"))
  }

  /** Signed partial rows for one batch: per group, `__cnt` = Σ sign
    * and `sum_<c>` = Σ c·sign. NULL measure values vanish from the
    * sum on both the +1 and the -1 side (same row, same NULL), so
    * insert/delete pairs cancel exactly. Averages additionally store
    * the signed NON-NULL count `cnt_<c>` — SQL avg ignores NULL rows,
    * so dividing by `__cnt` would be wrong the moment a measure holds
    * a NULL. min/max fold only INSERT images (a delete image's
    * extremum is repaired by the refresh's affected-group recompute,
    * never subtracted) and each row stamps the `(epoch, reset)`
    * fence. */
  private def partials(rows: DataFrame, d: Def, sign: Column,
                       epoch: Long, reset: Boolean): DataFrame = {
    val aggs =
      d.storedSumCols.map(c => sum(col(c) * sign).as(sumCol(c))) ++
      // signed NON-NULL count per summed column — it disambiguates
      // "the non-null values canceled to 0" from "no non-null values
      // survive" (SQL sum/avg answer 0 vs NULL there), and it is the
      // avg denominator (SQL avg ignores NULL rows)
      d.storedSumCols.map(c => sum(when(col(c).isNotNull, sign)
        .otherwise(lit(0L))).as(cntCol(c))) ++
      d.minCols.map(c => min(when(sign > 0, col(c))).as(minCol(c))) ++
      d.maxCols.map(c => max(when(sign > 0, col(c))).as(maxCol(c))) ++
      (if (d.hasFence) Seq(first(lit(epoch)).as(EpochCol),
        first(lit(reset)).as(ResetCol)) else Nil)
    val base = rows.groupBy(d.groupCols.map(col): _*)
      .agg(sum(sign).as(CntCol), aggs: _*)
    // KMV sketches fold only INSERT images (a deleted value cannot be
    // un-hashed from a sketch; the repair path recomputes affected
    // groups). Computed per measure with the two-stage rank — never
    // one whole group on one reducer — then joined onto the additive
    // partials; a group whose batch slice had only deletes carries a
    // NULL sketch (merge skips it).
    d.distinctCols.foldLeft(base)((acc, c) =>
      joinGroups(acc, kmvSketchOf(rows.where(sign > 0), d, c),
        d.groupCols, "left_outer"))
  }

  /** Join on the view's group columns with NULL-SAFE equality: SQL
    * GROUP BY treats NULL keys as one real group, and a plain
    * equi-join would silently detach that group's fence / repair /
    * sketch rows (the fence inner join would even DROP it from the
    * read). The right side's keys are renamed before the join and
    * dropped after, so the output carries the LEFT side's key columns
    * exactly once. */
  private def joinGroups(l: DataFrame, r: DataFrame, cols: Seq[String],
                         how: String): DataFrame = {
    val pre = "__gnj_"
    val rr = cols.foldLeft(r)((d, c) => d.withColumnRenamed(c, pre + c))
    val cond = cols.map(c => l(c) <=> rr(pre + c)).reduce(_ && _)
    val j = l.join(rr, cond, how)
    if (how == "left_semi" || how == "left_anti") j
    else j.drop(cols.map(pre + _): _*)
  }

  /** Per-group KMV sketch of one batch: the k smallest distinct
    * 48-bit hashes of `c`'s non-NULL values, as a sorted array<long>
    * named `kmv_<c>`. Same two-stage rank as
    * [[graft.ops.Sketches.kmvDistinct]] — the first window buckets by
    * hash mod 32 so no group lands whole on one reducer; the global
    * k smallest are contained in the union of per-bucket k smallest,
    * so the pruning is exact. Groups with no surviving value emit no
    * row. */
  private def kmvSketchOf(rows: DataFrame, d: Def, c: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hashed = rows
      .select(d.groupCols.map(col) :+
        graft.ops.Sketches.hash48(col(c)).as("__h"): _*)
      .where(col("__h").isNotNull).distinct()
    val local = Window
      .partitionBy(d.groupCols.map(col) :+ pmod(col("__h"), lit(32)): _*)
      .orderBy("__h")
    val global = Window.partitionBy(d.groupCols.map(col): _*).orderBy("__h")
    hashed
      .withColumn("__lr", row_number().over(local))
      .where(col("__lr") <= d.kmvK)
      .withColumn("__r", row_number().over(global))
      .where(col("__r") <= d.kmvK)
      .groupBy(d.groupCols.map(col): _*)
      .agg(sort_array(collect_list("__h")).as(kmvCol(c)))
  }

  /** Merge stored sketch arrays: the k smallest of the union —
    * lossless w.r.t. the sketch of the concatenated inputs
    * (the classic mergeable-summary property). Pure built-ins, stays
    * in codegen. */
  private def kmvMergeAgg(d: Def, c: Column): Column = {
    val merged = slice(array_sort(array_distinct(
      flatten(collect_list(c)))), 1, d.kmvK)
    // a group with sketch-bearing rows but zero surviving hashes
    // (all-NULL measure) merges to an empty array, not NULL
    merged
  }

  /** Create `mv` = SELECT groupCols, count(*), sum/min/max(cols...)
    * FROM `src` [WHERE filter] GROUP BY groupCols, bound to `src`'s
    * CURRENT version, as one initial full fold + the watermark in one
    * atomic create. A `filter` (Spark SQL over source columns) stays
    * self-maintainable: the feed's insert AND delete images pass the
    * same predicate, so rows the view never admitted can't be
    * subtracted. min/max maintain incrementally on inserts; a delete
    * touching a group triggers an O(that group's source rows)
    * recompute at refresh time (see [[refresh]]) — bounded repair,
    * never a full-view rescan. `groupExprs` (optional, parallel to
    * `groupCols`) derives each group column from a SQL expression
    * over source columns — the daily/hourly-rollup shape
    * (`date_trunc(...)` AS day): every fold path projects the
    * expression before grouping, so the view maintains exactly as if
    * the source carried the derived column. Returns the bound source
    * version. */
  def create(store: TableStore, mv: String, src: String,
             groupCols: Seq[String], sumCols: Seq[String],
             filter: Option[String] = None,
             minCols: Seq[String] = Nil, maxCols: Seq[String] = Nil,
             avgCols: Seq[String] = Nil,
             groupExprs: Seq[String] = Nil,
             distinctCols: Seq[String] = Nil, kmvK: Int = 64): Long = {
    require(groupCols.nonEmpty, "at least one group column")
    require(groupExprs.isEmpty || groupExprs.length == groupCols.length,
      "groupExprs must be empty or parallel to groupCols")
    require(distinctCols.isEmpty || kmvK >= 2,
      "approx-distinct measures need kmvK >= 2")
    // checked BEFORE the def lands: failing on the create below would
    // leave a valid __def next to the existing plain table,
    // reclassifying the user's data as a materialized view (DROP
    // MATERIALIZED VIEW would then delete it; DSv2 reads would try to
    // consolidate it)
    require(!store.exists(mv), s"table $mv already exists")
    val spark = store.spark
    import spark.implicits._
    val v = store.currentVersion(src).getOrElse(
      throw new IllegalStateException(s"table $src does not exist"))
    val d = Def(src, groupCols, sumCols, filter, minCols, maxCols, avgCols,
      groupExprs = groupExprs, distinctCols = distinctCols, kmvK = kmvK)
    writeDef(store, mv, d)
    val base = partials(
      d.projectGroups(d.admitted(store.readVersion(src, v))), d, lit(1L),
      epoch = v, reset = true)
    store.createTxn(mv, base.coalesce(4), appId(src), v)
    v
  }

  /** Create a JOIN materialized view: `mv` = SELECT groupCols,
    * count(*), sum/avg/min/max(cols...) FROM `fact` INNER JOIN `dim`
    * USING (joinCols) [WHERE filter] GROUP BY groupCols — group,
    * measure, and filter columns may come from EITHER side of the
    * join. Maintained under changes to BOTH tables by the exact
    * bag-algebra identity Δ(F⋈D) = ΔF⋈D_new ⊕ F_old⋈ΔD (each side's
    * change feed signed ±1, the sign surviving the join into the
    * partials): a fact-only day costs O(ΔF ⋈ D); a dim update costs
    * O(F ⋈ ΔD) — an inner join on the changed keys, which
    * partition/stats pruning on the fact's join column cuts to the
    * affected slice. The cursors (fact version + one per dim) ride
    * the SAME atomic append as the delta rows
    * ([[TableStore.appendTxns]]), so refresh stays exactly-once under
    * crash redelivery with any sides moving. min/max maintain
    * incrementally on inserts; a delete on EITHER side triggers the
    * same O(affected groups) extremum repair as plain views — the
    * recompute re-joins only the affected groups' slice at the
    * current versions, behind the reset-epoch fence. Returns the
    * bound fact version. */
  def createJoined(store: TableStore, mv: String, fact: String,
                   dim: String, joinCols: Seq[String],
                   groupCols: Seq[String], sumCols: Seq[String],
                   filter: Option[String] = None,
                   avgCols: Seq[String] = Nil,
                   groupExprs: Seq[String] = Nil,
                   minCols: Seq[String] = Nil,
                   maxCols: Seq[String] = Nil): Long =
    createStar(store, mv, fact, Seq(dim -> joinCols), groupCols, sumCols,
      filter, avgCols, groupExprs, minCols, maxCols)

  /** [[createJoined]] over a CHAIN of dims — the 3+-table star
    * (TPC-H Q3/Q10-shaped dashboards): `fact JOIN d1 USING (c1) JOIN
    * d2 USING (c2) ...`, maintained under changes to EVERY table by
    * the telescoping identity
    * Δ(F⋈D1⋈…⋈Dn) = ΔF⋈D1ⁿ⋈…⋈Dnⁿ ⊕ Fᵒ⋈ΔD1⋈D2ⁿ⋈…  ⊕ … ⊕
    * Fᵒ⋈D1ᵒ⋈…⋈ΔDn (ᵒ = bound version, ⁿ = current): term i holds
    * sides before i at their OLD versions, side i's delta, sides
    * after i at NEW versions — exact bag algebra, each term O(that
    * side's change ⋈ the star). One cursor per table, all advancing
    * in one atomic append. */
  def createStar(store: TableStore, mv: String, fact: String,
                 dims: Seq[(String, Seq[String])],
                 groupCols: Seq[String], sumCols: Seq[String],
                 filter: Option[String] = None,
                 avgCols: Seq[String] = Nil,
                 groupExprs: Seq[String] = Nil,
                 minCols: Seq[String] = Nil,
                 maxCols: Seq[String] = Nil): Long = {
    require(groupCols.nonEmpty, "at least one group column")
    require(dims.nonEmpty && dims.forall(_._2.nonEmpty),
      "each dim needs at least one join column")
    require(dims.map(_._1.toLowerCase).distinct.size == dims.size &&
      !dims.exists(_._1.equalsIgnoreCase(fact)),
      "star tables must be distinct (each carries its own cursor)")
    require(groupExprs.isEmpty || groupExprs.length == groupCols.length,
      "groupExprs must be empty or parallel to groupCols")
    // see create: the name must be free BEFORE the def lands
    require(!store.exists(mv), s"table $mv already exists")
    val vF = store.currentVersion(fact).getOrElse(
      throw new IllegalStateException(s"table $fact does not exist"))
    val vDs = dims.map { case (dim, _) =>
      store.currentVersion(dim).getOrElse(
        throw new IllegalStateException(s"table $dim does not exist")) }
    val d = Def(fact, groupCols, sumCols, filter, minCols, maxCols, avgCols,
      dims.map(_._1), dims.map(_._2), groupExprs)
    writeDef(store, mv, d)
    val joined = d.joinAll(store.readVersion(fact, vF),
      i => store.readVersion(d.dims(i), vDs(i)))
    // the extremum fence epoch is the cursor-vector SUM (see
    // refreshJoined) — curF alone would repeat across dim-only
    // refreshes and let pre-delete evidence back past the fence
    val base = partials(d.projectGroups(d.admitted(joined)), d, lit(1L),
      epoch = vF + vDs.sum, reset = true)
    store.createTxns(mv, base.coalesce(4),
      (appId(fact) -> vF) +: d.dims.zip(vDs).map { case (dim, v) =>
        dimAppId(dim) -> v })
    vF
  }

  /** Fold `src`'s change feed since the last refresh into `mv` as ONE
    * atomic append of signed partial rows — O(changed data). Returns
    * the source version now bound (unchanged if already current).
    * Crash-safe: redelivery of an already-folded version no-ops via
    * the txn guard; a concurrent refresher landing first trips the
    * snapshot check and this call retries from the new watermark. */
  def refresh(store: TableStore, mv: String): Long = {
    val d = loadDef(store, mv)
    if (d.joined) refreshJoined(store, mv, d)
    else refreshPlain(store, mv, d)
  }

  /** Join/star-view refresh: fold the telescoping terms (see
    * [[createStar]]) into one atomic append advancing EVERY cursor.
    * Reading the old fact/dim versions needs them still retained —
    * the same keep-up-before-vacuum discipline every CDF consumer
    * here lives by (MaintenanceJob refreshes views before vacuum).
    * Dim deltas are broadcast (a dim change batch is small by
    * construction); the fact delta joins the CURRENT dim snapshots,
    * where the usual star-schema broadcast applies. min/max deletes
    * (either side) repair exactly like plain views: recompute the
    * affected groups from the star joined at the CURRENT versions —
    * O(affected groups' slice), fenced by the reset epoch. Returns
    * the bound fact version. */
  private def refreshJoined(store: TableStore, mv: String, d: Def): Long = {
    var attempts = 0
    while (true) {
      attempts += 1
      // the MV snapshot is pinned BEFORE the watermark/source reads: a
      // competing refresher landing a fold after this read (but before
      // this refresher's commit) makes the snapshot stale, so the
      // appendTxns below trips SnapshotConflictException and the retry
      // re-reads fresh watermarks — pinning AFTER would admit a delta
      // folded from already-covered bounds whose txn vector still has
      // one strictly-advancing component (a double-fold)
      val mvSnap = store.currentVersion(mv)
      val boundF = store.lastTxn(mv, appId(d.src)).getOrElse(
        throw new IllegalStateException(
          s"$mv carries no mv-sync watermark for ${d.src}"))
      val boundDs = d.dims.map(dim => store.lastTxn(mv, dimAppId(dim))
        .getOrElse(throw new IllegalStateException(
          s"$mv carries no mv-dimsync watermark for $dim")))
      val curF = store.currentVersion(d.src).getOrElse(
        throw new IllegalStateException(s"table ${d.src} does not exist"))
      val curDs = d.dims.map(dim => store.currentVersion(dim).getOrElse(
        throw new IllegalStateException(s"table $dim does not exist")))
      if (curF <= boundF &&
          d.dims.indices.forall(i => curDs(i) <= boundDs(i))) return boundF
      val sign = when(col("_change_type") === "insert", lit(1L))
        .otherwise(lit(-1L))
      // row-level telescoping terms, kept UN-aggregated so the
      // extremum repair can see which groups the deletes touched:
      // term i holds sides before i OLD, side i's delta, sides after
      // i NEW — the exact multi-way Δ expansion
      var terms = List.empty[DataFrame]
      if (curF > boundF) {
        val dF = store.changes(d.src, boundF, curF).drop("_commit_version")
        terms ::= d.projectGroups(d.admitted(
          d.joinAll(dF, i => store.readVersion(d.dims(i), curDs(i)))))
      }
      d.dims.indices.foreach { i =>
        if (curDs(i) > boundDs(i)) {
          val dD = store.changes(d.dims(i), boundDs(i), curDs(i))
            .drop("_commit_version")
          terms ::= d.projectGroups(d.admitted(
            d.joinAll(store.readVersion(d.src, boundF), j =>
              if (j < i) store.readVersion(d.dims(j), boundDs(j))
              else if (j == i) broadcast(dD)
              else store.readVersion(d.dims(j), curDs(j)))))
        }
      }
      val feedRows = terms.reduce(_.unionByName(_))
      // the extremum fence epoch must STRICTLY increase per landed
      // refresh even when only a dim moved (curF alone would repeat,
      // letting same-epoch pre-delete evidence back past the fence) —
      // the cursor-vector SUM is monotone and strictly advances on
      // every non-noop refresh
      val epoch = curF + curDs.sum
      val folded = partials(feedRows, d, sign, epoch = epoch, reset = false)
      val delta =
        if (!d.hasFence) folded
        else mmRepairDelta(d, folded, feedRows,
          // manifest-metadata probe across fact + dim ranges (see
          // refreshPlain) — no Spark job on the refresh path
          (curF > boundF && store.rangeMayDelete(d.src, boundF, curF)) ||
            d.dims.indices.exists(i => curDs(i) > boundDs(i) &&
              store.rangeMayDelete(d.dims(i), boundDs(i), curDs(i))),
          d.projectGroups(d.admitted(
            d.joinAll(store.readVersion(d.src, curF),
              i => store.readVersion(d.dims(i), curDs(i))))))
      try {
        store.appendTxns(mv, delta.coalesce(4),
          (appId(d.src) -> curF) +: d.dims.indices.map(i =>
            dimAppId(d.dims(i)) -> curDs(i)),
          readSnapshot = mvSnap)
        return curF
      } catch {
        case _: SnapshotConflictException if attempts < 5 => // retry
      }
    }
    sys.error("unreachable")
  }

  private def refreshPlain(store: TableStore, mv: String, d: Def): Long = {
    var attempts = 0
    while (true) {
      attempts += 1
      // snapshot pinned BEFORE the watermark read — see refreshJoined:
      // a fold landing after this read must conflict this commit, or
      // an overlapping delta double-folds into the view
      val mvSnap = store.currentVersion(mv)
      val bound = store.lastTxn(mv, appId(d.src)).getOrElse(
        throw new IllegalStateException(
          s"$mv carries no mv-sync watermark for ${d.src} — not a " +
            "materialized view of it, or its binding commit was vacuumed"))
      val cur = store.currentVersion(d.src).getOrElse(
        throw new IllegalStateException(s"table ${d.src} does not exist"))
      if (cur <= bound) return bound
      val sign = when(col("_change_type") === "insert", lit(1L))
        .otherwise(lit(-1L))
      val feed = d.projectGroups(d.admitted(store.changes(d.src, bound, cur)
        .drop("_commit_version")))
      val folded = partials(feed, d, sign, epoch = cur, reset = false)
      val delta =
        if (!d.hasFence) folded
        else mmRepairDelta(d, folded, feed,
          // manifest-metadata probe — no Spark job; conservative-true
          // ranges run the repair with an empty affected set, which
          // reproduces the plain fold exactly (spec-pinned)
          store.rangeMayDelete(d.src, bound, cur),
          d.projectGroups(d.admitted(store.readVersion(d.src, cur))))
      try {
        // the delta may be EMPTY (a neutral-rewrite range: OPTIMIZE /
        // compact on the source) — commit it anyway so the watermark
        // advances and the next refresh doesn't re-walk the range
        store.appendTxn(mv, delta.coalesce(4), appId(d.src), cur,
          readSnapshot = mvSnap)
        return cur
      } catch {
        case _: SnapshotConflictException if attempts < 5 => // retry
      }
    }
    sys.error("unreachable")
  }

  /** min/max extremum repair, shared by plain and join/star views: a
    * delete may have removed a group's recorded extremum, which no
    * delta can restore — recompute min/max for EXACTLY the
    * delete-touched groups from `currentState` (the source — or the
    * star joined at current versions — admitted and group-projected;
    * semi-join: O(those groups' slice), partition/stats pruning
    * applies) and stamp their delta rows reset=true, fencing off
    * every older partial's extremum evidence. Insert-only refreshes
    * never evaluate `currentState`. */
  private def mmRepairDelta(d: Def, folded: DataFrame, feedRows: DataFrame,
                            hasDeletes: => Boolean,
                            currentState: => DataFrame): DataFrame = {
    // the delete probe runs on the RAW feed(s) the caller supplies —
    // for a star view that avoids executing the multi-way joined feed
    // once just to learn the common case (insert-only) needs no
    // repair. With deletes present the repair runs unconditionally:
    // delete rows that joined away leave `affected` empty and the
    // left-outer projection then reproduces `folded` exactly.
    if (!hasDeletes) folded
    else {
      val affected = feedRows.where(col("_change_type") === "delete")
        .select(d.groupCols.map(col): _*).distinct()
      val slice = joinGroups(currentState, affected, d.groupCols, "left_semi")
      val reAggs = d.minCols.map(c => min(col(c)).as("__re_min_" + c)) ++
        d.maxCols.map(c => max(col(c)).as("__re_max_" + c))
      val reExtrema =
        if (reAggs.isEmpty) None
        else Some(slice.groupBy(d.groupCols.map(col): _*)
          .agg(reAggs.head, reAggs.tail: _*))
      // KMV repair mirrors the extremum rule: a deleted value cannot
      // be un-hashed, so delete-touched groups recompute their sketch
      // from the CURRENT slice (O(those groups' rows)) and the fence
      // retires older sketch evidence
      val reKmv = d.distinctCols.map(c =>
        kmvSketchOf(slice, d, c)
          .withColumnRenamed(kmvCol(c), "__re_kmv_" + c))
      // groups the deletes EMPTIED have no source rows left: keep
      // them via the affected side so their fence still lands
      // (extrema/sketch NULL; the group nets to cnt 0 and drops at
      // read)
      val reAll = reKmv.foldLeft(
        reExtrema.foldLeft(affected.withColumn("__is_aff", lit(true)))(
          (acc, re) => joinGroups(acc, re, d.groupCols, "left_outer")))(
        (acc, re) => joinGroups(acc, re, d.groupCols, "left_outer"))
      // project back to the EXACT partial-row schema: every
      // additive column (stored sums AND avg non-null counts)
      // must survive, or the dropped column null-fills on the
      // merged read and the aggregate silently loses the batch
      joinGroups(folded, reAll, d.groupCols, "left_outer")
        .select(d.groupCols.map(col) ++ Seq(col(CntCol)) ++
          d.storedSumCols.map(c => col(sumCol(c))) ++
          d.storedSumCols.map(c => col(cntCol(c))) ++
          d.minCols.map(c => when(col("__is_aff").isNotNull,
            col("__re_min_" + c)).otherwise(col(minCol(c)))
            .as(minCol(c))) ++
          d.maxCols.map(c => when(col("__is_aff").isNotNull,
            col("__re_max_" + c)).otherwise(col(maxCol(c)))
            .as(maxCol(c))) ++
          d.distinctCols.map(c => when(col("__is_aff").isNotNull,
            col("__re_kmv_" + c)).otherwise(col(kmvCol(c)))
            .as(kmvCol(c))) ++
          Seq(col(EpochCol),
            col("__is_aff").isNotNull.as(ResetCol)): _*)
    }
  }

  /** Per-group consolidation of the stored partials, preserving the
    * internal column names. min/max respect the reset fence: per
    * group, only rows at or above the group's latest reset epoch
    * contribute extrema — older rows may still carry a deleted
    * extremum. Two O(view) passes (the fence, then the fold); the
    * view is the small side by construction. */
  private def consolidate(d: Def, rows: DataFrame): DataFrame = {
    val additive =
      d.storedSumCols.map(c => sum(sumCol(c)).as(sumCol(c))) ++
      d.storedSumCols.map(c => sum(cntCol(c)).as(cntCol(c)))
    if (!d.hasFence)
      rows.groupBy(d.groupCols.map(col): _*)
        .agg(sum(CntCol).as(CntCol), additive: _*)
    else {
      val fence = rows.groupBy(d.groupCols.map(col): _*)
        .agg(max(when(col(ResetCol), col(EpochCol))).as("__w"))
      val fenced = joinGroups(rows, fence, d.groupCols, "inner")
      val admit = col(EpochCol) >= coalesce(col("__w"), lit(Long.MinValue))
      fenced.groupBy(d.groupCols.map(col): _*)
        .agg(sum(CntCol).as(CntCol),
          (additive ++
            d.minCols.map(c => min(when(admit, col(minCol(c))))
              .as(minCol(c))) ++
            d.maxCols.map(c => max(when(admit, col(maxCol(c))))
              .as(maxCol(c))) ++
            d.distinctCols.map(c =>
              kmvMergeAgg(d, when(admit, col(kmvCol(c))))
                .as(kmvCol(c)))): _*)
    }
  }

  /** The view's consolidated rows: one row per surviving group —
    * group cols, `cnt` (count(*)), `sum_<col>`/`min_<col>`/
    * `max_<col>`/`avg_<col>` per declared measure (`avg` divides the
    * stored signed sum by the stored signed NON-NULL count, as
    * DOUBLE — NULL when the group holds no non-null values, matching
    * SQL avg). A tiny groupBy over the stored partials; groups whose
    * inserts and deletes net to zero disappear, exactly as a
    * recompute would drop them. */
  def read(store: TableStore, mv: String): DataFrame =
    readAt(store, mv, store.currentVersion(mv).getOrElse(
      throw new IllegalStateException(s"view table $mv does not exist")))

  /** [[read]] pinned to version `v` of the VIEW table (the def row is
    * immutable for the view's lifetime — a redefinition is a new
    * `__def` table). The DSv2 connector reads through this so ONE
    * statement's scans all serve the same snapshot even while a
    * refresh commits mid-query. */
  private[graft] def readAt(store: TableStore, mv: String,
                            v: Long): DataFrame = {
    val d = loadDef(store, mv)
    val cons = consolidate(d, store.readVersion(mv, v))
    val out = d.groupCols.map(col) ++ Seq(col(CntCol).as("cnt")) ++
      d.sumCols.map(c => when(col(cntCol(c)) > 0, col(sumCol(c)))
        .as(sumCol(c))) ++
      d.avgCols.map(c => when(col(cntCol(c)) > 0,
        col(sumCol(c)).cast("double") / col(cntCol(c))).as(avgCol(c))) ++
      d.minCols.map(c => col(minCol(c))) ++
      d.maxCols.map(c => col(maxCol(c))) ++
      // LOUD approximate contract: the KMV estimate (Bar-Yossef) from
      // the merged sketch — EXACT while a group's distinct count stays
      // below k (the sketch then holds every hash), an estimate past
      // it. Deterministic either way (md5-derived hashes, no RNG), so
      // it is engine-replayable — unlike HLL registers.
      d.distinctCols.map { c =>
        val arr = col(kmvCol(c))
        when(size(arr) < d.kmvK, size(arr).cast("double"))
          .otherwise(round(lit((d.kmvK - 1).toDouble) *
            graft.ops.Sketches.Space / element_at(arr, d.kmvK), 4))
          .as("approx_distinct_" + c)
      }
    cons.select(out: _*).where(col("cnt") > 0)
  }

  /** One row of view metadata — definition, binding, and staleness —
    * all from manifests and the 1-row def table, no data scan:
    * (view_name, source, group_cols, sum_cols, min_cols, max_cols,
    * filter_sql, bound_version, source_version, versions_behind,
    * n_partial_rows). `versions_behind` is the REFRESH debt gauge a
    * scheduler polls; `n_partial_rows` (from the stats sidecar's
    * footer counts, physical rows incl. MoR debt) is the OPTIMIZE
    * gauge. */
  def describe(store: TableStore, mv: String): DataFrame = {
    val d = loadDef(store, mv)
    val spark = store.spark
    import spark.implicits._
    val bound = store.lastTxn(mv, appId(d.src))
    val srcV = store.currentVersion(d.src)
    val behind = for (b <- bound; s <- srcV) yield math.max(0L, s - b)
    val partialRows = store.fileRowCounts(mv).values.sum
    // join views report dim cursors too; plain views show NULLs. A
    // star reports the MINIMUM dim bound and the MAXIMUM dims-behind
    // (the staleness gauge a scheduler polls must reflect the worst
    // side).
    val dimCursors = d.dims.map { dim =>
      (store.lastTxn(mv, dimAppId(dim)), store.currentVersion(dim)) }
    val dimBound = dimCursors.flatMap(_._1).minOption
    val dimBehind = {
      val behinds = dimCursors.flatMap { case (b, v) =>
        for (bb <- b; vv <- v) yield math.max(0L, vv - bb) }
      if (behinds.size == d.dims.size) behinds.maxOption else None
    }
    Seq((mv, d.src, d.groupCols.mkString(","), d.sumCols.mkString(","),
      d.avgCols.mkString(","), d.minCols.mkString(","),
      d.maxCols.mkString(","), d.filterSql.getOrElse(""),
      bound, srcV, behind, partialRows,
      d.dims.mkString(","),
      d.dimJoinCols.map(_.mkString(",")).mkString("|"), dimBound, dimBehind))
      .toDF("view_name", "source", "group_cols", "sum_cols", "avg_cols",
        "min_cols", "max_cols", "filter_sql", "bound_version",
        "source_version", "versions_behind", "n_partial_rows",
        "dim", "join_cols", "dim_bound_version", "dim_versions_behind")
  }

  /** The view's rewrite-facing surface: definition + freshness in one
    * metadata-only probe (1-row def table + two manifest headers).
    * `fresh` means every committed source version is folded — the
    * precondition for [[MvRewrite]] to serve a query from the view
    * instead of the source (a stale view would answer from the past).
    */
  private[lake] final case class Surface(mv: String, src: String,
      groupCols: Seq[String], storedSumCols: Seq[String],
      minCols: Seq[String], maxCols: Seq[String],
      filterSql: Option[String], fresh: Boolean,
      dims: Seq[String] = Nil, dimJoinCols: Seq[Seq[String]] = Nil,
      groupExprs: Seq[String] = Nil,
      distinctCols: Seq[String] = Nil, kmvK: Int = 64) {
    def joined: Boolean = dims.nonEmpty
    /** IDENTITY group columns — source columns the view carries
      * verbatim (not derived expressions); the only keys a
      * count(DISTINCT) can be served over. */
    def identityGroupCols: Seq[String] =
      if (groupExprs.isEmpty) groupCols
      else groupCols.zip(groupExprs).collect {
        case (c, e) if e.equalsIgnoreCase(c) => c }
  }

  private[lake] def surface(store: TableStore, mv: String): Surface = {
    val d = loadDef(store, mv)
    // metadata-only commits past the watermark (a declared constraint,
    // a layout change) leave the folded rows as they were
    def current(app: String, table: String): Boolean = (for {
      b <- store.lastTxn(mv, app)
      c <- store.currentVersion(table)
    } yield c <= b || store.sameRows(table, b, c)).getOrElse(false)
    val fresh = current(appId(d.src), d.src) &&
      d.dims.forall(dim => current(dimAppId(dim), dim))
    // a join view's rows have JOIN multiplicity — it serves only
    // queries over the SAME join, never a single-table aggregate
    Surface(mv, d.src, d.groupCols, d.storedSumCols, d.minCols, d.maxCols,
      d.filterSql, fresh, dims = d.dims, dimJoinCols = d.dimJoinCols,
      groupExprs = d.groupExprs, distinctCols = d.distinctCols,
      kmvK = d.kmvK)
  }

  /** One consolidated row per SURVIVING group with the INTERNAL
    * additive column names (`__cnt`, `sum_<c>`, `cnt_<c>`, `min_<c>`,
    * `max_<c>`) — the substrate [[MvRewrite]] re-aggregates when a
    * query groups by a SUBSET of the view's keys. Everything here is
    * additive (or re-foldable, for extrema), so a further groupBy
    * over these rows is exact. O(view) work. */
  private[lake] def consolidatedAdditive(store: TableStore,
                                         mv: String): DataFrame = {
    val d = loadDef(store, mv)
    consolidate(d, store.read(mv)).where(col(CntCol) > 0)
  }

  /** Fold the accumulated partial rows back to one row per group
    * (dropping net-zero groups) WITHOUT advancing or losing the
    * source binding — the watermark re-commits verbatim with the
    * folded rows (same reassert discipline as the vector-index
    * rebuild), so a refresh after compaction continues from exactly
    * where the partials left off. The folded rows re-stamp
    * reset=true at the bound epoch: they ARE the fence-admitted
    * consolidation, so they replace all prior extremum evidence by
    * construction. Run it like OPTIMIZE: when the partial count grows
    * past a few batches per group. */
  def compactPartials(store: TableStore, mv: String): Unit = {
    val d = loadDef(store, mv)
    // snapshot FIRST, then the watermarks, then the rows pinned to the
    // snapshot: a refresh landing after this read conflicts the commit
    // (retry-or-surface), so the reasserted watermarks can never be
    // older than the rows being folded (double-fold) or newer (lost
    // delta) — same ordering discipline as refresh itself
    val mvSnap = store.currentVersion(mv)
    val bound = store.lastTxn(mv, appId(d.src)).getOrElse(
      throw new IllegalStateException(s"$mv carries no mv-sync watermark"))
    // a join view's dim cursors must survive the fold too, or the
    // next refresh would think the dim bindings were vacuumed
    val dimBounds = d.dims.map { dim =>
      dim -> store.lastTxn(mv, dimAppId(dim)).getOrElse(
        throw new IllegalStateException(
          s"$mv carries no mv-dimsync watermark for $dim"))
    }
    val txns = Seq(appId(d.src) -> bound) ++ dimBounds.map {
      case (dim, b) => dimAppId(dim) -> b }
    val folded0 = consolidate(d,
      store.readVersion(mv, mvSnap.getOrElse(
        throw new IllegalStateException(s"view table $mv does not exist"))))
      .where(col(CntCol) =!= 0L)
    // the re-stamp epoch matches refresh's scale: plain views use the
    // source cursor, join views the cursor-vector sum
    val foldEpoch = bound + dimBounds.map(_._2).sum
    val folded =
      if (!d.hasFence) folded0
      else folded0.withColumn(EpochCol, lit(foldEpoch))
        .withColumn(ResetCol, lit(true))
    store.overwriteReassertTxns(mv, folded.coalesce(4), txns,
      readSnapshot = mvSnap)
  }
}
