package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, InMemoryFileIndex, PartitionDirectory}
import org.apache.spark.sql.types.StructType

/** A [[FileIndex]] that makes the store's manifest-level data
  * skipping AUTOMATIC on the default read path, and the store's only
  * file-skipping path. It wraps the plain [[InMemoryFileIndex]] a
  * `spark.read.parquet` would have built (same listing, same
  * hive-partition inference and pruning) and additionally drops files
  * whose stats-sidecar entries PROVE the pushed-down data filters
  * can't match — so `store.read(t).where(pred)` and every SQL SELECT
  * through the front door skip non-intersecting files the moment
  * Catalyst pushes the predicate to the scan.
  *
  * Pruning happens driver-side before any footer is opened, and shows
  * up directly in the scan's `numFiles` metric.
  * Driver memory is BOUNDED: the index never holds a materialized
  * (file, column) → stat map — `statsRejects` streams the sidecar
  * ([[FileStats.streamRejects]]) and returns only the capped set of
  * provably-dead file keys, so a 10⁷-file manifest costs the planner
  * a bounded reject set, not a multi-GB map. Pruning is conservative
  * (unknown columns/types/expressions keep the file; equality deletes
  * ride separate manifest lines and are untouched), so the result
  * always equals the unpruned scan filtered — the 208-query oracle
  * surface re-proves that equivalence on every run.
  *
  * When a Bloom index exists for a probed column (built via
  * `TableStore.buildBloomIndex`), equality-shaped filters additionally
  * consult it through `bloomRejects`: a (column, probe key) → set of
  * file keys whose bloom DEFINITELY lacks the key (None when the
  * column has no index). Bloom probing covers the point-lookup keys
  * min/max ranges can't separate (uuids, hashes) — building the index
  * is the only opt-in; every later `read(t).where(col === v)` then
  * skips automatically.
  *
  * Reference behavior context: the reference's engines (Delta/Iceberg,
  * e.g. icberg/iceberg_tables.py:34-51 reads) get this from their
  * table formats' stats; this is the from-scratch analog over the
  * store's own `stats-<v>` sidecar.
  */
final class StatsFileIndex(
    inner: FileIndex,
    statsRejects: Seq[Expression] => Set[String],
    bloomRejects: (String, String) => Option[Set[String]] =
      (_, _) => None) extends FileIndex {

  override def rootPaths: Seq[Path] = inner.rootPaths
  override def partitionSchema: StructType = inner.partitionSchema
  override def inputFiles: Array[String] = inner.inputFiles
  override def refresh(): Unit = inner.refresh()
  override def sizeInBytes: Long = inner.sizeInBytes
  override def metadataOpsTimeNs: Option[Long] = inner.metadataOpsTimeNs

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val dirs = inner.listFiles(partitionFilters, dataFilters)
    // a merge-on-read delete-set probe is never decided by file stats:
    // leave it out rather than stream the sidecar for it on every read
    val prunable = dataFilters.filterNot(_.exists(_.isInstanceOf[InDeleteSet]))
    if (prunable.isEmpty) return dirs
    val bloomRejected: Set[String] =
      prunable.flatMap(e => StatsFileIndex.rejectsOf(e, bloomRejects))
        .foldLeft(Set.empty[String])(_ ++ _)
    val statRejected = statsRejects(prunable)
    if (statRejected.isEmpty && bloomRejected.isEmpty) dirs
    else dirs.map { pd =>
      pd.copy(files = pd.files.filter { f =>
        val key = FileStats.fileKey(f.getPath.toString)
        !bloomRejected(key) && !statRejected(key)
      })
    }
  }
}

object StatsFileIndex {

  /** Probe-count ceiling for one IN list: each distinct value is one
    * (cached) bloom-sidecar job at planning time, so an unbounded IN
    * would turn planning into a job storm. Values beyond the cap keep
    * every file (conservative). */
  private val MaxInProbes = 8

  /** File keys PROVABLY unable to satisfy `e`, by bloom evidence:
    * Some(keys) when every relevant probe had an index and answered,
    * None when the expression shape / column / index can't prove
    * anything (keep all files). Mirrors [[FileStats.exprMayMatch]]'s
    * conservative algebra: AND unions the provable sides, OR needs
    * BOTH sides provable and intersects, an IN-list file is rejected
    * only when every value's bloom rejects it. */
  private[lake] def rejectsOf(
      e: Expression,
      probe: (String, String) => Option[Set[String]]): Option[Set[String]] = {
    import org.apache.spark.sql.catalyst.{expressions => ce}
    def one(col: String, v: Any,
            dt: org.apache.spark.sql.types.DataType): Option[Set[String]] =
      render(v, dt).flatMap(k => probe(col, k))
    def all(col: String, vs: Seq[(Any, org.apache.spark.sql.types.DataType)])
        : Option[Set[String]] = {
      if (vs.isEmpty || vs.size > MaxInProbes) return None
      val sets = vs.map { case (v, dt) => one(col, v, dt) }
      if (sets.exists(_.isEmpty)) None
      else Some(sets.flatten.reduce(_ intersect _))
    }
    e match {
      case ce.And(l, r) =>
        (rejectsOf(l, probe), rejectsOf(r, probe)) match {
          case (None, None) => None
          case (a, b) => Some(a.getOrElse(Set.empty) ++ b.getOrElse(Set.empty))
        }
      case ce.Or(l, r) =>
        for (a <- rejectsOf(l, probe); b <- rejectsOf(r, probe))
          yield a intersect b
      case ce.EqualTo(a: ce.AttributeReference, ce.Literal(v, dt))
          if v != null => one(a.name, v, dt)
      case ce.EqualTo(ce.Literal(v, dt), a: ce.AttributeReference)
          if v != null => one(a.name, v, dt)
      case ce.EqualNullSafe(a: ce.AttributeReference, ce.Literal(v, dt))
          if v != null => one(a.name, v, dt)
      case ce.EqualNullSafe(ce.Literal(v, dt), a: ce.AttributeReference)
          if v != null => one(a.name, v, dt)
      case ce.In(a: ce.AttributeReference, vs)
          if vs.nonEmpty && vs.forall(_.isInstanceOf[ce.Literal]) =>
        all(a.name, vs.collect { case ce.Literal(v, dt) if v != null =>
          (v, dt) })
      case ce.InSet(a: ce.AttributeReference, vs) =>
        all(a.name, vs.toSeq.filter(_ != null).map((_, a.dataType)))
      case _ => None
    }
  }

  /** Catalyst literal → the bloom's string key space: the SAME cast
    * the index build applied (`col.cast("string")`), evaluated with
    * the session timezone — a JVM toString would disagree on
    * decimals/timestamps ("42.5" vs "42.50") and wrongly reject files
    * that hold the value. Unrenderable values answer None (no
    * rejection). */
  private def render(v: Any,
                     dt: org.apache.spark.sql.types.DataType): Option[String] =
    try {
      import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
      val tz = org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone
      Option(Cast(Literal(v, dt), org.apache.spark.sql.types.StringType,
        Some(tz)).eval(null)).map(_.toString)
    } catch { case scala.util.control.NonFatal(_) => None }
}
