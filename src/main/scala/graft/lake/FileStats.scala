package graft.lake

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._

import java.nio.charset.StandardCharsets
import java.util.Base64
import scala.jdk.CollectionConverters._

/** Per-file column statistics for manifest-level data skipping — the
  * half of the clustering story that `Layout.cluster` alone doesn't
  * buy: z-order gives each file a tight bounding box; these stats let
  * the reader DROP non-intersecting files from the manifest before
  * the scan ever starts (Delta's stats-in-log / Iceberg's manifest
  * min-max, simplified to one sidecar per version).
  *
  * Stats are FREE at commit time: the parquet write already stored
  * row-group min/max/null-count in every footer, so the commit folds
  * footers driver-side — O(new files) metadata reads, zero extra data
  * scan — and carries the lines forward by reference with their
  * files. Pruning is conservative: a file with no recorded entry for
  * the predicate column (unsupported type, pre-stats commit, or a
  * column the file's schema predates) is always kept; only a recorded
  * non-overlapping range — or an all-null column, which no range
  * predicate can match — drops a file.
  */
object FileStats {

  /** One parsed sidecar entry: range bounds plus the column's null
    * count (None on pre-null-count sidecar lines — conservative). */
  final case class Stat(tag: String, min: String, max: String,
                        nulls: Option[Long])

  private[lake] val NumTag = "num"
  private[lake] val StrTag = "str"
  private[lake] val NullTag = "nul"
  private[lake] val CntTag = "cnt"
  private[lake] val RowsCol = "__rows"

  /** Scheme-independent key both manifest URIs and
    * `input_file_name()` normalize to. */
  def fileKey(uri: String): String = new Path(uri).toUri.getPath

  private def b64(s: String): String =
    Base64.getEncoder.encodeToString(s.getBytes(StandardCharsets.UTF_8))
  private def unb64(s: String): String =
    new String(Base64.getDecoder.decode(s), StandardCharsets.UTF_8)

  /** Stats tag for a primitive parquet type, or None for types whose
    * footer order doesn't map cleanly onto a driver-side compare
    * (timestamps/dates/decimals keep their files unpruned rather than
    * risk a wrong drop). */
  private def tagOf(p: PrimitiveType): Option[String] = {
    val ann = p.getLogicalTypeAnnotation
    p.getPrimitiveTypeName match {
      case INT32 | INT64 =>
        ann match {
          case null => Some(NumTag)
          case _: LogicalTypeAnnotation.IntLogicalTypeAnnotation => Some(NumTag)
          case _ => None // date/timestamp/decimal-encoded ints
        }
      case FLOAT | DOUBLE => Some(NumTag)
      case BINARY if ann.isInstanceOf[
        LogicalTypeAnnotation.StringLogicalTypeAnnotation] => Some(StrTag)
      case _ => None
    }
  }

  /** Rows in one parquet file, summed over its footer's row groups — a
    * driver metadata read, no scan. */
  def rowCount(conf: Configuration, uri: String): Long = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(uri), conf))
    try reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum
    finally reader.close()
  }

  /** What one pass over footers yields: the sidecar lines, and the
    * Spark schema JSON the (first) footer carries, None without one —
    * every file of one Spark write carries the same schema, so the
    * commit seeds its schema cache from this without opening a footer
    * twice. */
  final case class Folded(lines: Seq[String], sparkSchema: Option[String])

  /** Key under which Spark's parquet writer stores the row schema. */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** Fold each file's footer into sidecar lines. Per supported
    * top-level column: all-null if every row group reports
    * nulls == rows; otherwise min-of-mins / max-of-maxes over groups
    * that have values. Any group with unusable statistics (older
    * writer, NaN-bearing doubles, unknown null counts) makes the
    * column unknown for the whole file — conservative keep. */
  def compute(conf: Configuration, files: Seq[String]): Folded = {
    // footer reads are independent metadata round-trips: run them on a
    // bounded pool instead of serially on the driver thread — against
    // an object store each open is a network RTT, so a many-file commit
    // would otherwise serialize N latencies. Encounter order is
    // preserved (per-file line groups come back in input order).
    def one(uri: String): Folded = {
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(uri), conf))
      try {
        val footer = reader.getFooter
        val key = fileKey(uri)
        val blocks = footer.getBlocks.asScala.toSeq
        // per-file row count under the reserved __rows key — the
        // metadata-only COUNT(*) source (skipped in the pathological
        // case of a real column named __rows)
        val rowLine =
          if (footer.getFileMetaData.getSchema.getFields.asScala
                .exists(_.getName == RowsCol)) None
          else {
            val total = blocks.map(_.getRowCount).sum
            Some(s"$key\t$RowsCol\t$CntTag\t$total\t$total")
          }
        val lines = rowLine.toSeq ++
          footer.getFileMetaData.getSchema.getFields.asScala.toSeq
            .filter(_.isPrimitive)
            .flatMap { f =>
              tagOf(f.asPrimitiveType()).flatMap { tag =>
                lineOf(key, f.getName, tag, blocks)
              }
            }
        Folded(lines, Option(footer.getFileMetaData.getKeyValueMetaData
          .get(SparkSchemaKey)))
      } finally reader.close()
    }
    val perFile =
      if (files.size <= 1) files.map(one)
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(16, files.size))
        try {
          val futures = files.map(uri => pool.submit(
            new java.util.concurrent.Callable[Folded] {
              def call(): Folded = one(uri)
            }))
          val out = futures.map { f =>
            try f.get()
            catch {
              // surface the reader's own exception, not the pool wrapper
              // — same error contract as the single-file path
              case e: java.util.concurrent.ExecutionException =>
                throw e.getCause
            }
          }
          pool.shutdown()
          out
        } catch {
          // on failure cancel queued/in-flight footer reads instead of
          // letting them run to completion in background threads
          case e: Throwable => pool.shutdownNow(); throw e
        }
      }
    Folded(perFile.flatMap(_.lines), perFile.headOption.flatMap(_.sparkSchema))
  }

  private def lineOf(key: String, name: String, tag: String,
                     blocks: Seq[org.apache.parquet.hadoop.metadata.BlockMetaData])
      : Option[String] = {
    if (name.contains("\t") || name.contains("\n")) return None
    val chunks = blocks.map(b =>
      (b.getRowCount, b.getColumns.asScala.find(_.getPath.toDotString == name)))
    if (chunks.exists(_._2.isEmpty)) return None
    val stats = chunks.map { case (rows, c) => (rows, c.get.getStatistics) }
    if (stats.exists { case (_, s) => s == null || s.isNumNullsSet == false })
      return None
    val nulls = stats.map(_._2.getNumNulls).sum
    if (stats.forall { case (rows, s) => s.getNumNulls == rows })
      return Some(s"$key\t$name\t$NullTag\t\t\t$nulls")
    // groups holding values must all expose min/max; all-null groups
    // legitimately have none and contribute nothing
    val valued = stats.filter { case (rows, s) => s.getNumNulls < rows }
    if (valued.exists { case (_, s) => !s.hasNonNullValue }) return None
    val bounds = valued.map { case (_, s) =>
      if (tag == StrTag)
        (s.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary]
           .toStringUsingUTF8,
         s.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary]
           .toStringUsingUTF8)
      else (s.genericGetMin.toString, s.genericGetMax.toString)
    }
    if (tag == StrTag) {
      // parquet orders binary stats by unsigned UTF-8 byte; our prune
      // compares in Java string order. The two agree on ASCII — skip
      // the entry (keep the file) when a bound leaves that common
      // ground rather than risk a wrong drop.
      if (bounds.exists { case (mn, mx) =>
            (mn + mx).exists(_ >= 0x80.toChar) })
        return None
      val mn = bounds.map(_._1).min
      val mx = bounds.map(_._2).max
      Some(s"$key\t$name\t$StrTag\t${b64(mn)}\t${b64(mx)}\t$nulls")
    } else {
      // Parquet records +/-Infinity min/max for FP columns holding
      // infinite values (only NaN suppresses FP stats); those don't
      // parse as BigDecimal. Skip the entry (keep the file) rather
      // than crash the commit that computes the sidecar.
      val nums = bounds.map { case (mn, mx) =>
        (scala.util.Try(BigDecimal(mn)).toOption,
         scala.util.Try(BigDecimal(mx)).toOption)
      }
      if (nums.exists(p => p._1.isEmpty || p._2.isEmpty)) return None
      Some(s"$key\t$name\t$NumTag\t${nums.map(_._1.get).min}\t" +
        s"${nums.map(_._2.get).max}\t$nulls")
    }
  }

  /** Parsed sidecar: (fileKey, column) -> [[Stat]]. 5-field lines from
    * pre-null-count sidecars parse with an unknown null count. */
  def parse(content: String): Map[(String, String), Stat] =
    content.split("\n").iterator.flatMap(parseLine)
      .map { case (f, c, st) => ((f, c), st) }.toMap

  /** One parsed sidecar line: (fileKey, column, [[Stat]]). */
  private def parseLine(line: String): Option[(String, String, Stat)] =
    line.trim match {
      case "" => None
      case l => l.split("\t", -1) match {
        case Array(f, c, tag, mn, mx) => Some((f, c, Stat(tag, mn, mx, None)))
        case Array(f, c, tag, mn, mx, nulls) =>
          Some((f, c, Stat(tag, mn, mx, nulls.toLongOption)))
        case _ => None
      }
    }

  /** Instrumentation from one [[streamRejects]] pass — the bounded-
    * driver-memory proof a spec can assert on: resident state is ONE
    * file's column group (`maxGroupCols` entries at peak) plus the
    * rejected-key set (≤ `cap`), never the full (file, column) map. */
  final case class StreamFoldStats(files: Long, lines: Long,
                                   maxGroupCols: Int, capped: Boolean)

  /** Fold a stats sidecar's lines into the set of file keys whose
    * recorded stats PROVE the caller's predicate can't match —
    * streaming, so driver memory is O(one file's columns + cap), not
    * O(#files): at 10⁷ manifest files the materialized map
    * ([[parse]]) is a multi-GB driver wall; this fold's resident
    * state stays a few KB regardless of table size.
    *
    * `keep(colStats)` answers "could this file hold a matching row?"
    * given the file's column → [[Stat]] group; `false` rejects it.
    * Commit-written sidecars keep one file's lines contiguous, but
    * contiguity is an optimization, not a correctness requirement: a
    * key reappearing later is simply evaluated again over the later
    * partial group, and a rejection proved from ANY subset of a
    * file's recorded entries is still a valid proof (entries are
    * per-column facts), while a never-rejected file is conservatively
    * kept. Rejections past `cap` are dropped (files stay in the plan)
    * so the returned set — the only O(#files)-shaped state — is
    * bounded like the bloom probes' `MaxBloomRejects`. */
  def streamRejects(lines: Iterator[String],
                    keep: scala.collection.Map[String, Stat] => Boolean,
                    cap: Int): (Set[String], StreamFoldStats) = {
    val rejected = scala.collection.mutable.HashSet.empty[String]
    val group = scala.collection.mutable.HashMap.empty[String, Stat]
    var curKey: String = null
    var nFiles = 0L; var nLines = 0L; var maxCols = 0; var capped = false
    def flush(): Unit = if (curKey != null) {
      nFiles += 1
      if (group.size > maxCols) maxCols = group.size
      if (!keep(group)) {
        if (rejected.size < cap) rejected += curKey else capped = true
      }
      group.clear()
    }
    lines.foreach { raw =>
      parseLine(raw).foreach { case (f, c, st) =>
        nLines += 1
        if (f != curKey) { flush(); curKey = f }
        group(c) = st
      }
    }
    flush()
    (rejected.toSet, StreamFoldStats(nFiles, nLines, maxCols, capped))
  }

  /** Conservative driver-side test of a pushed-down Catalyst data
    * filter against ONE file's recorded stats — the store's only
    * file-skipping evaluator, run by [[StatsFileIndex]] on every scan
    * (`store.read(t).where(...)`, SQL SELECT).
    * Answers "could any row of this file satisfy `e`?": false only
    * when the recorded ranges / null counts PROVE no row can;
    * unsupported expression shapes, unknown columns, and type
    * mismatches all answer true (keep the file). Handles the shapes
    * Spark actually pushes to a file scan: comparisons between an
    * attribute and a literal (both orders), IsNull/IsNotNull,
    * IN / INSET, StartsWith, AND / OR. */
  def exprMayMatch(e: org.apache.spark.sql.catalyst.expressions.Expression,
                   statOf: String => Option[Stat]): Boolean = {
    import org.apache.spark.sql.catalyst.{expressions => ce}
    e match {
      case ce.And(l, r) => exprMayMatch(l, statOf) && exprMayMatch(r, statOf)
      case ce.Or(l, r) => exprMayMatch(l, statOf) || exprMayMatch(r, statOf)
      case ce.EqualTo(a: ce.AttributeReference, ce.Literal(v, _)) =>
        cmpMayMatch(statOf(a.name), v, "=")
      case ce.EqualTo(ce.Literal(v, _), a: ce.AttributeReference) =>
        cmpMayMatch(statOf(a.name), v, "=")
      case ce.EqualNullSafe(a: ce.AttributeReference, ce.Literal(v, _))
          if v != null => cmpMayMatch(statOf(a.name), v, "=")
      case ce.EqualNullSafe(ce.Literal(v, _), a: ce.AttributeReference)
          if v != null => cmpMayMatch(statOf(a.name), v, "=")
      case ce.GreaterThan(a: ce.AttributeReference, ce.Literal(v, _)) =>
        cmpMayMatch(statOf(a.name), v, ">")
      case ce.GreaterThan(ce.Literal(v, _), a: ce.AttributeReference) =>
        cmpMayMatch(statOf(a.name), v, "<")
      case ce.GreaterThanOrEqual(a: ce.AttributeReference, ce.Literal(v, _)) =>
        cmpMayMatch(statOf(a.name), v, ">=")
      case ce.GreaterThanOrEqual(ce.Literal(v, _), a: ce.AttributeReference) =>
        cmpMayMatch(statOf(a.name), v, "<=")
      case ce.LessThan(a: ce.AttributeReference, ce.Literal(v, _)) =>
        cmpMayMatch(statOf(a.name), v, "<")
      case ce.LessThan(ce.Literal(v, _), a: ce.AttributeReference) =>
        cmpMayMatch(statOf(a.name), v, ">")
      case ce.LessThanOrEqual(a: ce.AttributeReference, ce.Literal(v, _)) =>
        cmpMayMatch(statOf(a.name), v, "<=")
      case ce.LessThanOrEqual(ce.Literal(v, _), a: ce.AttributeReference) =>
        cmpMayMatch(statOf(a.name), v, ">=")
      // a file with a RECORDED zero null count cannot produce a NULL;
      // anything else (all-null, positive count, unknown) is kept
      case ce.IsNull(a: ce.AttributeReference) => statOf(a.name) match {
        case Some(s) if s.tag != CntTag => !s.nulls.contains(0L)
        case _ => true
      }
      // only an all-NULL column skips
      case ce.IsNotNull(a: ce.AttributeReference) =>
        !statOf(a.name).exists(_.tag == NullTag)
      case ce.In(a: ce.AttributeReference, vs)
          if vs.nonEmpty && vs.size <= 256 &&
            vs.forall(_.isInstanceOf[ce.Literal]) =>
        vs.exists { case ce.Literal(v, _) =>
          cmpMayMatch(statOf(a.name), v, "=") }
      case ce.InSet(a: ce.AttributeReference, vs) if vs.size <= 4096 =>
        vs.exists(v => cmpMayMatch(statOf(a.name), v, "="))
      case ce.StartsWith(a: ce.AttributeReference, ce.Literal(p, _)) =>
        (strLit(p), statOf(a.name)) match {
          case (Some(_), Some(Stat(NullTag, _, _, _))) => false
          case (Some(pfx), Some(Stat(StrTag, mnb, mxb, _))) if pfx.nonEmpty =>
            // any s with prefix pfx satisfies pfx <= s < pfxNext
            val pfxNext = pfx.init + (pfx.last + 1).toChar
            unb64(mxb) >= pfx && unb64(mnb) < pfxNext
          case _ => true
        }
      case _ => true
    }
  }

  /** Can a file with this stats entry hold a row whose column `op`
    * the literal `v`? Type-mismatched or unreadable literals keep the
    * file; an all-NULL column rejects every value comparison. */
  private def cmpMayMatch(entry: Option[Stat], v: Any, op: String): Boolean =
    entry match {
      case Some(Stat(NullTag, _, _, _)) => false
      case Some(Stat(NumTag, mn, mx, _)) =>
        numLit(v) match {
          case None => true
          case Some(x) =>
            val lo = BigDecimal(mn); val hi = BigDecimal(mx)
            op match {
              case "=" => x >= lo && x <= hi
              case ">" => hi > x
              case ">=" => hi >= x
              case "<" => lo < x
              case "<=" => lo <= x
              case _ => true
            }
        }
      case Some(Stat(StrTag, mnb, mxb, _)) =>
        strLit(v) match {
          case None => true
          case Some(x) =>
            val lo = unb64(mnb); val hi = unb64(mxb)
            op match {
              case "=" => x >= lo && x <= hi
              case ">" => hi > x
              case ">=" => hi >= x
              case "<" => lo < x
              case "<=" => lo <= x
              case _ => true
            }
        }
      case _ => true
    }

  /** Literal → BigDecimal for the numeric stats space; None (keep)
    * for NaN, NULL, and non-numeric types. */
  private def numLit(v: Any): Option[BigDecimal] = v match {
    case null => None
    case i: Int => Some(BigDecimal(i))
    case l: Long => Some(BigDecimal(l))
    case s: Short => Some(BigDecimal(s.toInt))
    case b: Byte => Some(BigDecimal(b.toInt))
    // Floats convert via toString, NOT toDouble: the sidecar records
    // Float.toString bounds (e.g. "0.1"), and BigDecimal(0.1f.toDouble)
    // = 0.10000000149... would sit ABOVE that bound — an equality probe
    // at a file's exact float min/max would wrongly prune the file.
    case f: Float =>
      if (f.isNaN || f.isInfinite) None else Some(BigDecimal(f.toString))
    case d: Double =>
      if (d.isNaN || d.isInfinite) None else Some(BigDecimal(d))
    case d: org.apache.spark.sql.types.Decimal => Some(d.toBigDecimal)
    case d: java.math.BigDecimal => Some(BigDecimal(d))
    case _ => None
  }

  /** Literal → String for the string stats space. Non-ASCII answers
    * None (keep): the sidecar only records all-ASCII bounds, where
    * Java string order and parquet's unsigned-UTF-8 order agree —
    * but the LITERAL must be ASCII too for the comparison to agree
    * with Spark's binary collation. */
  private def strLit(v: Any): Option[String] = v match {
    case u: org.apache.spark.unsafe.types.UTF8String =>
      val s = u.toString
      if (s.exists(_ >= 0x80.toChar)) None else Some(s)
    case s: String =>
      if (s.exists(_ >= 0x80.toChar)) None else Some(s)
    case _ => None
  }
}
