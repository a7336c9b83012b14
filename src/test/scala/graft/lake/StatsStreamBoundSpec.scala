package graft.lake

import graft.SparkSpec
import graft.lake.FileStats.Stat
import org.apache.spark.sql.catalyst.{expressions => ce}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Driver-memory bound of the stats-skipping read path
  * (VERDICT r11 "What's missing" #3): the per-query pruning decision
  * must never materialize the O(#files × #cols) sidecar map. The
  * streaming fold's own instrumentation ([[FileStats.StreamFoldStats]])
  * is the proof surface — `maxGroupCols` is the peak resident parse
  * state (one file's column group) and the reject set is capped —
  * asserted here over a SYNTHETIC 120k-file sidecar, far past any
  * in-memory-map comfort zone, plus an end-to-end leg showing the
  * bounded path still prunes a real table's scan. */
class StatsStreamBoundSpec extends SparkSpec {
  import spark.implicits._

  private val NFiles = 120000 // ≥10⁵ per the round-11 done-criterion

  /** Synthetic sidecar lines: per file an id range [f*10, f*10+9],
    * a constant-ish string col, and the __rows count — 4 lines/file,
    * 480k lines total, the shape a 120k-file manifest commits. */
  private def syntheticLines: Iterator[String] =
    (0 until NFiles).iterator.flatMap { f =>
      val lo = f.toLong * 10; val hi = lo + 9
      Iterator(
        s"/t/d-x/part-$f.parquet\tid\tnum\t$lo\t$hi\t0",
        s"/t/d-x/part-$f.parquet\tv\tnum\t0\t6\t0",
        s"/t/d-x/part-$f.parquet\t__rows\tcnt\t10\t10",
        s"/t/d-x/part-$f.parquet\tname\tstr\tYQ==\tYg==\t0")
    }

  /** The pushed filter `id BETWEEN lo AND hi` as Catalyst hands it to
    * [[FileStats.exprMayMatch]]. */
  private def idBetween(lo: Long, hi: Long): ce.Expression = {
    val id = ce.AttributeReference("id", LongType)()
    ce.And(ce.GreaterThanOrEqual(id, ce.Literal(lo)),
      ce.LessThanOrEqual(id, ce.Literal(hi)))
  }

  test("120k-file fold: resident state is one file's group; rejects correct") {
    // predicate: id in [100_000, 100_999] → exactly 100 files intersect
    val keep = (g: scala.collection.Map[String, Stat]) =>
      FileStats.exprMayMatch(idBetween(100000, 100999), g.get)
    val (rejected, st) =
      FileStats.streamRejects(syntheticLines, keep, cap = 1000000)
    assert(st.files == NFiles && st.lines == 4L * NFiles)
    // THE memory bound: peak resident parse state is one file's
    // column group — 4 entries — independent of the 120k-file scale
    assert(st.maxGroupCols == 4,
      s"resident group grew to ${st.maxGroupCols} entries")
    assert(!st.capped)
    assert(rejected.size == NFiles - 100,
      s"expected ${NFiles - 100} rejects, got ${rejected.size}")
    assert(!rejected("/t/d-x/part-10000.parquet")) // lo=100000 intersects
    assert(rejected("/t/d-x/part-9999.parquet"))
  }

  test("reject set is CAPPED: files past the cap stay in the plan") {
    val rejectAll = (_: scala.collection.Map[String, Stat]) => false
    val (rejected, st) =
      FileStats.streamRejects(syntheticLines, rejectAll, cap = 5000)
    assert(rejected.size == 5000 && st.capped,
      s"cap leaked: ${rejected.size} keys, capped=${st.capped}")
  }

  test("non-contiguous groups stay sound: partial-view rejection is a valid proof, kept files stay kept") {
    // two files interleaved line-by-line — the worst-case layout the
    // fold must survive without a full map
    val lines = Iterator(
      "/t/a.parquet\tid\tnum\t0\t9\t0",
      "/t/b.parquet\tid\tnum\t100\t109\t0",
      "/t/a.parquet\tv\tnum\t0\t6\t0",
      "/t/b.parquet\tv\tnum\t0\t6\t0")
    val keep = (g: scala.collection.Map[String, Stat]) =>
      FileStats.exprMayMatch(idBetween(0, 9), g.get)
    val (rejected, st) = FileStats.streamRejects(lines, keep, cap = 100)
    assert(rejected == Set("/t/b.parquet")) // b proven dead by its id line
    assert(st.maxGroupCols == 1) // interleaving shrinks, never grows, groups
  }

  test("end to end: the bounded path still prunes a real table's scan") {
    val store = new TableStore(spark, tmpDir("statsbound"))
    store.create("t", spark.range(0, 800)
      .select(col("id"), (col("id") % 7).as("v"))
      .repartitionByRange(8, col("id")))
    val total = store.manifest("t", 0L).count(!_.startsWith("del|"))
    assert(total >= 8)
    val df = store.read("t").where(col("id").between(100, 199))
    assert(scannedFiles(df) <= 2, "bounded stats path stopped pruning")
    assert(df.select("id").as[Long].collect().toSeq.sorted == (100L to 199L))
    // the verdict is cached per (table, version, filter set): a
    // re-plan of the same filters must not re-stream the sidecar
    val r1 = store.statsRejectsFor("t", 0L)(
      df.queryExecution.optimizedPlan.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          Seq(f.condition)
      }.getOrElse(Nil))
    val r2 = store.statsRejectsFor("t", 0L)(
      df.queryExecution.optimizedPlan.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          Seq(f.condition)
      }.getOrElse(Nil))
    assert(r1 eq r2, "verdict cache missed on identical filters")
  }
}
