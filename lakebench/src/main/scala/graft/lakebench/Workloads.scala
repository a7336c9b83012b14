package graft.lakebench

import graft.lake.{CdcIngest, GraftSql, MaterializedView, MvRewrite, TableStore}
import graft.ops.{Similarity, VectorIndex}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import java.io.File
import scala.collection.mutable

/** A workload: seeded inputs, an initial load, and a cycle of ops that
  * always ends with the workload's maintenance op, so every run stops
  * in the same phase of the cycle. */
abstract class Workload(val ctx: Ctx, val seed: Long) {
  val spark = ctx.spark
  lazy val store: TableStore = ctx.newStore("store")

  /** Generates the inputs and performs the initial load. */
  def setup(): Unit
  /** One cycle of ops, ending with a maintenance op. */
  def cycle(): Unit
  /** Oracle mismatches; empty when the engine's outputs are correct. */
  def check(): Seq[String]
  /** The input properties this workload was chosen for. */
  def inputs: Seq[(String, Double)]
  /** The final rows the table should hold, computed with plain Spark. */
  def expected: DataFrame
  def mainTable: String
  /** A cycle's nominal length on a quiet 4-core machine, warm: a run
    * of `s` seconds measures `ceil(s / cycleSeconds)` cycles (at least
    * two when traced). The work is fixed by `s`, not by how fast the machine
    * happens to be, so the tables end every run in the same state. */
  def cycleSeconds: Double
  /** Untimed cycles run on the loaded table before timing starts. */
  def warmupCycles: Int
  /** The untimed warm-up on the loaded table: `warmupCycles` cycles. */
  def warmUp(): Unit = (0 until warmupCycles).foreach(_ => cycle())

  /** Change batches applied in the timed phase, as the source
    * delivered them: (batch, rows, applied in a traced cycle). */
  val changes = mutable.ArrayBuffer.empty[(DataFrame, Long, Boolean)]

  protected def change(df: DataFrame, rows: Long): Unit =
    if (ctx.timed) changes += ((df, rows, ctx.traceOn))

  protected def sql(text: String): DataFrame = GraftSql.execute(spark, store, text)

  /** Compares `got` and `want` as multisets of rows, by row count and
    * two order-free sums of per-row hashes (one aggregation job per
    * side): the mismatch, if any. */
  protected def sameRows(what: String, got: DataFrame, want: DataFrame): Seq[String] = {
    val cols = want.columns.toSeq.map(col)
    def fingerprint(df: DataFrame) = {
      val r = df.select(cols: _*).agg(count(lit(1)),
        sum(xxhash64(cols: _*).cast("decimal(38,0)")),
        sum(hash(cols: _*).cast("decimal(38,0)"))).first()
      (r.getLong(0), r.getDecimal(1), r.getDecimal(2))
    }
    val (g, w) = (fingerprint(got), fingerprint(want))
    if (g == w) Nil
    else Seq(s"$what: ${g._1} rows, expected ${w._1} (or the same count with other rows)")
  }
}

/** `cdc_cow` / `cdc_mor`: the reference pipeline, a full load and then
  * I/U/D batches through `CdcIngest.ingest` into a month-bucketed
  * table; each batch is followed by point reads and one aggregate, and
  * each cycle ends with the maintenance op. */
final class CdcWorkload(ctx: Ctx, seed: Long, mor: Boolean)
    extends Workload(ctx, seed) {
  val mainTable = "cdc"
  /** Batches per maintenance op: copy-on-write vacuums after each;
    * merge-on-read compacts after three, so reads see its delete debt
    * grow and reset. */
  val batchesPerCycle = if (mor) 3 else 1
  val cycleSeconds = 3.5 * batchesPerCycle
  /** Copy-on-write ingest latency falls for two batches after the
    * load (JIT and codegen warming up), so two cycles run untimed. */
  val warmupCycles = math.max(1, 2 / batchesPerCycle)
  val gen = new CdcGen(seed, 40000, 2000)
  val pointReads = 4
  private val cfg = CdcIngest.Config(bucketFormat = Some("yyyy-MM"),
    mergeOnRead = mor)
  private val all = mutable.ArrayBuffer.empty[Seq[Row]]

  def setup(): Unit = {
    all += gen.initial
    CdcIngest.ingest(spark, store, mainTable, Gen.df(spark, gen.initial, gen.schema), cfg)
  }

  def cycle(): Unit = {
    (0 until batchesPerCycle).foreach { _ =>
      val b = gen.nextBatch()
      all += b
      val df = Gen.df(spark, b, gen.schema)
      change(df, b.size)
      ctx.op("write", "ingest") { CdcIngest.ingest(spark, store, mainTable, df, cfg) }
      (0 until pointReads).foreach { _ =>
        val k = gen.someLiveKey()
        ctx.read("point")(sql(s"SELECT * FROM cdc WHERE key = $k"))
      }
      ctx.read("aggregate")(sql(
        "SELECT region, status, count(*) AS n, sum(amount_cents) AS total " +
          "FROM cdc GROUP BY region, status"))
    }
    if (mor) ctx.op("maint", "compact")(ctx.sub("compact")(store.compact(mainTable)))
    else ctx.op("maint", "vacuum")(sql("VACUUM cdc RETAIN 2 VERSIONS").collect())
  }

  /** Dedup-keep-latest over every input row, tombstones dropped. */
  def expected: DataFrame = {
    val src = all.map(Gen.df(spark, _, gen.schema)).reduce(_ union _)
    val w = Window.partitionBy("key").orderBy(col("process_date").desc)
    src.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .where(col("op") =!= "D")
      .select("key", "process_date", "region", "status", "amount_cents")
  }

  def check(): Seq[String] =
    sameRows("cdc table vs dedup-keep-latest", store.read(mainTable), expected)

  def inputs: Seq[(String, Double)] = Seq(
    "table_rows" -> gen.initial.size.toDouble,
    "batch_rows" -> gen.batchRows.toDouble,
    "ins_share" -> gen.insShare, "del_share" -> gen.delShare,
    "upd_share" -> (1 - gen.insShare - gen.delShare),
    "outside_newest_share" -> mean(gen.outsideNewestShare.toSeq),
    "commit_groups" -> store.versions(mainTable).size.toDouble)

  private def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** `append_scan`: small `INSERT INTO` statements through the SQL front
  * door into one growing table, with point, stats-prunable range and
  * full-aggregate SELECTs between them, and ANALYZE as maintenance. */
final class AppendWorkload(ctx: Ctx, seed: Long)
    extends Workload(ctx, seed) {
  val mainTable = "events"
  val cycleSeconds = 2.2
  val warmupCycles = 1
  val gen = new AppendGen(seed, 200)
  val preGrow = 5
  val insertsPerCycle = 4
  private val batches = mutable.ArrayBuffer.empty[Seq[Row]]

  private def insert(b: Seq[Row]): Unit = {
    batches += b
    val df = Gen.df(spark, b, gen.schema)
    df.createOrReplaceTempView("lb_batch")
    change(df, b.size)
    ctx.op("write", "insert")(ctx.sub("sql.insert")(
      sql("INSERT INTO events SELECT * FROM lb_batch")))
  }

  def setup(): Unit = {
    val b = gen.nextBatch(2000)
    batches += b
    store.create(mainTable, Gen.df(spark, b, gen.schema))
    (0 until preGrow).foreach(_ => insert(gen.nextBatch()))
  }

  private def rangeSql(t: String, lo: Long) =
    s"SELECT count(*) AS n, sum(value) AS total FROM $t WHERE id BETWEEN $lo AND ${lo + 300}"
  private def aggSql(t: String) =
    s"SELECT category, count(*) AS n, sum(value) AS total, max(ts) AS last FROM $t GROUP BY category"
  private def pointSql(t: String, id: Long) = s"SELECT * FROM $t WHERE id = $id"

  def cycle(): Unit = {
    (0 until insertsPerCycle).foreach { _ =>
      insert(gen.nextBatch())
      ctx.read("point")(sql(pointSql("events", gen.someId())))
    }
    ctx.read("range")(sql(rangeSql("events", gen.someId())))
    ctx.read("aggregate")(sql(aggSql("events")))
    ctx.op("maint", "analyze")(
      sql("ANALYZE TABLE events COMPUTE STATISTICS").collect())
  }

  def expected: DataFrame = batches.map(Gen.df(spark, _, gen.schema)).reduce(_ union _)

  def check(): Seq[String] = {
    val want = expected
    want.createOrReplaceTempView("lb_oracle")
    val lo = gen.idsSoFar / 3
    val id = gen.idsSoFar / 2
    sameRows("events table vs union of batches", store.read(mainTable), want) ++
      Seq(pointSql(_, id), rangeSql(_, lo), aggSql(_)).zipWithIndex.flatMap {
        case (q, i) => sameRows(s"append_scan SELECT #$i", sql(q("events")),
          spark.sql(q("lb_oracle")))
      }
  }

  def inputs: Seq[(String, Double)] = Seq(
    "table_rows" -> batches.map(_.size).sum.toDouble,
    "batch_rows" -> gen.rowsPerInsert.toDouble,
    "ins_share" -> 1.0, "upd_share" -> 0.0, "del_share" -> 0.0,
    "commit_groups" -> store.versions(mainTable).size.toDouble)
}

/** `derived_sync`: a vector corpus takes an append batch and two
  * positional-delete batches; after them, the materialized view
  * refreshes and the IVF-PQ index syncs; then an MV-answered aggregate
  * and three top-k searches run. The first search after a sync is the
  * slowest. Deletes outnumber appends, and later searches the rest of
  * the reads, so each median falls within one kind of op. */
final class DerivedWorkload(ctx: Ctx, seed: Long)
    extends Workload(ctx, seed) {
  val mainTable = "corpus"
  val cycleSeconds = 14.0
  /** The load (create, index build, view create) already runs the
    * write and maintenance paths: the first refresh and sync after it
    * are no slower than later ones, but the first search is. So the
    * warm-up is the cycle's reads, which leave the tables as they are. */
  val warmupCycles = 0
  override def warmUp(): Unit = reads()
  val dim = 32
  val gen = new VecGen(seed, dim)
  val corpusRows = 4000
  val appendRows = 200
  val deleteBatches = 2
  val deleteRows = 25
  val searches = 3
  val nlist = 16
  private val live = mutable.LinkedHashMap.empty[Long, Row]
  private var probeNo = 0L
  var rewriteMisses = 0

  def setup(): Unit = {
    val b = gen.nextBatch(corpusRows)
    b.foreach(r => live(r.getLong(0)) = r)
    store.create(mainTable, Gen.df(spark, b, gen.schema))
    VectorIndex.buildIvfPqIndexFromTable(store, "vidx", mainTable,
      nlist = nlist, m = 8, ksub = 16, kmeansIters = 1)
    MaterializedView.create(store, "corpus_mv", mainTable,
      groupCols = Seq("lang"), sumCols = Seq("score"))
  }

  private def probes(n: Int): DataFrame = {
    val p = gen.probes(n, probeNo)
    probeNo += n
    Gen.df(spark, p, gen.schema).select("vec_id", "embedding")
  }

  private val aggSql =
    "SELECT lang, count(*) AS cnt, sum(score) AS sum_score FROM corpus GROUP BY lang"

  def cycle(): Unit = {
    val b = gen.nextBatch(appendRows)
    val adf = Gen.df(spark, b, gen.schema)
    change(adf, b.size)
    b.foreach(r => live(r.getLong(0)) = r)
    ctx.op("write", "append")(store.append(mainTable, adf))
    (0 until deleteBatches).foreach { _ =>
      val ids = live.keys.toIndexedSeq
      val doomed = (0 until deleteRows).map(_ => ids(gen.nextInt(ids.size))).distinct
      doomed.foreach(live.remove)
      change(spark.createDataFrame(doomed.map(Tuple1(_))).toDF("vec_id"), doomed.size)
      ctx.op("write", "delete")(store.deleteWhere(mainTable, col("vec_id").isin(doomed: _*)))
    }
    ctx.op("maint", "refresh_sync") {
      ctx.sub("mv.refresh")(MaterializedView.refresh(store, "corpus_mv"))
      ctx.sub("index.sync")(VectorIndex.syncIvfPqIndex(store, "vidx", mainTable))
    }
    reads()
  }

  /** The MV-answered aggregate, then the top-k searches. */
  private def reads(): Unit = {
    val hits = MvRewrite.hits.get()
    ctx.read("mv_aggregate")(sql(aggSql))
    if (MvRewrite.hits.get() == hits) rewriteMisses += 1
    (0 until searches).foreach { _ =>
      val p = probes(2)
      ctx.read("search")(ctx.sub("index.search")(
        VectorIndex.searchIvfPqIndex(store, "vidx", p, k = 10, nprobe = 4)))
    }
  }

  def expected: DataFrame = Gen.df(spark, live.values.toSeq, gen.schema)

  def check(): Seq[String] = {
    val corpus = expected
    val mv = sameRows("corpus_mv vs from-scratch aggregate",
      MaterializedView.read(store, "corpus_mv").select("lang", "cnt", "sum_score"),
      corpus.groupBy("lang").agg(count(lit(1)).as("cnt"), sum("score").as("sum_score")))
    val p = probes(4).localCheckpoint()
    val books = store.read(VectorIndex.booksTable("vidx")).localCheckpoint()
    val full = VectorIndex.searchIvfPqIndex(store, "vidx", p, k = 10, nprobe = nlist)
      .select("qid", "vid", "cos_pq", "rnk")
    val exact = Similarity.pqTopK(corpus, p, books, m = 8, k = 10)
      .select("qid", "vid", "cos_pq", "rnk")
    val misses = if (rewriteMisses == 0) Nil
      else Seq(s"$rewriteMisses aggregate(s) not served by corpus_mv")
    mv ++ sameRows("full-probe IVF-PQ search vs exact PQ top-k", full, exact) ++ misses
  }

  def inputs: Seq[(String, Double)] = Seq(
    "table_rows" -> corpusRows.toDouble,
    "batch_rows" -> appendRows.toDouble,
    "ins_share" -> appendRows.toDouble / (appendRows + deleteBatches * deleteRows),
    "upd_share" -> 0.0,
    "del_share" -> deleteBatches * deleteRows.toDouble / (appendRows + deleteBatches * deleteRows),
    "vector_dim" -> dim.toDouble,
    "commit_groups" -> store.versions(mainTable).size.toDouble)
}

object Workload {
  val names = Seq("cdc_cow", "cdc_mor", "append_scan", "derived_sync")

  def apply(name: String, ctx: Ctx, seed: Long): Workload = name match {
    case "cdc_cow" => new CdcWorkload(ctx, seed, mor = false)
    case "cdc_mor" => new CdcWorkload(ctx, seed, mor = true)
    case "append_scan" => new AppendWorkload(ctx, seed)
    case "derived_sync" => new DerivedWorkload(ctx, seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (expected one of ${names.mkString(", ")})")
  }

  /** Bytes of `frames` written once as plain parquet, one file per
    * frame: the write-amplification denominator. */
  def plainBytes(frames: Seq[DataFrame], dir: File): Long =
    frames.groupBy(_.schema).values.zipWithIndex.map { case (fs, i) =>
      val out = new File(dir, s"g$i")
      fs.zipWithIndex.map { case (f, j) => f.withColumn("__b", lit(j)) }
        .reduce(_ union _)
        .repartition(col("__b")).write.partitionBy("__b").parquet(out.getAbsolutePath)
      Ctx.dataBytes(out)
    }.sum
}
