package graft.lakebench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import java.sql.Timestamp
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Seeded input generators. Everything the engine sees is a DataFrame
  * built from these rows; the same seed gives the same rows, batch for
  * batch, however many batches a run gets through. */
object Gen {
  val DayMs: Long = 24L * 3600 * 1000
  /** 2024-01-01T00:00:00Z: the start of the generated CDC history. */
  val HistoryStartMs = 1704067200000L

  def df(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)
}

/** A DMS-style change stream: a full load whose rows span ~12 months,
  * then I/U/D batches stamped strictly after everything before them
  * (so the engine's strict `>` watermark never drops a row).
  * Updates and deletes pick keys by recency: key ids grow with the
  * current row's date, and a pick is `maxKey - |offset|` with an
  * exponential offset, so recent keys change more often. Each batch
  * also re-emits `dupShare` of its keys a second time, later, so the
  * dedup-keep-latest step has work. */
final class CdcGen(seed: Long, val tableKeys: Int, val batchRows: Int,
                   val insShare: Double = 0.2, val delShare: Double = 0.1,
                   dupShare: Double = 0.05) {
  private val rnd = new scala.util.Random(seed)
  private val readRnd = new scala.util.Random(seed ^ 0x5eed5eedL)
  val schema: StructType = StructType(Seq(
    StructField("key", LongType, nullable = false),
    StructField("process_date", TimestampType, nullable = false),
    StructField("op", StringType, nullable = false),
    StructField("region", StringType, nullable = false),
    StructField("status", StringType, nullable = false),
    StructField("amount_cents", LongType, nullable = false),
    StructField("partition_0", StringType, nullable = false)))

  private val regions = Array("emea", "apac", "amer", "latam", "anz")
  private val statuses = Array("new", "paid", "shipped", "returned")
  /** Live key -> current row's epoch ms (for the outside-newest-month
    * share); dead keys are absent. */
  private val live = mutable.HashMap.empty[Long, Long]
  private var maxKey = -1L
  private var clockMs = Gen.HistoryStartMs
  /** Epoch ms at which batch time starts: one day after the history. */
  val streamStartMs: Long = Gen.HistoryStartMs + 366L * Gen.DayMs

  private def row(k: Long, ms: Long, op: String): Row = {
    val ts = new Timestamp(ms)
    Row(k, ts, op, regions(rnd.nextInt(regions.length)),
      statuses(rnd.nextInt(statuses.length)), rnd.nextInt(1000000).toLong,
      monthOf(ms).take(4))
  }

  /** The full load: key i dated in step with i across 12 months, a
    * few keys twice (the older copy must lose the dedup). */
  lazy val initial: Seq[Row] = {
    val span = 365L * Gen.DayMs
    val out = mutable.ArrayBuffer.empty[Row]
    (0 until tableKeys).foreach { i =>
      val ms = Gen.HistoryStartMs + span * i / tableKeys + rnd.nextInt(60000)
      if (rnd.nextDouble() < dupShare) out += row(i, ms - 3600000L, "I")
      out += row(i, ms, "I")
      live(i.toLong) = ms
    }
    maxKey = tableKeys - 1
    clockMs = streamStartMs
    out.toSeq
  }

  /** Per batch, the share of updated/deleted keys whose current row
    * lies outside the newest month bucket (the copy-on-write merge
    * rewrites those buckets). */
  val outsideNewestShare = mutable.ArrayBuffer.empty[Double]

  private def pickLive(r: scala.util.Random = rnd): Long = {
    var k = -1L
    while (k < 0) {
      val off = (-math.log(1 - r.nextDouble()) * tableKeys * 0.05).toLong
      val c = maxKey - off
      if (c >= 0 && live.contains(c)) k = c
    }
    k
  }

  private def monthOf(ms: Long): String = {
    val d = java.time.Instant.ofEpochMilli(ms).atZone(java.time.ZoneOffset.UTC)
    f"${d.getYear}%04d-${d.getMonthValue}%02d"
  }

  /** The next change batch; batch times advance one hour per batch. */
  def nextBatch(): Seq[Row] = {
    initial
    val out = mutable.ArrayBuffer.empty[Row]
    val newest = monthOf(clockMs)
    var touchedOld = 0
    var touched = 0
    val inBatch = mutable.HashSet.empty[Long]
    while (out.size < batchRows) {
      clockMs += 1 + rnd.nextInt(500)
      val u = rnd.nextDouble()
      if (u < insShare) {
        maxKey += 1
        out += row(maxKey, clockMs, "I")
        live(maxKey) = clockMs
        inBatch += maxKey
      } else {
        val k = pickLive()
        if (!inBatch.contains(k)) {
          touched += 1
          if (monthOf(live(k)) != newest) touchedOld += 1
          inBatch += k
        }
        if (u < insShare + delShare) {
          out += row(k, clockMs, "D")
          live.remove(k)
        } else {
          out += row(k, clockMs, "U")
          live(k) = clockMs
          if (rnd.nextDouble() < dupShare) {
            clockMs += 1
            out += row(k, clockMs, "U")
          }
        }
      }
    }
    outsideNewestShare += (if (touched == 0) 0.0 else touchedOld.toDouble / touched)
    clockMs += 3600000L
    out.toSeq
  }

  /** A live key, for point reads (its own random stream, so reads
    * never shift the batches). */
  def someLiveKey(): Long = pickLive(readRnd)
}

/** Append-only event rows: ids ascend with time, so files hold narrow,
  * disjoint id ranges and a range predicate can prune by file stats. */
final class AppendGen(seed: Long, val rowsPerInsert: Int) {
  private val rnd = new scala.util.Random(seed)
  val schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("device", IntegerType, nullable = false),
    StructField("category", StringType, nullable = false),
    StructField("value", LongType, nullable = false)))
  private val readRnd = new scala.util.Random(seed ^ 0x5eed5eedL)
  private val categories = Array("click", "view", "buy", "error", "scroll", "share")
  private var nextId = 0L

  def nextBatch(n: Int = rowsPerInsert): Seq[Row] = (0 until n).map { _ =>
    val id = nextId
    nextId += 1
    Row(id, new Timestamp(Gen.HistoryStartMs + id * 1000L),
      rnd.nextInt(1000), categories(rnd.nextInt(categories.length)),
      rnd.nextInt(100000).toLong)
  }

  def idsSoFar: Long = nextId
  def someId(): Long = (readRnd.nextDouble() * nextId).toLong
}

/** A clustered vector corpus: `clusters` random unit centres, each
  * vector a centre plus Gaussian noise, so IVF lists are meaningful. */
final class VecGen(seed: Long, val dim: Int, clusters: Int = 24) {
  private val rnd = new scala.util.Random(seed)
  val schema: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("lang", StringType, nullable = false),
    StructField("score", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false),
      nullable = false)))
  private val langs = Array("en", "de", "fr", "es", "ja", "zh", "pt")
  private val centres = Array.fill(clusters)(Array.fill(dim)(rnd.nextGaussian()))
  private var nextId = 0L

  def vector(): Array[Float] = {
    val c = centres(rnd.nextInt(clusters))
    c.map(x => (x + 0.35 * rnd.nextGaussian()).toFloat)
  }

  def nextBatch(n: Int): Seq[Row] = (0 until n).map { _ =>
    val id = nextId
    nextId += 1
    Row(id, langs(rnd.nextInt(langs.length)), rnd.nextInt(1000).toLong,
      vector().toSeq)
  }

  def idsSoFar: Long = nextId
  def nextInt(n: Int): Int = rnd.nextInt(n)

  /** Probe vectors, ids negative so they never collide with corpus ids. */
  def probes(n: Int, from: Long): Seq[Row] = (0 until n).map { i =>
    Row(-(from + i + 1), "", 0L, vector().toSeq)
  }
}
