package graft.streaming

import graft.SparkSpec
import graft.lake.TableStore
import graft.ops.{Similarity, VectorIndex}
import org.apache.spark.sql.functions._

/** Streaming IVF maintenance: arrivals enter the persisted index
  * within a trigger, searches equal a batch rebuild on the same
  * centroids, and crash-replayed micro-batches commit exactly once. */
class StreamingVectorIndexSpec extends SparkSpec {
  import spark.implicits._

  private def corpus(from: Int, n: Int): org.apache.spark.sql.DataFrame =
    (from until from + n).map { i =>
      val base = (i % 4) * 10.0f
      (i.toLong, Array.tabulate(8)(d => base + ((i * 7 + d * 3) % 5) * 0.1f))
    }.toDF("vec_id", "embedding")

  test("streamed arrivals are searchable and equal a batch append") {
    val store = new TableStore(spark, tmpDir("sivf-store"))
    val src = tmpDir("sivf-src")
    val seed = corpus(0, 120)
    VectorIndex.buildIvfIndex(store, "ix", seed, nlist = 8, kmeansIters = 2)
    // first arrivals land before the stream starts
    corpus(120, 40).coalesce(1).write.mode("append").parquet(src)
    val q = StreamingVectorIndex.startIngest(spark, src, store, "ix",
      checkpointDir = tmpDir("sivf-ckpt"))
    try {
      q.processAllAvailable()
      corpus(160, 40).coalesce(1).write.mode("append").parquet(src)
      q.processAllAvailable()
    } finally q.stop()
    val all = seed.unionByName(corpus(120, 80))
    val probes = all.where(col("vec_id") >= 160L && col("vec_id") < 163L)
    val cents = store.read(VectorIndex.centroidsTable("ix"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "rnk", "vid", "cos").orderBy("qid", "rnk")
        .collect().toSeq.map(r => (r.getLong(0), r.getInt(1),
          r.getLong(2), r.getDouble(3)))
    val streamed = rows(
      VectorIndex.searchIvfIndex(store, "ix", probes, k = 5, nprobe = 3))
    val batch = rows(
      Similarity.ivfSearch(all, probes, cents, k = 5, nprobe = 3))
    assert(streamed.nonEmpty && streamed == batch)
    // every streamed vector is in the index exactly once
    val ids = store.read(VectorIndex.listsTable("ix"))
      .select("vec_id").as[Long].collect().toSeq
    assert(ids.size == ids.distinct.size && ids.size == 200)
  }

  test("streamed PQ arrivals encode exactly like a batch maintenance pass") {
    val store = new TableStore(spark, tmpDir("sivfpq-store"))
    val src = tmpDir("sivfpq-src")
    val seed = corpus(0, 120)
    VectorIndex.buildIvfPqIndex(store, "px", seed, nlist = 8, m = 4,
      ksub = 8, kmeansIters = 2)
    corpus(120, 40).coalesce(1).write.mode("append").parquet(src)
    val q = StreamingVectorIndex.startIngest(spark, src, store, "px",
      checkpointDir = tmpDir("sivfpq-ckpt"), m = 4)
    try {
      q.processAllAvailable()
      corpus(160, 40).coalesce(1).write.mode("append").parquet(src)
      q.processAllAvailable()
    } finally q.stop()
    // the codes table equals one assign+encode of the whole corpus
    // against the stored quantizers — stream == batch, exactly once
    val all = seed.unionByName(corpus(120, 80))
    val want = VectorIndex.encodeForIvfPq(store, "px", all, m = 4)
      .select(col("cent_id").cast("long"), col("vec_id"), col("sub"),
        col("code").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getLong(3))).toSet
    val got = store.read(VectorIndex.codesTable("px"))
      .select(col("cent_id").cast("long"), col("vec_id"), col("sub"),
        col("code").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getLong(3))).toSet
    assert(got == want && got.size == 200 * 4)
    // replay guard: re-delivering the last batch id is a no-op
    StreamingVectorIndex.ingestBatch(store, "px", corpus(160, 40),
      batchId = 1L, m = 4)
    assert(store.read(VectorIndex.codesTable("px")).count() == 200L * 4)
  }

  test("a publish failure mid-batch replays to exactly one commit") {
    import graft.lake.{Crashable, HadoopCommitPrimitive}
    val crashable = new Crashable(
      new HadoopCommitPrimitive(spark.sessionState.newHadoopConf()))
    val store = new TableStore(spark, tmpDir("sivf-crash"), Some(crashable))
    VectorIndex.buildIvfIndex(store, "ix", corpus(0, 60), nlist = 4,
      kmeansIters = 1)
    val lt = VectorIndex.listsTable("ix")
    val vBefore = store.currentVersion(lt).get
    val b = corpus(100, 10)
    crashable.failNextPublish = true
    intercept[RuntimeException] {
      StreamingVectorIndex.ingestBatch(store, "ix", b, batchId = 0L)
    }
    // the failed attempt published nothing — guard and data share one
    // commit, so there is no watermark-without-data state either way
    assert(store.currentVersion(lt).contains(vBefore))
    // foreachBatch redelivers batch 0 after the failure; lastTxn has
    // no watermark for it, so the replay commits — exactly once
    StreamingVectorIndex.ingestBatch(store, "ix", b, batchId = 0L)
    StreamingVectorIndex.ingestBatch(store, "ix", b, batchId = 0L) // second replay: skipped
    assert(store.currentVersion(lt).contains(vBefore + 1))
    assert(store.read(lt).where(col("vec_id") >= 100L).count() == 10L)
  }

  test("a zombie writer racing the same batch id no-ops inside the commit") {
    // the caller-side lastTxn guard can be passed by two writers
    // before either commits (driver failover); the in-claim
    // revalidation is what must stop the second — simulate it by
    // calling appendTxn directly twice with the same watermark
    val store = new TableStore(spark, tmpDir("sivf-zombie"))
    VectorIndex.buildIvfIndex(store, "ix", corpus(0, 60), nlist = 4,
      kmeansIters = 1)
    val lt = VectorIndex.listsTable("ix")
    val vBefore = store.currentVersion(lt).get
    val rows = corpus(100, 10).withColumn("cent_id", lit(0L))
      .select(col("cent_id"), col("vec_id"), col("embedding"))
    store.appendTxn(lt, rows, "ivf-ingest-ix", 7L)
    store.appendTxn(lt, rows, "ivf-ingest-ix", 7L) // zombie replay
    store.appendTxn(lt, rows, "ivf-ingest-ix", 6L) // stale watermark
    assert(store.currentVersion(lt).contains(vBefore + 1))
    assert(store.read(lt).where(col("vec_id") >= 100L).count() == 10L)
    assert(store.lastTxn(lt, "ivf-ingest-ix").contains(7L))
  }

  test("restart without the checkpoint fails loudly on batch-id regression") {
    // a query restarted WITHOUT its checkpoint gets fresh batch ids
    // from 0; under the watermark those batches would silently no-op
    // as "replays" — data loss. The guard must kill the query instead.
    val store = new TableStore(spark, tmpDir("sivf-regress"))
    VectorIndex.buildIvfIndex(store, "ix", corpus(0, 60), nlist = 4,
      kmeansIters = 1)
    StreamingVectorIndex.ingestBatch(store, "ix", corpus(100, 10),
      batchId = 5L)
    val before = store.read(VectorIndex.listsTable("ix")).count()
    val e = intercept[IllegalStateException] {
      StreamingVectorIndex.ingestBatch(store, "ix", corpus(110, 5),
        batchId = 0L)
    }
    assert(e.getMessage.contains("REGRESSION")
      && e.getMessage.contains("checkpoint"))
    // the loud failure committed nothing — and a replay of the LAST
    // batch id (the one legitimate at-least-once case) still no-ops
    assert(store.read(VectorIndex.listsTable("ix")).count() == before)
    StreamingVectorIndex.ingestBatch(store, "ix", corpus(100, 10),
      batchId = 5L)
    assert(store.read(VectorIndex.listsTable("ix")).count() == before)
  }

  test("PQ ingest fails loudly on batch-id regression too") {
    val store = new TableStore(spark, tmpDir("sivfpq-regress"))
    VectorIndex.buildIvfPqIndex(store, "px", corpus(0, 60), nlist = 4,
      m = 4, ksub = 8, kmeansIters = 1)
    StreamingVectorIndex.ingestBatch(store, "px", corpus(100, 10),
      batchId = 3L, m = 4)
    val before = store.read(VectorIndex.codesTable("px")).count()
    intercept[IllegalStateException] {
      StreamingVectorIndex.ingestBatch(store, "px", corpus(110, 5),
        batchId = 1L, m = 4)
    }
    assert(store.read(VectorIndex.codesTable("px")).count() == before)
  }

  test("a crash-replayed micro-batch commits exactly once") {
    val store = new TableStore(spark, tmpDir("sivf-once"))
    VectorIndex.buildIvfIndex(store, "ix", corpus(0, 60), nlist = 4,
      kmeansIters = 1)
    val b = corpus(100, 10)
    StreamingVectorIndex.ingestBatch(store, "ix", b, batchId = 0L)
    // at-least-once replay of the same batch id after a "crash"
    StreamingVectorIndex.ingestBatch(store, "ix", b, batchId = 0L)
    StreamingVectorIndex.ingestBatch(store, "ix", corpus(110, 5), batchId = 1L)
    val n = store.read(VectorIndex.listsTable("ix"))
      .where(col("vec_id") >= 100L).count()
    assert(n == 15L, s"expected 15 appended vectors, found $n")
  }
}
