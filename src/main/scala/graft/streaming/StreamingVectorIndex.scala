package graft.streaming

import graft.lake.TableStore
import graft.ops.VectorIndex
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming maintenance of a persisted IVF or IVF-PQ ANN index
  * ([[graft.ops.VectorIndex]]): embedding arrivals land in a parquet
  * directory, each micro-batch is assigned to the stored (already
  * trained) centroids, encoded under the index's codec and appended
  * to the inverted lists — the streaming form of `appendToIvfIndex`,
  * so searches see new vectors within one trigger without any rebuild.
  *
  * Exactly-once: `foreachBatch` is at-least-once under crash-replay,
  * so each batch commits through [[TableStore.appendTxn]] with the
  * batch id as the application transaction watermark — a replayed
  * batch is recognized via [[TableStore.lastTxn]] BEFORE any work
  * (an O(manifest-header) probe, not an O(corpus) data read) and
  * skipped. The guard and the data land in the same atomic commit,
  * and the commit REVALIDATES the watermark inside its claim (Delta's
  * SetTransaction discipline), so even a zombie writer racing the
  * replacement driver on the same batch id no-ops instead of
  * double-appending.
  *
  * Scale: per-batch cost is O(batch) — one broadcast centroid
  * assignment (nlist × dim, tiny), the codec's encode, plus an append
  * commit under the lists table's hive layout, so partition pruning
  * keeps holding for searches as the index grows. The corpus is never
  * re-read.
  */
object StreamingVectorIndex {

  /** Start streaming embedding arrivals from `sourceDir` into the
    * persisted index `name` (which must already be built —
    * `buildIvfIndex` or `buildIvfPqIndex` trains the quantizers this
    * ingest encodes against). Caller stops the returned query.
    * `sourceSchema` is required when the landing dir may still be
    * empty at start; `m` (IVF-PQ only) is checked against the stored
    * codebooks, 0 takes the stored value.
    *
    * `checkpointDir` is REQUIRED and must be durable: the ingest
    * watermark guard is only sound under a STABLE checkpoint. A
    * restart without one gets fresh batch ids starting at 0, and
    * every new batch with id ≤ the persisted watermark would be
    * skipped as a "replay" — silent data LOSS, the exact inverse of
    * the duplicate protection the watermark provides (the same caveat
    * Delta attaches to txnAppId/txnVersion idempotent writes).
    * Defense in depth: a batch id STRICTLY below the watermark is
    * detected at the first micro-batch and fails the query loudly
    * (see `guardBatchIdRegression`) instead of no-oping forever. */
  def startIngest(spark: SparkSession, sourceDir: String,
                  store: TableStore, name: String,
                  checkpointDir: String,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  sourceSchema: Option[org.apache.spark.sql.types.StructType] = None,
                  maxFilesPerTrigger: Int = 16, m: Int = 0): StreamingQuery = {
    VectorIndex.codecOf(store, name) // an unbuilt index fails here
    require(checkpointDir.nonEmpty,
      "checkpointDir must be a durable location: without a stable " +
        "checkpoint, restarted batch ids restart at 0 and the " +
        "exactly-once watermark would silently DROP new batches")
    val schema = sourceSchema.getOrElse(spark.read.parquet(sourceDir).schema)
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(sourceDir)
      .writeStream
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) ingestBatch(store, name, batch, batchId,
          idCol, vecCol, m)
      }
      .option("checkpointLocation", checkpointDir)
      .start()
  }

  /** One micro-batch: skip if the index's data table already
    * committed this batch id, else assign + encode against the stored
    * quantizers and append with the watermark in the same commit.
    * Public so callers wiring their own foreachBatch (or a
    * non-streaming driver with its own batch-id ledger) get the
    * identical exactly-once discipline — under the SAME stable-id
    * caveat as [[startIngest]]'s checkpointDir: batch ids must never
    * restart. Attribute columns the index was built with (attrCols)
    * are carried from the batch, same as
    * [[graft.ops.VectorIndex.appendToIvfIndex]]. */
  def ingestBatch(store: TableStore, name: String,
                  batch: DataFrame, batchId: Long,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding", m: Int = 0): Unit = {
    val codec = VectorIndex.codecOf(store, name)
    // `ivf-ingest-<name>` or `ivfpq-ingest-<name>`
    val (t, app) = (codec.dataTable(name), s"${codec.tag}-ingest-$name")
    val wm = store.lastTxn(t, app)
    guardBatchIdRegression(wm, batchId, app, name)
    if (!wm.exists(_ >= batchId))
      store.appendTxn(t,
        VectorIndex.encode(store, name, codec, batch, m, idCol, vecCol),
        app, batchId)
  }

  /** A batch id BELOW the persisted watermark is never a legitimate
    * crash replay: with a stable checkpoint Spark re-delivers at most
    * the LAST batch (id == watermark — the crash landed between our
    * commit and the offset commit), and ids are monotonic within one
    * query. Strictly-below means the query restarted WITHOUT its
    * checkpoint (ids reset to 0) — every new batch would silently
    * no-op as a "replay", i.e. data LOSS — or a zombie instance is
    * racing the replacement driver on stale work. Both must die
    * loudly, not skip quietly. */
  private def guardBatchIdRegression(watermark: Option[Long], batchId: Long,
                                     app: String, name: String): Unit =
    watermark.filter(_ > batchId).foreach { w =>
      throw new IllegalStateException(
        s"streaming batch-id REGRESSION on index '$name': batch $batchId " +
          s"arrived strictly below the persisted exactly-once watermark $w " +
          s"(app '$app'). This means the query restarted WITHOUT its " +
          "original checkpoint (batch ids reset to 0, and every new batch " +
          "would be silently dropped as a replay) or a zombie writer is " +
          "racing a replacement driver. Restart the ingest from its " +
          "original durable checkpointLocation; to intentionally start " +
          "over, rebuild the index (which resets the watermark) and use " +
          "a fresh checkpoint.")
    }
}
