package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A version whose manifest lists no data file — a hive-partitioned
  * write of zero rows emits none — still reads as an empty table, with
  * the columns the schema header of its commit recorded. */
class ZeroFileVersionSpec extends SparkSpec {
  import spark.implicits._

  /** Field names, and the types of the non-partition columns. */
  private def shape(df: DataFrame, parts: Set[String]) =
    (df.columns.toSeq,
      df.schema.fields.filterNot(f => parts(f.name)).map(f => f.name -> f.dataType).toSeq)

  private val rows = Seq((1L, "a", 2.5, "x"), (2L, "b", 3.5, "y"))
    .toDF("id", "name", "score", "part")

  private def partitioned(store: TableStore): DataFrame = {
    store.create("t", rows, partitionBy = Seq("part"))
    store.read("t")
  }

  test("a bucketed CDC full load of only tombstones reads as an empty table") {
    def cdc(rows: (String, String, String)*): DataFrame =
      rows.toDF("key", "ts_str", "op")
        .withColumn("process_date", col("ts_str").cast("timestamp"))
        .drop("ts_str")
    val cfg = CdcIngest.Config(bucketFormat = Some("yyyy-MM"))
    val full = new TableStore(spark, tmpDir("zero"))
    CdcIngest.ingest(spark, full, "t", cdc(("k0", "2024-01-01 10:00:00", "I")), cfg)
    val store = new TableStore(spark, tmpDir("zero"))
    CdcIngest.ingest(spark, store, "t", cdc(
      ("k1", "2024-01-01 10:00:00", "I"),
      ("k1", "2024-01-01 11:00:00", "D")), cfg)
    assert(store.liveDataFiles("t").isEmpty)
    val parts = Set(CdcIngest.BucketCol)
    assert(store.read("t").count() == 0L)
    assert(shape(store.read("t"), parts) == shape(full.read("t"), parts))
    // an empty destination has a null watermark, so the reference's
    // incremental load keeps no batch row (CdcIngestSpec pins that);
    // what matters here is that it reads the table instead of failing
    assert(CdcIngest.ingest(spark, store, "t",
      cdc(("k2", "2024-02-01 10:00:00", "I")), cfg) == CdcIngest.NoNewData)
    store.append("t", full.read("t"))
    assert(store.read("t").select("key").as[String].collect().toSeq == Seq("k0"))
  }

  test("deleteWhere(true) then compact leaves an empty partitioned table") {
    val store = new TableStore(spark, tmpDir("zero"))
    val before = shape(partitioned(store), Set("part"))
    assert(store.deleteWhere("t", lit(true)) == 2L)
    store.compact("t")
    assert(store.liveDataFiles("t").isEmpty)
    assert(store.read("t").count() == 0L)
    assert(shape(store.read("t"), Set("part")) == before)
    // the next partition overwrite builds on the empty version
    store.overwritePartitions("t", rows.where($"part" === "x"), Seq("part=x"))
    assert(store.read("t").select("id").as[Long].collect().toSeq == Seq(1L))
  }

  test("overwriting a partitioned table with an empty frame empties it") {
    val store = new TableStore(spark, tmpDir("zero"))
    val before = shape(partitioned(store), Set("part"))
    store.overwrite("t", rows.limit(0))
    assert(store.liveDataFiles("t").isEmpty)
    assert(store.read("t").count() == 0L)
    assert(shape(store.read("t"), Set("part")) == before)
    // a rewrite in the range: the feed diffs against the empty version
    assert(store.changes("t", 0L, 1L).where($"_change_type" === "delete")
      .count() == 2L)
    // metadata-only commits carry the schema of the version they publish
    store.renameColumn("t", "name", "label")
    assert(store.read("t").columns.toSeq == Seq("id", "label", "score", "part"))
    store.restore("t", 1L)
    assert(shape(store.read("t"), Set("part")) == before)
  }

  test("a zero-file version written before the schema header fails loudly") {
    val root = tmpDir("zero")
    val store = new TableStore(spark, root)
    partitioned(store)
    store.overwrite("t", rows.limit(0))
    val m1 = java.nio.file.Paths.get(root, "t", "manifest-1")
    val text = new String(java.nio.file.Files.readAllBytes(m1), "UTF-8")
    java.nio.file.Files.write(m1, text.split("\n")
      .filterNot(_.startsWith("#schema=")).mkString("\n").getBytes("UTF-8"))
    val e = intercept[IllegalStateException](store.read("t"))
    assert(e.getMessage.contains("version 1 of t"), e.getMessage)
  }
}
