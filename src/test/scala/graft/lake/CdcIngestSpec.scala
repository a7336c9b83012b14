package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class CdcIngestSpec extends SparkSpec {
  import spark.implicits._

  private def cdc(rows: (String, String, String)*): DataFrame =
    rows.toSeq.toDF("key", "ts_str", "op")
      .withColumn("process_date", col("ts_str").cast("timestamp"))
      .withColumn("partition_0", lit("2024"))
      .drop("ts_str")

  private def keys(df: DataFrame): Seq[String] =
    df.select("key").as[String].collect().toSeq.sorted

  test("full load: dedup keep-latest, tombstones dropped, partitions stripped") {
    val store = new TableStore(spark, tmpDir("ingest"))
    val batch = cdc(
      ("k1", "2024-01-01 10:00:00", "I"),
      ("k1", "2024-01-01 11:00:00", "U"), // latest k1 → kept
      ("k2", "2024-01-01 10:00:00", "I"),
      ("k2", "2024-01-01 12:00:00", "D"), // latest k2 is D → dropped
      ("k3", "2024-01-01 09:00:00", "I"))
    assert(CdcIngest.ingest(spark, store, "t", batch) == CdcIngest.FullLoad)
    val out = store.read("t")
    assert(keys(out) == Seq("k1", "k3"))
    assert(!out.columns.exists(_.contains("partition_")))
    // reference drops "Op" case-insensitively against the lower-case col
    // (remove_columns at icberg/iceberg_tables.py:110, trap §7.7.2)
    assert(!out.columns.map(_.toLowerCase).contains("op"))
    assert(!out.columns.contains("row_num"))
  }

  test("full load without op column (C2 fallback) keeps latest per key") {
    val store = new TableStore(spark, tmpDir("ingest"))
    val batch = cdc(
      ("k1", "2024-01-01 10:00:00", "x"),
      ("k1", "2024-01-01 11:00:00", "y")).drop("op")
    CdcIngest.ingest(spark, store, "t", batch)
    assert(store.read("t").count() == 1)
  }

  test("incremental: upsert + delete propagation in one commit") {
    val store = new TableStore(spark, tmpDir("ingest"))
    CdcIngest.ingest(spark, store, "t", cdc(
      ("k1", "2024-01-01 10:00:00", "I"),
      ("k2", "2024-01-01 10:00:00", "I"),
      ("k3", "2024-01-01 10:00:00", "I")))
    val v0 = store.currentVersion("t").get
    val out2 = CdcIngest.ingest(spark, store, "t", cdc(
      ("k1", "2024-01-02 10:00:00", "U"),  // update k1
      ("k2", "2024-01-02 10:00:00", "D"),  // delete k2
      ("k4", "2024-01-02 10:00:00", "I"))) // insert k4
    assert(out2 == CdcIngest.IncrementalLoad(3))
    assert(keys(store.read("t")) == Seq("k1", "k3", "k4"))
    // exactly one commit for the whole merge
    assert(store.currentVersion("t").get == v0 + 1)
    // k1 carries the new process_date
    val k1 = store.read("t").where($"key" === "k1")
      .select(date_format($"process_date", "yyyy-MM-dd").as("d"))
      .as[String].collect()
    assert(k1.toSeq == Seq("2024-01-02"))
  }

  test("strict > watermark: rows at the destination max ts are dropped") {
    val store = new TableStore(spark, tmpDir("ingest"))
    CdcIngest.ingest(spark, store, "t", cdc(("k1", "2024-01-01 10:00:00", "I")))
    // same timestamp as destination max → filtered out → NoNewData
    val out = CdcIngest.ingest(spark, store, "t",
      cdc(("k2", "2024-01-01 10:00:00", "I")))
    assert(out == CdcIngest.NoNewData)
    assert(keys(store.read("t")) == Seq("k1"))
  }

  test("a destination without dated rows has a null watermark: NoNewData") {
    // max(process_date) over only NULL dates is NULL and `> NULL` keeps
    // no batch row (the reference's behaviour), on every merge path
    val undated = Seq(("k1", "I")).toDF("key", "op")
      .withColumn("process_date", lit(null).cast("timestamp"))
    for (fmt <- Seq(None, Some("yyyy-MM"))) {
      val store = new TableStore(spark, tmpDir("ingest"))
      fmt match {
        case Some(f) => store.create("t", undated.withColumn(CdcIngest.BucketCol,
          date_format($"process_date", f)), partitionBy = Seq(CdcIngest.BucketCol))
        case None => store.create("t", undated)
      }
      val out = CdcIngest.ingest(spark, store, "t",
        cdc(("k2", "2024-02-01 10:00:00", "I")),
        CdcIngest.Config(bucketFormat = fmt))
      assert(out == CdcIngest.NoNewData, s"$fmt")
      assert(keys(store.read("t")) == Seq("k1"), s"$fmt")
    }
  }

  test("incremental dedup keeps row_num=1 regardless of op (trap 7.7.6)") {
    val store = new TableStore(spark, tmpDir("ingest"))
    CdcIngest.ingest(spark, store, "t", cdc(("k1", "2024-01-01 10:00:00", "I")))
    // latest record for k1 in the batch is a D → key deleted even though
    // an earlier U exists in the same batch
    CdcIngest.ingest(spark, store, "t", cdc(
      ("k1", "2024-01-02 10:00:00", "U"),
      ("k1", "2024-01-02 11:00:00", "D")))
    assert(keys(store.read("t")) == Seq())
  }

  test("bucketed merge rewrites only touched partitions, same results") {
    val bucketed = CdcIngest.Config(bucketFormat = Some("yyyy-MM"))
    val store = new TableStore(spark, tmpDir("ingest"))
    CdcIngest.ingest(spark, store, "t", cdc(
      ("k1", "2024-01-05 10:00:00", "I"),
      ("k2", "2024-02-05 10:00:00", "I"),
      ("k3", "2024-03-05 10:00:00", "I")), bucketed)
    val v0 = store.currentVersion("t").get
    val m0 = store.manifest("t", v0)
    assert(store.partitioning("t") == Seq(CdcIngest.BucketCol))

    // batch touches k2 (Feb) and inserts k4 (Apr); Jan + Mar untouched
    CdcIngest.ingest(spark, store, "t", cdc(
      ("k2", "2024-04-01 10:00:00", "U"),
      ("k4", "2024-04-02 10:00:00", "I")), bucketed)
    val m1 = store.manifest("t", store.currentVersion("t").get)
    for (untouched <- Seq("p_bucket=2024-01", "p_bucket=2024-03"))
      assert(m1.filter(_.contains(untouched)) == m0.filter(_.contains(untouched)),
        s"$untouched files were rewritten, not carried")
    // k2's old Feb row is gone; its new row lives in the April bucket
    assert(!m1.exists(_.contains("p_bucket=2024-02")))
    assert(keys(store.read("t")) == Seq("k1", "k2", "k3", "k4"))

    // same outcome as the unpartitioned legacy path
    val legacy = new TableStore(spark, tmpDir("ingest"))
    CdcIngest.ingest(spark, legacy, "t", cdc(
      ("k1", "2024-01-05 10:00:00", "I"),
      ("k2", "2024-02-05 10:00:00", "I"),
      ("k3", "2024-03-05 10:00:00", "I")))
    CdcIngest.ingest(spark, legacy, "t", cdc(
      ("k2", "2024-04-01 10:00:00", "U"),
      ("k4", "2024-04-02 10:00:00", "I")))
    val a = store.read("t").select("key", "process_date")
      .orderBy("key").collect().toSeq
    val b = legacy.read("t").select("key", "process_date")
      .orderBy("key").collect().toSeq
    assert(a == b)
  }

  test("day buckets: a full load and two incremental loads equal " +
    "dedup-keep-latest") {
    // yyyy-MM-dd bucket directories read back as DATE partition values
    val daily = CdcIngest.Config(bucketFormat = Some("yyyy-MM-dd"))
    val store = new TableStore(spark, tmpDir("ingest"))
    val batches = Seq(
      Seq(("k1", "2024-01-05 10:00:00", "I"),
        ("k2", "2024-01-06 10:00:00", "I"),
        ("k3", "2024-01-07 10:00:00", "I"),
        ("k3", "2024-01-07 11:00:00", "U")),
      Seq(("k2", "2024-01-08 10:00:00", "U"),
        ("k4", "2024-01-08 11:00:00", "I"),
        ("k1", "2024-01-09 10:00:00", "D")),
      Seq(("k3", "2024-01-10 10:00:00", "D"),
        ("k5", "2024-01-10 11:00:00", "I"),
        ("k2", "2024-01-11 10:00:00", "U")))
    val outcomes = batches.map(b => CdcIngest.ingest(spark, store, "t",
      cdc(b: _*), daily))
    assert(outcomes.head == CdcIngest.FullLoad)
    assert(outcomes.tail == Seq(CdcIngest.IncrementalLoad(3),
      CdcIngest.IncrementalLoad(3)))
    assert(store.partitioning("t") == Seq(CdcIngest.BucketCol))
    val all = cdc(batches.flatten: _*)
    val latest = all.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("key")
          .orderBy(col("process_date").desc)))
      .where(col("rn") === 1 && col("op") =!= "D")
    def rows(df: DataFrame) = df.select("key", "process_date").orderBy("key")
      .collect().toSeq
    assert(rows(store.read("t")) == rows(latest))
    assert(keys(store.read("t")) == Seq("k2", "k4", "k5"))
  }

  test("bucketed merge deletes a key from an untouched-by-inserts bucket") {
    val bucketed = CdcIngest.Config(bucketFormat = Some("yyyy-MM"))
    val store = new TableStore(spark, tmpDir("ingest"))
    CdcIngest.ingest(spark, store, "t", cdc(
      ("k1", "2024-01-05 10:00:00", "I"),
      ("k2", "2024-02-05 10:00:00", "I")), bucketed)
    // pure tombstone: k1's bucket must be rewritten even though no
    // survivor lands there
    CdcIngest.ingest(spark, store, "t",
      cdc(("k1", "2024-05-01 10:00:00", "D")), bucketed)
    assert(keys(store.read("t")) == Seq("k2"))
    val m = store.manifest("t", store.currentVersion("t").get)
    assert(!m.exists(_.contains("p_bucket=2024-01")))
  }

  test("bucketed merge rewrites only buckets holding keys past the watermark") {
    val bucketed = CdcIngest.Config(bucketFormat = Some("yyyy-MM"))
    val store = new TableStore(spark, tmpDir("ingest"))
    CdcIngest.ingest(spark, store, "t", cdc(
      ("k1", "2024-01-05 10:00:00", "I"),
      ("k2", "2024-02-05 10:00:00", "I"),
      ("k3", "2024-03-05 10:00:00", "I")), bucketed)
    val m0 = store.manifest("t", store.currentVersion("t").get)
    // k1's only batch row is at or below the watermark (2024-03-05),
    // so k1 is not in the deduped batch and its January bucket holds
    // no matched key: probing with every source key would rewrite it
    val out = CdcIngest.ingest(spark, store, "t", cdc(
      ("k1", "2024-02-01 10:00:00", "U"),
      ("k1", "2024-03-05 10:00:00", "D"),
      ("k2", "2024-04-01 10:00:00", "U"),
      ("k4", "2024-04-02 10:00:00", "I")), bucketed)
    assert(out == CdcIngest.IncrementalLoad(2))
    val m1 = store.manifest("t", store.currentVersion("t").get)
    for (untouched <- Seq("p_bucket=2024-01", "p_bucket=2024-03"))
      assert(m1.filter(_.contains(untouched)) == m0.filter(_.contains(untouched)),
        s"$untouched files were rewritten, not carried")
    assert(!m1.exists(_.contains("p_bucket=2024-02")))
    assert(keys(store.read("t")) == Seq("k1", "k2", "k3", "k4"))
    val k1 = store.read("t").where($"key" === "k1")
      .select(date_format($"process_date", "yyyy-MM-dd")).as[String].collect()
    assert(k1.toSeq == Seq("2024-01-05"))
  }

  test("incremental load reports the deduped batch's row count on every layout") {
    val layouts = Seq(CdcIngest.Config(),
      CdcIngest.Config(bucketFormat = Some("yyyy-MM")),
      CdcIngest.Config(bucketFormat = Some("yyyy-MM"), mergeOnRead = true))
    for (cfg <- layouts) {
      val store = new TableStore(spark, tmpDir("ingest"))
      CdcIngest.ingest(spark, store, "t", cdc(
        ("k1", "2024-01-05 10:00:00", "I"),
        ("k2", "2024-02-05 10:00:00", "I")), cfg)
      // 5 rows over 3 keys: in-batch duplicates of k1 and k2, one D
      val out = CdcIngest.ingest(spark, store, "t", cdc(
        ("k1", "2024-03-01 10:00:00", "U"),
        ("k1", "2024-03-02 10:00:00", "U"),
        ("k2", "2024-03-01 10:00:00", "U"),
        ("k2", "2024-03-03 10:00:00", "D"),
        ("k3", "2024-03-04 10:00:00", "I")), cfg)
      assert(out == CdcIngest.IncrementalLoad(3), s"$cfg")
      assert(keys(store.read("t")) == Seq("k1", "k3"), s"$cfg")
    }
  }

  test("a warm bucketed incremental merge runs at most 9 Spark jobs") {
    val bucketed = CdcIngest.Config(bucketFormat = Some("yyyy-MM"))
    val store = new TableStore(spark, tmpDir("ingest"))
    CdcIngest.ingest(spark, store, "t", cdc(
      ("k1", "2024-01-05 10:00:00", "I"),
      ("k2", "2024-02-05 10:00:00", "I"),
      ("k3", "2024-03-05 10:00:00", "I")), bucketed)
    CdcIngest.ingest(spark, store, "t", cdc(
      ("k2", "2024-04-01 10:00:00", "U"),
      ("k4", "2024-04-02 10:00:00", "I")), bucketed)
    // the first read after a merge re-infers the schema of commit
    // groups whose file set changed (a read-path job); take it here so
    // the count covers the merge plan alone: one grouped probe, the
    // observed dedup checkpoint and the rewrite — no watermark scan,
    // count() or second semi-join probe
    store.read("t")
    val jobs = jobsDuring {
      CdcIngest.ingest(spark, store, "t", cdc(
        ("k3", "2024-05-01 10:00:00", "U"),
        ("k1", "2024-05-02 10:00:00", "D"),
        ("k5", "2024-05-03 10:00:00", "I")), bucketed)
    }
    assert(jobs <= 9, s"$jobs Spark jobs for one bucketed merge")
    assert(keys(store.read("t")) == Seq("k2", "k3", "k4", "k5"))
  }

  test("the first read after a bucketed merge runs one Spark job") {
    val bucketed = CdcIngest.Config(bucketFormat = Some("yyyy-MM"))
    val store = new TableStore(spark, tmpDir("ingest"))
    CdcIngest.ingest(spark, store, "t", cdc(
      ("k1", "2024-01-05 10:00:00", "I"),
      ("k2", "2024-02-05 10:00:00", "I"),
      ("k3", "2024-03-05 10:00:00", "I")), bucketed)
    // rewrites the full load's 2024-02 bucket: that commit group's
    // remaining files no longer form the file set its schema was
    // cached under, so only the commit dir's seeded schema spares a
    // distributed schema-inference job
    CdcIngest.ingest(spark, store, "t", cdc(
      ("k2", "2024-04-01 10:00:00", "U")), bucketed)
    val v = store.currentVersion("t").get
    assert(store.manifest("t", 0L).exists(l => !store.manifest("t", v).contains(l)))
    var got = Seq.empty[String]
    val jobs = jobsDuring { got = keys(store.read("t")) }
    assert(jobs == 1, s"$jobs Spark jobs for the first read after a merge")
    assert(got == Seq("k1", "k2", "k3"))
  }

  test("replaying batches equals one full load when timestamps are unique") {
    val all = cdc(
      ("k1", "2024-01-01 10:00:00", "I"),
      ("k2", "2024-01-01 10:30:00", "I"),
      ("k1", "2024-01-02 10:00:00", "U"),
      ("k3", "2024-01-02 11:00:00", "I"),
      ("k2", "2024-01-03 10:00:00", "D"),
      ("k1", "2024-01-03 11:00:00", "U"))
    val storeA = new TableStore(spark, tmpDir("ingest"))
    CdcIngest.ingest(spark, storeA, "t",
      all.where($"process_date" < "2024-01-02"))
    CdcIngest.ingest(spark, storeA, "t",
      all.where($"process_date" >= "2024-01-02" && $"process_date" < "2024-01-03"))
    CdcIngest.ingest(spark, storeA, "t", all.where($"process_date" >= "2024-01-03"))
    val storeB = new TableStore(spark, tmpDir("ingest"))
    CdcIngest.ingest(spark, storeB, "t", all)
    val a = storeA.read("t").select("key", "process_date").orderBy("key").collect().toSeq
    val b = storeB.read("t").select("key", "process_date").orderBy("key").collect().toSeq
    assert(a == b)
  }

  test("bucketed merge ABORTS when a matched key lands in an untouched bucket concurrently") {
    // The resurrection race: the merge's touched-bucket probe reads
    // the WHOLE table, so its read set is not confined to the touched
    // dirs — a racer appending a matched key into an untouched bucket
    // inside the claim window must conflict (strict snapshot
    // validation), or the tombstone would miss the racer's row and
    // the deleted key would come back.
    val bucketed = CdcIngest.Config(bucketFormat = Some("yyyy-MM"))
    val dir = tmpDir("ingest-race")
    val inj = new RaceInjector(
      new HadoopCommitPrimitive(spark.sessionState.newHadoopConf()))
    val store = new TableStore(spark, dir, Some(inj))
    val racerStore = new TableStore(spark, dir)
    CdcIngest.ingest(spark, store, "t", cdc(
      ("k1", "2024-01-05 10:00:00", "I"),
      ("k2", "2024-02-05 10:00:00", "I")), bucketed)
    // racer: re-inserts k1 into the March bucket (outside the merge's
    // touched dir p_bucket=2024-01) between the pinned read and claim
    val racerRow = Seq(("k1", "2024-03-05 10:00:00")).toDF("key", "ts")
      .withColumn("process_date", col("ts").cast("timestamp")).drop("ts")
      .withColumn(CdcIngest.BucketCol,
        date_format(col("process_date"), "yyyy-MM"))
    inj.armed = true
    inj.hook = () => racerStore.append("t", racerRow)
    intercept[SnapshotConflictException] {
      CdcIngest.ingest(spark, store, "t",
        cdc(("k1", "2024-05-01 10:00:00", "D")), bucketed)
    }
    // nothing half-applied: both original rows AND the racer's row
    // survive; k1 is NOT silently resurrected past a committed delete
    assert(keys(store.read("t")) == Seq("k1", "k1", "k2"))
    assert(store.read("t").where(col(CdcIngest.BucketCol) === "2024-03")
      .count() == 1)
  }
}
