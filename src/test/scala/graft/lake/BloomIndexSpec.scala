package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Per-file Bloom index: point-lookup file skipping for keys whose
  * value ranges can't separate files (the case min/max stats prune
  * nothing on). Skipping shows in the files a plain
  * `read().where(col === value)` scans; the rows it returns never
  * depend on fpp or index staleness.
  */
class BloomIndexSpec extends SparkSpec {
  import spark.implicits._

  private def mkStore() = new TableStore(spark, tmpDir("bloomidx"))

  /** 4 hash-partitioned files of about 1000 keys each: a point key
    * lives in exactly one file, and every file's min/max spans the
    * whole key range, so for an in-range key only the bloom can drop a
    * file. */
  private def createKeyed(store: TableStore, table: String): Unit = {
    val df = (0L until 4000L).map(i => (i, s"name-$i")).toDF("id", "name")
      .repartition(4, col("id"))
    store.create(table, df)
  }

  /** The plain equality read the bloom skips files for. */
  private def lookup(store: TableStore, table: String, column: String,
                     value: Long) =
    store.read(table).where(col(column) === value)

  private def dataFileCount(store: TableStore, table: String): Int =
    store.manifest(table, store.currentVersion(table).get)
      .count(l => !l.startsWith("del|"))

  /** Sidecar keys of the data files in `table`'s manifest at `v`. */
  private def dataFileKeys(store: TableStore, table: String,
                           v: Long): Set[String] =
    store.manifest(table, v).filterNot(_.startsWith("del|"))
      .map(FileStats.fileKey).toSet

  /** Sidecar keys of the data files `table` gained after version `v`. */
  private def filesAddedSince(store: TableStore, table: String,
                              v: Long): Set[String] =
    dataFileKeys(store, table, store.currentVersion(table).get) --
      dataFileKeys(store, table, v)

  /** After the last index change on `table`: an in-range key, which
    * min/max cannot separate, scans fewer files than the table holds,
    * and the bloom rejects it in every one of `added` — so those files
    * carry entries of their own. */
  private def assertIndexed(store: TableStore, table: String,
                            added: Set[String]): Unit = {
    assert(scannedFiles(lookup(store, table, "id", 2500L)) <
      dataFileCount(store, table))
    val rejects = store.bloomRejectsCached(table, "id", "2500").get
    assert(added.nonEmpty && added.subsetOf(rejects),
      s"appended files without a bloom entry: ${added -- rejects}")
  }

  test("point lookup prunes to the one file holding the key, result exact") {
    val store = mkStore()
    createKeyed(store, "t1")
    store.buildBloomIndex("t1", "id")
    val all = dataFileCount(store, "t1")
    val kept = scannedFiles(lookup(store, "t1", "id", 2500L))
    assert(all == 4, s"expected 4 data files, got $all")
    assert(kept < all, s"bloom pruned nothing ($kept of $all files kept)")
    val got = lookup(store, "t1", "id", 2500L)
      .select("id", "name").collect()
    assert(got.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((2500L, "name-2500")))
    // an absent key returns empty, never an error
    assert(lookup(store, "t1", "id", 99999L).count() == 0)
  }

  test("files appended after the build have no entry and are kept (stale index stays correct)") {
    val store = mkStore()
    createKeyed(store, "t2")
    store.buildBloomIndex("t2", "id")
    val built = store.currentVersion("t2").get
    store.append("t2", Seq((90001L, "late")).toDF("id", "name"))
    val got = lookup(store, "t2", "id", 90001L).collect()
    assert(got.map(_.getString(1)).toSeq == Seq("late"))
    val appended = filesAddedSince(store, "t2", built)
    assert(!store.bloomRejectsCached("t2", "id", "2501").get
      .exists(appended), "a file with no entry was rejected")
    // and a rebuilt index prunes the appended file too
    store.buildBloomIndex("t2", "id")
    val kept = scannedFiles(lookup(store, "t2", "id", 90001L))
    assert(kept < dataFileCount(store, "t2"))
    assertIndexed(store, "t2", appended)
    assert(lookup(store, "t2", "id", 90001L).count() == 1)
  }

  test("without an index every file is kept and lookups still work") {
    val store = mkStore()
    createKeyed(store, "t3")
    // a mid-range key, inside every file's min/max
    assert(scannedFiles(lookup(store, "t3", "id", 2007L)) ==
      dataFileCount(store, "t3"))
    assert(lookup(store, "t3", "id", 2007L).count() == 1)
  }

  test("updateBloomIndex indexes only the appended files (O(new files))") {
    val store = mkStore()
    createKeyed(store, "t6")
    assert(store.updateBloomIndex("t6", "id") == 4) // first call = full build
    val built = store.currentVersion("t6").get
    store.append("t6", Seq((90001L, "late-a")).toDF("id", "name"))
    store.append("t6", Seq((90002L, "late-b")).toDF("id", "name"))
    assert(store.updateBloomIndex("t6", "id") == 2) // only the two new files
    assert(store.updateBloomIndex("t6", "id") == 0) // idempotent
    // appended keys now prune like the originals
    assert(scannedFiles(lookup(store, "t6", "id", 90002L)) <
      dataFileCount(store, "t6"))
    assertIndexed(store, "t6", filesAddedSince(store, "t6", built))
    assert(lookup(store, "t6", "id", 90002L).count() == 1)
    assert(lookup(store, "t6", "id", 2500L).count() == 1)
  }

  test("a file whose keys are all NULL gets a reject-all entry, not an eternal rescan") {
    val store = mkStore()
    store.create("t7", Seq((Some(1L), "a")).toDF("id", "name"))
    val created = store.currentVersion("t7").get
    store.append("t7", Seq((Option.empty[Long], "b")).toDF("id", "name"))
    val nullFile = filesAddedSince(store, "t7", created)
    assert(store.updateBloomIndex("t7", "id") == 2)
    assert(store.updateBloomIndex("t7", "id") == 0) // the null file IS indexed
    // the all-null file rejects every point key; lookups stay correct
    assert(nullFile.size == 1 &&
      nullFile.subsetOf(store.bloomRejectsCached("t7", "id", "1").get),
      "the all-null file has no reject-all bloom entry")
    assert(scannedFiles(lookup(store, "t7", "id", 1L)) ==
      dataFileCount(store, "t7") - 1)
    assert(lookup(store, "t7", "id", 1L).count() == 1)
  }

  test("CREATE BLOOMFILTER INDEX SQL builds the index through the front door") {
    val store = mkStore()
    createKeyed(store, "t5")
    val r = GraftSql.execute(spark, store,
      "CREATE BLOOMFILTER INDEX ON TABLE t5 FOR COLUMNS(id) OPTIONS(fpp = 0.01)")
    assert(r.collect().map(x => (x.getString(0), x.getString(1))).toSeq ==
      Seq(("t5", "id")))
    assert(scannedFiles(lookup(store, "t5", "id", 42L)) <
      dataFileCount(store, "t5"))
  }


  test("bloom skipping is AUTOMATIC on the default read path once an index exists") {
    val store = mkStore()
    // md5-ish keys hash-distributed across files: every file's string
    // min/max range spans the whole key space, so stats prune NOTHING
    // — only the bloom can separate files for a point probe
    val df = (0L until 4000L)
      .map(i => (org.apache.commons.codec.digest.DigestUtils.md5Hex(i.toString), i))
      .toDF("key", "v").repartition(4, col("v"))
    store.create("t8", df)
    val probe = org.apache.commons.codec.digest.DigestUtils.md5Hex("2500")
    val total = store.manifest("t8", store.currentVersion("t8").get)
      .count(l => !l.startsWith("del|"))
    // without an index: equality scans every file (stats can't help)
    assert(scannedFiles(store.read("t8").where(col("key") === probe)) == total)
    store.buildBloomIndex("t8", "key")
    // building the index is the one step bloom skipping needs
    val hit = store.read("t8").where(col("key") === probe)
    assert(scannedFiles(hit) == 1,
      s"expected the 1 bloom-surviving file of $total")
    assert(hit.select("v").as[Long].collect().toSeq == Seq(2500L))
    // absent key: every file bloom-rejected, zero files scanned, empty
    val miss = store.read("t8").where(col("key") === ("0" * 32))
    assert(scannedFiles(miss) == 0)
    assert(miss.count() == 0)
    // IN-lists probe per value; SQL front-door pushes the same shape
    val probes = Seq("10", "3999").map(s =>
      org.apache.commons.codec.digest.DigestUtils.md5Hex(s))
    assert(store.read("t8").where(col("key").isin(probes: _*))
      .select("v").as[Long].collect().toSeq.sorted == Seq(10L, 3999L))
    val sql = GraftSql.executeScript(spark, store,
      s"SELECT v FROM t8 WHERE key = '$probe'")
    assert(scannedFiles(sql) == 1)
    assert(sql.as[Long].collect().toSeq == Seq(2500L))
  }

  test("automatic bloom path follows column mapping and tolerates stale entries") {
    val store = mkStore()
    val df = (0L until 2000L)
      .map(i => (org.apache.commons.codec.digest.DigestUtils.md5Hex(i.toString), i))
      .toDF("key", "v").repartition(4, col("v"))
    store.create("t9", df)
    store.renameColumn("t9", "key", "doc_key")
    store.buildBloomIndex("t9", "doc_key")
    val probe = org.apache.commons.codec.digest.DigestUtils.md5Hex("77")
    // the logical name resolves through the mapping to the physical
    // bloom sidecar at pushdown time
    val hit = store.read("t9").where(col("doc_key") === probe)
    assert(scannedFiles(hit) == 1)
    assert(hit.select("v").as[Long].collect().toSeq == Seq(77L))
    // appended files have no entry yet: kept conservatively, exact
    store.append("t9", Seq((("f" * 32), 90001L)).toDF("doc_key", "v"))
    val late = store.read("t9").where(col("doc_key") === ("f" * 32))
    assert(late.select("v").as[Long].collect().toSeq == Seq(90001L))
  }

  test("REFRESH BLOOMFILTER INDEX sweeps the appended files through the front door") {
    val store = mkStore()
    createKeyed(store, "t10")
    store.buildBloomIndex("t10", "id")
    assert(store.bloomIndexedColumns("t10") == Seq("id"))
    val built = store.currentVersion("t10").get
    store.append("t10", Seq((90001L, "late")).toDF("id", "name"))
    // bare REFRESH (no column list) sweeps every indexed column
    val r = GraftSql.execute(spark, store,
      "REFRESH BLOOMFILTER INDEXES ON TABLE t10")
    assert(r.collect().map(x =>
      (x.getString(0), x.getString(1), x.getInt(2))).toSeq ==
      Seq(("t10", "id", 1)))
    // idempotent; the explicit-column form works too
    val r2 = GraftSql.execute(spark, store,
      "REFRESH BLOOMFILTER INDEX ON TABLE t10 FOR COLUMNS(id)")
    assert(r2.collect().map(_.getInt(2)).toSeq == Seq(0))
    assert(scannedFiles(lookup(store, "t10", "id", 90001L)) <
      dataFileCount(store, "t10"))
    assertIndexed(store, "t10", filesAddedSince(store, "t10", built))
  }

  test("maintenance pass refreshes existing bloom indexes (none = no-op)") {
    val root = tmpDir("bloomidx-maint")
    val store = new TableStore(spark, root)
    createKeyed(store, "tm")
    // no index yet: the pass must not invent one
    val s0 = MaintenanceJob.run(spark, MaintenanceJob.Args(root, "tm",
      claimTtlMs = 60 * 60 * 1000L, compactDebt = 99, vacuumKeep = 9))
    assert(s0.bloomFilesIndexed == 0)
    assert(store.bloomIndexedColumns("tm").isEmpty)
    store.buildBloomIndex("tm", "id")
    val built = store.currentVersion("tm").get
    store.append("tm", Seq((90001L, "late-a")).toDF("id", "name"))
    store.append("tm", Seq((90002L, "late-b")).toDF("id", "name"))
    val s1 = MaintenanceJob.run(spark, MaintenanceJob.Args(root, "tm",
      claimTtlMs = 60 * 60 * 1000L, compactDebt = 99, vacuumKeep = 9))
    assert(s1.bloomFilesIndexed == 2)
    assert(scannedFiles(lookup(store, "tm", "id", 90002L)) <
      dataFileCount(store, "tm"))
    assertIndexed(store, "tm", filesAddedSince(store, "tm", built))
  }

  test("index follows column mapping: lookup by the RENAMED logical name") {
    val store = mkStore()
    createKeyed(store, "t4")
    store.renameColumn("t4", "id", "cust_id")
    store.buildBloomIndex("t4", "cust_id")
    val got = lookup(store, "t4", "cust_id", 123L).collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(123L))
    assert(scannedFiles(lookup(store, "t4", "cust_id", 123L)) <
      dataFileCount(store, "t4"))
  }

  test("a compaction rewrite triggers a full sidecar rebuild (stale " +
    "entries never accumulate past the live file count)") {
    val store = mkStore()
    createKeyed(store, "t9")
    store.buildBloomIndex("t9", "id")
    // compact rewrites every data file: all 4 indexed paths go stale
    store.compact("t9")
    val n = store.updateBloomIndex("t9", "id")
    val live = store.manifest("t9", store.currentVersion("t9").get)
      .count(l => !l.startsWith("del|"))
    assert(n == live, s"expected a full rebuild of $live files, got $n")
    // the sidecar now holds ONLY live entries — no corpses to scan
    val sidecar = spark.read.parquet(
      tmpDirOf(store, "t9") + "/bloom-id").select("file").as[String]
      .collect().toSet
    val liveKeys = dataFileKeys(store, "t9", store.currentVersion("t9").get)
    assert(sidecar == liveKeys,
      s"stale entries survived the refresh: ${(sidecar -- liveKeys).take(3)}")
    // and probing still works post-rebuild
    assert(lookup(store, "t9", "id", 2500L).count() == 1)
  }

  private def tmpDirOf(store: TableStore, table: String): String =
    store.rootPath + "/" + table

  test("a corrupt sidecar disables probing (logged once, negatively " +
    "cached) instead of failing or re-probing per plan; a rebuild " +
    "re-enables it") {
    val store = mkStore()
    createKeyed(store, "t10")
    store.buildBloomIndex("t10", "id")
    assert(store.bloomRejectsCached("t10", "id", "2500").isDefined)
    // corrupt the sidecar: overwrite it with a wrong-schema frame
    val dir = tmpDirOf(store, "t10") + "/bloom-id"
    Seq(("x", 1)).toDF("file", "bits").write
      .mode("overwrite").parquet(dir)
    // fresh probes see the corruption: conservative no-index, and the
    // (table,col) pair is negatively cached against the broken bytes
    assert(store.bloomRejectsCached("t10", "id", "9999").isEmpty)
    assert(store.bloomRejectsCached("t10", "id", "9998").isEmpty)
    // reads stay correct without the index
    assert(lookup(store, "t10", "id", 2500L).count() == 1)
    // the MAINTENANCE path heals it: updateBloomIndex (what
    // refreshBloomIndexes calls unattended) must rebuild the broken
    // sidecar, not crash on it — and the rebuild changes the content
    // stamp, re-enabling probes past the negative cache
    assert(store.updateBloomIndex("t10", "id") == 4)
    assert(store.bloomRejectsCached("t10", "id", "9997").isDefined,
      "a rebuilt sidecar stayed negatively cached")
    assert(lookup(store, "t10", "id", 2500L).count() == 1)
  }
}
