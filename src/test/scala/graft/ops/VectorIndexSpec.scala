package graft.ops

import graft.SparkSpec
import graft.lake.TableStore
import org.apache.spark.sql.functions._

/** Persisted IVF index: build-once/serve-many parity with the
  * in-query ivfSearch, partition-level list pruning, and rebuild
  * semantics. */
class VectorIndexSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic synthetic corpus: n vectors of dim 8, values from
    * a fixed affine recurrence — clustered enough that k-means
    * separates, stable across runs. */
  private def corpus(n: Int): org.apache.spark.sql.DataFrame =
    (0 until n).map { i =>
      val base = (i % 4) * 10.0f
      (i.toLong, Array.tabulate(8)(d => base + ((i * 7 + d * 3) % 5) * 0.1f))
    }.toDF("vec_id", "embedding")

  test("persisted search equals the in-query ivfSearch on the same centroids") {
    val store = new TableStore(spark, tmpDir("ivfidx"))
    val emb = corpus(200)
    VectorIndex.buildIvfIndex(store, "ix", emb, nlist = 8, kmeansIters = 2)
    val cents = store.read(VectorIndex.centroidsTable("ix"))
    val probes = emb.where(col("vec_id") < 6)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "rnk", "vid", "cos").orderBy("qid", "rnk")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getDouble(3))).toSeq
    val persisted = rows(
      VectorIndex.searchIvfIndex(store, "ix", probes, k = 5, nprobe = 3))
    val inQuery = rows(
      Similarity.ivfSearch(emb, probes, cents, k = 5, nprobe = 3))
    assert(persisted.nonEmpty)
    assert(persisted == inQuery)
  }

  test("search reads ONLY the probed lists: partition pruning on cent_id") {
    val store = new TableStore(spark, tmpDir("ivfidx"))
    val emb = corpus(400)
    VectorIndex.buildIvfIndex(store, "ix", emb, nlist = 8, kmeansIters = 2)
    val lt = VectorIndex.listsTable("ix")
    val totalFiles = store.manifest(lt, store.currentVersion(lt).get)
      .count(l => !l.startsWith("del|"))
    val nLists = store.read(lt).select("cent_id").distinct().count()
    assert(nLists >= 3, s"expected a multi-list index, got $nLists lists")
    // one probe, nprobe=1: at most 1/nLists of the partitions scanned
    val one = VectorIndex.searchIvfIndex(store, "ix",
      emb.where(col("vec_id") === 0L), k = 3, nprobe = 1)
    // count only the LISTS table's scan — the tiny centroid read is a
    // separate (unpruned, broadcast) file scan in the same plan
    val scanned = scannedFiles(one, "ix_lists")
    assert(scanned > 0 && scanned < totalFiles,
      s"probed search scanned $scanned of $totalFiles list files")
    assert(scanned <= totalFiles / nLists.toInt + 1,
      s"expected ~1 list of $nLists, scanned $scanned of $totalFiles")
  }

  test("rebuild overwrites the index; searches see the new corpus only") {
    val store = new TableStore(spark, tmpDir("ivfidx"))
    VectorIndex.buildIvfIndex(store, "ix", corpus(100), nlist = 4,
      kmeansIters = 1)
    // rebuild over a SHIFTED id space — old ids must vanish
    val shifted = corpus(100).withColumn("vec_id", col("vec_id") + 1000L)
    VectorIndex.buildIvfIndex(store, "ix", shifted, nlist = 4,
      kmeansIters = 1)
    val got = VectorIndex.searchIvfIndex(store, "ix",
        shifted.where(col("vec_id") === 1000L), k = 3, nprobe = 4)
      .select("vid").as[Long].collect().toSeq
    assert(got.nonEmpty && got.forall(_ >= 1000L),
      s"stale pre-rebuild ids surfaced: $got")
  }

  test("append-maintained index equals a full build on the same centroids") {
    val store = new TableStore(spark, tmpDir("ivfidx"))
    val emb = corpus(200)
    val even = emb.where(col("vec_id") % 2 === 0)
    val odd = emb.where(col("vec_id") % 2 === 1)
    VectorIndex.buildIvfIndex(store, "ix", even, nlist = 8, kmeansIters = 2)
    VectorIndex.appendToIvfIndex(store, "ix", odd)
    val cents = store.read(VectorIndex.centroidsTable("ix"))
    val probes = emb.where(col("vec_id") < 6)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "rnk", "vid", "cos").orderBy("qid", "rnk")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getDouble(3))).toSeq
    val incremental = rows(
      VectorIndex.searchIvfIndex(store, "ix", probes, k = 5, nprobe = 3))
    // the contract: build(even) + append(odd) ≡ assigning the WHOLE
    // corpus to the stored (even-trained) centroids
    val fullOnSameCents = rows(
      Similarity.ivfSearch(emb, probes, cents, k = 5, nprobe = 3))
    assert(incremental.nonEmpty)
    assert(incremental == fullOnSameCents)
    // odd ids actually entered the index (the append wasn't a no-op)
    assert(incremental.exists(_._3 % 2 == 1),
      "no odd (appended) vector surfaced in any top-k")
  }

  test("partition pruning survives an incremental append") {
    val store = new TableStore(spark, tmpDir("ivfidx"))
    val emb = corpus(400)
    VectorIndex.buildIvfIndex(store, "ix",
      emb.where(col("vec_id") % 2 === 0), nlist = 8, kmeansIters = 2)
    VectorIndex.appendToIvfIndex(store, "ix",
      emb.where(col("vec_id") % 2 === 1))
    val lt = VectorIndex.listsTable("ix")
    val totalFiles = store.manifest(lt, store.currentVersion(lt).get)
      .count(l => !l.startsWith("del|"))
    val one = VectorIndex.searchIvfIndex(store, "ix",
      emb.where(col("vec_id") === 0L), k = 3, nprobe = 1)
    val scanned = scannedFiles(one, "ix_lists")
    assert(scanned > 0 && scanned < totalFiles,
      s"post-append probed search scanned $scanned of $totalFiles files")
  }

  test("describeIvfIndex serves per-list counts without opening a list file") {
    val store = new TableStore(spark, tmpDir("ivfidx"))
    val emb = corpus(300)
    VectorIndex.buildIvfIndex(store, "ix",
      emb.where(col("vec_id") % 2 === 0), nlist = 8, kmeansIters = 2)
    VectorIndex.appendToIvfIndex(store, "ix",
      emb.where(col("vec_id") % 2 === 1))
    val desc = VectorIndex.describeIvfIndex(store, "ix")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // sidecar-served counts match an actual read-back group-by
    // (cent_id in the profile is the raw partition-directory string)
    val actual = store.read(VectorIndex.listsTable("ix"))
      .groupBy(col("cent_id").cast("string").as("cent_id")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(desc.keySet == actual.keySet)
    actual.foreach { case (cid, n) =>
      assert(desc(cid)._2 == n, s"list $cid: sidecar ${desc(cid)._2} != $n")
    }
    assert(desc.values.map(_._2).sum == 300L)
    // every live list file is accounted for in the sidecar
    val lt = VectorIndex.listsTable("ix")
    val liveFiles = store.manifest(lt, store.currentVersion(lt).get)
      .count(l => !l.startsWith("del|"))
    assert(desc.values.map(_._1).sum == liveFiles.toLong)
  }

  test("rebuildIvfIndex retrains from the lists; contents and search survive") {
    val store = new TableStore(spark, tmpDir("ivfidx"))
    val emb = corpus(200)
    // train on a skewed seed (one cluster), then append the rest —
    // the shape that drifts lists — and reindex
    VectorIndex.buildIvfIndex(store, "ix",
      emb.where(col("vec_id") % 4 === 0), nlist = 8, kmeansIters = 2)
    VectorIndex.appendToIvfIndex(store, "ix",
      emb.where(col("vec_id") % 4 =!= 0))
    VectorIndex.rebuildIvfIndex(store, "ix", nlist = 8, kmeansIters = 2)
    // every vector exactly once; search equals ivfSearch on the NEW centroids
    val ids = store.read(VectorIndex.listsTable("ix"))
      .select("vec_id").as[Long].collect().toSeq
    assert(ids.size == 200 && ids.distinct.size == 200)
    val cents = store.read(VectorIndex.centroidsTable("ix"))
    val probes = emb.where(col("vec_id") < 4)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "rnk", "vid", "cos").orderBy("qid", "rnk")
        .collect().toSeq.map(r => (r.getLong(0), r.getInt(1),
          r.getLong(2), r.getDouble(3)))
    val got = rows(
      VectorIndex.searchIvfIndex(store, "ix", probes, k = 5, nprobe = 3))
    val want = rows(Similarity.ivfSearch(emb, probes, cents, k = 5, nprobe = 3))
    assert(got.nonEmpty && got == want)
  }

  test("IVF-PQ: append-maintained codes equal a one-shot encode; search prunes") {
    val store = new TableStore(spark, tmpDir("ivfpq"))
    val emb = corpus(200)
    val even = emb.where(col("vec_id") % 2 === 0)
    VectorIndex.buildIvfPqIndex(store, "px", even, nlist = 8, m = 4,
      ksub = 8, kmeansIters = 2)
    VectorIndex.appendToIvfPqIndex(store, "px", emb.where(col("vec_id") % 2 === 1),
      m = 4)
    // contract: build(even) + append(odd) == assign+encode of the
    // WHOLE corpus against the stored (even-trained) quantizers
    val cents = store.read(VectorIndex.centroidsTable("px"))
    val books = store.read(VectorIndex.booksTable("px"))
    val want = Similarity.pqEncode(emb, books, m = 4)
      .join(Similarity.assignClusters(emb, cents).select("vec_id", "cent_id"),
        Seq("vec_id"))
      .select(col("cent_id").cast("long"), col("vec_id"), col("sub"), col("code"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .toSet
    val got = store.read(VectorIndex.codesTable("px"))
      .select(col("cent_id").cast("long"), col("vec_id"), col("sub"),
        col("code").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .toSet
    assert(got == want)
    assert(got.map(_._2).size == got.size / 4) // m code rows per vector, no dups
    // a one-probe search reads a strict subset of the code partitions
    val totalFiles = store.manifest(VectorIndex.codesTable("px"),
      store.currentVersion(VectorIndex.codesTable("px")).get)
      .count(l => !l.startsWith("del|"))
    val probe0 = emb.where(col("vec_id") === 0L)
    val one = VectorIndex.searchIvfPqCore(store, "px", probe0, k = 3,
      nprobe = 1, None, m = 4, "vec_id", "embedding", driverRows = 0)
    val scanned = scannedFiles(one, "px_codes")
    assert(scanned > 0 && scanned < totalFiles,
      s"probed IVF-PQ search scanned $scanned of $totalFiles code files")
    // the driver-served search reads the probed lists through the same
    // partition-pruned scan, once
    val driverScanned = executionsDuring {
      VectorIndex.searchIvfPqIndex(store, "px", probe0, k = 3, nprobe = 1,
        m = 4).collect()
    }.map(qe => scannedFilesIn(qe.executedPlan, "px_codes")).sum
    assert(driverScanned > 0 && driverScanned <= scanned,
      s"driver-served search scanned $driverScanned of $totalFiles code files")
    // ADC recall vs brute force stays sane on the clustered corpus
    val probes = emb.where(col("vec_id") < 5)
    val ann = VectorIndex.searchIvfPqIndex(store, "px", probes, k = 3,
        nprobe = 4, m = 4)
      .select("qid", "vid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Similarity.bruteForceTopK(emb, probes, k = 3)
      .select("qid", "vid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((ann intersect brute).size.toDouble / brute.size >= 0.4)
    // m defaults to the stored codebooks' value; a mismatched caller
    // m is a loud error, never a silently-wrong slicing
    val inferred = VectorIndex.searchIvfPqIndex(store, "px", probes,
      k = 3, nprobe = 4).select("qid", "vid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inferred == ann)
    intercept[IllegalArgumentException] {
      VectorIndex.searchIvfPqIndex(store, "px", probes, k = 3,
        nprobe = 4, m = 8).collect()
    }
  }

  test("OPTIMIZE folds fragmented lists; search and pruning survive") {
    val store = new TableStore(spark, tmpDir("ivfidx"))
    val emb = corpus(240)
    VectorIndex.buildIvfIndex(store, "ix",
      emb.where(col("vec_id") < 80L), nlist = 8, kmeansIters = 2)
    // four small appends fragment every list across commits
    for (b <- 0 until 4)
      VectorIndex.appendToIvfIndex(store, "ix",
        emb.where(col("vec_id") >= 80L + b * 40L &&
          col("vec_id") < 120L + b * 40L))
    val lt = VectorIndex.listsTable("ix")
    def liveFiles() = store.liveDataFiles(lt).size
    val probes = emb.where(col("vec_id") < 4)
    def search() = VectorIndex.searchIvfIndex(store, "ix", probes,
        k = 5, nprobe = 3)
      .select("qid", "rnk", "vid", "cos").orderBy("qid", "rnk")
      .collect().toSeq.map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3)))
    val before = search()
    val filesBefore = liveFiles()
    graft.lake.GraftSql.execute(spark, store, s"OPTIMIZE $lt")
    assert(liveFiles() < filesBefore,
      s"OPTIMIZE did not fold: $filesBefore -> ${liveFiles()}")
    assert(search() == before, "search changed across compaction")
    // probed search still reads a strict subset of the folded files
    val one = VectorIndex.searchIvfIndex(store, "ix",
      emb.where(col("vec_id") === 0L), k = 3, nprobe = 1)
    val scanned = scannedFiles(one, "ix_lists")
    assert(scanned > 0 && scanned < liveFiles(),
      s"post-OPTIMIZE search scanned $scanned of ${liveFiles()}")
  }

  test("recall vs brute force is sane on a clustered corpus") {
    val store = new TableStore(spark, tmpDir("ivfidx"))
    val emb = corpus(200)
    VectorIndex.buildIvfIndex(store, "ix", emb, nlist = 8, kmeansIters = 2)
    val probes = emb.where(col("vec_id") < 5)
    val ann = VectorIndex.searchIvfIndex(store, "ix", probes,
        k = 3, nprobe = 4)
      .select("qid", "vid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Similarity.bruteForceTopK(emb, probes, k = 3)
      .select("qid", "vid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (ann intersect brute).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall $recall vs brute force too low")
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select("qid", "rnk", "vid", "cos").orderBy("qid", "rnk")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSeq

  test("delete propagation: search-after-delete equals a search over " +
    "the survivors under the same centroids") {
    val store = new TableStore(spark, tmpDir("ivfidx"))
    val emb = corpus(200)
    VectorIndex.buildIvfIndex(store, "ix", emb, nlist = 8, kmeansIters = 2)
    val cents = store.read(VectorIndex.centroidsTable("ix"))
    VectorIndex.deleteFromIvfIndex(store, "ix",
      emb.where(col("vec_id") % 5 === 2))
    val probes = emb.where(col("vec_id") < 6)
    val afterDelete = rows(
      VectorIndex.searchIvfIndex(store, "ix", probes, k = 5, nprobe = 3))
    // reference: the in-query search over ONLY the survivors, with the
    // index's own (full-corpus-trained) centroids — deletes must not
    // retrain, only stop serving the purged ids
    val survivors = emb.where(col("vec_id") % 5 =!= 2)
    val rebuilt = rows(
      Similarity.ivfSearch(survivors, probes, cents, k = 5, nprobe = 3))
    assert(afterDelete.nonEmpty)
    assert(afterDelete == rebuilt)
    assert(afterDelete.forall(_._3 % 5 != 2), "a purged id kept serving")
    // the delete is merge-on-read: folding the debt (compact) must not
    // change the result
    store.compact(VectorIndex.listsTable("ix"))
    assert(rows(VectorIndex.searchIvfIndex(store, "ix", probes,
      k = 5, nprobe = 3)) == afterDelete)
  }

  test("IVF-PQ delete propagation removes all code rows of purged ids") {
    val store = new TableStore(spark, tmpDir("ivfidx"))
    val emb = corpus(200)
    VectorIndex.buildIvfPqIndex(store, "px", emb, nlist = 4, m = 4,
      ksub = 8, kmeansIters = 1)
    VectorIndex.deleteFromIvfPqIndex(store, "px",
      emb.where(col("vec_id") % 5 === 2))
    val codes = store.read(VectorIndex.codesTable("px"))
    assert(codes.where(col("vec_id") % 5 === 2).count() == 0L,
      "purged ids still have code rows")
    val got = VectorIndex.searchIvfPqIndex(store, "px",
        emb.where(col("vec_id") < 6), k = 5, nprobe = 4)
      .select("vid").as[Long].collect().toSeq
    assert(got.nonEmpty && got.forall(_ % 5 != 2),
      s"purged ids surfaced from the PQ lists: $got")
  }

  test("filtered search: a tautological filter equals the unfiltered " +
    "search; a real filter ranks k over the survivors only") {
    val store = new TableStore(spark, tmpDir("ivfidx"))
    val emb = corpus(400).withColumn("label",
      (col("vec_id") % 3).cast("int"))
    VectorIndex.buildIvfIndex(store, "ix", emb, nlist = 8,
      kmeansIters = 2, attrCols = Seq("label"))
    val probes = emb.where(col("vec_id") < 6)
    val unfiltered = rows(
      VectorIndex.searchIvfIndex(store, "ix", probes, k = 5, nprobe = 3))
    val always = rows(VectorIndex.searchIvfIndexFiltered(store, "ix",
      probes, k = 5, nprobe = 3, filter = col("label") >= 0))
    assert(always == unfiltered,
      "selectivity-1 filter changed the result (widening must be a no-op)")
    val filtered = VectorIndex.searchIvfIndexFiltered(store, "ix",
      probes, k = 5, nprobe = 3, filter = col("label") === 1)
    val got = filtered.select("qid", "rnk", "vid")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(got.nonEmpty)
    assert(got.forall(_._3 % 3 == 1), "a non-matching candidate ranked")
    // k SURVIVES the filter: the widened probe set yields a full
    // dense 1..k ranking per probe (survivors are plentiful here)
    val perQ = got.groupBy(_._1).values
    assert(perQ.forall(_.map(_._2).sorted == (1 to 5)),
      "filtering shrank k (post-filter behavior)")
  }

  test("filtered search still prunes: the attribute predicate narrows " +
    "the lists scan, never widens it to the whole index") {
    val store = new TableStore(spark, tmpDir("ivfidx"))
    val emb = corpus(400).withColumn("label",
      (col("vec_id") % 3).cast("int"))
    VectorIndex.buildIvfIndex(store, "ix", emb, nlist = 8,
      kmeansIters = 2, attrCols = Seq("label"))
    val lt = VectorIndex.listsTable("ix")
    val totalFiles = store.manifest(lt, store.currentVersion(lt).get)
      .count(l => !l.startsWith("del|"))
    // selectivity 1/3 widens nprobe 1 → 3 of 8 lists: still pruned
    val one = VectorIndex.searchIvfIndexFiltered(store, "ix",
      emb.where(col("vec_id") === 0L), k = 3, nprobe = 1,
      filter = col("label") === 1)
    val scanned = scannedFiles(one, "ix_lists")
    assert(scanned > 0 && scanned < totalFiles,
      s"filtered search scanned $scanned of $totalFiles list files")
  }

  test("IVF-PQ filtered search: tautological filter equals unfiltered; " +
    "real filter ranks survivors only and attrs ride appended codes") {
    val store = new TableStore(spark, tmpDir("ivfidx"))
    val emb = corpus(200).withColumn("label",
      (col("vec_id") % 3).cast("int"))
    VectorIndex.buildIvfPqIndex(store, "px",
      emb.where(col("vec_id") % 2 === 0), nlist = 4, m = 4, ksub = 8,
      kmeansIters = 1, attrCols = Seq("label"))
    // appended codes must carry the attribute too (encodeForIvfPq
    // conforms to the codes table's built column set)
    VectorIndex.appendToIvfPqIndex(store, "px",
      emb.where(col("vec_id") % 2 === 1))
    val codes = store.read(VectorIndex.codesTable("px"))
    assert(codes.where(col("label").isNull).count() == 0L)
    val probes = emb.where(col("vec_id") < 4)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "rnk", "vid", "cos_pq").orderBy("qid", "rnk")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getDouble(3))).toSeq
    val unfiltered = rows(VectorIndex.searchIvfPqIndex(store, "px",
      probes, k = 5, nprobe = 2))
    val always = rows(VectorIndex.searchIvfPqIndexFiltered(store, "px",
      probes, k = 5, nprobe = 2, filter = col("label") >= 0))
    assert(always == unfiltered,
      "selectivity-1 filter changed the PQ result")
    val got = VectorIndex.searchIvfPqIndexFiltered(store, "px",
        probes, k = 5, nprobe = 2, filter = col("label") === 1)
      .select("vid").as[Long].collect().toSeq
    assert(got.nonEmpty && got.forall(_ % 3 == 1),
      s"non-matching candidates ranked: $got")
  }

  test("syncIvfIndex follows the corpus table's change feed: appends, " +
    "deletes, delete-and-reinsert, idempotence") {
    val store = new TableStore(spark, tmpDir("ivfsync"))
    val emb = corpus(200)
    store.create("corpus", emb.where(col("vec_id") % 2 === 0))
    VectorIndex.buildIvfIndexFromTable(store, "ix", "corpus",
      nlist = 8, kmeansIters = 2)
    // corpus evolves: append the odd half, purge ids ≡ 2 (mod 5),
    // and delete-and-reinsert id 4 with a CHANGED vector in one batch
    store.append("corpus", emb.where(col("vec_id") % 2 === 1))
    store.deleteWhere("corpus", col("vec_id") % 5 === 2)
    val moved = Seq((4L, Array.tabulate(8)(d => 30f + d * 0.1f)))
      .toDF("vec_id", "embedding")
    store.appendWithDeletes("corpus", moved, Seq(4L).toDF("vec_id"))

    assert(VectorIndex.syncIvfIndex(store, "ix", "corpus").isDefined)
    // idempotent: nothing new to apply
    assert(VectorIndex.syncIvfIndex(store, "ix", "corpus").isEmpty)

    // the lists now mirror the corpus exactly (ids once each, purged
    // ids absent, the moved vector under its NEW embedding)
    import spark.implicits._
    val lt = VectorIndex.listsTable("ix")
    val ids = store.read(lt).select("vec_id").as[Long].collect().toSeq
    assert(ids.size == ids.distinct.size, "a synced id landed twice")
    assert(ids.toSet == (0L until 200L).filterNot(_ % 5 == 2).toSet)
    val movedVec = store.read(lt).where(col("vec_id") === 4L)
      .select("embedding").as[Seq[Float]].head()
    assert(movedVec.head == 30f, "delete-and-reinsert kept the OLD vector")

    // search parity: synced index ≡ in-query search over the corpus's
    // final state with the index's own centroids
    val cents = store.read(VectorIndex.centroidsTable("ix"))
    val probes = emb.where(col("vec_id") < 6)
    val synced = rows(
      VectorIndex.searchIvfIndex(store, "ix", probes, k = 5, nprobe = 3))
    val replay = rows(Similarity.ivfSearch(store.read("corpus"), probes,
      cents, k = 5, nprobe = 3))
    assert(synced.nonEmpty && synced == replay)
  }

  test("syncIvfPqIndex mirrors the corpus feed onto the code rows") {
    val store = new TableStore(spark, tmpDir("ivfpqsync"))
    val emb = corpus(200)
    store.create("corpus", emb.where(col("vec_id") % 2 === 0))
    VectorIndex.buildIvfPqIndexFromTable(store, "px", "corpus",
      nlist = 4, m = 4, ksub = 8, kmeansIters = 1)
    store.append("corpus", emb.where(col("vec_id") % 2 === 1))
    store.deleteWhere("corpus", col("vec_id") % 5 === 2)
    assert(VectorIndex.syncIvfPqIndex(store, "px", "corpus",
      m = 4).isDefined)
    assert(VectorIndex.syncIvfPqIndex(store, "px", "corpus",
      m = 4).isEmpty) // idempotent
    import spark.implicits._
    val codes = store.read(VectorIndex.codesTable("px"))
    val perId = codes.groupBy("vec_id").count()
      .select("count").as[Long].collect().toSeq
    assert(perId.forall(_ == 4L), "a synced vector has != m code rows")
    val ids = codes.select("vec_id").distinct().as[Long].collect().toSet
    assert(ids == (0L until 200L).filterNot(_ % 5 == 2).toSet)
    // synced codes ≡ a one-shot encode of the corpus's final state
    // against the stored quantizers
    val want = VectorIndex.encodeForIvfPq(store, "px",
        store.read("corpus"), m = 4)
      .select(col("cent_id").cast("long"), col("vec_id"), col("sub"),
        col("code").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getLong(3))).toSet
    val got = codes
      .select(col("cent_id").cast("long"), col("vec_id"), col("sub"),
        col("code").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getLong(3))).toSet
    assert(got == want)
  }

  test("syncIvfIndex refuses an index not bound to a table") {
    val store = new TableStore(spark, tmpDir("ivfsync"))
    VectorIndex.buildIvfIndex(store, "ix", corpus(100), nlist = 4,
      kmeansIters = 1)
    val e = intercept[IllegalStateException] {
      VectorIndex.syncIvfIndex(store, "ix", "corpus")
    }
    assert(e.getMessage.contains("buildIvfIndexFromTable"))
  }

  test("rebuild preserves attribute columns and the change-feed binding") {
    val store = new TableStore(spark, tmpDir("ivfrebuild"))
    val emb = corpus(200).withColumn("label",
      (col("vec_id") % 3).cast("int"))
    store.create("corpus", emb.where(col("vec_id") % 2 === 0))
    VectorIndex.buildIvfIndexFromTable(store, "ix", "corpus",
      nlist = 4, kmeansIters = 1, attrCols = Seq("label"))
    // retrain with different nlist — attributes must survive the
    // rebuild (derived from the stored lists, not re-declared)...
    VectorIndex.rebuildIvfIndex(store, "ix", nlist = 8, kmeansIters = 2)
    val lists = store.read(VectorIndex.listsTable("ix"))
    assert(lists.columns.contains("label"),
      "rebuild dropped the carried attribute columns")
    assert(lists.where(col("label").isNull).count() == 0L)
    // ...filtered search still works over the rebuilt lists...
    val got = VectorIndex.searchIvfIndexFiltered(store, "ix",
        emb.where(col("vec_id") < 4), k = 5, nprobe = 2,
        filter = col("label") === 1)
      .select("vid").as[Long].collect().toSeq
    assert(got.nonEmpty && got.forall(_ % 3 == 1))
    // ...an append through the refreshed colsCache keeps carrying them...
    VectorIndex.appendToIvfIndex(store, "ix",
      emb.where(col("vec_id") === 1L))
    assert(store.read(VectorIndex.listsTable("ix"))
      .where(col("label").isNull).count() == 0L)
    // ...and the sync binding survives: the corpus keeps evolving and
    // syncIvfIndex still follows the feed instead of refusing
    store.append("corpus", emb.where(col("vec_id") % 2 === 1
      && col("vec_id") =!= 1L))
    assert(VectorIndex.syncIvfIndex(store, "ix", "corpus").isDefined,
      "rebuild lost the buildIvfIndexFromTable watermark")
    val ids = store.read(VectorIndex.listsTable("ix"))
      .select("vec_id").as[Long].collect().toSeq
    assert(ids.size == ids.distinct.size && ids.toSet == (0L until 200L).toSet)
  }

  test("append after an attributed build carries the attribute columns") {
    val store = new TableStore(spark, tmpDir("ivfidx"))
    val emb = corpus(200).withColumn("label",
      (col("vec_id") % 3).cast("int"))
    VectorIndex.buildIvfIndex(store, "ix",
      emb.where(col("vec_id") % 2 === 0), nlist = 4, kmeansIters = 1,
      attrCols = Seq("label"))
    VectorIndex.appendToIvfIndex(store, "ix",
      emb.where(col("vec_id") % 2 === 1))
    val lists = store.read(VectorIndex.listsTable("ix"))
    assert(lists.where(col("label").isNull).count() == 0L,
      "appended vectors lost their attribute values")
    assert(lists.count() == 200L)
    // and the filter applies across built + appended rows alike
    val got = VectorIndex.searchIvfIndexFiltered(store, "ix",
        emb.where(col("vec_id") < 4), k = 5, nprobe = 2,
        filter = col("label") === 1)
      .select("vid").as[Long].collect().toSeq
    assert(got.nonEmpty && got.forall(_ % 3 == 1))
  }
  // -------------------------------------------------------------------
  // Driver-served IVF-PQ search and sync: each path is forced through
  // the private[ops] driver bound (0 = distributed plan only).
  // -------------------------------------------------------------------

  private def pqRows(df: org.apache.spark.sql.DataFrame) =
    df.select("qid", "rnk", "vid", "cos_pq").orderBy("qid", "rnk")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSeq

  private def onDriver(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]

  private def codeRows(store: TableStore, name: String) =
    store.read(VectorIndex.codesTable(name))
      .select(col("cent_id").cast("long"), col("vec_id"), col("sub"),
        col("code").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getLong(3))).toSet

  /** Driver and distributed search over the same index, row for row. */
  private def assertSearchParity(store: TableStore, name: String,
                                 probes: org.apache.spark.sql.DataFrame,
                                 k: Int, nprobe: Int,
                                 filter: Option[org.apache.spark.sql.Column] = None): Unit = {
    def run(driverRows: Int) = filter match {
      case None => VectorIndex.searchIvfPqCore(store, name, probes, k,
        nprobe, None, 0, "vec_id", "embedding", driverRows)
      case Some(f) => VectorIndex.searchIvfPqFiltered(store, name, probes,
        k, nprobe, f, Double.NaN, 0, "vec_id", "embedding", driverRows)
    }
    val driver = run(Similarity.MaxDriverTrainRows)
    val dist = run(0)
    assert(onDriver(driver) && !onDriver(dist))
    val (a, b) = (pqRows(driver), pqRows(dist))
    assert(a.nonEmpty && a == b, s"driver $a\n!= distributed $b")
    assert(driver.schema.map(f => (f.name, f.dataType)) ==
      dist.schema.map(f => (f.name, f.dataType)))
  }

  test("driver-served IVF-PQ search equals the distributed plan: plain, " +
    "partial and full probing, filtered, after delete, cosine ties") {
    val store = new TableStore(spark, tmpDir("pqdriver"))
    // corpus(n) repeats every 20 ids, so equal vectors tie on every
    // rounded cosine and the vid / cent_id tiebreaks decide the order
    val emb = corpus(240).withColumn("label", (col("vec_id") % 3).cast("int"))
    VectorIndex.buildIvfPqIndex(store, "px", emb, nlist = 8, m = 4,
      ksub = 8, kmeansIters = 2, attrCols = Seq("label"))
    val probes = emb.where(col("vec_id") < 6 || col("vec_id") === 37L)
      .select("vec_id", "embedding")
    assertSearchParity(store, "px", probes, k = 7, nprobe = 2)
    assertSearchParity(store, "px", probes, k = 7, nprobe = 8)
    assertSearchParity(store, "px", probes, k = 30, nprobe = 3)
    assertSearchParity(store, "px", probes, k = 5, nprobe = 2,
      filter = Some(col("label") === 1))
    VectorIndex.deleteFromIvfPqIndex(store, "px",
      emb.where(col("vec_id") % 5 === 2))
    assertSearchParity(store, "px", probes, k = 7, nprobe = 3)
    assertSearchParity(store, "px", probes, k = 5, nprobe = 2,
      filter = Some(col("label") =!= 0))
  }

  test("driver-served search falls back above the bound and on null vectors") {
    val store = new TableStore(spark, tmpDir("pqfallback"))
    val emb = corpus(200)
    VectorIndex.buildIvfPqIndex(store, "px", emb, nlist = 4, m = 4,
      ksub = 8, kmeansIters = 1)
    val probes = emb.where(col("vec_id") < 4)
    val bounded = VectorIndex.searchIvfPqCore(store, "px", probes, 5, 2,
      None, 0, "vec_id", "embedding", driverRows = 20)
    assert(!onDriver(bounded), "a probed read above the bound ran on the driver")
    // the bound is on scoring work, probes × their probed code rows:
    // all 800 code rows fit, but 4 probes over 2 of 4 lists each do not
    val codeRows = store.read(VectorIndex.codesTable("px")).count().toInt
    def driverAt(rows: Int) = onDriver(VectorIndex.searchIvfPqCore(store,
      "px", probes, 5, 2, None, 0, "vec_id", "embedding", driverRows = rows))
    assert(!driverAt(codeRows))
    assert(driverAt(4 * codeRows))
    assert(pqRows(bounded) == pqRows(
      VectorIndex.searchIvfPqIndex(store, "px", probes, k = 5, nprobe = 2)))
    val withNull = probes.union(
      Seq((500L, null.asInstanceOf[Array[Float]])).toDF("vec_id", "embedding"))
    assert(!onDriver(
      VectorIndex.searchIvfPqIndex(store, "px", withNull, k = 5, nprobe = 2)))
    val withNullElem = Seq((501L, Seq[Option[Float]](Some(1f), None,
      Some(1f), Some(1f), Some(1f), Some(1f), Some(1f), Some(1f))))
      .toDF("vec_id", "embedding")
    assert(!onDriver(
      VectorIndex.searchIvfPqIndex(store, "px", withNullElem, k = 5, nprobe = 2)))
  }

  test("a warm bounded search over a local probe frame runs at most 4 jobs") {
    val store = new TableStore(spark, tmpDir("pqjobs"))
    store.create("corpus", corpus(400))
    VectorIndex.buildIvfPqIndexFromTable(store, "px", "corpus", nlist = 8,
      m = 4, ksub = 8, kmeansIters = 1)
    store.deleteWhere("corpus", col("vec_id") % 7 === 3)
    VectorIndex.syncIvfPqIndex(store, "px", "corpus")
    val probes = corpus(3).select("vec_id", "embedding")
    VectorIndex.searchIvfPqIndex(store, "px", probes, k = 10, nprobe = 4)
      .collect() // loads the quantizers once
    var got = Array.empty[org.apache.spark.sql.Row]
    val jobs = jobsDuring {
      got = VectorIndex.searchIvfPqIndex(store, "px", probes, k = 10,
        nprobe = 4).collect()
    }
    assert(got.nonEmpty)
    assert(jobs <= 4, s"bounded driver-served search ran $jobs Spark jobs")
  }

  test("driver-served sync equals the distributed sync; its encode equals " +
    "assignClusters + pqEncode") {
    val emb = corpus(300).withColumn("label", (col("vec_id") % 3).cast("int"))
    def history(store: TableStore): Unit = {
      store.create("corpus", emb.where(col("vec_id") % 2 === 0))
      VectorIndex.buildIvfPqIndexFromTable(store, "px", "corpus", nlist = 6,
        m = 4, ksub = 8, kmeansIters = 1, attrCols = Seq("label"))
      store.append("corpus", emb.where(col("vec_id") % 2 === 1))
      store.deleteWhere("corpus", col("vec_id") % 5 === 2)
      // delete-and-reinsert id 4 under a changed vector in one commit
      store.appendWithDeletes("corpus",
        Seq((4L, Array.tabulate(8)(d => 30f + d * 0.1f), 1))
          .toDF("vec_id", "embedding", "label"),
        Seq(4L).toDF("vec_id"))
    }
    val (ds, dd) = (new TableStore(spark, tmpDir("pqsyncd")),
      new TableStore(spark, tmpDir("pqsyncx")))
    history(ds); history(dd)
    val planned = executionsDuring {
      assert(VectorIndex.sync(ds, "px", VectorIndex.Pq, "corpus", 0,
        "vec_id", "embedding", Similarity.MaxDriverTrainRows).isDefined)
    }
    // the driver path nets the feed on the driver: no window runs
    assert(!planned.exists(_.analyzed.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Window])))
    assert(VectorIndex.sync(dd, "px", VectorIndex.Pq, "corpus", 0,
      "vec_id", "embedding", driverRows = 0).isDefined)
    assert(codeRows(ds, "px") == codeRows(dd, "px"))
    // both commits carry the watermark: a second sync is a no-op
    assert(VectorIndex.syncIvfPqIndex(ds, "px", "corpus").isEmpty)
    assert(VectorIndex.syncIvfPqIndex(dd, "px", "corpus").isEmpty)
    // the synced codes equal a one-shot assign + encode of the
    // corpus's final state against the stored quantizers
    val cents = ds.read(VectorIndex.centroidsTable("px"))
    val books = ds.read(VectorIndex.booksTable("px"))
    val live = ds.read("corpus")
    val want = Similarity.pqEncode(live, books, m = 4)
      .join(Similarity.assignClusters(live, cents).select("vec_id", "cent_id"),
        Seq("vec_id"))
      .select(col("cent_id").cast("long"), col("vec_id"), col("sub"),
        col("code").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getLong(3))).toSet
    assert(codeRows(ds, "px") == want)
    val labels = ds.read(VectorIndex.codesTable("px"))
      .select("vec_id", "label").distinct().as[(Long, Int)].collect().toMap
    assert(labels.forall { case (id, l) => l == id % 3 })
    assertSearchParity(ds, "px", emb.where(col("vec_id") < 5)
      .select("vec_id", "embedding"), k = 6, nprobe = 2)
  }

  test("sync falls back to the distributed plan above the bound and on " +
    "null vectors") {
    val store = new TableStore(spark, tmpDir("pqsyncfb"))
    val emb = corpus(200)
    store.create("corpus", emb.where(col("vec_id") < 100))
    VectorIndex.buildIvfPqIndexFromTable(store, "px", "corpus", nlist = 4,
      m = 4, ksub = 8, kmeansIters = 1)
    def windowed(qes: Seq[org.apache.spark.sql.execution.QueryExecution]) =
      qes.exists(_.analyzed.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Window]))
    // executions that read the corpus's files, i.e. evaluate the feed
    def feedReads(qes: Seq[org.apache.spark.sql.execution.QueryExecution]) =
      qes.count(qe => scannedFilesIn(qe.executedPlan, "/corpus/") > 0)
    store.append("corpus", emb.where(col("vec_id") >= 100))
    // above the bound, decided from metadata: the feed is never
    // collected, and the distributed plan evaluates it as before
    val above = executionsDuring(VectorIndex.sync(store, "px",
      VectorIndex.Pq, "corpus", 0, "vec_id", "embedding", driverRows = 50))
    assert(windowed(above) && feedReads(above) == 2)
    store.append("corpus",
      Seq((900L, null.asInstanceOf[Array[Float]])).toDF("vec_id", "embedding"))
    // a null vector: the distributed plan runs over the collected copy,
    // so the feed is still evaluated once
    val nulls = executionsDuring(VectorIndex.syncIvfPqIndex(store, "px", "corpus"))
    assert(windowed(nulls) && feedReads(nulls) == 1)
    assert(VectorIndex.syncIvfPqIndex(store, "px", "corpus").isEmpty)
    val ids = store.read(VectorIndex.codesTable("px"))
      .select("vec_id").distinct().as[Long].collect().toSet
    assert((0L until 200L).toSet.subsetOf(ids))
  }

  test("rebuilding or re-creating the index invalidates the driver " +
    "quantizer cache") {
    val store = new TableStore(spark, tmpDir("pqcache"))
    store.create("corpus", corpus(200))
    VectorIndex.buildIvfPqIndexFromTable(store, "px", "corpus", nlist = 4,
      m = 4, ksub = 8, kmeansIters = 1)
    val probes = corpus(200).where(col("vec_id") < 4)
    assertSearchParity(store, "px", probes, k = 5, nprobe = 2)
    assert(VectorIndex.quantizer(store, "px").nlist == 4L)
    // dropped and re-created out of band (no build call of this
    // object), the tables restart at the cached version numbers: only
    // their new data files reveal the change
    VectorIndex.buildIvfPqIndex(store, "py", corpus(200), nlist = 8,
      m = 2, ksub = 8, kmeansIters = 2)
    Seq(VectorIndex.centroidsTable _, VectorIndex.booksTable _,
        VectorIndex.codesTable _).foreach { t =>
      val v = store.currentVersion(t("px"))
      store.drop(t("px"))
      store.create(t("px"), store.read(t("py")),
        partitionBy = if (t("px").endsWith("_codes")) Seq("cent_id") else Nil)
      assert(store.currentVersion(t("px")) == v)
    }
    assert(VectorIndex.quantizer(store, "px").nlist == 8L)
    assert(VectorIndex.quantizer(store, "px").m == 2)
    assertSearchParity(store, "px", probes, k = 5, nprobe = 3)
    // a rebuild in place moves the versions and reloads as well
    VectorIndex.buildIvfPqIndexFromTable(store, "px", "corpus", nlist = 5,
      m = 4, ksub = 4, kmeansIters = 1)
    assert(VectorIndex.quantizer(store, "px").nlist == 5L)
    assertSearchParity(store, "px", probes, k = 5, nprobe = 2)
  }

  test("the driver paths' round4 equals Spark's round(x, 4), ties included") {
    val rnd = new java.util.Random(7)
    val ties = (-20000 to 20000 by 37).flatMap { n =>
      val t = (n + 0.5) / 10000.0
      Seq(t, math.nextUp(t), math.nextDown(t))
    }
    val xs = ties ++ Seq.fill(3000)(rnd.nextDouble() * 2 - 1) ++
      Seq.fill(300)(rnd.nextGaussian() * 1e6) ++
      Seq(0.0, -0.0, 1e-5, -1e-5, 0.99995, -0.99995, 123456.78905,
        Double.MinPositiveValue, 1e300, Double.NaN,
        Double.PositiveInfinity, Double.NegativeInfinity)
    val spk = xs.toDF("x").select(round(col("x"), 4)).as[Double].collect()
    xs.zip(spk).foreach { case (x, want) =>
      assert(java.lang.Double.compare(Similarity.round4(x), want) == 0,
        s"round4($x) = ${Similarity.round4(x)}, Spark gives $want")
    }
  }
}
