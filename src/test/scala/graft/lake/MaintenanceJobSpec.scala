package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MaintenanceJobSpec extends SparkSpec {
  import spark.implicits._

  test("one pass recovers claims, sweeps orphans, compacts, vacuums") {
    val root = tmpDir("maint")
    val store = new TableStore(spark, root)
    store.create("t", Seq(("k1", 1), ("k2", 2)).toDF("k", "v"))
    // merge-on-read debt
    store.appendWithDeletes("t", Seq(("k2", 20)).toDF("k", "v"),
      Seq("k2").toDF("k"))
    // a crashed writer: stale claim + orphaned commit dir
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(root, "t", ".claim-9"))
    val orphan = java.nio.file.Paths.get(root, "t", "d-dead")
    java.nio.file.Files.createDirectory(orphan)
    java.nio.file.Files.writeString(orphan.resolve("part-0.parquet"), "x")

    val s = MaintenanceJob.run(spark, MaintenanceJob.Args(root, "t",
      claimTtlMs = 0L, compactDebt = 1, vacuumKeep = 1))
    assert(s.recoveredClaims == Seq(9L))
    assert(s.sweptOrphanDirs == Seq("d-dead"))
    assert(s.compacted)
    assert(store.deleteDebt("t") == 0)
    // vacuum kept only the compacted current version
    assert(s.retainedVersions.size == 1)
    assert(store.read("t").orderBy("k").as[(String, Int)].collect()
      .toSeq == Seq(("k1", 1), ("k2", 20)))
  }

  test("stacked deletion vectors: detail gauges the debt, the threshold fold clears it") {
    val root = tmpDir("maint-dv")
    val store = new TableStore(spark, root)
    store.create("t", (1 to 20).map(i => (i, s"v$i")).toDF("id", "v"))
    // each dv commit adds its positions to the delete set EVERY read
    // filters by
    store.deleteWhere("t", col("id") === 3)
    store.deleteWhere("t", col("id") === 7)
    val d = store.detail("t").head()
    assert(d.getAs[Int]("n_dv_entries") == 2)
    assert(d.getAs[Long]("dv_bytes") > 0L)
    def filters(): Int = {
      val read = store.read("t")
      val plan = read.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin") &&
        !plan.contains("BroadcastExchange"), plan.take(800))
      deleteSetProbes(read)
    }
    // stacked vectors UNION into one delete-set filter per commit group
    // (not one per dv commit) — the filter count is bounded by groups,
    // the set's size by dv_bytes; both fold away at the threshold
    assert(filters() == 1, "stacked dvs must share one filter per group")
    // dv debt counts toward the same compaction threshold as
    // equality-delete debt — one maintenance pass folds it away
    val s = MaintenanceJob.run(spark, MaintenanceJob.Args(root, "t",
      claimTtlMs = 60 * 60 * 1000L, compactDebt = 2, vacuumKeep = 1))
    assert(s.compacted)
    assert(filters() == 0, "compaction must remove the read-side filters")
    val d2 = store.detail("t").head()
    assert(d2.getAs[Int]("n_dv_entries") == 0 && d2.getAs[Long]("dv_bytes") == 0L)
    assert(store.read("t").count() == 18)
  }

  test("the maintenance pass resolves a dead transaction before claim takeover") {
    val root = tmpDir("maint-txn")
    // a writer dies between a two-table COMMIT's pointer swings
    val crash = new CommitPrimitive {
      val inner = new HadoopCommitPrimitive(spark.sessionState.newHadoopConf())
      var promotes = 0
      def tryClaim(d: org.apache.hadoop.fs.Path, v: Long) = inner.tryClaim(d, v)
      def publish(m: org.apache.hadoop.fs.Path, c: String) = inner.publish(m, c)
      def listClaims(d: org.apache.hadoop.fs.Path) = inner.listClaims(d)
      def deleteClaim(d: org.apache.hadoop.fs.Path, v: Long) = inner.deleteClaim(d, v)
      override def promote(s: org.apache.hadoop.fs.Path,
                           d: org.apache.hadoop.fs.Path,
                           c: org.apache.hadoop.conf.Configuration): Unit = {
        promotes += 1
        if (promotes == 2) throw new RuntimeException("simulated crash")
        inner.promote(s, d, c)
      }
    }
    val dying = new TableStore(spark, root, Some(crash))
    dying.create("a", Seq((1, "x")).toDF("id", "v"))
    dying.create("b", Seq((10, "y")).toDF("id", "v"))
    dying.beginTransaction()
    dying.append("a", Seq((2, "x2")).toDF("id", "v"))
    dying.append("b", Seq((11, "y2")).toDF("id", "v"))
    intercept[RuntimeException] { dying.commitTransaction() }
    // ONE janitor pass (fresh process) must leave both tables
    // advanced — not take over the dead txn's claims and strand it
    val s = MaintenanceJob.run(spark, MaintenanceJob.Args(root, "b",
      claimTtlMs = 0L, compactDebt = 99, vacuumKeep = 10))
    assert(s.txnsRolledForward.size == 1 && s.txnsRolledBack.isEmpty)
    val store = new TableStore(spark, root)
    assert(store.read("a").count() == 2 && store.read("b").count() == 2)
  }

  test("the pass syncs bound vector indexes and leaves no cursor below " +
    "the vacuum horizon") {
    import graft.ops.{Similarity, VectorIndex}
    def corpus(from: Int, n: Int) =
      (from until from + n).map { i =>
        val base = (i % 4) * 10.0f
        (i.toLong,
          Array.tabulate(8)(d => base + ((i * 7 + d * 3) % 5) * 0.1f))
      }.toDF("vec_id", "embedding")
    val root = tmpDir("maint-idx")
    val store = new TableStore(spark, root)
    store.create("corpus", corpus(0, 100))
    VectorIndex.buildIvfIndexFromTable(store, "ix", "corpus",
      nlist = 4, kmeansIters = 1)
    VectorIndex.buildIvfPqIndexFromTable(store, "px", "corpus",
      nlist = 4, m = 4, ksub = 8, kmeansIters = 1)
    // the corpus evolves while nothing maintains the indexes by hand
    store.append("corpus", corpus(100, 40))
    store.deleteWhere("corpus", col("vec_id") % 5 === 2L)

    // one pass: syncs both bound indexes, compacts the corpus's dv
    // debt, vacuums aggressively (keep=1) — the catch-up sync must
    // keep the cursors valid across that vacuum
    val s = MaintenanceJob.run(spark, MaintenanceJob.Args(root, "corpus",
      claimTtlMs = 60 * 60 * 1000L, compactDebt = 1, vacuumKeep = 1))
    assert(s.compacted)
    assert(s.indexesSynced.size == 2 &&
      s.indexesSynced.forall(_.contains('@')),
      s"expected both indexes version-stamped, got ${s.indexesSynced}")

    // the lists mirror the corpus's final state exactly
    val want = (0L until 140L).filterNot(_ % 5 == 2).toSet
    val ids = store.read(VectorIndex.listsTable("ix"))
      .select("vec_id").as[Long].collect().toSet
    assert(ids == want)
    // ivf_ann_synced-style parity: search over the maintained index ≡
    // in-query search over the corpus with the index's own centroids
    val cents = store.read(VectorIndex.centroidsTable("ix"))
    val probes = corpus(0, 6)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "rnk", "vid", "cos").orderBy("qid", "rnk")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getDouble(3))).toSeq
    val got = rows(
      VectorIndex.searchIvfIndex(store, "ix", probes, k = 5, nprobe = 3))
    val replay = rows(Similarity.ivfSearch(store.read("corpus"), probes,
      cents, k = 5, nprobe = 3))
    assert(got.nonEmpty && got == replay)
    // PQ side: every surviving id carries exactly m code rows
    val perId = store.read(VectorIndex.codesTable("px"))
      .groupBy("vec_id").count().select("count").as[Long].collect()
    assert(perId.nonEmpty && perId.forall(_ == 4L))

    // a quiet second pass reports the indexes as already current (no
    // version stamp) — and, critically, does not blow up pulling a
    // feed across the first pass's compaction + keep=1 vacuum
    val s2 = MaintenanceJob.run(spark, MaintenanceJob.Args(root, "corpus",
      claimTtlMs = 60 * 60 * 1000L, compactDebt = 99, vacuumKeep = 1))
    assert(s2.indexesSynced == Seq("ix", "px"),
      s"expected quiet pass, got ${s2.indexesSynced}")
  }

  test("the pass refreshes bound materialized views and folds their partials") {
    val root = tmpDir("maint-mv")
    val store = new TableStore(spark, root)
    store.create("src", Seq((1L, "a", 1.0), (2L, "b", 2.0))
      .toDF("id", "g", "x"))
    MaterializedView.create(store, "mv", "src", Seq("g"), Seq("x"))
    // the source evolves while nothing refreshes the view by hand —
    // appends AND a row-level delete, across several commits
    store.append("src", Seq((3L, "a", 3.0), (4L, "c", 4.0)).toDF("id", "g", "x"))
    store.append("src", Seq((5L, "c", 5.0)).toDF("id", "g", "x"))
    store.deleteWhere("src", col("id") === 2L)

    val s = MaintenanceJob.run(spark, MaintenanceJob.Args(root, "src",
      claimTtlMs = 60 * 60 * 1000L, compactDebt = 1, vacuumKeep = 1))
    assert(s.viewsRefreshed.size == 1 && s.viewsRefreshed.head.startsWith("mv@"),
      s"expected a version-stamped refresh, got ${s.viewsRefreshed}")
    // the view mirrors the source's final state — group b netted away
    val got = MaterializedView.read(store, "mv")
      .select("g", "cnt", "sum_x").orderBy("g")
      .as[(String, Long, Double)].collect().toSeq
    assert(got == Seq(("a", 2L, 4.0), ("c", 2L, 9.0)))
    // the pass also folded the partials (refresh alone only appends)
    assert(store.read("mv").count() == 2,
      s"partials not folded: ${store.read("mv").count()} rows")

    // a quiet second pass reports the view as already current — and
    // survives the first pass's compaction + keep=1 vacuum on the
    // source (the refresh cursor was caught up before the vacuum)
    val s2 = MaintenanceJob.run(spark, MaintenanceJob.Args(root, "src",
      claimTtlMs = 60 * 60 * 1000L, compactDebt = 99, vacuumKeep = 1))
    assert(s2.viewsRefreshed == Seq("mv"),
      s"expected quiet pass, got ${s2.viewsRefreshed}")
  }

  test("arg parsing with defaults") {
    val a = MaintenanceJob.parseArgs(Array(
      "--store_root", "/lake", "--table", "t", "--compact_debt", "2"))
    assert(a == MaintenanceJob.Args("/lake", "t", 60 * 60 * 1000L, 2, 3))
    intercept[IllegalArgumentException] {
      MaintenanceJob.parseArgs(Array("--store_root", "/lake"))
    }
    // a typo'd flag must fail loudly, not silently run with defaults
    val e = intercept[IllegalArgumentException] {
      MaintenanceJob.parseArgs(Array("--store_root", "/lake",
        "--table", "t", "--claim_ttl", "60000"))
    }
    assert(e.getMessage.contains("--claim_ttl"))
  }
}
