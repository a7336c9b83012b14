package graft.lake

import graft.SparkSpec
import graft.ops.VectorIndex
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Wraps a primitive and notes, for every publish, its target and
  * whether a file already stood there — the hint must never be
  * published by replacing one (a rename over an existing file forces
  * a data flush on ext4). */
final class PublishRecorder(inner: CommitPrimitive, conf: Configuration)
    extends CommitPrimitive {
  val published = new ConcurrentLinkedQueue[(Path, Boolean)]()
  override def tryClaim(d: Path, v: Long): Boolean = inner.tryClaim(d, v)
  override def publish(m: Path, c: String): Unit = {
    published.add((m, m.getFileSystem(conf).exists(m)))
    inner.publish(m, c)
  }
  override def listClaims(d: Path): Seq[(Long, Long)] = inner.listClaims(d)
  override def deleteClaim(d: Path, v: Long): Unit = inner.deleteClaim(d, v)
  override def promote(s: Path, d: Path, c: Configuration): Unit =
    inner.promote(s, d, c)
  override def discard(s: Path, c: Configuration): Unit = inner.discard(s, c)

  /** `_LATEST` publishes as (path, target existed). */
  def hintPublishes: Seq[(Path, Boolean)] =
    published.asScala.toSeq.filter(_._1.getName == "_LATEST")
}

/** The O(1)-metadata-read contract: resolving a table's current
  * version goes through the `_LATEST` checkpoint hint + forward
  * existence probes, NEVER a full `manifest-<n>` directory listing —
  * so read cost is independent of how many commits the table has
  * accrued (a streaming table at one commit per micro-batch collects
  * ~86k manifests/day; listing them per read was the last O(#commits)
  * term on the hot path). MetaMetrics counts the listing fallback. */
class CheckpointHintSpec extends SparkSpec {
  import spark.implicits._

  private def hintPath(root: String, table: String) =
    new Path(new Path(root, table), "_LATEST")

  private def writeHint(root: String, table: String, s: String): Unit = {
    val p = hintPath(root, table)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(p, true)
    try out.write(s.getBytes("UTF-8")) finally out.close()
  }

  private def grow(store: TableStore, table: String, n: Int): Unit =
    (1 to n).foreach(i => store.append(table, Seq((i, s"v$i")).toDF("id", "v")))

  test("reads list zero manifest directories once the hint exists, " +
    "independent of commit count") {
    val root = tmpDir("ckpt")
    val store = new TableStore(spark, root)
    store.create("t", Seq((0, "v0")).toDF("id", "v"))
    grow(store, "t", 10)

    // a COLD reader (fresh instance, nothing cached in memory) reads
    // through the on-disk hint: zero directory listings
    val reader10 = new TableStore(spark, root)
    MetaMetrics.reset()
    assert(reader10.read("t").count() == 11L)
    val listingsAt10 = MetaMetrics.manifestListings.get()
    assert(listingsAt10 == 0L,
      s"read at 11 commits performed $listingsAt10 manifest listings")

    // 50 more commits: the read's metadata cost must not grow with
    // table age — still zero listings, same row-correct result
    grow(store, "t", 50)
    val reader60 = new TableStore(spark, root)
    MetaMetrics.reset()
    assert(reader60.read("t").count() == 61L)
    assert(reader60.currentVersion("t").contains(60L))
    val listingsAt60 = MetaMetrics.manifestListings.get()
    assert(listingsAt60 == 0L,
      s"read at 61 commits performed $listingsAt60 manifest listings")
  }

  test("missing hint falls back to the full listing and repairs itself") {
    val root = tmpDir("ckpt")
    val store = new TableStore(spark, root)
    store.create("t", Seq((0, "v0")).toDF("id", "v"))
    grow(store, "t", 5)
    val p = hintPath(root, "t")
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, false)

    MetaMetrics.reset()
    assert(store.currentVersion("t").contains(5L))
    assert(MetaMetrics.manifestListings.get() >= 1L, "expected the fallback")
    // the fallback rewrote the hint: the next resolution lists nothing
    MetaMetrics.reset()
    assert(store.currentVersion("t").contains(5L))
    assert(MetaMetrics.manifestListings.get() == 0L)
  }

  test("stale hint forward-probes to the true frontier") {
    val root = tmpDir("ckpt")
    val store = new TableStore(spark, root)
    store.create("t", Seq((0, "v0")).toDF("id", "v"))
    grow(store, "t", 7)
    writeHint(root, "t", "2") // lower bound only — e.g. a lagging writer
    MetaMetrics.reset()
    assert(store.currentVersion("t").contains(7L))
    assert(MetaMetrics.manifestListings.get() == 0L,
      "a stale-but-valid hint must not trigger the listing fallback")
    assert(store.read("t").count() == 8L)
  }

  test("garbage hint and vacuumed-version hint both fall back correctly") {
    val root = tmpDir("ckpt")
    val store = new TableStore(spark, root)
    store.create("t", Seq((0, "v0")).toDF("id", "v"))
    grow(store, "t", 4)

    writeHint(root, "t", "not-a-number")
    assert(store.currentVersion("t").contains(4L))

    // hint pointing at a since-vacuumed version: manifest gone, the
    // probe base fails, listing fallback recovers the real current
    store.vacuum("t", keep = 1)
    writeHint(root, "t", "0")
    assert(store.currentVersion("t").contains(4L))
    assert(store.read("t").count() == 5L)
  }

  test("currentVersion equals versions.lastOption across commit kinds") {
    val root = tmpDir("ckpt")
    val store = new TableStore(spark, root)
    store.create("t", Seq((1, "a")).toDF("id", "v"))
    store.append("t", Seq((2, "b")).toDF("id", "v"))
    store.overwrite("t", Seq((3, "c"), (4, "d")).toDF("id", "v"))
    store.appendWithDeletes("t", Seq((5, "e")).toDF("id", "v"),
      Seq(3).toDF("id"))
    store.compact("t")
    assert(store.currentVersion("t") == store.versions("t").lastOption)
    assert(store.currentVersion("t").contains(4L))
  }

  test("transaction: staged commits are visible to the staging " +
    "instance, invisible to others, and the hint lands on swing") {
    val root = tmpDir("ckpt")
    val store = new TableStore(spark, root)
    store.create("t", Seq((1, "a")).toDF("id", "v"))
    val other = new TableStore(spark, root)
    store.beginTransaction()
    store.append("t", Seq((2, "b")).toDF("id", "v"))
    assert(store.currentVersion("t").contains(1L))
    assert(other.currentVersion("t").contains(0L))
    store.commitTransaction()
    // promoted manifest refreshed the hint: a cold reader resolves the
    // post-transaction version without any listing
    MetaMetrics.reset()
    assert(new TableStore(spark, root).currentVersion("t").contains(1L))
    assert(MetaMetrics.manifestListings.get() == 0L)
  }

  private def readHint(root: String, table: String): Option[Long] = {
    val p = hintPath(root, table)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8").trim.toLong)
      finally in.close()
    }
  }

  /** The store's table directories (every dir but the txn journal). */
  private def tables(root: String): Seq[String] =
    new java.io.File(root).listFiles().toSeq.filter(_.isDirectory)
      .map(_.getName).filterNot(_ == "_txn").sorted

  test("no commit path publishes the hint over an existing file, and " +
    "the hint equals currentVersion after every kind of commit") {
    val root = tmpDir("ckpt-publish")
    val rec = new PublishRecorder(
      new HadoopCommitPrimitive(spark.sessionState.newHadoopConf()),
      spark.sessionState.newHadoopConf())
    val store = new TableStore(spark, root, Some(rec))
    def corpus(from: Int, to: Int) = (from until to).map { i =>
      (i.toLong, Array.tabulate(8)(d =>
        (if (d == i % 4) 1f else 0f) + ((i * 7 + d * 3) % 5) * 0.01f),
        if (i % 2 == 0) "en" else "de", i.toLong)
    }.toDF("vec_id", "embedding", "lang", "x")
    def kv(ids: Range) = ids.map(i => (i, s"v$i")).toDF("id", "v")

    val steps: Seq[(String, () => Unit)] = Seq(
      "create" -> (() => {
        store.create("corpus", corpus(0, 80))
        store.create("t", kv(1 to 3))
      }),
      "MaterializedView.create" -> (() =>
        MaterializedView.create(store, "mv", "corpus", Seq("lang"), Seq("x"))),
      "buildIvfPqIndexFromTable" -> (() =>
        VectorIndex.buildIvfPqIndexFromTable(store, "ix", "corpus",
          nlist = 4, m = 4, ksub = 8, kmeansIters = 1)),
      "append" -> (() => store.append("corpus", corpus(80, 100))),
      "appendWithDeletes" -> (() =>
        store.appendWithDeletes("t", kv(4 to 5), Seq(1).toDF("id"))),
      "deleteWhere" -> (() =>
        assert(store.deleteWhere("corpus", col("vec_id") % 10 === 0) > 0L)),
      "overwrite" -> (() => store.overwrite("t", kv(10 to 14))),
      "compact" -> (() => {
        store.appendWithDeletes("t", kv(15 to 16), Seq(10).toDF("id"))
        store.compact("t")
      }),
      "transaction" -> (() => {
        store.beginTransaction()
        store.append("t", kv(20 to 21))
        store.append("t", kv(22 to 23))
        store.commitTransaction()
      }),
      "MaterializedView.refresh" -> (() => MaterializedView.refresh(store, "mv")),
      "syncIvfPqIndex" -> (() =>
        assert(VectorIndex.syncIvfPqIndex(store, "ix", "corpus").isDefined)))

    steps.foreach { case (label, run) =>
      run()
      val over = rec.hintPublishes.filter(_._2).map(_._1)
      assert(over.isEmpty,
        s"after $label: the hint was published over an existing file: " +
          over.mkString(", "))
      // read every hint BEFORE resolving (a missing hint would be
      // repaired by the resolution's listing fallback)
      val hints = tables(root).map(t => t -> readHint(root, t))
      val cold = new TableStore(spark, root)
      hints.foreach { case (t, h) =>
        assert(h.isDefined && h == cold.currentVersion(t),
          s"after $label: $t hint $h, current ${cold.currentVersion(t)}")
      }
    }
    assert(rec.hintPublishes.size >= steps.size)
    assert(store.read("t").count() == 10L)
  }

  test("two instances appending concurrently leave a hint no higher " +
    "than the head, and a cold reader resolves the head") {
    val root = tmpDir("ckpt-race")
    val a = new TableStore(spark, root)
    a.create("t", Seq((0, "v0")).toDF("id", "v"))
    val b = new TableStore(spark, root)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val done = Seq(a -> 1, b -> 101).map { case (s, base) =>
        pool.submit(new Runnable {
          def run(): Unit = (base until base + 6).foreach(i =>
            s.append("t", Seq((i, s"v$i")).toDF("id", "v")))
        })
      }
      done.foreach(_.get())
    } finally pool.shutdown()
    val head = new TableStore(spark, root).versions("t").last
    assert(head == 12L)
    val hint = readHint(root, "t")
    assert(hint.exists(_ <= head), s"hint $hint, head $head")
    val cold = new TableStore(spark, root)
    assert(cold.currentVersion("t").contains(head))
    assert(cold.read("t").count() == 13L)
  }
}
