package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** TableStore.changes — the change data feed. The governing invariant:
  * applying the feed to the fromV view as plain bag algebra
  * (+ inserts, − deletes) yields the toV view exactly, whatever mix of
  * appends, merge-on-read deletes, and rewrites the range holds. */
class ChangesSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore() = new TableStore(spark, tmpDir("cdf"))

  /** (id, v, change type, commit version) of a feed, sorted. */
  private def feedRows(store: TableStore, table: String, fromV: Long,
                       toV: Long, valCol: String = "v") =
    store.changes(table, fromV, toV)
      .select(col("id"), col(valCol), col("_change_type"),
        col("_commit_version"))
      .as[(Int, String, String, Long)].collect().toSeq.sorted

  /** bag-apply the feed to `from` and check it equals `to`. */
  private def telescopes(store: TableStore, table: String,
                         fromV: Long, toV: Long): Unit = {
    FeedLaws.telescopes(store, table, fromV, toV)
  }

  test("append-only feed reads only the new files, attributed per version") {
    val store = freshStore()
    store.create("t", Seq((1, "a")).toDF("id", "v"))
    store.append("t", Seq((2, "b")).toDF("id", "v"))
    store.append("t", Seq((3, "c")).toDF("id", "v"))
    val feed = store.changes("t", 0L, 2L)
      .select($"id", $"_change_type", $"_commit_version").as[(Int, String, Long)]
      .collect().sortBy(_._1)
    assert(feed.toSeq == Seq((2, "insert", 1L), (3, "insert", 2L)))
    // a narrower range sees only its own commits
    assert(store.changes("t", 1L, 2L).select("id").as[Int].collect()
      .toSeq == Seq(3))
    // empty range -> empty feed with the feed schema
    assert(store.changes("t", 2L, 2L).isEmpty)
    telescopes(store, "t", 0L, 2L)
  }

  test("merge-on-read commit emits its delete and its insert") {
    val store = freshStore()
    store.create("t", Seq((1, "a"), (2, "b")).toDF("id", "v"))
    // CDC batch: delete id=1, insert its replacement + a new row
    store.appendWithDeletes("t", Seq((1, "a2"), (3, "c")).toDF("id", "v"),
      Seq(1).toDF("id"))
    val feed = store.changes("t", 0L, 1L)
      .select($"id", $"v", $"_change_type").as[(Int, String, String)]
      .collect().sortBy(r => (r._1, r._3))
    assert(feed.toSeq == Seq((1, "a", "delete"), (1, "a2", "insert"),
      (3, "c", "insert")))
    telescopes(store, "t", 0L, 1L)
  }

  test("re-deleting an already-deleted key emits no phantom delete") {
    val store = freshStore()
    store.create("t", Seq((1, "a"), (2, "b")).toDF("id", "v"))
    store.appendWithDeletes("t", spark.emptyDataset[(Int, String)]
      .toDF("id", "v"), Seq(1).toDF("id"))
    // second commit deletes id=1 again (a no-op) and id=2 (real)
    store.appendWithDeletes("t", spark.emptyDataset[(Int, String)]
      .toDF("id", "v"), Seq(1, 2).toDF("id"))
    val dels = store.changes("t", 0L, 2L)
      .where($"_change_type" === "delete")
      .select($"id", $"_commit_version").as[(Int, Long)].collect().sortBy(_._1)
    // exactly one delete per physical row, at the commit that removed it
    assert(dels.toSeq == Seq((1, 1L), (2, 2L)))
    telescopes(store, "t", 0L, 2L)
  }

  test("a rewrite in the range falls back to an exact bag diff") {
    val store = freshStore()
    store.create("t", Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"))
    // overwrite: 2 changes value, 3 is dropped, 4 appears
    store.overwrite("t", Seq((1, "a"), (2, "B"), (4, "d")).toDF("id", "v"))
    val feed = store.changes("t", 0L, 1L)
      .select($"id", $"v", $"_change_type").as[(Int, String, String)]
      .collect().sortBy(r => (r._1, r._3))
    assert(feed.toSeq == Seq((2, "b", "delete"), (2, "B", "insert"),
      (3, "c", "delete"), (4, "d", "insert")))
    telescopes(store, "t", 0L, 1L)
  }

  test("a content-neutral rewrite range short-circuits to an empty feed") {
    val store = freshStore()
    store.create("t", Seq((1, "a"), (2, "b")).toDF("id", "v"))
    store.appendWithDeletes("t", Seq((2, "B")).toDF("id", "v"),
      Seq(Tuple1(2)).toDF("id"))
    val pre = store.currentVersion("t").get
    store.compact("t")
    val cur = store.currentVersion("t").get
    assert(cur == pre + 1)
    // COMPACT preserves the row bag by contract: the feed is empty
    // WITHOUT the O(table) endpoint bag diff a rewrite normally forces
    assert(store.changes("t", pre, cur).isEmpty)
    telescopes(store, "t", pre, cur)
    // the short-circuit never opens the range's LOWER endpoint, so it
    // still answers after that manifest is vacuumed — the case where
    // an incremental consumer's cursor sits just below a maintenance
    // rewrite the vacuum has since aged out
    store.vacuum("t", keep = 1)
    assert(store.changes("t", pre, cur).isEmpty)
  }

  test("changesSince drives a cursor-based sync loop") {
    val store = freshStore()
    store.create("t", Seq((1, "a")).toDF("id", "v"))
    var cursor = 0L
    var seen = Vector.empty[(Int, String)]
    def pull(): Unit = store.changesSince("t", cursor).foreach {
      case (feed, c) =>
        seen ++= feed.select($"id", $"_change_type").as[(Int, String)]
          .collect().sortBy(_._1)
        cursor = c
    }
    pull() // nothing new
    assert(cursor == 0L && seen.isEmpty)
    store.append("t", Seq((2, "b")).toDF("id", "v"))
    pull()
    assert(cursor == 1L && seen == Vector((2, "insert")))
    store.append("t", Seq((3, "c")).toDF("id", "v"))
    store.appendWithDeletes("t", Seq((4, "d")).toDF("id", "v"),
      Seq(1).toDF("id"))
    pull() // catches up over BOTH missed versions at once
    assert(cursor == 3L)
    assert(seen == Vector((2, "insert"), (1, "delete"), (3, "insert"),
      (4, "insert")))
    pull() // idempotent at head
    assert(cursor == 3L && seen.size == 4)
  }

  test("a feed spanning a RENAME surfaces one column, under the latest name") {
    val store = freshStore()
    store.create("t", Seq((1, "a")).toDF("id", "v"))
    store.append("t", Seq((2, "b")).toDF("id", "v"))   // pre-rename commit
    store.renameColumn("t", "v", "val")                // metadata-only
    store.append("t", Seq((3, "c")).toDF("id", "val")) // post-rename commit
    val feed = store.changes("t", 0L, 3L)
    // latest-schema semantics (Delta CDF): ONE value column named per
    // the toV mapping — not an old-name/new-name pair, each half-null
    assert(feed.columns.toSet ==
      Set("id", "val", "_change_type", "_commit_version"))
    val rows = feed.select($"id", $"val", $"_commit_version")
      .as[(Int, String, Long)].collect().sortBy(_._1)
    assert(rows.toSeq == Seq((2, "b", 1L), (3, "c", 3L)))
    assert(feed.where($"val".isNull).isEmpty)
    telescopes(store, "t", 0L, 3L)
    // and across a rename + rewrite (fallback diff path) too
    store.compact("t")
    telescopes(store, "t", 0L, 4L)
  }

  test("a rewrite that narrows the schema diffs under the toV schema") {
    val store = freshStore()
    store.create("t", Seq((1, "a", 1.5), (2, "b", 2.5)).toDF("id", "v", "w"))
    // overwrite drops column w entirely: latest-schema semantics mean
    // the feed carries only toV's columns — w is gone, and the diff
    // runs on (id, v) so the row unchanged there does not churn
    store.overwrite("t", Seq((1, "a"), (3, "c")).toDF("id", "v"))
    val feed = store.changes("t", 0L, 1L)
    assert(feed.columns.toSet ==
      Set("id", "v", "_change_type", "_commit_version"))
    val dels = feed.where($"_change_type" === "delete")
      .select($"id", $"v").as[(Int, String)].collect().sortBy(_._1)
    assert(dels.toSeq == Seq((2, "b")))
    val ins = feed.where($"_change_type" === "insert")
      .select($"id", $"v").as[(Int, String)].collect().sortBy(_._1)
    assert(ins.toSeq == Seq((3, "c")))
    telescopes(store, "t", 0L, 1L)
  }

  test("mixed history telescopes end-to-end and per step") {
    val store = freshStore()
    store.create("t", Seq((1, "a"), (2, "b")).toDF("id", "v"))
    store.append("t", Seq((3, "c"), (3, "c")).toDF("id", "v")) // dup rows
    store.appendWithDeletes("t", Seq((2, "b2")).toDF("id", "v"),
      Seq(2, 3).toDF("id")) // kills both copies of 3
    store.compact("t") // rewrite: folds MoR debt
    store.append("t", Seq((5, "e")).toDF("id", "v"))
    for (v <- 0L to 4L; w <- v to 4L) telescopes(store, "t", v, w)
    // the delete of the duplicated key carries both copies
    val d3 = store.changes("t", 0L, 2L)
      .where($"_change_type" === "delete" && $"id" === 3).count()
    assert(d3 == 2, s"expected both copies of id=3 deleted, got $d3")
  }

  test("changeRowsBound bounds every range's feed from metadata alone") {
    val store = freshStore()
    store.create("t", Seq((1, "a"), (2, "b")).toDF("id", "v"))
    store.append("t", Seq((3, "c"), (4, "d"), (5, "e")).toDF("id", "v"))
    store.appendWithDeletes("t", Seq((2, "b2")).toDF("id", "v"),
      Seq(2).toDF("id"))
    store.deleteWhere("t", $"id" === 4) // positional (deletion vector)
    store.compact("t")
    store.append("t", Seq((6, "f")).toDF("id", "v"))
    store.overwrite("t", Seq((1, "a"), (7, "g")).toDF("id", "v"))
    val cur = store.currentVersion("t").get
    for (v <- 0L to cur; w <- v to cur) {
      val n = store.changes("t", v, w).count()
      val bound = store.changeRowsBound("t", v, w)
      assert(bound.exists(_ >= n), s"($v, $w]: bound $bound < feed rows $n")
    }
    // a pure-append range is bounded by exactly its new files' rows
    assert(store.changeRowsBound("t", 0L, 1L).contains(3L))
    // a content-neutral range emits nothing
    assert(store.changeRowsBound("t", 3L, 4L).contains(0L))
  }

  test("a deleteWhere commit emits exactly its matched rows as deletes") {
    val store = freshStore()
    store.create("t", Seq((1, "a"), (2, "b"), (3, "c"), (4, "d"))
      .toDF("id", "v"))
    assert(store.deleteWhere("t", $"id" % 2 === 0) == 2)
    assert(feedRows(store, "t", 0L, 1L) ==
      Seq((2, "b", "delete", 1L), (4, "d", "delete", 1L)))
    // a second vector only removes what the first left
    store.deleteWhere("t", $"id" <= 2)
    assert(feedRows(store, "t", 0L, 2L) == Seq((1, "a", "delete", 2L),
      (2, "b", "delete", 1L), (4, "d", "delete", 1L)))
    for (v <- 0L to 2L; w <- v to 2L) telescopes(store, "t", v, w)
  }

  test("an updateWhere commit emits its pre-image deleted, its post-image inserted") {
    val store = freshStore()
    store.create("t", Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"))
    assert(store.updateWhere("t", $"id" === 2, Map("v" -> lit("B"))) == 1)
    assert(feedRows(store, "t", 0L, 1L) ==
      Seq((2, "B", "insert", 1L), (2, "b", "delete", 1L)))
    telescopes(store, "t", 0L, 1L)
  }

  test("a row appended and then deleted by a vector emits insert then delete") {
    val store = freshStore()
    store.create("t", Seq((1, "a")).toDF("id", "v"))
    store.append("t", Seq((2, "b"), (3, "c")).toDF("id", "v"))
    store.deleteWhere("t", $"id" === 2)
    assert(feedRows(store, "t", 0L, 2L) == Seq((2, "b", "delete", 2L),
      (2, "b", "insert", 1L), (3, "c", "insert", 1L)))
    telescopes(store, "t", 0L, 2L)
  }

  test("a deletion vector after a RENAME surfaces under the latest names") {
    val store = freshStore()
    store.create("t", Seq((1, "a"), (2, "b")).toDF("id", "v"))
    store.renameColumn("t", "v", "val")
    store.deleteWhere("t", $"val" === "a")
    store.updateWhere("t", $"id" === 2, Map("val" -> lit("B")))
    val feed = store.changes("t", 0L, 3L)
    assert(feed.columns.toSet ==
      Set("id", "val", "_change_type", "_commit_version"))
    assert(feedRows(store, "t", 0L, 3L, "val") == Seq(
      (1, "a", "delete", 2L), (2, "B", "insert", 3L), (2, "b", "delete", 3L)))
    for (v <- 0L to 3L; w <- v to 3L) telescopes(store, "t", v, w)
  }

  test("changeRowsBound is exact on a deletion-vector range") {
    val store = freshStore()
    store.create("t", (1 to 6).map(i => (i, s"r$i")).toDF("id", "v"))
    store.deleteWhere("t", $"id" <= 2)
    store.updateWhere("t", $"id" === 3, Map("v" -> lit("R3")))
    store.deleteWhere("t", $"id" >= 3)
    store.append("t", Seq((7, "r7")).toDF("id", "v"))
    val cur = store.currentVersion("t").get
    for (v <- 0L to cur; w <- v to cur) {
      val n = store.changes("t", v, w).count()
      assert(store.changeRowsBound("t", v, w).contains(n),
        s"($v, $w]: bound ${store.changeRowsBound("t", v, w)}, feed rows $n")
    }
    // 2 deleted + (1 deleted, 1 inserted) + 4 deleted + 1 appended
    assert(store.changeRowsBound("t", 0L, cur).contains(9L))
  }

  test("a deletion-vector range's feed plans no Except and no shuffle") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val store = freshStore()
    store.create("t", (1 to 20).map(i => (i, s"r$i")).toDF("id", "v"))
    store.deleteWhere("t", $"id" <= 5)
    store.updateWhere("t", $"id" === 10, Map("v" -> lit("x")))
    val feed = store.changes("t", 0L, 2L)
    assert(feed.count() == 7)
    assert(!feed.queryExecution.analyzed.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Except]))
    def shuffles(p: SparkPlan): Int = p.collect {
      case _: ShuffleExchangeExec => 1
      case a: AdaptiveSparkPlanExec => shuffles(a.executedPlan)
      case q: QueryStageExec => shuffles(q.plan)
    }.sum
    assert(shuffles(feed.queryExecution.executedPlan) == 0,
      feed.queryExecution.executedPlan.toString)
  }

  test("a commit with both key deletes and a vector emits each removed row once") {
    val root = tmpDir("cdfmix")
    val mixed = new TableStore(spark, root)
    mixed.create("t", Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"))
    mixed.deleteWhere("t", $"id" === 1)
    mixed.appendWithDeletes("t", Seq((4, "d")).toDF("id", "v"),
      Seq(1, 2).toDF("id"))
    // no writer emits `del|` and `dv|` lines in one commit, so move
    // version 1's vector line into version 2: version 1 becomes a
    // no-op and version 2 removes row 1 by key AND by position
    val m1 = java.nio.file.Paths.get(root, "t", "manifest-1")
    val lines = new String(java.nio.file.Files.readAllBytes(m1), "UTF-8")
      .split("\n").filterNot(_.startsWith("dv|"))
    java.nio.file.Files.write(m1, lines.mkString("\n").getBytes("UTF-8"))
    assert(mixed.readVersion("t", 1L).count() == 3)
    assert(feedRows(mixed, "t", 1L, 2L) == Seq((1, "a", "delete", 2L),
      (2, "b", "delete", 2L), (4, "d", "insert", 2L)))
    assert(mixed.changeRowsBound("t", 1L, 2L).exists(_ >= 3L))
    for (v <- 0L to 2L; w <- v to 2L) telescopes(mixed, "t", v, w)
  }

  test("a RESTORE in the range falls back to the bag diff") {
    val store = freshStore()
    store.create("t", Seq((1, "a")).toDF("id", "v"))
    store.append("t", Seq((2, "b")).toDF("id", "v"))
    store.restore("t", 0L)
    // version 2 equals version 0, so the feed between them is empty,
    // although every line of version 0 is still at version 2
    assert(store.changes("t", 0L, 2L).isEmpty)
    assert(store.rangeMayDelete("t", 0L, 2L))
    store.restore("t", 1L)
    assert(store.changes("t", 1L, 3L).isEmpty)
    for (v <- 0L to 3L; w <- v to 3L) telescopes(store, "t", v, w)
  }
}
