package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Positional deletion vectors (TableStore.deleteWhere): DELETE on any
  * predicate without rewriting data files — positions commit as a
  * tiny `dv|` sidecar, reads filter by its positions, compact folds
  * it. */
class DeletionVectorSpec extends SparkSpec with DmlSurfaces {
  import spark.implicits._

  private def freshStore() = new TableStore(spark, tmpDir("dv"))

  test("deleteWhere removes rows on a non-key predicate without rewriting files") {
    val store = freshStore()
    store.create("t", (1 to 100).map(i => (i, s"v$i", i % 7)).toDF("id", "v", "m"))
    val dataBefore = store.manifest("t", 0L)
    val n = store.deleteWhere("t", col("m") === 3)
    assert(n == (1 to 100).count(_ % 7 == 3))
    // every original data file is still referenced — nothing rewritten
    val after = store.manifest("t", store.currentVersion("t").get)
    assert(dataBefore.forall(after.contains))
    assert(after.exists(_.startsWith("dv|")))
    val got = store.read("t").select("id").as[Int].collect().sorted.toSeq
    assert(got == (1 to 100).filter(_ % 7 != 3))
  }

  test("deletion vectors stack across commits and respect later appends") {
    val store = freshStore()
    store.create("t", (1 to 50).map(i => (i, i % 2)).toDF("id", "m"))
    assert(store.deleteWhere("t", col("m") === 0) == 25L)
    // rows appended AFTER a vector are exempt from it (manifest order),
    // even when they would match its predicate
    store.append("t", Seq((200, 0)).toDF("id", "m"))
    // the count is the rows this vector deletes, not the earlier one's
    assert(store.deleteWhere("t", col("id") === 1) == 1L)
    val got = store.read("t").select("id").as[Int].collect().sorted.toSeq
    assert(got == (3 to 49 by 2) ++ Seq(200))
  }

  test("deleteWhere with zero matches commits nothing") {
    val store = freshStore()
    store.create("t", Seq((1, "a")).toDF("id", "v"))
    assert(store.deleteWhere("t", col("id") === 99) == 0L)
    assert(store.currentVersion("t").contains(0L))
  }

  test("compact folds dv debt; time travel still sees pre-delete state") {
    val store = freshStore()
    store.create("t", (1 to 20).map(i => (i, i % 3)).toDF("id", "m"))
    store.deleteWhere("t", col("m") === 1)
    assert(store.deleteDebt("t") > 0)
    store.compact("t")
    assert(store.deleteDebt("t") == 0)
    assert(store.read("t").count() == (1 to 20).count(_ % 3 != 1))
    assert(store.readVersion("t", 0L).count() == 20)
  }

  test("dv merge is an anti join; fastRowCount declines dv debt") {
    val store = freshStore()
    store.create("t", (1 to 100).map(i => (i, i % 5)).toDF("id", "m"))
    assert(store.fastRowCount("t").contains(100L))
    store.deleteWhere("t", col("m") === 2)
    assert(store.fastRowCount("t").isEmpty)
    // the anti join is one delete-set filter on the one commit group,
    // with no broadcast join over the vector file
    val read = store.read("t")
    val plan = read.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastHashJoin") &&
      !plan.contains("BroadcastExchange"), plan.take(800))
    assert(deleteSetProbes(read) == 1, plan.take(800))
    // history/detail report the vector as a delete entry
    val h = store.history("t").orderBy(desc("version")).first()
    assert(h.getAs[Int]("n_delete_entries") == 1)
  }

  test("deleteWhere composes with equality-delete (MoR) debt") {
    val store = freshStore()
    store.create("t", (1 to 30).map(i => (i, s"v$i")).toDF("id", "v"))
    store.appendWithDeletes("t", Seq((2, "v2x")).toDF("id", "v"),
      Seq(Tuple1(2)).toDF("id"))
    store.deleteWhere("t", col("id") <= 3)
    val got = store.read("t").select("id").as[Int].collect().sorted.toSeq
    assert(got == (4 to 30))
  }

  test("SQL DELETE uses deletion vectors when the conf is on") {
    for (sf <- surfaces("dv-sql-del")) {
      val store = sf.store
      val t = sf.table("sdv")
      store.create("sdv", (1 to 40).map(i => (i, i % 4)).toDF("id", "m"))
      spark.conf.set("spark.graft.delete.deletionVectors", "true")
      try {
        sf.run(s"DELETE FROM $t t WHERE t.m = 1")
        val after = store.manifest("sdv", store.currentVersion("sdv").get)
        assert(after.exists(_.startsWith("dv|")),
          s"${sf.name}: SQL DELETE should have committed a deletion vector")
        assert(store.read("sdv").count() == (1 to 40).count(_ % 4 != 1),
          sf.name)
        // NULL predicate keeps the row (SQL semantics) — exercised via
        // a predicate over a nullable expression
        sf.run(s"DELETE FROM $t WHERE CASE WHEN m = 2 THEN true END")
        assert(store.read("sdv").count() ==
          (1 to 40).count(i => i % 4 != 1 && i % 4 != 2), sf.name)
      } finally spark.conf.unset("spark.graft.delete.deletionVectors")
    }
  }

  test("updateWhere rewrites no files: positions + updated copies in one commit") {
    val store = freshStore()
    store.create("t", (1 to 50).map(i => (i, i % 5, 0L)).toDF("id", "m", "hits"))
    val before = store.manifest("t", 0L)
    val n = store.updateWhere("t", col("m") === 2,
      Map("hits" -> lit(7L)))
    assert(n == 10)
    val after = store.manifest("t", store.currentVersion("t").get)
    // originals all carried by reference; one dv line; new data files
    assert(before.forall(after.contains))
    assert(after.count(_.startsWith("dv|")) == 1)
    assert(after.size > before.size + 1)
    val got = store.read("t")
    assert(got.count() == 50)
    assert(got.where(col("hits") === 7).select("id").as[Int]
      .collect().sorted.toSeq == (1 to 50).filter(_ % 5 == 2))
    // a second update touches the previously-updated copies too
    assert(store.updateWhere("t", col("hits") === 7,
      Map("hits" -> lit(8L))) == 10)
    assert(store.read("t").where(col("hits") === 8).count() == 10)
    assert(store.read("t").count() == 50)
  }

  test("SQL UPDATE rides deletion vectors under the conf") {
    for (sf <- surfaces("dv-sql-upd")) {
      val store = sf.store
      val t = sf.table("u")
      store.create("u", (1 to 30).map(i => (i, i % 3, "x")).toDF("id", "m", "v"))
      val before = store.manifest("u", 0L)
      spark.conf.set("spark.graft.delete.deletionVectors", "true")
      try {
        sf.run(s"UPDATE $t SET v = concat(v, '!') WHERE m = 0")
        val after = store.manifest("u", store.currentVersion("u").get)
        assert(before.forall(after.contains) &&
          after.exists(_.startsWith("dv|")), sf.name)
        assert(store.read("u").where(col("v") === "x!").count() ==
          (1 to 30).count(_ % 3 == 0), sf.name)
        assert(store.read("u").count() == 30, sf.name)
        // unknown assignment target still rejects loudly in dv mode
        intercept[org.apache.spark.sql.AnalysisException] {
          sf.run(s"UPDATE $t SET nope = 1")
        }
        assert(store.currentVersion("u").contains(1L), sf.name)
      } finally spark.conf.unset("spark.graft.delete.deletionVectors")
    }
  }

  test("vacuum reaps dv sidecars of dropped versions") {
    val store = freshStore()
    store.create("t", (1 to 10).map(i => (i, i % 2)).toDF("id", "m"))
    store.deleteWhere("t", col("m") === 0)
    store.compact("t")
    store.vacuum("t", keep = 1)
    assert(store.versions("t") == Seq(2L))
    assert(store.read("t").count() == 5)
    // the dv dir is gone with its version
    val root = new org.apache.hadoop.fs.Path(store.rootPath, "t")
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val dvDirs = fs.listStatus(root).filter(_.getPath.getName.startsWith("v-"))
    assert(dvDirs.isEmpty)
  }
}
