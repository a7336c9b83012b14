package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** RENAME/DROP COLUMN must be pure metadata commits: no data file
  * changes, old files stay readable through the mapping, writes land
  * under physical names so every commit's files agree, and the
  * mapping versions with the manifest (time travel / RESTORE / clone). */
class ColumnMappingSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore() = new TableStore(spark, tmpDir("colmap"))

  private def dataFiles(store: TableStore, t: String): Set[String] =
    store.manifest(t, store.currentVersion(t).get)
      .filterNot(_.startsWith("del|")).toSet

  test("rename is metadata-only; reads and new appends agree across the rename") {
    val store = freshStore()
    store.create("t", Seq((1, "a"), (2, "b")).toDF("id", "v"))
    val filesBefore = dataFiles(store, "t")
    store.renameColumn("t", "v", "val")
    // no data moved, exactly one new version
    assert(dataFiles(store, "t") == filesBefore)
    assert(store.currentVersion("t").contains(1L))
    assert(store.read("t").columns.toSeq == Seq("id", "val"))
    // an append in the NEW logical schema lands physically as `v`
    store.append("t", Seq((3, "c")).toDF("id", "val"))
    assert(store.read("t").orderBy("id").as[(Int, String)].collect().toSeq ==
      Seq((1, "a"), (2, "b"), (3, "c")))
    // time travel sees each version's own names; RESTORE rolls back
    assert(store.readVersion("t", 0).columns.toSeq == Seq("id", "v"))
    store.restore("t", 0)
    assert(store.read("t").columns.toSeq == Seq("id", "v"))
    assert(store.read("t").count() == 2)
  }

  test("chained renames collapse; renaming back to the physical name clears the map") {
    val store = freshStore()
    store.create("t", Seq((1, 10)).toDF("id", "x"))
    store.renameColumn("t", "x", "y")
    store.renameColumn("t", "y", "z")
    assert(store.columnMapping("t", store.currentVersion("t").get)
      .renames == Map("z" -> "x"))
    store.renameColumn("t", "z", "x")
    assert(store.columnMapping("t", store.currentVersion("t").get).isEmpty)
    assert(store.read("t").columns.toSeq == Seq("id", "x"))
  }

  test("drop hides the column everywhere; re-adding the name is rejected") {
    val store = freshStore()
    store.create("t", Seq((1, "a", 1.5), (2, "b", 2.5)).toDF("id", "v", "w"))
    val filesBefore = dataFiles(store, "t")
    store.dropColumn("t", "w")
    assert(dataFiles(store, "t") == filesBefore) // metadata only
    assert(store.read("t").columns.toSeq == Seq("id", "v"))
    // appends without the dropped column are the normal path
    store.append("t", Seq((3, "c")).toDF("id", "v"))
    assert(store.read("t").count() == 3)
    // a batch carrying the dropped name would resurrect hidden bytes
    val e = intercept[IllegalArgumentException] {
      store.append("t", Seq((4, "d", 9.9)).toDF("id", "v", "w"))
    }
    assert(e.getMessage.contains("dropped"))
    // ...and so would ADD COLUMNS of the same name
    val e2 = intercept[IllegalArgumentException] {
      store.evolveSchema("t", org.apache.spark.sql.types.StructType(
        store.read("t").schema.fields :+ org.apache.spark.sql.types.StructField(
          "w", org.apache.spark.sql.types.StringType)))
    }
    assert(e2.getMessage.contains("dropped"))
    // time travel still sees it
    assert(store.readVersion("t", 0).columns.toSeq == Seq("id", "v", "w"))
  }

  test("rename guards: partition columns, existing names, constraint references, physical-name writes") {
    val store = freshStore()
    store.create("t", Seq((1, "a", "p1")).toDF("id", "v", "part"),
      partitionBy = Seq("part"))
    intercept[IllegalArgumentException] {
      store.renameColumn("t", "part", "bucket")
    }
    intercept[IllegalArgumentException] { store.renameColumn("t", "id", "v") }
    intercept[IllegalArgumentException] { store.renameColumn("t", "nope", "x") }
    store.addConstraint("t", "pos_id", "id > 0")
    val e = intercept[IllegalArgumentException] {
      store.renameColumn("t", "id", "key")
    }
    assert(e.getMessage.contains("pos_id"))
    store.dropConstraint("t", "pos_id")
    store.renameColumn("t", "id", "key")
    // writing a column under the physical storage name is ambiguous
    val e2 = intercept[IllegalArgumentException] {
      store.append("t", Seq((9, "z", "p1")).toDF("id", "v", "part"))
    }
    assert(e2.getMessage.contains("physical"))
  }

  test("MoR deletes key on a renamed column; CDF reads logical names") {
    val store = freshStore()
    store.create("t", Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"))
    store.renameColumn("t", "id", "key")
    // delete keys arrive in LOGICAL schema and must anti-join old files
    store.appendWithDeletes("t", Seq((4, "d")).toDF("key", "v"),
      Seq(Tuple1(2)).toDF("key"))
    assert(store.read("t").orderBy("key").as[(Int, String)].collect().toSeq ==
      Seq((1, "a"), (3, "c"), (4, "d")))
    val feed = store.changes("t", 1L, 2L)
    assert(feed.columns.contains("key") && !feed.columns.contains("id"))
    val byType = feed.groupBy("_change_type").count().as[(String, Long)]
      .collect().toMap
    assert(byType == Map("insert" -> 1L, "delete" -> 1L))
    assert(feed.where(col("_change_type") === "delete")
      .select("key").as[Int].head() == 2)
  }

  test("shallow clone inherits the mapping; stats pruning resolves physical names") {
    val store = freshStore()
    store.create("t", spark.range(0, 400)
      .select(col("id"), (col("id") * 2).as("x"))
      .repartitionByRange(8, col("id")))
    store.renameColumn("t", "id", "key")
    store.cloneTable("t", "t2")
    assert(store.read("t2").columns.toSeq == Seq("key", "x"))
    // a filter pushed on the LOGICAL name must prune through the
    // physical stats entries
    val total = dataFiles(store, "t2").size
    val df = store.read("t2").where(col("key").between(100, 199))
    val kept = scannedFiles(df)
    assert(kept < total, s"no pruning through the rename: $kept of $total")
    assert(df.count() == 100)
  }

  test("SQL front door: ALTER TABLE RENAME/DROP COLUMN on graft tables") {
    val store = freshStore()
    store.create("t", Seq((1, "a", 1.0), (2, "b", 2.0)).toDF("id", "v", "w"))
    GraftSql.execute(spark, store, "ALTER TABLE t RENAME COLUMN v TO label")
    assert(store.read("t").columns.toSeq == Seq("id", "label", "w"))
    GraftSql.execute(spark, store, "ALTER TABLE t DROP COLUMN w")
    assert(store.read("t").columns.toSeq == Seq("id", "label"))
    // IF EXISTS tolerates an absent column, plain DROP does not
    GraftSql.execute(spark, store, "ALTER TABLE t DROP COLUMN IF EXISTS nope")
    intercept[IllegalArgumentException] {
      GraftSql.execute(spark, store, "ALTER TABLE t DROP COLUMN nope")
    }
    // full lifecycle still works renamed: UPDATE + MERGE-free read
    GraftSql.execute(spark, store,
      "UPDATE t SET label = upper(label) WHERE id = 1")
    assert(store.read("t").orderBy("id").as[(Int, String)].collect().toSeq ==
      Seq((1, "A"), (2, "b")))
  }
}
