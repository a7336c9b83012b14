package graft.lake

import graft.SparkSpec
import org.apache.hadoop.fs.Path

/** A data file the manifest lists but the filesystem has lost is lost
  * data: every read of a version that lists it fails, naming the
  * file — it never silently returns the other files' rows (delete
  * files already fail the same way, see DeleteSet). */
class MissingDataFileSpec extends SparkSpec {
  import spark.implicits._

  test("a manifest-listed data file missing from disk fails the read, naming it") {
    val root = tmpDir("missing")
    val store = new TableStore(spark, root)
    store.create("t", (1 to 5).map(i => (i, s"v$i")).toDF("id", "v"))
    store.append("t", Seq((6, "v6")).toDF("id", "v"))
    val before = store.manifest("t", 0L).toSet
    val lost = store.manifest("t", 1L).filterNot(before)
    assert(lost.size == 1, lost)
    val p = new Path(lost.head)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, false)

    for ((label, s) <- Seq("same store" -> store,
        "fresh store" -> new TableStore(spark, root))) {
      val e = intercept[java.io.FileNotFoundException](s.read("t").count())
      assert(e.getMessage.contains(p.getName), s"$label: ${e.getMessage}")
      val e2 = intercept[java.io.FileNotFoundException] {
        GraftSql.execute(spark, s, "SELECT v FROM t WHERE id = 6").collect()
      }
      assert(e2.getMessage.contains(p.getName), s"$label: ${e2.getMessage}")
    }
    // the version before the append never listed the file
    assert(store.readVersion("t", 0L).count() == 5)
  }
}
