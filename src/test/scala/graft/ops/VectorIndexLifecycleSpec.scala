package graft.ops

import graft.SparkSpec
import graft.lake.TableStore
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One index lifecycle, two payload codecs: the same script runs over
  * a full-vector IVF index and an IVF-PQ index through each shape's
  * public entry points — the unbound sync's refusal, the attribute
  * carried through build, append and sync, filtered search, and a
  * re-build at an unchanged corpus version. */
class VectorIndexLifecycleSpec extends SparkSpec {
  import spark.implicits._

  /** n vectors of dim 8 in 8 well-separated directions (cluster
    * i % 8), so the lowest-id k-means seeds each own a cluster and
    * every trained list holds vectors; `label` = id % 3. */
  private def corpus(n: Int): DataFrame =
    (0 until n).map { i =>
      (i.toLong, Array.tabulate(8)(d =>
        (if (d == i % 8) 1f else 0f) + ((i * 7 + d * 3) % 5) * 0.01f))
    }.toDF("vec_id", "embedding")
      .withColumn("label", (col("vec_id") % 3).cast("int"))

  /** One codec's public entry points over index "ix" and table "corpus". */
  private case class Shape(
      codec: String, builder: String, dataTable: String,
      build: (TableStore, DataFrame) => Unit,
      buildFromTable: (TableStore, Int, Seq[String]) => Unit,
      append: (TableStore, DataFrame) => Unit,
      sync: TableStore => Option[Long],
      searchFiltered: (TableStore, DataFrame, Column) => DataFrame)

  private val shapes = Seq(
    Shape("flat", "buildIvfIndexFromTable", VectorIndex.listsTable("ix"),
      (s, df) => VectorIndex.buildIvfIndex(s, "ix", df, nlist = 4,
        kmeansIters = 1),
      (s, nlist, attrs) => VectorIndex.buildIvfIndexFromTable(s, "ix",
        "corpus", nlist = nlist, kmeansIters = 1, attrCols = attrs),
      (s, df) => VectorIndex.appendToIvfIndex(s, "ix", df),
      s => VectorIndex.syncIvfIndex(s, "ix", "corpus"),
      (s, p, f) => VectorIndex.searchIvfIndexFiltered(s, "ix", p, k = 5,
        nprobe = 2, filter = f)),
    Shape("pq", "buildIvfPqIndexFromTable", VectorIndex.codesTable("ix"),
      (s, df) => VectorIndex.buildIvfPqIndex(s, "ix", df, nlist = 4, m = 4,
        ksub = 8, kmeansIters = 1),
      (s, nlist, attrs) => VectorIndex.buildIvfPqIndexFromTable(s, "ix",
        "corpus", nlist = nlist, m = 4, ksub = 8, kmeansIters = 1,
        attrCols = attrs),
      (s, df) => VectorIndex.appendToIvfPqIndex(s, "ix", df),
      s => VectorIndex.syncIvfPqIndex(s, "ix", "corpus"),
      (s, p, f) => VectorIndex.searchIvfPqIndexFiltered(s, "ix", p, k = 5,
        nprobe = 2, filter = f)))

  private def ids(store: TableStore, sh: Shape): Set[Long] =
    store.read(sh.dataTable).select("vec_id").distinct().as[Long]
      .collect().toSet

  for (sh <- shapes) {
    test(s"${sh.codec}: a sync of an unbound index names its FromTable builder") {
      val store = new TableStore(spark, tmpDir(s"life-unbound-${sh.codec}"))
      sh.build(store, corpus(100).drop("label"))
      val e = intercept[IllegalStateException](sh.sync(store))
      assert(e.getMessage.contains(sh.builder))
    }

    test(s"${sh.codec}: an attributed build, an append and a sync leave no " +
      "null attribute, and a filtered search returns only matching ids") {
      val store = new TableStore(spark, tmpDir(s"life-attrs-${sh.codec}"))
      val emb = corpus(200)
      store.create("corpus", emb.where(col("vec_id") < 100))
      sh.buildFromTable(store, 4, Seq("label"))
      sh.append(store, emb.where(col("vec_id") >= 100 && col("vec_id") < 150))
      store.append("corpus", emb.where(col("vec_id") >= 150))
      store.deleteWhere("corpus", col("vec_id") % 5 === 0)
      assert(sh.sync(store).isDefined)
      assert(store.read(sh.dataTable).where(col("label").isNull).count() == 0L)
      // the appended ids never entered the corpus, so its deletes
      // reach only the built and synced ones
      assert(ids(store, sh) == (0L until 200L).filterNot(i =>
        i % 5 == 0 && (i < 100 || i >= 150)).toSet)
      val got = sh.searchFiltered(store,
          emb.where(col("vec_id") < 4).select("vec_id", "embedding"),
          col("label") === 1)
        .select("vid").as[Long].collect().toSeq
      assert(got.nonEmpty && got.forall(_ % 3 == 1))
    }

    test(s"${sh.codec}: a FromTable re-build at an unchanged corpus version " +
      "replaces the data table, and the next sync follows the feed") {
      val store = new TableStore(spark, tmpDir(s"life-rebuild-${sh.codec}"))
      val emb = corpus(200)
      store.create("corpus", emb.where(col("vec_id") < 100))
      sh.buildFromTable(store, 4, Nil)
      assert(VectorIndex.describeIvfIndex(store, "ix").count() == 4L)
      sh.buildFromTable(store, 8, Nil)
      assert(VectorIndex.describeIvfIndex(store, "ix").count() == 8L)
      assert(ids(store, sh) == (0L until 100L).toSet)
      store.append("corpus", emb.where(col("vec_id") >= 100))
      assert(sh.sync(store).isDefined)
      assert(ids(store, sh) == (0L until 200L).toSet)
      assert(sh.sync(store).isEmpty)
    }
  }
}
