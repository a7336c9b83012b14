package graft.sources

import graft.SparkSpec
import graft.lake.TableStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The vanilla-Spark surface ([[GraftDataSource]]/[[GraftCatalog]]):
  * a session that never touches the graft API reads (and writes)
  * store tables with full manifest semantics — MoR deletes applied,
  * column mapping resolved, pushed filters driving manifest-level
  * file skipping, time travel — with NO GraftSql involvement. */
class GraftDataSourceSpec extends SparkSpec {
  import spark.implicits._

  private def sorted(df: DataFrame): Seq[org.apache.spark.sql.Row] =
    df.orderBy(df.columns.map(col).toSeq: _*).collect().toSeq

  test("format(graft) read == store read across MoR deletes, DVs and renames") {
    val root = tmpDir("dsv2")
    val store = new TableStore(spark, root)
    store.create("t", (1 to 40).map(i => (i.toLong, "g" + (i % 3), i * 2.0))
      .toDF("id", "g", "x"))
    // merge-on-read state: equality delete + reinsert in one commit
    store.appendWithDeletes("t",
      Seq((3L, "g9", 99.0)).toDF("id", "g", "x"),
      deleteKeys = Seq(3L, 7L).toDF("id"))
    // deletion-vector state
    store.deleteWhere("t", col("id") === 11L)
    // column mapping: files keep the physical name
    store.renameColumn("t", "x", "score")

    val viaApi = sorted(store.read("t"))
    // path form
    val viaPath = spark.read.format("graft").load(s"$root/t")
    assert(viaPath.columns.toSeq == Seq("id", "g", "score"))
    assert(sorted(viaPath) == viaApi)
    // root+table options form
    val viaOpts = spark.read.format("graft")
      .option("root", root).option("table", "t").load()
    assert(sorted(viaOpts) == viaApi)
    // a filter + projection answers identically (Spark re-evaluates
    // above the scan, so translation fidelity can't change results)
    assert(sorted(viaPath.where(col("score") > 20.0 && col("g") =!= "g1")
        .select("id", "score")) ==
      sorted(store.read("t").where(col("score") > 20.0 && col("g") =!= "g1")
        .select("id", "score")))
  }

  test("pushed filters shrink the planned file count (manifest-level skipping)") {
    val root = tmpDir("dsv2p")
    val store = new TableStore(spark, root)
    // commits with disjoint id ranges: the per-commit stats sidecar
    // records min/max per file, so an id predicate can prove most
    // files irrelevant before any footer opens
    store.create("r", (1 to 100).map(i => (i.toLong, i * 1.0)).toDF("id", "v")
      .coalesce(1))
    (1 to 4).foreach { k =>
      store.append("r", ((k * 100 + 1) to (k * 100 + 100))
        .map(i => (i.toLong, i * 1.0)).toDF("id", "v").coalesce(1))
    }
    val df = spark.read.format("graft").load(s"$root/r")
    assert(df.where(col("id") <= 50).count() == 50)
    val filtered = GraftScanMetrics.lastScanFiles.get()
    assert(df.count() == 500)
    val full = GraftScanMetrics.lastScanFiles.get()
    assert(full >= 5, s"expected >=5 planned files unfiltered, got $full")
    assert(filtered < full,
      s"pushed id<=50 should prune files: $filtered !< $full")
    assert(filtered <= 1, s"only the first commit's file intersects; " +
      s"planned $filtered")
  }

  test("reader time travel: versionAsOf option reads any retained version") {
    val root = tmpDir("dsv2t")
    val store = new TableStore(spark, root)
    store.create("tt", Seq((1L, "a")).toDF("id", "s"))
    store.append("tt", Seq((2L, "b")).toDF("id", "s"))
    val v0 = spark.read.format("graft").option("versionAsOf", "0")
      .load(s"$root/tt")
    assert(sorted(v0) == sorted(store.readVersion("tt", 0)))
    assert(v0.count() == 1)
  }

  test("catalog: SELECT / VERSION AS OF / INSERT / CTAS / DROP with no front door") {
    val root = tmpDir("dsv2c")
    val store = new TableStore(spark, root)
    store.create("c", Seq((1L, "a", 2.0), (2L, "b", 3.0), (3L, "a", 4.0))
      .toDF("id", "g", "x"))
    store.append("c", Seq((4L, "b", 5.0)).toDF("id", "g", "x"))
    spark.conf.set("spark.sql.catalog.gcat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcat.root", root)

    // plain SELECT with aggregation resolves through the catalog
    val agg = spark.sql(
      "SELECT g, count(*) AS n, sum(x) AS sx FROM gcat.c GROUP BY g ORDER BY g")
      .as[(String, Long, Double)].collect().toSeq
    assert(agg == Seq(("a", 2L, 6.0), ("b", 2L, 8.0)))

    // native time travel
    assert(spark.sql("SELECT count(*) AS n FROM gcat.c VERSION AS OF 0")
      .as[Long].head() == 3L)

    // INSERT INTO lands as a store commit (visible to the graft API)
    spark.sql("INSERT INTO gcat.c VALUES (5, 'c', 6.0)")
    assert(store.read("c").count() == 5)
    assert(store.currentVersion("c").contains(2L))

    // CTAS through the catalog creates a real store table
    spark.sql("CREATE TABLE gcat.c2 AS SELECT id, x FROM gcat.c WHERE g = 'a'")
    assert(store.exists("c2"))
    assert(sorted(spark.sql("SELECT * FROM gcat.c2")) ==
      sorted(store.read("c").where(col("g") === "a").select("id", "x")))

    // INSERT OVERWRITE = truncate-overwrite commit
    spark.sql("INSERT OVERWRITE gcat.c2 VALUES (9, 1.5)")
    assert(sorted(store.read("c2")) == Seq(org.apache.spark.sql.Row(9L, 1.5)))

    spark.sql("DROP TABLE gcat.c2")
    assert(!store.exists("c2"))
    assert(spark.sql("SHOW TABLES IN gcat").collect()
      .map(_.getString(1)).toSeq.contains("c"))
  }

  test("materialized views serve CONSOLIDATED rows; writes and time travel refused") {
    val root = tmpDir("dsv2mv")
    val store = new TableStore(spark, root)
    store.create("src", (1 to 30).map(i => (i.toLong, "g" + (i % 3), i * 1.0))
      .toDF("id", "g", "x"))
    graft.lake.MaterializedView.create(store, "m", "src", Seq("g"), Seq("x"))
    store.append("src", Seq((31L, "g0", 5.0)).toDF("id", "g", "x"))
    graft.lake.MaterializedView.refresh(store, "m")
    spark.conf.set("spark.sql.catalog.gmv", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gmv.root", root)
    // a vanilla reader sees the consolidated view, never the signed
    // partial rows (which would double-count across refresh batches)
    val viaCat = sorted(spark.sql("SELECT g, cnt, sum_x FROM gmv.m"))
    val viaApi = sorted(graft.lake.MaterializedView.read(store, "m")
      .select("g", "cnt", "sum_x"))
    assert(viaCat == viaApi)
    val viaFmt = spark.read.format("graft").load(s"$root/m")
    assert(sorted(viaFmt.select("g", "cnt", "sum_x")) == viaApi)
    // raw appends would corrupt the partial algebra — refused
    intercept[Exception] {
      spark.sql("INSERT INTO gmv.m VALUES ('g9', 1, 1.0)")
    }
    // time travel over partials is not meaningful — refused loudly
    intercept[Exception] {
      spark.sql("SELECT * FROM gmv.m VERSION AS OF 0").collect()
    }
  }

  test("catalog MV lifecycle: drop removes the def companion; companions are shielded") {
    val root = tmpDir("dsv2mvlc")
    val store = new TableStore(spark, root)
    store.create("src", (1 to 12).map(i => (i.toLong, "g" + (i % 2), i * 1.0))
      .toDF("id", "g", "x"))
    graft.lake.MaterializedView.create(store, "m", "src", Seq("g"), Seq("x"))
    spark.conf.set("spark.sql.catalog.glc", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.glc.root", root)

    // a live view's companion: hidden from SHOW TABLES, refuses
    // direct writes and a standalone drop
    val listed = spark.sql("SHOW TABLES IN glc").collect()
      .map(_.getString(1)).toSet
    assert(listed.contains("m") && !listed.contains("m__def"),
      s"live companion must be hidden from SHOW TABLES: $listed")
    intercept[Exception] {
      spark.sql("INSERT INTO glc.m__def VALUES " +
        "('x','g','x','','','','','','','')")
    }
    assert(store.read("m__def").count() == 1,
      "refused INSERT must leave the definition row intact")
    intercept[Exception] { spark.sql("DROP TABLE glc.m__def") }
    assert(store.exists("m__def"))

    // DROP TABLE on the VIEW through the catalog removes BOTH tables
    // — no orphan def to reclassify a later plain table
    spark.sql("DROP TABLE glc.m")
    assert(!store.exists("m") && !store.exists("m__def"),
      "catalog drop of an MV must remove the def companion too")

    // CREATE TABLE over an ORPHAN def clears the residue: the new
    // plain table must NOT be reclassified as a materialized view
    graft.lake.MaterializedView.create(store, "m2", "src", Seq("g"), Seq("x"))
    store.drop("m2") // crash-shaped: view gone, def orphaned
    assert(store.exists("m2__def"))
    spark.sql("CREATE TABLE glc.m2 AS SELECT id, x FROM glc.src WHERE g = 'g0'")
    assert(!store.exists("m2__def"),
      "orphan def must be cleared by catalog CREATE")
    assert(sorted(spark.sql("SELECT id, x FROM glc.m2")) ==
      sorted(store.read("src").where(col("g") === "g0").select("id", "x")),
      "new plain table must serve its raw rows, not consolidate")

    // creating `<x>__def` beside an existing plain table is refused —
    // it would reclassify x as an MV
    intercept[Exception] {
      spark.sql("CREATE TABLE glc.m2__def AS SELECT id FROM glc.src")
    }
    assert(!store.exists("m2__def"))
  }

  test("catalog ALTER TABLE: ADD / RENAME / DROP COLUMN, all metadata-only") {
    val root = tmpDir("dsv2alter")
    val store = new TableStore(spark, root)
    store.create("a", Seq((1L, "x"), (2L, "y")).toDF("id", "s"))
    spark.conf.set("spark.sql.catalog.gal", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gal.root", root)
    val v0 = store.currentVersion("a").get
    spark.sql("ALTER TABLE gal.a ADD COLUMNS (score DOUBLE, tag STRING)")
    // metadata-only: ONE commit, no data rewrite
    assert(store.currentVersion("a").get == v0 + 1)
    spark.sql("INSERT INTO gal.a VALUES (3L, 'z', 1.5, 't')")
    val got = spark.sql(
      "SELECT id, s, score, tag FROM gal.a ORDER BY id")
      .as[(Long, String, Option[Double], Option[String])].collect().toSeq
    assert(got == Seq((1L, "x", None, None), (2L, "y", None, None),
      (3L, "z", Some(1.5), Some("t"))),
      s"old rows must backfill NULL: $got")
    // RENAME/DROP COLUMN land as the store's column-mapping commits:
    // files keep the physical name, reads serve the logical one
    val v2 = store.currentVersion("a").get
    spark.sql("ALTER TABLE gal.a RENAME COLUMN s TO label")
    spark.sql("ALTER TABLE gal.a DROP COLUMN tag")
    assert(store.currentVersion("a").get == v2 + 2, "two metadata commits")
    assert(store.read("a").columns.toSeq == Seq("id", "label", "score"))
    assert(spark.sql("SELECT label FROM gal.a WHERE id = 1")
      .as[String].collect().toSeq == Seq("x"))
    // still refused: NOT NULL adds, and the store's own guards hold
    // (e.g. a rename that collides with a live name)
    intercept[Exception] {
      spark.sql("ALTER TABLE gal.a ADD COLUMNS (bad INT NOT NULL)")
    }
    intercept[Exception] {
      spark.sql("ALTER TABLE gal.a RENAME COLUMN label TO score")
    }
    assert(store.currentVersion("a").get == v2 + 2,
      "refused changes must not commit")
    assert(store.read("a").columns.toSeq == Seq("id", "label", "score"))
  }

  test("TRUNCATE TABLE is one atomic empty commit; history survives") {
    val root = tmpDir("dsv2trunc")
    val store = new TableStore(spark, root)
    store.create("tr", Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    spark.conf.set("spark.sql.catalog.gtr", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gtr.root", root)
    val v0 = store.currentVersion("tr").get
    spark.sql("TRUNCATE TABLE gtr.tr")
    assert(store.read("tr").count() == 0)
    assert(store.currentVersion("tr").get == v0 + 1, "one commit")
    // the pre-truncate state stays time-travelable
    assert(spark.sql(s"SELECT * FROM gtr.tr VERSION AS OF $v0").count() == 2)
    // a materialized view refuses — raw emptiness would corrupt the
    // partial algebra
    graft.lake.MaterializedView.create(store, "tr_mv", "tr",
      Seq("s"), Seq("id"))
    val e = intercept[Exception] { spark.sql("TRUNCATE TABLE gtr.tr_mv") }
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("materialized view"))))
  }

  test("catalog INSERT OVERWRITE PARTITION rewrites only the touched partition") {
    val root = tmpDir("dsv2ow")
    val store = new TableStore(spark, root)
    // partition column LAST: v2 INSERT appends static PARTITION
    // values after the query columns in by-position resolution
    store.create("t", Seq((1L, 1.0, "a"), (2L, 2.0, "a"), (3L, 3.0, "b"))
      .toDF("id", "x", "p"), partitionBy = Seq("p"))
    spark.conf.set("spark.sql.catalog.gow", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gow.root", root)
    val m0 = store.manifest("t", store.currentVersion("t").get)
    val aFiles = m0.filter(_.contains("p=a")).toSet
    spark.sql("INSERT OVERWRITE gow.t PARTITION (p = 'b') VALUES " +
      "(9L, 9.5), (10L, 10.5)")
    val m1 = store.manifest("t", store.currentVersion("t").get)
    assert(m1.filter(_.contains("p=a")).toSet == aFiles,
      "untouched partition must carry by reference, not rewrite")
    assert(!m1.exists(m0.filter(_.contains("p=b")).toSet),
      "touched partition's old files must be superseded")
    val got = store.read("t").select("id", "p", "x")
      .as[(Long, String, Double)].collect().toSeq.sortBy(_._1)
    assert(got == Seq((1L, "a", 1.0), (2L, "a", 2.0), (9L, "b", 9.5),
      (10L, "b", 10.5)))
    // filterless INSERT OVERWRITE stays the whole-table truncate commit
    spark.sql("INSERT OVERWRITE gow.t VALUES (7L, 7.0, 'c')")
    assert(store.read("t").count() == 1)
    assert(store.partitioning("t") == Seq("p"))
    // special characters in the partition value: the declared dir must
    // use Spark's hive-path escaping or the commit's requireWithin
    // check rejects every file of a legal statement
    spark.sql("INSERT INTO gow.t VALUES (20L, 20.0, 'a:b')")
    spark.sql("INSERT OVERWRITE gow.t PARTITION (p = 'a:b') VALUES " +
      "(21L, 21.0)")
    assert(store.read("t").where(col("p") === "a:b")
      .select("id").as[Long].collect().toSeq == Seq(21L))
    assert(store.read("t").count() == 2)
  }

  test("a time-travel table reports the layout of its pinned version") {
    val store = new TableStore(spark, tmpDir("dsv2parts"))
    store.create("t", Seq((1L, "a")).toDF("id", "p"), partitionBy = Seq("p"))
    store.setPartitioning("t", Nil)
    def layout(v: Long): Seq[String] = new GraftTable(store, "t", v)
      .partitioning().toSeq.flatMap(_.references().toSeq.flatMap(_.fieldNames().toSeq))
    assert(layout(0L) == Seq("p"))
    assert(layout(1L).isEmpty)
  }

  test("catalog TIMESTAMP AS OF resolves by commit time") {
    val root = tmpDir("dsv2ts")
    val store = new TableStore(spark, root)
    store.create("h", Seq((1L, "a")).toDF("id", "s"))
    Thread.sleep(5)
    val betweenMs = System.currentTimeMillis()
    Thread.sleep(5)
    store.append("h", Seq((2L, "b")).toDF("id", "s"))
    spark.conf.set("spark.sql.catalog.gts", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gts.root", root)
    val ts = new java.sql.Timestamp(betweenMs).toString
    assert(spark.sql(
      s"SELECT count(*) AS n FROM gts.h TIMESTAMP AS OF '$ts'")
      .as[Long].head() == 1L)
  }
}
