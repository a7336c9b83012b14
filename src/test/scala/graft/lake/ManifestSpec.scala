package graft.lake

import graft.SparkSpec

/** The manifest codec ([[Manifest]]) and the one loader behind it:
  * the text layout a commit writes, the pre-header manifests it still
  * reads, and how often each operation opens a version's manifest. */
class ManifestSpec extends SparkSpec {
  import spark.implicits._

  test("render writes the headers in a fixed order, then the lines") {
    val m = Manifest(Seq("f1", Manifest.delLine("k1"), Manifest.dvLine("v1")),
      op = "APPEND", ts = Some(5L), schema = Some("{}"), colmap = Some("a:b"),
      txns = Seq("app" -> 3L), ingest = Seq(Manifest.ingestLine(7L, "s/x"),
        Manifest.ingestWmLine(8L, "s")))
    assert(m.render == Seq("#ts=5", "#op=APPEND", "#schema={}", "#colmap=a:b",
      "#txn=app:3", "#ingest=7\ts/x", "#ingestwm=8\ts", "f1", "del|k1",
      "dv|v1").mkString("\n"))
    assert(Manifest.parse(m.render) == m)
    assert(m.data == Seq("f1") && m.dels == Seq("k1") && m.dvs == Seq("v1"))
    assert(m.ingestState == TableStore.IngestState(Map("s/x" -> 7L), Map("s" -> 8L)))
  }

  test("a manifest without headers parses as a pre-header version") {
    val m = Manifest.parse("  f1 \n\n#unknown=1\ndel|k1")
    assert(m == Manifest(Seq("f1", "del|k1")))
    assert(m.op == "WRITE" && m.ts.isEmpty && m.physicalSchema.isEmpty)
    assert(m.columnMapping.isEmpty && m.txns.isEmpty && m.ingest.isEmpty)
  }

  test("render refuses values that would break the line format") {
    intercept[IllegalArgumentException](Manifest(txns = Seq("a:b" -> 1L)).render)
    intercept[IllegalArgumentException](Manifest(op = "A\nB").render)
    intercept[IllegalArgumentException](Manifest(ingest = Seq("#ts=1")).render)
    intercept[IllegalArgumentException](Manifest.ingestLine(1L, "a\tb"))
  }

  private def loads[A](body: => A): Long = {
    MetaMetrics.manifestLoads.set(0)
    body
    MetaMetrics.manifestLoads.get()
  }

  test("a read loads its manifest once and an append at most twice") {
    val store = new TableStore(spark, tmpDir("mload"))
    store.create("t", Seq((1, "a")).toDF("id", "v"))
    store.append("t", Seq((2, "b")).toDF("id", "v"))
    assert(loads(store.read("t").count()) == 1L)
    // one load before the claim (the write's column mapping), one in it
    assert(loads(store.append("t", Seq((3, "c")).toDF("id", "v"))) <= 2L)
    assert(store.read("t").count() == 3L)
  }

  test("a steady-state lastTxn answers from the head manifest alone") {
    val store = new TableStore(spark, tmpDir("mload"))
    store.createTxn("t", Seq(1).toDF("id"), "app", 0L)
    (1L to 5L).foreach(b => store.appendTxn("t", Seq(b.toInt).toDF("id"), "app", b))
    assert(loads(assert(store.lastTxn("t", "app").contains(5L))) == 1L)
  }

  test("overwritePartitions loads the current manifest once before its claim") {
    val store = new TableStore(spark, tmpDir("mload"))
    store.create("t", Seq((1, "a"), (2, "b")).toDF("id", "p"),
      partitionBy = Seq("p"))
    store.append("t", Seq((3, "a")).toDF("id", "p"))
    // one load for the debt check, the layout check and the write's
    // column mapping, one in the claim
    assert(loads(store.overwritePartitions("t", Seq((4, "a")).toDF("id", "p"),
      Seq("p=a"))) <= 2L)
    assert(store.read("t").select("id").as[Int].collect().sorted.toSeq ==
      Seq(2, 4))
  }

  // a txn commit's replay check reads the claim's loaded head: one
  // load before the claim (the write's column mapping), one in it
  test("a steady-state appendTxn loads at most twice") {
    val store = new TableStore(spark, tmpDir("mload"))
    store.createTxn("t", Seq(0).toDF("id"), "a", 0L)
    store.appendTxn("t", Seq(1).toDF("id"), "a", 1L)
    assert(loads(store.appendTxn("t", Seq(2).toDF("id"), "a", 2L)) <= 2L)
    assert(loads(store.appendTxn("t", Seq(2).toDF("id"), "a", 2L)) <= 2L)
    assert(store.read("t").count() == 3L)
    assert(store.lastTxn("t", "a").contains(2L))
  }

  test("a steady-state two-app appendTxns resolves both apps in one walk") {
    val store = new TableStore(spark, tmpDir("mload"))
    store.createTxns("t", Seq(0).toDF("id"), Seq("a" -> 0L, "b" -> 0L))
    store.appendTxns("t", Seq(1).toDF("id"), Seq("a" -> 1L, "b" -> 1L))
    assert(loads(store.appendTxns("t", Seq(2).toDF("id"),
      Seq("a" -> 2L, "b" -> 2L))) <= 2L)
    // a replayed vector and a zombie crossing newer work both no-op
    store.appendTxns("t", Seq(9).toDF("id"), Seq("a" -> 2L, "b" -> 2L))
    store.appendTxns("t", Seq(9).toDF("id"), Seq("a" -> 3L, "b" -> 1L))
    store.appendTxn("t", Seq(3).toDF("id"), "a", 3L)
    // b's watermark now sits one version down: the walk continues to it
    store.appendTxns("t", Seq(9).toDF("id"), Seq("a" -> 3L, "b" -> 2L))
    store.appendTxns("t", Seq(9).toDF("id"), Seq("a" -> 4L, "b" -> 1L))
    assert(store.read("t").select("id").as[Int].collect().sorted.toSeq ==
      Seq(0, 1, 2, 3))
    assert(store.lastTxn("t", "a").contains(3L))
    assert(store.lastTxn("t", "b").contains(2L))
  }

  test("a change feed over three appends loads each version once") {
    val store = new TableStore(spark, tmpDir("mload"))
    store.create("t", Seq(0).toDF("id"))
    val v0 = store.currentVersion("t").get
    (1 to 3).foreach(i => store.append("t", Seq(i).toDF("id")))
    var feed: org.apache.spark.sql.DataFrame = null
    assert(loads { feed = store.changes("t", v0, v0 + 3) } == 4L)
    assert(feed.select("id").as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
  }
}
