package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Table metadata — the partition layout, CHECK constraints and RELY
  * keys — lives in the manifest (`#parts=`, `#check=`, `#key=`), so it
  * is versioned with the data and published by the same claim: a
  * declaration serializes against data commits, RESTORE and clone
  * take the metadata of the version they name, and a failed publish
  * leaves nothing behind. */
class TableMetadataSpec extends SparkSpec {
  import spark.implicits._

  private def conf = spark.sessionState.newHadoopConf()

  /** (injected store, plain store over the same root, the injector). */
  private def racingStores(): (TableStore, TableStore, RaceInjector) = {
    val root = tmpDir("meta-race")
    val inj = new RaceInjector(new HadoopCommitPrimitive(conf))
    (new TableStore(spark, root, Some(inj)), new TableStore(spark, root), inj)
  }

  /** Rows of `table` some declared CHECK constraint rejects. */
  private def violations(store: TableStore, table: String): Long =
    store.constraints(table).values.map(sql =>
      store.read(table).where(!coalesce(expr(sql), lit(true))).count()).sum

  test("an append parked while ADD CONSTRAINT lands conflicts instead of publishing") {
    val (store, plain, inj) = racingStores()
    store.create("t", Seq(1, 2).toDF("id"))
    // the append has written and validated its batch under no
    // constraint; the declaration commits before the append claims
    inj.hook = () => plain.addConstraint("t", "pos", "id > 0")
    inj.armed = true
    intercept[SnapshotConflictException] {
      store.append("t", Seq(-1).toDF("id"))
    }
    assert(store.constraints("t") == Map("pos" -> "id > 0"))
    assert(store.read("t").where($"id" <= 0).count() == 0)
    // the retried append validates under the constraint and is refused
    intercept[IllegalArgumentException] { store.append("t", Seq(-1).toDF("id")) }
    assert(violations(store, "t") == 0 && store.read("t").count() == 2)
  }

  test("ADD CONSTRAINT parked while an append lands validates again and refuses") {
    val (store, plain, inj) = racingStores()
    store.create("t", Seq(1, 2).toDF("id"))
    // the declaration has validated version 0; the append of a row it
    // rejects commits before the declaration claims
    inj.hook = () => plain.append("t", Seq(-1).toDF("id"))
    inj.armed = true
    val e = intercept[IllegalArgumentException] {
      store.addConstraint("t", "pos", "id > 0")
    }
    assert(e.getMessage.contains("existing row"))
    assert(store.constraints("t").isEmpty)
    assert(store.read("t").count() == 3)
  }

  test("RESTORE brings back the restored version's constraints with its rows") {
    val store = new TableStore(spark, tmpDir("meta-restore"))
    store.create("t", Seq(1, 2).toDF("id"))
    store.append("t", Seq(-1).toDF("id"))
    store.deleteWhere("t", $"id" <= 0)
    store.addConstraint("t", "pos", "id > 0")
    store.restore("t", 1L)
    assert(store.read("t").count() == 3)
    assert(violations(store, "t") == 0)
    // version 1 declared no constraint, so none is declared now
    assert(store.constraints("t").isEmpty)
    // restoring a version that declared it brings it back
    store.restore("t", 3L)
    assert(store.constraints("t") == Map("pos" -> "id > 0"))
    assert(violations(store, "t") == 0 && store.read("t").count() == 2)
  }

  test("a failed manifest publish leaves the layout, CHECK set and keys as they were") {
    val root = tmpDir("meta-crash")
    val crash = new Crashable(new HadoopCommitPrimitive(conf))
    val store = new TableStore(spark, root, Some(crash))
    // a create whose publish fails leaves no table and no layout: the
    // table a later append creates is unpartitioned
    crash.failNextPublish = true
    intercept[RuntimeException] {
      store.create("c", Seq((1, "a")).toDF("id", "p"), partitionBy = Seq("p"))
    }
    assert(!store.exists("c"))
    store.append("c", Seq((1, "a")).toDF("id", "p"))
    assert(store.partitioning("c").isEmpty)

    store.create("t", Seq((1, "a"), (2, "b")).toDF("id", "p"),
      partitionBy = Seq("p"))
    store.addConstraint("t", "pos", "id > 0")
    store.setKeyConstraint("t", "pk", Seq("id"))
    def state = (store.currentVersion("t"), store.partitioning("t"),
      store.constraints("t"), store.uniqueKeys("t"))
    val before = state
    Seq[(String, () => Unit)](
      "setPartitioning" -> (() => store.setPartitioning("t", Nil)),
      "addConstraint" -> (() => store.addConstraint("t", "small", "id < 100")),
      "setKeyConstraint" -> (() => store.setKeyConstraint("t", "uq", Seq("p"), unique = true)),
      "dropConstraint" -> (() => store.dropConstraint("t", "pos"))
    ).foreach { case (what, declare) =>
      crash.failNextPublish = true
      intercept[RuntimeException](declare())
      assert(state == before, s"a failed $what changed the table metadata")
    }
    // the released claims leave the table writable
    store.setPartitioning("t", Nil)
    assert(store.partitioning("t").isEmpty)
  }

  test("eight concurrent ADD CONSTRAINTs keep all eight") {
    val root = tmpDir("meta-eight")
    new TableStore(spark, root).create("t", (1 to 10).toDF("id"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      (1 to 8).map { i =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit =
            new TableStore(spark, root).addConstraint("t", s"c$i", s"id > -$i")
        })
      }.foreach(_.get(5, java.util.concurrent.TimeUnit.MINUTES))
    } finally pool.shutdown()
    val store = new TableStore(spark, root)
    assert(store.constraints("t").keySet == (1 to 8).map(i => s"c$i").toSet)
    assert(store.versions("t") == (0L to 8L))
  }

  test("SHALLOW CLONE carries constraints, keys and layout and runs no Spark job") {
    val store = new TableStore(spark, tmpDir("meta-clone"))
    store.create("ref", Seq(1, 2).toDF("id"))
    store.create("src", Seq((1, "a"), (2, "b")).toDF("id", "p"),
      partitionBy = Seq("p"))
    store.addConstraint("src", "pos", "id > 0")
    store.setKeyConstraint("src", "pk", Seq("id"))
    store.addForeignKey("src", "fk", Seq("id"), "ref", Seq("id"))
    assert(jobsDuring(store.cloneTable("src", "dst")) == 0)
    assert(store.constraints("dst") == Map("pos" -> "id > 0"))
    assert(store.uniqueKeys("dst") == Seq(Seq("id")))
    assert(store.foreignKeys("dst") == Seq(("fk", Seq("id"), "ref", Seq("id"))))
    assert(store.partitioning("dst") == Seq("p"))
    intercept[IllegalArgumentException] {
      store.append("dst", Seq((-1, "a")).toDF("id", "p"))
    }
    // one DROP CONSTRAINT drops either kind; an unknown name is a no-op
    assert(store.dropConstraint("dst", "pk") && store.uniqueKeys("dst").isEmpty)
    assert(store.dropConstraint("dst", "pos") && store.constraints("dst").isEmpty)
    assert(!store.dropConstraint("dst", "nope"))
    assert(store.uniqueKeys("src") == Seq(Seq("id")))
    // no operation writes a metadata file beside the manifests
    val sidecars = Set("_PARTITIONING", "_CONSTRAINTS", "_RELY")
    Seq("ref", "src", "dst").foreach { t =>
      val names = new java.io.File(store.rootPath, t).list().toSet
      assert((names & sidecars).isEmpty, s"$t holds ${names & sidecars}")
    }
  }

  test("a table written before the headers reads its sidecars, then folds them in") {
    val root = tmpDir("meta-legacy")
    val store = new TableStore(spark, root)
    store.create("t", Seq((1, "a"), (2, "b")).toDF("id", "p"),
      partitionBy = Seq("p"))
    // make it look like a pre-header table: the manifest loses its
    // #parts= line and the metadata sits in the three old files
    val dir = Paths.get(root, "t")
    def write(name: String, text: String): Unit =
      Files.write(dir.resolve(name), text.getBytes(StandardCharsets.UTF_8))
    def read(name: String): String =
      new String(Files.readAllBytes(dir.resolve(name)), StandardCharsets.UTF_8)
    write("manifest-0", read("manifest-0").split("\n")
      .filterNot(_.startsWith("#parts=")).mkString("\n"))
    write("_PARTITIONING", "p")
    write("_CONSTRAINTS", "pos\tid > 0")
    write("_RELY", "pk\tpk\tid")
    assert(store.partitioning("t") == Seq("p"))
    assert(store.constraints("t") == Map("pos" -> "id > 0"))
    assert(store.uniqueKeys("t") == Seq(Seq("id")))
    intercept[IllegalArgumentException] {
      store.append("t", Seq((-1, "a")).toDF("id", "p"))
    }
    // the next commit writes them as headers
    store.append("t", Seq((3, "b")).toDF("id", "p"))
    val m1 = read("manifest-1").split("\n").toSeq
    assert(m1.contains("#parts=p") && m1.contains("#check=pos\tid > 0") &&
      m1.contains("#key=pk\tpk\tid"))
    Seq("_PARTITIONING", "_CONSTRAINTS", "_RELY").foreach(n => Files.delete(dir.resolve(n)))
    assert(store.partitioning("t") == Seq("p"))
    assert(store.constraints("t") == Map("pos" -> "id > 0"))
    assert(store.uniqueKeys("t") == Seq(Seq("id")))
    assert(store.read("t").count() == 3)
  }
}
