package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.functions._

class GraftSqlSpec extends SparkSpec {
  import spark.implicits._

  test("MERGE INTO ... WHEN MATCHED THEN DELETE executes on the store") {
    val store = new TableStore(spark, tmpDir("gsql"))
    store.create("dest", Seq(("k1", 1), ("k2", 2), ("k3", 3)).toDF("pk", "v"))
    Seq("k1", "k3").toDF("pk").createOrReplaceTempView("input_data_updates")
    // the reference's literal statement shape (icberg/iceberg_tables.py:45-50)
    val out = GraftSql.execute(spark, store,
      """MERGE INTO dest t USING input_data_updates u
        |ON t.pk = u.pk
        |WHEN MATCHED THEN DELETE""".stripMargin)
    assert(out.select("pk").as[String].collect().toSeq == Seq("k2"))
    // committed, not just returned
    assert(store.read("dest").count() == 1)
    assert(store.currentVersion("dest").contains(1L))
  }

  test("compound equi-condition extracts all keys") {
    val store = new TableStore(spark, tmpDir("gsql"))
    store.create("d2", Seq(("a", 1, "x"), ("a", 2, "y"), ("b", 1, "z"))
      .toDF("k1", "k2", "v"))
    Seq(("a", 1)).toDF("k1", "k2").createOrReplaceTempView("upd2")
    GraftSql.execute(spark, store,
      "MERGE INTO d2 t USING upd2 u ON t.k1 = u.k1 AND t.k2 = u.k2 " +
        "WHEN MATCHED THEN DELETE")
    assert(store.read("d2").select("v").as[String].collect().sorted
      .toSeq == Seq("y", "z"))
  }

  test("ANALYZE TABLE serves exact column stats without opening a data file") {
    val store = new TableStore(spark, tmpDir("gsql"))
    store.create("prof", Seq(
      (1L, Option(2.5), Option("a")),
      (2L, Option.empty[Double], Option("b")),
      (3L, Option(-1.25), Option.empty[String])).toDF("k", "x", "s"))
    // a second commit so the fold spans several files' sidecars
    store.append("prof", Seq((9L, Option(7.0), Option("c"))).toDF("k", "x", "s"))
    val out = GraftSql.execute(spark, store,
      "ANALYZE TABLE prof COMPUTE STATISTICS")
    // no file scan anywhere in the plan: the stats come from the
    // sidecar, never from reading the table
    assert(out.queryExecution.executedPlan.collectWithSubqueries {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.isEmpty, "ANALYZE must not scan data files")
    val rows = out.collect().map(r => r.getString(0) ->
      ((r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        if (r.isNullAt(4)) None else Some(r.getDouble(4))))).toMap
    assert(rows("k") == ((4L, 0L, Some(1.0), Some(9.0))))
    assert(rows("x") == ((4L, 1L, Some(-1.25), Some(7.0))))
    // string column: exact null count, numeric bounds unknown
    assert(rows("s") == ((4L, 1L, None, None)))
    // FOR COLUMNS restricts the report
    val only = GraftSql.execute(spark, store,
      "ANALYZE TABLE prof COMPUTE STATISTICS FOR COLUMNS (x)")
      .collect().map(_.getString(0)).toSeq
    assert(only == Seq("x"))
  }

  test("ANALYZE TABLE speaks logical names under rename and hides drops") {
    val store = new TableStore(spark, tmpDir("gsql"))
    store.create("prof2", Seq((1L, 2.0, "a"), (2L, 4.0, "b"))
      .toDF("k", "x", "s"))
    GraftSql.execute(spark, store, "ALTER TABLE prof2 RENAME COLUMN x TO y")
    GraftSql.execute(spark, store, "ALTER TABLE prof2 DROP COLUMN s")
    val all = GraftSql.execute(spark, store,
      "ANALYZE TABLE prof2 COMPUTE STATISTICS")
      .collect().map(_.getString(0)).toSeq
    // renamed column reports under its LOGICAL name; dropped is hidden
    assert(all == Seq("k", "y"), s"got $all")
    // FOR COLUMNS takes the logical name and resolves the rename
    val y = GraftSql.execute(spark, store,
      "ANALYZE TABLE prof2 COMPUTE STATISTICS FOR COLUMNS (y)")
      .collect().map(r => (r.getString(0), r.getDouble(3), r.getDouble(4)))
    assert(y.toSeq == Seq(("y", 2.0, 4.0)))
  }

  test("DESCRIBE VECTOR INDEX profiles per-list counts through the front door") {
    val store = new TableStore(spark, tmpDir("gsql"))
    val emb = (0 until 80).map { i =>
      (i.toLong, Array.tabulate(8)(d => (i % 4) * 10.0f + d * 0.1f))
    }.toDF("vec_id", "embedding")
    graft.ops.VectorIndex.buildIvfIndex(store, "vx", emb, nlist = 4,
      kmeansIters = 1)
    val out = GraftSql.execute(spark, store, "DESCRIBE VECTOR INDEX vx")
    val rows = out.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty && rows.map(_._3).sum == 80L)
    intercept[IllegalArgumentException] {
      GraftSql.execute(spark, store, "DESCRIBE VECTOR INDEX nope")
    }
  }

  test("non-MERGE statements delegate to spark.sql") {
    val r = GraftSql.execute(spark, new TableStore(spark, tmpDir("gsql")),
      "SELECT 1 + 1 AS two")
    assert(r.as[Int].head() == 2)
  }

  test("conditional WHEN MATCHED AND <cond> THEN DELETE filters the matches") {
    val store = new TableStore(spark, tmpDir("gsql"))
    store.create("dc", Seq(("k1", 1), ("k2", 2), ("k3", 3)).toDF("pk", "v"))
    Seq(("k1", 10), ("k3", 1)).toDF("pk", "uv")
      .createOrReplaceTempView("updc")
    // k1 matched with uv=10 → deleted; k3 matched with uv=1 → kept
    GraftSql.execute(spark, store,
      "MERGE INTO dc t USING updc u ON t.pk = u.pk " +
        "WHEN MATCHED AND u.uv > 5 THEN DELETE")
    assert(store.read("dc").select("pk").as[String].collect().sorted
      .toSeq == Seq("k2", "k3"))
  }

  test("matched condition can reference the target side") {
    val store = new TableStore(spark, tmpDir("gsql"))
    store.create("dt", Seq(("k1", 1), ("k2", 8)).toDF("pk", "v"))
    Seq("k1", "k2").toDF("pk").createOrReplaceTempView("updt")
    GraftSql.execute(spark, store,
      "MERGE INTO dt t USING updt u ON t.pk = u.pk " +
        "WHEN MATCHED AND t.v > 5 THEN DELETE")
    assert(store.read("dt").select("pk").as[String].collect().toSeq == Seq("k1"))
  }

  test("WHEN NOT MATCHED THEN INSERT * appends unmatched source rows") {
    val store = new TableStore(spark, tmpDir("gsql"))
    store.create("di", Seq(("k1", 1)).toDF("pk", "v"))
    Seq(("k1", 99), ("k4", 4)).toDF("pk", "v")
      .createOrReplaceTempView("updi")
    // k1 matched (no matched action → untouched), k4 inserted
    GraftSql.execute(spark, store,
      "MERGE INTO di t USING updi u ON t.pk = u.pk " +
        "WHEN NOT MATCHED THEN INSERT *")
    assert(store.read("di").orderBy("pk").as[(String, Int)].collect()
      .toSeq == Seq(("k1", 1), ("k4", 4)))
  }

  test("delete + conditional insert compose as one atomic commit") {
    val store = new TableStore(spark, tmpDir("gsql"))
    store.create("dx", Seq(("k1", 1), ("k2", 2)).toDF("pk", "v"))
    Seq(("k1", 0), ("k4", 40), ("k5", 1)).toDF("pk", "v")
      .createOrReplaceTempView("updx")
    val v0 = store.currentVersion("dx").get
    // k1 deleted; k4 inserted (v>5); k5 NOT inserted (v=1)
    GraftSql.execute(spark, store,
      "MERGE INTO dx t USING updx u ON t.pk = u.pk " +
        "WHEN MATCHED THEN DELETE " +
        "WHEN NOT MATCHED AND u.v > 5 THEN INSERT *")
    assert(store.read("dx").orderBy("pk").as[(String, Int)].collect()
      .toSeq == Seq(("k2", 2), ("k4", 40)))
    assert(store.currentVersion("dx").get == v0 + 1)
  }

  test("subquery merge sources keep their predicates, never silently widened") {
    val store = new TableStore(spark, tmpDir("gsql"))
    store.create("ds", Seq(("k1", 1), ("k2", 2)).toDF("pk", "v"))
    Seq(("k1", 9), ("k2", 1)).toDF("pk", "v").createOrReplaceTempView("upds")
    // compiling this from the NAME alone would drop the batch filter
    // and merge against the whole updates table (deleting k2 too)
    GraftSql.execute(spark, store,
      "MERGE INTO ds t USING (SELECT * FROM upds WHERE v > 5) u " +
        "ON t.pk = u.pk WHEN MATCHED THEN DELETE")
    assert(store.read("ds").select("pk").as[String].collect().toSeq ==
      Seq("k2"))
    assert(store.currentVersion("ds").contains(1L))
  }

  test("WHEN MATCHED THEN UPDATE SET applies multi-assignments to matched rows") {
    val store = new TableStore(spark, tmpDir("gsql"))
    store.create("du", Seq(("k1", 1, "a"), ("k2", 2, "b"), ("k3", 3, "c"))
      .toDF("pk", "v", "tag"))
    Seq(("k1", 10), ("k3", 30)).toDF("pk", "uv")
      .createOrReplaceTempView("updu")
    // assignments may mix source refs, target refs, and literals;
    // unassigned columns (pk) carry through
    GraftSql.execute(spark, store,
      "MERGE INTO du t USING updu u ON t.pk = u.pk " +
        "WHEN MATCHED THEN UPDATE SET v = u.uv + t.v, tag = concat(t.tag, '!')")
    assert(store.read("du").orderBy("pk").as[(String, Int, String)].collect()
      .toSeq == Seq(("k1", 11, "a!"), ("k2", 2, "b"), ("k3", 33, "c!")))
  }

  test("conditional UPDATE leaves non-qualifying matched rows untouched") {
    val store = new TableStore(spark, tmpDir("gsql"))
    store.create("dcu", Seq(("k1", 1), ("k2", 2)).toDF("pk", "v"))
    Seq(("k1", 100), ("k2", 1)).toDF("pk", "uv")
      .createOrReplaceTempView("updcu")
    GraftSql.execute(spark, store,
      "MERGE INTO dcu t USING updcu u ON t.pk = u.pk " +
        "WHEN MATCHED AND u.uv > 50 THEN UPDATE SET v = u.uv")
    assert(store.read("dcu").orderBy("pk").as[(String, Int)].collect()
      .toSeq == Seq(("k1", 100), ("k2", 2)))
  }

  test("matched actions fire in declaration order, first condition wins") {
    val store = new TableStore(spark, tmpDir("gsql"))
    store.create("dord", Seq(("k1", 8), ("k2", 6), ("k3", 1))
      .toDF("pk", "v"))
    Seq("k1", "k2", "k3").toDF("pk").createOrReplaceTempView("updord")
    // k1 (v=8) satisfies BOTH actions → the earlier DELETE wins;
    // k2 (v=6) only the UPDATE; k3 (v=1) neither → untouched
    GraftSql.execute(spark, store,
      "MERGE INTO dord t USING updord u ON t.pk = u.pk " +
        "WHEN MATCHED AND t.v > 7 THEN DELETE " +
        "WHEN MATCHED AND t.v > 5 THEN UPDATE SET v = t.v * 10")
    assert(store.read("dord").orderBy("pk").as[(String, Int)].collect()
      .toSeq == Seq(("k2", 60), ("k3", 1)))
  }

  test("UPDATE SET * rewrites matched rows from the source by name") {
    val store = new TableStore(spark, tmpDir("gsql"))
    store.create("dstar", Seq(("k1", 1), ("k2", 2)).toDF("pk", "v"))
    Seq(("k1", 99), ("k9", 9)).toDF("pk", "v")
      .createOrReplaceTempView("updstar")
    GraftSql.execute(spark, store,
      "MERGE INTO dstar t USING updstar u ON t.pk = u.pk " +
        "WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *")
    assert(store.read("dstar").orderBy("pk").as[(String, Int)].collect()
      .toSeq == Seq(("k1", 99), ("k2", 2), ("k9", 9)))
    // full upsert, one commit
    assert(store.currentVersion("dstar").contains(1L))
  }

  test("executeScript runs ;-separated statements in order, returns the last result") {
    val store = new TableStore(spark, tmpDir("gsql"))
    Seq(("k1", 1), ("k2", 2), ("k3", 3)).toDF("pk", "v")
      .createOrReplaceTempView("script_src")
    val out = GraftSql.executeScript(spark, store,
      """CREATE TABLE scr AS SELECT pk, v FROM script_src;
        |DELETE FROM scr WHERE pk = 'k2';
        |UPDATE scr SET v = v + 10 WHERE pk = 'k3';
        |SELECT pk, v FROM scr ORDER BY pk;""".stripMargin)
    assert(out.as[(String, Int)].collect().toSeq ==
      Seq(("k1", 1), ("k3", 13)))
    assert(store.currentVersion("scr").contains(2L)) // create + 2 DML commits
  }

  test("executeScript never splits on a ';' inside a comment") {
    val store = new TableStore(spark, tmpDir("gsql"))
    Seq(("k1", 1), ("k2", 2)).toDF("pk", "v")
      .createOrReplaceTempView("cmt_src")
    val out = GraftSql.executeScript(spark, store,
      """CREATE TABLE cmt AS SELECT pk, v FROM cmt_src; -- note; semicolons
        |UPDATE cmt SET v = v + 1 /* temp; see notes */ WHERE pk = 'k2';
        |SELECT pk, v FROM cmt ORDER BY pk;""".stripMargin)
    assert(out.as[(String, Int)].collect().toSeq ==
      Seq(("k1", 1), ("k2", 3)),
      "a ';' inside a comment split a statement (WHERE clause lost?)")
  }

  test("executeScript refreshes only MENTIONED store tables' views") {
    val store = new TableStore(spark, tmpDir("gsql"))
    store.create("men_a", Seq(("x", 1)).toDF("pk", "v"))
    store.create("men_b", Seq(("y", 2)).toDF("pk", "v"))
    // a session view shadowing the UNMENTIONED store table survives
    Seq(("session", 99)).toDF("pk", "v").createOrReplaceTempView("men_b")
    GraftSql.executeScript(spark, store, "SELECT * FROM men_a")
    assert(spark.table("men_b").head().getInt(1) == 99,
      "unmentioned store table clobbered a session view")
  }

  test("executeScript never splits on a ';' inside a string literal") {
    val store = new TableStore(spark, tmpDir("gsql"))
    val out = GraftSql.executeScript(spark, store,
      "SELECT 'a;b' AS s, ';'';' AS t")
    val r = out.head()
    assert(r.getString(0) == "a;b" && r.getString(1) == ";';")
  }

  test("MERGE schema evolution: INSERT * with a new source column widens the target") {
    val store = new TableStore(spark, tmpDir("gsql"))
    store.create("devo1", Seq(("k1", 1), ("k2", 2)).toDF("pk", "v"))
    Seq(("k3", 3, "new")).toDF("pk", "v", "tag")
      .createOrReplaceTempView("updevo1")
    GraftSql.execute(spark, store,
      "MERGE INTO devo1 t USING updevo1 u ON t.pk = u.pk " +
        "WHEN NOT MATCHED THEN INSERT *")
    val out = store.read("devo1").orderBy("pk")
      .select("pk", "v", "tag").collect()
    assert(out.map(r => (r.getString(0), r.getInt(1),
      Option(r.getString(2)))).toSeq ==
      Seq(("k1", 1, None), ("k2", 2, None), ("k3", 3, Some("new"))))
    assert(store.currentVersion("devo1").contains(1L)) // one atomic commit
  }

  test("MERGE schema evolution: UPDATE SET * writes the new column on updated rows only") {
    val store = new TableStore(spark, tmpDir("gsql"))
    store.create("devo2", Seq(("k1", 1), ("k2", 2)).toDF("pk", "v"))
    Seq(("k1", 99, 0.5)).toDF("pk", "v", "score")
      .createOrReplaceTempView("updevo2")
    GraftSql.execute(spark, store,
      "MERGE INTO devo2 t USING updevo2 u ON t.pk = u.pk " +
        "WHEN MATCHED THEN UPDATE SET *")
    val byPk = store.read("devo2").collect().map(r =>
      r.getString(0) -> ((r.getInt(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap
    assert(byPk == Map("k1" -> ((99, Some(0.5))), "k2" -> ((2, None))))
  }

  test("MERGE schema evolution off: an evolved source is a loud error, not a half-merge") {
    val store = new TableStore(spark, tmpDir("gsql"))
    store.create("devo3", Seq(("k1", 1)).toDF("pk", "v"))
    Seq(("k2", 2, "x")).toDF("pk", "v", "tag")
      .createOrReplaceTempView("updevo3")
    spark.conf.set("spark.graft.merge.schemaEvolution", "false")
    try {
      val e = intercept[IllegalArgumentException] {
        GraftSql.execute(spark, store,
          "MERGE INTO devo3 t USING updevo3 u ON t.pk = u.pk " +
            "WHEN NOT MATCHED THEN INSERT *")
      }
      assert(e.getMessage.contains("tag") &&
        e.getMessage.contains("schemaEvolution"))
      // explicit assignments never pull new columns in — still fine
      GraftSql.execute(spark, store,
        "MERGE INTO devo3 t USING updevo3 u ON t.pk = u.pk " +
          "WHEN MATCHED THEN UPDATE SET v = u.v")
      assert(store.read("devo3").columns.toSeq == Seq("pk", "v"))
    } finally spark.conf.set("spark.graft.merge.schemaEvolution", "true")
  }

  test("MERGE schema evolution cannot resurrect a dropped column") {
    val store = new TableStore(spark, tmpDir("gsql"))
    store.create("devo4", Seq(("k1", 1, "old")).toDF("pk", "v", "tag"))
    store.dropColumn("devo4", "tag")
    Seq(("k2", 2, "zombie")).toDF("pk", "v", "tag")
      .createOrReplaceTempView("updevo4")
    val e = intercept[IllegalArgumentException] {
      GraftSql.execute(spark, store,
        "MERGE INTO devo4 t USING updevo4 u ON t.pk = u.pk " +
          "WHEN NOT MATCHED THEN INSERT *")
    }
    assert(e.getMessage.contains("dropped"))
    // and the failed merge committed nothing
    assert(store.read("devo4").count() == 1)
  }

  test("a duplicate-key sibling row whose conditions all fail carries through") {
    val store = new TableStore(spark, tmpDir("gsql"))
    // two target rows share pk k1; only the v=10 row satisfies the
    // action — the v=1 sibling must survive untouched (row-level, not
    // key-level, matching)
    store.create("ddup", Seq(("k1", 10), ("k1", 1), ("k2", 7))
      .toDF("pk", "v"))
    Seq("k1", "k2").toDF("pk").createOrReplaceTempView("upddup")
    GraftSql.execute(spark, store,
      "MERGE INTO ddup t USING upddup u ON t.pk = u.pk " +
        "WHEN MATCHED AND t.v > 5 THEN UPDATE SET v = t.v * 10")
    assert(store.read("ddup").orderBy("pk", "v").as[(String, Int)].collect()
      .toSeq == Seq(("k1", 1), ("k1", 100), ("k2", 70)))
  }

  test("matched conditions probing source nulls cannot fire on unmatched rows") {
    val store = new TableStore(spark, tmpDir("gsql"))
    store.create("dnul", Seq(("k1", 1), ("k9", 9)).toDF("pk", "v"))
    Seq(("k1", Option.empty[Int])).toDF("pk", "uv")
      .createOrReplaceTempView("updnul")
    // k9 is unmatched: u.uv IS NULL holds vacuously on the outer join
    // row, but must not delete it — matched-ness is decided by the
    // join marker, not the condition
    GraftSql.execute(spark, store,
      "MERGE INTO dnul t USING updnul u ON t.pk = u.pk " +
        "WHEN MATCHED AND u.uv IS NULL THEN DELETE")
    assert(store.read("dnul").select("pk").as[String].collect().toSeq
      == Seq("k9"))
  }

  test("UPDATE SET on a column absent from the target fails loudly") {
    val store = new TableStore(spark, tmpDir("gsql"))
    store.create("dtypo", Seq(("k1", 1)).toDF("pk", "v"))
    Seq("k1").toDF("pk").createOrReplaceTempView("updtypo")
    // rejected by the analyzer, the same error the catalog path raises
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      GraftSql.execute(spark, store,
        "MERGE INTO dtypo t USING updtypo u ON t.pk = u.pk " +
          "WHEN MATCHED THEN UPDATE SET vv = 0")
    }
    assert(e.getMessage.contains("vv"))
    assert(store.read("dtypo").count() == 1) // nothing committed
    assert(store.currentVersion("dtypo").contains(0L))
  }

  test("NOT MATCHED BY SOURCE deletes target rows absent from the source") {
    val store = new TableStore(spark, tmpDir("gsql"))
    store.create("dnm", Seq(("k1", 1), ("k2", 2), ("k3", 3)).toDF("pk", "v"))
    Seq("k2").toDF("pk").createOrReplaceTempView("updnm")
    GraftSql.execute(spark, store,
      "MERGE INTO dnm t USING updnm u ON t.pk = u.pk " +
        "WHEN NOT MATCHED BY SOURCE THEN DELETE")
    assert(store.read("dnm").select("pk").as[String].collect().toSeq
      == Seq("k2"))
  }

  test("conditional NOT MATCHED BY SOURCE UPDATE flags stale rows in place") {
    val store = new TableStore(spark, tmpDir("gsql"))
    store.create("dnmu", Seq(("k1", 1), ("k2", 2), ("k3", 30))
      .toDF("pk", "v"))
    Seq("k1").toDF("pk").createOrReplaceTempView("updnmu")
    // k1 matched -> untouched; k2 unmatched & v<10 -> negated;
    // k3 unmatched but fails the condition -> untouched
    GraftSql.execute(spark, store,
      "MERGE INTO dnmu t USING updnmu u ON t.pk = u.pk " +
        "WHEN NOT MATCHED BY SOURCE AND t.v < 10 THEN UPDATE SET v = -t.v")
    assert(store.read("dnmu").orderBy("pk").as[(String, Int)].collect()
      .toSeq == Seq(("k1", 1), ("k2", -2), ("k3", 30)))
  }

  test("full sync: UPDATE SET * + INSERT * + NOT MATCHED BY SOURCE DELETE") {
    val store = new TableStore(spark, tmpDir("gsql"))
    store.create("dsync", Seq(("k1", 99), ("k9", 9)).toDF("pk", "v"))
    Seq(("k1", 1), ("k2", 2)).toDF("pk", "v")
      .createOrReplaceTempView("updsync")
    GraftSql.execute(spark, store,
      "MERGE INTO dsync t USING updsync u ON t.pk = u.pk " +
        "WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT * " +
        "WHEN NOT MATCHED BY SOURCE THEN DELETE")
    // target is now exactly the source, one commit
    assert(store.read("dsync").orderBy("pk").as[(String, Int)].collect()
      .toSeq == Seq(("k1", 1), ("k2", 2)))
    assert(store.currentVersion("dsync").contains(1L))
  }

  test("unsupported merge forms are rejected with a clear error") {
    val store = new TableStore(spark, tmpDir("gsql"))
    store.create("d3", Seq(("k1", 1, ("a", 1))).toDF("pk", "v", "s"))
    Seq(("k1", 9)).toDF("pk", "v").createOrReplaceTempView("upd3")
    // nested-field assignment targets: only top-level columns assign
    val e = intercept[UnsupportedOperationException] {
      GraftSql.execute(spark, store,
        "MERGE INTO d3 t USING upd3 u ON t.pk = u.pk " +
          "WHEN MATCHED THEN UPDATE SET t.s._2 = u.v")
    }
    assert(e.getMessage.contains("only top-level"))
    assert(store.currentVersion("d3").contains(0L)) // nothing committed
  }

  test("INSERT (cols) VALUES merges null-fill the columns not named") {
    val store = new TableStore(spark, tmpDir("gsql"))
    store.create("d3i", Seq(("k1", 1)).toDF("pk", "v"))
    Seq(("k1", 9), ("k2", 2)).toDF("pk", "v").createOrReplaceTempView("upd3i")
    GraftSql.execute(spark, store,
      "MERGE INTO d3i t USING upd3i u ON t.pk = u.pk " +
        "WHEN NOT MATCHED THEN INSERT (pk) VALUES (u.pk)")
    assert(store.read("d3i").orderBy("pk").collect()
      .map(r => (r.getString(0), Option(r.get(1)))).toSeq ==
      Seq(("k1", Some(1)), ("k2", None)))
  }

  test("NMBS clauses referencing the source are rejected, not NULL-evaluated") {
    val store = new TableStore(spark, tmpDir("gsql"))
    store.create("dnms", Seq(("k1", 1)).toDF("pk", "v"))
    Seq(("k1", 9)).toDF("pk", "uv").createOrReplaceTempView("updnms")
    // the analyzer resolves NMBS clauses against the target alone
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      GraftSql.execute(spark, store,
        "MERGE INTO dnms t USING updnms u ON t.pk = u.pk " +
          "WHEN NOT MATCHED BY SOURCE AND u.uv > 5 THEN DELETE")
    }
    assert(e.getMessage.contains("uv"))
    assert(store.currentVersion("dnms").contains(0L)) // nothing committed
  }

  test("NMBS-only merge with a duplicate-key source never duplicates target rows") {
    val store = new TableStore(spark, tmpDir("gsql"))
    store.create("dnmd", Seq(("k1", 1), ("k2", 2)).toDF("pk", "v"))
    // a raw, un-deduped CDC feed: k1 appears twice
    Seq("k1", "k1").toDF("pk").createOrReplaceTempView("updnmd")
    GraftSql.execute(spark, store,
      "MERGE INTO dnmd t USING updnmd u ON t.pk = u.pk " +
        "WHEN NOT MATCHED BY SOURCE THEN DELETE")
    assert(store.read("dnmd").orderBy("pk").as[(String, Int)].collect()
      .toSeq == Seq(("k1", 1)))
  }

  test("UPDATE SET rewrites qualifying rows and commits atomically") {
    val store = new TableStore(spark, tmpDir("gsql"))
    store.create("du", Seq(("k1", 1, "a"), ("k2", 8, "b"), ("k3", 3, "c"))
      .toDF("pk", "v", "s"))
    val out = GraftSql.execute(spark, store,
      "UPDATE du t SET v = t.v * 10, s = upper(t.s) WHERE t.v < 5")
    assert(out.orderBy("pk").as[(String, Int, String)].collect().toSeq ==
      Seq(("k1", 10, "A"), ("k2", 8, "b"), ("k3", 30, "C")))
    assert(store.currentVersion("du").contains(1L))
  }

  test("UPDATE without WHERE rewrites every row; unknown targets fail loudly") {
    val store = new TableStore(spark, tmpDir("gsql"))
    store.create("dua", Seq(("k1", 1), ("k2", 2)).toDF("pk", "v"))
    GraftSql.execute(spark, store, "UPDATE dua SET v = v + 100")
    assert(store.read("dua").orderBy("pk").as[(String, Int)].collect()
      .toSeq == Seq(("k1", 101), ("k2", 102)))
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      GraftSql.execute(spark, store, "UPDATE dua SET nope = 1")
    }
    assert(e.getMessage.contains("nope"))
    assert(store.currentVersion("dua").contains(1L)) // nothing committed
  }

  test("DELETE FROM removes rows where the predicate is TRUE; NULL keeps") {
    val store = new TableStore(spark, tmpDir("gsql"))
    store.create("dd", Seq(("k1", Some(1)), ("k2", Some(9)), ("k3", None))
      .toDF("pk", "v"))
    // v > 5 is NULL for k3 — SQL DELETE keeps it
    GraftSql.execute(spark, store, "DELETE FROM dd WHERE v > 5")
    assert(store.read("dd").select("pk").as[String].collect().sorted
      .toSeq == Seq("k1", "k3"))
    assert(store.currentVersion("dd").contains(1L))
  }

  test("INSERT INTO appends positionally with casts; one commit") {
    val store = new TableStore(spark, tmpDir("gsql"))
    store.create("ti", Seq(("k1", 1L)).toDF("pk", "v"))
    Seq(("k2", 2), ("k3", 3)).toDF("a", "b").createOrReplaceTempView("ins_src")
    // source columns align by POSITION (names differ) and int casts to long
    val out = GraftSql.execute(spark, store,
      "INSERT INTO ti SELECT a, b FROM ins_src WHERE b < 3")
    assert(out.orderBy("pk").as[(String, Long)].collect().toSeq ==
      Seq(("k1", 1L), ("k2", 2L)))
    assert(store.currentVersion("ti").contains(1L))
    // VALUES is a valid source too
    GraftSql.execute(spark, store, "INSERT INTO ti VALUES ('k9', 9)")
    assert(store.read("ti").count() == 3)
  }

  test("INSERT INTO (cols) null-fills unnamed columns; BY NAME matches names") {
    val store = new TableStore(spark, tmpDir("gsql"))
    store.create("tc", Seq(("k1", 1L, "x")).toDF("pk", "v", "s"))
    GraftSql.execute(spark, store,
      "INSERT INTO tc (s, pk) SELECT 'y', 'k2'")
    val r = store.read("tc").orderBy("pk").collect()
    assert(r(1).getString(0) == "k2" && r(1).isNullAt(1) &&
      r(1).getString(2) == "y")
    // BY NAME: source order irrelevant, absent columns null-fill
    GraftSql.execute(spark, store,
      "INSERT INTO tc BY NAME SELECT 7 AS v, 'k3' AS pk")
    val r3 = store.read("tc").where($"pk" === "k3").collect().head
    assert(r3.getLong(1) == 7L && r3.isNullAt(2))
    // a source column the table lacks fails loudly instead of dropping
    val e = intercept[IllegalArgumentException] {
      GraftSql.execute(spark, store,
        "INSERT INTO tc BY NAME SELECT 'k4' AS pk, 1 AS nope")
    }
    assert(e.getMessage.contains("nope"))
    // positional arity mismatch fails loudly
    val e2 = intercept[IllegalArgumentException] {
      GraftSql.execute(spark, store, "INSERT INTO tc SELECT 'k5'")
    }
    assert(e2.getMessage.contains("expects"))
  }

  test("INSERT OVERWRITE replaces the table; PARTITION scope replaces one partition") {
    val store = new TableStore(spark, tmpDir("gsql"))
    store.create("tp", Seq(("k1", 1L, "a"), ("k2", 2L, "b"))
      .toDF("pk", "v", "p"), partitionBy = Seq("p"))
    // static partition spec: p comes from the clause, not the query
    GraftSql.execute(spark, store,
      "INSERT OVERWRITE tp PARTITION (p = 'a') SELECT 'k9', 99")
    assert(store.read("tp").orderBy("pk").as[(String, Long, String)]
      .collect().toSeq == Seq(("k2", 2L, "b"), ("k9", 99L, "a")))
    // partition b's files were carried by reference, not rewritten
    assert(store.manifest("tp", 1L).exists(store.manifest("tp", 0L).contains))
    // whole-table overwrite
    GraftSql.execute(spark, store,
      "INSERT OVERWRITE TABLE tp SELECT 'k0', 0, 'c'")
    assert(store.read("tp").as[(String, Long, String)].collect().toSeq ==
      Seq(("k0", 0L, "c")))
    // appending INTO a partition clause works too
    GraftSql.execute(spark, store,
      "INSERT INTO tp PARTITION (p = 'd') SELECT 'k5', 5")
    assert(store.read("tp").where($"p" === "d").count() == 1)
  }

  test("CTAS creates a store table; partitioned and IF NOT EXISTS forms work") {
    val store = new TableStore(spark, tmpDir("gsql"))
    Seq((1, "a", "p1"), (2, "b", "p2"), (3, "c", "p1"))
      .toDF("id", "v", "p").createOrReplaceTempView("ctas_src")
    val out = GraftSql.execute(spark, store,
      "CREATE TABLE tct PARTITIONED BY (p) AS SELECT * FROM ctas_src WHERE id < 3")
    assert(out.count() == 2)
    assert(store.exists("tct") && store.partitioning("tct") == Seq("p"))
    // partition pruning layout actually written hive-style
    GraftSql.execute(spark, store,
      "INSERT OVERWRITE tct PARTITION (p = 'p1') SELECT 9, 'z'")
    assert(store.read("tct").orderBy("id").as[(Int, String, String)]
      .collect().toSeq == Seq((2, "b", "p2"), (9, "z", "p1")))
    // IF NOT EXISTS: no-op on an existing table; bare CREATE rejects
    GraftSql.execute(spark, store,
      "CREATE TABLE IF NOT EXISTS tct AS SELECT * FROM ctas_src")
    assert(store.read("tct").count() == 2)
    val e = intercept[IllegalArgumentException] {
      GraftSql.execute(spark, store, "CREATE TABLE tct AS SELECT 1 AS x")
    }
    assert(e.getMessage.contains("already exists"))
  }

  test("DROP TABLE removes the store table and its history") {
    val store = new TableStore(spark, tmpDir("gsql"))
    store.create("tdrop", Seq((1, "a")).toDF("id", "v"))
    store.append("tdrop", Seq((2, "b")).toDF("id", "v"))
    GraftSql.execute(spark, store, "DROP TABLE tdrop")
    assert(!store.exists("tdrop"))
    assert(store.versions("tdrop").isEmpty)
    // recreate after drop starts a fresh history at v0
    GraftSql.execute(spark, store, "CREATE TABLE tdrop AS SELECT 5 AS id")
    assert(store.currentVersion("tdrop").contains(0L))
  }

  test("INSERT against a non-store table delegates to spark.sql") {
    val store = new TableStore(spark, tmpDir("gsql"))
    // no store table named session_t: falls through to the session
    // catalog, which errors on an unknown table — proving delegation
    val e = intercept[Exception] {
      GraftSql.execute(spark, store, "INSERT INTO session_t VALUES (1)")
    }
    assert(e.getMessage.toLowerCase.contains("table") ||
      e.getMessage.contains("session_t"))
  }

  test("a qualified name never resolves to the store's table of the same last name") {
    val store = new TableStore(spark, tmpDir("gsql"))
    store.create("t", Seq((1, "a"), (2, "b")).toDF("id", "v"))
    // each statement delegates to spark.sql, which has no catalog
    // `nosuch`, so each raises instead of rewriting the store's `t`
    for (stmt <- Seq(
        "DELETE FROM nosuch.db.t WHERE id = 1",
        "INSERT INTO nosuch.db.t VALUES (3, 'c')",
        "DROP TABLE nosuch.db.t")) {
      intercept[Exception](GraftSql.execute(spark, store, stmt))
    }
    val e = intercept[IllegalArgumentException] {
      GraftSql.execute(spark, store, "SELECT * FROM nosuch.db.t VERSION AS OF 0")
    }
    assert(e.getMessage.contains("nosuch.db.t is not one"))
    assert(store.currentVersion("t").contains(0L))
    assert(store.read("t").orderBy("id").as[(Int, String)].collect().toSeq ==
      Seq((1, "a"), (2, "b")))
  }

  test("OPTIMIZE folds small files into one commit; rows unchanged") {
    val store = new TableStore(spark, tmpDir("gsql"))
    store.create("topt", Seq((1, "a")).toDF("id", "v"))
    (2 to 5).foreach(i => store.append("topt", Seq((i, "x")).toDF("id", "v")))
    val before = store.read("topt").collect().toSet
    val m = GraftSql.execute(spark, store, "OPTIMIZE topt").collect().head
    assert(m.getAs[String]("operation") == "compact")
    assert(m.getAs[Int]("files_folded") >= 2)
    assert(store.read("topt").collect().toSet == before)
    val cur = store.currentVersion("topt").get
    assert(store.manifest("topt", cur).size <
      m.getAs[Int]("files_folded") + 3)
  }

  test("OPTIMIZE ZORDER BY rewrites the layout, preserving rows") {
    val store = new TableStore(spark, tmpDir("gsql"))
    store.create("tzo", (0 until 100).map(i => (i % 10, i / 10, i))
      .toDF("x", "y", "id"))
    val before = store.read("tzo").collect().toSet
    val m = GraftSql.execute(spark, store,
      "OPTIMIZE tzo ZORDER BY (x, y)").collect().head
    assert(m.getAs[String]("operation") == "zorder")
    assert(m.getAs[String]("zorder_by") == "x,y")
    assert(store.read("tzo").collect().toSet == before)
  }

  test("OPTIMIZE with pending merge-on-read debt folds it first") {
    val store = new TableStore(spark, tmpDir("gsql"))
    store.create("tod", Seq((1, "a"), (2, "b")).toDF("id", "v"))
    store.appendWithDeletes("tod", Seq((3, "c")).toDF("id", "v"),
      Seq(Tuple1(1)).toDF("id"))
    assert(store.deleteDebt("tod") > 0)
    val m = GraftSql.execute(spark, store, "OPTIMIZE tod").collect().head
    assert(m.getAs[Boolean]("debt_folded"))
    assert(store.deleteDebt("tod") == 0)
    assert(store.read("tod").select("id").as[Int].collect().sorted
      .toSeq == Seq(2, 3))
  }

  test("OPTIMIZE ZORDER folds merge-on-read debt in ONE atomic commit") {
    val store = new TableStore(spark, tmpDir("gsql"))
    store.create("tzd", (0 until 40).map(i => (i % 5, i)).toDF("x", "id"))
    store.appendWithDeletes("tzd", Seq((9, 100)).toDF("x", "id"),
      Seq(Tuple1(0)).toDF("id"))
    assert(store.deleteDebt("tzd") > 0)
    val vBefore = store.currentVersion("tzd").get
    val m = GraftSql.execute(spark, store,
      "OPTIMIZE tzd ZORDER BY (x)").collect().head
    assert(m.getAs[Boolean]("debt_folded"))
    // debt folded INSIDE the clustering rewrite: exactly one new
    // version, not a compact commit followed by a cluster commit
    assert(store.currentVersion("tzd").get == vBefore + 1)
    assert(store.deleteDebt("tzd") == 0)
    assert(store.read("tzd").select("id").as[Int].collect().sorted.toSeq ==
      ((1 until 40) :+ 100))
  }

  test("VACUUM retains by count or keeps only the current version") {
    val store = new TableStore(spark, tmpDir("gsql"))
    store.create("tvac", Seq((1, "a")).toDF("id", "v"))
    (2 to 4).foreach(i => store.append("tvac", Seq((i, "x")).toDF("id", "v")))
    assert(store.versions("tvac").size == 4)
    val kept2 = GraftSql.execute(spark, store,
      "VACUUM tvac RETAIN 2 VERSIONS")
      .select("version").as[Long].collect().sorted.toSeq
    assert(kept2 == Seq(2L, 3L) && store.versions("tvac") == Seq(2L, 3L))
    val kept1 = GraftSql.execute(spark, store, "VACUUM tvac")
      .select("version").as[Long].collect().toSeq
    assert(kept1 == Seq(3L))
    // the current version still reads fine after both vacuums
    assert(store.read("tvac").count() == 4)
  }

  test("DESCRIBE HISTORY returns one metadata row per live version") {
    val store = new TableStore(spark, tmpDir("gsql"))
    store.create("thist", Seq((1, "a")).toDF("id", "v"))
    store.append("thist", Seq((2, "b")).toDF("id", "v"))
    val h = GraftSql.execute(spark, store, "DESCRIBE HISTORY thist")
    assert(h.select("version").as[Long].collect().sorted.toSeq == Seq(0L, 1L))
    assert(h.columns.contains("n_files") && h.columns.contains("committed_at"))
  }

  test("DESCRIBE HISTORY records each commit's operation (provenance)") {
    val store = new TableStore(spark, tmpDir("gsql"))
    store.create("hop", Seq((1, 10L), (2, 20L), (3, 30L)).toDF("id", "amt"))
    GraftSql.execute(spark, store, "INSERT INTO hop VALUES (4, 40)")
    GraftSql.execute(spark, store, "UPDATE hop SET amt = 0 WHERE id = 1")
    GraftSql.execute(spark, store, "DELETE FROM hop WHERE id = 2")
    Seq((3, 33L)).toDF("id", "amt").createOrReplaceTempView("hop_src")
    GraftSql.execute(spark, store,
      """MERGE INTO hop t USING hop_src u ON t.id = u.id
        |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    // a second small file, so OPTIMIZE has files to fold
    GraftSql.execute(spark, store, "INSERT INTO hop VALUES (5, 50)")
    GraftSql.execute(spark, store, "OPTIMIZE hop")
    GraftSql.execute(spark, store, "RESTORE TABLE hop TO VERSION AS OF 1")
    val ops = store.history("hop").orderBy("version")
      .select("operation").as[String].collect().toSeq
    assert(ops.take(6) ==
      Seq("CREATE", "APPEND", "UPDATE", "DELETE", "MERGE", "APPEND"), ops)
    assert(ops(6) == "OPTIMIZE")
    assert(ops.last == "RESTORE(1)")
    // dv ops carry their own tags
    spark.conf.set("spark.graft.delete.deletionVectors", "true")
    try GraftSql.execute(spark, store, "DELETE FROM hop WHERE id = 4")
    finally spark.conf.unset("spark.graft.delete.deletionVectors")
    assert(store.history("hop").orderBy(desc("version"))
      .select("operation").as[String].head() == "DELETE (dv)")
  }

  test("DESCRIBE DETAIL returns one current-state metadata row, no scan") {
    val store = new TableStore(spark, tmpDir("gsql"))
    store.create("tdet", Seq((1, "a"), (2, "b")).toDF("id", "v"))
    store.append("tdet", Seq((3, "c")).toDF("id", "v"))
    store.renameColumn("tdet", "v", "val")
    val d = GraftSql.execute(spark, store, "DESCRIBE DETAIL tdet")
    assert(d.count() == 1)
    val row = d.head()
    assert(row.getAs[Long]("version") == 2L)
    assert(row.getAs[Int]("n_retained_versions") == 3)
    assert(row.getAs[Int]("n_files") >= 2)
    assert(row.getAs[Int]("n_delete_entries") == 0)
    assert(row.getAs[Long]("total_bytes") > 0L)
    assert(row.getAs[Long]("n_rows") == 3L) // exact from footer stats
    assert(row.getAs[scala.collection.Seq[String]]("renamed_columns")
      .toSeq == Seq("val<-v"))
    // a MoR delete makes the metadata row count honest (null), and
    // delete entries visible
    store.appendWithDeletes("tdet", spark.emptyDataset[(Int, String)]
      .toDF("id", "val"), Seq(1).toDF("id"))
    val d2 = store.detail("tdet").head()
    assert(d2.getAs[Int]("n_delete_entries") == 1)
    assert(d2.isNullAt(d2.fieldIndex("n_rows")))
    intercept[Exception] {
      GraftSql.execute(spark, store, "DESCRIBE DETAIL missing_table")
    }
  }

  test("ALTER TABLE ADD COLUMNS evolves the schema without rewriting data") {
    val store = new TableStore(spark, tmpDir("gsql"))
    store.create("talter", Seq((1, "a"), (2, "b")).toDF("id", "v"))
    val filesBefore = store.manifest("talter",
      store.currentVersion("talter").get).size
    val out = GraftSql.execute(spark, store,
      "ALTER TABLE talter ADD COLUMNS (score DOUBLE, tag STRING)")
    assert(out.columns.toSeq == Seq("id", "v", "score", "tag"))
    // earlier rows read back with NULL in the new columns
    assert(out.where(col("score").isNull && col("tag").isNull).count() == 2)
    // new columns are writable: an insert carrying them round-trips
    GraftSql.execute(spark, store,
      "INSERT INTO talter VALUES (3, 'c', 1.5, 'x')")
    assert(store.read("talter").where(col("tag") === "x").count() == 1)
    // the evolution commit carried the old files by reference
    val lines = store.manifest("talter", store.currentVersion("talter").get)
    assert(lines.size >= filesBefore + 1)
    // duplicate column add fails loudly — against the table AND
    // within one statement
    val e = intercept[IllegalArgumentException] {
      GraftSql.execute(spark, store, "ALTER TABLE talter ADD COLUMNS (v INT)")
    }
    assert(e.getMessage.contains("already exists"))
    val e2 = intercept[IllegalArgumentException] {
      GraftSql.execute(spark, store,
        "ALTER TABLE talter ADD COLUMNS (y INT, y STRING)")
    }
    assert(e2.getMessage.contains("duplicate"))
  }

  test("ALTER TABLE ADD COLUMNS evolves a NESTED struct field in place") {
    val store = new TableStore(spark, tmpDir("gsql"))
    store.create("tnest", Seq((1, "a", "x1"), (2, "b", "x2"))
      .toDF("id", "p_a", "p_b")
      .select(col("id"), struct(col("p_a"), col("p_b")).as("props")))
    val out = GraftSql.execute(spark, store,
      "ALTER TABLE tnest ADD COLUMNS (props.tag STRING)")
    assert(out.select("props.tag").columns.toSeq == Seq("tag"))
    // earlier rows read the evolved field as NULL
    assert(out.where(col("props.tag").isNull).count() == 2)
    assert(out.where(col("props.p_a") === "a").count() == 1)
    // the field is writable by a wider append
    store.append("tnest", Seq((3, "c", "x3", "t3")).toDF("id", "p_a", "p_b", "tag")
      .select(col("id"),
        struct(col("p_a"), col("p_b"), col("tag")).as("props")))
    val rd = store.read("tnest")
    assert(rd.where(col("props.tag") === "t3").count() == 1)
    assert(rd.where(col("props.tag").isNull).count() == 2)
    // duplicate nested field / non-struct parent fail loudly
    val e = intercept[IllegalArgumentException] {
      GraftSql.execute(spark, store,
        "ALTER TABLE tnest ADD COLUMNS (props.p_a INT)")
    }
    assert(e.getMessage.contains("already exists"))
    val e2 = intercept[IllegalArgumentException] {
      GraftSql.execute(spark, store,
        "ALTER TABLE tnest ADD COLUMNS (id.sub INT)")
    }
    assert(e2.getMessage.contains("not a struct"))
  }

  test("MERGE star evolves struct columns field-by-name (nested autoMerge)") {
    val store = new TableStore(spark, tmpDir("gsql"))
    store.create("mnest", Seq((1, "a1", 10), (2, "a2", 20))
      .toDF("pk", "p_a", "p_n")
      .select(col("pk"), struct(col("p_a"), col("p_n")).as("props")))
    // source struct carries an EXTRA field p_tag
    Seq((2, "a2x", 21, "t2"), (3, "a3", 30, "t3"))
      .toDF("pk", "p_a", "p_n", "p_tag")
      .select(col("pk"),
        struct(col("p_a"), col("p_n"), col("p_tag")).as("props"))
      .createOrReplaceTempView("mnest_src")
    GraftSql.execute(spark, store,
      """MERGE INTO mnest t USING mnest_src u ON t.pk = u.pk
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val rd = store.read("mnest").orderBy("pk")
    assert(rd.select("props.p_a", "props.p_n", "props.p_tag")
      .as[(String, Int, String)].collect().toSeq ==
      Seq(("a1", 10, null), ("a2x", 21, "t2"), ("a3", 30, "t3")))
    // evolution landed in the committed schema, not just the result
    assert(rd.schema("props").dataType.asInstanceOf[
      org.apache.spark.sql.types.StructType].fieldNames.toSeq ==
      Seq("p_a", "p_n", "p_tag"))
  }

  test("ALTER TABLE ADD COLUMNS works on partitioned, CHECK-constrained tables") {
    val store = new TableStore(spark, tmpDir("gsql"))
    store.create("talterp",
      Seq((1, "x", "p1"), (2, "y", "p2")).toDF("id", "v", "part"),
      partitionBy = Seq("part"))
    store.addConstraint("talterp", "pos_id", "id > 0")
    val out = GraftSql.execute(spark, store,
      "ALTER TABLE talterp ADD COLUMNS (score DOUBLE)")
    // the evolution actually took (a 0-row partitioned write would
    // have silently produced no schema-bearing file)
    assert(out.columns.contains("score"))
    assert(out.where(col("score").isNull).count() == 2)
    // partition pruning and the constraint still work after evolution
    GraftSql.execute(spark, store,
      "INSERT INTO talterp VALUES (3, 'z', 'p1', 2.5)")
    assert(store.read("talterp").where(col("part") === "p1").count() == 2)
    val e = intercept[IllegalArgumentException] {
      store.append("talterp",
        Seq((-1, "bad", "p1", 0.0)).toDF("id", "v", "part", "score"))
    }
    assert(e.getMessage.contains("pos_id"))
  }

  test("RESTORE TABLE rolls back as a new commit; history moves forward") {
    val store = new TableStore(spark, tmpDir("gsql"))
    store.create("tres", Seq((1, "a")).toDF("id", "v"))
    store.append("tres", Seq((2, "b")).toDF("id", "v"))
    store.overwrite("tres", Seq((9, "z")).toDF("id", "v"))
    assert(store.read("tres").count() == 1)
    val out = GraftSql.execute(spark, store,
      "RESTORE TABLE tres TO VERSION AS OF 1")
    assert(out.select("id").as[Int].collect().sorted.toSeq == Seq(1, 2))
    // a NEW version (3) was committed; v2 (the overwrite) is intact
    assert(store.currentVersion("tres").contains(3L))
    assert(store.readVersion("tres", 2).count() == 1)
    // restoring an unretained version fails loudly
    store.vacuum("tres", keep = 1)
    val e = intercept[IllegalArgumentException] {
      GraftSql.execute(spark, store, "RESTORE TABLE tres VERSION AS OF 0")
    }
    assert(e.getMessage.contains("not retained"))
  }

  test("SHALLOW CLONE is zero-copy; vacuum/drop of the clone spares source data") {
    val store = new TableStore(spark, tmpDir("gsql"))
    store.create("csrc", Seq((1, "a"), (2, "b")).toDF("id", "v"))
    store.append("csrc", Seq((3, "c")).toDF("id", "v"))
    val out = GraftSql.execute(spark, store,
      "CREATE TABLE cdst SHALLOW CLONE csrc")
    assert(out.count() == 3)
    // clone diverges independently: writes to dst don't touch src
    store.append("cdst", Seq((4, "d")).toDF("id", "v"))
    assert(store.read("cdst").count() == 4 && store.read("csrc").count() == 3)
    // vacuuming the clone must NOT delete the source's (shared) files
    store.overwrite("cdst", Seq((5, "e")).toDF("id", "v"))
    store.vacuum("cdst", keep = 1)
    assert(store.read("csrc").count() == 3)
    // dropping the clone likewise leaves the source intact
    store.drop("cdst")
    assert(store.read("csrc").select("id").as[Int].collect().sorted
      .toSeq == Seq(1, 2, 3))
  }

  test("SHALLOW CLONE carries the source's CHECK constraints") {
    val store = new TableStore(spark, tmpDir("gsql"))
    store.create("ccs", Seq((1, "a")).toDF("id", "v"))
    store.addConstraint("ccs", "pos_id", "id > 0")
    GraftSql.execute(spark, store, "CREATE TABLE ccd SHALLOW CLONE ccs")
    val e = intercept[IllegalArgumentException] {
      store.append("ccd", Seq((-5, "bad")).toDF("id", "v"))
    }
    assert(e.getMessage.contains("pos_id"))
  }

  test("SHOW GRAFT TABLES lists store tables; TIMESTAMP AS OF resolves by commit time") {
    val store = new TableStore(spark, tmpDir("gsql"))
    store.create("ts_a", Seq((1, "a")).toDF("id", "v"))
    store.create("ts_b", Seq((2, "b")).toDF("id", "v"))
    val listed = GraftSql.execute(spark, store, "SHOW GRAFT TABLES")
      .as[String].collect().toSeq
    assert(listed == Seq("ts_a", "ts_b"))
    // mutate, then restore to a wall-clock instant after v0's commit.
    // Commit times are explicit ms-precision manifest headers (not
    // 1s-granular fs mtime), so a short sleep suffices; the literal is
    // rendered by Spark under the SESSION zone, exactly how the
    // statement will parse it back.
    Thread.sleep(5)
    val mid = spark.range(1).select(date_format(current_timestamp(),
      "yyyy-MM-dd HH:mm:ss.SSS")).as[String].head()
    Thread.sleep(5)
    store.overwrite("ts_a", Seq((9, "z")).toDF("id", "v"))
    GraftSql.execute(spark, store,
      s"RESTORE TABLE ts_a TO TIMESTAMP AS OF '$mid'")
    assert(store.read("ts_a").select("id").as[Int].head() == 1)
    // an instant before any commit fails loudly
    val e = intercept[IllegalArgumentException] {
      GraftSql.execute(spark, store,
        "RESTORE TABLE ts_a TO TIMESTAMP AS OF '1999-01-01 00:00:00'")
    }
    assert(e.getMessage.contains("no retained version"))
  }

  test("SELECT VERSION AS OF pins snapshots — two versions in one statement") {
    val store = new TableStore(spark, tmpDir("gsql"))
    store.create("tt", Seq((1, 10), (2, 20)).toDF("id", "x"))
    store.append("tt", Seq((3, 30)).toDF("id", "x"))
    store.overwrite("tt", Seq((1, 11), (3, 30)).toDF("id", "x"))
    // single pinned read
    assert(GraftSql.execute(spark, store,
      "SELECT id FROM tt VERSION AS OF 0 ORDER BY id")
      .as[Int].collect().toSeq == Seq(1, 2))
    // version-over-version diff: the SAME table at two versions,
    // aliased, joined — rows whose x changed between v1 and v2
    val diff = GraftSql.execute(spark, store,
      """SELECT a.id, a.x AS x_old, b.x AS x_new
        |FROM tt VERSION AS OF 1 AS a
        |JOIN tt VERSION AS OF 2 AS b ON a.id = b.id
        |WHERE a.x <> b.x ORDER BY a.id""".stripMargin)
    assert(diff.collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2)))
      .toSeq == Seq((1, 10, 11)))
    // TIMESTAMP AS OF through the same SELECT path, session-zone parse
    val asOfV0 = new java.sql.Timestamp(store.commitTimeMs("tt", 0))
    val mid = spark.range(1).select(date_format(
      lit(asOfV0).cast("timestamp"), "yyyy-MM-dd HH:mm:ss.SSS")).as[String].head()
    assert(GraftSql.execute(spark, store,
      s"SELECT count(*) AS n FROM tt TIMESTAMP AS OF '$mid'")
      .as[Long].head() == 2L)
  }

  test("SELECT time travel fails loudly on bad version / timestamp / table") {
    val store = new TableStore(spark, tmpDir("gsql"))
    store.create("ttb", Seq((1, "a")).toDF("id", "v"))
    // never-committed version
    intercept[IllegalStateException] {
      GraftSql.execute(spark, store, "SELECT * FROM ttb VERSION AS OF 7")
    }
    // vacuumed version
    store.overwrite("ttb", Seq((2, "b")).toDF("id", "v"))
    store.vacuum("ttb", keep = 1)
    intercept[IllegalStateException] {
      GraftSql.execute(spark, store, "SELECT * FROM ttb VERSION AS OF 0")
    }
    // timestamp before any commit
    val e = intercept[IllegalArgumentException] {
      GraftSql.execute(spark, store,
        "SELECT * FROM ttb TIMESTAMP AS OF '1999-01-01 00:00:00'")
    }
    assert(e.getMessage.contains("no retained version"))
    // unparsable timestamp operand
    intercept[IllegalArgumentException] {
      GraftSql.execute(spark, store,
        "SELECT * FROM ttb TIMESTAMP AS OF 'not a time'")
    }
    // time travel over a non-graft relation
    Seq((1, "a")).toDF("id", "v").createOrReplaceTempView("plain_view")
    val e2 = intercept[IllegalArgumentException] {
      GraftSql.execute(spark, store, "SELECT * FROM plain_view VERSION AS OF 0")
    }
    assert(e2.getMessage.contains("not one"))
  }

  test("ALTER TABLE ADD/DROP CONSTRAINT through the SQL front door") {
    val store = new TableStore(spark, tmpDir("gsql"))
    store.create("tcons", Seq((1, "a"), (2, "b")).toDF("id", "v"))
    GraftSql.execute(spark, store,
      "ALTER TABLE tcons ADD CONSTRAINT pos_id CHECK (id > 0)")
    val e = intercept[IllegalArgumentException] {
      store.append("tcons", Seq((-1, "bad")).toDF("id", "v"))
    }
    assert(e.getMessage.contains("pos_id"))
    // a constraint the EXISTING rows violate is rejected up front
    val e2 = intercept[IllegalArgumentException] {
      GraftSql.execute(spark, store,
        "ALTER TABLE tcons ADD CONSTRAINT big_id CHECK (id > 1)")
    }
    assert(e2.getMessage.contains("big_id"))
    // key constraints land as informational RELY metadata (validated
    // once at declaration, trusted thereafter — MvSubsumptionSpec
    // covers the consumption side)
    GraftSql.execute(spark, store,
      "ALTER TABLE tcons ADD CONSTRAINT pk PRIMARY KEY (id)")
    assert(store.uniqueKeys("tcons") == Seq(Seq("id")))
    GraftSql.execute(spark, store, "ALTER TABLE tcons DROP CONSTRAINT pk")
    assert(store.uniqueKeys("tcons").isEmpty)
    GraftSql.execute(spark, store, "ALTER TABLE tcons DROP CONSTRAINT pos_id")
    store.append("tcons", Seq((-1, "ok-now")).toDF("id", "v"))
    assert(store.read("tcons").count() == 3)
    GraftSql.execute(spark, store,
      "ALTER TABLE tcons DROP CONSTRAINT IF EXISTS nope")
    intercept[IllegalArgumentException] {
      GraftSql.execute(spark, store, "ALTER TABLE tcons DROP CONSTRAINT nope")
    }
  }

  test("a qualified FOREIGN KEY target never binds to the store's own table") {
    val store = new TableStore(spark, tmpDir("gsql"))
    store.create("p", Seq(1, 2).toDF("k"))
    store.create("c", Seq(1, 2).toDF("k"))
    val e = intercept[IllegalArgumentException] {
      GraftSql.execute(spark, store,
        "ALTER TABLE c ADD CONSTRAINT f FOREIGN KEY (k) REFERENCES other_cat.db.p (k)")
    }
    assert(e.getMessage.contains("other_cat.db.p"))
    assert(store.foreignKeys("c").isEmpty)
    // the bare name still binds to the store's p
    GraftSql.execute(spark, store,
      "ALTER TABLE c ADD CONSTRAINT f FOREIGN KEY (k) REFERENCES p (k)")
    assert(store.foreignKeys("c") == Seq(("f", Seq("k"), "p", Seq("k"))))
  }

  test("table_changes TVF composes with plain SQL over the feed") {
    val store = new TableStore(spark, tmpDir("gsql"))
    store.create("tch", Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"))
    store.append("tch", Seq((4, "d")).toDF("id", "v"))
    store.appendWithDeletes("tch", Seq((5, "e")).toDF("id", "v"),
      Seq(Tuple1(2)).toDF("id"))
    // aggregate over the full feed (toV defaults to current)
    val counts = GraftSql.execute(spark, store,
      """SELECT _change_type, count(*) AS n
        |FROM table_changes('tch', 0)
        |GROUP BY _change_type ORDER BY _change_type""".stripMargin)
      .as[(String, Long)].collect().toMap
    assert(counts == Map("insert" -> 2L, "delete" -> 1L))
    // bounded range + projection + filter compose
    assert(GraftSql.execute(spark, store,
      """SELECT id FROM table_changes('tch', 0, 1)
        |WHERE _change_type = 'insert' ORDER BY id""".stripMargin)
      .as[Int].collect().toSeq == Seq(4))
    // non-literal / unknown-table arguments fail loudly
    intercept[IllegalArgumentException] {
      GraftSql.execute(spark, store,
        "SELECT * FROM table_changes('tch', 1 + 1)")
    }
    intercept[IllegalArgumentException] {
      GraftSql.execute(spark, store,
        "SELECT * FROM table_changes('absent', 0)")
    }
  }

  test("CONVERT TO GRAFT adopts a hive-partitioned parquet dir in place") {
    val root = tmpDir("gsql")
    val store = new TableStore(spark, root)
    // a foreign, hive-partitioned dataset written straight to the path
    Seq((1, "a", "p1"), (2, "b", "p2"), (3, "c", "p1"))
      .toDF("id", "v", "part")
      .write.partitionBy("part").parquet(s"$root/tconv")
    val out = GraftSql.execute(spark, store, "CONVERT TO GRAFT tconv")
    assert(out.count() == 3)
    assert(store.partitioning("tconv") == Seq("part"))
    assert(out.where(col("part") === "p1").count() == 2)
    // the store's whole lifecycle works on the adopted files:
    // append, MoR delete, time travel
    store.append("tconv", Seq((4, "d", "p2")).toDF("id", "v", "part"))
    store.appendWithDeletes("tconv",
      Seq((5, "e", "p1")).toDF("id", "v", "part"), Seq(Tuple1(1)).toDF("id"))
    assert(store.read("tconv").select("id").as[Int].collect().sorted
      .toSeq == Seq(2, 3, 4, 5))
    assert(store.readVersion("tconv", 0).count() == 3)
    // converting twice fails loudly
    val e = intercept[IllegalArgumentException] {
      GraftSql.execute(spark, store, "CONVERT TO GRAFT tconv")
    }
    assert(e.getMessage.contains("already exists"))
  }

  test("maintenance statements reject unknown tables loudly") {
    val store = new TableStore(spark, tmpDir("gsql"))
    val e = intercept[IllegalArgumentException] {
      GraftSql.execute(spark, store, "OPTIMIZE nosuch")
    }
    assert(e.getMessage.contains("nosuch"))
    // ...and a statement that merely STARTS like one still parses as SQL
    val r = GraftSql.execute(spark, store,
      "SELECT 'OPTIMIZE tbl' AS s").as[String].head()
    assert(r == "OPTIMIZE tbl")
  }
}
