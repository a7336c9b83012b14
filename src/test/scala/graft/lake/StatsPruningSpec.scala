package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.functions._

class StatsPruningSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore() = new TableStore(spark, tmpDir("stats"))

  private def dataLines(store: TableStore, table: String): Int =
    store.manifest(table, store.currentVersion(table).get)
      .count(!_.startsWith("del|"))

  test("range predicate drops non-intersecting files before the scan") {
    val store = freshStore()
    val df = spark.range(0, 800)
      .select(col("id"), (col("id") % 7).as("v"))
      .repartitionByRange(8, col("id"))
    store.create("t", df)
    val total = dataLines(store, "t")
    assert(total >= 8, s"expected >=8 files, got $total")

    val hit = store.read("t").where(col("id").between(100, 199))
    val kept = scannedFiles(hit)
    assert(kept < total / 2, s"pruning missing: kept $kept of $total files")
    // and the answer is exactly the filtered rows
    assert(hit.orderBy("id").as[(Long, Long)].collect().toSeq ==
      (100L to 199L).map(i => (i, i % 7)))
  }


  test("DEFAULT read path prunes automatically: a pushed predicate scans fewer files than the manifest") {
    val store = freshStore()
    store.create("t", spark.range(0, 800)
      .select(col("id"), (col("id") % 7).as("v"))
      .repartitionByRange(8, col("id")))
    val total = dataLines(store, "t")
    assert(total >= 8)
    val df = store.read("t").where(col("id").between(100, 199))
    val scanned = scannedFiles(df)
    assert(scanned < total,
      s"default path scanned every file: $scanned of $total")
    assert(scanned <= 2, s"expected <=2 of $total range files, got $scanned")
    assert(df.select("id").as[Long].collect().toSeq.sorted ==
      (100L to 199L))
    // equality and IN prune too
    assert(scannedFiles(store.read("t").where(col("id") === 450L)) <= 1)
    assert(scannedFiles(store.read("t")
      .where(col("id").isin(10L, 20L, 710L))) <= 2)
    // an unfiltered read scans everything — pruning never drops a
    // file without a predicate proving it dead
    assert(scannedFiles(store.read("t")) == total)
  }

  test("automatic pruning preserves MoR deletes, evolution, and SQL front-door reads") {
    val store = freshStore()
    store.create("t",
      spark.range(0, 100).toDF("id").repartitionByRange(4, col("id")))
    store.appendWithDeletes("t", Seq(10L, 200L).toDF("id"),
      deleteKeys = Seq(11L, 12L).toDF("id"))
    // filtered default-path read: deletes still applied on survivors
    val got = store.read("t").where(col("id") <= 20)
      .as[Long].collect().toSeq.sorted
    assert(got == ((0L to 20L).filterNot(Set(11L, 12L)) :+ 10L).sorted)
    // schema evolution: a file predating the column survives a
    // predicate on it (no stats entry -> conservative keep)
    store.append("t", Seq((5000L, Some(1.5))).toDF("id", "score"))
    assert(store.read("t").where(col("score").isNull).count() == 100)
    // SQL through the front door pushes the predicate into the same
    // pruned scan
    val out = GraftSql.executeScript(spark, store,
      "SELECT id FROM t WHERE id >= 90 AND id < 100")
    assert(scannedFiles(out) < dataLines(store, "t"))
    assert(out.as[Long].collect().toSeq.sorted == (90L to 99L))
  }

  test("appends carry stats by reference; both commits prune") {
    val store = freshStore()
    store.create("t",
      spark.range(0, 100).toDF("id").repartitionByRange(4, col("id")))
    store.append("t",
      spark.range(1000, 1100).toDF("id").repartitionByRange(4, col("id")))
    val total = dataLines(store, "t")
    // a probe inside the first commit's range drops all second-commit
    // files AND the first commit's non-intersecting ones
    val df = store.read("t").where(col("id").between(10, 20))
    val kept = scannedFiles(df)
    assert(kept < total / 2, s"kept $kept of $total")
    assert(df.count() == 11)
  }

  test("schema evolution: files predating a column survive pruning on it") {
    val store = freshStore()
    store.create("t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    store.append("t", Seq((3L, "c", 50L), (4L, "d", 900L))
      .toDF("id", "v", "score"))
    // pruning on `score` must keep the v0 file (no stats entry for the
    // column it predates) even though its rows null-fill and then fail
    // the filter
    val out = store.read("t").where(col("score").between(0, 100))
    assert(out.select("id").as[Long].collect().toSeq == Seq(3L))
  }

  test("merge-on-read deletes still apply under a pruned read") {
    val store = freshStore()
    store.create("t",
      spark.range(0, 100).toDF("id").repartitionByRange(4, col("id")))
    store.appendWithDeletes("t", Seq(10L, 200L).toDF("id"),
      deleteKeys = Seq(11L, 12L).toDF("id"))
    val got = store.read("t").where(col("id").between(0, 20))
      .as[Long].collect().toSeq.sorted
    // 11,12 deleted from the base commit; the batch re-inserts a
    // second 10 exempt from its own delete keys
    assert(got == ((0L to 20L).filterNot(Set(11L, 12L)) :+ 10L).sorted)
  }

  test("all-null column excludes a file; string ranges prune") {
    val store = freshStore()
    store.create("t", Seq((1L, Option.empty[String])).toDF("id", "name"))
    store.append("t", Seq((2L, Some("alpha")), (3L, Some("beta")))
      .toDF("id", "name"))
    store.append("t", Seq((4L, Some("zulu"))).toDF("id", "name"))
    val total = dataLines(store, "t")
    val df = store.read("t").where(col("name").between("aa", "m"))
    val kept = scannedFiles(df)
    assert(kept < total, s"kept $kept of $total")
    assert(df.select("id").as[Long].collect().toSeq.sorted == Seq(2L, 3L))
  }

  test("IS NULL skips files with a recorded zero null count") {
    val store = freshStore()
    // range-partition on the nullable column: NULLs sort together, so
    // most files record nulls=0 and an IS NULL probe can drop them
    val df = spark.range(0, 400).select(col("id"),
      when(col("id") < 50, lit(null).cast("long")).otherwise(col("id")).as("v"))
      .repartitionByRange(8, col("v"))
    store.create("t", df)
    val total = dataLines(store, "t")
    assert(total >= 6, s"expected a multi-file layout, got $total")
    val nulls = store.read("t").where(col("v").isNull)
    val kept = scannedFiles(nulls)
    assert(kept < total / 2, s"IS NULL kept $kept of $total files")
    assert(nulls.count() == 50)
    // IS NOT NULL keeps mixed files (the filter does the row work)
    assert(store.read("t").where(col("v").isNotNull).count() == 350)
  }

  test("IS NOT NULL skips an all-null file; legacy stats lines stay conservative") {
    val store = freshStore()
    store.create("t", Seq((1L, Option.empty[Long])).toDF("id", "v"))
    store.append("t", Seq((2L, Some(5L)), (3L, Some(6L))).toDF("id", "v"))
    val total = dataLines(store, "t")
    val valued = store.read("t").where(col("v").isNotNull)
    val kept = scannedFiles(valued)
    assert(kept < total, s"all-null file survived: kept $kept of $total")
    assert(valued.select("id").as[Long].collect().toSeq.sorted == Seq(2L, 3L))
    // the all-null file is definitely-null: IS NULL keeps exactly it
    assert(store.read("t").where(col("v").isNull).select("id").as[Long]
      .collect().toSeq == Seq(1L))
    // a 5-field line from a pre-null-count sidecar parses with an
    // unknown count and never lets IS NULL drop the file
    import org.apache.spark.sql.catalyst.{expressions => ce}
    val legacy = FileStats.parse("f\tc\tnum\t1\t2")
    assert(legacy(("f", "c")).nulls.isEmpty)
    val c = ce.AttributeReference("c", org.apache.spark.sql.types.LongType)()
    val statOf = (name: String) => legacy.get(("f", name))
    assert(FileStats.exprMayMatch(ce.IsNull(c), statOf))
    assert(FileStats.exprMayMatch(ce.IsNotNull(c), statOf))
  }

  test("float equality at a file's exact bound never prunes the matching file") {
    val store = freshStore()
    // 0.1f is not exactly representable: its Float.toString bound
    // ("0.1") sits BELOW its toDouble widening (0.10000000149...), so
    // a literal converted via toDouble would fail x <= hi and wrongly
    // drop the only matching file
    store.create("t", Seq((1L, 0.1f), (2L, 0.25f)).toDF("id", "score"))
    store.append("t", Seq((3L, 7.5f)).toDF("id", "score"))
    val got = store.read("t").where(col("score") === 0.1f)
      .select("id").as[Long].collect().toSeq
    assert(got == Seq(1L), s"float-bound equality lost rows: $got")
    assert(scannedFiles(store.read("t").where(col("score") === 0.1f)) == 1)
    // >= / <= probes at the exact recorded max/min keep the file too
    assert(store.read("t").where(col("score") >= 7.5f).count() == 1)
    assert(store.read("t").where(col("score") <= 0.1f).count() == 1)
  }

  test("infinite double bounds don't crash the commit; the file stays conservative") {
    val store = freshStore()
    // parquet records +/-Infinity min/max (only NaN suppresses FP
    // stats); the sidecar must skip the entry, not die in BigDecimal
    store.create("t", Seq((1L, Double.PositiveInfinity), (2L, 1.0))
      .toDF("id", "v"))
    store.append("t", Seq((3L, Double.NegativeInfinity)).toDF("id", "v"))
    // no stats entry for v -> conservative keep on any probe
    assert(store.read("t").where(col("v") > 0.5).count() == 2)
    assert(store.read("t").where(col("v").isNotNull).count() == 3)
    // finite columns of the same commit still prune
    assert(scannedFiles(store.read("t").where(col("id") === 3L)) <= 2)
  }

  test("columnStats folds to the exact recomputed stats under random commits") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("x", DoubleType),
      StructField("s", StringType)))
    for (seed <- Seq(7, 31, 101)) {
      val rnd = new scala.util.Random(seed)
      val store = freshStore()
      val t = s"cs$seed"
      // random rows with nulls in every column, committed in 1-4
      // batches (create + appends) so the fold spans several sidecars
      val rows = (0 until 40 + rnd.nextInt(40)).map { i =>
        Row(
          if (rnd.nextInt(8) == 0) null else rnd.nextLong() % 1000L,
          if (rnd.nextInt(8) == 0) null else rnd.nextInt(2000) / 7.0 - 100.0,
          if (rnd.nextInt(8) == 0) null else s"v${rnd.nextInt(100)}")
      }
      val batches = rows.grouped(math.max(rows.size / (1 + rnd.nextInt(4)), 1))
        .toSeq
      def frame(b: Seq[Row]) = spark.createDataFrame(
        spark.sparkContext.parallelize(b, 1 + rnd.nextInt(3)), schema)
      store.create(t, frame(batches.head))
      batches.tail.foreach(b => store.append(t, frame(b)))
      val got = store.columnStats(t).collect()
        .map(r => r.getString(0) -> r).toMap
      val n = rows.size.toLong
      for (c <- Seq("k", "x", "s")) {
        val idx = schema.fieldIndex(c)
        val vals = rows.map(_.get(idx)).filter(_ != null)
        val r = got(c)
        assert(r.getLong(1) == n, s"$c rows")
        assert(r.getLong(2) == n - vals.size, s"$c nulls")
        if (c == "s") { assert(r.isNullAt(3) && r.isNullAt(4)) }
        else {
          val nums = vals.map {
            case l: java.lang.Long => l.toDouble
            case d: java.lang.Double => d.toDouble
          }
          if (nums.isEmpty) assert(r.isNullAt(3) && r.isNullAt(4))
          else {
            assert(r.getDouble(3) == nums.min, s"$c min")
            assert(r.getDouble(4) == nums.max, s"$c max")
          }
        }
      }
    }
  }

  test("z-ordered layout prunes on BOTH clustering dimensions") {
    val store = freshStore()
    // integer y (col/64 alone would be double division)
    val grid = spark.range(64L * 64)
      .select((col("id") % 64).as("x"), floor(col("id") / 64).as("y"))
    store.create("t", Layout.cluster(grid, Seq("x", "y"), numFiles = 16, bits = 6))
    val total = dataLines(store, "t")
    assert(total >= 8)
    for (c <- Seq("x", "y")) {
      val df = store.read("t").where(col(c).between(20, 29))
      val kept = scannedFiles(df)
      assert(kept <= total / 2, s"$c: kept $kept of $total")
      assert(df.count() == 10 * 64)
    }
  }
}
