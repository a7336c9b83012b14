package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Merge-on-read delete sets ([[DeleteSet]]): reads, DML and the change
  * feed apply equality-delete key files and deletion vectors from
  * driver-built hash sets, with a join's key semantics and no Spark job
  * of their own. */
class DeleteSetSpec extends SparkSpec {
  import spark.implicits._

  private val schema = new StructType()
    .add("id", LongType).add("s", StringType)
    .add("d", DoubleType).add("v", IntegerType, nullable = false)

  // key domains: null keys, NaN, both zeros, and a string with a space
  private val ids = Seq[Any](1L, 2L, 3L, null)
  private val strs = Seq[Any]("a", "b", "a b", null)
  private val dbls = Seq[Any](0.0, -0.0, Double.NaN, 1.5, null)
  private val keySets = Seq(Seq("id"), Seq("s"), Seq("d"), Seq("id", "s"),
    Seq("s", "d"))

  /** A model row: the commit that wrote it, its values, and whether a
    * deletion vector removed it. */
  private final case class MRow(commit: Int, id: Any, s: Any, d: Any, v: Int,
                                var dvDead: Boolean = false) {
    def get(c: String): Any = c match {
      case "id" => id; case "s" => s; case "d" => d
    }
  }
  /** An equality-delete commit: its key columns and key rows. */
  private final case class KeyDel(commit: Int, cols: Seq[String],
                                  keys: Seq[Seq[Any]])

  /** A join's key equality: nulls never match, NaNs match each other,
    * `-0.0` matches `0.0`. */
  private def joinEq(a: Any, b: Any): Boolean = (a, b) match {
    case (null, _) | (_, null) => false
    case (x: Double, y: Double) => (x.isNaN && y.isNaN) || x == y
    case _ => a == b
  }

  /** The rows a read returns: a row survives unless a vector removed
    * it or a later key file matches it on the key its group's later
    * key files merge to (a file lacking a merged column matches
    * nothing). */
  private def visible(rows: Seq[MRow], dels: Seq[KeyDel]): Seq[MRow] =
    rows.filter { r =>
      val later = dels.filter(_.commit > r.commit)
      val merged = later.flatMap(_.cols).distinct
      !r.dvDead && !later.exists(k => merged.forall(k.cols.contains) &&
        k.keys.exists(key => merged.forall(c =>
          joinEq(r.get(c), key(k.cols.indexOf(c))))))
    }

  private def render(id: Any, s: Any, d: Any, v: Int): String =
    s"$id|$s|${Option(d).map(x => java.lang.Double.toString(x.asInstanceOf[Double])).orNull}|$v"

  private def rendered(df: DataFrame): Seq[String] =
    df.select("id", "s", "d", "v").collect().toSeq.map(r =>
      render(r.get(0), r.get(1), r.get(2), r.getInt(3))).sorted

  test("random merge-on-read histories read back the modelled multiset") {
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      // a store root with a space: vector paths are URL-encoded
      val store = new TableStore(spark, tmpDir("delete set"))
      var next = 0
      var commit = 0
      val rows = scala.collection.mutable.ArrayBuffer.empty[MRow]
      val dels = scala.collection.mutable.ArrayBuffer.empty[KeyDel]
      def pick(xs: Seq[Any]) = xs(rnd.nextInt(xs.size))
      def batch(n: Int): Seq[MRow] = Seq.fill(n) {
        next += 1
        MRow(commit, pick(ids), pick(strs), pick(dbls), next)
      }
      def frame(rs: Seq[MRow]): DataFrame = spark.createDataFrame(
        spark.sparkContext.parallelize(rs.map(r => Row(r.id, r.s, r.d, r.v)), 1),
        schema)
      rows ++= batch(12)
      store.create("t", frame(rows.toSeq))
      // the first two key files disagree on their columns, so the
      // first one's schema lacks a key column of the merged key
      val script = Seq(3, 3) ++ Seq.fill(8)(rnd.nextInt(4))
      script.zipWithIndex.foreach { case (op, step) =>
        commit += 1
        val live = visible(rows.toSeq, dels.toSeq)
        op match {
          case 0 =>
            val b = batch(4)
            rows ++= b
            store.append("t", frame(b))
          case 1 =>
            val r = rnd.nextInt(3)
            val n = store.deleteWhere("t", col("v") % 3 === r)
            val hit = live.filter(_.v % 3 == r)
            assert(n == hit.size, s"seed $seed step $step")
            hit.foreach(_.dvDead = true)
          case 2 =>
            val r = rnd.nextInt(4)
            val n = store.updateWhere("t", col("v") % 4 === r,
              Map("v" -> (col("v") + 1000)))
            val hit = live.filter(_.v % 4 == r)
            assert(n == hit.size, s"seed $seed step $step")
            hit.foreach(_.dvDead = true)
            rows ++= hit.map(h => h.copy(commit = commit, v = h.v + 1000,
              dvDead = false))
          case 3 =>
            val cols = if (step == 0) Seq("id") else if (step == 1) Seq("id", "s")
              else keySets(rnd.nextInt(keySets.size))
            val keys = Seq.fill(3)(cols.map {
              case "id" => pick(ids); case "s" => pick(strs); case _ => pick(dbls)
            })
            val keyDf = spark.createDataFrame(
              spark.sparkContext.parallelize(keys.map(Row.fromSeq), 1),
              StructType(cols.map(c => schema(c))))
            val b = batch(3)
            store.appendWithDeletes("t", frame(b), keyDf)
            dels += KeyDel(commit, cols, keys)
            rows ++= b
        }
        val want = visible(rows.toSeq, dels.toSeq)
          .map(r => render(r.id, r.s, r.d, r.v)).sorted
        assert(rendered(store.read("t")) == want, s"seed $seed step $step op $op")
      }
    }
  }

  test("a read with vector and key debt runs as many jobs as the compacted table") {
    val store = new TableStore(spark, tmpDir("dset"))
    store.create("t", (1 to 40).map(i => (i.toLong, s"v$i")).toDF("id", "s"))
    store.append("t", (41 to 60).map(i => (i.toLong, s"v$i")).toDF("id", "s"))
    store.appendWithDeletes("t", Seq((7L, "w7")).toDF("id", "s"),
      Seq((7L, "v7"), (45L, "v45")).toDF("id", "s"))
    store.deleteWhere("t", col("id") % 10 === 3)
    store.updateWhere("t", col("id") === 50L, Map("s" -> lit("u50")))
    def readRows(): Seq[(Long, String)] =
      store.read("t").as[(Long, String)].collect().toSeq.sortBy(_._1)
    var debt = Seq.empty[(Long, String)]
    val debtJobs = jobsDuring { debt = readRows() }
    store.compact("t")
    assert(store.deleteDebt("t") == 0)
    var folded = Seq.empty[(Long, String)]
    val foldedJobs = jobsDuring { folded = readRows() }
    assert(debt == folded)
    assert(debtJobs == foldedJobs,
      s"$debtJobs jobs with debt, $foldedJobs compacted")
  }

  test("the interpreted delete-set probe agrees with the generated one") {
    val store = new TableStore(spark, tmpDir("dset"))
    store.create("t", Seq((1L, 0.0), (2L, -0.0), (3L, Double.NaN), (4L, 1.5),
      (6L, 2.5)).toDF("id", "d"))
    // int keys on a long column compare as longs, as the join coerced
    // them; -0.0 matches 0.0 and NaN matches NaN
    store.appendWithDeletes("t", Seq((5L, 2.0)).toDF("id", "d"),
      Seq((2, 0.0), (3, Double.NaN), (1, 1.0)).toDF("id", "d"))
    store.deleteWhere("t", col("id") === 4L)
    def ids(): Seq[Long] = store.read("t").select("id").as[Long].collect().toSeq.sorted
    val generated = ids()
    val interpreted =
      try {
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
        spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
        ids()
      } finally {
        spark.conf.unset("spark.sql.codegen.wholeStage")
        spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    assert(generated == Seq(1L, 5L, 6L))
    assert(interpreted == generated)
  }

  test("string keys on a long column match as the session's join coerces them") {
    val base = (1 to 9).map(i => (i.toLong, s"v$i")).toDF("id", "s")
    val extra = Seq((10L, "w")).toDF("id", "s")
    def ids(df: DataFrame): Seq[Long] = df.select("id").as[Long].collect().toSeq.sorted
    // the join compares string against long as long: "07" and " 8" match
    val keys = Seq("07", " 8", "3").toDF("id")
    val store = new TableStore(spark, tmpDir("dset"))
    store.create("t", base)
    store.appendWithDeletes("t", extra, keys)
    val read = ids(store.read("t"))
    assert(read == ids(base.join(keys, Seq("id"), "left_anti").unionByName(extra)))
    assert(read == Seq(1L, 2L, 4L, 5L, 6L, 9L, 10L))
    // a key that does not parse fails the read exactly when it fails the
    // join (ANSI mode), else matches nothing
    val bad = Seq("x", "5").toDF("id")
    val badStore = new TableStore(spark, tmpDir("dset"))
    badStore.create("t", base)
    badStore.appendWithDeletes("t", extra, bad)
    val joined = scala.util.Try(ids(base.join(bad, Seq("id"), "left_anti").unionByName(extra)))
    val ours = scala.util.Try(ids(badStore.read("t")))
    assert(ours.isFailure == joined.isFailure, s"join $joined, read $ours")
    if (joined.isSuccess) assert(ours.get == joined.get)
  }

  test("file-stats pruning leaves delete-set probes out") {
    import org.apache.spark.sql.catalyst.expressions.{Expression, GreaterThan, Literal, Not, UnsafeRow}
    val asked = scala.collection.mutable.ArrayBuffer.empty[Seq[Expression]]
    val index = new StatsFileIndex(
      new ManifestFileIndex(Seq(("file:/x/part-0.parquet", 1L, 1L))),
      filters => { asked += filters; Set.empty })
    val probe = Not(InDeleteSet(Seq(Literal(1L)),
      spark.sparkContext.broadcast(new java.util.HashSet[UnsafeRow]()), 0))
    val pred = GreaterThan(Literal(2), Literal(1))
    index.listFiles(Nil, Seq(probe))
    assert(asked.isEmpty)
    index.listFiles(Nil, Seq(probe, pred))
    assert(asked.toSeq == Seq(Seq(pred)))
  }

  test("a deletion-vector feed's delete side scans only the vector-named files") {
    val store = new TableStore(spark, tmpDir("dset feed"))
    store.create("t", (1 to 40).map(i => (i, i % 4)).toDF("id", "m"))
    store.append("t", (41 to 60).map(i => (i, i % 4)).toDF("id", "m"))
    store.append("t", (61 to 80).map(i => (i, i % 4)).toDF("id", "m"))
    val v0 = store.currentVersion("t").get
    // one row, so the vector names one data file
    assert(store.deleteWhere("t", col("id") === 50) == 1L)
    val v1 = store.currentVersion("t").get
    val dataFiles = store.manifest("t", v0).count(l => !l.contains("|"))
    assert(dataFiles >= 3)
    val feed = store.changes("t", v0, v1)
    assert(scannedFiles(feed) == 1L)
    assert(feed.select("id", "_change_type").as[(Int, String)].collect()
      .toSeq == Seq((50, "delete")))
    // an update's feed: its vector names one data file too
    store.updateWhere("t", col("id") === 51, Map("m" -> lit(9)))
    val v2 = store.currentVersion("t").get
    val newFiles = store.manifest("t", v2).count(l => !l.contains("|") &&
      !store.manifest("t", v1).contains(l))
    val upd = store.changes("t", v1, v2)
    assert(scannedFiles(upd) == newFiles + 1L)
    assert(upd.select("id", "m", "_change_type").as[(Int, Int, String)]
      .collect().toSeq.sorted == Seq((51, 3, "delete"), (51, 9, "insert")))
  }
}
