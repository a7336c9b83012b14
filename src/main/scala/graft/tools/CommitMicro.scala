package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Micro-benchmark of the store's commit fixed overhead: N tiny
  * commits of each kind the lake benchmark's write ops and index sync
  * make (append, appendWithDeletes, deleteWhere) against a scratch
  * store (and appends to a partitioned table with one CHECK
  * constraint), next to plain parquet and noop writes of the same
  * 5-row frame. Prints each phase's total, per-commit mean and per-commit
  * median. Run: `sbt "runMain graft.tools.CommitMicro [n]"`. */
object CommitMicro {

  /** Wall seconds of each of `n` calls of `body(i)`, i = 1..n. */
  private def timed(n: Int)(body: Int => Unit): Seq[Double] =
    (1 to n).map { i =>
      val t0 = System.nanoTime()
      body(i)
      (System.nanoTime() - t0) / 1e9
    }

  private def report(label: String, ts: Seq[Double]): Unit = {
    val sorted = ts.sorted
    val median =
      if (sorted.size % 2 == 1) sorted(sorted.size / 2)
      else (sorted(sorted.size / 2 - 1) + sorted(sorted.size / 2)) / 2
    println(f"$label%-28s x${ts.size}%-3d total ${ts.sum}%7.3f s  " +
      f"mean ${ts.sum / ts.size}%.4f s  median $median%.4f s")
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(20)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("commit-micro").toString
    val store = new graft.lake.TableStore(spark, root)
    // batch i holds ids 5i+1..5i+5, so every phase below finds rows
    def batch(i: Int) = (1 to 5).map(j => (5 * i + j, s"v$j")).toDF("id", "v")
    def parted(i: Int) = batch(i).withColumn("p", col("id") % 2)
    // warm every commit kind once
    store.create("warm", batch(0))
    (1 to 3).foreach(i => store.append("warm", batch(i)))
    store.appendWithDeletes("warm", batch(4), Seq(1).toDF("id"))
    store.deleteWhere("warm", col("id") === 2)
    store.create("pc", parted(0), partitionBy = Seq("p"))
    store.addConstraint("pc", "pos", "id > 0")

    val create = timed(1)(_ => store.create("t", batch(0)))
    val append = timed(n)(i => store.append("t", batch(i)))
    // each MoR commit appends a new batch and deletes one earlier id
    val mor = timed(n)(i =>
      store.appendWithDeletes("t", batch(n + i), Seq(5 * i + 1).toDF("id")))
    // each positional delete removes one earlier row that still exists
    val dv = timed(n)(i => store.deleteWhere("t", col("id") === 5 * i + 2))
    val checked = timed(n)(i => store.append("pc", parted(i)))
    val read = timed(5)(_ => store.read("t").write.format("noop")
      .mode("overwrite").save())
    val plain = timed(n)(i => batch(i).write.mode("overwrite")
      .parquet(s"$root/plain-$i"))
    val noop = timed(n)(i => batch(i).write.format("noop")
      .mode("overwrite").save())

    report("create", create)
    report("append", append)
    report("appendWithDeletes", mor)
    report("deleteWhere", dv)
    report("append (parts + CHECK)", checked)
    report(s"read (${3 * n + 1} commits)", read)
    report("plain parquet write", plain)
    report("noop write", noop)
    spark.stop()
  }
}
