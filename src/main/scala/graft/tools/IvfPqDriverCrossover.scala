package graft.tools

import graft.lake.TableStore
import graft.ops.VectorIndex
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Where the driver-served IVF-PQ paths stop beating the distributed
  * plans. Builds an index over a synthetic clustered corpus, then
  * times both search paths at growing scoring work (probes × probed
  * code rows) and both sync paths at growing change feeds, each path
  * forced through the driver bound (`Int.MaxValue` = driver when
  * eligible, 0 = distributed). Prints one line per point with the
  * work, both median wall times (of 3) and their ratio. Run:
  * `sbt "runMain graft.tools.IvfPqDriverCrossover [vectors] [dim] [maxFeedRows]"`
  * (defaults 32768, 32, 262144; `SPARK_GRAFT_CPUS` sets local[n],
  * default 4).
  */
object IvfPqDriverCrossover {
  private val (nlist, m, ksub) = (16, 8, 16)

  private def vectors(spark: SparkSession, from: Long, n: Int,
                      dim: Int): DataFrame = {
    import spark.implicits._
    val rnd = new java.util.Random(from)
    (0 until n).map { j =>
      val i = from + j
      val base = (i % nlist).toFloat
      (i, Array.tabulate(dim)(d => base + ((i * 7 + d * 3) % 11) * 0.05f +
        rnd.nextFloat() * 0.01f))
    }.toDF("vec_id", "embedding")
  }

  private def secs(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  def main(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toInt).getOrElse(32768)
    val dim = args.lift(1).map(_.toInt).getOrElse(32)
    val maxFeed = args.lift(2).map(_.toInt).getOrElse(262144)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val root = java.nio.file.Files.createTempDirectory("ivfpq-crossover")
    // two identical stores: a sync changes its index, so each sync
    // path gets its own copy of the same history
    val stores = Seq("driver", "dist").map { s =>
      val store = new TableStore(spark, root.resolve(s).toString)
      store.create("corpus", vectors(spark, 0L, n, dim))
      VectorIndex.buildIvfPqIndexFromTable(store, "ix", "corpus",
        nlist = nlist, m = m, ksub = ksub, kmeansIters = 1)
      store
    }
    val (ds, xs) = (stores(0), stores(1))
    val codeRows = ds.read(VectorIndex.codesTable("ix")).count()
    println(s"corpus $n x $dim, nlist $nlist, m $m, ksub $ksub: " +
      s"$codeRows code rows, local[$cpus]")

    println("search: probes nprobe work driver_s dist_s dist/driver")
    for ((nq, nprobe) <- Seq((1, 4), (1, 16), (4, 16), (16, 16), (64, 16))) {
      val probes = vectors(spark, 1L << 40, nq, dim).localCheckpoint()
      def run(bound: Int) = VectorIndex.searchIvfPqCore(ds, "ix", probes,
        10, nprobe, None, 0, "vec_id", "embedding", bound).collect()
      val (a, b) = (run(Int.MaxValue), run(0)) // warm both paths
      require(a.toSeq.map(_.toString).sorted == b.toSeq.map(_.toString).sorted,
        "driver and distributed searches differ")
      val tDriver = median((1 to 3).map(_ => secs(run(Int.MaxValue))))
      val tDist = median((1 to 3).map(_ => secs(run(0))))
      // every probe scores its probed lists' rows: work ≈ nq × the
      // rows of nprobe of nlist lists
      val work = nq.toLong * codeRows * nprobe / nlist
      println(f"search: $nq%5d $nprobe%3d $work%10d $tDriver%8.3f $tDist%8.3f " +
        f"${tDist / tDriver}%6.2f")
    }

    println("sync: feed_rows driver_s dist_s dist/driver")
    var next = n.toLong
    def sync(f: Int): (Double, Double) = {
      val batch = vectors(spark, next, f, dim).localCheckpoint()
      next += f
      stores.foreach(_.append("corpus", batch))
      (secs(VectorIndex.sync(ds, "ix", VectorIndex.Pq, "corpus", 0,
        "vec_id", "embedding", Int.MaxValue)),
        secs(VectorIndex.sync(xs, "ix", VectorIndex.Pq, "corpus", 0,
          "vec_id", "embedding", 0)))
    }
    sync(256) // warms both paths
    for (f <- Iterator.iterate(1024)(_ * 4).takeWhile(_ <= maxFeed)) {
      val ts = (1 to 3).map(_ => sync(f))
      val (tDriver, tDist) = (median(ts.map(_._1)), median(ts.map(_._2)))
      println(f"sync: $f%9d $tDriver%8.3f $tDist%8.3f ${tDist / tDriver}%6.2f")
    }
    require(ds.read(VectorIndex.codesTable("ix")).exceptAll(
      xs.read(VectorIndex.codesTable("ix"))).isEmpty,
      "driver and distributed syncs differ")
    spark.stop()
  }
}
