package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Randomized histories against the CDF telescoping law: whatever
  * order appends, narrowing/keeping overwrites, MoR deletes,
  * deletion-vector DELETEs and UPDATEs, RENAMEs and compactions
  * interleave in, `changes(fromV, toV)` applied to the fromV snapshot
  * (viewed under toV's mapping) must reproduce the toV snapshot — for
  * every adjacent pair, the full range, and random sub-ranges — and
  * `changeRowsBound` must bound the feed's rows. This is the law the
  * example-based ChangesSpec pins on curated histories, fuzzed over
  * histories nobody curated. */
class ChangesPropertySpec extends SparkSpec {
  import spark.implicits._

  test("random histories with renames, rewrites and MoR deletes telescope") {
    for (seed <- Seq(7, 31)) {
      val rnd = new scala.util.Random(seed)
      val store = new TableStore(spark, tmpDir(s"cprop$seed"))
      val t = s"c$seed"
      var valCol = "v"
      var nextId = 0
      var renameN = 0
      def rows(n: Int) = (0 until n).map { _ =>
        nextId += 1; (nextId, s"r${rnd.nextInt(100)}")
      }.toDF("id", valCol)
      store.create(t, rows(3))
      def someId(): Option[Int] = {
        val ids = store.read(t).select("id").as[Int].collect()
        if (ids.isEmpty) None else Some(ids(rnd.nextInt(ids.length)))
      }
      for (step <- 1 to 10) {
        rnd.nextInt(7) match {
          case 0 => store.append(t, rows(1 + rnd.nextInt(2)))
          case 1 => // overwrite keeping a random half plus fresh rows
            val keep = store.read(t).where(col("id") % 2 === step % 2)
            store.overwrite(t, keep.unionByName(rows(1)))
          case 2 => // MoR delete of one existing row + insert, one commit
            store.appendWithDeletes(t, rows(1), someId().toSeq.toDF("id"))
          case 3 => // metadata-only rename of the value column
            renameN += 1
            val nn = s"v$renameN"
            store.renameColumn(t, valCol, nn)
            valCol = nn
          case 4 => store.compact(t)
          case 5 => // positional delete: one existing row, or a residue class
            if (rnd.nextBoolean()) someId().foreach(i =>
              store.deleteWhere(t, col("id") === i))
            else store.deleteWhere(t, col("id") % 3 === rnd.nextInt(3))
          case 6 => // positional update of one existing row's value
            someId().foreach(i => store.updateWhere(t, col("id") === i,
              Map(valCol -> lit(s"u$step"))))
        }
      }
      def check(i: Long, j: Long): Unit = {
        FeedLaws.telescopes(store, t, i, j)
        val n = store.changes(t, i, j).count()
        val bound = store.changeRowsBound(t, i, j)
        assert(bound.exists(_ >= n), s"($i, $j]: bound $bound < feed rows $n")
      }
      val cur = store.currentVersion(t).get
      for (v <- 1L to cur) check(v - 1, v)
      check(0L, cur)
      for (_ <- 1 to 3) {
        val i = rnd.nextInt(cur.toInt).toLong
        val j = i + 1 + rnd.nextInt((cur - i).toInt)
        check(i, j)
      }
    }
  }
}
