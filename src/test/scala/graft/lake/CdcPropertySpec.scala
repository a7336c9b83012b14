package graft.lake

import graft.SparkSpec
import graft.ops.Cdc
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SURVEY §5.3 merge invariants over randomized CDC batches (seeded,
  * deterministic): (i) at most one row per key, (ii) a key whose latest
  * op is D is absent, (iii) otherwise the surviving row is the latest-ts
  * version, (iv) replaying batches in ts order ≡ one full load when
  * timestamps are unique.
  */
private[lake] case class Rec(key: String, seq: Long, op: String)

class CdcPropertySpec extends SparkSpec {
  import spark.implicits._

  private def randomBatch(seed: Long): List[Rec] = {
    val rnd = new scala.util.Random(seed)
    val n = 1 + rnd.nextInt(40)
    List.tabulate(n) { i =>
      Rec("abcde" (rnd.nextInt(5)).toString, i.toLong,
        "IUD" (rnd.nextInt(3)).toString)
    }
  }

  private def toDf(recs: List[Rec]): DataFrame =
    recs.toDF("key", "seq", "op")
      .withColumn("process_date",
        to_timestamp(lit("2024-01-01 00:00:00")) +
          make_dt_interval(lit(0), lit(0), lit(0), col("seq").cast("double")))

  /** `seq` in 9-day steps: a 40-record stream spans a year of month
    * buckets. */
  private def toDfDays(recs: List[Rec]): DataFrame =
    recs.toDF("key", "seq", "op")
      .withColumn("process_date", to_timestamp(lit("2024-01-01 00:00:00")) +
        make_dt_interval((col("seq") * 9).cast("int")))

  /** The month buckets in which manifest `to` adds or drops a data
    * file relative to manifest `from`. */
  private def changedBuckets(from: Seq[String], to: Seq[String]): Set[String] = {
    val bucket = "p_bucket=([^/]+)/".r
    val changed = (from.toSet diff to.toSet) ++ (to.toSet diff from.toSet)
    changed.flatMap(l => bucket.findFirstMatchIn(l).map(_.group(1)))
  }

  /** The buckets a merge of `batch` into `dest` must rewrite, as the
    * (pk, bucket) semi-join probe picks them: buckets holding a key of
    * the deduped batch past the watermark, plus the buckets its live
    * rows land in. */
  private def semiJoinBuckets(dest: DataFrame, batch: DataFrame): Set[String] = {
    val wm = dest.agg(max("process_date")).first().get(0)
    val latest = batch.where(col("process_date") > lit(wm))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("key")
          .orderBy(col("process_date").desc)))
      .where(col("rn") === 1)
    dest.join(latest.select("key"), Seq("key"), "left_semi")
      .select(col(CdcIngest.BucketCol).cast("string"))
      .union(latest.where(col("op") =!= "D")
        .select(date_format(col("process_date"), "yyyy-MM")))
      .distinct().as[String].collect().toSet
  }

  test("merge invariants hold on random CDC streams") {
    for (seed <- 1L to 8L) {
      val recs = randomBatch(seed)
      val store = new TableStore(spark, tmpDir("prop"))
      val mid = recs.map(_.seq).max / 2
      val b1 = recs.filter(_.seq <= mid)
      val b2 = recs.filter(_.seq > mid)
      if (b1.nonEmpty) CdcIngest.ingest(spark, store, "t", toDf(b1))
      if (b2.nonEmpty) CdcIngest.ingest(spark, store, "t", toDf(b2))

      val out = store.read("t").select("key", "seq").as[(String, Long)]
        .collect().toSeq
      val latest = recs.groupBy(_.key).view.mapValues(_.maxBy(_.seq)).toMap

      assert(out.map(_._1).distinct.size == out.size, s"seed=$seed dup keys")
      out.foreach { case (k, seq) =>
        assert(latest(k).op != "D", s"seed=$seed key $k should be deleted")
        assert(seq == latest(k).seq,
          s"seed=$seed key $k kept seq $seq, want ${latest(k).seq}")
      }
      latest.foreach { case (k, r) =>
        if (r.op != "D")
          assert(out.exists(_._1 == k), s"seed=$seed key $k missing")
      }

      val storeFull = new TableStore(spark, tmpDir("prop"))
      CdcIngest.ingest(spark, storeFull, "t", toDf(recs))
      val full = storeFull.read("t").select("key", "seq")
        .as[(String, Long)].collect().toSeq.sorted
      assert(out.sorted == full, s"seed=$seed replay != full load")
    }
  }

  test("bucketed merges keep the invariants and rewrite exactly the " +
    "semi-join probe's buckets") {
    val bucketed = CdcIngest.Config(bucketFormat = Some("yyyy-MM"))
    for (seed <- 1L to 8L) {
      val recs = randomBatch(seed)
      val store = new TableStore(spark, tmpDir("prop"))
      val mid = recs.map(_.seq).max / 2
      // the second batch replays part of the first: rows at or below
      // the watermark must neither apply nor mark their keys' buckets
      val batches = Seq(recs.filter(_.seq <= mid), recs.filter(_.seq > mid / 2))
        .filter(_.nonEmpty)
      for (b <- batches) {
        val before = store.currentVersion("t")
        CdcIngest.ingest(spark, store, "t", toDfDays(b), bucketed)
        for (v0 <- before) {
          val v1 = store.currentVersion("t").get
          val want = semiJoinBuckets(store.readVersion("t", v0), toDfDays(b))
          val got = if (v1 == v0) Set.empty[String]
            else changedBuckets(store.manifest("t", v0), store.manifest("t", v1))
          assert(got == want, s"seed=$seed rewrote $got, semi-join picks $want")
        }
      }

      val out = store.read("t").select("key", "seq").as[(String, Long)]
        .collect().toSeq
      val latest = recs.groupBy(_.key).view.mapValues(_.maxBy(_.seq)).toMap
      assert(out.map(_._1).distinct.size == out.size, s"seed=$seed dup keys")
      out.foreach { case (k, seq) =>
        assert(latest(k).op != "D", s"seed=$seed key $k should be deleted")
        assert(seq == latest(k).seq,
          s"seed=$seed key $k kept seq $seq, want ${latest(k).seq}")
      }
      latest.foreach { case (k, r) =>
        if (r.op != "D")
          assert(out.exists(_._1 == k), s"seed=$seed key $k missing")
      }

      val storeFull = new TableStore(spark, tmpDir("prop"))
      CdcIngest.ingest(spark, storeFull, "t", toDfDays(recs), bucketed)
      val full = storeFull.read("t").select("key", "seq")
        .as[(String, Long)].collect().toSeq.sorted
      assert(out.sorted == full, s"seed=$seed replay != full load")
    }
  }

  test("dedupLatest keeps exactly one row per key (latest version)") {
    for (seed <- 100L to 105L) {
      val recs = randomBatch(seed)
      val out = Cdc.dedupLatest(toDf(recs), Seq("key"),
        Seq(col("process_date").desc, col("seq").desc))
      val got = out.select("key", "seq").as[(String, Long)].collect().toSeq
      val want = recs.groupBy(_.key).view.mapValues(_.maxBy(_.seq).seq).toMap
      assert(got.toMap == want && got.size == want.size, s"seed=$seed")
    }
  }
}
