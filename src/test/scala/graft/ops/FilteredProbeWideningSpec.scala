package graft.ops

import graft.SparkSpec
import graft.lake.TableStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Property sweep for [[VectorIndex.searchIvfIndexFiltered]]'s probe
  * widening (`effective = max(nprobe, min(nlist, ceil(nprobe/s)))`):
  * a seeded selectivity × filter-shape grid asserting, for EVERY
  * probe,
  *
  *   1. exactly `min(k, survivors-in-probed-lists)` results come back
  *      — the widened read never silently shrinks k below what the
  *      probed range can prove (the post-filter failure mode the
  *      widening exists to prevent);
  *   2. every ranked candidate satisfies the filter, with a dense
  *      1..n rank;
  *   3. recall against the brute-force top-k over ALL survivors
  *      clears a floor — including the under-widening edge where a
  *      filter CORRELATED with the cluster structure concentrates
  *      survivors in few lists (uniform filters spread survivors, so
  *      widening restores candidates; correlated ones are the
  *      adversarial shape).
  *
  * The expected per-probe survivor counts replay the engine's own
  * deterministic assignment discipline (rounded cosine, cent_id
  * tiebreak, identical IEEE selectivity division), so the check is
  * exact, not statistical. */
class FilteredProbeWideningSpec extends SparkSpec {
  import spark.implicits._

  private val N = 360
  private val K = 5
  private val NProbe = 2
  private val NList = 8

  /** Deterministic clustered corpus (4 spatial clusters via i % 4)
    * carrying one attribute per sweep shape: `u2/u10/u25` are
    * cluster-UNIFORM (i-mod keys interleave across clusters), `grp`
    * IS the cluster id (fully correlated — survivors concentrate in
    * the few lists covering that cluster), `half` covers half the
    * clusters (correlated, but selectivity 0.5 widens 2 → only 4 of
    * 8 lists: the under-widening edge). */
  private def corpus(n: Int): DataFrame =
    (0 until n).map { i =>
      val base = (i % 4) * 10.0f
      (i.toLong, Array.tabulate(8)(d => base + ((i * 7 + d * 3) % 5) * 0.1f),
        i % 2, i % 10, i % 25, i % 4, if (i % 4 < 2) 0 else 1)
    }.toDF("vec_id", "embedding", "u2", "u10", "u25", "grp", "half")

  private case class Shape(name: String, filter: org.apache.spark.sql.Column,
                           correlated: Boolean)

  private val shapes = Seq(
    Shape("uniform s=0.5", col("u2") === 0, correlated = false),
    Shape("uniform s=0.1", col("u10") === 0, correlated = false),
    Shape("uniform s=0.04", col("u25") === 0, correlated = false),
    Shape("uniform OR s=0.08", col("u25") === 1 || col("u25") === 2,
      correlated = false),
    Shape("correlated s=0.25 (one cluster)", col("grp") === 1,
      correlated = true),
    Shape("correlated s=0.5 (half the clusters)", col("half") === 0,
      correlated = true),
    // i%10==5 forces i%4==1 on half its hits: s = 1/20, every
    // survivor inside ONE spatial cluster's lists
    Shape("correlated+sparse s=0.05", col("grp") === 1 && col("u10") === 5,
      correlated = true))

  test("widened filtered search returns min(k, probed survivors) per " +
    "probe, candidates all pass the filter, and recall clears the floor") {
    val store = new TableStore(spark, tmpDir("widen"))
    val emb = corpus(N)
    VectorIndex.buildIvfIndex(store, "ix", emb, nlist = NList,
      kmeansIters = 2, attrCols = Seq("u2", "u10", "u25", "grp", "half"))
    val lt = VectorIndex.listsTable("ix")
    val lists = store.read(lt)
    val cents = store.read(VectorIndex.centroidsTable("ix"))
    val nlist = cents.count()
    val probes = emb.where(col("vec_id") < 6)

    for (shape <- shapes) {
      val got = VectorIndex.searchIvfIndexFiltered(store, "ix", probes,
          k = K, nprobe = NProbe, filter = shape.filter)
        .select("qid", "rnk", "vid").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq

      // replay the widening rule with the engine's own arithmetic:
      // same Long counts, same IEEE double division, same ceil/caps
      val r = lists.agg(count(lit(1)), count(when(shape.filter, 1))).first()
      val s0 = if (r.getLong(0) == 0L) 1.0
               else r.getLong(1) * 1.0 / r.getLong(0)
      val eff = math.max(NProbe, math.min(nlist.toDouble,
        math.ceil(NProbe / math.max(s0, 1e-9))).toInt)

      // survivors visible to the widened probe set, per qid, under the
      // IDENTICAL assignment discipline (stored lists + rounded-cosine
      // probe ranking) — the exact per-probe entitlement
      val probed = Similarity.assignTopClusters(probes, cents, eff)
        .select(col("vec_id").as("qid"), col("cent_id"))
      val entitled = probed
        .join(lists.where(shape.filter)
          .select(col("cent_id"), col("vec_id").as("vid")), Seq("cent_id"))
        .where(col("qid") =!= col("vid"))
        .groupBy("qid").agg(count(lit(1)).as("n"))
        .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap

      val gotPerQ = got.groupBy(_._1)
      for (qid <- probes.select("vec_id").as[Long].collect()) {
        val expect = math.min(K.toLong, entitled.getOrElse(qid, 0L))
        val mine = gotPerQ.getOrElse(qid, Nil)
        assert(mine.size.toLong == expect,
          s"${shape.name}: qid=$qid returned ${mine.size}, " +
            s"probed range holds ${entitled.getOrElse(qid, 0L)} survivors " +
            s"(eff=$eff of $nlist lists, s=$s0) — expected $expect")
        assert(mine.map(_._2).sorted == (1 to mine.size),
          s"${shape.name}: qid=$qid ranks not dense: ${mine.map(_._2)}")
      }

      // every candidate satisfies the filter (pushed into the scan,
      // not post-applied to a full ranking)
      val survivorIds = lists.where(shape.filter)
        .select("vec_id").as[Long].collect().toSet
      assert(got.forall(g => survivorIds(g._3)),
        s"${shape.name}: a non-matching candidate ranked")

      // recall floor vs brute force over ALL survivors (not just the
      // probed range): correlated shapes are allowed a lower floor —
      // concentration is exactly what probe widening can under-serve —
      // but must never collapse
      val bf = probes.select(col("vec_id").as("qid"),
          col("embedding").as("qvec"))
        .crossJoin(lists.where(shape.filter)
          .select(col("vec_id").as("vid"), col("embedding").as("vvec")))
        .where(col("qid") =!= col("vid"))
        .select(col("qid"), col("vid"),
          round(Similarity.cosine(col("qvec"), col("vvec")), 4).as("cos"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("cos").desc, col("vid"))
      val bfTop = bf.withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= K)
        .select("qid", "vid").collect()
        .map(x => (x.getLong(0), x.getLong(1)))
        .groupBy(_._1).map { case (q, vs) => q -> vs.map(_._2).toSet }
      val recalls = bfTop.toSeq.map { case (q, bfSet) =>
        val gotSet = gotPerQ.getOrElse(q, Nil).map(_._3).toSet
        if (bfSet.isEmpty) 1.0
        else (gotSet intersect bfSet).size.toDouble / bfSet.size
      }
      assert(recalls.nonEmpty,
        s"${shape.name}: sweep shape selects no survivors — dead case")
      val mean = recalls.sum / recalls.size
      val floor = if (shape.correlated) 0.30 else 0.60
      assert(mean >= floor,
        f"${shape.name}: mean recall $mean%.2f under floor $floor " +
          s"(eff=$eff, s=$s0)")
      info(f"${shape.name}: s=$s0%.3f eff=$eff/$nlist recall=$mean%.2f")
    }
  }

  test("a filtered search reads nlist from metadata: no centroid count " +
    "job, and the same ids and scores as a search over every list") {
    val store = new TableStore(spark, tmpDir("widen-jobs"))
    val emb = corpus(N)
    VectorIndex.buildIvfIndex(store, "ix", emb, nlist = NList,
      kmeansIters = 2, attrCols = Seq("u25"))
    val probes = emb.where(col("vec_id") < 6)
    val filter = col("u25") === 0
    // s = 0.04 widens 2 probes to ceil(2 / 0.04) = 50, capped at nlist:
    // the cap is where nlist decides the probe count
    val s = 1.0 / 25
    type Hit = (Long, Long, Double, Int)
    def hits(df: DataFrame): Set[Hit] =
      df.select("qid", "vid", "cos", "rnk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .toSet
    var got = Set.empty[Hit]
    val filteredJobs = jobsDuring {
      got = hits(VectorIndex.searchIvfIndexFiltered(store, "ix", probes,
        k = K, nprobe = NProbe, filter = filter, selectivity = s))
    }
    var all = Set.empty[Hit]
    val everyListJobs = jobsDuring {
      all = hits(VectorIndex.searchIvfIndex(store, "ix", probes, k = N,
        nprobe = NList))
    }
    // the filter only narrows the lists scan: with selectivity given,
    // the filtered search runs the jobs of the unfiltered one and no
    // nlist count on top
    assert(filteredJobs == everyListJobs,
      s"filtered search ran $filteredJobs jobs, unfiltered $everyListJobs")
    // every list probed: the filtered top k is the unfiltered ranking
    // restricted to survivors, re-ranked by (cos desc, vid)
    val survivors = emb.where(filter).select("vec_id").as[Long]
      .collect().toSet
    val expect = all.filter(h => survivors(h._2)).groupBy(_._1)
      .flatMap { case (_, hs) =>
        hs.toSeq.sortBy(h => (-h._3, h._2)).take(K).zipWithIndex
          .map { case (h, i) => h.copy(_4 = i + 1) }
      }.toSet
    assert(got.nonEmpty)
    assert(got == expect)
  }
}
