package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (Array[Float]) — north-star
  * extension. Native higher-order functions (zip_with / aggregate) keep
  * the dot product inside codegen; accumulation in double for
  * determinism.
  *
  * Scale design (100 TB): brute-force top-k is the correctness
  * baseline — probes broadcast against the corpus, so the corpus never
  * shuffles and the scan parallelizes per-partition. The scale path is
  * LSH bucketing (random hyperplane signs): candidate generation
  * becomes an equi-join on bucket keys, turning O(probes × corpus) into
  * O(probes × bucket). IVF would replace the hyperplanes with k-means
  * centroids — same join shape.
  */
object Similarity {

  /** Dot product of two float arrays, accumulated left-to-right in
    * double (deterministic; exact enough that 4-dp rounding is stable).
    * Uses the codegen'd native expression (graft.functions.DotProductF);
    * `dotHof` is the equivalent pure-builtin fallback. */
  def dot(a: Column, b: Column): Column = {
    // Column carries no session handle; register on the thread's
    // active/default session. The DataFrame-level entry points below
    // also register on their input's own session (multi-session safe).
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .foreach(graft.functions.GraftFunctions.register)
    graft.functions.GraftFunctions.dotF(a, b)
  }

  /** Same semantics via builtin HOFs only (no custom expression). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Brute-force cosine top-k: for each probe (broadcast small side),
    * rank the corpus by rounded cosine with id tiebreak. */
  def bruteForceTopK(corpus: DataFrame, probes: DataFrame, k: Int,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val p = probes.select(col(idCol).as("qid"), col(vecCol).as("qvec"))
    val c = corpus.select(col(idCol).as("vid"), col(vecCol).as("vvec"))
    val scored = c.join(broadcast(p), col("qid") =!= col("vid"))
      .select(col("qid"), col("vid"),
        round(cosine(col("qvec"), col("vvec")), 4).as("cos"))
    val w = Window.partitionBy("qid")
      .orderBy(col("cos").desc, col("vid"))
    scored.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
  }

  /** All near-duplicate pairs (a < b) with cosine above `threshold`
    * within a (pre-filtered) corpus. Pairwise — bound the input or use
    * `lshBuckets` first at scale. */
  def nearDupPairs(corpus: DataFrame, threshold: Double,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val l = corpus.select(col(idCol).as("a"), col(vecCol).as("va"))
    val r = corpus.select(col(idCol).as("b"), col(vecCol).as("vb"))
    l.join(r, col("a") < col("b"))
      .select(col("a"), col("b"), round(cosine(col("va"), col("vb")), 4).as("cos"))
      .where(col("cos") > threshold)
  }

  /** Near-dup pairs at scale: multi-table LSH candidate generation
    * (equi-join on (table, bucket) keys — never all-pairs) followed by
    * the exact pairwise cosine verify. Output = candidate pairs above
    * `threshold`; recall is tuned by numPlanes down / numTables up and
    * concentrates where it matters (≈0.95 at cosine 0.8 with the
    * defaults, lower for barely-similar pairs). The corpus shuffles
    * once per table on bucket keys; bucket sizes are corpus/2^planes
    * so the within-bucket pair count stays bounded. */
  def nearDupPairsLsh(corpus: DataFrame, threshold: Double,
                      numPlanes: Int = 3, numTables: Int = 4,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding",
                      starAbove: Int = Int.MaxValue): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val b = lshBucketsMulti(corpus, numPlanes, numTables, idCol, vecCol)
    // Score per bucket-join occurrence, THEN dedup multi-table repeats
    // on narrow (a, b, cos) rows: the codegen'd dot product is cheaper
    // than shipping two 64-float arrays through a shuffle (a distinct
    // over the vectors measured ~2.6s at sf0.1, a first()-aggregate —
    // which loses hash aggregation on array buffers — ~7s; this shape
    // ~2.4s). max() is exact: every occurrence computes the same cosine.
    val scored =
      if (starAbove == Int.MaxValue) {
        val l = b.select(col(idCol).as("a"), col(vecCol).as("va"),
          col("table"), col("bucket"))
        val r = b.select(col(idCol).as("b"), col(vecCol).as("vb"),
          col("table"), col("bucket"))
        l.join(r, Seq("table", "bucket"))
          .where(col("a") < col("b"))
          .select(col("a"), col("b"),
            round(cosine(col("va"), col("vb")), 4).as("cos"))
      } else {
        // Hot-bucket star cap — the same guard [[graft.ops.Dedup
        // .pairsFromBands]] applies to minhash buckets. Plane buckets
        // are "statistically" corpus/2^planes, but a dedup-shaped
        // corpus of near-identical vectors lands in ONE bucket and
        // the within-bucket a<b join goes quadratic — exactly the
        // 100 TB failure mode. A bucket over the cap emits bucket-min
        // star edges (m−1) instead of all pairs (m(m−1)/2);
        // connectivity for grouping/keep decisions is preserved.
        // min_by pulls the star center's VECTOR in the same
        // aggregate, so no join back to the corpus is needed.
        require(starAbove >= 2, "starAbove must be >= 2")
        val sized = b.groupBy("table", "bucket")
          .agg(count(lit(1)).as("__bn"), min(col(idCol)).as("__min_id"),
            min_by(col(vecCol), col(idCol)).as("__min_vec"))
        val tagged = b.join(sized, Seq("table", "bucket"))
        val small = tagged.where(col("__bn") <= starAbove)
        val l = small.select(col(idCol).as("a"), col(vecCol).as("va"),
          col("table"), col("bucket"))
        val r = small.select(col(idCol).as("b"), col(vecCol).as("vb"),
          col("table"), col("bucket"))
        val allPairs = l.join(r, Seq("table", "bucket"))
          .where(col("a") < col("b"))
          .select(col("a"), col("b"),
            round(cosine(col("va"), col("vb")), 4).as("cos"))
        val star = tagged.where(col("__bn") > starAbove &&
            col(idCol) =!= col("__min_id"))
          .select(col("__min_id").as("a"), col(idCol).as("b"),
            round(cosine(col("__min_vec"), col(vecCol)), 4).as("cos"))
        allPairs.unionByName(star)
      }
    scored.groupBy("a", "b")
      .agg(max("cos").as("cos"))
      .where(col("cos") > threshold)
  }

  /** Random-hyperplane LSH bucket key: sign bits of dot products with
    * `numPlanes` seeded pseudo-random hyperplanes. Planes are
    * driver-side literal arrays (seed 42, gaussian) — zero hashing in
    * the per-row hot path, the dot products stay in codegen. */
  /** The seeded hyperplane constants behind `lshBuckets` — exposed so
    * an external checker (the DuckDB oracle) can embed the exact same
    * literals and reproduce the bucketing bit-for-bit. */
  def lshPlanes(numPlanes: Int, dim: Int = 64,
                seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(numPlanes, dim)(rnd.nextGaussian())
  }

  def lshBuckets(df: DataFrame, numPlanes: Int,
                 idCol: String = "vec_id",
                 vecCol: String = "embedding",
                 dim: Int = 64,
                 seed: Long = 42L): DataFrame = {
    val planes = lshPlanes(numPlanes, dim, seed)
    val planeBits = (0 until numPlanes).map { p =>
      val plane = array(planes(p).map(lit).toIndexedSeq: _*)
      val contrib = aggregate(
        zip_with(col(vecCol), plane, (x, w) => x.cast("double") * w),
        lit(0.0), (acc, v) => acc + v)
      when(contrib >= 0, math.pow(2.0, p)).otherwise(0.0)
    }
    df.select(col(idCol), col(vecCol),
      planeBits.reduce(_ + _).cast("long").as("bucket"))
  }

  /** Lloyd k-means over the corpus, fully in DataFrame ops: assignment
    * is a broadcast cross-score + argmax per vector, the update step a
    * posexplode + per-(cluster, dim) average. Returns (cent_id, cvec).
    * Deterministic: seeds are the lowest-id vectors; empty clusters
    * keep their previous centroid. At 100 TB you run this on a sample —
    * the assignment join shape is unchanged. */
  def kmeansCentroids(corpus: DataFrame, nlist: Int, iterations: Int,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val projected = corpus.select(col(idCol), col(vecCol))
    // bounded training sets train ON THE DRIVER (one collect job, zero
    // per-iteration jobs — see kmeansDriver); the distributed Lloyd
    // loop remains for larger-than-driver training frames, reading a
    // localCheckpoint so every pass hits executor-local blocks instead
    // of re-decoding parquet. At scale the caller passes a SAMPLE
    // (IVF training needs ~[30, 256]x nlist vectors, not the corpus);
    // serving never touches this path — it reads the persisted index.
    collectTrainRows(projected) match {
      case Some((rows, idType)) =>
        kmeansDriver(corpus.sparkSession, rows, idType, nlist, iterations)
      case None =>
        val vecs = graft.lake.JobLabel(corpus.sparkSession, "graft:kmeans checkpoint") {
          projected.localCheckpoint()
        }
        kmeansCentroidsOn(vecs, nlist, iterations, idCol, vecCol)
    }
  }

  /** [[kmeansCentroids]] over an ALREADY-materialized training frame
    * (the caller localCheckpointed it, typically shared with the
    * assignment/encode passes of an index build — one corpus
    * materialization instead of one per consumer). Identical
    * arithmetic: same seeds, same argmax, same per-(cluster, dim)
    * averages. */
  private[graft] def kmeansCentroidsOn(vecs0: DataFrame, nlist: Int,
                                       iterations: Int,
                                       idCol: String = "vec_id",
                                       vecCol: String = "embedding"): DataFrame = {
    graft.functions.GraftFunctions.register(vecs0.sparkSession)
    collectTrainRows(vecs0.select(col(idCol), col(vecCol))) match {
      case Some((rows, idType)) =>
        return kmeansDriver(vecs0.sparkSession, rows, idType, nlist, iterations)
      case None => ()
    }
    val corpus = vecs0
    val vecs = vecs0.select(col(idCol), col(vecCol))
    var cents = vecs.orderBy(col(idCol)).limit(nlist)
      .select(col(idCol).as("cent_id"), col(vecCol).cast("array<double>").as("cvec"))
    for (_ <- 0 until iterations) {
      val scored = vecs
        .join(broadcast(cents))
        .select(col(idCol), col(vecCol), col("cent_id"),
          cosine(col(vecCol), col("cvec").cast("array<float>")).as("ccos"))
      // argmax via hash aggregate (no sort): max struct picks highest
      // ccos, then lowest cent_id; vec rides along (never compared —
      // (ccos, cent_id) is unique per row)
      val assigned = scored
        .groupBy(col(idCol))
        .agg(max(struct(col("ccos"), (-col("cent_id")).as("nc"),
          col(vecCol).as("v"))).as("m"))
        .select((-col("m.nc")).as("cent_id"), col("m.v").as(vecCol))
      val updated = assigned
        .select(col("cent_id"), posexplode(col(vecCol)).as(Seq("i", "x")))
        .groupBy("cent_id", "i")
        .agg(avg(col("x").cast("double")).as("cx"))
        .groupBy("cent_id")
        .agg(map_from_arrays(collect_list("i"), collect_list("cx")).as("m"))
        .select(col("cent_id"),
          transform(sequence(lit(0), size(col("m")) - 1),
            i => element_at(col("m"), i)).as("cvec"))
      // empty clusters keep the previous centroid; materialize the
      // (tiny: nlist x dim) centroid set to the driver each iteration —
      // otherwise the iterative lineage recomputes every prior
      // assignment pass for each downstream reference
      val next = cents.join(updated.withColumnRenamed("cvec", "newvec")
          .withColumnRenamed("cent_id", "uid"),
          col("cent_id") === col("uid"), "left_outer")
        .select(col("cent_id"), coalesce(col("newvec"), col("cvec")).as("cvec"))
      cents = materialize(corpus.sparkSession, next)
    }
    // nlist driver-side literal rows; the checkpoint blocks behind
    // `vecs` are reaped by the ContextCleaner once unreferenced
    materialize(corpus.sparkSession,
      cents.select(col("cent_id"), col("cvec").cast("array<float>").as("cvec")))
  }

  /** Collect a (cent_id, cvec) frame and rebuild it as a literal local
    * DataFrame — cuts iterative lineage. Schema-preserving (works for
    * any id type, not just BIGINT). */
  private def materialize(spark: org.apache.spark.sql.SparkSession,
                          cents: DataFrame): DataFrame = {
    import scala.jdk.CollectionConverters._
    graft.lake.JobLabel(spark, "graft:kmeans materialize") {
      spark.createDataFrame(cents.collect().toSeq.asJava, cents.schema)
    }
  }

  // -------------------------------------------------------------------
  // Driver-side Lloyd (round-15 optimization, guide §1/§2.4): at the
  // training-set sizes IVF/PQ quantizers actually train on (a sample —
  // FAISS trains coarse quantizers over ≤ a few 100k vectors even for
  // billion-vector corpora), the distributed Lloyd loop's cost is pure
  // fixed overhead: every iteration was 3 exchanges + a driver
  // materialize = 4-6 Spark jobs of 30-300 ms over KBs of data, and a
  // full IVF-PQ build paid ~10-15 such jobs. Training now COLLECTS the
  // (id, vec) projection once (one job, bounded by MaxDriverTrainRows
  // ≈ 64 MB of floats) and runs the same arithmetic on the driver:
  // same lowest-id seeds, same raw-cosine scoring against the
  // float-cast centroid with left-to-right double accumulation, same
  // argmax (Spark's double total ordering, lowest-cent_id tiebreak),
  // same per-(cluster, dim) mean, same empty-cluster carry. Rows are
  // sorted by id before the fold, so the summation order — and hence
  // the trained centroids — no longer depend on the partition layout
  // at all (the distributed loop's avg() folded in partition order).
  // Larger training frames fall back to the distributed loop
  // unchanged. Downstream parity is unaffected by design: every
  // oracle embeds the COLLECTED centroids as literals, and
  // assignment/search arithmetic is untouched.
  // -------------------------------------------------------------------

  private[ops] val MaxDriverTrainRows =
    sys.env.get("SPARK_GRAFT_KMEANS_DRIVER_MAX").map(_.toInt)
      .getOrElse(262144)

  /** Spark's sort order for the id types the driver path supports;
    * None ⇒ distributed fallback. Strings compare as unsigned UTF-8
    * bytes (UTF8String.compareTo). */
  private[ops] def idOrderingOf(dt: org.apache.spark.sql.types.DataType)
      : Option[Ordering[Any]] = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType => Some(Ordering.by((a: Any) => a.asInstanceOf[Long]))
      case IntegerType => Some(Ordering.by((a: Any) => a.asInstanceOf[Int]))
      case ShortType => Some(Ordering.by((a: Any) => a.asInstanceOf[Short]))
      case ByteType => Some(Ordering.by((a: Any) => a.asInstanceOf[Byte]))
      case StringType => Some(new Ordering[Any] {
        def compare(a: Any, b: Any): Int = {
          val x = a.asInstanceOf[String].getBytes("UTF-8")
          val y = b.asInstanceOf[String].getBytes("UTF-8")
          var i = 0
          while (i < x.length && i < y.length) {
            val c = (x(i) & 0xff) - (y(i) & 0xff)
            if (c != 0) return c
            i += 1
          }
          x.length - y.length
        }
      })
      case _ => None
    }
  }

  /** Collect a bounded (id, vec) training frame for the driver path:
    * Some((rows sorted by id, id type)) when the frame fits the bound,
    * has a supported id type, and carries no nulls; None ⇒ use the
    * distributed loop. One limit-guarded collect job. */
  private def collectTrainRows(vecs: DataFrame)
      : Option[(Array[(Any, Array[Double])],
                org.apache.spark.sql.types.DataType)] = {
    val idType = vecs.schema(0).dataType
    val ord = idOrderingOf(idType).getOrElse(return None)
    val collected = graft.lake.JobLabel(vecs.sparkSession, "graft:kmeans collect") {
      vecs.limit(MaxDriverTrainRows + 1).collect()
    }
    if (collected.length > MaxDriverTrainRows) return None
    val rows = new Array[(Any, Array[Double])](collected.length)
    var i = 0
    while (i < collected.length) {
      val r = collected(i)
      if (r.isNullAt(0)) return None
      rows(i) = (r.get(0), doublesOf(r, 1).getOrElse(return None))
      i += 1
    }
    scala.util.Sorting.stableSort(rows,
      (a: (Any, Array[Double]), b: (Any, Array[Double])) =>
        ord.lt(a._1, b._1))
    Some((rows, idType))
  }

  /** Field `i` of a collected row as a double vector (float elements
    * widen exactly, as graft_dot reads them); None for a null vector
    * or a null element — the driver paths fall back on those. */
  private[ops] def doublesOf(r: org.apache.spark.sql.Row, i: Int)
      : Option[Array[Double]] = {
    if (r.isNullAt(i)) return None
    val seq = r.getSeq[Any](i)
    val v = new Array[Double](seq.length)
    var j = 0
    while (j < seq.length) {
      seq(j) match {
        case null => return None
        case f: Float => v(j) = f.toDouble
        case d: Double => v(j) = d
        case n: Number => v(j) = n.doubleValue()
      }
      j += 1
    }
    Some(v)
  }

  /** Spark SQL's double comparison (SQLOrderingUtil.compareDoubles):
    * -0.0 == 0.0, NaN largest — the ordering max(struct(ccos, ...))
    * folds with. */
  private[ops] def sqlCompareDoubles(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)

  /** Spark's `round(x, 4)` on a double: NaN and infinities pass
    * through, everything else rounds HALF_UP through the decimal
    * string form (`BigDecimal.valueOf`), as Catalyst's Round does.
    * Away from a half-way point the double product |x|·10⁴ (error
    * < 1e-6 below 1e9) already decides the rounded integer n, and
    * n / 1e4 is the nearest double to the rounded decimal — what
    * `doubleValue` returns — so only near-ties take the string path
    * (the driver paths round every candidate cosine). */
  private[ops] def round4(d: Double): Double = {
    if (d.isNaN || d.isInfinite) return d
    val t = math.abs(d) * 10000.0
    if (t < 1e9 && math.abs(t - math.floor(t) - 0.5) > 1e-6) {
      val n = math.floor(t + 0.5).toLong
      (if (d < 0) -n else n) / 10000.0
    } else java.math.BigDecimal.valueOf(d)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
  }

  /** dot of a double vector against the FLOAT-cast centroid,
    * accumulated left-to-right in double — graft_dot's arithmetic on
    * `cosine(vec, cvec.cast("array<float>"))` exactly. */
  private[ops] def dotVsFloat(v: Array[Double], cf: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < v.length) { s += v(i) * cf(i).toDouble; i += 1 }
    s
  }

  private[ops] def normOf(v: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    math.sqrt(s)
  }

  /** One driver-side Lloyd run over pre-sorted rows: returns the
    * (seed id, centroid double vector) list after `iterations`
    * rounds. Shared by the coarse and the per-subspace (PQ) trainers. */
  private def lloydDriver(rows: Array[(Any, Array[Double])], k: Int,
                          iterations: Int, ord: Ordering[Any])
      : Array[(Any, Array[Double])] = {
    var cents: Array[(Any, Array[Double])] =
      rows.take(k).map { case (id, v) => (id, v.clone()) }
    if (cents.isEmpty || rows.isEmpty) return cents
    val dim = rows(0)._2.length
    val rowNorms = rows.map(r => normOf(r._2))
    for (_ <- 0 until iterations) {
      val cf = cents.map(_._2.map(_.toFloat))
      val cNorms = cf.map { c =>
        var s = 0.0; var i = 0
        while (i < c.length) { s += c(i).toDouble * c(i).toDouble; i += 1 }
        math.sqrt(s)
      }
      val sums = Array.fill(cents.length)(new Array[Double](dim))
      val counts = new Array[Long](cents.length)
      var r = 0
      while (r < rows.length) {
        val v = rows(r)._2
        var best = -1
        var bestCos = 0.0
        var c = 0
        while (c < cents.length) {
          val cos = dotVsFloat(v, cf(c)) / (rowNorms(r) * cNorms(c))
          // max(struct(ccos, -cent_id)): higher cosine wins; ties go
          // to the LOWEST cent_id — with cents in ascending-id order,
          // strict improvement only
          if (best < 0 || sqlCompareDoubles(cos, bestCos) > 0) {
            best = c; bestCos = cos
          }
          c += 1
        }
        val s = sums(best)
        var j = 0
        while (j < dim) { s(j) += v(j); j += 1 }
        counts(best) += 1
        r += 1
      }
      cents = cents.zipWithIndex.map { case ((id, old), c) =>
        if (counts(c) == 0L) (id, old) // empty cluster keeps its centroid
        else (id, sums(c).map(_ / counts(c)))
      }
    }
    cents
  }

  /** The driver-path [[kmeansCentroidsOn]]: same output frame shape
    * ((cent_id: id type, cvec: array<float>)). */
  private def kmeansDriver(spark: org.apache.spark.sql.SparkSession,
                           rows: Array[(Any, Array[Double])],
                           idType: org.apache.spark.sql.types.DataType,
                           nlist: Int, iterations: Int): DataFrame = {
    import org.apache.spark.sql.types._
    val ord = idOrderingOf(idType).get
    val cents = lloydDriver(rows, nlist, iterations, ord)
    val out = cents.map { case (id, v) =>
      org.apache.spark.sql.Row(id, v.map(_.toFloat).toSeq) }
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(out.toSeq.asJava, StructType(Seq(
      StructField("cent_id", idType),
      StructField("cvec", ArrayType(FloatType)))))
  }

  /** The driver-path [[pqTrain]]: per-subspace Lloyd over the sliced
    * training rows — identical arithmetic to the grouped distributed
    * loop (same lowest-id seeds per subspace, same raw-cosine argmax,
    * same means), same output frame shape
    * ((sub: int, cent_id: id type, cvec: array<float>)). */
  private def pqTrainDriver(spark: org.apache.spark.sql.SparkSession,
                            rows: Array[(Any, Array[Double])],
                            idType: org.apache.spark.sql.types.DataType,
                            m: Int, ksub: Int, iterations: Int): DataFrame = {
    import org.apache.spark.sql.types._
    val ord = idOrderingOf(idType).get
    val dim = rows(0)._2.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sd = dim / m
    val out = (0 until m).flatMap { s =>
      val sliced = rows.map { case (id, v) =>
        (id, java.util.Arrays.copyOfRange(v, s * sd, (s + 1) * sd)) }
      lloydDriver(sliced, ksub, iterations, ord).map { case (id, c) =>
        org.apache.spark.sql.Row(s, id, c.map(_.toFloat).toSeq) }
    }
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(out.asJava, StructType(Seq(
      StructField("sub", IntegerType, nullable = false),
      StructField("cent_id", idType),
      StructField("cvec", ArrayType(FloatType)))))
  }

  /** IVF ANN: partition the corpus into `nlist` inverted lists by
    * nearest k-means centroid; probes search only their `nprobe`
    * closest lists. Assignment is a broadcast cross-score + argmax,
    * search is an equi-join on the centroid id. */
  def ivfTopK(corpus: DataFrame, probes: DataFrame, k: Int,
              nlist: Int = 16, nprobe: Int = 4, kmeansIters: Int = 2,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    ivfSearch(corpus, probes,
      kmeansCentroids(corpus, nlist, kmeansIters, idCol, vecCol),
      k, nprobe, idCol, vecCol)

  /** The search half of IVF against an already-trained (or otherwise
    * fixed) (cent_id, cvec) centroid set. Assignment cosines are
    * rounded to 4dp before the argmax/rank with a cent_id tiebreak —
    * the same rounded-compare discipline as the pair scores — so an
    * oracle holding the identical centroid literals reproduces list
    * assignment exactly. */
  def ivfSearch(corpus: DataFrame, probes: DataFrame, cents: DataFrame,
                k: Int, nprobe: Int,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    def assign(df: DataFrame, asId: String, asVec: String, keep: Int): DataFrame = {
      val in = df.select(col(idCol).as(asId), col(vecCol).as(asVec))
      if (keep == 1) assignClusters(in, cents, asId, asVec)
      else assignTopClusters(in, cents, keep, asId, asVec)
    }
    val lists = assign(corpus, "vid", "vvec", 1)
    val probeLists = assign(probes, "qid", "qvec", nprobe)
    val scored = lists.join(probeLists, Seq("cent_id"))
      .where(col("qid") =!= col("vid"))
      .select(col("qid"), col("vid"),
        round(cosine(col("qvec"), col("vvec")), 4).as("cos"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vid"))
    scored.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
  }

  /** Top-`keep` nearest-centroid assignment — the probe half of IVF
    * factored out for callers that search a PERSISTED index
    * ([[VectorIndex]]): broadcast cross-score, then rank by rounded
    * cosine with a cent_id tiebreak (the same 4-dp discipline as
    * [[ivfSearch]], so an oracle holding identical centroid literals
    * reproduces the probed lists exactly). Returns one
    * (idCol, vecCol, cent_id) row per probed list.
    *
    * NOTE (round-14 optimization pass): an assignment-as-projection
    * variant (collect the ≤nlist centroids, argmax via `array_max`
    * over literal-scored structs — zero exchanges) was measured and
    * REVERTED: embedding per-training-run centroid values as literals
    * changes the generated code text every invocation, so Janino
    * recompiles the projection per rep (~0.1–0.3 s each) — the suite
    * ran 1.2–2.0× SLOWER than this join+agg form, whose generated
    * code is value-independent and compiles once. */
  def assignTopClusters(df: DataFrame, cents: DataFrame, keep: Int,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftFunctions.register(df.sparkSession)
    val scored = df.select(col(idCol), col(vecCol))
      .join(broadcast(cents))
      .select(col(idCol), col(vecCol), col("cent_id"),
        round(cosine(col(vecCol), col("cvec")), 4).as("ccos"))
    val w = Window.partitionBy(idCol).orderBy(col("ccos").desc, col("cent_id"))
    scored.withColumn("crnk", row_number().over(w))
      .where(col("crnk") <= keep).drop("ccos", "crnk")
  }

  /** Nearest-centroid assignment — the shared IVF / SemDeDup building
    * block: broadcast cross-score + hash-agg argmax (no per-key sort),
    * cosines rounded to 4 dp with a cent_id tiebreak so an oracle
    * holding the identical centroid literals reproduces the partition
    * exactly. Returns (idCol, vecCol, cent_id, carryCols*) —
    * `carryCols` ride the argmax struct, so attribute columns reach
    * the output without a second corpus-sized join. (See
    * [[assignTopClusters]] for why this is NOT a literal projection.) */
  def assignClusters(corpus: DataFrame, cents: DataFrame,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding",
                     carryCols: Seq[String] = Nil): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    corpus.select((Seq(idCol, vecCol) ++ carryCols).map(col): _*)
      .join(broadcast(cents))
      .select(Seq(col(idCol), col(vecCol), col("cent_id"),
        round(cosine(col(vecCol), col("cvec")), 4).as("ccos")) ++
        carryCols.map(col): _*)
      .groupBy(col(idCol))
      .agg(max(struct(Seq(col("ccos"), (-col("cent_id")).as("nc"),
        col(vecCol).as("v")) ++
        carryCols.map(c => col(c).as(s"c_$c")): _*)).as("m"))
      .select(Seq(col(idCol), col("m.v").as(vecCol),
        (-col("m.nc")).as("cent_id")) ++
        carryCols.map(c => col(s"m.c_$c").as(c)): _*)
  }

  /** SemDeDup-style semantic near-duplicate pruning (Abbas et al.
    * 2023, arXiv:2303.09540): cluster the corpus by nearest centroid,
    * then inside each cluster drop every vector whose rounded cosine
    * with a LOWER-id cluster member reaches `threshold` — the kept set
    * retains exactly the minimal-id representative of every duplicate
    * group. The pairwise work is an equi-join on cent_id (bounded by
    * cluster size, corpus/nlist), never corpus-wide all-pairs: the
    * clustering IS the candidate blocking, which is what makes
    * semantic dedup feasible at 100 TB. The assignment frame is
    * localCheckpointed — it feeds both pair sides and the final keep
    * join, and re-deriving the broadcast-argmax three times is the
    * kind of recompute that hurts when the corpus is large.
    * Returns (idCol, cent_id, keep 0|1). */
  def semDedup(corpus: DataFrame, cents: DataFrame, threshold: Double,
               idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame = {
    val assigned = assignClusters(corpus, cents, idCol, vecCol)
      .localCheckpoint()
    val l = assigned.select(col(idCol).as("a"), col(vecCol).as("va"),
      col("cent_id"))
    val r = assigned.select(col(idCol).as("b"), col(vecCol).as("vb"),
      col("cent_id"))
    val dropped = l.join(r, Seq("cent_id"))
      .where(col("a") < col("b") &&
        round(cosine(col("va"), col("vb")), 4) >= threshold)
      .select(col("b").as("__dup"))
      .distinct()
    assigned.join(dropped, col(idCol) === col("__dup"), "left_outer")
      .select(col(idCol), col("cent_id"),
        col("__dup").isNull.cast("long").as("keep"))
  }

  /** Symmetric int8 scalar quantization of an embedding column — the
    * 4x storage-compression path for a 100 TB vector corpus (float32 →
    * int8 codes + one float scale per vector). Pure array HOFs:
    * `code_i = round(x_i / scale * 127)`, scale = max |x_i| (clamped
    * away from zero for degenerate vectors). Returns the input plus
    * `q_scale` and `q_codes`; `dequantize` reconstructs doubles. */
  def quantizeInt8(df: DataFrame, vecCol: String = "embedding"): DataFrame = {
    val scale = greatest(
      aggregate(col(vecCol), lit(0.0),
        (acc, x) => greatest(acc, abs(x.cast("double")))),
      lit(1e-12))
    df.withColumn("q_scale", scale)
      .withColumn("q_codes", transform(col(vecCol),
        x => round(x.cast("double") / col("q_scale") * 127, 0).cast("int")))
  }

  /** Reconstructed double vector from (q_scale, q_codes). */
  def dequantize(scale: Column, codes: Column): Column =
    transform(codes, c => c.cast("double") * scale / 127)

  /** Multi-table LSH bucketing (the standard recall lever): `numTables`
    * independent plane sets; a (vec, table, bucket) row per table.
    * Candidates = pairs sharing a bucket in ANY table. */
  def lshBucketsMulti(df: DataFrame, numPlanes: Int, numTables: Int,
                      idCol: String, vecCol: String): DataFrame =
    (0 until numTables).map { t =>
      lshBuckets(df, numPlanes, idCol, vecCol, seed = 42L + t)
        .withColumn("table", lit(t))
    }.reduce(_ unionByName _)

  /** ANN top-k via multi-table LSH: probes only compare against corpus
    * vectors sharing a bucket in at least one table (the scale path;
    * recall tuned by numPlanes down / numTables up). */
  def annTopK(corpus: DataFrame, probes: DataFrame, k: Int, numPlanes: Int = 8,
              numTables: Int = 4,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val cb = lshBucketsMulti(corpus, numPlanes, numTables, idCol, vecCol)
      .select(col(idCol).as("vid"), col(vecCol).as("vvec"),
        col("table"), col("bucket"))
    val pb = lshBucketsMulti(probes, numPlanes, numTables, idCol, vecCol)
      .select(col(idCol).as("qid"), col(vecCol).as("qvec"),
        col("table").as("qtable"), col("bucket").as("qbucket"))
    val cands = cb.join(broadcast(pb),
        col("table") === col("qtable") && col("bucket") === col("qbucket") &&
          col("qid") =!= col("vid"))
      .select("qid", "qvec", "vid", "vvec").distinct()
    val scored = cands.select(col("qid"), col("vid"),
      round(cosine(col("qvec"), col("vvec")), 4).as("cos"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vid"))
    scored.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
  }

  // -------------------------------------------------------------------
  // Product quantization (Jégou et al., PAMI 2011): the 100 TB vector
  // compression path. dim-D vectors split into m contiguous subspaces,
  // each quantized against its own ksub-centroid codebook; a vector
  // becomes m small codes (64 float dims → 8 bytes at m=8, ksub=16 —
  // 32x smaller than float32, 4x smaller than int8). Search is ADC
  // (asymmetric distance): the float probe builds one m×ksub
  // dot-product lookup table, and a corpus vector's approximate score
  // is the sum of its codes' table entries — the corpus is never
  // decoded. Training reuses the deterministic k-means (lowest-id
  // seeds, fixed iterations), so codebooks are embeddable as oracle
  // literals, same trick as IVF.
  // -------------------------------------------------------------------

  /** Explode a vector frame into (asId, sub, svec) subvector rows. */
  private[ops] def subVectors(df: DataFrame, m: Int, sd: Int, idCol: String,
                              vecCol: String, asId: String,
                              carryCols: Seq[String] = Nil): DataFrame =
    df.select(col(idCol).as(asId) +: carryCols.map(col) :+
      posexplode(expr(
        s"transform(sequence(0, ${m - 1}), s -> slice($vecCol, s * $sd + 1, $sd))"))
        .as(Seq("sub", "svec")): _*)

  /** Train per-subspace codebooks: (sub, cent_id, cvec) with dim/m-wide
    * centroids. At 100 TB the training corpus is a hash-gated sample;
    * encoding (pqEncode) is the corpus-wide pass.
    *
    * All m subspaces train in ONE grouped Lloyd loop over the exploded
    * (id, sub, svec) frame — per-(sub) arithmetic is identical to m
    * independent k-means runs (same lowest-id seeds, same raw-cosine
    * argmax with cent_id tiebreak, same per-(cluster, dim) averages),
    * but each iteration is one corpus pass + one tiny (m × ksub)
    * driver materialization instead of m of each. */
  def pqTrain(corpus: DataFrame, m: Int, ksub: Int, iterations: Int = 2,
              idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    graft.functions.GraftFunctions.register(spark)
    // bounded training sets train on the driver — see the driver-side
    // Lloyd block above; empty frames keep the distributed path's
    // fail-loudly dim probe
    collectTrainRows(corpus.select(col(idCol), col(vecCol))) match {
      case Some((rows, idType)) if rows.nonEmpty =>
        return pqTrainDriver(spark, rows, idType, m, ksub, iterations)
      case _ => ()
    }
    val dim = graft.lake.JobLabel(spark, "graft:pq dim probe") {
      corpus.select(size(col(vecCol))).first().getInt(0)
    }
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sd = dim / m
    val subs = subVectors(corpus, m, sd, idCol, vecCol, "id")
    // seeds: the lowest ksub ids — the same seed set every per-subspace
    // run would pick, one small job instead of m
    val seedIds = graft.lake.JobLabel(spark, "graft:pq seeds") {
      corpus.select(col(idCol)).orderBy(col(idCol)).limit(ksub)
        .collect().map(_.get(0))
    }
    var cents = materialize(spark,
      subs.where(col("id").isin(seedIds: _*))
        .select(col("sub"), col("id").as("cent_id"),
          col("svec").cast("array<double>").as("cvec")))
    for (_ <- 0 until iterations) {
      val scored = subs.join(broadcast(cents), Seq("sub"))
        .select(col("id"), col("sub"), col("svec"), col("cent_id"),
          cosine(col("svec"), col("cvec").cast("array<float>")).as("ccos"))
      // hash-agg argmax per (vector, subspace) — see kmeansCentroids
      val assigned = scored.groupBy("id", "sub")
        .agg(max(struct(col("ccos"), (-col("cent_id")).as("nc"),
          col("svec").as("v"))).as("m"))
        .select(col("sub"), (-col("m.nc")).as("cent_id"), col("m.v").as("svec"))
      val updated = assigned
        .select(col("sub"), col("cent_id"), posexplode(col("svec")).as(Seq("i", "x")))
        .groupBy("sub", "cent_id", "i")
        .agg(avg(col("x").cast("double")).as("cx"))
        .groupBy("sub", "cent_id")
        .agg(map_from_arrays(collect_list("i"), collect_list("cx")).as("mm"))
        .select(col("sub"), col("cent_id"),
          transform(sequence(lit(0), size(col("mm")) - 1),
            i => element_at(col("mm"), i)).as("cvec"))
      // empty clusters keep the previous centroid (kmeansCentroids rule)
      val next = cents.join(updated
          .withColumnRenamed("cvec", "newvec")
          .withColumnRenamed("cent_id", "uid")
          .withColumnRenamed("sub", "usub"),
          col("cent_id") === col("uid") && col("sub") === col("usub"),
          "left_outer")
        .select(col("sub"), col("cent_id"),
          coalesce(col("newvec"), col("cvec")).as("cvec"))
      cents = materialize(spark, next)
    }
    cents.select(col("sub"), col("cent_id"),
      col("cvec").cast("array<float>").as("cvec"))
  }

  /** Encode the corpus against trained codebooks: (idCol, sub, code) —
    * nearest centroid per subspace by rounded cosine with the cent_id
    * tiebreak (the assignClusters discipline, so an oracle holding the
    * codebook literals reproduces every code). One explode + broadcast
    * join + hash-agg argmax; the corpus never shuffles whole. */
  def pqEncode(corpus: DataFrame, books: DataFrame, m: Int,
               idCol: String = "vec_id",
               vecCol: String = "embedding",
               carryCols: Seq[String] = Nil): DataFrame =
    pqEncodeSd(corpus, books, m, 0, idCol, vecCol, carryCols)

  /** [[pqEncode]] with the codebooks' sub-dimension `sd` already known
    * (a caller holding the quantizers on the driver); 0 reads it off
    * the books frame in one small job. */
  private[ops] def pqEncodeSd(corpus: DataFrame, books: DataFrame, m: Int,
                              sd0: Int, idCol: String, vecCol: String,
                              carryCols: Seq[String]): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val sd = if (sd0 > 0) sd0 else
      graft.lake.JobLabel(corpus.sparkSession, "graft:pq book meta") {
        books.select(size(col("cvec"))).first().getInt(0)
      }
    // carryCols (an index build's cent_id + attribute columns) are
    // constant per id, so `first` inside the per-(id, sub) argmax
    // group is deterministic — carrying them here removes the
    // corpus-sized id-join the build otherwise pays to re-attach
    // them. The codebook's own cent_id is renamed before the join so
    // a carried coarse `cent_id` never collides with it.
    val bk = books.select(col("sub"), col("cent_id").as("__cand"),
      col("cvec"))
    subVectors(corpus, m, sd, idCol, vecCol, idCol, carryCols)
      .join(broadcast(bk), Seq("sub"))
      .select(Seq(col(idCol), col("sub"), col("__cand"),
        round(cosine(col("svec"), col("cvec")), 4).as("ccos")) ++
        carryCols.map(col): _*)
      .groupBy(col(idCol), col("sub"))
      .agg(max(struct(col("ccos"), (-col("__cand")).as("nc"))).as("m"),
        carryCols.map(c => first(col(c)).as(c)): _*)
      .select(Seq(col(idCol), col("sub"), (-col("m.nc")).as("code")) ++
        carryCols.map(col): _*)
  }

  /** ADC top-k: probes stay float, the corpus is only its PQ codes.
    * Each probe's m×ksub dot-product LUT broadcasts into the code
    * join; a candidate's approximate cosine is Σ LUT[sub][code]
    * normalized by the probe norm and the RECONSTRUCTION norm
    * (√Σ‖codeword‖²), both exact from codes + codebooks. Scores are
    * rounded (4 dp, vid tiebreak) — the oracle reproduces ranking
    * bit-for-bit from the same codebook literals. */
  def pqTopK(corpus: DataFrame, probes: DataFrame, books: DataFrame,
             m: Int, k: Int, idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val sd = books.select(size(col("cvec"))).first().getInt(0)
    // codes feed BOTH the reconstruction-norm aggregate and the ADC
    // join; localCheckpoint the (id, sub, code) frame — m small ints
    // per vector — so the encode pipeline (explode + broadcast-score +
    // argmax over the corpus) runs once, not once per consumer
    val codes = pqEncode(corpus, books, m, idCol, vecCol)
      .select(col(idCol).as("vid"), col("sub"), col("code"))
      .localCheckpoint()
    val bookNorms = books.select(col("sub"), col("cent_id").as("code"),
      dot(col("cvec"), col("cvec")).as("css"))
    val reconNorm = codes.join(broadcast(bookNorms), Seq("sub", "code"))
      .groupBy("vid").agg(sqrt(sum("css")).as("rn"))
    val lut = subVectors(probes, m, sd, idCol, vecCol, "qid")
      .join(broadcast(books), Seq("sub"))
      .select(col("qid"), col("sub"), col("cent_id").as("code"),
        dot(col("svec"), col("cvec")).as("pd"))
    val qNorm = probes.select(col(idCol).as("qid"),
      norm(col(vecCol)).as("qn"))
    val scored = codes.join(broadcast(lut), Seq("sub", "code"))
      .where(col("qid") =!= col("vid"))
      .groupBy("qid", "vid").agg(sum("pd").as("adp"))
      .join(reconNorm, Seq("vid"))
      .join(broadcast(qNorm), Seq("qid"))
      .select(col("qid"), col("vid"),
        round(col("adp") / (col("qn") * col("rn")), 4).as("cos_pq"))
    val w = Window.partitionBy("qid").orderBy(col("cos_pq").desc, col("vid"))
    scored.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
  }

  /** One MMR selection: (query, rank, picked doc, objective value at
    * selection time). */
  final case class MmrPick(qid: Long, rnk: Int, vid: Long, mmr: Double)

  /** Maximal-marginal-relevance diversified top-k: greedily pick, per
    * query, the candidate maximizing
    * `λ·rel(d) − (1−λ)·max_{s∈picked} sim(d, s)` (sim = dot product of
    * the candidate vectors; the max over an empty picked set is 0, so
    * the first pick is the relevance argmax scaled by λ). Ties break
    * by vid ascending.
    *
    * Scale design: MMR is inherently sequential IN k, so it runs AFTER
    * a retrieval stage has already cut each query to a bounded
    * candidate set (top-N from brute force / IVF / PQ — the standard
    * two-stage shape). The greedy loop is `flatMapGroups` per query:
    * queries parallelize freely, per-group state is O(N·dim), and
    * nothing ever shuffles but the (qid, N-candidate) rows themselves.
    * Candidates per query are capped (`maxCandidates`) so a caller
    * wiring an uncut frame in degrades to the N best by relevance
    * instead of materializing an unbounded group. */
  def mmrSelect(candidates: DataFrame, k: Int, lambda: Double,
                qidCol: String = "qid", vidCol: String = "vid",
                relCol: String = "rel", vecCol: String = "vec",
                maxCandidates: Int = 256): org.apache.spark.sql.Dataset[MmrPick] = {
    require(k >= 1 && lambda >= 0 && lambda <= 1, "need k >= 1, lambda in [0,1]")
    val spark = candidates.sparkSession
    import spark.implicits._
    candidates
      .select(col(qidCol).cast("long"), col(vidCol).cast("long"),
        col(relCol).cast("double"), col(vecCol).cast("array<double>"))
      .as[(Long, Long, Double, Array[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        // bounded selection over the ITERATOR: a size-capped heap keeps
        // the maxCandidates best by (rel desc, vid asc) while streaming
        // the group, so an uncut candidate frame costs O(N·dim) state,
        // never O(group·dim) — the contract the doc promises
        // dequeue() removes the max = lowest rel (largest vid on ties)
        val evictWorst = Ordering.by[(Long, Double, Array[Double]), (Double, Long)] {
          case (vid, rel, _) => (-rel, vid)
        }
        val heap = scala.collection.mutable.PriorityQueue.empty(evictWorst)
        it.foreach { case (_, vid, rel, vec) =>
          heap.enqueue((vid, rel, vec))
          if (heap.size > maxCandidates) heap.dequeue()
        }
        val cand = heap.dequeueAll.toArray
          .sortBy { case (vid, rel, _) => (-rel, vid) }
        val picked = new Array[Boolean](cand.length)
        val pickedVecs = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
        val out = scala.collection.mutable.ArrayBuffer.empty[MmrPick]
        var step = 0
        while (step < k && out.size < cand.length) {
          var bestIdx = -1
          var bestScore = Double.NegativeInfinity
          var i = 0
          while (i < cand.length) {
            if (!picked(i)) {
              val (vid, rel, vec) = cand(i)
              var maxSim = 0.0 // empty picked set => no diversity term
              var j = 0
              while (j < pickedVecs.length) {
                val p = pickedVecs(j)
                var d = 0.0
                var x = 0
                while (x < vec.length) { d += p(x) * vec(x); x += 1 }
                if (j == 0 || d > maxSim) maxSim = d
                j += 1
              }
              val score = lambda * rel - (1 - lambda) * maxSim
              if (score > bestScore ||
                  (score == bestScore && bestIdx >= 0 && vid < cand(bestIdx)._1)) {
                bestIdx = i
                bestScore = score
              }
            }
            i += 1
          }
          // all remaining candidates scored NaN (bad rel or vec entry):
          // stop selecting rather than index with -1 and kill the task
          if (bestIdx < 0) {
            step = k
          } else {
          picked(bestIdx) = true
          pickedVecs += cand(bestIdx)._3
          step += 1
          out += MmrPick(qid, step, cand(bestIdx)._1, bestScore)
          }
        }
        out.iterator
      }
  }
}
