package graft.ops

import graft.lake.TableStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Persisted IVF (inverted-file) ANN index over an embedding corpus,
  * stored IN the table store — train once, serve many. The per-query
  * [[Similarity.ivfTopK]] re-trains and re-assigns the corpus on every
  * call; at 100 TB the index build is the expensive pass and queries
  * must not repeat it. Build writes the tables:
  *
  *   - `<name>_centroids` — the (cent_id, cvec) k-means result, tiny
  *     (nlist × dim), broadcast at search time;
  *   - the inverted lists, hive-PARTITIONED by cent_id, under one
  *     lifecycle and one of two payload codecs ([[Codec]]): full
  *     vectors in `<name>_lists`, or PQ codes in `<name>_codes`.
  *
  * Search assigns each probe its `nprobe` closest centroids (broadcast
  * — no corpus touch), then reads ONLY those lists: the probed
  * cent_ids land as a LITERAL IN on the lists table's partition
  * column, so partition pruning drops every unprobed list directory
  * before a file opens — the store's scan-avoidance lever applied to
  * ANN. The probed-id set is ≤ nlist by construction, so the
  * driver-side collect is bounded metadata, never data-sized.
  *
  * Determinism mirrors [[Similarity.ivfSearch]] (4-dp rounded cosines,
  * cent_id/vid tiebreaks), so a search against a freshly built index
  * equals `ivfSearch` given the same centroids — the parity a DuckDB
  * oracle holding the centroid literals re-proves per run. Rebuild
  * overwrites both tables atomically (each commit is atomic; a reader
  * racing a rebuild sees old or new lists, never a mix of list
  * versions within one table).
  *
  * Driver-served IVF-PQ. Bounded IVF-PQ searches and index syncs run
  * on the driver against a quantizer cache (coarse centroids,
  * codebooks, m, sub-dimension, codeword norms), loaded once per
  * (store root, index) and reloaded when the centroids' or books'
  * live data files change — the IVFADC serving split of Jégou et
  * al.: the probe side (routing, the m × ksub LUT, scoring, top-k) is
  * in-process arithmetic over KBs, and only the probed code
  * partitions are read, in one pruned merge-on-read scan. A sync
  * collects its change feed once, nets and encodes it on the driver
  * and commits codes plus delete keys from local frames in the same
  * single commit. The bound is [[Similarity]]'s driver-training bound
  * (262,144; `SPARK_GRAFT_KMEANS_DRIVER_MAX` overrides it for
  * training, search and sync alike), applied to the driver's work
  * and decided from metadata before any data is read: a search's
  * probes × their probed lists' code rows (manifest row counts), a
  * sync's feed rows (`TableStore.changeRowsBound`). Past it, on null
  * or ragged vectors, or on id types the driver path does not order,
  * the distributed plans run unchanged. Both paths use graft_dot's
  * arithmetic and Spark's rounding and ordering, so they return the
  * same rows.
  */
object VectorIndex {

  def centroidsTable(name: String): String = s"${name}_centroids"
  def listsTable(name: String): String = Flat.dataTable(name)
  def booksTable(name: String): String = s"${name}_books"
  def codesTable(name: String): String = Pq.dataTable(name)

  /** The inverted lists' payload encoding, the one step the two index
    * shapes differ in (FAISS `IndexIVF`'s pluggable encoder): [[Flat]]
    * keeps `_lists` rows (cent_id, id, vec, attrs…), [[Pq]] `_codes`
    * rows (cent_id, id, sub, code, attrs…) under `_books` codebooks.
    * `tag` names its job labels and stream watermarks, `builder` the
    * FromTable builder that binds it. */
  private[graft] sealed abstract class Codec(val tag: String,
                                             val suffix: String,
                                             val builder: String) {
    def dataTable(name: String): String = name + suffix
    /** The payload columns between (cent_id, id) and the attributes. */
    def payload(vecCol: String): Seq[String] =
      if (this == Flat) Seq(vecCol) else Seq("sub", "code")
  }
  private[graft] case object Flat
    extends Codec("ivf", "_lists", "buildIvfIndexFromTable")
  private[graft] case object Pq
    extends Codec("ivfpq", "_codes", "buildIvfPqIndexFromTable")

  /** Maps an assigned frame (id, vec, cent_id, attrs…) and its
    * attribute columns to data-table rows. */
  private type Encoder = (DataFrame, Seq[String]) => DataFrame

  /** The codec's own quantizer trained over the corpus projection
    * `proj`: the tables it adds next to the centroids, and its
    * encoder. */
  private def train(codec: Codec, name: String, proj: DataFrame, m: Int,
                    ksub: Int, iters: Int, idCol: String,
                    vecCol: String): (Seq[(String, DataFrame)], Encoder) =
    codec match {
      case Flat => (Nil, (a, _) => a)
      case Pq =>
        val books = Similarity.pqTrain(proj, m, ksub, iters, idCol, vecCol)
        (Seq(booksTable(name) -> books), pqEncoder(books, m, 0, idCol, vecCol))
    }

  /** The codec's STORED coarse centroids and encoder — no retraining. */
  private def stored(codec: Codec, store: TableStore, name: String, m: Int,
                     idCol: String, vecCol: String): (DataFrame, Encoder) =
    codec match {
      case Flat => (store.read(centroidsTable(name)), (a, _) => a)
      case Pq =>
        val q = quantizer(store, name, m)
        (store.readVersion(centroidsTable(name), q.centsVersion),
          pqEncoder(store.readVersion(booksTable(name), q.booksVersion), q.m,
            q.sd, idCol, vecCol))
    }

  // the encode CARRIES cent_id + attrs through its per-(id, sub) argmax
  // (constant per id): the codes pipeline is assign → explode → encode
  // → write, with no id-join re-attaching them (guide §2.4). sd 0
  // reads the sub-dimension off the books.
  private def pqEncoder(books: DataFrame, m: Int, sd: Int, idCol: String,
                        vecCol: String): Encoder = (a, attrs) =>
    Similarity.pqEncodeSd(a, books, m, sd, idCol, vecCol, "cent_id" +: attrs)

  /** The codec of the built index `name`, read from its stored data
    * table (full-vector lists first). */
  private[graft] def codecOf(store: TableStore, name: String): Codec =
    Seq(Flat, Pq).find(c => store.exists(c.dataTable(name))).getOrElse(
      throw new IllegalArgumentException(s"unknown vector index $name — " +
        "build it with buildIvfIndex or buildIvfPqIndex first"))

  /** The (index name, codec) whose data table `table` is. */
  private[graft] def indexOf(table: String): Option[(String, Codec)] =
    Seq(Flat, Pq).collectFirst {
      case c if table.endsWith(c.suffix) => (table.stripSuffix(c.suffix), c)
    }

  /** An index table's column set, cached per (store root, table): it
    * is fixed at build time (appends conform to it), and the
    * streaming ingest needs it EVERY micro-batch — deriving it by
    * building a full read plan per batch would put an O(manifest)
    * metadata walk back on the hot path the store's checkpoint hint
    * keeps O(1). A rebuild through this object refreshes the entry;
    * an out-of-band schema change (another process rebuilding with
    * different attrCols) is picked up on the next JVM, the same
    * staleness window any schema cache has. */
  private val colsCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Seq[String]]()

  private def cachedCols(store: TableStore, table: String): Seq[String] =
    colsCache.computeIfAbsent((store.rootPath, table),
      _ => store.read(table).columns.toSeq)

  /** The one build. ONE corpus materialization feeds coarse training,
    * the codec's training, assignment and encode (guide §2.4: the
    * passes read executor-local checkpoint blocks, not parquet), and
    * pins the corpus rows — a rebuild's old lists — before any
    * overwrite. The centroids and the codec's tables commit first,
    * then the data table, re-ASSERTING `binding` (app, watermark): a
    * re-build at an unchanged corpus version must still replace the
    * lists, and overwriteTxn's replay guard would no-op the equal
    * version and pair new centroids with old lists. */
  private def build(store: TableStore, name: String, corpus: DataFrame,
                    codec: Codec, binding: Option[(String, Long)],
                    nlist: Int, m: Int, ksub: Int, kmeansIters: Int,
                    idCol: String, vecCol: String,
                    attrCols: Seq[String]): Unit = {
    val proj = graft.lake.JobLabel(corpus.sparkSession,
        s"graft:${codec.tag} build checkpoint") {
      corpus.select((Seq(idCol, vecCol) ++ attrCols).map(col): _*)
        .localCheckpoint()
    }
    val cents = Similarity.kmeansCentroidsOn(proj, nlist, kmeansIters,
      idCol, vecCol)
    val (tables, encoder) = train(codec, name, proj, m, ksub, kmeansIters,
      idCol, vecCol)
    val cols = Seq("cent_id", idCol) ++ codec.payload(vecCol) ++ attrCols
    val data = encoder(Similarity.assignClusters(proj, cents, idCol, vecCol,
        carryCols = attrCols), attrCols)
      .select(cols.map(col): _*)
    for ((t, df) <- (centroidsTable(name) -> cents) +: tables)
      if (store.exists(t)) store.overwrite(t, df) else store.create(t, df)
    // default layout handling on every path: the commit AQE-rebalances
    // partitioned writes on cent_id, so list files stay few and
    // right-sized instead of tasks × nlist fragments (preserveLayout
    // would skip that — it is for pre-shaped z-ordered frames, which
    // this assignment output is not)
    val (dt, txns) = (codec.dataTable(name), binding.toSeq)
    if (store.exists(dt)) store.overwriteReassertTxns(dt, data, txns)
    else store.createTxns(dt, data, txns, partitionBy = Seq("cent_id"))
    colsCache.put((store.rootPath, dt), cols)
  }

  /** Train k-means over `corpus` and persist centroids + inverted
    * lists under `name`. O(corpus) — one assignment pass after
    * training; re-running overwrites (index rebuild). `attrCols` are
    * carried INTO the inverted lists (lang, date, source, …) so
    * [[searchIvfIndexFiltered]] can push an attribute predicate into
    * the lists scan — the store's stats/bloom sidecars then prune
    * list FILES by the attribute on top of the cent_id partition
    * pruning, instead of post-filtering shrunken results. */
  def buildIvfIndex(store: TableStore, name: String, corpus: DataFrame,
                    nlist: Int = 16, kmeansIters: Int = 2,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    attrCols: Seq[String] = Nil): Unit =
    build(store, name, corpus, Flat, None, nlist, 0, 0, kmeansIters, idCol,
      vecCol, attrCols)

  /** Persist an IVF-PQ index (the IVFADC design of Jégou/Douze/Schmid,
    * "Product Quantization for Nearest Neighbor Search", TPAMI 2011 —
    * the shape FAISS serves billion-vector corpora with): a coarse
    * quantizer routes vectors into inverted lists, and the lists store
    * m-byte PQ CODES instead of full vectors, so the stored index is
    * ~dim·4/m× smaller than the corpus and a probed search reads only
    * code bytes. Three tables:
    *
    *   - `<name>_centroids` — coarse k-means (cent_id, cvec), tiny;
    *   - `<name>_books`     — per-subspace codebooks (sub, cent_id,
    *     cvec), m × ksub rows, tiny — broadcast at search time;
    *   - `<name>_codes`     — (cent_id, id, sub, code): m small-int
    *     rows per vector, hive-PARTITIONED by cent_id (probed lists
    *     prune at the partition level exactly like the full-vector
    *     index; the narrow int columns RLE/dict-compress to the PQ
    *     budget in parquet).
    *
    * Training (coarse + codebooks) is deterministic (lowest-id seeds,
    * fixed iterations, rounded-cosine argmax with cent_id tiebreaks),
    * so both literal sets embed into a DuckDB oracle replay. */
  def buildIvfPqIndex(store: TableStore, name: String, corpus: DataFrame,
                      nlist: Int = 16, m: Int = 8, ksub: Int = 16,
                      kmeansIters: Int = 2,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding",
                      attrCols: Seq[String] = Nil): Unit =
    build(store, name, corpus, Pq, None, nlist, m, ksub, kmeansIters, idCol,
      vecCol, attrCols)

  /** IVF-PQ search: probes assign to their nprobe coarse lists
    * (broadcast centroids), ONLY those code partitions are read
    * (literal-IN pruning on cent_id), and candidates score by
    * asymmetric distance — each probe's m × ksub dot-product LUT
    * broadcasts into the code join, a candidate's approximate cosine
    * is Σ LUT[sub][code] over its m codes normalized by probe and
    * reconstruction norms. Nothing data-sized moves: per probed list
    * the work is |list| × m small-int rows, and the corpus/full
    * vectors are never touched. Determinism matches pqTopK (4-dp
    * rounding, vid tiebreak) so the oracle replays ranking exactly.
    * Result: (qid, vid, cos_pq, rnk ≤ k). */
  def searchIvfPqIndex(store: TableStore, name: String, probes: DataFrame,
                       k: Int, nprobe: Int, m: Int = 0,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame =
    searchIvfPqCore(store, name, probes, k, nprobe, None, m, idCol, vecCol,
      Similarity.MaxDriverTrainRows)

  /** Attribute-filtered IVF-PQ search — [[searchIvfIndexFiltered]]'s
    * contract on the code-compressed index: the predicate pushes into
    * the codes scan (a filtered-out vector loses all m of its code
    * rows, so survivors' reconstruction norms are untouched), ranking
    * runs over the survivors, and the probe set widens by the same
    * measured-selectivity rule. Selectivity measured over code rows
    * equals the vector-level ratio exactly (every vector contributes
    * exactly m rows, and IEEE division of equal true quotients yields
    * identical doubles — the oracle replays from the corpus side). */
  def searchIvfPqIndexFiltered(store: TableStore, name: String,
                               probes: DataFrame, k: Int, nprobe: Int,
                               filter: org.apache.spark.sql.Column,
                               selectivity: Double = Double.NaN,
                               m: Int = 0,
                               idCol: String = "vec_id",
                               vecCol: String = "embedding"): DataFrame =
    searchIvfPqFiltered(store, name, probes, k, nprobe, filter, selectivity,
      m, idCol, vecCol, Similarity.MaxDriverTrainRows)

  /** [[searchIvfPqIndexFiltered]] with the driver bound as a parameter:
    * `driverRows` ≤ 0 forces the distributed plan. */
  private[ops] def searchIvfPqFiltered(store: TableStore, name: String,
                                       probes: DataFrame, k: Int, nprobe: Int,
                                       filter: org.apache.spark.sql.Column,
                                       selectivity: Double, m: Int,
                                       idCol: String, vecCol: String,
                                       driverRows: Int): DataFrame =
    searchIvfPqCore(store, name, probes, k,
      widenedProbes(store, codesTable(name), filter, selectivity, nprobe,
        quantizer(store, name, m).nlist),
      Some(filter), m, idCol, vecCol, driverRows)

  /** One IVF-PQ search: driver-served when its scoring work (probes ×
    * probed code rows) fits `driverRows`, the distributed plan
    * otherwise (`driverRows` ≤ 0 forces it). */
  private[graft] def searchIvfPqCore(store: TableStore, name: String,
                                   probes: DataFrame, k: Int, nprobe: Int,
                                   codesFilter: Option[org.apache.spark.sql.Column],
                                   m: Int, idCol: String, vecCol: String,
                                   driverRows: Int): DataFrame = {
    graft.functions.GraftFunctions.register(probes.sparkSession)
    val q = quantizer(store, name, m)
    q.arrays.flatMap(a => searchOnDriver(store, name, q, a, probes, k,
        nprobe, codesFilter, idCol, vecCol, driverRows))
      .getOrElse(searchDistributed(store, name, q, probes, k, nprobe,
        codesFilter, idCol, vecCol))
  }

  private def searchDistributed(store: TableStore, name: String,
                                q: PqQuantizer,
                                probes: DataFrame, k: Int, nprobe: Int,
                                codesFilter: Option[org.apache.spark.sql.Column],
                                idCol: String, vecCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = store.readVersion(centroidsTable(name), q.centsVersion)
    val books = store.readVersion(booksTable(name), q.booksVersion)
    val pa = Similarity.assignTopClusters(probes, cents, nprobe,
        idCol, vecCol)
      .select(col(idCol).as("qid"), col("cent_id"))
    val codes00 = store.read(codesTable(name))
    val codes0 = codesFilter.fold(codes00)(codes00.where)
    val dt = codes0.schema("cent_id").dataType
    val needed = graft.lake.JobLabel(probes.sparkSession, "graft:ivfpq probe assign") {
      pa.select(col("cent_id").cast(dt)).distinct()
        .collect().map(_.get(0)).toIndexedSeq
    }
    if (needed.isEmpty)
      return pa.select(col("qid"), col("qid").as("vid"),
        lit(0.0).as("cos_pq"), lit(0).as("rnk")).where(lit(false))
    val lists = codes0.where(col("cent_id").isin(needed: _*))
      .select(col("cent_id"), col(idCol).as("vid"), col("sub"), col("code"))
    // per-probe LUT: dot of each probe sub-vector with every codeword
    val lut = Similarity.subVectors(probes, q.m, q.sd, idCol, vecCol, "qid")
      .join(broadcast(books), Seq("sub"))
      .select(col("qid"), col("sub"), col("cent_id").as("code"),
        Similarity.dot(col("svec"), col("cvec")).as("pd"))
    // reconstruction norm from the PRUNED codes only — per-vid
    // intrinsic, so pruning cannot change a surviving candidate's score
    val bookNorms = books.select(col("sub"), col("cent_id").as("code"),
      Similarity.dot(col("cvec"), col("cvec")).as("css"))
    val reconNorm = lists.join(broadcast(bookNorms), Seq("sub", "code"))
      .groupBy("vid").agg(sqrt(sum("css")).as("rn"))
    val qNorm = probes.select(col(idCol).as("qid"),
      Similarity.norm(col(vecCol)).as("qn"))
    // candidate pairs come straight off the list join: a vid lives in
    // exactly one list, so (qid, vid) appears once per sub — the
    // group-by sums exactly its m LUT entries, no distinct needed
    val scored = lists
      .join(pa.withColumn("cent_id", col("cent_id").cast(dt)), Seq("cent_id"))
      .where(col("qid") =!= col("vid"))
      .join(broadcast(lut), Seq("qid", "sub", "code"))
      .groupBy("qid", "vid").agg(sum("pd").as("adp"))
      .join(reconNorm, Seq("vid"))
      .join(broadcast(qNorm), Seq("qid"))
      .select(col("qid"), col("vid"),
        round(col("adp") / (col("qn") * col("rn")), 4).as("cos_pq"))
    val w = Window.partitionBy("qid").orderBy(col("cos_pq").desc, col("vid"))
    scored.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
  }

  /** Assign + encode `batch` against the STORED quantizers — the one
    * O(batch) frame behind appends, ingest and sync, conformed to the
    * cached column set: attribute columns the index was built with
    * must come from the batch, loudly, not null-fill. */
  private[graft] def encode(store: TableStore, name: String, codec: Codec,
                            batch: DataFrame, m: Int, idCol: String,
                            vecCol: String): DataFrame = {
    val cols = cachedCols(store, codec.dataTable(name))
    val attrs =
      cols.filterNot((Seq("cent_id", idCol) ++ codec.payload(vecCol)).toSet)
    val (cents, encoder) = stored(codec, store, name, m, idCol, vecCol)
    encoder(Similarity.assignClusters(batch, cents, idCol, vecCol,
        carryCols = attrs), attrs)
      .select(cols.map(col): _*)
  }

  /** Assign + encode a batch against an IVF-PQ index's STORED
    * quantizers — the shared O(batch · m) maintenance frame
    * ((cent_id, id, sub, code)) behind both the batch append and the
    * streaming micro-batch ingest. */
  def encodeForIvfPq(store: TableStore, name: String, batch: DataFrame,
                     m: Int = 0, idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame =
    encode(store, name, Pq, batch, m, idCol, vecCol)

  /** Incremental IVF-PQ maintenance: assign + encode `batch` against
    * the STORED coarse centroids and codebooks and append its code
    * rows — O(batch · m), no retraining, no corpus re-read. */
  def appendToIvfPqIndex(store: TableStore, name: String, batch: DataFrame,
                         m: Int = 0,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding"): Unit =
    store.append(codesTable(name), encode(store, name, Pq, batch, m, idCol,
      vecCol))

  /** Incremental index maintenance: assign `batch` to the EXISTING
    * trained centroids and append to the inverted lists — O(batch);
    * no rebuild, no corpus re-read, and the append lands under the
    * lists table's hive layout so partition pruning keeps holding.
    * The assignment rule is the same expression `buildIvfIndex` uses,
    * so build(a) + append(b) serves exactly what build over a ∪ b
    * with the same centroids would (the ivf_ann_incremental oracle
    * re-proves that contract per run). Centroids do drift as data
    * arrives: a batch far from the training distribution piles into
    * few lists — watch `describeIvfIndex` skew and rebuild when
    * max(rows) outgrows the mean by your probe budget. */
  def appendToIvfIndex(store: TableStore, name: String, batch: DataFrame,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): Unit =
    store.append(listsTable(name), encode(store, name, Flat, batch, 0, idCol,
      vecCol))

  /** A store table's version-pinned read and its sync binding. */
  private def pinned(store: TableStore,
                     corpusTable: String): (DataFrame, Option[(String, Long)]) = {
    val v = store.currentVersion(corpusTable).getOrElse(
      throw new IllegalStateException(s"table $corpusTable does not exist"))
    (store.readVersion(corpusTable, v), Some((syncApp(corpusTable), v)))
  }

  private def syncApp(corpusTable: String) = s"ivf-sync-$corpusTable"

  /** Build an IVF index over a STORE TABLE and bind it to that
    * table's version history: the lists table's creation commit
    * records the corpus version it indexed as an application-
    * transaction watermark, so [[syncIvfIndex]] can later pull the
    * corpus's change feed from exactly that point. The read is
    * version-pinned — a commit racing the build lands in the first
    * sync, never in a gap. */
  def buildIvfIndexFromTable(store: TableStore, name: String,
                             corpusTable: String,
                             nlist: Int = 16, kmeansIters: Int = 2,
                             idCol: String = "vec_id",
                             vecCol: String = "embedding",
                             attrCols: Seq[String] = Nil): Unit = {
    val (corpus, binding) = pinned(store, corpusTable)
    build(store, name, corpus, Flat, binding, nlist, 0, 0, kmeansIters,
      idCol, vecCol, attrCols)
  }

  /** [[buildIvfIndexFromTable]] for the IVF-PQ shape: the codes
    * table's creation commit carries the indexed corpus version, so
    * [[syncIvfPqIndex]] can follow the table's change feed. */
  def buildIvfPqIndexFromTable(store: TableStore, name: String,
                               corpusTable: String,
                               nlist: Int = 16, m: Int = 8, ksub: Int = 16,
                               kmeansIters: Int = 2,
                               idCol: String = "vec_id",
                               vecCol: String = "embedding",
                               attrCols: Seq[String] = Nil): Unit = {
    val (corpus, binding) = pinned(store, corpusTable)
    build(store, name, corpus, Pq, binding, nlist, m, ksub, kmeansIters,
      idCol, vecCol, attrCols)
  }

  /** [[syncIvfIndex]] on the code-compressed index: the same netted
    * change-feed application — touched ids' code rows equality-delete
    * (one key removes all m), final states assign + PQ-encode against
    * the STORED quantizers and insert, the corpus version rides the
    * commit — one atomic O(changed · m) merge-on-read commit,
    * idempotent under redelivery. */
  def syncIvfPqIndex(store: TableStore, name: String, corpusTable: String,
                     m: Int = 0, idCol: String = "vec_id",
                     vecCol: String = "embedding"): Option[Long] =
    sync(store, name, Pq, corpusTable, m, idCol, vecCol)

  /** Catch the index up with its corpus table's CHANGE FEED — the
    * "index follows the table" maintenance move. One call applies
    * everything committed since the last sync (or the
    * [[buildIvfIndexFromTable]] bootstrap) as ONE atomic merge-on-read
    * commit: every touched id's old list rows equality-delete, the
    * ids' current rows (keep-latest netted from the feed — a key
    * deleted and reinserted in the range lands once, a key whose last
    * change is a delete lands zero times) re-assign and insert, and
    * the corpus version rides the commit as the sync watermark —
    * crash-redelivery no-ops (same SetTransaction discipline as the
    * streaming ingest). O(changed data): the feed is manifest-aware
    * on append-only history and the commit rewrites no list file.
    * Returns the corpus version synced to, or None when already
    * current. */
  def syncIvfIndex(store: TableStore, name: String, corpusTable: String,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): Option[Long] =
    sync(store, name, Flat, corpusTable, 0, idCol, vecCol)

  /** The one sync ([[syncIvfIndex]]): a PQ index tries the driver arm
    * first, `driverRows` ≤ 0 forces the distributed plan. */
  private[graft] def sync(store: TableStore, name: String, codec: Codec,
                          corpusTable: String, m: Int, idCol: String,
                          vecCol: String,
                          driverRows: Int = Similarity.MaxDriverTrainRows)
      : Option[Long] = {
    val dt = codec.dataTable(name)
    val app = syncApp(corpusTable)
    val last = store.lastTxn(dt, app).getOrElse(throw new IllegalStateException(
      s"index $name is not bound to $corpusTable — build it with " +
        s"${codec.builder} to record the sync watermark"))
    store.changesSince(corpusTable, last) match {
      case None => None
      case Some((feed, cur)) =>
        val src =
          if (codec == Pq) pqDriverArm(store, name, m, feed, corpusTable,
            last, cur, app, idCol, vecCol, driverRows)
          else Some(feed)
        src.foreach { src =>
          import org.apache.spark.sql.expressions.Window
          // net the feed to each touched id's FINAL state: latest
          // commit wins; within one commit an insert beats the delete
          // that precedes it (a delete-and-reinsert batch)
          val w = Window.partitionBy(idCol).orderBy(
            col("_commit_version").desc,
            when(col("_change_type") === "insert", 0).otherwise(1))
          val inserts = src.withColumn("__r", row_number().over(w))
            .where(col("__r") === 1 && col("_change_type") === "insert")
            .drop("_change_type", "_commit_version", "__r")
          store.appendWithDeletes(dt,
            encode(store, name, codec, inserts, m, idCol, vecCol),
            src.select(col(idCol)).distinct(), txn = Some((app, cur)))
        }
        Some(cur)
    }
  }

  /** The PQ sync's driver arm: a feed the driver can hold (bounded
    * from metadata BEFORE it is evaluated) is collected once and, when
    * [[syncOnDriver]] reproduces it, committed there (None). Otherwise
    * the frame the distributed plan nets: the collected copy or the
    * feed. */
  private def pqDriverArm(store: TableStore, name: String, m: Int,
                          feed: DataFrame, corpusTable: String, last: Long,
                          cur: Long, app: String, idCol: String,
                          vecCol: String, driverRows: Int): Option[DataFrame] = {
    val q = quantizer(store, name, m)
    if (driverRows <= 0 || q.arrays.isEmpty ||
        !store.changeRowsBound(corpusTable, last, cur).exists(_ <= driverRows))
      return Some(feed)
    val attrs = cachedCols(store, codesTable(name))
      .filterNot(Set("cent_id", idCol, "sub", "code"))
    val proj = feed.select((Seq(idCol, vecCol) ++ attrs ++
      Seq("_change_type", "_commit_version")).map(col): _*)
    val rows = graft.lake.JobLabel(store.spark, "graft:ivfpq sync feed") {
      proj.collect()
    }
    if (syncOnDriver(store, name, q, q.arrays.get, rows, proj.schema,
        (app, cur), attrs, idCol)) None
    else {
      import scala.jdk.CollectionConverters._
      Some(store.spark.createDataFrame(rows.toSeq.asJava, proj.schema))
    }
  }

  /** Propagate corpus deletes into the persisted index: drop `ids`'
    * vectors from the inverted lists as merge-on-read EQUALITY
    * deletes — one O(batch) commit, no list rewrite (the store
    * filters the keys out at read; `OPTIMIZE`/compact folds the debt
    * away). Without this, a dedup purge or CDC delete on the corpus
    * leaves the index serving stale ids forever. The contract —
    * search-after-delete ≡ search over an index rebuilt from the
    * survivors (same centroids; deletes never retrain) — is what
    * the ivf_ann_after_delete oracle and VectorIndexSpec re-prove. */
  def deleteFromIvfIndex(store: TableStore, name: String, ids: DataFrame,
                         idCol: String = "vec_id"): Unit =
    deleteFromIndexTable(store, listsTable(name), ids, idCol)

  /** [[deleteFromIvfIndex]] for an IVF-PQ index: one equality-delete
    * key removes all m code rows of each vector. */
  def deleteFromIvfPqIndex(store: TableStore, name: String, ids: DataFrame,
                           idCol: String = "vec_id"): Unit =
    deleteFromIndexTable(store, codesTable(name), ids, idCol)

  private def deleteFromIndexTable(store: TableStore, table: String,
                                   ids: DataFrame, idCol: String): Unit = {
    require(store.exists(table), s"unknown vector index table $table")
    // delete-only commit: an empty batch under the lists schema plus
    // the equality-delete keys — the store publishes carried files +
    // del lines, O(keys), zero data rewritten
    store.appendWithDeletes(table,
      store.read(table).where(org.apache.spark.sql.functions.lit(false)),
      ids.select(col(idCol)).distinct())
  }

  /** Full reindex from the index's own contents: retrain k-means over
    * the current inverted lists (they ARE the corpus — the original
    * table is never re-read) and rebuild both tables. This is the
    * move `describeIvfIndex`'s skew signal calls for once appended
    * batches have drifted from the training distribution and piled
    * into few lists: one corpus-sized pass, two atomic overwrites.
    * Each TABLE's swing is atomic, but centroids and lists are
    * separate commits: a search racing the rebuild can pair the new
    * centroids with the old lists for one probe — an approximation-
    * quality wobble (probed partitions chosen under the other
    * quantizer), never a correctness break, and it heals at the lists
    * swing. Serve searches from a pinned `readVersion` or schedule
    * rebuilds off-peak when even that wobble matters. */
  def rebuildIvfIndex(store: TableStore, name: String, nlist: Int = 16,
                      kmeansIters: Int = 2, idCol: String = "vec_id",
                      vecCol: String = "embedding"): Unit = {
    val lt = listsTable(name)
    val lists = store.read(lt)
    // an attribute-built index keeps its attributes across rebuilds —
    // they are derived from the stored lists schema, not re-declared
    // by the caller (dropping them would silently break filtered
    // search AND poison colsCache so later appends stop carrying them)
    val attrs = lists.columns.toSeq.filterNot(Set("cent_id", idCol, vecCol))
    // an index bound to a corpus table's change feed keeps its
    // binding: the rebuild re-commits the lists under the SAME app id
    // and watermark, so syncIvfIndex keeps pulling the feed from where
    // the last sync left it (a plain overwrite would strand the
    // watermark in an old manifest and unbind once it's vacuumed)
    build(store, name, lists, Flat, store.lastTxnMatching(lt, "ivf-sync-"),
      nlist, 0, 0, kmeansIters, idCol, vecCol, attrs)
  }

  /** Scan-free index profile: one row per inverted list with its live
    * file and row counts — (cent_id, files, rows) — served entirely
    * from the manifest + stats sidecar (parquet footer counts folded
    * at commit), so no list file is opened. This is the
    * rebuild-vs-append signal at 100 TB: rows_max / rows_avg far
    * above 1 means the centroids have drifted and probes over-read.
    * Counts are manifest-sized driver metadata (one entry per file),
    * never data-sized. */
  def describeIvfIndex(store: TableStore, name: String): DataFrame = {
    // works for both index shapes: full-vector lists (one row per
    // vector) and IVF-PQ codes (m rows per vector — the skew RATIO is
    // what matters, and a constant factor cancels out of it)
    val lt = codecOf(store, name).dataTable(name)
    // one version pin for BOTH the file inventory and the row counts —
    // a commit racing the profile must not tear it across versions
    val v = store.currentVersion(lt).get
    val rowsByFile = store.fileRowCounts(lt, v)
    // file inventory comes from the MANIFEST, not from the sidecar: a
    // file without a folded footer count (pre-stats commit, CONVERTed
    // foreign file) still counts toward `files` and turns its list's
    // row total NULL = unknown — never silently smaller. cent_id stays
    // the raw partition-directory value (string), so non-numeric ids
    // profile instead of crashing; "" marks unpartitioned strays.
    val perFile = store.liveDataFiles(lt, v).map { f =>
      val cid = listDirOf(f)
      (cid, rowsByFile.get(f))
    }
    val spark = store.spark
    import spark.implicits._
    perFile.toDF("cent_id", "rows")
      .groupBy("cent_id")
      .agg(count(lit(1)).as("files"),
        when(count(when(col("rows").isNull, 1)) > 0, lit(null))
          .otherwise(sum("rows")).as("rows"))
      // numeric ids order numerically; non-numeric ones sort after,
      // lexicographically (cast returns NULL for them)
      .orderBy(col("cent_id").cast("long").asc_nulls_last, col("cent_id"))
  }

  /** ANN top-k for `probes` against the persisted index — never
    * touches the corpus table, reads only the probed lists. Result
    * shape matches [[Similarity.ivfSearch]]: (qid, vid, cos, rnk),
    * rnk ≤ k per probe. */
  def searchIvfIndex(store: TableStore, name: String, probes: DataFrame,
                     k: Int, nprobe: Int,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame =
    searchIvfCore(store, name, store.read(centroidsTable(name)), probes,
      k, nprobe, None, idCol, vecCol)

  /** Attribute-filtered ANN — "top-k WHERE lang='en' / date range",
    * the most common production ANN query. The predicate pushes INTO
    * the lists scan (partition pruning on the probed cent_ids still
    * applies first; the store's stats/bloom sidecars then skip list
    * files by the attribute), and ranking runs over the SURVIVORS —
    * k never silently shrinks to whatever a post-filter left.
    *
    * Probe widening: a selective filter thins every list, so reading
    * the base `nprobe` lists would surface fewer than k matches per
    * probe. Effective probes =
    * `max(nprobe, min(nlist, ceil(nprobe / selectivity)))` — the
    * widened read keeps E[survivors per probe set] at the unfiltered
    * level, capped at the whole index. Selectivity is measured with
    * one column-pruned aggregate over the lists table (only the
    * filter's attribute columns are read) unless the caller passes
    * it — at 100 TB supply it from table stats (`ANALYZE`) or a
    * sample instead of the measuring pass. The rule is replayed
    * verbatim (same counts, same IEEE arithmetic) by the
    * ivf_ann_filtered DuckDB oracle. */
  def searchIvfIndexFiltered(store: TableStore, name: String,
                             probes: DataFrame, k: Int, nprobe: Int,
                             filter: org.apache.spark.sql.Column,
                             selectivity: Double = Double.NaN,
                             idCol: String = "vec_id",
                             vecCol: String = "embedding"): DataFrame = {
    val ct = centroidsTable(name)
    val cents = store.read(ct)
    // nlist from the centroids' footer row counts (metadata, no job);
    // counted only when those are not exact
    searchIvfCore(store, name, cents, probes, k,
      widenedProbes(store, listsTable(name), filter, selectivity, nprobe,
        store.fastRowCount(ct).getOrElse(cents.count())),
      Some(filter), idCol, vecCol)
  }

  /** A filtered search's widened probe count over data table `table`
    * (the rule in [[searchIvfIndexFiltered]]). */
  private def widenedProbes(store: TableStore, table: String,
                            filter: org.apache.spark.sql.Column,
                            selectivity: Double, nprobe: Int,
                            nlist: => Long): Int = {
    val s0 =
      if (!selectivity.isNaN) selectivity
      else {
        val r = store.read(table).agg(count(lit(1)), count(when(filter, 1)))
          .first()
        if (r.getLong(0) == 0L) 1.0
        else r.getLong(1) * 1.0 / r.getLong(0)
      }
    math.max(nprobe,
      math.min(nlist.toDouble, math.ceil(nprobe / math.max(s0, 1e-9))).toInt)
  }

  private def searchIvfCore(store: TableStore, name: String,
                            cents: DataFrame,
                            probes: DataFrame, k: Int, nprobe: Int,
                            listFilter: Option[org.apache.spark.sql.Column],
                            idCol: String, vecCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftFunctions.register(probes.sparkSession)
    val pa = Similarity.assignTopClusters(probes, cents, nprobe,
        idCol, vecCol)
      .select(col(idCol).as("qid"), col(vecCol).as("qvec"), col("cent_id"))
    val lists00 = store.read(listsTable(name))
    // the attribute predicate lands directly on the scan: Catalyst
    // pushes it down, and the store's StatsFileIndex prunes list
    // files against it — filtering narrows the read, never the k
    val lists0 = listFilter.fold(lists00)(lists00.where)
    // the hive partition column's read-back type may be narrower than
    // the centroid ids' (directory-name inference); align BOTH the IN
    // literals and the join key to it, or the cast around the
    // partition attribute defeats static pruning
    val dt = lists0.schema("cent_id").dataType
    val needed = graft.lake.JobLabel(probes.sparkSession, "graft:ivf probe assign") {
      pa.select(col("cent_id").cast(dt)).distinct()
        .collect().map(_.get(0)).toIndexedSeq
    }
    if (needed.isEmpty)
      return pa.select(col("qid"), col("qid").as("vid"),
        lit(0.0).as("cos"), lit(0).as("rnk")).where(lit(false))
    val lists = lists0.where(col("cent_id").isin(needed: _*))
      .select(col("cent_id"), col(idCol).as("vid"), col(vecCol).as("vvec"))
    val scored = lists
      .join(pa.withColumn("cent_id", col("cent_id").cast(dt)), Seq("cent_id"))
      .where(col("qid") =!= col("vid"))
      .select(col("qid"), col("vid"),
        round(Similarity.cosine(col("qvec"), col("vvec")), 4).as("cos"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vid"))
    scored.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
  }

  // -------------------------------------------------------------------
  // Driver-served IVF-PQ. The quantizers of an index are KBs (nlist ×
  // dim centroids, m × ksub × sd codewords), yet the distributed search
  // paid ~15 Spark jobs per call broadcasting them, building the LUT
  // and ranking, and the sync paid ~17. Bounded calls now run that
  // arithmetic in-process — graft_dot's left-to-right double
  // accumulation over float-widened inputs, Spark's round(x, 4),
  // Spark's double order, the lowest-id argmax tiebreak — and touch
  // Spark only to read the probed code partitions (search) or the
  // change feed and the commit (sync). Nothing per call is compiled:
  // the driver path generates no code, so no literal reaches Janino
  // (see Similarity.assignTopClusters' note).
  // -------------------------------------------------------------------

  /** An IVF-PQ index's quantizers as loaded from the centroids and
    * books data files `files` (read at the given versions): the stored
    * m and sub-dimension serve every path; `arrays` is None when the
    * index's ids are not integral (a corpus keyed by strings), whose
    * `max(struct(ccos, -id))` tiebreak the driver paths do not
    * reproduce, and the distributed plans then serve. */
  private[ops] final case class PqQuantizer(centsVersion: Long,
                                            booksVersion: Long,
                                            files: (Seq[String], Seq[String]),
                                            nlist: Long, m: Int, sd: Int,
                                            arrays: Option[PqArrays])

  /** Driver-resident quantizers, each side sorted by ascending id (the
    * argmax/rank tiebreak order): coarse centroids with their norms,
    * per-subspace codewords with their squared norms (Σ c², the
    * reconstruction-norm terms). */
  private[ops] final case class PqArrays(
      centIdType: org.apache.spark.sql.types.DataType,
      centIds: Array[Long], cents: Array[Array[Float]],
      centNorms: Array[Double],
      codeIdType: org.apache.spark.sql.types.DataType,
      codeIds: Array[Array[Long]], books: Array[Array[Array[Float]]],
      bookSq: Array[Array[Double]])

  /** The latest loaded quantizers per (store root, index). */
  private val quantizers =
    new java.util.concurrent.ConcurrentHashMap[(String, String), PqQuantizer]()

  /** The index's quantizers at the current centroids and books
    * versions — two manifest reads on a hit, one collect of each tiny
    * table on a miss. An entry is valid while the two tables' live
    * data files are unchanged: every commit writes files under a fresh
    * directory, so a drop and re-create that restarts the version
    * numbers (SQL DROP TABLE, a rebuild by another process on the same
    * store) still reloads. A caller-supplied m is validated against
    * the stored one: a mismatched m would slice probes into
    * wrong-width sub-vectors and return plausible-looking but wrong
    * rankings; 0 (the default on every read path) means "use the
    * stored value". */
  private[ops] def quantizer(store: TableStore, name: String,
                             m: Int = 0): PqQuantizer = {
    def version(t: String) = store.currentVersion(t).getOrElse(
      throw new IllegalStateException(s"table $t does not exist"))
    val (ct, bt) = (centroidsTable(name), booksTable(name))
    val (cv, bv) = (version(ct), version(bt))
    val files = (store.liveDataFiles(ct, cv), store.liveDataFiles(bt, bv))
    val key = (store.rootPath, name)
    val cached = quantizers.get(key)
    val q =
      if (cached != null && cached.files == files)
        cached.copy(centsVersion = cv, booksVersion = bv)
      else {
        val fresh = loadQuantizer(store, name, cv, bv, files)
        quantizers.put(key, fresh)
        fresh
      }
    require(m <= 0 || m == q.m,
      s"m=$m does not match the stored codebooks (index was built with m=${q.m})")
    q
  }

  private def isIntegral(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }
  }

  /** An integral id as `dt`'s external value. */
  private def idAs(v: Long, dt: org.apache.spark.sql.types.DataType): Any = {
    import org.apache.spark.sql.types._
    dt match {
      case IntegerType => v.toInt
      case ShortType => v.toShort
      case ByteType => v.toByte
      case _ => v
    }
  }

  private def loadQuantizer(store: TableStore, name: String, cv: Long,
                            bv: Long,
                            files: (Seq[String], Seq[String])): PqQuantizer = {
    import org.apache.spark.sql.Row
    val cents = store.readVersion(centroidsTable(name), cv)
      .select("cent_id", "cvec")
    val books = store.readVersion(booksTable(name), bv)
      .select("sub", "cent_id", "cvec")
    val (cr, br) = graft.lake.JobLabel(store.spark, "graft:ivfpq quantizers") {
      (cents.collect(), books.collect())
    }
    require(br.nonEmpty, s"index $name has no codebooks")
    // m is what the index was BUILT with (max sub + 1); sd is the first
    // codeword's width — the values a books-frame aggregate would read
    val m = br.map(_.getInt(0)).max + 1
    val sd = br(0).getSeq[Float](2).length
    val (centIdType, codeIdType) =
      (cents.schema("cent_id").dataType, books.schema("cent_id").dataType)
    val arrays =
      if (!isIntegral(centIdType) || !isIntegral(codeIdType)) None
      else {
        // the builds write non-null float vectors, m·sd-wide centroids
        // and ksub sd-wide codewords for every sub in 0 until m
        def vec(r: Row, i: Int, n: Int): Array[Float] = {
          val v = r.getSeq[Float](i).toArray
          require(v.length == n,
            s"index $name holds a ${v.length}-wide quantizer vector, expected $n")
          v
        }
        def sq(c: Array[Float]) = Similarity.dotVsFloat(c.map(_.toDouble), c)
        val cs = cr.map(r => (r.getAs[Number](0).longValue, vec(r, 1, m * sd)))
          .sortBy(_._1)
        val bs = Array.tabulate(m) { s =>
          br.filter(_.getInt(0) == s)
            .map(r => (r.getAs[Number](1).longValue, vec(r, 2, sd)))
            .sortBy(_._1)
        }
        require(cs.nonEmpty && bs.forall(_.nonEmpty),
          s"index $name has an empty quantizer")
        val cvecs = cs.map(_._2)
        val bvecs = bs.map(_.map(_._2))
        Some(PqArrays(centIdType, cs.map(_._1), cvecs,
          cvecs.map(c => math.sqrt(sq(c))), codeIdType, bs.map(_.map(_._1)),
          bvecs, bvecs.map(_.map(sq))))
      }
    PqQuantizer(cv, bv, files, cr.length.toLong, m, sd, arrays)
  }

  /** The inverted list a codes/lists data file belongs to: its
    * `cent_id=` partition directory value, "" for unpartitioned strays. */
  private def listDirOf(file: String): String = file match {
    case ListDir(c) => c
    case _ => ""
  }
  private val ListDir = ".*/cent_id=([^/]+)/[^/]*$".r

  /** Index of the highest `score`, ties to the lowest index — the
    * `max(struct(ccos, -id))` argmax over id-sorted candidates. */
  private def argmax(n: Int)(score: Int => Double): Int = {
    var best = 0
    var bestS = score(0)
    var i = 1
    while (i < n) {
      val s = score(i)
      if (Similarity.sqlCompareDoubles(s, bestS) > 0) { best = i; bestS = s }
      i += 1
    }
    best
  }

  /** Rounded cosine of `v` (norm `vn`) against a float vector of norm
    * `cn` — `round(cosine(v, c), 4)` as Spark evaluates it. */
  private def cos4(v: Array[Double], vn: Double, c: Array[Float],
                   cn: Double): Double =
    Similarity.round4(Similarity.dotVsFloat(v, c) / (vn * cn))

  /** The driver-served search, or None when an input is past the bound
    * or outside what the driver path reproduces. The bound is on the
    * scoring work: every probe scores every code row of its probed
    * lists (the rows the distributed plan's list ⋈ probe join
    * produces), counted from the manifest row counts before any file
    * is read. It also caps the probes collected and, since each probed
    * list is probed at least once, the candidate code rows held. */
  private def searchOnDriver(store: TableStore, name: String,
                             q: PqQuantizer, a: PqArrays,
                             probes: DataFrame, k: Int, nprobe: Int,
                             codesFilter: Option[org.apache.spark.sql.Column],
                             idCol: String, vecCol: String,
                             driverRows: Int): Option[DataFrame] = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.collection.mutable.ArrayBuffer
    if (driverRows <= 0) return None
    val spark = probes.sparkSession
    val kt = codesTable(name)
    val v = store.currentVersion(kt).getOrElse(
      throw new IllegalStateException(s"table $kt does not exist"))
    val codes00 = store.readVersion(kt, v)
    val codes0 = codesFilter.fold(codes00)(codes00.where)
    val qField = probes.schema(idCol)
    val vField = codes0.schema(idCol)
    val partType = codes0.schema("cent_id").dataType
    val vOrd = Similarity.idOrderingOf(vField.dataType).getOrElse(return None)
    if (qField.dataType != vField.dataType || !isIntegral(partType)) return None
    val (m, sd) = (q.m, q.sd)
    val probeRows = graft.lake.JobLabel(spark, "graft:ivfpq probe collect") {
      probes.select(col(idCol), col(vecCol))
        .limit(math.min(driverRows, Int.MaxValue - 1) + 1).collect()
    }
    if (probeRows.length > driverRows) return None
    val nq = probeRows.length
    val qids = new Array[Any](nq)
    val qvecs = new Array[Array[Double]](nq)
    var i = 0
    while (i < nq) {
      val r = probeRows(i)
      if (r.isNullAt(0)) return None
      qids(i) = r.get(0)
      qvecs(i) = Similarity.doublesOf(r, 1).filter(_.length == m * sd)
        .getOrElse(return None)
      i += 1
    }
    // one window partition per probe id: duplicated ids merge there
    if (qids.distinct.length != nq) return None
    val qn = qvecs.map(Similarity.normOf)
    val nl = a.cents.length
    // route: row_number over (ccos desc, cent_id asc) ≤ nprobe — the
    // centroids are id-sorted, so a stable sort on ccos keeps the tiebreak
    val probed = Array.tabulate(nq) { q =>
      val cos = Array.tabulate(nl)(c => cos4(qvecs(q), qn(q), a.cents(c), a.centNorms(c)))
      (0 until nl).sortWith((x, y) => Similarity.sqlCompareDoubles(cos(x), cos(y)) > 0)
        .take(math.max(nprobe, 0)).toArray
    }
    // per-list code rows from the manifest row counts (pre-delete,
    // pre-filter: an upper bound); a probed list with an uncounted
    // file is unknown, so the distributed plan serves
    val listOf = a.centIds.zipWithIndex.map { case (id, c) => (id.toString, c) }.toMap
    val counts = store.fileRowCounts(kt, v)
    val listRows = new Array[Long](nl)
    val uncounted = new Array[Boolean](nl)
    for (f <- store.liveDataFiles(kt, v); c <- listOf.get(listDirOf(f)))
      counts.get(f) match {
        case Some(n) => listRows(c) += n
        case None => uncounted(c) = true
      }
    var work = 0L
    for (ps <- probed; c <- ps) {
      if (uncounted(c)) return None
      work += listRows(c)
    }
    if (work > driverRows) return None
    val needed = probed.flatten.distinct.sorted
    val schema = StructType(Seq(
      StructField("qid", qField.dataType, qField.nullable),
      StructField("vid", vField.dataType, vField.nullable),
      StructField("cos_pq", DoubleType),
      StructField("rnk", IntegerType, nullable = false)))
    import scala.jdk.CollectionConverters._
    if (needed.isEmpty)
      return Some(spark.createDataFrame(java.util.List.of[Row](), schema))
    // the probed code partitions, in one pruned merge-on-read scan
    val lits = needed.map(c => idAs(a.centIds(c), partType))
    val rows = graft.lake.JobLabel(spark, "graft:ivfpq probed codes") {
      codes0.where(col("cent_id").isin(lits.toIndexedSeq: _*))
        .select(col("cent_id"), col(idCol), col("sub"), col("code")).collect()
    }
    // per candidate: its (list, sub, codeword) triples in scan order —
    // the order a group-by sums them in; `seen` marks the last probe
    // that scored it (a vid stored in two lists sits in both buckets)
    final class Cand(val vid: Any) {
      val codes = ArrayBuffer.empty[Int]
      var rn = 0.0
      var seen = -1
    }
    val centIdx = a.centIds.zipWithIndex.toMap
    val byVid = new java.util.LinkedHashMap[Any, Cand]()
    for (r <- rows) {
      if ((0 to 3).exists(r.isNullAt)) return None
      val c = centIdx.getOrElse(r.getAs[Number](0).longValue, return None)
      val sub = r.getInt(2)
      if (sub < 0 || sub >= m) return None
      val code = java.util.Arrays.binarySearch(a.codeIds(sub),
        r.getAs[Number](3).longValue)
      if (code < 0) return None
      byVid.computeIfAbsent(r.get(1), new Cand(_)).codes ++= Seq(c, sub, code)
    }
    // candidates bucketed by list: a probe visits only its probed
    // lists' buckets, so the driver does the distributed join's work
    val buckets = Array.fill(nl)(ArrayBuffer.empty[Cand])
    for (cand <- byVid.values.asScala) {
      val xs = cand.codes
      var css = 0.0
      var j = 0
      while (j < xs.length) { css += a.bookSq(xs(j + 1))(xs(j + 2)); j += 3 }
      cand.rn = math.sqrt(css)
      (0 until xs.length by 3).map(xs(_)).distinct.foreach(buckets(_) += cand)
    }
    val out = new java.util.ArrayList[Row]()
    for (q <- 0 until nq) {
      val inList = new Array[Boolean](nl)
      probed(q).foreach(inList(_) = true)
      val lut = Array.tabulate(m) { s =>
        val sv = java.util.Arrays.copyOfRange(qvecs(q), s * sd, (s + 1) * sd)
        a.books(s).map(Similarity.dotVsFloat(sv, _))
      }
      val scored = ArrayBuffer.empty[(Any, Double)]
      for (c <- probed(q); cand <- buckets(c) if cand.seen != q) {
        cand.seen = q
        if (cand.vid != qids(q)) {
          val xs = cand.codes
          var adp = 0.0
          var j = 0
          while (j < xs.length) {
            if (inList(xs(j))) adp += lut(xs(j + 1))(xs(j + 2))
            j += 3
          }
          scored += ((cand.vid, Similarity.round4(adp / (qn(q) * cand.rn))))
        }
      }
      // row_number over (cos_pq desc, vid asc) ≤ k
      scored.sortWith { (x, y) =>
        val c = Similarity.sqlCompareDoubles(x._2, y._2)
        if (c != 0) c > 0 else vOrd.lt(x._1, y._1)
      }.take(math.max(k, 0)).zipWithIndex.foreach { case ((vid, cos), j) =>
        out.add(Row(qids(q), vid, cos, j + 1))
      }
    }
    Some(spark.createDataFrame(out, schema))
  }

  /** The driver-served sync over a collected change feed `rows` (the
    * `feedCols` projection): net it to each id's final state, encode
    * the inserts on the driver and commit codes and delete keys from
    * local frames in one merge-on-read commit under `txn`. False
    * (nothing committed) when the feed holds what the driver path does
    * not reproduce — null ids, versions or vectors, or two different
    * final inserts of one id. */
  private def syncOnDriver(store: TableStore, name: String, q: PqQuantizer,
                           a: PqArrays, rows: Array[org.apache.spark.sql.Row],
                           feedSchema: org.apache.spark.sql.types.StructType,
                           txn: (String, Long), attrs: Seq[String],
                           idCol: String): Boolean = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val spark = store.spark
    val kt = codesTable(name)
    val cols = cachedCols(store, kt)
    val idField = feedSchema(0)
    if (Similarity.idOrderingOf(idField.dataType).isEmpty) return false
    val typeAt = attrs.length + 2
    // net to each id's final state — the distributed window: latest
    // commit wins, and within one commit an insert beats a delete
    val latest = new java.util.LinkedHashMap[Any, Row]()
    for (r <- rows) {
      if (r.isNullAt(0) || r.isNullAt(typeAt + 1)) return false
      val prev = latest.get(r.get(0))
      if (prev == null) latest.put(r.get(0), r)
      else {
        val (ver, pver) = (r.getLong(typeAt + 1), prev.getLong(typeAt + 1))
        val ins = r.get(typeAt) == "insert"
        val pins = prev.get(typeAt) == "insert"
        if (ver > pver || (ver == pver && ins && !pins)) latest.put(r.get(0), r)
        // two different final inserts: the window's pick is arbitrary
        else if (ver == pver && ins && pins && r != prev) return false
      }
    }
    import scala.jdk.CollectionConverters._
    val (m, sd) = (q.m, q.sd)
    val out = new java.util.ArrayList[Row]()
    // each output column's source: the coarse id, the sub, the code,
    // or a field of the feed row
    val (centSrc, subSrc, codeSrc) = (-1, -2, -3)
    val src = cols.map {
      case "cent_id" => centSrc
      case "sub" => subSrc
      case "code" => codeSrc
      case c if c == idCol => 0
      case c => 2 + attrs.indexOf(c)
    }.toArray
    val bookNorms = a.bookSq.map(_.map(math.sqrt))
    for (r <- latest.values.asScala if r.get(typeAt) == "insert") {
      val v = Similarity.doublesOf(r, 1).filter(_.length == m * sd)
        .getOrElse(return false)
      val vn = Similarity.normOf(v)
      val cent = argmax(a.cents.length)(c =>
        cos4(v, vn, a.cents(c), a.centNorms(c)))
      val centId = idAs(a.centIds(cent), a.centIdType)
      for (s <- 0 until m) {
        val sv = java.util.Arrays.copyOfRange(v, s * sd, (s + 1) * sd)
        val svn = Similarity.normOf(sv)
        val code = argmax(a.books(s).length)(j =>
          cos4(sv, svn, a.books(s)(j), bookNorms(s)(j)))
        val codeId = idAs(a.codeIds(s)(code), a.codeIdType)
        out.add(Row.fromSeq(src.toSeq.map {
          case `centSrc` => centId
          case `subSrc` => s
          case `codeSrc` => codeId
          case i => r.get(i)
        }))
      }
    }
    val schema = StructType(cols.map {
      case "cent_id" => StructField("cent_id", a.centIdType)
      case "sub" => StructField("sub", IntegerType, nullable = false)
      case "code" => StructField("code", a.codeIdType)
      case c if c == idCol => StructField(c, idField.dataType)
      case c => StructField(c, feedSchema(2 + attrs.indexOf(c)).dataType)
    })
    val keys = spark.createDataFrame(
      latest.keySet.asScala.toSeq.map(Row(_)).asJava,
      StructType(Seq(StructField(idField.name, idField.dataType))))
    store.appendWithDeletes(kt, spark.createDataFrame(out, schema), keys,
      txn = Some(txn))
    true
  }
}
