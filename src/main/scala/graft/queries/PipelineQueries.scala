package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{Cdc, Skew, TopK}
import graft.lake.{Catalog, CdcIngest, GraftSql, Layout, TableStore}
import Queries.{Entry, t}

/** End-to-end engine queries: the real TableStore + CdcIngest pipeline
  * (not a plan-level simulation), plus remaining relational breadth
  * (TPC-H Q4/Q6 shapes, numeric statistics).
  */
object PipelineQueries {

  /** Fresh scratch dir for a query's throwaway store (shutdown-reaped). */
  private def tmpDir(prefix: String): String = Queries.scratchDir(prefix)

  /** THE engine end-to-end: derive a CDC stream from events, split it
    * into 3 time-ordered batches, run full-load + 2 incremental merges
    * through the versioned-Parquet store, read the final table back.
    * Oracle: replaying batches in order == one dedup-keep-latest full
    * load (invariant iv, SURVEY §5.3) — so the oracle is pure SQL over
    * `events` even though the engine path writes real table versions.
    */
  private def runCdcPipeline(s: org.apache.spark.sql.SparkSession,
                             dir: String,
                             cfg: CdcIngest.Config,
                             postOp: (TableStore, String) => Unit =
                               (_, _) => ()): org.apache.spark.sql.DataFrame = {
    val events = t(s, dir, "events")
    val cdc = Cdc.derive(events, k = 100)
      .withColumn("process_date", Tables.nsToTimestamp("ts"))
    val Array(mnUs, mxUs) = events
      .agg(expr("min(ts) div 1000"), expr("max(ts) div 1000"))
      .collect()(0) match { case r => Array(r.getLong(0), r.getLong(1)) }
    val cut1 = timestamp_micros(lit(mnUs + (mxUs - mnUs) / 3))
    val cut2 = timestamp_micros(lit(mnUs + 2 * ((mxUs - mnUs) / 3)))
    val store = new TableStore(s, tmpDir("graft-e2e"))
    val tbl = "events_upsert"
    CdcIngest.ingest(s, store, tbl,
      cdc.where(col("process_date") <= cut1), cfg)
    CdcIngest.ingest(s, store, tbl,
      cdc.where(col("process_date") > cut1 && col("process_date") <= cut2), cfg)
    CdcIngest.ingest(s, store, tbl,
      cdc.where(col("process_date") > cut2), cfg)
    postOp(store, tbl)
    store.read(tbl)
      .select(col("key"), col("event_id"), col("value"),
        expr("ts div 1000").as("ts_us"))
      .orderBy("key")
  }

  /** Batch-replay invariant oracle shared by the two engine-path e2e
    * queries: replaying ordered batches == one dedup-keep-latest full
    * load, regardless of the merge implementation. */
  private val cdcPipelineOracle = """WITH cdc AS (
        |  SELECT event_id % 100 AS key, event_id, value, epoch_us(ts) AS ts_us,
        |         CASE WHEN event_type = 'error' THEN 'D'
        |              WHEN event_type = 'signup' THEN 'I'
        |              ELSE 'U' END AS op
        |  FROM events)
        |SELECT key, event_id, value, ts_us FROM (
        |  SELECT *, row_number() OVER (PARTITION BY key
        |            ORDER BY ts_us DESC, event_id DESC) AS row_num
        |  FROM cdc) a
        |WHERE row_num = 1 AND (op IS NULL OR op IN ('I','U'))
        |ORDER BY key""".stripMargin

  /** Bucketed layout → incremental merges rewrite only touched
    * partitions (the O(table)-overwrite fix); the final projection
    * drops the p_bucket partition column. */
  val cdcPipelineE2e: Entry = Entry(
    "cdc_pipeline_e2e",
    (s, dir) => runCdcPipeline(s, dir,
      CdcIngest.Config(tiebreak = Seq("event_id"),
        bucketFormat = Some("yyyy-MM"))),
    Some(cdcPipelineOracle))

  /** Same pipeline through merge-on-read equality deletes: each
    * incremental commit is O(batch) appended survivors + a delete-keys
    * file, zero rewrite; the read applies the deletes by commit
    * order. Same batch-replay oracle — the merge implementation must
    * be invisible in the result. */
  val cdcPipelineE2eMor: Entry = Entry(
    "cdc_pipeline_e2e_mor",
    (s, dir) => runCdcPipeline(s, dir,
      CdcIngest.Config(tiebreak = Seq("event_id"), mergeOnRead = true)),
    Some(cdcPipelineOracle))

  /** Same pipeline plus a positional-delete retention purge on top:
    * after the three merges, `deleteWhere(value < 20)` commits a
    * DELETION VECTOR — row positions, no file rewritten, a non-key
    * predicate no equality delete could express — and the final read
    * pays one delete-set filter over the vector. Oracle = the
    * batch-replay invariant with the purge predicate applied last. */
  val cdcPipelineE2eDv: Entry = Entry(
    "cdc_pipeline_e2e_dv",
    (s, dir) => runCdcPipeline(s, dir,
      CdcIngest.Config(tiebreak = Seq("event_id"), mergeOnRead = true),
      postOp = (store, tbl) => store.deleteWhere(tbl, col("value") < 20)),
    Some("""WITH cdc AS (
        |  SELECT event_id % 100 AS key, event_id, value, epoch_us(ts) AS ts_us,
        |         CASE WHEN event_type = 'error' THEN 'D'
        |              WHEN event_type = 'signup' THEN 'I'
        |              ELSE 'U' END AS op
        |  FROM events)
        |SELECT key, event_id, value, ts_us FROM (
        |  SELECT *, row_number() OVER (PARTITION BY key
        |            ORDER BY ts_us DESC, event_id DESC) AS row_num
        |  FROM cdc) a
        |WHERE row_num = 1 AND (op IS NULL OR op IN ('I','U'))
        |  AND NOT coalesce(value < 20, false)
        |ORDER BY key""".stripMargin))

  /** Iceberg-v2-style time travel through the versioned store: commit
    * two versions, read version 0 back. Oracle = the version-0
    * contents recomputed directly (S6 create + S8 append + snapshot
    * read, SURVEY §2.1). */
  val timeTravel: Entry = Entry(
    "time_travel_version0",
    (s, dir) => {
      val store = new TableStore(s, tmpDir("graft-tt"))
      val cust = t(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
      store.create("cust_tt", cust.where(col("c_custkey") % 3 === 0))
      store.append("cust_tt", cust.where(col("c_custkey") % 3 =!= 0))
      store.readVersion("cust_tt", 0)
        .select(col("c_custkey"), col("c_name"),
          col("c_acctbal").cast("decimal(18,2)").cast("double").as("bal"))
        .orderBy("c_custkey")
    },
    Some("""SELECT c_custkey, c_name,
        |  CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS bal
        |FROM customer WHERE c_custkey % 3 = 0
        |ORDER BY c_custkey""".stripMargin))

  /** S9: external-table DDL against the session catalog (the Athena
    * CREATE EXTERNAL TABLE stand-in) — register the parquet path, then
    * query it by name through spark.table. Dropped first so re-runs
    * against a different SF dir re-point the location. */
  val externalDdl: Entry = Entry(
    "external_table_ddl",
    (s, dir) => {
      s.sql("DROP TABLE IF EXISTS ext_customer")
      new Catalog(s).registerExternal("ext_customer", s"$dir/customer.parquet")
      // Athena DDL declares column types and casts files to them on read;
      // the equivalent here is conforming to the table's schema contract
      // at this scan boundary (drift tolerance, FixtureDriftSpec)
      graft.Tables.conform(s.table("ext_customer"), "customer")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          min("c_custkey").as("min_key"),
          round(max("c_acctbal"), 2).as("max_bal"))
        .orderBy("c_mktsegment")
    },
    Some("""SELECT c_mktsegment, count(*) AS n, min(c_custkey) AS min_key,
        |  round(max(c_acctbal), 2) AS max_bal
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin))

  /** Typed map-side top-k Aggregator wired end-to-end: top-3 customers
    * by balance per nation. The shuffle carries at most k rows per
    * (nation, partition) — the O(groups x k) plan — and matches the
    * window-rank oracle exactly (score desc, id asc ordering). */
  val topkTyped: Entry = Entry(
    "topk_typed_per_nation",
    (s, dir) => TopK.topKPerGroup(s,
        t(s, dir, "customer").select(col("c_nationkey").as("qid"),
          col("c_custkey").as("vid"), col("c_acctbal").as("cos")),
        k = 3)
      .select(col("qid").as("n_nationkey"), col("rnk"),
        col("vid").as("c_custkey"), col("cos").as("bal"))
      .orderBy("n_nationkey", "rnk"),
    Some("""SELECT n_nationkey, rnk, c_custkey, bal FROM (
        |  SELECT c_nationkey AS n_nationkey, c_custkey, c_acctbal AS bal,
        |    row_number() OVER (PARTITION BY c_nationkey
        |        ORDER BY c_acctbal DESC, c_custkey) AS rnk
        |  FROM customer)
        |WHERE rnk <= 3 ORDER BY n_nationkey, rnk""".stripMargin))

  /** Salted two-stage aggregation on a genuinely skewed key
    * (3 return-flag values over the whole fact table): stage one
    * shuffles on (key, salt) so no reducer owns a hot key alone,
    * stage two combines the 3 x salts partials. Result is identical
    * to the direct group-by — quantities are integer-valued, so the
    * re-associated sums stay exact. */
  val skewSaltedAgg: Entry = Entry(
    "skew_salted_agg",
    (s, dir) => Skew.saltedSumCount(t(s, dir, "lineitem"),
        keyCol = "l_returnflag", valueCol = "l_quantity", salts = 16)
      .select(col("l_returnflag"), col("sum_value").cast("long").as("sum_qty"),
        col("n"))
      .orderBy("l_returnflag"),
    Some("""SELECT l_returnflag, CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin))

  /** Salted replicate join on the same hot key ([[Skew.saltedJoin]]):
    * the fact side salts into 16 buckets per key, the 3-row dimension
    * replicates once per salt, and the join shuffles on (key, salt) —
    * no reducer ever owns a hot key whole, the layout AQE's skew split
    * can't produce when the exchange is pinned (bucketed/pre-shuffled
    * inputs). Every fact row still meets exactly its dimension row,
    * so the aggregate equals the oracle's plain join. */
  val skewSaltedJoin: Entry = Entry(
    "skew_salted_join",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select("l_returnflag", "l_extendedprice", "l_discount")
      val dim = li.groupBy("l_returnflag")
        .agg(avg("l_discount").as("flag_avg_disc"))
      Skew.saltedJoin(li, dim, "l_returnflag", salts = 16)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_extendedprice") * (lit(1) - col("flag_avg_disc"))), 2)
            .as("adj_revenue"))
        .orderBy("l_returnflag")
    },
    Some("""WITH d AS (
        |  SELECT l_returnflag, avg(l_discount) AS flag_avg_disc
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l.l_returnflag, count(*) AS n,
        |  round(sum(l.l_extendedprice * (1 - d.flag_avg_disc)), 2)
        |    AS adj_revenue
        |FROM lineitem l JOIN d USING (l_returnflag)
        |GROUP BY l.l_returnflag ORDER BY l.l_returnflag""".stripMargin))

  /** Z-order clustering end-to-end: rewrite a lineitem projection into
    * z-ordered files over (l_partkey, l_suppkey), then answer a
    * two-dimensional range predicate from the clustered copy. Content
    * is layout-invariant, so the oracle is the same filter on the raw
    * table — what the clustering buys (row-group pruning on BOTH
    * columns) is asserted in LayoutSpec. */
  val zorderScan: Entry = Entry(
    "zorder_clustered_scan",
    (s, dir) => {
      val out = tmpDir("graft-z")
      Layout.cluster(
        t(s, dir, "lineitem").select("l_partkey", "l_suppkey", "l_quantity"),
        Seq("l_partkey", "l_suppkey"), numFiles = 16)
        .write.mode("overwrite").parquet(out)
      s.read.parquet(out)
        .where(col("l_partkey").between(100, 300) &&
          col("l_suppkey").between(10, 50))
        .groupBy("l_partkey")
        .agg(count(lit(1)).as("n"),
          sum("l_quantity").cast("long").as("sum_qty"))
        .orderBy("l_partkey")
    },
    Some("""SELECT l_partkey, count(*) AS n,
        |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty
        |FROM lineitem
        |WHERE l_partkey BETWEEN 100 AND 300 AND l_suppkey BETWEEN 10 AND 50
        |GROUP BY l_partkey ORDER BY l_partkey""".stripMargin))

  /** Manifest-level data skipping end-to-end: commit a z-ordered
    * lineitem projection into the store (per-file min/max recorded in
    * the `stats-<n>` sidecar at write), then answer a range predicate
    * with a plain filtered read — non-intersecting files leave the
    * plan before the scan starts, the skipping Delta/Iceberg get from
    * log stats.
    * Content is layout- and pruning-invariant, so the oracle is the
    * plain filter; the pruning ratio itself is asserted in
    * StatsPruningSpec. */
  val statsPrunedScan: Entry = Entry(
    "stats_pruned_scan",
    (s, dir) => {
      val store = new TableStore(s, tmpDir("graft-stats"))
      store.create("li", Layout.cluster(
        t(s, dir, "lineitem").select("l_partkey", "l_suppkey", "l_quantity"),
        Seq("l_partkey", "l_suppkey"), numFiles = 16))
      store.read("li")
        .where(col("l_partkey").between(100, 300))
        .where(col("l_suppkey").between(10, 50))
        .groupBy("l_suppkey")
        .agg(count(lit(1)).as("n"),
          sum("l_quantity").cast("long").as("sum_qty"))
        .orderBy("l_suppkey")
    },
    Some("""SELECT l_suppkey, count(*) AS n,
        |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty
        |FROM lineitem
        |WHERE l_partkey BETWEEN 100 AND 300 AND l_suppkey BETWEEN 10 AND 50
        |GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin))

  /** `ANALYZE TABLE ... COMPUTE STATISTICS` through the SQL front
    * door: CTAS a lineitem projection into the store (the commit
    * folds per-file parquet footer stats into the `stats-<n>`
    * sidecar), then serve TABLE-level column statistics from that
    * sidecar alone — O(manifest), no data file opened: the ANALYZE a
    * 100 TB table can afford to run after every ingest. The oracle
    * recomputes rows/nulls/min/max from the data itself, proving the
    * folded footer stats are exact; string columns report exact null
    * counts with NULL numeric bounds. */
  val analyzeTableStats: Entry = Entry(
    "analyze_table_stats",
    (s, dir) => {
      val store = new TableStore(s, tmpDir("graft-analyze"))
      store.create("li", t(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_quantity",
          "l_extendedprice", "l_returnflag"))
      GraftSql.execute(s, store, "ANALYZE TABLE li COMPUTE STATISTICS")
        .orderBy("col_name")
    },
    Some("""SELECT * FROM (
        |  SELECT 'l_extendedprice' AS col_name, count(*) AS n_rows,
        |         count(*) - count(l_extendedprice) AS n_nulls,
        |         CAST(min(l_extendedprice) AS DOUBLE) AS min_v,
        |         CAST(max(l_extendedprice) AS DOUBLE) AS max_v
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_orderkey', count(*), count(*) - count(l_orderkey),
        |         CAST(min(l_orderkey) AS DOUBLE),
        |         CAST(max(l_orderkey) AS DOUBLE) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_partkey', count(*), count(*) - count(l_partkey),
        |         CAST(min(l_partkey) AS DOUBLE),
        |         CAST(max(l_partkey) AS DOUBLE) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_quantity', count(*), count(*) - count(l_quantity),
        |         CAST(min(l_quantity) AS DOUBLE),
        |         CAST(max(l_quantity) AS DOUBLE) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_returnflag', count(*), count(*) - count(l_returnflag),
        |         NULL, NULL FROM lineitem
        |) ORDER BY col_name""".stripMargin))

  /** Incremental SCD2 maintenance end-to-end ([[graft.lake.Scd2]]):
    * build the dimension from the first half of the change log, apply
    * the second half as a separate atomic commit, and read back. The
    * oracle is the SINGLE-SHOT build over the whole log — matching it
    * proves apply() ≡ rebuild: open versions close at the right
    * boundary change, cross-batch no-op re-emits mint no versions,
    * untouched keys carry verbatim. */
  val scd2Incremental: Entry = Entry(
    "scd2_incremental_apply",
    (s, dir) => {
      val store = new TableStore(s, tmpDir("graft-scd2"))
      val ch = t(s, dir, "events")
        .select((col("user_id") % 50).as("key"), col("event_type"),
          expr("ts div 1000").as("ts_us"))
      val split = 1705363200000000L // 2024-01-16 UTC, mid-fixture
      graft.lake.Scd2.apply(store, "dim_user",
        ch.where(col("ts_us") <= split), Seq("key"), "ts_us",
        Seq("event_type"))
      graft.lake.Scd2.apply(store, "dim_user",
        ch.where(col("ts_us") > split), Seq("key"), "ts_us",
        Seq("event_type"))
      store.read("dim_user")
        .select("key", "event_type", "valid_from", "valid_to", "is_current")
        .orderBy("key", "valid_from", "event_type")
    },
    Some("""WITH ch AS (
        |  SELECT user_id % 50 AS key, event_type, epoch_us(ts) AS ts_us
        |  FROM events),
        |d AS (
        |  SELECT *, lag(event_type) OVER (
        |    PARTITION BY key ORDER BY ts_us, event_type) AS prev
        |  FROM ch),
        |vers AS (
        |  SELECT key, event_type, ts_us AS valid_from,
        |    lead(ts_us) OVER (PARTITION BY key
        |      ORDER BY ts_us, event_type) AS valid_to
        |  FROM d WHERE prev IS DISTINCT FROM event_type)
        |SELECT key, event_type, valid_from, valid_to,
        |  valid_to IS NULL AS is_current
        |FROM vers ORDER BY key, valid_from, event_type""".stripMargin))

  /** Per-file Bloom-index point lookups end-to-end: keys land in
    * range-partitioned files, the bloom index is built in one
    * distributed pass, and each plain equality read plans only the
    * file(s) whose stats and bloom might hold the key — the bloom
    * adds the skipping dimension min/max stats can't provide on
    * hash/uuid-like keys. Content is pruning-invariant, so the oracle
    * is the plain equality filter; the skipping ratio itself is
    * asserted in BloomIndexSpec. */
  val bloomPointLookup: Entry = Entry(
    "bloom_point_lookup",
    (s, dir) => {
      val store = new TableStore(s, tmpDir("graft-bloomq"))
      store.create("cust_bl", t(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
        .repartitionByRange(8, col("c_custkey")))
      store.buildBloomIndex("cust_bl", "c_custkey")
      Seq(42L, 77L, 120L)
        .map(k => store.read("cust_bl").where(col("c_custkey") === k))
        .reduce(_.unionByName(_))
        .select(col("c_custkey"), col("c_name"),
          col("c_acctbal").cast("decimal(18,2)").cast("double").as("bal"))
        .orderBy("c_custkey")
    },
    Some("""SELECT c_custkey, c_name,
        |  CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS bal
        |FROM customer WHERE c_custkey IN (42, 77, 120)
        |ORDER BY c_custkey""".stripMargin))

  /** AUTOMATIC bloom skipping on the DEFAULT read path: keys are md5
    * hashes hash-distributed across files, so every file's string
    * min/max spans the key space and stats prune nothing — once the
    * index is built, a plain `read(t).where(key = ...)` consults the
    * bloom sidecar at predicate-pushdown time and plans only the
    * surviving file(s).
    * Content is pruning-invariant, so the oracle is the equality
    * filter on the pre-hash key; the scanned-file counts are asserted
    * in BloomIndexSpec. */
  val bloomAutoLookup: Entry = Entry(
    "bloom_auto_lookup",
    (s, dir) => {
      val store = new TableStore(s, tmpDir("graft-bloomauto"))
      store.create("cust_ba", t(s, dir, "customer")
        .select(md5(col("c_custkey").cast("string")).as("ckey"),
          col("c_custkey"), col("c_name"))
        .repartition(8, col("c_custkey")))
      store.buildBloomIndex("cust_ba", "ckey")
      val probes = Seq(42L, 77L, 120L).map(k =>
        org.apache.commons.codec.digest.DigestUtils.md5Hex(k.toString))
      store.read("cust_ba").where(col("ckey").isin(probes: _*))
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },
    Some("""SELECT c_custkey, c_name
        |FROM customer WHERE c_custkey IN (42, 77, 120)
        |ORDER BY c_custkey""".stripMargin))

  /** Null-count data skipping end-to-end: the stats sidecar records
    * per-file null counts (folded from the same parquet footers as
    * min/max), so a plain read filtered `IS NULL` drops every file
    * with a recorded zero null count and one filtered `IS NOT NULL`
    * drops all-null files — the pruning dimension Delta gets from
    * `nullCount` in its log. Nulls cluster
    * because the layout range-partitions on the nullable column
    * (NULLS FIRST), which is what a real pipeline's clustering does
    * to its quality columns. Content is pruning-invariant, so the
    * oracle is the plain CASE algebra; the skipping ratio itself is
    * asserted in StatsPruningSpec. */
  val nullPrunedScan: Entry = Entry(
    "null_pruned_scan",
    (s, dir) => {
      val store = new TableStore(s, tmpDir("graft-nstats"))
      store.create("onull", t(s, dir, "orders")
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 3 === 0, lit(null).cast("double"))
            .otherwise(col("o_totalprice")).as("v"))
        .repartitionByRange(8, col("v")))
      val nulls = store.read("onull").where(col("v").isNull)
        .agg(count(lit(1)).as("n_null"),
          sum("o_orderkey").cast("long").as("key_sum"))
      val valued = store.read("onull").where(col("v").isNotNull)
        .agg(count(lit(1)).as("n_valued"), round(sum("v"), 2).as("total"))
      nulls.crossJoin(broadcast(valued)) // 1-row x 1-row stats join
    },
    Some("""SELECT
        | (SELECT count(*) FROM orders WHERE o_orderkey % 3 = 0) AS n_null,
        | CAST((SELECT sum(o_orderkey) FROM orders
        |       WHERE o_orderkey % 3 = 0) AS BIGINT) AS key_sum,
        | (SELECT count(*) FROM orders WHERE o_orderkey % 3 <> 0) AS n_valued,
        | round((SELECT sum(o_totalprice) FROM orders
        |        WHERE o_orderkey % 3 <> 0), 2) AS total""".stripMargin))

  /** TPC-H Q6 shape: tight range filter + arithmetic aggregate —
    * everything pushes to the scan. */
  val q6Forecast: Entry = Entry(
    "q6_revenue_forecast",
    (s, dir) => t(s, dir, "lineitem")
      .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount").between(0.03, 0.07) && col("l_quantity") < 24)
      .agg(round(sum(col("l_extendedprice") * col("l_discount")), 4)
        .as("revenue"), count(lit(1)).as("n")),
    Some("""SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue,
        |  count(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24""".stripMargin))

  /** TPC-H Q4 shape: EXISTS subquery (semi join) + grouped count. */
  val q4OrderPriority: Entry = Entry(
    "q4_order_priority",
    (s, dir) => {
      val o = t(s, dir, "orders")
        .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      val li = t(s, dir, "lineitem").select("l_orderkey")
      o.join(li, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    },
    Some("""SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin))

  /** Numeric statistics: exact interpolated percentiles, stddev,
    * variance, correlation. */
  val statsNumeric: Entry = Entry(
    "stats_numeric_lineitem",
    (s, dir) => t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        round(expr("percentile(l_quantity, 0.5)"), 4).as("p50_qty"),
        round(expr("percentile(l_quantity, 0.9)"), 4).as("p90_qty"),
        round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
        round(var_samp(col("l_quantity")), 4).as("var_qty"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qty_price"))
      .orderBy("l_returnflag"),
    Some("""SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.5), 4) AS p50_qty,
        |  round(quantile_cont(l_quantity, 0.9), 4) AS p90_qty,
        |  round(stddev_samp(l_quantity), 4) AS sd_qty,
        |  round(var_samp(l_quantity), 4) AS var_qty,
        |  round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin))

  /** MERGE INTO SQL text (the reference's merge_sql_stmnt,
    * icberg/iceberg_tables.py:45-50) executed through GraftSql against
    * a store table: delete every customer key that appears in the
    * high-balance updates view, return the survivors. */
  val mergeSqlDelete: Entry = Entry(
    "cdc_merge_sql_text",
    (s, dir) => {
      val store = new TableStore(s, tmpDir("graft-msql"))
      store.create("dest", t(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal"))
      t(s, dir, "customer").where(col("c_acctbal") > 5000)
        .select("c_custkey")
        .createOrReplaceTempView("input_data_updates")
      GraftSql.execute(s, store,
        """MERGE INTO dest t USING input_data_updates u
          |ON t.c_custkey = u.c_custkey
          |WHEN MATCHED THEN DELETE""".stripMargin)
        .select(col("c_custkey"), col("c_name"),
          col("c_acctbal").cast("decimal(18,2)").cast("double").as("bal"))
        .orderBy("c_custkey")
    },
    Some("""SELECT c_custkey, c_name,
        |  CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS bal
        |FROM customer
        |WHERE c_custkey NOT IN (SELECT c_custkey FROM customer
        |                        WHERE c_acctbal > 5000)
        |ORDER BY c_custkey""".stripMargin))

  /** Conditional MERGE through the SQL front door: matched customers
    * are deleted only above a balance threshold, unmatched update rows
    * are inserted — the full delete+insert compiled form in one atomic
    * commit. */
  val mergeSqlConditional: Entry = Entry(
    "cdc_merge_sql_conditional",
    (s, dir) => {
      val store = new TableStore(s, tmpDir("graft-msqlc"))
      val cust = t(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
      store.create("destc", cust.where(col("c_custkey") % 2 === 0))
      cust.createOrReplaceTempView("updates_all")
      GraftSql.execute(s, store,
        """MERGE INTO destc t USING updates_all u
          |ON t.c_custkey = u.c_custkey
          |WHEN MATCHED AND u.c_acctbal > 5000 THEN DELETE
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        .select(col("c_custkey"), col("c_name"),
          col("c_acctbal").cast("decimal(18,2)").cast("double").as("bal"))
        .orderBy("c_custkey")
    },
    Some("""SELECT c_custkey, c_name,
        |  CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS bal
        |FROM customer
        |WHERE (c_custkey % 2 = 0 AND c_acctbal <= 5000)
        |   OR c_custkey % 2 = 1
        |ORDER BY c_custkey""".stripMargin))

  /** Upsert MERGE through the SQL front door: ordered matched actions
    * (conditional DELETE wins over conditional multi-assignment
    * UPDATE, first-match semantics) plus conditional INSERT — the full
    * MERGE form, one atomic commit. The source equals the full
    * customer table, so every matched (t, u) pair is the same row and
    * the oracle can state each action branch as a plain predicate. */
  val mergeSqlUpdate: Entry = Entry(
    "cdc_merge_sql_update",
    (s, dir) => {
      val store = new TableStore(s, tmpDir("graft-msqlu"))
      val cust = t(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
      store.create("destu", cust.where(col("c_custkey") % 2 === 0))
      cust.createOrReplaceTempView("updates_upsert")
      GraftSql.execute(s, store,
        """MERGE INTO destu t USING updates_upsert u
          |ON t.c_custkey = u.c_custkey
          |WHEN MATCHED AND u.c_acctbal > 7000 THEN DELETE
          |WHEN MATCHED AND u.c_acctbal > 2000 THEN UPDATE SET
          |  c_acctbal = u.c_acctbal + 100, c_name = concat(t.c_name, '*')
          |WHEN NOT MATCHED AND u.c_custkey % 3 = 0 THEN INSERT *""".stripMargin)
        .select(col("c_custkey"), col("c_name"),
          col("c_acctbal").cast("decimal(18,2)").cast("double").as("bal"))
        .orderBy("c_custkey")
    },
    Some("""WITH merged AS (
        |  SELECT c_custkey, c_name, c_acctbal FROM customer
        |  WHERE c_custkey % 2 = 0 AND c_acctbal <= 2000
        |  UNION ALL
        |  SELECT c_custkey, c_name || '*', c_acctbal + 100 FROM customer
        |  WHERE c_custkey % 2 = 0 AND c_acctbal > 2000 AND c_acctbal <= 7000
        |  UNION ALL
        |  SELECT c_custkey, c_name, c_acctbal FROM customer
        |  WHERE c_custkey % 2 = 1 AND c_custkey % 3 = 0)
        |SELECT c_custkey, c_name,
        |  CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS bal
        |FROM merged ORDER BY c_custkey""".stripMargin))

  /** MERGE schema evolution (Delta autoMerge semantics): the source
    * carries a column the target lacks (c_mktsegment) — star actions
    * evolve the target in the SAME atomic commit: updated and inserted
    * rows take the source value, carried rows NULL-backfill. Source
    * balances are shifted +1000 so every leg is visibly distinct. */
  val mergeSqlEvolving: Entry = Entry(
    "cdc_merge_sql_evolving",
    (s, dir) => {
      val store = new TableStore(s, tmpDir("graft-msqle"))
      val cust = t(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
      store.create("deste", cust.where(col("c_custkey") % 2 === 0))
      t(s, dir, "customer").select(col("c_custkey"), col("c_name"),
          (col("c_acctbal") + 1000).as("c_acctbal"), col("c_mktsegment"))
        .createOrReplaceTempView("updates_evolve")
      GraftSql.execute(s, store,
        """MERGE INTO deste t USING updates_evolve u
          |ON t.c_custkey = u.c_custkey
          |WHEN MATCHED AND u.c_acctbal > 6000 THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        .select(col("c_custkey"), col("c_name"),
          col("c_acctbal").cast("decimal(18,2)").cast("double").as("bal"),
          col("c_mktsegment").as("segment"))
        .orderBy("c_custkey")
    },
    Some("""SELECT c_custkey, c_name,
        |  CAST(CAST(bal AS DECIMAL(18,2)) AS DOUBLE) AS bal, segment
        |FROM (
        |  SELECT c_custkey, c_name, c_acctbal AS bal, NULL AS segment
        |  FROM customer WHERE c_custkey % 2 = 0 AND c_acctbal + 1000 <= 6000
        |  UNION ALL
        |  SELECT c_custkey, c_name, c_acctbal + 1000, c_mktsegment
        |  FROM customer WHERE c_custkey % 2 = 0 AND c_acctbal + 1000 > 6000
        |  UNION ALL
        |  SELECT c_custkey, c_name, c_acctbal + 1000, c_mktsegment
        |  FROM customer WHERE c_custkey % 2 = 1)
        |ORDER BY c_custkey""".stripMargin))

  /** COPY INTO — exactly-once file ingest ([[graft.lake.FileIngest]]):
    * load the documents fixture file into a store table, run the SAME
    * command again (the ledger makes it a provable no-op), and read
    * the table back. A double-load would double every row and could
    * never hash-match the oracle, which reads the source directly. */
  val copyIntoIdempotent: Entry = Entry(
    "copy_into_idempotent",
    (s, dir) => {
      val store = new TableStore(s, tmpDir("graft-ci"))
      graft.lake.FileIngest.copyInto(s, store, "docs_ci", s"$dir/documents.parquet")
      val again = graft.lake.FileIngest.copyInto(s, store, "docs_ci",
        s"$dir/documents.parquet")
      require(again.filesLoaded == 0 && again.rowsLoaded == 0,
        s"second COPY INTO must be a no-op, loaded $again")
      store.read("docs_ci").select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, lang, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin))

  /** COPY INTO schema evolution: a second drop whose files carry an
    * EXTRA column must load (not fail) and evolve the table
    * union-by-name — the reference's whole point is `mergeSchema`
    * ingestion (icberg/iceberg_tables.py:23). Earlier rows read the
    * new column as NULL; the oracle replays both batches flat, so a
    * dropped batch, a doubled batch, or a mis-aligned evolved column
    * could never hash-match. */
  val copyIntoEvolving: Entry = Entry(
    "copy_into_evolving",
    (s, dir) => {
      val store = new TableStore(s, tmpDir("graft-cie"))
      graft.lake.FileIngest.copyInto(s, store, "docs_ev",
        s"$dir/documents.parquet")
      // the drifted drop: a deterministic subset re-shaped with a new
      // `note` column, written as a fresh source directory
      val drop2 = tmpDir("graft-cie-src")
      t(s, dir, "documents").where(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          concat(lit("q"), (col("doc_id") % 3).cast("string")).as("note"))
        .coalesce(1).write.mode("overwrite").parquet(s"$drop2/batch")
      val r = graft.lake.FileIngest.copyInto(s, store, "docs_ev", drop2)
      require(r.rowsLoaded > 0, "drifted batch must load")
      store.read("docs_ev").select("doc_id", "lang", "n_chars", "note")
        .orderBy(col("doc_id"), col("note").asc_nulls_first)
    },
    Some("""SELECT doc_id, lang, n_chars, note FROM (
        |  SELECT doc_id, lang, n_chars, CAST(NULL AS VARCHAR) AS note
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, lang, n_chars, 'q' || CAST(doc_id % 3 AS VARCHAR)
        |  FROM documents WHERE doc_id % 5 = 0)
        |ORDER BY doc_id, note NULLS FIRST""".stripMargin))

  /** NESTED MERGE schema evolution: the source's STRUCT column carries
    * a field the target's struct lacks (`props.tag`) — star actions
    * widen the struct field-by-name in the same atomic commit
    * (GraftSql.mergedStruct/widenStructTo; a positional struct cast
    * would scramble fields). Carried rows read the new field as NULL;
    * the oracle replays the algebra flattened, so a mis-mapped struct
    * field could never hash-match. */
  val mergeStructEvolving: Entry = Entry(
    "cdc_merge_struct_evolving",
    (s, dir) => {
      val store = new TableStore(s, tmpDir("graft-msqlnest"))
      val ev = t(s, dir, "events")
      store.create("destn", ev.where(col("event_id") % 2 === 0)
        .select(col("event_id").as("pk"),
          struct(col("event_type"), col("user_id").as("uid")).as("props")))
      ev.where(col("event_id") % 3 === 0)
        .select(col("event_id").as("pk"),
          struct(concat(col("event_type"), lit("+")).as("event_type"),
            (col("user_id") + 1).as("uid"),
            concat(lit("e"), (col("event_id") % 7).cast("string")).as("tag"))
            .as("props"))
        .createOrReplaceTempView("updates_nest")
      GraftSql.execute(s, store,
        """MERGE INTO destn t USING updates_nest u
          |ON t.pk = u.pk
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        .select(col("pk"), col("props.event_type").as("etype"),
          col("props.uid").as("uid"), col("props.tag").as("tag"))
        .orderBy("pk")
    },
    Some("""SELECT pk, etype, uid, tag FROM (
        |  SELECT event_id AS pk, event_type AS etype, user_id AS uid,
        |    CAST(NULL AS VARCHAR) AS tag
        |  FROM events WHERE event_id % 2 = 0 AND event_id % 3 <> 0
        |  UNION ALL
        |  SELECT event_id, event_type || '+', user_id + 1,
        |    'e' || CAST(event_id % 7 AS VARCHAR)
        |  FROM events WHERE event_id % 3 = 0)
        |ORDER BY pk""".stripMargin))

  /** The canonical replication statement — full table sync in one
    * MERGE: matched rows overwritten from the source, missing rows
    * inserted, rows absent from the source deleted. After the
    * statement the target IS the source, which is exactly what the
    * oracle states. Target starts as a stale overlapping subset
    * (every third customer, balances drifted) to make all three legs
    * fire. */
  val mergeSqlFullSync: Entry = Entry(
    "cdc_merge_sql_full_sync",
    (s, dir) => {
      val store = new TableStore(s, tmpDir("graft-msqlfs"))
      val cust = t(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
      store.create("destfs", cust.where(col("c_custkey") % 3 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 999))
      cust.where(col("c_custkey") % 2 === 0)
        .createOrReplaceTempView("updates_sync")
      GraftSql.execute(s, store,
        """MERGE INTO destfs t USING updates_sync u
          |ON t.c_custkey = u.c_custkey
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *
          |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
        .select(col("c_custkey"), col("c_name"),
          col("c_acctbal").cast("decimal(18,2)").cast("double").as("bal"))
        .orderBy("c_custkey")
    },
    Some("""SELECT c_custkey, c_name,
        |  CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS bal
        |FROM customer WHERE c_custkey % 2 = 0
        |ORDER BY c_custkey""".stripMargin))

  /** Incremental materialized-view maintenance: a per-(day, type)
    * rollup table is built from events before a MID-DAY cutoff, then
    * refreshed with the post-cutoff delta through one MERGE whose
    * UPDATE leg ADDS the delta aggregates onto the stored ones (count
    * and an exact DECIMAL sum — order-free, so the refresh is
    * oracle-exact) and whose INSERT leg admits brand-new groups. This
    * is the standard "don't rescan the base table" refresh: the merge
    * touches O(delta groups) rows, not O(history), which is the whole
    * point at 100 TB. Oracle: one GROUP BY over ALL events — after the
    * refresh the rollup must equal the from-scratch aggregate. */
  val rollupRefresh: Entry = Entry(
    "rollup_incremental_refresh",
    (s, dir) => {
      val store = new TableStore(s, tmpDir("graft-ivm"))
      // 2024-01-16T12:00:00Z in epoch-nanos: splits Jan 16 in half so
      // the delta both UPDATES existing groups and INSERTS new days
      val cutoffNs = 1705406400L * 1000000000L
      def rollup(pred: org.apache.spark.sql.Column) =
        t(s, dir, "events").where(pred)
          .select(to_date(Tables.nsToTimestamp("ts")).as("day"),
            col("event_type"), col("value"))
          .groupBy("day", "event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,4)")).as("total"))
      store.create("evroll", rollup(col("ts") < cutoffNs))
      rollup(col("ts") >= cutoffNs).createOrReplaceTempView("ev_delta")
      GraftSql.execute(s, store,
        """MERGE INTO evroll t USING ev_delta u
          |ON t.day = u.day AND t.event_type = u.event_type
          |WHEN MATCHED THEN UPDATE SET n = t.n + u.n,
          |  total = t.total + u.total
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        .select(col("day").cast("string").as("day"), col("event_type"),
          col("n"), col("total").cast("double").as("total"))
        .orderBy("day", "event_type")
    },
    Some("""SELECT CAST(CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)
        |    AS VARCHAR) AS day,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM events GROUP BY day, event_type
        |ORDER BY day, event_type""".stripMargin))

  /** CDF-bound materialized view, full lifecycle
    * ([[graft.lake.MaterializedView]]): create a count/sum view bound
    * to the source's version, append a batch AND merge-on-read-delete
    * a key slice on the source, then ONE refresh folds both from the
    * change feed as signed partial rows — O(changed data), never a
    * source rescan (where rollup_incremental_refresh re-aggregates
    * the delta from the base by predicate and can't fold deletes at
    * all) — and compactPartials folds the partials without losing the
    * binding. The view carries a WHERE (`qty > 5`): the feed's insert
    * and delete images pass the same predicate, so filtering stays
    * self-maintainable. min/max(price) ride along under the IVM
    * repair rule — the MoR delete triggers the affected-group
    * recompute + reset fence, all under this oracle. Measures sum as
    * DECIMAL(18,4) (order-free exactness, same convention as the
    * rollup). Oracle: the from-scratch filtered aggregate over the
    * source's FINAL state. */
  val mvIncremental: Entry = Entry(
    "mv_incremental_refresh",
    (s, dir) => {
      val store = new TableStore(s, tmpDir("graft-mv"))
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_returnflag"), col("l_linestatus"),
          col("l_quantity").cast("decimal(18,4)").as("qty"),
          col("l_extendedprice").cast("decimal(18,4)").as("price"))
      store.create("li_src", li.where(col("l_orderkey") % 3 =!= 0))
      graft.lake.MaterializedView.create(store, "li_mv", "li_src",
        Seq("l_returnflag", "l_linestatus"), Seq("qty", "price"),
        filter = Some("qty > 5"),
        minCols = Seq("price"), maxCols = Seq("price"))
      store.append("li_src", li.where(col("l_orderkey") % 3 === 0))
      store.appendWithDeletes("li_src", li.limit(0),
        deleteKeys = li.select("l_orderkey")
          .where(col("l_orderkey") % 7 === 0).distinct())
      graft.lake.MaterializedView.refresh(store, "li_mv")
      graft.lake.MaterializedView.compactPartials(store, "li_mv")
      graft.lake.MaterializedView.read(store, "li_mv")
        .select(col("l_returnflag"), col("l_linestatus"),
          col("cnt").as("n"),
          col("sum_qty").cast("double").as("sum_qty"),
          col("sum_price").cast("double").as("sum_price"),
          col("min_price").cast("double").as("min_price"),
          col("max_price").cast("double").as("max_price"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
        |  CAST(min(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS min_price,
        |  CAST(max(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS max_price
        |FROM lineitem WHERE l_orderkey % 7 <> 0
        |  AND CAST(l_quantity AS DECIMAL(18,4)) > 5
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin))

  /** Streaming-fresh materialized view
    * ([[graft.streaming.StreamingMaterializedView]]): half the events
    * seed the source table + view; the other half arrives as parquet
    * micro-batches whose foreachBatch appends exactly-once AND folds
    * the change feed into the view per trigger. The consolidated read
    * must equal the from-scratch aggregate over ALL events — the
    * stream==batch contract, under the DuckDB oracle. */
  val mvStreaming: Entry = Entry(
    "mv_streaming_fresh",
    (s, dir) => {
      val store = new TableStore(s, tmpDir("graft-smv"))
      val srcDir = tmpDir("graft-smv-src")
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("event_type"),
          col("value").cast("decimal(18,4)").as("v"))
      store.create("ev_t", ev.where(col("event_id") % 2 === 0))
      graft.lake.MaterializedView.create(store, "ev_mv", "ev_t",
        Seq("event_type"), Seq("v"), minCols = Seq("v"), maxCols = Seq("v"))
      ev.where(col("event_id") % 2 =!= 0)
        .coalesce(2).write.mode("overwrite").parquet(srcDir)
      val q = graft.streaming.StreamingMaterializedView.start(s, srcDir,
        store, "ev_t", views = Seq("ev_mv"),
        checkpointDir = tmpDir("graft-smv-ckpt"), maxFilesPerTrigger = 1)
      try q.processAllAvailable() finally q.stop()
      graft.lake.MaterializedView.read(store, "ev_mv")
        .select(col("event_type"), col("cnt").as("n"),
          col("sum_v").cast("double").as("sum_v"),
          col("min_v").cast("double").as("min_v"),
          col("max_v").cast("double").as("max_v"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_v,
        |  CAST(min(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS min_v,
        |  CAST(max(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS max_v
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin))

  /** Query rewriting over a materialized view
    * ([[graft.lake.MvRewrite]]): the full SQL-driven lifecycle —
    * CREATE MATERIALIZED VIEW, source append + MoR delete, REFRESH —
    * then a dashboard aggregate over the SOURCE table that the front
    * door must serve from the view: it groups by a SUBSET of the
    * view's keys (re-aggregating the additive partials) under a
    * residual WHERE on the other group column, touching every
    * translatable measure family (count(*) / count / sum / avg /
    * min / max). The `require` makes the serve path load-bearing: if
    * the rewrite ever stops matching, this query fails loudly rather
    * than silently scanning the source. Measures ride on l_quantity
    * (integral doubles — exact sums in any fold order) and
    * l_extendedprice (min/max, order-free); avg divides an exact sum
    * by a count, so the double is deterministic and the oracle
    * replays it as sum/count. Oracle: the from-scratch aggregate over
    * the source's FINAL state. */
  val mvRewriteServed: Entry = Entry(
    "mv_query_rewrite",
    (s, dir) => {
      val store = new TableStore(s, tmpDir("graft-mvrw"))
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_returnflag"), col("l_linestatus"),
          col("l_quantity").as("qty"), col("l_extendedprice").as("price"))
      store.create("li_rw", li.where(col("l_orderkey") % 3 =!= 0))
      GraftSql.execute(s, store,
        """CREATE MATERIALIZED VIEW li_rw_mv AS
          |SELECT l_returnflag, l_linestatus, count(*), sum(qty),
          |  avg(qty), min(price), max(price)
          |FROM li_rw GROUP BY l_returnflag, l_linestatus""".stripMargin)
      store.append("li_rw", li.where(col("l_orderkey") % 3 === 0))
      store.appendWithDeletes("li_rw", li.limit(0),
        deleteKeys = li.select("l_orderkey")
          .where(col("l_orderkey") % 7 === 0).distinct())
      GraftSql.execute(s, store, "REFRESH MATERIALIZED VIEW li_rw_mv")
      val before = graft.lake.MvRewrite.hits.get()
      val served = GraftSql.execute(s, store,
        """SELECT l_returnflag, count(*) AS n, count(qty) AS nq,
          |  sum(qty) AS sum_qty, avg(qty) AS avg_qty,
          |  min(price) AS min_price, max(price) AS max_price
          |FROM li_rw WHERE l_linestatus = 'F'
          |GROUP BY l_returnflag""".stripMargin)
      require(graft.lake.MvRewrite.hits.get() > before,
        "mv_query_rewrite expected the SELECT to be served from li_rw_mv")
      served.orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag, count(*) AS n, count(l_quantity) AS nq,
        |  sum(l_quantity) AS sum_qty,
        |  CAST(sum(l_quantity) / count(l_quantity) AS DOUBLE) AS avg_qty,
        |  min(l_extendedprice) AS min_price,
        |  max(l_extendedprice) AS max_price
        |FROM lineitem WHERE l_orderkey % 7 <> 0 AND l_linestatus = 'F'
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin))

  /** Derived-group materialized view — the canonical daily-rollup
    * shape: the view groups by an EXPRESSION over the source
    * (`(ts div 1000) div 86400000000` = the µs-epoch day index) that
    * every fold path projects before grouping, so a time-bucketed
    * rollup maintains at O(changed data) exactly like a plain view.
    * Full SQL lifecycle: CREATE with `<expr> AS day` in the select
    * list, append + MoR delete on the source, REFRESH + OPTIMIZE.
    * Measures sum as DECIMAL(18,4) (order-free exactness). Oracle:
    * the from-scratch day×type aggregate over the source's final
    * state, with DuckDB deriving the same day index from epoch-µs. */
  val mvExprGroupRollup: Entry = Entry(
    "mv_expr_group_rollup",
    (s, dir) => {
      val store = new TableStore(s, tmpDir("graft-mveg"))
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("ts"),
          col("value").cast("decimal(18,4)").as("v"))
      store.create("ev_t", ev.where(col("event_id") % 2 === 0))
      GraftSql.execute(s, store,
        """CREATE MATERIALIZED VIEW ev_day_mv AS
          |SELECT (ts div 1000) div 86400000000 AS day, event_type,
          |  count(*), sum(v)
          |FROM ev_t GROUP BY day, event_type""".stripMargin)
      store.append("ev_t", ev.where(col("event_id") % 2 =!= 0))
      store.appendWithDeletes("ev_t", ev.limit(0),
        deleteKeys = ev.select("event_id")
          .where(col("event_id") % 9 === 0).distinct())
      GraftSql.execute(s, store, "REFRESH MATERIALIZED VIEW ev_day_mv")
      GraftSql.execute(s, store, "OPTIMIZE MATERIALIZED VIEW ev_day_mv")
      // the rollup query over the SOURCE, grouping by the same derived
      // expression, must be served from the view (derived-group
      // rewrite) — loud routing check, parity pinned by MvRewriteSpec
      val before = graft.lake.MvRewrite.hits.get()
      GraftSql.execute(s, store,
        """SELECT (ts div 1000) div 86400000000 AS day, event_type,
          |  count(*) AS n
          |FROM ev_t GROUP BY 1, 2""".stripMargin).count()
      require(graft.lake.MvRewrite.hits.get() > before,
        "mv_expr_group_rollup expected the day-rollup SELECT to be " +
          "served from ev_day_mv")
      GraftSql.execute(s, store,
        "SELECT day, event_type, cnt, sum_v FROM ev_day_mv")
        .select(col("day"), col("event_type"), col("cnt").as("n"),
          col("sum_v").cast("double").as("sum_v"))
        .orderBy("day", "event_type")
    },
    Some("""SELECT epoch_us(ts) // 86400000000 AS day, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_v
        |FROM events WHERE event_id % 9 <> 0
        |GROUP BY day, event_type
        |ORDER BY day, event_type""".stripMargin))

  /** Join-query rewriting over a join materialized view: the full
    * SQL lifecycle (CREATE MATERIALIZED VIEW ... FROM fact JOIN dim
    * USING (...), fact append, REFRESH), then the star query itself —
    * `SELECT seg, count(*), sum(...) FROM fact JOIN dim USING (...)
    * GROUP BY seg` — through the front door, which must serve it from
    * the view (O(view), no join, no fact scan) — the `require` makes
    * that routing load-bearing. Measures are count(*) and a sum of
    * integral doubles (exact in any fold order). Oracle: the
    * from-scratch join-aggregate over both final states. */
  val mvJoinRewrite: Entry = Entry(
    "mv_join_rewrite",
    (s, dir) => {
      val store = new TableStore(s, tmpDir("graft-mvjrw"))
      val ord = t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderstatus"),
          col("o_orderkey").cast("double").as("okey"))
      val cust = t(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
      store.create("ord_f", ord.where(col("okey") % 3 =!= 0))
      store.create("cust_d", cust)
      GraftSql.execute(s, store,
        """CREATE MATERIALIZED VIEW ocr_mv AS
          |SELECT c_mktsegment, count(*), sum(okey)
          |FROM ord_f JOIN cust_d USING (o_custkey)
          |GROUP BY c_mktsegment""".stripMargin)
      store.append("ord_f", ord.where(col("okey") % 3 === 0))
      GraftSql.execute(s, store, "REFRESH MATERIALIZED VIEW ocr_mv")
      val before = graft.lake.MvRewrite.hits.get()
      val served = GraftSql.execute(s, store,
        """SELECT c_mktsegment, count(*) AS n, sum(okey) AS sum_okey
          |FROM ord_f JOIN cust_d USING (o_custkey)
          |GROUP BY c_mktsegment""".stripMargin)
      require(graft.lake.MvRewrite.hits.get() > before,
        "mv_join_rewrite expected the join SELECT to be served from ocr_mv")
      served.orderBy("c_mktsegment")
    },
    Some("""SELECT c_mktsegment, count(*) AS n,
        |  sum(CAST(o_orderkey AS DOUBLE)) AS sum_okey
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin))

  /** Join materialized view, two-cursor IVM
    * ([[graft.lake.MaterializedView.createJoined]]): an orders⋈customer
    * star view (group by dim segment × fact status) maintained under
    * BOTH sides changing — fact append + MoR delete AND a dim
    * re-segmentation (delete+reinsert) — via the exact bag identity
    * Δ(F⋈D) = ΔF⋈D_new ⊕ F_old⋈ΔD, with the fact and dim cursors
    * advancing in ONE atomic append. One refresh folds everything;
    * compactPartials proves the two-cursor binding survives the fold.
    * Measures sum as DECIMAL(18,4) (order-free exactness); avg reads
    * as the exact decimal sum cast to double over the non-null count,
    * replayed identically by the oracle. Oracle: the from-scratch
    * join-aggregate over both tables' FINAL states. */
  val mvJoinIncremental: Entry = Entry(
    "mv_join_incremental",
    (s, dir) => {
      val store = new TableStore(s, tmpDir("graft-mvjoin"))
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice").cast("decimal(18,4)").as("price"))
      val cust = t(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
      store.create("ord_f", ord.where(col("o_orderkey") % 4 =!= 0))
      store.create("cust_d", cust)
      graft.lake.MaterializedView.createJoined(store, "oc_mv",
        "ord_f", "cust_d", Seq("o_custkey"),
        Seq("c_mktsegment", "o_orderstatus"), Seq("price"),
        avgCols = Seq("price"))
      store.append("ord_f", ord.where(col("o_orderkey") % 4 === 0))
      store.appendWithDeletes("ord_f", ord.limit(0),
        deleteKeys = ord.select("o_orderkey")
          .where(col("o_orderkey") % 7 === 0).distinct())
      store.appendWithDeletes("cust_d",
        cust.where(col("o_custkey") % 10 === 3)
          .withColumn("c_mktsegment", lit("MACHINERY")),
        deleteKeys = cust.select("o_custkey")
          .where(col("o_custkey") % 10 === 3).distinct())
      graft.lake.MaterializedView.refresh(store, "oc_mv")
      graft.lake.MaterializedView.compactPartials(store, "oc_mv")
      graft.lake.MaterializedView.read(store, "oc_mv")
        .select(col("c_mktsegment"), col("o_orderstatus"),
          col("cnt").as("n"),
          col("sum_price").cast("double").as("sum_price"),
          col("avg_price"))
        .orderBy("c_mktsegment", "o_orderstatus")
    },
    Some("""WITH dimf AS (
        |  SELECT c_custkey, CASE WHEN c_custkey % 10 = 3
        |    THEN 'MACHINERY' ELSE c_mktsegment END AS c_mktsegment
        |  FROM customer),
        |factf AS (
        |  SELECT o_custkey, o_orderstatus,
        |    CAST(o_totalprice AS DECIMAL(18,4)) AS price
        |  FROM orders WHERE o_orderkey % 7 <> 0)
        |SELECT c_mktsegment, o_orderstatus, count(*) AS n,
        |  CAST(sum(price) AS DOUBLE) AS sum_price,
        |  CAST(CAST(sum(price) AS DOUBLE) / count(*) AS DOUBLE) AS avg_price
        |FROM factf JOIN dimf ON factf.o_custkey = dimf.c_custkey
        |GROUP BY c_mktsegment, o_orderstatus
        |ORDER BY c_mktsegment, o_orderstatus""".stripMargin))

  /** ON-spelling join rewrite: the view is created with USING, the
    * dashboard query writes `ON f.k = d.k` with table aliases and
    * qualified columns — the matcher must recognize the
    * USING-equivalence and serve it at O(view) (routing is
    * load-bearing via the `require`). Oracle: from-scratch join
    * aggregate over the final states. */
  val mvJoinOnRewrite: Entry = Entry(
    "mv_join_on_rewrite",
    (s, dir) => {
      val store = new TableStore(s, tmpDir("graft-mvonrw"))
      val ord = t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderstatus"),
          col("o_orderkey").cast("double").as("okey"))
      val cust = t(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
      store.create("ord_on", ord.where(col("okey") % 3 =!= 0))
      store.create("cust_on", cust)
      GraftSql.execute(s, store,
        """CREATE MATERIALIZED VIEW ocon_mv AS
          |SELECT c_mktsegment, o_orderstatus, count(*), sum(okey)
          |FROM ord_on JOIN cust_on USING (o_custkey)
          |GROUP BY c_mktsegment, o_orderstatus""".stripMargin)
      store.append("ord_on", ord.where(col("okey") % 3 === 0))
      GraftSql.execute(s, store, "REFRESH MATERIALIZED VIEW ocon_mv")
      val before = graft.lake.MvRewrite.hits.get()
      val served = GraftSql.execute(s, store,
        """SELECT d.c_mktsegment, count(*) AS n, sum(f.okey) AS sum_okey
          |FROM ord_on f JOIN cust_on d ON f.o_custkey = d.o_custkey
          |WHERE d.c_mktsegment <> 'MACHINERY'
          |GROUP BY d.c_mktsegment""".stripMargin)
      require(graft.lake.MvRewrite.hits.get() > before,
        "mv_join_on_rewrite expected the ON-spelled join SELECT to be " +
          "served from ocon_mv")
      served.orderBy("c_mktsegment")
    },
    Some("""SELECT c_mktsegment, count(*) AS n,
        |  sum(CAST(o_orderkey AS DOUBLE)) AS sum_okey
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment <> 'MACHINERY'
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin))

  /** 3-table star materialized view (TPC-H Q3/Q10 dashboard shape):
    * lineitem ⋈ orders ⋈ part maintained under all three cursors by
    * the telescoping identity — a fact append AND a dim re-key fold
    * in ONE refresh — then the star query itself is served from the
    * view (require: routing), group-subset included. Oracle:
    * from-scratch 3-way join aggregate over the final states. */
  val mvStar3Rewrite: Entry = Entry(
    "mv_star3_rewrite",
    (s, dir) => {
      val store = new TableStore(s, tmpDir("graft-mvstar"))
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("okey"), col("l_partkey").as("pkey"),
          col("l_quantity").as("qty"))
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey").as("okey"), col("o_orderstatus"))
      val prt = t(s, dir, "part")
        .select(col("p_partkey").as("pkey"), col("p_brand"))
      store.create("li_f", li.where(col("okey") % 3 =!= 0))
      store.create("ord_d", ord)
      store.create("prt_d", prt)
      GraftSql.execute(s, store,
        """CREATE MATERIALIZED VIEW star_mv AS
          |SELECT o_orderstatus, p_brand, count(*), sum(qty)
          |FROM li_f JOIN ord_d USING (okey) JOIN prt_d USING (pkey)
          |GROUP BY o_orderstatus, p_brand""".stripMargin)
      // all three tables move; one refresh folds every cursor
      store.append("li_f", li.where(col("okey") % 3 === 0))
      store.appendWithDeletes("prt_d",
        prt.where(col("pkey") % 10 === 1)
          .withColumn("p_brand", lit("Brand#99")),
        deleteKeys = prt.select("pkey")
          .where(col("pkey") % 10 === 1).distinct())
      GraftSql.execute(s, store, "REFRESH MATERIALIZED VIEW star_mv")
      val before = graft.lake.MvRewrite.hits.get()
      val served = GraftSql.execute(s, store,
        """SELECT o_orderstatus, p_brand, count(*) AS n, sum(qty) AS sum_qty
          |FROM li_f JOIN ord_d USING (okey) JOIN prt_d USING (pkey)
          |GROUP BY o_orderstatus, p_brand""".stripMargin)
      require(graft.lake.MvRewrite.hits.get() > before,
        "mv_star3_rewrite expected the star SELECT to be served from star_mv")
      served.orderBy("o_orderstatus", "p_brand")
    },
    Some("""WITH prtf AS (
        |  SELECT p_partkey, CASE WHEN p_partkey % 10 = 1
        |    THEN 'Brand#99' ELSE p_brand END AS p_brand FROM part)
        |SELECT o_orderstatus, p_brand, count(*) AS n,
        |  sum(l_quantity) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN prtf ON l_partkey = p_partkey
        |GROUP BY o_orderstatus, p_brand
        |ORDER BY o_orderstatus, p_brand""".stripMargin))

  /** count(DISTINCT key) service: a view grouped by (flag, suppkey)
    * serves `count(DISTINCT l_suppkey) GROUP BY flag` EXACTLY — the
    * consolidated rows enumerate the surviving (flag, suppkey)
    * combinations, so the distinct count is a count over view rows,
    * O(view), correct across the MoR delete (vanished combinations
    * net to zero and drop). Routing load-bearing. Oracle recomputes
    * the distinct count from the surviving source rows. */
  val mvCountDistinctRewrite: Entry = Entry(
    "mv_count_distinct_rewrite",
    (s, dir) => {
      val store = new TableStore(s, tmpDir("graft-mvcd"))
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_returnflag"), col("l_suppkey"),
          col("l_quantity").as("qty"))
      store.create("li_cd", li.where(col("l_orderkey") % 2 =!= 0))
      GraftSql.execute(s, store,
        """CREATE MATERIALIZED VIEW licd_mv AS
          |SELECT l_returnflag, l_suppkey, count(*), sum(qty)
          |FROM li_cd GROUP BY l_returnflag, l_suppkey""".stripMargin)
      store.append("li_cd", li.where(col("l_orderkey") % 2 === 0))
      store.appendWithDeletes("li_cd", li.limit(0),
        deleteKeys = li.select("l_orderkey")
          .where(col("l_orderkey") % 11 === 0).distinct())
      GraftSql.execute(s, store, "REFRESH MATERIALIZED VIEW licd_mv")
      val before = graft.lake.MvRewrite.hits.get()
      val served = GraftSql.execute(s, store,
        """SELECT l_returnflag, count(DISTINCT l_suppkey) AS dsupp,
          |  count(*) AS n, sum(qty) AS sum_qty
          |FROM li_cd GROUP BY l_returnflag""".stripMargin)
      require(graft.lake.MvRewrite.hits.get() > before,
        "mv_count_distinct_rewrite expected the distinct-key SELECT to " +
          "be served from licd_mv")
      served.orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag, count(DISTINCT l_suppkey) AS dsupp,
        |  count(*) AS n, sum(l_quantity) AS sum_qty
        |FROM lineitem WHERE l_orderkey % 11 <> 0
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin))

  /** Star-view SUBSUMPTION: a query over a SUBSET of the view's
    * tables (fact ⋈ dims, omitting dimo) is served from the
    * fact⋈dimo⋈dims view because RELY constraints prove the omitted
    * join key-preserving — PRIMARY KEY on dimo(okey) (no
    * duplication) + FOREIGN KEY fact(okey)→dimo (non-NULL children,
    * no drops) — classic Goldstein–Larson §4.2, previously an
    * always-abstain. Constraints are validated ONCE at declaration
    * (bounded jobs), then trusted; routing is load-bearing
    * (`require(hits increased)`), and the oracle recomputes the
    * subset join from the fixtures. */
  val mvStarSubsumption: Entry = Entry(
    "mv_star_subsumption",
    (s, dir) => {
      val store = new TableStore(s, tmpDir("graft-mvsub"))
      store.create("fact", t(s, dir, "lineitem")
        .select(col("l_orderkey").as("okey"), col("l_suppkey").as("skey"),
          col("l_quantity").as("qty")))
      store.create("dimo", t(s, dir, "orders")
        .select(col("o_orderkey").as("okey"),
          col("o_orderstatus").as("status")))
      store.create("dims", t(s, dir, "supplier")
        .select(col("s_suppkey").as("skey"),
          col("s_nationkey").as("snat")))
      GraftSql.execute(s, store,
        """CREATE MATERIALIZED VIEW sub_mv AS
          |SELECT status, snat, count(*), sum(qty)
          |FROM fact JOIN dimo USING (okey) JOIN dims USING (skey)
          |GROUP BY status, snat""".stripMargin)
      GraftSql.execute(s, store,
        "ALTER TABLE dimo ADD CONSTRAINT dimo_pk PRIMARY KEY (okey) RELY")
      GraftSql.execute(s, store,
        "ALTER TABLE fact ADD CONSTRAINT fact_fk FOREIGN KEY (okey) " +
          "REFERENCES dimo (okey) RELY")
      val before = graft.lake.MvRewrite.hits.get()
      val served = GraftSql.execute(s, store,
        """SELECT snat, count(*) AS n, sum(qty) AS sum_qty
          |FROM fact JOIN dims USING (skey) GROUP BY snat""".stripMargin)
      require(graft.lake.MvRewrite.hits.get() > before,
        "mv_star_subsumption expected the subset join to be served " +
          "from sub_mv via the RELY key-preservation proof")
      served.orderBy("snat")
    },
    Some("""SELECT s_nationkey AS snat, count(*) AS n,
        |  sum(l_quantity) AS sum_qty
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey ORDER BY snat""".stripMargin))

  /** TRUE distinct measures in a materialized view — `approx_count_
    * distinct(c)` where c is NOT a view key — as deterministic KMV
    * sketch partials: inserts merge (k smallest of the union),
    * deletes repair the touched groups behind the epoch fence, and
    * the maintained sketch is BIT-IDENTICAL to a rebuild (the loud
    * `approx_` contract: an estimate past k, exact below, never
    * engine-dependent like HLL registers). The lifecycle here folds
    * an append AND a delete through two refreshes; the oracle replays
    * the md5-derived KMV estimate over the surviving rows from
    * scratch — estimate-exact, not just rows-checked. */
  val mvApproxDistinct: Entry = Entry(
    "mv_approx_distinct",
    (s, dir) => {
      val store = new TableStore(s, tmpDir("graft-mvad"))
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey").as("k"), col("o_orderstatus").as("st"),
          col("o_custkey").as("cust"))
      store.create("s_ad", ord.where(col("k") % 2 === 0))
      GraftSql.execute(s, store,
        """CREATE MATERIALIZED VIEW mad_mv AS
          |SELECT st, count(*), approx_count_distinct(cust)
          |FROM s_ad GROUP BY st""".stripMargin)
      store.append("s_ad", ord.where(col("k") % 2 === 1))
      GraftSql.execute(s, store, "REFRESH MATERIALIZED VIEW mad_mv")
      store.appendWithDeletes("s_ad", ord.limit(0),
        deleteKeys = ord.select("k").where(col("k") % 11 === 0))
      GraftSql.execute(s, store, "REFRESH MATERIALIZED VIEW mad_mv")
      graft.lake.MaterializedView.read(store, "mad_mv")
        .select("st", "cnt", "approx_distinct_cust")
        .orderBy("st")
    },
    Some(s"""WITH cur AS (
        |  SELECT o_orderstatus AS st, o_custkey AS cust
        |  FROM orders WHERE o_orderkey % 11 <> 0),
        |cnts AS (SELECT st, count(*) AS cnt FROM cur GROUP BY st),
        |h AS (
        |  SELECT DISTINCT st, ${OracleSql.hex12ToBigint("hx")} AS h
        |  FROM (SELECT st, md5(CAST(cust AS VARCHAR)) AS hx FROM cur)),
        |r AS (
        |  SELECT st, h, row_number() OVER (
        |    PARTITION BY st ORDER BY h) AS rn
        |  FROM h),
        |est AS (
        |  SELECT st,
        |    CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
        |         ELSE round(63.0 * 281474976710656 / max(h), 4) END
        |      AS approx_distinct_cust
        |  FROM r WHERE rn <= 64 GROUP BY st)
        |SELECT st, cnt, approx_distinct_cust
        |FROM cnts JOIN est USING (st) ORDER BY st""".stripMargin))

  /** min/max on a JOIN view across a fact MoR delete: the deleted
    * extrema are unrecoverable from any delta, so the refresh must
    * run the join-side repair — recompute exactly the affected
    * groups from the re-joined slice behind the reset-epoch fence —
    * and the subsequent star query serves the repaired extrema from
    * the view. Oracle: extrema over the surviving joined rows. */
  val mvJoinMinMax: Entry = Entry(
    "mv_join_minmax",
    (s, dir) => {
      val store = new TableStore(s, tmpDir("graft-mvjmm"))
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice").cast("double").as("price"))
      val cust = t(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
      store.create("ord_mm", ord.where(col("o_orderkey") % 5 =!= 0))
      store.create("cust_mm", cust)
      GraftSql.execute(s, store,
        """CREATE MATERIALIZED VIEW omm_mv AS
          |SELECT c_mktsegment, count(*), min(price), max(price)
          |FROM ord_mm JOIN cust_mm USING (o_custkey)
          |GROUP BY c_mktsegment""".stripMargin)
      store.append("ord_mm", ord.where(col("o_orderkey") % 5 === 0))
      // the MoR delete takes out whole order ranges — including group
      // extrema, forcing the join-side repair leg
      store.appendWithDeletes("ord_mm", ord.limit(0),
        deleteKeys = ord.select("o_orderkey")
          .where(col("o_orderkey") % 7 === 0).distinct())
      GraftSql.execute(s, store, "REFRESH MATERIALIZED VIEW omm_mv")
      val before = graft.lake.MvRewrite.hits.get()
      val served = GraftSql.execute(s, store,
        """SELECT c_mktsegment, count(*) AS n, min(price) AS min_price,
          |  max(price) AS max_price
          |FROM ord_mm JOIN cust_mm USING (o_custkey)
          |GROUP BY c_mktsegment""".stripMargin)
      require(graft.lake.MvRewrite.hits.get() > before,
        "mv_join_minmax expected the extremum SELECT to be served from omm_mv")
      served.orderBy("c_mktsegment")
    },
    Some("""SELECT c_mktsegment, count(*) AS n,
        |  min(CAST(o_totalprice AS DOUBLE)) AS min_price,
        |  max(CAST(o_totalprice AS DOUBLE)) AS max_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderkey % 7 <> 0
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin))

  /** Partition-granular optimistic concurrency, end-to-end through
    * the store: a partition-scoped MERGE-style overwrite computed
    * from a pinned snapshot tolerates an append that landed in OTHER
    * partitions after the pin (logical conflict detection — Delta/
    * Iceberg partition-level granularity), while the final state
    * proves both writers' rows survived. Oracle: the deterministic
    * union of the replacement and the racer's rows. */
  val partitionDisjointWriters: Entry = Entry(
    "partition_disjoint_writers",
    (s, dir) => {
      val store = new TableStore(s, tmpDir("graft-djw"))
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast("double").as("price"))
      store.create("t", ord.where(col("o_orderstatus") =!= "P"), Seq("o_orderstatus"))
      val rs = store.currentVersion("t").get
      // writer A computes a replacement for partition o_orderstatus=F
      // from the pinned snapshot (drop keys % 3 = 0)
      val replacement = store.readVersion("t", rs)
        .where(col("o_orderstatus") === "F" && col("o_orderkey") % 3 =!= 0)
      // writer B appends partition P rows AFTER A's pin — disjoint
      store.append("t", ord.where(col("o_orderstatus") === "P"))
      // A's scoped overwrite still lands: B's files are outside F
      // disjointAddsOk: A's replacement was computed ONLY from
      // partition F of the pinned snapshot, so B's disjoint append
      // is provably outside A's read set — the exemption is sound
      store.overwritePartitions("t", replacement, Seq("o_orderstatus=F"),
        readSnapshot = Some(rs), disjointAddsOk = true, op = "MERGE")
      store.read("t")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), round(sum("price"), 2).as("sum_price"))
        .orderBy("o_orderstatus")
    },
    Some("""SELECT o_orderstatus, count(*) AS n,
        |  round(sum(CAST(o_totalprice AS DOUBLE)), 2) AS sum_price
        |FROM orders
        |WHERE o_orderstatus <> 'F' OR o_orderkey % 3 <> 0
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin))

  /** Plain DML through the SQL front door — the statements Spark
    * parses but cannot run on parquet tables without a v2 row-level
    * catalog: a conditional multi-assignment UPDATE (alias-qualified
    * references), then a DELETE whose predicate sees the updated
    * values. Each statement is one read → one atomic overwrite
    * commit; the oracle replays both as CASE projections. */
  val sqlDml: Entry = Entry(
    "sql_update_delete_dml",
    (s, dir) => {
      val store = new TableStore(s, tmpDir("graft-dml"))
      store.create("destd", t(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal"))
      GraftSql.execute(s, store,
        """UPDATE destd t
          |SET c_acctbal = t.c_acctbal + 500, c_name = upper(t.c_name)
          |WHERE t.c_acctbal < 0""".stripMargin)
      GraftSql.execute(s, store,
        "DELETE FROM destd WHERE c_acctbal > 8000")
        .select(col("c_custkey"), col("c_name"),
          col("c_acctbal").cast("decimal(18,2)").cast("double").as("bal"))
        .orderBy("c_custkey")
    },
    Some("""WITH updated AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_acctbal < 0 THEN upper(c_name)
        |         ELSE c_name END AS c_name,
        |    CASE WHEN c_acctbal < 0 THEN c_acctbal + 500
        |         ELSE c_acctbal END AS c_acctbal
        |  FROM customer)
        |SELECT c_custkey, c_name,
        |  CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS bal
        |FROM updated WHERE NOT c_acctbal > 8000
        |ORDER BY c_custkey""".stripMargin))

  /** Change data feed (TableStore.changes): a three-commit history —
    * create, append, then a merge-on-read CDC batch that inserts new
    * rows and equality-deletes the F-status rows — read back as
    * per-version insert/delete rows. The oracle rebuilds the feed with
    * set algebra over `orders`: the appended slice at v1, the deleted
    * slice and the new slice at v2. Append-only history reads ONLY the
    * range's new files (plus one delete-set filter per del commit);
    * nothing rescans the base table. */
  val tableChanges: Entry = Entry(
    "table_changes_feed",
    (s, dir) => {
      val store = new TableStore(s, tmpDir("graft-cdf"))
      val ord = t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_orderpriority")
      store.create("ofeed", ord.where(col("o_orderkey") % 4 === 0))
      store.append("ofeed", ord.where(col("o_orderkey") % 4 === 1))
      store.appendWithDeletes("ofeed",
        ord.where(col("o_orderkey") % 4 === 2),
        ord.where(col("o_orderkey") % 4 === 0 &&
          col("o_orderstatus") === "F").select("o_orderkey"))
      store.changes("ofeed", 0L, 2L)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("_change_type").as("change_type"),
          col("_commit_version").cast("long").as("commit_version"))
        .orderBy("o_orderkey", "change_type", "commit_version")
    },
    Some("""SELECT o_orderkey, o_orderstatus, change_type, commit_version
        |FROM (
        |  SELECT o_orderkey, o_orderstatus, 'insert' AS change_type,
        |         CAST(1 AS BIGINT) AS commit_version
        |  FROM orders WHERE o_orderkey % 4 = 1
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, 'delete', 2
        |  FROM orders WHERE o_orderkey % 4 = 0 AND o_orderstatus = 'F'
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, 'insert', 2
        |  FROM orders WHERE o_orderkey % 4 = 2)
        |ORDER BY o_orderkey, change_type, commit_version""".stripMargin))

  /** The whole SQL lifecycle of a store table through the GraftSql
    * front door — CTAS, INSERT, UPDATE, DELETE, a MERGE upsert, then
    * OPTIMIZE + VACUUM maintenance — seven statements, no DataFrame
    * API in sight. The oracle replays the same algebra over `nation`
    * (maintenance is content-neutral, so it shares the MERGE oracle). */
  val sqlScript: Entry = Entry(
    "sql_script_e2e",
    (s, dir) => {
      val store = new TableStore(s, tmpDir("graft-script"))
      t(s, dir, "nation").createOrReplaceTempView("nation_sc")
      // ONE script text, Glue-job shape: CTAS, DML, maintenance, and a
      // final SELECT that resolves the STORE table by name (the
      // per-statement temp-view hand-off)
      GraftSql.executeScript(s, store,
        """CREATE TABLE sc AS
          |SELECT n_nationkey AS k, n_name AS name, n_regionkey AS r
          |FROM nation_sc;
          |UPDATE sc SET name = concat(name, ';x') WHERE r = 2;
          |DELETE FROM sc WHERE k % 5 = 4;
          |OPTIMIZE sc;
          |SELECT k, name, r FROM sc ORDER BY k;""".stripMargin)
    },
    Some("""SELECT n_nationkey AS k,
        |  CASE WHEN n_regionkey = 2 THEN n_name || ';x' ELSE n_name END
        |    AS name,
        |  n_regionkey AS r
        |FROM nation WHERE NOT (n_nationkey % 5 = 4)
        |ORDER BY k""".stripMargin))

  /** Cross-table TRANSACTIONAL script ([[GraftSql.executeTransaction]]
    * — BEGIN stages every commit, COMMIT swings pointers last): a
    * "transfer" moves units between two tables derived from `nation`
    * and both sides land in one atomic publication; a failed statement
    * would unwind both (TransactionSpec proves the all-or-nothing
    * half). The oracle replays the same algebra — the final SELECT
    * unions both tables, so a half-applied state could never hash-
    * match. */
  val sqlTransaction: Entry = Entry(
    "sql_transaction_e2e",
    (s, dir) => {
      val store = new TableStore(s, tmpDir("graft-txn"))
      t(s, dir, "nation").createOrReplaceTempView("nation_tx")
      GraftSql.executeScript(s, store,
        """CREATE TABLE tx_a AS
          |SELECT n_nationkey AS k, CAST(100 AS BIGINT) AS bal
          |FROM nation_tx WHERE n_regionkey <= 1;
          |CREATE TABLE tx_b AS
          |SELECT n_nationkey AS k, CAST(10 AS BIGINT) AS bal
          |FROM nation_tx WHERE n_regionkey >= 2;
          |BEGIN;
          |UPDATE tx_a SET bal = bal - 25 WHERE k % 2 = 0;
          |UPDATE tx_b SET bal = bal + 25 WHERE k % 2 = 0;
          |COMMIT;
          |SELECT 'a' AS side, k, bal FROM tx_a
          |UNION ALL SELECT 'b' AS side, k, bal FROM tx_b
          |ORDER BY side, k;""".stripMargin)
    },
    Some("""SELECT 'a' AS side, n_nationkey AS k,
        |  CAST(CASE WHEN n_nationkey % 2 = 0 THEN 75 ELSE 100 END
        |    AS BIGINT) AS bal
        |FROM nation WHERE n_regionkey <= 1
        |UNION ALL
        |SELECT 'b' AS side, n_nationkey AS k,
        |  CAST(CASE WHEN n_nationkey % 2 = 0 THEN 35 ELSE 10 END
        |    AS BIGINT) AS bal
        |FROM nation WHERE n_regionkey >= 2
        |ORDER BY side, k""".stripMargin))

  val sqlLifecycle: Entry = Entry(
    "sql_lifecycle_e2e",
    (s, dir) => {
      val store = new TableStore(s, tmpDir("graft-lc"))
      t(s, dir, "nation").createOrReplaceTempView("nation_lc")
      def g(q: String) = GraftSql.execute(s, store, q)
      g("""CREATE TABLE lc AS
          |SELECT n_nationkey AS k, n_name AS name, n_regionkey AS r
          |FROM nation_lc""".stripMargin)
      g("""INSERT INTO lc
          |SELECT n_nationkey + 100, upper(n_name), n_regionkey
          |FROM nation_lc WHERE n_regionkey = 0""".stripMargin)
      g("UPDATE lc SET name = lower(name) WHERE r = 2")
      g("DELETE FROM lc WHERE k % 7 = 3")
      s.sql("""SELECT n_nationkey AS k, concat(n_name, '!') AS name,
              |       n_regionkey AS r
              |FROM nation_lc WHERE n_regionkey IN (1, 4)""".stripMargin)
        .createOrReplaceTempView("lc_updates")
      g("""MERGE INTO lc t USING lc_updates u ON t.k = u.k
          |WHEN MATCHED THEN UPDATE SET name = u.name
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      // maintenance must be content-neutral: OPTIMIZE folds the five
      // commits' small files, VACUUM drops the superseded snapshots —
      // the oracle proving both statements preserve every row
      g("OPTIMIZE lc")
      g("VACUUM lc RETAIN 1 VERSIONS")
      // the quickstart's most obvious line: a bare SELECT through
      // single-statement execute resolves the store table by name
      g("SELECT k, name, r FROM lc ORDER BY k")
    },
    Some("""WITH base AS (
        |  SELECT n_nationkey AS k, n_name AS name, n_regionkey AS r
        |  FROM nation),
        |added AS (
        |  SELECT n_nationkey + 100 AS k, upper(n_name) AS name,
        |         n_regionkey AS r
        |  FROM nation WHERE n_regionkey = 0),
        |t0 AS (SELECT * FROM base UNION ALL SELECT * FROM added),
        |t1 AS (SELECT k, CASE WHEN r = 2 THEN lower(name) ELSE name END
        |         AS name, r FROM t0),
        |t2 AS (SELECT * FROM t1 WHERE NOT (k % 7 = 3)),
        |upd AS (
        |  SELECT n_nationkey AS k, n_name || '!' AS name, n_regionkey AS r
        |  FROM nation WHERE n_regionkey IN (1, 4)),
        |merged AS (
        |  SELECT t2.k,
        |    CASE WHEN upd.k IS NOT NULL THEN upd.name ELSE t2.name END AS name,
        |    t2.r
        |  FROM t2 LEFT JOIN upd ON t2.k = upd.k
        |  UNION ALL
        |  SELECT k, name, r FROM upd
        |  WHERE k NOT IN (SELECT k FROM t2))
        |SELECT k, name, r FROM merged ORDER BY k""".stripMargin))

  /** Write-side expectations with QUARANTINE routing
    * ([[graft.lake.Expectations]], the DLT shape): rows failing any
    * rule land in `<table>_quarantine` tagged with the failed rule
    * names, clean rows commit — no abort, no silent drop. The report
    * reads BOTH tables back: accepted aggregate + per-rule quarantine
    * counts (a row failing two rules counts under each). Both rules
    * are violated at every fixture SF, so the per-rule rows exist on
    * both sides of the compare. */
  val dqQuarantine: Entry = Entry(
    "dq_quarantine_ingest",
    (s, dir) => {
      import graft.lake.Expectations
      val store = new TableStore(s, tmpDir("graft-dqq"))
      val cust = t(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
      Expectations.ingest(store, "cust_dq", cust, Seq(
        Expectations.Rule("acctbal_nonneg", col("c_acctbal") >= 0),
        Expectations.Rule("custkey_not_mod97", col("c_custkey") % 97 =!= 0)))
      val acc = store.read("cust_dq")
        .agg(count(lit(1)).as("n"),
          round(sum(col("c_acctbal").cast("decimal(18,2)")).cast("double"), 2)
            .as("val"))
        .select(lit("accepted").as("bucket"), lit("all").as("rule"),
          col("n"), col("val"))
      val quar = store.read("cust_dq_quarantine")
        .select(explode(col("failed_rules")).as("rule"))
        .groupBy("rule").agg(count(lit(1)).as("n"))
        .select(lit("quarantine").as("bucket"), col("rule"), col("n"),
          lit(null).cast("double").as("val"))
      acc.unionByName(quar).orderBy("bucket", "rule")
    },
    Some("""WITH tagged AS (
        |  SELECT c_custkey, c_acctbal,
        |    (c_acctbal >= 0) AS r1, (c_custkey % 97 <> 0) AS r2
        |  FROM customer)
        |SELECT 'accepted' AS bucket, 'all' AS rule, count(*) AS n,
        |  round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2) AS val
        |FROM tagged WHERE r1 AND r2
        |UNION ALL
        |SELECT 'quarantine', 'acctbal_nonneg', count(*), NULL
        |FROM tagged WHERE NOT r1
        |UNION ALL
        |SELECT 'quarantine', 'custkey_not_mod97', count(*), NULL
        |FROM tagged WHERE NOT r2
        |ORDER BY bucket, rule""".stripMargin))

  /** Read-time data-quality audit — the deequ/dbt-tests shape that
    * complements the store's write-time CHECK constraints: each rule
    * is one conditional aggregate (null fraction, range violation,
    * set membership) or one broadcast anti-join (referential
    * orphans), all fused into single passes per table — auditing
    * 100 TB costs the scans, never a shuffle per rule. */
  val dqAudit: Entry = Entry(
    "dq_audit_report",
    (s, dir) => {
      // fully LAZY: three 1-row aggregates cross-joined, exploded to
      // the report rows — no driver-side action at plan-construction
      // time, so plan sweeps and dumps see (and don't execute) it
      val li = t(s, dir, "lineitem")
      val liAgg = li.agg(
        count(lit(1)).as("li_n"),
        sum(col("l_quantity").isNull.cast("long")).as("null_qty"),
        sum((col("l_discount") < 0 || col("l_discount") > 1).cast("long"))
          .as("bad_discount"),
        sum((!col("l_returnflag").isin("A", "N", "R")).cast("long"))
          .as("bad_flag"))
      val orph = li.join(t(s, dir, "orders").select("o_orderkey"),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("orphans"))
      val oAgg = t(s, dir, "orders").agg(
        count(lit(1)).as("o_n"),
        sum((col("o_totalprice") <= 0).cast("long")).as("bad_price"))
      def rule(tbl: String, name: String, viol: Column, n: Column) =
        struct(lit(tbl).as("table_name"), lit(name).as("rule"),
          viol.as("violations"), n.as("n_rows"))
      liAgg.crossJoin(broadcast(orph)).crossJoin(broadcast(oAgg))
        .select(explode(array(
          rule("lineitem", "null_quantity", col("null_qty"), col("li_n")),
          rule("lineitem", "discount_in_[0,1]", col("bad_discount"),
            col("li_n")),
          rule("lineitem", "returnflag_in_set", col("bad_flag"), col("li_n")),
          rule("lineitem", "orderkey_fk_orders", col("orphans"), col("li_n")),
          rule("orders", "positive_totalprice", col("bad_price"),
            col("o_n")))).as("r"))
        .select("r.*")
        .orderBy("table_name", "rule")
    },
    Some("""WITH li AS (
        |  SELECT count(*) AS n,
        |    CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS null_qty,
        |    CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1
        |             THEN 1 ELSE 0 END) AS BIGINT) AS bad_discount,
        |    CAST(sum(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R')
        |             THEN 1 ELSE 0 END) AS BIGINT) AS bad_flag
        |  FROM lineitem),
        |orph AS (
        |  SELECT count(*) AS c FROM lineitem
        |  WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)),
        |o AS (
        |  SELECT count(*) AS n,
        |    CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS bad_price
        |  FROM orders)
        |SELECT * FROM (
        |  SELECT 'lineitem' AS table_name, 'null_quantity' AS rule,
        |         null_qty AS violations, n AS n_rows FROM li
        |  UNION ALL
        |  SELECT 'lineitem', 'discount_in_[0,1]', bad_discount, n FROM li
        |  UNION ALL
        |  SELECT 'lineitem', 'returnflag_in_set', bad_flag, n FROM li
        |  UNION ALL
        |  SELECT 'lineitem', 'orderkey_fk_orders', orph.c, li.n FROM orph, li
        |  UNION ALL
        |  SELECT 'orders', 'positive_totalprice', bad_price, n FROM o)
        |ORDER BY table_name, rule""".stripMargin))

  /** In-place table adoption (CONVERT TO GRAFT): a foreign
    * hive-partitioned parquet dataset becomes a store table as PURE
    * METADATA — the manifest references the existing files, nothing
    * rewrites — and the full lifecycle (append, read with partition
    * pruning) runs on top. The oracle is plain algebra over nation. */
  val convertInPlace: Entry = Entry(
    "convert_in_place",
    (s, dir) => {
      val root = tmpDir("graft-cv")
      val store = new TableStore(s, root)
      t(s, dir, "nation").createOrReplaceTempView("nation_cv")
      t(s, dir, "nation")
        .select(col("n_nationkey").as("k"), col("n_name").as("name"),
          col("n_regionkey").as("r"))
        .write.partitionBy("r").parquet(s"$root/cv")
      GraftSql.execute(s, store, "CONVERT TO GRAFT cv")
      GraftSql.execute(s, store,
        """INSERT INTO cv
          |SELECT n_nationkey + 100, lower(n_name), n_regionkey
          |FROM nation_cv WHERE n_regionkey = 2""".stripMargin)
      store.read("cv").select(col("k"), col("name"), col("r").cast("int").as("r"))
        .orderBy("k")
    },
    Some("""SELECT n_nationkey AS k, n_name AS name,
        |       CAST(n_regionkey AS INT) AS r FROM nation
        |UNION ALL
        |SELECT n_nationkey + 100, lower(n_name), CAST(n_regionkey AS INT)
        |FROM nation WHERE n_regionkey = 2
        |ORDER BY k""".stripMargin))

  /** Time-travel WRITE surfaces through the SQL front door: RESTORE
    * rolls a mutated table back to version 0 as an O(1) metadata
    * commit (undoing a DELETE), and SHALLOW CLONE forks a zero-copy
    * table that then diverges independently with an INSERT. The final
    * clone content is pure relational algebra over `nation`, so the
    * oracle needs no notion of versions at all. */
  val sqlRestoreClone: Entry = Entry(
    "sql_restore_clone",
    (s, dir) => {
      val store = new TableStore(s, tmpDir("graft-rc"))
      t(s, dir, "nation").createOrReplaceTempView("nation_rc")
      def g(q: String) = GraftSql.execute(s, store, q)
      g("""CREATE TABLE rc AS
          |SELECT n_nationkey AS k, n_name AS name FROM nation_rc""".stripMargin)
      g("DELETE FROM rc WHERE k % 2 = 0")
      g("RESTORE TABLE rc TO VERSION AS OF 0") // the DELETE is undone
      g("CREATE TABLE rc2 SHALLOW CLONE rc")
      g("""INSERT INTO rc2
          |SELECT n_nationkey + 100, upper(n_name)
          |FROM nation_rc WHERE n_regionkey = 1""".stripMargin)
      store.read("rc2").orderBy("k")
    },
    Some("""SELECT n_nationkey AS k, n_name AS name FROM nation
        |UNION ALL
        |SELECT n_nationkey + 100 AS k, upper(n_name) AS name
        |FROM nation WHERE n_regionkey = 1
        |ORDER BY k""".stripMargin))

  /** Time-travel READ through the SQL front door: the same table at
    * TWO pinned versions in ONE statement — the version-over-version
    * diff auditors actually run ("what changed since the snapshot?").
    * v0 = even customers, v1 = an UPDATE bumps every %10 balance,
    * v2 = an INSERT adds odd %7 customers; the SELECT left-joins
    * `VERSION AS OF 2` against `VERSION AS OF 0` and keeps new or
    * changed rows. Pinning a snapshot is O(manifest) metadata — the
    * oracle replays the same algebra over `customer` with no notion
    * of versions. */
  val sqlTimeTravelDiff: Entry = Entry(
    "sql_time_travel_diff",
    (s, dir) => {
      val store = new TableStore(s, tmpDir("graft-ttd"))
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_acctbal").cast("decimal(18,2)").as("bal"))
      store.create("cust_ttd", cust.where(col("c_custkey") % 2 === 0))
      def g(q: String) = GraftSql.execute(s, store, q)
      g("UPDATE cust_ttd SET bal = bal + 100 WHERE c_custkey % 10 = 0")
      cust.where(col("c_custkey") % 2 === 1 && col("c_custkey") % 7 === 0)
        .createOrReplaceTempView("cust_ttd_newrows")
      g("INSERT INTO cust_ttd SELECT c_custkey, bal FROM cust_ttd_newrows")
      g("""SELECT b.c_custkey, CAST(a.bal AS DOUBLE) AS bal_old,
          |       CAST(b.bal AS DOUBLE) AS bal_new
          |FROM cust_ttd VERSION AS OF 2 AS b
          |LEFT JOIN cust_ttd VERSION AS OF 0 AS a ON a.c_custkey = b.c_custkey
          |WHERE a.c_custkey IS NULL OR a.bal <> b.bal
          |ORDER BY b.c_custkey""".stripMargin)
    },
    Some("""WITH v0 AS (
        |  SELECT c_custkey, CAST(c_acctbal AS DECIMAL(18,2)) AS bal
        |  FROM customer WHERE c_custkey % 2 = 0),
        |v2 AS (
        |  SELECT c_custkey,
        |         bal + CASE WHEN c_custkey % 10 = 0 THEN 100 ELSE 0 END AS bal
        |  FROM v0
        |  UNION ALL
        |  SELECT c_custkey, CAST(c_acctbal AS DECIMAL(18,2)) AS bal
        |  FROM customer WHERE c_custkey % 2 = 1 AND c_custkey % 7 = 0)
        |SELECT v2.c_custkey, CAST(v0.bal AS DOUBLE) AS bal_old,
        |       CAST(v2.bal AS DOUBLE) AS bal_new
        |FROM v2 LEFT JOIN v0 ON v0.c_custkey = v2.c_custkey
        |WHERE v0.c_custkey IS NULL OR v0.bal <> v2.bal
        |ORDER BY v2.c_custkey""".stripMargin))

  /** Schema evolution past ADD COLUMNS: RENAME and DROP COLUMN as
    * pure metadata commits (Delta-style name mapping in the manifest
    * header — files never rewrite; readers map physical→logical,
    * writers logical→physical). The query renames + drops via SQL,
    * then APPENDS in the new logical schema — so the final read mixes
    * pre-rename files (physical names) with post-rename files, the
    * case that breaks naive union-by-name. Oracle: the same algebra
    * over `nation` under the final names. */
  val sqlColumnMapping: Entry = Entry(
    "sql_column_mapping",
    (s, dir) => {
      val store = new TableStore(s, tmpDir("graft-cm"))
      t(s, dir, "nation").createOrReplaceTempView("nation_cm")
      def g(q: String) = GraftSql.execute(s, store, q)
      g("""CREATE TABLE ncm AS
          |SELECT n_nationkey AS k, n_name AS name, n_regionkey AS r,
          |       upper(n_name) AS note FROM nation_cm""".stripMargin)
      g("ALTER TABLE ncm RENAME COLUMN name TO nation_name")
      g("ALTER TABLE ncm DROP COLUMN note")
      g("""INSERT INTO ncm
          |SELECT n_nationkey + 100, lower(n_name), n_regionkey
          |FROM nation_cm WHERE n_regionkey = 0""".stripMargin)
      store.read("ncm")
        .select(col("k"), col("nation_name"), col("r").cast("int").as("r"))
        .orderBy("k")
    },
    Some("""SELECT n_nationkey AS k, n_name AS nation_name,
        |       CAST(n_regionkey AS INT) AS r FROM nation
        |UNION ALL
        |SELECT n_nationkey + 100, lower(n_name), CAST(n_regionkey AS INT)
        |FROM nation WHERE n_regionkey = 0
        |ORDER BY k""".stripMargin))

  /** Downstream consumption of the change feed: a per-status aggregate
    * table is refreshed purely from `changes()` — inserts add,
    * deletes subtract (count + order-free DECIMAL sum), one full-outer
    * join over O(delta groups). The base table is NEVER rescanned
    * after the initial build; that is the 100 TB contract a CDF
    * exists for. Oracle: the from-scratch aggregate over the final
    * row set — the incrementally-maintained table must equal it. */
  val cdfAggregate: Entry = Entry(
    "cdf_incremental_aggregate",
    (s, dir) => {
      val store = new TableStore(s, tmpDir("graft-cdfagg"))
      val ord = t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      store.create("ocdf", ord.where(col("o_orderkey") % 3 === 0))
      store.create("oagg", store.read("ocdf").groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).as("total")))
      // one CDC batch: insert the %3==1 slice, delete the %5 keys
      store.appendWithDeletes("ocdf",
        ord.where(col("o_orderkey") % 3 === 1),
        ord.where(col("o_orderkey") % 3 === 0 &&
          col("o_orderkey") % 5 === 0).select("o_orderkey"))
      val sign = when(col("_change_type") === "insert", 1).otherwise(-1)
      val delta = store.changes("ocdf", 0L, 1L)
        .groupBy("o_orderstatus")
        .agg(sum(sign.cast("long")).as("dn"),
          sum((sign * col("o_totalprice")).cast("decimal(18,2)")).as("dtotal"))
      val zero = lit(0).cast("decimal(18,2)")
      val refreshed = store.read("oagg")
        .join(delta, Seq("o_orderstatus"), "full_outer")
        .select(col("o_orderstatus"),
          (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
          (coalesce(col("total"), zero) + coalesce(col("dtotal"), zero))
            .as("total"))
        .where(col("n") > 0)
      store.overwrite("oagg", refreshed)
      store.read("oagg")
        .select(col("o_orderstatus"), col("n"),
          col("total").cast("double").as("total"))
        .orderBy("o_orderstatus")
    },
    Some("""WITH final AS (
        |  SELECT o_orderstatus, o_totalprice FROM orders
        |  WHERE o_orderkey % 3 = 0 AND o_orderkey % 5 <> 0
        |  UNION ALL
        |  SELECT o_orderstatus, o_totalprice FROM orders
        |  WHERE o_orderkey % 3 = 1)
        |SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM final GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin))

  /** Partition evolution end-to-end: a customer slice created
    * hive-partitioned on c_mktsegment, evolved (metadata-only, no
    * rewrite) to partition NEW writes on c_nationkey, a second-era
    * append through the SQL front door, then a compact folding both
    * eras into the current layout. Content is layout-invariant — the
    * oracle is plain set algebra over `customer` — while what the
    * query actually proves is the mixed-era read (one era's dir
    * column is the other's file data, aligned by the per-group
    * basePath read) and the fold. At 100 TB the evolution itself
    * costs one metadata commit; the rewrite happens only when
    * maintenance chooses to. */
  val partitionEvolution: Entry = Entry(
    "partition_evolution_e2e",
    (s, dir) => {
      val store = new TableStore(s, tmpDir("graft-pevo"))
      val c = t(s, dir, "customer")
        .select("c_custkey", "c_mktsegment", "c_nationkey", "c_acctbal")
      store.create("cust", c.where(col("c_custkey") % 3 === 0),
        partitionBy = Seq("c_mktsegment"))
      GraftSql.execute(s, store,
        "ALTER TABLE cust SET PARTITIONED BY (c_nationkey)")
      store.append("cust", c.where(col("c_custkey") % 3 === 1))
      store.compact("cust")
      store.read("cust")
        .groupBy("c_mktsegment", "c_nationkey")
        .agg(count(lit(1)).as("n"), round(sum("c_acctbal"), 2).as("bal"))
        .select(col("c_mktsegment"),
          col("c_nationkey").cast("long").as("c_nationkey"),
          col("n"), col("bal"))
        .orderBy("c_mktsegment", "c_nationkey")
    },
    Some("""SELECT c_mktsegment, CAST(c_nationkey AS BIGINT) AS c_nationkey,
        |  count(*) AS n, round(sum(c_acctbal), 2) AS bal
        |FROM customer WHERE c_custkey % 3 IN (0, 1)
        |GROUP BY c_mktsegment, c_nationkey
        |ORDER BY c_mktsegment, c_nationkey""".stripMargin))

  /** The INSERT front door (GraftSql): positional INSERT INTO append,
    * then a partition-scoped INSERT OVERWRITE that replaces ONE hive
    * partition while every other partition's files are carried by
    * reference — the O(touched) commit a daily re-load needs at
    * 100 TB. Oracle = the same set algebra in plain SQL: the final
    * table is (base minus the overwritten partition) ∪ the appended
    * rows ∪ the partition's replacement rows. */
  val sqlInsert: Entry = Entry(
    "sql_insert_dml",
    (s, dir) => {
      val store = new TableStore(s, tmpDir("graft-ins"))
      val nation = t(s, dir, "nation")
      nation.createOrReplaceTempView("nation_src")
      store.create("nat_ins",
        nation.where(col("n_regionkey") =!= 1)
          .select("n_nationkey", "n_name", "n_regionkey"),
        partitionBy = Seq("n_regionkey"))
      GraftSql.execute(s, store,
        """INSERT INTO nat_ins
          |SELECT n_nationkey + 100, upper(n_name), n_regionkey
          |FROM nation_src WHERE n_regionkey = 2""".stripMargin)
      GraftSql.execute(s, store,
        """INSERT OVERWRITE nat_ins PARTITION (n_regionkey = 3)
          |SELECT n_nationkey + 1000, lower(n_name)
          |FROM nation_src WHERE n_regionkey = 3""".stripMargin)
        .select(col("n_nationkey").cast("int").as("n_nationkey"),
          col("n_name"), col("n_regionkey").cast("int").as("n_regionkey"))
        .orderBy("n_nationkey")
    },
    Some("""WITH base AS (
        |  SELECT n_nationkey, n_name, n_regionkey FROM nation
        |  WHERE n_regionkey <> 1),
        |added AS (
        |  SELECT n_nationkey + 100 AS n_nationkey, upper(n_name) AS n_name,
        |         n_regionkey
        |  FROM nation WHERE n_regionkey = 2),
        |over3 AS (
        |  SELECT n_nationkey + 1000 AS n_nationkey, lower(n_name) AS n_name,
        |         3 AS n_regionkey
        |  FROM nation WHERE n_regionkey = 3)
        |SELECT CAST(n_nationkey AS INTEGER) AS n_nationkey, n_name,
        |       CAST(n_regionkey AS INTEGER) AS n_regionkey
        |FROM (
        |  SELECT * FROM base WHERE n_regionkey <> 3
        |  UNION ALL SELECT * FROM added
        |  UNION ALL SELECT * FROM over3)
        |ORDER BY n_nationkey""".stripMargin))

  /** Source/sink format breadth: the nation dimension round-trips
    * through JSON, CSV, ORC and XML (Spark 4 native; write, then
    * schema'd read back — ORC carries its own schema), and all
    * copies aggregate identically to the oracle's parquet-derived
    * values — proving the non-parquet IO paths are lossless for the
    * dimension types (long/string). A DynamicFrame-style pipeline
    * reads landing files in whatever format they arrive; this pins
    * that surface. */
  val formatRoundtrip: Entry = Entry(
    "format_roundtrip_sources",
    (s, dir) => {
      val nation = t(s, dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
      val base = tmpDir("graft-fmt")
      nation.coalesce(1).write.mode("overwrite").json(s"$base/j")
      nation.coalesce(1).write.mode("overwrite")
        .option("header", "true").csv(s"$base/c")
      nation.coalesce(1).write.mode("overwrite").orc(s"$base/o")
      nation.coalesce(1).write.mode("overwrite")
        .option("rowTag", "nation").xml(s"$base/x")
      val j = s.read.schema(nation.schema).json(s"$base/j")
        .withColumn("fmt", lit("json"))
      val c = s.read.schema(nation.schema).option("header", "true")
        .csv(s"$base/c").withColumn("fmt", lit("csv"))
      val o = s.read.orc(s"$base/o").withColumn("fmt", lit("orc"))
      val x = s.read.schema(nation.schema).option("rowTag", "nation")
        .xml(s"$base/x").withColumn("fmt", lit("xml"))
      j.unionByName(c).unionByName(o).unionByName(x).groupBy("fmt")
        .agg(count(lit(1)).as("n"),
          sum(col("n_nationkey").cast("long")).as("key_sum"),
          min("n_name").as("first_name"),
          countDistinct("n_regionkey").as("n_regions"))
        .orderBy("fmt")
    },
    Some("""SELECT fmt, count(*) AS n,
        |  CAST(sum(n_nationkey) AS BIGINT) AS key_sum,
        |  min(n_name) AS first_name,
        |  CAST(count(DISTINCT n_regionkey) AS BIGINT) AS n_regions
        |FROM (VALUES ('csv'), ('json'), ('orc'), ('xml')) f(fmt), nation
        |GROUP BY fmt ORDER BY fmt""".stripMargin))

  /** Exact global percentiles by distributed rank selection: the
    * scalable alternative to a single `percentile` aggregate when the
    * exact order statistic (not an interpolation) is wanted —
    * [[graft.ops.Ranking.globalRowNumber]] range-partitions the sort,
    * then the rows at ranks ceil(p·N) are picked by a broadcast join
    * against the three target ranks. No single-reducer stage. */
  val exactPercentiles: Entry = Entry(
    "exact_percentiles_rank",
    (s, dir) => {
      import s.implicits._
      val li = t(s, dir, "lineitem")
        .select(col("l_extendedprice").as("price"),
          col("l_orderkey"), col("l_linenumber"))
      // the ranked frame's offset counts already know N — no separate
      // count job over the fact table
      val (ranked, n) = graft.ops.Ranking
        .globalRowNumberWithTotal(li,
          Seq(col("price"), col("l_orderkey"), col("l_linenumber")), "r")
      val targets = Seq("p50" -> 50L, "p90" -> 90L, "p99" -> 99L)
        .map { case (lbl, p) => (lbl, (n * p + 99) / 100) }
        .toDF("pctl", "r")
      ranked
        .join(broadcast(targets), "r")
        .select("pctl", "r", "price")
        .orderBy("pctl")
    },
    Some("""WITH li AS (
        |  SELECT l_extendedprice AS price, l_orderkey, l_linenumber
        |  FROM lineitem),
        |rk AS (
        |  SELECT price, row_number() OVER (
        |    ORDER BY price, l_orderkey, l_linenumber) AS r
        |  FROM li),
        |n AS (SELECT count(*) AS n FROM li),
        |t(pctl, p) AS (VALUES ('p50', 50), ('p90', 90), ('p99', 99))
        |SELECT t.pctl, rk.r, rk.price
        |FROM t JOIN n ON TRUE JOIN rk ON rk.r = (n.n * t.p + 99) // 100
        |ORDER BY t.pctl""".stripMargin))

  /** Exact PER-GROUP percentiles by grouped rank selection
    * ([[graft.ops.Ranking.groupedRowNumber]]): the few-heavy-groups
    * case (3 return flags × a third of the fact table each) where
    * `Window.partitionBy(group)` would put each group's whole frame on
    * ONE reducer. The grouped rank range-partitions on (group, value)
    * so a group spans many partitions; target ranks ceil(p·N_g) come
    * from a per-group count joined against three percentile labels. */
  val groupedPercentiles: Entry = Entry(
    "grouped_percentiles_exact",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice").as("price"),
          col("l_orderkey"), col("l_linenumber"))
      val ranked = graft.ops.Ranking.groupedRowNumber(li,
        Seq("l_returnflag"),
        Seq(col("price"), col("l_orderkey"), col("l_linenumber")), "r")
      val targets = li.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"))
        .select(col("l_returnflag"), explode(array(
          Seq(("p50", 50), ("p90", 90), ("p99", 99)).map { case (lbl, p) =>
            struct(lit(lbl).as("pctl"),
              expr(s"(n * $p + 99) div 100").as("r"))
          }: _*)).as("t"))
        .select(col("l_returnflag"), col("t.pctl"), col("t.r"))
      ranked.join(broadcast(targets), Seq("l_returnflag", "r"))
        .select("l_returnflag", "pctl", "r", "price")
        .orderBy("l_returnflag", "pctl")
    },
    Some("""WITH li AS (
        |  SELECT l_returnflag, l_extendedprice AS price,
        |         l_orderkey, l_linenumber
        |  FROM lineitem),
        |rk AS (
        |  SELECT l_returnflag, price, row_number() OVER (
        |    PARTITION BY l_returnflag
        |    ORDER BY price, l_orderkey, l_linenumber) AS r
        |  FROM li),
        |n AS (SELECT l_returnflag, count(*) AS n FROM li
        |      GROUP BY l_returnflag),
        |t(pctl, p) AS (VALUES ('p50', 50), ('p90', 90), ('p99', 99))
        |SELECT rk.l_returnflag, t.pctl, rk.r, rk.price
        |FROM n JOIN t ON TRUE
        |JOIN rk ON rk.l_returnflag = n.l_returnflag
        |       AND rk.r = (n.n * t.p + 99) // 100
        |ORDER BY rk.l_returnflag, t.pctl""".stripMargin))

  /** TPC-H Q7 shape: two-nation volume shipping — multiway join with a
    * disjunctive cross-nation predicate + year bucketing. */
  val q7VolumeShipping: Entry = Entry(
    "q7_volume_shipping",
    (s, dir) => {
      val n1 = t(s, dir, "nation").select(col("n_nationkey").as("sk"),
        col("n_name").as("supp_nation"))
      val n2 = t(s, dir, "nation").select(col("n_nationkey").as("ck"),
        col("n_name").as("cust_nation"))
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), col("s_nationkey") === col("sk"))
        .join(broadcast(n2), col("c_nationkey") === col("ck"))
        .where((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("revenue"), count(lit(1)).as("n"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    },
    Some("""SELECT supp_nation, cust_nation, l_year,
        |  round(sum(volume), 4) AS revenue, count(*) AS n
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |         year(l_shipdate) AS l_year,
        |         l_extendedprice * (1 - l_discount) AS volume
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |     OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin))

  /** TPC-H Q9 shape: product profit by nation and year (5-way join,
    * arithmetic over two fact columns, substring filter on part name). */
  val q9ProductProfit: Entry = Entry(
    "q9_product_profit",
    (s, dir) => t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
      .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .where(col("p_name").contains("a"))
      .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) -
        col("p_retailprice") * col("l_quantity") * 0.1), 4).as("profit"))
      .orderBy(col("nation"), col("o_year").desc),
    Some("""SELECT n_name AS nation, year(o_orderdate) AS o_year,
        |  round(sum(l_extendedprice * (1 - l_discount)
        |        - p_retailprice * l_quantity * 0.1), 4) AS profit
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%a%'
        |GROUP BY n_name, year(o_orderdate)
        |ORDER BY nation, o_year DESC""".stripMargin))

  /** TPC-H Q8 shape: market-share fraction (conditional sum over total
    * sum) per year for one nation within one region's PROMO-part trade. */
  val q8MarketShare: Entry = Entry(
    "q8_market_share",
    (s, dir) => {
      val widgetParts = t(s, dir, "part").where(col("p_type") === "PROMO")
        .select("p_partkey")
      val asiaNations = t(s, dir, "nation")
        .join(broadcast(t(s, dir, "region").where(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("cnk"))
      val supNation = t(s, dir, "nation")
        .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))
      t(s, dir, "lineitem")
        .join(broadcast(widgetParts), col("l_partkey") === col("p_partkey"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(asiaNations), col("c_nationkey") === col("cnk"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(supNation), col("s_nationkey") === col("snk"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(round(
          sum(when(col("supp_nation") === "NATION_1",
            col("l_extendedprice") * (lit(1) - col("l_discount"))).otherwise(0.0)) /
            sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 6)
          .as("mkt_share"))
        .orderBy("o_year")
    },
    Some("""SELECT year(o_orderdate) AS o_year,
        |  round(sum(CASE WHEN n2.n_name = 'NATION_1'
        |            THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
        |        / sum(l_extendedprice * (1 - l_discount)), 6) AS mkt_share
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |JOIN region ON n1.n_regionkey = r_regionkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |WHERE p_type = 'PROMO' AND r_name = 'ASIA'
        |GROUP BY o_year ORDER BY o_year""".stripMargin))

  /** TPC-H Q10 shape: revenue lost to returned items per customer,
    * top 20. */
  val q10ReturnedItems: Entry = Entry(
    "q10_returned_items",
    (s, dir) => t(s, dir, "lineitem").where(col("l_returnflag") === "R")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "n_name")
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20),
    Some("""SELECT c_custkey, c_name, n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin))

  /** UNPIVOT/melt (§2.6 reshape breadth, inverse of the pivot in
    * events_pivot_type_counts): lineitem's four measure columns melt
    * into (metric, v) rows via Spark's native unpivot — a narrow
    * per-row expansion (no shuffle until the 4-group aggregate), so it
    * scales as a pure map stage. Oracle replays as UNION ALL. */
  val unpivotMeasures: Entry = Entry(
    "unpivot_lineitem_measures",
    (s, dir) => t(s, dir, "lineitem")
      .unpivot(
        ids = Array(col("l_orderkey"), col("l_linenumber")),
        values = Array(col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax")),
        variableColumnName = "metric", valueColumnName = "v")
      .groupBy("metric")
      .agg(count(lit(1)).as("n"), round(sum("v"), 2).as("sum_v"),
        round(avg("v"), 4).as("avg_v"))
      .orderBy("metric"),
    Some("""SELECT metric, count(*) AS n, round(sum(v), 2) AS sum_v,
        |  round(avg(v), 4) AS avg_v
        |FROM (
        |  SELECT 'l_quantity' AS metric, l_quantity AS v FROM lineitem
        |  UNION ALL
        |  SELECT 'l_extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL
        |  SELECT 'l_discount', l_discount FROM lineitem
        |  UNION ALL
        |  SELECT 'l_tax', l_tax FROM lineitem)
        |GROUP BY metric ORDER BY metric""".stripMargin))

  // Build-once / serve-many split (round 15 — BASELINE.md's open
  // bench item; same rationale as VectorQueries' serve entries): the
  // MV lifecycle queries re-run create+mutate+refresh inside every
  // timed rep, so the SERVE path (the rewrite-routed dashboard read)
  // is invisible under lifecycle noise. This store is prebuilt once
  // per (process, sf dir) with mv_query_rewrite's exact lifecycle —
  // same source slices, same MoR delete, same refresh — and the timed
  // query is only the rewrite-served SELECT. Build amortization, not
  // result caching: the prebuild computes from parquet inside this
  // run, and the timed read still scans the stored view and
  // re-aggregates.
  private val mvServeRoots =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def mvServeStore(s: org.apache.spark.sql.SparkSession,
                           dir: String): TableStore = {
    val root = mvServeRoots.computeIfAbsent(dir, _ => {
      val r = tmpDir("graft-mvserve")
      val store = new TableStore(s, r)
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_returnflag"), col("l_linestatus"),
          col("l_quantity").as("qty"), col("l_extendedprice").as("price"))
      store.create("li_rw", li.where(col("l_orderkey") % 3 =!= 0))
      GraftSql.execute(s, store,
        """CREATE MATERIALIZED VIEW li_rw_mv AS
          |SELECT l_returnflag, l_linestatus, count(*), sum(qty),
          |  avg(qty), min(price), max(price)
          |FROM li_rw GROUP BY l_returnflag, l_linestatus""".stripMargin)
      store.append("li_rw", li.where(col("l_orderkey") % 3 === 0))
      store.appendWithDeletes("li_rw", li.limit(0),
        deleteKeys = li.select("l_orderkey")
          .where(col("l_orderkey") % 7 === 0).distinct())
      GraftSql.execute(s, store, "REFRESH MATERIALIZED VIEW li_rw_mv")
      r
    })
    new TableStore(s, root)
  }

  /** SERVE-ONLY MV rewrite read — mv_query_rewrite's dashboard SELECT
    * against the per-run prebuilt source+view: what the front door
    * pays per query once the view is maintained. Same routing check
    * (must be view-served), same from-scratch oracle. */
  val mvServeRewrite: Entry = Entry(
    "mv_serve_rewrite",
    (s, dir) => {
      val store = mvServeStore(s, dir)
      val before = graft.lake.MvRewrite.hits.get()
      val served = GraftSql.execute(s, store,
        """SELECT l_returnflag, count(*) AS n, count(qty) AS nq,
          |  sum(qty) AS sum_qty, avg(qty) AS avg_qty,
          |  min(price) AS min_price, max(price) AS max_price
          |FROM li_rw WHERE l_linestatus = 'F'
          |GROUP BY l_returnflag""".stripMargin)
      require(graft.lake.MvRewrite.hits.get() > before,
        "mv_serve_rewrite expected the SELECT to be served from li_rw_mv")
      served.orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag, count(*) AS n, count(l_quantity) AS nq,
        |  sum(l_quantity) AS sum_qty,
        |  CAST(sum(l_quantity) / count(l_quantity) AS DOUBLE) AS avg_qty,
        |  min(l_extendedprice) AS min_price,
        |  max(l_extendedprice) AS max_price
        |FROM lineitem WHERE l_orderkey % 7 <> 0 AND l_linestatus = 'F'
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin))

  val entries: Seq[Entry] = Seq(cdcPipelineE2e, cdcPipelineE2eMor,
    cdcPipelineE2eDv, unpivotMeasures,
    timeTravel, externalDdl, topkTyped, skewSaltedAgg, skewSaltedJoin,
    zorderScan, statsPrunedScan, analyzeTableStats,
    nullPrunedScan, bloomPointLookup, bloomAutoLookup, scd2Incremental,
    q6Forecast, q4OrderPriority, statsNumeric, mergeSqlDelete,
    mergeSqlConditional, mergeSqlUpdate, mergeSqlFullSync, mergeSqlEvolving,
    mergeStructEvolving, copyIntoIdempotent, copyIntoEvolving,
    sqlDml,
    sqlInsert, sqlLifecycle, sqlScript, sqlTransaction, sqlRestoreClone,
    sqlTimeTravelDiff,
    sqlColumnMapping, convertInPlace, partitionEvolution, dqAudit,
    dqQuarantine,
    tableChanges, cdfAggregate, rollupRefresh, mvIncremental, mvStreaming,
    mvRewriteServed, mvJoinIncremental, mvJoinRewrite, mvExprGroupRollup,
    mvJoinOnRewrite, mvStar3Rewrite, mvCountDistinctRewrite, mvJoinMinMax,
    mvApproxDistinct, mvStarSubsumption, mvServeRewrite,
    partitionDisjointWriters,
    formatRoundtrip,
    exactPercentiles, groupedPercentiles, q7VolumeShipping,
    q9ProductProfit, q8MarketShare,
    q10ReturnedItems)
}
