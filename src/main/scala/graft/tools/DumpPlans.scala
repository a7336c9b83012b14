package graft.tools

import org.apache.spark.sql.SparkSession
import graft.queries.Queries
import java.nio.file.{Files, Paths}

/** Formatted physical plans of registry queries, in two modes.
  *
  * With no arguments, writes docs/PLANS.md: the plan of each headline
  * query at sf0.001 — the artifact behind the plan-shape assertions in
  * PlanSpec (WindowGroupLimit, PushedFilters, broadcast joins, partial
  * aggregation, codegen spans):
  * `sbt "runMain graft.tools.DumpPlans"`.
  *
  * With a query list, writes one `<outDir>/<query>_<suffix>.txt` per
  * listed query — the before/after evidence of an optimization pass
  * (run with suffix `before` on the entry tree, `after` on the final
  * one):
  * `sbt "runMain graft.tools.DumpPlans <outDir> <suffix> <q1,q2,...> [sfDir]"`.
  * Lifecycle queries (ANN, MV, store) run their builds eagerly inside
  * the entry function, so their dumped plan is the final SELECT's.
  */
object DumpPlans {
  private val headline = Seq(
    "cdc_dedup_latest", "cdc_incremental_merge", "scan_filter_project",
    "q1_pricing_summary", "q3_top_orders", "q5_regional_revenue",
    "minhash_lsh_neardup", "cosine_topk_bruteforce", "events_sessionize",
    // round 2: union-window as-of join (no join operator), bucketed
    // range join, LSH-candidate near-dup (no theta join), z-ordered
    // rewrite + 2-d predicate scan
    "asof_join_last_view", "range_join_windows", "embedding_neardup_pairs",
    "zorder_clustered_scan",
    // round 3: range-partitioned exact deciles (no global window),
    // broadcast-max q15, rank-selected exact percentiles, WGL-pruned
    // stratified sampling, per-lang heavy hitters
    "curriculum_quality_bins", "q15_top_supplier", "exact_percentiles_rank",
    "stratified_sample_exact", "bigram_top_per_lang",
    // round-3 extension wave: shuffle-free per-row repetition gate,
    // single-tf-frame ranked retrieval
    "repetition_gopher_filters", "bm25_retrieval_topk",
    // round-3 third session: qid-partitioned rank fusion, blocked
    // fuzzy linkage (equi-join + residual), keyed interval overlap,
    // span-level rewrite dedup, grouped rank selection, time-band
    // stream join (bounded form), ordered funnel
    "hybrid_retrieval_rrf", "fuzzy_join_blocked", "interval_join_keyed",
    "span_dedup_c4", "grouped_percentiles_exact",
    "streaming_stream_join_batch", "funnel_conversion",
    // round 6: join-free grid resample (union-window ffill), dynamic-
    // frame relationalize (narrow posexplode child), native unpivot
    "events_resample_hourly_ffill", "dynamic_relationalize_arrays",
    "unpivot_lineitem_measures",
    // round 7: banded-Hamming perceptual near-dup (equi-join, hot-
    // bucket guard), EXISTS+NOT-EXISTS q21 (semi+anti on one
    // partitioning), broadcast-probe MMR re-rank, SCD2 one-exchange
    // double window, bloom point lookup (file-skipped scan)
    "multimodal_phash_neardup", "q21_exclusive_late",
    "mmr_diversified_topk", "scd2_dimension_build", "bloom_point_lookup",
    // round 8: dv-purged CDC pipeline (delete-set filter over the position
    // vector), codegen'd bloom decontamination (no UDF fence),
    // vocab-bounded BPE budget (one corpus shuffle + broadcast map),
    // deterministic KMV+histogram sketches, transactional transfer
    "cdc_pipeline_e2e_dv", "decontaminate_bloom_exact",
    "bpe_token_budget_by_source", "approx_sketches_lineitem",
    "sql_transaction_e2e",
    // round 10: partition-pruned persisted ANN (cent_id INSET on the
    // lists scan), IVF-PQ ADC over stored codes, scan-free ANALYZE
    // (LocalTableScan — no file scan in the plan), bloom-auto default
    // read path
    "ivf_ann_persisted", "ivfpq_ann_persisted", "analyze_table_stats",
    "bloom_auto_lookup",
    // round 11: attribute-filtered ANN (predicate pushed into the
    // pruned lists scan, probe set widened by measured selectivity),
    // post-delete search (MoR delete keys anti-joined on the lists)
    "ivf_ann_filtered", "ivf_ann_after_delete",
    // round 11 second wave: the change-feed-synced index (netted feed
    // applied as ONE merge-on-read commit) at both storage shapes
    "ivf_ann_synced", "ivfpq_ann_synced")

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.001"
    def plan(name: String, sf: String): String =
      Queries.entries.find(_.name == name)
        .getOrElse(throw new IllegalArgumentException(s"unknown query $name"))
        .fn(spark, sf).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
    if (args.isEmpty) {
      val sb = new StringBuilder
      sb.append("# Physical plans (generated by graft.tools.DumpPlans)\n\n")
      sb.append("Formatted plans of the headline queries at sf0.001 — the\n")
      sb.append("evidence behind PlanSpec's shape assertions. Things to see:\n")
      sb.append("`WindowGroupLimit` under the CDC dedup, `PushedFilters`/pruned\n")
      sb.append("`ReadSchema` on scans, `BroadcastHashJoin LeftAnti` for the\n")
      sb.append("merge, partial+final `HashAggregate` pairs around exchanges.\n")
      Queries.entries.filter(e => headline.contains(e.name)).foreach { e =>
        sb.append(s"\n## ${e.name}\n\n```\n")
        sb.append(plan(e.name, dir))
        sb.append("```\n")
      }
      Files.createDirectories(Paths.get("docs"))
      Files.writeString(Paths.get("docs/PLANS.md"), sb.toString)
      println(s"wrote docs/PLANS.md (${headline.size} plans)")
    } else {
      require(args.length >= 3,
        "usage: DumpPlans [<outDir> <suffix> <q1,q2,...> [sfDir]]")
      val Array(outDir, suffix, list) = args.take(3)
      val sfDir = if (args.length > 3) args(3) else dir
      Files.createDirectories(Paths.get(outDir))
      list.split(",").map(_.trim).filter(_.nonEmpty).foreach { q =>
        try {
          Files.writeString(Paths.get(outDir, s"${q}_$suffix.txt"), plan(q, sfDir))
          println(s"wrote ${q}_$suffix")
        } catch { case t: Throwable => println(s"SKIP $q: $t") }
      }
    }
    spark.stop()
  }
}
