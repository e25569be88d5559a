package graft

import java.nio.file.{Files, Paths}

/** Plan-audit main: dumps the formatted physical plan of the headline
  * queries to a file (dev tool backing PLANS.md — the written record
  * that each operator compiles to the plan we want at scale: pushed
  * filters, pruned scans, broadcast sides, codegen spans, bounded
  * exchanges).
  *
  * Usage: runMain graft.Explain <sfDir> <outFile> [name,name,...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outFile = args.lift(1).getOrElse("/tmp/plans.txt")
    val names = args.lift(2).map(Harness.names).getOrElse(Seq(
      "w_sma", "w_ema", "sc_balance_ratios", "clean_pipeline",
      "join_pair_kernel", "dedup_minhash_candidates", "ann_topk",
      "ann_ivf_topk", "dedup_embedding_cosine", "text_tokens_freq",
      "ingest_av_timeseries", "validator_version_split",
      "ann_knn_graph", "ann_knn_graph_learned", "text_quality",
      "text_pii_redact", "dedup_simhash", "emb_quantize_int8",
      "text_surprisal_buckets", "text_gopher_rules", "sessionize_stats",
      "ann_pq_assign_learned", "dedup_select_canonical",
      // round-14 additions worth a standing plan audit
      "text_dup_span_removal", "retrieval_hybrid_ann",
      "curation_pipeline_v3", "text_vocab_hll", "emb_covariance",
      "join_asof_tolerance", "events_dau_hll", "sample_weighted",
      // continuation-wave additions worth a standing plan audit
      "text_dsir_weights", "ann_graph_triangles", "text_doc_clusters",
      "sample_priority_group", "layout_zorder_audit", "clean_winsorize",
      "text_quality_percentile", "ann_triplet_mining_scaled",
      // final-wave additions worth a standing plan audit
      "text_readability", "events_wau_rolling", "events_inter_arrival",
      "dedup_blocking_audit", "text_bootstrap_means", "emb_pca_2d",
      "dedup_incremental_assign", "events_seasonal_profile",
      "profile_join_fanout", "text_cluster_diversity", "text_heaps_fit",
      "text_bootstrap_by_source", "profile_join_hotkeys",
      "sample_epochs_report", "dedup_cluster_histogram"))
    val queries = Harness.select(SparkEntry.queries, Some(names))
    val spark = Harness.open(defaultCpus = 4, logLevel = "ERROR").spark
    val out = new StringBuilder
    queries.foreach { case (name, fn) =>
      out.append(s"\n${"=" * 76}\n== $name\n${"=" * 76}\n")
      try {
        val df = fn(spark, sfDir)
        out.append(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      } catch { case e: Throwable => out.append(s"ERROR: ${e.getMessage}\n") }
    }
    Files.writeString(Paths.get(outFile), out.toString)
    println(s"wrote $outFile")
    spark.stop()
  }
}
