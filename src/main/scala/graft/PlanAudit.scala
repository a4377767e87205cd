package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Writes `.explain("formatted")` of SparkEntry queries to one text file.
  * Usage: runMain graft.PlanAudit [sfDir] [outFile] [query ...] (defaults:
  * the sf0.01 test data, /tmp/plans.txt, every audited query below). */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.warehouse.dir",
        "/tmp/graft_warehouse/" + java.util.UUID.randomUUID().toString)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = "/root/testdata/sf0.01"
    val names = Seq("q1_agg", "q2_join_broadcast", "q3_window_latest",
      "q6_nearest_join", "q7_pairs_per_day", "q10_range_join",
      "q11_minhash_neardups", "q12_simhash_neardups", "q13_ngram_jaccard",
      "q14_knn_bruteforce", "q15_langid_dist", "q16_token_stats",
      "q22_semi_by_brand", "q23_embed_neardup", "q25_quality",
      "q26_embed_neardup_lsh", "q27_pii_redact", "q28_stratified_sample",
      "q29_ann_ivf", "q30_golden_spans", "kg_timeline_golden",
      "q31_contained_args", "q32_dedup_clusters", "q33_copular_predicates",
      "q34_negation_scope", "q35_head_evidence", "q36_tokenize",
      "q37_sentsplit", "q38_gazetteer_ner", "q39_trigger_spans",
      "q40_argument_spans", "q41_align_inject", "q42_duration_speculation",
      "q43_ner_eval", "q51_sql_functions", "q52_bucketed_join",
      "q53_partition_pruned", "q54_incremental_neardup",
      "kg_snapshot_delta", "q55_batch_plan", "kg_temporal_closure",
      "q57_corpus_stats", "q58_integrity_audit", "q59_decontaminate",
      "q60_repetition", "q61_quantized_knn", "q62_freq_quality", "kg_bgp",
      "kg_bgp_optional", "kg_ntriples", "kg_pagerank", "q63_dup_ngrams",
      "kg_provenance", "q64_seq_packing", "q65_tfidf_topk",
      "q66_bpe_pairs", "q67_phrase_pmi", "kg_labelprop", "kg_degree_dist",
      "q68_sessionize", "q69_rollup", "q70_cube", "q71_zorder",
      "q72_sketch_distinct", "kg_triangles", "kg_kcore",
      "kg_edge_jaccard", "kg_truss", "q73_edit_pairs", "q74_prefix_jaccard")
    val sfDir = args.lift(0).getOrElse(dir)
    val outFile = args.lift(1).getOrElse("/tmp/plans.txt")
    val sb = new StringBuilder
    for (n <- if (args.length > 2) args.drop(2).toSeq else names) {
      val df = SparkEntry.queries(n)(spark, sfDir)
      sb.append(s"\n===== $n =====\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    Files.writeString(Paths.get(outFile), sb.toString)
    println(s"WROTE $outFile")
    spark.stop()
  }
}
