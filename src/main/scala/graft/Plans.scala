package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode

/** Plan-audit main: dumps the formatted physical plan of every headline
  * query and greps it for scale-health markers — parquet filter pushdown,
  * pruned read schemas, broadcast joins on dim tables, whole-stage codegen
  * coverage. Output: PLANS.md at the repo root.
  */
object Plans {
  /** Runs THIS queryExecution and returns its formatted final plan. AQE
    * only materializes the final plan (with codegen stage annotations)
    * after an action, and a write would spawn its own separate execution.
    * Foreaching the executed RDD finalizes the adaptive plan without
    * collecting the result set to the driver, which at a big SF would OOM
    * the driver for what is only a plan dump. */
  def executedPlan(df: DataFrame): String = {
    df.queryExecution.toRdd.foreach(_ => ())
    df.queryExecution.explainString(FormattedMode)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = Master.session("8", logLevel = "ERROR")

    val qmap = SparkEntry.queries
    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan audit of headline queries\n\n")
    sb.append(s"Generated by `graft.Plans` on `$sfDir`. Markers: pushed parquet\n")
    sb.append("filters, pruned ReadSchema, broadcast joins, whole-stage codegen.\n")
    sb.append("Counts come from the final adaptive plan, which prints the tree\n")
    sb.append("and the numbered details — exchange/broadcast counts read ~2x the\n")
    sb.append("physical operator count; codegen counts are distinct stage ids.\n\n")
    sb.append("| query | pushed filters | broadcast joins | codegen stages | shuffles |\n")
    sb.append("|---|---|---|---|---|\n")
    val details = new StringBuilder
    // headline bench set + the scale-shape-interesting pipeline additions
    val audited = Bench.headline ++ Seq(
      "q_ann_lsh", "q_ann_ivf", "q_dedup_cosine_lsh",
      "q_ann_ivf_prebuilt", "q_ann_lsh_prebuilt",
      "q_split_hash", "q_sample_stratified", "q_pack_tokens",
      "q_vocab_topk", "q_embed_quant", "q_doc_logprob",
      "q_stream_join", "q_pipeline_e2e",
      "q_decontaminate", "q_dedup_spans", "q_dedup_normalized",
      "q_mix_weighted", "q_shuffle_det", "q_reservoir",
      "q_tfidf_topk", "q_dedup_incremental", "q_pii_scrub", "q_chunks",
      "q_l2_normalize",
      "q_hive_order_topk", "q_hive_first_meta", "q_hive_first_dense",
      "q_dedup_jaccard", "q_dedup_idx_md5",
      "q_dedup_semantic", "q_dedup_semantic_keep", "q_dedup_semantic_incr",
      "q_repartition_roundtrip", "q_source_jsonl",
      "q_knn_join_lsh", "q_knn_join_ivf", "q_snapshot_diff",
      "q_embed_project", "q_quality_linear", "q_dsir_sample",
      "q_profile",
      "q_dedup_substr", "q_runs_filtered", "q_knn_join_auto",
      "q_pack_filtered", "q_profile_by", "q_media_meta",
      "q_text_search", "q_text_bm25", "q_token_budget",
      // round 11: the codegen'd header parse over real image bytes.
      // (The served q_gql_* twins are NOT audited here: GqlBridge
      // materializes through the service layer, so their visible plan is
      // a vacuous LocalTableScan — the engine-side plans above are the
      // ones the service executes.)
      "q_media_imagemeta").filter(qmap.contains)
    audited.foreach { name =>
      val plan = executedPlan(qmap(name)(spark, sfDir))
      // formatted mode prints each operator in the tree AND a numbered
      // detail block — count only the numbered details
      val pushed = plan.linesIterator.count(l =>
        l.contains("PushedFilters: [") && !l.contains("PushedFilters: []"))
      val bcast = plan.linesIterator.count(_.matches("^\\(\\d+\\) BroadcastHashJoin.*"))
      val codegen = plan.linesIterator
        .flatMap("\\[codegen id : (\\d+)\\]".r.findAllMatchIn(_)).map(_.group(1))
        .toSet.size
      val shuffles = plan.linesIterator.count(_.matches("^\\(\\d+\\) Exchange.*"))
      sb.append(s"| $name | $pushed | $bcast | $codegen | $shuffles |\n")
      details.append(s"\n## $name\n\n```\n")
      details.append(plan.linesIterator.take(60).mkString("\n"))
      details.append("\n```\n")
    }
    sb.append(details)
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println("wrote PLANS.md")
    spark.stop()
  }
}
