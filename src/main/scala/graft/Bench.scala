package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main (driver contract): runs the headline query set on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * Each query is forced through a noop sink — `count()` would let Catalyst
  * prune the measured projections/joins out of the plan entirely.
  */
object Bench {
  /** Representative cross-section: scan/filter, aggregation, window, top-k,
    * join chain, as-of, set op, dedup (exact + LSH), ANN, sessionization,
    * fingerprinting. Excludes the intentionally-quadratic exact-pair
    * baselines (q_dedup_cosine, q_dedup_jaccard are oracle baselines, not
    * the scale path). */
  val headline: Seq[String] = Seq(
    "q1_agg", "q_filter", "q_project", "q_group_counts", "q_nunique",
    "q_quantile", "q_window_rank", "q_window_cumsum", "q_topk_per_group",
    "q_order_limit", "q_join_inner", "q_asof", "q_union_all",
    "q_dedup_exact", "q_dedup_minhash", "q_ann_topk", "q_stream_session",
    "q_fingerprint",
    // LLM-pipeline set (round 5): decontamination, span-level dedup,
    // tf-idf keywords, stratified reservoir — tracked so regressions in
    // the documents-table paths show up in BENCH_r{N}
    "q_decontaminate", "q_dedup_spans", "q_tfidf_topk", "q_reservoir",
    // round-11 set: the round-10 tier was invisible to the bench (a
    // regression in text search, BM25, the token-budget head, substring
    // dedup or filtered runs would not show between rounds). Index-backed
    // entries measure PROBES: textIndexFor re-opens the fingerprint-keyed
    // sidecar after the first rep, and best-of-N takes the probe floor.
    "q_text_search", "q_text_bm25", "q_token_budget", "q_dedup_substr",
    "q_runs_filtered",
    // round-12 set: the round-9 tiers were bench-invisible (a regression
    // in the auto-dispatched knn join, semantic dedup, snapshot diff, the
    // profiler, phrase search or filtered ranked retrieval would not show
    // between rounds). q_gql_bm25_filtered measures the full served
    // filter → search(k:, corpus:) shape through the GraphQL executor.
    "q_knn_join_auto", "q_dedup_semantic", "q_snapshot_diff", "q_profile",
    "q_text_phrase", "q_gql_bm25_filtered")

  /** Queries added to the headline in round 5 (excluded from `core18`). */
  val llmSet: Set[String] =
    Set("q_decontaminate", "q_dedup_spans", "q_tfidf_topk", "q_reservoir")

  /** Queries added in round 11 (excluded from `core18` and `core22`). */
  val r11Set: Set[String] =
    Set("q_text_search", "q_text_bm25", "q_token_budget", "q_dedup_substr",
      "q_runs_filtered")

  /** Queries added in round 12 (excluded from `core18`/`core22`/`core27`). */
  val r12Set: Set[String] =
    Set("q_knn_join_auto", "q_dedup_semantic", "q_snapshot_diff",
      "q_profile", "q_text_phrase", "q_gql_bm25_filtered")

  /** Runs `df` into the noop sink. */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** One query's best-of-N reading: `runs` in seconds; `failed` when a run
    * threw. */
  final case class Timing(name: String, runs: Seq[Double], failed: Boolean) {
    def best: Double = runs.min
  }

  /** The best-of-N noop-sink timer behind Bench and QBench: each query
    * is rebuilt and run `reps` times. A failing run is reported on stderr
    * and still timed, so one broken query never takes the line down.
    *
    * Best-of-N protocol (round-6): single runs wobble ±2-3 s on a busy
    * box, which made round-over-round deltas unreadable (VERDICT r5 §perf).
    * The min over in-process repetitions estimates the noise floor; raw
    * runs are kept so the distribution stays auditable. */
  def bestOf(spark: SparkSession, sfDir: String, names: Seq[String], reps: Int,
             qmap: Map[String, (SparkSession, String) => DataFrame] =
               SparkEntry.queries): Seq[Timing] =
    names.map { name =>
      var failed = false
      val runs = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        try noop(qmap(name)(spark, sfDir))
        catch { case e: Throwable =>
          failed = true
          System.err.println(s"[bench] $name: ${e.getMessage}")
        }
        (System.nanoTime() - t0) / 1e9
      }
      Timing(name, runs, failed)
    }

  private def bestJson(ts: Seq[Timing]): String =
    ts.map(t => "\"" + t.name + f"\":${t.best}%.3f").mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    val aqe = sys.env.getOrElse("SPARK_GRAFT_AQE", "true")
    // GRAFT_MASTER=local-cluster[N,c,m] → real executor JVMs (graft.Master)
    val spark = Master.session(cpus, confs = Seq(
      "spark.sql.shuffle.partitions" -> shuffle,
      "spark.sql.adaptive.enabled" -> aqe))

    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt

    val qmap = SparkEntry.queries
    val names = headline.filter(qmap.contains)
    // JVM/codegen warmup on the smallest scale of the first query
    noop(qmap(names.head)(spark, sfDir))

    val results = bestOf(spark, sfDir, names, reps)
    val qs = bestJson(results)
    val raw = results.map { t =>
      "\"" + t.name + "\":" + t.runs.map(r => f"$r%.3f").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // Optional scaling reading (opt-in): when SPARK_GRAFT_BENCH_SCALE_DIR
    // names a larger dataset, time the slowest entries there and emit a
    // second JSON line (same contract, metric "scale_subset") BEFORE the
    // main line — sf0.1 is fixed-cost-bound, so parallelism regressions
    // only show at a larger SF. Off unless the env var is set, so the
    // driver's run is unchanged.
    sys.env.get("SPARK_GRAFT_BENCH_SCALE_DIR").foreach { scaleDir =>
      val subset = sys.env.getOrElse("SPARK_GRAFT_BENCH_SCALE_QUERIES",
        "q_runs_filtered,q_dedup_semantic,q_dedup_minhash,q_tfidf_topk,q_profile,q_dedup_substr")
        .split(",").toSeq.filter(qmap.contains)
      val sres = bestOf(spark, scaleDir, subset, reps)
      val stotal = sres.map(_.best).sum
      println(f"""{"metric":"scale_subset","value":$stotal%.3f,"unit":"sec","reps":$reps,"queries":${bestJson(sres)},"sf":"$scaleDir"}""")
    }
    val total = results.map(_.best).sum
    // continuity subtotals: core18 = the pre-round-5 set; core22 = the
    // pre-round-11 set; core27 = the pre-round-12 set — cross-round totals
    // compare like-for-like as the headline grows
    def subtotal(excluded: Set[String]): Double =
      results.filterNot(t => excluded.contains(t.name)).map(_.best).sum
    val core18 = subtotal(llmSet ++ r11Set ++ r12Set)
    val core22 = subtotal(r11Set ++ r12Set)
    val core27 = subtotal(r12Set)
    // Measurement-contract fix (round 13, VERDICT r12 item 2): the raw
    // best-of-N triples pushed the contract line past the driver's 2000-char
    // tail, truncating it mid-line; they now go to stderr (still auditable in
    // the driver's log) and the ONE stdout JSON line stays compact. No
    // timing methodology changed — same queries, same noop sink, same
    // best-of-N mins; only where the audit triples are printed.
    System.err.println(s"""[bench] raw {"reps":$reps,"runs":$raw}""")
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","core18":$core18%.3f,"core22":$core22%.3f,"core27":$core27%.3f,"reps":$reps,"queries":$qs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
