package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}
import graft.Bench
import graft.queries.{Q, Queries}

/** Timing comparisons for optimization A/B runs: times registry queries
  * through graft.Bench's best-of-N noop-sink timer (same session confs;
  * every arm warmed once first) without paying for the whole headline
  * set, then checks that queries sharing an oracle SQL string answer
  * alike. NOT the driver contract — Bench stays the measured surface;
  * this is the iteration loop.
  *
  * Usage:
  *   runMain graft.tools.QBench --scenario <name> [reps]
  *   runMain graft.tools.QBench <reps> <query> [query ...]
  * The corpus is SPARK_GRAFT_SF_DIR (default sf0.1); cores are
  * SPARK_GRAFT_CPUS (default 32). Exits non-zero when a query fails or a
  * parity check does not hold.
  */
object QBench {
  /** A named comparison, as data: registry queries timed side by side,
    * the corpus the comparison is meant for (`corpus` names it; the run
    * reads SPARK_GRAFT_SF_DIR), and session confs pinned for the run. */
  final case class Scenario(name: String, queries: Seq[String], corpus: String,
                            confs: Map[String, String] = Map.empty)

  val scenarios: Seq[Scenario] = Seq(
    // window vs range-partitioned vs broadcast-counts rankings
    Scenario("rankings",
      Seq("q_window_rank", "q_window_rank_dist", "q_window_rank_counts"), "sf0.1"),
    // serial vs distributed runs, and filter → densify → distributed runs
    Scenario("runs", Seq("q_runs", "q_runs_dist", "q_runs_filtered"), "sf0.1"),
    // each md5 near-dup query next to its xxhash64 twin
    Scenario("dedup_md5", Seq("q_dedup_minhash", "q_dedup_minhash_md5",
      "q_dedup_simhash", "q_dedup_simhash_md5"), "sf0.1"),
    // the exact profile with the distributed order-statistic selection
    // forced (below its default 256 MB input bar the single-map
    // percentile runs); compare with `QBench 3 q_profile`
    Scenario("profile_selection", Seq("q_profile"), "sf0.1",
      Map("spark.graft.profile.selectionMinBytes" -> "0")),
    // the text-index probes, each registry form next to its served twin
    Scenario("text", Seq("q_text_search", "q_text_phrase", "q_text_bm25",
      "q_gql_phrase", "q_gql_bm25"), "sf0.1"),
    // the parallel-cost set: read it at ×50 (tools/gen_scale.py), where
    // sf0.1's fixed costs no longer hide the slope
    Scenario("x50", Seq("q_runs_filtered", "q_cum_natural",
      "q_window_rank_dist", "q_dedup_simhash_md5"), "x50"))

  /** Queries sharing one oracle SQL string and their content digests. */
  final case class Parity(queries: Seq[String], digests: Seq[(Long, BigDecimal)]) {
    def ok: Boolean = digests.distinct.size == 1
  }

  final case class Report(timings: Seq[Bench.Timing], parity: Seq[Parity]) {
    def ok: Boolean = !timings.exists(_.failed) && parity.forall(_.ok)
  }

  /** Order-insensitive content digest: (row count, sum of per-row
    * xxhash64 over the name-sorted columns). */
  def digest(df: DataFrame): (Long, BigDecimal) = {
    val h = xxhash64(df.columns.sorted.map(col).toIndexedSeq: _*)
    val r = df.agg(count(lit(1)), sum(h.cast("decimal(20,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  /** Times every query of `sc` on `sfDir` and checks its parity groups:
    * the queries of `sc` whose oracle SQL strings are equal. The
    * scenario's confs are set for the run and restored after it. */
  def run(spark: SparkSession, sfDir: String, sc: Scenario, reps: Int,
          registry: Seq[Q] = Queries.all): Report = {
    val byName = registry.map(q => q.name -> q).toMap
    val missing = sc.queries.filterNot(byName.contains)
    require(missing.isEmpty, s"scenario ${sc.name}: unknown queries ${missing.mkString(", ")}")
    val qmap = sc.queries.map(n => n -> byName(n).run).toMap
    val saved = sc.confs.keys.map(k => k -> spark.conf.getOption(k))
    sc.confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      println(s"[qbench] scenario ${sc.name} on $sfDir (meant for ${sc.corpus}) reps=$reps")
      // warm every arm once, untimed, so no arm's first timed rep pays
      // JVM/codegen warm-up or an index build; a failing arm is reported
      // by its timed reps
      sc.queries.foreach(n =>
        try Bench.noop(qmap(n)(spark, sfDir)) catch { case _: Exception => () })
      val timings = Bench.bestOf(spark, sfDir, sc.queries, reps, qmap)
      timings.foreach { t =>
        println(f"[qbench] ${t.name} best=${t.best}%.3f raw=" +
          t.runs.map(r => f"$r%.3f").mkString("[", ",", "]") +
          (if (t.failed) " FAILED" else ""))
      }
      val oracles = sc.queries.flatMap(n => byName(n).oracle.map(n -> _))
      val parity = oracles.map(_._2).distinct
        .map(o => oracles.collect { case (n, `o`) => n })
        .filter(_.size > 1)
        .map(group => Parity(group, group.map(n => digest(qmap(n)(spark, sfDir)))))
      parity.foreach { p =>
        println(s"[qbench] parity ${p.queries.mkString(" == ")} " +
          (if (p.ok) s"ok rows=${p.digests.head._1}"
           else s"FAILED digests=${p.digests.mkString(", ")}"))
      }
      Report(timings, parity)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  def main(args: Array[String]): Unit = {
    val usage = "usage: QBench --scenario <name> [reps] | QBench <reps> <query> [query ...]"
    val (sc, reps) = args.toList match {
      case "--scenario" :: name :: rest =>
        val sc = scenarios.find(_.name == name).getOrElse(throw new IllegalArgumentException(
          s"unknown scenario $name; known: ${scenarios.map(_.name).mkString(", ")}"))
        (sc, rest.headOption.fold(3)(_.toInt))
      case reps :: names if names.nonEmpty => (Scenario("adhoc", names, "any"), reps.toInt)
      case _ => throw new IllegalArgumentException(usage)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Master.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val report = try run(spark, sfDir, sc, reps) finally spark.stop()
    require(report.ok, s"scenario ${sc.name}: a query failed or a parity check did not hold")
  }
}
