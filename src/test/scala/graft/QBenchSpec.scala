package graft

import org.apache.spark.sql.functions.col
import graft.queries.Q
import graft.tools.QBench
import graft.tools.QBench.Scenario

class QBenchSpec extends SparkSpec {

  // the registry pairs that share an oracle string; every other scenario
  // has no parity group
  private val groups = Map(
    "rankings" -> Seq(Seq("q_window_rank", "q_window_rank_dist")),
    "runs" -> Seq(Seq("q_runs", "q_runs_dist")),
    "text" -> Seq(Seq("q_text_phrase", "q_gql_phrase"), Seq("q_text_bm25", "q_gql_bm25")))

  for (sc <- QBench.scenarios)
    test(s"scenario ${sc.name} times every arm and its same-oracle arms agree") {
      val r = QBench.run(spark, sf, sc, reps = 1)
      assert(r.timings.map(_.name) == sc.queries)
      assert(r.timings.forall(t => !t.failed && t.runs.size == 1))
      assert(r.parity.map(_.queries) == groups.getOrElse(sc.name, Nil))
      assert(r.parity.forall(_.ok), r.parity)
    }

  test("the forked test JVM's default charset is UTF-8") {
    // under a POSIX locale JDK 17 defaults to US-ASCII, and every forked
    // main then prints non-ASCII stdout as '?'
    assert(java.nio.charset.Charset.defaultCharset ==
      java.nio.charset.StandardCharsets.UTF_8)
  }

  test("two same-oracle arms that disagree fail the parity check") {
    val oracle = Some("SELECT id FROM t")
    val registry = Seq(
      Q("q_ten", (s, _) => s.range(10).toDF(), oracle),
      // same row count, different values: the digest reads content, not counts
      Q("q_ten_shifted", (s, _) => s.range(1, 11).toDF(), oracle),
      Q("q_ten_again", (s, _) => s.range(10).toDF().orderBy(col("id").desc), oracle))
    val agree = QBench.run(spark, sf,
      Scenario("agree", Seq("q_ten", "q_ten_again"), "any"), 1, registry)
    assert(agree.ok, "row order must not matter")
    val r = QBench.run(spark, sf,
      Scenario("disagree", Seq("q_ten", "q_ten_shifted", "q_ten_again"), "any"), 1,
      registry)
    assert(r.parity.map(_.queries) == Seq(Seq("q_ten", "q_ten_shifted", "q_ten_again")))
    assert(!r.parity.head.ok && !r.ok)
    assert(r.parity.head.digests.map(_._1).distinct == Seq(10L))
  }

  test("scenario confs are pinned for the run and restored after it") {
    val key = "spark.graft.profile.selectionMinBytes"
    val seen = new java.util.concurrent.atomic.AtomicReference[Option[String]]
    val registry = Seq(Q("q_conf", (s, _) => {
      seen.set(s.conf.getOption(key)); s.range(1).toDF()
    }, None))
    assert(spark.conf.getOption(key).isEmpty)
    QBench.run(spark, sf, Scenario("pinned", Seq("q_conf"), "any", Map(key -> "0")), 1,
      registry)
    assert(seen.get == Some("0"))
    assert(spark.conf.getOption(key).isEmpty)
  }

  test("a failing arm or an unknown query fails the run") {
    val registry = Seq(Q("q_ok", (s, _) => s.range(1).toDF(), None),
      Q("q_boom", (_, _) => throw new IllegalStateException("boom"), None))
    val r = QBench.run(spark, sf, Scenario("boom", Seq("q_ok", "q_boom"), "any"), 1, registry)
    assert(r.timings.map(t => t.name -> t.failed) == Seq("q_ok" -> false, "q_boom" -> true))
    assert(!r.ok)
    intercept[IllegalArgumentException](
      QBench.run(spark, sf, Scenario("missing", Seq("q_nope"), "any"), 1, registry))
  }
}
