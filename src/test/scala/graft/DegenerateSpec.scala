package graft

import org.apache.spark.sql.functions._
import graft.core.{GTable, Tables}
import graft.operators.{Dedup, Sampling, Similarity, TextAnalysis}

/** Degenerate-input hardening: every operator must behave on an EMPTY
  * table (the take(Seq()) crash was exactly this class of bug — paths that
  * compute driver-side stats from data that may not exist). */
class DegenerateSpec extends SparkSpec {

  private def emptyT = GTable(Tables.loadOrdered(spark, sf, "nation"))
    .filter(lit(false))
  private def nation = GTable(Tables.loadOrdered(spark, sf, "nation"))

  test("row ops on an empty table: slice, rowAt, take, order, any, count") {
    assert(emptyT.slice(0, Some(5L)).result.count() == 0)
    assert(emptyT.order(GTable.orderKeys(Seq("n_name"))).result.count() == 0)
    assert(emptyT.take(Seq()).result.count() == 0)
    assert(!emptyT.any())
    assert(emptyT.count() == 0)
  }

  test("group/distinct/runs/cumulative on an empty table") {
    assert(emptyT.group(Seq("n_regionkey"), Seq(count(lit(1)).as("n")))
      .result.count() == 0)
    // whole-table aggregate over empty input: one row, count 0 (Spark and
    // the reference both produce the global-aggregate row)
    val whole = emptyT.group(Nil, Seq(count(lit(1)).as("n"))).result.collect()
    assert(whole.length == 1 && whole(0).getLong(0) == 0)
    assert(emptyT.distinctOn(Seq("n_regionkey")).result.count() == 0)
    assert(emptyT.runs(Seq("n_regionkey")).result.count() == 0)
    // runsDistributed requires dense positions BY CONTRACT (the GraphQL
    // service falls back to runs() on filtered tables) — the guard must fire
    intercept[IllegalArgumentException](
      emptyT.runsDistributed(Seq("n_regionkey")))
    assert(emptyT.cumulative(col("n_regionkey"), "c", sum, (a, b) => a + b)
      .result.count() == 0)
  }

  test("rankings on an empty table") {
    assert(nation.filter(lit(false))
      .rankings(Seq("n_regionkey"), Seq(col("n_name")), rank = Some("rk"))
      .result.count() == 0)
  }

  test("asofJoin with an empty right side keeps left rows with null matches") {
    val left = nation
    val right = nation.filter(lit(false))
    val keyed = left.asofJoin(right, on = "n_nationkey",
      keys = Seq("n_regionkey"))
    assert(keyed.result.count() == left.result.count())
    val keyless = left.asofJoin(right, on = "n_nationkey", keys = Nil)
    assert(keyless.result.count() == left.result.count())
  }

  test("set ops and unnest with empty inputs") {
    assert(emptyT.union(Seq(emptyT)).result.count() == 0)
    assert(nation.union(Seq(emptyT)).result.count() == nation.result.count())
    assert(emptyT.intersect(Seq(nation)).result.count() == 0)
    assert(nation.difference(Seq(emptyT)).result.count() ==
      nation.result.distinct().count())
    val arr = emptyT.project("a" -> split(col("n_name"), "#"))
    assert(arr.unnest("a").result.count() == 0)
  }

  test("pipeline operators on empty frames") {
    val ed = Tables.load(spark, sf, "documents").filter(lit(false))
    assert(Dedup.exact(ed, "text", "doc_id").count() == 0)
    assert(Dedup.jaccardPairs(ed, "text", "doc_id", 3, 0.5).count() == 0)
    assert(Dedup.minhashPairs(ed, "text", "doc_id").count() == 0)
    assert(Sampling.packBins(GTable(
      Tables.loadOrdered(spark, sf, "documents")).filter(lit(false)),
      "doc_id", lit(1), 100L).count() == 0)
    val ee = Tables.load(spark, sf, "embeddings").filter(lit(false))
    val q = Tables.load(spark, sf, "embeddings").filter(col("vec_id") < 3)
    assert(Similarity.bruteForceTopK(ee, q, "vec_id", "embedding", 5).count() == 0)
    assert(Similarity.lshTopK(ee, q, "vec_id", "embedding", 5,
      planes = 4, dim = 64).count() == 0)
    assert(Similarity.ivfTopK(ee, q, "vec_id", "embedding", 5,
      nlist = 4, nprobe = 2).count() == 0)
  }

  test("round-4 pipeline operators on empty frames") {
    val docs = Tables.load(spark, sf, "documents")
    val ed = docs.filter(lit(false))
    assert(Dedup.exactNormalized(ed, "text", "doc_id").count() == 0)
    assert(Dedup.dedupSpans(ed, "text", "doc_id").count() == 0)
    // empty corpus is clean; empty benchmark contaminates nothing
    assert(Dedup.decontaminate(ed, docs, "text", "doc_id").count() == 0)
    assert(Dedup.decontaminate(docs, ed, "text", "doc_id").count() == 0)
    assert(Sampling.mixWeighted(ed, col("lang"), col("doc_id"),
      Map("en" -> 2.5)).count() == 0)
    assert(Sampling.shuffled(ed, col("doc_id"), "1").count() == 0)
    assert(Sampling.reservoirK(GTable(ed), Seq("lang"), col("doc_id"), 3)
      .count() == 0)
    assert(TextAnalysis.tfidfTopTerms(ed, "text", "doc_id", 5).count() == 0)
  }

  test("round-5 operators on degenerate inputs") {
    val docs = Tables.load(spark, sf, "documents")
    val ed = docs.filter(lit(false))
    // empty corpus: the bloom filter rejects nothing — batch dedups only
    // within itself (same contract as exactIncremental)
    assert(Dedup.incrementalBloom(docs.limit(5).select("doc_id", "text"), ed,
      "text", "doc_id", expectedItems = 10L).count() == 5)
    // empty batch against a real corpus
    assert(Dedup.incrementalBloom(ed.select("doc_id", "text"), docs,
      "text", "doc_id", expectedItems = 1000L).count() == 0)
    // blank/whitespace-only docs emit zero spans, so they can never lose
    // one: they ride the span-clean pass-through byte-identical (round 12;
    // the same contract as dedupSubstrings' shorter-than-window docs)
    import spark.implicits._
    val blanks = Seq((1L, ""), (2L, "   "), (3L, "real text here"))
      .toDF("doc_id", "text")
    val spanned = Dedup.dedupSpans(blanks, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(spanned == Map(1L -> "", 2L -> "   ", 3L -> "real text here"),
      s"span-clean docs must pass through byte-identical, got $spanned")
    // metadata file selection on an empty selection set
    assert(graft.sources.ParquetMeta.readFiles(spark,
      s"$sf/nation.parquet", Nil).count() == 0)
  }

  test("fused text stack on empty and all-null frames") {
    import spark.implicits._
    val docs = Tables.load(spark, sf, "documents")
    val ed = docs.filter(lit(false))
    // empty frame: every derivation yields zero rows, no runtime error
    val st = TextAnalysis.stats(col("text"))
    assert(ed.select(TextAnalysis.qualityMetricsFrom(st).map {
      case (n, c) => c.as(n) }: _*).count() == 0)
    // null text: stats struct is null -> ratio metrics null, langId falls
    // through to the tie-break default, filter verdict null (row not
    // kept), and the composite quality clamps to 0.0 (greatest() skips
    // nulls) — all matching the composable forms (parity-spec'd)
    val nulls = Seq((1L, null: String), (2L, "real text")).toDF("doc_id", "text")
      .select(col("doc_id"), TextAnalysis.stats(col("text")).as("_st"))
    val rows = nulls.select(col("doc_id"),
        TextAnalysis.langIdFrom(col("_st")).as("lang"),
        TextAnalysis.gopherFilterFrom(col("_st")).as("keep"),
        TextAnalysis.qualityMetricsFrom(col("_st")).toMap.apply("quality").as("q"),
        TextAnalysis.qualityMetricsFrom(col("_st")).toMap.apply("stopword_ratio").as("swr"))
      .orderBy("doc_id").collect()
    assert(rows(0).getString(1) == "de" && rows(0).isNullAt(2)
      && rows(0).getDouble(3) == 0.0 && rows(0).isNullAt(4))
    assert(!rows(1).isNullAt(3))
    // served field on an empty root slice still answers
    val svc = new graft.graphql.GraphQLService(spark, sf)
    val r = svc.execute(
      """{ documents { w: filter(doc_id: {lt: -1}) {
           f: textStats(on: "text", metrics: ["lang"]) { count } } } }""")
    assert(r.contains("0"))
  }

  test("text index and token budget on empty frames") {
    import graft.operators.TextSearch
    val spark2 = spark
    import spark2.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_tx_degen").toString
    // an empty corpus builds an empty (but probe-able) index
    val idx = TextSearch.textIndexBuild(empty, "text", "doc_id", s"$dir/ix",
      buckets = 4)
    assert(TextSearch.searchIds(idx, Seq("anything")).isEmpty)
    assert(TextSearch.phraseIds(idx, Seq("a", "b")).isEmpty)
    // BM25 over an empty corpus ranks nothing (no error, no division by 0)
    assert(TextSearch.rankedSearch(idx, Seq("a"), 5).isEmpty)
    // appending real docs to the empty tree brings it to life
    TextSearch.textIndexAppend(idx, Seq((1L, "alpha beta")).toDF("doc_id", "text"),
      "text")
    assert(TextSearch.searchIds(idx, Seq("alpha")).count() == 1)
    // token-budget head of an empty corpus is empty, not an error
    assert(Sampling.takeTokenBudget(empty, "doc_id",
      length(col("text")), 100L).isEmpty)
  }
}
