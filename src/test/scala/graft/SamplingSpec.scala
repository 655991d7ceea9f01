package graft

import org.apache.spark.sql.functions._
import graft.core.{GTable, Tables}
import graft.operators.{Sampling, Similarity, TextAnalysis}

class SamplingSpec extends SparkSpec {

  private def docs = Tables.load(spark, sf, "documents")
  private def embs = Tables.load(spark, sf, "embeddings")

  test("hash split is total, stable under repartitioning, roughly proportional") {
    val shares = Seq("train" -> 8, "val" -> 1, "test" -> 1)
    val d = docs.withColumn("split", Sampling.split(col("doc_id"), shares))
    val counts = d.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = counts.values.sum
    assert(total == docs.count(), "every row must get a split")
    // 80% ± generous slack at 500 docs (hash bucketing, not exact quota)
    assert(counts("train").toDouble / total > 0.6 &&
      counts("train").toDouble / total < 0.95, s"train share off: $counts")
    // determinism: the assignment must not depend on partitioning
    val again = docs.repartition(7)
      .withColumn("split", Sampling.split(col("doc_id"), shares))
      .select("doc_id", "split").collect().map(r => (r.getLong(0), r.getString(1))).toMap
    val first = d.select("doc_id", "split").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(first == again)
  }

  test("stratified keep downsamples only the targeted strata, deterministically") {
    val kept = docs.filter(Sampling.stratifiedKeep(col("lang"), col("doc_id"),
      Map("en" -> 0.5, "zh" -> 0.8)))
    val byLang = kept.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totalByLang = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // untouched strata keep every row
    for (l <- totalByLang.keys if l != "en" && l != "zh")
      assert(byLang.getOrElse(l, 0L) == totalByLang(l), s"stratum $l was sampled")
    // sampled strata shrink to roughly their fraction
    val enShare = byLang("en").toDouble / totalByLang("en")
    assert(enShare > 0.3 && enShare < 0.7, s"en share $enShare")
    // kept set is a subset picked by key only: rerun equals first run
    assert(kept.collect().map(_.getLong(0)).toSet ==
      docs.filter(Sampling.stratifiedKeep(col("lang"), col("doc_id"),
        Map("en" -> 0.5, "zh" -> 0.8))).collect().map(_.getLong(0)).toSet)
  }

  test("packBins partitions every doc once and matches a local greedy-offset reference") {
    val budget = 2048L
    val t = GTable(Tables.loadOrdered(spark, sf, "documents"))
    val bins = Sampling.packBins(t, "doc_id",
      size(TextAnalysis.tokens(col("text"))), budget)
      .orderBy("bin").collect()
    val local = Tables.loadOrdered(spark, sf, "documents")
      .select(col("doc_id"), size(TextAnalysis.tokens(col("text"))).cast("long").as("tok"))
      .orderBy(col(graft.core.Natural.rid))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // local reference: exclusive prefix offset over natural order
    var pref = 0L
    val expect = local.map { case (id, tok) =>
      val bin = pref / budget
      pref += tok
      (bin, id, tok)
    }
    val expBins = expect.groupBy(_._1).map { case (b, rows) =>
      b -> (rows.length.toLong, rows.map(_._3).sum, rows.head._2, rows.last._2)
    }
    assert(bins.length == expBins.size)
    bins.foreach { r =>
      val (n, tok, first, last) = expBins(r.getLong(0))
      assert(r.getLong(1) == n && r.getLong(2) == tok &&
        r.getLong(3) == first && r.getLong(4) == last,
        s"bin ${r.getLong(0)} mismatch")
    }
    assert(bins.map(_.getLong(1)).sum == local.length, "every doc in exactly one bin")
  }

  test("null keys are assigned deterministically, never dropped") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(Some(1L), Some(2L), None).toDF("id")
      .withColumn("split", Sampling.split(col("id"),
        Seq("train" -> 8, "val" -> 1, "test" -> 1)))
    // totality: the null-id row still lands in a named share
    assert(df.filter(col("split").isNull).count() == 0)
    // stratifiedKeep with fraction 1.0 must keep the null-key row
    val kept = Seq((Some(1L), "en"), (None, "en")).toDF("id", "lang")
      .filter(Sampling.stratifiedKeep(col("lang"), col("id"), Map("en" -> 1.0)))
    assert(kept.count() == 2)
  }

  test("mixWeighted multiplicity ≈ weight, deterministic under repartitioning") {
    val weights = Map("en" -> 2.5, "zh" -> 0.3)
    val mixed = Sampling.mixWeighted(docs, col("lang"), col("doc_id"), weights)
    val byLang = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val mixedByLang = mixed.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((lang, base) <- byLang) {
      val w = weights.getOrElse(lang, 1.0)
      val got = mixedByLang.getOrElse(lang, 0L).toDouble
      // hash-bucket fractional copies: expected w·base, generous slack
      assert(math.abs(got - w * base) <= math.max(0.25 * w * base, 8.0),
        s"$lang: expected ≈${w * base}, got $got")
    }
    // per-row copy counts must not depend on partitioning
    val a = mixed.groupBy("doc_id").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val b = Sampling.mixWeighted(docs.repartition(7), col("lang"),
        col("doc_id"), weights)
      .groupBy("doc_id").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(a == b)
    // weight 0 drops the stratum entirely
    val none = Sampling.mixWeighted(docs, col("lang"), col("doc_id"),
      Map("en" -> 0.0), default = 0.0)
    assert(none.count() == 0)
  }

  test("shuffled is a deterministic permutation ordered by the md5 key") {
    val s1 = Sampling.shuffled(docs, col("doc_id"), "42")
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val s2 = Sampling.shuffled(docs.repartition(7), col("doc_id"), "42")
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(s1 == s2, "same seed must give the same order on any partitioning")
    assert(s1.sorted == docs.select("doc_id").collect().map(_.getLong(0)).toSeq.sorted,
      "shuffle must be a permutation")
    val s3 = Sampling.shuffled(docs, col("doc_id"), "43")
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(s1 != s3, "a different seed must give a different order")
  }

  test("reservoirK: exactly min(k, |stratum|) rows per stratum, deterministic") {
    val k = 7
    val r = Sampling.reservoirK(GTable(docs), Seq("lang"), col("doc_id"), k, "1")
    val counts = r.groupBy("lang").count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    val base = docs.groupBy("lang").count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    for ((lang, n) <- base)
      assert(counts(lang) == math.min(k.toLong, n), s"$lang: ${counts.get(lang)}")
    val a = r.select("doc_id").collect().map(_.getLong(0)).toSet
    val b = Sampling.reservoirK(GTable(docs.repartition(5)), Seq("lang"),
        col("doc_id"), k, "1")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b, "reservoir must not depend on partitioning")
  }

  test("reservoirK keeps a null stratum: min(k, |stratum|) rows") {
    val k = 7
    // a null stratum smaller than k, and one larger
    val d = docs.withColumn("lang", when(col("doc_id") % 100 === 0, lit(null))
      .otherwise(col("lang")))
      .withColumn("src", when(col("doc_id") % 3 === 0, lit(null)).otherwise(lit("web")))
    for (strata <- Seq("lang", "src")) {
      val r = Sampling.reservoirK(GTable(d), Seq(strata), col("doc_id"), k, "1")
      def sizes(f: org.apache.spark.sql.DataFrame) = f.groupBy(strata).count().collect()
        .map(x => Option(x.getString(0)) -> x.getLong(1)).toMap
      val base = sizes(d)
      assert(base.contains(None))
      assert(sizes(r) == base.map { case (s, n) => s -> math.min(k.toLong, n) },
        s"$strata: ${sizes(r)} from $base")
    }
  }

  test("token-budget head: coverage, cut point, and decomposition invariance") {
    val tok = size(TextAnalysis.tokens(col("text")))
    val budget = 300L
    val head = Sampling.takeTokenBudget(docs, "doc_id", tok, budget, "9")
      .withColumn("_tok", tok.cast("long"))
      .select("doc_id", "shuffle_key", "tokens_before", "_tok")
      .collect().sortBy(_.getString(1))
    assert(head.nonEmpty)
    // the cut is after the crossing document: every kept doc STARTS inside
    // the budget, the total covers >= budget, and dropping the last kept
    // doc falls back under it
    assert(head.forall(_.getLong(2) < budget))
    val total = head.map(_.getLong(3)).sum
    assert(total >= budget, s"head covers $total < $budget")
    assert(total - head.last.getLong(3) < budget, "cut came one doc late")
    // tokens_before is the exact exclusive running total in stream order
    head.foldLeft(0L) { (acc, r) =>
      assert(r.getLong(2) == acc, s"tokens_before drifted at ${r.getLong(0)}")
      acc + r.getLong(3)
    }
    // the block decomposition is invisible: any blockChars, any input
    // partitioning, same head
    val ids = head.map(_.getLong(0)).toSeq
    for (bc <- Seq(1, 2, 5)) {
      val again = Sampling.takeTokenBudget(docs.repartition(7), "doc_id",
          tok, budget, "9", blockChars = bc)
        .orderBy("shuffle_key").collect().map(_.getLong(0)).toSeq
      assert(again == ids, s"head changed under blockChars=$bc")
    }
    // a budget past the corpus keeps everything; seed changes the order
    assert(Sampling.takeTokenBudget(docs, "doc_id", tok, 10_000_000L, "9")
      .count() == docs.count())
    val other = Sampling.takeTokenBudget(docs, "doc_id", tok, budget, "10")
      .orderBy("shuffle_key").collect().map(_.getLong(0)).toSeq
    assert(other != ids, "seed must reshuffle the stream")
  }

  test("token-budget head: null/negative counts contribute zero tokens") {
    import spark.implicits._
    val d = Seq((1L, java.lang.Long.valueOf(5L)), (2L, null: java.lang.Long),
      (3L, java.lang.Long.valueOf(-7L)), (4L, java.lang.Long.valueOf(5L)),
      (5L, java.lang.Long.valueOf(5L))).toDF("doc_id", "n")
    val head = Sampling.takeTokenBudget(d, "doc_id", col("n"), 10L, "0")
      .select("doc_id", "tokens_before").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // null/negative rows ride along at zero width rather than being dropped
    // or poisoning the running sum; the head still covers 10 real tokens
    assert(head.values.forall(_ < 10L))
    assert(head.size >= 2)
  }

  test("int8 quantization bounds and reconstruction error") {
    val q = embs.select(col("vec_id"), col("embedding"),
      Similarity.quantizeInt8(col("embedding")).as("z"))
    // bounds: |q_i| <= 127
    val outOfRange = q.filter(exists(col("z.q"),
      x => abs(x) > 127)).count()
    assert(outOfRange == 0)
    // reconstruction: |x - q*scale/127| <= scale/127 * 0.5 + eps per component
    val bad = q.filter(exists(
      zip_with(col("embedding"), col("z.q"),
        (x, qi) => abs(x.cast("double") - qi * col("z.scale") / 127.0)),
      err => err > col("z.scale") / 127.0 * 0.5 + lit(1e-9))).count()
    assert(bad == 0, "reconstruction error exceeds half a quantization step")
  }
}
