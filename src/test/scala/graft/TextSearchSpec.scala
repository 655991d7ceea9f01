package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.{TextAnalysis, TextSearch}

/** Inverted text index: probe answers must equal full-scan answers exactly,
  * maintenance (append/compact) must be answer-preserving, and probes must
  * read only the bucket directories the query terms hash to. */
class TextSearchSpec extends SparkSpec {

  private def docs = Tables.load(spark, sf, "documents")

  /** Full-scan reference: ids of docs whose whitespace-token set matches at
    * least `minMatch` of `terms` (0 → all). */
  private def scanIds(corpus: DataFrame, terms: Seq[String],
                      minMatch: Int = 0): Set[Long] = {
    val need = if (minMatch <= 0 || minMatch > terms.size) terms.size else minMatch
    corpus.select(col("doc_id"),
        explode(array_distinct(TextAnalysis.tokens(col("text")))).as("t"))
      .filter(col("t").isin(terms: _*))
      .groupBy("doc_id").agg(countDistinct("t").as("n"))
      .filter(col("n") >= need)
      .collect().map(_.getLong(0)).toSet
  }

  private def probedIds(df: DataFrame): Set[Long] =
    df.collect().map(_.getLong(0)).toSet

  /** Corpus stats as the sidecar of a build or an append defines them:
    * (rows whose text has a non-blank token, their summed token count). */
  private def corpusStats(corpus: DataFrame): (Long, Long) = {
    val r = corpus.select(TextAnalysis.tokens(col("text")).as("a"))
      .filter(col("a").isNotNull && size(filter(col("a"), t => length(t) > 0)) > 0)
      .agg(count(lit(1)), coalesce(sum(size(col("a")).cast("long")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Corpus stats as compaction recounts them: one document per id with a
    * non-blank token, at its longest token count. */
  private def perIdStats(corpus: DataFrame): (Long, Long) = {
    val r = corpus.select(col("doc_id"), TextAnalysis.tokens(col("text")).as("a"))
      .filter(col("a").isNotNull && size(filter(col("a"), t => length(t) > 0)) > 0)
      .groupBy("doc_id").agg(max(size(col("a"))).cast("long").as("l"))
      .agg(count(lit(1)), coalesce(sum(col("l")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Full-scan phrase reference: a doc id's positions of a term are the
    * union over its rows (the index's rule for a doc id indexed twice). */
  private def scanPhrase(corpus: DataFrame, phrase: Seq[String]): Set[Long] = {
    val pos = corpus.select(col("doc_id"),
        posexplode(TextAnalysis.tokens(col("text"))).as(Seq("p", "t")))
      .filter(col("t").isin(phrase: _*)).distinct().collect()
      .groupBy(r => (r.getLong(0), r.getString(2)))
      .map { case (k, rs) => k -> rs.map(_.getInt(1)).toSet }
    pos.keySet.map(_._1).filter { id =>
      pos.getOrElse((id, phrase.head), Set.empty[Int]).exists(p =>
        phrase.indices.forall(i => pos.get((id, phrase(i))).exists(_(p + i))))
    }
  }

  /** Full-scan Okapi recompute (the spec's independent BM25 reference).
    * A doc id indexed twice is one document to the index: its tf is the
    * count of DISTINCT positions over its rows and its length the longest
    * of its rows holding the term. N/avgdl default to [[corpusStats]]. */
  private def bruteTopK(corpus: DataFrame, terms: Seq[String], k: Int,
                        stats: Option[(Long, Long)] = None): Seq[(Long, Double)] = {
    val toks = corpus.select(col("doc_id"),
      TextAnalysis.tokens(col("text")).as("a"))
    val (docsN, totalLen) = stats.getOrElse(corpusStats(corpus))
    val (n, avgdl) = (docsN, totalLen.toDouble / docsN)
    val tf = toks.select(col("doc_id"), size(col("a")).as("dl"),
        posexplode(col("a")).as(Seq("p", "term")))
      .filter(col("term").isin(terms: _*))
      .groupBy("doc_id", "term")
      .agg(countDistinct(col("p")).as("tf"), max(col("dl")).as("dl"))
    val dfs = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val contrib = log(lit(1.0) + (lit(n.toDouble) - col("df") + 0.5) /
        (col("df") + 0.5)) * (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / avgdl))
    tf.join(broadcast(dfs), Seq("term"))
      .groupBy("doc_id").agg(round(sum(contrib), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc).limit(k)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
  }

  test("AND / OR / at-least-m probes equal the full-scan answers") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tx_spec").toString
    val idx = TextSearch.textIndexBuild(docs, "text", "doc_id", s"$dir/ix",
      buckets = 32)
    val and2 = Seq("join", "filter")
    assert(probedIds(TextSearch.searchIds(idx, and2)) == scanIds(docs, and2))
    val or3 = Seq("scan", "batch", "row")
    assert(probedIds(TextSearch.searchIds(idx, or3, minMatch = 1)) ==
      scanIds(docs, or3, minMatch = 1))
    assert(probedIds(TextSearch.searchIds(idx, or3, minMatch = 2)) ==
      scanIds(docs, or3, minMatch = 2))
    // duplicated / mixed-case / padded request terms normalize away
    assert(probedIds(TextSearch.searchIds(idx, Seq("Join", "FILTER ", "join"))) ==
      scanIds(docs, and2))
    // a term absent from the corpus: OR ignores it, AND empties
    assert(probedIds(TextSearch.searchIds(idx, Seq("join", "zzzznope"),
      minMatch = 1)) == scanIds(docs, Seq("join"), minMatch = 1))
    assert(TextSearch.searchIds(idx, Seq("join", "zzzznope")).isEmpty)
    // full-row search carries the corpus columns
    val rows = TextSearch.search(idx, docs, and2)
    assert(rows.columns.toSeq == docs.columns.toSeq)
    assert(probedIds(rows.select("doc_id")) == scanIds(docs, and2))
    intercept[IllegalArgumentException] {
      TextSearch.searchIds(idx, Seq("  ", ""))
    }
  }

  test("probe reads only the bucket dirs the terms hash to") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tx_dirs").toString
    val idx = TextSearch.textIndexBuild(docs, "text", "doc_id", s"$dir/ix",
      buckets = 64)
    val terms = Seq("join", "filter")
    val expected = TextSearch.termBuckets(terms, 64).map(b => s"_tb=$b").toSet
    // the bucket dirs the build wrote these terms' postings into
    val written = spark.read.parquet(idx.path).filter(col("term").isin(terms: _*))
      .select("_tb").distinct().collect().map(r => s"_tb=${r.getInt(0)}").toSet
    assert(written == expected, s"build wrote $written, probe hashes to $expected")
    val files = TextSearch.searchIds(idx, terms).inputFiles
    assert(files.nonEmpty)
    val touched = files.map { f =>
      f.split("/").find(_.startsWith("_tb=")).getOrElse(fail(s"no _tb dir in $f"))
    }.toSet
    assert(touched.subsetOf(expected),
      s"probe touched $touched beyond the term buckets $expected")
  }

  test("append + compact answer a segmented corpus like a fresh build") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tx_life").toString
    val first = docs.filter(col("doc_id") % 2 === 0)
    val second = docs.filter(col("doc_id") % 2 === 1)
    val idx = TextSearch.textIndexBuild(first, "text", "doc_id", s"$dir/seg",
      buckets = 16)
    TextSearch.textIndexAppend(idx, second, "text")
    // replayed append: duplicate postings must not change any answer
    TextSearch.textIndexAppend(idx, second, "text")
    val fresh = TextSearch.textIndexBuild(docs, "text", "doc_id", s"$dir/mono",
      buckets = 16)
    val terms = Seq("scan", "batch", "row")
    for (m <- Seq(0, 1, 2)) {
      val seg = probedIds(TextSearch.searchIds(idx, terms, m))
      assert(seg == probedIds(TextSearch.searchIds(fresh, terms, m)),
        s"segmented != fresh at minMatch=$m")
      assert(seg == scanIds(docs, terms, m))
    }
    val before = graft.operators.IndexMaint.dataFileCount(spark, idx.path)
    TextSearch.textIndexCompact(idx)
    val after = graft.operators.IndexMaint.dataFileCount(spark, idx.path)
    assert(after < before, s"compact did not shrink the file census ($before -> $after)")
    for (m <- Seq(0, 1, 2))
      assert(probedIds(TextSearch.searchIds(idx, terms, m)) ==
        scanIds(docs, terms, m), s"compacted answers drifted at minMatch=$m")
    // torn compaction swap (path renamed away, crash before tmp lands):
    // the next probe on a WARM handle must heal and answer, not return empty
    val p = new org.apache.hadoop.fs.Path(idx.path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(p, new org.apache.hadoop.fs.Path(s"${idx.path}_old")))
    assert(probedIds(TextSearch.searchIds(idx, terms)) == scanIds(docs, terms),
      "probe did not heal a torn swap")
  }

  test("phrase search equals a positional full-scan recompute") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tx_phrase").toString
    val idx = TextSearch.textIndexBuild(docs, "text", "doc_id", s"$dir/ix",
      buckets = 32)
    for (phrase <- Seq(Seq("table", "hash"), Seq("merge", "group"),
        Seq("customer", "join", "filter"))) {
      val got = probedIds(TextSearch.phraseIds(idx, phrase))
      assert(got == scanPhrase(docs, phrase), s"phrase $phrase diverged")
    }
    // adjacency matters: a phrase whose terms co-occur but never adjacently
    val coOccur = probedIds(TextSearch.searchIds(idx, Seq("hash", "table")))
    val adjacent = probedIds(TextSearch.phraseIds(idx, Seq("hash", "table")))
    assert(adjacent.subsetOf(coOccur))
    assert(adjacent == scanPhrase(docs, Seq("hash", "table")))
    // repeated-term phrase consults the same position set at both offsets
    import spark.implicits._
    val rep = Seq((1L, "the the end"), (2L, "the end the")).toDF("doc_id", "text")
    val repIx = TextSearch.textIndexBuild(rep, "text", "doc_id", s"$dir/rep",
      buckets = 4)
    assert(probedIds(TextSearch.phraseIds(repIx, Seq("the", "the"))) == Set(1L))
    // unknown term empties; blank term refused
    assert(TextSearch.phraseIds(idx, Seq("table", "zzzznope")).isEmpty)
    intercept[IllegalArgumentException] {
      TextSearch.phraseIds(idx, Seq("table", " "))
    }
    // membership searches read the same tree
    assert(probedIds(TextSearch.searchIds(idx, Seq("join", "filter"))) ==
      scanIds(docs, Seq("join", "filter")))
  }

  test("BM25 ranked retrieval equals a full-scan recompute; ranking properties hold") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tx_bm25").toString
    val idx = TextSearch.textIndexBuild(docs, "text", "doc_id", s"$dir/ix",
      buckets = 32)
    val terms = Seq("join", "filter", "hash")
    // full-scan recompute of the same Okapi formula over raw text
    val toks = docs.select(col("doc_id"),
      TextAnalysis.tokens(col("text")).as("a"))
    val stats = toks.filter(col("a").isNotNull)
      .agg(count(lit(1)), sum(size(col("a")).cast("long"))).head()
    val (n, avgdl) = (stats.getLong(0), stats.getLong(1).toDouble / stats.getLong(0))
    val tf = toks.select(col("doc_id"), size(col("a")).as("dl"),
        explode(col("a")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy("doc_id", "term", "dl").agg(count(lit(1)).as("tf"))
    val dfs = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val contrib = log(lit(1.0) + (lit(n.toDouble) - col("df") + 0.5) /
        (col("df") + 0.5)) * (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / avgdl))
    val expected = tf.join(broadcast(dfs), Seq("term"))
      .groupBy("doc_id").agg(round(sum(contrib), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc).limit(10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val got = TextSearch.rankedSearch(idx, terms, k = 10)
      .orderBy("rank")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == expected, s"BM25 diverged:\n got $got\n exp $expected")
    // a doc must beat another that matches strictly fewer of the terms
    // (same-ish length corpus; spot-check the extremes of the ranking)
    assert(got.head._2 >= got.last._2)
    // contract checks
    intercept[IllegalArgumentException] {
      TextSearch.rankedSearch(idx, terms, 0)
    }
    // unknown terms only: empty ranking, not an error
    assert(TextSearch.rankedSearch(idx, Seq("zzzznope"), 5).isEmpty)
    // append maintains the sidecar stats (docs/totalLen grow)
    import spark.implicits._
    val seg = Seq((100000L, "join filter hash join")).toDF("doc_id", "text")
    val idx2 = TextSearch.textIndexAppend(idx, seg, "text")
    assert(idx2.docs == idx.docs + 1 && idx2.totalLen == idx.totalLen + 4)
    // the new doc matches all three terms with tf 2 on one of them — it
    // must enter the top-k of the updated index
    val after = TextSearch.rankedSearch(idx2, terms, k = 5)
      .collect().map(_.getLong(0)).toSet
    assert(after.contains(100000L), s"appended doc missing from top-k: $after")
    // a replayed append double-counts stats (documented at-least-once
    // drift); compaction recounts them exactly from the deduplicated tree
    val idx3 = TextSearch.textIndexAppend(idx2, seg, "text")
    assert(idx3.docs == idx2.docs + 1, "replayed append drifts stats by design")
    val healed = TextSearch.textIndexCompact(idx3)
    assert(healed.docs == idx2.docs && healed.totalLen == idx2.totalLen,
      s"compaction must recount stats exactly, got $healed vs $idx2")
    assert(TextSearch.rankedSearch(healed, terms, k = 5)
      .collect().map(_.getLong(0)).toSet.contains(100000L))
  }

  test("concurrent superset growths never double-append: stats match a fresh build") {
    // two requests race with DIFFERENT supersets of the served corpus
    // (gen1 ⊂ gen2 ⊂ gen3): without the per-index growth lock both read
    // the gen1 lineage and both append their overlap — gen2's files land
    // twice and the sidecar double-counts. Whatever interleaving runs,
    // the final full-corpus index must carry exactly a fresh build's
    // stats and answers.
    val dir = java.nio.file.Files.createTempDirectory("graft_tx_conc").toString
    val corpusDir = s"$dir/corpus"
    TextSearch.invalidateAllTextIndexes()
    docs.filter(col("doc_id") < 200).write.parquet(corpusDir)
    TextSearch.textIndexFor(spark.read.parquet(corpusDir), "spec/conc",
      "text", "doc_id", s"$dir/ix", buckets = 16)
    docs.filter(col("doc_id") >= 200 && col("doc_id") < 300)
      .write.mode("append").parquet(corpusDir)
    val gen2 = spark.read.parquet(corpusDir) // file listing frozen at gen2
    docs.filter(col("doc_id") >= 300 && col("doc_id") < 400)
      .write.mode("append").parquet(corpusDir)
    val gen3 = spark.read.parquet(corpusDir)
    val latch = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val racing = Seq(gen2, gen3).map(g => pool.submit(
        new java.util.concurrent.Callable[TextSearch.TextIndex] {
          def call(): TextSearch.TextIndex = {
            latch.await()
            TextSearch.textIndexFor(g, "spec/conc", "text", "doc_id",
              s"$dir/ix", buckets = 16)
          }
        }))
      latch.countDown()
      racing.foreach(_.get())
    } finally pool.shutdown()
    val iFinal = TextSearch.textIndexFor(gen3, "spec/conc", "text", "doc_id",
      s"$dir/ix", buckets = 16)
    val fresh = TextSearch.textIndexBuild(gen3, "text", "doc_id",
      s"$dir/fresh", buckets = 16)
    assert(iFinal.docs == fresh.docs && iFinal.totalLen == fresh.totalLen,
      s"concurrent growth corrupted stats: $iFinal vs $fresh")
    assert(TextSearch.rankedSearch(iFinal, Seq("join", "filter"), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      TextSearch.rankedSearch(fresh, Seq("join", "filter"), 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
  }

  test("BM25 scores are bit-stable across shuffle partitioning") {
    // the deterministic reduction (sorted per-doc term fold) must yield
    // byte-identical scores whatever the partition count — the round-10
    // ADVICE rounding-boundary flake window. Each partition count runs in
    // its OWN newSession (separate SQLConf over the shared context):
    // suites run in parallel against one JVM-wide session, so mutating
    // the shared conf here would leak into concurrent streaming tests —
    // the exact shared-knob hazard this round removed from the operators.
    val dir = java.nio.file.Files.createTempDirectory("graft_tx_det").toString
    val idx = TextSearch.textIndexBuild(docs, "text", "doc_id", s"$dir/ix",
      buckets = 32)
    val terms = Seq("join", "filter", "hash", "table")
    def run(): Seq[(Long, Double, Long)] =
      TextSearch.rankedSearch(idx, terms, k = 25).orderBy("rank")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    val base = run()
    val active0 = org.apache.spark.sql.SparkSession.getActiveSession
    try {
      for (p <- Seq("1", "7", "64")) {
        val s2 = spark.newSession()
        s2.conf.set("spark.sql.shuffle.partitions", p)
        org.apache.spark.sql.SparkSession.setActiveSession(s2)
        assert(run() == base, s"BM25 ranking drifted at shuffle.partitions=$p")
      }
    } finally active0.foreach(
      org.apache.spark.sql.SparkSession.setActiveSession)
  }

  test("merged shard indexes answer like a monolithic build") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tx_merge").toString
    val shardA = docs.filter(col("doc_id") % 3 === 0)
    val shardB = docs.filter(col("doc_id") % 3 =!= 0)
    val a = TextSearch.textIndexBuild(shardA, "text", "doc_id", s"$dir/a",
      buckets = 16)
    val b = TextSearch.textIndexBuild(shardB, "text", "doc_id", s"$dir/b",
      buckets = 16)
    val merged = TextSearch.textIndexMerge(a, b, s"$dir/m")
    val mono = TextSearch.textIndexBuild(docs, "text", "doc_id", s"$dir/mono",
      buckets = 16)
    val terms = Seq("join", "filter", "scan")
    for (m <- Seq(0, 1, 2))
      assert(probedIds(TextSearch.searchIds(merged, terms, m)) ==
        probedIds(TextSearch.searchIds(mono, terms, m)),
        s"merged != monolithic at minMatch=$m")
    // the merged tree is a first-class index: sidecar re-openable
    TextSearch.invalidateAllTextIndexes()
    val reopened = graft.operators.Similarity
      .readMeta[TextSearch.TextIndex](spark, merged.path)
    assert(reopened.contains(merged))
    // geometry mismatches fail loudly instead of mis-bucketing silently
    val odd = TextSearch.textIndexBuild(shardA, "text", "doc_id", s"$dir/odd",
      buckets = 8)
    intercept[IllegalArgumentException] {
      TextSearch.textIndexMerge(odd, b, s"$dir/m2")
    }
  }

  test("textIndexFor re-opens the sidecar instead of rebuilding") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tx_cache").toString
    val before = TextSearch.textBuildCount.get()
    val a = TextSearch.textIndexFor(docs, "spec-docs", "text", "doc_id", dir)
    assert(TextSearch.textBuildCount.get() == before + 1)
    // same key: served from the in-memory cache
    val b = TextSearch.textIndexFor(docs, "spec-docs", "text", "doc_id", dir)
    assert(b eq a)
    // restart simulation: cache cleared, sidecar re-opened — no rebuild
    TextSearch.invalidateAllTextIndexes()
    val c = TextSearch.textIndexFor(docs, "spec-docs", "text", "doc_id", dir)
    assert(TextSearch.textBuildCount.get() == before + 1)
    assert(c == a)
    assert(probedIds(TextSearch.searchIds(c, Seq("join"))) ==
      scanIds(docs, Seq("join")))
  }

  test("null texts are unindexed; blank tokens never indexed") {
    import spark.implicits._
    val d = Seq((1L, "alpha beta"), (2L, null), (3L, "   "), (4L, "beta"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_tx_null").toString
    val idx = TextSearch.textIndexBuild(d, "text", "doc_id", s"$dir/ix",
      buckets = 4)
    assert(probedIds(TextSearch.searchIds(idx, Seq("beta"))) == Set(1L, 4L))
    val stored = spark.read.schema(idx.schema).parquet(idx.path)
    assert(stored.filter(length(col("term")) === 0).isEmpty)
    assert(stored.filter(col("id") === 2L).isEmpty)
  }

  test("max-score pruning is exact on adversarial rare/common corpora") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tx_prune").toString

    // tiny corpora: pruneMinRows = 1 drops the volume bar so the pruning
    // path is exercised (explicit parameter, not session conf — no
    // concurrent query can observe it)
    def rankedPairs(idx: TextSearch.TextIndex, terms: Seq[String], k: Int) =
      TextSearch.rankedSearch(idx, terms, k, pruneMinRows = 1L).orderBy("rank")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

    // A: a rare term whose docs dominate — pruning must TRIGGER and the
    // all-tied candidate set must cut on the id tie-break exactly
    val a = ((1L to 5L).map(i => (i, "r c c")) ++
      (100L to 129L).map(i => (i, "c c c"))).toDF("doc_id", "text")
    val ixA = TextSearch.textIndexBuild(a, "text", "doc_id", s"$dir/a",
      buckets = 8)
    val before = TextSearch.pruneHitCount.get()
    val gotA = rankedPairs(ixA, Seq("r", "c"), k = 2)
    assert(TextSearch.pruneHitCount.get() == before + 1,
      "rare/common split must take the pruned path")
    assert(gotA == bruteTopK(a, Seq("r", "c"), 2), s"pruned diverged: $gotA")
    assert(gotA.map(_._1) == Seq(1L, 2L), "tie must cut on smallest ids")

    // B: the ADVERSARIAL shape — docs WITHOUT the rare term belong in the
    // top-k (two common terms jointly outscore the long, weak rare docs),
    // so the verification must reject the candidate top-k and fall back
    // to exact full scoring. Pruning here would return the WRONG docs.
    val pad = (1 to 300).map(_ => "x").mkString(" ")
    val bDf = ((1L to 50L).map(i => (i, s"r $pad")) ++
      (101L to 300L).map(i => (i, ("c d " * 12).trim)) ++
      Seq((400L, ("c d " * 100).trim))).toDF("doc_id", "text")
    val ixB = TextSearch.textIndexBuild(bDf, "text", "doc_id", s"$dir/b",
      buckets = 8)
    val before2 = TextSearch.pruneHitCount.get()
    val gotB = rankedPairs(ixB, Seq("r", "c", "d"), k = 3)
    assert(TextSearch.pruneHitCount.get() == before2,
      "candidate top-k cannot verify here; fallback required")
    assert(gotB == bruteTopK(bDf, Seq("r", "c", "d"), 3),
      s"fallback diverged: $gotB")
    assert(gotB.map(_._1) == Seq(400L, 101L, 102L),
      "common-term docs must win — pruning them would be a wrong answer")
  }

  test("textIndexFor: append-only growth appends the delta; GC sweeps orphans") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tx_life2").toString
    val corpusDir = s"$dir/corpus"
    val ixDir = s"$dir/ix"
    TextSearch.invalidateAllTextIndexes()
    docs.filter(col("doc_id") % 2 === 0)
      .write.mode("overwrite").parquet(corpusDir)
    val builds0 = TextSearch.textBuildCount.get()
    val appends0 = TextSearch.textDeltaAppendCount.get()
    val c1 = spark.read.parquet(corpusDir)
    val gen1Files = c1.inputFiles.toSeq // frozen pre-growth listing
    val i1 = TextSearch.textIndexFor(c1, "spec/growth", "text", "doc_id",
      ixDir, buckets = 16)
    assert(TextSearch.textBuildCount.get() == builds0 + 1)
    // append-only growth: new files land, old files untouched
    docs.filter(col("doc_id") % 2 === 1)
      .write.mode("append").parquet(corpusDir)
    val c2 = spark.read.parquet(corpusDir)
    val i2 = TextSearch.textIndexFor(c2, "spec/growth", "text", "doc_id",
      ixDir, buckets = 16)
    assert(TextSearch.textBuildCount.get() == builds0 + 1,
      "append-only growth must NOT rebuild")
    assert(TextSearch.textDeltaAppendCount.get() == appends0 + 1,
      "append-only growth must take the delta-append path")
    assert(i2.path == i1.path, "the grown corpus reuses the existing tree")
    // the appended tree answers exactly like a fresh build of the full corpus
    val fresh = TextSearch.textIndexBuild(c2, "text", "doc_id", s"$dir/fresh",
      buckets = 16)
    for (terms <- Seq(Seq("join", "filter"), Seq("scan", "batch", "row")))
      assert(probedIds(TextSearch.searchIds(i2, terms, 1)) ==
        probedIds(TextSearch.searchIds(fresh, terms, 1)), s"grown != fresh for $terms")
    assert(TextSearch.rankedSearch(i2, Seq("join", "filter"), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      TextSearch.rankedSearch(fresh, Seq("join", "filter"), 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    // a repeat request is a pure cache hit
    TextSearch.textIndexFor(c2, "spec/growth", "text", "doc_id",
      ixDir, buckets = 16)
    assert(TextSearch.textBuildCount.get() == builds0 + 1 &&
      TextSearch.textDeltaAppendCount.get() == appends0 + 1)
    // a STALE pre-growth reader (its frame lists only gen-1's files)
    // re-opens the grown tree — the superset answer is the family's
    // at-least-once contract — and must NOT regress the lineage: were
    // its older file set written back, the NEXT growth would re-append
    // gen-2's files and double-count docs/totalLen in the sidecar
    val stale = spark.read.parquet(gen1Files: _*)
    val iStale = TextSearch.textIndexFor(stale, "spec/growth", "text",
      "doc_id", ixDir, buckets = 16)
    assert(iStale.path == i2.path && iStale.docs == i2.docs,
      "stale reader must see the grown (superset) tree")
    // grow again with genuinely new docs: the delta must be ONLY them
    docs.filter(col("doc_id") % 2 === 1)
      .withColumn("doc_id", col("doc_id") + 1000000L)
      .write.mode("append").parquet(corpusDir)
    val cFull = spark.read.parquet(corpusDir)
    val iFull = TextSearch.textIndexFor(cFull, "spec/growth", "text",
      "doc_id", ixDir, buckets = 16)
    assert(TextSearch.textBuildCount.get() == builds0 + 1 &&
      TextSearch.textDeltaAppendCount.get() == appends0 + 2,
      "third generation must still delta-append, not rebuild")
    val fresh3 = TextSearch.textIndexBuild(cFull, "text", "doc_id",
      s"$dir/fresh3", buckets = 16)
    assert(iFull.docs == fresh3.docs && iFull.totalLen == fresh3.totalLen,
      "a regressed lineage would have re-appended gen-2 and inflated stats")
    // a REWRITTEN corpus (not a superset) rebuilds at a fresh path,
    // stranding the old tree — the GC sweep's job
    docs.filter(col("doc_id") % 3 === 0)
      .write.mode("overwrite").parquet(corpusDir)
    val c3 = spark.read.parquet(corpusDir)
    val i3 = TextSearch.textIndexFor(c3, "spec/growth", "text", "doc_id",
      ixDir, buckets = 16)
    assert(TextSearch.textBuildCount.get() == builds0 + 2)
    assert(i3.path != i1.path)
    def trees(): Set[String] = {
      val f = new java.io.File(ixDir)
      // `_`-prefixed entries are bookkeeping (the persisted lineage blobs),
      // not index trees
      Option(f.list()).map(_.filterNot(_.startsWith("_")).toSet)
        .getOrElse(Set.empty)
    }
    assert(trees().size == 2, s"expected live + orphan, got ${trees()}")
    // restart simulation: only the current corpus is re-requested, the old
    // fingerprint never resolves again → its tree is the orphan
    TextSearch.invalidateAllTextIndexes()
    TextSearch.textIndexFor(c3, "spec/growth", "text", "doc_id",
      ixDir, buckets = 16)
    val removed = TextSearch.textIndexGc(spark, ixDir, graceMs = 0L)
    assert(removed.size == 1, s"GC must sweep exactly the orphan, got $removed")
    assert(trees() == Set(i3.path.split("/").last))
    // the live tree still answers after the sweep
    assert(probedIds(TextSearch.searchIds(i3, Seq("join"), 1)).nonEmpty)
    // a second sweep is a no-op
    assert(TextSearch.textIndexGc(spark, ixDir, graceMs = 0L).isEmpty)
    // path-spelling robustness: a trailing-slash (or otherwise
    // non-canonical) baseDir must still recognize the LIVE tree — string
    // comparison of s"$baseDir/$root" against the cached path would mark
    // it an orphan and delete the actively served index
    assert(TextSearch.textIndexGc(spark, s"$ixDir/", graceMs = 0L).isEmpty,
      "a trailing-slash baseDir must not orphan the live tree")
    assert(probedIds(TextSearch.searchIds(i3, Seq("join"), 1)).nonEmpty,
      "the live tree must survive a non-canonical-path sweep")
  }

  test("index cache is LRU-bounded; an evicted index re-opens, never rebuilds") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tx_lru").toString
    TextSearch.invalidateAllTextIndexes()
    // shrink the cap live (cacheCap re-reads the property per eviction)
    val prev = sys.props.put("graft.index.cache.max", "2")
    try {
      val builds0 = TextSearch.textBuildCount.get()
      // three distinct logical indexes over the same files: at cap 2, the
      // first (least-recently-touched) must evict
      for (k <- Seq("a", "b", "c"))
        TextSearch.textIndexFor(docs, s"spec/lru-$k", "text", "doc_id",
          s"$dir/ix", buckets = 8)
      assert(TextSearch.textBuildCount.get() == builds0 + 3)
      assert(TextSearch.textCacheSize <= 2,
        s"cache must stay at the cap, got ${TextSearch.textCacheSize}")
      assert(TextSearch.textCacheEvictions >= 1)
      // the evicted index re-opens from its sidecar: buildCount stays flat
      // (the lifecycle contract that makes eviction safe at any moment)
      val re = TextSearch.textIndexFor(docs, "spec/lru-a", "text", "doc_id",
        s"$dir/ix", buckets = 8)
      assert(TextSearch.textBuildCount.get() == builds0 + 3,
        "an evicted-then-re-requested index must re-open, not rebuild")
      assert(TextSearch.rankedSearch(re, Seq("join", "filter"), 5)
        .count() > 0)
    } finally {
      prev match {
        case Some(v) => sys.props.put("graft.index.cache.max", v)
        case None => sys.props.remove("graft.index.cache.max")
      }
      TextSearch.invalidateAllTextIndexes()
    }
  }

  test("evicted and swept served search plans replay their first answers bit for bit") {
    // more distinct filtered search(k:) plans (one logical index each) than
    // the cache holds; the GC then sweeps every evicted tree, so a replay
    // re-opens or rebuilds — and must answer exactly as the first pass
    TextSearch.invalidateAllTextIndexes()
    val prev = sys.props.put("graft.index.cache.max", "2")
    try {
      val service = new graft.graphql.GraphQLService(spark, sf)
      def answer(i: Int): String = service.execute(
        s"""{ documents { f: filter(where: {eq: [{mod: [{name: "doc_id"}, {value: 4}]}, {value: $i}]}) {
          s: search(terms: ["join", "filter"], on: "text", id: "doc_id", k: 5) {
          o: order(by: ["rank"]) { columns { doc_id { values } rank { values } } } } } } }""")
        .replaceAll(""""timing_ms":\{[^}]*\}""", "")
      val first = (0 until 4).map(answer)
      assert(first.forall(r => !r.contains("\"errors\"") && r.contains("\"doc_id\"")),
        first.head)
      assert(first.distinct.size == 4, "each residue class has its own answer")
      assert(TextSearch.textCacheSize <= 2)
      val swept = service.indexGc(graceMs = 0L)
      assert(swept.exists(_.contains("tx_")), s"the sweep took no evicted tree: $swept")
      val trees = new java.io.File(service.indexDir).list().count(_.startsWith("tx_"))
      assert(trees <= 2, s"$trees text trees survive the sweep at cap 2")
      assert((0 until 4).map(answer) == first)
    } finally {
      prev match {
        case Some(v) => sys.props.put("graft.index.cache.max", v)
        case None => sys.props.remove("graft.index.cache.max")
      }
      TextSearch.invalidateAllTextIndexes()
    }
  }

  test("append lineage survives a restart: a fresh JVM delta-appends, not rebuilds") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tx_durl").toString
    val corpusDir = s"$dir/corpus"
    val ixDir = s"$dir/ix"
    TextSearch.invalidateAllTextIndexes()
    docs.filter(col("doc_id") % 2 === 0)
      .write.mode("overwrite").parquet(corpusDir)
    val builds0 = TextSearch.textBuildCount.get()
    val appends0 = TextSearch.textDeltaAppendCount.get()
    val c1 = spark.read.parquet(corpusDir)
    TextSearch.textIndexFor(c1, "spec/durable", "text", "doc_id",
      ixDir, buckets = 16)
    assert(TextSearch.textBuildCount.get() == builds0 + 1)
    // append-only growth lands, then the JVM "restarts" (all in-memory
    // caches and lineage cleared — only the sidecars and the persisted
    // lineage blob survive)
    docs.filter(col("doc_id") % 2 === 1)
      .write.mode("append").parquet(corpusDir)
    TextSearch.invalidateAllTextIndexes()
    val c2 = spark.read.parquet(corpusDir)
    val i2 = TextSearch.textIndexFor(c2, "spec/durable", "text", "doc_id",
      ixDir, buckets = 16)
    assert(TextSearch.textBuildCount.get() == builds0 + 1,
      "a restarted JVM must take the delta-append fast path, not rebuild")
    assert(TextSearch.textDeltaAppendCount.get() == appends0 + 1)
    val fresh = TextSearch.textIndexBuild(c2, "text", "doc_id", s"$dir/fresh",
      buckets = 16)
    assert(i2.docs == fresh.docs && i2.totalLen == fresh.totalLen,
      s"restart-recovered append skewed stats: $i2 vs $fresh")
    assert(TextSearch.rankedSearch(i2, Seq("join", "filter"), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      TextSearch.rankedSearch(fresh, Seq("join", "filter"), 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    // a SECOND restart over the grown (already-appended) corpus re-opens
    // the tree at its first generation's path via the blob — no rebuild,
    // no second delta
    TextSearch.invalidateAllTextIndexes()
    val i2b = TextSearch.textIndexFor(c2, "spec/durable", "text", "doc_id",
      ixDir, buckets = 16)
    assert(TextSearch.textBuildCount.get() == builds0 + 1 &&
      TextSearch.textDeltaAppendCount.get() == appends0 + 1,
      "re-requesting the grown corpus after restart must be a pure re-open")
    assert(i2b.docs == fresh.docs)
    // post-restart STALE reader then growth: the blob seeds the lineage,
    // so the stale request must NOT regress it into a double-append
    TextSearch.invalidateAllTextIndexes()
    val stale = spark.read.parquet(c1.inputFiles.toSeq: _*)
    TextSearch.textIndexFor(stale, "spec/durable", "text", "doc_id",
      ixDir, buckets = 16)
    docs.filter(col("doc_id") % 2 === 1)
      .withColumn("doc_id", col("doc_id") + 1000000L)
      .write.mode("append").parquet(corpusDir)
    val c3 = spark.read.parquet(corpusDir)
    val i3 = TextSearch.textIndexFor(c3, "spec/durable", "text", "doc_id",
      ixDir, buckets = 16)
    val fresh3 = TextSearch.textIndexBuild(c3, "text", "doc_id",
      s"$dir/fresh3", buckets = 16)
    assert(i3.docs == fresh3.docs && i3.totalLen == fresh3.totalLen,
      "a post-restart stale reader regressed the lineage into a double-append")
    TextSearch.invalidateAllTextIndexes()
  }

  test("textIndexAppend with a deterministic segmentId skips replays") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tx_seg").toString
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    val half2 = docs.filter(col("doc_id") % 2 === 1)
    val i1 = TextSearch.textIndexBuild(half1, "text", "doc_id", s"$dir/ix",
      buckets = 16)
    val i2 = TextSearch.textIndexAppend(i1, half2, "text",
      segmentId = "spec-seg-1")
    // replay (retried append, or a second JVM sharing baseDir): skipped
    // wholesale — the sidecar stats must NOT double-count
    val i3 = TextSearch.textIndexAppend(i2, half2, "text",
      segmentId = "spec-seg-1")
    assert(i3.docs == i2.docs && i3.totalLen == i2.totalLen,
      s"replayed append double-counted: $i3 vs $i2")
    // a replay against a STALE pre-append handle returns POST-append stats
    val i4 = TextSearch.textIndexAppend(i1, half2, "text",
      segmentId = "spec-seg-1")
    assert(i4.docs == i2.docs && i4.totalLen == i2.totalLen)
    val fresh = TextSearch.textIndexBuild(docs, "text", "doc_id",
      s"$dir/fresh", buckets = 16)
    assert(i3.docs == fresh.docs && i3.totalLen == fresh.totalLen)
    assert(TextSearch.rankedSearch(i3, Seq("join", "filter"), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      TextSearch.rankedSearch(fresh, Seq("join", "filter"), 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    // a DIFFERENT segment id is a genuine append, not a replay
    val more = docs.filter(col("doc_id") % 2 === 1)
      .withColumn("doc_id", col("doc_id") + 2000000L)
    val i5 = TextSearch.textIndexAppend(i3, more, "text",
      segmentId = "spec-seg-2")
    assert(i5.docs == i3.docs + more.count())
  }

  test("segment markers survive compaction; stale claims are taken over") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tx_seg2").toString
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    val half2 = docs.filter(col("doc_id") % 2 === 1)
    val i1 = TextSearch.textIndexBuild(half1, "text", "doc_id", s"$dir/ix",
      buckets = 16)
    val i2 = TextSearch.textIndexAppend(i1, half2, "text", segmentId = "seg-a")
    // compaction rewrites the tree — the done-markers must ride the swap,
    // or a replayed append afterwards double-counts the recounted sidecar
    val i3 = TextSearch.textIndexCompact(i2)
    val i4 = TextSearch.textIndexAppend(i3, half2, "text", segmentId = "seg-a")
    assert(i4.docs == i3.docs && i4.totalLen == i3.totalLen,
      "replay after compaction double-counted: marker dropped by the rewrite")
    val fs = new org.apache.hadoop.fs.Path(i3.path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a crashed appender's claim (stale mtime, no done-marker): taken over,
    // the append runs, and the claim is cleaned behind the done-marker
    val more = half2.withColumn("doc_id", col("doc_id") + 3000000L)
    val claim = new org.apache.hadoop.fs.Path(s"${i3.path}/_gq_claim_seg-b")
    fs.create(claim, true).close()
    fs.setTimes(claim, System.currentTimeMillis() - 3600000L, -1)
    val i5 = TextSearch.textIndexAppend(i4, more, "text", segmentId = "seg-b")
    assert(i5.docs == i4.docs + more.count(), "stale claim not taken over")
    assert(!fs.exists(claim), "claim must be cleaned after the append")
    assert(fs.exists(
      new org.apache.hadoop.fs.Path(s"${i3.path}/_gq_seg_seg-b")))
    // done-marker + lingering claim (a crash between the marker write and
    // the claim delete): the replay skips wholesale and cleans the claim
    fs.create(claim, true).close()
    val i6 = TextSearch.textIndexAppend(i5, more, "text", segmentId = "seg-b")
    assert(i6.docs == i5.docs && !fs.exists(claim),
      "replay with a lingering claim must skip and clean it")
  }

  test("stats fold into the persisted sidecar, not the caller's handle") {
    // appenders of DIFFERENT segments hold different claims, so nothing
    // serializes their sidecar read-modify-write across JVMs — and any
    // caller can legitimately pass a stale handle. Appending two distinct
    // segments BOTH against the pre-growth handle simulates exactly that:
    // handle arithmetic would lose the first fold (docs = base + |segB|),
    // the meta-locked persisted fold counts both.
    val dir = java.nio.file.Files.createTempDirectory("graft_tx_fold").toString
    val base = docs.filter(col("doc_id") % 3 === 0)
    val segA = docs.filter(col("doc_id") % 3 === 1)
    val segB = docs.filter(col("doc_id") % 3 === 2)
    val i0 = TextSearch.textIndexBuild(base, "text", "doc_id", s"$dir/ix",
      buckets = 16)
    TextSearch.textIndexAppend(i0, segA, "text", segmentId = "fold-a")
    val after = TextSearch.textIndexAppend(i0, segB, "text",
      segmentId = "fold-b") // STALE handle: sidecar already holds fold-a
    val fresh = TextSearch.textIndexBuild(docs, "text", "doc_id",
      s"$dir/fresh", buckets = 16)
    assert(after.docs == fresh.docs && after.totalLen == fresh.totalLen,
      s"stale-handle fold lost an append: $after vs $fresh")
    // BM25 off the folded sidecar matches the monolithic build
    assert(TextSearch.rankedSearch(after, Seq("join", "filter"), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      TextSearch.rankedSearch(fresh, Seq("join", "filter"), 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
  }

  // ─── one Spark execution per probe ───

  test("driver-side term buckets equal the _tb the build writes") {
    import spark.implicits._
    // 200 seeded terms: ASCII, non-ASCII, 1-char and 1 KB long; every
    // character is its own lowercase, so tokenization keeps each term whole
    val rnd = new scala.util.Random(20261018L)
    val ascii = "abcdefghijklmnopqrstuvwxyz0123456789"
    val wide = "éüßøçñяжщαβγ日本語中文한국"
    def word(alphabet: String, n: Int): String =
      Seq.fill(n)(alphabet(rnd.nextInt(alphabet.length))).mkString
    val terms = scala.collection.mutable.LinkedHashSet.empty[String]
    terms ++= (ascii + wide).take(30).map(_.toString)
    while (terms.size < 40) terms += word(ascii + wide, 1024)
    while (terms.size < 100) terms += word(wide, 1 + rnd.nextInt(6)) + word(ascii, 1)
    while (terms.size < 200) terms += word(ascii, 2 + rnd.nextInt(12))
    val all = terms.toSeq
    assert(all.size == 200)
    val corpus = all.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_tx_tb").toString
    for (buckets <- Seq(1, 7, 64, 256)) {
      val idx = TextSearch.textIndexBuild(corpus, "text", "doc_id", s"$dir/b$buckets",
        buckets = buckets)
      val written = spark.read.schema(idx.schema).parquet(idx.path)
        .select("term", "_tb").collect()
        .map(r => r.getString(0) -> r.getInt(1).toLong).toMap
      assert(written.keySet == all.toSet, "tokenization must keep every term whole")
      var driver: Seq[Long] = Nil
      val execs = org.apache.spark.sql.graft.Executions.count(spark) {
        driver = TextSearch.termBuckets(all, buckets)
      }
      assert(execs == 0, s"driver-side buckets ran $execs SQL executions")
      val diverged = all.zip(driver).filter { case (t, b) => written(t) != b }
      assert(diverged.isEmpty,
        s"buckets=$buckets: driver != build for ${diverged.take(3)}")
      assert(driver.forall(b => b >= 0 && b < buckets))
    }
  }

  test("each probe is one Spark execution when pruning cannot apply") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tx_budget").toString
    val pos = TextSearch.textIndexBuild(docs, "text", "doc_id", s"$dir/pos",
      buckets = 16)
    val terms = Seq("join", "filter", "hash")
    def execs(df: => DataFrame): Int =
      org.apache.spark.sql.graft.Executions.count(spark) { df.collect(); () }
    // the sf0.001 corpus bounds the common-term volume far below the
    // default pruneMinRows, so rankedSearch takes the in-plan statistics
    assert(pos.docs * terms.size < 500000L)
    val budget = Seq(
      "searchIds" -> execs(TextSearch.searchIds(pos, terms)),
      "searchIds (minMatch 1)" -> execs(TextSearch.searchIds(pos, terms, minMatch = 1)),
      "phraseIds" -> execs(TextSearch.phraseIds(pos, Seq("hash", "table"))),
      "rankedSearch" -> execs(TextSearch.rankedSearch(pos, terms, 10)),
      "rankedSearchWithin" -> execs(TextSearch.rankedSearchWithin(pos, terms,
        10, docs.filter(col("doc_id") % 3 === 0), "doc_id")))
    assert(budget.forall(_._2 == 1), s"SQL executions per probe: $budget")
  }

  test("BM25 in-plan statistics equal the stats collect and the full scan, bit for bit") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tx_inplan").toString
    type Ranked = Seq[(Long, Long, Long)] // (id, score bits, rank)
    def ranked(df: DataFrame): Ranked = df.orderBy("rank").collect()
      .map(r => (r.getLong(0), java.lang.Double.doubleToLongBits(r.getDouble(1)),
        r.getLong(2))).toSeq
    def reranked(s: Seq[(Long, Double)]): Ranked = s.zipWithIndex.map {
      case ((id, sc), i) => (id, java.lang.Double.doubleToLongBits(sc), i + 1L) }
    // pruneMinRows = Long.MaxValue: the sidecar bound always rules pruning
    // out (in-plan df/idf); pruneMinRows = 1: it never does (stats collect,
    // plus the pruned split whenever it verifies)
    def paths(idx: TextSearch.TextIndex, terms: Seq[String], k: Int,
              within: Option[DataFrame]): (Ranked, Ranked) = {
      def run(minRows: Long): Ranked = ranked(within match {
        case None => TextSearch.rankedSearch(idx, terms, k, pruneMinRows = minRows)
        case Some(w) => TextSearch.rankedSearchWithin(idx, terms, k, w, "doc_id",
          pruneMinRows = minRows)
      })
      (run(Long.MaxValue), run(1L))
    }
    def check(label: String, idx: TextSearch.TextIndex, corpus: Option[DataFrame],
              terms: Seq[String], k: Int, within: Option[DataFrame] = None): Ranked = {
      val (inPlan, collected) = paths(idx, terms, k, within)
      assert(inPlan == collected,
        s"$label: in-plan != stats collect\n $inPlan\n $collected")
      corpus.foreach { c =>
        val all = bruteTopK(c, terms, Int.MaxValue)
        val keep = within.map(_.select("doc_id").collect().map(_.getLong(0)).toSet)
        val expected = reranked(all.filter(x => keep.forall(_(x._1))).take(k))
        assert(inPlan == expected, s"$label: != full scan\n $inPlan\n $expected")
      }
      inPlan
    }
    val idx = TextSearch.textIndexBuild(docs, "text", "doc_id", s"$dir/ix",
      buckets = 16)
    val within = docs.filter(col("doc_id") % 3 === 0)
    for (terms <- Seq(Seq("join", "filter", "hash"), Seq("table", "scan"),
        Seq("join", "zzzznope"))) {
      assert(check(s"rankedSearch $terms", idx, Some(docs), terms, 10).nonEmpty)
      check(s"rankedSearchWithin $terms", idx, Some(docs), terms, 7, Some(within))
    }
    // only absent terms: both paths rank nothing
    assert(check("absent", idx, Some(docs), Seq("zzzznope"), 5).isEmpty)
    // replayed appends: repeated (term, doc) rows collapse the same way on
    // both paths, and both read the same (double-counted) sidecar N/avgdl
    val seg = Seq((100000L, "join filter hash join"), (100001L, "hash table"))
      .toDF("doc_id", "text")
    val replay = TextSearch.textIndexBuild(docs, "text", "doc_id", s"$dir/replay",
      buckets = 16)
    TextSearch.textIndexAppend(replay, seg, "text")
    val replayed = TextSearch.textIndexAppend(replay, seg, "text")
    check("replayed", replayed, None, Seq("join", "filter", "hash"), 10)
    check("replayed within", replayed, None, Seq("join", "hash"), 5, Some(within))
    val healed = TextSearch.textIndexCompact(replayed)
    check("compacted", healed, Some(docs.select("doc_id", "text").unionByName(seg)),
      Seq("join", "filter", "hash"), 10)
    // docs == 0: an empty corpus ranks nothing on either path
    val empty = TextSearch.textIndexBuild(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "text", "doc_id",
      s"$dir/empty", buckets = 4)
    assert(empty.docs == 0L)
    assert(check("docs == 0", empty, None, Seq("join"), 5).isEmpty)
  }

  test("in-plan BM25 statistics read the scoring side's shuffles") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec,
      ShuffleExchangeExec}
    object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val dir = java.nio.file.Files.createTempDirectory("graft_tx_reuse").toString
    val idx = TextSearch.textIndexBuild(docs, "text", "doc_id", s"$dir/ix",
      buckets = 16)
    val r = TextSearch.rankedSearch(idx, Seq("join", "filter", "hash"), 10)
    r.collect()
    val plan = r.queryExecution.executedPlan
    def hashOn(e: ShuffleExchangeExec): Set[String] = e.outputPartitioning match {
      case h: HashPartitioning => h.expressions.flatMap(_.references.map(_.name)).toSet
      case _ => Set.empty
    }
    // one (id, term) exchange: the per-term df count reads the scoring
    // side's per-doc shuffle (and everything below it) through a reuse,
    // rather than scanning and shuffling the probed buckets a second time
    val idTerm = Plans.collect(plan) {
      case e: ShuffleExchangeExec if hashOn(e) == Set("id", "term") => e }
    val reused = Plans.collect(plan) { case e: ReusedExchangeExec => e.child }
      .collect { case e: ShuffleExchangeExec => hashOn(e) }
    assert(idTerm.size == 1, s"(id, term) exchanges: ${idTerm.size}\n$plan")
    assert(reused == Seq(Set("id")), s"reused exchanges: $reused\n$plan")
  }

  // ─── one row per (term, doc) ───

  test("one-tier layout: probes equal the full scan after build, replayed append, compaction and merge") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tx_onetier").toString
    val long = (0 until 300).map(i =>
      if (i % 7 == 0) "join" else if (i % 5 == 0) "the" else if (i % 11 == 0) "hash"
      else s"w${i % 13}").mkString(" ")
    val edge = Seq[(Long, String)](
      (9000001L, null), (9000002L, ""), (9000003L, "   "), (9000004L, "\t \n"),
      (9000005L, "  join filter hash  "), (9000006L, " the the end"),
      (9000007L, "the end the the "), (9000008L, long),
      // duplicate doc ids: two texts under one id, and one text twice
      (9000010L, "join hash table"), (9000010L, "filter the the"),
      (9000011L, "hash join join"), (9000011L, "the end"),
      (9000012L, "join filter join"), (9000012L, "join filter join"))
      .toDF("doc_id", "text")
    val corpus = docs.select("doc_id", "text").unionByName(edge)
    // a doc id's rows stay in one half, so every id is indexed by one writer
    val a = corpus.filter(col("doc_id") % 2 === 0)
    val b = corpus.filter(col("doc_id") % 2 === 1)
    val within = corpus.filter(col("doc_id") % 3 === 0)
    val terms = Seq("join", "filter", "hash")
    def build(c: DataFrame, name: String) = TextSearch.textIndexBuild(c, "text",
      "doc_id", s"$dir/$name", buckets = 16)

    def ranked(df: DataFrame): Seq[(Long, Double, Long)] = df.orderBy("rank")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    // `ref` is the corpus the index describes; `stats` its sidecar stats
    def checkAll(label: String, idx: TextSearch.TextIndex, ref: DataFrame,
                 stats: (Long, Long)): Unit = {
      assert((idx.docs, idx.totalLen) == stats, s"$label: sidecar stats")
      for (q <- Seq(terms, Seq("the", "end", "table")); m <- Seq(1, 2, 0))
        assert(probedIds(TextSearch.searchIds(idx, q, m)) == scanIds(ref, q, m),
          s"$label: searchIds $q minMatch $m")
      for (ph <- Seq(Seq("table", "hash"), Seq("hash", "table"), Seq("the", "the"),
          Seq("the", "end"), Seq("join", "filter", "hash"), Seq("join", "join")))
        assert(probedIds(TextSearch.phraseIds(idx, ph)) == scanPhrase(ref, ph),
          s"$label: phrase $ph")
      val all = bruteTopK(ref, terms, Int.MaxValue, Some(stats))
      val keep = within.select("doc_id").collect().map(_.getLong(0)).toSet
      def expected(s: Seq[(Long, Double)], k: Int) =
        s.take(k).zipWithIndex.map { case ((id, sc), i) => (id, sc, i + 1L) }
      // k = 10000 ranks every candidate (the largest k the pruning path takes)
      for (k <- Seq(1, 3, 10, 10000); minRows <- Seq(Long.MaxValue, 1L)) {
        assert(ranked(TextSearch.rankedSearch(idx, terms, k, pruneMinRows = minRows)) ==
          expected(all, k), s"$label: rankedSearch k=$k pruneMinRows=$minRows")
        assert(ranked(TextSearch.rankedSearchWithin(idx, terms, k, within, "doc_id",
            pruneMinRows = minRows)) == expected(all.filter(x => keep(x._1)), k),
          s"$label: rankedSearchWithin k=$k pruneMinRows=$minRows")
      }
    }

    val built = build(corpus, "built")
    checkAll("build", built, corpus, corpusStats(corpus))
    // one row per (term, id): a doc id indexed twice unions its positions
    val rows = spark.read.schema(built.schema).parquet(built.path)
    assert(rows.groupBy("id", "term").count().filter(col("count") > 1).isEmpty)
    assert(rows.filter(col("tf") =!= size(col("pos")) ||
      col("pos") =!= array_sort(array_distinct(col("pos")))).isEmpty)
    assert(rows.filter(col("id") === 9000010L && col("term") === "the")
      .select("pos").head().getSeq[Int](0) == Seq(1, 2))

    // the same segment appended twice without a segment id: the tree then
    // describes the corpus with that segment's rows twice
    val grown = build(a, "grown")
    TextSearch.textIndexAppend(grown, b, "text")
    val twice = TextSearch.textIndexAppend(grown, b, "text")
    val replayed = a.unionByName(b).unionByName(b)
    checkAll("appended twice", twice, replayed, corpusStats(replayed))
    // compaction merges the repeated rows and recounts one doc per id
    val compacted = TextSearch.textIndexCompact(twice)
    checkAll("compacted", compacted, corpus, perIdStats(corpus))
    assert(spark.read.schema(compacted.schema).parquet(compacted.path)
      .groupBy("id", "term").count().filter(col("count") > 1).isEmpty)
    // merge: positions unioned per (term, id), stats summed
    val merged = TextSearch.textIndexMerge(build(a, "ma"), build(b, "mb"), s"$dir/merged")
    checkAll("merged", merged, corpus, corpusStats(corpus))
  }

  test("positional build and append are one SQL execution each; BM25 and membership scans skip pos") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val dir = java.nio.file.Files.createTempDirectory("graft_tx_pass").toString
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    val half2 = docs.filter(col("doc_id") % 2 === 1)
    var idx: TextSearch.TextIndex = null
    val buildExecs = org.apache.spark.sql.graft.Executions.count(spark) {
      idx = TextSearch.textIndexBuild(half1, "text", "doc_id", s"$dir/ix",
        buckets = 16)
    }
    val appendExecs = org.apache.spark.sql.graft.Executions.count(spark) {
      idx = TextSearch.textIndexAppend(idx, half2, "text", segmentId = "pass-1")
    }
    assert((buildExecs, appendExecs) == ((1, 1)),
      s"SQL executions: build $buildExecs, append $appendExecs")
    assert((idx.docs, idx.totalLen) == corpusStats(docs))
    val terms = Seq("join", "filter", "hash")
    def scanned(df: DataFrame): Seq[Seq[String]] = {
      df.collect()
      Plans.collect(df.queryExecution.executedPlan) {
        case s: FileSourceScanExec => s.requiredSchema.fieldNames.toSeq }
    }
    val bm25 = scanned(TextSearch.rankedSearch(idx, terms, 10))
    val member = scanned(TextSearch.searchIds(idx, terms, minMatch = 1))
    val phrase = scanned(TextSearch.phraseIds(idx, Seq("hash", "table")))
    assert(bm25.nonEmpty && member.nonEmpty && phrase.nonEmpty)
    assert(!bm25.flatten.contains("pos"), s"BM25 scans $bm25")
    assert(!member.flatten.contains("pos"), s"membership scans $member")
    assert(phrase.forall(_.contains("pos")), s"phrase scans $phrase")
  }

  test("a two-tier tree is refused at re-open; served trees re-key through tx4 and GC sweeps the old ones") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_tx_layout").toString
    val ixDir = s"$dir/ix"
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    TextSearch.invalidateAllTextIndexes()
    val corpus = Seq((1L, "join filter"), (2L, "hash table join")).toDF("doc_id", "text")
    // a served tree of the two-tier format: an occurrence-row sidecar schema
    // (scalar pos) and a _tf tier, at the path the tx3 key hashed to
    val twoTier = StructType(Seq(StructField("id", LongType), StructField("len", IntegerType),
      StructField("pos", IntegerType), StructField("term", StringType),
      StructField("_tb", IntegerType)))
    val tx3 = s"$ixDir/tx_${graft.operators.Similarity.keyHash(
      "tx3|spec/layout|nofiles|text|doc_id|8|true")}"
    Seq((1L, 2, 0, "join", 0)).toDF("id", "len", "pos", "term", "_tb")
      .write.partitionBy("_tb").parquet(tx3)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$tx3/_tf"))
    graft.operators.Similarity.writeMeta(spark, tx3,
      TextSearch.TextIndex(tx3, "doc_id", 8, twoTier, 1L, 2L))
    // re-keyed: the request builds a one-tier tree beside it
    val builds0 = TextSearch.textBuildCount.get()
    val served = TextSearch.textIndexFor(corpus, "spec/layout", "text", "doc_id",
      ixDir, buckets = 8)
    assert(TextSearch.textBuildCount.get() == builds0 + 1 && served.path != tx3)
    assert(served.schema("pos").dataType.isInstanceOf[ArrayType])
    assert(probedIds(TextSearch.phraseIds(served, Seq("hash", "table"))) == Set(2L))
    // the retired tree is an orphan to the sweep
    val swept = TextSearch.textIndexGc(spark, ixDir, graceMs = 0L)
    assert(swept.size == 1 && swept.head.endsWith(tx3.split("/").last), swept)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(tx3)))
    assert(fs.exists(new org.apache.hadoop.fs.Path(served.path)))

    def refused(f: => Any): String = {
      val e = intercept[IllegalStateException](f)
      assert(e.getMessage.contains(served.path) && e.getMessage.contains("rebuild"),
        e.getMessage)
      e.getMessage
    }
    def reRequest() = {
      TextSearch.invalidateAllTextIndexes()
      TextSearch.textIndexFor(corpus, "spec/layout", "text", "doc_id", ixDir,
        buckets = 8)
    }
    // a _tf directory in a served tree: refused at the re-open, not rebuilt
    val tf = new org.apache.hadoop.fs.Path(served.path, "_tf")
    fs.mkdirs(tf)
    refused(reRequest())
    assert(TextSearch.textBuildCount.get() == builds0 + 1)
    fs.delete(tf, true)
    assert(reRequest() == served)
    // a sidecar whose row schema has a scalar pos: refused too
    graft.operators.Similarity.writeMeta(spark, served.path,
      served.copy(schema = twoTier))
    refused(reRequest())

    // the streaming sink refuses the same tree at its restart
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[(Long, String)](spark)
    val q = graft.streaming.StreamOps.textIndexSink(mem.toDF().toDF("id", "text"),
      "text", "id", indexDir = served.path, outDir = s"$dir/out",
      checkpoint = s"$dir/ckpt", buckets = 8,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      mem.addData((3L, "join"))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      val msg = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" | ")
      assert(msg.contains(served.path) && msg.contains("rebuild"), msg)
    } finally q.stop()
    TextSearch.invalidateAllTextIndexes()
  }

  test("a plain tree is refused at re-open; served trees re-key through tx5 and GC sweeps the tx4 ones") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_tx_plain").toString
    val ixDir = s"$dir/ix"
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    TextSearch.invalidateAllTextIndexes()
    val corpus = Seq((1L, "join filter"), (2L, "hash table join")).toDF("doc_id", "text")
    // the two served trees of the tx4 format, at the paths their keys
    // hashed to: a plain one — (id, term) rows, a sidecar schema without
    // pos — and a positional one
    val plain = StructType(Seq(StructField("id", LongType),
      StructField("term", StringType), StructField("_tb", IntegerType)))
    def tx4(positions: Boolean) = s"$ixDir/tx_${graft.operators.Similarity.keyHash(
      s"tx4|spec/plain|nofiles|text|doc_id|8|$positions")}"
    Seq((1L, "join", 0)).toDF("id", "term", "_tb").write.partitionBy("_tb")
      .parquet(tx4(false))
    graft.operators.Similarity.writeMeta(spark, tx4(false),
      TextSearch.TextIndex(tx4(false), "doc_id", 8, plain))
    TextSearch.textIndexBuild(corpus, "text", "doc_id", tx4(true), buckets = 8)
    // re-keyed: one request of each probe kind builds ONE tree beside them
    val builds0 = TextSearch.textBuildCount.get()
    def request() = TextSearch.textIndexFor(corpus, "spec/plain", "text", "doc_id",
      ixDir, buckets = 8)
    val served = request()
    assert(probedIds(TextSearch.searchIds(served, Seq("join"))) == Set(1L, 2L))
    assert(probedIds(TextSearch.phraseIds(request(), Seq("hash", "table"))) == Set(2L))
    assert(TextSearch.rankedSearch(request(), Seq("table"), 5)
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(TextSearch.textBuildCount.get() == builds0 + 1)
    assert(!Seq(tx4(false), tx4(true)).contains(served.path))
    // both retired trees are orphans to the sweep
    val swept = TextSearch.textIndexGc(spark, ixDir, graceMs = 0L)
    assert(swept.map(_.split("/").last).toSet ==
      Set(tx4(false), tx4(true)).map(_.split("/").last), swept)
    assert(fs.exists(new org.apache.hadoop.fs.Path(served.path)))

    // a served tree whose sidecar schema has no pos: refused at the
    // re-open, with the path and "rebuild" in the error, and not rebuilt
    graft.operators.Similarity.writeMeta(spark, served.path, served.copy(schema = plain))
    TextSearch.invalidateAllTextIndexes()
    val e = intercept[IllegalStateException](request())
    assert(e.getMessage.contains(served.path) && e.getMessage.contains("rebuild") &&
      e.getMessage.contains("plain"), e.getMessage)
    assert(TextSearch.textBuildCount.get() == builds0 + 1)

    // the streaming sink refuses the same tree at its restart
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[(Long, String)](spark)
    val q = graft.streaming.StreamOps.textIndexSink(mem.toDF().toDF("id", "text"),
      "text", "id", indexDir = served.path, outDir = s"$dir/out",
      checkpoint = s"$dir/ckpt", buckets = 8,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      mem.addData((3L, "join"))
      val se = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      val msg = Iterator.iterate[Throwable](se)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" | ")
      assert(msg.contains(served.path) && msg.contains("rebuild"), msg)
    } finally q.stop()
    TextSearch.invalidateAllTextIndexes()
  }

  test("serve_mixed's four text request shapes take no text-cache eviction at a cap of 2 after their first pass") {
    TextSearch.invalidateAllTextIndexes()
    val prev = sys.props.put("graft.index.cache.max", "2")
    try {
      val service = new graft.graphql.GraphQLService(spark, sf)
      // the search, bm25, bm25filt and cold kinds of perfbench serve_mixed:
      // the documents root serves the first three, the filtered cold plan
      // is a corpus of its own
      val shapes = Seq(
        """{ documents { s: search(terms: ["join", "filter"], on: "text",
          id: "doc_id") { count } } }""",
        """{ documents { s: search(terms: ["join", "filter"], on: "text",
          id: "doc_id", k: 20) { o: order(by: ["rank"]) {
          columns { doc_id { values } rank { values } } } } } }""",
        """{ documents { f: filter(lang: {eq: "en"}) { s: search(terms: ["hash", "table"],
          on: "text", id: "doc_id", k: 20, corpus: "documents") { o: order(by: ["rank"]) {
          columns { doc_id { values } rank { values } } } } } } }""",
        """{ documents { m: project(columns: [{alias: "m", mod: [{name: "doc_id"}, {value: 1}]}]) {
          f: filter(m: {eq: 0}) { s: search(terms: ["join", "filter"], on: "text",
          id: "doc_id", k: 10) { o: order(by: ["rank"]) {
          columns { doc_id { values } rank { values } } } } } } } }""")
      def pass(): Seq[String] = shapes.map(q =>
        service.execute(q).replaceAll(""""timing_ms":\{[^}]*\}""", ""))
      val builds0 = TextSearch.textBuildCount.get()
      val first = pass()
      assert(first.forall(r => !r.contains("\"errors\"")), first)
      assert(TextSearch.textBuildCount.get() == builds0 + 2,
        "one tree for the documents root, one for the cold plan")
      val evictions0 = TextSearch.textCacheEvictions
      for (_ <- 1 to 2) assert(pass() == first)
      assert(TextSearch.textCacheEvictions == evictions0,
        s"text-cache evictions after the first pass: ${TextSearch.textCacheEvictions - evictions0}")
      assert(TextSearch.textBuildCount.get() == builds0 + 2)
      assert(TextSearch.textCacheSize == 2)
    } finally {
      prev match {
        case Some(v) => sys.props.put("graft.index.cache.max", v)
        case None => sys.props.remove("graft.index.cache.max")
      }
      TextSearch.invalidateAllTextIndexes()
    }
  }
}
