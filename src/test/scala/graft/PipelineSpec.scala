package graft

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.{Dedup, Similarity, TextAnalysis}

class PipelineSpec extends SparkSpec {

  private def docs = Tables.load(spark, sf, "documents")
  private def embs = Tables.load(spark, sf, "embeddings")

  /** Reference for the in-plan cap meter, counted by a plain groupBy: the
    * (table, bucket) groups of the `embedding` column's LSH buckets
    * holding more than `maxBucket` rows, and their row total. */
  private def overCap(df: org.apache.spark.sql.DataFrame, planes: Int,
                      dim: Int, tables: Int, maxBucket: Int,
                      op: String): Dedup.CapDrop = {
    val hot = df.select(explode(array((0 until tables).map(t => struct(lit(t),
        Similarity.lshBucket(col("embedding"), planes, dim, t))): _*)).as("k"))
      .groupBy("k").count().filter(col("count") > maxBucket)
      .collect().map(_.getAs[Long]("count"))
    Dedup.CapDrop(op, hot.length, hot.sum)
  }

  test("minhash LSH recall vs exact jaccard pairs") {
    val exact = Dedup.jaccardPairs(docs, "text", "doc_id", n = 3, threshold = 0.7)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashPairs(docs, "text", "doc_id", n = 3, k = 64,
      bands = 16, threshold = 0.5)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    if (exact.nonEmpty) {
      val recall = exact.intersect(lsh).size.toDouble / exact.size
      assert(recall >= 0.8, s"recall $recall over ${exact.size} true pairs")
    }
    info(s"exact pairs: ${exact.size}, lsh candidates: ${lsh.size}")
  }

  test("band-bucket cap prunes boilerplate skew; inactive on normal data; no cache leak") {
    import spark.implicits._
    // 40 ids sharing ONE boilerplate text — identical signatures, so all 40
    // land in the same bucket of EVERY band (the quadratic skew shape) —
    // plus one genuine near-dup pair and unrelated filler docs
    val boiler = "cookie consent banner please accept our terms " * 8
    val nearA = "the quick brown fox jumps over the lazy dog again and again today"
    val nearB = "the quick brown fox jumps over the lazy dog again and again tomorrow"
    val filler = (1L to 10L).map(i =>
      (1000L + i, s"unique filler document number $i with totally distinct words ${i * 7} ${i * 13} ${i * 29}"))
    // 20 docs under n = 3 tokens have no shingles, so no signature: they
    // must not band (into one shared bucket, say) or count toward the cap
    val short = (1L to 20L).map(i => (2000L + i, s"short $i"))
    val df = ((1L to 40L).map(i => (i, boiler)) ++
      Seq((100L, nearA), (101L, nearB)) ++ filler ++ short).toDF("doc_id", "text")
    val (capped, drops) = Dedup.collectCapDrops {
      Dedup.minhashPairs(df, "text", "doc_id", threshold = 0.5,
        maxBucket = 10)
        .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    // the cap is METERED, not just logged, and the counts are exact: the
    // over-cap groups of the public occupancy histogram (40 docs × 16
    // bands), counted once although both self-join sides are metered
    val hot = Dedup.minhashBandOccupancy(df, "text", "doc_id")
      .filter(col("count") > 10).collect().map(_.getAs[Long]("count"))
    val expected = Dedup.CapDrop("minhashPairs", hot.length, hot.sum)
    assert(expected == Dedup.CapDrop("minhashPairs", 16, 640))
    assert(drops == Seq(expected), s"cap drops $drops, expected $expected")
    assert(Dedup.lastCapDrops.get("minhashPairs").contains(expected),
      "the global registry must carry the activation for ops probes")
    val uncapped = Dedup.minhashPairs(df, "text", "doc_id", threshold = 0.5,
      maxBucket = 0)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // uncapped: the 40-doc boilerplate bucket alone yields 780 pairs
    assert(uncapped.size >= 780 + 1)
    // capped: the oversized bucket is gone; the small-bucket near-dup pair
    // survives untouched
    assert(capped.contains((100L, 101L)))
    assert(!capped.exists { case (a, b) => a <= 40 && b <= 40 })
    // on data with no oversized buckets the default cap changes nothing
    // and records ZERO drops
    val dn = docs
    val (withCap, cleanDrops) = Dedup.collectCapDrops {
      Dedup.minhashPairs(dn, "text", "doc_id", threshold = 0.5)
        .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(cleanDrops.forall(d => d.buckets == 0 && d.rows == 0),
      s"clean data must record zero cap drops, got $cleanDrops")
    val noCap = Dedup.minhashPairs(dn, "text", "doc_id", threshold = 0.5,
      maxBucket = 0)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(withCap == noCap)
    // nothing left pinned in the cache manager after repeated pairs calls
    // of either hash family (serving hygiene)
    Dedup.simhashPairs(df, "text", "doc_id", maxBucket = 10).collect()
    Dedup.minhashPairs(df, "text", "doc_id", k = 32, bands = 8,
      threshold = 0.5, maxBucket = 10, md5 = true).collect()
    Dedup.simhashPairs(df, "text", "doc_id", maxBucket = 10, md5 = true)
      .collect()
    assert(spark.sharedState.cacheManager.isEmpty,
      "pairs operators must not leave cached frames behind")
  }

  test("lshCosinePairs bucket cap bounds dense embedding clusters; inactive on normal data") {
    import spark.implicits._
    // 1000 ids sharing ONE vector — identical sign bits in every table, so
    // all 1000 land in the same bucket of every hyperplane family (the
    // dense-cosine-cluster skew gen_scale.py synthesizes) — plus a genuine
    // close-but-distinct pair and orthogonal-ish filler
    val dim = 8
    val cluster = Array.tabulate(dim)(i => (i + 1).toFloat)
    // near pair points AWAY from the cluster (opposite sign bits → its own
    // bucket) so the cap must preserve it while dropping the cluster bucket
    val nearA = Array.tabulate(dim)(i => -(i + 1).toFloat + 0.01f)
    val nearB = Array.tabulate(dim)(i => -(i + 1).toFloat - 0.01f)
    val filler = (1 to 10).map(j =>
      (5000L + j, Array.tabulate(dim)(i => if (i == j % dim) 1f else -1f * ((i + j) % 3))))
    // 150 null embeddings share one null-vector bucket per table, also over
    // the cap: a null vector never scores, so dropping them changes no pair
    val nulls = (1L to 150L).map(i => (9000L + i, null.asInstanceOf[Array[Float]]))
    val clean = ((1L to 1000L).map(i => (i, cluster)) ++
      Seq((2000L, nearA), (2001L, nearB)) ++ filler).toDF("vec_id", "embedding")
    val df = clean.union(nulls.toDF("vec_id", "embedding"))
    def pairs(in: org.apache.spark.sql.DataFrame) =
      Similarity.lshCosinePairs(in, "vec_id", "embedding", 0.99,
        planes = 4, dim = dim, maxBucket = 100).select("id1", "id2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // capped: the 1000-row cluster bucket is dropped BEFORE the self-join —
    // candidate volume is bounded, and the small-bucket near pair survives
    val (cp, drops) = Dedup.collectCapDrops(pairs(df))
    assert(cp.contains((2000L, 2001L)))
    assert(!cp.exists { case (a, b) => a <= 1000 && b <= 1000 },
      "oversized cluster bucket must be dropped from candidate generation")
    assert(cp == pairs(clean), "null embeddings must not change the pairs")
    // exact drops: the over-cap (table, bucket) groups of the same buckets
    val expected = overCap(df, planes = 4, dim = dim, tables = 8, 100,
      "lshCosinePairs")
    assert(expected == Dedup.CapDrop("lshCosinePairs", 16, 8 * (1000 + 150)))
    assert(drops == Seq(expected), s"cap drops $drops, expected $expected")
    // on data with no oversized buckets the default cap changes nothing
    val withCap = Similarity.lshCosinePairs(embs, "vec_id", "embedding", 0.2,
        planes = 4, dim = 64)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val noCap = Similarity.lshCosinePairs(embs, "vec_id", "embedding", 0.2,
        planes = 4, dim = 64, maxBucket = 0)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(withCap == noCap)
  }

  test("each banded self-join's occupancy cap runs inside its consumer's one SQL execution") {
    def executions(body: => Unit): Int =
      org.apache.spark.sql.graft.Executions.count(spark)(body)
    val left = embs.filter(col("vec_id") % 10 === 3)
    // every pairs operator is lazy and runs on the consumer's collect. A
    // driver-side cap (a hot-list collect before the self-join) or an eager
    // signature checkpoint would add one execution.
    val budget = Map(
      "minhashPairs" -> executions(
        Dedup.minhashPairs(docs, "text", "doc_id").collect()),
      "minhashPairsMd5" -> executions(
        Dedup.minhashPairs(docs, "text", "doc_id", k = 32, bands = 8,
          threshold = 0.5, md5 = true).collect()),
      "simhashPairsMd5" -> executions(
        Dedup.simhashPairs(docs, "text", "doc_id", md5 = true).collect()),
      "simhashPairs" -> executions(
        Dedup.simhashPairs(docs, "text", "doc_id").collect()),
      "lshCosinePairs" -> executions(
        Similarity.lshCosinePairs(embs, "vec_id", "embedding", 0.2,
          planes = 4, dim = 64).collect()),
      "knnJoinLsh" -> executions(
        Similarity.knnJoinLsh(left, embs, "vec_id", "embedding", 3,
          planes = 4, dim = 64).collect()))
    assert(budget.forall(_._2 == 1), s"SQL executions per action: $budget")
  }

  test("semanticPairs/semanticDedup: dup collapse, subset-of-exact, metered cell cap") {
    import spark.implicits._
    val dim = 8
    val g1 = Array.tabulate(dim)(i => (i + 1).toFloat)
    val g2 = Array.tabulate(dim)(i => -(i + 1).toFloat)
    val single = Array.tabulate(dim)(i => if (i % 2 == 0) 1f else -2f)
    // two exact-duplicate groups + a singleton: dedup keeps min id per
    // component and the unpaired row
    val df = Seq((1L, g1), (2L, g1), (3L, g1), (10L, g2), (11L, g2),
      (20L, single)).toDF("vec_id", "embedding")
    val kept = Similarity.semanticDedup(df, "vec_id", "embedding",
        threshold = 0.99, nlist = 4)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 10L, 20L), s"kept $kept")
    // the within-cell screen only ever REMOVES candidates: semantic pairs
    // are a subset of exact all-pairs at the same threshold
    val sem = Similarity.semanticPairs(embs, "vec_id", "embedding", 0.3,
        nlist = 16)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Similarity.cosinePairs(embs, "vec_id", "embedding", 0.3)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sem.subsetOf(exact))
    info(s"semantic pairs: ${sem.size} of ${exact.size} exact (nlist=16)")
    // a mass-duplicated cell is dropped before the self-join and METERED
    val skew = ((1L to 500L).map(i => (i, g1)) ++ Seq((1000L, single)))
      .toDF("vec_id", "embedding")
    val capped = Similarity.semanticPairs(skew, "vec_id", "embedding", 0.5,
      nlist = 2, maxCell = 100)
    assert(capped.count() == 0)
    val drop = Dedup.lastCapDrops("semanticPairs")
    assert(drop.buckets >= 1 && drop.rows >= 500L,
      s"expected metered cell drop, got $drop")
  }

  test("semanticDedupAgainst: prebuilt-index screen prunes partitions; filter keeps clean rows") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import spark.implicits._
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p.collect {
      case f: FileSourceScanExec => Seq(f)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: QueryStageExec => scans(s.plan)
    }.flatten
    val corpus = embs.filter(col("vec_id") < 400)
    val dir = java.nio.file.Files.createTempDirectory("graft_semincr").toString
    val idx = Similarity.ivfBuild(corpus, "vec_id", "embedding", nlist = 32,
      path = s"$dir/ivf")
    // batch: 3 exact copies of corpus vectors (re-ingest) + 2 genuinely new
    val copies = corpus.filter(col("vec_id") < 3)
      .select((col("vec_id") + 5000).as("vec_id"), col("embedding"))
    val dim = 64
    val fresh = Seq(
      (9000L, Array.tabulate(dim)(i => if (i % 3 == 0) 2f else -1f)),
      (9001L, Array.tabulate(dim)(i => if (i % 5 == 0) -2f else 1f)))
      .toDF("vec_id", "embedding")
    val batch = copies.union(fresh)
    val hits = Similarity.semanticDedupAgainst(idx, batch, threshold = 0.99)
    val hitPairs = hits.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(Set((5000L, 0L), (5001L, 1L), (5002L, 2L)).subsetOf(hitPairs),
      s"copies must hit their originals, got $hitPairs")
    // the corpus read is pruned to the batch's probed cells
    val scan = scans(hits.queryExecution.executedPlan)
      .find(_.toString.contains("ivf")).get
    val read = scan.metrics("numFiles").value
    val all = spark.read.parquet(s"$dir/ivf").inputFiles.length
    assert(read > 0 && read < all,
      s"semantic screen read $read of $all index files — not pruned")
    // the filter keeps exactly the clean rows
    val kept = Similarity.semanticDedupFilter(idx, batch, threshold = 0.99)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(9000L, 9001L), s"kept $kept")
  }

  test("prebuilt ANN indexes: probe prunes to probed partitions, answers match on-the-fly") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p.collect {
      case f: FileSourceScanExec => Seq(f)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: QueryStageExec => scans(s.plan)
    }.flatten
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet

    val e = embs
    val queries = e.filter(col("vec_id") < 3)
    val dir = java.nio.file.Files.createTempDirectory("graft_ann_spec").toString

    val ivf = Similarity.ivfBuild(e, "vec_id", "embedding", nlist = 8,
      path = s"$dir/ivf")
    val probe = Similarity.ivfProbe(ivf, queries, k = 5, nprobe = 2)
    assert(key(probe) == key(Similarity.ivfTopK(e, queries, "vec_id",
      "embedding", k = 5, nlist = 8, nprobe = 2)))
    // the index scan carries a static cid partition filter and reads
    // strictly fewer files than the index holds (3 queries × nprobe 2 of
    // 8 lists) — the build-once/probe-many contract
    val ivfScan = scans(probe.queryExecution.executedPlan)
      .find(_.toString.contains("ivf")).get
    assert(ivfScan.toString.contains("PartitionFilters"), ivfScan.toString)
    val ivfRead = ivfScan.metrics("numFiles").value
    val ivfAll = spark.read.parquet(s"$dir/ivf").inputFiles.length
    assert(ivfRead > 0 && ivfRead < ivfAll,
      s"ivf probe read $ivfRead of $ivfAll index files — not pruned")

    val lsh = Similarity.lshBuild(e, "vec_id", "embedding", planes = 4,
      dim = 64, path = s"$dir/lsh")
    val lprobe = Similarity.lshProbe(lsh, queries, k = 5)
    assert(key(lprobe) == key(Similarity.lshTopK(e, queries, "vec_id",
      "embedding", k = 5, planes = 4, dim = 64)))
    val lshScan = scans(lprobe.queryExecution.executedPlan)
      .find(_.toString.contains("lsh")).get
    val lshRead = lshScan.metrics("numFiles").value
    val lshAll = spark.read.parquet(s"$dir/lsh").inputFiles.length
    assert(lshRead > 0 && lshRead < lshAll,
      s"lsh probe read $lshRead of $lshAll index files — not pruned")
  }

  test("ANN index lifecycle: fingerprinted keys, cheap re-open, explicit invalidate") {
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val work = java.nio.file.Files.createTempDirectory("graft_ann_life").toString
    val corpusDir = s"$work/corpus"
    val baseDir = s"$work/idx"
    embs.filter(col("vec_id") < 100).write.parquet(corpusDir)
    def corpus = spark.read.parquet(corpusDir)
    val queries = corpus.filter(col("vec_id") < 3)

    val b0 = Similarity.ivfBuildCount.get()
    val idx1 = Similarity.ivfIndexFor(corpus, corpusDir, "vec_id", "embedding",
      nlist = 8, baseDir)
    assert(Similarity.ivfBuildCount.get() == b0 + 1)
    val a1 = key(Similarity.ivfProbe(idx1, queries, k = 5, nprobe = 2))

    // same corpus, same params → in-memory cache hit, no second build
    val idx2 = Similarity.ivfIndexFor(corpus, corpusDir, "vec_id", "embedding",
      nlist = 8, baseDir)
    assert((idx2 eq idx1) && Similarity.ivfBuildCount.get() == b0 + 1)

    // restart simulation: cleared cache re-OPENS the on-disk index from its
    // metadata sidecar — same path, same answers, build count unchanged
    Similarity.ivfFamily.invalidateAll()
    val idx3 = Similarity.ivfIndexFor(corpus, corpusDir, "vec_id", "embedding",
      nlist = 8, baseDir)
    assert(Similarity.ivfBuildCount.get() == b0 + 1,
      "re-open must not run a rebuild job")
    assert(idx3.path == idx1.path)
    assert(key(Similarity.ivfProbe(idx3, queries, k = 5, nprobe = 2)) == a1)

    // corpus rewritten in place → fingerprint changes → fresh index (stale
    // one is never served), and the probe sees the new contents (staged
    // write + swap: Spark cannot overwrite a path it is reading)
    corpus.filter(col("vec_id") >= 50).write.parquet(s"$work/stage")
    val fs = new org.apache.hadoop.fs.Path(corpusDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(corpusDir), true)
    fs.rename(new org.apache.hadoop.fs.Path(s"$work/stage"),
      new org.apache.hadoop.fs.Path(corpusDir))
    val idx4 = Similarity.ivfIndexFor(corpus, corpusDir, "vec_id", "embedding",
      nlist = 8, baseDir)
    assert(Similarity.ivfBuildCount.get() == b0 + 2,
      "mutated corpus must trigger a fresh build")
    assert(idx4.path != idx1.path)
    val q2 = corpus.filter(col("vec_id") < 53)
    val n4 = Similarity.ivfProbe(idx4, q2, k = 5, nprobe = 8)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(n4.nonEmpty && n4.forall(_ >= 50),
      s"probe must serve the rewritten corpus, got $n4")

    // explicit invalidate drops only this corpus's entries; next request
    // re-opens from disk (no build)
    Similarity.ivfFamily.invalidate(corpusDir)
    val idx5 = Similarity.ivfIndexFor(corpus, corpusDir, "vec_id", "embedding",
      nlist = 8, baseDir)
    assert(Similarity.ivfBuildCount.get() == b0 + 2 && idx5.path == idx4.path)

    // LSH family shares the lifecycle: build once, re-open after clear
    val l0 = Similarity.lshBuildCount.get()
    val lsh1 = Similarity.lshIndexFor(corpus, corpusDir, "vec_id", "embedding",
      planes = 4, dim = 64, baseDir)
    assert(Similarity.lshBuildCount.get() == l0 + 1)
    Similarity.lshFamily.invalidateAll()
    val lsh2 = Similarity.lshIndexFor(corpus, corpusDir, "vec_id", "embedding",
      planes = 4, dim = 64, baseDir)
    assert(Similarity.lshBuildCount.get() == l0 + 1 && lsh2.path == lsh1.path)
    assert(key(Similarity.lshProbe(lsh2, q2, k = 5)) ==
      key(Similarity.lshProbe(lsh1, q2, k = 5)))
  }

  test("minhash banding rejects k not divisible by bands") {
    // k=30, bands=8 would silently drop the trailing 30-8*3=6 signature
    // components from banding while est_jaccard still divides by k
    intercept[IllegalArgumentException](
      Dedup.minhashPairs(docs, "text", "doc_id", k = 30, bands = 8))
    intercept[IllegalArgumentException](
      Dedup.minhashPairs(docs, "text", "doc_id", k = 30, bands = 8,
        md5 = true))
  }

  test("clusters: hash-min label propagation finds connected components") {
    import spark.implicits._
    // chain 1-2, 2-3 plus isolated pair 10-11 and a long path 20..24 —
    // pointer jumping must converge the 5-node path, not just diameter-2
    val pairs = Seq((2L, 1L), (2L, 3L), (10L, 11L),
      (20L, 21L), (21L, 22L), (22L, 23L), (23L, 24L))
      .toDF("id1", "id2")
    val got = Dedup.clusters(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L, 24L -> 20L))
  }

  test("keepRepresentatives drops all non-minimal cluster members, keeps singletons") {
    import spark.implicits._
    val df = (1L to 6L).toDF("id")
    // component {1,2,3} via transitive chain; {5,6}; 4 untouched
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id1", "id2")
    val kept = Dedup.keepRepresentatives(df, pairs, "id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 4L, 5L))
  }

  test("gopher filter agrees with its own metrics; consecutive-token collapse is idempotent") {
    val m = docs.select(col("doc_id"),
        TextAnalysis.gopherFilter(col("text")).as("keep"))
      .groupBy("keep").count().collect()
      .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    // a real split on this corpus, not pass-all / drop-all
    assert(m.getOrElse(true, 0L) > 0 && m.getOrElse(false, 0L) > 0)
    val collapsed = docs.select(
      TextAnalysis.dedupConsecutiveTokens(col("text")).as("c1"))
    val twice = collapsed.select(
      TextAnalysis.dedupConsecutiveTokens(col("c1")).as("c2"),
      col("c1"))
    assert(twice.filter(col("c1") =!= col("c2")).count() == 0)
    // no immediate repeats survive
    val bad = twice.select(split(col("c2"), " ").as("t"))
      .filter(expr(
        "exists(transform(t, (x, i) -> i > 0 AND x = t[i - 1]), b -> b)"))
      .count()
    assert(bad == 0)
  }

  test("jaccard shingle-df cap: lenient cap equals uncapped; tight cap stays consistent") {
    val uncapped = Dedup.jaccardPairs(docs, "text", "doc_id", n = 3, threshold = 0.7)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // a cap far above any real df must not change the result
    val lenient = Dedup.jaccardPairs(docs, "text", "doc_id", n = 3, threshold = 0.7,
      maxDf = 1000000)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lenient == uncapped)
    // a tight cap yields a valid self-consistent jaccard in [threshold, 1]
    val tight = Dedup.jaccardPairs(docs, "text", "doc_id", n = 3, threshold = 0.7,
      maxDf = 50)
    val bad = tight.filter(col("jaccard") < 0.7 || col("jaccard") > 1.0).count()
    assert(bad == 0)
  }

  test("simhash of identical text is identical; pairs are symmetric-free") {
    val sh = docs.limit(20).select(col("doc_id"),
      Dedup.simhash(col("text")).as("s1"),
      Dedup.simhash(col("text")).as("s2")).collect()
    assert(sh.forall(r => r.getLong(1) == r.getLong(2)))
    val pairs = Dedup.simhashPairs(docs, "text", "doc_id").collect()
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1)))
  }

  test("planes = 0 auto-sizes LSH geometry from the corpus count") {
    val n = embs.count()
    val p = Similarity.planesFor(n)
    def pairSet(df: org.apache.spark.sql.DataFrame) = df
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // auto (planes/dim omitted) ≡ explicit planesFor geometry
    val auto = pairSet(Similarity.lshCosinePairs(embs, "vec_id", "embedding", 0.2))
    val explicit = pairSet(Similarity.lshCosinePairs(embs, "vec_id", "embedding",
      0.2, planes = p, dim = 64))
    assert(auto == explicit, "auto geometry must equal planesFor(count)")
    val dir = java.nio.file.Files.createTempDirectory("graft_autoplanes").toString
    val idx = Similarity.lshBuild(embs, "vec_id", "embedding", planes = 0,
      dim = 64, path = dir)
    assert(idx.planes == p, s"lshBuild auto planes ${idx.planes} != planesFor $p")
  }

  test("LSH ANN recall vs brute force top-5") {
    val q = embs.filter(col("vec_id") < 20)
    val bf = Similarity.bruteForceTopK(embs, q, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(embs, q, "vec_id", "embedding", 5,
        planes = 4, dim = 64, tables = 8)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = bf.intersect(lsh).size.toDouble / bf.size
    info(s"ANN recall@5 = $recall")
    // near-orthogonal random vectors are LSH's worst case; multi-table
    // probing still has to beat the ~tables*2^-planes random-scan baseline
    assert(recall > 0.3)
  }

  test("multiprobe LSH lifts recall@5 to >= 0.85 at unchanged index size; prebuilt probe agrees") {
    val q = embs.filter(col("vec_id") < 20)
    val bf = Similarity.bruteForceTopK(embs, q, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      bf.intersect(got).size.toDouble / bf.size
    }
    val r0 = recallOf(Similarity.lshTopK(embs, q, "vec_id", "embedding", 5,
      planes = 4, dim = 64, tables = 8))
    val mp = Similarity.lshTopK(embs, q, "vec_id", "embedding", 5,
      planes = 4, dim = 64, tables = 8, probes = 2)
    val r2 = recallOf(mp)
    info(s"recall@5: probes=0 → $r0, probes=2 → $r2")
    assert(r2 > r0, "multiprobe must strictly improve worst-case recall")
    assert(r2 >= 0.85, s"multiprobe recall@5 $r2 under the 0.85 serving bar")
    // the prebuilt-index probe takes the same multiprobe bucket set: must
    // reproduce the on-the-fly answer exactly
    val dir = java.nio.file.Files.createTempDirectory("graft_mp_idx").toString
    val idx = Similarity.lshBuild(embs, "vec_id", "embedding", planes = 4,
      dim = 64, path = dir)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(key(Similarity.lshProbe(idx, q, k = 5, probes = 2)) == key(mp),
      "prebuilt multiprobe must equal the on-the-fly multiprobe")
    // multiprobe widens the probed partition set but must still prune:
    // ≤ queries·tables·(1+probes) buckets, not the whole index
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p.collect {
      case f: FileSourceScanExec => Seq(f)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: QueryStageExec => scans(s.plan)
    }.flatten
    val q3 = embs.filter(col("vec_id") < 3)
    val probed = Similarity.lshProbe(idx, q3, k = 5, probes = 2)
    probed.collect()
    val read = scans(probed.queryExecution.executedPlan)
      .find(_.toString.contains("graft_mp_idx")).get.metrics("numFiles").value
    val all = spark.read.parquet(dir).inputFiles.length
    info(s"multiprobe probe (3 queries) read $read of $all index files")
    assert(read > 0 && read < all,
      "multiprobe probe must still prune the index read")
  }

  test("external null-id ANN query: no corpus row excluded (even id -1); probe validates dims, accepts double arrays") {
    import org.apache.spark.sql.types._
    // corpus holding a REAL row at id -1 (the value round-8 reserved as
    // the external-query sentinel — it must score like any other row now)
    val corpus = embs.withColumn("vec_id",
      when(col("vec_id") === 7, lit(-1L)).otherwise(col("vec_id")))
    val emb = corpus.filter(col("vec_id") === -1L).select("embedding")
      .head.getSeq[Float](0)
    val q = spark.createDataFrame(
      java.util.Collections.singletonList(
        org.apache.spark.sql.Row(null, emb)),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
    val bf = Similarity.bruteForceTopK(corpus, q, "vec_id", "embedding", 3)
      .orderBy("rank").collect()
    assert(bf.length == 3 && bf.forall(_.isNullAt(0)),
      "external query must serve under a null query_id")
    assert(bf.head.getLong(1) == -1L && math.abs(bf.head.getDouble(2) - 1.0) < 1e-5,
      s"corpus row id -1 must rank itself first, got ${bf.mkString(",")}")
    val dir = java.nio.file.Files.createTempDirectory("graft_null_q").toString
    val idx = Similarity.lshBuild(corpus, "vec_id", "embedding", planes = 4,
      dim = 64, path = dir)
    val lp = Similarity.lshProbe(idx, q, k = 3, probes = 2).orderBy("rank").collect()
    assert(lp.nonEmpty && lp.forall(_.isNullAt(0)) && lp.head.getLong(1) == -1L,
      s"prebuilt probe must score the id -1 row for a null-id query, got ${lp.mkString(",")}")
    // array<double> query columns probe identically (generic element
    // conversion — round-8's getSeq[Float] threw ClassCastException)
    val qd = q.withColumn("embedding",
      transform(col("embedding"), x => x.cast("double")))
    val lpd = Similarity.lshProbe(idx, qd, k = 3, probes = 2).orderBy("rank").collect()
    assert(lpd.map(r => (r.getLong(1), r.getInt(3))).toSeq ==
      lp.map(r => (r.getLong(1), r.getInt(3))).toSeq,
      "double-element query vectors must reproduce the float answer")
    // a wrong-length vector errors loudly instead of probing wrong buckets
    val bad = q.withColumn("embedding", slice(col("embedding"), 1, 10))
    val err = intercept[IllegalArgumentException](
      Similarity.lshProbe(idx, bad, k = 3))
    assert(err.getMessage.contains("dims"), err.getMessage)
  }

  test("dim-256 embeddings: LSH/IVF recall holds at realistic dimension; quantized probe recalls >= 0.9") {
    import org.apache.spark.sql.types._
    // deterministic synthetic fixture at a realistic embedding dimension:
    // 40 gaussian cluster seeds, 2000 members with sigma-0.15 noise —
    // every ANN number before round 9 came from the dim-64 table; dot
    // cost and LSH geometry both change with dimension
    val dim = 256
    val rnd = new scala.util.Random(42)
    val seeds = Array.fill(40)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    val rows = (0 until 2000).map { i =>
      val s = seeds(i % 40)
      val v = Array.tabulate(dim)(d => s(d) + 1.2f * rnd.nextGaussian().toFloat)
      org.apache.spark.sql.Row(i.toLong, v.toSeq)
    }
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType))))).cache()
    try {
      val q = df.filter(col("vec_id") < 20)
      val bf = Similarity.bruteForceTopK(df, q, "vec_id", "embedding", 5)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      def recallOf(got: org.apache.spark.sql.DataFrame): Double = {
        val g = got.select("query_id", "neighbor_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        bf.intersect(g).size.toDouble / bf.size
      }
      val planes = Similarity.planesFor(2000)
      val rLsh = recallOf(Similarity.lshTopK(df, q, "vec_id", "embedding", 5,
        planes = planes, dim = dim, tables = 8, probes = 2))
      val rIvf = recallOf(Similarity.ivfTopK(df, q, "vec_id", "embedding", 5,
        nlist = 64, nprobe = 16))
      val rQuant = recallOf(Similarity.quantizedTopK(df, q, "vec_id",
        "embedding", 5, rerank = 50))
      info(f"dim-256 recall@5: lsh(multiprobe)=$rLsh%.2f ivf=$rIvf%.2f quantized=$rQuant%.2f")
      assert(rLsh >= 0.6, s"dim-256 multiprobe LSH recall $rLsh below bar")
      assert(rIvf >= 0.6, s"dim-256 IVF recall $rIvf below bar")
      assert(rQuant >= 0.9,
        s"int8-quantized probe with float rescore must be near-exact, got $rQuant")
    } finally { df.unpersist(); () }
  }

  test("centroid broadcast arm reproduces the literal arm exactly (pairs + topk + kmeans)") {
    def semPairs() = Similarity.semanticPairs(embs, "vec_id", "embedding",
        threshold = 0.3, nlist = 16)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def ivf() = Similarity.ivfTopK(embs, embs.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 5, nlist = 16, nprobe = 4, kmeansIters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val (pLit, iLit) = (semPairs(), ivf()) // 16×64 floats → literal arm
    spark.conf.set("spark.graft.ann.centroidLiteralBudget", "0")
    try {
      assert(semPairs() == pLit,
        "broadcast-transport semantic pairs must equal the literal arm")
      assert(ivf() == iLit,
        "broadcast-transport IVF top-k (incl. Lloyd refinement) must equal the literal arm")
    } finally spark.conf.unset("spark.graft.ann.centroidLiteralBudget")
  }

  test("sample-bounded Lloyd: deterministic under a small sample, recall keeps the bar, full-sample ≡ unbounded") {
    def cents(): Seq[(Long, Seq[Float])] =
      Similarity.kmeansCentroids(embs, "vec_id", "embedding", nlist = 16,
        iters = 3).toSeq.map { case (c, v) => (c, v.toSeq) }
    val unbounded = cents() // default 1M bound ≥ corpus: full iteration
    // a sample covering the corpus must change nothing
    spark.conf.set("spark.graft.kmeans.sampleRows", "1000000000")
    try assert(cents() == unbounded,
      "a bound above the corpus size must be a no-op")
    finally spark.conf.unset("spark.graft.kmeans.sampleRows")
    // a small bound stays deterministic (same sample, same refinement)
    // and the refined centroids still clear the recall bar
    spark.conf.set("spark.graft.kmeans.sampleRows", "60")
    try {
      val a = cents()
      assert(a == cents(), "sample-bounded refinement must be deterministic")
      assert(a.size == unbounded.size)
      val q = embs.filter(col("vec_id") < 20)
      val bf = Similarity.bruteForceTopK(embs, q, "vec_id", "embedding", 5)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val ivf = Similarity.ivfTopK(embs, q, "vec_id", "embedding", 5,
          nlist = 16, nprobe = 6, kmeansIters = 3)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = bf.intersect(ivf).size.toDouble / bf.size
      info(s"IVF recall@5 with Lloyd bounded to 60 sample rows: $recall")
      assert(recall > 0.3)
    } finally spark.conf.unset("spark.graft.kmeans.sampleRows")
  }

  test("IVF ANN recall vs brute force top-5") {
    val q = embs.filter(col("vec_id") < 20)
    val bf = Similarity.bruteForceTopK(embs, q, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(embs, q, "vec_id", "embedding", 5,
        nlist = 16, nprobe = 6)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = bf.intersect(ivf).size.toDouble / bf.size
    info(s"IVF recall@5 = $recall (nprobe 6/16 ≈ ${6.0/16} of corpus scanned)")
    assert(recall > 0.3)
  }

  test("k-means-refined IVF centroids keep (or beat) sample-centroid recall") {
    val q = embs.filter(col("vec_id") < 20)
    val bf = Similarity.bruteForceTopK(embs, q, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(iters: Int): Double = {
      val ivf = Similarity.ivfTopK(embs, q, "vec_id", "embedding", 5,
          nlist = 16, nprobe = 6, kmeansIters = iters)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      bf.intersect(ivf).size.toDouble / bf.size
    }
    val base = recallOf(0)
    val refined = recallOf(3)
    info(s"IVF recall@5: sample centroids $base, 3 Lloyd iters $refined")
    assert(refined >= base - 0.05) // refinement must not regress materially
    assert(refined > 0.3)
  }

  test("LSH cosine pairs are a subset of exact pairs at the same threshold") {
    val exact = Similarity.cosinePairs(embs, "vec_id", "embedding", 0.2)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshCosinePairs(embs, "vec_id", "embedding", 0.2,
        planes = 4, dim = 64)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact))
    if (exact.nonEmpty) info(s"pair recall = ${lsh.size.toDouble / exact.size}")
  }

  test("exact dedup drops exact duplicates only") {
    val n = docs.count()
    val d = Dedup.exact(docs, "text", "doc_id").count()
    val distinctTexts = docs.select("text").distinct().count()
    assert(d == distinctTexts && d <= n)
  }

  test("decontaminate flags exactly the docs overlapping the benchmark") {
    import spark.implicits._
    val bench = Seq((100L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"),      // identical → all 3 shingles hit
      (2L, "x alpha beta gamma y"),                // one shared 3-gram
      (3L, "zeta eta theta iota kappa")            // disjoint
    ).toDF("doc_id", "text")
    val hits = Dedup.decontaminate(corpus, bench, "text", "doc_id",
        n = 3, minHits = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(hits == Map(1L -> 3L, 2L -> 1L))
    // raising minHits above doc 2's single overlap drops it
    val strict = Dedup.decontaminate(corpus, bench, "text", "doc_id",
        n = 3, minHits = 2)
      .collect().map(_.getLong(0)).toSet
    assert(strict == Set(1L))
  }

  test("dedupSpans keeps first occurrence, preserves case, reassembles in order") {
    import spark.implicits._
    val d = Seq(
      (1L, "a b c d e f"),        // spans: "a b c", "d e f"
      (2L, "A B C x y z"),        // first span dups "a b c" (case-insensitive)
      (3L, "d e f a b c"),        // both spans duplicated → doc vanishes
      (4L, "Q W E")               // unique — must survive with ORIGINAL case
    ).toDF("doc_id", "text")
    val out = Dedup.dedupSpans(d, "text", "doc_id", span = 3)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(out == Map(1L -> "a b c d e f", 2L -> "x y z", 4L -> "Q W E"))
    // span-CLEAN docs pass through BYTE-IDENTICAL (round 12 — the
    // dedupSubstrings split mirrored at span granularity): tabs, newlines
    // and runs of spaces survive verbatim because clean docs never take
    // the text-carrying explode/regroup; a CUT doc's surviving spans
    // rejoin with single spaces
    val ws = Seq(
      (20L, "alpha\tbeta\n\ngamma  delta"),      // unique → byte-identical
      (21L, "u v w x y z"),                      // owns both spans
      (22L, "k\t\tm   z u v w n o p")            // 2nd span "u v w" lost →
                                                 // cut, reassembled normalized
    ).toDF("doc_id", "text")
    val wsOut = Dedup.dedupSpans(ws, "text", "doc_id", span = 3)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(wsOut(20L) == "alpha\tbeta\n\ngamma  delta", s"got ${wsOut(20L)}")
    assert(wsOut(21L) == "u v w x y z")
    assert(wsOut(22L) == "k m z n o p", s"got ${wsOut(22L)}")
  }

  test("dedupSubstrings cuts every non-first >=w-token run, merging overlaps") {
    import spark.implicits._
    val d = Seq(
      (1L, "x y z w a b"),          // owns the first "x y z" (w=3)
      // doc 2 embeds doc 1's run: windows (x y z) and (y z w) both dup →
      // merged cut range covers tokens 1..4 (x y z w); q and r survive
      (2L, "q x y z w r"),
      (3L, "x y z"),                // fully duplicated → vanishes
      (4L, "Q W E"),                // unique, shorter runs — ORIGINAL case
      (5L, "p p p p p")             // within-doc repetition: (p p p)@0 is
                                    // first; @1,@2 dup → merged cut [1,5)
                                    // erodes into the first occurrence too —
                                    // a self-overlapping repeat collapses
    ).toDF("doc_id", "text")
    val out = Dedup.dedupSubstrings(d, "text", "doc_id", window = 3)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(out == Map(1L -> "x y z w a b", 2L -> "q r", 4L -> "Q W E",
      5L -> "p"), s"got $out")
    // a straddling duplicate that NON-overlapping spans would miss: doc 11
    // repeats doc 10's tokens 2..4, which crosses the 3-token span boundary
    val straddle = Seq(
      (10L, "a b c d e f"),
      (11L, "m n c d e k")          // "c d e" straddles spans (a b c|d e f)
    ).toDF("doc_id", "text")
    val spansOut = Dedup.dedupSpans(straddle, "text", "doc_id", span = 3)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    val substrOut = Dedup.dedupSubstrings(straddle, "text", "doc_id", window = 3)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(spansOut(11L) == "m n c d e k")     // span dedup misses it
    assert(substrOut(11L) == "m n k", s"got $substrOut") // windows catch it
    // docs shorter than the window pass through untouched
    val short = Seq((1L, "same"), (2L, "same")).toDF("doc_id", "text")
    val shortOut = Dedup.dedupSubstrings(short, "text", "doc_id", window = 3)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(shortOut == Map(1L -> "same", 2L -> "same"))
    // cut-FREE docs pass through BYTE-IDENTICAL — tabs, newlines and runs
    // of spaces survive verbatim (they never take the token-explode path);
    // a CUT doc's surviving tokens rejoin with single spaces
    val ws = Seq(
      (20L, "alpha\tbeta\n\ngamma  delta"),       // unique → byte-identical
      (21L, "u v w x y z"),                       // owns "u v w"
      (22L, "k\t\tu v w   m n o p")               // cut doc → normalized
    ).toDF("doc_id", "text")
    val wsOut = Dedup.dedupSubstrings(ws, "text", "doc_id", window = 3)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(wsOut(20L) == "alpha\tbeta\n\ngamma  delta", s"got ${wsOut(20L)}")
    assert(wsOut(21L) == "u v w x y z")
    assert(wsOut(22L) == "k m n o p", s"got ${wsOut(22L)}")
  }

  test("dedupSubstrings dense-regime dispatch: both arms, byte-identical outputs") {
    import spark.implicits._
    def results(df: org.apache.spark.sql.DataFrame,
                ratio: Double): Map[Long, String] =
      Dedup.dedupSubstrings(df, "text", "doc_id", window = 3,
          denseCutRatio = ratio)
        .collect().map(r => (r.getLong(0), Option(r.getString(1)).orNull))
        .toMap
    // SPARSE corpus (1 of 6 docs cut → ratio ~0.17): the default dispatch
    // must take the split arm
    val sparse = Seq(
      (1L, "x y z w a b"), (2L, "q x y z w r"), (3L, "c d e f g h"),
      (4L, "i j k l m n"), (5L, "o p q2 r2 s t"),
      (6L, "tab\there  kept verbatim"), (7L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val split0 = Dedup.substrSplitCount.get
    val dense0 = Dedup.substrDenseCount.get
    val sparseAuto = results(sparse, 0.5)
    assert(Dedup.substrSplitCount.get == split0 + 1 &&
      Dedup.substrDenseCount.get == dense0, "sparse corpus must take the split arm")
    // DENSE corpus (every doc shares a duplicated run): dispatch flips
    val dense = Seq(
      (1L, "x y z w a b"), (2L, "q x y z w r"), (3L, "m x y z w n"),
      (4L, "x y z"), (5L, "p x y z w\t\tkeep")
    ).toDF("doc_id", "text")
    val denseAuto = results(dense, 0.5)
    assert(Dedup.substrDenseCount.get == dense0 + 1,
      "dense corpus must take the direct arm")
    // BOTH regimes: auto output byte-identical to the forced split arm
    // (ratio 2 disables the probe — the lazy routing form)
    assert(sparseAuto == results(sparse, 2.0),
      "sparse dispatch output must equal the split arm byte-for-byte")
    assert(denseAuto == results(dense, 2.0),
      "dense dispatch output must equal the split arm byte-for-byte")
    // the dense arm preserved the split contracts: clean doc verbatim
    // (tabs survive), null text kept, fully-covered doc vanished
    assert(denseAuto(5L) == "p keep")
    assert(!denseAuto.contains(4L))
    assert(sparseAuto(6L) == "tab\there  kept verbatim")
    assert(sparseAuto.contains(7L) && sparseAuto(7L) == null)
  }

  test("substring cut-ratio memo is per text column, not per frame") {
    import spark.implicits._
    // the memo is keyed by (plan, fingerprint, window, textCol, idCol): a
    // bare scan's canonicalized plan does not encode WHICH column the
    // operator reads, so without the column in the key a dense "text"
    // reading would wrongly dispatch a clean "title" pass to the dense arm
    val dir =
      java.nio.file.Files.createTempDirectory("graft_substr_memo").toString
    Seq(
      (1L, "x y z w a b", "c1 d1 e1 f1 g1 h1"),
      (2L, "q x y z w r", "i2 j2 k2 l2 m2 n2"),
      (3L, "m x y z w n", "o3 p3 q3 r3 s3 t3"),
      (4L, "x y z", "u4 v4 w4 x4 y4 z4")
    ).toDF("doc_id", "text", "title").write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    val dense0 = Dedup.substrDenseCount.get
    val split0 = Dedup.substrSplitCount.get
    Dedup.dedupSubstrings(df, "text", "doc_id", window = 3).collect()
    assert(Dedup.substrDenseCount.get == dense0 + 1,
      "the duplicated text column must probe dense")
    Dedup.dedupSubstrings(df, "title", "doc_id", window = 3).collect()
    assert(Dedup.substrSplitCount.get == split0 + 1,
      "the clean title column reused the text column's memoized cut ratio")
    // repeating the dense column dispatches off the (column-scoped) memo
    Dedup.dedupSubstrings(df, "text", "doc_id", window = 3).collect()
    assert(Dedup.substrDenseCount.get == dense0 + 2)
  }

  test("exactNormalized merges case/punctuation/whitespace variants") {
    import spark.implicits._
    val d = Seq(
      (1L, "Hello, world!"),
      (2L, "hello   world"),
      (3L, "HELLO WORLD.."),
      (4L, "different text")
    ).toDF("doc_id", "text")
    val reps = Dedup.exactNormalized(d, "text", "doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(reps == Set(1L, 4L))
    // non-Latin scripts are letters, not noise: distinct CJK/Cyrillic docs
    // must NOT merge into one empty-string class (ASCII-only [a-z0-9]
    // normalization would delete all but one of them)
    val multi = Seq(
      (1L, "你好 世界"), (2L, "再见 世界"), (3L, "Привет, мир!"),
      (4L, "привет  мир")
    ).toDF("doc_id", "text")
    val multiReps = Dedup.exactNormalized(multi, "text", "doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(multiReps == Set(1L, 2L, 3L), s"got $multiReps")
  }

  test("exactIncremental drops corpus-seen texts and dedups within the batch") {
    import spark.implicits._
    val corpus = Seq((1L, "old text a"), (2L, "old text b")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "old text a"),      // seen in corpus → dropped
      (11L, "brand new"),       // new → kept
      (12L, "brand new"),       // batch-internal dup → merged onto 11
      (13L, "Old Text B!!")     // normalization-class dup of corpus
    ).toDF("doc_id", "text")
    val exact = Dedup.exactIncremental(batch, corpus, "text", "doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(exact == Set(11L, 13L)) // byte-exact: decorated copy survives
    val norm = Dedup.exactIncremental(batch, corpus, "text", "doc_id",
        normalized = true)
      .collect().map(_.getLong(0)).toSet
    assert(norm == Set(11L)) // normalization-class: decorated copy dropped
  }

  test("incrementalBloom: no false negatives; subset of the exact result") {
    import spark.implicits._
    val docs = Tables.load(spark, sf, "documents")
    val corpus = docs.filter(col("doc_id") < 300)
    val batch = docs.filter(col("doc_id") >= 300).select("doc_id", "text")
      .union(corpus.limit(40).select((col("doc_id") + 5000).as("doc_id"), col("text")))
    val exact = Dedup.exactIncremental(batch, corpus, "text", "doc_id")
      .collect().map(_.getLong(0)).toSet
    // even at a LOOSE fpp the bloom pass may only over-drop, never leak a
    // corpus duplicate: survivors ⊆ exact survivors
    val loose = Dedup.incrementalBloom(batch, corpus, "text", "doc_id",
        expectedItems = 500L, fpp = 0.05)
      .collect().map(_.getLong(0)).toSet
    assert(loose.subsetOf(exact), s"bloom leaked: ${loose -- exact}")
    // and it keeps the bulk of genuinely-new docs (fpp-bounded over-drop)
    assert(loose.size >= (exact.size * 0.8).toInt,
      s"over-dropped: ${loose.size} of ${exact.size}")
    // at a tight fpp the approximate pass equals the exact result here
    val tight = Dedup.incrementalBloom(batch, corpus, "text", "doc_id",
        expectedItems = 500L, fpp = 1e-6)
      .collect().map(_.getLong(0)).toSet
    assert(tight == exact)
  }

  test("scrubPii masks emails, IPv4s, and phones; clean text is untouched") {
    import spark.implicits._
    val d = Seq(
      "reach me at jane.doe+spam@sub.example.org thanks",
      "server 192.168.1.254 and backup 10.0.0.1",
      "call +14155550123 now",
      "no pii here at all",
      "mixed: a@b.io on 1.2.3.4 via +4915123456789"
    ).toDF("text")
    val out = d.select(TextAnalysis.scrubPii(col("text")).as("c"))
      .collect().map(_.getString(0))
    assert(out(0) == "reach me at <EMAIL> thanks")
    assert(out(1) == "server <IP> and backup <IP>")
    assert(out(2) == "call <PHONE> now")
    assert(out(3) == "no pii here at all")
    assert(out(4) == "mixed: <EMAIL> on <IP> via <PHONE>")
  }

  test("chunked: overlap property, full coverage, short doc, blank doc") {
    import spark.implicits._
    val text = (1 to 25).map(i => s"t$i").mkString(" ")
    val d = Seq((1L, text), (2L, "short doc"), (3L, ""), (4L, "   "))
      .toDF("doc_id", "text")
    val out = TextAnalysis.chunked(d, "text", "doc_id",
        chunkSize = 10, overlap = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    val ch = out.filter(_._1 == 1L).sortBy(_._2).map(_._3.split(" ").toSeq)
    // stride 7: chunks start at 0, 7, 14, 21 → 4 chunks, last is short
    assert(ch.length == 4 && ch.take(3).forall(_.length == 10) && ch(3).length == 4)
    // consecutive chunks share exactly `overlap` tokens
    for (i <- 0 until ch.length - 1)
      assert(ch(i).takeRight(3) == ch(i + 1).take(3), s"chunk $i overlap")
    // stride-prefixes + last chunk reassemble the doc exactly
    assert((ch.init.map(_.take(7)).flatten ++ ch.last).mkString(" ") == text)
    assert(out.filter(_._1 == 2L).map(_._3).toSeq == Seq("short doc"))
    // empty and whitespace-only docs yield ZERO chunks, not an empty chunk
    assert(!out.exists(r => r._1 == 3L || r._1 == 4L))
  }

  test("l2Normalized yields unit vectors; zero vectors pass through") {
    val unit = Similarity.l2Normalized(embs, "embedding", "u")
      .select(sqrt(aggregate(col("u"), lit(0.0), (a, x) => a + x * x)).as("n"))
      .collect().map(_.getDouble(0))
    assert(unit.forall(n => math.abs(n - 1.0) < 1e-9 || n == 0.0))
    import spark.implicits._
    val zero = Similarity.l2Normalized(
        Seq(Tuple1(Array(0f, 0f, 0f))).toDF("v"), "v", "u")
      .select("u").collect().head.getSeq[Double](0)
    assert(zero == Seq(0.0, 0.0, 0.0))
  }

  test("planesFor sizes bucket geometry to the corpus; occupancy probe matches the cap's view") {
    // expected occupancy n / 2^planes must land at or under the target
    for ((n, target) <- Seq((200L, 256), (24000L, 256), (600000L, 256), (1L << 40, 512))) {
      val p = Similarity.planesFor(n, target)
      assert((n >> p) <= target, s"n=$n planes=$p occupancy=${n >> p}")
      // and one fewer plane would overshoot (minimality), unless already at 1
      if (p > 1) assert((n >> (p - 1)) > target, s"n=$n planes=$p not minimal")
    }
    // the diagnostic histogram counts every (band, bucket) group the capped
    // join would see: total occupancy == bands × docs-with-signatures
    val occ = Dedup.minhashBandOccupancy(docs, "text", "doc_id", bands = 16)
    val total = occ.agg(sum("count")).head.getLong(0)
    val nDocs = docs.count()
    // every signature-bearing doc contributes exactly one row to each band
    assert(total % 16 == 0 && total > 0 && total <= 16 * nDocs,
      s"histogram total $total vs ${16 * nDocs} banded-row ceiling")
  }

  test("prebuilt MinHash index: probe equals cross-restricted pairs; banded read prunes; filter keeps survivors") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p.collect {
      case f: FileSourceScanExec => Seq(f)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: QueryStageExec => scans(s.plan)
    }.flatten

    val dir = java.nio.file.Files.createTempDirectory("graft_mh_idx_spec").toString
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    val idx = Dedup.minhashIndexBuild(corpus, "text", "doc_id", path = dir)

    // the probe answers exactly what the direct self-join answers on the
    // cross (batch, corpus) pairs — uncapped on both sides so cap SCOPE
    // (union vs corpus-only occupancy) cannot differ
    val got = Dedup.minhashDedupAgainst(idx, batch, threshold = 0.5, maxBucket = 0)
      .select("batch_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = Dedup.minhashPairs(docs, "text", "doc_id", threshold = 0.5,
        maxBucket = 0)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1)))
      .collect { case (a, b) if a % 2 != b % 2 =>
        if (a % 2 == 1) (a, b) else (b, a) }.toSet
    assert(got == expect, s"probe ${got.size} pairs vs direct ${expect.size}")

    // a one-doc ingestion tick reads only the band-bucket slots it hashes
    // to — strictly fewer index files than the banded tree holds
    // pick a doc with a known hit (a signature-less or candidate-less doc
    // folds the whole probe to an empty relation at planning time)
    val oneId = got.headOption.map(_._1).getOrElse(
      batch.filter(size(split(col("text"), "\\s+")) >= 3)
        .select("doc_id").head.getLong(0))
    val one = batch.filter(col("doc_id") === oneId)
    // AQE folds an empty probe result into LocalTableScan, erasing the
    // scan operators; the pruning under test is STATIC (an isin partition
    // filter planted at planning time), so assert it with AQE off
    val aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val lazyProbe =
      try Dedup.minhashDedupAgainstLazy(idx, one, threshold = 0.5)
      finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try lazyProbe.collect()
    finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    val found = scans(lazyProbe.queryExecution.executedPlan)
    val bandedScan = found
      .find(f => f.relation.location.rootPaths.mkString(",").contains("banded"))
      .getOrElse(fail(s"no banded scan among ${found.size}: " +
        found.map(_.relation.location.rootPaths.mkString(","))
          .mkString(" | ").take(2000)))
    val read = bandedScan.metrics("numFiles").value
    val total = spark.read.parquet(s"$dir/banded").inputFiles.length
    assert(read > 0 && read < total,
      s"one-doc probe read $read of $total banded index files — not pruned")

    // survivor filter = batch minus hit ids
    val surv = Dedup.minhashDedupFilter(idx, batch, threshold = 0.5, maxBucket = 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val batchIds = batch.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(surv == batchIds -- got.map(_._1), "filter disagrees with probe hits")
  }

  test("ivfAppend/lshAppend: appended segments are probe-visible; replayed appends change nothing") {
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val dir = java.nio.file.Files.createTempDirectory("graft_ann_append").toString
    val a = embs.filter(col("vec_id") % 2 === 0)
    val b = embs.filter(col("vec_id") % 2 === 1)
    val queries = b.filter(col("vec_id") < 7)

    val ivf = Similarity.ivfBuild(a, "vec_id", "embedding", nlist = 8,
      path = s"$dir/ivf")
    Similarity.ivfAppend(ivf, b)
    assert(spark.read.parquet(s"$dir/ivf").count() == embs.count(),
      "index must hold built + appended vectors exactly once")
    // nprobe = nlist makes the probe exhaustive over clusters, so the
    // appended index must reproduce brute force over the FULL corpus
    val p1 = Similarity.ivfProbe(ivf, queries, k = 5, nprobe = 8)
    assert(key(p1) == key(Similarity.bruteForceTopK(embs, queries,
      "vec_id", "embedding", 5)), "appended vectors must be probe-visible")
    // replayed append: duplicated rows, identical answers
    Similarity.ivfAppend(ivf, b)
    assert(key(Similarity.ivfProbe(ivf, queries, k = 5, nprobe = 8)) == key(p1))

    val lsh = Similarity.lshBuild(a, "vec_id", "embedding", planes = 4,
      dim = 64, path = s"$dir/lsh")
    Similarity.lshAppend(lsh, b)
    val l1 = Similarity.lshProbe(lsh, queries, k = 5)
    assert(key(l1) == key(Similarity.lshTopK(embs, queries, "vec_id",
      "embedding", k = 5, planes = 4, dim = 64)),
      "appended LSH segment must reproduce the full-corpus bucketed answer")
    Similarity.lshAppend(lsh, b)
    assert(key(Similarity.lshProbe(lsh, queries, k = 5)) == key(l1))
  }

  test("minhashIndexCompact: occ deltas aggregate to one row per bucket; probe answers unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mh_compact").toString
    val corpus = docs.filter(col("doc_id") % 3 === 0)
    val seg1 = docs.filter(col("doc_id") % 3 === 1)
    val seg2 = docs.filter(col("doc_id") % 3 === 2).limit(20)
    val idx = Dedup.minhashIndexBuild(corpus, "text", "doc_id", path = dir,
      slots = 4)
    Dedup.minhashIndexAppend(idx, seg1)
    Dedup.minhashIndexAppend(idx, seg1) // replayed append: extra deltas
    val probeBefore = Dedup.minhashDedupAgainst(idx, seg2, threshold = 0.5)
      .select("batch_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rowsBefore = spark.read.parquet(s"$dir/occ")
      .filter(col("band") >= 0).count()
    Dedup.minhashIndexCompact(idx)
    val occ = spark.read.parquet(s"$dir/occ").filter(col("band") >= 0)
    assert(occ.count() < rowsBefore, "compaction must shrink the delta rows")
    assert(occ.groupBy("band", "bucket").count().filter(col("count") > 1)
      .isEmpty, "one aggregated row per (band, bucket) after compaction")
    // consumed segment ids survive as band = -1 markers
    assert(spark.read.parquet(s"$dir/occ").filter(col("band") < 0).count() > 0,
      "compaction must keep segment markers for replay detection")
    val probeAfter = Dedup.minhashDedupAgainst(idx, seg2, threshold = 0.5)
      .select("batch_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(probeAfter == probeBefore, "compaction must not change answers")
  }

  test("legacy pre-_seg occ sidecar: null-_seg deltas are summed per bucket, not collapsed to max") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mh_legacy").toString
    val corpus = docs.filter(col("doc_id") % 3 === 0)
    val seg = docs.filter(col("doc_id") % 3 === 1)
    val idx = Dedup.minhashIndexBuild(corpus, "text", "doc_id", path = dir,
      slots = 4)
    Dedup.minhashIndexAppend(idx, seg)
    // true totals while every delta still carries its segment id
    val expect = spark.read.parquet(s"$dir/occ").filter(col("band") >= 0)
      .groupBy("band", "bucket").agg(sum("count").as("count"))
      .collect().map(r => ((r.get(0), r.get(1)), r.getLong(2))).toMap
    assert(spark.read.parquet(s"$dir/occ").filter(col("band") >= 0).count() >
        expect.size,
      "fixture must hold buckets with multiple delta rows or the test is vacuous")
    // simulate a pre-upgrade sidecar: same delta rows, no _seg column —
    // reading under the extended schema yields null _seg on every row
    val legacySchema = org.apache.spark.sql.types.StructType(Seq(
      idx.occSchema("band"), idx.occSchema("bucket"), idx.occSchema("count")))
    val legacyRows = spark.read.parquet(s"$dir/occ").filter(col("band") >= 0)
      .select("band", "bucket", "count").collect()
    spark.createDataFrame(java.util.Arrays.asList(legacyRows: _*), legacySchema)
      .write.mode("overwrite").parquet(s"$dir/occ")
    // non-full compaction persists occTotals — the legacy deltas must SUM
    Dedup.minhashIndexCompact(idx)
    val got = spark.read.parquet(s"$dir/occ").filter(col("band") >= 0)
      .collect().map(r => ((r.get(0), r.get(1)), r.getLong(2))).toMap
    assert(got == expect,
      s"legacy null-_seg deltas must aggregate to the same totals as " +
        s"segmented deltas (got ${got.size} buckets vs ${expect.size})")
  }

  test("index merge: shard builds probe identically to the monolithic build; markers survive the merge") {
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_merge").toString
    val shardA = docs.filter(col("doc_id") % 4 === 0)
    val seg = docs.filter(col("doc_id") % 4 === 1).limit(30)
    val shardB = docs.filter(col("doc_id") % 4 === 2)
    val probe = docs.filter(col("doc_id") % 4 === 3).limit(30)
    def hitsOf(ix: graft.operators.Dedup.MinHashIndex) =
      Dedup.minhashDedupAgainst(ix, probe, threshold = 0.5)
        .select("batch_id", "corpus_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ia = Dedup.minhashIndexBuild(shardA, "text", "doc_id",
      path = s"$dir/a", slots = 4)
    Dedup.minhashIndexAppend(ia, seg, segmentId = "seg-1")
    val ib = Dedup.minhashIndexBuild(shardB, "text", "doc_id",
      path = s"$dir/b", slots = 4)
    val merged = Dedup.minhashIndexMerge(ia, ib, s"$dir/m")
    val mono = Dedup.minhashIndexBuild(
      shardA.unionByName(seg).unionByName(shardB), "text", "doc_id",
      path = s"$dir/mono", slots = 4)
    assert(hitsOf(merged) == hitsOf(mono),
      "merged shard indexes must answer exactly like the monolithic build")
    // occupancy totals: merged occ must sum to the monolithic histogram
    def occTotals(p: String) = spark.read.parquet(s"$p/occ")
      .filter(col("band") >= 0).groupBy("band", "bucket")
      .agg(sum("count").as("c")).collect()
      .map(r => ((r.get(0), r.get(1)), r.getLong(2))).toMap
    assert(occTotals(s"$dir/m") == occTotals(s"$dir/mono"),
      "merged occupancy totals must equal the monolithic histogram")
    // a segment consumed by shard A pre-merge is STILL a detected replay
    val banded = spark.read.parquet(s"$dir/m/banded").count()
    Dedup.minhashIndexAppend(merged, seg, segmentId = "seg-1")
    assert(spark.read.parquet(s"$dir/m/banded").count() == banded,
      "replay of a pre-merge segment must be skipped via carried markers")

    // IVF: shard A holds every id the monolithic sample would pick, so
    // merged (B re-assigned into A's centroid space) ≡ monolithic
    val ids = embs.select("vec_id").orderBy("vec_id").limit(40)
      .collect().map(_.getLong(0))
    val cut = ids.last + 1
    val va = embs.filter(col("vec_id") < cut)
    val vb = embs.filter(col("vec_id") >= cut)
    val q = embs.filter(col("vec_id") % 7 === 3).limit(10)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val ivfA = Similarity.ivfBuild(va, "vec_id", "embedding", nlist = 8,
      path = s"$dir/ivf_a")
    val ivfB = Similarity.ivfBuild(vb, "vec_id", "embedding", nlist = 8,
      path = s"$dir/ivf_b")
    val ivfM = Similarity.ivfMerge(ivfA, ivfB, s"$dir/ivf_m")
    val ivfMono = Similarity.ivfBuild(embs, "vec_id", "embedding", nlist = 8,
      path = s"$dir/ivf_mono")
    assert(key(Similarity.ivfProbe(ivfM, q, k = 5, nprobe = 4)) ==
      key(Similarity.ivfProbe(ivfMono, q, k = 5, nprobe = 4)),
      "merged IVF shards must probe like the monolithic build")
    // LSH: deterministic geometry → plain union
    val lshA = Similarity.lshBuild(va, "vec_id", "embedding", planes = 4,
      dim = 64, path = s"$dir/lsh_a")
    val lshB = Similarity.lshBuild(vb, "vec_id", "embedding", planes = 4,
      dim = 64, path = s"$dir/lsh_b")
    val lshM = Similarity.lshMerge(lshA, lshB, s"$dir/lsh_m")
    val lshMono = Similarity.lshBuild(embs, "vec_id", "embedding", planes = 4,
      dim = 64, path = s"$dir/lsh_mono")
    assert(key(Similarity.lshProbe(lshM, q, k = 5, probes = 2)) ==
      key(Similarity.lshProbe(lshMono, q, k = 5, probes = 2)),
      "merged LSH shards must probe like the monolithic build")
  }

  test("minhashIndexAppend replay idempotency: deterministic segment id skips, even after compaction") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mh_replay").toString
    val corpus = docs.filter(col("doc_id") % 3 === 0)
    val seg = docs.filter(col("doc_id") % 3 === 1)
    val probe = docs.filter(col("doc_id") % 3 === 2).limit(20)
    val idx = Dedup.minhashIndexBuild(corpus, "text", "doc_id",
      path = dir, slots = 4)
    def hits() = Dedup.minhashDedupAgainst(idx, probe, threshold = 0.5)
      .select("batch_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    Dedup.minhashIndexAppend(idx, seg, segmentId = "batch-1")
    val banded1 = spark.read.parquet(s"$dir/banded").count()
    val occ1 = spark.read.parquet(s"$dir/occ").count()
    val hits1 = hits()
    // replayed append (same deterministic id): a wholesale no-op
    Dedup.minhashIndexAppend(idx, seg, segmentId = "batch-1")
    assert(spark.read.parquet(s"$dir/banded").count() == banded1,
      "replayed append must not duplicate banded rows")
    assert(spark.read.parquet(s"$dir/occ").count() == occ1,
      "replayed append must not add occupancy deltas")
    assert(hits() == hits1)
    // full compaction folds the delta away but keeps its marker: a LATE
    // replay (post-compaction) is still detected and skipped
    Dedup.minhashIndexCompact(idx, full = true)
    val bandedC = spark.read.parquet(s"$dir/banded").count()
    assert(bandedC == banded1, "no duplicates existed, so full compaction preserves rows")
    Dedup.minhashIndexAppend(idx, seg, segmentId = "batch-1")
    assert(spark.read.parquet(s"$dir/banded").count() == bandedC,
      "post-compaction replay must still be skipped via the segment marker")
    assert(hits() == hits1, "answers stable across replay + compaction")
    // a crashed appender's claim (stale mtime, no _seg evidence) is taken
    // over; the claim is released behind the occ write
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val claim = new org.apache.hadoop.fs.Path(s"$dir/_gq_claim_batch-2")
    fs.create(claim, true).close()
    fs.setTimes(claim, System.currentTimeMillis() - 3600000L, -1)
    val seg2 = docs.filter(col("doc_id") % 3 === 2)
      .withColumn("doc_id", col("doc_id") + 5000000L)
    Dedup.minhashIndexAppend(idx, seg2, segmentId = "batch-2")
    assert(spark.read.parquet(s"$dir/banded").count() > bandedC,
      "stale claim not taken over: the genuine append was skipped")
    assert(!fs.exists(claim), "claim must be released after the append")
    // and the evidence-backed replay skips without re-claiming
    val banded2 = spark.read.parquet(s"$dir/banded").count()
    Dedup.minhashIndexAppend(idx, seg2, segmentId = "batch-2")
    assert(spark.read.parquet(s"$dir/banded").count() == banded2)
  }

  test("minhashIndexCompact(full) dedupes crash-window duplicates; torn swap heals at the probe") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mh_full").toString
    val corpus = docs.filter(col("doc_id") % 3 === 0)
    val seg = docs.filter(col("doc_id") % 3 === 1)
    val probe = docs.filter(col("doc_id") % 3 === 2).limit(20)
    val idx = Dedup.minhashIndexBuild(corpus, "text", "doc_id",
      path = dir, slots = 4)
    def hits() = Dedup.minhashDedupAgainst(idx, probe, threshold = 0.5)
      .select("batch_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // ad-hoc double append (no segment id): raw duplicate rows land — the
    // crash-mid-append replay shape
    Dedup.minhashIndexAppend(idx, seg)
    Dedup.minhashIndexAppend(idx, seg)
    val before = hits()
    val rawRows = spark.read.parquet(s"$dir/banded").count()
    val distinctRows = spark.read.parquet(s"$dir/banded").distinct().count()
    assert(rawRows > distinctRows, "fixture must contain duplicate banded rows")
    Dedup.minhashIndexCompact(idx, full = true)
    assert(spark.read.parquet(s"$dir/banded").count() == distinctRows,
      "full compaction must drop duplicated banded rows")
    assert(spark.read.parquet(s"$dir/sigs").count() ==
      spark.read.parquet(s"$dir/sigs").distinct().count(),
      "full compaction must drop duplicated signature rows")
    assert(hits() == before, "full compaction must not change answers")
    // torn swap: simulate a crash between the two renames (occ missing,
    // occ_old present) — the next probe heals it via recoverSwap
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$dir/occ"),
      new org.apache.hadoop.fs.Path(s"$dir/occ_old")))
    assert(hits() == before, "probe must heal a torn occ swap and answer")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/occ")),
      "recovery must have renamed occ_old back")
    // and the same for a torn banded swap
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$dir/banded"),
      new org.apache.hadoop.fs.Path(s"$dir/banded_old")))
    assert(hits() == before, "probe must heal a torn banded swap and answer")
  }

  test("lshCompact/ivfCompact: replay duplicates dropped, answers and sidecar preserved") {
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val dir = java.nio.file.Files.createTempDirectory("graft_ann_compact").toString
    val a = embs.filter(col("vec_id") % 2 === 0)
    val b = embs.filter(col("vec_id") % 2 === 1)
    val queries = b.filter(col("vec_id") < 7)

    val ivf = Similarity.ivfBuild(a, "vec_id", "embedding", nlist = 8,
      path = s"$dir/ivf")
    Similarity.ivfAppend(ivf, b)
    Similarity.ivfAppend(ivf, b) // replay: duplicate rows
    val p1 = key(Similarity.ivfProbe(ivf, queries, k = 5, nprobe = 8))
    Similarity.annCompact(ivf, ivf.path, ivf.schema, "cid")
    assert(spark.read.parquet(s"$dir/ivf").count() == embs.count(),
      "annCompact must fold replayed IVF rows back to one per vector")
    assert(key(Similarity.ivfProbe(ivf, queries, k = 5, nprobe = 8)) == p1)
    assert(Similarity.readMeta[Similarity.IvfIndex](spark, s"$dir/ivf").nonEmpty,
      "compaction must carry the sidecar into the new tree")

    val lsh = Similarity.lshBuild(a, "vec_id", "embedding", planes = 4,
      dim = 64, path = s"$dir/lsh")
    Similarity.lshAppend(lsh, b)
    Similarity.lshAppend(lsh, b)
    val l1 = key(Similarity.lshProbe(lsh, queries, k = 5))
    Similarity.annCompact(lsh, lsh.path, lsh.schema, "_tb")
    assert(spark.read.parquet(s"$dir/lsh").count() ==
      spark.read.parquet(s"$dir/lsh").distinct().count(),
      "annCompact must drop replayed LSH duplicate rows")
    assert(key(Similarity.lshProbe(lsh, queries, k = 5)) == l1)
    assert(Similarity.readMeta[Similarity.LshIndex](spark, s"$dir/lsh").nonEmpty)
  }

  test("minhashIndexFor lifecycle: cache hit, re-open without rebuild, fingerprint invalidation") {
    val base = java.nio.file.Files.createTempDirectory("graft_mh_for_spec").toString
    val before = Dedup.minhashBuildCount.get
    val i1 = Dedup.minhashIndexFor(docs, "mh-spec-corpus", "text", "doc_id", base)
    assert(Dedup.minhashBuildCount.get == before + 1, "first request builds")
    val i2 = Dedup.minhashIndexFor(docs, "mh-spec-corpus", "text", "doc_id", base)
    assert((i2 eq i1) && Dedup.minhashBuildCount.get == before + 1,
      "second request is a cache hit")
    // restart simulation: cleared in-memory cache must RE-OPEN the on-disk
    // sidecar, not rebuild
    Dedup.minhashFamily.invalidateAll()
    val i3 = Dedup.minhashIndexFor(docs, "mh-spec-corpus", "text", "doc_id", base)
    assert(Dedup.minhashBuildCount.get == before + 1,
      "re-open after cache clear must not run a build job")
    assert(i3.path == i1.path && i3.k == i1.k && i3.bands == i1.bands)
    // a different corpus (content) under the same key must not share
    val i4 = Dedup.minhashIndexFor(docs.limit(10).localCheckpoint(true),
      "mh-spec-corpus", "text", "doc_id", base)
    assert(i4.path != i1.path, "different corpus content must get its own index")
  }

  test("minhashIndexFor growth: append-only corpora delta-append, probes see the delta") {
    val work = java.nio.file.Files.createTempDirectory("graft_mh_growth").toString
    val corpusDir = s"$work/corpus"
    docs.filter(col("doc_id") < 300).write.parquet(corpusDir)
    def corpus = spark.read.parquet(corpusDir)
    val b0 = Dedup.minhashBuildCount.get
    val d0 = Dedup.minhashDeltaAppendCount.get
    val i1 = Dedup.minhashIndexFor(corpus, corpusDir, "text", "doc_id",
      s"$work/idx")
    assert(Dedup.minhashBuildCount.get == b0 + 1)
    // append-only growth: new docs land as new files, old files untouched
    docs.filter(col("doc_id") >= 300 && col("doc_id") < 400)
      .write.mode("append").parquet(corpusDir)
    val i2 = Dedup.minhashIndexFor(corpus, corpusDir, "text", "doc_id",
      s"$work/idx")
    assert(Dedup.minhashBuildCount.get == b0 + 1,
      "append-only growth must NOT rebuild")
    assert(Dedup.minhashDeltaAppendCount.get == d0 + 1,
      "growth must take the delta-append path")
    assert(i2.path == i1.path, "the grown corpus reuses the existing tree")
    // a batch copying a doc INDEXED BY THE DELTA must hit the grown index
    val copyOfNew = corpus.filter(col("doc_id") === 350)
      .select((col("doc_id") + 900000L).as("doc_id"), col("text"))
    val hits = Dedup.minhashDedupAgainst(i2, copyOfNew, threshold = 0.9)
      .select("batch_id").collect().map(_.getLong(0)).toSet
    assert(hits == Set(900350L),
      s"delta-indexed doc must be probe-visible, got $hits")
  }

  test("ANN index growth: append-only corpora delta-append; LSH grown ≡ fresh; IVF delta probe-visible") {
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val work = java.nio.file.Files.createTempDirectory("graft_ann_growth").toString
    val corpusDir = s"$work/corpus"
    val baseDir = s"$work/idx"
    embs.filter(col("vec_id") < 60).write.parquet(corpusDir)
    def corpus = spark.read.parquet(corpusDir)
    val l0 = Similarity.lshBuildCount.get()
    val i0 = Similarity.ivfBuildCount.get()
    val d0 = Similarity.annDeltaAppendCount.get()
    val lsh1 = Similarity.lshIndexFor(corpus, corpusDir, "vec_id", "embedding",
      planes = 4, dim = 64, baseDir)
    val ivf1 = Similarity.ivfIndexFor(corpus, corpusDir, "vec_id", "embedding",
      nlist = 8, baseDir)
    assert(Similarity.lshBuildCount.get() == l0 + 1 &&
      Similarity.ivfBuildCount.get() == i0 + 1)
    // append-only growth
    embs.filter(col("vec_id") >= 60 && col("vec_id") < 120)
      .write.mode("append").parquet(corpusDir)
    val lsh2 = Similarity.lshIndexFor(corpus, corpusDir, "vec_id", "embedding",
      planes = 4, dim = 64, baseDir)
    val ivf2 = Similarity.ivfIndexFor(corpus, corpusDir, "vec_id", "embedding",
      nlist = 8, baseDir)
    assert(Similarity.lshBuildCount.get() == l0 + 1 &&
      Similarity.ivfBuildCount.get() == i0 + 1,
      "append-only growth must NOT rebuild either family")
    assert(Similarity.annDeltaAppendCount.get() == d0 + 2,
      "both families must take the delta-append path")
    assert(lsh2.path == lsh1.path && ivf2.path == ivf1.path)
    // LSH buckets against DETERMINISTIC plane families → the grown index
    // answers exactly like a fresh monolithic build
    val fresh = Similarity.lshBuild(corpus, "vec_id", "embedding",
      planes = 4, dim = 64, s"$work/freshlsh")
    val q = corpus.filter(col("vec_id") < 3)
    assert(key(Similarity.lshProbe(lsh2, q, k = 5)) ==
      key(Similarity.lshProbe(fresh, q, k = 5)),
      "grown LSH must answer like a fresh build")
    // IVF appends against FROZEN centroids (the documented incremental
    // trade) — but under a FULL-cell scan (nprobe = nlist) the candidate
    // set is the whole corpus whatever the cell geometry, so the grown
    // index must answer exactly like a fresh build of the grown corpus,
    // for old-corpus queries AND for queries drawn from the delta itself
    val freshIvf = Similarity.ivfBuild(corpus, "vec_id", "embedding",
      nlist = 8, s"$work/freshivf")
    val qNew = corpus.filter(col("vec_id") >= 100 && col("vec_id") < 103)
    for (qs <- Seq(q, qNew))
      assert(key(Similarity.ivfProbe(ivf2, qs, k = 5, nprobe = 8)) ==
        key(Similarity.ivfProbe(freshIvf, qs, k = 5, nprobe = 8)),
        "grown IVF must answer like a fresh build under a full-cell scan")
  }

  test("langId returns a configured language and quality is in [0,1]") {
    val r = docs.select(TextAnalysis.langId(col("text")).as("l"),
      TextAnalysis.qualityMetrics(col("text")).toMap.apply("quality").as("q")).collect()
    assert(r.forall(x => Set("en", "es", "de")(x.getString(0))))
    assert(r.forall(x => x.getDouble(1) >= 0.0 && x.getDouble(1) <= 1.0))
  }

  private def knnKey(df: org.apache.spark.sql.DataFrame) =
    df.select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  test("knnJoinFlip regimes: brute under the budget, IVF above, LSH at pathological dims; unknown size shuffles") {
    val embs = graft.core.Tables.load(spark, sf, "embeddings")
    def cleanup(): Unit = Seq("spark.graft.knn.bruteMaxBytes",
      "spark.graft.knn.centroidMaxFloats").foreach(spark.conf.unset)
    try {
      // gate corpus (~200 rows × dim 64) is far under the default budget
      val (rows, bytes, m0, _) = Similarity.knnJoinFlip(embs, "embedding")
      assert(m0 == "BRUTE", s"default regime: $m0 ($rows rows, $bytes bytes)")
      // shrink the budget → the SAME corpus must dispatch IVF with √n nlist
      spark.conf.set("spark.graft.knn.bruteMaxBytes", "1024")
      val (r1, _, m1, nlist1) = Similarity.knnJoinFlip(embs, "embedding")
      assert(m1 == "IVF" && nlist1 >= 16, s"shrunk budget: $m1 nlist=$nlist1")
      assert(nlist1 == math.max(16L, math.sqrt(r1.toDouble).toLong).toInt)
      // shrink the centroid budget too → LSH
      spark.conf.set("spark.graft.knn.centroidMaxFloats", "64")
      val (_, _, m2, _) = Similarity.knnJoinFlip(embs, "embedding")
      assert(m2 == "LSH", s"tiny centroid budget: $m2")
      cleanup()
      // the flip is exact-count-based: a frame with garbage plan stats
      // (RDD-backed → defaultSizeInBytes; served roots → join-inflated)
      // still dispatches by TRUE size — the sf0.1 regression was a root
      // whose stats were 300× inflated flipping to the approximate arm
      val unknown = spark.createDataFrame(embs.rdd, embs.schema)
      val (ur, _, m3, _) = Similarity.knnJoinFlip(unknown, "embedding")
      assert(m3 == "BRUTE" && ur == embs.count(),
        s"exact-count dispatch on a stats-less frame: $m3 ($ur)")
      // auto ≡ brute on the under-budget corpus (same rows, exact arm)
      val left = embs.filter(org.apache.spark.sql.functions.col("vec_id") % 10 === 3)
      val auto = Similarity.knnJoinAuto(left, embs, "vec_id", "embedding", 3)
        .collect().map(_.toSeq).toSet
      val brute = Similarity.knnJoinBrute(left, embs, "vec_id", "embedding", 3)
        .collect().map(_.toSeq).toSet
      assert(auto == brute)
      // the exact count is memoized per (plan, file fingerprint): repeated
      // auto dispatches on an UNCHANGED file-backed corpus run ONE count
      // job total (round-10 verdict low #3) — fresh DataFrame objects per
      // request, like a serving layer builds
      val jobs0 = Similarity.knnCountJobs.get()
      Similarity.knnJoinFlip(graft.core.Tables.load(spark, sf, "embeddings"),
        "embedding")
      val jobsAfterFirst = Similarity.knnCountJobs.get()
      for (_ <- 1 to 3)
        Similarity.knnJoinFlip(graft.core.Tables.load(spark, sf, "embeddings"),
          "embedding")
      assert(Similarity.knnCountJobs.get() == jobsAfterFirst,
        "repeated flips on an unchanged corpus must reuse the memoized count")
      assert(jobsAfterFirst - jobs0 <= 1)
      // frames WITHOUT file lineage never share a memo entry: two distinct
      // in-memory frames of different sizes must dispatch by their own size
      import spark.implicits._
      val tiny = Seq((1L, Array.fill(4)(0.1f))).toDF("vec_id", "embedding")
      val (tinyRows, _, _, _) = Similarity.knnJoinFlip(
        spark.createDataFrame(tiny.rdd, tiny.schema), "embedding")
      assert(tinyRows == 1L)
      // PAIR budget (round 12): a broadcastable corpus against a large
      // LEFT is quadratic exact work — the first ×50 bench reading was
      // 5k×100k = 500M brute pairs at 734 s. With the pair budget shrunk
      // so |L|·|R| exceeds it, the SAME under-bytes corpus must dispatch
      // IVF; without a left (legacy flip) the bytes rule stands alone.
      spark.conf.set("spark.graft.knn.brutePairBudget",
        (embs.count() * 3).toString) // left of ~10% exceeds 3 rows
      val (_, _, mPair, nlPair) = Similarity.knnJoinFlipFor(
        Some(embs.filter(org.apache.spark.sql.functions.col("vec_id") % 10 === 3)),
        embs, "embedding")
      assert(mPair == "IVF" && nlPair >= 16,
        s"pair budget must veto brute: $mPair")
      val (_, _, mNoLeft, _) = Similarity.knnJoinFlip(embs, "embedding")
      assert(mNoLeft == "BRUTE", "legacy flip (no left) keeps the bytes rule")
      // a NOFILES left is gated by the limit-BOUNDED probe (a full count
      // would materialize an arbitrary served pipeline twice per dispatch):
      // over the budget vetoes brute, under it keeps brute
      val budgetRows = 3L // pairBudget = |right|·3 above
      val overMem = spark.createDataFrame(
        embs.limit(budgetRows.toInt + 2).toDF().rdd, embs.schema)
      val (_, _, mOver, _) =
        Similarity.knnJoinFlipFor(Some(overMem), embs, "embedding")
      assert(mOver != "BRUTE", "nofiles left past the pair budget kept brute")
      val underMem = spark.createDataFrame(
        embs.limit(2).toDF().rdd, embs.schema)
      val (_, _, mUnder, _) =
        Similarity.knnJoinFlipFor(Some(underMem), embs, "embedding")
      assert(mUnder == "BRUTE",
        "nofiles left under the pair budget must stay brute-exact")
      spark.conf.unset("spark.graft.knn.brutePairBudget")
    } finally {
      cleanup()
      spark.conf.unset("spark.graft.knn.brutePairBudget")
    }
  }

  test("knnJoinBrute equals bruteForceTopK with the sides' roles swapped") {
    val left = embs.filter(col("vec_id") % 20 === 3)
    val join = Similarity.knnJoinBrute(left, embs, "vec_id", "embedding", k = 4)
    val search = Similarity.bruteForceTopK(embs, left, "vec_id", "embedding", k = 4)
    assert(knnKey(join) == knnKey(search), "same exact answer, different plan roles")
    // every left row is served: k neighbors each (corpus >> k)
    assert(join.groupBy("query_id").count().filter(col("count") =!= 4).isEmpty,
      "each query must get exactly k neighbors")
  }

  test("knnJoinLsh / knnJoinIvf recall vs the exact join; LSH cap meters") {
    val left = embs.filter(col("vec_id") % 10 === 3)
    val exact = knnKey(Similarity.knnJoinBrute(left, embs, "vec_id", "embedding", 5))
    val lsh = knnKey(Similarity.knnJoinLsh(left, embs, "vec_id", "embedding", 5,
      planes = 4, dim = 64, tables = 8, probes = 1))
    val ivf = knnKey(Similarity.knnJoinIvf(left, embs, "vec_id", "embedding", 5,
      nlist = 16, nprobe = 8))
    def recall(approx: Set[(Long, Long, Int)]) = {
      val e = exact.map(t => (t._1, t._2)); val a = approx.map(t => (t._1, t._2))
      e.intersect(a).size.toDouble / e.size
    }
    info(f"knn-join recall@5: lsh ${recall(lsh)}%.2f ivf ${recall(ivf)}%.2f")
    assert(recall(lsh) >= 0.5, s"LSH join recall ${recall(lsh)}")
    assert(recall(ivf) >= 0.5, s"IVF join recall ${recall(ivf)}")
    // the right-side occupancy cap records its activation (zero here)
    val (_, drops) = Dedup.collectCapDrops {
      Similarity.knnJoinLsh(left, embs, "vec_id", "embedding", 3,
        planes = 4, dim = 64).count()
    }
    assert(drops.exists(_.op == "knnJoinLsh"), s"cap must meter, got $drops")
    // skewed right side: 1,000 identical corpus vectors fill one bucket per
    // table past maxBucket = 100, as do 150 null vectors. A query along the
    // cluster loses every candidate; a query pointing away keeps exactly
    // the answer of the cluster-free, null-free corpus.
    import spark.implicits._
    val dim = 8
    val cluster = Array.tabulate(dim)(i => (i + 1).toFloat)
    val away = (1 to 20).map(j => (3000L + j,
      Array.tabulate(dim)(i => -(i + 1).toFloat + 0.01f * j * (i % 3 - 1))))
    val awayDf = away.toDF("vec_id", "embedding")
    val skewed = (1L to 1000L).map(i => (i, cluster)).toDF("vec_id", "embedding")
      .union(awayDf)
      .union((1L to 150L).map(i => (9000L + i, null.asInstanceOf[Array[Float]]))
        .toDF("vec_id", "embedding"))
    val queries = Seq(
      (4001L, Array.tabulate(dim)(i => (i + 1).toFloat + 0.02f)),
      (4002L, Array.tabulate(dim)(i => -(i + 1).toFloat - 0.02f)))
      .toDF("vec_id", "embedding")
    def join(right: org.apache.spark.sql.DataFrame, maxBucket: Int) =
      knnKey(Similarity.knnJoinLsh(queries, right, "vec_id", "embedding", 3,
        planes = 4, dim = dim, maxBucket = maxBucket))
    val (survivors, skewDrops) = Dedup.collectCapDrops(join(skewed, 100))
    assert(join(skewed, 0).exists(t => t._1 == 4001L && t._2 <= 1000L),
      "uncapped, the cluster query is answered from the cluster")
    assert(survivors == join(awayDf, 100) && survivors.map(_._1) == Set(4002L),
      s"capped survivors $survivors")
    val expected = overCap(skewed, planes = 4, dim = dim, tables = 8, 100,
      "knnJoinLsh")
    assert(expected == Dedup.CapDrop("knnJoinLsh", 16, 8 * (1000 + 150)))
    assert(skewDrops == Seq(expected), s"cap drops $skewDrops, expected $expected")
  }

  test("snapshot diff statuses, default compare columns, changedRows") {
    import spark.implicits._
    val old = Seq((1L, "a", "x"), (2L, "b", "y"), (3L, "c", "z"),
      (4L, null.asInstanceOf[String], "w")).toDF("id", "t", "extra")
    val cur = Seq((1L, "a", "x"), (2L, "B", "y"), (5L, "n", "v"),
      (4L, null.asInstanceOf[String], "w")).toDF("id", "t", "extra")
    val d = graft.operators.Snapshot.diff(old, cur, Seq("id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    // 1 unchanged (absent), 2 changed, 3 removed, 5 added; 4's null
    // compare columns are null-safe-equal → unchanged (absent)
    assert(d == Map(2L -> "changed", 3L -> "removed", 5L -> "added"))
    // restricting compare to the untouched column hides the change
    val d2 = graft.operators.Snapshot.diff(old, cur, Seq("id"),
      compareCols = Seq("extra"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(d2 == Map(3L -> "removed", 5L -> "added"))
    // includeUnchanged = the full census
    val census = graft.operators.Snapshot.diff(old, cur, Seq("id"),
      includeUnchanged = true)
    assert(census.count() == 5)
    // changedRows returns the CURRENT content of new-or-changed keys
    val ch = graft.operators.Snapshot.changedRows(old, cur, Seq("id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(ch == Set((2L, "B"), (5L, "n")))
  }

  test("randomProject: fused MatVec matches the composable form; nulls propagate") {
    import spark.implicits._
    val p = Similarity.randomProject(embs, "embedding", "proj",
      outDim = 16, dim = 64)
      .withColumn("ref",
        Similarity.randomProjectComposable(col("embedding"), 16, 64))
    val mism = p.filter(not(forall(zip_with(col("proj"), col("ref"),
      (a, b) => a === b), x => x))).count()
    assert(mism == 0, s"$mism rows diverge between fused and composable")
    // wrong-length and null-element vectors yield a NULL projection
    val badLen = Seq(Tuple1(Array(1.0f, 2.0f))).toDF("v")
    assert(Similarity.randomProject(badLen, "v", "p", 4, 64)
      .filter(col("p").isNull).count() == 1)
    val withNull = spark.sql(
      "SELECT array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT)) AS v")
    assert(Similarity.randomProject(withNull, "v", "p", 4, 2)
      .filter(col("p").isNull).count() == 1)
  }

  test("randomProject preserves CLUSTERED neighborhoods (64 -> 32)") {
    // the fixture embeddings are near-orthogonal noise (neighbor ranks
    // there are not JL-stable by construction); real corpora have cluster
    // structure — synthesize the clustered shape of BASELINE.md's
    // "Realistic-dimension ANN" reading: 100 clusters, noise
    // around each seed, so true neighbors are same-cluster and well
    // separated from the rest
    def comp(fam: String, a: org.apache.spark.sql.Column,
             b: org.apache.spark.sql.Column) =
      (pmod(xxhash64(lit(fam), a, b), lit(2000000L)) - lit(1000000L)) /
        lit(1000000.0)
    val dims = sequence(lit(0), lit(63))
    val corpus = spark.range(2000L).toDF("vec_id")
      .withColumn("_c", col("vec_id") % 100)
      .withColumn("embedding", transform(dims, d =>
        (comp("seed", col("_c"), d) +
          lit(0.5) * comp("noise", col("vec_id"), d)).cast("float")))
      .drop("_c").localCheckpoint(true)
    val proj = Similarity.randomProject(corpus, "embedding", "proj",
      outDim = 32, dim = 64).select(col("vec_id"), col("proj"))
      .localCheckpoint(true)
    val queries = corpus.filter(col("vec_id") < 20)
    val exact = knnKey(Similarity.bruteForceTopK(corpus, queries,
      "vec_id", "embedding", 5)).map(t => (t._1, t._2))
    val low = knnKey(Similarity.bruteForceTopK(proj,
      proj.filter(col("vec_id") < 20), "vec_id", "proj", 5))
      .map(t => (t._1, t._2))
    val recall = exact.intersect(low).size.toDouble / exact.size
    // identity recall@5 is soft (same-cluster members are near-ties whose
    // ORDER reshuffles under any projection); the load-bearing property
    // for the dedup/ANN tiers is CLUSTER preservation — projected
    // neighbors must come from the query's cluster
    val sameCluster = low.count { case (q, n) => q % 100 == n % 100 }
      .toDouble / low.size
    info(f"projected (64 -> 32): identity recall@5 $recall%.2f, " +
      f"same-cluster fraction $sameCluster%.2f")
    assert(sameCluster >= 0.9,
      s"projection leaked neighbors across clusters: $sameCluster")
    assert(recall >= 0.3, s"identity recall collapsed entirely: $recall")
  }

  test("scoreLinear: weights separate docs by token content; empty model scores the bias") {
    import spark.implicits._
    val df = Seq(
      (1L, "good great excellent wonderful good great"),
      (2L, "bad awful terrible horrid bad awful"),
      (3L, "good bad good bad good bad")).toDF("doc_id", "text")
    val dim = 1 << 16
    val vocabW = Seq("good" -> 1.0, "great" -> 1.0, "excellent" -> 1.0,
      "wonderful" -> 1.0, "bad" -> -1.0, "awful" -> -1.0,
      "terrible" -> -1.0, "horrid" -> -1.0).toDF("tok", "weight")
      .select(TextAnalysis.featureIdx(col("tok"), dim).as("idx"), col("weight"))
    val scored = TextAnalysis.scoreLinear(df, "text", "doc_id", vocabW, dim,
      bias = 0.0).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // every token carries weight ±1 and 2^16 buckets make collisions
    // vanishingly unlikely for 8 tokens: the means are exactly ±1 / 0
    assert(math.abs(scored(1L) - 1.0) < 1e-9, s"positive doc: ${scored(1L)}")
    assert(math.abs(scored(2L) + 1.0) < 1e-9, s"negative doc: ${scored(2L)}")
    assert(math.abs(scored(3L)) < 1e-9, s"mixed doc: ${scored(3L)}")
    val empty = Seq.empty[(Long, Double)].toDF("idx", "weight")
    val biasOnly = TextAnalysis.scoreLinear(df, "text", "doc_id", empty, dim,
      bias = 0.7).collect()
    biasOnly.foreach { r =>
      assert(math.abs(r.getDouble(1) - 0.7) < 1e-9, s"bias-only score $r")
      // logistic of the score, not of the mean: prob = sigmoid(0.7)
      assert(math.abs(r.getDouble(2) - 1.0 / (1.0 + math.exp(-0.7))) < 1e-9)
    }
  }

  test("scoreLinear: null/empty text scores exactly the bias instead of vanishing") {
    import spark.implicits._
    val df = Seq((1L, "good great"), (2L, null.asInstanceOf[String]), (3L, ""))
      .toDF("doc_id", "text")
    val dim = 1 << 16
    val w = Seq("good" -> 1.0, "great" -> 1.0).toDF("tok", "weight")
      .select(TextAnalysis.featureIdx(col("tok"), dim).as("idx"), col("weight"))
    val scored = TextAnalysis.scoreLinear(df, "text", "doc_id", w, dim,
      bias = 0.25).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scored.keySet == Set(1L, 2L, 3L),
      s"every doc must score, got ${scored.keySet}")
    assert(math.abs(scored(1L) - 1.25) < 1e-9)
    assert(math.abs(scored(2L) - 0.25) < 1e-9, "null text = bias only")
  }

  test("dsir unigram model cache: cached equals recomputed, second request skips estimation") {
    import spark.implicits._
    val raw = (1L to 80L).map(i => (i, s"alpha beta gamma token$i"))
      .toDF("doc_id", "text").localCheckpoint(true)
    val target = (1L to 20L).map(i => (i, s"alpha alpha beta special$i"))
      .toDF("doc_id", "text").localCheckpoint(true)
    TextAnalysis.invalidateUnigramModels()
    val uncached = TextAnalysis.dsirLogWeights(raw, target, "text", "doc_id",
      dim = 1 << 12, cached = false).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b0 = TextAnalysis.unigramModelBuildCount.get
    val lw0 = TextAnalysis.lwBuildCount.get
    val first = TextAnalysis.dsirLogWeights(raw, target, "text", "doc_id",
      dim = 1 << 12).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(TextAnalysis.unigramModelBuildCount.get == b0 + 2,
      "first cached call estimates both corpus models")
    assert(TextAnalysis.lwBuildCount.get == lw0 + 1,
      "first cached call runs the lw scoring pass")
    val second = TextAnalysis.dsirLogWeights(raw, target, "text", "doc_id",
      dim = 1 << 12).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(TextAnalysis.unigramModelBuildCount.get == b0 + 2,
      "second request must hit the cache — no re-estimation")
    assert(TextAnalysis.lwBuildCount.get == lw0 + 1,
      "second request must reuse the cached lw frame — no scoring pass")
    assert(first.keySet == uncached.keySet)
    uncached.foreach { case (id, lw) =>
      assert(math.abs(first(id) - lw) < 1e-12, s"cached != recomputed at $id")
      assert(math.abs(second(id) - lw) < 1e-12)
    }
    // a different dim is a different model — distinct cache entry
    TextAnalysis.dsirLogWeights(raw, target, "text", "doc_id", dim = 1 << 11)
      .collect()
    assert(TextAnalysis.unigramModelBuildCount.get == b0 + 4)
    TextAnalysis.invalidateUnigramModels()
  }

  test("TextAnalysis memo caches are LRU-bounded at the index cache cap") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_lw_lru").toString
    val dim = 1 << 12
    (1L to 30L).map(i => (i, s"good great token$i")).toDF("doc_id", "text")
      .write.parquet(s"$dir/docs")
    Seq("good" -> 1.0, "great" -> 2.0, "token3" -> 3.0).toDF("tok", "weight")
      .select(TextAnalysis.featureIdx(col("tok"), dim).as("idx"),
        col("weight"))
      .write.parquet(s"$dir/w")
    val docs = spark.read.parquet(s"$dir/docs")
    // three weight frames over ONE set of files: only the plan tells them
    // apart, so the key must carry the plan, not just the fingerprint
    def weights(min: Double) =
      spark.read.parquet(s"$dir/w").filter(col("weight") > min)
    def score(min: Double): Unit = {
      TextAnalysis.scoreLinear(docs, "text", "doc_id", weights(min), dim,
        bias = 0.0)
      ()
    }
    TextAnalysis.invalidateUnigramModels()
    sys.props("graft.index.cache.max") = "2"
    try {
      val b0 = TextAnalysis.lwBuildCount.get
      Seq(0.0, 1.5, 2.5).foreach(score)
      assert(TextAnalysis.lwBuildCount.get == b0 + 3)
      assert(TextAnalysis.lwCache.size <= 2,
        s"cache must stay at the cap, got ${TextAnalysis.lwCache.size}")
      score(0.0) // least recently requested: evicted, recomputed once
      assert(TextAnalysis.lwBuildCount.get == b0 + 4)
      score(2.5) // still cached
      assert(TextAnalysis.lwBuildCount.get == b0 + 4)
    } finally {
      sys.props.remove("graft.index.cache.max")
      TextAnalysis.invalidateUnigramModels()
    }
  }

  test("knnJoinLsh dim inference: empty or all-null vector column gives a named error") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val empty = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    val left = spark.createDataFrame(java.util.List.of(
      org.apache.spark.sql.Row(1L, Seq(1.0f, 0.0f))), schema)
    val e1 = intercept[IllegalArgumentException] {
      graft.operators.Similarity.knnJoinLsh(left, empty, "vec_id", "embedding",
        k = 1, planes = 4)
    }
    assert(e1.getMessage.contains("embedding") && e1.getMessage.contains("dim"),
      s"error must name the column: ${e1.getMessage}")
    val allNull = spark.createDataFrame(java.util.List.of(
      org.apache.spark.sql.Row(2L, null)), schema)
    val e2 = intercept[IllegalArgumentException] {
      graft.operators.Similarity.knnJoinLsh(left, allNull, "vec_id", "embedding",
        k = 1, planes = 4)
    }
    assert(e2.getMessage.contains("non-null"), e2.getMessage)
    // explicit dim bypasses inference entirely on the same degenerate input
    assert(graft.operators.Similarity.knnJoinLsh(left, allNull, "vec_id",
      "embedding", k = 1, planes = 4, dim = 2).count() == 0)
  }

  test("asOf rejects unorderable payload columns with a named error") {
    import spark.implicits._
    val delta = Seq((1L, 0L, Map("a" -> 1))).toDF("k", "_batch", "payload")
    val e = intercept[IllegalArgumentException] {
      graft.operators.Snapshot.asOf(delta, Seq("k"))
    }
    assert(e.getMessage.contains("payload") && e.getMessage.contains("unorderable"),
      e.getMessage)
  }

  test("dsirResample: selection is enriched toward the target distribution and deterministic") {
    import spark.implicits._
    // raw corpus: half "science" docs, half "spam" docs; target: science only
    val sci = (1L to 60L).map(i =>
      (i, s"protein enzyme molecule atom electron physics theorem proof lemma axiom sample$i"))
    val spam = (61L to 120L).map(i =>
      (i, s"buy cheap pills now click here winner prize casino jackpot offer$i"))
    val raw = (sci ++ spam).toDF("doc_id", "text")
    val target = sci.take(20).map { case (i, t) => (i + 9000L, t) }
      .toDF("doc_id", "text")
    val picked = TextAnalysis.dsirResample(raw, target, "text", "doc_id",
      dim = 1 << 14, k = 30, seed = "7")
    val ids = picked.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids.size == 30, s"exactly k selected, got ${ids.size}")
    val sciFrac = ids.count(_ <= 60L).toDouble / ids.size
    assert(sciFrac >= 0.8,
      s"DSIR selection must favor target-like docs, science fraction $sciFrac")
    // deterministic under repartitioning (Gumbel keys are md5-derived)
    val again = TextAnalysis.dsirResample(raw.repartition(7), target, "text",
      "doc_id", dim = 1 << 14, k = 30, seed = "7")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == ids, "selection must be stable under repartitioning")
    // a different seed reshuffles the Gumbel draw but keeps the enrichment
    val other = TextAnalysis.dsirResample(raw, target, "text", "doc_id",
      dim = 1 << 14, k = 30, seed = "8")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(other != ids, "seed must matter")
    assert(other.count(_ <= 60L).toDouble / other.size >= 0.8)
  }

  test("Profile.summary: one-pass census with nulls, exact vs approx ndv, empty frame") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq[(java.lang.Long, String)]((1L, "x"), (2L, null), (2L, "y"),
      (null, "y")).toDF("a", "b")
    val rows = graft.operators.Profile.summary(df, exactNdv = true)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3),
         r.getString(4), r.getString(5), Option(r.get(6)))).toMap
    assert(rows("a") == ((3L, 1L, 2L, "1", "2", Some(5.0 / 3))), rows("a"))
    assert(rows("b") == ((3L, 1L, 2L, "x", "y", None)), rows("b"))
    // approx ndv stays a LONG column of plausible estimates (exact shape
    // is the oracle's job; here only the single-pass plan contract)
    val approx = graft.operators.Profile.summary(df, Seq("a"))
      .collect().head.getLong(3)
    assert(approx >= 1L && approx <= 3L)
    val empty = graft.operators.Profile.summary(df.limit(0), Seq("a"))
      .collect().head
    assert(empty.getLong(1) == 0L && empty.getLong(2) == 0L &&
      empty.getLong(3) == 0L && empty.isNullAt(4) && empty.isNullAt(6))
    // quantiles ride the same pass: exact = interpolated percentile
    // (p·(n−1)); approx = GK sketch inside [min, max]; non-numeric → null
    val aExact = graft.operators.Profile.summary(df, Seq("a", "b"),
      exactNdv = true).collect().map(r => r.getString(0) -> r).toMap
    assert(aExact("a").getDouble(7) == 2.0 && aExact("a").getDouble(8) == 2.0,
      s"exact quantiles of [1,2,2]: ${aExact("a")}")
    assert(aExact("b").isNullAt(7) && aExact("b").isNullAt(8))
    val aApprox = graft.operators.Profile.summary(df, Seq("a")).collect().head
    assert(aApprox.getDouble(7) >= 1.0 && aApprox.getDouble(8) <= 2.0)
    // grouped census ≡ whole-table census of each group's slice
    val grouped = graft.operators.Profile.summaryBy(df, Seq("b"), Seq("a"),
      exactNdv = true).collect()
      .map(r => Option(r.getString(0)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    for (g <- Seq(Some("x"), Some("y"), None)) {
      val slice = df.filter(if (g.isEmpty) col("b").isNull else col("b") === g.get)
      val one = graft.operators.Profile.summary(slice, Seq("a"), exactNdv = true)
        .collect().head
      assert(grouped(g) == ((one.getLong(1), one.getLong(2), one.getLong(3))),
        s"group $g census must equal its slice's census")
    }
  }

  test("Profile exact quantiles: distributed selection ≡ Spark percentile, bit-for-bit") {
    val spark2 = spark
    import spark2.implicits._
    // adversarial shapes for the order-statistic selection: non-integral
    // doubles (interpolation actually interpolates), heavy ties (rank
    // intervals wider than 1), negatives, nulls, and sizes around the
    // shuffle-partition count (empty range partitions)
    // force the distributed-selection arm (tiny test frames would
    // otherwise dispatch to the single-map percentile)
    spark.conf.set("spark.graft.profile.selectionMinBytes", "0")
    val rnd = new scala.util.Random(42)
    val shapes: Seq[Seq[java.lang.Double]] = Seq(
      Seq[java.lang.Double](1.5),
      Seq[java.lang.Double](3.25, -7.5),
      (1 to 97).map(_ => java.lang.Double.valueOf(rnd.nextInt(7) - 3.5)),
      (1 to 500).map(_ => java.lang.Double.valueOf(
        math.rint(rnd.nextGaussian() * 1e6) / 256.0)),
      (1 to 1000).map(i => if (i % 11 == 0) null
        else java.lang.Double.valueOf(rnd.nextDouble() * 1e9 - 5e8)))
    for ((vals, si) <- shapes.zipWithIndex) {
      val df = vals.toDF("v")
      val got = graft.operators.Profile.summary(df, Seq("v"), exactNdv = true)
        .select("p50", "p95").collect().head
      val exp = df.agg(percentile(col("v"), array(lit(0.5), lit(0.95))))
        .collect().head.getSeq[Double](0)
      assert(got.getDouble(0) == exp(0) && got.getDouble(1) == exp(1),
        s"shape $si: selection (${got.getDouble(0)}, ${got.getDouble(1)}) " +
          s"!= percentile (${exp(0)}, ${exp(1)})")
    }
    // all-null and empty columns yield null quantiles, like percentile
    val allNull = Seq[java.lang.Double](null, null).toDF("v")
    val nr = graft.operators.Profile.summary(allNull, Seq("v"),
      exactNdv = true).collect().head
    assert(nr.isNullAt(7) && nr.isNullAt(8), s"all-null quantiles: $nr")
    spark.conf.unset("spark.graft.profile.selectionMinBytes")
  }
}
