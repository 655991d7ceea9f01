package graft

import org.apache.spark.sql.DataFrame
import graft.operators.{Dedup, IndexMaint, Similarity, TextSearch}

/** Pins on the shared serve-side index lifecycle: the persisted-lineage
  * advance guard and the in-flight GC shield (white-box — hazards that
  * surface only under eviction/GC timing a family-level request cannot
  * reach deterministically), and one table-driven lifecycle run over
  * every index family. */
class IndexMaintSpec extends SparkSpec {

  private def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  test("a stale reader never writes its older file set over the lineage blob") {
    // Scenario (round-12 review): the in-memory lineage entry for params P
    // is LRU-evicted and then RE-populated by a stale pre-growth reader
    // (its merge lands in an empty slot, so advance-only cannot save it).
    // The blob write-guard must still refuse to overwrite the persisted
    // advanced lineage — otherwise the next growth computes its delta from
    // the stale set and re-appends files already in the tree.
    val baseDir = tmpDir("graft_blob_guard")
    val family = new IndexMaint.Family[String]("tx", "tx_", identity,
      new java.util.concurrent.atomic.AtomicLong,
      new java.util.concurrent.atomic.AtomicLong)
    val gen1 = Map("f1" -> ((1L, 1L)))
    val gen2 = gen1 + ("f2" -> ((2L, 2L)))
    def request(key: String, files: Map[String, (Long, Long)]): String =
      family.cachedIndexFor(spark, baseDir,
        params = "tx|spec", key = key, files = files,
        path = s"$baseDir/tree_$key", reopenAt = _ => None,
        build = () => s"$baseDir/tree_$key", append = (p, _) => p)
    request("k2", gen2) // grown generation served: blob records (gen2, k2)
    assert(IndexMaint.readLineageBlob(spark, baseDir, "tx|spec")
      .exists(_._2 == "k2"))
    // simulate the eviction race: the in-memory entry is repopulated with
    // the STALE lineage (what a pre-growth reader's merge into an emptied
    // slot produces), then that reader computes and reaches the blob write
    family.lineage.clear()
    family.lineage.merge("tx|spec", (gen1, "k1"), (_, n) => n)
    request("k1", gen1)
    val blob = IndexMaint.readLineageBlob(spark, baseDir, "tx|spec")
    assert(blob.exists(_._2 == "k2"),
      s"stale reader overwrote the advanced lineage blob: $blob")
    assert(blob.exists(_._1 == gen2))
  }

  test("gcOrphans spares trees whose build is in flight in this JVM") {
    val baseDir = tmpDir("graft_gc_inflight")
    val fs = new org.apache.hadoop.fs.Path(baseDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tree = new org.apache.hadoop.fs.Path(s"$baseDir/tx_building")
    fs.mkdirs(tree)
    fs.setTimes(tree, System.currentTimeMillis() - 3600000L, -1)
    // a half-written tree: in no cache (builds register only on return),
    // older than the grace window — exactly what a scheduled sweep would
    // eat mid-build without the in-flight shield
    val swept = IndexMaint.trackInFlight(tree.toString) {
      IndexMaint.gcOrphans(spark, baseDir, Seq("tx_"),
        live = Set.empty, graceMs = 0L)
    }
    assert(swept.isEmpty && fs.exists(tree),
      "the GC swept a tree whose build was still running")
    // once the build returns (registration dropped) an un-live tree is
    // an ordinary orphan again
    val sweptAfter = IndexMaint.gcOrphans(spark, baseDir, Seq("tx_"),
      live = Set.empty, graceMs = 0L)
    assert(sweptAfter.nonEmpty && !fs.exists(tree))
  }

  test("gcOrphans reaps a swept tree's lock companion, spares a live root's") {
    val baseDir = tmpDir("graft_gc_lock")
    val fs = new org.apache.hadoop.fs.Path(baseDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def mk(name: String): org.apache.hadoop.fs.Path = {
      val p = new org.apache.hadoop.fs.Path(s"$baseDir/$name")
      fs.mkdirs(p); fs.setTimes(p, System.currentTimeMillis() - 3600000L, -1)
      p
    }
    def lockOf(root: String): org.apache.hadoop.fs.Path =
      new org.apache.hadoop.fs.Path(s"$baseDir/.$root._gq_treelock")
    // orphan tree + its writer-lock dotfile: both must go in one sweep
    mk("tx_dead")
    fs.create(lockOf("tx_dead"), true).close()
    // live tree whose stranded _old companion gets swept: the ROOT's lock
    // may be held by a writer and must survive
    val liveTree = mk("tx_live"); mk("tx_live_old")
    fs.create(lockOf("tx_live"), true).close()
    IndexMaint.gcOrphans(spark, baseDir, Seq("tx_"),
      live = Set(liveTree.toString), graceMs = 0L)
    assert(!fs.exists(lockOf("tx_dead")),
      "a swept tree's lock companion must be reaped with it")
    assert(fs.exists(liveTree) && fs.exists(lockOf("tx_live")),
      "sweeping an _old companion must not reap the live root's lock")
    // the dotfile itself is never treated as a sweepable tree
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$baseDir/tx_dead")))
  }

  /** One index family as the serving layer reaches it: `open` requests the
    * index of (corpus, corpusKey) under baseDir and returns its tree path;
    * `parentKey`/`parentParams` spell the cache key and lineage params of
    * (corpusKey, fingerprint) literally, as earlier releases wrote them —
    * trees and lineage blobs already on disk re-open only while these
    * stay byte-identical. */
  private case class FamilyCase(
      family: IndexMaint.Family[_ <: AnyRef], prefix: String,
      open: (DataFrame, String, String) => String,
      parentKey: (String, String) => String,
      parentParams: String => String)

  private val familyCases = Seq(
    FamilyCase(TextSearch.textFamily, "tx_",
      (c, k, d) => TextSearch.textIndexFor(c, k, "text", "id", d).path,
      (k, fp) => s"tx5|$k|$fp|text|id|256", k => s"tx5|$k|text|id|256"),
    FamilyCase(Dedup.minhashFamily, "mh_",
      (c, k, d) => Dedup.minhashIndexFor(c, k, "text", "id", d).path,
      (k, fp) => s"mh|$k|$fp|text|id|3|64|16|false|64",
      k => s"mh|$k|text|id|3|64|16|false|64"),
    FamilyCase(Similarity.ivfFamily, "ivf_",
      (c, k, d) => Similarity.ivfIndexFor(c, k, "id", "vec", 4, d).path,
      (k, fp) => s"ivf|$k|$fp|id|vec|4|0", k => s"ivf|$k|id|vec|4|0"),
    FamilyCase(Similarity.lshFamily, "lsh_",
      (c, k, d) => Similarity.lshIndexFor(c, k, "id", "vec", 4, 8, d).path,
      (k, fp) => s"lsh|$k|$fp|id|vec|4|8|8", k => s"lsh|$k|id|vec|4|8|8"))

  /** The content fingerprint as earlier releases computed it: md5 over the
    * sorted "path|len|mtime" lines of the input files, first 8 bytes. */
  private def parentFingerprint(df: DataFrame): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val md = java.security.MessageDigest.getInstance("MD5")
    df.inputFiles.sorted.foreach { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      val st = p.getFileSystem(conf).getFileStatus(p)
      md.update(s"$f|${st.getLen}|${st.getModificationTime}\n"
        .getBytes("UTF-8"))
    }
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  private def corpusRows(from: Long, until: Long): DataFrame = {
    import spark.implicits._
    (from until until).map { i =>
      (i, s"doc $i alpha beta gamma delta w${i % 7} v${i % 5}",
        (0 until 8).map(j => ((i * 31 + j * 17) % 13).toFloat - 6f).toArray)
    }.toDF("id", "text", "vec")
  }

  familyCases.foreach { fc =>
    val tag = fc.family.tag
    test(s"index lifecycle [$tag]: build, re-open, delta-append, evict, GC, key identity") {
      val work = tmpDir(s"graft_life_$tag")
      val corpusDir = s"$work/corpus"
      corpusRows(0, 40).write.parquet(corpusDir)
      def corpus = spark.read.parquet(corpusDir)
      val svc = new graft.graphql.GraphQLService(spark, sf)
      val baseDir = svc.indexDir
      val fam = fc.family
      val b0 = fam.builds.get
      val d0 = fam.deltas.get

      // first request builds, at the tree path the parent's key names
      val gen1 = fc.open(corpus, corpusDir, baseDir)
      assert(fam.builds.get == b0 + 1, "first request builds")
      val gen1Key = fc.parentKey(corpusDir, parentFingerprint(corpus))
      assert(gen1 == s"$baseDir/${fc.prefix}${IndexMaint.keyHash(gen1Key)}",
        s"tree path must stay keyHash($gen1Key)")
      assert(new java.io.File(s"$baseDir/_gq_lineage/" +
        s"${IndexMaint.keyHash(fc.parentParams(corpusDir))}.bin").exists,
        "lineage blob must stay at keyHash(params)")

      // cleared cache re-opens the on-disk tree: no build
      fam.invalidateAll()
      assert(fc.open(corpus, corpusDir, baseDir) == gen1)
      assert(fam.builds.get == b0 + 1, "re-open after invalidateAll rebuilt")

      // superset growth delta-appends into the same tree
      corpusRows(40, 50).write.mode("append").parquet(corpusDir)
      assert(fc.open(corpus, corpusDir, baseDir) == gen1)
      assert(fam.builds.get == b0 + 1 && fam.deltas.get == d0 + 1,
        "append-only growth must delta-append, not rebuild")

      // at cap 2, two more indexes evict the grown one; it re-opens from
      // its lineage blob without a rebuild
      sys.props("graft.index.cache.max") = "2"
      try {
        val e0 = fam.evictions
        val other1 = fc.open(corpus, s"$corpusDir#1", baseDir)
        val other2 = fc.open(corpus, s"$corpusDir#2", baseDir)
        assert(fam.builds.get == b0 + 3 && fam.evictions > e0)
        assert(fc.open(corpus, corpusDir, baseDir) == gen1)
        assert(fam.builds.get == b0 + 3, "evicted index rebuilt")
        assert(fam.size <= 2)

        // other1 is now out of every cache: the service's sweep retires
        // it and spares the live trees
        val swept = svc.indexGc(graceMs = 0L)
          .map(p => new org.apache.hadoop.fs.Path(p).toUri.getPath)
        assert(swept.contains(other1), s"retired tree not swept: $swept")
        assert(!swept.contains(gen1) && !swept.contains(other2),
          s"live tree swept: $swept")
        assert(new java.io.File(gen1).exists && !new java.io.File(other1).exists)
      } finally sys.props.remove("graft.index.cache.max")
    }
  }
}
