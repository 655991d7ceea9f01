package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity, TextSearch}

/** REAL multi-writer evidence for the cross-JVM append claim
  * ([[graft.operators.IndexMaint.withAppendClaim]]): separate driver JVMs
  * sharing one index baseDir append segments concurrently — the deployment
  * shape the claim protocol exists for (the in-JVM growth lock cannot see
  * a second driver; the specs pin the protocol in-process, this probe
  * exercises it across processes). Three scenarios, driven by a shell
  * harness that launches real concurrent JVMs:
  *
  *   1. SAME-SEGMENT RACE — two JVMs append the same logical segment under
  *      the same deterministic id. Whatever the interleaving (true claim
  *      race, or the loser skipping on done-evidence), the tree must equal
  *      the single-append reference exactly: double-counted BM25
  *      docs/totalLen or minhash occupancy is the failure the claim closes.
  *   2. DIFFERENT-SEGMENT CONCURRENCY — two JVMs append two different
  *      segments (own ids) at once. Claims are per-segment, so BOTH must
  *      land (the protocol serializes duplicates, not throughput); the
  *      tree must equal the both-appended reference.
  *   3. CRASHED-CLAIM TAKEOVER — a "crashed" JVM planted a claim and died
  *      before appending; a later appender (stale bound lowered via
  *      -Dgraft.index.append.claim.stale.ms) must take the claim over and
  *      append normally, landing on the single-append reference.
  *
  * Subcommands (one JVM each):
  *   setup <work> <sfDir>          — base/segment split, base text
  *                                   (positional) + minhash indexes, and
  *                                   the two reference trees (ref1: full
  *                                   segment appended once; ref2: both
  *                                   halves appended).
  *   append <work> <who> <seg>     — open the shared handles, signal
  *                                   ready_<who>, wait for the `go` file
  *                                   (start barrier), then append `seg`
  *                                   (full|a|b) under its deterministic id.
  *   plant-claim <work>            — create the claim files for the full
  *                                   segment's id and exit (crash sim).
  *   check <work> <ref1|ref2>      — sidecar stats, postings volume,
  *                                   minhash occupancy and probe ANSWERS
  *                                   all equal the reference exactly.
  */
object MultiWriterProbe {
  private def segIdOf(seg: String) = s"race-seg-$seg"

  def main(args: Array[String]): Unit = {
    val cmd = args(0)
    val work = args(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.Master.session(cpus)
    cmd match {
      case "setup"       => setup(spark, work, args(2))
      case "append"      => append(spark, work, args(2), args(3))
      case "plant-claim" => plantClaim(spark, work)
      case "check"       => check(spark, work, args(2))
    }
    spark.stop()
  }

  private def segFrame(spark: SparkSession, work: String, seg: String): DataFrame =
    spark.read.parquet(s"$work/seg_$seg")

  private def setup(spark: SparkSession, work: String, sf: String): Unit = {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val base = docs.filter(col("doc_id") % 3 =!= 0)
    val segAll = docs.filter(col("doc_id") % 3 === 0)
    segAll.write.mode("overwrite").parquet(s"$work/seg_full")
    segAll.filter(col("doc_id") % 2 === 0)
      .write.mode("overwrite").parquet(s"$work/seg_a")
    segAll.filter(col("doc_id") % 2 =!= 0)
      .write.mode("overwrite").parquet(s"$work/seg_b")

    def buildPair(tag: String): (TextSearch.TextIndex, Dedup.MinHashIndex) = {
      val tx = TextSearch.textIndexBuild(base, "text", "doc_id", s"$work/tx$tag")
      val mh = Dedup.minhashIndexBuild(base, "text", "doc_id", s"$work/mh$tag")
      Similarity.writeMeta(spark, s"$work/mh$tag", mh)
      (tx, mh)
    }
    def appendTo(pair: (TextSearch.TextIndex, Dedup.MinHashIndex),
                 tag: String, seg: String): Unit = {
      val s = segFrame(spark, work, seg)
      val grown = TextSearch.textIndexAppend(pair._1, s, "text",
        segmentId = segIdOf(seg))
      require(grown.docs > pair._1.docs, s"reference append $seg grew nothing")
      Dedup.minhashIndexAppend(pair._2, s, segmentId = segIdOf(seg))
      Similarity.writeMeta(spark, s"$work/mh$tag", pair._2)
    }
    buildPair("") // the shared tree the racing JVMs will append into
    val r1 = buildPair("_ref1"); appendTo(r1, "_ref1", "full")
    val r2 = buildPair("_ref2"); appendTo(r2, "_ref2", "a"); appendTo(r2, "_ref2", "b")
    println(s"PROBE setup done base=${base.count()} seg=${segAll.count()}")
  }

  private def append(spark: SparkSession, work: String, who: String,
                     seg: String): Unit = {
    val s = segFrame(spark, work, seg)
    val tx = Similarity.readMeta[TextSearch.TextIndex](spark, s"$work/tx").get
    val mh = Similarity.readMeta[Dedup.MinHashIndex](spark, s"$work/mh").get
    val fs = new org.apache.hadoop.fs.Path(work)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(s"$work/ready_$who"), true).close()
    val go = new org.apache.hadoop.fs.Path(s"$work/go")
    while (!fs.exists(go)) Thread.sleep(100)
    val t0 = System.nanoTime()
    TextSearch.textIndexAppend(tx, s, "text", segmentId = segIdOf(seg))
    val t1 = System.nanoTime()
    Dedup.minhashIndexAppend(mh, s, segmentId = segIdOf(seg))
    println(f"PROBE append[$who,$seg] tx=${(t1 - t0) / 1e9}%.1fs " +
      f"mh=${(System.nanoTime() - t1) / 1e9}%.1fs")
  }

  /** Crash simulation: plant the claim files a dying appender would leave
    * behind (claim taken, no done-evidence) and exit. */
  private def plantClaim(spark: SparkSession, work: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(work)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val id = segIdOf("full")
    Seq(s"$work/tx/_gq_claim_$id", s"$work/mh/_gq_claim_$id").foreach { p =>
      fs.create(new org.apache.hadoop.fs.Path(p), true).close()
    }
    println("PROBE claims planted")
  }

  private def check(spark: SparkSession, work: String, ref: String): Unit = {
    var failures = 0
    def assertEq[A](what: String, got: A, want: A): Unit =
      if (got == want) println(s"PROBE $what OK ($got)")
      else { failures += 1; println(s"PROBE $what MISMATCH got=$got want=$want") }
    val tag = s"_$ref"

    val tx = Similarity.readMeta[TextSearch.TextIndex](spark, s"$work/tx").get
    val txr =
      Similarity.readMeta[TextSearch.TextIndex](spark, s"$work/tx$tag").get
    assertEq("bm25 sidecar docs", tx.docs, txr.docs)
    assertEq("bm25 sidecar totalLen", tx.totalLen, txr.totalLen)
    assertEq("postings volume",
      spark.read.parquet(s"$work/tx").count(),
      spark.read.parquet(s"$work/tx$tag").count())

    val terms = Seq("join", "filter", "the")
    def top(ix: TextSearch.TextIndex): Seq[(Long, Double)] =
      TextSearch.rankedSearch(ix, terms, 10)
        .select(col("id").cast("long"), round(col("score"), 6))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assertEq("bm25 top-10", top(tx), top(txr))

    val mh = Similarity.readMeta[Dedup.MinHashIndex](spark, s"$work/mh").get
    val mhr = Similarity.readMeta[Dedup.MinHashIndex](spark, s"$work/mh$tag").get
    def occTotal(p: String): (Long, Long) = {
      val r = spark.read.parquet(s"$p/occ").agg(
        sum(col("count")), count(lit(1))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    assertEq("minhash occupancy (sum, rows)",
      occTotal(s"$work/mh"), occTotal(s"$work/mh$tag"))
    assertEq("minhash sig volume",
      spark.read.parquet(s"$work/mh/sigs").count(),
      spark.read.parquet(s"$work/mh$tag/sigs").count())
    val batch = segFrame(spark, work, "full").limit(200)
    def hits(ix: Dedup.MinHashIndex): Long =
      Dedup.minhashDedupAgainst(ix, batch, threshold = 0.7).count()
    assertEq("minhash probe hits", hits(mh), hits(mhr))

    println(if (failures == 0) "PROBE MULTIWRITER PASS"
            else s"PROBE MULTIWRITER FAIL ($failures)")
    if (failures > 0) sys.exit(1)
  }
}
