package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.StreamOps

class StreamingSpec extends SparkSpec {

  private def sqlCtx = spark.sqlContext

  test("streaming tumbling agg with watermark matches batch on same data") {
    val spark2 = spark
    import spark2.implicits._
    val data = (0 until 200).map(i =>
      (java.sql.Timestamp.valueOf(f"2024-01-01 ${i / 25}%02d:${(i * 7) % 60}%02d:00"),
        s"t${i % 3}", i.toDouble))
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)](spark)
    mem.addData(data: _*)
    val sdf = StreamOps.tumbling(
      StreamOps.watermarked(mem.toDF.toDF("ts", "event_type", "value"), "ts", "10 minutes"),
      "ts", "1 hour", Seq("event_type"),
      Seq(count(lit(1)).as("n"), sum("value").as("total")))
    val q = sdf.writeStream.outputMode("complete")
      .format("memory").queryName("tumb")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("tumb").orderBy("w_start", "event_type").collect()
    val batch = StreamOps.tumbling(data.toDF("ts", "event_type", "value"),
      "ts", "1 hour", Seq("event_type"),
      Seq(count(lit(1)).as("n"), sum("value").as("total")))
      .orderBy("w_start", "event_type").collect()
    assert(streamed.map(_.toString).toSeq == batch.map(_.toString).toSeq)
  }

  test("dropDuplicatesWithinWatermark removes in-watermark dup keys") {
    val spark2 = spark
    import spark2.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val mem = MemoryStream[(java.sql.Timestamp, Long)](spark)
    mem.addData((t0, 1L), (t0, 1L), (t0, 2L))
    val sdf = StreamOps.dedupWithinWatermark(
      mem.toDF.toDF("ts", "user_id"), "ts", "1 hour", Seq("user_id"))
    val q = sdf.writeStream.outputMode("append")
      .format("memory").queryName("dedup")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    assert(spark.table("dedup").count() == 2)
  }

  test("streaming normalized dedup: dropDuplicates on the normalize key matches batch classes") {
    val spark2 = spark
    import spark2.implicits._
    // decorated duplicates arriving as a stream: normalization-class dedup
    // is just dropDuplicates on the codegen'd normalize() key — the same
    // expression the batch operator hashes, so stream == batch semantics
    val mem = MemoryStream[(Long, String)](spark)
    mem.addData((1L, "Hello, world!"), (2L, "hello   world"),
      (3L, "different text"), (4L, "HELLO WORLD.."))
    val sdf = mem.toDF.toDF("doc_id", "text")
      .withColumn("_k", graft.operators.Dedup.normalize(col("text")))
      .dropDuplicates("_k")
    val q = sdf.writeStream.outputMode("append")
      .format("memory").queryName("normdedup")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    // one row per normalization class — the same class count the batch
    // operator produces on identical data
    val batchClasses = graft.operators.Dedup.exactNormalized(
      Seq((1L, "Hello, world!"), (2L, "hello   world"),
        (3L, "different text"), (4L, "HELLO WORLD.."))
        .toDF("doc_id", "text"), "text", "doc_id").count()
    assert(spark.table("normdedup").count() == batchClasses)
  }

  test("flatMapGroupsWithState keeps running per-user stats across batches") {
    val spark2 = spark
    import spark2.implicits._
    val mem = MemoryStream[StreamOps.UserEvent](spark)
    val out = StreamOps.runningUserStats(mem.toDS())
    val q = out.writeStream.outputMode("update")
      .format("memory").queryName("stats").start()
    mem.addData(StreamOps.UserEvent(1, "click", 1.0), StreamOps.UserEvent(1, "view", 2.0))
    q.processAllAvailable()
    mem.addData(StreamOps.UserEvent(1, "click", 3.0))
    q.processAllAvailable()
    q.stop()
    val last = spark.table("stats").filter(col("user_id") === 1)
      .orderBy(col("n_events").desc).collect().head
    assert(last.getAs[Long]("n_events") == 3L)
    assert(last.getAs[Double]("total_value") == 6.0)
  }

  test("streaming parquet sink round-trips the filtered stream") {
    import graft.streaming.StreamOps
    val base = java.nio.file.Files.createTempDirectory("graft_ssink").toString
    // the parquet file sink requires a directory-backed source basePath
    graft.core.Tables.load(spark, sf, "events").write.parquet(s"$base/src")
    val srcSchema = spark.read.parquet(s"$base/src").schema
    val src = spark.readStream.schema(srcSchema).parquet(s"$base/src")
      .filter(col("event_type") === "click").select("event_id", "user_id")
    val q = StreamOps.writeParquetStream(src, s"$base/out", s"$base/ckpt")
    q.awaitTermination(120000)
    val got = spark.read.parquet(s"$base/out").count()
    val want = graft.core.Tables.load(spark, sf, "events")
      .filter(col("event_type") === "click").count()
    assert(got == want)
  }

  test("stream-stream interval join matches the batch join on the same data") {
    val spark2 = spark
    import spark2.implicits._
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    // left purchases, right clicks: user 1 has clicks 2 and 4 min before
    // its purchase; user 2's click is 10 min before (outside the interval)
    val purchases = Seq((10L, t(10), 1L), (20L, t(20), 2L))
    val clicks = Seq((1L, t(8), 1L), (2L, t(6), 1L), (3L, t(10), 2L))
    val lMem = MemoryStream[(Long, java.sql.Timestamp, Long)](spark)
    val rMem = MemoryStream[(Long, java.sql.Timestamp, Long)](spark)
    lMem.addData(purchases: _*)
    rMem.addData(clicks: _*)
    val joined = StreamOps.intervalJoin(
      lMem.toDF.toDF("event_id", "ts", "user_id"),
      rMem.toDF.toDF("event_id", "ts", "user_id"),
      "user_id", "ts", before = "5 MINUTES", after = "0 SECONDS",
      delay = "30 minutes")
    val q = joined.select("event_id", "r_event_id")
      .writeStream.outputMode("append")
      .format("memory").queryName("ivj")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("ivj").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == Set((10L, 1L), (10L, 2L)), streamed.toString)
    // batch equivalence through the same builder
    val batch = StreamOps.intervalJoin(
      purchases.toDF("event_id", "ts", "user_id"),
      clicks.toDF("event_id", "ts", "user_id"),
      "user_id", "ts", "5 MINUTES", "0 SECONDS", "30 minutes")
      .select("event_id", "r_event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch == streamed)
  }

  test("stream-static enrichment broadcast-joins the dimension per batch") {
    val spark2 = spark
    import spark2.implicits._
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val mem = MemoryStream[(Long, Long)](spark)
    mem.addData((100L, 1L), (101L, 2L), (102L, 1L))
    val q = StreamOps.enrich(mem.toDF.toDF("event_id", "user_id"), dim, Seq("user_id"))
      .writeStream.outputMode("append")
      .format("memory").queryName("enr")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val tiers = spark.table("enr").collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[String]("tier"))).toSet
    assert(tiers == Set((100L, "gold"), (101L, "basic"), (102L, "gold")))
  }

  test("file streaming source over events parquet produces batch-equal rows") {
    // FileStreamSource requires a directory: materialize a multi-file copy
    val dir = java.nio.file.Files.createTempDirectory("evstream").toString
    graft.core.Tables.load(spark, sf, "events").repartition(3)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val sdf = StreamOps.readEventsStream(spark, dir)
    val q = sdf.select("event_id").writeStream.outputMode("append")
      .format("memory").queryName("evread")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val n = spark.table("evread").count()
    assert(n == graft.core.Tables.load(spark, sf, "events").count())
  }

  test("fused text stack works as a streaming filter/projection, batch-equal") {
    val spark2 = spark
    import spark2.implicits._
    import graft.operators.TextAnalysis
    // gopherFilter as a streaming keep/drop + langId as a projection: the
    // fused text_stats expression is a pure per-row projection, so it runs
    // unchanged inside micro-batches (no state, no watermark needed)
    val docs = graft.core.Tables.load(spark, sf, "documents")
      .select("doc_id", "text").limit(200)
      .as[(Long, String)].collect().toSeq
    val mem = MemoryStream[(Long, String)](spark)
    mem.addData(docs: _*)
    val sdf = mem.toDF.toDF("doc_id", "text")
      .withColumn("_st", TextAnalysis.stats(col("text")))
      .filter(TextAnalysis.gopherFilterFrom(col("_st")))
      .select(col("doc_id"), TextAnalysis.langIdFrom(col("_st")).as("lang"))
    val q = sdf.writeStream.outputMode("append")
      .format("memory").queryName("textstream")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("textstream")
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val batch = docs.toDF("doc_id", "text")
      .withColumn("_st", TextAnalysis.stats(col("text")))
      .filter(TextAnalysis.gopherFilterFrom(col("_st")))
      .select(col("doc_id"), TextAnalysis.langIdFrom(col("_st")).as("lang"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(streamed == batch && batch.nonEmpty)
  }

  test("incrementalDedupSink: corpus hash state updates between micro-batches") {
    val spark2 = spark
    import spark2.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft_incr_spec").toString
    val mem = MemoryStream[(Long, String)](spark)
    val q = StreamOps.incrementalDedupSink(
      mem.toDF.toDF("id", "text"), "text", "id",
      hashDir = s"$work/hashes", outDir = s"$work/out",
      checkpoint = s"$work/ckpt", trigger = Trigger.ProcessingTime(0))
    try {
      // batch 1: fresh texts + an in-batch dup under a larger id
      mem.addData((1L, "alpha"), (2L, "beta"), (10L, "alpha"))
      q.processAllAvailable()
      // batch 2: all dups of batch 1 (new ids) + one fresh text
      mem.addData((20L, "alpha"), (21L, "beta"), (3L, "gamma"))
      q.processAllAvailable()
      // batch 3: dups of batches 1 AND 2 + one fresh text — state must
      // have accumulated ACROSS batches, not just against the previous one
      mem.addData((30L, "alpha"), (31L, "gamma"), (4L, "delta"))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(s"$work/out")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(out == Seq(1L, 2L, 3L, 4L),
      s"survivors must be the first occurrence of each text, got $out")
    // the state dir holds exactly the distinct survivor hashes
    assert(spark.read.parquet(s"$work/hashes").distinct().count() == 4)
  }

  test("incrementalDedupSink: pre-seeded corpus hashes screen batch one; bloom path matches") {
    val spark2 = spark
    import spark2.implicits._
    import graft.operators.Dedup
    val work = java.nio.file.Files.createTempDirectory("graft_incr_seed").toString
    // historical corpus: its class hashes seed the state dir
    Seq((100L, "alpha"), (101L, "beta")).toDF("id", "text")
      .select(Dedup.classKey(col("text"), normalized = false).as("_gq_h"))
      .distinct().write.parquet(s"$work/hashes")
    val mem = MemoryStream[(Long, String)](spark)
    val q = StreamOps.incrementalDedupSink(
      mem.toDF.toDF("id", "text"), "text", "id",
      hashDir = s"$work/hashes", outDir = s"$work/out",
      checkpoint = s"$work/ckpt",
      bloomExpected = 1000, bloomFpp = 0.01, // bloom split + exact anti-join
      trigger = Trigger.ProcessingTime(0))
    try {
      mem.addData((1L, "alpha"), (2L, "fresh"))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(s"$work/out")
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(out == Seq(2L),
      s"batch one must be screened against the pre-seeded corpus, got $out")
  }

  test("incrementalDedupSink: bloom filter is maintained across batches, not rebuilt") {
    val spark2 = spark
    import spark2.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft_incr_bloom").toString
    val ckpt = s"$work/ckpt"
    val mem = MemoryStream[(Long, String)](spark)
    val q = StreamOps.incrementalDedupSink(
      mem.toDF.toDF("id", "text"), "text", "id",
      hashDir = s"$work/hashes", outDir = s"$work/out",
      checkpoint = ckpt,
      bloomExpected = 1000, bloomFpp = 0.01,
      trigger = Trigger.ProcessingTime(0))
    try {
      mem.addData((1L, "alpha"), (2L, "beta"), (10L, "alpha"))
      q.processAllAvailable()
      mem.addData((20L, "alpha"), (21L, "beta"), (3L, "gamma"))
      q.processAllAvailable()
      mem.addData((30L, "alpha"), (31L, "gamma"), (4L, "delta"))
      q.processAllAvailable()
    } finally q.stop()
    // screen results identical to the no-bloom run of the same replay
    val out = spark.read.parquet(s"$work/out")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(out == Seq(1L, 2L, 3L, 4L), s"bloom screen must not change the answer, got $out")
    // the filter was seeded ONCE (first batch of a fresh corpus) and then
    // maintained by in-place merges — no per-batch hashDir rebuild scan
    val stats = StreamOps.bloomScreenStats(ckpt).get
    assert(stats.builds == 1L,
      s"expected exactly one full filter build across 3 batches, got $stats")
    assert(stats.merges == 2L, s"batches 2 and 3 must merge, got $stats")
    assert(stats.items == 4L && stats.expected == 1000L, s"$stats")

    // fpp-budget exhaustion: a tiny expected capacity forces exactly one
    // rebuild at doubled capacity, after which merges resume
    val work2 = java.nio.file.Files.createTempDirectory("graft_incr_bloom2").toString
    val ckpt2 = s"$work2/ckpt"
    val mem2 = MemoryStream[(Long, String)](spark)
    val q2 = StreamOps.incrementalDedupSink(
      mem2.toDF.toDF("id", "text"), "text", "id",
      hashDir = s"$work2/hashes", outDir = s"$work2/out",
      checkpoint = ckpt2,
      bloomExpected = 3, bloomFpp = 0.01,
      trigger = Trigger.ProcessingTime(0))
    try {
      mem2.addData((1L, "a"), (2L, "b"))         // seed build: 2 items ≤ 3
      q2.processAllAvailable()
      mem2.addData((3L, "c"), (4L, "d"))         // 2+2 > 3 → rebuild at 6
      q2.processAllAvailable()
      mem2.addData((5L, "e"), (6L, "a"))         // 4+1 ≤ 6 → merge
      q2.processAllAvailable()
    } finally q2.stop()
    val out2 = spark.read.parquet(s"$work2/out")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(out2 == Seq(1L, 2L, 3L, 4L, 5L), s"got $out2")
    val stats2 = StreamOps.bloomScreenStats(ckpt2).get
    assert(stats2.builds == 2L && stats2.merges == 1L && stats2.expected == 6L,
      s"seed + one capacity rebuild + one merge expected, got $stats2")
  }

  test("bloom size budget: over-budget screens degrade to the plain anti-join; answers identical") {
    val spark2 = spark
    import spark2.implicits._
    // (a) budget below even the initial sizing: the screen never builds —
    // every batch takes the exact anti-join — and answers are unchanged
    val work = java.nio.file.Files.createTempDirectory("graft_bloom_budget").toString
    val ckpt = s"$work/ckpt"
    val mem = MemoryStream[(Long, String)](spark)
    val q = StreamOps.incrementalDedupSink(
      mem.toDF.toDF("id", "text"), "text", "id",
      hashDir = s"$work/hashes", outDir = s"$work/out", checkpoint = ckpt,
      bloomExpected = 1000, bloomFpp = 0.01, bloomMaxBytes = 16,
      trigger = Trigger.ProcessingTime(0))
    try {
      mem.addData((1L, "alpha"), (2L, "beta"), (10L, "alpha"))
      q.processAllAvailable()
      mem.addData((20L, "alpha"), (21L, "beta"), (3L, "gamma"))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(s"$work/out")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(out == Seq(1L, 2L, 3L), s"degraded screen must not change answers, got $out")
    val stats = StreamOps.bloomScreenStats(ckpt).get
    assert(stats.degraded && stats.builds == 0L && stats.merges == 0L,
      s"expected an immediately-degraded screen with zero builds, got $stats")

    // (b) the seed fits the budget but the capacity-doubling does not:
    // exactly one build, then a sticky degrade instead of a bigger filter
    val work2 = java.nio.file.Files.createTempDirectory("graft_bloom_budget2").toString
    val ckpt2 = s"$work2/ckpt"
    val seedBytes = StreamOps.bloomBytes(3, 0.01)
    val doubledBytes = StreamOps.bloomBytes(6, 0.01)
    assert(seedBytes < doubledBytes)
    val mem2 = MemoryStream[(Long, String)](spark)
    val q2 = StreamOps.incrementalDedupSink(
      mem2.toDF.toDF("id", "text"), "text", "id",
      hashDir = s"$work2/hashes", outDir = s"$work2/out", checkpoint = ckpt2,
      bloomExpected = 3, bloomFpp = 0.01, bloomMaxBytes = seedBytes,
      trigger = Trigger.ProcessingTime(0))
    try {
      mem2.addData((1L, "a"), (2L, "b"))       // seed build: fits budget
      q2.processAllAvailable()
      mem2.addData((3L, "c"), (4L, "d"))       // doubling would exceed → degrade
      q2.processAllAvailable()
      mem2.addData((5L, "e"), (6L, "a"))       // anti-join only, still dedups
      q2.processAllAvailable()
    } finally q2.stop()
    val out2 = spark.read.parquet(s"$work2/out")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(out2 == Seq(1L, 2L, 3L, 4L, 5L), s"got $out2")
    val stats2 = StreamOps.bloomScreenStats(ckpt2).get
    assert(stats2.builds == 1L && stats2.degraded,
      s"seed build then budget degrade expected, got $stats2")
  }

  test("nearDupDedupSink: index accumulates across batches; restart re-opens it") {
    val spark2 = spark
    import spark2.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft_neardup_spec").toString
    // near-dup family: long shared prefix, tiny tail edits (minhash
    // est-jaccard ~0.9); textB/C/D are disjoint vocabularies
    def doc(base: String, tail: String) =
      (1 to 40).map(i => s"$base$i").mkString(" ") + " " + tail
    val tA = doc("alpha", "zero"); val tA2 = doc("alpha", "one")
    val tA3 = doc("alpha", "two")
    val tB = doc("beta", "zero"); val tB2 = doc("beta", "one")
    val tC = doc("gamma", "zero"); val tD = doc("delta", "zero")

    val mem = MemoryStream[(Long, String)](spark)
    val q = StreamOps.nearDupDedupSink(
      mem.toDF.toDF("id", "text"), "text", "id",
      indexDir = s"$work/idx", outDir = s"$work/out",
      checkpoint = s"$work/ckpt", threshold = 0.5, slots = 4,
      trigger = Trigger.ProcessingTime(0))
    try {
      // batch 1 bootstraps the index: within-batch near-dups of tA keep 1
      mem.addData((1L, tA), (10L, tA2), (2L, tB))
      q.processAllAvailable()
      // batch 2: tA3 is a near-dup of the ACCEPTED corpus (index probe);
      // tC is fresh
      mem.addData((20L, tA3), (3L, tC))
      q.processAllAvailable()
      // batch 3: near-dups of batches 1 AND 2 — state accumulated across
      // batches via index appends, not just the previous batch
      mem.addData((30L, tB2), (31L, doc("gamma", "nine")), (4L, tD))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(s"$work/out")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(out == Seq(1L, 2L, 3L, 4L),
      s"survivors must be one representative per near-dup family, got $out")
    // occ sidecar accumulated delta rows from the appends
    assert(spark.read.parquet(s"$work/idx/occ")
      .groupBy("band", "bucket").count().count() > 0)

    // restart: a NEW query (fresh handle) over the same index dir must
    // RE-OPEN via the sidecar and keep screening against the full corpus
    val mem2 = MemoryStream[(Long, String)](spark)
    val q2 = StreamOps.nearDupDedupSink(
      mem2.toDF.toDF("id", "text"), "text", "id",
      indexDir = s"$work/idx", outDir = s"$work/out2",
      checkpoint = s"$work/ckpt2", threshold = 0.5, slots = 4,
      trigger = Trigger.ProcessingTime(0))
    try {
      mem2.addData((40L, doc("alpha", "forty")), (5L, doc("epsilon", "zero")))
      q2.processAllAvailable()
    } finally q2.stop()
    val out2 = spark.read.parquet(s"$work/out2")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(out2 == Seq(5L),
      s"restarted sink must re-open the index and screen, got $out2")
  }

  test("annIngestSink: cosine screen accumulates across batches; restart re-opens the index") {
    val spark2 = spark
    import spark2.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft_annsink_spec").toString
    // near-dup family = identical vector (cosine 1); distinct one-hot-ish
    // directions have cosine ≈ 0.03, far under the 0.9 threshold
    def vec(i: Int): Array[Float] = {
      val a = Array.fill(64)(0.01f); a(i) = 1f; a
    }
    val mem = MemoryStream[(Long, Array[Float])](spark)
    val q = StreamOps.annIngestSink(
      mem.toDF.toDF("id", "vec"), "id", "vec",
      indexDir = s"$work/idx", outDir = s"$work/out",
      checkpoint = s"$work/ckpt", threshold = 0.9, planes = 4, dim = 64,
      trigger = Trigger.ProcessingTime(0))
    try {
      mem.addData((1L, vec(0)), (10L, vec(0)), (2L, vec(5)))
      q.processAllAvailable()
      mem.addData((20L, vec(0)), (3L, vec(9)))
      q.processAllAvailable()
      // duplicates of batches 1 AND 2 — the index accumulated across ticks
      mem.addData((30L, vec(5)), (31L, vec(9)), (4L, vec(20)))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(s"$work/out")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(out == Seq(1L, 2L, 3L, 4L),
      s"survivors must be one representative per cosine family, got $out")

    val mem2 = MemoryStream[(Long, Array[Float])](spark)
    val q2 = StreamOps.annIngestSink(
      mem2.toDF.toDF("id", "vec"), "id", "vec",
      indexDir = s"$work/idx", outDir = s"$work/out2",
      checkpoint = s"$work/ckpt2", threshold = 0.9, planes = 4, dim = 64,
      trigger = Trigger.ProcessingTime(0))
    try {
      mem2.addData((40L, vec(20)), (5L, vec(33)))
      q2.processAllAvailable()
    } finally q2.stop()
    val out2 = spark.read.parquet(s"$work/out2")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(out2 == Seq(5L),
      s"restarted ANN sink must re-open the index and screen, got $out2")
  }

  test("semanticIngestSink: cell screen accumulates across batches; restart re-opens the index") {
    val spark2 = spark
    import spark2.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft_semsink_spec").toString
    def vec(i: Int): Array[Float] = {
      val a = Array.fill(64)(0.01f); a(i) = 1f; a
    }
    val mem = MemoryStream[(Long, Array[Float])](spark)
    val q = StreamOps.semanticIngestSink(
      mem.toDF.toDF("id", "vec"), "id", "vec",
      indexDir = s"$work/idx", outDir = s"$work/out",
      checkpoint = s"$work/ckpt", threshold = 0.9, nlist = 8,
      trigger = Trigger.ProcessingTime(0))
    try {
      mem.addData((1L, vec(0)), (10L, vec(0)), (2L, vec(5)))
      q.processAllAvailable()
      mem.addData((20L, vec(0)), (3L, vec(9)))
      q.processAllAvailable()
      // duplicates of batches 1 AND 2 — the index accumulated across ticks
      mem.addData((30L, vec(5)), (31L, vec(9)), (4L, vec(20)))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(s"$work/out")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(out == Seq(1L, 2L, 3L, 4L),
      s"survivors must be one representative per semantic family, got $out")

    val mem2 = MemoryStream[(Long, Array[Float])](spark)
    val q2 = StreamOps.semanticIngestSink(
      mem2.toDF.toDF("id", "vec"), "id", "vec",
      indexDir = s"$work/idx", outDir = s"$work/out2",
      checkpoint = s"$work/ckpt2", threshold = 0.9, nlist = 8,
      trigger = Trigger.ProcessingTime(0))
    try {
      mem2.addData((40L, vec(20)), (5L, vec(33)))
      q2.processAllAvailable()
    } finally q2.stop()
    val out2 = spark.read.parquet(s"$work/out2")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(out2 == Seq(5L),
      s"restarted semantic sink must re-open the index and screen, got $out2")
  }

  test("incrementalDedupSink long run (50 ticks): hashDir compaction bounds the file census; answers unchanged") {
    val spark2 = spark
    import spark2.implicits._
    import graft.operators.IndexMaint
    val work = java.nio.file.Files.createTempDirectory("graft_incr_long").toString
    val mem = MemoryStream[(Long, String)](spark)
    val q = StreamOps.incrementalDedupSink(
      mem.toDF.toDF("id", "text"), "text", "id",
      hashDir = s"$work/hashes", outDir = s"$work/out",
      checkpoint = s"$work/ckpt", compactFiles = 20,
      trigger = Trigger.ProcessingTime(0))
    try {
      (1 to 50).foreach { i =>
        // one fresh text per tick, plus a duplicate of tick 1's text from
        // tick 2 on — the duplicate must be screened by accumulated state
        val fresh = (i.toLong, s"unique document $i with words ${i * 7} ${i * 13}")
        if (i == 1) mem.addData(fresh)
        else mem.addData(fresh, (1000L + i, s"unique document 1 with words 7 13"))
        q.processAllAvailable()
      }
    } finally q.stop()
    val out = spark.read.parquet(s"$work/out")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(out == (1L to 50L).toSeq,
      s"50 fresh survivors expected, duplicates screened; got ${out.size} ids")
    // without compaction the state dir would hold ≥50 files (one+ per
    // tick); the census must stay bounded near the threshold instead
    val census = IndexMaint.dataFileCount(spark, s"$work/hashes")
    assert(census <= 25, s"hashDir census must stay bounded, got $census files")
  }

  test("semanticIngestSink long run (50 ticks): ivfCompact bounds the census; screening unchanged") {
    val spark2 = spark
    import spark2.implicits._
    import graft.operators.IndexMaint
    val work = java.nio.file.Files.createTempDirectory("graft_sem_long").toString
    // a fresh direction per tick; every 5th tick replays a duplicate of
    // tick 1's vector — must be screened by the accumulated index
    // spike dims (i, 7i+1 mod 64): the map j = 7i+1 has no symmetric or
    // fixed point mod 64 (6i ≡ -1 has no even=odd solution), so no two
    // ticks share BOTH spikes — worst cross-similarity is one shared
    // spike, cos ≈ 0.5, far under the 0.95 screen
    def vec(i: Int): Array[Float] = {
      val a = Array.tabulate(64)(j => ((i * 31 + j * 7) % 13 - 6) * 0.01f)
      a(i % 64) = 1f; a((i * 7 + 1) % 64) += 0.8f; a
    }
    val mem = MemoryStream[(Long, Array[Float])](spark)
    val q = StreamOps.semanticIngestSink(
      mem.toDF.toDF("id", "vec"), "id", "vec",
      indexDir = s"$work/idx", outDir = s"$work/out",
      checkpoint = s"$work/ckpt", threshold = 0.95, nlist = 8,
      compactFiles = 30, trigger = Trigger.ProcessingTime(0))
    try {
      (1 to 50).foreach { i =>
        val fresh = (i.toLong, vec(i))
        if (i % 5 == 0) mem.addData(fresh, (1000L + i, vec(1)))
        else mem.addData(fresh)
        q.processAllAvailable()
      }
    } finally q.stop()
    val out = spark.read.parquet(s"$work/out")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(out == (1L to 50L).toSeq,
      s"50 fresh survivors expected, vector replays screened; got $out")
    // un-compacted, 50 ticks append one+ file per touched cid partition —
    // hundreds of files; the census must stay bounded near the threshold
    val census = IndexMaint.dataFileCount(spark, s"$work/idx")
    assert(census <= 60, s"IVF census must stay bounded, got $census files")
  }

  test("nearDupDedupSink long run (50 ticks): index compaction bounds the census; screening unchanged; restart works") {
    val spark2 = spark
    import spark2.implicits._
    import graft.operators.IndexMaint
    val work = java.nio.file.Files.createTempDirectory("graft_neardup_long").toString
    def doc(base: String, tail: String) =
      (1 to 40).map(i => s"$base$i").mkString(" ") + " " + tail
    val mem = MemoryStream[(Long, String)](spark)
    val q = StreamOps.nearDupDedupSink(
      mem.toDF.toDF("id", "text"), "text", "id",
      indexDir = s"$work/idx", outDir = s"$work/out",
      checkpoint = s"$work/ckpt", threshold = 0.5, slots = 4,
      compactFiles = 220, trigger = Trigger.ProcessingTime(0))
    try {
      (1 to 50).foreach { i =>
        // a fresh vocabulary family per tick; every 5th tick also replays
        // a near-dup of family 1 (accepted at tick 1) — must be screened
        // by the accumulated index no matter how many ticks have passed
        val fresh = (i.toLong, doc(s"v$i-", "zero"))
        if (i % 5 == 0) mem.addData(fresh, (1000L + i, doc("v1-", s"tail$i")))
        else mem.addData(fresh)
        q.processAllAvailable()
      }
    } finally q.stop()
    val out = spark.read.parquet(s"$work/out")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(out == (1L to 50L).toSeq,
      s"one survivor per family; near-dup replays screened — got $out")
    // un-compacted, 50 ticks × (banded partitions + sigs + occ) ≈ 900+
    // files; the census must stay bounded near the threshold
    val census = IndexMaint.dataFileCount(spark, s"$work/idx")
    assert(census <= 300, s"index census must stay bounded, got $census files")
    // a restarted sink over the compacted index still screens correctly
    val mem2 = MemoryStream[(Long, String)](spark)
    val q2 = StreamOps.nearDupDedupSink(
      mem2.toDF.toDF("id", "text"), "text", "id",
      indexDir = s"$work/idx", outDir = s"$work/out2",
      checkpoint = s"$work/ckpt2", threshold = 0.5, slots = 4,
      trigger = Trigger.ProcessingTime(0))
    try {
      mem2.addData((2000L, doc("v17-", "other")), (60L, doc("w60-", "zero")))
      q2.processAllAvailable()
    } finally q2.stop()
    val out2 = spark.read.parquet(s"$work/out2")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(out2 == Seq(60L),
      s"restart over the compacted index must keep screening, got $out2")
  }

  test("annIngestSink: distinct-id occupancy cap is immune to replayed appends; compaction dedups the tree") {
    val spark2 = spark
    import spark2.implicits._
    import graft.operators.{IndexMaint, Similarity}
    val work = java.nio.file.Files.createTempDirectory("graft_annsink_replay").toString
    def vec(i: Int): Array[Float] = {
      val a = Array.fill(64)(0.01f); a(i) = 1f; a
    }
    // pre-seeded corpus: 30 identical vectors → ONE bucket per table with
    // 30 DISTINCT ids; a replayed append doubles its raw rows to 60
    val corpus = (1L to 30L).map(i => (i, vec(0))).toDF("id", "vec")
    val idx = Similarity.lshBuild(corpus, "id", "vec", planes = 4, dim = 64,
      path = s"$work/idx")
    Similarity.writeMeta(spark, s"$work/idx", idx)
    Similarity.lshAppend(idx, corpus) // replayed append: duplicate rows
    // maxBucket = 40: 30 distinct ids ≤ 40 (bucket live), but the 60+ raw
    // rows would trip a raw-count cap and wrongly un-screen the batch
    val mem = MemoryStream[(Long, Array[Float])](spark)
    val q = StreamOps.annIngestSink(
      mem.toDF.toDF("id", "vec"), "id", "vec",
      indexDir = s"$work/idx", outDir = s"$work/out",
      checkpoint = s"$work/ckpt", threshold = 0.9, planes = 4, dim = 64,
      maxBucket = 40, compactFiles = 1, trigger = Trigger.ProcessingTime(0))
    try {
      mem.addData((100L, vec(0)), (101L, vec(7)))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(s"$work/out")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(out == Seq(101L),
      s"duplicate of the replay-doubled corpus bucket must still be screened, got $out")
    // compactFiles = 1 forced a compaction: the replayed duplicates are gone
    val rows = spark.read.parquet(s"$work/idx")
    assert(rows.count() == rows.dropDuplicates("neighbor_id", "_tb").count(),
      "compaction must fold replayed index rows")
    assert(Similarity.readMeta[Similarity.LshIndex](spark, s"$work/idx").nonEmpty,
      "compaction must preserve the sidecar")
  }

  test("index-backed sinks refuse to bootstrap over a data-bearing dir without a sidecar") {
    val spark2 = spark
    import spark2.implicits._
    import graft.operators.Similarity
    val work = java.nio.file.Files.createTempDirectory("graft_bootstrap_guard").toString
    def vec(i: Int): Array[Float] = {
      val a = Array.fill(64)(0.01f); a(i) = 1f; a
    }
    // pre-seed WITHOUT writeMeta — the round-7 ADVICE footgun: the old
    // bootstrap would silently mode(overwrite) this corpus state away
    val corpus = (1L to 5L).map(i => (i, vec(i.toInt))).toDF("id", "vec")
    Similarity.lshBuild(corpus, "id", "vec", planes = 4, dim = 64,
      path = s"$work/idx")
    val mem = MemoryStream[(Long, Array[Float])](spark)
    val q = StreamOps.annIngestSink(
      mem.toDF.toDF("id", "vec"), "id", "vec",
      indexDir = s"$work/idx", outDir = s"$work/out",
      checkpoint = s"$work/ckpt", threshold = 0.9, planes = 4, dim = 64,
      trigger = Trigger.ProcessingTime(0))
    val err = intercept[Exception] {
      try {
        mem.addData((100L, vec(0)))
        q.processAllAvailable()
      } finally q.stop()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(err).exists(_.contains("refusing")),
      s"expected the bootstrap-refusal error, got: ${messages(err).mkString(" | ")}")
    // the pre-seeded tree is intact (nothing was overwritten)
    assert(spark.read.parquet(s"$work/idx").count() == 5L * 8,
      "refusal must leave the pre-seeded index untouched")

    // TORN BOOTSTRAP, generalized beyond textIndexSink (round 11): the
    // same data-bearing/no-sidecar dir WITH the in-progress marker is
    // recognizably a crashed first-batch build — the restart must
    // overwrite-rebuild instead of refusing, then clear the marker
    val marker = new org.apache.hadoop.fs.Path(s"$work/idx_bootstrap_inprogress")
    val mfs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    mfs.create(marker, true).close()
    val mem2 = MemoryStream[(Long, Array[Float])](spark)
    val q2 = StreamOps.annIngestSink(
      mem2.toDF.toDF("id", "vec"), "id", "vec",
      indexDir = s"$work/idx", outDir = s"$work/out2",
      checkpoint = s"$work/ckpt2", threshold = 0.9, planes = 4, dim = 64,
      trigger = Trigger.ProcessingTime(0))
    try {
      mem2.addData((100L, vec(0)), (101L, vec(1)))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(Similarity.readMeta[Similarity.LshIndex](spark, s"$work/idx").isDefined,
      "torn bootstrap must rebuild and land the sidecar")
    assert(!mfs.exists(marker), "marker must clear once the sidecar lands")
    assert(spark.read.parquet(s"$work/out2").count() == 2)
  }

  test("textIndexSink long run (50 ticks): compaction bounds the census; live answers exact") {
    import graft.operators.{IndexMaint, Similarity, TextSearch}
    val spark2 = spark
    import spark2.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft_txsink_long").toString
    val mem = MemoryStream[(Long, String)](spark)
    val q = StreamOps.textIndexSink(
      mem.toDF.toDF("id", "text"), "text", "id",
      indexDir = s"$work/idx", outDir = s"$work/out",
      checkpoint = s"$work/ckpt", buckets = 8, compactFiles = 10,
      trigger = Trigger.ProcessingTime(0))
    try {
      (1 to 50).foreach { i =>
        // every doc carries the common term; every 5th also carries "rare"
        val tail = if (i % 5 == 0) " rare" else ""
        mem.addData((i.toLong, s"common word$i$tail"))
        q.processAllAvailable()
      }
    } finally q.stop()
    val idx = Similarity.readMeta[TextSearch.TextIndex](spark, s"$work/idx").get
    def ids(terms: Seq[String], m: Int = 0): Seq[Long] =
      TextSearch.searchIds(idx, terms, m).collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(Seq("common")) == (1L to 50L).toSeq)
    assert(ids(Seq("rare")) == (5L to 50L by 5).toSeq)
    assert(ids(Seq("common", "rare")) == (5L to 50L by 5).toSeq)
    assert(ids(Seq("word7", "word9"), m = 1) == Seq(7L, 9L))
    // one+ append file per tick without compaction; the census must stay
    // bounded near max(compactFiles, buckets) instead of growing ~50+
    val census = IndexMaint.dataFileCount(spark, s"$work/idx")
    assert(census <= 20, s"index census must stay bounded, got $census files")
  }

  test("textIndexSink: live index accumulates, survives replay and restart, compaction preserves answers") {
    import graft.operators.{IndexMaint, Similarity, TextSearch}
    val spark2 = spark
    import spark2.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft_txsink_spec").toString
    val mem = MemoryStream[(Long, String)](spark)
    val q = StreamOps.textIndexSink(
      mem.toDF.toDF("id", "text"), "text", "id",
      indexDir = s"$work/idx", outDir = s"$work/out",
      checkpoint = s"$work/ckpt", buckets = 8,
      trigger = Trigger.ProcessingTime(0))
    try {
      mem.addData((1L, "alpha beta"), (2L, "beta gamma"))
      q.processAllAvailable()
      mem.addData((3L, "alpha gamma"), (4L, "delta"))
      q.processAllAvailable()
    } finally q.stop()
    def idsFor(terms: Seq[String], m: Int = 0): Seq[Long] = {
      val idx = Similarity.readMeta[TextSearch.TextIndex](spark, s"$work/idx").get
      TextSearch.searchIds(idx, terms, m).collect().map(_.getLong(0)).sorted.toSeq
    }
    // the live index spans BOTH batches
    assert(idsFor(Seq("alpha")) == Seq(1L, 3L))
    assert(idsFor(Seq("alpha", "gamma")) == Seq(3L))
    assert(idsFor(Seq("beta", "delta"), m = 1) == Seq(1L, 2L, 4L))

    // crash replay: a restarted query with a FRESH checkpoint re-processes
    // everything — duplicated postings must change no answer
    val mem2 = MemoryStream[(Long, String)](spark)
    val q2 = StreamOps.textIndexSink(
      mem2.toDF.toDF("id", "text"), "text", "id",
      indexDir = s"$work/idx", outDir = s"$work/out2",
      checkpoint = s"$work/ckpt2", buckets = 8,
      trigger = Trigger.ProcessingTime(0))
    try {
      mem2.addData((3L, "alpha gamma"), (4L, "delta")) // replayed batch
      mem2.addData((5L, "alpha epsilon"))              // plus fresh data
      q2.processAllAvailable()
    } finally q2.stop()
    assert(idsFor(Seq("alpha")) == Seq(1L, 3L, 5L))
    assert(idsFor(Seq("alpha", "gamma")) == Seq(3L))

    // compaction: census shrinks, answers identical
    val before = IndexMaint.dataFileCount(spark, s"$work/idx")
    val idx = Similarity.readMeta[TextSearch.TextIndex](spark, s"$work/idx").get
    TextSearch.textIndexCompact(idx)
    assert(IndexMaint.dataFileCount(spark, s"$work/idx") < before)
    assert(idsFor(Seq("alpha")) == Seq(1L, 3L, 5L))
    // a data-bearing index dir without a sidecar is refused at bootstrap
    val fs = new org.apache.hadoop.fs.Path(s"$work/idx/_graft_index_meta.bin")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$work/idx/_graft_index_meta.bin"), false)
    val mem3 = MemoryStream[(Long, String)](spark)
    val q3 = StreamOps.textIndexSink(
      mem3.toDF.toDF("id", "text"), "text", "id",
      indexDir = s"$work/idx", outDir = s"$work/out3",
      checkpoint = s"$work/ckpt3", buckets = 8,
      trigger = Trigger.ProcessingTime(0))
    try {
      mem3.addData((6L, "zeta"))
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q3.processAllAvailable()
      }
      assert(ex.getMessage.contains("textIndexSink") ||
        Option(ex.getCause).exists(_.getMessage.contains("textIndexSink")), ex.getMessage)
    } finally q3.stop()

    // TORN BOOTSTRAP (round-10 ADVICE): same data-bearing/no-sidecar dir,
    // but the in-progress marker is present — exactly what a crash between
    // the bootstrap build and writeMeta leaves behind. The restart must
    // overwrite-rebuild instead of refusing, then clear the marker.
    val markerP = new org.apache.hadoop.fs.Path(s"$work/idx_bootstrap_inprogress")
    fs.create(markerP, true).close()
    val mem4 = MemoryStream[(Long, String)](spark)
    val q4 = StreamOps.textIndexSink(
      mem4.toDF.toDF("id", "text"), "text", "id",
      indexDir = s"$work/idx", outDir = s"$work/out4",
      checkpoint = s"$work/ckpt4", buckets = 8,
      trigger = Trigger.ProcessingTime(0))
    try {
      mem4.addData((7L, "eta theta"))
      q4.processAllAvailable()
    } finally q4.stop()
    assert(idsFor(Seq("eta")) == Seq(7L), "torn bootstrap must rebuild")
    assert(!fs.exists(markerP), "marker must clear once the sidecar lands")
  }

  test("snapshotSink: statuses across batches; unchanged never logged; restart re-opens the ledger") {
    val spark2 = spark
    import spark2.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft_snap_spec").toString
    def sink(mem: MemoryStream[(Long, String)]) = StreamOps.snapshotSink(
      mem.toDF.toDF("id", "text"), Seq("id"), Seq("text"),
      stateDir = s"$work/state", deltaDir = s"$work/delta",
      checkpoint = s"$work/ckpt", compactFiles = 1, slots = 2,
      trigger = Trigger.ProcessingTime(0))
    val mem = MemoryStream[(Long, String)](spark)
    val q = sink(mem)
    try {
      // batch 0: two fresh keys, plus an in-batch duplicate key whose
      // deterministic representative is the smaller content hash
      mem.addData((1L, "alpha"), (2L, "beta"), (1L, "alpha2"))
      q.processAllAvailable()
      // batch 1: key 1 changes, key 2 re-sent unchanged, key 3 added
      val kept1 = spark.read.parquet(s"$work/delta")
        .filter(org.apache.spark.sql.functions.col("id") === 1L)
        .select("text").head.getString(0)
      mem.addData((1L, "gamma"), (2L, "beta"), (3L, "delta"))
      q.processAllAvailable()
      val d = spark.read.parquet(s"$work/delta")
        .select("id", "status", "_batch").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      // batch 0's key-2 row is 'beta' — if batch 1 re-sent it unchanged it
      // must NOT re-appear; key 1's change must
      assert(d == Set((1L, "added", 0L), (2L, "added", 0L),
        (1L, "changed", 1L), (3L, "added", 1L)), s"got $d")
      // the in-batch duplicate reduced deterministically (min xxhash64 of
      // the two contents) — whichever won in batch 0, batch 1's 'gamma'
      // differs from it, hence the changed row asserted above
      assert(Set("alpha", "alpha2").contains(kept1))
    } finally q.stop()
    // compactFiles = 1 forced latest-per-key rewrites: census stays tiny
    assert(graft.operators.IndexMaint.dataFileCount(spark, s"$work/state") <= 2,
      "ledger compaction must bound the state file census")
    // restart with the same checkpoint + ledger: a new query must see the
    // accumulated state — re-sending key 3 unchanged adds nothing, a new
    // key does. The restart passes a MISMATCHED slots parameter (default
    // 8 vs the ledger's recorded 2): the sidecar layout must win, or the
    // wrong slot dirs would be read and key 3 silently re-added
    val mem2 = MemoryStream[(Long, String)](spark)
    val q2 = StreamOps.snapshotSink(
      mem2.toDF.toDF("id", "text"), Seq("id"), Seq("text"),
      stateDir = s"$work/state", deltaDir = s"$work/delta",
      checkpoint = s"$work/ckpt2",
      trigger = Trigger.ProcessingTime(0))
    try {
      mem2.addData((3L, "delta"), (4L, "eps"))
      q2.processAllAvailable()
    } finally q2.stop()
    val d2 = spark.read.parquet(s"$work/delta")
      .select("id", "status").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(d2.count(_ == (4L, "added")) == 1 &&
      !d2.contains((3L, "changed")) && d2.count(_._1 == 3L) == 1,
      s"restarted sink must honor the persisted ledger, got $d2")
  }

  test("Snapshot.asOf reconstructs every version from the delta log; replay-idempotent") {
    val spark2 = spark
    import spark2.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft_asof_spec").toString
    val mem = MemoryStream[(Long, String)](spark)
    val q = StreamOps.snapshotSink(
      mem.toDF.toDF("id", "text"), Seq("id"), Seq("text"),
      stateDir = s"$work/state", deltaDir = s"$work/delta",
      checkpoint = s"$work/ckpt", trigger = Trigger.ProcessingTime(0))
    try {
      mem.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      mem.addData((1L, "a2"), (2L, "b"), (3L, "c"))
      q.processAllAvailable()
    } finally q.stop()
    val delta = spark.read.parquet(s"$work/delta")
    def state(df: org.apache.spark.sql.DataFrame, v: Long) =
      graft.operators.Snapshot.asOf(df, Seq("id"), v)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(state(delta, 0) == Set((1L, "a"), (2L, "b")))
    assert(state(delta, 1) == Set((1L, "a2"), (2L, "b"), (3L, "c")))
    // default (negative) version = latest
    assert(state(delta, -1L) == state(delta, 1))
    // at-least-once replay duplicates in the log cannot change any
    // reconstruction: the duplicated rows reduce to the same maximum
    assert(state(delta.unionAll(delta), 0) == state(delta, 0) &&
      state(delta.unionAll(delta), 1) == state(delta, 1))
  }

  test("positional textIndexSink appends carry checkpoint-scoped replay markers") {
    import graft.operators.{Similarity, TextSearch}
    val spark2 = spark
    import spark2.implicits._
    val work =
      java.nio.file.Files.createTempDirectory("graft_txsink_seg").toString
    val mem = MemoryStream[(Long, String)](spark)
    val q = StreamOps.textIndexSink(
      mem.toDF.toDF("id", "text"), "text", "id",
      indexDir = s"$work/idx", outDir = s"$work/out",
      checkpoint = s"$work/ckpt", buckets = 8,
      trigger = Trigger.ProcessingTime(0))
    try {
      mem.addData((1L, "alpha beta"), (2L, "beta gamma"))
      q.processAllAvailable()
      mem.addData((3L, "alpha gamma gamma"))
      q.processAllAvailable()
    } finally q.stop()
    val idx =
      Similarity.readMeta[TextSearch.TextIndex](spark, s"$work/idx").get
    assert(idx.docs == 3L && idx.totalLen == 7L,
      s"sidecar stats off after batch-0 build + batch-1 append: $idx")
    val fs = new org.apache.hadoop.fs.Path(s"$work/idx")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val markers = fs.globStatus(
      new org.apache.hadoop.fs.Path(s"$work/idx/_gq_seg_*"))
    assert(markers.nonEmpty,
      "the sink must append under a deterministic segment id (replay guard)")
    // checkpoint-scoped, not a bare per-query batch counter: batch ids
    // restart at 0 per checkpoint, so a bare id would let a later query
    // sharing this index dir skip genuinely new segments as "replays"
    assert(markers.forall(st =>
      !st.getPath.getName.startsWith("_gq_seg_batch-")))
  }
}
