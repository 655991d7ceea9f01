package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface (SURVEY §2.10 extension): the reference has
  * no streaming; here every stateless operator of the engine (pure Column
  * expressions) is reusable on streaming DataFrames unchanged, and this
  * module adds the stream-specific pieces — event-time windows, watermarks,
  * within-watermark dedup, and custom state via flatMapGroupsWithState.
  *
  * The window builders run identically on batch frames (used by the
  * oracle-checked q_stream_* queries) and on readStream frames (exercised
  * in StreamingSpec with a memory sink).
  */
object StreamOps {

  /** Flatten the struct window column of an aggregated frame into
    * start/end columns, keeping keys and aggregates by name. */
  private def flattenWindow(agged: DataFrame, win: String,
                            startAs: String, endAs: String): DataFrame = {
    val rest = agged.columns.filterNot(_ == win).toSeq
    agged.select(col(s"$win.start").as(startAs) +: col(s"$win.end").as(endAs) +:
      rest.map(col): _*)
  }

  /** Tumbling event-time window aggregation. */
  def tumbling(df: DataFrame, ts: String, duration: String,
               keys: Seq[String], aggs: Seq[Column]): DataFrame =
    flattenWindow(
      df.groupBy(window(col(ts), duration) +: keys.map(col): _*)
        .agg(aggs.head, aggs.tail: _*),
      "window", "w_start", "w_end")

  /** Sliding event-time window aggregation. */
  def sliding(df: DataFrame, ts: String, duration: String, slide: String,
              keys: Seq[String], aggs: Seq[Column]): DataFrame =
    flattenWindow(
      df.groupBy(window(col(ts), duration, slide) +: keys.map(col): _*)
        .agg(aggs.head, aggs.tail: _*),
      "window", "w_start", "w_end")

  /** Session window (gap-based) aggregation. */
  def session(df: DataFrame, ts: String, gap: String,
              keys: Seq[String], aggs: Seq[Column]): DataFrame =
    flattenWindow(
      df.groupBy(session_window(col(ts), gap) +: keys.map(col): _*)
        .agg(aggs.head, aggs.tail: _*),
      "session_window", "s_start", "s_end")

  /** Event-time watermark (no-op on batch frames — safe to apply in shared
    * pipelines). */
  def watermarked(df: DataFrame, ts: String, delay: String): DataFrame =
    if (df.isStreaming) df.withWatermark(ts, delay) else df

  /** Streaming dedup bounded by the watermark; batch fallback keeps the
    * exact semantics (plain dropDuplicates). */
  def dedupWithinWatermark(df: DataFrame, ts: String, delay: String,
                           keys: Seq[String]): DataFrame =
    if (df.isStreaming)
      df.withWatermark(ts, delay).dropDuplicatesWithinWatermark(keys)
    else df.dropDuplicates(keys)

  /** Stream-static enrichment join: broadcast the (small) static dimension
    * onto each micro-batch — stateless, no watermark, the standard
    * dim-table enrichment stage of an ingest pipeline. Works identically on
    * batch frames. */
  def enrich(stream: DataFrame, dim: DataFrame, keys: Seq[String]): DataFrame =
    stream.join(broadcast(dim), keys)

  /** Stream-stream interval join: rows with equal `key` whose right
    * timestamp lies within [left.ts − before, left.ts + after]. Watermarks
    * on BOTH sides bound the buffered join state (Spark evicts rows older
    * than watermark + interval), so state stays O(rate × interval) at any
    * stream length. Right columns are prefixed `r_`; on batch frames the
    * same builder degrades to a plain interval join (watermark is a no-op),
    * which is what the oracle-checked q_stream_join runs. */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String, ts: String,
                   before: String, after: String, delay: String): DataFrame = {
    val l = watermarked(left, ts, delay)
    val r0 = watermarked(right, ts, delay)
    val r = r0.select(r0.columns.map(c => col(c).as(s"r_$c")): _*)
    l.join(r,
      col(key) === col(s"r_$key") &&
        col(s"r_$ts") >= col(ts) - expr(s"INTERVAL $before") &&
        col(s"r_$ts") <= col(ts) + expr(s"INTERVAL $after"))
      .drop(s"r_$key")
  }

  // ─── custom state: per-user running counters ───

  final case class UserEvent(user_id: Long, event_type: String, value: Double)
  final case class UserStats(user_id: Long, n_events: Long, total_value: Double)

  implicit val statsEnc: Encoder[UserStats] = Encoders.product[UserStats]

  /** flatMapGroupsWithState: running per-user event count/value — the
    * minimal custom-state shape (mapGroupsWithState family). Emits updated
    * stats for every batch a user appears in. */
  def runningUserStats(ds: Dataset[UserEvent]): Dataset[UserStats] = {
    val fn = (userId: Long, events: Iterator[UserEvent], state: GroupState[UserStats]) => {
      val prev = state.getOption.getOrElse(UserStats(userId, 0L, 0.0))
      var n = prev.n_events
      var tot = prev.total_value
      events.foreach { e => n += 1; tot += e.value }
      val next = UserStats(userId, n, tot)
      state.update(next)
      Iterator.single(next)
    }
    ds.groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(fn)
  }

  /** File-based streaming source over an events-shaped parquet directory.
    * readStream needs the *raw* schema (ts as Long nanos under the
    * nanosAsLong conf); the ns→NTZ normalization is re-applied on top, so
    * stream and batch frames are column-compatible. */
  def readEventsStream(spark: SparkSession, dir: String): DataFrame = {
    val raw = graft.core.Tables.read(spark, s"$dir/events.parquet").schema
    graft.core.Tables.normalize(
      spark.readStream.schema(raw).parquet(s"$dir/events.parquet"))
  }

  /** Streaming parquet sink: append-mode writeStream with a checkpoint —
    * the structured-streaming counterpart of GTable.write, completing the
    * readStream → transform → writeStream pipeline (§2.10). Returns the
    * started query; callers own awaitTermination/stop. */
  def writeParquetStream(df: DataFrame, dest: String, checkpoint: String,
                         trigger: org.apache.spark.sql.streaming.Trigger =
                           org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .format("parquet")
      .option("path", dest)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .trigger(trigger)
      .start()

  /** Batch-wise sink for arbitrary output modes / richer writers: each
    * micro-batch lands through GTable.write (hive layout, bucketing) via
    * foreachBatch. */
  def writeBatches(df: DataFrame, checkpoint: String,
                   trigger: org.apache.spark.sql.streaming.Trigger =
                     org.apache.spark.sql.streaming.Trigger.AvailableNow())
                  (write: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("update")
      .trigger(trigger)
      .foreachBatch(write)
      .start()

  /** Per-query observability for [[incrementalDedupSink]]'s Bloom screen,
    * keyed by checkpoint dir: `builds` counts full hashDir-scan filter
    * constructions (initial seed + fpp-budget rebuilds), `merges` counts
    * cheap in-place merges of a batch's fresh hashes. StreamingSpec asserts
    * builds stays at 1 across a multi-batch run — the per-batch O(corpus)
    * rebuild this maintenance loop replaced. */
  final case class BloomScreenStats(builds: Long, merges: Long,
                                    items: Long, expected: Long,
                                    degraded: Boolean = false)

  /** Optimal Bloom bit-array size in BYTES for (expected, fpp) — the same
    * m = -n·ln(p)/ln²2 sizing spark's BloomFilter.create uses. The filter
    * is driver-resident AND broadcast per batch, so past a budget the
    * screen must step aside (the exact anti-join it merely accelerates is
    * always behind it) instead of OOMing the driver: at 10⁹ docs / fpp
    * 1e-9 the filter is ~5.6 GB. */
  private[graft] def bloomBytes(expected: Long, fpp: Double): Long =
    math.ceil(-expected.toDouble * math.log(fpp) /
      (math.log(2) * math.log(2)) / 8.0).toLong
  private val bloomStatsMap =
    new scala.collection.concurrent.TrieMap[String, BloomScreenStats]
  def bloomScreenStats(checkpoint: String): Option[BloomScreenStats] =
    bloomStatsMap.get(checkpoint)

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Bootstrap sanity for the index-backed sinks: an index dir that holds
    * DATA but no readable sidecar is a pre-seeded corpus missing its
    * `Similarity.writeMeta` step (or a torn build) — rebuilding over it
    * with mode(overwrite) would silently discard all its dedup state
    * (round-7 ADVICE), so refuse loudly instead. Recover by writing the
    * sidecar (pre-seed case) or deleting the directory (torn build). */
  private def requireCleanBootstrap(spark: SparkSession, dir: String,
                                    sink: String): Unit =
    if (graft.operators.IndexMaint.dataFileCount(spark, dir) > 0)
      throw new IllegalStateException(
        s"$sink: index dir $dir contains data but no readable sidecar. " +
        "Pre-seeded indexes must write their sidecar (Similarity.writeMeta) " +
        "after the build; refusing to overwrite the existing trees. " +
        "Write the sidecar, or delete the directory to bootstrap fresh.")

  // ─── torn-bootstrap disambiguation (round-10 ADVICE, generalized to
  // every index-backed sink in round 11) ───
  //
  // Each sink's bootstrap build writes its parquet tree BEFORE the sidecar
  // lands, so a crash in that window leaves a data-bearing dir with no
  // sidecar — indistinguishable from a pre-seeded tree that forgot its
  // writeMeta (which must be refused, not clobbered). A marker file written
  // before the bootstrap build and removed once the sidecar lands
  // disambiguates: marker present → torn bootstrap, the overwrite-rebuild
  // is idempotent and safe; absent → refuse. The marker lives NEXT TO the
  // tree, not inside it (the overwrite would eat it).

  private def bootstrapMarker(indexDir: String) =
    new org.apache.hadoop.fs.Path(s"${indexDir}_bootstrap_inprogress")

  /** First-batch path when no sidecar resolved: torn bootstrap (marker
    * present) logs and proceeds to rebuild; anything else defers to
    * [[requireCleanBootstrap]]'s data-without-sidecar refusal. */
  private def resolveBootstrap(spark: SparkSession, indexDir: String,
                               sink: String): Unit = {
    val marker = bootstrapMarker(indexDir)
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(marker))
      log.warn(s"$sink: torn bootstrap at $indexDir " +
        "(in-progress marker present, no sidecar) — rebuilding")
    else requireCleanBootstrap(spark, indexDir, sink)
  }

  /** Sidecar resolved on restart: any stale marker is moot — drop it. */
  private def clearBootstrapMarker(spark: SparkSession, indexDir: String): Unit = {
    val marker = bootstrapMarker(indexDir)
    marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(marker, false)
  }

  /** Run the bootstrap `build` (tree write + sidecar) inside the marker
    * window: marker up before the first byte, down only after the sidecar
    * landed, so every crash point inside is recognizably torn. */
  private def withBootstrapMarker[T](spark: SparkSession, indexDir: String)
                                    (build: => T): T = {
    val marker = bootstrapMarker(indexDir)
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(marker, true).close()
    val built = build
    fs.delete(marker, false)
    built
  }

  /** Streaming incremental-ingestion dedup: a foreachBatch loop whose
    * corpus hash-set state UPDATES between micro-batches — the piece
    * [[graft.operators.Dedup.exactIncremental]] (batch vs a STATIC corpus)
    * leaves to the caller. Each micro-batch is
    *
    *   1. keyed by text class (xxhash64, optionally normalized),
    *   2. optionally pre-screened against a Bloom filter over the corpus
    *      hash set (`bloomExpected > 0`): bloom-negative rows are
    *      provably unseen and bypass the join; only bloom-positive rows
    *      (true hits + ≤fpp false positives) carry on to the exact
    *      anti-join — the screen shrinks the join input and never changes
    *      the answer (the run-bloom-then-exact composition the Dedup
    *      scaladocs describe),
    *   3. exact-anti-joined against the accumulated corpus hash set,
    *   4. deduplicated within itself — representative = min id per class,
    *      on (class, id) so non-unique ids stay safe (exactReps contract),
    *   5. appended to `outDir`, and its class hashes appended to `hashDir`.
    *
    * The Bloom filter is MAINTAINED across batches, not rebuilt: built once
    * (from `hashDir` when resuming over an existing corpus, else seeded
    * from the first batch's fresh hashes), then each batch's new hashes are
    * folded in with an in-place merge of an identically-sized batch filter
    * (distributed build, driver-side OR — no corpus rescan). When inserted
    * items exhaust the filter's sizing budget (`bloomExpected`), ONE full
    * rebuild runs at doubled capacity — amortized O(1) scans per batch.
    * Correctness never depends on the filter's freshness: the exact
    * anti-join adjudicates every bloom-positive row, and the filter always
    * holds exactly the hashes already written to `hashDir` (a crash between
    * hash write and merge only restarts the query, which rebuilds from
    * `hashDir`).
    *
    * Scale: only 8-byte hashes + ids ride every join and the persisted
    * state; batch text is projected once and never shuffled. The state dir
    * grows by one small file per batch; `compactFiles > 0` bounds it — when
    * the file census crosses the threshold the batch ends by rewriting
    * `hashDir` as its distinct hash set (set-preserving, so screening and
    * Bloom rebuilds are unchanged) via the swap protocol, and a torn swap
    * is healed at the next batch's read. Write ORDER is output-then-hashes:
    * a crash between the two replays the batch (at-least-once output,
    * standard foreachBatch semantics) — hashes-first would instead make the
    * replayed batch anti-join against ITS OWN hashes and silently drop
    * everything.
    *
    * Pass `hashDir` pre-seeded (e.g. `Dedup.exact` hashes of an existing
    * corpus) to dedup a stream against historical data from batch one. */
  def incrementalDedupSink(stream: DataFrame, textCol: String, idCol: String,
                           hashDir: String, outDir: String, checkpoint: String,
                           normalized: Boolean = false,
                           bloomExpected: Long = 0, bloomFpp: Double = 0.01,
                           bloomMaxBytes: Long = 0,
                           compactFiles: Int = 0,
                           trigger: org.apache.spark.sql.streaming.Trigger =
                             org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // Bloom maintenance state, scoped to this query (foreachBatch runs
    // sequentially per query, so plain vars are safe)
    var filter: org.apache.spark.util.sketch.BloomFilter = null
    var expected = bloomExpected
    var items = 0L
    var builds = 0L
    var merges = 0L
    // `bloomMaxBytes > 0` budgets the driver-resident (and per-batch
    // broadcast) filter: a build or capacity-doubling that would exceed it
    // DEGRADES the screen to the plain exact anti-join — same answers (the
    // anti-join was always the adjudicator), bounded driver memory. Sticky
    // per query; visible as BloomScreenStats.degraded.
    var degraded = false
    def overBudget(n: Long): Boolean = {
      val over = bloomMaxBytes > 0 && bloomBytes(n, bloomFpp) > bloomMaxBytes
      if (over && !degraded) {
        degraded = true
        filter = null
        log.info(s"incrementalDedupSink: bloom screen degraded to the plain " +
          s"anti-join — sizing for $n items at fpp $bloomFpp needs " +
          s"${bloomBytes(n, bloomFpp)} bytes > budget $bloomMaxBytes")
      }
      over
    }
    writeBatches(stream, checkpoint, trigger) { (batch, _) =>
      val spark = batch.sparkSession
      import graft.operators.Dedup
      val keyed = batch.withColumn("_gq_h", Dedup.classKey(col(textCol), normalized))
      graft.operators.IndexMaint.recoverSwap(spark, hashDir)
      val fs = new org.apache.hadoop.fs.Path(hashDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val seen: Option[DataFrame] =
        if (fs.exists(new org.apache.hadoop.fs.Path(hashDir)))
          Some(spark.read.parquet(hashDir)) else None
      val screened = seen match {
        case None => keyed
        case Some(corpus) =>
          val seenH = corpus.select(col("_gq_h")).distinct()
          if (bloomExpected > 0 && !degraded && !overBudget(expected)) {
            if (filter == null) {
              // restart / first-batch-over-existing-corpus path: ONE build
              // from the persisted hash state; maintained in place after
              filter = corpus.stat.bloomFilter("_gq_h", expected, bloomFpp)
              items = corpus.count() // parquet metadata count, no data scan
              builds += 1
            }
            // split, don't drop: bloom-NEGATIVE rows are provably new and
            // bypass the join entirely; bloom-POSITIVE rows (true hits +
            // ≤fpp false positives) take the exact anti-join — so the
            // screen only shrinks the join input, never the answer
            val might = graft.expressions.BloomFunctions
              .mightContainLong(spark, filter, col("_gq_h"))
            keyed.filter(!might).unionByName(
              keyed.filter(might).join(seenH, Seq("_gq_h"), "left_anti"))
          } else keyed.join(seenH, Seq("_gq_h"), "left_anti")
      }
      // within-batch representative: min id per class, semi-join on BOTH
      // (class, id) — with duplicate ids a row survives only as the
      // representative of its OWN class
      val reps = screened.groupBy(col("_gq_h")).agg(min(col(idCol)).as(idCol))
      val survivors = screened.join(reps, Seq("_gq_h", idCol), "left_semi")
        .localCheckpoint() // one computation feeds BOTH writes below
      survivors.drop("_gq_h").write.mode("append").parquet(outDir)
      val newH = survivors.select(col("_gq_h")).distinct().localCheckpoint()
      newH.write.mode("append").parquet(hashDir)
      if (bloomExpected > 0 && !degraded) {
        val n = newH.count()
        if (filter == null) {
          // very first batch of a fresh corpus: seed from its hashes
          if (!overBudget(expected)) {
            filter = newH.stat.bloomFilter("_gq_h", expected, bloomFpp)
            items = n
            builds += 1
          }
        } else if (items + n > expected) {
          // fpp budget exhausted: one full rebuild at doubled capacity —
          // amortized across all the batches that fit under the new
          // budget. A doubling past the byte budget degrades instead.
          val next = math.max(expected * 2, items + n)
          if (!overBudget(next)) {
            expected = next
            filter = spark.read.parquet(hashDir)
              .stat.bloomFilter("_gq_h", expected, bloomFpp)
            items += n
            builds += 1
          }
        } else {
          // steady state: distributed batch filter (same sizing → bit-
          // compatible) OR'd into the corpus filter on the driver
          filter.mergeInPlace(newH.stat.bloomFilter("_gq_h", expected, bloomFpp))
          items += n
          merges += 1
        }
      }
      if (bloomExpected > 0)
        bloomStatsMap(checkpoint) =
          BloomScreenStats(builds, merges, items, expected, degraded)
      if (compactFiles > 0 &&
          graft.operators.IndexMaint.dataFileCount(spark, hashDir) > compactFiles) {
        log.info(s"incrementalDedupSink: compacting hash state at $hashDir")
        graft.operators.IndexMaint.swapRewrite(spark, hashDir,
          spark.read.parquet(hashDir).distinct(), Seq.empty)
      }
    }
  }

  /** Streaming NEAR-DUP incremental ingestion — the MinHash analog of
    * [[incrementalDedupSink]]: every micro-batch is
    *
    *   1. probed against a prebuilt MinHash band index of everything
    *      accepted so far (Dedup.minhashDedupFilter — only the batch's
    *      signatures are computed; the accepted corpus's text is never
    *      re-read and its signature pass never re-runs, no matter how
    *      large the corpus grows),
    *   2. near-deduped within itself — cluster representatives (smallest
    *      id) over the batch's own banded pairs,
    *   3. appended to `outDir`, and
    *   4. appended to the index as a new banded/signature segment
    *      (Dedup.minhashIndexAppend) with its occupancy delta.
    *
    * Bootstrap: with no index at `indexDir` the first batch's survivors
    * BUILD it (sidecar metadata written so a restarted query re-opens
    * without a build job). Pre-seed over an existing corpus by running
    * `Dedup.minhashIndexBuild(corpus, ..., path = indexDir)` AND writing
    * the sidecar the restart re-open needs:
    * `Similarity.writeMeta(spark, indexDir, idx)` — without it the dir is
    * indistinguishable from a torn build, and the sink REFUSES to
    * bootstrap over it rather than silently mode(overwrite)-ing the
    * pre-seeded corpus state away.
    *
    * Crash ordering is output-then-index, like the exact sink: a replayed
    * batch may duplicate output rows (at-least-once, standard foreachBatch
    * semantics) and its index append is a NO-OP (the append is keyed by
    * the deterministic batch id and skipped when already present), so
    * replays cannot inflate bucket occupancy past the cap. Within the
    * append, sigs land before banded rows (see minhashIndexAppend).
    *
    * `compactFiles > 0` bounds long-run index fragmentation: when the
    * index's data-file census crosses the threshold, the batch ends with
    * `minhashIndexCompact(full = true)` — answers unchanged, the next
    * probe's listing tax reset. */
  def nearDupDedupSink(stream: DataFrame, textCol: String, idCol: String,
                       indexDir: String, outDir: String, checkpoint: String,
                       threshold: Double = 0.7, n: Int = 3, k: Int = 64,
                       bands: Int = 16, md5: Boolean = false,
                       slots: Int = graft.operators.Dedup.IndexSlots,
                       maxBucket: Int = graft.operators.Dedup.DefaultMaxBucket,
                       compactFiles: Int = 0,
                       trigger: org.apache.spark.sql.streaming.Trigger =
                         org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.{Dedup, IndexMaint, Similarity}
    // index handle, scoped to this query (foreachBatch runs sequentially)
    var idx: Dedup.MinHashIndex = null
    writeBatches(stream, checkpoint, trigger) { (batch, batchId) =>
      val spark = batch.sparkSession
      if (idx == null) {
        idx = Similarity.readMeta[Dedup.MinHashIndex](spark, indexDir).orNull
        if (idx == null) resolveBootstrap(spark, indexDir, "nearDupDedupSink")
        else clearBootstrapMarker(spark, indexDir)
      }
      val afterCorpus =
        if (idx == null) batch
        else Dedup.minhashDedupFilter(idx, batch, threshold, maxBucket)
      // within-batch near-dedup: keep each cluster's smallest id
      val pairs = Dedup.minhashPairs(afterCorpus, textCol, idCol,
        n = n, k = k, bands = bands, threshold = threshold,
        maxBucket = maxBucket, md5 = md5)
      val nonReps = Dedup.clusters(pairs)
        .filter(col("cl") =!= col("id")).select(col("id").as(idCol))
      val survivors = afterCorpus.join(nonReps, Seq(idCol), "left_anti")
        .localCheckpoint() // one computation feeds output AND index append
      // output is written even when empty (the sink dir must exist after a
      // fully-screened batch); index build/append only has work otherwise
      survivors.write.mode("append").parquet(outDir)
      if (!survivors.isEmpty) {
        if (idx == null) {
          idx = withBootstrapMarker(spark, indexDir) {
            val built = Dedup.minhashIndexBuild(survivors, textCol, idCol,
              indexDir, n, k, bands, md5, slots)
            Similarity.writeMeta(spark, indexDir, built)
            built
          }
        } else Dedup.minhashIndexAppend(idx, survivors,
          // scoped by CHECKPOINT, not bare batch id: batch ids restart at 0
          // per checkpoint, so a fresh-checkpoint query sharing this index
          // dir would otherwise collide with an earlier query's markers and
          // silently skip genuinely new segments as "replays"; a crash
          // replay keeps its checkpoint → same id → guarded as before
          segmentId = s"${IndexMaint.keyHash(checkpoint)}-b$batchId")
      }
      if (compactFiles > 0 && idx != null &&
          graft.operators.IndexMaint.dataFileCount(spark, indexDir) > compactFiles) {
        log.info(s"nearDupDedupSink: compacting index at $indexDir")
        Dedup.minhashIndexCompact(idx, full = true)
      }
    }
  }

  /** Streaming EMBEDDING ingestion with cosine near-dup screening — the
    * vector analog of [[nearDupDedupSink]], off a prebuilt LSH index:
    * per micro-batch,
    *
    *   1. batch vectors sharing a sign bucket with an ACCEPTED vector at
    *      cosine ≥ `threshold` are dropped (the index read is pruned to
    *      the batch's (table, bucket) keys; index-side bucket occupancy is
    *      capped like lshCosinePairs so corpus boilerplate cannot make a
    *      tick quadratic),
    *   2. survivors are near-deduped within the batch (cluster
    *      representatives over lshCosinePairs),
    *   3. written to `outDir`, and
    *   4. appended to the index ([[graft.operators.Similarity.lshAppend]]).
    *
    * Bootstrap builds the index from batch one (sidecar re-open on
    * restart); pre-seed with lshBuild + writeMeta over an existing corpus
    * (writeMeta is REQUIRED — a data-bearing dir without a sidecar is
    * refused rather than overwritten, like [[nearDupDedupSink]]).
    * Crash ordering output-then-index; a replayed append duplicates index
    * rows but cannot change later survivor sets: candidate hits dedup per
    * query id, and the occupancy cap counts DISTINCT corpus ids per
    * bucket, so duplicated rows can never push a bucket over the cap and
    * silently shrink the candidate set. `compactFiles > 0` rewrites the
    * index (duplicates dropped, one file per bucket partition) when its
    * file census crosses the threshold. */
  def annIngestSink(stream: DataFrame, idCol: String, vecCol: String,
                    indexDir: String, outDir: String, checkpoint: String,
                    threshold: Double, planes: Int, dim: Int,
                    tables: Int = 8,
                    maxBucket: Int = graft.operators.Dedup.DefaultMaxBucket,
                    maxPruneKeys: Int = 2048,
                    compactFiles: Int = 0,
                    trigger: org.apache.spark.sql.streaming.Trigger =
                      org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.{Dedup, Similarity}
    var idx: Similarity.LshIndex = null
    writeBatches(stream, checkpoint, trigger) { (batch, _) =>
      val spark = batch.sparkSession
      if (idx == null) {
        idx = Similarity.readMeta[Similarity.LshIndex](spark, indexDir).orNull
        if (idx == null) resolveBootstrap(spark, indexDir, "annIngestSink")
        else clearBootstrapMarker(spark, indexDir)
      }
      val afterCorpus =
        if (idx == null) batch
        else {
          val buckets = (0 until idx.tables).map(t =>
            struct(lit(t).as("t"), Similarity.lshBucket(col(vecCol),
              idx.planes, idx.dim, t).as("b")))
          val qb = batch.select(col(idCol).as("_qid"), col(vecCol).as("_qv"),
              explode(array(buckets: _*)).as("_bucket"))
            .withColumn("_tb", Similarity.tbKey(idx.planes)(
              col("_bucket.t"), col("_bucket.b")))
            .select("_qid", "_qv", "_tb")
          val tbs = qb.select("_tb").distinct()
            .limit(maxPruneKeys + 1).collect().map(_.getLong(0))
          graft.operators.IndexMaint.recoverSwap(spark, idx.path)
          val cb0 = spark.read.schema(idx.schema).parquet(idx.path)
          val cb1 =
            if (tbs.length <= maxPruneKeys) cb0.filter(col("_tb").isin(tbs: _*))
            else cb0
          // index-side occupancy cap (complete per _tb partition even
          // after pruning, since _tb IS the bucket key). DISTINCT ids, not
          // raw rows: replayed appends duplicate rows, and a raw count
          // would let a replay push a bucket over the cap and change the
          // survivor set (round-7 ADVICE).
          val cb = if (maxBucket <= 0) cb1 else {
            val hot = cb1.groupBy("_tb")
              .agg(countDistinct(col("neighbor_id")).as("_n"))
              .filter(col("_n") > maxBucket).select("_tb")
            cb1.join(broadcast(hot), Seq("_tb"), "left_anti")
          }
          val hits = cb.join(qb, Seq("_tb"))
            .filter(Similarity.cosineFast(spark)(col("_qv"), col("_cv"))
              >= threshold)
            .select(col("_qid").as(idCol)).dropDuplicates()
          batch.join(hits, Seq(idCol), "left_anti")
        }
      val pairs = Similarity.lshCosinePairs(afterCorpus, idCol, vecCol,
        threshold, planes, dim, tables, maxBucket)
      val nonReps = Dedup.clusters(pairs)
        .filter(col("cl") =!= col("id")).select(col("id").as(idCol))
      val survivors = afterCorpus.join(nonReps, Seq(idCol), "left_anti")
        .localCheckpoint()
      survivors.write.mode("append").parquet(outDir)
      if (!survivors.isEmpty) {
        if (idx == null) {
          idx = withBootstrapMarker(spark, indexDir) {
            val built = Similarity.lshBuild(survivors, idCol, vecCol, planes,
              dim, indexDir, tables)
            Similarity.writeMeta(spark, indexDir, built)
            built
          }
        } else Similarity.lshAppend(idx, survivors)
      }
      if (compactFiles > 0 && idx != null &&
          graft.operators.IndexMaint.dataFileCount(spark, indexDir) > compactFiles) {
        log.info(s"annIngestSink: compacting index at $indexDir")
        Similarity.annCompact(idx, idx.path, idx.schema, "_tb")
      }
    }
  }

  /** Streaming SEMANTIC embedding ingestion — the SemDeDup analog of
    * [[annIngestSink]], off a prebuilt cid-partitioned IVF index: per
    * micro-batch,
    *
    *   1. batch rows with a semantic duplicate among ACCEPTED vectors are
    *      dropped ([[graft.operators.Similarity.semanticDedupFilter]]:
    *      each row probes its `nprobe` best cells of the index's frozen
    *      centroids and reads ONLY those cell partitions; cells holding
    *      more than `maxCell` distinct accepted ids are dropped from the
    *      screen, metered),
    *   2. survivors are semantically deduped within the batch
    *      ([[graft.operators.Similarity.semanticDedup]] over batch-derived
    *      sample centroids),
    *   3. written to `outDir`, and
    *   4. appended to the index ([[graft.operators.Similarity.ivfAppend]]
    *      — frozen centroids, the standard IVF incremental-ingest trade).
    *
    * Bootstrap builds the index from batch one (sidecar re-open on
    * restart); pre-seed with ivfBuild + writeMeta over an existing corpus
    * (writeMeta is REQUIRED — a data-bearing dir without a sidecar is
    * refused rather than overwritten). Crash ordering output-then-index;
    * a replayed append duplicates index rows but cannot change later
    * survivor sets: screen hits dedup per batch id and the cell cap
    * counts DISTINCT corpus ids. `compactFiles > 0` rewrites the index
    * (one file per cid partition) when its census crosses the
    * threshold. */
  def semanticIngestSink(stream: DataFrame, idCol: String, vecCol: String,
                         indexDir: String, outDir: String, checkpoint: String,
                         threshold: Double, nlist: Int, nprobe: Int = 2,
                         maxCell: Int = graft.operators.Dedup.DefaultMaxBucket,
                         compactFiles: Int = 0,
                         trigger: org.apache.spark.sql.streaming.Trigger =
                           org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Similarity
    var idx: Similarity.IvfIndex = null
    writeBatches(stream, checkpoint, trigger) { (batch, _) =>
      val spark = batch.sparkSession
      if (idx == null) {
        idx = Similarity.readMeta[Similarity.IvfIndex](spark, indexDir).orNull
        if (idx == null) resolveBootstrap(spark, indexDir, "semanticIngestSink")
        else clearBootstrapMarker(spark, indexDir)
      }
      val afterCorpus =
        if (idx == null) batch
        else Similarity.semanticDedupFilter(idx, batch, threshold, nprobe,
          maxCell)
      val survivors = Similarity.semanticDedup(afterCorpus, idCol, vecCol,
          threshold, nlist, kmeansIters = 0, maxCell)
        .localCheckpoint()
      survivors.write.mode("append").parquet(outDir)
      if (!survivors.isEmpty) {
        if (idx == null) {
          idx = withBootstrapMarker(spark, indexDir) {
            val built = Similarity.ivfBuild(survivors, idCol, vecCol, nlist,
              indexDir)
            Similarity.writeMeta(spark, indexDir, built)
            built
          }
        } else Similarity.ivfAppend(idx, survivors)
      }
      if (compactFiles > 0 && idx != null &&
          graft.operators.IndexMaint.dataFileCount(spark, indexDir) > compactFiles) {
        log.info(s"semanticIngestSink: compacting index at $indexDir")
        Similarity.annCompact(idx, idx.path, idx.schema, "cid")
      }
    }
  }

  /** Streaming snapshot maintenance — the streaming counterpart of
    * [[graft.operators.Snapshot.diff]] for UPSERT feeds (recrawls,
    * document refreshes): each micro-batch carries keyed upserts; the
    * sink emits the per-batch DELTA and maintains a current-state ledger.
    *
    *   - `deltaDir`: append-only change log — batch columns + `status`
    *     (`added` | `changed`, matching Snapshot.diff's vocabulary) +
    *     `_batch`. UNCHANGED rows never leave the batch join and never
    *     hit disk: at a recrawl's ~1% churn the log is ~1% of the feed.
    *   - `stateDir`: the NARROW ledger (key columns, 64-bit content hash,
    *     `_batch`) — content never rides the state, so a state row is
    *     ~24 bytes regardless of document size, and the per-batch state
    *     scan is the same 8-bytes-per-key shape the hash-dedup sinks
    *     proved at ×12. One small file appends per batch; past
    *     `compactFiles` the ledger is rewritten latest-per-key via the
    *     IndexMaint swap protocol (torn swaps heal at the next read).
    *
    * The changed test is hash equality (xxhash64 over the compare
    * columns): collision-safe in exactly the way the exact-dedup tier's
    * classKey already is. The current hash per touched key reduces from
    * the ledger with max(struct(_batch, hash)) — latest batch wins, and a
    * REPLAYED batch (at-least-once foreachBatch) re-reduces to the same
    * struct, so replays re-emit the same delta instead of corrupting
    * state. Duplicate keys WITHIN a batch reduce to the smallest content
    * hash (deterministic; upsert feeds are expected keyed). Deletes are
    * out of scope — tombstones are an upsert with a sentinel payload, and
    * batch-vs-snapshot removals are [[graft.operators.Snapshot.diff]]'s
    * job.
    *
    * Scale: the ledger is partitioned into `slots` key-hash directories
    * (the minhash-index slot layout); each batch READS only the slot dirs
    * its keys hash to (explicit probed dirs via IndexMaint.readPartitions
    * — bytes AND listing ∝ touched slots, never the whole ledger) and
    * prunes those rows to its keys with a broadcast semi-join before the
    * latest-per-key reduction. Size `slots` so batchKeys/corpusKeys ≈
    * touchedSlots/slots at the target scale. `slots` is a LAYOUT
    * parameter of the ledger directory, so it is recorded in a sidecar on
    * first write and ADOPTED on re-open (a mismatched parameter would
    * otherwise read the wrong slot dirs and silently re-add seen keys);
    * compaction re-writes the sidecar into the new tree before the swap. */
  def snapshotSink(stream: DataFrame, keyCols: Seq[String],
                   compareCols: Seq[String],
                   stateDir: String, deltaDir: String, checkpoint: String,
                   compactFiles: Int = 0, slots: Int = 8,
                   trigger: org.apache.spark.sql.streaming.Trigger =
                     org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(keyCols.nonEmpty, "snapshotSink needs at least one key column")
    require(compareCols.nonEmpty, "snapshotSink needs compare columns")
    require(slots > 0, "snapshotSink needs slots > 0")
    var ledgerSlots = -1 // resolved once per query from the sidecar
    writeBatches(stream, checkpoint, trigger) { (batch, batchId) =>
      val spark = batch.sparkSession
      if (ledgerSlots < 0) {
        ledgerSlots = graft.operators.Similarity
          .readMeta[java.lang.Integer](spark, stateDir).map(_.intValue)
          .getOrElse {
            graft.operators.Similarity.writeMeta(spark, stateDir, Int.box(slots))
            slots
          }
        if (ledgerSlots != slots)
          log.info(s"snapshotSink: adopting the ledger's recorded slot " +
            s"layout $ledgerSlots (parameter was $slots)")
      }
      val keyed = batch.withColumn("_gq_ch",
        xxhash64(compareCols.map(col): _*))
      // one row per key: smallest content hash wins (deterministic)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keyCols.map(col): _*).orderBy(col("_gq_ch"))
      val rep = keyed.withColumn("_gq_rn", row_number().over(w))
        .filter(col("_gq_rn") === 1).drop("_gq_rn")
        .withColumn("_gq_slot",
          pmod(xxhash64(keyCols.map(col): _*), lit(ledgerSlots)))
        .localCheckpoint() // feeds the slot probe, the join, both writes
      graft.operators.IndexMaint.recoverSwap(spark, stateDir)
      val stateSchema = org.apache.spark.sql.types.StructType(
        keyCols.map(k => batch.schema(k)) ++ Seq(
          org.apache.spark.sql.types.StructField("_gq_ch",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("_batch",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("_gq_slot",
            org.apache.spark.sql.types.LongType)))
      // ≤ slots values: the touched-slot set is a tiny driver collect
      val slotVals = rep.select("_gq_slot").distinct()
        .collect().map(_.getLong(0)).toSeq
      val cur: Option[DataFrame] = graft.operators.IndexMaint
        .readPartitions(spark, stateDir, stateSchema, "_gq_slot", slotVals)
        .map { slotRows =>
          val keys = rep.select(keyCols.map(col): _*).distinct()
          slotRows
            .join(broadcast(keys), keyCols, "left_semi")
            .groupBy(keyCols.map(col): _*)
            .agg(max(struct(col("_batch"), col("_gq_ch"))).as("_gq_m"))
            .select(keyCols.map(col) :+
              col("_gq_m").getField("_gq_ch").as("_gq_prev"): _*)
        }
      val delta = (cur match {
        case None => rep.withColumn("status", lit("added"))
        case Some(prev) =>
          rep.join(prev, keyCols, "left_outer")
            .withColumn("status",
              when(col("_gq_prev").isNull, lit("added"))
                .when(col("_gq_prev") =!= col("_gq_ch"), lit("changed")))
            .filter(col("status").isNotNull)
            .drop("_gq_prev")
      }).localCheckpoint() // one computation feeds BOTH writes
      // write ORDER is delta-then-ledger: a crash between the two replays
      // the batch against the OLD ledger (duplicate delta rows —
      // at-least-once, standard foreachBatch); ledger-first would make the
      // replay see its own hashes and silently emit nothing
      delta.drop("_gq_ch", "_gq_slot").withColumn("_batch", lit(batchId))
        .write.mode("append").parquet(deltaDir)
      // cluster on the slot: one file per touched slot dir per batch
      delta.select(keyCols.map(col) ++ Seq(col("_gq_ch"),
          lit(batchId).as("_batch"), col("_gq_slot")): _*)
        .repartition(col("_gq_slot"))
        .write.mode("append").partitionBy("_gq_slot").parquet(stateDir)
      if (compactFiles > 0 &&
          graft.operators.IndexMaint.dataFileCount(spark, stateDir) > compactFiles) {
        log.info(s"snapshotSink: compacting state ledger at $stateDir")
        val latest = spark.read.schema(stateSchema).parquet(stateDir)
          .groupBy(keyCols.map(col) :+ col("_gq_slot"): _*)
          .agg(max(struct(col("_batch"), col("_gq_ch"))).as("_gq_m"))
          .select(keyCols.map(col) ++ Seq(
            col("_gq_m").getField("_gq_ch").as("_gq_ch"),
            col("_gq_m").getField("_batch").as("_batch"),
            col("_gq_slot")): _*)
        graft.operators.IndexMaint.swapRewrite(spark, stateDir, latest,
          Seq("_gq_slot"),
          beforeSwap = tmp => graft.operators.Similarity.writeMeta(
            spark, tmp, Int.box(ledgerSlots)))
      }
    }
  }

  /** Streaming posting-index maintenance: keep the inverted text index
    * ([[graft.operators.TextSearch]]) in step with a live document stream,
    * so keyword search over the full ingested corpus never pays a scan.
    * Per micro-batch the docs are appended to `outDir` (the corpus) and
    * their postings appended into the index's bucket partitions
    * (bootstrap: the first non-empty batch BUILDS the index + sidecar;
    * restart re-opens it, refusing a tree in a retired layout — plain or
    * two-tier — with an error that names the path and says to rebuild;
    * a data-bearing dir without a sidecar is refused, like every
    * index-backed sink). Every sink's tree is positional, so it serves
    * membership, phrase and BM25 probes alike; `positions` is ignored and
    * stays only so that callers passing it by name (the perfbench harness
    * among them) still compile. Write order is output-then-postings:
    * a crash between the two replays the batch, duplicating output rows
    * (at-least-once, standard foreachBatch) and postings — answer-
    * preserving because searches count DISTINCT terms per doc.
    * `compactFiles > 0` bounds long-run fragmentation: past the census
    * threshold the tree is rewritten one-file-per-bucket with duplicates
    * dropped (swap protocol). Pre-seed with textIndexBuild over an
    * existing corpus to search history from batch one. */
  def textIndexSink(stream: DataFrame, textCol: String, idCol: String,
                    indexDir: String, outDir: String, checkpoint: String,
                    buckets: Int = 256, compactFiles: Int = 0,
                    @deprecated("every text index is positional", "0.1.0")
                    positions: Boolean = true,
                    trigger: org.apache.spark.sql.streaming.Trigger =
                      org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.{IndexMaint, Similarity, TextSearch}
    var idx: TextSearch.TextIndex = null
    writeBatches(stream, checkpoint, trigger) { (batch, batchId) =>
      val spark = batch.sparkSession
      if (idx == null) {
        idx = TextSearch.openIndex(spark, indexDir).orNull
        if (idx == null) resolveBootstrap(spark, indexDir, "textIndexSink")
        else clearBootstrapMarker(spark, indexDir)
      }
      // one pass over the batch feeds both the output append and the
      // posting append
      val b = batch.localCheckpoint()
      b.write.mode("append").parquet(outDir)
      if (!b.isEmpty) {
        if (idx == null)
          idx = withBootstrapMarker(spark, indexDir) {
            // textIndexBuild writes its own sidecar as the last step
            TextSearch.textIndexBuild(b, textCol, idCol, indexDir, buckets)
          }
        // deterministic per-batch segment id: foreachBatch is at-least-once
        // (a crash between this append and the checkpoint commit replays the
        // batch), and the replay guard only protects appends that carry an
        // id — without it a replayed batch double-counts the sidecar
        // docs/totalLen and skews BM25 N/avgdl until a compaction recount.
        // Scoped by CHECKPOINT: batch ids restart at 0 per checkpoint, so a
        // fresh-checkpoint query over the same index dir must not collide
        // with an earlier query's markers and skip genuinely new data
        else idx = TextSearch.textIndexAppend(idx, b, textCol,
          segmentId = s"${IndexMaint.keyHash(checkpoint)}-b$batchId")
      }
      // floor the threshold at the bucket count: a compacted tree holds up
      // to one file PER BUCKET, so a threshold below `buckets` would be
      // unsatisfiable and re-trigger a full rewrite every batch
      if (compactFiles > 0 && idx != null &&
          IndexMaint.dataFileCount(spark, indexDir) >
            math.max(compactFiles, idx.buckets)) {
        log.info(s"textIndexSink: compacting index at $indexDir")
        idx = TextSearch.textIndexCompact(idx)
      }
    }
  }
}
