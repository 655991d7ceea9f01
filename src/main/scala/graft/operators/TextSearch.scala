package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Inverted posting-list index over whitespace tokens — the keyword-search
  * counterpart of the MinHash/ANN prebuilt-index tier. A "find every
  * document containing these terms" query over a raw corpus is a full scan
  * (and at 100 TB, THE full scan a curation team runs most often: blocklist
  * audits, contamination spot-checks, targeted corpus pulls). The index
  * trades one corpus pass at build time for term-pruned probes afterwards:
  * postings are hash-bucketed by term into `buckets` directory partitions,
  * so a search reads only the few bucket dirs its query terms hash to —
  * listing and scan cost is ∝ probed buckets, never the corpus
  * (IndexMaint.readPartitions, the same explicit-dir discipline as the
  * LSH/IVF probes).
  *
  * Tokenization is the engine's standard whitespace form
  * ([[TextAnalysis.tokens]]: split(lower(text), "\\s+")), so the DuckDB
  * oracle recomputes membership exactly and results compose with the
  * vocab/tf-idf/dedup tiers. Postings store one row per DISTINCT term per
  * document — multiplicity lives in the tf-idf tier, not here.
  *
  * Maintenance follows the family protocol: [[textIndexAppend]] writes new
  * segments into the same bucket partitions (at-least-once tolerant — the
  * posting set is idempotent under replay because probes aggregate by
  * distinct doc), [[textIndexCompact]] rewrites one-file-per-bucket via the
  * IndexMaint swap, and [[textIndexFor]] is the fingerprint-keyed
  * build-once/probe-many cache the serving layer uses.
  */
object TextSearch {

  /** Re-openable index handle; persisted as the `_graft_index_meta.bin`
    * sidecar inside the tree (Similarity.writeMeta). `positional` indexes
    * store one posting per token OCCURRENCE with its 0-based position and
    * the doc's token length (enabling [[phraseIds]] and [[rankedSearch]]);
    * plain indexes store one per DISTINCT term per doc (smaller;
    * membership searches only). `docs`/`totalLen` are the corpus stats a
    * BM25 probe needs (document count and summed token length over docs
    * with text), maintained by build/append/merge and recomputed exactly
    * from the tree at compaction. */
  @SerialVersionUID(1L)
  final case class TextIndex(path: String, idCol: String, buckets: Int,
                             schema: StructType, positional: Boolean = false,
                             docs: Long = 0L, totalLen: Long = 0L)

  /** Bucket of a term: xxhash64 folded into [0, buckets). Stable across
    * builds/appends by construction (no RNG, no per-build salt), so any
    * segment indexed later lands in the same directory space. */
  def termBucket(term: Column, buckets: Int): Column =
    pmod(xxhash64(term), lit(buckets.toLong)).cast("int")

  /** Buckets of probe terms, computed on the driver: [[termBucket]] — the
    * expression [[postings]] writes `_tb` with — folded over each term as a
    * literal, so build and probe cannot drift and hashing ≤ |terms|
    * strings launches no query execution. */
  private[graft] def termBuckets(terms: Seq[String], buckets: Int): Seq[Long] =
    terms.map(t => org.apache.spark.sql.graft.ExprBridge.fold(
      SparkSession.active, termBucket(lit(t), buckets)).asInstanceOf[Int].toLong)

  /** Posting rows (id, term, _tb) — one per distinct token per document;
    * with `positions` one per token OCCURRENCE plus its 0-based `pos` in
    * the whitespace token array (absolute, so the rare filtered-out blank
    * token never shifts its neighbours — the oracle numbers the same
    * array). Null texts yield no postings (an unindexed doc, matching the
    * oracle's unnest-of-null); empty tokens (split of a blank string) are
    * dropped, they can never match a real search term. */
  def postings(corpus: DataFrame, textCol: String, idCol: String,
               buckets: Int, positions: Boolean = false): DataFrame = {
    val base =
      if (positions) {
        // `len` (the doc's whitespace token count, blank tokens included —
        // the oracle-visible array length) rides every posting row: BM25
        // probes then learn each candidate's length from the probed
        // buckets alone, with no second tree; parquet RLE makes the
        // repetition ~free. The token array is materialized in its OWN
        // projection before the generator consumes it — the chunked-
        // operator rule: a single-select form re-tokenizes per emitted
        // row (measured 277 s vs 14 s for the 27M-posting ×100 build)
        corpus.select(col(idCol).as("id"),
            TextAnalysis.tokens(col(textCol)).as("_gq_toks"))
          .select(col("id"), size(col("_gq_toks")).cast("int").as("len"),
            posexplode(col("_gq_toks")).as(Seq("pos", "term")))
      } else
        corpus.select(col(idCol).as("id"),
          explode(array_distinct(TextAnalysis.tokens(col(textCol)))).as("term"))
    base.filter(length(col("term")) > 0)
      .withColumn("_tb", termBucket(col("term"), buckets))
  }

  /** Corpus stats for BM25: (docs with ≥1 NON-BLANK token, summed token
    * length over those docs). Blank-token-only docs carry no postings, so
    * the compaction recount (distinct (id, len) from the tree) could never
    * see them — build/append skip them too, so all three stat sources
    * agree on one definition (round-10 ADVICE). `len` stays the full
    * oracle-visible token-array length. */
  private def corpusStats(corpus: DataFrame, textCol: String): (Long, Long) = {
    val toks = TextAnalysis.tokens(col(textCol))
    val r = corpus
      .select(size(toks).cast("long").as("_l"),
        size(filter(toks, t => length(t) > 0)).as("_nz"))
      .filter(col("_l").isNotNull && col("_nz") > 0)
      .agg(count(lit(1)), coalesce(sum(col("_l")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  // ─── doc-level tf tier (BM25 fast path) ───

  /** Subdir of the per-(term, doc) tf tier inside a positional index tree.
    * The `_` prefix keeps it invisible to whole-tree reads of the posting
    * files (Spark skips `_`/`.` paths when listing), same as the meta
    * sidecar. */
  private def tfDir(path: String): String = s"$path/_tf"

  private def tfSchema(index: TextIndex): StructType = StructType(Seq(
    org.apache.spark.sql.types.StructField("id", index.schema("id").dataType),
    org.apache.spark.sql.types.StructField("term",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("tf",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("len",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("_tb",
      org.apache.spark.sql.types.IntegerType)))

  /** Collapse positional posting rows to one row per (term, doc): tf =
    * distinct positions (replay-duplicate safe at compaction), len carried.
    * This is THE expensive step of a BM25 probe when done at query time —
    * a common term's posting list is one row per OCCURRENCE — so positional
    * indexes persist it at build/append/compact/merge and rankedSearch
    * reads doc-level rows instead. */
  private def tfFromPostings(posts: DataFrame): DataFrame =
    posts.groupBy("_tb", "term", "id")
      .agg(countDistinct(col("pos")).cast("int").as("tf"),
        max(col("len")).as("len"))
      .select("id", "term", "tf", "len", "_tb")

  private def writeTfTier(posts: DataFrame, dir: String, mode: String): Unit =
    tfFromPostings(posts).repartition(col("_tb"))
      .sortWithinPartitions("term", "id")
      .write.mode(mode).partitionBy("_tb").parquet(dir)

  private def tfTierExists(spark: SparkSession, index: TextIndex): Boolean = {
    val p = new org.apache.hadoop.fs.Path(tfDir(index.path))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Build the index at `path`: one corpus pass, postings clustered on the
    * bucket key before the partitioned write so each bucket dir is written
    * by ONE task (the LSH-build lesson: unclustered partitioned writes cost
    * ~#tasks files per dir and probes pay the census as a listing tax). */
  def textIndexBuild(corpus: DataFrame, textCol: String, idCol: String,
                     path: String, buckets: Int = 256,
                     positions: Boolean = false): TextIndex = {
    require(buckets > 0, s"textIndexBuild: buckets must be positive, got $buckets")
    val rows = postings(corpus, textCol, idCol, buckets, positions)
    rows.repartition(col("_tb"))
      .sortWithinPartitions("term", "id")
      .write.mode("overwrite").partitionBy("_tb").parquet(path)
    val idx = TextIndex(path, idCol, buckets, rows.schema, positions,
      0L, 0L)
    val (n, tl) =
      if (positions) {
        // tf tier from the just-written tree (no corpus re-tokenize)
        writeTfTier(corpus.sparkSession.read.schema(rows.schema).parquet(path),
          tfDir(path), "overwrite")
        corpusStats(corpus, textCol)
      } else (0L, 0L)
    val done = idx.copy(docs = n, totalLen = tl)
    Similarity.writeMeta(corpus.sparkSession, path, done)
    done
  }

  /** Append a segment's postings into the existing bucket partitions.
    * Replay-tolerant: duplicate postings change no membership/phrase
    * answer (probes count DISTINCT terms/positions per doc); compaction
    * drops them. Positional indexes also fold the segment's corpus stats
    * into the sidecar (postings-then-stats order: a crash between the two
    * leaves avgdl slightly stale).
    *
    * `segmentId`, when given, must be DETERMINISTIC per logical segment
    * (mirroring [[Dedup.minhashIndexAppend]]'s replay guard — round-12
    * ADVICE): a `_gq_seg_<id>` done-marker lands in the tree root AFTER the
    * postings/tf/stats, and an append whose marker already exists is a
    * replay and skipped wholesale — a retried delta append can no longer
    * double-count the sidecar docs/totalLen and skew BM25 N/avgdl until a
    * compaction recount. CONCURRENT appenders of the same segment (a second
    * JVM sharing baseDir — the growth lock serializing in-JVM appends is
    * JVM-local) are excluded by an atomic `_gq_claim_<id>` taken BEFORE the
    * append: the loser polls for the winner's done-marker; a claim older
    * than `graft.index.append.claim.stale.ms` (default 120 s) with no
    * done-marker is a crashed appender and is taken over — size the bound
    * above the worst-case append latency for multi-writer deployments, the
    * residual race being two appenders of a segment that takes longer than
    * the bound. A crash inside the append (done-marker not yet written)
    * re-runs it whole after the staleness wait: duplicate postings/tf rows
    * are probe-safe (DISTINCT/max collapse), stats double-count remains the
    * documented bounded drift for exactly the writeMeta-to-marker window.
    * Without a `segmentId` (ad-hoc use) appending the same frame twice
    * really does index it twice. Returns the updated handle. */
  def textIndexAppend(index: TextIndex, segment: DataFrame,
                      textCol: String, segmentId: String = null): TextIndex = {
    val spark = segment.sparkSession
    val marker = Option(segmentId).map(id =>
      new org.apache.hadoop.fs.Path(s"${index.path}/_gq_seg_$id"))
    val claim = Option(segmentId).map(id =>
      new org.apache.hadoop.fs.Path(s"${index.path}/_gq_claim_$id"))
    val fs = new org.apache.hadoop.fs.Path(index.path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def nonFatal(f: => Unit): Unit =
      try f catch { case scala.util.control.NonFatal(_) => () }
    // replay: the tree already holds this segment — clean any lingering
    // claim (a crash between done-marker and claim delete) and re-read the
    // sidecar so the caller gets the POST-append stats, not its stale copy
    def replayed(): Option[TextIndex] =
      if (marker.exists(fs.exists)) {
        claim.foreach(c => nonFatal { fs.delete(c, false); () })
        Some(Similarity.readMeta[TextIndex](spark, index.path)
          .getOrElse(index))
      } else None
    replayed() match { case Some(r) => return r case None => }
    // the whole append runs under the tree WRITE lock: concurrent appends
    // of DIFFERENT segments (claims never conflict) into one tree clobber
    // the committer's shared `_temporary` staging — see withTreeLock
    def doAppend(): TextIndex = IndexMaint.withTreeLock(fs,
        new org.apache.hadoop.fs.Path(index.path)) {
      // torn-swap healing under the WRITE lock: outside it, a live
      // compactor's in-progress swap is indistinguishable from a crash
      IndexMaint.recoverSwap(spark, index.path)
      postings(segment, textCol, index.idCol, index.buckets, index.positional)
        .repartition(col("_tb"))
        .write.mode("append").partitionBy("_tb").parquet(index.path)
      val out =
        if (!index.positional) index
        else {
          // tf tier rows for the segment (postings-then-tf order: a crash
          // between the two is healed by the family's at-least-once replay,
          // same as the postings-then-stats window below; a replayed append
          // appends identical tf rows, which probes collapse by max)
          writeTfTier(
            postings(segment, textCol, index.idCol, index.buckets,
              positions = true),
            tfDir(index.path), "append")
          val (n, tl) = corpusStats(segment, textCol)
          // fold into the LATEST PERSISTED stats under a meta lock, not
          // into the caller's handle: appenders of DIFFERENT segments hold
          // different claims (and a caller can legitimately pass a stale
          // handle), so `index.docs + n` is a read-modify-write lost
          // update — the second writer would overwrite the first's fold
          // and skew BM25 N/avgdl until a compaction recount. The lock
          // only spans the sub-second sidecar read+write, never the
          // segment-sized jobs above.
          val staleMs = sys.props.get("graft.index.append.claim.stale.ms")
            .flatMap(_.toLongOption).getOrElse(120000L)
          IndexMaint.withFileLock(fs,
              new org.apache.hadoop.fs.Path(s"${index.path}/_gq_metalock"),
              staleMs) {
            val cur = Similarity.readMeta[TextIndex](spark, index.path)
              .getOrElse(index)
            val updated = cur.copy(docs = cur.docs + n,
              totalLen = cur.totalLen + tl)
            Similarity.writeMeta(spark, index.path, updated)
            updated
          }
        }
      marker.foreach(m => fs.create(m, true).close())
      out
    }
    claim match {
      case None => doAppend() // ad-hoc use: no segment identity, no claim
      case Some(c) =>
        val staleMs = sys.props.get("graft.index.append.claim.stale.ms")
          .flatMap(_.toLongOption).getOrElse(120000L)
        IndexMaint.withAppendClaim(fs, c,
            () => marker.exists(fs.exists), staleMs)(doAppend())
          .getOrElse( // a concurrent winner appended it: post-append stats
            Similarity.readMeta[TextIndex](spark, index.path)
              .getOrElse(index))
    }
  }

  /** Rewrite one-file-per-bucket with replay duplicates dropped; swap
    * protocol + sidecar re-write as in the LSH/IVF family. Positional
    * compaction also RECOMPUTES the sidecar corpus stats exactly from the
    * deduplicated tree (distinct (id, len)) — healing any replay
    * double-count a crashed append left behind, the same discipline as the
    * minhash occ recount. (Docs whose text tokenizes to only blank tokens
    * carry no postings and so drop out of the recount — they contribute no
    * terms, so their absence from avgdl is the better estimate anyway.)
    * Returns the possibly-updated handle. */
  def textIndexCompact(index: TextIndex): TextIndex = {
    val spark = SparkSession.active
    // same tree WRITE lock as appends: a compaction swapping the tree out
    // from under a concurrent cross-JVM append would drop that append's
    // rows (and the committer stagings collide) — writers serialize whole
    IndexMaint.withTreeLock(
      new org.apache.hadoop.fs.Path(index.path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration),
      new org.apache.hadoop.fs.Path(index.path)) {
    IndexMaint.recoverSwap(spark, index.path)
    val deduped = spark.read.schema(index.schema).parquet(index.path)
      .dropDuplicates()
    val updated =
      if (!index.positional) index
      else {
        val r = deduped.select(col("id"), col("len")).distinct()
          .agg(count(lit(1)), coalesce(sum(col("len").cast("long")), lit(0L)))
          .head()
        index.copy(docs = r.getLong(0), totalLen = r.getLong(1))
      }
    IndexMaint.swapRewrite(spark, index.path, deduped,
      Seq("_tb"), tmp => {
        // the tf tier is recomputed exactly from the deduplicated postings
        // (replay double-counts healed, same as the stats recount) and
        // rides the swap inside the tmp tree
        if (index.positional) writeTfTier(deduped, tfDir(tmp), "overwrite")
        Similarity.writeMeta(spark, tmp, updated)
        // carry the segment done-markers across the rewrite: the appended
        // segments' rows are still IN the compacted tree, so a replayed
        // append afterwards must keep being recognized — dropping the
        // markers here would silently void the replay guard and let the
        // replay double-count the just-recounted sidecar stats
        val fs = new org.apache.hadoop.fs.Path(index.path)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.globStatus(new org.apache.hadoop.fs.Path(
          s"${index.path}/_gq_seg_*")).foreach { st =>
          fs.create(new org.apache.hadoop.fs.Path(tmp, st.getPath.getName),
            true).close()
        }
      })
    updated
    }
  }

  /** Merge two shard indexes into a fresh tree at `destPath` — the
    * per-shard indexing shape at corpus scale (each shard indexes its
    * slice; merges produce the serving tree without re-reading either
    * corpus). The term→bucket map is deterministic in `buckets` alone, so
    * matching geometries make the merge a pure posting union; output is
    * clustered one-file-per-bucket (merge doubles as compaction) and
    * re-openable via the standard sidecar. A doc indexed in BOTH shards
    * dedups its posting rows but counts twice in the summed corpus stats
    * (N/avgdl skew for BM25; tf/df stay exact) — dedup shard ownership
    * upstream, as with the minhash merge, or run [[textIndexCompact]] on
    * the merged tree to recount stats exactly. */
  def textIndexMerge(a: TextIndex, b: TextIndex, destPath: String): TextIndex = {
    require(a.buckets == b.buckets,
      s"textIndexMerge: bucket geometry differs (${a.buckets} vs ${b.buckets})")
    require(a.idCol == b.idCol && a.positional == b.positional,
      s"textIndexMerge: index contracts differ ($a vs $b)")
    require(destPath != a.path && destPath != b.path,
      "textIndexMerge needs a destPath distinct from both inputs")
    val spark = SparkSession.active
    IndexMaint.recoverSwap(spark, a.path)
    IndexMaint.recoverSwap(spark, b.path)
    val rows = spark.read.schema(a.schema).parquet(a.path)
      .unionByName(spark.read.schema(b.schema).parquet(b.path))
      .dropDuplicates()
    rows.repartition(col("_tb")).sortWithinPartitions("term", "id")
      .write.mode("overwrite").partitionBy("_tb").parquet(destPath)
    if (a.positional) writeTfTier(rows, tfDir(destPath), "overwrite")
    val merged = TextIndex(destPath, a.idCol, a.buckets, a.schema, a.positional,
      a.docs + b.docs, a.totalLen + b.totalLen)
    Similarity.writeMeta(spark, destPath, merged)
    merged
  }

  /** Normalized distinct search terms: the index stores lowercase tokens,
    * so terms are lowercased; blank terms are rejected (they can never
    * match and would silently weaken an AND). */
  private def normTerms(terms: Seq[String]): Seq[String] = {
    val norm = terms.map(_.toLowerCase.trim).filter(_.nonEmpty).distinct
    require(norm.nonEmpty, "textSearch: no non-blank search terms")
    norm
  }

  /** Doc ids matching at least `minMatch` of `terms` (`minMatch <= 0` or
    * `>= terms.size` → ALL terms, the AND search; `1` → OR). Reads ONLY the
    * bucket dirs the query terms hash to — the probe cost is ∝ terms, not
    * corpus. Term buckets come from [[termBuckets]]: the build's own
    * Catalyst expression folded on the driver, no query execution. */
  def searchIds(index: TextIndex, terms: Seq[String],
                minMatch: Int = 0): DataFrame = {
    val spark = SparkSession.active
    // heal a torn compaction swap before the probe (every sibling probe
    // does this; a warm cache handle skips readMeta's healing path, and
    // without it a torn swap silently answers "no matches")
    IndexMaint.recoverSwap(spark, index.path)
    val norm = normTerms(terms)
    val need = if (minMatch <= 0 || minMatch > norm.size) norm.size else minMatch
    val tbs = termBuckets(norm, index.buckets)
    val idType = index.schema("id").dataType
    // positional trees with a tf tier answer membership from the doc-level
    // rows (one per (term, doc)) instead of the occurrence rows — same
    // DISTINCT-term count, far fewer input rows for common terms
    val rowsOpt =
      if (index.positional && tfTierExists(spark, index))
        IndexMaint.readPartitions(spark, tfDir(index.path), tfSchema(index),
          "_tb", tbs)
      else
        IndexMaint.readPartitions(spark, index.path, index.schema, "_tb", tbs)
    rowsOpt match {
      case None =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(org.apache.spark.sql.types.StructField("id", idType))))
      case Some(posts) =>
        posts.filter(col("term").isin(norm: _*))
          // rows may hold replay duplicates between compactions: count
          // DISTINCT terms, never rows
          .groupBy("id").agg(countDistinct(col("term")).as("_gq_nt"))
          .filter(col("_gq_nt") >= need)
          .select("id")
    }
  }

  /** Doc ids containing the exact consecutive token sequence `phrase` —
    * candidate docs from the same term-bucket-pruned AND probe, adjacency
    * then verified on the stored positions WITHOUT touching the corpus:
    * per (id, term) the position set rides up as an array, and a phrase
    * match is a start position p of the first term with p+i in the i-th
    * term's set for every i (one codegen'd `exists` over the pivoted map —
    * no k-way self-join of the posting stream). Needs a positional index.
    * Repeated terms in the phrase ("the the") are handled naturally: the
    * same position array is consulted at both offsets. */
  def phraseIds(index: TextIndex, phrase: Seq[String]): DataFrame = {
    require(index.positional,
      s"phraseIds needs an index built with positions = true (${index.path})")
    val spark = SparkSession.active
    val norm = phrase.map(_.toLowerCase.trim)
    require(norm.nonEmpty && norm.forall(_.nonEmpty),
      "phraseIds: phrase terms must be non-blank")
    IndexMaint.recoverSwap(spark, index.path)
    val distinctTerms = norm.distinct
    val tbs = termBuckets(distinctTerms, index.buckets)
    val idType = index.schema("id").dataType
    IndexMaint.readPartitions(spark, index.path, index.schema, "_tb", tbs) match {
      case None =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(org.apache.spark.sql.types.StructField("id", idType))))
      case Some(posts) =>
        // pivot the phrase terms' positions into one map per doc
        // (collect_set: replay-duplicated postings collapse)
        val pivoted = posts.filter(col("term").isin(distinctTerms: _*))
          .groupBy("id", "term").agg(collect_set(col("pos")).as("_ps"))
          .groupBy("id").agg(map_from_arrays(
            collect_list(col("term")), collect_list(col("_ps"))).as("_m"))
        // all terms present, then a common start: exists p in pos(t0) with
        // p+i in pos(ti) for every i (element_at on a missing key is null;
        // array_contains(null, _) is null, so the filter drops those too)
        val hasAll = distinctTerms
          .map(t => element_at(col("_m"), t).isNotNull).reduce(_ && _)
        val aligned = exists(element_at(col("_m"), norm.head),
          p => norm.zipWithIndex.tail
            .map { case (t, i) => array_contains(element_at(col("_m"), t), p + i) }
            .foldLeft(lit(true))(_ && _))
        pivoted.filter(hasAll && aligned).select("id")
    }
  }

  /** BM25 top-k ranked retrieval (Robertson & Walker; the Okapi form with
    * the standard k1/b defaults): candidates and every statistic come from
    * the probed term buckets alone — tf and doc length from the persisted
    * doc-level tf tier when present (one row per (term, doc); falls back
    * to collapsing the positional occurrence rows for trees built before
    * the tier existed), per-term document frequency exact because a term's
    * bucket holds ALL its rows, and N/avgdl from the sidecar corpus stats.
    * The corpus text is never read. Scores are rounded at 1e-6 BEFORE the
    * top-k cut and tie-broken on id, so retries, repartitioning and the
    * SQL oracle rank identically (the q_dsir selection-key rule). idf is
    * the ln(1 + (N - df + ½)/(df + ½)) positive form.
    *
    * Max-score pruning (Turtle & Flood): per-term score upper bounds
    * ub(t) = idf(t) · sat(maxtf(t), minlen(t)) come from one cheap
    * aggregate over the doc-level rows. When the query mixes rare and
    * common terms, only documents containing an ESSENTIAL (rare) term are
    * scored exactly; every other document's score is ≤ Σ ub over the
    * non-essential terms it can contain, and if that bound is STRICTLY
    * below the k-th candidate score (compared after the same 1e-6
    * rounding — rounding is monotone, so no pruned doc can round up past
    * it, ties included), the candidate top-k IS the exact top-k. When the
    * verification fails — or the query gives no useful split — the probe
    * falls back to scoring everything: pruning is a latency optimization,
    * NEVER an answer change. When pruning cannot apply (k > 10000, or the
    * sidecar bounds the common-term volume below `pruneMinRows`) the probe
    * is one plan with df and idf computed inside it; otherwise it costs one
    * bounded stats collect (≤ |terms| rows) plus, when the split is worth
    * trying, a k-row candidate collect. */
  def rankedSearch(index: TextIndex, terms: Seq[String], k: Int,
                   k1: Double = 1.2, b: Double = 0.75,
                   pruneMinRows: Long = 500000L): DataFrame =
    rankedSearchImpl(index, terms, k, k1, b, pruneMinRows, within = None)

  private def rankedSearchImpl(index: TextIndex, terms: Seq[String], k: Int,
                               k1: Double, b: Double, pruneMinRows: Long,
                               within: Option[DataFrame]): DataFrame = {
    require(index.positional,
      s"rankedSearch needs an index built with positions = true (${index.path})")
    require(k > 0, "rankedSearch needs k > 0")
    val spark = SparkSession.active
    val norm = normTerms(terms)
    IndexMaint.recoverSwap(spark, index.path)
    val tbs = termBuckets(norm, index.buckets)
    val idType = index.schema("id").dataType
    val outSchema = StructType(Seq(
      org.apache.spark.sql.types.StructField("id", idType),
      org.apache.spark.sql.types.StructField("score",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("rank",
        org.apache.spark.sql.types.LongType)))
    def emptyOut = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    // an EMPTY corpus (docs == 0) ranks nothing — return the empty frame
    // rather than erroring, like every other probe on an empty index
    if (index.docs == 0L) return emptyOut
    // doc-level (id, term, _tf, _len) rows: tf tier when the tree has one
    val tfOpt: Option[DataFrame] =
      if (tfTierExists(spark, index))
        IndexMaint.readPartitions(spark, tfDir(index.path), tfSchema(index),
            "_tb", tbs)
          .map(_.filter(col("term").isin(norm: _*))
            .groupBy("id", "term")
            // max collapses replay-appended duplicate rows
            .agg(max(col("tf")).cast("long").as("_tf"),
              max(col("len")).as("_len")))
      else
        IndexMaint.readPartitions(spark, index.path, index.schema, "_tb", tbs)
          .map(_.filter(col("term").isin(norm: _*))
            .groupBy("id", "term")
            .agg(countDistinct(col("pos")).as("_tf"),
              max(col("len")).as("_len")))
    val tfAll = tfOpt.getOrElse(return emptyOut)
    // per-doc rows (id, _l): each document's (term, _tf, _len) entries,
    // sorted by term — the input of the deterministic score fold below
    val perDocAll = tfAll.groupBy("id").agg(array_sort(collect_list(
      struct(col("term"), col("_tf"), col("_len")))).as("_l"))
    // restriction (rankedSearchWithin): scores and statistics (df, N,
    // avgdl) are per-document constants of the INDEX corpus — restricting
    // the candidate set cannot change any document's score, so the
    // restricted top-k IS the first k survivors of the unrestricted
    // ranking. Scoring therefore semi-joins the restriction in BEFORE the
    // score fold and ranks once — no geometric rank-then-verify rounds,
    // no re-probing, no checkpoint (round-12 verdict #4: the old loop
    // re-ran the whole probe + scoring per fetch round, and scoring cost
    // never shrank with fetchK). df always comes from the UNRESTRICTED
    // rows, whichever path computes it below.
    val perDoc = within match {
      case Some(ids) =>
        perDocAll.join(ids, col("id") === col("_gq_wid"), "left_semi")
      case None => perDocAll
    }

    val avgdl = index.totalLen.toDouble / index.docs.toDouble
    // the ONE idf formula, evaluated by Spark on both paths below, so the
    // in-plan and the collected statistics agree to the bit
    def idf(dfV: Column): Column =
      log(lit(1.0) + (lit(index.docs.toDouble) - dfV + lit(0.5)) / (dfV + lit(0.5)))
    def satUb(maxtf: Double, minlen: Double): Double =
      maxtf * (k1 + 1.0) / (maxtf + k1 * (1.0 - b + b * minlen / avgdl))
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // deterministic reduction (round-10 ADVICE): a plain sum(contrib)'s
    // FP association order varies with partitioning, and a sum within
    // ~1 ulp of a 0.5e-6 rounding boundary could flip its rounded value
    // between retries, perturbing the tie-break and the top-k cut. Each
    // doc holds ≤ |query terms| entries, so folding them in sorted term
    // order is O(terms) per doc — bit-stable across retries,
    // repartitioning and topologies. `idfOf` maps a term to its idf.
    def scored(docs: DataFrame, idfOf: Column => Column): DataFrame = {
      def contrib(x: Column): Column = idfOf(x.getField("term")) *
        (x.getField("_tf") * lit(k1 + 1.0)) / (x.getField("_tf") +
          lit(k1) * (lit(1.0 - b) + lit(b) * x.getField("_len") / avgdl))
      docs.select(col("id"),
          round(aggregate(col("_l"), lit(0.0), (acc, x) => acc + contrib(x)), 6)
            .as("score"))
        .orderBy(col("score").desc, col("id").asc)
        .limit(k)
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("score").desc, col("id").asc)).cast("long"))
    }

    // Max-score pruning needs the non-essential df sum to reach
    // pruneMinRows, and that sum is at most min(docs·|terms|, totalLen)
    // (a term's df ≤ docs; each (term, doc) pair is ≥ 1 token). Below that
    // bound — or past the k-row driver-collect limit — pruning cannot
    // apply, so nothing is collected: df comes from a per-term count over
    // the per-doc rows, and its idf map is broadcast back into the same
    // plan. The count reads the per-doc shuffle the scoring side reads (a
    // reused exchange); counting over tfAll instead would not be reused,
    // because column pruning strips its unused tf/len aggregates and so
    // makes it a different plan. The bound only picks a path: both paths
    // return the same exact answer. The bar is an explicit parameter
    // (specs/probes lower it), NOT session conf — the round-10
    // slice-densify rule: a shared-session knob mutated for one query is
    // observed by every concurrent query.
    val pruneCannotApply = k > 10000 ||
      math.min(index.docs.toDouble * norm.size, index.totalLen.toDouble) <
        pruneMinRows
    if (pruneCannotApply) {
      val idfMap = perDocAll
        .select(explode(col("_l").getField("term")).as("term"))
        .groupBy("term").agg(count(lit(1)).as("_df"))
        .agg(map_from_entries(collect_list(struct(col("term"),
          idf(col("_df"))))).as("_gq_idf"))
      return scored(perDoc.crossJoin(broadcast(idfMap)),
        t => element_at(col("_gq_idf"), t))
    }

    // pruning path: one bounded pass for exact per-term df, idf and the
    // bound ingredients (≤ |terms| rows — the knnJoinAuto "pay one bounded
    // job" precedent), over the unrestricted rows
    final case class TermStat(term: String, df: Long, idf: Double, ub: Double)
    val stats = tfAll.groupBy("term")
      .agg(count(lit(1)).as("_df"), max(col("_tf")).as("_maxtf"),
        min(col("_len")).as("_minlen"))
      .select(col("term"), col("_df"), idf(col("_df")), col("_maxtf"),
        col("_minlen"))
      .collect()
      .map(r => TermStat(r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(2) * satUb(r.getLong(3).toDouble, r.getInt(4).toDouble)))
    if (stats.isEmpty) return emptyOut
    // idf is a per-term constant now that df is known — embed it as a
    // literal map (no df re-aggregation or broadcast join at score time)
    val idfLit = map(stats.flatMap(s => Seq(lit(s.term), lit(s.idf))).toIndexedSeq: _*)
    val idfOf = (t: Column) => element_at(idfLit, t)

    // max-score split: essential terms = the rarest prefix (df ascending)
    // that can yield ≥ k candidates with margin; only worth trying when
    // the non-essential (common) side carries most of the volume
    val byDf = stats.sortBy(s => (s.df, s.term))
    val totalDf = stats.map(_.df).sum
    var cum = 0L
    val essential = byDf.takeWhile { s =>
      val need = cum < 2L * k; cum += s.df; need
    }
    val nonEssential = byDf.drop(essential.length)
    val ubNonEssential = round6(nonEssential.map(_.ub).sum)
    // pruning pays a k-row candidate collect on top of the stats collect;
    // only worth it when the skipped volume is real — the common side must
    // carry most of the rows AND enough of them that the saved aggregation
    // beats the fixed job cost. (k ≤ 10000, checked above: the pruned
    // return collects the k candidate rows to the driver — interactive
    // top-k only, never a bulk ranking fetch.)
    val pruneWorthIt = nonEssential.nonEmpty &&
      essential.map(_.df).sum * 4 <= totalDf &&
      nonEssential.map(_.df).sum >= pruneMinRows
    if (pruneWorthIt) {
      val eTerms = essential.map(_.term).toSeq
      // exact full scores (ALL query terms) for candidate docs only: the
      // docs holding an essential term
      val topC = scored(perDoc.filter(exists(col("_l"),
        x => x.getField("term").isin(eTerms: _*))), idfOf).collect()
      // valid iff we filled k slots AND no pruned doc can round up to the
      // k-th score: a doc without essential terms scores ≤ ub(non-essential),
      // and rounding is monotone, so strict < on rounded values is safe
      // even under ties (a tie at the k-th score with a smaller id would
      // otherwise displace it)
      if (topC.length >= k && ubNonEssential < topC.last.getDouble(1)) {
        pruneHitCount.incrementAndGet()
        return spark.createDataFrame(
          java.util.Arrays.asList(topC: _*), outSchema)
      }
    }
    // fallback: score every doc containing any query term (always exact)
    scored(perDoc, idfOf)
  }

  /** BM25 top-k RESTRICTED to the ids present in `within` — the
    * `filter → search(k:)` serving shape, answered from a (superset)
    * prebuilt index with NO per-filtered-plan index build. Semantics:
    * scores and statistics (df, N, avgdl) are the INDEX corpus's — they
    * are per-document constants of that corpus, so filtering cannot
    * change any document's score, and the restricted top-k is EXACTLY
    * the first k survivors of the index ranking. The probe semi-joins the
    * restriction into the candidate rows BEFORE the per-doc score fold and
    * ranks ONCE (round-12 verdict #4 — the previous geometric
    * rank-then-verify loop re-ran the whole probe and full candidate
    * scoring per fetch round, though scoring cost never shrank with the
    * fetch size, and left localCheckpoint blocks behind between rounds);
    * survivor ranks number 1..k on the same (score desc, id) order, and a
    * 1-in-100 selective filter now costs the same single pass as the
    * unfiltered probe plus one semi-join. Callers wanting the filtered
    * slice's OWN statistics must index the slice instead (a per-slice
    * build — the documented expensive path). */
  def rankedSearchWithin(index: TextIndex, terms: Seq[String], k: Int,
                         within: DataFrame, idCol: String,
                         k1: Double = 1.2, b: Double = 0.75,
                         pruneMinRows: Long = 500000L): DataFrame = {
    require(k > 0, "rankedSearchWithin needs k > 0")
    val ids = within.select(col(idCol).as("_gq_wid")).distinct()
    rankedSearchImpl(index, terms, k, k1, b, pruneMinRows, Some(ids))
  }

  /** Full matching rows from `corpus` (semi-join against the probed ids;
    * the id set is usually small — AQE broadcasts it when it is, and the
    * join stays a hash semi-join when it is not). */
  def search(index: TextIndex, corpus: DataFrame, terms: Seq[String],
             minMatch: Int = 0): DataFrame =
    corpus.join(searchIds(index, terms, minMatch)
        .withColumnRenamed("id", "_gq_sid"),
      col(index.idCol) === col("_gq_sid"), "left_semi")

  // ─── build-once/probe-many cache (serving layer) ───

  private val txCache =
    new IndexMaint.LruCache[TextIndex](IndexMaint.cacheCap _)
  /** LRU evictions taken by [[txCache]] (observability for the lifecycle
    * spec: an evicted-then-re-requested index re-opens, never rebuilds). */
  private[graft] def textCacheEvictions: Long = txCache.evictions.get
  private[graft] def textCacheSize: Int = txCache.size
  private[graft] val textBuildCount = new java.util.concurrent.atomic.AtomicLong
  /** Delta appends taken by the [[textIndexFor]] fast path (observability:
    * append-only corpus growth must grow THIS, not [[textBuildCount]]). */
  private[graft] val textDeltaAppendCount =
    new java.util.concurrent.atomic.AtomicLong
  /** Max-score prunes that VERIFIED and returned the candidate top-k
    * (observability for specs/probes; the fallback path never counts). */
  private[graft] val pruneHitCount = new java.util.concurrent.atomic.AtomicLong

  /** Per-(params sans fingerprint) lineage of the last served corpus: its
    * file statuses and full cache key — the append fast path's memory
    * (restart-durable via the persisted blob — IndexMaint.cachedIndexFor). */
  private val txLineage = new IndexMaint.LruCache[
    (Map[String, (Long, Long)], String)](IndexMaint.cacheCap _)

  /** Cached [[textIndexBuild]] keyed by corpus identity + content
    * fingerprint + parameters — the same pattern as
    * [[Dedup.minhashIndexFor]]: first request builds, later requests
    * re-open the sidecar, a changed corpus fingerprints to a new path.
    *
    * APPEND fast path (round-10 verdict #7): when the new fingerprint's
    * file set is a strict SUPERSET of the previously served one (same
    * params, every common file byte-identical by size+mtime — the
    * append-only growth a streaming-landing corpus root produces), the
    * delta files are [[textIndexAppend]]ed into the EXISTING tree instead
    * of rebuilding from scratch; the old cache key retires. Contract: the
    * corpus frame must be a bare scan of its files (the same contract the
    * fingerprint itself assumes) — a stale handle to the pre-growth
    * corpus afterwards sees a superset index, the family's documented
    * at-least-once semantics. */
  def textIndexFor(corpus: DataFrame, corpusKey: String, textCol: String,
                   idCol: String, baseDir: String,
                   buckets: Int = 256, positions: Boolean = false): TextIndex = {
    // tx3: format tag — bumped when the tree layout changes (tx3 added the
    // doc-level _tf tier; the path derives from this key, so stale trees
    // from an older format are never re-opened as current)
    val params = s"tx3|$corpusKey|$textCol|$idCol|$buckets|$positions"
    // ONE stat pass per request: the statuses feed both the fingerprint
    // (cache key) and the lineage record — the pre-round-11 form statted
    // every file twice (three times on a miss) per served request
    val files = IndexMaint.fileStatuses(corpus)
    val key = s"tx3|$corpusKey|${Similarity.fingerprintFrom(files)}|" +
      s"$textCol|$idCol|$buckets|$positions"
    val spark = corpus.sparkSession
    val path = s"$baseDir/tx_${Similarity.keyHash(key)}"
    IndexMaint.cachedIndexFor[TextIndex](
      spark, txCache, txLineage, baseDir, params, key, files,
      path, pathOf = _.path,
      reopenAt = p => Similarity.readMeta[TextIndex](spark, p),
      build = () => {
        val idx = textIndexBuild(corpus, textCol, idCol, path, buckets,
          positions)
        textBuildCount.incrementAndGet()
        idx
      },
      append = (prevIdx, newFiles) =>
        // deterministic segment id = the grown key's hash: a replayed
        // identical delta (retry, or a second JVM sharing baseDir) is
        // recognized by the append's marker and skipped — the sidecar
        // N/avgdl cannot double-count (round-12 ADVICE)
        textIndexAppend(prevIdx, spark.read.parquet(newFiles.toSeq: _*),
          textCol, segmentId = s"delta-${Similarity.keyHash(key)}"),
      onDelta = () => textDeltaAppendCount.incrementAndGet())
  }

  /** Drop cached text indexes for `corpusKey` (on-disk trees stay). */
  def invalidateTextIndexes(corpusKey: String): Unit = {
    txCache.removeKeysIf(_.contains(s"|$corpusKey|"))
    txLineage.removeKeysIf(_.contains(s"|$corpusKey|"))
    IndexMaint.dropGrowthLocks(k =>
      k.startsWith("tx") && k.contains(s"|$corpusKey|"))
  }

  /** Clear the whole cache (restart simulation / tests). */
  def invalidateAllTextIndexes(): Unit = {
    txCache.clear(); txLineage.clear()
    IndexMaint.dropGrowthLocks(_.startsWith("tx"))
  }

  /** Sweep orphaned text-index trees under `baseDir`: every tree not
    * referenced by the live cache and older than `graceMs` is deleted
    * (retired fingerprints otherwise strand their trees forever — the
    * round-10 verdict's unbounded-disk item; LRU eviction shrinking the
    * live set is what lets a long-lived server reclaim cold trees).
    * Returns deleted paths. */
  def textIndexGc(spark: SparkSession, baseDir: String,
                  graceMs: Long = 3600000L): Seq[String] = {
    val live = txCache.values.map(_.path).toSet
    IndexMaint.gcOrphans(spark, baseDir, Seq("tx_"), live, graceMs)
  }
}
