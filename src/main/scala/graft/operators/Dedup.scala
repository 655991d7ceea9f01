package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication suite for large-scale training-data pipelines.
  *
  * Everything is pure Column expressions + relational ops — codegen'd,
  * shuffle-minimal, no UDFs:
  *
  *  - exact: hash-groupBy, one shuffle on the 64-bit text hash
  *  - n-gram Jaccard: shingle-explode + self-join on shingle + count — the
  *    exact pairwise similarity (quadratic only within shared shingles)
  *  - MinHash+LSH: k seeded permutation hashes over shingles → signatures →
  *    b bands → bucket join. Candidate generation is linear in input size;
  *    only same-bucket pairs are verified. The 100 TB path.
  *  - SimHash: 64-bit weighted-bit fingerprint; banded into 16-bit chunks
  *    for Hamming-neighbor candidate generation.
  */
object Dedup {

  /** Word tokens, lowercased. */
  def tokens(text: Column): Column = split(lower(text), "\\s+")

  /** Distinct word n-gram shingles — fused native expression
    * ([[graft.expressions.WordShingles]]), one compiled pass per doc.
    * The composable form below is the bit-parity witness; this is the
    * production entry point. */
  def shingles(spark: org.apache.spark.sql.SparkSession,
               text: Column, n: Int): Column =
    graft.expressions.TextFunctions.wordShingles(spark, text, n)

  /** Composable (pure-Column) shingles — the semantic specification for
    * [[graft.expressions.WordShingles]] and the DuckDB oracles, kept for the
    * bit-parity spec. NOT for production paths: `toks` is embedded inside
    * the transform lambda, and interpreted higher-order functions get no
    * common-subexpression reuse, so the regex split re-runs once per
    * shingle index — O(tokens²) regex work per document.
    * Guarded: sequence(1, stop) with stop < 1 would generate a *descending*
    * sequence in Spark. slice+array_join beat an element_at-based concat_ws
    * by ~1.6x in the sf0.1 bench (Column-index element_at pays per-call
    * bounds checks). */
  def shinglesComposable(text: Column, n: Int): Column = {
    val toks = tokens(text)
    when(size(toks) >= n,
      array_distinct(transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => array_join(slice(toks, i, lit(n)), " "))))
      .otherwise(array().cast("array<string>"))
  }

  /** Exact dedup: representative (min id) per identical text.
    * One shuffle on xxhash64(text); carries no text through the shuffle. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(xxhash64(col(textCol)).as("_h"), col(idCol))
      .groupBy(col("_h")).agg(min(col(idCol)).as(idCol))
      .select(idCol)

  /** Exact n-gram Jaccard pairs with similarity ≥ threshold.
    * Shingle-explode → self-join on shingle → common counts → |A∪B| via
    * per-doc sizes. Pairs restricted to id1 < id2.
    *
    * `maxDf` drops shingles occurring in more than that many documents
    * before the self-join — a shingle with document frequency F contributes
    * F² join rows, so common n-grams (stopword trigrams) make the join
    * quadratic at scale; capping df is what production near-dup pipelines
    * do. Doc sizes are computed AFTER the cap so the metric stays a true
    * Jaccard over the kept shingle sets. The hot-shingle list is tiny by
    * construction (few shingles exceed the cap) — broadcast anti-join, no
    * extra shuffle of the shingle stream.
    *
    * The cap is ON BY DEFAULT (df ≤ 1000): this operator is the exact
    * verification tier, and an uncapped call on a large corpus is the F²
    * blowup — callers who truly want the unbounded all-pairs oracle must
    * say so with `maxDf = 0`. At the default cap the worst single shingle
    * contributes 10⁶ candidate rows — bounded regardless of corpus size.
    */
  val DefaultMaxDf = 1000

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  def jaccardPairs(df: DataFrame, textCol: String, idCol: String,
                   n: Int, threshold: Double,
                   maxDf: Int = DefaultMaxDf): DataFrame = {
    val shAll = df.select(col(idCol).as("id"),
      explode(shingles(df.sparkSession, col(textCol), n)).as("sh"))
    val sh = if (maxDf > 0) {
      log.info(s"jaccardPairs: shingle document-frequency cap maxDf=$maxDf " +
        "active (pairs over shingles above the cap are not generated; " +
        "maxDf=0 restores the unbounded all-pairs oracle)")
      val hot = shAll.groupBy("sh").agg(count(lit(1)).as("_df"))
        .filter(col("_df") > maxDf).select("sh")
      shAll.join(broadcast(hot), Seq("sh"), "left_anti")
    } else shAll
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("sz"))
    val common = sh.as("a").join(sh.as("b"), col("a.sh") === col("b.sh") &&
        col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id1"), col("b.id").as("id2"))
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.withColumnsRenamed(Map("id" -> "id1", "sz" -> "sz1")), Seq("id1"))
      .join(sizes.withColumnsRenamed(Map("id" -> "id2", "sz" -> "sz2")), Seq("id2"))
      .withColumn("jaccard",
        col("common") / (col("sz1") + col("sz2") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("jaccard"))
  }

  /** MinHash signature as a single expression: k seeded hash mins over the
    * shingle set. CAUTION: only for one-off column use — inside a k-wide
    * consumer the shingle subexpression gets re-evaluated per hash (no CSE
    * across lambdas); minhashPairs uses the relational form instead. */
  def minhashSignature(text: Column, n: Int, k: Int): Column = {
    val sh = shinglesComposable(text, n)
    transform(sequence(lit(0), lit(k - 1)), i =>
      array_min(transform(sh, s => xxhash64(s, i))))
  }

  /** MinHash signatures via the fused native expression
    * ([[graft.expressions.MinHashSignature]]): one compiled pass per doc —
    * no shingle explode, no shuffle, no wide min-aggregate. The earlier
    * relational form (explode → k seeded hashes → 64 min accumulators) was
    * correct but spent its time in interpreted higher-order lambdas and a
    * 64-wide hash aggregate (~7 s of the 8.6 s sf0.1 bench); the fused
    * sketch is a plain map stage — the shape a 1000-executor scan wants. */
  private def minhashSignatures(df: DataFrame, textCol: String, idCol: String,
                                n: Int, k: Int): DataFrame =
    df.select(col(idCol).as("id"),
        graft.expressions.MinHashFunctions
          .signature(df.sparkSession, col(textCol), n, k).as("sig"))
      .filter(col("sig").isNotNull)

  /** Per-(band, bucket) occupancy cap for the banded candidate joins.
    *
    * A bucket holding m documents contributes m(m-1)/2 candidate rows in
    * EVERY band it appears in — the same F² blowup [[DefaultMaxDf]] closes
    * for the Jaccard tier. Boilerplate-heavy web corpora (cookie banners,
    * licence stubs, templated pages) put thousands-to-millions of
    * near-identical docs in the SAME bucket, turning the linear banded join
    * quadratic. Buckets above the cap are dropped before the self-join: at
    * the default the worst bucket contributes ≤ 10⁶/2 candidate rows,
    * bounded regardless of corpus size.
    *
    * Contract: run [[exact]]/[[exactNormalized]] dedup FIRST. After exact
    * dedup an over-full bucket can only be mass near-duplicated boilerplate;
    * dropping it trades recall on that degenerate mass for a hard quadratic
    * bound (production near-dup pipelines make the same trade). `maxBucket =
    * 0` disables the cap for oracle/verification runs. */
  val DefaultMaxBucket = 1000

  /** One cap activation: `buckets` over-full bucket-key groups dropped,
    * covering `rows` banded rows, as counted by the action that ran the
    * capped plan. Silent recall loss is the cap's failure mode (the ×1200
    * skew soak returned 0 pairs with every bucket hot) — these counts
    * make it OBSERVABLE: queryable per-op via [[lastCapDrops]] (ops
    * probes, SoakProbe) and per-request via [[collectCapDrops]] (GraphQL
    * response `extensions.cap_drops`). */
  final case class CapDrop(op: String, buckets: Long, rows: Long)

  private val lastDropsMap =
    new scala.collection.concurrent.TrieMap[String, () => CapDrop]
  /** Most recent cap activation per operator (empty counts = cap ran and
    * dropped nothing). Counts registered by the in-plan metered caps
    * ([[capBucketsBy]]) read LIVE accumulator values — final once
    * the consumer's action completes (call after the action, exactly like
    * the tests and the GraphQL executor's eager resolution do). */
  def lastCapDrops: Map[String, CapDrop] =
    lastDropsMap.map { case (k, f) => (k, f()) }.toMap

  private val capListener =
    new ThreadLocal[scala.collection.mutable.Buffer[() => CapDrop]]

  /** Capture every cap activation that happens (on this thread — operator
    * calls are driver-side and synchronous) while `f` runs: the GraphQL
    * executor wraps request resolution with this and serves the drops in
    * the response extensions. Drop counts materialize when `f` RETURNS,
    * so accumulator-metered caps report what the actions inside `f` saw
    * (the executor runs all Spark actions eagerly inside the block). */
  private[graft] def collectCapDrops[A](f: => A): (A, Seq[CapDrop]) = {
    val buf = scala.collection.mutable.Buffer[() => CapDrop]()
    capListener.set(buf)
    try { val r = f; (r, buf.toSeq.map(_.apply())) } finally capListener.remove()
  }

  private[operators] def recordDrop(d: CapDrop): Unit = recordDropLazy(d.op, () => d)

  private[operators] def recordDropLazy(op: String, f: () => CapDrop): Unit = {
    lastDropsMap(op) = f
    Option(capListener.get).foreach(_ += f)
  }

  /** Occupancy cap for every banded self-join: keeps the rows of
    * bucket-key groups holding ≤ `maxBucket` rows. The occupancy rides a
    * count window over the bucket keys, and the window's hash exchange on
    * those keys is the SAME exchange a shuffled self-join needs, so the
    * cap adds no action and, at scale, no shuffle (when AQE broadcasts a
    * small join side instead, that shuffle is the cap's cost). Drops are
    * metered in-plan ([[graft.expressions.CapMeter]] accumulators,
    * registered lazily so [[lastCapDrops]] reads final values after the
    * consumer's action).
    *
    * Returns TWO copies for the self-join, each metered with its OWN
    * accumulator pair; the recorded CapDrop is the per-side MAX. Max, not
    * sum: both sides witness the identical capped stream, so when both
    * execute the counts agree (no double-count), and when AQE's
    * empty-relation propagation skips the probe side after an empty
    * build (the build side ALWAYS materializes first), the executed
    * side's count survives — metering one side only provably loses the
    * all-dropped case, the exact silent-recall-loss shape the meter
    * exists for. Single-consumer callers use only `_1`.
    *
    * A null key forms one group like any other and is capped with it; an
    * equi-join never matches a null key, so no join result changes. */
  private[operators] def capBucketsBy(
      banded: DataFrame, keys: Seq[String], maxBucket: Int,
      op: String): (DataFrame, DataFrame) =
    if (maxBucket <= 0) (banded, banded)
    else {
      import org.apache.spark.sql.expressions.Window
      val sc = banded.sparkSession.sparkContext
      def side(tag: String) = {
        val rowAcc = sc.longAccumulator(s"graft.capDrop.$op.rows.$tag")
        val bucketAcc = sc.longAccumulator(s"graft.capDrop.$op.buckets.$tag")
        val w = Window.partitionBy(keys.map(col): _*).orderBy(lit(1))
        val df = banded
          .withColumn("_gq_occ", count(lit(1)).over(
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
          .withColumn("_gq_rep", row_number().over(w) === 1)
          .filter(graft.expressions.MeterFunctions.capMeter(
            col("_gq_occ") <= maxBucket, col("_gq_rep"), rowAcc, bucketAcc))
          .drop("_gq_occ", "_gq_rep")
        (df, rowAcc, bucketAcc)
      }
      val (a, rA, bA) = side("a")
      val (b, rB, bB) = side("b")
      recordDropLazy(op, () => CapDrop(op,
        math.max(bA.value, bB.value), math.max(rA.value, rB.value)))
      (a, b)
    }

  private val BandKeys = Seq("band", "bucket")

  /** Diagnostic: the per-(band, bucket) occupancy histogram of the MinHash
    * banding [[minhashPairs]] self-joins on — the distribution `maxBucket`
    * acts on. One row per non-empty bucket with its `count`; same fused
    * signature pass + banding as the production path, so a soak/ops probe
    * (graft.tools.SoakProbe) measures exactly what the cap would see. */
  def minhashBandOccupancy(df: DataFrame, textCol: String, idCol: String,
                           n: Int = 3, k: Int = 64,
                           bands: Int = 16): DataFrame = {
    require(bands > 0 && k % bands == 0, s"k ($k) must be a multiple of bands ($bands)")
    val r = k / bands
    minhashSignatures(df, textCol, idCol, n, k)
      .select(posexplode(transform(sequence(lit(0), lit(bands - 1)), b =>
        xxhash64(array_join(slice(col("sig"), b * lit(r) + 1, lit(r)), ",")))))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bucket"))
      .groupBy("band", "bucket").count()
  }

  /** LSH candidate pairs from MinHash signatures: `bands` bands of
    * `k/bands` rows each; docs sharing any band bucket are candidates;
    * candidates are then verified with the exact signature similarity
    * (fraction of equal signature components ≥ threshold).
    *
    * Scale shape: explode to (band, bucketHash) — b rows per doc — then a
    * shuffle on the bucket key. No quadratic stage outside buckets, and
    * bucket occupancy itself is bounded by `maxBucket` (see
    * [[DefaultMaxBucket]] for the boilerplate-skew rationale).
    *
    * The result is materialized eagerly (narrow (id1, id2, est_jaccard)
    * rows, volume bounded by the banded candidate count) so the signature
    * cache is scoped to this call — a long-lived serving process must not
    * accumulate pinned frames across requests. */
  def minhashPairs(df: DataFrame, textCol: String, idCol: String,
                   n: Int = 3, k: Int = 64, bands: Int = 16,
                   threshold: Double = 0.7,
                   maxBucket: Int = DefaultMaxBucket): DataFrame = {
    require(bands > 0 && k % bands == 0,
      s"k ($k) must be a positive multiple of bands ($bands): a remainder " +
        "would silently exclude trailing signature components from banding")
    val r = k / bands
    // consumed 3x (banding + two verification joins): persist the narrow
    // signature frame — the local analog of materializing a signature table,
    // which is how a 100 TB pipeline would amortize it across runs
    val sig = minhashSignatures(df, textCol, idCol, n, k).persist()
    try {
      // band join and dedup on bare (band, bucket, id) rows — signatures
      // (64 longs each) are re-joined only for the surviving candidates, so
      // the wide payload never rides the candidate-generation shuffle
      val (cappedA, cappedB) = capBucketsBy(sig.select(col("id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)), b =>
          xxhash64(array_join(slice(col("sig"), b * lit(r) + 1, lit(r)), ",")))))
        .withColumnsRenamed(Map("pos" -> "band", "col" -> "bucket")),
        BandKeys, maxBucket, "minhashPairs")
      val cand = cappedA.as("a").join(cappedB.as("b"),
          col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
        .select(col("a.id").as("id1"), col("b.id").as("id2"))
        .dropDuplicates("id1", "id2")
      val withSigs = cand
        .join(sig.select(col("id").as("id1"), col("sig").as("sig1")), Seq("id1"))
        .join(sig.select(col("id").as("id2"), col("sig").as("sig2")), Seq("id2"))
      withSigs.withColumn("est_jaccard",
          size(filter(zip_with(col("sig1"), col("sig2"), (x, y) => x === y),
            b => b)) / lit(k.toDouble))
        .filter(col("est_jaccard") >= threshold)
        .select("id1", "id2", "est_jaccard")
        .localCheckpoint(eager = true)
    } finally sig.unpersist(blocking = false)
  }

  /** md5-derived 60-bit hash of a seeded string — reproducible in ANY
    * engine with md5, unlike the xxhash64 family, so correctness oracles
    * can recompute it relationally. The xxhash64 variants stay the
    * throughput path. */
  def md5Hash60(c: Column, seed: Column): Column =
    Hashing.md5Long(concat(seed.cast("string"), lit(":"), c))

  /** md5-permutation MinHash signatures (id, sig): the oracle-reproducible
    * twin of [[minhashSignatures]] — k seeded md5 mins over the shingle
    * set, sorted by seed. Shared by [[minhashPairsMd5]] and the md5 mode
    * of [[minhashIndexBuild]]. */
  private def md5Signatures(df: DataFrame, textCol: String, idCol: String,
                            n: Int, k: Int): DataFrame = {
    val sh = df.select(col(idCol).as("id"),
      explode(shingles(df.sparkSession, col(textCol), n)).as("sh"))
    sh.select(col("id"),
        explode(sequence(lit(0), lit(k - 1))).as("seed"), col("sh"))
      .select(col("id"), col("seed"), md5Hash60(col("sh"), col("seed")).as("h"))
      .groupBy("id", "seed").agg(min(col("h")).as("m"))
      .groupBy("id")
      .agg(transform(array_sort(collect_list(struct(col("seed"), col("m")))),
        x => x.getField("m")).as("sig"))
  }

  /** MinHash+LSH pairs with md5-derived permutation hashes: identical
    * algorithm to [[minhashPairs]] (k per-shingle hash mins → signature →
    * b bands → bucket join → equal-component verification), but every value
    * is cross-engine reproducible, so the full pipeline is adjudicated by
    * the DuckDB oracle rather than rows-only. Band buckets join on the
    * slice's joined string (no second-level hash) for the same reason.
    * Slower than the fused sketch (k md5 calls per shingle) — verification
    * tier, not the 100 TB path; the relational shape (narrow shuffles,
    * banded candidates, no all-pairs stage) is the same. */
  def minhashPairsMd5(df: DataFrame, textCol: String, idCol: String,
                      n: Int = 3, k: Int = 32, bands: Int = 8,
                      threshold: Double = 0.5,
                      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    require(bands > 0 && k % bands == 0,
      s"k ($k) must be a positive multiple of bands ($bands): a remainder " +
        "would silently exclude trailing signature components from banding")
    val r = k / bands
    // consumed 3x (banding + two verification joins): persist, as
    // minhashPairs does — the k-seeded md5 aggregation is the dominant cost
    // and must not run three times
    val sig = md5Signatures(df, textCol, idCol, n, k).persist()
    try {
      val (cappedA, cappedB) = capBucketsBy(sig.select(col("id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)), b =>
          array_join(slice(col("sig"), b * lit(r) + 1, lit(r)), ","))))
        .withColumnsRenamed(Map("pos" -> "band", "col" -> "bucket")),
        BandKeys, maxBucket, "minhashPairsMd5")
      val cand = cappedA.as("a").join(cappedB.as("b"),
          col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
        .select(col("a.id").as("id1"), col("b.id").as("id2"))
        .dropDuplicates("id1", "id2")
      cand
        .join(sig.select(col("id").as("id1"), col("sig").as("sig1")), Seq("id1"))
        .join(sig.select(col("id").as("id2"), col("sig").as("sig2")), Seq("id2"))
        .withColumn("est_jaccard",
          size(filter(zip_with(col("sig1"), col("sig2"), (x, y) => x === y),
            b => b)) / lit(k.toDouble))
        .filter(col("est_jaccard") >= threshold)
        .select("id1", "id2", "est_jaccard")
        .localCheckpoint(eager = true)
    } finally sig.unpersist(blocking = false)
  }

  /** SimHash pairs with md5-derived per-token bits: token bit b comes from
    * two 60-bit md5 folds (bits 0-59 from hex digits 1-15, 60-63 from
    * digits 16-30), bit-counters aggregate map-side (64 sums), and the
    * banding/Hamming stage matches [[simhashPairs]]. Cross-engine
    * reproducible end to end — the oracle keeps the bits as a list and
    * compares slices, which is equality-equivalent to the packed-long
    * banding here. */
  def simhashPairsMd5(df: DataFrame, textCol: String, idCol: String,
                      maxHamming: Int = 3,
                      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val tok = df.select(col(idCol).as("id"), explode(tokens(col(textCol))).as("t"))
    val hv = tok.select(col("id"),
      conv(substring(md5(col("t")), 1, 15), 16, 10).cast("long").as("v1"),
      conv(substring(md5(col("t")), 16, 15), 16, 10).cast("long").as("v2"))
    val sums = (0 until 64).map { b =>
      val (src, sh) = if (b < 60) (col("v1"), b) else (col("v2"), b - 60)
      val bit = shiftrightunsigned(src, sh).bitwiseAND(lit(1L))
      sum(when(bit === 1, 1).otherwise(-1)).as(s"_c$b")
    }
    val packed = (0 until 64).foldLeft(lit(0L))((acc, b) =>
      shiftleft(acc, 1).bitwiseOR(
        when(col(s"_c$b") >= 0, lit(1L)).otherwise(lit(0L))))
    // the fingerprint frame feeds both sides of the self-join — persist so
    // the md5-fold + 64-counter aggregation runs once
    val fp = hv.groupBy("id").agg(sums.head, sums.tail: _*)
      .select(col("id"), packed.as("sh"))
      .persist()
    try {
      val (cappedA, cappedB) = capBucketsBy(fp.select(col("id"), col("sh"),
        posexplode(array((0 until 4).map(b =>
          shiftrightunsigned(col("sh"), b * 16).bitwiseAND(lit(0xFFFFL))): _*)))
        .withColumnsRenamed(Map("pos" -> "band", "col" -> "bucket")),
        BandKeys, maxBucket, "simhashPairsMd5")
      val cand = cappedA.as("a").join(cappedB.as("b"),
          col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
        .select(col("a.id").as("id1"), col("b.id").as("id2"),
          col("a.sh").as("sh1"), col("b.sh").as("sh2"))
        .dropDuplicates("id1", "id2")
      cand.withColumn("hamming", bit_count(col("sh1").bitwiseXOR(col("sh2"))))
        .filter(col("hamming") <= maxHamming)
        .select("id1", "id2", "hamming")
        .localCheckpoint(eager = true)
    } finally fp.unpersist(blocking = false)
  }

  /** 64-bit SimHash over tokens: bit b is set iff the sum over tokens of
    * ±1 (sign of the independent hash xxhash64(token, b)) is ≥ 0. Packed
    * with shift/or (bit ops — no ANSI arithmetic overflow on the top bit).
    * Composable reference form; [[simhash]] is the fused compiled
    * expression with bit-identical results (spec-asserted). */
  def simhashComposable(text: Column): Column = {
    val toks = tokens(text)
    val counters = aggregate(
      toks,
      transform(sequence(lit(0), lit(63)), _ => lit(0)),
      (acc, t) => zip_with(acc,
        transform(sequence(lit(0), lit(63)), b =>
          when(xxhash64(t, b) >= 0, 1).otherwise(-1)),
        (a, c) => a + c))
    val bits = transform(counters, c => when(c >= 0, lit(1L)).otherwise(lit(0L)))
    aggregate(bits, lit(0L), (acc, b) => shiftleft(acc, 1).bitwiseOR(b))
  }

  /** Fused SimHash (one compiled pass per doc — the 64-wide per-token
    * zip_with lambdas of the composable form are interpreted). */
  def simhash(text: Column): Column =
    graft.expressions.TextFunctions.simhash(
      org.apache.spark.sql.SparkSession.active, text)

  /** SimHash near-dup candidates: 4 bands of 16 bits; same-band collision →
    * candidate; verified by Hamming distance ≤ maxHamming. Bucket occupancy
    * bounded by `maxBucket` ([[DefaultMaxBucket]] — 16-bit SimHash bands are
    * especially collision-prone on boilerplate corpora). The fingerprint
    * frame is a single fused-expression scan (cheap to recompute), so no
    * persist is needed here. */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
                   maxHamming: Int = 3,
                   maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val sig = df.select(col(idCol).as("id"), simhash(col(textCol)).as("sh"))
    val (cappedA, cappedB) = capBucketsBy(sig.select(col("id"), col("sh"),
      posexplode(array((0 until 4).map(b =>
        shiftrightunsigned(col("sh"), b * 16).bitwiseAND(lit(0xFFFFL))): _*)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bucket")),
      BandKeys, maxBucket, "simhashPairs")
    val cand = cappedA.as("a").join(cappedB.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        col("a.sh").as("sh1"), col("b.sh").as("sh2"))
      .dropDuplicates("id1", "id2")
    cand.withColumn("hamming", bit_count(col("sh1").bitwiseXOR(col("sh2"))))
      .filter(col("hamming") <= maxHamming)
      .select("id1", "id2", "hamming")
  }

  /** Duplicate clusters from near-dup pair edges: connected components,
    * label(id) = smallest id reachable. Output: (id, cluster) for every id
    * appearing in a pair.
    *
    * Shape: iterative hash-min label propagation with a pointer-jumping
    * shortcut (label := label(label)) each round — O(log diameter) rounds
    * instead of O(diameter), each round two equi-join shuffles over narrow
    * (id, label) rows. This is the alternating-star family of MapReduce CC
    * algorithms: no driver-side graph, no vertex ever holds more than its
    * label. Near-dup clusters are tiny-diameter in practice (similarity is
    * near-transitive), so real corpora converge in 2-3 rounds. Each round is
    * `localCheckpoint`ed: label frames are narrow, and truncating lineage
    * keeps round N's plan from nesting all N-1 predecessors. Convergence is
    * detected by the label sum (labels are monotone non-increasing, so an
    * unchanged sum ⇔ a fixed point) — one tiny agg action per round, no
    * change-count join. */
  def clusters(pairs: DataFrame, id1Col: String = "id1",
               id2Col: String = "id2", maxIter: Int = 25): DataFrame = {
    // materialize the (possibly expensive) pair lineage ONCE — the
    // bidirectional union below references it twice, and without the
    // checkpoint both branches recompute the upstream (e.g. a shingle
    // self-join) inside the first action
    val p = pairs.select(col(id1Col).as("a"), col(id2Col).as("b"))
      .localCheckpoint()
    val edges = p
      .union(p.select(col("b").as("a"), col("a").as("b")))
      .distinct()
      .persist()
    var labels = edges.select(col("a").as("id")).distinct()
      .withColumn("cl", col("id"))
      .localCheckpoint()
    // decimal(38,0): a long sum of 64-bit ids overflows at corpus scale
    def labelSum(df: DataFrame): Any =
      df.agg(sum(col("cl").cast("decimal(38,0)"))).head().get(0)
    var prevSum = labelSum(labels)
    var it = 0
    var converged = false
    while (!converged && it < maxIter) {
      val nmin = edges
        .join(labels.select(col("id").as("b"), col("cl").as("ncl")), Seq("b"))
        .groupBy(col("a").as("id")).agg(min(col("ncl")).as("nmin"))
      // checkpoint before the self-join: both sides of the jump reference
      // prop, and at graph scale (labels = one row per node) recomputing
      // the propagation join twice per round costs more than one
      // materialization of the narrow (id, label) frame
      val prop = labels.join(nmin, Seq("id"), "left")
        .select(col("id"),
          least(col("cl"), coalesce(col("nmin"), col("cl"))).as("cl"))
        .localCheckpoint()
      // pointer jump: labels are always node ids, so label(label) exists;
      // left join only guards the transient frame mid-round
      val jumped = prop.as("x")
        .join(prop.select(col("id").as("_jid"), col("cl").as("_jcl")),
          col("x.cl") === col("_jid"), "left")
        .select(col("x.id").as("id"),
          coalesce(col("_jcl"), col("x.cl")).as("cl"))
        .localCheckpoint()
      val s = labelSum(jumped)
      converged = s == prevSum
      prevSum = s
      labels = jumped
      it += 1
    }
    edges.unpersist()
    labels.select(col("id"), col("cl").as("cluster"))
  }

  /** Punctuation/case/whitespace normalization for near-exact dedup: web
    * corpora carry trivially-decorated duplicates (trailing punctuation,
    * case drift, doubled spaces) that byte-exact dedup misses. Lowercase,
    * collapse every non-letter/digit run to one space, trim. Unicode
    * classes, not [a-z0-9] — an ASCII-only class would map every CJK or
    * Cyrillic document to the empty string and silently merge a whole
    * non-Latin sub-corpus into one dedup class. Pure codegen'd expression —
    * normalization happens in the scan stage, before the dedup shuffle. */
  def normalize(text: Column): Column =
    trim(regexp_replace(lower(text), "[^\\p{L}\\p{N}]+", " "))

  /** Exact dedup over normalized text: representative (min id) per
    * normalization class. Same one-narrow-shuffle shape as [[exact]]
    * (64-bit hash + id only ride the shuffle). */
  def exactNormalized(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(xxhash64(normalize(col(textCol))).as("_h"), col(idCol))
      .groupBy(col("_h")).agg(min(col(idCol)).as(idCol))
      .select(idCol)

  /** Text-class key used by [[exact]]/[[exactNormalized]], exposed so
    * callers can join representatives back on (key, id) rather than id
    * alone. */
  def classKey(text: Column, normalized: Boolean): Column =
    xxhash64(if (normalized) normalize(text) else text)

  /** Representative (_h, id) frame — the (text-class hash, min id) pair per
    * class. Unlike [[exact]] this keeps the hash, so a caller whose id
    * column may NOT be unique can semi-join on BOTH columns: with duplicate
    * ids, a row survives only if it is the representative of its OWN text
    * class, not merely shares an id with some class's representative.
    * (Byte-identical duplicate rows — same id AND same text — still all
    * survive; only a full row-level distinct could collapse those.) */
  def exactReps(df: DataFrame, textCol: String, idCol: String,
                normalized: Boolean = false): DataFrame =
    df.select(classKey(col(textCol), normalized).as("_h"), col(idCol))
      .groupBy(col("_h")).agg(min(col(idCol)).as(idCol))

  /** Exact dedup keeping the BEST row per text class instead of the
    * smallest id: production pipelines usually keep the highest-quality
    * duplicate (longest, best language score), not the first-crawled one.
    * Representative = max `scoreCol`, ties to the smallest id
    * (deterministic); returns the surviving rows WITH their columns.
    * The rank <= 1 filter is the WindowGroupLimit shape — each task
    * truncates to one row per class before the exchange, so a
    * mass-duplicated class never concentrates its full row set on one
    * reducer. */
  def exactBest(df: DataFrame, textCol: String, idCol: String,
                scoreCol: String, normalized: Boolean = false): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_gq_h"))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    df.withColumn("_gq_h", classKey(col(textCol), normalized))
      .withColumn("_gq_rn", row_number().over(w))
      .filter(col("_gq_rn") === 1)
      .drop("_gq_h", "_gq_rn")
  }

  /** Incremental exact dedup — the production ingestion pattern: keep the
    * rows of a NEW batch whose text is unseen in the existing corpus, and
    * deduplicate within the batch itself (min id per class). Runs without
    * touching corpus text twice: both sides reduce to 64-bit hash frames,
    * the batch side anti-joins the corpus hash set, then dedups batch-
    * internally. With `normalized`, both sides compare by normalization
    * class. At 100 TB the corpus hash frame is the thing a pipeline
    * materializes once (or replaces with a Bloom filter for an approximate
    * first pass); this exact form is one narrow anti-join shuffle. */
  def exactIncremental(batch: DataFrame, corpus: DataFrame,
                       textCol: String, idCol: String,
                       normalized: Boolean = false): DataFrame = {
    def key(c: Column): Column =
      xxhash64(if (normalized) normalize(c) else c)
    val seen = corpus.select(key(col(textCol)).as("_h")).distinct()
    batch.select(key(col(textCol)).as("_h"), col(idCol))
      .join(seen, Seq("_h"), "left_anti")
      .groupBy(col("_h")).agg(min(col(idCol)).as(idCol))
      .select(idCol)
  }

  /** Approximate first-pass incremental dedup: the corpus text-hash set is
    * folded into a BLOOM FILTER and broadcast, so screening a new batch
    * against a huge corpus needs no join at all — one broadcast of
    * `-n·ln(fpp)/ln(2)²` bits (≈1.2 GB for 10⁹ docs at 1% fpp) and a
    * linear map stage over the batch. This is the approximate pre-pass the
    * exact [[exactIncremental]] scaladoc describes: run it first, then
    * (optionally) the exact anti-join on the small survivor set.
    *
    * Guarantees: NO false negatives — a batch row whose text is in the
    * corpus is always dropped; a ≤fpp fraction of genuinely-new rows is
    * falsely dropped (the usual trade: losing 1% of new docs is cheap,
    * letting known duplicates through is not). Spark's BloomFilter hashing
    * is deterministic, so results are stable across retries/partitionings.
    * Batch-internal dedup (min id per class) matches exactIncremental. */
  def incrementalBloom(batch: DataFrame, corpus: DataFrame,
                       textCol: String, idCol: String,
                       expectedItems: Long, fpp: Double = 0.01,
                       normalized: Boolean = false): DataFrame = {
    val spark = batch.sparkSession
    val hashes = corpus.select(classKey(col(textCol), normalized).as("_h"))
    val keyed = batch.select(classKey(col(textCol), normalized).as("_h"), col(idCol))
    // Spark's stat.bloomFilter NPEs on an empty frame (null agg buffer);
    // an empty corpus rejects nothing — batch-internal dedup only
    val screened =
      if (hashes.isEmpty) keyed
      else {
        val bf = hashes.stat.bloomFilter("_h", expectedItems, fpp)
        // native codegen'd membership expression (the one Spark's runtime
        // row-filter injection uses) — not a Scala UDF: stays visible to
        // Catalyst and inside whole-stage codegen on the screening hot path
        keyed.filter(!graft.expressions.BloomFunctions
          .mightContainLong(spark, bf, col("_h")))
      }
    screened
      .groupBy(col("_h")).agg(min(col(idCol)).as(idCol))
      .select(idCol)
  }

  /** Default directory-slot count per partition family in the MinHash
    * index layout ([[minhashIndexBuild]]): banded rows land in
    * `_bb = band · slots + pmod(hash(bucket), slots)` partitions and
    * signatures in `_sp = pmod(hash(id), slots)` — coarse enough to keep
    * file counts sane at corpus scale, fine enough that a small batch's
    * key list prunes most of the read statically. Tune with corpus size:
    * small fixtures want few slots (dir-creation overhead dominates),
    * petabyte corpora want more (files per dir). */
  val IndexSlots = 64

  /** Handle to a prebuilt MinHash band index (see [[minhashIndexBuild]]).
    * `md5` selects the oracle-reproducible hash family; schemas are
    * carried so probes re-open the parquet without inference. */
  final case class MinHashIndex(
      path: String, textCol: String, idCol: String,
      n: Int, k: Int, bands: Int, md5: Boolean, slots: Int,
      bandedSchema: org.apache.spark.sql.types.StructType,
      sigSchema: org.apache.spark.sql.types.StructType,
      occSchema: org.apache.spark.sql.types.StructType)

  /** Occupancy-sidecar segment markers: `_seg` tags each delta with the
    * segment that produced it (`__base__` for the build, the caller's
    * deterministic id for streaming appends, a fresh UUID for ad-hoc ones);
    * compaction folds live rows into one `__agg__` row per bucket and keeps
    * consumed segment ids as zero-count `band = -1` marker rows so replayed
    * appends stay skippable even after their deltas were merged away. */
  private val BaseSeg = "__base__"
  private val AggSeg = "__agg__"

  /** Canonical occupancy schema: pre-round-8 sidecars lack `_seg`; reading
    * old files under the extended schema yields null `_seg`. Null-seg rows
    * never match a replay check, and [[occTotals]] treats each as an
    * independent delta (summed, never collapsed into one null-keyed
    * group) so legacy build+append histories keep their true counts. */
  private def occSchemaOf(index: MinHashIndex): org.apache.spark.sql.types.StructType =
    if (index.occSchema.fieldNames.contains("_seg")) index.occSchema
    else index.occSchema.add("_seg", org.apache.spark.sql.types.StringType)

  /** Typed empty-bucket literal for marker rows (bucket is a string for the
    * md5 family, an xxhash64 long otherwise). */
  private def markerBucket(index: MinHashIndex): Column =
    index.occSchema("bucket").dataType match {
      case org.apache.spark.sql.types.StringType => lit("")
      case _ => lit(0L)
    }

  /** Live occupancy rows of an index (markers excluded), swap-recovered. */
  private def occLive(spark: org.apache.spark.sql.SparkSession,
                      index: MinHashIndex): DataFrame = {
    IndexMaint.recoverSwap(spark, s"${index.path}/occ")
    spark.read.schema(occSchemaOf(index)).parquet(s"${index.path}/occ")
      .filter(col("band") >= 0)
  }

  /** True per-(band, bucket) occupancy totals over live occ rows. Rows
    * carrying a segment id are deduped per (band, bucket, _seg) first —
    * a crash-replay window can land a segment's delta twice, and max (not
    * sum) of the duplicates keeps the replay idempotent. Legacy pre-_seg
    * rows surface as null `_seg` under the extended schema; each is a
    * GENUINE independent delta from a distinct pre-upgrade build/append
    * job, so they are summed as-is — folding them into the seg groupBy
    * would collapse a bucket's whole legacy history into one null-keyed
    * group and take max instead of sum, undercounting occupancy and
    * silently disabling the hot-bucket cap on pre-upgrade indexes. */
  private def occTotals(live: DataFrame): DataFrame = {
    val seg = live.filter(col("_seg").isNotNull)
      .groupBy(col("band"), col("bucket"), col("_seg"))
      .agg(max("count").as("count"))
      .select("band", "bucket", "count")
    val legacy = live.filter(col("_seg").isNull)
      .select("band", "bucket", "count")
    seg.unionByName(legacy)
      .groupBy("band", "bucket").agg(sum("count").cast("long").as("count"))
  }

  private def signaturesFor(df: DataFrame, textCol: String, idCol: String,
                            n: Int, k: Int, md5: Boolean): DataFrame =
    if (md5) md5Signatures(df, textCol, idCol, n, k)
    else minhashSignatures(df, textCol, idCol, n, k)

  /** Banded (band, bucket, id) rows of a signature frame. Bucket is the
    * band slice's join key in its natural form: the joined string for the
    * md5 family (oracle-recomputable), its xxhash64 for the fused family
    * (narrower shuffle key, matches [[minhashPairs]]). */
  private def bandedFor(sig: DataFrame, bands: Int, r: Int,
                        md5: Boolean): DataFrame = {
    val slices = transform(sequence(lit(0), lit(bands - 1)), b =>
      array_join(slice(col("sig"), b * lit(r) + 1, lit(r)), ","))
    val exploded = sig.select(col("id"), posexplode(slices))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bucket"))
    if (md5) exploded
    else exploded.withColumn("bucket", xxhash64(col("bucket")))
  }

  /** Build-once/probe-many near-dup index: the corpus's MinHash
    * signatures and banded rows written ONCE, so incremental ingestion
    * never re-reads corpus text or re-runs its signature pass (the
    * dominant near-dup cost — the round-7 soak measured ~27 s per 60k
    * docs). Same rationale as the prebuilt ANN indexes
    * ([[graft.operators.Similarity.lshBuild]]): the index changes WHERE
    * the work happens, never the answer.
    *
    * Layout: `path/banded` (band, bucket, id) partitioned by `_bb`
    * (band-salted bucket hash, [[IndexSlots]] slots per band) — a batch
    * probe's distinct `_bb` keys prune the read statically; `path/sigs`
    * (id, sig) partitioned by `_sp` (id-hash slot) — candidate corpus ids
    * prune the verification read the same way. At 100 TB both trees are
    * also the natural unit of incremental APPEND (a new corpus segment
    * writes its own banded/sig files under the same slots). */
  def minhashIndexBuild(corpus: DataFrame, textCol: String, idCol: String,
                        path: String, n: Int = 3, k: Int = 64,
                        bands: Int = 16, md5: Boolean = false,
                        slots: Int = IndexSlots): MinHashIndex = {
    require(bands > 0 && k % bands == 0,
      s"k ($k) must be a positive multiple of bands ($bands)")
    require(slots > 0, s"slots must be positive (got $slots)")
    val r = k / bands
    val sig = signaturesFor(corpus, textCol, idCol, n, k, md5).persist()
    try {
      val banded = bandedFor(sig, bands, r, md5)
        .withColumn("_bb", col("band") * lit(slots) +
          pmod(xxhash64(col("bucket").cast("string")), lit(slots)))
        .persist()
      try {
        // clustered write: one file per _bb slot dir (see Similarity
        // .lshBuild — an unclustered partitionBy write costs tasks × dirs
        // files); banded stays persisted for the occ pass below
        banded.repartition(col("_bb")).write.mode("overwrite")
          .partitionBy("_bb").parquet(s"$path/banded")
        // bucket-occupancy histogram as a build-time sidecar: the cap's
        // hot-bucket list is a property of the INDEX, so the per-probe
        // groupBy over the banded stream (the dominant probe cost measured
        // in the round-7 soak) moves here and runs once. Rows are keyed by
        // the SEGMENT that produced them (`_seg`) so a replayed streaming
        // append is detectable and idempotent — see [[minhashIndexAppend]].
        val occ = banded.groupBy("band", "bucket").count()
          .withColumn("_seg", lit(BaseSeg))
        occ.write.mode("overwrite").parquet(s"$path/occ")
        val sigs = sig.withColumn("_sp",
          pmod(xxhash64(col("id").cast("string")), lit(slots)))
        sigs.repartition(col("_sp"))
          .write.mode("overwrite").partitionBy("_sp").parquet(s"$path/sigs")
        MinHashIndex(path, textCol, idCol, n, k, bands, md5, slots,
          banded.schema, sigs.schema, occ.schema)
      } finally banded.unpersist(blocking = false)
    } finally sig.unpersist(blocking = false)
  }

  /** Near-dup hits of a new batch against a prebuilt corpus index:
    * (batch_id, corpus_id, est_jaccard) pairs at `threshold`. Only the
    * BATCH's signatures are computed; the corpus side is a pruned read of
    * the stored banding (batch is small by contract — an ingestion tick,
    * not a second corpus; above `maxPruneKeys` distinct band-buckets the
    * probe degrades to a full banded scan, still signature-pass-free).
    * The occupancy cap applies to the CORPUS buckets exactly as in
    * [[minhashPairs]] — boilerplate mass in the corpus must not make an
    * ingestion tick quadratic. */
  def minhashDedupAgainst(index: MinHashIndex, batch: DataFrame,
                          threshold: Double = 0.7,
                          maxBucket: Int = DefaultMaxBucket,
                          maxPruneKeys: Int = 2048): DataFrame =
    dedupAgainstFrame(index, batch, threshold, maxBucket, maxPruneKeys,
      materialize = true)

  /** Lazy twin of [[minhashDedupAgainst]] for plan audits/specs: no
    * persist scoping, no checkpoint — the returned frame still carries the
    * pruned file-scan operators introspection needs. */
  private[graft] def minhashDedupAgainstLazy(
      index: MinHashIndex, batch: DataFrame, threshold: Double = 0.7,
      maxBucket: Int = DefaultMaxBucket, maxPruneKeys: Int = 2048): DataFrame =
    dedupAgainstFrame(index, batch, threshold, maxBucket, maxPruneKeys,
      materialize = false)

  private def dedupAgainstFrame(index: MinHashIndex, batch: DataFrame,
                                threshold: Double, maxBucket: Int,
                                maxPruneKeys: Int,
                                materialize: Boolean): DataFrame = {
    val spark = batch.sparkSession
    val r = index.k / index.bands
    val bs0 = signaturesFor(batch, index.textCol, index.idCol,
      index.n, index.k, index.md5)
    val bs = if (materialize) bs0.persist() else bs0
    try {
      val bb = bandedFor(bs, index.bands, r, index.md5)
        .withColumn("_bb", col("band") * lit(index.slots) +
          pmod(xxhash64(col("bucket").cast("string")), lit(index.slots)))
      val keys = bb.select("_bb").distinct()
        .limit(maxPruneKeys + 1).collect().map(_.getLong(0))
      IndexMaint.recoverSwap(spark, s"${index.path}/banded")
      def emptyOf(schema: org.apache.spark.sql.types.StructType) =
        spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
      // pruned probes read EXPLICIT slot dirs (listing ∝ probed slots,
      // IndexMaint.readPartitions); past maxPruneKeys the degraded full
      // scan reads the root as before
      val corpusBanded =
        if (keys.length <= maxPruneKeys)
          IndexMaint.readPartitions(spark, s"${index.path}/banded",
              index.bandedSchema, "_bb", keys)
            .getOrElse(emptyOf(index.bandedSchema))
        else spark.read.schema(index.bandedSchema)
          .parquet(s"${index.path}/banded")
      // hot-bucket exclusion off the build-time occupancy sidecar — the
      // histogram is a property of the index, so no per-probe count over
      // the banded stream; the hot list is tiny by construction (≤
      // rows/maxBucket keys), so it is collected and broadcast-anti-joined
      val cb =
        if (maxBucket <= 0) corpusBanded
        else {
          // aggregate: appends ([[minhashIndexAppend]]) land as occupancy
          // DELTA rows, so the cap sees build + every appended segment;
          // occTotals dedups replayed segment deltas without collapsing
          // legacy null-_seg history (round-7 + round-8 ADVICE).
          val hot = occTotals(occLive(spark, index))
            .filter(col("count") > maxBucket)
            .collect()
          recordDrop(CapDrop("minhashDedupAgainst", hot.length,
            hot.map(_.getLong(2)).sum))
          if (hot.isEmpty) corpusBanded
          else {
            log.info(s"minhashDedupAgainst: occupancy cap maxBucket=" +
              s"$maxBucket dropped ${hot.length} corpus buckets")
            val keySchema = org.apache.spark.sql.types.StructType(
              Seq(index.occSchema("band"), index.occSchema("bucket")))
            val hotDf = spark.createDataFrame(
              java.util.Arrays.asList(hot.map(r =>
                org.apache.spark.sql.Row(r.get(0), r.get(1))): _*), keySchema)
            corpusBanded.join(broadcast(hotDf), Seq("band", "bucket"), "left_anti")
          }
        }
      val cand0 = bb.select(col("band"), col("bucket"), col("id").as("batch_id"))
        .join(cb.select(col("band"), col("bucket"), col("id").as("corpus_id")),
          Seq("band", "bucket"))
        .select("batch_id", "corpus_id").dropDuplicates()
      val cand = if (materialize) cand0.persist() else cand0
      try {
        val sp = cand.select(pmod(xxhash64(col("corpus_id").cast("string")),
            lit(index.slots)).as("_sp"))
          .distinct().collect().map(_.getLong(0))
        IndexMaint.recoverSwap(spark, s"${index.path}/sigs")
        val cs = IndexMaint.readPartitions(spark, s"${index.path}/sigs",
            index.sigSchema, "_sp", sp)
          .getOrElse(emptyOf(index.sigSchema))
        val out = cand
          .join(cs.select(col("id").as("corpus_id"), col("sig").as("sig2")),
            Seq("corpus_id"))
          .join(bs.select(col("id").as("batch_id"), col("sig").as("sig1")),
            Seq("batch_id"))
          .withColumn("est_jaccard",
            size(filter(zip_with(col("sig1"), col("sig2"), (x, y) => x === y),
              b => b)) / lit(index.k.toDouble))
          .filter(col("est_jaccard") >= threshold)
          .select("batch_id", "corpus_id", "est_jaccard")
        if (materialize) out.localCheckpoint(eager = true) else out
      } finally if (materialize) cand.unpersist(blocking = false)
    } finally if (materialize) bs.unpersist(blocking = false)
  }

  /** Append a new corpus segment to an existing index: the segment's
    * signatures and banded rows land in the SAME slot layout (new files
    * under the existing partition dirs) and its occupancy lands as DELTA
    * rows that probes aggregate — so the cap sees build + every append.
    *
    * `segmentId`, when given, must be DETERMINISTIC per logical segment
    * (the streaming sinks pass their micro-batch id): an append whose
    * `_seg` already appears in the occupancy sidecar is a replay and is
    * skipped wholesale, so replays can neither duplicate index rows nor
    * inflate a bucket past the cap (which would silently shrink later
    * candidate sets). CONCURRENT appenders of the same segment across JVMs
    * are excluded by an atomic `_gq_claim_<id>` taken before the append
    * ([[IndexMaint.withAppendClaim]] — the `_seg` check alone is
    * check-then-act); a claim older than `graft.index.append.claim.stale.ms`
    * (default 120 s) with no `_seg` evidence is a crashed appender and is
    * taken over. Without a `segmentId` (ad-hoc use) a fresh UUID is
    * used — appending the same frame twice then really does index it
    * twice, and the occupancy honestly counts the doubled rows.
    *
    * Crash ordering (occ is written LAST): sigs → banded → occ. A crash
    * after sigs alone leaves harmless unused signatures (banded-without-
    * sigs would silently drop candidates at the verification join); a
    * crash between banded and occ leaves banded rows the cap undercounts —
    * a transient PERFORMANCE window only (an under-capped hot bucket),
    * repaired by the replay, which finds no `_seg` row and re-runs the
    * whole append. The reverse order (occ first) would instead overcount
    * and could wrongly cap a bucket — a correctness window — so the
    * undercount direction is the deliberate choice. */
  def minhashIndexAppend(index: MinHashIndex, segment: DataFrame,
                         segmentId: String = null): Unit = {
    val spark = segment.sparkSession
    val occPath = s"${index.path}/occ"
    val segId = Option(segmentId).getOrElse(
      "seg-" + java.util.UUID.randomUUID().toString)
    // whole append under the tree WRITE lock: concurrent appends of
    // DIFFERENT segments (claims never conflict) into one tree clobber the
    // committer's shared `_temporary` staging — see IndexMaint.withTreeLock
    def doAppend(): Unit = IndexMaint.withTreeLock(
        new org.apache.hadoop.fs.Path(index.path)
          .getFileSystem(spark.sparkContext.hadoopConfiguration),
        new org.apache.hadoop.fs.Path(index.path)) {
      // torn-swap healing under the WRITE lock: outside it, a live
      // compactor's in-progress swap is indistinguishable from a crash
      IndexMaint.recoverSwap(spark, occPath)
      val r = index.k / index.bands
      val sig = signaturesFor(segment, index.textCol, index.idCol,
        index.n, index.k, index.md5).persist()
      try {
        sig.withColumn("_sp",
            pmod(xxhash64(col("id").cast("string")), lit(index.slots)))
          .write.mode("append").partitionBy("_sp")
          .parquet(s"${index.path}/sigs")
        val banded = bandedFor(sig, index.bands, r, index.md5)
          .withColumn("_bb", col("band") * lit(index.slots) +
            pmod(xxhash64(col("bucket").cast("string")), lit(index.slots)))
          .persist()
        try {
          banded.write.mode("append").partitionBy("_bb")
            .parquet(s"${index.path}/banded")
          banded.groupBy("band", "bucket").count()
            .withColumn("_seg", lit(segId))
            .write.mode("append").parquet(occPath)
        } finally banded.unpersist(blocking = false)
      } finally sig.unpersist(blocking = false)
    }
    if (segmentId == null) { doAppend(); return } // ad-hoc: no identity
    val fs = new org.apache.hadoop.fs.Path(occPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def done(): Boolean =
      fs.exists(new org.apache.hadoop.fs.Path(occPath)) &&
        !spark.read.schema(occSchemaOf(index)).parquet(occPath)
          .filter(col("_seg") === segId).isEmpty
    if (done()) {
      log.info(s"minhashIndexAppend: segment $segId already indexed " +
        s"under ${index.path} — replay skipped")
      return
    }
    // cross-JVM appender exclusion (round-12 review): the `_seg` sidecar
    // check above is check-then-act on its own, and a concurrent
    // double-append OVERCOUNTS occupancy — which can wrongly cap a hot
    // bucket and silently shrink later candidate sets (a correctness
    // effect, unlike the text family's transient stats drift). Same claim
    // protocol as textIndexAppend; occ rows are the done-evidence.
    val staleMs = sys.props.get("graft.index.append.claim.stale.ms")
      .flatMap(_.toLongOption).getOrElse(120000L)
    val claim = new org.apache.hadoop.fs.Path(s"${index.path}/_gq_claim_$segId")
    if (IndexMaint.withAppendClaim(fs, claim, () => done(), staleMs)(
        doAppend()).isEmpty)
      log.info(s"minhashIndexAppend: segment $segId appended concurrently " +
        s"under ${index.path} — skipped")
  }

  /** Compact an index that append-heavy ingestion has fragmented (one
    * occupancy delta file — and with `full`, one banded/sigs segment pair —
    * per micro-batch): probes and appends pay that file count as a listing
    * tax on every tick, the classic streaming small-file problem.
    *
    *  - default (occ only): rewrites `occ/` as one aggregated row per
    *    (band, bucket) plus zero-count `band = -1` MARKER rows preserving
    *    every consumed segment id, so a replayed append is still detected
    *    after its delta was merged away.
    *  - `full = true`: additionally rewrites `banded/` and `sigs/`
    *    (duplicate rows from crash-replay windows dropped, one file per
    *    slot partition) and recomputes occ exactly from the compacted
    *    banding — the steady-state maintenance the streaming sinks trigger
    *    via their `compactFiles` threshold.
    *
    * Never changes answers — probes aggregate occ and dedup candidates
    * either way. Each directory moves via [[IndexMaint.swapRewrite]]
    * (tmp → rename → rename); a crash in the one non-atomic window is
    * healed by [[IndexMaint.recoverSwap]] at every entry point (probe,
    * append, compaction re-run), closing the round-7 ADVICE gap where a
    * torn swap stranded probes on a missing `occ/`. */
  def minhashIndexCompact(index: MinHashIndex, full: Boolean = false): Unit = {
    val spark = org.apache.spark.sql.SparkSession.active
    val occPath = s"${index.path}/occ"
    // same tree WRITE lock as appends: a compaction swapping subtrees out
    // from under a concurrent cross-JVM append would drop that append's
    // rows — writers serialize whole (see IndexMaint.withTreeLock)
    IndexMaint.withTreeLock(
      new org.apache.hadoop.fs.Path(index.path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration),
      new org.apache.hadoop.fs.Path(index.path)) {
    IndexMaint.recoverSwap(spark, occPath)
    if (full) {
      IndexMaint.recoverSwap(spark, s"${index.path}/banded")
      IndexMaint.recoverSwap(spark, s"${index.path}/sigs")
      IndexMaint.swapRewrite(spark, s"${index.path}/banded",
        spark.read.schema(index.bandedSchema)
          .parquet(s"${index.path}/banded").dropDuplicates(),
        Seq("_bb"))
      IndexMaint.swapRewrite(spark, s"${index.path}/sigs",
        spark.read.schema(index.sigSchema)
          .parquet(s"${index.path}/sigs").dropDuplicates(),
        Seq("_sp"))
    }
    val rows = spark.read.schema(occSchemaOf(index)).parquet(occPath)
    val segs = rows.select("_seg").filter(col("_seg").isNotNull).distinct()
    val live =
      if (full)
        // recomputed exactly from the deduplicated banding — any raw-row
        // overcount from a crash-replay window is corrected here
        spark.read.schema(index.bandedSchema).parquet(s"${index.path}/banded")
          .groupBy("band", "bucket").count()
      else
        occTotals(rows.filter(col("band") >= 0))
    val occNew = live.withColumn("_seg", lit(AggSeg))
      .unionByName(segs.select(lit(-1).cast("int").as("band"),
        markerBucket(index).as("bucket"), lit(0L).as("count"), col("_seg")))
    IndexMaint.swapRewrite(spark, occPath, occNew, Seq.empty)
    }
  }

  /** Union two INDEPENDENTLY-BUILT MinHash indexes into a fresh tree at
    * `destPath` — the per-shard indexing shape a 100 TB corpus needs: each
    * ingestion shard builds and maintains its own index; a merge produces
    * the combined serving tree without ever re-reading corpus text or
    * re-running a signature pass. The hash families are deterministic per
    * row, so the merged tree answers IDENTICALLY to an index built
    * monolithically over the union corpus (spec-asserted):
    *
    *  - banded/sigs rows union under the same slot layout, clustered to
    *    one file per slot dir (the merge doubles as a compaction);
    *  - occupancy totals SUM per (band, bucket) — each side first dedups
    *    its own replay deltas via [[occTotals]], so the cap over the
    *    merged index sees the true union occupancy;
    *  - consumed-segment markers union, so an append replayed against the
    *    MERGED index is still detected and skipped.
    *
    * Sources are read-only (probe them during the merge freely). A doc
    * indexed in BOTH shards contributes duplicate banded rows — probes
    * dedup candidates, but its buckets count twice toward the cap; dedup
    * shard ownership upstream. Re-openable via the standard meta sidecar. */
  def minhashIndexMerge(a: MinHashIndex, b: MinHashIndex,
                        destPath: String): MinHashIndex = {
    require(a.n == b.n && a.k == b.k && a.bands == b.bands &&
      a.md5 == b.md5 && a.slots == b.slots &&
      a.textCol == b.textCol && a.idCol == b.idCol,
      s"minhashIndexMerge: incompatible index families " +
        s"(n/k/bands/md5/slots/cols must match: $a vs $b)")
    require(destPath != a.path && destPath != b.path,
      "minhashIndexMerge: destPath must be a fresh directory")
    val spark = org.apache.spark.sql.SparkSession.active
    Seq(a, b).foreach { ix =>
      IndexMaint.recoverSwap(spark, s"${ix.path}/banded")
      IndexMaint.recoverSwap(spark, s"${ix.path}/sigs")
      IndexMaint.recoverSwap(spark, s"${ix.path}/occ")
    }
    def rd(ix: MinHashIndex, sub: String,
           schema: org.apache.spark.sql.types.StructType) =
      spark.read.schema(schema).parquet(s"${ix.path}/$sub")
    rd(a, "banded", a.bandedSchema).unionByName(rd(b, "banded", b.bandedSchema))
      .repartition(col("_bb"))
      .write.mode("overwrite").partitionBy("_bb").parquet(s"$destPath/banded")
    rd(a, "sigs", a.sigSchema).unionByName(rd(b, "sigs", b.sigSchema))
      .repartition(col("_sp"))
      .write.mode("overwrite").partitionBy("_sp").parquet(s"$destPath/sigs")
    val occA = rd(a, "occ", occSchemaOf(a))
    val occB = rd(b, "occ", occSchemaOf(b))
    val totals = occTotals(occA.filter(col("band") >= 0))
      .unionByName(occTotals(occB.filter(col("band") >= 0)))
      .groupBy("band", "bucket").agg(sum("count").cast("long").as("count"))
      .withColumn("_seg", lit(AggSeg))
    val markers = occA.select("_seg").unionByName(occB.select("_seg"))
      .filter(col("_seg").isNotNull && col("_seg") =!= AggSeg).distinct()
      .select(lit(-1).cast("int").as("band"), markerBucket(a).as("bucket"),
        lit(0L).as("count"), col("_seg"))
    totals.unionByName(markers)
      .write.mode("overwrite").parquet(s"$destPath/occ")
    val merged = a.copy(path = destPath, occSchema = occSchemaOf(a))
    Similarity.writeMeta(spark, destPath, merged)
    merged
  }

  /** Ingestion-side survivor set: batch rows with NO near-duplicate in
    * the corpus index (the near-dup analog of [[exactIncremental]]). */
  def minhashDedupFilter(index: MinHashIndex, batch: DataFrame,
                         threshold: Double = 0.7,
                         maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val hits = minhashDedupAgainst(index, batch, threshold, maxBucket)
      .select(col("batch_id")).dropDuplicates()
    batch.join(hits, batch(index.idCol) === hits("batch_id"), "left_anti")
  }

  private val mhCache =
    new IndexMaint.LruCache[MinHashIndex](IndexMaint.cacheCap _)
  private val mhLineage = new IndexMaint.LruCache[
    (Map[String, (Long, Long)], String)](IndexMaint.cacheCap _)
  private[graft] def minhashCacheSize: Int = mhCache.size

  /** Build counter (metadata re-opens do NOT increment) — serving-tier
    * observability, mirrors Similarity.ivfBuildCount. */
  private[graft] val minhashBuildCount =
    new java.util.concurrent.atomic.AtomicLong
  /** Delta appends taken by the [[minhashIndexFor]] fast path. */
  private[graft] val minhashDeltaAppendCount =
    new java.util.concurrent.atomic.AtomicLong

  /** Cached [[minhashIndexBuild]] — the serving entry point, sharing the
    * prebuilt-ANN lifecycle contract (Similarity.ivfIndexFor): cache key
    * folds a corpus content fingerprint (file list + sizes + mtimes), a
    * readable on-disk sidecar re-opens without a build job, and a corpus
    * rewritten in place gets a fresh fingerprint → fresh path → rebuild.
    * Append-only corpus growth (file set a strict superset, common files
    * untouched) [[minhashIndexAppend]]s ONLY the delta files into the
    * existing tree instead of rebuilding (round 11, the shared
    * [[graft.operators.IndexMaint.cachedIndexFor]] fast path); the
    * deterministic segment id = the new key's hash, so a replayed
    * identical delta is recognized and skipped by the append's own
    * replay guard. */
  def minhashIndexFor(corpus: DataFrame, corpusKey: String, textCol: String,
                      idCol: String, baseDir: String, n: Int = 3,
                      k: Int = 64, bands: Int = 16, md5: Boolean = false,
                      slots: Int = IndexSlots): MinHashIndex = {
    val params = s"mh|$corpusKey|$textCol|$idCol|$n|$k|$bands|$md5|$slots"
    val files = IndexMaint.fileStatuses(corpus)
    val key = s"mh|$corpusKey|${Similarity.fingerprintFrom(files)}|" +
      s"$textCol|$idCol|$n|$k|$bands|$md5|$slots"
    val spark = corpus.sparkSession
    val path = s"$baseDir/mh_${Similarity.keyHash(key)}"
    IndexMaint.cachedIndexFor[MinHashIndex](
      spark, mhCache, mhLineage, baseDir, params, key, files,
      path, pathOf = _.path,
      reopenAt = p => Similarity.readMeta[MinHashIndex](spark, p),
      build = () => {
        val idx = minhashIndexBuild(corpus, textCol, idCol, path, n, k,
          bands, md5, slots)
        minhashBuildCount.incrementAndGet()
        Similarity.writeMeta(spark, path, idx)
        idx
      },
      append = (prevIdx, newFiles) => {
        minhashIndexAppend(prevIdx, spark.read.parquet(newFiles.toSeq: _*),
          segmentId = s"delta-${Similarity.keyHash(key)}")
        prevIdx // banded tree + occ grew in place; the handle is unchanged
      },
      onDelta = () => minhashDeltaAppendCount.incrementAndGet())
  }

  /** Drop cached MinHash indexes for `corpusKey` (on-disk files stay —
    * a later request re-opens or rebuilds under a fresh fingerprint). */
  def invalidateMinhashIndexes(corpusKey: String): Unit = {
    mhCache.removeKeysIf(_.contains(s"|$corpusKey|"))
    mhLineage.removeKeysIf(_.contains(s"|$corpusKey|"))
    IndexMaint.dropGrowthLocks(k =>
      k.startsWith("mh") && k.contains(s"|$corpusKey|"))
  }

  /** Clear the whole in-memory MinHash index cache (restart simulation). */
  def invalidateAllMinhashIndexes(): Unit = {
    mhCache.clear(); mhLineage.clear()
    IndexMaint.dropGrowthLocks(_.startsWith("mh"))
  }

  /** Sweep orphaned MinHash index trees (retired fingerprints) under
    * `baseDir` — see [[graft.operators.IndexMaint.gcOrphans]]. */
  def minhashIndexGc(spark: org.apache.spark.sql.SparkSession, baseDir: String,
                     graceMs: Long = 3600000L): Seq[String] =
    IndexMaint.gcOrphans(spark, baseDir, Seq("mh_"),
      mhCache.values.map(_.path).toSet, graceMs)

  /** Eval-set decontamination (the GPT-3/PaLM appendix-C recipe): flag
    * training documents sharing at least `minHits` distinct word n-grams
    * with any benchmark document, so they can be dropped before training
    * rather than inflating eval scores.
    *
    * Scale shape: the benchmark n-gram set is tiny relative to the corpus
    * (eval sets are megabytes against terabytes) — distinct it and BROADCAST
    * it; the corpus side is a linear shingle explode + broadcast hash join +
    * map-side-combinable per-doc count. No corpus-side shuffle carries text;
    * the only wide exchange is the (id, hits) aggregation of matched rows,
    * which is bounded by the contamination volume, not the corpus.
    *
    * Returns (id, hits) for contaminated documents — `hits` = number of
    * distinct n-grams of the document that appear anywhere in the benchmark
    * (shingles() emits per-doc distinct shingles, so multiplicity within a
    * document does not inflate the count). */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                    textCol: String, idCol: String,
                    n: Int = 5, minHits: Int = 1): DataFrame = {
    require(minHits >= 1, "decontaminate needs minHits >= 1")
    val bench = benchmark
      .select(explode(shingles(benchmark.sparkSession, col(textCol), n)).as("sh"))
      .distinct()
    corpus
      .select(col(idCol).as("id"),
        explode(shingles(corpus.sparkSession, col(textCol), n)).as("sh"))
      .join(broadcast(bench), Seq("sh"))
      .groupBy("id").agg(count(lit(1)).as("hits"))
      .filter(col("hits") >= minHits)
  }

  /** Non-overlapping `span`-token chunks of a document, in order (the last
    * chunk may be short). The C4 dedup granularity adapted to token spans —
    * this corpus has no sentence boundaries. Original case is PRESERVED
    * (duplicate detection lowercases separately): the survivors' text must
    * not come back rewritten. */
  def spans(spark: org.apache.spark.sql.SparkSession,
            text: Column, span: Int): Column = {
    require(span >= 1, "spans needs span >= 1")
    graft.expressions.TextFunctions.wordSpans(spark, text, span)
  }

  /** Composable (pure-Column) spans — the semantic specification for
    * [[graft.expressions.WordSpans]], kept for the bit-parity spec. NOT for
    * production paths (regex split re-runs per chunk index in the
    * interpreted lambda — see [[shinglesComposable]]).
    * Guard: split("", "\s+") yields [""], not an empty array, so blank or
    * whitespace-only docs would otherwise emit one EMPTY span and every
    * blank doc would dedup into the first one; also sequence(1, stop) with
    * stop < 1 would generate a DESCENDING sequence. Blank docs → zero
    * spans (same contract as chunked()). */
  def spansComposable(text: Column, span: Int): Column = {
    require(span >= 1, "spans needs span >= 1")
    val toks = split(text, "\\s+")
    when(length(trim(text)) > 0,
      transform(sequence(lit(1), ceil(size(toks) / lit(span.toDouble)).cast("int")),
        i => array_join(slice(toks, (i - lit(1)) * span + 1, lit(span)), " ")))
      .otherwise(array().cast("array<string>"))
  }

  /** Corpus-level span dedup (C4-style, at token-span granularity): every
    * span keeps only its globally FIRST occurrence — smallest (id, pos) —
    * and each document is reassembled from its surviving spans in original
    * order. Documents whose every span is duplicated elsewhere vanish
    * (fully-duplicated docs are exactly what this removes); partially
    * duplicated docs survive with the remaining text.
    *
    * Scale shape (the round-12 split, mirroring [[dedupSubstrings]]): the
    * first-occurrence keys are computed on a NARROW projection —
    * (xxhash64(span), id, pos) — so the global groupBy that finds each
    * span's minimal occurrence never carries text. Documents that lose NO
    * span — the large majority of a real corpus — NEVER take the
    * text-carrying explode / collect_list regroup: a semi-join split on the
    * distinct loser doc ids routes them through VERBATIM (byte-identical
    * text, original whitespace preserved — including docs with zero spans,
    * i.e. blank text, which by construction cannot lose one). Only cut
    * documents re-explode with span text and regroup, so the reassembly
    * pays dup-doc volume, not corpus volume; their surviving spans rejoin
    * with single spaces (inherent to token-granularity reassembly) in
    * original case. The explicit `repartition(id)` pins an exchange
    * boundary on the narrow loser rows, shared by its three consumers
    * (cutIds, the clean anti-join, the keep anti-join) — without it each
    * would re-run the corpus-wide span explode (the dedupSubstrings
    * measurement: 3× the occurrence pass at ×20). Span identity is
    * case-insensitive 64-bit-hash equality, the standard at-scale trade
    * (collisions vanishingly rare, and a collision only drops one extra
    * span). */
  def dedupSpans(df: DataFrame, textCol: String, idCol: String,
                 span: Int = 10): DataFrame = {
    val spark = df.sparkSession
    val occ = df.select(col(idCol).as("id"),
        posexplode(spans(spark, col(textCol), span)).as(Seq("pos", "sp")))
      .select(col("id"), col("pos"), xxhash64(lower(col("sp"))).as("h"))
    val firsts = occ
      .groupBy("h").agg(min(struct(col("id"), col("pos"))).as("f"))
      .select(col("f.id").as("id"), col("f.pos").as("pos"))
    // losers = occurrences that are NOT their span's winner; each starts a
    // cut. Winner ⟺ not loser, so the keep-set below is an anti-join.
    val losers = occ.select("id", "pos")
      .join(firsts, Seq("id", "pos"), "left_anti")
      .repartition(col("id"))
    // split key: doc ids losing at least one span (≤ one row per cut doc)
    val cutIds = losers.select("id").distinct()
    val src = df.select(col(idCol).as("id"), col(textCol).as("_txt"))
    // span-clean docs pass through byte-identical — no explode, no regroup
    val clean = src.join(cutIds, Seq("id"), "left_anti")
      .select(col("id"), col("_txt").as(textCol))
    // only cut docs re-explode WITH span text; fully-duplicated docs keep
    // nothing and vanish from the regroup (no surviving span rows)
    val cutEx = src.join(cutIds, Seq("id"), "left_semi")
      .select(col("id"),
        posexplode(spans(spark, col("_txt"), span)).as(Seq("pos", "sp")))
    val rebuilt = cutEx.join(losers, Seq("id", "pos"), "left_anti")
      .groupBy("id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("sp")))),
          x => x.getField("sp")), " ").as(textCol))
    clean.unionByName(rebuilt).withColumnRenamed("id", idCol)
  }

  /** Composable (pure-Column) per-position window hashes — the semantic
    * specification for [[graft.expressions.WordWindowHashes]], kept for the
    * bit-parity spec and the DuckDB oracles. NOT for production paths
    * (the regex split re-runs per window index inside the interpreted
    * lambda — see [[shinglesComposable]]). */
  def windowHashesComposable(text: Column, w: Int): Column = {
    val toks = tokens(text)
    when(size(toks) >= w,
      transform(sequence(lit(1), size(toks) - (w - 1)),
        i => xxhash64(array_join(slice(toks, i, lit(w)), " "))))
      .otherwise(array().cast("array<bigint>"))
  }

  /** Exact-substring dedup (Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better", adapted from suffix arrays to token
    * granularity): every w-token run that occurs VERBATIM more than once in
    * the corpus — across documents or repeated within one — keeps only its
    * globally first occurrence (smallest (id, position)); every other
    * occurrence's token range is cut, overlapping cuts merged, and each
    * document is reassembled from its surviving tokens in original order
    * with original case. Documents shorter than w tokens pass through
    * untouched; fully-duplicated documents vanish.
    *
    * Unlike [[dedupSpans]] (C4-style NON-overlapping spans, which misses a
    * duplicated run that straddles a span boundary), the windows here
    * OVERLAP — any duplicated run of ≥ w tokens is caught at every offset,
    * which is the suffix-array method's guarantee.
    *
    * Scale shape: the occurrence list is (id, position, 64-bit hash) — one
    * NARROW row per token position ([[graft.expressions.WordWindowHashes]]
    * emits hashes, never shingle text); the global first-occurrence groupBy
    * is map-side combinable (min struct); duplicates are an anti-join on
    * (id, position) against the winners. Documents with NO cut range — the
    * large majority of a real corpus — NEVER take the token-explode path: a
    * semi-join split on the distinct cut doc ids routes them through
    * VERBATIM (byte-identical text, original whitespace preserved), so the
    * explode + per-doc window + collect_list regroup pays dup-doc volume,
    * not corpus volume. Only cut documents are reassembled: one window
    * partitioned BY DOCUMENT (documents are bounded — never a global sort)
    * where duplicated starts and token rows interleave by position and a
    * running max of cut-range ends marks covered tokens; their surviving
    * tokens rejoin with single spaces (inherent to token-granularity
    * reassembly). Hash identity is the standard at-scale trade (collisions
    * vanishingly rare; a collision only cuts one extra w-token run).
    *
    * Dense-regime auto-dispatch (round 12): the clean-doc routing wins
    * exactly when most docs are clean — on a dense-dup corpus (the ×12
    * boilerplate-skew probe: 92% of docs cut) its three cutIds joins
    * shuffle nearly the whole corpus for no routing benefit, measured
    * ~1.5× the direct form. The cut ratio is computed BEFORE choosing the
    * plan (distinct cut ids vs document count — one narrow pass over the
    * localCheckpoint'ed dup rows, which the chosen arm then reuses instead
    * of re-running the corpus explode), and above `denseCutRatio` the
    * direct interleave-everything arm runs with a single doc-level join
    * picking originals for clean docs — BYTE-IDENTICAL output to the split
    * arm in every regime. `denseCutRatio >= 1.0` disables the probe (fully
    * lazy, always split). */
  /** Dispatch observability: which dedupSubstrings arm served (specs pin
    * both regimes; the probe reports them). */
  private[graft] val substrSplitCount = new java.util.concurrent.atomic.AtomicLong
  private[graft] val substrDenseCount = new java.util.concurrent.atomic.AtomicLong

  def dedupSubstrings(df: DataFrame, textCol: String, idCol: String,
                      window: Int = 50,
                      denseCutRatio: Double = 0.5): DataFrame = {
    val spark = df.sparkSession
    val w = window
    val occ = df.select(col(idCol).as("id"),
      posexplode(graft.expressions.TextFunctions.wordWindowHashes(
        spark, col(textCol), w)).as(Seq("p", "h")))
    val firsts = occ.groupBy("h")
      .agg(min(struct(col("id"), col("p"))).as("f"))
      .select(col("f.id").as("id"), col("f.p").as("p"))
    // every occurrence that is NOT its hash's winner starts a cut range.
    // The explicit repartition pins an exchange boundary on the narrow
    // (id, p) dup rows: the subtree below it — the corpus-wide window-hash
    // explode feeding firsts AND the anti-join — is consumed by THREE
    // downstream paths (marks, the clean anti-join, the cut semi-join), and
    // without the boundary each would re-run the full explode (measured 3×
    // the corpus occurrence pass at ×20); with it, exchange reuse computes
    // the subtree once and all consumers read the shuffle output.
    val dupsPlan = occ.select("id", "p")
      .join(firsts, Seq("id", "p"), "left_anti")
      .repartition(col("id"))
    val src = df.select(col(idCol).as("id"), col(textCol).as("_txt"))

    // cut-doc routing, the round-11 shape: byte-identical pass-through for
    // cut-FREE docs; only cut docs explode to tokens and regroup
    def splitArm(dups: DataFrame): DataFrame = {
      // split key: doc ids with at least one cut (≤ one row per cut doc)
      val cutIds = dups.select("id").distinct()
      // cut-free docs pass through byte-identical — no explode, no window
      val clean = src.join(cutIds, Seq("id"), "left_anti")
        .select(col("id"), col("_txt").as(textCol))
      val toks = src.join(cutIds, Seq("id"), "left_semi")
        .select(col("id"),
          posexplode(split(col("_txt"), "\\s+", -1)).as(Seq("pos", "tok")))
      val rebuilt = interleave(dups, toks, w)
        .filter(col("kind") === 1 &&
          (col("_cut_end").isNull || col("_cut_end") <= col("pos")))
        .groupBy("id")
        .agg(array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            x => x.getField("tok")), " ").as(textCol))
      clean.unionByName(rebuilt).withColumnRenamed("id", idCol)
    }

    // dense-regime arm (round-12 verdict #5): when MOST docs are cut, the
    // split's three cutIds joins shuffle nearly the whole corpus for no
    // routing benefit (the ×12 dense-dup probe measured the split ~1.5×
    // the pre-split form). Here every doc's tokens interleave directly —
    // no cutIds distinct, no semi/anti joins — and ONE doc-level join
    // against the source picks each doc's ORIGINAL text when it lost
    // nothing, preserving the split arm's byte-identity contract exactly:
    // clean docs verbatim (null-text docs ride the left join), cut docs
    // reassembled, fully-covered docs vanish.
    def denseArm(dups: DataFrame): DataFrame = {
      val toks = src.select(col("id"),
        posexplode(split(col("_txt"), "\\s+", -1)).as(Seq("pos", "tok")))
      val keep = col("kind") === 1 &&
        (col("_cut_end").isNull || col("_cut_end") <= col("pos"))
      val regrouped = interleave(dups, toks, w)
        .groupBy("id")
        .agg(
          // collect_list skips nulls: only surviving tokens are gathered
          array_join(transform(array_sort(collect_list(
              when(keep, struct(col("pos"), col("tok"))))),
            x => x.getField("tok")), " ").as("_rb"),
          max(when(col("kind") === 0, 1).otherwise(0)).as("_was_cut"),
          sum(when(keep, 1).otherwise(0)).as("_nkeep"))
      src.join(regrouped, Seq("id"), "left")
        // absent/_nkeep-null docs had no token rows at all (null text) —
        // they are clean; _nkeep = 0 means fully covered — vanish
        .filter(col("_nkeep").isNull || col("_nkeep") > 0)
        .select(col("id"),
          when(col("_was_cut") === 1, col("_rb")).otherwise(col("_txt"))
            .as(textCol))
        .withColumnRenamed("id", idCol)
    }

    // a threshold ≥ 1 disables the dispatch probe entirely: the operator
    // stays lazy (no jobs at construction) and always takes the split arm
    if (denseCutRatio >= 1.0) {
      substrSplitCount.incrementAndGet(); return splitArm(dupsPlan)
    }
    def dispatch(ratio: Double, dups: DataFrame): DataFrame =
      if (ratio > denseCutRatio) {
        substrDenseCount.incrementAndGet(); denseArm(dups)
      } else {
        substrSplitCount.incrementAndGet(); splitArm(dups)
      }
    // the cut ratio is a property of the corpus CONTENT — memoize the probe
    // per (canonicalized plan, file fingerprint, window), the knnJoinFlip
    // precedent: repeated served requests (and bench repetitions) on an
    // unchanged corpus skip the probe entirely and stay fully lazy on the
    // pinned-exchange plan. Frames with no file lineage have no safe
    // cross-request identity → probe every time.
    val fp = Similarity.fingerprint(df)
    // textCol/idCol are part of the identity: the canonicalized plan of a
    // bare scan does not encode WHICH column the operator reads, so two
    // dedupSubstrings calls over the same frame but different text columns
    // must not share a cut-ratio reading
    val memoKey =
      if (fp == "nofiles") null
      else Similarity.keyHash(
        df.queryExecution.optimizedPlan.canonicalized.toString) +
        s"|$fp|$w|$textCol|$idCol"
    val known = Option(memoKey).flatMap(k => Option(substrRatioMemo.get(k)))
    known match {
      case Some(r) => dispatch(r.doubleValue(), dupsPlan)
      case None =>
        // first sight of this corpus: materialize the narrow (id, p) dup
        // rows ONCE — the ratio probe and the chosen arm both read them,
        // and without the checkpoint the count action would re-run the
        // corpus-wide explode subtree. The volume is bounded by the dup
        // occurrences the plan shuffles anyway (the pinned exchange
        // above); executor loss before the caller materializes re-runs
        // the request (the serving layer's retry — the family's
        // documented checkpoint trade). The probe's cost is ~constant
        // scheduling overhead, paid once per corpus generation.
        val dups = dupsPlan.localCheckpoint()
        val nCut = dups.select("id").distinct().count()
        val nDocs = df.count()
        val ratio = nCut.toDouble / math.max(nDocs, 1L).toDouble
        Option(memoKey).foreach(k =>
          substrRatioMemo.computeIfAbsent(k, _ => java.lang.Double.valueOf(ratio)))
        dispatch(ratio, dups)
    }
  }

  /** Cut-ratio memo for [[dedupSubstrings]]' dense-regime dispatch —
    * LRU-bounded like every serving-lifetime registry (round 12). */
  private val substrRatioMemo =
    new IndexMaint.LruCache[java.lang.Double](() => 4096)

  /** Interleave cut-range starts (kind 0, end = p + w, carried on the
    * mark rows) with token rows (kind 1) by position within each document
    * and compute the running max of range ends: a token is covered iff
    * that max at its position exceeds it. The window partitions BY
    * DOCUMENT — documents are bounded, never a global sort. */
  private def interleave(dups: DataFrame, toks: DataFrame,
                         w: Int): DataFrame = {
    val marks = dups.select(col("id"), col("p").cast("long").as("pos"),
      lit(0).as("kind"),
      (col("p") + w).cast("long").as("end"),
      lit(null).cast("string").as("tok"))
    val tokRows = toks.select(col("id"), col("pos").cast("long").as("pos"),
      lit(1).as("kind"), lit(null).cast("long").as("end"), col("tok"))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("pos"), col("kind"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    marks.union(tokRows)
      .withColumn("_cut_end", max(col("end")).over(wDoc))
  }

  /** Representative-per-cluster dedup: drops every row whose id belongs to
    * a near-dup cluster but is not its smallest member; rows with no pair
    * (singletons) survive untouched. The last stage of a real dedup
    * pipeline — pairs alone over-delete (a<b<c with pairs (a,b),(b,c) must
    * drop b and c, not b OR c) and naive "drop all id2" under-deletes
    * transitively. */
  def keepRepresentatives(df: DataFrame, pairs: DataFrame, idCol: String,
                          id1Col: String = "id1",
                          id2Col: String = "id2"): DataFrame = {
    val dupes = clusters(pairs, id1Col, id2Col)
      .filter(col("id") =!= col("cluster"))
      .select(col("id").as(idCol))
    df.join(dupes, Seq(idCol), "left_anti")
  }
}
