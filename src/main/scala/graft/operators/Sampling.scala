package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{BlockScan, GTable, Natural}

/** Deterministic sampling / splitting / packing for training-data pipelines.
  *
  * Everything derives from md5 hash buckets rather than rand(): assignments
  * are stable under repartitioning, task retries and re-runs (a rand()-based
  * split changes on every recompute — silent train/test leakage), need no
  * shuffle or state, and are reproducible in any engine with md5, so the
  * correctness gate adjudicates them exactly.
  *
  * Scale shape: each op is a pure per-row codegen'd expression (split,
  * stratified keep) or the block prefix-sum technique (packing) — nothing
  * here adds a shuffle beyond its own aggregation.
  */
object Sampling {

  /** Deterministic bucket in [0, buckets): first 15 hex digits of
    * md5(key) folded to a long (60 bits, exact), mod buckets. A NULL key
    * hashes as the empty string rather than propagating null — otherwise
    * split() would assign no share and stratifiedKeep() would silently
    * DROP the row (filter on a null predicate), i.e. silent data loss for
    * exactly the malformed rows a pipeline most needs to account for. */
  def hashBucket(key: Column, buckets: Int): Column =
    (Hashing.md5Long(coalesce(key.cast("string"), lit(""))) % buckets).cast("int")

  /** Named split by integer weights: `Seq("train" -> 8, "val" -> 1,
    * "test" -> 1)` partitions the bucket space [0, weight sum). */
  def split(key: Column, shares: Seq[(String, Int)]): Column = {
    require(shares.nonEmpty && shares.forall(_._2 > 0),
      "split needs positive integer shares")
    val b = hashBucket(key, shares.map(_._2).sum)
    shares.foldLeft((Option.empty[Column], 0)) {
      case ((acc, off), (name, w)) =>
        val c = b >= off && b < off + w
        (Some(acc.fold(when(c, name))(_.when(c, name))), off + w)
    }._1.get
  }

  /** Per-stratum deterministic downsampling predicate: keep a row iff its
    * hash bucket (of `resolution`) falls below fraction(stratum)·resolution.
    * The fraction map rides as a literal map column — one codegen'd lookup
    * per row, no join, no shuffle; strata missing from the map keep
    * `default`. The standard knob for rebalancing a web corpus (downsample
    * over-represented languages/sources) at scan speed. */
  def stratifiedKeep(strata: Column, key: Column,
                     fractions: Map[String, Double], default: Double = 1.0,
                     resolution: Int = 10000): Column = {
    val f = coalesce(element_at(typedLit(fractions), strata), lit(default))
    // threshold via floor(f·res + 0.5): Spark's double→int cast truncates
    // while other engines round, so a bare cast of 0.07·10000 = 699.999…
    // would disagree cross-engine
    hashBucket(key, resolution) < floor(f * resolution + 0.5).cast("int")
  }

  /** Deterministic mixture resampling by stratum weight — the data-mixing
    * knob of a pretraining run ("2.5 epochs of wiki, 0.4 of common-crawl"):
    * each row is emitted floor(w) times plus one extra copy iff its hash
    * bucket falls below frac(w)·resolution, so the expected multiplicity is
    * exactly w, deterministically (same rows get the extra copy on every
    * run/retry). Weights below 1 downsample (floor(w)=0 → the row survives
    * only via the fractional copy); missing strata take `default`.
    *
    * Scale shape: a per-row codegen'd sequence-explode — no join, no
    * shuffle, output size = Σ w(stratum)·|stratum|. The `copy` ordinal is
    * kept so downstream shuffles can decorrelate repeated copies. */
  def mixWeighted(df: DataFrame, strata: Column, key: Column,
                  weights: Map[String, Double], default: Double = 1.0,
                  resolution: Int = 10000): DataFrame = {
    require(weights.values.forall(_ >= 0) && default >= 0,
      "mixWeighted needs non-negative weights")
    require(!df.columns.contains("copy"),
      "mixWeighted emits a 'copy' ordinal; the input already has that column")
    val w = coalesce(element_at(typedLit(weights), strata), lit(default))
    // same floor(x+0.5) rounding as stratifiedKeep: double→int casts
    // truncate in Spark but round elsewhere
    val extra = when(
      hashBucket(key, resolution) <
        floor((w - floor(w)) * resolution + 0.5).cast("int"), 1).otherwise(0)
    val copies = (floor(w).cast("int") + extra).cast("int")
    // sequence(0, stop) with stop < 0 would DESCEND — emit no copies instead
    df.withColumn("copy",
      explode(when(copies >= 1, sequence(lit(0), copies - 1))
        .otherwise(array().cast("array<int>"))))
  }

  /** Deterministic shuffle key: md5(seed:key). Ordering a corpus by this
    * key is a reproducible global shuffle — on a cluster it compiles to a
    * range-partitioned sort (sampled range exchange + per-partition sort),
    * the scalable form of "shuffle the training data", and unlike
    * rand()-ordering it is stable under retries and re-runs. */
  def shuffleKey(key: Column, seed: String): Column =
    md5(concat_ws(":", lit(seed), coalesce(key.cast("string"), lit(""))))

  /** Corpus shuffled by [[shuffleKey]]; the key is kept as `shuffle_key` so
    * consumers (and the correctness oracle) can verify the order. */
  def shuffled(df: DataFrame, key: Column, seed: String): DataFrame = {
    require(!df.columns.contains("shuffle_key"),
      "shuffled emits a 'shuffle_key' column; the input already has one")
    df.withColumn("shuffle_key", shuffleKey(key, seed))
      .orderBy(col("shuffle_key"))
  }

  /** Deterministic fixed-size sample per stratum ("reservoir of k"): the k
    * rows of each stratum with the smallest md5(seed:key) — exact k (not
    * the expected-value k of [[stratifiedKeep]]), stable under
    * repartitioning/retries, and reproducible in any engine with md5.
    *
    * Scale shape: strata are usually FEW (languages, sources), so a plain
    * `row_number over (partition by stratum)` would ship every stratum to
    * one task — this uses [[GTable.rankings]] instead (range-partitioned
    * per-key ranks + a BlockScan prefix over the ranges), which keeps all
    * shuffle partitions busy regardless of stratum cardinality. A null
    * stratum is sampled like any other. */
  def reservoirK(t: GTable, strata: Seq[String], key: Column, k: Int,
                 seed: String = "0"): DataFrame = {
    require(k > 0, "reservoirK needs k > 0")
    // Rank a NARROW (strata, key) projection: the wide payload (document
    // text, embeddings) must not ride the range shuffle, which the ranked
    // rows and the per-range totals both read.
    // The winner set is ≤ k rows per stratum — tiny by construction — so
    // the full rows are re-selected with a BROADCAST semi-join: the wide
    // data is scanned once and never shuffled at all. Rows tied on a
    // duplicated (strata, key) tuple all survive the join-back (the sample
    // key is expected unique per stratum, as with any reservoir keyed on a
    // row id).
    val sCols = strata.map(col)
    val winners = GTable(t.df.select(sCols :+ key.as("_gq_kv"): _*))
      .project("_gq_rk" -> shuffleKey(col("_gq_kv"), seed))
      .rankings(strata, Seq(col("_gq_rk")), rowNumber = Some("_gq_rn"))
      .filter(col("_gq_rn") < k) // rankings outputs are 0-based
      .df.select(sCols.zipWithIndex.map { case (c, i) => c.as(s"_gq_s$i") } :+
        col("_gq_kv"): _*)
    val cond = strata.zipWithIndex.map { case (s, i) =>
      col(s) <=> col(s"_gq_s$i") }
      .foldLeft(key <=> col("_gq_kv"))(_ && _)
    t.df.join(broadcast(winners), cond, "left_semi")
  }

  /** Deterministic token-budget head: "take the first `budget` tokens of
    * the shuffled corpus" — the sampling knob of a scaled-down training run
    * ("pull 1B tokens of this mix"). Documents stream in [[shuffleKey]]
    * order (reproducible, retry-stable); the head is cut AFTER the document
    * in which the running token total reaches `budget`, so the result
    * covers ≥ budget tokens whenever the corpus has them. Emits
    * `shuffle_key` and the exclusive running total `tokens_before` so
    * consumers (and the oracle) can verify the cut.
    *
    * Scale shape: no global sort and no single-partition window. The md5
    * key's first `blockChars` hex digits split the stream into 16^blockChars
    * lexicographic blocks (uniform by construction); the running total is
    * a [[graft.core.BlockScan]] — per-block window sums (parallel across
    * blocks) + the exclusive prefix of the per-block totals, broadcast
    * back. One hash exchange on the block key; blocks whose prefix is
    * already past the budget are pruned before the join. */
  def takeTokenBudget(df: DataFrame, idCol: String, tokenCount: Column,
                      budget: Long, seed: String = "0",
                      blockChars: Int = 4): DataFrame = {
    require(budget > 0, "takeTokenBudget needs a positive token budget")
    // upper bound keeps the per-block totals frame tiny BY CONSTRUCTION
    // (16^5 = ~1M rows worst case — a safe window input and broadcast);
    // larger prefixes would degenerate toward one block per row,
    // reinstating the single-partition window this operator exists to avoid
    require(blockChars >= 1 && blockChars <= 5,
      s"takeTokenBudget: blockChars must be in [1, 5], got $blockChars")
    require(!df.columns.exists(Set("shuffle_key", "tokens_before")),
      "takeTokenBudget emits shuffle_key/tokens_before; the input already has one")
    // null/negative counts contribute 0 tokens rather than poisoning the
    // running sum (the malformed-row discipline of hashBucket)
    val tok = greatest(coalesce(tokenCount.cast("long"), lit(0L)), lit(0L))
    val keyed = df
      .withColumn("shuffle_key", shuffleKey(col(idCol), seed))
      .withColumn("_gq_tok", tok)
      .withColumn("_gq_blk", substring(col("shuffle_key"), 1, blockChars))
    val wBlk = Window.partitionBy(col("_gq_blk"))
      .orderBy(col("shuffle_key"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // blocks whose whole prefix is already past the budget can never
    // contribute a row — dropping them prunes the join (and with it the
    // data-side window work) to the head blocks only
    BlockScan.exclusive(keyed, "_gq_blk", sum(col("_gq_tok")), sum, "_gq_pref",
        zero = Some(lit(0L)), keep = _ < budget)
      .withColumn("tokens_before",
        col("_gq_pref") + sum(col("_gq_tok")).over(wBlk) - col("_gq_tok"))
      .filter(col("tokens_before") < budget)
      .drop("_gq_blk", "_gq_pref", "_gq_tok")
  }

  /** Token-budget sequence packing: rows (in natural order) are assigned to
    * context-window bins of `budget` tokens at their exclusive prefix token
    * offset — bin = floor(prefix / budget), the chunk-at-offset packing used
    * by pretraining pipelines (a document straddling a bin boundary is split
    * at tokenization time; exact greedy first-fit is inherently sequential).
    * The prefix sum is GTable.cumulative, a [[graft.core.BlockScan]] — no
    * global single-partition window, so the pass stays parallel at any
    * scale.
    * Returns one row per bin: doc count, token total, first/last id. */
  def packBins(t: GTable, idCol: String, tokenCount: Column,
               budget: Long): DataFrame = {
    require(budget > 0, "packBins needs a positive token budget")
    val cum = t.project("_gq_tok" -> tokenCount.cast("long"))
      .cumulative(col("_gq_tok"), "_gq_cum", sum, (a, b) => a + b)
    cum.df
      .withColumn("bin",
        floor((col("_gq_cum") - col("_gq_tok")) / lit(budget).cast("double"))
          .cast("long"))
      .groupBy("bin")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("_gq_tok")).as("tokens"),
        min_by(col(idCol), col(Natural.rid)).as("first_id"),
        max_by(col(idCol), col(Natural.rid)).as("last_id"))
  }
}
