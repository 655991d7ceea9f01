package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: language ID
  * (stopword-ratio heuristic), quality scoring, token counting, and a
  * deterministic rolling-hash document fingerprint. Pure Column expressions
  * — every one reproducible in ANSI SQL for the oracle.
  */
object TextAnalysis {

  private val stopwords: Map[String, Seq[String]] =
    graft.expressions.TextStats.Stopwords

  def tokens(text: Column): Column = split(lower(text), "\\s+")

  /** One-pass fused metric primitives ([[graft.expressions.TextStats]]):
    * every per-document metric below derives from this struct with plain
    * field arithmetic. HOT PATHS MUST PROJECT THIS ONCE as a real column
    * and use the `...From(st)` derivations — the text-taking convenience
    * overloads re-evaluate the (compiled, but full-pass) stats expression
    * per metric reference. */
  def stats(text: Column): Column = {
    val spark = org.apache.spark.sql.SparkSession.active
    graft.expressions.TextFunctions.textStats(spark, text)
  }

  private def swRatioFrom(st: Column, lang: String): Column =
    st.getField(s"sw_$lang").cast("double") /
      greatest(st.getField("n_tokens"), lit(1))

  /** Fraction of tokens that are stopwords of `lang`. */
  def stopwordRatio(text: Column, lang: String): Column =
    swRatioFrom(stats(text), lang)

  /** Composable witness for [[stopwordRatio]] (parity spec only: the token
    * array is re-split per reference in interpreted evaluation). */
  def stopwordRatioComposable(text: Column, lang: String): Column = {
    val sw = stopwords(lang)
    val toks = tokens(text)
    size(filter(toks, t => t.isInCollection(sw))).cast("double") /
      greatest(size(toks), lit(1))
  }

  /** Heuristic language ID over the configured stopword sets: highest
    * ratio wins, ties broken by language code order (en > es > de by
    * >= comparisons). */
  def langIdFrom(st: Column): Column = {
    val en = swRatioFrom(st, "en")
    val es = swRatioFrom(st, "es")
    val de = swRatioFrom(st, "de")
    when(en >= es && en >= de, lit("en"))
      .when(es >= de, lit("es"))
      .otherwise(lit("de"))
  }

  def langId(text: Column): Column = langIdFrom(stats(text))

  /** Composable witness for [[langId]]. */
  def langIdComposable(text: Column): Column = {
    val en = stopwordRatioComposable(text, "en")
    val es = stopwordRatioComposable(text, "es")
    val de = stopwordRatioComposable(text, "de")
    when(en >= es && en >= de, lit("en"))
      .when(es >= de, lit("es"))
      .otherwise(lit("de"))
  }

  /** Quality metrics: char/token counts, mean token length, type-token
    * ratio, stopword ratio, and a composite [0,1] score. */
  def qualityMetricsFrom(st: Column): Seq[(String, Column)] = {
    val nChars = st.getField("n_chars")
    val nToks = st.getField("n_tokens")
    val meanLen = nChars.cast("double") / greatest(nToks, lit(1))
    val ttr = st.getField("n_distinct").cast("double") / greatest(nToks, lit(1))
    val swr = swRatioFrom(st, "en")
    Seq(
      "n_chars" -> nChars,
      "n_tokens" -> nToks,
      "mean_tok_len" -> meanLen,
      "type_token_ratio" -> ttr,
      "stopword_ratio" -> swr,
      "quality" -> least(greatest(
        (ttr * 0.5) + (swr * 0.3) +
          (when(nToks >= 50 && nToks <= 1000, 0.2).otherwise(0.0)),
        lit(0.0)), lit(1.0)))
  }

  def qualityMetrics(text: Column): Seq[(String, Column)] =
    qualityMetricsFrom(stats(text))

  /** Composable witness for [[qualityMetrics]]. */
  def qualityMetricsComposable(text: Column): Seq[(String, Column)] = {
    val toks = tokens(text)
    val nChars = length(text)
    val nToks = size(toks)
    val meanLen = nChars.cast("double") / greatest(nToks, lit(1))
    val ttr = size(array_distinct(toks)).cast("double") / greatest(nToks, lit(1))
    val swr = stopwordRatioComposable(text, "en")
    Seq(
      "n_chars" -> nChars,
      "n_tokens" -> nToks,
      "mean_tok_len" -> meanLen,
      "type_token_ratio" -> ttr,
      "stopword_ratio" -> swr,
      "quality" -> least(greatest(
        (ttr * 0.5) + (swr * 0.3) +
          (when(nToks >= 50 && nToks <= 1000, 0.2).otherwise(0.0)),
        lit(0.0)), lit(1.0)))
  }

  /** Token counts: whitespace tokens and BPE-ish regex pieces
    * (letter runs / digit runs / single other chars). */
  def tokenCountsFrom(st: Column): Seq[(String, Column)] = Seq(
    "ws_tokens" -> st.getField("n_tokens"),
    "bpe_ish_tokens" -> st.getField("bpe_ish"))

  def tokenCounts(text: Column): Seq[(String, Column)] =
    tokenCountsFrom(stats(text))

  /** Composable witness for [[tokenCounts]]. */
  def tokenCountsComposable(text: Column): Seq[(String, Column)] = Seq(
    "ws_tokens" -> size(tokens(text)),
    "bpe_ish_tokens" -> size(call_function("regexp_extract_all",
      lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))))

  /** Deterministic rolling-hash fingerprint: outer polynomial fold over
    * tokens, inner fold over character codes — mod 1e9+7 keeps every
    * intermediate exact in a long (ANSI-safe) and is reproducible in SQL.
    * Composable reference form; [[fingerprint]] is the fused compiled
    * expression with bit-identical results (spec-asserted). */
  def fingerprintComposable(text: Column): Column = {
    val toks = tokens(text)
    val tokenKey = (t: Column) => aggregate(
      transform(sequence(lit(1), greatest(length(t), lit(1))),
        i => ascii(substring(t, i, lit(1))).cast("long")),
      lit(7L), (acc, c) => (acc * 131 + c) % 1000000007L)
    aggregate(toks, lit(0L), (acc, t) => (acc * 31 + tokenKey(t)) % 1000000007L)
  }

  /** Fused fingerprint (one compiled pass per doc — the per-character
    * interpreted lambdas of the composable form dominate at scale). */
  def fingerprint(text: Column): Column = {
    val spark = org.apache.spark.sql.SparkSession.active
    graft.expressions.TextFunctions.fingerprint(spark, text)
  }

  /** Word n-grams as space-joined strings; empty array when the document
    * has fewer than n tokens (`sequence(1, k)` would count DOWN for k < 1,
    * so the guard is load-bearing). */
  def wordNgrams(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j)): _*)))
      .otherwise(array().cast("array<string>"))

  /** One sorted pass over an n-gram array: struct(best = occurrences of the
    * most common gram, dup = total occurrences belonging to grams seen more
    * than once). Equal grams are adjacent after sort_array, so both stats
    * are a run-length fold — O(n log n) per document. The naive
    * count-each-distinct-gram form (filter inside transform) re-evaluates
    * the gram array per distinct element: O(n³) per doc with interpreted
    * lambdas, measured 150-320 s over 500 docs vs seconds for this fold. */
  private def gramRunStats(grams: Column): Column =
    aggregate(sort_array(grams),
      struct(lit(null).cast("string").as("prev"), lit(0).as("run"),
        lit(0).as("best"), lit(0).as("dup")),
      (acc, x) => {
        val cont = x <=> acc.getField("prev")
        val run2 = when(cont, acc.getField("run") + 1).otherwise(lit(1))
        struct(x.as("prev"), run2.as("run"),
          greatest(acc.getField("best"), run2).as("best"),
          // a run reaching length 2 contributes both members; each further
          // member adds 1 — so a run of length L > 1 contributes exactly L
          (acc.getField("dup") + when(cont,
            when(acc.getField("run") === 1, lit(2)).otherwise(lit(1)))
            .otherwise(lit(0))).as("dup"))
      })

  /** Gopher-style repetition metrics (Rae et al. 2021, public): fraction of
    * n-gram occurrences claimed by the most common word 2-gram, and the
    * fraction of word 3-gram occurrences that are duplicates (count > 1).
    * Pure per-row compute inside one projection — scales with executors,
    * no shuffle, no state. */
  def repetitionMetricsFrom(st: Column): Seq[(String, Column)] = {
    val topBigramFrac = when(st.getField("n_bigrams") > 0,
      st.getField("top_bigram").cast("double") / st.getField("n_bigrams"))
      .otherwise(lit(0.0))
    val dupTrigramFrac = when(st.getField("n_trigrams") > 0,
      st.getField("dup_trigrams").cast("double") / st.getField("n_trigrams"))
      .otherwise(lit(0.0))
    Seq(
      "top_bigram_frac" -> topBigramFrac,
      "dup_trigram_frac" -> dupTrigramFrac)
  }

  def repetitionMetrics(text: Column): Seq[(String, Column)] =
    repetitionMetricsFrom(stats(text))

  /** Composable witness for [[repetitionMetrics]]. */
  def repetitionMetricsComposable(text: Column): Seq[(String, Column)] = {
    val toks = tokens(text)
    val bi = wordNgrams(toks, 2)
    val tri = wordNgrams(toks, 3)
    val topBigramFrac = when(size(bi) > 0,
      gramRunStats(bi).getField("best").cast("double") / size(bi))
      .otherwise(lit(0.0))
    val dupTrigramFrac = when(size(tri) > 0,
      gramRunStats(tri).getField("dup").cast("double") / size(tri))
      .otherwise(lit(0.0))
    Seq(
      "top_bigram_frac" -> topBigramFrac,
      "dup_trigram_frac" -> dupTrigramFrac)
  }

  /** Gopher-style document statistics: mean word length, fraction of words
    * containing an alphabetic character, symbol-only-word ratio, and the
    * count of distinct English stopwords present (a document with none is
    * usually boilerplate or non-English). All exact integer arithmetic until
    * the final division, so the oracle reproduces them bit-for-bit. */
  def gopherMetricsFrom(st: Column): Seq[(String, Column)] = {
    val n = greatest(st.getField("n_tokens"), lit(1))
    Seq(
      "mean_word_len" -> (st.getField("sum_tok_len").cast("double") / n),
      "alpha_word_frac" -> (st.getField("alpha_words").cast("double") / n),
      "symbol_word_ratio" -> (st.getField("symbol_words").cast("double") / n),
      "stopword_hits" -> st.getField("stop_hits_en"))
  }

  def gopherMetrics(text: Column): Seq[(String, Column)] =
    gopherMetricsFrom(stats(text))

  /** Composable witness for [[gopherMetrics]]. */
  def gopherMetricsComposable(text: Column): Seq[(String, Column)] = {
    val toks = tokens(text)
    val n = greatest(size(toks), lit(1))
    val meanWordLen = aggregate(toks, lit(0L),
      (a, t) => a + length(t)).cast("double") / n
    val alphaWordFrac =
      size(filter(toks, t => t.rlike("[a-z]"))).cast("double") / n
    val symbolWordRatio =
      size(filter(toks, t => !t.rlike("[a-z0-9]"))).cast("double") / n
    val stopwordHits = size(array_intersect(
      array_distinct(toks), array(stopwords("en").map(lit): _*)))
    Seq(
      "mean_word_len" -> meanWordLen,
      "alpha_word_frac" -> alphaWordFrac,
      "symbol_word_ratio" -> symbolWordRatio,
      "stopword_hits" -> stopwordHits)
  }

  /** Composite Gopher-rule keep/drop predicate. Thresholds follow the
    * published rule shapes (length window, mean-word-length window, symbol
    * and alpha ratios, stopword presence, repetition caps); the n-gram caps
    * are tuned to this corpus's distribution so the filter is a real split
    * rather than pass-all. A pure boolean Column — usable as a batch filter,
    * a streaming filter, or a labeling projection. */
  def gopherFilterFrom(st: Column): Column = {
    val rep = repetitionMetricsFrom(st).toMap
    val gm = gopherMetricsFrom(st).toMap
    st.getField("n_tokens").between(40, 10000) &&
      gm("mean_word_len").between(3.0, 10.0) &&
      gm("alpha_word_frac") > 0.8 &&
      gm("symbol_word_ratio") < 0.1 &&
      gm("stopword_hits") >= 1 &&
      rep("top_bigram_frac") < 0.09 &&
      rep("dup_trigram_frac") < 0.25
  }

  def gopherFilter(text: Column): Column = gopherFilterFrom(stats(text))

  /** Composable witness for [[gopherFilter]]. */
  def gopherFilterComposable(text: Column): Column = {
    val toks = tokens(text)
    val rep = repetitionMetricsComposable(text).toMap
    val gm = gopherMetricsComposable(text).toMap
    size(toks).between(40, 10000) &&
      gm("mean_word_len").between(3.0, 10.0) &&
      gm("alpha_word_frac") > 0.8 &&
      gm("symbol_word_ratio") < 0.1 &&
      gm("stopword_hits") >= 1 &&
      rep("top_bigram_frac") < 0.09 &&
      rep("dup_trigram_frac") < 0.25
  }

  /** Collapse immediate token repeats ("fast fast fast table" → "fast
    * table") — the cheapest intra-document repetition scrub, one fused
    * compiled pass ([[graft.expressions.CollapseRepeats]]). */
  def dedupConsecutiveTokens(text: Column): Column = {
    val spark = org.apache.spark.sql.SparkSession.active
    graft.expressions.TextFunctions.collapseRepeats(spark, text)
  }

  /** Composable witness for [[dedupConsecutiveTokens]] (parity spec only:
    * element_at(toks, i) inside the filter lambda re-splits per element). */
  def dedupConsecutiveTokensComposable(text: Column): Column = {
    val toks = tokens(text)
    concat_ws(" ", filter(toks,
      (t, i) => i === 0 || !(t <=> element_at(toks, i))))
  }

  /** CCNet-style LM quality score: per-document mean unigram
    * log-probability under the corpus's OWN unigram distribution (documents
    * of improbable tokens — boilerplate, gibberish, wrong-language — score
    * low and get filtered). Two passes: corpus token counts (map-side
    * combinable groupBy) with the total collected as one driver scalar,
    * then a broadcast join of the vocab onto the exploded tokens and a
    * per-doc mean of ln p(token). At 100 TB the vocab frame is the only
    * broadcast state and the doc-level mean is a map-side-combinable
    * aggregation — no row-scale shuffle beyond the token join. */
  /** PII scrubbing: mask emails, IPv4 addresses, and +-prefixed phone
    * numbers with typed placeholders — the redaction pass a training-data
    * pipeline runs before anything else sees the text. Pure chained
    * regexp_replace (codegen'd, scan-stage); the patterns are RE2-safe
    * (no backreferences/lookarounds) so correctness oracles can run the
    * SAME regexes. Order matters: emails first (they contain dots and
    * digits an IP/phone pattern could partially claim). Conservative by
    * design — a precision-first mask set; recall-heavy PII systems layer
    * NER on top. */
  def scrubPii(text: Column): Column = {
    val email = regexp_replace(text,
      "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}", "<EMAIL>")
    val ip = regexp_replace(email,
      "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>")
    regexp_replace(ip, "\\+\\d{7,15}\\b", "<PHONE>")
  }

  /** Fixed-size overlapping token chunks over a PRE-TOKENIZED array
    * column — chunk i covers tokens [i·stride, i·stride + chunkSize) with
    * stride = chunkSize − overlap; the last chunk may be short; ≤ chunkSize
    * tokens is one chunk. Taking the token array (not the text) matters
    * for cost: referencing a split() expression inside the per-chunk
    * lambda would re-tokenize the whole document once per chunk (no CSE
    * across interpreted HOFs) — callers bind the array to a real column
    * first ([[chunked]] does). */
  def chunksOf(toks: Column, chunkSize: Int, overlap: Int): Column = {
    require(chunkSize > 0 && overlap >= 0 && overlap < chunkSize,
      "chunks needs chunkSize > overlap >= 0")
    val stride = chunkSize - overlap
    val n = when(size(toks) <= chunkSize, lit(1))
      .otherwise(ceil(
        (size(toks) - lit(chunkSize)) / lit(stride.toDouble)).cast("int") + 1)
    when(size(toks) >= 1,
      transform(sequence(lit(0), n - 1),
        i => array_join(slice(toks, i * stride + 1, lit(chunkSize)), " ")))
      .otherwise(array().cast("array<string>"))
  }

  /** RAG/pretraining chunking pass: (id, chunk_idx, chunk) rows, original
    * case preserved. The token array is projected as its own column before
    * the chunk expression so the document is tokenized ONCE per row
    * (Catalyst's CollapseProject keeps the projections apart — the array
    * is referenced by several sub-expressions). Empty and whitespace-only
    * documents yield zero chunks (split of "" returns [""], so a bare
    * size >= 1 guard would emit an empty chunk per blank doc). */
  def chunked(df: org.apache.spark.sql.DataFrame, textCol: String,
              idCol: String, chunkSize: Int, overlap: Int):
      org.apache.spark.sql.DataFrame =
    df.filter(length(trim(col(textCol))) > 0)
      .select(col(idCol), split(col(textCol), "\\s+").as("_gq_toks"))
      .select(col(idCol),
        posexplode(chunksOf(col("_gq_toks"), chunkSize, overlap))
          .as(Seq("chunk_idx", "chunk")))

  /** Per-document top-k terms by tf-idf — the keyword-extraction pass of a
    * corpus-analytics pipeline. tf-idf = (tf / docLen) · ln(N / df); ties in
    * the (4-decimal-rounded) score break on the term so the top-k set is
    * deterministic cross-engine (ranking on the raw double would let a
    * last-ulp ln() difference flip near-equal ranks between engines).
    *
    * Scale shape: ONE map-side-combinable aggregation over the token
    * stream (per-(doc, term) tf); the per-term document frequency is a
    * count over a window PARTITIONED BY TERM on that same tf frame — the
    * tf subtree tokenizes the corpus once and the df_t attach costs one
    * exchange of the (doc, term) rows instead of a groupBy(term) twin
    * whose pruned lineage used to RE-TOKENIZE the whole corpus (Spark
    * cannot reuse an exchange under two differently-pruned copies of the
    * same aggregation, so the old tf ⋈ dfreq join scanned and exploded
    * the documents twice — guide §2.4). The corpus doc count rides a
    * broadcast 1-row frame, and the top-k window partitions by DOCUMENT —
    * parallelism grows with the corpus, no low-cardinality window
    * ceiling. Document length is a window sum over the SAME
    * id-partitioning the top-k window needs (one exchange feeds both).
    * Output: (id, term, tf, df_t, tfidf), k rows per doc. */
  def tfidfTopTerms(df: org.apache.spark.sql.DataFrame, textCol: String,
                    idCol: String, k: Int): org.apache.spark.sql.DataFrame = {
    require(k > 0, "tfidfTopTerms needs k > 0")
    val toks = df.select(col(idCol).as("id"),
      explode(tokens(col(textCol))).as("term"))
    val tf = toks.groupBy("id", "term").agg(count(lit(1)).as("tf"))
    // df_t = number of documents containing the term = rows per term of
    // the tf frame (each (id, term) appears once) — identical to the
    // former inner join against groupBy(term).count(), which could never
    // drop rows (every term trivially matches its own group)
    val wTerm = org.apache.spark.sql.expressions.Window.partitionBy("term")
    val n = df.select(countDistinct(col(idCol)).as("_gq_n"))
    val wLen = org.apache.spark.sql.expressions.Window.partitionBy("id")
    val scored = tf.withColumn("df_t", count(lit(1)).over(wTerm))
      .crossJoin(broadcast(n))
      .withColumn("tfidf", round(
        (col("tf") / sum("tf").over(wLen)) *
          log(col("_gq_n").cast("double") / col("df_t")), 4))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("id")
      .orderBy(col("tfidf").desc, col("term").asc)
    scored.withColumn("_gq_rn", row_number().over(w))
      .filter(col("_gq_rn") <= k)
      .select(col("id").as(idCol), col("term"), col("tf"), col("df_t"), col("tfidf"))
  }

  def unigramLogProb(df: org.apache.spark.sql.DataFrame, idCol: String,
                     textCol: String): org.apache.spark.sql.DataFrame = {
    val toks = df.select(col(idCol).as(idCol),
      explode(tokens(col(textCol))).as("_gq_t"))
    val vocab = toks.groupBy("_gq_t").agg(count(lit(1)).as("_gq_c"))
    // sum() over an empty vocab is SQL NULL — an empty corpus must yield an
    // empty result, not a driver NullPointerException
    val total = Option(vocab.agg(sum(col("_gq_c"))).collect()(0).get(0))
      .map(_.asInstanceOf[Long]).getOrElse(1L)
    toks.join(broadcast(vocab), Seq("_gq_t"))
      .groupBy(idCol)
      .agg(avg(log(col("_gq_c").cast("double") / total)).as("logprob"))
  }

  /** Hashed unigram feature index: md5-derived (oracle-reproducible in any
    * engine with md5) bucket of a token into [0, dim). The "f:" domain
    * prefix keeps this hash family disjoint from the sampling buckets and
    * the MinHash/LSH md5 families. */
  def featureIdx(tok: Column, dim: Int): Column =
    Hashing.md5Long(concat(lit("f:"), tok)) % dim

  /** fastText-style linear quality-classifier SCORING (the model is trained
    * offline — scoring a trained classifier over the corpus is the pipeline
    * operator; cf. the GPT-3/CCNet quality-filter recipe). Features are
    * hashed unigrams; the doc score is the MEAN feature weight (fastText
    * averages its token features) plus a bias; `prob` is the logistic of
    * the score.
    *
    * `weights`: (idx long, weight double) — a model is at most `dim` rows,
    * so it broadcasts; absent indices weigh 0. CONTRACT: `idx` must be
    * unique — a duplicated index fans out the feature join and skews the
    * mean (the model is a function, not a multiset). The corpus side is one
    * linear explode + map-side-combinable mean: no shuffle ever carries
    * text, and the only exchange is the per-doc aggregation. Documents with
    * null/empty text keep ONE null-token row (explode_outer) that matches
    * no weight, so they score exactly `bias` instead of vanishing. Output:
    * (idCol, score, prob). */
  def scoreLinear(df: org.apache.spark.sql.DataFrame, textCol: String,
                  idCol: String, weights: org.apache.spark.sql.DataFrame,
                  dim: Int, bias: Double,
                  cached: Boolean = true): org.apache.spark.sql.DataFrame =
    if (!cached) scoreLinearCompute(df, textCol, idCol, weights, dim, bias)
    else {
      // same steady-state serving tier as the dsir lw cache: the scored
      // frame is a pure function of (corpus, model, textCol, dim, bias)
      // and narrow (~24 bytes/doc) — repeated qualityScore requests reuse
      // it instead of re-running the corpus-wide scoring join
      val key = s"ql|${System.identityHashCode(df.sparkSession)}|" +
        s"${frameKey(df)}|${frameKey(weights)}|$textCol|$idCol|$dim|$bias"
      lwCache.computeIfAbsent(key, _ => {
        lwBuildCount.incrementAndGet()
        scoreLinearCompute(df, textCol, idCol, weights, dim, bias)
          .localCheckpoint(true)
      })
    }

  private def scoreLinearCompute(df: org.apache.spark.sql.DataFrame,
                  textCol: String, idCol: String,
                  weights: org.apache.spark.sql.DataFrame,
                  dim: Int, bias: Double): org.apache.spark.sql.DataFrame = {
    require(dim > 0, "scoreLinear needs dim > 0")
    val feats = df.select(col(idCol),
      explode_outer(tokens(col(textCol))).as("_gq_t"))
      .select(col(idCol), featureIdx(col("_gq_t"), dim).as("_gq_idx"))
    val w = weights.select(col("idx").cast("long").as("_gq_idx"),
      col("weight").cast("double").as("_gq_w"))
    feats.join(broadcast(w), Seq("_gq_idx"), "left")
      .groupBy(idCol)
      .agg((avg(coalesce(col("_gq_w"), lit(0.0))) + bias).as("score"))
      .withColumn("prob", lit(1.0) / (lit(1.0) + exp(-col("score"))))
  }

  /** DSIR importance log-weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): per-doc
    * lw = Σ_tokens ln(p_target(b)/p_raw(b)) over hashed unigram buckets,
    * add-one smoothed over the `dim` buckets so unseen buckets stay
    * finite. Both distributions reduce to `dim`-row broadcast tables
    * (count every bucket once over each corpus); the raw corpus is then
    * one linear pass joined against the broadcast log-ratio table — at
    * 100 TB the target (the small high-quality corpus) is read once and
    * the raw side never shuffles text. Output: (idCol, lw). */
  /** In-memory cache of hashed-unigram bucket-count model tables (dim rows,
    * localCheckpointed) — the serving fix for the round-9 soak finding that
    * every dsirSelect request re-estimated BOTH corpus distributions (a full
    * corpus scan each) before the per-doc scoring join it actually needed.
    * Key = [[frameKey]] + session identity + (textCol, dim). LRU-bounded
    * at the index-cache cap like every serving-lifetime registry; an
    * evicted model re-estimates on its next request. */
  private val unigramModelCache =
    new IndexMaint.LruCache[org.apache.spark.sql.DataFrame](IndexMaint.cacheCap _)

  /** Cross-request identity of a frame for the memo caches here: the hash
    * of its canonicalized plan string (two different targetWhere filters
    * over the same files must not collide) + its input-file fingerprint
    * (an in-place rewrite misses and recomputes). The plan string of an
    * in-memory relation does not show its rows, so a frame without file
    * lineage also keys on the plan's semanticHash. */
  private def frameKey(df: org.apache.spark.sql.DataFrame): String = {
    val plan = df.queryExecution.analyzed.canonicalized
    val fp = IndexMaint.fingerprint(df)
    s"${IndexMaint.keyHash(plan.toString)}|$fp" +
      (if (fp == "nofiles") s"|${plan.semanticHash()}" else "")
  }

  /** Model estimations actually run (cache hits do NOT increment) —
    * serving-tier observability, mirrors Dedup.minhashBuildCount. */
  private[graft] val unigramModelBuildCount =
    new java.util.concurrent.atomic.AtomicLong

  private def bucketCountsOf(df: org.apache.spark.sql.DataFrame,
                             textCol: String, dim: Int) =
    df.select(explode(tokens(col(textCol))).as("_gq_t"))
      .select(featureIdx(col("_gq_t"), dim).as("_gq_idx"))
      .groupBy("_gq_idx").agg(count(lit(1)).as("_gq_c"))

  /** Cached [[bucketCountsOf]]: at most `dim` rows, eagerly materialized
    * (localCheckpoint) so later requests against the same corpus skip the
    * full-scan estimation. computeIfAbsent serializes concurrent first
    * requests for the same key — no estimation stampede. */
  private def bucketCountsFor(df: org.apache.spark.sql.DataFrame,
                              textCol: String, dim: Int) = {
    val key = s"ug|${System.identityHashCode(df.sparkSession)}|" +
      s"${frameKey(df)}|$textCol|$dim"
    unigramModelCache.computeIfAbsent(key, _ => {
      unigramModelBuildCount.incrementAndGet()
      bucketCountsOf(df, textCol, dim).localCheckpoint(true)
    })
  }

  /** Drop every cached unigram model AND cached importance-weight frame
    * (the corpus fingerprint already invalidates rewritten data
    * automatically; this frees the memory). */
  def invalidateUnigramModels(): Unit = {
    unigramModelCache.clear()
    lwCache.clear()
  }

  /** Cached per-doc importance log-weights: lw is a PURE deterministic
    * function of (raw, target, textCol, dim) — a seed/k change between
    * dsirSelect requests reuses it untouched — and the frame is NARROW
    * (id, lw double): ~16 bytes/doc spread over the executors
    * (localCheckpoint, memory-and-disk), so even a billion-doc corpus
    * caches in tens of GB cluster-wide while each request saves a full
    * corpus text scan. The round-9 soak priced that scan at 8 s p50 of a
    * 17 s request; with this tier a steady-state dsirSelect pays only the
    * Gumbel projection + top-k over the narrow frame. [[scoreLinear]]'s
    * scored frames share it; LRU-bounded like [[unigramModelCache]]. */
  private[graft] val lwCache =
    new IndexMaint.LruCache[org.apache.spark.sql.DataFrame](IndexMaint.cacheCap _)

  /** lw scoring passes actually run (cache hits do NOT increment). */
  private[graft] val lwBuildCount =
    new java.util.concurrent.atomic.AtomicLong

  def dsirLogWeights(raw: org.apache.spark.sql.DataFrame,
                     target: org.apache.spark.sql.DataFrame,
                     textCol: String, idCol: String,
                     dim: Int, cached: Boolean = true): org.apache.spark.sql.DataFrame =
    if (!cached) dsirLogWeightsCompute(raw, target, textCol, idCol, dim, cached)
    else {
      val key = s"lw|${System.identityHashCode(raw.sparkSession)}|" +
        s"${frameKey(raw)}|${frameKey(target)}|$textCol|$idCol|$dim"
      lwCache.computeIfAbsent(key, _ => {
        lwBuildCount.incrementAndGet()
        dsirLogWeightsCompute(raw, target, textCol, idCol, dim, cached)
          .localCheckpoint(true)
      })
    }

  private def dsirLogWeightsCompute(raw: org.apache.spark.sql.DataFrame,
                     target: org.apache.spark.sql.DataFrame,
                     textCol: String, idCol: String,
                     dim: Int, cached: Boolean): org.apache.spark.sql.DataFrame = {
    require(dim > 0, "dsirLogWeights needs dim > 0")
    val spark = org.apache.spark.sql.SparkSession.active
    def bucketCounts(df: org.apache.spark.sql.DataFrame) =
      if (cached) bucketCountsFor(df, textCol, dim)
      else bucketCountsOf(df, textCol, dim)
    val rawB = bucketCounts(raw)
    val tgtB = bucketCounts(target)
    // log-ratio over ALL dim buckets (absent → add-one smoothing only);
    // totals ride along as broadcast 1-row frames, never a driver collect
    val rawTot = rawB.agg(coalesce(sum("_gq_c"), lit(0L)).as("_gq_rt"))
    val tgtTot = tgtB.agg(coalesce(sum("_gq_c"), lit(0L)).as("_gq_tt"))
    val ratio = spark.range(dim).select(col("id").as("_gq_idx"))
      .join(rawB, Seq("_gq_idx"), "left")
      .withColumnRenamed("_gq_c", "_gq_cr")
      .join(tgtB, Seq("_gq_idx"), "left")
      .withColumnRenamed("_gq_c", "_gq_ct")
      .crossJoin(broadcast(rawTot)).crossJoin(broadcast(tgtTot))
      .select(col("_gq_idx"),
        (log((coalesce(col("_gq_ct"), lit(0L)) + lit(1)).cast("double") /
             (col("_gq_tt") + lit(dim)).cast("double")) -
         log((coalesce(col("_gq_cr"), lit(0L)) + lit(1)).cast("double") /
             (col("_gq_rt") + lit(dim)).cast("double"))).as("_gq_lr"))
    raw.select(col(idCol), explode(tokens(col(textCol))).as("_gq_t"))
      .select(col(idCol), featureIdx(col("_gq_t"), dim).as("_gq_idx"))
      .join(broadcast(ratio), Seq("_gq_idx"))
      .groupBy(idCol)
      .agg(sum(col("_gq_lr")).as("lw"))
  }

  /** DSIR selection: Gumbel-top-k over the importance log-weights — the
    * paper's sampling-without-replacement trick (add Gumbel noise
    * g = −ln(−ln(u)) with u an md5-derived per-doc uniform, take the k
    * largest lw+g). Deterministic under retries/repartitioning, and
    * CROSS-ENGINE deterministic by contract: the selection key is
    * round(lw+g, 6) with the id as tie-break, so an oracle recomputing
    * the same md5 uniforms ranks identically (raw FP sums differ at
    * ~1e-12 across engines; the 1e-6 grid puts rank flips 6 orders
    * below the noise). Runs on the distributed rankings path (global
    * top-k via GTable.order limit), not a single-task window.
    * Output: (idCol, lw, gscore) for the k selected docs. */
  def dsirResample(raw: org.apache.spark.sql.DataFrame,
                   target: org.apache.spark.sql.DataFrame,
                   textCol: String, idCol: String, dim: Int, k: Int,
                   seed: String): org.apache.spark.sql.DataFrame = {
    require(k > 0, "dsirResample needs k > 0")
    val lw = dsirLogWeights(raw, target, textCol, idCol, dim)
    val uMax = 1152921504606846976L // 16^15: md5Long range, so u ∈ (0,1)
    val u = (Hashing.md5Long(concat(lit(seed + ":"), col(idCol).cast("string")))
      .cast("double") + lit(0.5)) / lit(uMax.toDouble)
    val scored = lw.withColumn("gscore",
      round(col("lw") - log(-log(u)), 6))
    graft.core.GTable(scored)
      .order(Seq(col("gscore").desc, col(idCol).asc), limit = Some(k))
      .result
  }
}
