package graft.queries

import org.apache.spark.sql.functions._
import graft.core.{GTable, Tables}
import graft.operators.{Dedup, Sampling, Similarity, TextAnalysis, TextSearch}

/** Training-data pipeline queries: dedup, similarity search, text analysis
  * over the documents/embeddings tables. Exact-algorithm variants carry
  * DuckDB oracles; hash-seeded probabilistic variants (MinHash/SimHash/LSH)
  * are rows-only here and recall-tested in PipelineSpec.
  */
object PipelineQueries {

  /** Oracle-SQL builder: sequential double dot fold over two DuckDB DOUBLE
    * lists — the exact mirror of Similarity.dot's left fold (see
    * duckdb list_reduce(list_prepend(...)) parity rule). */
  private[queries] def dotSql(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |  list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i])),
       |  (x, y) -> x + y)""".stripMargin

  private[queries] def cosSql(a: String, b: String): String =
    s"${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"

  /** Oracle-SQL fragment: the LSH sign buckets of [[Similarity.lshBucket]] —
    * md5-derived plane grid recomputed in SQL, per-vector sign bits, bucket
    * string per (vector, table). Expects a CTE `v(vec_id, e)` in scope. */
  private[queries] def lshBucketsSql(planes: Int, dim: Int, tables: Int): String =
    s"""pc AS (SELECT p, list(c ORDER BY i) AS pl FROM (
       |    SELECT tp.p, ti.i,
       |      CAST(list_reduce(list_transform(range(1, 16), j ->
       |        CAST(strpos('0123456789abcdef',
       |          substr(md5(CAST(tp.p AS VARCHAR) || ':' || CAST(ti.i AS VARCHAR)),
       |            CAST(j AS INT), 1)) - 1 AS BIGINT)),
       |        (a, b) -> a * 16 + b) % 1000000 AS DOUBLE) / 1000000.0 - 0.5 AS c
       |    FROM range(0, ${tables * planes}) tp(p), range(0, $dim) ti(i))
       |  GROUP BY p),
       |bits AS (SELECT vec_id, p, d, CASE WHEN d >= 0 THEN 1 ELSE 0 END AS bit
       |  FROM (SELECT v.vec_id, pc.p, ${dotSql("v.e", "pc.pl")} AS d
       |        FROM v, pc)),
       |buck AS (SELECT vec_id, p // $planes AS t,
       |    array_to_string(list(bit ORDER BY p), '') AS bucket
       |  FROM bits GROUP BY vec_id, p // $planes)""".stripMargin

  /** Query-side multiprobe bucket CTE (`qbuck`): base bucket plus, for the
    * `probes` planes with the smallest |dot| per (query, table) — ties to
    * the lower plane index, mirroring Similarity.lshProbeBuckets — the
    * bucket string with that plane's bit flipped. Assumes the
    * [[lshBucketsSql]] CTEs (`bits`, `buck`) precede it. */
  private[queries] def lshMultiprobeSql(planes: Int, probes: Int,
                                        queryPred: String): String =
    s"""qsel AS (SELECT vec_id FROM v WHERE $queryPred),
       |qflips AS (SELECT b.vec_id, b.p // $planes AS t, b.p % $planes AS pos,
       |    b.bit,
       |    row_number() OVER (PARTITION BY b.vec_id, b.p // $planes
       |      ORDER BY abs(b.d), b.p) AS fr
       |  FROM bits b JOIN qsel USING (vec_id)),
       |qbuck AS (
       |  SELECT b.vec_id, b.t, b.bucket FROM buck b JOIN qsel USING (vec_id)
       |  UNION ALL
       |  SELECT f.vec_id, f.t,
       |    substr(bk.bucket, 1, f.pos) || CAST(1 - f.bit AS VARCHAR) ||
       |      substr(bk.bucket, f.pos + 2) AS bucket
       |  FROM qflips f JOIN buck bk ON bk.vec_id = f.vec_id AND bk.t = f.t
       |  WHERE f.fr <= $probes)""".stripMargin

  /** Exact dedup: representative doc per identical text (hash-groupBy). */
  val q_dedup_exact = Q(
    "q_dedup_exact",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      GTable(Dedup.exact(d, "text", "doc_id"))
        .order(GTable.orderKeys(Seq("doc_id")))
        .result
    },
    Some("""SELECT min(doc_id) AS doc_id FROM documents GROUP BY text
            ORDER BY doc_id"""))

  /** Exact n-gram Jaccard near-dup pairs (threshold 0.55, word 3-grams). */
  val q_dedup_jaccard = Q(
    "q_dedup_jaccard",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      GTable(Dedup.jaccardPairs(d, "text", "doc_id", n = 3, threshold = 0.55))
        .project("jaccard" -> round(col("jaccard"), 9))
        .order(GTable.orderKeys(Seq("id1", "id2")))
        .result
    },
    Some(s"""WITH ${jaccardPairsSql(0.55)}
            SELECT id1, id2, round(jaccard, 9) AS jaccard
            FROM pairs ORDER BY id1, id2"""))

  /** MinHash+LSH near-dup candidates (64 hashes, 16 bands) — rows-only:
    * xxhash64 seeds are not reproducible in the oracle; recall is asserted
    * against exact Jaccard in PipelineSpec. */
  val q_dedup_minhash = Q(
    "q_dedup_minhash",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      GTable(Dedup.minhashPairs(d, "text", "doc_id", n = 3, k = 64,
          bands = 16, threshold = 0.5))
        .order(GTable.orderKeys(Seq("id1", "id2")))
        .result
    },
    None)

  /** MinHash+LSH with md5-derived hashes: the full pipeline (seeded shingle
    * hash mins → signature → banding → bucket join → equal-component
    * verification) recomputed relationally by the oracle — the hash-matched
    * adjudication of the minhash ALGORITHM that the xxhash64 sketch
    * (q_dedup_minhash) can only get rows-only. */
  val q_dedup_minhash_md5 = Q(
    "q_dedup_minhash_md5",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      GTable(Dedup.minhashPairsMd5(d, "text", "doc_id", n = 3, k = 32,
          bands = 8, threshold = 0.5))
        .order(GTable.orderKeys(Seq("id1", "id2")))
        .result
    },
    Some(s"""WITH ${minhashMd5PairsSql(k = 32, bands = 8, threshold = 0.5)}
            SELECT id1, id2, est_jaccard FROM pairs ORDER BY id1, id2"""))

  /** Incremental near-dup against a PREBUILT MinHash band index
    * (build-once/probe-many ingestion path): corpus = doc_id < 400 written
    * as a banded+signature index, batch = doc_id ≥ 400 probed against it —
    * only the batch's signatures are computed at probe time. md5 hash
    * family, so the WHOLE path (index contents, pruned banding join,
    * corpus-side occupancy cap, signature verification) is recomputed
    * relationally by the oracle. */
  val q_dedup_idx_md5 = Q(
    "q_dedup_idx_md5",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val idx = Dedup.minhashIndexBuild(d.filter(col("doc_id") < 400),
        "text", "doc_id", path = mhIdxDir(dir), n = 3, k = 32, bands = 8,
        md5 = true, slots = 8)
      GTable(Dedup.minhashDedupAgainst(idx, d.filter(col("doc_id") >= 400),
          threshold = 0.5))
        .order(GTable.orderKeys(Seq("batch_id", "corpus_id")))
        .result
    },
    Some(s"""WITH ${minhashMd5AgainstSql(k = 32, bands = 8, threshold = 0.5,
              corpusCond = "id < 400", batchCond = "id >= 400")}
            SELECT batch_id, corpus_id, est_jaccard FROM pairs
            ORDER BY batch_id, corpus_id"""))

  /** Two-shard merge gate: the SAME probe as q_dedup_idx_md5, but the
    * corpus index is built as two independent shard indexes (doc_id < 200
    * and 200 ≤ doc_id < 400) merged via Dedup.minhashIndexMerge — the
    * per-shard indexing shape a 100 TB corpus uses. The oracle is the
    * monolithic recompute over the union corpus: merge correctness IS the
    * assertion (hash families are deterministic, so merged ≡ monolithic
    * banding, occupancy and hits). */
  val q_dedup_idx_merge = Q(
    "q_dedup_idx_merge",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val base = mhIdxDir(dir) + "_merge"
      val ia = Dedup.minhashIndexBuild(d.filter(col("doc_id") < 200),
        "text", "doc_id", path = s"$base/a", n = 3, k = 32, bands = 8,
        md5 = true, slots = 8)
      val ib = Dedup.minhashIndexBuild(
        d.filter(col("doc_id") >= 200 && col("doc_id") < 400),
        "text", "doc_id", path = s"$base/b", n = 3, k = 32, bands = 8,
        md5 = true, slots = 8)
      val merged = Dedup.minhashIndexMerge(ia, ib, s"$base/m")
      GTable(Dedup.minhashDedupAgainst(merged, d.filter(col("doc_id") >= 400),
          threshold = 0.5))
        .order(GTable.orderKeys(Seq("batch_id", "corpus_id")))
        .result
    },
    Some(s"""WITH ${minhashMd5AgainstSql(k = 32, bands = 8, threshold = 0.5,
              corpusCond = "id < 400", batchCond = "id >= 400")}
            SELECT batch_id, corpus_id, est_jaccard FROM pairs
            ORDER BY batch_id, corpus_id"""))

  /** Index base dir for the prebuilt-MinHash gate query: per-sf-dir so
    * sf0.01 and sf0.1 runs never share index files. */
  private def mhIdxDir(dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_mh_idx/${dir.replaceAll("[^A-Za-z0-9]", "_")}"

  /** Shared oracle CTE block: the md5-permutation MinHash+LSH pipeline
    * (mirror of Dedup.minhashPairsMd5 — seeded shingle hash mins →
    * signature → banding → bucket join → equal-component verification),
    * ending in `pairs(id1, id2, est_jaccard)`. */
  /** Shared oracle CTE prefix: md5-permutation signatures + banding for
    * every document, ending in `sig(id, sg)` and `banded(id, band,
    * bucket)`. Used by the self-join ([[minhashMd5PairsSql]]) and the
    * index-probe cross join ([[minhashMd5AgainstSql]]) tails. `sig` and
    * `banded` are MATERIALIZED: DuckDB inlines plain CTEs per reference,
    * and the multi-reference tails (the streaming oracle reads sig 4×)
    * would otherwise recompute the ~shingles×k md5 subtree each time —
    * at ×12 amplification that parallel recompute OOMs; materialization
    * is semantically identical and makes it a one-shot. */
  private def minhashMd5BandedSql(k: Int, bands: Int): String = {
    val r = k / bands
    s"""toks AS (
       |  SELECT doc_id AS id, regexp_split_to_array(lower(text), '\\s+') AS t FROM documents),
       |sh AS (
       |  SELECT id, unnest(list_distinct(CASE WHEN len(t) >= 3 THEN
       |    list_transform(range(1, len(t) - 1),
       |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
       |    ELSE [] END)) AS s
       |  FROM toks),
       |hv AS (SELECT id, seed,
       |    list_reduce(list_transform(range(1, 16), i ->
       |      CAST(strpos('0123456789abcdef',
       |        substr(md5(CAST(seed AS VARCHAR) || ':' || s),
       |          CAST(i AS INT), 1)) - 1 AS BIGINT)),
       |      (a, b) -> a * 16 + b) AS h
       |  FROM sh, (SELECT unnest(range(0, $k)) AS seed) seeds),
       |mins AS (SELECT id, seed, min(h) AS m FROM hv GROUP BY id, seed),
       |sig AS MATERIALIZED (SELECT id, list(m ORDER BY seed) AS sg FROM mins GROUP BY id),
       |banded AS MATERIALIZED (SELECT id, band,
       |    array_to_string(sg[CAST(band * $r + 1 AS INT) : CAST(band * $r + $r AS INT)],
       |      ',') AS bucket
       |  FROM sig, (SELECT unnest(range(0, $bands)) AS band) bands)""".stripMargin
  }

  private def minhashMd5PairsSql(k: Int, bands: Int, threshold: Double): String = {
    s"""${minhashMd5BandedSql(k, bands)},
       |hotb AS (SELECT band, bucket FROM banded GROUP BY band, bucket
       |  HAVING count(*) > ${graft.operators.Dedup.DefaultMaxBucket}),
       |bandedc AS (SELECT banded.* FROM banded
       |  WHERE NOT EXISTS (SELECT 1 FROM hotb h
       |    WHERE h.band = banded.band AND h.bucket = banded.bucket)),
       |cand AS (SELECT DISTINCT a.id AS id1, b.id AS id2
       |  FROM bandedc a JOIN bandedc b
       |  ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id),
       |est AS (SELECT id1, id2,
       |    len(list_filter(list_transform(range(1, ${k + 1}),
       |      i -> s1.sg[CAST(i AS INT)] = s2.sg[CAST(i AS INT)]), x -> x)) / $k.0
       |      AS est_jaccard
       |  FROM cand JOIN sig s1 ON cand.id1 = s1.id
       |            JOIN sig s2 ON cand.id2 = s2.id),
       |pairs AS (SELECT id1, id2, est_jaccard FROM est
       |  WHERE est_jaccard >= $threshold)""".stripMargin
  }

  /** Cross tail of the md5 MinHash oracle: batch docs (`batchCond` on id)
    * probed against corpus docs (`corpusCond`), the occupancy cap on the
    * CORPUS buckets only — the relational mirror of
    * Dedup.minhashDedupAgainst over a minhashIndexBuild(md5 = true) index.
    * Ends in `pairs(batch_id, corpus_id, est_jaccard)`. */
  private[queries] def minhashMd5AgainstSql(k: Int, bands: Int, threshold: Double,
                                   corpusCond: String,
                                   batchCond: String): String = {
    s"""${minhashMd5BandedSql(k, bands)},
       |bandedcorp AS (SELECT * FROM banded WHERE $corpusCond),
       |bandedbatch AS (SELECT * FROM banded WHERE $batchCond),
       |hotb AS (SELECT band, bucket FROM bandedcorp GROUP BY band, bucket
       |  HAVING count(*) > ${graft.operators.Dedup.DefaultMaxBucket}),
       |bandedcorpc AS (SELECT bandedcorp.* FROM bandedcorp
       |  WHERE NOT EXISTS (SELECT 1 FROM hotb h
       |    WHERE h.band = bandedcorp.band AND h.bucket = bandedcorp.bucket)),
       |cand AS (SELECT DISTINCT b.id AS batch_id, c.id AS corpus_id
       |  FROM bandedbatch b JOIN bandedcorpc c
       |  ON b.band = c.band AND b.bucket = c.bucket),
       |est AS (SELECT batch_id, corpus_id,
       |    len(list_filter(list_transform(range(1, ${k + 1}),
       |      i -> s1.sg[CAST(i AS INT)] = s2.sg[CAST(i AS INT)]), x -> x)) / $k.0
       |      AS est_jaccard
       |  FROM cand JOIN sig s1 ON cand.batch_id = s1.id
       |            JOIN sig s2 ON cand.corpus_id = s2.id),
       |pairs AS (SELECT batch_id, corpus_id, est_jaccard FROM est
       |  WHERE est_jaccard >= $threshold)""".stripMargin
  }

  /** The SERVED incremental ingestion dedup (GraphQL dedupAgainst field):
    * this table is the new batch, the named root (optionally corpusWhere-
    * filtered) is the existing corpus; survivors are unseen-text
    * representatives. Exact and bloom methods share one oracle — at fpp
    * 1e-6 the deterministic Bloom screen provably agrees at gate scale
    * (same argument as q_dedup_incr_bloom). */
  private val dedupAgainstOracle =
    Some("""WITH corpus AS (SELECT * FROM documents WHERE doc_id < 400),
            batch AS (SELECT * FROM documents WHERE doc_id >= 400)
            SELECT min(doc_id) AS doc_id FROM batch b
            WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.text = b.text)
            GROUP BY text ORDER BY doc_id""")

  val q_gql_dedup_against = Q(
    "q_gql_dedup_against",
    (s, dir) => GqlBridge.frame(s, dir,
      """{ t: documents {
           f: filter(doc_id: {ge: 400}) {
           d: dedupAgainst(corpus: "documents",
                           corpusWhere: {lt: [{name: "doc_id"}, {value: 400}]},
                           on: "text", id: "doc_id") {
             o: order(by: ["doc_id"]) {
               c: columns { doc_id { values } } } } } } }""",
      Seq("t", "f", "d", "o", "c"),
      "doc_id BIGINT"),
    dedupAgainstOracle)

  val q_gql_dedup_against_bloom = Q(
    "q_gql_dedup_against_bloom",
    (s, dir) => GqlBridge.frame(s, dir,
      """{ t: documents {
           f: filter(doc_id: {ge: 400}) {
           d: dedupAgainst(corpus: "documents", method: "bloom",
                           expectedItems: 1000, fpp: 0.000000001,
                           corpusWhere: {lt: [{name: "doc_id"}, {value: 400}]},
                           on: "text", id: "doc_id") {
             o: order(by: ["doc_id"]) {
               c: columns { doc_id { values } } } } } } }""",
      Seq("t", "f", "d", "o", "c"),
      "doc_id BIGINT"),
    dedupAgainstOracle)

  /** The SERVED near-dup incremental ingestion (dedupAgainst method:
    * "minhash"): survivors are batch rows with no MinHash+LSH
    * near-duplicate in the corpus, probed off a PREBUILT band index
    * (minhashIndexFor — built on the first request, content-fingerprint
    * cached), then exact-deduped within the batch like the other methods.
    * hash: "md5" makes the whole probe relationally recomputable. */
  val q_gql_dedup_against_minhash = Q(
    "q_gql_dedup_against_minhash",
    (s, dir) => GqlBridge.frame(s, dir,
      """{ t: documents {
           f: filter(doc_id: {ge: 400}) {
           d: dedupAgainst(corpus: "documents", method: "minhash",
                           hash: "md5", threshold: 0.5,
                           corpusWhere: {lt: [{name: "doc_id"}, {value: 400}]},
                           on: "text", id: "doc_id") {
             o: order(by: ["doc_id"]) {
               c: columns { doc_id { values } } } } } } }""",
      Seq("t", "f", "d", "o", "c"),
      "doc_id BIGINT"),
    Some(s"""WITH ${minhashMd5AgainstSql(k = 32, bands = 8, threshold = 0.5,
              corpusCond = "id < 400", batchCond = "id >= 400")},
            hits AS (SELECT DISTINCT batch_id FROM pairs),
            surv AS (SELECT d.* FROM documents d WHERE d.doc_id >= 400
              AND NOT EXISTS (SELECT 1 FROM hits h WHERE h.batch_id = d.doc_id))
            SELECT min(doc_id) AS doc_id FROM surv GROUP BY text
            ORDER BY doc_id"""))

  /** The SERVED near-dedup pipeline end-to-end (GraphQL nearDedup field
    * with hash: "md5"): banded candidates → connected components → only
    * each cluster's smallest id survives; the oracle re-derives the same
    * fixed point as a recursive reachability closure over the md5 pairs. */
  val q_gql_near_dedup = Q(
    "q_gql_near_dedup",
    (s, dir) => {
      GqlBridge.frame(s, dir,
        """{ t: documents {
             d: nearDedup(on: "text", id: "doc_id", n: 3, k: 32, bands: 8,
                          threshold: 0.5, hash: "md5") {
               o: order(by: ["doc_id"]) {
                 c: columns { doc_id { values } } } } } }""",
        Seq("t", "d", "o", "c"),
        "doc_id BIGINT")
    },
    Some(s"""WITH RECURSIVE ${minhashMd5PairsSql(k = 32, bands = 8, threshold = 0.5)},
             edges AS (SELECT id1 AS a, id2 AS b FROM pairs
                       UNION SELECT id2, id1 FROM pairs),
             nodes AS (SELECT DISTINCT a AS id FROM edges),
             reach(src, dst) AS (
               SELECT id, id FROM nodes
               UNION
               SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
             dupes AS (SELECT src AS id FROM reach
               GROUP BY src HAVING src <> min(dst))
             SELECT doc_id FROM documents d
             WHERE NOT EXISTS (SELECT 1 FROM dupes WHERE dupes.id = d.doc_id)
             ORDER BY doc_id"""))

  /** SimHash with md5-derived per-token bits: fingerprint bits, banding and
    * Hamming verification all recomputed by the oracle (bits kept as a list;
    * slice equality ⇔ packed-band equality). */
  val q_dedup_simhash_md5 = Q(
    "q_dedup_simhash_md5",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      GTable(Dedup.simhashPairsMd5(d, "text", "doc_id", maxHamming = 3))
        .project("hamming" -> col("hamming").cast("int"))
        .order(GTable.orderKeys(Seq("id1", "id2")))
        .result
    },
    Some("""WITH toks AS (
              SELECT doc_id AS id, unnest(regexp_split_to_array(lower(text), '\s+')) AS t
              FROM documents),
            hv AS (SELECT id,
                list_reduce(list_transform(range(1, 16), i ->
                  CAST(strpos('0123456789abcdef', substr(md5(t), CAST(i AS INT), 1)) - 1
                    AS BIGINT)), (a, b) -> a * 16 + b) AS v1,
                list_reduce(list_transform(range(16, 31), i ->
                  CAST(strpos('0123456789abcdef', substr(md5(t), CAST(i AS INT), 1)) - 1
                    AS BIGINT)), (a, b) -> a * 16 + b) AS v2
              FROM toks),
            cnt AS (SELECT id, b,
                sum(CASE WHEN ((CASE WHEN b < 60 THEN v1 ELSE v2 END)
                  >> CAST(CASE WHEN b < 60 THEN b ELSE b - 60 END AS INT)) & 1 = 1
                  THEN 1 ELSE -1 END) AS c
              FROM hv, (SELECT unnest(range(0, 64)) AS b) bs GROUP BY id, b),
            bits AS (SELECT id, list(CASE WHEN c >= 0 THEN 1 ELSE 0 END ORDER BY b)
                AS bt FROM cnt GROUP BY id),
            banded AS (SELECT id, band,
                array_to_string(bt[CAST(49 - 16 * band AS INT) : CAST(64 - 16 * band AS INT)],
                  '') AS bucket
              FROM bits, (SELECT unnest(range(0, 4)) AS band) bands),
            hotb AS (SELECT band, bucket FROM banded GROUP BY band, bucket
              HAVING count(*) > """ +
          s"""${graft.operators.Dedup.DefaultMaxBucket}),
            bandedc AS (SELECT banded.* FROM banded
              WHERE NOT EXISTS (SELECT 1 FROM hotb h
                WHERE h.band = banded.band AND h.bucket = banded.bucket)),
            cand AS (SELECT DISTINCT a.id AS id1, b.id AS id2
              FROM bandedc a JOIN bandedc b
              ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id),
            ham AS (SELECT id1, id2,
                len(list_filter(list_transform(range(1, 65),
                  i -> b1.bt[CAST(i AS INT)] != b2.bt[CAST(i AS INT)]), x -> x)) AS hamming
              FROM cand JOIN bits b1 ON cand.id1 = b1.id
                        JOIN bits b2 ON cand.id2 = b2.id)
            SELECT id1, id2, CAST(hamming AS INTEGER) AS hamming FROM ham
            WHERE hamming <= 3 ORDER BY id1, id2"""))

  /** SimHash near-dup candidates (Hamming ≤ 3 over 64 bits) — rows-only. */
  val q_dedup_simhash = Q(
    "q_dedup_simhash",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      GTable(Dedup.simhashPairs(d, "text", "doc_id", maxHamming = 3))
        .order(GTable.orderKeys(Seq("id1", "id2")))
        .result
    },
    None)

  /** Exact embedding near-dup pairs: all-pairs cosine ≥ 0.2 (synthetic
    * vectors are near-orthogonal; low threshold keeps the result non-empty). */
  val q_dedup_cosine = Q(
    "q_dedup_cosine",
    (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      GTable(Similarity.cosinePairs(e, "vec_id", "embedding", threshold = 0.2))
        .project("cos" -> round(col("cos"), 9))
        .order(GTable.orderKeys(Seq("id1", "id2")))
        .result
    },
    Some("""WITH v AS (SELECT vec_id,
              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
              FROM embeddings),
            p AS (SELECT a.vec_id id1, b.vec_id id2,
              list_reduce(list_prepend(CAST(0 AS DOUBLE),
                list_transform(range(1, len(a.e) + 1), i -> a.e[i] * b.e[i])),
                (x, y) -> x + y) /
              (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                list_transform(range(1, len(a.e) + 1), i -> a.e[i] * a.e[i])),
                (x, y) -> x + y)) *
               sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                list_transform(range(1, len(b.e) + 1), i -> b.e[i] * b.e[i])),
                (x, y) -> x + y))) AS cos
              FROM v a JOIN v b ON a.vec_id < b.vec_id)
            SELECT id1, id2, round(cos, 9) AS cos FROM p WHERE cos >= 0.2
            ORDER BY id1, id2"""))

  /** Brute-force cosine top-k ANN: queries = vec_id < 10, k = 5. */
  val q_ann_topk = Q(
    "q_ann_topk",
    (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 10)
      GTable(Similarity.bruteForceTopK(e, queries, "vec_id", "embedding", k = 5))
        .project("score" -> round(col("score"), 9))
        .order(GTable.orderKeys(Seq("query_id", "rank")))
        .result
    },
    Some("""WITH v AS (SELECT vec_id,
              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
              FROM embeddings),
            q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 10),
            scored AS (SELECT query_id, v.vec_id AS neighbor_id,
              list_reduce(list_prepend(CAST(0 AS DOUBLE),
                list_transform(range(1, len(qe) + 1), i -> qe[i] * e[i])),
                (x, y) -> x + y) /
              (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                list_transform(range(1, len(qe) + 1), i -> qe[i] * qe[i])),
                (x, y) -> x + y)) *
               sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                list_transform(range(1, len(e) + 1), i -> e[i] * e[i])),
                (x, y) -> x + y))) AS score
              FROM v CROSS JOIN q WHERE v.vec_id != query_id),
            ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY score DESC, neighbor_id ASC) rank FROM scored)
            SELECT query_id, neighbor_id, round(score, 9) AS score,
              CAST(rank AS INTEGER) AS rank
            FROM ranked WHERE rank <= 5
            ORDER BY query_id, rank"""))

  /** Memory-bound ANN variant (Similarity.quantizedTopK): candidate
    * ranking on the int8-quantized vectors (4× smaller scan at rest),
    * float rescore of the top-rerank survivors. Fully adjudicated: the
    * oracle recomputes the quantization (same cross-engine floor form as
    * q_embed_quant), the quantized-cosine ranking with its rerank
    * horizon, and the exact float rescore + top-k. */
  val q_ann_quant = Q(
    "q_ann_quant",
    (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      GTable(Similarity.quantizedTopK(e, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", k = 5, rerank = 50))
        .project("score" -> round(col("score"), 9))
        .order(GTable.orderKeys(Seq("query_id", "rank")))
        .result
    },
    Some(s"""WITH v AS (SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
            FROM embeddings),
          sc AS (SELECT vec_id, e,
              list_max(list_transform(e, x -> abs(x))) AS scale FROM v),
          q AS (SELECT vec_id, e,
              list_transform(e, x -> CASE WHEN scale = 0 THEN CAST(0 AS DOUBLE)
                ELSE CAST(greatest(-127, least(127,
                  CAST(floor(x / scale * 127 + 0.5) AS BIGINT))) AS DOUBLE) END) AS qa
            FROM sc),
          cand AS (SELECT qv.vec_id AS query_id, cv.vec_id AS neighbor_id,
              ${cosSql("qv.qa", "cv.qa")} AS qs, qv.e AS qe, cv.e AS ce
            FROM q qv JOIN q cv
              ON qv.vec_id < 5 AND qv.vec_id <> cv.vec_id),
          kept AS (SELECT * FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id ORDER BY qs DESC, neighbor_id) AS qrn
            FROM cand) WHERE qrn <= 50),
          rescored AS (SELECT query_id, neighbor_id,
              ${cosSql("qe", "ce")} AS score FROM kept),
          ranked AS (SELECT query_id, neighbor_id, score,
              row_number() OVER (PARTITION BY query_id
                ORDER BY score DESC, neighbor_id) AS rn
            FROM rescored)
          SELECT query_id, neighbor_id, round(score, 9) AS score,
            CAST(rn AS INT) AS rank
          FROM ranked WHERE rn <= 5 ORDER BY query_id, rank"""))

  /** LSH-bucketed ANN (8 tables × 4 hyperplanes) with query-side
    * MULTIPROBE (probes = 2): each query also probes the two neighboring
    * buckets across its most marginal hyperplanes per table — recall@5
    * 0.66 → 0.98 on this corpus (PipelineSpec) at unchanged index size.
    * Fully adjudicated: the oracle recomputes the md5-derived planes, the
    * per-plane dots, the flip ranking (smallest |dot| first), the probe
    * bucket union, exact re-score and top-k ranking. */
  val q_ann_lsh = Q(
    "q_ann_lsh",
    (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 10)
      GTable(Similarity.lshTopK(e, queries, "vec_id", "embedding", k = 5,
          planes = 4, dim = 64, tables = 8, probes = 2))
        .project("score" -> round(col("score"), 9))
        .order(GTable.orderKeys(Seq("query_id", "rank")))
        .result
    },
    Some(s"""WITH v AS (SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
            FROM embeddings),
          ${lshBucketsSql(planes = 4, dim = 64, tables = 8)},
          ${lshMultiprobeSql(planes = 4, probes = 2, "vec_id < 10")},
          cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
            FROM qbuck q JOIN buck c ON q.t = c.t AND q.bucket = c.bucket
            WHERE q.vec_id <> c.vec_id),
          scored AS (SELECT query_id, neighbor_id,
              ${cosSql("qv.e", "cv.e")} AS score
            FROM cand JOIN v qv ON cand.query_id = qv.vec_id
                      JOIN v cv ON cand.neighbor_id = cv.vec_id),
          ranked AS (SELECT query_id, neighbor_id, score,
              row_number() OVER (PARTITION BY query_id
                ORDER BY score DESC, neighbor_id) AS rn
            FROM scored)
          SELECT query_id, neighbor_id, round(score, 9) AS score,
            CAST(rn AS INT) AS rank
          FROM ranked WHERE rn <= 5 ORDER BY query_id, rank"""))

  /** LSH-bucketed embedding near-dup pairs (linear bucketing, intra-bucket
    * verify): fully adjudicated — buckets, the default bucket-occupancy cap
    * (Dedup.capBucketsBy: drop buckets over maxBucket rows), pairing and
    * exact cosine verify all recomputed by the oracle, so the cap itself
    * is oracle-checked at any scale. */
  val q_dedup_cosine_lsh = Q(
    "q_dedup_cosine_lsh",
    (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      GTable(Similarity.lshCosinePairs(e, "vec_id", "embedding",
          threshold = 0.2, planes = 4, dim = 64))
        .project("cos" -> round(col("cos"), 9))
        .order(GTable.orderKeys(Seq("id1", "id2")))
        .result
    },
    Some(s"""WITH v AS (SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
            FROM embeddings),
          ${lshBucketsSql(planes = 4, dim = 64, tables = 8)},
          hot AS (SELECT t, bucket FROM buck GROUP BY t, bucket
            HAVING count(*) > ${graft.operators.Dedup.DefaultMaxBucket}),
          buckc AS (SELECT buck.* FROM buck
            WHERE NOT EXISTS (SELECT 1 FROM hot h
              WHERE h.t = buck.t AND h.bucket = buck.bucket)),
          cand AS (SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
            FROM buckc a JOIN buckc b ON a.t = b.t AND a.bucket = b.bucket
              AND a.vec_id < b.vec_id),
          scored AS (SELECT id1, id2, ${cosSql("v1.e", "v2.e")} AS cos
            FROM cand JOIN v v1 ON cand.id1 = v1.vec_id
                      JOIN v v2 ON cand.id2 = v2.vec_id)
          SELECT id1, id2, round(cos, 9) AS cos FROM scored
          WHERE cos >= 0.2 ORDER BY id1, id2"""))

  /** SemDeDup-style semantic near-dup pairs (within-k-means-cell cosine,
    * Similarity.semanticPairs): the whole path — deterministic id-ordered
    * sample centroids, per-row best-cell assignment (ties to the larger
    * cid), the metered cell-occupancy cap, within-cell pairing and cosine
    * verify — is recomputed by the oracle, so the clustering-based
    * candidate restriction itself is adjudicated at any scale. */
  val q_dedup_semantic = Q(
    "q_dedup_semantic",
    (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      GTable(Similarity.semanticPairs(e, "vec_id", "embedding",
          threshold = 0.3, nlist = 64))
        .project("cos" -> round(col("cos"), 9))
        .order(GTable.orderKeys(Seq("id1", "id2")))
        .result
    },
    Some(s"""WITH v AS (SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
            FROM embeddings),
          cents AS (SELECT vec_id AS cid, e AS ce FROM v
            ORDER BY vec_id LIMIT 64),
          asg AS (SELECT v.vec_id AS id, v.e,
              (SELECT c.cid FROM cents c
               ORDER BY ${cosSql("v.e", "c.ce")} DESC, c.cid DESC LIMIT 1) AS cid
            FROM v),
          hot AS (SELECT cid FROM asg GROUP BY cid
            HAVING count(*) > ${graft.operators.Dedup.DefaultMaxBucket}),
          asgc AS (SELECT * FROM asg
            WHERE cid NOT IN (SELECT cid FROM hot)),
          scored AS (SELECT a.id AS id1, b.id AS id2,
              ${cosSql("a.e", "b.e")} AS cos
            FROM asgc a JOIN asgc b ON a.cid = b.cid AND a.id < b.id)
          SELECT id1, id2, round(cos, 9) AS cos FROM scored
          WHERE cos >= 0.3 ORDER BY id1, id2"""))

  /** Same semantic-pair path at nlist=256 — 256 cells × 64 dims =
    * 16,384 floats, ABOVE the default centroidLiteralBudget (8,192), so
    * this gate runs the broadcast-DATA centroid transport
    * (Similarity.withCentScores' crossJoin(broadcast) arm) end-to-end
    * against the same fully-recomputed SQL oracle. The literal arm stays
    * covered by q_dedup_semantic (nlist=64); PipelineSpec asserts the two
    * arms are result-identical at equal nlist. */
  val q_dedup_semantic_bcast = Q(
    "q_dedup_semantic_bcast",
    (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      GTable(Similarity.semanticPairs(e, "vec_id", "embedding",
          threshold = 0.3, nlist = 256))
        .project("cos" -> round(col("cos"), 9))
        .order(GTable.orderKeys(Seq("id1", "id2")))
        .result
    },
    Some(s"""WITH v AS (SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
            FROM embeddings),
          cents AS (SELECT vec_id AS cid, e AS ce FROM v
            ORDER BY vec_id LIMIT 256),
          asg AS (SELECT v.vec_id AS id, v.e,
              (SELECT c.cid FROM cents c
               ORDER BY ${cosSql("v.e", "c.ce")} DESC, c.cid DESC LIMIT 1) AS cid
            FROM v),
          hot AS (SELECT cid FROM asg GROUP BY cid
            HAVING count(*) > ${graft.operators.Dedup.DefaultMaxBucket}),
          asgc AS (SELECT * FROM asg
            WHERE cid NOT IN (SELECT cid FROM hot)),
          scored AS (SELECT a.id AS id1, b.id AS id2,
              ${cosSql("a.e", "b.e")} AS cos
            FROM asgc a JOIN asgc b ON a.cid = b.cid AND a.id < b.id)
          SELECT id1, id2, round(cos, 9) AS cos FROM scored
          WHERE cos >= 0.3 ORDER BY id1, id2"""))

  /** Semantic dedup survivors (Similarity.semanticDedup): connected
    * components over the semantic edges, smallest id survives per
    * component — the oracle re-derives the fixed point as a recursive
    * reachability closure over the same recomputed pair set. */
  val q_dedup_semantic_keep = Q(
    "q_dedup_semantic_keep",
    (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      GTable(Similarity.semanticDedup(e, "vec_id", "embedding",
          threshold = 0.3, nlist = 64).select("vec_id", "label"))
        .order(GTable.orderKeys(Seq("vec_id")))
        .result
    },
    Some(s"""WITH RECURSIVE v AS (SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
            FROM embeddings),
          cents AS (SELECT vec_id AS cid, e AS ce FROM v
            ORDER BY vec_id LIMIT 64),
          asg AS (SELECT v.vec_id AS id, v.e,
              (SELECT c.cid FROM cents c
               ORDER BY ${cosSql("v.e", "c.ce")} DESC, c.cid DESC LIMIT 1) AS cid
            FROM v),
          hot AS (SELECT cid FROM asg GROUP BY cid
            HAVING count(*) > ${graft.operators.Dedup.DefaultMaxBucket}),
          asgc AS (SELECT * FROM asg
            WHERE cid NOT IN (SELECT cid FROM hot)),
          pairs AS (SELECT a.id AS id1, b.id AS id2
            FROM asgc a JOIN asgc b ON a.cid = b.cid AND a.id < b.id
            WHERE ${cosSql("a.e", "b.e")} >= 0.3),
          edges AS (SELECT id1 AS a, id2 AS b FROM pairs
                    UNION SELECT id2, id1 FROM pairs),
          nodes AS (SELECT DISTINCT a AS id FROM edges),
          reach(src, dst) AS (
            SELECT id, id FROM nodes
            UNION
            SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
          dupes AS (
            SELECT src AS id FROM reach GROUP BY src
            HAVING src != min(dst))
          SELECT vec_id, label FROM embeddings
          WHERE vec_id NOT IN (SELECT id FROM dupes)
          ORDER BY vec_id"""))

  /** Incremental semantic dedup: batch vs a PREBUILT cid-partitioned IVF
    * index of the corpus (Similarity.semanticDedupAgainst — the
    * ingestion-time SemDeDup step: batch rows probe their nprobe best
    * cells, corpus vectors are read only from those cell partitions,
    * never re-assigned). Same corpus/batch split as q_dedup_incremental
    * (corpus = vec_id < 400; batch = the rest plus re-ingested copies of
    * vec_id < 50, shifted far past any amplified id range — a colliding
    * batch id would merge two distinct vectors into one oracle probe
    * partition). The oracle recomputes corpus centroids, corpus
    * assignment, the batch's nprobe=2 probe ranking, the hot-cell cap
    * (distinct-id occupancy > maxCell excluded — inactive on this
    * corpus, modeled anyway) and the pruned cosine screen. */
  val q_dedup_semantic_incr = Q(
    "q_dedup_semantic_incr",
    (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val corpus = e.filter(col("vec_id") < 400)
      val batch = e.filter(col("vec_id") >= 400)
        .select("vec_id", "embedding")
        .union(e.filter(col("vec_id") < 50)
          .select((col("vec_id") + 10000000L).as("vec_id"), col("embedding")))
      val idx = Similarity.ivfIndexFor(corpus, corpusKey = s"$dir:semincr",
        "vec_id", "embedding", nlist = 64, baseDir = annDir(dir))
      GTable(Similarity.semanticDedupAgainst(idx, batch, threshold = 0.3,
          nprobe = 2))
        .project("cos" -> round(col("cos"), 9))
        .order(GTable.orderKeys(Seq("batch_id", "corpus_id")))
        .result
    },
    Some(s"""WITH v AS (SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
            FROM embeddings),
          corpus AS (SELECT * FROM v WHERE vec_id < 400),
          cents AS (SELECT vec_id AS cid, e AS ce FROM corpus
            ORDER BY vec_id LIMIT 64),
          asg AS (SELECT c0.vec_id AS id, c0.e,
              (SELECT c.cid FROM cents c
               ORDER BY ${cosSql("c0.e", "c.ce")} DESC, c.cid DESC LIMIT 1) AS cid
            FROM corpus c0),
          batch AS (SELECT vec_id AS id, e FROM v WHERE vec_id >= 400
            UNION ALL
            SELECT vec_id + 10000000, e FROM v WHERE vec_id < 50),
          probes AS (SELECT b.id AS query_id, b.e AS qe, c.cid,
              row_number() OVER (PARTITION BY b.id
                ORDER BY ${cosSql("b.e", "c.ce")} DESC, c.cid DESC) AS pr
            FROM batch b, cents c),
          hotcells AS (SELECT cid FROM asg GROUP BY cid
            HAVING count(DISTINCT id) > ${graft.operators.Dedup.DefaultMaxBucket}),
          hits AS (SELECT DISTINCT p.query_id AS batch_id, a.id AS corpus_id,
              ${cosSql("p.qe", "a.e")} AS cos
            FROM (SELECT * FROM probes WHERE pr <= 2) p
            JOIN asg a USING (cid)
            WHERE cid NOT IN (SELECT cid FROM hotcells))
          SELECT batch_id, corpus_id, round(cos, 9) AS cos FROM hits
          WHERE cos >= 0.3 ORDER BY batch_id, corpus_id"""))

  /** Semantic dedup served through GraphQL (`semanticDedup(on:, id:,
    * threshold:, nlist:)` on the table type) — same full relational
    * oracle as [[q_dedup_semantic_keep]]. */
  val q_gql_dedup_semantic = Q(
    "q_gql_dedup_semantic",
    (s, dir) => GqlBridge.frame(s, dir,
      """{ t: embeddings {
           d: semanticDedup(on: "embedding", id: "vec_id",
                            threshold: 0.3, nlist: 64) {
             o: order(by: ["vec_id"]) {
               c: columns { vec_id { values } label { values } } } } } }""",
      Seq("t", "d", "o", "c"),
      "vec_id BIGINT, label INT"),
    Some(s"""WITH RECURSIVE v AS (SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
            FROM embeddings),
          cents AS (SELECT vec_id AS cid, e AS ce FROM v
            ORDER BY vec_id LIMIT 64),
          asg AS (SELECT v.vec_id AS id, v.e,
              (SELECT c.cid FROM cents c
               ORDER BY ${cosSql("v.e", "c.ce")} DESC, c.cid DESC LIMIT 1) AS cid
            FROM v),
          hot AS (SELECT cid FROM asg GROUP BY cid
            HAVING count(*) > ${graft.operators.Dedup.DefaultMaxBucket}),
          asgc AS (SELECT * FROM asg
            WHERE cid NOT IN (SELECT cid FROM hot)),
          pairs AS (SELECT a.id AS id1, b.id AS id2
            FROM asgc a JOIN asgc b ON a.cid = b.cid AND a.id < b.id
            WHERE ${cosSql("a.e", "b.e")} >= 0.3),
          edges AS (SELECT id1 AS a, id2 AS b FROM pairs
                    UNION SELECT id2, id1 FROM pairs),
          nodes AS (SELECT DISTINCT a AS id FROM edges),
          reach(src, dst) AS (
            SELECT id, id FROM nodes
            UNION
            SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
          dupes AS (
            SELECT src AS id FROM reach GROUP BY src
            HAVING src != min(dst))
          SELECT vec_id, label FROM embeddings
          WHERE vec_id NOT IN (SELECT id FROM dupes)
          ORDER BY vec_id"""))

  /** IVF ANN (coarse quantization + nprobe probing): with the deterministic
    * id-ordered sample centroids the whole path — assignment (ties to the
    * larger cid), nprobe probing, candidate re-score, top-k — is recomputed
    * by the oracle. The kmeansIters>0 refinement stays spec-verified. */
  val q_ann_ivf = Q(
    "q_ann_ivf",
    (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 10)
      GTable(Similarity.ivfTopK(e, queries, "vec_id", "embedding", k = 5,
          nlist = 16, nprobe = 6))
        .project("score" -> round(col("score"), 9))
        .order(GTable.orderKeys(Seq("query_id", "rank")))
        .result
    },
    Some(s"""WITH v AS (SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
            FROM embeddings),
          cents AS (SELECT vec_id AS cid, e AS ce FROM v
            ORDER BY vec_id LIMIT 16),
          asg AS (SELECT v.vec_id AS neighbor_id,
              (SELECT c.cid FROM cents c
               ORDER BY ${cosSql("v.e", "c.ce")} DESC, c.cid DESC LIMIT 1) AS cid
            FROM v),
          probes AS (SELECT q.vec_id AS query_id, c.cid,
              row_number() OVER (PARTITION BY q.vec_id
                ORDER BY ${cosSql("q.e", "c.ce")} DESC, c.cid DESC) AS pr
            FROM v q, cents c WHERE q.vec_id < 10),
          cand AS (SELECT DISTINCT query_id, neighbor_id
            FROM (SELECT query_id, cid FROM probes WHERE pr <= 6) p
            JOIN asg USING (cid) WHERE query_id <> neighbor_id),
          scored AS (SELECT query_id, neighbor_id,
              ${cosSql("qv.e", "cv.e")} AS score
            FROM cand JOIN v qv ON cand.query_id = qv.vec_id
                      JOIN v cv ON cand.neighbor_id = cv.vec_id),
          ranked AS (SELECT query_id, neighbor_id, score,
              row_number() OVER (PARTITION BY query_id
                ORDER BY score DESC, neighbor_id) AS rn
            FROM scored)
          SELECT query_id, neighbor_id, round(score, 9) AS score,
            CAST(rn AS INT) AS rank
          FROM ranked WHERE rn <= 5 ORDER BY query_id, rank"""))

  /** Exact k-NN JOIN (Similarity.knnJoinBrute): every row of the left
    * TABLE (vec_id % 20 = 3 — a spread ~5% slice) gets its top-3 cosine
    * neighbors in the full corpus. The join shape (left streams, right
    * broadcast, WindowGroupLimit truncation) is PlanGuard/PipelineSpec
    * territory; the oracle adjudicates the full answer. */
  val q_knn_join = Q(
    "q_knn_join",
    (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val left = e.filter(col("vec_id") % 20 === 3)
      GTable(Similarity.knnJoinBrute(left, e, "vec_id", "embedding", k = 3))
        .project("score" -> round(col("score"), 9))
        .order(GTable.orderKeys(Seq("query_id", "rank")))
        .result
    },
    Some(s"""WITH v AS (SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
            FROM embeddings),
          q AS (SELECT vec_id AS query_id, e AS qe FROM v
            WHERE vec_id % 20 = 3),
          scored AS (SELECT query_id, v.vec_id AS neighbor_id,
              ${cosSql("qe", "v.e")} AS score
            FROM v CROSS JOIN q WHERE v.vec_id <> query_id),
          ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY score DESC, neighbor_id ASC) rank FROM scored)
          SELECT query_id, neighbor_id, round(score, 9) AS score,
            CAST(rank AS INTEGER) AS rank
          FROM ranked WHERE rank <= 3
          ORDER BY query_id, rank"""))

  /** knnJoinAuto (round-9 verdict #4): no method given — the dispatch
    * (Similarity.knnJoinFlip) must pick BRUTE here (the gate corpus is
    * far under the 128 MB broadcast budget), making the auto arm exactly
    * the brute oracle. The above-budget regimes are spec-asserted
    * (PipelineSpec observes the flip tuple under shrunk budgets). */
  val q_knn_join_auto = Q(
    "q_knn_join_auto",
    (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val left = e.filter(col("vec_id") % 20 === 3)
      GTable(Similarity.knnJoinAuto(left, e, "vec_id", "embedding", k = 3))
        .project("score" -> round(col("score"), 9))
        .order(GTable.orderKeys(Seq("query_id", "rank")))
        .result
    },
    q_knn_join.oracle)

  /** LSH-bucketed k-NN join (Similarity.knnJoinLsh, the big×big scale
    * path): both sides banded to (table, bucket), shuffle-joined on the
    * bucket key, right-side occupancy capped. Fully adjudicated — planes,
    * left multiprobe (probes = 1), the occupancy cap, candidate pairing,
    * exact re-score and top-k are all recomputed by the oracle, so the
    * banding-based candidate restriction itself is oracle-checked at any
    * amplification. */
  val q_knn_join_lsh = Q(
    "q_knn_join_lsh",
    (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val left = e.filter(col("vec_id") % 20 === 3)
      GTable(Similarity.knnJoinLsh(left, e, "vec_id", "embedding", k = 3,
          planes = 4, dim = 64, tables = 8, probes = 1))
        .project("score" -> round(col("score"), 9))
        .order(GTable.orderKeys(Seq("query_id", "rank")))
        .result
    },
    Some(s"""WITH v AS (SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
            FROM embeddings),
          ${lshBucketsSql(planes = 4, dim = 64, tables = 8)},
          hot AS (SELECT t, bucket FROM buck GROUP BY t, bucket
            HAVING count(*) > ${graft.operators.Dedup.DefaultMaxBucket}),
          buckc AS (SELECT buck.* FROM buck
            WHERE NOT EXISTS (SELECT 1 FROM hot h
              WHERE h.t = buck.t AND h.bucket = buck.bucket)),
          ${lshMultiprobeSql(planes = 4, probes = 1, "vec_id % 20 = 3")},
          cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
            FROM qbuck q JOIN buckc c ON q.t = c.t AND q.bucket = c.bucket
            WHERE q.vec_id <> c.vec_id),
          scored AS (SELECT query_id, neighbor_id,
              ${cosSql("qv.e", "cv.e")} AS score
            FROM cand JOIN v qv ON cand.query_id = qv.vec_id
                      JOIN v cv ON cand.neighbor_id = cv.vec_id),
          ranked AS (SELECT query_id, neighbor_id, score,
              row_number() OVER (PARTITION BY query_id
                ORDER BY score DESC, neighbor_id) AS rn
            FROM scored)
          SELECT query_id, neighbor_id, round(score, 9) AS score,
            CAST(rn AS INT) AS rank
          FROM ranked WHERE rn <= 3 ORDER BY query_id, rank"""))

  /** IVF k-NN join (Similarity.knnJoinIvf): right side assigned to its
    * best of 16 cells, left fans out to its nprobe = 4 best cells,
    * candidates from the shuffle join on the cell id — assignment,
    * probing, re-score and top-k all recomputed by the oracle. */
  val q_knn_join_ivf = Q(
    "q_knn_join_ivf",
    (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val left = e.filter(col("vec_id") % 20 === 3)
      GTable(Similarity.knnJoinIvf(left, e, "vec_id", "embedding", k = 3,
          nlist = 16, nprobe = 4))
        .project("score" -> round(col("score"), 9))
        .order(GTable.orderKeys(Seq("query_id", "rank")))
        .result
    },
    Some(s"""WITH v AS (SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
            FROM embeddings),
          cents AS (SELECT vec_id AS cid, e AS ce FROM v
            ORDER BY vec_id LIMIT 16),
          asg AS (SELECT v.vec_id AS neighbor_id,
              (SELECT c.cid FROM cents c
               ORDER BY ${cosSql("v.e", "c.ce")} DESC, c.cid DESC LIMIT 1) AS cid
            FROM v),
          probes AS (SELECT q.vec_id AS query_id, c.cid,
              row_number() OVER (PARTITION BY q.vec_id
                ORDER BY ${cosSql("q.e", "c.ce")} DESC, c.cid DESC) AS pr
            FROM v q, cents c WHERE q.vec_id % 20 = 3),
          cand AS (SELECT DISTINCT query_id, neighbor_id
            FROM (SELECT query_id, cid FROM probes WHERE pr <= 4) p
            JOIN asg USING (cid) WHERE query_id <> neighbor_id),
          scored AS (SELECT query_id, neighbor_id,
              ${cosSql("qv.e", "cv.e")} AS score
            FROM cand JOIN v qv ON cand.query_id = qv.vec_id
                      JOIN v cv ON cand.neighbor_id = cv.vec_id),
          ranked AS (SELECT query_id, neighbor_id, score,
              row_number() OVER (PARTITION BY query_id
                ORDER BY score DESC, neighbor_id) AS rn
            FROM scored)
          SELECT query_id, neighbor_id, round(score, 9) AS score,
            CAST(rn AS INT) AS rank
          FROM ranked WHERE rn <= 3 ORDER BY query_id, rank"""))

  /** Index base dir for the prebuilt-ANN gate queries: per-sf-dir so the
    * sf0.01 and sf0.1 gate runs never share index files. */
  private def annDir(dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_ann/${dir.replaceAll("[^A-Za-z0-9]", "_")}"

  /** IVF ANN against a PREBUILT cid-partitioned index (build-once/
    * probe-many serving path): identical parameters and oracle as
    * [[q_ann_ivf]] — the index must change WHERE the work happens (probe
    * reads only the probed cluster partitions; PipelineSpec asserts the
    * pruning), never the answer. */
  val q_ann_ivf_prebuilt = Q(
    "q_ann_ivf_prebuilt",
    (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 10)
      val idx = Similarity.ivfIndexFor(e, corpusKey = dir, "vec_id", "embedding",
        nlist = 16, baseDir = annDir(dir))
      GTable(Similarity.ivfProbe(idx, queries, k = 5, nprobe = 6))
        .project("score" -> round(col("score"), 9))
        .order(GTable.orderKeys(Seq("query_id", "rank")))
        .result
    },
    Some(s"""WITH v AS (SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
            FROM embeddings),
          cents AS (SELECT vec_id AS cid, e AS ce FROM v
            ORDER BY vec_id LIMIT 16),
          asg AS (SELECT v.vec_id AS neighbor_id,
              (SELECT c.cid FROM cents c
               ORDER BY ${cosSql("v.e", "c.ce")} DESC, c.cid DESC LIMIT 1) AS cid
            FROM v),
          probes AS (SELECT q.vec_id AS query_id, c.cid,
              row_number() OVER (PARTITION BY q.vec_id
                ORDER BY ${cosSql("q.e", "c.ce")} DESC, c.cid DESC) AS pr
            FROM v q, cents c WHERE q.vec_id < 10),
          cand AS (SELECT DISTINCT query_id, neighbor_id
            FROM (SELECT query_id, cid FROM probes WHERE pr <= 6) p
            JOIN asg USING (cid) WHERE query_id <> neighbor_id),
          scored AS (SELECT query_id, neighbor_id,
              ${cosSql("qv.e", "cv.e")} AS score
            FROM cand JOIN v qv ON cand.query_id = qv.vec_id
                      JOIN v cv ON cand.neighbor_id = cv.vec_id),
          ranked AS (SELECT query_id, neighbor_id, score,
              row_number() OVER (PARTITION BY query_id
                ORDER BY score DESC, neighbor_id) AS rn
            FROM scored)
          SELECT query_id, neighbor_id, round(score, 9) AS score,
            CAST(rn AS INT) AS rank
          FROM ranked WHERE rn <= 5 ORDER BY query_id, rank"""))

  /** LSH ANN against a PREBUILT (table, bucket)-partitioned index — same
    * parameters (incl. multiprobe probes = 2) and oracle as [[q_ann_lsh]];
    * the probe reads only the multiprobe bucket partitions. */
  val q_ann_lsh_prebuilt = Q(
    "q_ann_lsh_prebuilt",
    (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 10)
      val idx = Similarity.lshIndexFor(e, corpusKey = dir, "vec_id", "embedding",
        planes = 4, dim = 64, baseDir = annDir(dir))
      GTable(Similarity.lshProbe(idx, queries, k = 5, probes = 2))
        .project("score" -> round(col("score"), 9))
        .order(GTable.orderKeys(Seq("query_id", "rank")))
        .result
    },
    Some(s"""WITH v AS (SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
            FROM embeddings),
          ${lshBucketsSql(planes = 4, dim = 64, tables = 8)},
          ${lshMultiprobeSql(planes = 4, probes = 2, "vec_id < 10")},
          cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
            FROM qbuck q JOIN buck c ON q.t = c.t AND q.bucket = c.bucket
            WHERE q.vec_id <> c.vec_id),
          scored AS (SELECT query_id, neighbor_id,
              ${cosSql("qv.e", "cv.e")} AS score
            FROM cand JOIN v qv ON cand.query_id = qv.vec_id
                      JOIN v cv ON cand.neighbor_id = cv.vec_id),
          ranked AS (SELECT query_id, neighbor_id, score,
              row_number() OVER (PARTITION BY query_id
                ORDER BY score DESC, neighbor_id) AS rn
            FROM scored)
          SELECT query_id, neighbor_id, round(score, 9) AS score,
            CAST(rn AS INT) AS rank
          FROM ranked WHERE rn <= 5 ORDER BY query_id, rank"""))

  /** Language ID + per-language doc counts (stopword-ratio heuristic). */
  val q_lang_id = Q(
    "q_lang_id",
    (s, dir) => {
      val d = GTable(Tables.load(s, dir, "documents"))
      d.project("_st" -> TextAnalysis.stats(col("text")))
        .project("pred_lang" -> TextAnalysis.langIdFrom(col("_st")))
        .select("doc_id", "pred_lang")
        .order(GTable.orderKeys(Seq("doc_id")))
        .result
    },
    Some("""WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS toks FROM documents),
            r AS (SELECT doc_id,
              len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','that','it','for'], x))) / greatest(len(toks), 1) AS en,
              len(list_filter(toks, x -> list_contains(['el','la','de','y','que','en','un','es','se','no'], x))) / greatest(len(toks), 1) AS es,
              len(list_filter(toks, x -> list_contains(['der','die','das','und','zu','in','den','von','ist','mit'], x))) / greatest(len(toks), 1) AS de
              FROM t)
            SELECT doc_id,
              CASE WHEN en >= es AND en >= de THEN 'en'
                   WHEN es >= de THEN 'es' ELSE 'de' END AS pred_lang
            FROM r ORDER BY doc_id"""))

  /** Quality scoring: char/token stats, type-token ratio, stopword ratio,
    * composite score. */
  val q_text_quality = Q(
    "q_text_quality",
    (s, dir) => {
      val d = GTable(Tables.load(s, dir, "documents"))
        .project("_st" -> TextAnalysis.stats(col("text")))
      val metrics = TextAnalysis.qualityMetricsFrom(col("_st"))
        .map { case (n, c) => n -> (if (n == "n_chars" || n == "n_tokens") c else round(c, 9)) }
      d.project(metrics: _*)
        .select("doc_id" +: metrics.map(_._1): _*)
        .order(GTable.orderKeys(Seq("doc_id")))
        .result
    },
    Some("""WITH t AS (SELECT doc_id, text, regexp_split_to_array(lower(text), '\s+') AS toks FROM documents),
            m AS (SELECT doc_id,
              CAST(length(text) AS INTEGER) AS n_chars,
              CAST(len(toks) AS INTEGER) AS n_tokens,
              CAST(length(text) AS DOUBLE) / greatest(len(toks), 1) AS mean_tok_len,
              CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1) AS ttr,
              CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','that','it','for'], x))) AS DOUBLE) / greatest(len(toks), 1) AS swr
              FROM t)
            SELECT doc_id, n_chars, n_tokens,
              round(mean_tok_len, 9) AS mean_tok_len,
              round(ttr, 9) AS type_token_ratio,
              round(swr, 9) AS stopword_ratio,
              round(least(greatest(ttr * 0.5 + swr * 0.3 +
                CASE WHEN n_tokens >= 50 AND n_tokens <= 1000 THEN 0.2 ELSE 0.0 END,
                0.0), 1.0), 9) AS quality
            FROM m ORDER BY doc_id"""))

  /** Token counting: whitespace + BPE-ish regex pieces. */
  val q_token_count = Q(
    "q_token_count",
    (s, dir) => {
      val d = GTable(Tables.load(s, dir, "documents"))
        .project("_st" -> TextAnalysis.stats(col("text")))
      val counts = TextAnalysis.tokenCountsFrom(col("_st"))
      d.project(counts: _*)
        .select("doc_id" +: counts.map(_._1): _*)
        .order(GTable.orderKeys(Seq("doc_id")))
        .result
    },
    Some("""SELECT doc_id,
              CAST(len(regexp_split_to_array(lower(text), '\s+')) AS INTEGER) AS ws_tokens,
              CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INTEGER) AS bpe_ish_tokens
            FROM documents ORDER BY doc_id"""))

  /** 60-bit md5 fold of an arbitrary SQL string expression — the DuckDB
    * mirror of Hashing.md5Long (first 15 hex digits folded to a long). */
  private def md5FoldSql(expr: String): String =
    s"""(list_reduce(list_transform(range(1, 16), i ->
       |  CAST(strpos('0123456789abcdef',
       |    substr(md5($expr), CAST(i AS INT), 1)) - 1
       |      AS BIGINT)),
       |  (a, b) -> a * 16 + b))""".stripMargin

  /** md5 bucket SQL fragment for the sampling oracles: fold of the first 15
    * hex digits of md5(key) mod `buckets` — mirrors Sampling.hashBucket. */
  private def hashBucketSql(key: String, buckets: Int): String =
    s"(${md5FoldSql(s"coalesce(CAST($key AS VARCHAR), '')")} % $buckets)"

  /** Hashed unigram feature bucket — mirrors TextAnalysis.featureIdx. */
  private def featureIdxSql(tokExpr: String, dim: Int): String =
    s"(${md5FoldSql(s"'f:' || $tokExpr")} % $dim)"

  /** Deterministic train/val/test split (80/10/10 by hashed doc id): stable
    * under repartitioning and re-runs, unlike rand() splits. */
  val q_split_hash = Q(
    "q_split_hash",
    (s, dir) => {
      val d = GTable(Tables.load(s, dir, "documents"))
      d.project("split" -> Sampling.split(col("doc_id"),
          Seq("train" -> 8, "val" -> 1, "test" -> 1)))
        .select("doc_id", "lang", "split")
        .order(GTable.orderKeys(Seq("doc_id")))
        .result
    },
    Some(s"""WITH b AS (SELECT doc_id, lang,
            ${hashBucketSql("doc_id", 10)} AS bk FROM documents)
          SELECT doc_id, lang,
            CASE WHEN bk < 8 THEN 'train' WHEN bk < 9 THEN 'val'
                 ELSE 'test' END AS split
          FROM b ORDER BY doc_id"""))

  /** Deterministic stratified downsampling: rebalance the corpus by keeping
    * 50% of en and 80% of zh (hash-bucket threshold per stratum). */
  val q_sample_stratified = Q(
    "q_sample_stratified",
    (s, dir) => {
      val d = GTable(Tables.load(s, dir, "documents"))
      d.filter(Sampling.stratifiedKeep(col("lang"), col("doc_id"),
          Map("en" -> 0.5, "zh" -> 0.8)))
        .select("doc_id", "lang")
        .order(GTable.orderKeys(Seq("doc_id")))
        .result
    },
    Some(s"""WITH b AS (SELECT doc_id, lang,
            ${hashBucketSql("doc_id", 10000)} AS bk FROM documents)
          SELECT doc_id, lang FROM b
          WHERE bk < CAST(floor(
            (CASE lang WHEN 'en' THEN 0.5 WHEN 'zh' THEN 0.8 ELSE 1.0 END)
            * 10000 + 0.5) AS INT)
          ORDER BY doc_id"""))

  /** Token-budget sequence packing: docs chunked into 2048-token context
    * bins at their exclusive prefix token offset (distributed block
    * prefix-sum — no global window). */
  val q_pack_tokens = Q(
    "q_pack_tokens",
    (s, dir) => {
      val d = GTable(Tables.loadOrdered(s, dir, "documents"))
      GTable(Sampling.packBins(d, "doc_id",
          size(TextAnalysis.tokens(col("text"))), budget = 2048L))
        .order(GTable.orderKeys(Seq("bin")))
        .result
    },
    Some("""WITH t AS (SELECT doc_id,
              CAST(len(regexp_split_to_array(lower(text), '\s+')) AS BIGINT) AS tok,
              row_number() OVER () - 1 AS rid
            FROM documents),
          c AS (SELECT *, sum(tok) OVER (ORDER BY rid
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tok AS pref
            FROM t),
          b AS (SELECT *, CAST(floor(pref / 2048.0) AS BIGINT) AS bin FROM c)
          SELECT bin, count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS tokens,
            arg_min(doc_id, rid) AS first_id, arg_max(doc_id, rid) AS last_id
          FROM b GROUP BY bin ORDER BY bin"""))

  /** pack after FILTER: the cumulative block prefix-sum only needs the
    * rid as an ordered key, so sparse (filtered) positions pack without
    * any densify step — bins follow the filtered stream in natural
    * order, as a tokenizer reading the filtered corpus would. */
  val q_pack_filtered = Q(
    "q_pack_filtered",
    (s, dir) => {
      val d = GTable(Tables.loadOrdered(s, dir, "documents"))
        .filter(col("doc_id") % 3 =!= 0)
      GTable(Sampling.packBins(d, "doc_id",
          size(TextAnalysis.tokens(col("text"))), budget = 2048L))
        .order(GTable.orderKeys(Seq("bin")))
        .result
    },
    Some("""WITH t AS (SELECT doc_id,
              CAST(len(regexp_split_to_array(lower(text), '\s+')) AS BIGINT) AS tok,
              row_number() OVER () - 1 AS rid
            FROM documents),
          f AS (SELECT * FROM t WHERE doc_id % 3 <> 0),
          c AS (SELECT *, sum(tok) OVER (ORDER BY rid
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tok AS pref
            FROM f),
          b AS (SELECT *, CAST(floor(pref / 2048.0) AS BIGINT) AS bin FROM c)
          SELECT bin, count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS tokens,
            arg_min(doc_id, rid) AS first_id, arg_max(doc_id, rid) AS last_id
          FROM b GROUP BY bin ORDER BY bin"""))

  /** Vocabulary extraction: top-100 tokens by frequency (deterministic
    * tie-break on the token) — the counting pass a BPE/vocab build runs;
    * map-side combinable groupBy, top-k via TakeOrdered. */
  val q_vocab_topk = Q(
    "q_vocab_topk",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      d.select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token").asc)
        .limit(100)
    },
    Some("""SELECT t AS token, count(*) AS cnt
            FROM (SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS t
                  FROM documents)
            GROUP BY t ORDER BY cnt DESC, token LIMIT 100"""))

  /** Symmetric int8 embedding quantization: per-vector scale + quantized
    * checksum/min/max (array cells are unhashable in the gate comparator;
    * the scalars pin the same values). */
  val q_embed_quant = Q(
    "q_embed_quant",
    (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      e.select(col("vec_id"),
          Similarity.quantizeInt8(col("embedding")).as("_z"))
        .select(col("vec_id"), col("_z.scale").as("scale"),
          aggregate(col("_z.q"), lit(0L), (a, b) => a + b).as("qsum"),
          array_min(col("_z.q")).as("qmin"),
          array_max(col("_z.q")).as("qmax"))
        .orderBy("vec_id")
    },
    Some("""WITH v AS (SELECT vec_id,
              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
              FROM embeddings),
          s AS (SELECT vec_id, e,
              list_max(list_transform(e, x -> abs(x))) AS scale FROM v),
          q AS (SELECT vec_id, scale,
              list_transform(e, x -> CASE WHEN scale = 0 THEN 0
                ELSE greatest(-127, least(127,
                  CAST(floor(x / scale * 127 + 0.5) AS BIGINT))) END) AS qa
            FROM s)
          SELECT vec_id, scale,
            list_reduce(list_prepend(CAST(0 AS BIGINT), qa),
              (a, b) -> a + b) AS qsum,
            list_min(qa) AS qmin, list_max(qa) AS qmax
          FROM q ORDER BY vec_id"""))

  /** CCNet-style LM quality score: mean unigram log-prob per doc under the
    * corpus's own distribution. Rounded at 4: the doc-level mean sums FP
    * logs in partition order (order-sensitive aggregate rule), and with
    * ~1e-10 cross-engine association noise a 1e-6 grid over 500 docs
    * leaves a material chance of landing on a boundary — 1e-4 puts the
    * noise 6 orders below the grid. */
  val q_doc_logprob = Q(
    "q_doc_logprob",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      GTable(TextAnalysis.unigramLogProb(d, "doc_id", "text"))
        .project("logprob" -> round(col("logprob"), 4))
        .order(GTable.orderKeys(Seq("doc_id")))
        .result
    },
    Some("""WITH toks AS (SELECT doc_id,
              unnest(regexp_split_to_array(lower(text), '\s+')) AS t FROM documents),
            vocab AS (SELECT t, count(*) AS c FROM toks GROUP BY t),
            tot AS (SELECT CAST(sum(c) AS DOUBLE) AS s FROM vocab)
            SELECT doc_id, round(avg(ln(CAST(c AS DOUBLE) / s)), 4) AS logprob
            FROM toks JOIN vocab USING (t), tot
            GROUP BY doc_id ORDER BY doc_id"""))

  /** fastText-style linear quality classifier scoring: hashed unigram
    * features → broadcast weight lookup → mean weight + bias → logistic.
    * The model here is a deterministic 1024-row weight table (a real model
    * is trained offline and arrives the same shape); the oracle recomputes
    * the feature hash, the lookup and the logistic end-to-end.
    *
    * FP contract: the model is DYADIC (weights k/512, bias −0.125), so the
    * token-weight sums are exact in IEEE doubles regardless of association
    * order and the mean + bias is bit-identical across engines — `score`
    * is compared RAW. A denominator-498 model at ×12 scale proved why:
    * rational weights make round-half boundary decimals structurally
    * likely, and Spark rounds half-up where DuckDB rounds half-even
    * (observed: −0.19375 → −0.1937 vs −0.1938). Only `prob` (libm exp,
    * ~1-ulp cross-engine noise) keeps a rounding grid. */
  val q_quality_linear = Q(
    "q_quality_linear",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val w = s.range(1024).select(col("id").as("idx"),
        ((col("id") % 997 - 498) / lit(512.0)).as("weight"))
      GTable(TextAnalysis.scoreLinear(d, "text", "doc_id", w, 1024, -0.125))
        .project("prob" -> round(col("prob"), 4))
        .order(GTable.orderKeys(Seq("doc_id")))
        .result
    },
    Some(s"""WITH w AS (SELECT g AS idx, ((g % 997) - 498) / 512.0 AS weight
              FROM range(0, 1024) t(g)),
            f AS (SELECT doc_id, ${featureIdxSql("t", 1024)} AS idx
              FROM (SELECT doc_id,
                unnest(regexp_split_to_array(lower(text), '\\s+')) AS t
                FROM documents)),
            sc AS (SELECT doc_id,
                avg(coalesce(weight, 0.0)) + (-0.125) AS score
              FROM f LEFT JOIN w USING (idx) GROUP BY doc_id)
            SELECT doc_id, score,
              round(1.0 / (1.0 + exp(-score)), 4) AS prob
            FROM sc ORDER BY doc_id"""))

  /** DSIR importance log-weights (Xie et al. 2023): raw = whole corpus,
    * target = the English slice; lw = Σ ln(p_target/p_raw) over add-one-
    * smoothed hashed unigram buckets. Both distributions are dim-row
    * broadcast tables; the oracle recomputes buckets, smoothing and the
    * per-doc sum. */
  val q_dsir_weights = Q(
    "q_dsir_weights",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      GTable(TextAnalysis.dsirLogWeights(d, d.filter(col("lang") === "en"),
          "text", "doc_id", 2048))
        .project("lw" -> round(col("lw"), 4))
        .order(GTable.orderKeys(Seq("doc_id")))
        .result
    },
    Some(s"""WITH fr AS (SELECT doc_id, ${featureIdxSql("t", 2048)} AS idx
              FROM (SELECT doc_id,
                unnest(regexp_split_to_array(lower(text), '\\s+')) AS t
                FROM documents)),
            cr AS (SELECT idx, count(*) AS c FROM fr GROUP BY idx),
            ft AS (SELECT ${featureIdxSql("t", 2048)} AS idx
              FROM (SELECT
                unnest(regexp_split_to_array(lower(text), '\\s+')) AS t
                FROM documents WHERE lang = 'en')),
            ct AS (SELECT idx, count(*) AS c FROM ft GROUP BY idx),
            tot AS (SELECT
                (SELECT coalesce(sum(c), 0) FROM cr) AS rt,
                (SELECT coalesce(sum(c), 0) FROM ct) AS tt),
            ratio AS (SELECT g AS idx,
                ln(CAST(coalesce(ct.c, 0) + 1 AS DOUBLE) /
                   CAST(tt + 2048 AS DOUBLE)) -
                ln(CAST(coalesce(cr.c, 0) + 1 AS DOUBLE) /
                   CAST(rt + 2048 AS DOUBLE)) AS lr
              FROM range(0, 2048) t(g)
              LEFT JOIN cr ON cr.idx = g LEFT JOIN ct ON ct.idx = g, tot)
            SELECT doc_id, round(sum(lr), 4) AS lw
            FROM fr JOIN ratio USING (idx)
            GROUP BY doc_id ORDER BY doc_id"""))

  /** DSIR selection: Gumbel-top-k over the importance weights — md5-derived
    * per-doc uniforms, selection key round(lw+g, 6) with id tie-break so
    * both engines rank identically (the raw FP sums differ at ~1e-12;
    * the 1e-6 grid puts rank flips far below the noise). */
  val q_dsir_sample = Q(
    "q_dsir_sample",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      GTable(TextAnalysis.dsirResample(d, d.filter(col("lang") === "en"),
          "text", "doc_id", 2048, k = 100, seed = "13"))
        .project("lw" -> round(col("lw"), 4))
        .order(GTable.orderKeys(Seq("doc_id")))
        .result
    },
    Some(s"""WITH fr AS (SELECT doc_id, ${featureIdxSql("t", 2048)} AS idx
              FROM (SELECT doc_id,
                unnest(regexp_split_to_array(lower(text), '\\s+')) AS t
                FROM documents)),
            cr AS (SELECT idx, count(*) AS c FROM fr GROUP BY idx),
            ft AS (SELECT ${featureIdxSql("t", 2048)} AS idx
              FROM (SELECT
                unnest(regexp_split_to_array(lower(text), '\\s+')) AS t
                FROM documents WHERE lang = 'en')),
            ct AS (SELECT idx, count(*) AS c FROM ft GROUP BY idx),
            tot AS (SELECT
                (SELECT coalesce(sum(c), 0) FROM cr) AS rt,
                (SELECT coalesce(sum(c), 0) FROM ct) AS tt),
            ratio AS (SELECT g AS idx,
                ln(CAST(coalesce(ct.c, 0) + 1 AS DOUBLE) /
                   CAST(tt + 2048 AS DOUBLE)) -
                ln(CAST(coalesce(cr.c, 0) + 1 AS DOUBLE) /
                   CAST(rt + 2048 AS DOUBLE)) AS lr
              FROM range(0, 2048) t(g)
              LEFT JOIN cr ON cr.idx = g LEFT JOIN ct ON ct.idx = g, tot),
            lw AS (SELECT doc_id, sum(lr) AS lw
              FROM fr JOIN ratio USING (idx) GROUP BY doc_id),
            g AS (SELECT doc_id, lw, round(lw - ln(-ln(
                (CAST(${md5FoldSql("'13:' || CAST(doc_id AS VARCHAR)")} AS DOUBLE)
                  + 0.5) / 1152921504606846976.0)), 6) AS gscore
              FROM lw),
            sel AS (SELECT * FROM g
              ORDER BY gscore DESC, doc_id ASC LIMIT 100)
            SELECT doc_id, round(lw, 4) AS lw, gscore
            FROM sel ORDER BY doc_id"""))

  /** End-to-end preprocessing pipeline in one composed plan — the
    * 100 TB shape: quality gate (scan-level filter) → exact dedup
    * (hash-groupBy + semi-join) → deterministic split → per-(split, lang)
    * corpus stats. Each stage is an operator verified on its own elsewhere;
    * this entry proves the COMPOSITION hash-exact. */
  val q_pipeline_e2e = Q(
    "q_pipeline_e2e",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val toks = size(TextAnalysis.tokens(col("text")))
      val quality = d.filter(toks >= 30)
      val rep = Dedup.exact(quality, "text", "doc_id")
      val deduped = quality.join(rep, Seq("doc_id"), "left_semi")
      val withSplit = deduped.withColumn("split",
        Sampling.split(col("doc_id"), Seq("train" -> 8, "val" -> 1, "test" -> 1)))
      GTable(withSplit.groupBy("split", "lang")
          .agg(count(lit(1)).as("n_docs"), sum(toks.cast("long")).as("tokens")))
        .order(GTable.orderKeys(Seq("split", "lang")))
        .result
    },
    Some(s"""WITH q AS (SELECT * FROM documents
            WHERE len(regexp_split_to_array(lower(text), '\\s+')) >= 30),
          rep AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY text),
          ded AS (SELECT q.* FROM q JOIN rep USING (doc_id)),
          b AS (SELECT *, ${hashBucketSql("doc_id", 10)} AS bk FROM ded),
          spl AS (SELECT *, CASE WHEN bk < 8 THEN 'train'
              WHEN bk < 9 THEN 'val' ELSE 'test' END AS split FROM b)
          SELECT split, lang, count(*) AS n_docs,
            CAST(sum(len(regexp_split_to_array(lower(text), '\\s+'))) AS BIGINT) AS tokens
          FROM spl GROUP BY split, lang ORDER BY split, lang"""))

  /** Rolling-hash document fingerprint + duplicate-fingerprint count. */
  val q_fingerprint = Q(
    "q_fingerprint",
    (s, dir) => {
      val d = GTable(Tables.load(s, dir, "documents"))
      d.project("fp" -> TextAnalysis.fingerprint(col("text")))
        .select("doc_id", "fp")
        .order(GTable.orderKeys(Seq("doc_id")))
        .result
    },
    Some("""WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS toks FROM documents),
            k AS (SELECT doc_id,
              list_transform(toks, tok ->
                list_reduce(list_prepend(CAST(7 AS BIGINT),
                  list_transform(range(1, greatest(length(tok), 1) + 1),
                    i -> CAST(ascii(substr(tok, CAST(i AS INTEGER), 1)) AS BIGINT))),
                  (acc, c) -> (acc * 131 + c) % 1000000007)) AS keys
              FROM t)
            SELECT doc_id,
              list_reduce(list_prepend(CAST(0 AS BIGINT), keys),
                (acc, tk) -> (acc * 31 + tk) % 1000000007) AS fp
            FROM k ORDER BY doc_id"""))

  /** Shared oracle CTE block: exact word-3-gram Jaccard pairs at the given
    * threshold (mirror of Dedup.jaccardPairs INCLUDING its default
    * hot-shingle df cap; same text as q_dedup_jaccard's oracle), ending in
    * a `pairs(id1, id2, jaccard)` relation. Doc sizes are computed after
    * the cap, exactly as the engine does. */
  private def jaccardPairsSql(
      threshold: Double,
      maxDf: Int = graft.operators.Dedup.DefaultMaxDf): String =
    s"""toks AS (
       |  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t FROM documents),
       |sh0 AS (
       |  SELECT doc_id, unnest(list_distinct(CASE WHEN len(t) >= 3 THEN
       |    list_transform(range(1, len(t) - 1),
       |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
       |    ELSE [] END)) AS s
       |  FROM toks),
       |sdf AS (SELECT s, count(*) AS df FROM sh0 GROUP BY s),
       |sh AS (SELECT sh0.doc_id, sh0.s FROM sh0 JOIN sdf USING (s)
       |  WHERE $maxDf <= 0 OR sdf.df <= $maxDf),
       |sizes AS (SELECT doc_id, count(*) sz FROM sh GROUP BY doc_id),
       |common AS (
       |  SELECT a.doc_id id1, b.doc_id id2, count(*) c
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT id1, id2, c / (s1.sz + s2.sz - c) AS jaccard FROM common
       |  JOIN sizes s1 ON id1 = s1.doc_id
       |  JOIN sizes s2 ON id2 = s2.doc_id
       |  WHERE c / (s1.sz + s2.sz - c) >= $threshold)""".stripMargin

  /** Near-dup clusters: connected components over exact Jaccard pair edges
    * (hash-min label propagation with pointer jumping in the engine; the
    * oracle re-derives the same fixed point as a recursive reachability
    * closure — min reachable id per node). */
  val q_dedup_clusters = Q(
    "q_dedup_clusters",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val pairs = Dedup.jaccardPairs(d, "text", "doc_id", n = 3, threshold = 0.55)
      GTable(Dedup.clusters(pairs))
        .order(GTable.orderKeys(Seq("id")))
        .result
    },
    Some(s"""WITH RECURSIVE ${jaccardPairsSql(0.55)},
             edges AS (SELECT id1 AS a, id2 AS b FROM pairs
                       UNION SELECT id2, id1 FROM pairs),
             nodes AS (SELECT DISTINCT a AS id FROM edges),
             reach(src, dst) AS (
               SELECT id, id FROM nodes
               UNION
               SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a)
             SELECT src AS id, min(dst) AS cluster
             FROM reach GROUP BY src ORDER BY id"""))

  /** Representative-per-cluster dedup: documents surviving
    * keepRepresentatives over the Jaccard pair edges (transitive closure —
    * only the smallest id of each connected component survives). */
  val q_dedup_reps = Q(
    "q_dedup_reps",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val pairs = Dedup.jaccardPairs(d, "text", "doc_id", n = 3, threshold = 0.55)
      GTable(Dedup.keepRepresentatives(d, pairs, "doc_id").select("doc_id"))
        .order(GTable.orderKeys(Seq("doc_id")))
        .result
    },
    Some(s"""WITH RECURSIVE ${jaccardPairsSql(0.55)},
             edges AS (SELECT id1 AS a, id2 AS b FROM pairs
                       UNION SELECT id2, id1 FROM pairs),
             nodes AS (SELECT DISTINCT a AS id FROM edges),
             reach(src, dst) AS (
               SELECT id, id FROM nodes
               UNION
               SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
             dupes AS (
               SELECT src AS id FROM reach GROUP BY src
               HAVING src != min(dst))
             SELECT doc_id FROM documents
             WHERE doc_id NOT IN (SELECT id FROM dupes)
             ORDER BY doc_id"""))

  /** Gopher-style repetition + document statistics (top-2-gram occupancy,
    * duplicate-3-gram fraction, mean word length, alpha-word fraction,
    * symbol-word ratio, distinct-stopword hits). */
  val q_text_repetition = Q(
    "q_text_repetition",
    (s, dir) => {
      val d = GTable(Tables.load(s, dir, "documents"))
        .project("_st" -> TextAnalysis.stats(col("text")))
      val metrics =
        (TextAnalysis.repetitionMetricsFrom(col("_st")) ++
          TextAnalysis.gopherMetricsFrom(col("_st")))
          .map { case (n, c) =>
            n -> (if (n == "stopword_hits") c else round(c, 9)) }
      d.project(metrics: _*)
        .select("doc_id" +: metrics.map(_._1): _*)
        .order(GTable.orderKeys(Seq("doc_id")))
        .result
    },
    Some(s"""WITH t AS (
              SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS toks FROM documents),
            g AS (SELECT doc_id, toks,
              CASE WHEN len(toks) >= 2 THEN list_transform(range(1, len(toks)),
                i -> toks[i] || ' ' || toks[i+1]) ELSE [] END AS bi,
              CASE WHEN len(toks) >= 3 THEN list_transform(range(1, len(toks) - 1),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                ELSE [] END AS tri
              FROM t),
            m AS (SELECT doc_id,
              CASE WHEN len(bi) > 0 THEN
                CAST(list_max(list_transform(list_distinct(bi),
                  g2 -> len(list_filter(bi, x -> x = g2)))) AS DOUBLE) / len(bi)
                ELSE 0.0 END AS topbi,
              CASE WHEN len(tri) > 0 THEN
                CAST(list_reduce(list_prepend(0, list_transform(list_distinct(tri),
                  g2 -> CASE WHEN len(list_filter(tri, x -> x = g2)) > 1
                    THEN len(list_filter(tri, x -> x = g2)) ELSE 0 END)),
                  (a, b) -> a + b) AS DOUBLE) / len(tri)
                ELSE 0.0 END AS duptri,
              CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform(toks, x -> CAST(length(x) AS BIGINT))),
                (a, b) -> a + b) AS DOUBLE) / greatest(len(toks), 1) AS mwl,
              CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
                AS DOUBLE) / greatest(len(toks), 1) AS awf,
              CAST(len(list_filter(toks, x -> NOT regexp_matches(x, '[a-z0-9]')))
                AS DOUBLE) / greatest(len(toks), 1) AS syr,
              CAST(len(list_intersect(list_distinct(toks),
                ['the','a','of','and','to','in','is','that','it','for']))
                AS INTEGER) AS sh
              FROM g)
            SELECT doc_id,
              round(topbi, 9) AS top_bigram_frac,
              round(duptri, 9) AS dup_trigram_frac,
              round(mwl, 9) AS mean_word_len,
              round(awf, 9) AS alpha_word_frac,
              round(syr, 9) AS symbol_word_ratio,
              sh AS stopword_hits
            FROM m ORDER BY doc_id"""))

  /** Composite Gopher keep/drop verdict per document (331/500 keep at
    * sf0.01 — a real split, not pass-all). */
  val q_gopher_filter = Q(
    "q_gopher_filter",
    (s, dir) => {
      val d = GTable(Tables.load(s, dir, "documents"))
      d.project("_st" -> TextAnalysis.stats(col("text")))
        .project("keep" -> TextAnalysis.gopherFilterFrom(col("_st")))
        .select("doc_id", "keep")
        .order(GTable.orderKeys(Seq("doc_id")))
        .result
    },
    Some(s"""WITH t AS (
              SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS toks FROM documents),
            g AS (SELECT doc_id, toks,
              CASE WHEN len(toks) >= 2 THEN list_transform(range(1, len(toks)),
                i -> toks[i] || ' ' || toks[i+1]) ELSE [] END AS bi,
              CASE WHEN len(toks) >= 3 THEN list_transform(range(1, len(toks) - 1),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                ELSE [] END AS tri
              FROM t),
            m AS (SELECT doc_id, len(toks) AS n,
              CASE WHEN len(bi) > 0 THEN
                CAST(list_max(list_transform(list_distinct(bi),
                  g2 -> len(list_filter(bi, x -> x = g2)))) AS DOUBLE) / len(bi)
                ELSE 0.0 END AS topbi,
              CASE WHEN len(tri) > 0 THEN
                CAST(list_reduce(list_prepend(0, list_transform(list_distinct(tri),
                  g2 -> CASE WHEN len(list_filter(tri, x -> x = g2)) > 1
                    THEN len(list_filter(tri, x -> x = g2)) ELSE 0 END)),
                  (a, b) -> a + b) AS DOUBLE) / len(tri)
                ELSE 0.0 END AS duptri,
              CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform(toks, x -> CAST(length(x) AS BIGINT))),
                (a, b) -> a + b) AS DOUBLE) / greatest(len(toks), 1) AS mwl,
              CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
                AS DOUBLE) / greatest(len(toks), 1) AS awf,
              CAST(len(list_filter(toks, x -> NOT regexp_matches(x, '[a-z0-9]')))
                AS DOUBLE) / greatest(len(toks), 1) AS syr,
              len(list_intersect(list_distinct(toks),
                ['the','a','of','and','to','in','is','that','it','for'])) AS sh
              FROM g)
            SELECT doc_id,
              (n BETWEEN 40 AND 10000 AND mwl BETWEEN 3.0 AND 10.0
                AND awf > 0.8 AND syr < 0.1 AND sh >= 1
                AND topbi < 0.09 AND duptri < 0.25) AS keep
            FROM m ORDER BY doc_id"""))

  /** Eval-set decontamination: flag corpus docs sharing ≥2 distinct word
    * 3-grams with a benchmark slice (docs with id % 50 = 0) — the GPT-3/
    * PaLM recipe with the benchmark n-gram set broadcast. */
  val q_decontaminate = Q(
    "q_decontaminate",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val bench = d.filter(col("doc_id") % 50 === 0)
      val corp = d.filter(col("doc_id") % 50 =!= 0)
      GTable(Dedup.decontaminate(corp, bench, "text", "doc_id",
          n = 3, minHits = 2))
        .order(GTable.orderKeys(Seq("id")))
        .result
    },
    Some("""WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS toks
              FROM documents),
            sh AS (SELECT doc_id,
              unnest(list_distinct(CASE WHEN len(toks) >= 3 THEN
                list_transform(range(1, len(toks) - 1),
                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                ELSE [] END)) AS s
              FROM t),
            bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 50 = 0),
            corp AS (SELECT doc_id, s FROM sh WHERE doc_id % 50 <> 0)
            SELECT corp.doc_id AS id, count(*) AS hits
            FROM corp JOIN bench USING (s)
            GROUP BY 1 HAVING count(*) >= 2 ORDER BY id"""))

  /** Corpus-level span dedup (C4-style at 10-token-span granularity):
    * every span keeps only its globally first occurrence (min (id, pos));
    * ONLY documents losing a span are reassembled from their surviving
    * spans — span-clean docs pass through byte-identical (original
    * whitespace preserved; the oracle mirrors the split). */
  val q_dedup_spans = Q(
    "q_dedup_spans",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      GTable(Dedup.dedupSpans(d, "text", "doc_id", span = 10))
        .order(GTable.orderKeys(Seq("doc_id")))
        .result
    },
    Some("""WITH t AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS toks
              FROM documents WHERE length(trim(text)) > 0),
            sp AS (SELECT doc_id, CAST(g AS BIGINT) AS pos,
                array_to_string(toks[CAST(g*10+1 AS BIGINT):CAST(g*10+10 AS BIGINT)], ' ') AS s
              FROM t, UNNEST(range(0, CAST(ceil(len(toks) / 10.0) AS BIGINT))) AS u(g)),
            firsts AS (SELECT lower(s) AS ls, min({'id': doc_id, 'pos': pos}) AS f
              FROM sp GROUP BY lower(s)),
            losers AS (SELECT sp.doc_id, sp.pos FROM sp JOIN firsts f
              ON lower(sp.s) = f.ls
              WHERE NOT (sp.doc_id = f.f.id AND sp.pos = f.f.pos)),
            cutids AS (SELECT DISTINCT doc_id FROM losers),
            kept AS (SELECT sp.doc_id, sp.pos, sp.s
              FROM sp SEMI JOIN cutids USING (doc_id)
              ANTI JOIN losers l ON sp.doc_id = l.doc_id AND sp.pos = l.pos),
            rebuilt AS (SELECT doc_id,
                array_to_string(list(s ORDER BY pos), ' ') AS text
              FROM kept GROUP BY doc_id)
            SELECT doc_id, text FROM documents ANTI JOIN cutids USING (doc_id)
            UNION ALL SELECT doc_id, text FROM rebuilt
            ORDER BY doc_id"""))

  /** Exact-substring dedup (Lee et al. 2022 adapted to token granularity):
    * OVERLAPPING 8-token windows — any duplicated run of ≥ 8 tokens keeps
    * only its globally first occurrence (min (id, pos)), overlapping cut
    * ranges merge, and ONLY documents with a cut are reassembled from
    * surviving tokens; cut-free documents pass through byte-identical
    * (original whitespace preserved — the oracle mirrors the split). The
    * oracle recomputes the full construction relationally on shingle
    * STRINGS (the engine groups on xxhash64 — identical modulo
    * collisions). */
  val q_dedup_substr = Q(
    "q_dedup_substr",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      GTable(Dedup.dedupSubstrings(d, "text", "doc_id", window = 8))
        .order(GTable.orderKeys(Seq("doc_id")))
        .result
    },
    Some("""WITH t AS (SELECT doc_id, text, regexp_split_to_array(text, '\s+') AS toks
              FROM documents),
            occ AS (SELECT doc_id, CAST(g AS BIGINT) AS p,
                lower(array_to_string(toks[CAST(g+1 AS BIGINT):CAST(g+8 AS BIGINT)], ' ')) AS s
              FROM t, UNNEST(range(0, CAST(greatest(len(toks) - 7, 0) AS BIGINT))) AS u(g)),
            firsts AS (SELECT s, min({'id': doc_id, 'p': p}) AS f
              FROM occ GROUP BY s),
            dups AS (SELECT occ.doc_id, occ.p FROM occ JOIN firsts f ON occ.s = f.s
              WHERE NOT (occ.doc_id = f.f.id AND occ.p = f.f.p)),
            cutids AS (SELECT DISTINCT doc_id FROM dups),
            tok AS (SELECT doc_id, CAST(g AS BIGINT) AS pos, toks[CAST(g+1 AS BIGINT)] AS tk
              FROM t SEMI JOIN cutids USING (doc_id),
              UNNEST(range(0, CAST(len(toks) AS BIGINT))) AS u(g)),
            m AS (SELECT doc_id, p AS pos, 0 AS kind, CAST(p + 8 AS BIGINT) AS e,
                NULL AS tk FROM dups
              UNION ALL SELECT doc_id, pos, 1, NULL, tk FROM tok),
            mk AS (SELECT *, max(e) OVER (PARTITION BY doc_id ORDER BY pos, kind
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ce FROM m),
            rebuilt AS (SELECT doc_id, array_to_string(list(tk ORDER BY pos), ' ') AS text
              FROM mk WHERE kind = 1 AND (ce IS NULL OR ce <= pos)
              GROUP BY doc_id)
            SELECT doc_id, text FROM t ANTI JOIN cutids USING (doc_id)
            UNION ALL SELECT doc_id, text FROM rebuilt
            ORDER BY doc_id"""))

  /** Normalization-class dedup: the corpus unioned with decorated copies
    * (case/punctuation/whitespace drift, ids offset by 100000) — normalized
    * exact dedup must merge every decorated copy back onto its original
    * (byte-exact dedup would keep all of them). */
  val q_dedup_normalized = Q(
    "q_dedup_normalized",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val dec = d.select(
        (col("doc_id") + 100000).as("doc_id"),
        when(col("doc_id") % 3 === 0, concat(upper(col("text")), lit("!!")))
          .when(col("doc_id") % 3 === 1, concat(lit("  "), col("text"), lit("  ")))
          .otherwise(concat(col("text"), lit(" .. "))).as("text"))
      val u = d.select("doc_id", "text").union(dec)
      GTable(Dedup.exactNormalized(u, "text", "doc_id"))
        .order(GTable.orderKeys(Seq("doc_id")))
        .result
    },
    Some("""WITH d AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 100000,
                CASE WHEN doc_id % 3 = 0 THEN upper(text) || '!!'
                     WHEN doc_id % 3 = 1 THEN '  ' || text || '  '
                     ELSE text || ' .. ' END AS text
              FROM documents)
            SELECT min(doc_id) AS doc_id FROM d
            GROUP BY trim(regexp_replace(lower(text), '[^\p{L}\p{N}]+', ' ', 'g'))
            ORDER BY doc_id"""))

  /** Deterministic mixture resampling: en upsampled 2.5x, zh downsampled
    * to 0.3x (floor(w) copies + one md5-bucket fractional copy — expected
    * multiplicity exactly w, stable under retries/repartitioning). */
  val q_mix_weighted = Q(
    "q_mix_weighted",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      GTable(Sampling.mixWeighted(d, col("lang"), col("doc_id"),
          Map("en" -> 2.5, "zh" -> 0.3))
          .select("doc_id", "lang", "copy"))
        .order(GTable.orderKeys(Seq("doc_id", "copy")))
        .result
    },
    Some(s"""WITH w AS (SELECT *,
              CASE lang WHEN 'en' THEN 2.5 WHEN 'zh' THEN 0.3 ELSE 1.0 END AS wt,
              ${hashBucketSql("doc_id", 10000)} AS bk FROM documents),
            c AS (SELECT doc_id, lang, CAST(floor(wt) AS INT) +
                (CASE WHEN bk < CAST(floor((wt - floor(wt)) * 10000 + 0.5) AS INT)
                  THEN 1 ELSE 0 END) AS copies FROM w)
            SELECT doc_id, lang, CAST(u.g AS INT) AS copy
            FROM c, UNNEST(range(0, CAST(copies AS BIGINT))) AS u(g)
            ORDER BY doc_id, copy"""))

  /** Deterministic corpus shuffle: total order by md5(seed:id) — compiles
    * to a range-partitioned sort (the scalable "shuffle the training data"),
    * stable under retries unlike a rand() order. */
  val q_shuffle_det = Q(
    "q_shuffle_det",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      Sampling.shuffled(d, col("doc_id"), "42")
        .select("doc_id", "shuffle_key")
    },
    Some("""SELECT doc_id, md5('42:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
            FROM documents ORDER BY shuffle_key"""))

  /** Index base dir for the text-search gates — per-sf-dir like [[annDir]],
    * so concurrent gate topologies never share index trees. */
  private def txDir(dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_tx/${dir.replaceAll("[^A-Za-z0-9]", "_")}"

  /** Inverted-index keyword search, AND of two terms: the probe reads ONLY
    * the bucket dirs the terms hash to (TextSearch.searchIds via
    * IndexMaint.readPartitions), never the corpus text. The oracle
    * recomputes membership from the raw text with the same whitespace
    * tokenizer — index answers must equal full-scan answers exactly. */
  val q_text_search = Q(
    "q_text_search",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val idx = TextSearch.textIndexFor(d, s"$dir/documents", "text",
        "doc_id", txDir(dir))
      TextSearch.search(idx, d, Seq("join", "filter"))
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, lang, source FROM documents
            WHERE doc_id IN (
              SELECT doc_id FROM (
                SELECT doc_id,
                  unnest(regexp_split_to_array(lower(text), '\s+')) AS t
                FROM documents)
              WHERE t IN ('join', 'filter')
              GROUP BY doc_id HAVING count(DISTINCT t) = 2)
            ORDER BY doc_id"""))

  /** at-least-m search (minMatch = 2 of 3 terms) against the SAME cached
    * index as [[q_text_search]] — the second gate exercises the re-open
    * path of textIndexFor, not a rebuild. */
  val q_text_search_min = Q(
    "q_text_search_min",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val idx = TextSearch.textIndexFor(d, s"$dir/documents", "text",
        "doc_id", txDir(dir))
      TextSearch.searchIds(idx, Seq("scan", "batch", "row"), minMatch = 2)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id FROM (
              SELECT doc_id,
                unnest(regexp_split_to_array(lower(text), '\s+')) AS t
              FROM documents)
            WHERE t IN ('scan', 'batch', 'row')
            GROUP BY doc_id HAVING count(DISTINCT t) >= 2
            ORDER BY doc_id"""))

  /** Exact-phrase search off the POSITIONAL index variant: candidates from
    * the same bucket-pruned AND probe, adjacency verified on stored
    * positions (one codegen'd exists over the pivoted position map — the
    * corpus text is never read). The oracle verifies adjacency with a
    * positional self-join over the tokenized text. */
  val q_text_phrase = Q(
    "q_text_phrase",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val idx = TextSearch.textIndexFor(d, s"$dir/documents", "text",
        "doc_id", txDir(dir), positions = true)
      TextSearch.phraseIds(idx, Seq("table", "hash"))
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },
    Some("""WITH d AS (SELECT doc_id,
              regexp_split_to_array(lower(text), '\s+') AS a FROM documents),
          tok AS (SELECT doc_id, unnest(a) AS term,
              unnest(range(len(a))) AS pos FROM d)
          SELECT DISTINCT t0.doc_id FROM tok t0
          JOIN tok t1 ON t1.doc_id = t0.doc_id AND t1.pos = t0.pos + 1
          WHERE t0.term = 'table' AND t1.term = 'hash'
          ORDER BY t0.doc_id"""))

  /** BM25 top-50 ranked retrieval off the positional index: tf from stored
    * positions, per-term df from the term's own bucket, N/avgdl from the
    * sidecar corpus stats — corpus text never read. The oracle recomputes
    * the whole Okapi formula (same literal constants, same association
    * order) from raw text; scores rounded at 1e-6 before the cut with id
    * tie-break so both engines pick and order the same 50 docs. */
  val q_text_bm25 = Q(
    "q_text_bm25",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val idx = TextSearch.textIndexFor(d, s"$dir/documents", "text",
        "doc_id", txDir(dir), positions = true)
      TextSearch.rankedSearch(idx, Seq("join", "filter", "hash"), k = 50)
        .withColumnRenamed("id", "doc_id")
        .orderBy("rank")
    },
    Some("""WITH d AS (SELECT doc_id,
              regexp_split_to_array(lower(text), '\s+') AS a FROM documents),
          stats AS (SELECT count(*) AS n, avg(len(a)) AS avgdl FROM d
              WHERE len(list_filter(a, t -> len(t) > 0)) > 0),
          tok AS (SELECT doc_id, len(a) AS dl, unnest(a) AS term FROM d),
          tf AS (SELECT doc_id, term, dl, count(*) AS tf FROM tok
                 WHERE term IN ('join', 'filter', 'hash') GROUP BY 1, 2, 3),
          dfs AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
          sc AS (SELECT tf.doc_id,
              round(sum(
                ln(1 + (CAST(stats.n AS DOUBLE) - dfs.df + 0.5) / (dfs.df + 0.5))
                  * (tf.tf * 2.2)
                  / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl))), 6)
                AS score
            FROM tf JOIN dfs USING (term) CROSS JOIN stats GROUP BY 1)
          SELECT doc_id, score,
            CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
              AS rank
          FROM sc ORDER BY score DESC, doc_id LIMIT 50"""))

  /** Deterministic token-budget head: the first 10k tokens of the shuffled
    * corpus, cut after the crossing document. The oracle recomputes the
    * md5 stream order and the running total with a plain window — the
    * engine's block prefix-sum decomposition must agree exactly. */
  val q_token_budget = Q(
    "q_token_budget",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      Sampling.takeTokenBudget(d, "doc_id",
          size(TextAnalysis.tokens(col("text"))), budget = 10000L, seed = "42")
        .select("doc_id", "shuffle_key", "tokens_before")
        .orderBy("shuffle_key")
    },
    Some("""WITH t AS (SELECT doc_id,
              md5('42:' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
              COALESCE(CAST(len(regexp_split_to_array(lower(text), '\s+'))
                AS BIGINT), 0) AS tok
            FROM documents),
          c AS (SELECT doc_id, shuffle_key,
              CAST(sum(tok) OVER (ORDER BY shuffle_key, doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tok
                AS BIGINT) AS tokens_before
            FROM t)
          SELECT doc_id, shuffle_key, tokens_before FROM c
          WHERE tokens_before < 10000 ORDER BY shuffle_key"""))

  /** Deterministic per-stratum reservoir: exactly 20 docs per language,
    * smallest md5(seed:id) — via the distributed rankings path (no
    * single-task-per-stratum window). */
  val q_reservoir = Q(
    "q_reservoir",
    (s, dir) => {
      val d = GTable(Tables.load(s, dir, "documents"))
      GTable(Sampling.reservoirK(d, Seq("lang"), col("doc_id"), k = 20,
          seed = "7"))
        .select("doc_id", "lang")
        .order(GTable.orderKeys(Seq("doc_id")))
        .result
    },
    Some("""WITH r AS (SELECT doc_id, lang,
              row_number() OVER (PARTITION BY lang
                ORDER BY md5('7:' || CAST(doc_id AS VARCHAR))) AS rn
              FROM documents)
            SELECT doc_id, lang FROM r WHERE rn <= 20 ORDER BY doc_id"""))

  /** Incremental dedup: a new batch (docs ≥ 400, plus 50 known copies of
    * corpus texts under shifted ids) against the existing corpus
    * (docs < 400) — the copies must be dropped as already-seen, the
    * genuinely new docs kept and batch-deduped. */
  val q_dedup_incremental = Q(
    "q_dedup_incremental",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val corpus = d.filter(col("doc_id") < 400)
      val batch = d.filter(col("doc_id") >= 400).select("doc_id", "text")
        .union(d.filter(col("doc_id") < 50)
          .select((col("doc_id") + 1000).as("doc_id"), col("text")))
      GTable(Dedup.exactIncremental(batch, corpus, "text", "doc_id"))
        .order(GTable.orderKeys(Seq("doc_id")))
        .result
    },
    Some("""WITH corpus AS (SELECT * FROM documents WHERE doc_id < 400),
            batch AS (SELECT doc_id, text FROM documents WHERE doc_id >= 400
              UNION ALL
              SELECT doc_id + 1000, text FROM documents WHERE doc_id < 50)
            SELECT min(doc_id) AS doc_id FROM batch b
            WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.text = b.text)
            GROUP BY text ORDER BY doc_id"""))

  /** Bloom-filter first-pass incremental dedup, same corpus/batch split as
    * q_dedup_incremental and the SAME exact oracle: at fpp = 1e-6 over a
    * few hundred batch rows the expected false-positive count is ~1e-3 and
    * Spark's BloomFilter hashing is deterministic, so the approximate pass
    * provably agrees with the exact result on this data (verified by this
    * very gate); the fpp trade itself is spec-tier (PipelineSpec). */
  val q_dedup_incr_bloom = Q(
    "q_dedup_incr_bloom",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val corpus = d.filter(col("doc_id") < 400)
      val batch = d.filter(col("doc_id") >= 400).select("doc_id", "text")
        .union(d.filter(col("doc_id") < 50)
          .select((col("doc_id") + 1000).as("doc_id"), col("text")))
      // fpp 1e-9, not 1e-6: the gate's oracle models the EXACT result, and
      // at soak scale (60k-doc batch, ×12 amplification) 1e-6 gave a ~6%
      // chance of one deterministic false drop — observed in the round-7
      // soak. 1e-9 keeps the agreement probability overwhelming at any
      // realistic amplification while the fpp trade itself is spec'd in
      // PipelineSpec (no-false-negatives + subset-of-exact).
      GTable(Dedup.incrementalBloom(batch, corpus, "text", "doc_id",
          expectedItems = 1000L, fpp = 1e-9))
        .order(GTable.orderKeys(Seq("doc_id")))
        .result
    },
    q_dedup_incremental.oracle)

  /** Keyword extraction: top-5 terms per doc by tf-idf, tie-broken on the
    * rounded score then the term (cross-engine deterministic). */
  val q_tfidf_topk = Q(
    "q_tfidf_topk",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      GTable(TextAnalysis.tfidfTopTerms(d, "text", "doc_id", k = 5))
        .order(GTable.orderKeys(Seq("doc_id", "term")))
        .result
    },
    Some("""WITH toks AS (SELECT doc_id,
              unnest(regexp_split_to_array(lower(text), '\s+')) AS term FROM documents),
            tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
            len AS (SELECT doc_id, sum(tf) AS len FROM tf GROUP BY 1),
            dfreq AS (SELECT term, count(*) AS df_t FROM tf GROUP BY 1),
            n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
            s AS (SELECT tf.doc_id, tf.term, tf.tf, dfreq.df_t,
                round((tf.tf / CAST(len.len AS DOUBLE)) *
                  ln(CAST(n.n_docs AS DOUBLE) / df_t), 4) AS tfidf
              FROM tf JOIN len USING (doc_id) JOIN dfreq USING (term), n),
            r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                ORDER BY tfidf DESC, term) AS rn FROM s)
            SELECT doc_id, term, tf, df_t, tfidf FROM r WHERE rn <= 5
            ORDER BY doc_id, term"""))

  /** PII scrub: deterministic synthetic PII (email, IPv4, phone) appended
    * per doc, then masked — both engines run the SAME RE2-safe regexes. */
  val q_pii_scrub = Q(
    "q_pii_scrub",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val decorated = concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@example.com from 10.0."),
        (col("doc_id") % 256), lit(".7 tel +1415555"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
      GTable(d.select(col("doc_id"),
          TextAnalysis.scrubPii(decorated).as("clean")))
        .order(GTable.orderKeys(Seq("doc_id")))
        .result
    },
    Some("""WITH d AS (SELECT doc_id,
              text || ' contact user' || CAST(doc_id AS VARCHAR)
                || '@example.com from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                || '.7 tel +1415555'
                || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
              FROM documents)
            SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(t,
              '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
              '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
              '\+\d{7,15}\b', '<PHONE>', 'g') AS clean
            FROM d ORDER BY doc_id"""))

  /** RAG-style chunking: 64-token chunks with 16-token overlap (stride 48),
    * exploded to (doc, chunk_idx, chunk). The oracle tokenizes with the
    * SAME \s+ regex as the engine (regexp_split_to_array), so parity is
    * genuine rather than dependent on single-space corpus text. */
  val q_chunks = Q(
    "q_chunks",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      GTable(TextAnalysis.chunked(d, "text", "doc_id",
          chunkSize = 64, overlap = 16))
        .order(GTable.orderKeys(Seq("doc_id", "chunk_idx")))
        .result
    },
    Some("""WITH t AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS toks
              FROM documents WHERE length(trim(text)) > 0),
            n AS (SELECT doc_id, toks,
                CASE WHEN len(toks) <= 64 THEN 1
                  ELSE CAST(ceil((len(toks) - 64) / 48.0) AS INT) + 1 END AS nc
              FROM t)
            SELECT doc_id, CAST(u.g AS INT) AS chunk_idx,
              array_to_string(
                toks[CAST(u.g*48+1 AS BIGINT):CAST(u.g*48+64 AS BIGINT)], ' ') AS chunk
            FROM n, UNNEST(range(0, CAST(nc AS BIGINT))) AS u(g)
            ORDER BY doc_id, chunk_idx"""))

  /** L2 normalization of the embedding column (unit vectors for cosine-
    * as-dot): float components convert exactly, the norm fold and division
    * are IEEE-correctly-rounded, so the SQL oracle is bit-exact. Array
    * cells are unhashable in the gate comparator (q_embed_quant
    * precedent), so scalar projections pin the same values: first/last
    * unit components and the sequential component sum. */
  val q_l2_normalize = Q(
    "q_l2_normalize",
    (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      GTable(Similarity.l2Normalized(e, "embedding", "unit")
          .select(col("vec_id"),
            element_at(col("unit"), 1).as("u_first"),
            element_at(col("unit"), -1).as("u_last"),
            aggregate(col("unit"), lit(0.0), (a, x) => a + x).as("u_sum")))
        .order(GTable.orderKeys(Seq("vec_id")))
        .result
    },
    Some("""WITH n AS (SELECT vec_id, embedding,
              sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
                (a, b) -> a + b)) AS nm
              FROM embeddings),
            u AS (SELECT vec_id,
              CASE WHEN nm > 0
                THEN list_transform(embedding, x -> CAST(x AS DOUBLE) / nm)
                ELSE list_transform(embedding, x -> CAST(x AS DOUBLE)) END AS unit
              FROM n)
            SELECT vec_id, unit[1] AS u_first, unit[-1] AS u_last,
              list_reduce(list_prepend(CAST(0 AS DOUBLE), unit),
                (a, b) -> a + b) AS u_sum
            FROM u ORDER BY vec_id"""))

  /** Intra-document repetition scrub: collapse immediate token repeats. */
  val q_dedup_tokens = Q(
    "q_dedup_tokens",
    (s, dir) => {
      val d = GTable(Tables.load(s, dir, "documents"))
      d.project("collapsed" -> TextAnalysis.dedupConsecutiveTokens(col("text")))
        .select("doc_id", "collapsed")
        .order(GTable.orderKeys(Seq("doc_id")))
        .result
    },
    Some("""WITH t AS (
              SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS toks FROM documents)
            SELECT doc_id,
              array_to_string(list_filter(toks,
                (x, i) -> i = 1 OR x != toks[i - 1]), ' ') AS collapsed
            FROM t ORDER BY doc_id"""))

  /** Oracle-SQL fragment: the md5-derived projection matrix of
    * [[Similarity.randomProject]] — the [[lshBucketsSql]] grid with the
    * ProjPlaneBase row offset. Emits `pc(p, pl)`, p in [0, outDim). */
  private[queries] def projGridSql(outDim: Int, dim: Int): String = {
    val base = graft.operators.Similarity.ProjPlaneBase
    s"""pc AS (SELECT p, list(c ORDER BY i) AS pl FROM (
       |    SELECT tp.p, ti.i,
       |      CAST(list_reduce(list_transform(range(1, 16), j ->
       |        CAST(strpos('0123456789abcdef',
       |          substr(md5(CAST(tp.p + $base AS VARCHAR) || ':' ||
       |            CAST(ti.i AS VARCHAR)),
       |            CAST(j AS INT), 1)) - 1 AS BIGINT)),
       |        (a, b) -> a * 16 + b) % 1000000 AS DOUBLE) / 1000000.0 - 0.5 AS c
       |    FROM range(0, $outDim) tp(p), range(0, $dim) ti(i))
       |  GROUP BY p)""".stripMargin
  }

  /** Random projection (Similarity.randomProject, the fused MatVec pass):
    * embeddings dim 64 → 16, adjudicated PER ELEMENT — the oracle
    * recomputes the md5 plane grid, the double dot in the same fold
    * order, and the float cast, so every projected coordinate matches
    * bit-for-bit before the defensive round. */
  val q_embed_project = Q(
    "q_embed_project",
    (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val p = Similarity.randomProject(e, "embedding", "proj",
        outDim = 16, dim = 64)
      GTable(p.select(col("vec_id"), posexplode(col("proj")))
          .select(col("vec_id"), col("pos"),
            round(col("col").cast("double"), 9).as("val")))
        .order(GTable.orderKeys(Seq("vec_id", "pos")))
        .result
    },
    Some(s"""WITH v AS (SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
            FROM embeddings),
          ${projGridSql(outDim = 16, dim = 64)},
          proj AS (SELECT v.vec_id, pc.p AS pos,
              CAST(CAST(${dotSql("v.e", "pc.pl")} AS FLOAT) AS DOUBLE) AS d
            FROM v, pc)
          SELECT vec_id, CAST(pos AS INT) AS pos, round(d, 9) AS val
          FROM proj ORDER BY vec_id, pos"""))

  /** Exact dedup keeping the BEST duplicate (Dedup.exactBest): the
    * longest doc (n_chars) per text class survives, ties to the smallest
    * id — the production keep rule (highest-quality duplicate), vs
    * exact()'s first-crawled. */
  val q_dedup_best = Q(
    "q_dedup_best",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      GTable(Dedup.exactBest(d, "text", "doc_id", "n_chars")
          .select("doc_id", "n_chars"))
        .order(GTable.orderKeys(Seq("doc_id")))
        .result
    },
    Some("""WITH ranked AS (SELECT doc_id, n_chars, row_number() OVER (
              PARTITION BY text ORDER BY n_chars DESC, doc_id) AS rn
            FROM documents)
            SELECT doc_id, n_chars FROM ranked WHERE rn = 1
            ORDER BY doc_id"""))

  /** Recrawl pipeline END-TO-END (the composition the snapshot tier
    * exists for): snapshot diff's changedRows feeds incremental exact
    * dedup against the OLD corpus — re-added rows whose text the corpus
    * already holds are screened out, genuinely-new text survives (the
    * " v2" mutations), deduped within the delta. Both hops fully
    * recomputed by the oracle. */
  val q_snapshot_pipeline = Q(
    "q_snapshot_pipeline",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
      val cur = d.filter(col("doc_id") % 7 =!= 0)
        .withColumn("text", when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
        .unionAll(d.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
      val delta = graft.operators.Snapshot.changedRows(d, cur, Seq("doc_id"))
      GTable(Dedup.exactIncremental(delta, d, "text", "doc_id"))
        .order(GTable.orderKeys(Seq("doc_id")))
        .result
    },
    Some("""WITH old AS (SELECT doc_id, text FROM documents),
          cur AS (
            SELECT doc_id,
              CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
            FROM documents WHERE doc_id % 7 <> 0
            UNION ALL
            SELECT doc_id + 10000000, text FROM documents WHERE doc_id % 11 = 0),
          delta AS (SELECT c.doc_id, c.text FROM cur c
            LEFT JOIN old o ON o.doc_id = c.doc_id
            WHERE o.doc_id IS NULL OR c.text IS DISTINCT FROM o.text),
          unseen AS (SELECT d.* FROM delta d
            WHERE NOT EXISTS (SELECT 1 FROM old o WHERE o.text = d.text))
          SELECT min(doc_id) AS doc_id FROM unseen GROUP BY text
          ORDER BY doc_id"""))

  /** Composition gate: ANN in the PROJECTED space (randomProject 64 → 16,
    * then exact top-k on the 16-dim vectors) — adjudicates that the
    * projection output actually composes with the ANN tier's
    * array<float> contract, coordinate-exact through both hops. */
  val q_ann_topk_proj = Q(
    "q_ann_topk_proj",
    (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val p = Similarity.randomProject(e, "embedding", "proj",
        outDim = 16, dim = 64)
      GTable(Similarity.bruteForceTopK(p, p.filter(col("vec_id") < 10),
          "vec_id", "proj", k = 5))
        .project("score" -> round(col("score"), 9))
        .order(GTable.orderKeys(Seq("query_id", "rank")))
        .result
    },
    Some(s"""WITH v AS (SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
            FROM embeddings),
          ${projGridSql(outDim = 16, dim = 64)},
          pv AS (SELECT v.vec_id,
              list(CAST(CAST(${dotSql("v.e", "pc.pl")} AS FLOAT) AS DOUBLE)
                ORDER BY pc.p) AS e
            FROM v, pc GROUP BY v.vec_id),
          q AS (SELECT vec_id AS query_id, e AS qe FROM pv WHERE vec_id < 10),
          scored AS (SELECT query_id, pv.vec_id AS neighbor_id,
              ${cosSql("qe", "pv.e")} AS score
            FROM pv CROSS JOIN q WHERE pv.vec_id <> query_id),
          ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY score DESC, neighbor_id ASC) rank FROM scored)
          SELECT query_id, neighbor_id, round(score, 9) AS score,
            CAST(rank AS INTEGER) AS rank
          FROM ranked WHERE rank <= 5
          ORDER BY query_id, rank"""))

  /** Snapshot diff (Snapshot.diff): the keyed added/removed/changed delta
    * between two corpus snapshots — the current snapshot is a
    * deterministic mutation of `documents` (drop doc_id % 7, append
    * " v2" to text where doc_id % 5, re-add doc_id % 11 under shifted
    * ids), recomputed identically by the oracle, so the full-outer
    * compare (incl. the null-safe changed test) is adjudicated. */
  val q_snapshot_diff = Q(
    "q_snapshot_diff",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
      val cur = d.filter(col("doc_id") % 7 =!= 0)
        .withColumn("text", when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
        .unionAll(d.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
      GTable(graft.operators.Snapshot.diff(d, cur, Seq("doc_id")))
        .order(GTable.orderKeys(Seq("doc_id")))
        .result
    },
    Some("""WITH old AS (SELECT doc_id, text FROM documents),
          cur AS (
            SELECT doc_id,
              CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
            FROM documents WHERE doc_id % 7 <> 0
            UNION ALL
            SELECT doc_id + 10000000, text FROM documents WHERE doc_id % 11 = 0),
          j AS (SELECT coalesce(o.doc_id, c.doc_id) AS doc_id,
              o.doc_id IS NOT NULL AS in_old, c.doc_id IS NOT NULL AS in_cur,
              o.text IS DISTINCT FROM c.text AS differs
            FROM old o FULL OUTER JOIN cur c ON o.doc_id = c.doc_id)
          SELECT doc_id,
            CASE WHEN NOT in_old THEN 'added'
                 WHEN NOT in_cur THEN 'removed'
                 ELSE 'changed' END AS status
          FROM j WHERE NOT in_old OR NOT in_cur OR differs
          ORDER BY doc_id"""))

  /** Snapshot.changedRows: the new-or-changed CURRENT rows (content
    * included) — the frame the incremental tiers ingest after a recrawl. */
  val q_snapshot_changed = Q(
    "q_snapshot_changed",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
      val cur = d.filter(col("doc_id") % 7 =!= 0)
        .withColumn("text", when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
        .unionAll(d.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
      GTable(graft.operators.Snapshot.changedRows(d, cur, Seq("doc_id")))
        .order(GTable.orderKeys(Seq("doc_id")))
        .result
    },
    Some("""WITH old AS (SELECT doc_id, text FROM documents),
          cur AS (
            SELECT doc_id,
              CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
            FROM documents WHERE doc_id % 7 <> 0
            UNION ALL
            SELECT doc_id + 10000000, text FROM documents WHERE doc_id % 11 = 0)
          SELECT c.doc_id, c.text FROM cur c
          LEFT JOIN old o ON o.doc_id = c.doc_id
          WHERE o.doc_id IS NULL OR c.text IS DISTINCT FROM o.text
          ORDER BY c.doc_id"""))

  /** Profile.summary: the one-pass per-column census (count / nulls /
    * ndv / native min & max cast to string / mean) over three lineitem
    * columns of three types. exactNdv = true so the oracle adjudicates
    * the exact multi-distinct plan; the mean stays RAW (integral-valued
    * sums are exact in IEEE doubles at every gate scale, so no rounding
    * grid is needed — the dyadic-model contract class). */
  val q_profile = Q(
    "q_profile",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      GTable(graft.operators.Profile.summary(li,
          Seq("l_orderkey", "l_quantity", "l_returnflag"), exactNdv = true),
          denseRid = false)
        .order(GTable.orderKeys(Seq("name")))
        .result
    },
    Some("""SELECT * FROM (
          SELECT 'l_orderkey' AS name, count(l_orderkey) AS cnt,
            count(*) - count(l_orderkey) AS null_cnt,
            count(DISTINCT l_orderkey) AS ndv,
            CAST(min(l_orderkey) AS VARCHAR) AS min_s,
            CAST(max(l_orderkey) AS VARCHAR) AS max_s,
            CAST(sum(l_orderkey) AS DOUBLE) / count(l_orderkey) AS mean,
            quantile_cont(l_orderkey, 0.5) AS p50,
            quantile_cont(l_orderkey, 0.95) AS p95
          FROM lineitem
          UNION ALL
          SELECT 'l_quantity', count(l_quantity),
            count(*) - count(l_quantity), count(DISTINCT l_quantity),
            CAST(min(l_quantity) AS VARCHAR), CAST(max(l_quantity) AS VARCHAR),
            sum(l_quantity) / count(l_quantity),
            quantile_cont(l_quantity, 0.5), quantile_cont(l_quantity, 0.95)
          FROM lineitem
          UNION ALL
          SELECT 'l_returnflag', count(l_returnflag),
            count(*) - count(l_returnflag), count(DISTINCT l_returnflag),
            min(l_returnflag), max(l_returnflag), CAST(NULL AS DOUBLE),
            CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
          FROM lineitem)
          ORDER BY name"""))

  /** Profile.summaryBy: the per-GROUP census (per-language data quality
    * over documents) — same one-aggregation shape, |groups|×|columns|
    * output rows. */
  val q_profile_by = Q(
    "q_profile_by",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      GTable(graft.operators.Profile.summaryBy(d, Seq("lang"),
          Seq("n_chars", "source"), exactNdv = true), denseRid = false)
        .order(GTable.orderKeys(Seq("lang", "name")))
        .result
    },
    Some("""SELECT * FROM (
          SELECT lang, 'n_chars' AS name, count(n_chars) AS cnt,
            count(*) - count(n_chars) AS null_cnt,
            count(DISTINCT n_chars) AS ndv,
            CAST(min(n_chars) AS VARCHAR) AS min_s,
            CAST(max(n_chars) AS VARCHAR) AS max_s,
            CAST(sum(n_chars) AS DOUBLE) / count(n_chars) AS mean,
            quantile_cont(n_chars, 0.5) AS p50,
            quantile_cont(n_chars, 0.95) AS p95
          FROM documents GROUP BY lang
          UNION ALL
          SELECT lang, 'source', count(source),
            count(*) - count(source), count(DISTINCT source),
            min(source), max(source), CAST(NULL AS DOUBLE),
            CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
          FROM documents GROUP BY lang)
          ORDER BY lang, name"""))

  def all: Seq[Q] = Seq(q_dedup_exact, q_dedup_jaccard, q_dedup_minhash,
    q_dedup_minhash_md5, q_dedup_simhash_md5, q_dedup_idx_md5,
    q_dedup_idx_merge, q_gql_near_dedup,
    q_gql_dedup_against, q_gql_dedup_against_bloom, q_gql_dedup_against_minhash,
    q_dedup_simhash, q_dedup_cosine, q_dedup_cosine_lsh,
    q_dedup_semantic, q_dedup_semantic_bcast, q_dedup_semantic_keep,
    q_gql_dedup_semantic, q_dedup_semantic_incr, q_ann_topk, q_ann_quant,
    q_ann_lsh, q_ann_ivf, q_ann_ivf_prebuilt, q_ann_lsh_prebuilt,
    q_knn_join, q_knn_join_auto, q_knn_join_lsh, q_knn_join_ivf,
    q_lang_id, q_text_quality, q_token_count,
    q_split_hash, q_sample_stratified, q_pack_tokens, q_pack_filtered,
    q_vocab_topk,
    q_embed_quant, q_doc_logprob, q_pipeline_e2e, q_fingerprint,
    q_dedup_clusters, q_dedup_reps, q_text_repetition, q_gopher_filter,
    q_dedup_tokens, q_decontaminate, q_dedup_spans, q_dedup_substr,
    q_dedup_normalized,
    q_mix_weighted, q_shuffle_det, q_reservoir, q_tfidf_topk,
    q_text_search, q_text_search_min, q_text_phrase, q_text_bm25,
    q_token_budget,
    q_dedup_incremental, q_dedup_incr_bloom, q_pii_scrub, q_chunks,
    q_l2_normalize, q_snapshot_diff, q_snapshot_changed, q_embed_project,
    q_ann_topk_proj, q_dedup_best, q_snapshot_pipeline,
    q_quality_linear, q_dsir_weights, q_dsir_sample, q_profile, q_profile_by)
}
