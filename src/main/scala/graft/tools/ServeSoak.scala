package graft.tools

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}

import graft.graphql.{GraphQLHttpServer, GraphQLService}

/** Concurrent-serving soak (round-8): N parallel GraphQL clients firing a
  * mixed workload (aggregates, filters, text stats, served ANN over both
  * prebuilt index families, near-dedup) at ONE service over an amplified
  * corpus. Measures per-kind p50/p95/max latency and asserts the serving
  * invariants that only show up under concurrency:
  *
  *   - prebuilt ANN indexes are built ONCE (ivf/lsh build counters), every
  *     later request probes — concurrent first requests must not stampede
  *     into duplicate build jobs;
  *   - responses are bit-stable across clients (each response compared to
  *     the single-threaded warm-up answer, timings stripped);
  *   - no cross-request persist leaks: the cache manager and the
  *     persistent-RDD registry are reported after the storm (scoped
  *     persists must unpersist; lingering localCheckpoint RDDs are GC-tied
  *     and reported, not asserted).
  *
  * Args: <sf dir> [clients] [roundsPerClient]. */
object ServeSoak {
  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/repo/tmpscale/sf1.2")
    val clients = if (args.length > 1) args(1).toInt else 8
    val rounds = if (args.length > 2) args(2).toInt else 4
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Master.session(cpus)
    // the quality-classifier model root, mounted like a deployment would
    import org.apache.spark.sql.functions.{col, lit}
    // pid-keyed path: a concurrently running gate topology writing the same
    // shared model root must never race this soak's unconditional overwrite
    val modelPath =
      s"/tmp/graft_model1024_d512/servesoak_${ProcessHandle.current().pid()}"
    spark.range(1024).select(col("id").as("idx"),
        ((col("id") % 997 - 498) / lit(512.0)).as("weight"))
      .coalesce(1).write.mode("overwrite").parquet(modelPath)
    val service = new GraphQLService(spark, sf,
      extraRoots = Map("model" -> modelPath,
        "images" -> graft.queries.MultimodalQueries.imageFixturePath(spark)))
    val server = new GraphQLHttpServer(service, port = 0,
      threads = math.max(8, clients)).start()
    val base = s"http://localhost:${server.boundPort}/graphql"
    val client = HttpClient.newHttpClient()

    def post(body: String): String = {
      val r: HttpResponse[String] = client.send(
        HttpRequest.newBuilder(URI.create(base))
          .header("Content-Type", "application/json")
          .POST(HttpRequest.BodyPublishers.ofString(body, UTF_8)).build(),
        HttpResponse.BodyHandlers.ofString())
      require(r.statusCode() == 200, s"HTTP ${r.statusCode()}: ${r.body().take(200)}")
      r.body()
    }
    def gq(q: String): String =
      "{\"query\": \"" + q.replace("\\", "\\\\").replace("\"", "\\\"") + "\"}"
    def stripTimings(body: String): String =
      body.replaceAll(""""timing_ms":\{[^}]*\}""", "")

    val workload: Seq[(String, String)] = Seq(
      "agg" -> gq("""{ lineitem { group(by: ["l_returnflag"], counts: "n",
        aggregate: {sum: [{name: "l_quantity", alias: "qty"}]}) {
        o: order(by: ["l_returnflag"]) {
        columns { l_returnflag { values } n { values } qty { values } } } } } }"""),
      "filter" -> gq("""{ orders { filter(o_totalprice: {ge: 100000.0}) { count } } }"""),
      "textstats" -> gq("""{ documents { textStats(on: "text", metrics: ["lang"]) {
        g: group(by: ["pred_lang"], counts: "n") { o: order(by: ["pred_lang"]) {
        columns { pred_lang { values } n { values } } } } } } }"""),
      "ann_ivf" -> gq("""{ embeddings { nearest(on: "embedding", id: "vec_id",
        ids: [0, 1, 2], k: 5, method: "IVF", nlist: 16, nprobe: 6) {
        o: order(by: ["query_id", "rank"]) {
        columns { query_id { values } neighbor_id { values } rank { values } } } } } }"""),
      "ann_lsh" -> gq("""{ embeddings { nearest(on: "embedding", id: "vec_id",
        ids: [3, 4, 5], k: 5, method: "LSH", planes: 6, tables: 8) {
        o: order(by: ["query_id", "rank"]) {
        columns { query_id { values } neighbor_id { values } rank { values } } } } } }"""),
      "neardedup" -> gq("""{ documents { s: slice(offset: 0, limit: 2000) {
        d: nearDedup(on: "text", id: "doc_id", threshold: 0.5) { count } } } }"""),
      "semdedup" -> gq("""{ embeddings { d: semanticDedup(on: "embedding",
        id: "vec_id", threshold: 0.9, nlist: 64) { count } } }"""),
      "knnjoin" -> gq("""{ embeddings { m: project(columns: [
        {alias: "m200", mod: [{name: "vec_id"}, {value: 200}]}]) {
        f: filter(m200: {eq: 7}) {
        j: knnJoin(corpus: "embeddings", on: "embedding", id: "vec_id",
                   k: 3, method: "IVF", nlist: 64, nprobe: 4) { count } } } } }"""),
      "snapdiff" -> gq("""{ documents { m: project(columns: [
        {alias: "m7", mod: [{name: "doc_id"}, {value: 7}]}]) {
        f: filter(m7: {ne: 0}) {
        d: snapshotDiff(old: "documents", on: ["doc_id"], compare: ["text"]) {
          g: group(by: ["status"], counts: "n") { o: order(by: ["status"]) {
          columns { status { values } n { values } } } } } } } } }"""),
      "quality" -> gq("""{ documents { q: qualityScore(on: "text",
        id: "doc_id", weights: "model", dim: 1024, bias: -0.125) {
        f: filter(where: {ge: [{name: "prob"}, {value: 0.5}]}) { count } } } }"""),
      "dsir" -> gq("""{ documents { d: dsirSelect(on: "text", id: "doc_id",
        target: "documents", targetWhere: {eq: [{name: "lang"}, {value: "en"}]},
        dim: 2048, k: 50, seed: "13") { o: order(by: ["doc_id"]) {
        columns { doc_id { values } } } } } }"""),
      "profile" -> gq("""{ documents {
        p: profile(columns: ["doc_id", "lang", "n_chars"]) {
        o: order(by: ["name"]) {
        columns { name { values } cnt { values } null_cnt { values }
                  min_s { values } max_s { values } } } } } }"""),
      // round-10 served surfaces: exact-substring dedup, the auto-dispatched
      // knn join (no method:), and filtered runs through the densify path
      "substrdedup" -> gq("""{ documents { s: slice(offset: 0, limit: 2000) {
        d: dedupSubstrings(on: "text", id: "doc_id", window: 8) { count } } } }"""),
      "knnauto" -> gq("""{ embeddings { m: project(columns: [
        {alias: "m200", mod: [{name: "vec_id"}, {value: 200}]}]) {
        f: filter(m200: {eq: 9}) {
        j: knnJoin(corpus: "embeddings", on: "embedding", id: "vec_id",
                   k: 3) { count } } } } }"""),
      "runsfilt" -> gq("""{ events { f: filter(value: {gt: 0.2}) {
        r: runs(by: ["event_type"], counts: "n") {
        g: group(by: ["event_type"], counts: "m") { o: order(by: ["event_type"]) {
        columns { event_type { values } m { values } } } } } } } }"""),
      // round-10 continuation: inverted-index keyword search (prebuilt
      // posting index, term-bucket probes) and the token-budget head
      "search" -> gq("""{ documents { s: search(terms: ["join", "filter"],
        on: "text", id: "doc_id") { count } } }"""),
      "phrase" -> gq("""{ documents { s: search(phrase: ["table", "hash"],
        on: "text", id: "doc_id") { count } } }"""),
      "bm25" -> gq("""{ documents { s: search(terms: ["join", "filter", "hash"],
        on: "text", id: "doc_id", k: 20) { o: order(by: ["rank"]) {
        columns { doc_id { values } rank { values } } } } } }"""),
      "tokenbudget" -> gq("""{ documents { h: tokenBudget(budget: 50000,
        on: "text", id: "doc_id", seed: "3") { count } } }"""),
      // round-11: filtered ranked/phrase retrieval — rank-then-verify off
      // the ROOT index (corpus:), no per-filtered-plan index build
      "bm25filt" -> gq("""{ documents { f: filter(lang: {eq: "en"}) {
        s: search(terms: ["join", "filter", "hash"], on: "text",
                  id: "doc_id", k: 20, corpus: "documents") {
        o: order(by: ["rank"]) {
        columns { doc_id { values } rank { values } } } } } } }"""),
      "phrasefilt" -> gq("""{ documents { f: filter(lang: {eq: "en"}) {
        s: search(phrase: ["table", "hash"], on: "text",
                  id: "doc_id", corpus: "documents") { count } } } }"""),
      // round-12: a 1-in-100 SELECTIVE filter over the ranked root-index
      // path — under the old geometric rank-then-verify this paid 2-3
      // complete probe+score rounds; restrict-then-rank must price it at
      // the unfiltered probe plus one semi-join
      "bm25filtsel" -> gq("""{ documents { m: project(columns: [
        {alias: "m100", mod: [{name: "doc_id"}, {value: 100}]}]) {
        f: filter(m100: {eq: 7}) {
        s: search(terms: ["join", "filter", "hash"], on: "text",
                  id: "doc_id", k: 20, corpus: "documents") {
        o: order(by: ["rank"]) {
        columns { doc_id { values } rank { values } } } } } } } }"""),
      // round-11: the served multimodal tier — REAL container-header
      // parsing over the fixture images root and the typed batch-decode path
      "imagemeta" -> gq("""{ images { m: imageMeta(on: "blob") {
        o: order(by: ["name"]) {
        columns { name { values } format { values }
                  width { values } height { values } } } } } }"""),
      "mediafeat" -> gq("""{ documents { s: slice(offset: 0, limit: 2000) {
        m: mediaFeatures(on: "text", id: "doc_id", k: 2) {
        f: filter(where: {ge: [{name: "f0"}, {value: 0.5}]}) { count } } } } }"""))

    // single-threaded warm-up: populates the index caches, pins the
    // expected answer per kind
    val expected: Map[String, String] = workload.map { case (kind, body) =>
      val t0 = System.nanoTime()
      val r = stripTimings(post(body))
      println(f"SERVE warmup $kind in ${(System.nanoTime() - t0) / 1e9}%.2fs")
      kind -> r
    }.toMap
    val families = {
      import graft.operators.{Dedup, Similarity, TextSearch}
      Seq(Similarity.ivfFamily, Similarity.lshFamily, TextSearch.textFamily,
        Dedup.minhashFamily)
    }
    val builds0 = families.map(_.builds.get)
    // growth fast-path counters: a STATIC soak corpus must never trip the
    // append detection — any delta here means a fingerprint/lineage bug.
    // ivf and lsh share one counter: each counter counts once
    def deltas = families.map(_.deltas).distinct.map(_.get).sum
    val deltas0 = deltas

    val lat = new ConcurrentLinkedQueue[(String, Double)]()
    val mismatches = new ConcurrentLinkedQueue[String]()
    val done = new CountDownLatch(clients)
    val t0 = System.nanoTime()
    (0 until clients).foreach { c =>
      new Thread(() => {
        try {
          for (r <- 0 until rounds; (kind, body) <- rot(workload, c + r)) {
            val s = System.nanoTime()
            val got = stripTimings(post(body))
            lat.add(kind -> (System.nanoTime() - s) / 1e9)
            if (got != expected(kind))
              mismatches.add(s"$kind@client$c: ${got.take(120)}")
          }
        } finally done.countDown()
      }, s"soak-client-$c").start()
    }
    done.await()
    val wall = (System.nanoTime() - t0) / 1e9
    import scala.jdk.CollectionConverters._
    val byKind = lat.asScala.toSeq.groupBy(_._1)
    byKind.toSeq.sortBy(_._1).foreach { case (kind, xs) =>
      val s = xs.map(_._2).sorted
      def pct(p: Double) = s(math.min(s.size - 1, (p * s.size).toInt))
      println(f"SERVE $kind n=${s.size} p50=${pct(0.5)}%.2fs " +
        f"p95=${pct(0.95)}%.2fs max=${s.last}%.2fs")
    }
    println(f"SERVE wall=${wall}%.1fs clients=$clients rounds=$rounds " +
      s"requests=${lat.size}")
    println(s"SERVE mismatches=${mismatches.size}" +
      (if (mismatches.isEmpty) " (all responses identical to warm-up)"
       else s" FIRST=${mismatches.peek()}"))
    println("SERVE extra index builds under concurrency: " +
      families.zip(builds0).map { case (f, b0) =>
        s"${f.tag}=${f.builds.get - b0}" }.mkString(" ") +
      s" deltaAppends=${deltas - deltas0} (want 0)")
    val cachedFrames = !spark.sharedState.cacheManager.isEmpty
    val persistentRdds = spark.sparkContext.getPersistentRDDs.size
    println(s"SERVE cacheManager nonEmpty=$cachedFrames " +
      s"persistentRDDs=$persistentRdds (localCheckpoint RDDs are GC-tied)")
    server.stop()
    spark.stop()
  }

  private def rot[A](xs: Seq[A], by: Int): Seq[A] = {
    val n = ((by % xs.size) + xs.size) % xs.size
    xs.drop(n) ++ xs.take(n)
  }
}
