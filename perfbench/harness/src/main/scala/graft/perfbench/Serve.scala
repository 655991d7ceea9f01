package graft.perfbench

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import graft.graphql.{GraphQLHttpServer, GraphQLService, Json, Parser}
import graft.graphql.GVal._

/** serve_mixed: an in-process `GraphQLHttpServer` over sf0.1 and three
  * closed-loop HTTP clients sending a seeded order of request kinds, the
  * seed also rotating each kind's variants. Every response body, with
  * `timing_ms` stripped, must match its pinned md5. */
final class Serve(ctx: Ctx, wrong: ConcurrentLinkedQueue[String]) extends Workload {
  import Serve._
  private val spark = ctx.spark
  System.setProperty("graft.index.cache.max", IndexCacheMax.toString)
  private val service = new GraphQLService(spark, ctx.sf)
  private val server = new GraphQLHttpServer(service, port = 0, threads = Clients).start()
  private val url = URI.create(s"http://localhost:${server.boundPort}/graphql").toURL

  private val indexOps = new AtomicLong
  override def indexRequests: Long = indexOps.get
  private val ttfb = new ConcurrentLinkedQueue[Double]()
  private val body = new ConcurrentLinkedQueue[Double]()
  private val bytes = new ConcurrentLinkedQueue[Double]()
  private val renderBytes = new ConcurrentLinkedQueue[Double]()
  private val perKind =
    new java.util.concurrent.ConcurrentSkipListMap[String, ConcurrentLinkedQueue[Double]]()

  def inputBytes: Long = Tables
    .map(t => Meter.dirBytes(s"${ctx.sf}/$t.parquet")).sum
  def indexBytes: Long = Meter.dirBytes(s"${ctx.work}/tmp")

  /** The served roots, loaded through `Tables.loadOrdered` as the service
    * does on first use. */
  def load(): Unit =
    Lanes.run(Lanes.dealt(Tables))(t => graft.core.Tables.loadOrdered(spark, ctx.sf, t))

  /** Untimed: every kind and variant once, on three lanes that keep each
    * index family's first build in one place. */
  def warmup(): Unit =
    Lanes.run(WarmLanes.map(_.flatMap(n => Kinds.filter(_.name == n))
      .flatMap(k => k.variants.indices.map(v => (k, v)))))(warm)

  private def warm(kv: (Kind, Int)): Unit = kv match {
    case (k, v) =>
      val t0 = System.nanoTime()
      val got = try {
        val b = post(k.variants(v))._1
        if (b.startsWith("{\"errors\"")) wrong.add(s"serve/${k.name}/$v: ${b.take(300)}")
        md5(strip(b))
      } catch { case e: Exception => s"error: ${e.getMessage}" }
      Pins.check(ctx, wrong, s"serve/${k.name}/$v", got)
      warmS.put(s"${k.name}/$v", (System.nanoTime() - t0) / 1e9)
  }
  private val warmS = new java.util.concurrent.ConcurrentSkipListMap[String, Double]()

  override def report: Seq[String] = {
    import scala.jdk.CollectionConverters._
    warmS.asScala.toSeq.map { case (n, t) => f"warmup $n%-22s $t%.3f s" } ++
      perKind.asScala.toSeq.map { case (n, q) =>
        val xs = q.asScala.toSeq.sorted
        f"kind   $n%-22s p50 ${Stats.pct(xs, 0.5)}%.3f s  max ${xs.last}%.3f s  (samples ${xs.size}%d)"
      }
  }

  override def tracePhases: Seq[(String, Double, Boolean)] =
    Seq(("http", 1.0 / 3, false), ("untraced", 1.0 / 3, false), ("traced", 1.0 / 3, true))

  /** The measured loop: a fixed number of decks, one per `DeckPaceS` of
    * the window, so that every run times the same work (a deck that would
    * start past three windows is dropped). A deck holds one round per
    * request kind in seeded order; in a round every client sends that kind
    * at once (variants rotate across clients) and the round ends when all
    * have answered, so each kind meets the same contention on every run. In
    * a traced run one client goes over HTTP ("http"), then in-process
    * without ("untraced") and with ("traced") spans. */
  def run(deadlineNs: Long, s: Samples, rec: Option[Recorder], phase: String): Unit = {
    val clients = if (ctx.trace) 1 else Clients
    val pool = java.util.concurrent.Executors.newFixedThreadPool(clients)
    val rnd = new scala.util.Random(ctx.seed * 1000003L + phase.hashCode)
    val start = System.nanoTime()
    val windowNs = deadlineNs - start
    val decks = math.max(1, math.round(windowNs / 1e9 / DeckPaceS).toInt)
    try {
      var d = 0
      while (d < decks && (d == 0 || System.nanoTime() - start < 3 * windowNs)) {
        rnd.shuffle(Kinds).foreach { k =>
          val off = rnd.nextInt(k.variants.size)
          if (k.indexed) indexOps.addAndGet(clients)
          (0 until clients).map { c =>
            pool.submit(new Runnable {
              def run(): Unit = request(k, (off + c) % k.variants.size, s, rec,
                inProcess = ctx.trace && phase != "http")
            })
          }.foreach(_.get())
        }
        d += 1
      }
    } finally pool.shutdown()
  }

  private def request(k: Kind, v: Int, s: Samples, rec: Option[Recorder],
                      inProcess: Boolean): Unit = {
    val op = ctx.nextOp()
    val t0 = System.nanoTime()
    val got = try {
      if (inProcess) Some(inProcessBody(k.variants(v), op, rec))
      else {
        val (b, first, n) = post(k.variants(v))
        ttfb.add(first); body.add((System.nanoTime() - t0) / 1e9 - first); bytes.add(n)
        Some(b)
      }
    } catch { case e: Exception => wrong.add(s"serve/${k.name}/$v: ${e.getMessage}"); None }
    val dt = (System.nanoTime() - t0) / 1e9
    val key = s"serve/${k.name}/$v"
    perKind.computeIfAbsent(k.name, _ => new ConcurrentLinkedQueue[Double]()).add(dt)
    val ok = got.exists { b =>
      val h = md5(strip(b))
      val good = ctx.pin || ctx.expected.get(key).contains(h)
      if (!good) wrong.add(s"$key: body md5 $h differs from the pin")
      good
    }
    s.add(dt, ok)
  }

  /** The served path without the socket: request JSON, GraphQL parse,
    * execution, then draining the rendered fragments. */
  private def inProcessBody(req: String, op: Long, rec: Option[Recorder]): String = {
    def sp[T](name: String, parent: String)(f: => T): T =
      rec.fold(f)(_.span(name, op, parent)(f))
    def go(): String = sp("op", "") {
      val q = sp("json", "op")(Json.parse(req)) match {
        case GObj(fs) => fs.toMap.get("query") match {
          case Some(GStr(q)) => q
          case _ => throw new IllegalArgumentException("request without query")
        }
        case _ => throw new IllegalArgumentException("request is not an object")
      }
      sp("parse", "op")(Parser.parse(q, Map.empty, None))
      val js = sp("execute", "op")(service.executeStream(q, Map.empty, None))
      sp("render", "op") {
        val sb = new java.lang.StringBuilder
        js.fragments.foreach(sb.append(_))
        val out = sb.toString
        if (rec.isDefined) renderBytes.add(out.getBytes(UTF_8).length.toDouble)
        out
      }
    }
    rec.fold(go())(_.asOp(op)(go()))
  }

  /** POSTs one request; returns (body, seconds to the response headers,
    * body bytes). */
  private def post(req: String): (String, Double, Double) = {
    val t0 = System.nanoTime()
    val c = url.openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod("POST")
    c.setDoOutput(true)
    c.setRequestProperty("Content-Type", "application/json")
    val out = c.getOutputStream
    out.write(req.getBytes(UTF_8)); out.close()
    val code = c.getResponseCode
    val first = (System.nanoTime() - t0) / 1e9
    val in = if (code == 200) c.getInputStream else c.getErrorStream
    val raw = try in.readAllBytes() finally in.close()
    if (code != 200) throw new IllegalStateException(s"HTTP $code: ${new String(raw, UTF_8).take(200)}")
    (new String(raw, UTF_8), first, raw.length.toDouble)
  }

  def layers(rec: Recorder, traced: Samples, phases: Map[String, Samples])
      : Seq[(String, Double, String)] = {
    import scala.jdk.CollectionConverters._
    def mean(q: ConcurrentLinkedQueue[Double]) = Stats.mean(q.asScala.toSeq)
    val p50 = (l: String) => phases.get(l).map(_.pct(0.5)).getOrElse(0.0)
    Seq(
      ("http.ttfb_s", mean(ttfb), "s"),
      ("http.body_s", mean(body), "s"),
      ("http.bytes", mean(bytes), "bytes"),
      ("http.self_s", p50("http") - p50("untraced"), "s"),
      ("parse.self_s", Layers.selfTime(rec, "parse"), "s"),
      ("resolve.self_s", Layers.selfTime(rec, "execute"), "s"),
      ("resolve.sql_executions", Layers.sqlWithin(rec, "execute"), "count"),
      ("render.self_s", Layers.selfTime(rec, "render"), "s"),
      ("render.bytes", mean(renderBytes), "bytes"))
  }

  override def finalCheck(): Seq[String] = { server.stop(); Nil }
}

object Serve {
  val Clients = 3
  /** Seconds of window per deck: a deck of three-client rounds took 10 to
    * 15 s on a 4-core box. */
  val DeckPaceS = 12.0
  /** Entries each serve-side index cache keeps: the root text and IVF
    * indexes fit, the cold filtered plans cycle through more than that. */
  val IndexCacheMax = 2
  val ColdPlans = 1

  val Tables = Seq("lineitem", "orders", "documents", "embeddings", "events")

  /** Warm-up lanes, by kind: each index family's first build stays on one
    * lane (plain text, positional text, IVF). */
  val WarmLanes = Seq(
    Seq("search", "cold", "filter"),
    Seq("bm25", "bm25filt"),
    Seq("ann_ivf", "agg", "leaf"))

  final case class Kind(name: String, indexed: Boolean, variants: IndexedSeq[String])

  private def gq(q: String): String =
    "{\"query\": " + Json.quote(q.replaceAll("\\s+", " ").trim) + "}"

  private val TermSets = IndexedSeq("""["join", "filter"]""", """["hash", "table"]""")

  val Kinds: Seq[Kind] = Seq(
    Kind("agg", false, IndexedSeq("l_returnflag", "l_linestatus").map(by => gq(
      s"""{ lineitem { group(by: ["$by"], counts: "n",
        aggregate: {sum: [{name: "l_quantity", alias: "qty"}]}) {
        o: order(by: ["$by"]) { columns { $by { values } n { values } qty { values } } } } } }"""))),
    Kind("filter", false, IndexedSeq(100000.0, 300000.0).map(x => gq(
      s"""{ orders { filter(o_totalprice: {ge: $x}) { count } } }"""))),
    Kind("search", true, TermSets.take(1).map(t => gq(
      s"""{ documents { s: search(terms: $t, on: "text", id: "doc_id") { count } } }"""))),
    Kind("bm25", true, TermSets.take(1).map(t => gq(
      s"""{ documents { s: search(terms: $t, on: "text", id: "doc_id", k: 20) {
        o: order(by: ["rank"]) { columns { doc_id { values } rank { values } } } } } }"""))),
    Kind("bm25filt", true, TermSets.drop(1).map(t => gq(
      s"""{ documents { f: filter(lang: {eq: "en"}) { s: search(terms: $t, on: "text",
        id: "doc_id", k: 20, corpus: "documents") { o: order(by: ["rank"]) {
        columns { doc_id { values } rank { values } } } } } } }"""))),
    Kind("ann_ivf", true, IndexedSeq("[0, 1, 2]").map(ids => gq(
      s"""{ embeddings { nearest(on: "embedding", id: "vec_id", ids: $ids, k: 5,
        method: "IVF", nlist: 16, nprobe: 6) { o: order(by: ["query_id", "rank"]) {
        columns { query_id { values } neighbor_id { values } rank { values } } } } } }"""))),
    Kind("leaf", false, IndexedSeq(gq(
      """{ lineitem { s: slice(offset: 0, limit: 20000) { columns {
        l_orderkey { values } l_extendedprice { values } l_shipdate { values } } } } }"""))),
    Kind("cold", true, (0 until ColdPlans).map(j => gq(
      s"""{ documents { m: project(columns: [{alias: "m", mod: [{name: "doc_id"}, {value: $ColdPlans}]}]) {
        f: filter(m: {eq: $j}) { s: search(terms: ["join", "filter"], on: "text",
        id: "doc_id", k: 10) { o: order(by: ["rank"]) {
        columns { doc_id { values } rank { values } } } } } } } }"""))))

  def strip(body: String): String = body.replaceAll(""""timing_ms":\{[^}]*\}""", "")

  def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
      .map("%02x".format(_)).mkString
}
