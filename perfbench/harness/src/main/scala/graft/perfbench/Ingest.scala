package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.{IndexMaint, Similarity, TextSearch}
import graft.streaming.StreamOps

/** ingest_search: seeded micro-batches of the ×4 `documents` table, with
  * seeded near-duplicate variants mixed in, stream through
  * `StreamOps.textIndexSink` with compaction on. After each micro-batch a
  * fixed set of BM25 and keyword probes reads the growing index; a probe is
  * one operation. At the end, the live index must answer the final probes
  * exactly as a fresh `TextSearch.textIndexBuild` over everything ingested. */
final class Ingest(ctx: Ctx, wrong: ConcurrentLinkedQueue[String]) extends Workload {
  import Ingest._
  private val spark = ctx.spark
  import spark.implicits._
  private val indexDir = s"${ctx.work}/ingest/index"
  private val outDir = s"${ctx.work}/ingest/out"
  private val checkpoint = s"${ctx.work}/ingest/checkpoint"
  private val mem = MemoryStream[(Long, String)](spark)
  private var query: StreamingQuery = null
  private var batches: Iterator[Seq[(Long, String)]] = Iterator.empty
  private val rnd = new scala.util.Random(ctx.seed)
  private val batchS = new ConcurrentLinkedQueue[Double]()
  private val compactS = new ConcurrentLinkedQueue[Double]()
  private var rows = 0L

  def inputBytes: Long = Meter.dirBytes(outDir)
  def indexBytes: Long = Meter.dirBytes(indexDir)

  /** Reads the source corpus and deals it into seeded micro-batches. */
  def load(): Unit = {
    val docs = spark.read.parquet(s"${ctx.x4}/documents.parquet")
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    val dups = rnd.shuffle(docs).take(docs.size / DupShare).map { case (id, text) =>
      val words = text.split(' ')
      val drop = rnd.nextInt(words.length)
      (DupIdBase + id, words.patch(drop, Nil, 1).mkString(" "))
    }
    batches = rnd.shuffle(docs ++ dups).grouped(BatchRows)
    query = StreamOps.textIndexSink(mem.toDF().toDF("doc_id", "text"), "text", "doc_id",
      indexDir = indexDir, outDir = outDir, checkpoint = checkpoint,
      buckets = Buckets, compactFiles = CompactFiles, positions = true,
      trigger = Trigger.ProcessingTime(0))
  }

  /** First batch builds the index, the second appends; one probe of each
    * kind. */
  def warmup(): Unit = {
    ingestOne(); ingestOne()
    probe(Probes.head, null, None)
    probe(Probes(1), null, None)
  }

  private def ingestOne(): Option[(Double, Boolean)] =
    if (!batches.hasNext) None
    else {
      val b = batches.next()
      val before = IndexMaint.dataFileCount(spark, indexDir)
      val t0 = System.nanoTime()
      mem.addData(b)
      query.processAllAvailable()
      val dt = (System.nanoTime() - t0) / 1e9
      rows += b.size
      Some((dt, IndexMaint.dataFileCount(spark, indexDir) < before))
    }

  private def probe(p: Probe, s: Samples, rec: Option[Recorder]): Unit = {
    val op = ctx.nextOp()
    val t0 = System.nanoTime()
    val ok = try {
      def go(): Unit = {
        val idx = Similarity.readMeta[TextSearch.TextIndex](spark, indexDir).get
        p.answer(idx)
      }
      rec match {
        case None => go()
        case Some(r) => r.asOp(op)(r.span("op", op, "")(go()))
      }
      true
    } catch { case e: Exception => wrong.add(s"ingest/${p.name}: ${e.getMessage}"); false }
    if (s != null) s.add((System.nanoTime() - t0) / 1e9, ok)
  }

  def run(deadlineNs: Long, s: Samples, rec: Option[Recorder], phase: String): Unit = {
    var more = true
    while (more && System.nanoTime() < deadlineNs) {
      ingestOne() match {
        case None => more = false
        case Some((dt, compacted)) =>
          (if (compacted) compactS else batchS).add(dt)
          Probes.foreach(p => probe(p, s, rec))
      }
    }
  }

  override def finalCheck(): Seq[String] = {
    query.stop()
    val live = Similarity.readMeta[TextSearch.TextIndex](spark, indexDir).get
    val fresh = TextSearch.textIndexBuild(spark.read.parquet(outDir), "text", "doc_id",
      s"${ctx.work}/ingest/fresh", Buckets, positions = true)
    Probes.flatMap { p =>
      ctx.checks.incrementAndGet()
      val (a, b) = (p.answer(live), p.answer(fresh))
      if (a == b) None else Some(s"ingest/${p.name}: live index ${a.take(5)} != fresh ${b.take(5)}")
    }
  }

  def layers(rec: Recorder, traced: Samples, phases: Map[String, Samples])
      : Seq[(String, Double, String)] = {
    import scala.jdk.CollectionConverters._
    val plain = batchS.asScala.toSeq
    val all = (plain ++ compactS.asScala).sorted
    val base = Stats.median(plain)
    Seq(
      ("ingest.batch_s", Stats.mean(all), "s"),
      ("ingest.batch_p90_s", Stats.pct(all, 0.9), "s"),
      ("ingest.rows_per_s", if (all.isEmpty) 0.0 else rows / all.sum, "1/s"),
      ("ingest.compactions", compactS.size.toDouble, "count"),
      ("ingest.compaction_s", compactS.asScala.map(t => math.max(0.0, t - base)).sum, "s"),
      ("ingest.files", Meter.dataFiles(indexDir).toDouble, "count"))
  }
}

object Ingest {
  val BatchRows = 500
  /** One source document in this many gets a near-duplicate variant. */
  val DupShare = 10
  val DupIdBase = 1000000000L
  val Buckets = 16
  val CompactFiles = 48

  final case class Probe(name: String, answer: TextSearch.TextIndex => Seq[String])

  private def ranked(terms: String*) = Probe("bm25:" + terms.mkString("+"), idx =>
    TextSearch.rankedSearch(idx, terms, 10).collect().toSeq.map(_.toString).sorted)
  private def keyword(terms: String*) = Probe("keyword:" + terms.mkString("+"), idx =>
    TextSearch.searchIds(idx, terms).collect().toSeq.map(_.getLong(0).toString).sorted)

  /** Probes run after every micro-batch. */
  val Probes: Seq[Probe] = Seq(
    ranked("dup", "hash"), keyword("dup", "spark"),
    ranked("copy2", "window", "merge"), keyword("copy3", "join", "filter"))
}
