package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One workload of the benchmark. */
trait Workload {
  /** Loads the roots the workload serves (core layer). */
  def load(): Unit
  /** Runs every operation once, untimed, checking answers where pinned. */
  def warmup(): Unit
  /** Closed loop until `deadlineNs`; `rec` is set when the phase is traced. */
  def run(deadlineNs: Long, s: Samples, rec: Option[Recorder], phase: String): Unit
  /** Phases of a traced run: (label, share of the window, traced). The
    * untraced phase gives the baseline of the tracing overhead. */
  def tracePhases: Seq[(String, Double, Boolean)] =
    Seq(("untraced", 0.5, false), ("traced", 0.5, true))
  /** Index-backed operations run in the measured phases. */
  def indexRequests: Long = 0L
  /** Parquet bytes the workload reads (denominator of the amplification). */
  def inputBytes: Long
  /** On-disk index bytes now. */
  def indexBytes: Long
  /** Correctness checks after the measured window; returns failures. */
  def finalCheck(): Seq[String] = Nil
  /** Workload-specific per-layer metrics of a traced phase. */
  def layers(rec: Recorder, traced: Samples, phases: Map[String, Samples])
      : Seq[(String, Double, String)]
  /** Extra report lines printed before the result. */
  def report: Seq[String] = Nil
}

/** Benchmark harness entry point: one run of one workload.
  *
  * Args (all `--key value`): workload, seed, seconds, trace (0|1), sf (the
  * sf0.1 tables), x4 (the ×4 corpus), work (scratch directory, emptied by
  * the caller), expect (pinned answers, `key<TAB>value` lines), pin (1 to
  * write the observed answers to `expect` instead of checking them), out
  * (result JSON), queries (optional comma list overriding the batch set). */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val t0 = System.nanoTime()
    val spark = session(args("work"))
    val sessionS = (System.nanoTime() - t0) / 1e9
    val pin = args.get("pin").contains("1")
    val expectPath = args("expect")
    val expected =
      if (pin || !new java.io.File(expectPath).exists) Map.empty[String, String]
      else scala.io.Source.fromFile(expectPath, "UTF-8").getLines()
        .filter(_.contains('\t')).map { l => val Array(k, v) = l.split("\t", 2); k -> v }.toMap
    val ctx = Ctx(spark, args("workload"), args("seed").toLong,
      args("seconds").toDouble, args.get("trace").contains("1"), args("sf"),
      args("x4"), args("work"), expected, pin,
      args.get("queries").map(_.split(",").toSeq))
    val wrong = new ConcurrentLinkedQueue[String]()
    val wl: Workload = ctx.workload match {
      case "batch_sf01" => new Batch(ctx, wrong)
      case "serve_mixed" => new Serve(ctx, wrong)
      case "ingest_search" => new Ingest(ctx, wrong)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val fs0 = Meter.fsBytesWritten()
    val t1 = System.nanoTime()
    wl.load()
    val t2 = System.nanoTime()
    wl.warmup()
    Meter.awaitJitQuiet(10)
    System.gc()
    val t3 = System.nanoTime()
    val rootLoadS = (t2 - t1) / 1e9
    val warmupS = (t3 - t2) / 1e9
    val setupS = sessionS + rootLoadS + warmupS

    val gc0 = Meter.gcSeconds()
    val builds0 = IndexCounters.builds
    val deltas0 = IndexCounters.deltaAppends
    val evict0 = IndexCounters.evictions
    val windowNs = (ctx.seconds * 1e9).toLong
    val phases: Seq[(String, Samples, Option[Recorder])] =
      if (!ctx.trace) {
        val s = new Samples
        measure(wl, s, System.nanoTime() + windowNs, None, "untraced")
        Seq(("untraced", s, None))
      } else wl.tracePhases.map { case (label, share, traced) =>
        val s = new Samples
        val rec = if (traced) Some(new Recorder(spark)) else None
        rec.foreach(_.install())
        measure(wl, s, System.nanoTime() + (windowNs * share).toLong, rec, label)
        rec.foreach(_.uninstall())
        (label, s, rec)
      }
    val recorder = phases.flatMap(_._3).headOption
    val gcS = Meter.gcSeconds() - gc0
    val indexDelta = (IndexCounters.builds - builds0,
      IndexCounters.deltaAppends - deltas0, IndexCounters.evictions - evict0)
    val fsWritten = Meter.fsBytesWritten() - fs0
    val indexBytes = wl.indexBytes
    val heapMb = Meter.heapRetainedMb()
    val finalWrong = wl.finalCheck()
    finalWrong.foreach(wrong.add)

    val main = phases.head._2
    val attempted = phases.map(_._2.attempted.get).sum + ctx.checks.get
    val failed = phases.map(_._2.failed.get).sum + ctx.failedChecks.get + finalWrong.size
    val inputBytes = wl.inputBytes.toDouble
    val e2e = Seq(
      ("setup_s", setupS, "s", 1),
      ("throughput_qps", main.qps, "1/s", main.size),
      ("latency_p50_s", main.pct(0.5), "s", main.size),
      ("heap_retained_mb", heapMb, "MB", 1),
      ("space_amp", indexBytes / inputBytes, "ratio", 1))
    val layers: Seq[(String, Double, String)] =
      if (!ctx.trace) Nil
      else {
        val byLabel = phases.map { case (l, s, _) => l -> s }.toMap
        val traced = phases.find(_._3.isDefined).map(_._2).getOrElse(main)
        val rec = recorder.get
        val common = Seq(
          ("setup.session_s", sessionS, "s"),
          ("setup.root_load_s", rootLoadS, "s"),
          ("setup.warmup_s", warmupS, "s"),
          ("jvm.gc_s", gcS, "s"),
          ("index.builds", indexDelta._1.toDouble, "count"),
          ("index.delta_appends", indexDelta._2.toDouble, "count"),
          ("index.evictions", indexDelta._3.toDouble, "count"),
          ("index.hit_ratio", if (wl.indexRequests == 0) 0.0
            else math.max(0.0, 1.0 - (indexDelta._1 + indexDelta._3).toDouble / wl.indexRequests),
            "ratio"),
          ("index.disk_bytes", indexBytes.toDouble, "bytes"),
          ("io.write_amp", fsWritten / inputBytes, "ratio"),
          ("trace.latency_p50_s", traced.pct(0.5), "s"),
          ("trace.overhead_s", traced.pct(0.5) -
            byLabel.getOrElse("untraced", main).pct(0.5), "s"))
        Layers.complete(common ++ Layers.spark(rec) ++ wl.layers(rec, traced, byLabel))
      }
    val lines = Seq.newBuilder[String]
    lines ++= wl.report
    e2e.foreach { case (n, v, u, k) => lines += f"metric $n%-18s ${J.num(v)}%s $u%s (samples $k%d)" }
    // printed, not part of the result: a run holds too few samples for a
    // steady 90th percentile
    lines += f"metric latency_p90_s      ${J.num(main.pct(0.9))}%s s (samples ${main.size}%d)"
    lines += f"metric failed_ratio       ${J.num(if (attempted == 0) 0 else failed.toDouble / attempted)}%s ratio (samples $attempted%d)"
    layers.foreach { case (n, v, u) => lines += f"layer  $n%-26s ${J.num(v)}%s $u%s" }
    wrong.asScala.take(20).foreach(w => lines += s"wrong  $w")
    val result = J.obj(Seq(
      "correct" -> (if (wrong.isEmpty && attempted > 0) "true" else "false"),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "end_to_end" -> J.obj(e2e.map { case (n, v, u, _) =>
        n -> J.obj(Seq("value" -> J.num(v), "unit" -> J.str(u))) }),
      "per_layer" -> J.obj(layers.map { case (n, v, u) =>
        n -> J.obj(Seq("value" -> J.num(v), "unit" -> J.str(u))) }),
      "report" -> J.arr(lines.result().map(J.str))))
    J.write(args("out"), result)
    if (pin) J.write(expectPath, Pins.observed.asScala.toSeq
      .map { case (k, v) => s"$k\t$v" }.mkString("", "\n", "\n"))
    recorder.foreach(r => Layers.dumpSpans(r, s"${ctx.work}/trace-${ctx.workload}.tsv"))
    spark.stop()
  }

  private def measure(wl: Workload, s: Samples, deadlineNs: Long,
                      rec: Option[Recorder], phase: String): Unit = {
    val t0 = System.nanoTime()
    wl.run(deadlineNs, s, rec, phase)
    s.setWall(System.nanoTime() - t0)
  }

  /** Local session sized for a 4-core box; every file the engine writes
    * goes under `work`. */
  def session(work: String): SparkSession = {
    val spark = SparkSession.builder().master("local[4]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
