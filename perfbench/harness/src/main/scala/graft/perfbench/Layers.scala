package graft.perfbench

/** Per-layer readings shared by every workload, from a traced phase. Every
  * traced operation has one root span named "op"; times and counts are
  * means per operation unless the name says otherwise. */
object Layers {
  /** Every per-layer metric a traced run prints, with its unit. A layer a
    * workload does not run reads 0. */
  val Names: Seq[(String, String)] = Seq(
    "setup.session_s" -> "s", "setup.root_load_s" -> "s", "setup.warmup_s" -> "s",
    "jvm.gc_s" -> "s",
    "index.builds" -> "count", "index.delta_appends" -> "count",
    "index.evictions" -> "count", "index.hit_ratio" -> "ratio",
    "index.disk_bytes" -> "bytes", "io.write_amp" -> "ratio",
    "trace.latency_p50_s" -> "s", "trace.overhead_s" -> "s",
    "plan.analysis_s" -> "s", "plan.optimization_s" -> "s", "plan.planning_s" -> "s",
    "spark.sql_executions" -> "count", "spark.jobs" -> "count",
    "spark.stages" -> "count", "spark.tasks" -> "count", "driver.self_s" -> "s",
    "spark.task_run_s" -> "s", "spark.task_cpu_s" -> "s", "spark.task_skew" -> "ratio",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.input_bytes" -> "bytes",
    "spark.result_bytes" -> "bytes",
    "build.self_s" -> "s", "build.sql_executions" -> "count",
    "http.ttfb_s" -> "s", "http.body_s" -> "s", "http.bytes" -> "bytes",
    "http.self_s" -> "s", "parse.self_s" -> "s", "resolve.self_s" -> "s",
    "resolve.sql_executions" -> "count", "render.self_s" -> "s",
    "render.bytes" -> "bytes")

  /** `got` in the order of [[Names]], absent layers as 0, then any
    * workload-specific extras. */
  def complete(got: Seq[(String, Double, String)]): Seq[(String, Double, String)] = {
    val byName = got.map(g => g._1 -> g).toMap
    Names.map { case (n, u) => byName.getOrElse(n, (n, 0.0, u)) } ++
      got.filterNot(g => Names.exists(_._1 == g._1))
  }

  def roots(rec: Recorder): Seq[Span] = rec.allSpans.filter(_.name == "op")

  def intervals(rec: Recorder, name: String, op: Long): Seq[(Long, Long)] =
    rec.allSpans.filter(s => s.name == name && s.op == op).map(s => (s.startNs, s.endNs))

  /** Mean over ops of the time spent in child span `child` not covered by
    * the op's SQL executions. */
  def selfTime(rec: Recorder, child: String): Double = {
    val ops = roots(rec)
    Stats.mean(ops.map { o =>
      val sql = intervals(rec, "sql", o.op)
      rec.allSpans.filter(s => s.name == child && s.op == o.op).map { c =>
        (c.endNs - c.startNs - Recorder.covered(sql, c.startNs, c.endNs)) / 1e9
      }.sum
    })
  }

  /** Mean over ops of the SQL executions started inside child span `child`. */
  def sqlWithin(rec: Recorder, child: String): Double = {
    val ops = roots(rec)
    Stats.mean(ops.map { o =>
      val starts = intervals(rec, "sql", o.op).map(_._1)
      rec.allSpans.filter(s => s.name == child && s.op == o.op).map { c =>
        starts.count(t => t >= c.startNs && t <= c.endNs).toDouble
      }.sum
    })
  }

  def spark(rec: Recorder): Seq[(String, Double, String)] = {
    rec.settle()
    val ops = roots(rec)
    val st = ops.map(o => rec.opStats(o.op))
    def per(f: OpStats => Double): Double = Stats.mean(st.map(f))
    val driverSelf = Stats.mean(ops.map { o =>
      (o.endNs - o.startNs -
        Recorder.covered(intervals(rec, "job", o.op), o.startNs, o.endNs)) / 1e9
    })
    Seq(
      ("plan.analysis_s", per(_.analysisMs / 1e3), "s"),
      ("plan.optimization_s", per(_.optimizationMs / 1e3), "s"),
      ("plan.planning_s", per(_.planningMs / 1e3), "s"),
      ("spark.sql_executions", per(_.sqlExecutions.toDouble), "count"),
      ("spark.jobs", per(_.jobs.toDouble), "count"),
      ("spark.stages", per(_.stages.toDouble), "count"),
      ("spark.tasks", per(_.tasks.toDouble), "count"),
      ("driver.self_s", driverSelf, "s"),
      ("spark.task_run_s", per(_.taskRunMs / 1e3), "s"),
      ("spark.task_cpu_s", per(_.taskCpuNs / 1e9), "s"),
      ("spark.task_skew", if (st.isEmpty) 0.0 else st.map(_.skew).max, "ratio"),
      ("spark.shuffle_write_bytes", per(_.shuffleWrite.toDouble), "bytes"),
      ("spark.shuffle_read_bytes", per(_.shuffleRead.toDouble), "bytes"),
      ("spark.spill_bytes", per(_.spill.toDouble), "bytes"),
      ("spark.input_bytes", per(_.input.toDouble), "bytes"),
      ("spark.result_bytes", per(_.result.toDouble), "bytes"))
  }

  /** Writes every span as `name op parent start_ns end_ns`, times relative
    * to the first span. */
  def dumpSpans(rec: Recorder, path: String): Unit = {
    val all = rec.allSpans.sortBy(_.startNs)
    val base = all.headOption.map(_.startNs).getOrElse(0L)
    J.write(path, all.map(s =>
      Seq(s.name, s.op, s.parent, s.startNs - base, s.endNs - base).mkString("\t"))
      .mkString("", "\n", "\n"))
  }
}
