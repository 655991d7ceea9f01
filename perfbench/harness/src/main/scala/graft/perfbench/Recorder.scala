package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.Bus

/** One timed interval. Harness spans use `System.nanoTime`; listener spans
  * (SQL executions, jobs) carry Spark's wall-clock milliseconds and are
  * converted with the offset captured at start-up. `op` is the operation id
  * the span belongs to (-1 when it could not be attributed). */
final case class Span(name: String, op: Long, parent: String,
                      startNs: Long, endNs: Long) {
  def durS: Double = (endNs - startNs) / 1e9
}

/** Per-operation Spark totals gathered by the listener. */
final class OpStats {
  var sqlExecutions = 0L
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var input = 0L
  var result = 0L
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  /** Worst max/median task run time over the op's stages. */
  var skew = 0.0
}

/** Trace recorder: harness spans around each layer call plus Spark's own
  * events, read through a `SparkListener` (planning phases come from the
  * query execution that each SQL-execution-end event carries). The calling thread tags its Spark work
  * with a job tag (a local property) naming the operation; the listener
  * reads it back from the SQL-execution and job events. Everything stays in
  * memory until the run ends. */
final class Recorder(spark: SparkSession) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stats = new java.util.concurrent.ConcurrentHashMap[Long, OpStats]()
  private val execOp = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  private val jobOp = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stageTasks =
    new java.util.concurrent.ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val execStart = new java.util.concurrent.ConcurrentHashMap[Long, Long]()

  /** nanoTime = wall millis * 1e6 + offset */
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def msToNs(ms: Long): Long = ms * 1000000L + offsetNs

  private val TagPrefix = "perfbench-op-"

  private def opOf(tags: Iterable[String]): Long =
    tags.collectFirst { case t if t.startsWith(TagPrefix) =>
      t.stripPrefix(TagPrefix).toLong }.getOrElse(-1L)

  private def statsOf(op: Long): OpStats = stats.computeIfAbsent(op, _ => new OpStats)

  private val sparkListener = new SparkListener {
    override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
      case e: SparkListenerSQLExecutionStart =>
        val op = opOf(e.jobTags)
        execOp.put(e.executionId, op)
        execStart.put(e.executionId, e.time)
        val st = statsOf(op)
        st.synchronized { st.sqlExecutions += 1 }
      case e: SparkListenerSQLExecutionEnd =>
        val op = execOp.getOrDefault(e.executionId, -1L)
        val t0 = execStart.getOrDefault(e.executionId, e.time)
        spans.add(Span("sql", op, "", msToNs(t0), msToNs(e.time)))
        val (a, o, p) = Bus.phasesMs(e)
        val st = statsOf(op)
        st.synchronized {
          st.analysisMs += a; st.optimizationMs += o; st.planningMs += p
        }
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tags = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.tags")))
        .map(_.split(",").toSeq).getOrElse(Nil)
      val op = opOf(tags)
      jobOp.put(e.jobId, op)
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(s => stageOp.put(s, op))
      val st = statsOf(op)
      st.synchronized { st.jobs += 1 }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val op = jobOp.getOrDefault(e.jobId, -1L)
      val t0 = jobStart.getOrDefault(e.jobId, e.time)
      spans.add(Span("job", op, "", msToNs(t0), msToNs(e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val id = e.stageInfo.stageId
      val op = stageOp.getOrDefault(id, -1L)
      val times = Option(stageTasks.remove(id)).map(_.asScala.toSeq.sorted)
        .getOrElse(Nil)
      val st = statsOf(op)
      st.synchronized {
        st.stages += 1
        if (times.nonEmpty) {
          val med = math.max(1L, times(times.size / 2))
          st.skew = math.max(st.skew, times.last.toDouble / med)
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val op = stageOp.getOrDefault(e.stageId, -1L)
      val m = e.taskMetrics
      if (m != null) {
        stageTasks.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[Long]())
          .add(m.executorRunTime)
        val st = statsOf(op)
        st.synchronized {
          st.tasks += 1
          st.taskRunMs += m.executorRunTime
          st.taskCpuNs += m.executorCpuTime
          st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          st.input += m.inputMetrics.bytesRead
          st.result += m.resultSize
        }
      }
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
  }

  def uninstall(): Unit = {
    Bus.drain(spark)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  /** Run `f` as operation `op`: Spark work it starts on this thread is
    * tagged so the listener can attribute it. */
  def asOp[T](op: Long)(f: => T): T = {
    val tag = TagPrefix + op
    spark.sparkContext.addJobTag(tag)
    try f finally spark.sparkContext.removeJobTag(tag)
  }

  def span[T](name: String, op: Long, parent: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally spans.add(Span(name, op, parent, t0, System.nanoTime()))
  }

  /** Waits until the listener has seen every event posted so far. */
  def settle(): Unit = Bus.drain(spark)

  def allSpans: Seq[Span] = spans.asScala.toSeq
  def opStats(op: Long): OpStats = stats.getOrDefault(op, new OpStats)
}

object Recorder {
  /** Total length of the union of `intervals` clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
