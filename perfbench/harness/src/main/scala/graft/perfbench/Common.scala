package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What one run was asked to do. */
final case class Ctx(spark: SparkSession, workload: String, seed: Long,
                     seconds: Double, trace: Boolean, sf: String, x4: String,
                     work: String, expected: Map[String, String], pin: Boolean,
                     queries: Option[Seq[String]]) {
  val ops = new AtomicLong
  /** Answers compared against a pin or a reference, outside the timed loop. */
  val checks = new AtomicLong
  val failedChecks = new AtomicLong
  def nextOp(): Long = ops.incrementAndGet()
}

/** Latency samples and outcome counts of one measured phase. */
final class Samples {
  private val lat = new ConcurrentLinkedQueue[Double]()
  val attempted = new AtomicLong
  val failed = new AtomicLong
  private val wallNs = new AtomicLong

  def add(seconds: Double, ok: Boolean): Unit = {
    attempted.incrementAndGet()
    if (ok) lat.add(seconds) else failed.incrementAndGet()
  }
  def setWall(ns: Long): Unit = wallNs.set(ns)
  def wallS: Double = wallNs.get / 1e9
  def values: Seq[Double] = lat.asScala.toSeq.sorted
  def size: Int = lat.size
  def pct(p: Double): Double = Stats.pct(values, p)
  def qps: Double = if (wallS > 0) lat.size / wallS else 0.0
}

/** Runs independent set-up steps on a few threads: at sf0.1 a single step
  * keeps only one or two of the box's cores busy. */
object Lanes {
  val Threads = 3

  /** Runs each lane's steps in order, the lanes side by side. */
  def run[A](lanes: Seq[Seq[A]])(f: A => Unit): Unit = {
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val ts = lanes.zipWithIndex.map { case (steps, i) =>
      new Thread(() => steps.foreach { a =>
        try f(a) catch { case e: Throwable => errors.add(e) }
      }, s"perfbench-setup-$i")
    }
    ts.foreach(_.start())
    ts.foreach(_.join())
    Option(errors.peek()).foreach(e => throw e)
  }

  /** Deals `items` round-robin into `Threads` lanes. */
  def dealt[A](items: Seq[A]): Seq[Seq[A]] =
    (0 until Threads).map(i => items.zipWithIndex.collect { case (a, j) if j % Threads == i => a })
}

object Stats {
  /** Nearest-rank percentile of sorted values (0 when empty). */
  def pct(sorted: Seq[Double], p: Double): Double =
    if (sorted.isEmpty) 0.0
    else sorted(math.min(sorted.size - 1, math.max(0, math.ceil(p * sorted.size).toInt - 1)))

  def median(xs: Seq[Double]): Double = pct(xs.sorted, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Disk and JVM readings. */
object Meter {
  def dirBytes(path: String): Long = {
    val f = new File(path)
    if (!f.exists) 0L
    else if (f.isFile) f.length
    else Option(f.listFiles).toSeq.flatten.map(c => dirBytes(c.getPath)).sum
  }

  def dataFiles(path: String): Long = {
    val f = new File(path)
    if (!f.exists) 0L
    else if (f.isFile) {
      if (f.getName.startsWith("_") || f.getName.startsWith(".")) 0L else 1L
    } else Option(f.listFiles).toSeq.flatten.map(c => dataFiles(c.getPath)).sum
  }

  /** Bytes written through Hadoop's local file system in this JVM: parquet
    * outputs, index sidecars, streaming state. Shuffle and block-manager
    * spills do not go through it. */
  def fsBytesWritten(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum

  /** Waits, at most `maxS` seconds, until the JIT compilers have been idle
    * for half a second, so that compilations queued during the warm-up do
    * not finish inside the measured window. */
  def awaitJitQuiet(maxS: Double): Unit = {
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val end = System.nanoTime() + (maxS * 1e9).toLong
    var last = jit.getTotalCompilationTime
    var quietSince = System.nanoTime()
    while (System.nanoTime() < end && System.nanoTime() - quietSince < 500000000L) {
      Thread.sleep(100)
      val now = jit.getTotalCompilationTime
      if (now - last > 5) quietSince = System.nanoTime()
      last = now
    }
  }

  def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3

  /** Live heap after full collections, in MB. */
  def heapRetainedMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** Index-family counters the engine keeps for its own specs; read only. */
object IndexCounters {
  import graft.operators.{Dedup, Similarity, TextSearch}
  def builds: Long = TextSearch.textBuildCount.get + Similarity.ivfBuildCount.get +
    Similarity.lshBuildCount.get + Dedup.minhashBuildCount.get
  def deltaAppends: Long = TextSearch.textDeltaAppendCount.get +
    Similarity.annDeltaAppendCount.get + Dedup.minhashDeltaAppendCount.get
  def evictions: Long = TextSearch.textCacheEvictions
}

/** Minimal JSON output. */
object J {
  def str(s: String): String = graft.graphql.Json.quote(s)
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")

  def write(path: String, text: String): Unit = {
    Files.createDirectories(Paths.get(path).toAbsolutePath.getParent)
    Files.write(Paths.get(path), text.getBytes(UTF_8))
  }
}
