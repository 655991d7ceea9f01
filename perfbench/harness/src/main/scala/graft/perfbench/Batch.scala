package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** batch_sf01: registry queries from `graft.Bench.headline`, each built
  * through `SparkEntry.queries` and run into the noop sink by one
  * closed-loop client, in an order drawn from the seed. The loop runs whole
  * passes over the set, so every run weighs each query equally. */
final class Batch(ctx: Ctx, wrong: ConcurrentLinkedQueue[String]) extends Workload {
  private val spark = ctx.spark
  private val registry = graft.SparkEntry.queries
  private val names: Seq[String] = ctx.queries.getOrElse(Batch.Queries)
  require(names.forall(registry.contains), s"unknown query in ${names.mkString(",")}")
  private val perQuery = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double, Double)]

  def inputBytes: Long = Batch.Tables.map(t => Meter.dirBytes(s"${ctx.sf}/$t.parquet")).sum
  def indexBytes: Long = Meter.dirBytes(s"${ctx.work}/tmp")

  def load(): Unit =
    Lanes.run(Lanes.dealt(Batch.Tables))(t => graft.core.Tables.loadOrdered(spark, ctx.sf, t))

  /** Untimed: every query once into the noop sink, as timed, then its
    * result fingerprinted and compared with the pin; then one more noop
    * pass per lane, in seeded orders, so the JIT has compiled the hot paths
    * before the window opens. */
  def warmup(): Unit = {
    fingerprintPass()
    val rnd = new scala.util.Random(~ctx.seed)
    Lanes.run(Seq.fill(Lanes.Threads)(rnd.shuffle(names))) { n =>
      registry(n)(spark, ctx.sf).write.format("noop").mode("overwrite").save()
    }
  }

  private def fingerprintPass(): Unit = Lanes.run(Lanes.dealt(names)) { n =>
    val t0 = System.nanoTime()
    val got = try {
      registry(n)(spark, ctx.sf).write.format("noop").mode("overwrite").save()
      Batch.fingerprint(registry(n)(spark, ctx.sf))
    } catch { case e: Exception => s"error: ${e.getMessage}" }
    Pins.check(ctx, wrong, s"batch/$n", got)
    warm.put(n, (System.nanoTime() - t0) / 1e9)
  }
  private val warm = new java.util.concurrent.ConcurrentSkipListMap[String, Double]()

  /** A fixed number of whole passes, one per `PassPaceS` of the window, so
    * that every run, and every commit, times the same work; a pass that
    * would start past three windows is dropped. */
  def run(deadlineNs: Long, s: Samples, rec: Option[Recorder], phase: String): Unit = {
    val rnd = new scala.util.Random(ctx.seed)
    val start = System.nanoTime()
    val windowNs = deadlineNs - start
    val passes = math.max(1, math.round(windowNs / 1e9 / Batch.PassPaceS).toInt)
    var p = 0
    while (p < passes && (p == 0 || System.nanoTime() - start < 3 * windowNs)) {
      val t0 = System.nanoTime()
      rnd.shuffle(names).foreach(n => once(n, s, rec))
      passLog += f"pass   $phase%-10s ${(System.nanoTime() - t0) / 1e9}%.3f s"
      p += 1
    }
  }

  private def once(n: String, s: Samples, rec: Option[Recorder]): Unit = {
    val op = ctx.nextOp()
    if (Batch.Indexed(n)) indexOps.incrementAndGet()
    val t0 = System.nanoTime()
    val ok = try {
      rec match {
        case None =>
          registry(n)(spark, ctx.sf).write.format("noop").mode("overwrite").save()
        case Some(r) => r.asOp(op) {
          r.span("op", op, "") {
            val df = r.span("build", op, "op")(registry(n)(spark, ctx.sf))
            r.span("write", op, "op")(df.write.format("noop").mode("overwrite").save())
          }
        }
      }
      true
    } catch { case e: Exception => wrong.add(s"batch/$n: ${e.getMessage}"); false }
    s.add((System.nanoTime() - t0) / 1e9, ok)
    rec.foreach(_ => opNames.put(op, n))
  }

  private val opNames = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  private val passLog = Seq.newBuilder[String]
  private val indexOps = new java.util.concurrent.atomic.AtomicLong
  override def indexRequests: Long = indexOps.get

  def layers(rec: Recorder, traced: Samples, phases: Map[String, Samples])
      : Seq[(String, Double, String)] = {
    rec.settle()
    // per-query Spark counts: the execution budget of each query
    opNames.asScala.toSeq.groupBy(_._2).toSeq.sortBy(_._1).foreach { case (n, ops) =>
      val st = ops.map { case (op, _) => rec.opStats(op) }
      perQuery(n) = (Stats.mean(st.map(_.sqlExecutions.toDouble)),
        Stats.mean(st.map(_.jobs.toDouble)), Stats.mean(st.map(_.result.toDouble)))
    }
    Seq(
      ("build.self_s", Layers.selfTime(rec, "build"), "s"),
      ("build.sql_executions", Layers.sqlWithin(rec, "build"), "count"))
  }

  override def report: Seq[String] =
    warm.asScala.toSeq.map { case (n, t) => f"warmup $n%-22s $t%.3f s" } ++ passLog.result() ++ (
    if (perQuery.isEmpty) Nil
    else "query                      sql_executions  jobs  result_bytes" +:
      perQuery.toSeq.map { case (n, (e, j, r)) => f"query  $n%-22s $e%8.1f $j%7.1f $r%12.0f" })
}

object Batch {
  /** Seconds of window per pass: a warm pass of the default set took 2.5 to
    * 3.5 s on a 4-core box. */
  val PassPaceS = 3.0

  /** Fixed-cost-bound headline queries whose whole pass fits the run. */
  val Queries: Seq[String] = Seq(
    "q1_agg", "q_filter", "q_group_counts", "q_quantile", "q_order_limit",
    "q_dedup_exact", "q_fingerprint", "q_snapshot_diff", "q_ann_topk")

  /** Queries served by a cached index sidecar. */
  val Indexed: Set[String] = Set("q_ann_topk")

  /** The tables the default set reads. */
  val Tables: Seq[String] = Seq("lineitem", "orders", "documents", "embeddings")

  /** Row count plus two order-insensitive sums of per-row md5 prefixes.
    * Floating-point values are rounded to 9 significant digits first, so a
    * different summation order across partitions cannot change the print. */
  def fingerprint(df: DataFrame): String = {
    val row = to_json(struct(df.schema.fields.toIndexedSeq.map(f =>
      norm(col(s"`${f.name}`"), f.dataType).as(f.name)): _*))
    val h = md5(row.cast(BinaryType))
    val r = df.select(h.as("h")).agg(count(lit(1)),
      sum(conv(substring(col("h"), 1, 8), 16, 10).cast(LongType)),
      sum(conv(substring(col("h"), 9, 8), 16, 10).cast(LongType))).head()
    s"${r.getLong(0)}:${Option(r.get(1)).getOrElse(0)}:${Option(r.get(2)).getOrElse(0)}"
  }

  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.9g", c.cast(DoubleType))
    case ArrayType(e, _) => transform(c, x => norm(x, e))
    case StructType(fs) => struct(fs.toIndexedSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*)
    case _: MapType => to_json(c)
    case _ => c
  }
}

/** Pinned answers: compared in a normal run, collected in a pinning run. */
object Pins {
  val observed = new java.util.concurrent.ConcurrentSkipListMap[String, String]()

  def check(ctx: Ctx, wrong: ConcurrentLinkedQueue[String], key: String, got: String): Boolean = {
    ctx.checks.incrementAndGet()
    observed.put(key, got)
    if (ctx.pin) true
    else ctx.expected.get(key) match {
      case Some(v) if v == got => true
      case other =>
        ctx.failedChecks.incrementAndGet()
        wrong.add(s"$key: got $got, pinned ${other.getOrElse("nothing")}")
        false
    }
  }
}
