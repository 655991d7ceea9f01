package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed
import graft.core.{GTable, Natural}
import graft.functions.GWindows
import graft.operators.{Profile, Sampling}

/** Differential gate for the natural-order operators built on the
  * two-level block prefix scan: each distributed form against a serial
  * reference that stays in the code, over random tables and at block sizes
  * that put boundaries everywhere interesting — 1, 2, 3, 7, n−1, n, n+1
  * and 2^16 — with filters that empty whole blocks, nulls/NaN/−0.0 in the
  * run keys, and empty inputs. The distributed rankings, whose blocks are
  * range partitions, are checked against the plain window at 1, 2, 3 and
  * 7 ranges. The sf0.01 oracle cannot do this: its tables never put a
  * block boundary anywhere adversarial.
  *
  * Seeds are fixed so the suite is deterministic; a failure reports the
  * generated table. Every action is also pinned to ONE SQL execution — a
  * hidden driver collect or checkpoint would re-run the input subtree. */
class BlockScanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def holds(p: Prop, n: Int): Unit = {
    val params = SCTest.Parameters.default.withMinSuccessfulTests(n)
      .withInitialSeed(Seed(20261017L))
    val res = SCTest.check(params, p)
    assert(res.passed, res.status.toString)
  }

  // ─── random natural-order tables ───

  private val schema = StructType(Seq(
    StructField(Natural.rid, LongType, nullable = false),
    StructField("id", LongType, nullable = false),
    StructField("k", DoubleType), StructField("s", StringType),
    StructField("v", LongType), StructField("d", DoubleType),
    StructField("tok", IntegerType), StructField("q", DoubleType)))

  private def dbl(xs: Double*): Seq[java.lang.Double] =
    xs.map(java.lang.Double.valueOf)
  private val kPool = null +: dbl(Double.NaN, -0.0, 0.0, 1.5, -2.0)
  private val sPool = Seq(null, "a", "b")
  private val dPool = dbl(Double.NaN, -0.0, 0.0, 3.0, -1.25, 7.5, 1e9)
  private val qGen: Gen[java.lang.Double] = Gen.frequency(
    1 -> Gen.const(null), 1 -> Gen.const(java.lang.Double.valueOf(-0.0)),
    1 -> Gen.const(java.lang.Double.valueOf(Double.NaN)),
    6 -> Gen.choose(-80, 80).map(i => java.lang.Double.valueOf(i / 8.0)))

  /** Rows in runs of equal (k, s) — so runs span blocks — with dense
    * row ids 0..n−1; `id` = 1000 + rid. */
  private val genRows: Gen[Vector[Row]] = for {
    n <- Gen.frequency(1 -> Gen.const(0), 8 -> Gen.choose(1, 40))
    segs <- Gen.listOfN(n, for {
      k <- Gen.oneOf(kPool); s <- Gen.oneOf(sPool); len <- Gen.choose(1, 5)
    } yield (k, s, len))
    vs <- Gen.listOfN(n, Gen.frequency(1 -> Gen.const(null: java.lang.Long),
      5 -> Gen.choose(-50L, 50L).map(Long.box)))
    ds <- Gen.listOfN(n, Gen.oneOf(dPool))
    toks <- Gen.listOfN(n, Gen.frequency(1 -> Gen.const(null: Integer),
      6 -> Gen.choose(-3, 20).map(Int.box)))
    qs <- Gen.listOfN(n, qGen)
  } yield {
    val keys = segs.flatMap { case (k, s, len) => Seq.fill(len)((k, s)) }.take(n)
    keys.indices.map { i =>
      Row(i.toLong, 1000L + i, keys(i)._1, keys(i)._2, vs(i), ds(i), toks(i), qs(i))
    }.toVector
  }

  /** Up to two rid intervals to filter out — wide enough to empty whole
    * blocks at the small block sizes. */
  private val genDrops: Gen[List[(Int, Int)]] =
    Gen.listOfN(2, Gen.zip(Gen.choose(0, 40), Gen.choose(0, 12)))

  private val genTable = Gen.zip(genRows, genDrops)

  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  private def kept(drops: Seq[(Int, Int)]): Column =
    !drops.map { case (lo, len) =>
      col(Natural.rid) >= lo && col(Natural.rid) < lo + len
    }.foldLeft(lit(false))(_ || _)

  private def blockSizes(n: Int): Seq[Long] =
    Seq(1L, 2L, 3L, 7L, n - 1L, n.toLong, n + 1L, 1L << 16).filter(_ >= 1).distinct

  // ─── comparison ───

  /** Doubles by their bits (NaN canonical): −0.0 ≠ 0.0 and NaN = NaN. */
  private def exact(rows: Array[Row]): Seq[Seq[Any]] = rows.toSeq.map(_.toSeq.map {
    case d: Double => "f64:" + java.lang.Double.doubleToLongBits(d)
    case x => x
  })

  /** SQL value equality: −0.0 = 0.0. They tie under Spark's ordering, so
    * which of the two a max/min keeps depends on aggregation merge order. */
  private def sqlEq(rows: Array[Row]): Seq[Seq[Any]] = rows.toSeq.map(_.toSeq.map {
    case d: Double if d == 0.0 => "f64:0"
    case d: Double => "f64:" + java.lang.Double.doubleToLongBits(d)
    case x => x
  })

  private def same(label: String, expected: Seq[Seq[Any]], got: Seq[Seq[Any]]): Unit =
    assert(got == expected, s"$label\n expected: $expected\n got:      $got")

  // ─── runs / densify / cumulative ───

  private val runAggs = Seq(min(col("id")).as("first"), sum(col("v")).as("sv"))

  /** Every tagged variant in ONE job (a job per block size would make
    * this spec the slowest in the suite): each tag's frame is unioned,
    * then split back and ordered locally by the Long column `key`. */
  private def perTag(tags: Seq[Long], key: String)(f: Long => DataFrame): Map[Long, Array[Row]] = {
    val rows = tags.map(tag => f(tag).withColumn("_tag", lit(tag)))
      .reduce(_ unionByName _).collect()
    tags.map { tag =>
      tag -> rows.filter(_.getAs[Long]("_tag") == tag).sortBy(_.getAs[Long](key))
        .map(r => Row.fromSeq(r.toSeq.init))
    }.toMap
  }

  // runs plans are deep (two broadcasts, four exchanges): a union of all
  // sizes re-plans adaptively per stage and is SLOWER than one job per
  // size, so runs alone does not batch through perTag
  private def checkRuns(rows: Seq[Row], drops: Seq[(Int, Int)]): Unit = {
    val t = GTable(frame(rows))
    val f = t.filter(kept(drops))
    val bys = Seq(Seq("k"), Seq("s", "k"))
    def serial(g: GTable, by: Seq[String]) =
      exact(g.runsSerial(by, Nil, runAggs, Some("n")).result.collect())
    val expT = bys.map(by => by -> serial(t, by)).toMap
    val expF = bys.map(by => by -> serial(f, by)).toMap
    for ((bs, i) <- blockSizes(rows.size).zipWithIndex) {
      val by = bys(i % 2)
      same(s"runs n=${rows.size} bs=$bs by=$by", expT(by),
        exact(t.runsDistributed(by, Nil, runAggs, Some("n"), bs).result.collect()))
      same(s"filtered runs n=${rows.size} drops=$drops bs=$bs by=$by", expF(by),
        exact(f.densify(bs).runsDistributed(by, Nil, runAggs, Some("n"), bs)
          .result.collect()))
    }
  }

  test("runsDistributed ≡ runsSerial at adversarial block sizes, dense and filtered") {
    checkRuns(Nil, Nil)
    holds(Prop.forAllNoShrink(genTable) { case (rows, drops) =>
      checkRuns(rows, drops); true
    }, n = 4)
  }

  private def checkDensify(rows: Seq[Row], drops: Seq[(Int, Int)]): Unit = {
    val f = GTable(frame(rows)).filter(kept(drops))
    val exp = exact(f.df.select(col("id"),
      (row_number().over(Window.orderBy(col(Natural.rid))) - 1L).as("pos"))
      .orderBy("id").collect())
    val sizes = blockSizes(rows.size)
    val got = perTag(sizes, "id")(bs => f.densify(bs).df.select(col("id"), col(Natural.rid)))
    for (bs <- sizes)
      same(s"densify n=${rows.size} drops=$drops bs=$bs", exp, exact(got(bs)))
  }

  test("densify ≡ row_number over the sparse rid, incl. emptied blocks") {
    checkDensify(Nil, Nil)
    holds(Prop.forAllNoShrink(genTable) { case (rows, drops) =>
      checkDensify(rows, drops); true
    }, n = 8)
  }

  private val running = Window.orderBy(col(Natural.rid))
    .rowsBetween(Window.unboundedPreceding, Window.currentRow)

  private val cumForms: Seq[(String, Column, Column => Column, (Column, Column) => Column)] =
    Seq(("cumsum", col("v"), sum(_: Column), _ + _),
      ("cummax", col("d"), max(_: Column), greatest(_, _)),
      ("cummin", col("d"), min(_: Column), least(_, _)))

  private def checkCumulative(rows: Seq[Row], drops: Seq[(Int, Int)]): Unit = {
    val t = GTable(frame(rows))
    val f = t.filter(kept(drops))
    val sizes = blockSizes(rows.size)
    for ((name, v, agg, combine) <- cumForms) {
      def serial(g: GTable) = sqlEq(g.df.select(col("id"), agg(v).over(running).as("c"))
        .orderBy("id").collect())
      val (expT, expF) = (serial(t), serial(f))
      // tag bs: the dense table; tag −bs: the filtered one
      val got = perTag(sizes ++ sizes.map(-_), "id") { tag =>
        val src = if (tag > 0) t else f
        src.cumulative(v, "c", agg, combine, math.abs(tag)).df.select("id", "c")
      }
      for (bs <- sizes) {
        same(s"$name n=${rows.size} bs=$bs", expT, sqlEq(got(bs)))
        same(s"filtered $name n=${rows.size} drops=$drops bs=$bs", expF, sqlEq(got(-bs)))
      }
    }
  }

  test("cumulative sum/max/min ≡ the unpartitioned running window") {
    checkCumulative(Nil, Nil)
    holds(Prop.forAllNoShrink(genTable) { case (rows, drops) =>
      checkCumulative(rows, drops); true
    }, n = 5)
  }

  // ─── keyless as-of join ───

  private val asofSchemaL = StructType(Seq(
    StructField("lid", LongType, nullable = false), StructField("t", LongType)))
  private val asofSchemaR = StructType(Seq(
    StructField("xid", LongType, nullable = false), StructField("t", LongType),
    StructField("w", StringType)))

  private val genT: Gen[java.lang.Long] =
    Gen.frequency(1 -> Gen.const(null: java.lang.Long),
      8 -> Gen.choose(0L, 15L).map(Long.box))

  private val genAsof: Gen[(Seq[Row], Seq[Row])] = for {
    nl <- Gen.choose(0, 30)
    nr <- Gen.frequency(1 -> Gen.const(0), 5 -> Gen.choose(1, 30))
    lt <- Gen.listOfN(nl, genT)
    rt <- Gen.listOfN(nr, genT)
    rw <- Gen.listOfN(nr, Gen.oneOf("x", "y", "z"))
  } yield (lt.zipWithIndex.map { case (t, i) => Row(i.toLong, t) },
    rt.zip(rw).zipWithIndex.map { case ((t, w), i) => Row(100L + i, t, w) })

  private val asofCols = Seq("lid", "t", "xid", "t_right", "w")

  /** (shuffle partitions, AQE partition coalescing) — 64 is more range
    * partitions than either side has rows. */
  private val asofConfs = Seq((1, false), (2, false), (7, false), (64, false),
    (7, true), (64, true))

  private def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def checkAsof(lRows: Seq[Row], rRows: Seq[Row]): Unit = {
    val l = GTable(spark.createDataFrame(lRows.asJava, asofSchemaL))
    val r = GTable(spark.createDataFrame(rRows.asJava, asofSchemaR))
    // serial reference: the keyed merge with one constant key
    val exp = exact(l.project("k" -> lit(1)).asofJoin(r.project("k" -> lit(1)),
      on = "t", keys = Seq("k")).result.select(asofCols.map(col): _*)
      .orderBy("lid").collect())
    for ((parts, coalesce) <- asofConfs) withConf(
        "spark.sql.shuffle.partitions" -> parts.toString,
        "spark.sql.adaptive.coalescePartitions.enabled" -> coalesce.toString) {
      same(s"keyless asof |l|=${lRows.size} |r|=${rRows.size} parts=$parts " +
        s"coalesce=$coalesce", exp,
        exact(l.asofJoin(r, on = "t").result.select(asofCols.map(col): _*)
          .orderBy("lid").collect()))
    }
  }

  test("keyless asofJoin ≡ constant-key merge across partition counts and AQE coalescing") {
    checkAsof(Nil, Nil)
    checkAsof(Seq(Row(0L, 3L), Row(1L, null)), Nil)
    holds(Prop.forAllNoShrink(genAsof) { case (lRows, rRows) =>
      checkAsof(lRows, rRows); true
    }, n = 6)
  }

  test("keyless asofJoin: the prefix scan and the rows share ONE range exchange") {
    // two independently sampled range exchanges could place the same row in
    // different partitions, and the per-range prefix would then describe
    // the wrong rows: the totals must read the exchange the rows read
    val l = GTable(spark.range(40).select(col("id").as("lid"), (col("id") % 9).as("t")))
    val r = GTable(spark.range(30).select(col("id").as("xid"), (col("id") % 11).as("t")))
    val j = l.asofJoin(r, on = "t").result
    j.collect()
    val plan = j.queryExecution.executedPlan
    val ranges = collect(plan) {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }
    val reused = collect(plan) { case e: ReusedExchangeExec => e }
    assert(ranges.size == 1 && reused.size == 1, s"range exchanges: $ranges; reused: $reused")
  }

  // ─── distributed rankings ───

  private val rankSchema = StructType(Seq(
    StructField("id", LongType, nullable = false), StructField("k", StringType),
    StructField("o1", DoubleType), StructField("o2", IntegerType)))

  /** Mostly one value (1.5), repeated far beyond a range's size, plus null,
    * NaN, −0.0 and 0.0. */
  private val o1Gen: Gen[java.lang.Double] = Gen.frequency(
    12 -> Gen.const(java.lang.Double.valueOf(1.5)), 1 -> Gen.const(null),
    1 -> Gen.oneOf(dbl(Double.NaN, -0.0, 0.0)),
    2 -> Gen.choose(-4, 4).map(i => java.lang.Double.valueOf(i / 2.0)))

  /** Partition keys with nulls, or a single key; a desc flag per order
    * column. */
  private val genRanked: Gen[(Seq[Row], Seq[Boolean])] = for {
    n <- Gen.frequency(1 -> Gen.const(0), 8 -> Gen.choose(1, 80))
    keyPool <- Gen.oneOf(sPool, Seq("a"))
    ks <- Gen.listOfN(n, Gen.oneOf(keyPool))
    o1 <- Gen.listOfN(n, o1Gen)
    o2 <- Gen.listOfN(n, Gen.frequency(1 -> Gen.const(null: Integer),
      4 -> Gen.choose(0, 3).map(Int.box)))
    desc <- Gen.listOfN(3, Gen.oneOf(true, false))
  } yield ((0 until n).map(i => Row(i.toLong, ks(i), o1(i), o2(i))), desc)

  /** (partition keys, order columns): tie-heavy, multi-column, unique
    * (the id breaks every tie), and one global partition. */
  private val rankForms = Seq(Seq("k") -> Seq("o1"), Seq("k") -> Seq("o1", "o2"),
    Seq("k") -> Seq("o2", "o1", "id"), Seq.empty[String] -> Seq("o1", "o2"))

  private val rankCols = Seq("_tag", "id", "k", "o1", "o2", "rn", "rk", "dr", "pr", "nt")

  /** rk, dr and pr by row; rn and nt as a multiset per (keys, order
    * tuple), which ties leave free to permute among the tied rows. */
  private def rankViews(rows: Array[Row]): (Seq[Seq[Any]], Seq[Seq[Any]]) = {
    val byRow = exact(rows.map(r => Row(r.getInt(0), r.getLong(1), r.get(6), r.get(7), r.get(8))))
      .sortBy(r => (r(0).asInstanceOf[Int], r(1).asInstanceOf[Long]))
    val tuples = sqlEq(rows.map { r =>
      val (keys, ord) = rankForms(r.getInt(0))
      Row.fromSeq(r.get(0) +: (keys ++ ord).map(c => r.get(rankCols.indexOf(c))) ++:
        Seq(r.get(5), r.get(9)))
    }).sortBy(_.toString)
    (byRow, tuples)
  }

  private def checkRankings(rows: Seq[Row], desc: Seq[Boolean]): Unit = {
    val t = spark.createDataFrame(rows.asJava, rankSchema)
    def forms(f: (Seq[String], Seq[String], Seq[Boolean]) => DataFrame) =
      rankForms.zipWithIndex.map { case ((keys, ord), tag) =>
        f(keys, ord, desc.take(ord.size)).withColumn("_tag", lit(tag))
      }.reduce(_ unionByName _).select(rankCols.map(col): _*).collect()
    val exp = rankViews(forms { (keys, ord, d) =>
      val w = GWindows.spec(keys.map(col), ord.zip(d).map { case (o, dsc) =>
        if (dsc) col(o).desc else col(o).asc })
      t.select(col("*"), GWindows.rowNumber0(w).cast("int").as("rn"),
        GWindows.rank0(w).cast("int").as("rk"),
        GWindows.denseRank0(w).cast("int").as("dr"),
        GWindows.percentRank(w).as("pr"), GWindows.ntile0(3, w).as("nt"))
    })
    for (parts <- Seq(1, 2, 3, 7)) withConf("spark.sql.shuffle.partitions" -> parts.toString) {
      val got = rankViews(forms { (keys, ord, d) =>
        GTable(t).rankings(keys, ord.map(col), d, rowNumber = Some("rn"),
          rank = Some("rk"), denseRank = Some("dr"), percentRank = Some("pr"),
          ntile = Some((3, "nt"))).result
      })
      same(s"rankings by row n=${rows.size} desc=$desc parts=$parts", exp._1, got._1)
      same(s"rankings per tuple n=${rows.size} desc=$desc parts=$parts", exp._2, got._2)
    }
  }

  test("rankings ≡ the plain window at 1/2/3/7 ranges: ties, nulls, NaN, ±0.0, desc") {
    checkRankings(Nil, Seq(false, false, false))
    // one order value 200 times over two keys, one of them null
    checkRankings((0 until 200).map(i => Row(i.toLong, if (i % 3 == 0) null else "a",
      java.lang.Double.valueOf(1.5), Int.box(i % 2))), Seq(true, false, true))
    holds(Prop.forAllNoShrink(genRanked) { case (rows, desc) =>
      checkRankings(rows, desc); true
    }, n = 6)
  }

  test("rankings: the totals and the ranked rows share ONE range exchange") {
    // the in-range ranks and the per-range totals must describe the same
    // row placement: the totals must read the exchange the rows read
    val t = GTable(spark.range(60).select(col("id"), (col("id") % 3).as("k"),
      (col("id") % 7).as("o")))
    val r = t.rankings(Seq("k"), Seq(col("o")), rowNumber = Some("rn"),
      rank = Some("rk")).result
    r.collect()
    val plan = r.queryExecution.executedPlan
    val ranges = collect(plan) {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }
    val reused = collect(plan) {
      case e: ReusedExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }
    assert(ranges.size == 1 && reused.size == 1, s"range exchanges: $ranges; reused: $reused")
  }

  // ─── token budget ───

  private def checkTokenBudget(rows: Seq[Row], drops: Seq[(Int, Int)]): Unit = {
    val src = frame(rows).filter(kept(drops)).drop(Natural.rid)
    val docs = src.select(col("id"), Sampling.shuffleKey(col("id"), "7"), col("tok"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) 0L else math.max(0L, r.getInt(2).toLong)))
      .sortBy(d => (d._2, d._1))
    val total = docs.map(_._3).sum
    // local running sum in stream order; the head keeps every doc that
    // starts inside the budget
    val before = docs.scanLeft(0L)(_ + _._3)
    for (budget <- Seq(1L, total / 2 + 1, total + 5); bc <- 1 to 5) {
      val exp = docs.zip(before).collect { case (d, b) if b < budget => Seq(d._1, b) }
        .toSeq.sortBy(_.head)
      val got = Sampling.takeTokenBudget(src, "id", col("tok"), budget, "7", bc)
        .select("id", "tokens_before").collect().toSeq.map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
      same(s"takeTokenBudget n=${rows.size} budget=$budget blockChars=$bc", exp, got)
    }
  }

  test("takeTokenBudget ≡ a local running sum over the shuffled stream") {
    checkTokenBudget(Nil, Nil)
    holds(Prop.forAllNoShrink(genTable) { case (rows, drops) =>
      checkTokenBudget(rows, drops); true
    }, n = 5)
  }

  // ─── profile quantiles ───

  private def checkQuantiles(rows: Seq[Row], drops: Seq[(Int, Int)]): Unit = {
    val src = frame(rows).filter(kept(drops)).select("q")
    val exp = src.agg(percentile(col("q"), array(lit(0.5), lit(0.95)))).collect().head
    val e = if (exp.isNullAt(0)) Seq(null, null) else exp.getSeq[Double](0)
    // the blocks are range partitions: one per shuffle partition
    val parts = Seq(1, 2, 3, 7, rows.size - 1, rows.size, rows.size + 1, 64)
      .filter(_ >= 1).distinct
    for (p <- parts) withConf("spark.sql.shuffle.partitions" -> p.toString) {
      val got = Profile.summary(src, Seq("q"), exactNdv = true)
        .select("p50", "p95").collect().head
      // sqlEq: −0.0 and 0.0 share one histogram key
      same(s"histQuantiles n=${rows.size} partitions=$p", sqlEq(Array(Row(e: _*))),
        sqlEq(Array(got)))
    }
  }

  test("histQuantiles ≡ Spark percentile, bit-for-bit, at every range-partition count") {
    // force the distributed-selection arm (tiny frames would otherwise
    // dispatch to the single-map percentile)
    withConf("spark.graft.profile.selectionMinBytes" -> "0") {
      checkQuantiles(Nil, Nil)
      holds(Prop.forAllNoShrink(genTable) { case (rows, drops) =>
        checkQuantiles(rows, drops); true
      }, n = 5)
    }
  }

  // ─── execution budget ───

  private def executions(body: => Unit): Int =
    org.apache.spark.sql.graft.Executions.count(spark)(body)

  test("each block-scanned operator's action is exactly one SQL execution") {
    val rows = (0 until 30).map { i =>
      Row(i.toLong, 1000L + i, java.lang.Double.valueOf(i / 4), sPool(i % 3),
        i.toLong, java.lang.Double.valueOf(i % 7), Int.box(i % 5), null)
    }
    val t = GTable(frame(rows))
    val budget = Map(
      "cumulative" -> executions(
        t.cumulative(col("v"), "c", sum, _ + _, 4).df.collect()),
      "densify" -> executions(
        t.filter(col("id") % 3 =!= 0).densify(4).df.collect()),
      "runsDistributed" -> executions(
        t.runsDistributed(Seq("s"), blockSize = 4).result.collect()),
      "takeTokenBudget" -> executions(
        Sampling.takeTokenBudget(t.result, "id", col("tok"), 20L).collect()),
      "keyless asofJoin" -> executions {
        val l = GTable(t.result.select(col("id").as("lid"), col("v").as("t")))
        val r = GTable(t.result.filter(col("id") % 2 === 0)
          .select(col("id").as("xid"), (col("v") - 1).as("t")))
        l.asofJoin(r, on = "t").result.collect()
      })
    assert(budget.forall(_._2 == 1), s"SQL executions per action: $budget")
  }

  test("rankings and reservoirK: construction plus one action is one SQL execution") {
    val t = GTable(spark.range(60).select(col("id"),
      when(col("id") % 4 === 0, lit(null)).otherwise(col("id") % 3).as("k")))
    val budget = Map(
      "rankings" -> executions(t.rankings(Seq("k"), Seq(col("id")),
        rowNumber = Some("rn"), percentRank = Some("pr")).result.collect()),
      "reservoirK" -> executions(
        Sampling.reservoirK(t, Seq("k"), col("id"), 5).collect()))
    assert(budget.forall(_._2 == 1), s"SQL executions per action: $budget")
  }
}
