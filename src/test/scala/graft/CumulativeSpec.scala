package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{GTable, Natural, Tables}

class CumulativeSpec extends SparkSpec {

  /** The arm rankingsAuto took: the distributed rankings range-partition,
    * the plain window hash-partitions by key. Both plans hold a Window. */
  private def ranged(plan: String): Boolean = plan.contains("rangepartitioning")

  test("distributed rankings equal the plain window (incl. in-range ties)") {
    import graft.core.{GTable, Tables}
    import graft.functions.GWindows
    val li = Tables.load(spark, sf, "lineitem")
    // order by a low-cardinality column: long tie runs. Range partitioning
    // keeps each tie run in one range, however long
    for (ordCols <- Seq(
        Seq(col("l_quantity"), col("l_orderkey"), col("l_linenumber")),
        Seq(col("l_quantity")))) {
      val desc = Seq(true) ++ Seq.fill(ordCols.length - 1)(false)
      val sortCols = ordCols.zip(desc).map { case (c, d) => if (d) c.desc else c.asc }
      val w = GWindows.spec(Seq(col("l_returnflag")), sortCols)
      val expected = li.select(
        col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
        GWindows.rowNumber0(w).cast("int").as("rn0"),
        GWindows.rank0(w).cast("int").as("rk0"),
        GWindows.denseRank0(w).cast("int").as("dr0"),
        GWindows.ntile0(4, w).as("nt0"),
        GWindows.percentRank(w).as("pr"))
      val got = GTable(li).rankings(Seq("l_returnflag"), ordCols, desc,
        rowNumber = Some("rn0"), rank = Some("rk0"), denseRank = Some("dr0"),
        percentRank = Some("pr"), ntile = Some((4, "nt0")))
        .result.select("l_returnflag", "l_orderkey", "l_linenumber",
          "rn0", "rk0", "dr0", "nt0", "pr")
      if (ordCols.length > 1) {
        // unique order key: full row equality
        assert(got.exceptAll(expected).count() == 0)
        assert(expected.exceptAll(got).count() == 0)
      } else {
        // ties make rowNumber/ntile nondeterministic between plans; compare
        // the deterministic rank/denseRank/percentRank only
        val e2 = expected.select("l_returnflag", "l_orderkey", "l_linenumber", "rk0", "dr0", "pr")
        val g2 = got.select("l_returnflag", "l_orderkey", "l_linenumber", "rk0", "dr0", "pr")
        assert(g2.exceptAll(e2).count() == 0, "rank/denseRank mismatch under ties")
        assert(e2.exceptAll(g2).count() == 0)
      }
    }
  }


  test("rankingsAuto flips strategy on the configured row threshold") {
    val li = Tables.load(spark, sf, "lineitem")
    val ordCols = Seq(col("l_quantity"), col("l_orderkey"), col("l_linenumber"))
    val desc = Seq(true, false, false)
    def run(): org.apache.spark.sql.DataFrame =
      GTable(li).rankingsAuto(Seq("l_returnflag"), ordCols, desc,
          rowNumber = Some("rn0"), rank = Some("rk0"))
        .result.select("l_returnflag", "l_orderkey", "l_linenumber", "rn0", "rk0")
    // below the flip: the plain window plan (no range exchange)
    spark.conf.set("spark.graft.rankings.flipRows", "1000000000")
    val below = run()
    assert(!ranged(below.queryExecution.executedPlan.toString),
      "expected the plain window below the threshold")
    // above the flip (threshold 1): the distributed rankings
    spark.conf.set("spark.graft.rankings.flipRows", "1")
    val above = run()
    assert(ranged(above.queryExecution.executedPlan.toString),
      "expected the distributed rankings above the threshold")
    spark.conf.unset("spark.graft.rankings.flipRows")
    // both strategies agree row-for-row (unique order key)
    assert(above.exceptAll(below).count() == 0)
    assert(below.exceptAll(above).count() == 0)
  }

  test("rankingsAuto default flip derives from parallelism: P <= assumedKeys never flips; big P flips early; flipRows overrides") {
    val li = Tables.load(spark, sf, "lineitem")
    val ordCols = Seq(col("l_quantity"), col("l_orderkey"), col("l_linenumber"))
    val desc = Seq(true, false, false)
    def plan(): String =
      GTable(li).rankingsAuto(Seq("l_returnflag"), ordCols, desc,
          rowNumber = Some("rn0"))
        .result.queryExecution.executedPlan.toString
    try {
      // P ≤ assumedKeys: the window path already uses every core — the
      // derived threshold is ∞ and the plain window always wins
      spark.conf.set("spark.graft.rankings.parallelism", "2")
      assert(!ranged(plan()),
        "P <= assumedKeys must keep the plain window")
      // many cores + cheap per-core budget: the derived crossover lands in
      // single-digit rows, so even the fixture flips to the distributed plan
      spark.conf.set("spark.graft.rankings.parallelism", "10000")
      spark.conf.set("spark.graft.rankings.perCoreRows", "1")
      assert(ranged(plan()),
        "high parallelism must flip to the distributed rankings")
      // the explicit flipRows config still overrides the derivation
      spark.conf.set("spark.graft.rankings.flipRows", "1000000000")
      assert(!ranged(plan()), "flipRows override must win")
    } finally {
      spark.conf.unset("spark.graft.rankings.parallelism")
      spark.conf.unset("spark.graft.rankings.perCoreRows")
      spark.conf.unset("spark.graft.rankings.flipRows")
    }
  }

  test("rankingsAuto treats unknown plan size as small, not huge") {
    // an RDD-backed frame has no stats: sizeInBytes defaults to
    // spark.sql.defaultSizeInBytes (Long.MaxValue) — that must read as
    // "unknown" and keep the plain window even under a tiny flip threshold
    val rows = Tables.load(spark, sf, "lineitem")
      .select("l_returnflag", "l_quantity", "l_orderkey", "l_linenumber")
      .limit(100).collect()
    val rdd = spark.sparkContext.parallelize(rows.toSeq)
    val df = spark.createDataFrame(rdd,
      Tables.load(spark, sf, "lineitem")
        .select("l_returnflag", "l_quantity", "l_orderkey", "l_linenumber").schema)
    spark.conf.set("spark.graft.rankings.flipRows", "1")
    try {
      val out = GTable(df).rankingsAuto(Seq("l_returnflag"),
        Seq(col("l_quantity"), col("l_orderkey"), col("l_linenumber")),
        Seq(true, false, false), rowNumber = Some("rn0"))
      assert(!ranged(out.result.queryExecution.executedPlan.toString),
        "unknown-size input must keep the plain window")
    } finally spark.conf.unset("spark.graft.rankings.flipRows")
  }

  test("distributed cumulative sum/max equal the global window") {
    val e = GTable(Tables.loadOrdered(spark, sf, "events"))
    val w = Window.orderBy(col(Natural.rid))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val serial = e.df
      .withColumn("cs", sum(col("value")).over(w))
      .withColumn("cm", max(col("value")).over(w))
      .select("event_id", "cs", "cm")
      .orderBy("event_id").collect()
    val dist = e
      .cumulative(col("value"), "cs", sum, _ + _, blockSize = 128)
      .cumulative(col("value"), "cm", max, (a, b) => greatest(a, b), blockSize = 128)
      .result.select("event_id", "cs", "cm")
      .orderBy("event_id").collect()
    // FP sum association differs at block boundaries — compare at 1e-9
    serial.zip(dist).foreach { case (s, d) =>
      assert(s.getLong(0) == d.getLong(0))
      assert(math.abs(s.getDouble(1) - d.getDouble(1)) < 1e-6)
      assert(s.getDouble(2) == d.getDouble(2))
    }
  }
}
