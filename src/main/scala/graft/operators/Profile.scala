package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType
import graft.core.BlockScan

/** One-pass column profiler — the data-quality census a pipeline runs
  * before (and after) every transform stage: per column, the non-null
  * count, null count, distinct count, min/max and mean.
  *
  * Scale shape, approx (the default): ONE whole-table aggregation
  * computes every metric for every requested column (map-side
  * combinable; the scan is read once and reduced to a single row), then
  * the row pivots to one output row per column with `inline` — no second
  * scan, no per-column jobs, no driver loop. NDV is HLL++ (1.5% rsd) and
  * the quantiles are the mergeable GK sketch.
  *
  * Scale shape, exact (`exactNdv = true`, the adjudication variant): one
  * VALUE HISTOGRAM per column — `groupBy(value).count()` (map-side
  * combinable, parallel shuffle of at most NDV×partitions pre-reduced
  * rows) — from which every exact metric reduces: ndv = histogram rows,
  * count/null_cnt/min/max/mean = weighted folds, and the exact
  * interpolated percentile runs over the histogram with its `cnt` as the
  * frequency argument, so the percentile state is NDV-sized instead of
  * row-count-sized. This replaces the former single multi-distinct
  * aggregation, whose Expand replicated the input once per distinct
  * column (×4 row volume) and whose row-level exact percentile carried
  * corpus-sized value maps through the shuffle — measured 5.07 s → the
  * histogram plan at sf0.1 (guide §2.3 "aggregate before you shuffle",
  * §2.4 "remove shuffles outright"). Results are bit-identical: counts
  * are exact integers, the mean's sums are exact in IEEE doubles for the
  * integral-valued gate data (the dyadic-model contract class), and
  * `percentile(value, p, freq)` is the same Catalyst aggregate — same
  * p·(n−1) interpolation — fed pre-counted rows.
  *
  * No reference analog (graphique's per-column terminal aggregates
  * answer one column per request); the metric definitions are plain SQL
  * so the correctness oracle recomputes them verbatim.
  */
object Profile {

  /** Profile `cols` (default: every column) of `df`: one row per column
    * with `name, cnt, null_cnt, ndv, min_s, max_s, mean, p50, p95` —
    * min/max are the NATIVE column min/max cast to string afterwards (so
    * numeric columns order numerically, not lexically); `mean` and the
    * quantiles are null for non-numeric columns. `exactNdv = false` (the
    * scale default) uses approx_count_distinct + the approx_percentile
    * sketch (GK, accuracy 10000 — mergeable, one pass); `exactNdv = true`
    * uses exact distinct counts and exact interpolated `percentile`,
    * whose p·(n−1) linear interpolation matches DuckDB's quantile_cont
    * for the oracle. Output ordered by column name. */
  def summary(df: DataFrame, cols: Seq[String] = Nil,
              exactNdv: Boolean = false): DataFrame = {
    val targets = if (cols.nonEmpty) cols else df.columns.toSeq
    targets.foreach(c => require(df.columns.contains(c),
      s"profile: no such column $c"))
    if (exactNdv) {
      // per-column histogram branches, unioned in sorted-name order (the
      // one-row branches concatenate in union order, so the output stays
      // ordered by column name without a sort)
      targets.sorted.map(histSummary(df, Nil, _)).reduce(_.unionAll(_))
    } else {
      val aggs = targets.flatMap(statAggs(df, _, exactNdv))
      val one = df.agg(count(lit(1)).as("_t"), aggs: _*)
      one.select(inline(array(pivotRows(targets): _*)))
    }
  }

  /** Per-GROUP census: `summary` partitioned by `groupCols` (per-source /
    * per-language data quality, the report a mixing stage reads). Same
    * shapes as `summary` — approx: one groupBy aggregation pivoted to one
    * row per (group, column); exact: one (group, value) histogram per
    * column regrouped to |groups| rows, unioned. Nothing scans twice per
    * column. */
  def summaryBy(df: DataFrame, groupCols: Seq[String],
                cols: Seq[String] = Nil,
                exactNdv: Boolean = false): DataFrame = {
    require(groupCols.nonEmpty, "summaryBy needs group columns")
    val targets =
      if (cols.nonEmpty) cols
      else df.columns.toSeq.filterNot(groupCols.contains)
    (groupCols ++ targets).foreach(c => require(df.columns.contains(c),
      s"profile: no such column $c"))
    if (exactNdv) {
      targets.sorted.map(histSummary(df, groupCols, _)).reduce(_.unionAll(_))
    } else {
      val aggs = count(lit(1)).as("_t") +: targets.flatMap(statAggs(df, _, exactNdv))
      val grouped = df.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
      grouped.select(groupCols.map(col) :+ inline(array(pivotRows(targets): _*)): _*)
    }
  }

  /** Exact census of one column off its (group, value) histogram: the
    * groupBy pre-reduces duplicate values map-side, every downstream
    * metric folds NDV-sized rows, and the exact percentile's value map
    * holds one entry per distinct value with the histogram count as its
    * frequency — identical result to the row-level aggregate, a shuffle
    * that carries counts instead of rows. */
  private def histSummary(df: DataFrame, groupCols: Seq[String],
                          c: String): DataFrame = {
    val hist = df.groupBy((groupCols :+ c).map(col): _*)
      .agg(count(lit(1)).as("_gq_cnt"))
    val nonNullCnt = coalesce(sum(when(col(c).isNotNull, col("_gq_cnt"))), lit(0L))
    val numeric = df.schema(c).dataType match {
      case _: NumericType => true
      case _ => false
    }
    val (mean, quants) =
      if (!numeric)
        (lit(null).cast("double").as("mean"),
          Seq(lit(null).cast("double").as("p50"),
            lit(null).cast("double").as("p95")))
      else if (groupCols.isEmpty && bigInput(df))
        // ungrouped quantiles over a LARGE input come from histQuantiles
        // below — the whole-table percentile's merge buffer is one
        // value→count map of EVERY distinct value on a single reducer
        // (measured ×50: 41 s of q_profile's 42.7 s), while the
        // distributed selection is three parallel NDV-row stages. Small
        // inputs keep the single-map percentile: the selection's extra
        // job waves (range sampling + offsets broadcast) cost ~1 s flat,
        // which dominates below the size threshold.
        ((sum(col(c).cast("double") * col("_gq_cnt")) / nonNullCnt).as("mean"),
          Nil)
      else {
        // grouped: parallelism is per group and the per-group maps are
        // group-NDV-sized — percentile-with-frequency stays the right
        // shape (one aggregation, no per-group selection machinery)
        val pq = percentile(col(c), array(lit(0.5), lit(0.95)), col("_gq_cnt"))
        ((sum(col(c).cast("double") * col("_gq_cnt")) / nonNullCnt).as("mean"),
          Seq(pq.getItem(0).cast("double").as("p50"),
            pq.getItem(1).cast("double").as("p95")))
      }
    val aggs = Seq(
      nonNullCnt.as("cnt"),
      (coalesce(sum(col("_gq_cnt")), lit(0L)) - nonNullCnt).as("null_cnt"),
      count(col(c)).as("ndv"),
      min(col(c)).cast("string").as("min_s"),
      max(col(c)).cast("string").as("max_s"),
      mean) ++ quants
    val named = lit(c).as("name")
    val outNames = Seq("cnt", "null_cnt", "ndv", "min_s", "max_s",
      "mean", "p50", "p95")
    if (groupCols.isEmpty) {
      val base = hist.agg(aggs.head, aggs.tail: _*)
      val withQ =
        if (numeric && bigInput(df))
          base.crossJoin(histQuantiles(hist, c, Seq(0.5, 0.95)))
        else base
      withQ.select(named +: outNames.map(col): _*)
    } else hist.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
      .select(groupCols.map(col) ++ (named +: outNames.map(col)): _*)
  }

  /** Selection-vs-map dispatch on the PLAN-STATISTIC input size (no job:
    * Catalyst's sizeInBytes — file bytes for a bare scan, estimates after
    * filters). Below the threshold the exact percentile's one value→count
    * map is cheap and the selection's fixed job waves dominate; above it
    * the map merge is the single-reducer wall. Conf-parameterised
    * (`spark.graft.profile.selectionMinBytes`, default 256 MB) so cluster
    * deployments can tune the crossover; results are identical on both
    * sides (the bit-parity spec pins selection ≡ percentile). */
  private def bigInput(df: DataFrame): Boolean = {
    val threshold = df.sparkSession.conf
      .getOption("spark.graft.profile.selectionMinBytes")
      .map(_.toLong).getOrElse(256L * 1024 * 1024)
    df.queryExecution.optimizedPlan.stats.sizeInBytes >= threshold
  }

  /** Exact interpolated quantiles off a (value, _gq_cnt) histogram by
    * DISTRIBUTED ORDER-STATISTIC SELECTION — one output row with one
    * double column per requested percentage (`p50`, `p95` for the census).
    *
    * Shape: range-repartition the histogram by value; per-partition count
    * totals prefix-sum through a [[BlockScan]] over the bounded one-row-
    * per-partition frame; each distinct value then knows its global rank
    * interval [lo, lo+cnt), and the value covering rank floor/ceil of
    * p·(n−1) reduces out of one aggregation. Every stage is parallel —
    * nothing holds more than one partition's rows, unlike the exact
    * `percentile` aggregate whose merge materializes the whole value→count
    * map on one reducer. The result is partition-boundary-INVARIANT: ranks
    * are global arithmetic, so sampling differences or retries cannot
    * change the answer.
    *
    * Interpolation reproduces Spark's Percentile bit-for-bit:
    * position = p·(n−1) in doubles; equal floor/ceil or equal adjacent
    * values short-circuit to the value; otherwise
    * (ceil−pos)·lo + (pos−floor)·hi, all in doubles. */
  private def histQuantiles(hist: DataFrame, c: String,
                            ps: Seq[Double]): DataFrame = {
    val h = hist.filter(col(c).isNotNull)
    // partition id becomes DATA here: downstream exchanges hash the value,
    // so a task retry cannot reassign a row's pid mid-query; and the rank
    // arithmetic is invariant to the range boundaries anyway
    val ranged = h.repartitionByRange(col(c).asc)
      .withColumn("_gq_pid", spark_partition_id())
    // n rides the SAME prefix frame, so one broadcast serves both the
    // offsets and the total
    val wIn = Window.partitionBy(col("_gq_pid")).orderBy(col(c))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = BlockScan.exclusive(ranged, "_gq_pid", sum(col("_gq_cnt")), sum,
        "_gq_poff", zero = Some(lit(0L)), grandTotal = Some("_gq_n"))
      .withColumn("_gq_lo", col("_gq_poff") +
        coalesce(sum(col("_gq_cnt")).over(wIn), lit(0L)))
    def covers(idx: Column) =
      idx >= col("_gq_lo") && idx < col("_gq_lo") + col("_gq_cnt")
    val sel = ps.zipWithIndex.flatMap { case (p, i) =>
      val pos = lit(p) * (col("_gq_n") - 1).cast("double")
      Seq(max(when(covers(floor(pos)), col(c))).as(s"_gq_lov$i"),
        max(when(covers(ceil(pos)), col(c))).as(s"_gq_hiv$i"),
        max(col("_gq_n")).as(s"_gq_tn$i"))
    }
    val one = cum.agg(sel.head, sel.tail: _*)
    val outs = ps.zipWithIndex.map { case (p, i) =>
      val n = col(s"_gq_tn$i")
      val pos = lit(p) * (n - 1).cast("double")
      val lo = col(s"_gq_lov$i")
      val hi = col(s"_gq_hiv$i")
      when(floor(pos) === ceil(pos) || lo <=> hi, lo.cast("double"))
        .otherwise((ceil(pos) - pos) * lo.cast("double") +
          (pos - floor(pos)) * hi.cast("double"))
        .as(if (p == 0.5) "p50" else if (p == 0.95) "p95" else s"_q$i")
    }
    one.select(outs: _*)
  }

  private def statAggs(df: DataFrame, c: String,
                       exactNdv: Boolean): Seq[Column] = {
    val ndv =
      if (exactNdv) countDistinct(col(c)) else approx_count_distinct(col(c))
    val (mean, quants) = df.schema(c).dataType match {
      case _: NumericType =>
        val ps = array(lit(0.5), lit(0.95))
        (avg(col(c)).cast("double"),
          if (exactNdv) percentile(col(c), ps)
          else approx_percentile(col(c).cast("double"), ps, lit(10000)))
      case _ => (lit(null).cast("double"),
        lit(null).cast("array<double>"))
    }
    Seq(count(col(c)).as(s"_c_$c"), ndv.as(s"_d_$c"),
      min(col(c)).cast("string").as(s"_mn_$c"),
      max(col(c)).cast("string").as(s"_mx_$c"), mean.as(s"_av_$c"),
      quants.as(s"_pq_$c"))
  }

  private def pivotRows(targets: Seq[String]) = targets.sorted.map { c =>
    struct(lit(c).as("name"), col(s"_c_$c").as("cnt"),
      (col("_t") - col(s"_c_$c")).as("null_cnt"), col(s"_d_$c").as("ndv"),
      col(s"_mn_$c").as("min_s"), col(s"_mx_$c").as("max_s"),
      col(s"_av_$c").as("mean"),
      col(s"_pq_$c").getItem(0).cast("double").as("p50"),
      col(s"_pq_$c").getItem(1).cast("double").as("p95"))
  }
}
