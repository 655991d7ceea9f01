package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The two-level (Blelloch) block prefix scan behind graft's natural-order
  * operators: the caller's window runs WITHIN each block; this object adds
  * what crosses blocks — one total per block, an exclusive scan over that
  * one-row-per-block frame, and a broadcast join back onto the rows. The
  * prefix stays in the plan (no driver collect), so the consumer's action
  * is one query execution. */
object BlockScan {

  /** `df` (carrying the block key `blk`) inner-joined with each block's
    * exclusive prefix in column `prefix`: `combine` — sum, max, min or
    * `last(_, ignoreNulls = true)` — over the `total`s of the blocks before
    * it in `blk` order. The first block's prefix is `zero`, or null (max,
    * min and last have no identity). Blocks whose prefix fails `keep` are
    * dropped before the join; `grandTotal` names an optional `combine` over
    * all blocks, riding the same broadcast.
    *
    * With `by`, each partition of `df` by those columns is scanned on its
    * own (a block is then a (`by`, `blk`) group), and the prefixes join
    * back null-safe on `by`: a null key is a partition like any other.
    * `also` lists further (total, prefix) pairs scanned alongside `total`
    * with the same `combine` and `zero`, from the same aggregation. */
  def exclusive(df: DataFrame, blk: String, total: Column,
                combine: Column => Column, prefix: String,
                zero: Option[Column] = None,
                keep: Column => Column = _ => lit(true),
                grandTotal: Option[String] = None,
                by: Seq[String] = Nil,
                also: Seq[(Column, String)] = Nil): DataFrame = {
    val scans = ((total, prefix) +: also).zipWithIndex.map {
      case ((t, p), i) => (t.as(s"_gq_bt$i"), col(s"_gq_bt$i"), p) }
    val byBlk = Window.partitionBy(by.map(col): _*).orderBy(col(blk))
    def before(bt: Column) = combine(bt)
      .over(byBlk.rowsBetween(Window.unboundedPreceding, -1))
    val all = combine(scans.head._2)
      .over(byBlk.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    // the join keys, renamed on the prefix side so `by` can match null-safe
    val keys = (by :+ blk).zipWithIndex.map { case (k, i) => (k, s"_gq_bk$i") }
    // a global window, but over the totals frame, never the data
    val prefixes = df.groupBy((by :+ blk).map(col): _*)
      .agg(scans.head._1, scans.tail.map(_._1): _*)
      .withColumns(scans.map { case (_, bt, p) =>
        p -> zero.fold(before(bt))(coalesce(before(bt), _)) }.toMap)
      .withColumns(grandTotal.map(_ -> all).toMap)
      .filter(keep(col(prefix)))
      .select(keys.map { case (k, a) => col(k).as(a) } ++
        (scans.map(_._3) ++ grandTotal).map(col): _*)
    val on = keys.map { case (k, a) =>
      if (k == blk) col(k) === col(a) else col(k) <=> col(a) }.reduce(_ && _)
    df.join(broadcast(prefixes), on).drop(keys.map(_._2): _*)
  }
}
