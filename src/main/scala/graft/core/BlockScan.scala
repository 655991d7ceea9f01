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
    * all blocks, riding the same broadcast. */
  def exclusive(df: DataFrame, blk: String, total: Column,
                combine: Column => Column, prefix: String,
                zero: Option[Column] = None,
                keep: Column => Column = _ => lit(true),
                grandTotal: Option[String] = None): DataFrame = {
    val byBlk = Window.orderBy(col(blk))
    val before = combine(col("_gq_bt"))
      .over(byBlk.rowsBetween(Window.unboundedPreceding, -1))
    val all = combine(col("_gq_bt"))
      .over(byBlk.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    // a global window, but over the totals frame, never the data
    val prefixes = df.groupBy(blk).agg(total.as("_gq_bt"))
      .withColumn(prefix, zero.fold(before)(coalesce(before, _)))
      .withColumns(grandTotal.map(_ -> all).toMap)
      .filter(keep(col(prefix)))
      .select((Seq(blk, prefix) ++ grandTotal).map(col): _*)
    df.join(broadcast(prefixes), Seq(blk))
  }
}
