package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.expressions.PartitionFunctions

/** Natural (file/insertion) row order on an unordered engine.
  *
  * The reference treats tables as implicitly ordered — file order is
  * observable through `slice`, `row(index)`, windows without `by`, `runs`
  * (reference: graphique/interface.py:181-183,499-508). Spark DataFrames are
  * unordered, so natural order must be materialized explicitly at ingest.
  *
  * Scale-aware design: we never run a global `row_number()` (single-partition
  * sort — a non-starter at 100 TB). Instead the global row id is derived as
  * `fileStartOffset + _metadata.row_index`:
  *
  *   1. a metadata-only job over the relation the id is attached to
  *      computes per-file row counts (no data columns are read — parquet
  *      footer counts satisfy it), so offsets and scan share one file
  *      listing,
  *   2. files are ordered lexicographically (deterministic file order) and
  *      prefix-summed into start offsets on the driver (one row per file),
  *   3. the id is one projection ([[graft.expressions.NaturalRowId]]: a
  *      hash lookup of the row's file plus its row index), computed
  *      executor-side with no join and no shuffle of the fact data, and
  *      pruned from every plan that never reads it.
  *
  * The id column is a hidden implementation detail; operators drop it before
  * results surface.
  */
object Natural {
  /** Hidden row-id column name (reserved; dropped before output). */
  val rid = "_gq_rid"

  def hasRowId(df: DataFrame): Boolean = df.columns.contains(rid)

  /** Natural-order sort key: the row id if present, else an error. */
  def order(df: DataFrame): Column = {
    require(hasRowId(df), s"natural order requires $rid — load with Tables.loadOrdered")
    col(rid)
  }

  /** Per-file natural-order start offsets of the files `df` scans: footer
    * row counts (metadata-only job), lexicographic file order, driver-side
    * prefix sum. */
  private def offsetsOf(df: DataFrame): Array[(String, Long)] = {
    val counts = df.groupBy(col("_metadata.file_path")).count()
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._1)
    var acc = 0L
    counts.map { case (f, n) => val o = acc; acc += n; (f, o) }
  }

  /** Per-file start offsets for every file under `path`, memoized per
    * (session, path): served fast paths consult this per request and a
    * root's files don't change under a service (same contract as
    * ParquetMeta.partitionColumns). [[withRowId]] refreshes the entry with
    * the offsets of its own listing. */
  private val offsetCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Array[(String, Long)]]
  def fileOffsets(spark: SparkSession, path: String): Array[(String, Long)] =
    offsetCache.getOrElseUpdate((spark, path), offsetsOf(spark.read.parquet(path)))

  private def attachRowId(df: DataFrame, offsets: Seq[(String, Long)]): DataFrame =
    df.withColumn(rid, PartitionFunctions.naturalRowId(offsets))

  /** Read `path` with a stable 0-based natural-order row id attached. The
    * offsets come from the same relation (one file listing), so a file
    * that lands after the listing is in neither. */
  def withRowId(spark: SparkSession, path: String): DataFrame = {
    val df = spark.read.parquet(path)
    val offsets = offsetsOf(df)
    offsetCache.put((spark, path), offsets)
    attachRowId(df, offsets.toSeq)
  }

  /** Read only `files` of the dataset rooted at `root`, with each row
    * carrying the SAME natural-order id the full root would assign it —
    * offsets are prefix-summed over ALL of the root's files, then
    * restricted to the selected subset (a selected file outside them is an
    * error naming it). This is what lets metadata file
    * narrowing (ParquetMeta.orderedFiles/firstFiles) keep the natural-order
    * serving contract: downstream slice/row/column collection order by the
    * sparse rid exactly as they would over the un-narrowed root. */
  def withRowIdFiles(spark: SparkSession, root: String,
                     files: Seq[String]): DataFrame =
    if (files.isEmpty)
      attachRowId(spark.read.parquet(root), fileOffsets(spark, root).toSeq).limit(0)
    else {
      val sel = files.toSet
      attachRowId(
        spark.read.option("basePath", root).parquet(files: _*),
        fileOffsets(spark, root).filter(f => sel.contains(f._1)).toSeq)
    }

  /** Drop the hidden id (call before surfacing results). */
  def strip(df: DataFrame): DataFrame =
    if (hasRowId(df)) df.drop(rid) else df
}
