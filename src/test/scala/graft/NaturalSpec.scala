package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.core.{Natural, Tables}

/** The natural-order row id as one projection (`NaturalRowId`) against the
  * broadcast-join form it replaced, row for row. */
class NaturalSpec extends SparkSpec {

  /** The (file → offset) broadcast join the projection replaced. */
  private def joinedRid(df: DataFrame, offsets: Seq[(String, Long)]): DataFrame = {
    val offs = spark.createDataFrame(offsets).toDF("_f", "_o")
    df.withColumn("_f", col("_metadata.file_path"))
      .withColumn("_i", col("_metadata.row_index"))
      .join(broadcast(offs), "_f")
      .withColumn("_old_rid", col("_o") + col("_i"))
      .drop("_f", "_o", "_i")
  }

  /** (rid, row) pairs ordered by rid: equal sequences are the same id on
    * the same row, row for row. */
  private def byRid(df: DataFrame, ridCol: String): Seq[(Long, Row)] = {
    val data = df.columns.filterNot(c => c == ridCol || c.startsWith("_gq_") ||
      c == "_old_rid").sorted
    df.select(col(ridCol) +: data.map(col): _*).collect()
      .map(r => (r.getLong(0), Row.fromSeq(r.toSeq.tail))).sortBy(_._1).toSeq
  }

  private def files(dir: String): Seq[String] =
    spark.read.parquet(dir).select(col("_metadata.file_path")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_natural_$name").toString + "/t"

  test("rid projection equals the join form: uneven files and an empty file") {
    val dir = tmp("uneven")
    val src = Tables.load(spark, sf, "orders").select("o_orderkey", "o_totalprice")
    // appends of 1, 0, 57 and the rest rows: uneven files plus one empty one
    val ordered = src.orderBy("o_orderkey")
    ordered.limit(1).write.parquet(dir)
    ordered.limit(0).write.mode("append").parquet(dir)
    ordered.offset(1).limit(57).write.mode("append").parquet(dir)
    ordered.offset(58).repartition(2).write.mode("append").parquet(dir)
    val counts = spark.read.parquet(dir).groupBy(col("_metadata.file_path")).count()
      .collect().map(_.getLong(1))
    assert(counts.length >= 4 && counts.contains(1L) && counts.contains(57L))
    assert(java.nio.file.Files.list(java.nio.file.Paths.get(dir)).toArray
      .map(_.toString).count(_.endsWith(".parquet")) > counts.length,
      "the fixture must hold an empty parquet file")
    val got = Natural.withRowId(spark, dir)
    val want = joinedRid(spark.read.parquet(dir), Natural.fileOffsets(spark, dir).toSeq)
    val ids = byRid(got, Natural.rid)
    assert(ids == byRid(want, "_old_rid"))
    assert(ids.map(_._1) == (0L until src.count()))
  }

  test("rid projection equals the join form: withRowIdFiles over a non-prefix subset") {
    val dir = tmp("subset")
    Tables.load(spark, sf, "lineitem").select("l_orderkey", "l_linenumber")
      .repartition(4).write.parquet(dir)
    val all = files(dir)
    assert(all.size == 4)
    val pick = Seq(all(1), all(3))
    val got = Natural.withRowIdFiles(spark, dir, pick)
    val want = joinedRid(spark.read.parquet(pick: _*),
      Natural.fileOffsets(spark, dir).toSeq)
    assert(byRid(got, Natural.rid) == byRid(want, "_old_rid"))
    // the subset keeps the full root's ids, so they are sparse
    val full = byRid(Natural.withRowId(spark, dir), Natural.rid).toMap
    byRid(got, Natural.rid).foreach { case (id, row) => assert(full(id) == row) }
    assert(Natural.withRowIdFiles(spark, dir, Nil).count() == 0)
  }

  test("rid projection equals the join form: hive-partitioned root") {
    val dir = tmp("hive")
    Tables.load(spark, sf, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_returnflag")
      .repartition(3).write.partitionBy("l_returnflag").parquet(dir)
    val got = Natural.withRowId(spark, dir)
    val want = joinedRid(spark.read.parquet(dir), Natural.fileOffsets(spark, dir).toSeq)
    val ids = byRid(got, Natural.rid)
    assert(ids == byRid(want, "_old_rid"))
    assert(ids.map(_._1) == (0L until got.count()))
  }

  test("offsets and scan share one listing; a file outside the offsets is an error naming it") {
    val dir = tmp("listing")
    val src = Tables.load(spark, sf, "nation").select("n_nationkey")
    src.write.parquet(dir)
    val before = Natural.fileOffsets(spark, dir)
    // a file lands after the memoized offsets were taken
    src.write.mode("append").parquet(dir)
    val added = files(dir).filterNot(f => before.exists(_._1 == f))
    assert(added.size == 1)
    // withRowId takes its offsets from its own listing: every row is kept
    val rids = Natural.withRowId(spark, dir).select(Natural.rid).collect().map(_.getLong(0))
    assert(rids.sorted.toSeq == (0L until 2 * src.count()))
    // offsets that miss a scanned file fail on it, never drop its rows
    val scan = spark.read.parquet(dir).withColumn(Natural.rid,
      graft.expressions.PartitionFunctions.naturalRowId(before.toSeq))
    val e = intercept[Exception](scan.collect())
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains(added.head)), messages(e).mkString("\n"))
  }

  test("interpreted and generated rid evaluation agree") {
    def rids(): Seq[(Long, Long)] = Natural.withRowId(spark, Tables.path(sf, "orders"))
      .select(Natural.rid, "o_orderkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val generated = rids()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(rids() == generated)
    finally {
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
    assert(generated.map(_._1) == (0L until generated.size))
  }
}
