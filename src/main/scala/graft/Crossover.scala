package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fixed-vs-marginal-cost measurement: runs the same four query shapes on
  * lineitem replicated ×N (a plan-level unionByName of the same files — no
  * synthetic data) for each N, so the per-query time decomposes into a
  * fixed intercept (planning, scheduling, shuffle setup) and a marginal
  * slope (per-row work). tools/crossover_duck.py runs the identical SQL on
  * the identically-replicated input in DuckDB; comparing SLOPES is the
  * honest scale argument — the intercept amortizes at 100 TB, the slope
  * does not.
  */
object Crossover {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "1,4,8")
      .split(",").map(_.trim.toInt).toSeq
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val li0 = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")

    // thunks: each DataFrame is built inside the timed section, so
    // plan construction counts alongside execution
    def queries(li: DataFrame): Seq[(String, () => DataFrame)] = Seq[(String, () => DataFrame)](
      "agg" -> (() => li.groupBy("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").as("sq"), avg("l_extendedprice").as("ap"),
          count(lit(1)).as("n"))),
      "window" -> (() => li.withColumn("rk",
        rank().over(org.apache.spark.sql.expressions.Window
          .partitionBy("l_returnflag")
          .orderBy(col("l_quantity").desc, col("l_orderkey"), col("l_linenumber"))))),
      "join" -> (() => li.join(orders, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))),
      "topk" -> (() => li.orderBy(col("l_quantity").desc, col("l_orderkey"),
        col("l_linenumber")).limit(100)),
      // the distributed low-cardinality ranking (range partition + a
      // BlockScan prefix over the ranges) vs the window's #partition-values
      // task ceiling — its crossover point is the question this harness
      // answers; same partition key and order columns as "window" above
      "window_dist" -> (() => graft.core.GTable(li)
        .rankings(Seq("l_returnflag"),
          Seq(col("l_quantity"), col("l_orderkey"), col("l_linenumber")),
          desc = Seq(true, false, false),
          rank = Some("rk")).df))

    // warm the JVM/codegen once at the smallest size
    queries(li0).foreach(_._2().write.format("noop").mode("overwrite").save())

    val out = reps.map { n =>
      val li = Seq.fill(n)(li0).reduce(_ unionByName _)
      val times = queries(li).map { case (name, mk) =>
        val t0 = System.nanoTime()
        mk().write.format("noop").mode("overwrite").save()
        name -> (System.nanoTime() - t0) / 1e9
      }
      s""""x$n":{${times.map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString(",")}}"""
    }
    println(s"""{"metric":"crossover","engine":"spark","sf":"$sfDir","reps":${
      reps.mkString("[", ",", "]")},${out.mkString(",")}}""")
    spark.stop()
  }
}
