package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs: one JVM-wide SparkSession (getOrCreate),
  * UTC, small shuffle partitioning for test scale.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"
}

object SparkSpec {
  // GRAFT_MASTER=local-cluster[N,c,m] runs the specs against real
  // separate executor JVMs (needs `sbt package Test/packageBin` first —
  // graft.Master ships both jars via spark.jars)
  lazy val session: SparkSession =
    Master.session("4", confs = Seq("spark.app.name" -> "graft-test"))
}
