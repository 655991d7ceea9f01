package graft.tools

import java.nio.file.{Files, Paths}

/** Dumps the executed `.explain("formatted")` plan of each named headline
  * query to plans/<round>/<query>_<tag>.txt — the optimization round's
  * before/after evidence files. Unlike graft.Plans (the PLANS.md marker
  * audit) this writes one full plan per file so a reviewer can diff the
  * exact plan a change claims to alter.
  *
  * Usage: runMain graft.tools.PlanDump <tag> [sfDir] [query ...]
  * Default query set: the bench headline. Round dir via GRAFT_PLAN_DIR
  * (default plans/r13).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: PlanDump <tag> [sfDir] [query ...]")
    val tag = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val qmap = graft.SparkEntry.queries
    val names =
      (if (args.length > 2) args.drop(2).toSeq else graft.Bench.headline)
        .filter(qmap.contains)
    val spark = graft.Master.session("8", logLevel = "ERROR")
    val outDir = Paths.get(sys.env.getOrElse("GRAFT_PLAN_DIR", "plans/r13"))
    Files.createDirectories(outDir)
    names.foreach { name =>
      val plan = graft.Plans.executedPlan(qmap(name)(spark, sfDir))
      Files.writeString(outDir.resolve(s"${name}_$tag.txt"),
        s"// $name @ $sfDir (executed final plan, AQE on)\n" + plan)
      println(s"wrote $outDir/${name}_$tag.txt")
    }
    spark.stop()
  }
}
