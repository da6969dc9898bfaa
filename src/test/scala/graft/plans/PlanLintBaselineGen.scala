package graft.plans

/** Regenerates the golden plan-lint baseline consumed by
  * [[PlanLintInventorySpec]]: run with
  * `sbt "Test/runMain graft.plans.PlanLintBaselineGen"` after an
  * INTENTIONAL plan change, review the diff, and paste the output into
  * the spec's baseline map. Never run it to silence a finding you have
  * not adjudicated.
  */
object PlanLintBaselineGen {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftConf.builder("graft-plan-lint", 8)
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val lines = graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val counts = PlanLints.findings(fn(spark, sfDir))
        .groupBy(_.rule).view.mapValues(_.size).toSeq.sortBy(_._1)
      spark.catalog.clearCache()
      if (counts.isEmpty) None
      else Some(s"""    "$name" -> Map(${counts.map { case (r, n) => s""""$r" -> $n""" }.mkString(", ")}),""")
    }
    val out = java.nio.file.Paths.get("/tmp/plan_lint_baseline.scala")
    java.nio.file.Files.writeString(out, lines.mkString("\n"))
    println(s"baseline written: $out (${lines.size} queries with findings)")
    spark.stop()
  }
}
