package graft.tools

/**
 * Dump `.explain("formatted")` for one or more SparkEntry queries to
 * files — the plan evidence the optimization rounds commit under
 * `plans/rNN/<query>_{before,after}.txt`.
 *
 * Usage:
 *   sbt "runMain graft.tools.PlanDump <outDir> <suffix> q1,q2,..."
 */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(",").map(_.trim)
    val dir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    // 32 cores, as the committed `plans/r07` dumps were taken
    val spark = graft.Bench.session(32)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { prefix =>
      val (name, fn) = graft.SparkEntry.queries.toSeq.sortBy(_._1)
        .find(_._1.startsWith(prefix))
        .getOrElse(sys.error(s"unknown query '$prefix'"))
      val df = fn(spark, dir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val p = java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt")
      java.nio.file.Files.write(p, plan.getBytes("UTF-8"))
      println(s"PLAN_DUMP wrote $p (${plan.length} chars)")
      graft.plans.Caches.flush()
    }
    spark.stop()
  }
}
