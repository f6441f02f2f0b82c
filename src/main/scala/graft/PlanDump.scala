package graft

/** Dev tool: write the `.explain("formatted")` text of named queries at
  * a given SF into files — the before/after plan evidence committed
  * under plans/r13/ for the optimization rounds.
  * Usage: sbt "runMain graft.PlanDump <sfDir> <outDir> <suffix> <query> [query...]"
  * e.g.   sbt "runMain graft.PlanDump /root/testdata/sf0.1 plans/r13 before p06_epoch_build"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names = args.drop(3)
    val spark = Harness.session("graft-plandump")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (n <- names) {
      Harness.run(spark, n) {
        val txt =
          try {
            val df = SparkEntry.queries(n)(spark, sfDir)
            df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
          } catch { case e: Throwable => s"ERROR: ${e}" }
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${n}_$suffix.txt"),
          txt.getBytes("UTF-8"))
        println(s"[plandump] wrote $outDir/${n}_$suffix.txt (${txt.length} chars)")
        0L
      }
    }
    spark.stop()
  }
}
