package graft

/** Dev tool: wall-time named queries at a given SF with a warm JVM —
  * the micro-loop for optimizing a single query's bench cost.
  * Usage: sbt "runMain graft.TimeOne <sfDir> <reps> <query> [query...]" */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = args.drop(2).toSeq
    val spark = Harness.session("graft-timeone")
    Harness.warmUp(spark, names)
    for (n <- names; r <- 1 to reps) {
      val (sec, rows) = Harness.run(spark, n)(SparkEntry.queries(n)(spark, sfDir).count())
      println(f"[timeone] $n rep$r: $sec%.2f s ($rows rows)")
    }
    spark.stop()
  }
}
