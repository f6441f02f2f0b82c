package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test JVM. */
object TestSpark {
  lazy val spark: SparkSession = Harness.session("graft-test", cores = 4)
}
