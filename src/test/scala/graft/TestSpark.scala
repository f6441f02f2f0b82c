package graft

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession

import java.io.File
import java.nio.file.Files

/** One shared local SparkSession for the whole test JVM. The session's
  * warehouse (managed tables) and Derby's log go to a scratch directory
  * of this JVM, removed when it exits, so a test run leaves neither in
  * the working directory. */
object TestSpark {
  private val scratch = Files.createTempDirectory("graft-test-jvm").toFile
  sys.addShutdownHook(FileUtils.deleteQuietly(scratch))
  // read when a session is built and when Derby boots: both come later
  System.setProperty("spark.sql.warehouse.dir", new File(scratch, "spark-warehouse").getPath)
  System.setProperty("derby.stream.error.file", new File(scratch, "derby.log").getPath)

  lazy val spark: SparkSession = Harness.session("graft-test", cores = 4)

  /** The URL of the in-memory Derby database `db`, created on first
    * connect. */
  def derbyUrl(db: String): String = s"jdbc:derby:memory:$db;create=true"
}
