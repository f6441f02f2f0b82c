package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one harness every main (and the test session) runs on: one
  * session builder, one core count, and one way to run a roster entry
  * and release what it left behind.
  */
object Harness {

  /** Local cores: `SPARK_GRAFT_CPUS` if set, else every available
    * processor. */
  lazy val cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The smallest testdata SF: the warm-up pass and the dev mains' plan
    * loop run here. */
  val WarmDir = "/root/testdata/sf0.001"

  /** Entries of Spark's cache of compiled generated classes
    * (`spark.sql.codegen.cache.maxEntries`, static, default 100). A
    * `graft.Bench` run at sf0.01 compiles about 2,700 distinct classes
    * (about 2,470 in its warm-up pass), so at 100 a class is evicted
    * long before the entry that made it runs again, and every warm pass
    * recompiles what it needs. */
  val CodegenCacheEntries = 5000

  /** The session: `local[cores]` unless `spark.master` is already set
    * (spark-submit `--master`, `-Dspark.master`), `cores` shuffle
    * partitions, UTC, no UI, a codegen cache that holds a whole roster
    * pass ([[CodegenCacheEntries]]). Log level ERROR, not WARN: benign
    * WARNs (broadcast-size, plan-truncation) carry multi-line payloads
    * that landed around Bench's JSON line and broke its parse. */
  def session(app: String, cores: Int = Harness.cores): SparkSession = {
    val b = SparkSession.builder()
      .appName(app)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
    if (!new SparkConf().contains("spark.master")) b.master(s"local[$cores]")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Runs `body` (an action; its result is the row count) on a
    * watchdogged thread inside the cancellable job group
    * `graft-<name>`, then releases every persist and checkpoint the
    * entry registered through [[CacheScope]] plus the session's SQL
    * cache. Returns (wall seconds, rows), rows = -1 when `body` threw
    * and -2 when it ran past `capSec` (the group is cancelled, its
    * tasks interrupted, and the caller goes on: a pathological entry
    * costs one cap, not the run). `capSec <= 0` means no cap. */
  def run(spark: SparkSession, name: String, capSec: Long = 0)(body: => Long)
      : (Double, Long) = {
    val group = s"graft-$name"
    @volatile var n = -1L
    val t0 = System.nanoTime()
    val th = new Thread(() => {
      spark.sparkContext.setJobGroup(group, name, interruptOnCancel = true)
      try n = body
      catch { case e: Throwable => // n stays -1
        System.err.println(s"[harness] FAILED $name: $e")
      }
    }, group)
    th.setDaemon(true)
    th.start()
    if (capSec > 0) th.join(capSec * 1000) else th.join()
    if (th.isAlive) {
      System.err.println(s"[harness] TIMEOUT $name after ${capSec}s — cancelling")
      try spark.sparkContext.cancelJobGroup(group)
      catch { case _: Throwable => () }
      th.interrupt()
      th.join(30000)
      n = -2L
    }
    val wall = (System.nanoTime() - t0) / 1e9
    // the persists are released only now, after the consuming action;
    // clearCache alone cannot evict RDD-level checkpoint blocks
    CacheScope.releaseAll()
    spark.catalog.clearCache()
    (wall, n)
  }

  /** Deletes the standing-index artifact root
    * ([[graft.sources.IndexStore.root]]), so index-building entries pay
    * (and report) their build. */
  def coldStores(): Unit =
    try org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(graft.sources.IndexStore.root))
    catch { case _: Throwable => () }

  /** One untimed pass of `names` at [[WarmDir]], so JVM/JIT/codegen/
    * parquet-footer warm-up cost lands on no timed entry. Its index
    * keys differ from any larger SF's, so cold stores stay cold. */
  def warmUp(spark: SparkSession,
      names: Seq[String] = SparkEntry.queries.keys.toSeq.sorted,
      capSec: Long = 90): Unit =
    names.foreach { n =>
      run(spark, s"warm-$n", capSec)(SparkEntry.queries(n)(spark, WarmDir).count())
    }
}
