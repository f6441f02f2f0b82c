package graft

import graft.sources.{DiscogsXml, Sinks}
import org.apache.spark.sql.SparkSession

import java.util.concurrent.{ExecutionException, Executors}
import scala.util.{Failure, Try}

/** CLI driver — the Spark rebuild of the reference's `discogs-load`
  * binary (O19/O20, `main.rs:17-27` + `db.rs:13-33`).
  *
  * Usage:
  *   discogs-load [--out DIR] [--batch-size N] [--db-url JDBC_URL]
  *     [--db-user U] [--db-password P] [--create-indexes] FILE...
  *
  * Each FILE is a discogs dump file (`.xml` or `.xml.gz`); entity type
  * is auto-detected from the root element (O2). Tables always land as
  * key-sorted parquet under --out (engine-native sink); with --db-url
  * each is then loaded over JDBC from its landed parquet with
  * --batch-size-row batches, and --create-indexes runs the deferred
  * index DDL (O17) once every table is in. A postgres target takes the
  * reference's sink, `COPY ... FROM STDIN BINARY` (`db.rs:230-244`);
  * any other JDBC target takes batched INSERTs.
  *
  * The unit of work is a dump group: the files of one entity. Groups
  * load side by side, one thread each (at most four, one per entity).
  * Each dump file of at least [[DiscogsXml.SplitMinBytes]] is read in
  * its share of the cores by size ([[DiscogsXml.rangeCount]]), one
  * task per byte range, each parsing its own records
  * ([[DiscogsXml.readGroups]]), so the biggest dump does not parse as
  * one long task; every other dump parses as one task. No job runs
  * before the groups start and nothing is written but the tables. Each
  * dump is parsed and first-wins-deduped once (the reference writes all
  * maps of a dump from one pass, `db.rs:55-97`), in the tasks that read
  * its ranges, so the load plans no shuffle: every table's key starts
  * with the dump's id and each child row comes from one deduped parent
  * row, so the sink only sorts each file. A single-table dump read in
  * one range streams straight into the writer. A fan-out dump
  * (releases, masters) writes its 2-3 tables side by side from one cut
  * of its deduped raw rows ([[DiscogsXml.DumpGroup.landed]]: the cut a
  * dump read in several ranges needs for its dedup, or one made here)
  * and releases that cut once every one of those writes has ended. The
  * writes start only after the cut has materialized, so they never
  * compete with the parse.
  */
object DiscogsLoad {

  final case class Opts(files: Seq[String] = Nil, out: String = "out",
      batchSize: Int = 10000, dbUrl: Option[String] = None,
      dbUser: String = "dev", dbPassword: String = "dev_pass",
      createIndexes: Boolean = false)

  def parseArgs(args: List[String], o: Opts = Opts()): Opts = args match {
    case Nil => o
    case "--out" :: v :: rest => parseArgs(rest, o.copy(out = v))
    case "--batch-size" :: v :: rest => parseArgs(rest, o.copy(batchSize = v.toInt))
    case "--db-url" :: v :: rest => parseArgs(rest, o.copy(dbUrl = Some(v)))
    case "--db-user" :: v :: rest => parseArgs(rest, o.copy(dbUser = v))
    case "--db-password" :: v :: rest => parseArgs(rest, o.copy(dbPassword = v))
    case "--create-indexes" :: rest => parseArgs(rest, o.copy(createIndexes = true))
    case f :: rest if !f.startsWith("--") => parseArgs(rest, o.copy(files = o.files :+ f))
    case bad :: _ => throw new IllegalArgumentException(s"unknown flag $bad")
  }

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args.toList)
    val spark = Harness.session("discogs-load")
    try run(opts, spark) finally spark.stop()
  }

  /** The whole CLI pipeline on a caller-owned session — `main` minus
    * process/session lifecycle, so e2e tests drive the identical path.
    * Row counts printed per table come from the writes themselves. A
    * failed group fails the run only after every group has finished,
    * and a failed table fails its group only after its sibling tables
    * have landed; either way the run leaves nothing persisted in the
    * session and nothing on disk but the tables that landed. */
  def run(opts: Opts, spark: SparkSession): Unit = {
    require(opts.files.nonEmpty, "at least one dump FILE required")
    val jdbc = opts.dbUrl.map(url => Sinks.JdbcConfig(url, opts.dbUser,
      opts.dbPassword, opts.batchSize))

    def load(open: () => DiscogsXml.DumpGroup): Seq[String] = {
      val g = open()
      val landing = if (g.fanOut) g.landed else g
      try sideBySide(landing.tables.map { case (name, df) =>
        () => {
          val n = Sinks.writeParquet(df, name, opts.out)
          println(s"[discogs-load] $name: $n rows -> ${opts.out}/$name")
        }
      }) finally landing.release()
      val names = landing.tables.map(_._1)
      jdbc.foreach { cfg =>
        names.foreach(name => Sinks.writeJdbc(spark.read.parquet(s"${opts.out}/$name"), name, cfg))
      }
      names
    }

    // every dump's ranges cut for the whole load up front; each group's
    // frames are built in its own thread
    val loaded = sideBySide(DiscogsXml.readGroups(spark, opts.files).map(open => () => load(open)))
    jdbc.filter(_ => opts.createIndexes).foreach(Sinks.createIndexes(_, loaded.flatten))
  }

  /** Runs every task on a thread of its own and waits for all of them;
    * returns their results in order, or throws the first failure with
    * the others suppressed. The threads start here, on the calling
    * thread, so they inherit its Spark local properties (job group,
    * scheduler pool). */
  private def sideBySide[A](tasks: Seq[() => A]): Seq[A] = {
    val pool = Executors.newFixedThreadPool(tasks.size)
    val outcomes = try {
      tasks
        .map(t => pool.submit[A](() => t()))
        .map(f => Try(f.get()).recoverWith { case e: ExecutionException => Failure(e.getCause) })
    } finally pool.shutdownNow()
    val failures = outcomes.collect { case Failure(e) => e }
    failures.headOption.foreach { first =>
      failures.tail.foreach(first.addSuppressed)
      throw first
    }
    outcomes.map(_.get)
  }
}
