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
  *     [--db-user U] [--db-password P] [--copy-mode binary|csv]
  *     [--create-indexes] [--partitions N] [--restage DIR] FILE...
  *
  * Each FILE is a discogs dump (`.xml` or `.xml.gz`); entity type is
  * auto-detected from the root element (O2). Tables always land as
  * clustered parquet under --out (engine-native sink); with --db-url
  * each is then loaded over JDBC from its landed parquet with
  * --batch-size-row batches, and --create-indexes runs the deferred
  * index DDL (O17) once every table is in.
  *
  * The unit of work is a dump group: the files of one entity. Groups
  * load side by side, one thread each (at most four, one per entity):
  * a gz dump parses as a single task, so four dumps keep four cores
  * busy. Inside a group the dump is parsed and first-wins-deduped once
  * and its tables land one after another — a fan-out dump (releases,
  * masters) persists its deduped raw rows for its 2-3 tables and drops
  * them when the group ends (the reference writes all maps of a dump
  * from one pass, `db.rs:55-97`); a single-table dump streams straight
  * into the writer.
  *
  * --restage DIR re-stages each group's gz dumps to splittable parquet
  * under DIR first (one single-stream parse each, paid once), then
  * loads the group from the staged copies — the layout every later
  * pass over a big dump should read.
  *
  * --copy-mode picks the postgres COPY wire format (the reference's
  * sink is `COPY ... FROM STDIN BINARY`, `db.rs:230-244`): `binary`
  * (default, the reference's format) or `csv` (server-side input
  * parser coerces types the binary encoder doesn't cover). Non-
  * postgres JDBC targets ignore it and take batched INSERTs.
  */
object DiscogsLoad {

  final case class Opts(files: Seq[String] = Nil, out: String = "out",
      batchSize: Int = 10000, dbUrl: Option[String] = None,
      dbUser: String = "dev", dbPassword: String = "dev_pass",
      createIndexes: Boolean = false, partitions: Option[Int] = None,
      restageDir: Option[String] = None, copyMode: String = "binary")

  def parseArgs(args: List[String], o: Opts = Opts()): Opts = args match {
    case Nil => o
    case "--out" :: v :: rest => parseArgs(rest, o.copy(out = v))
    case "--batch-size" :: v :: rest => parseArgs(rest, o.copy(batchSize = v.toInt))
    case "--db-url" :: v :: rest => parseArgs(rest, o.copy(dbUrl = Some(v)))
    case "--db-user" :: v :: rest => parseArgs(rest, o.copy(dbUser = v))
    case "--db-password" :: v :: rest => parseArgs(rest, o.copy(dbPassword = v))
    case "--create-indexes" :: rest => parseArgs(rest, o.copy(createIndexes = true))
    case "--partitions" :: v :: rest => parseArgs(rest, o.copy(partitions = Some(v.toInt)))
    case "--restage" :: v :: rest => parseArgs(rest, o.copy(restageDir = Some(v)))
    case "--copy-mode" :: v :: rest => parseArgs(rest, o.copy(copyMode = v))
    case f :: rest if !f.startsWith("--") => parseArgs(rest, o.copy(files = o.files :+ f))
    case bad :: _ => throw new IllegalArgumentException(s"unknown flag $bad")
  }

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args.toList)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("discogs-load")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(opts, spark) finally spark.stop()
  }

  /** The whole CLI pipeline on a caller-owned session — `main` minus
    * process/session lifecycle, so e2e tests drive the identical path.
    * Row counts printed per table come from the writes themselves. A
    * failed group fails the run only after every group has finished,
    * and leaves nothing persisted in the session. */
  def run(opts: Opts, spark: SparkSession): Unit = {
    require(opts.files.nonEmpty, "at least one dump FILE required")
    val jdbc = opts.dbUrl.map(url => Sinks.JdbcConfig(url, opts.dbUser,
      opts.dbPassword, opts.batchSize, opts.copyMode))

    def open(entity: String, files: Seq[String]): DiscogsXml.DumpGroup =
      opts.restageDir match {
        case Some(rd) =>
          DiscogsXml.readStagedGroup(spark, entity, files.map { f =>
            DiscogsXml.restage(spark, f, s"$rd/d${opts.files.indexOf(f)}",
              opts.partitions.getOrElse(0))
          })
        case None => DiscogsXml.readGroup(spark, entity, files)
      }

    def load(entity: String, files: Seq[String]): Seq[String] = {
      val g = open(entity, files)
      val shared = g.tables.size > 1
      if (shared) g.raw.persist()
      try g.tables.foreach { case (name, df) =>
        val n = Sinks.writeParquet(df, name, opts.out, opts.partitions)
        println(s"[discogs-load] $name: $n rows -> ${opts.out}/$name")
      } finally if (shared) g.raw.unpersist()
      jdbc.foreach { cfg =>
        g.tables.foreach { case (name, _) =>
          Sinks.writeJdbc(spark.read.parquet(s"${opts.out}/$name"), name, cfg)
        }
      }
      g.tables.map(_._1)
    }

    val groups = DiscogsXml.groupByEntity(opts.files)
    // the pool's threads start here, on the calling thread, so they
    // inherit its Spark local properties (job group, scheduler pool)
    val pool = Executors.newFixedThreadPool(groups.size)
    val outcomes = try {
      groups
        .map { case (e, fs) => pool.submit[Seq[String]](() => load(e, fs)) }
        .map(f => Try(f.get()).recoverWith {
          case e: ExecutionException => Failure(e.getCause)
        })
    } finally pool.shutdownNow()
    val failures = outcomes.collect { case Failure(e) => e }
    failures.headOption.foreach { first =>
      failures.tail.foreach(first.addSuppressed)
      throw first
    }
    jdbc.filter(_ => opts.createIndexes)
      .foreach(Sinks.createIndexes(_, outcomes.flatMap(_.get)))
  }
}
