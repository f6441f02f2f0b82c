package graft.sources

import org.apache.spark.sql.{DataFrame, Observation, SaveMode}
import org.apache.spark.sql.functions._

import java.sql.{Connection, DriverManager}

/** Sinks — the Spark-native rebuild of the reference's write path
  * (O13-O17, `db.rs:55-180`).
  *
  *  - Parquet is the engine-native sink: truncate-and-reload
  *    (`mode=overwrite`, reference O16 DROP+CREATE semantics) with
  *    each file sorted by the table's key — the Parquet
  *    row-group min/max analogue of the reference's deferred btree
  *    indexes (O17, `sql/indexes.sql`): point lookups and merge joins
  *    skip row groups instead of walking a btree.
  *  - JDBC is the relational sink over plain `java.sql`, with zero
  *    compile-time JDBC deps: a postgres connection takes the
  *    reference's binary COPY (O14, `db.rs:242-244`, reached
  *    reflectively through pgjdbc's CopyManager — [[PgBinaryCopy]]),
  *    any other driver batched INSERTs. Each partition writes its own
  *    connection — the distributed form of the reference's per-flush
  *    connection (quirk Q10 becomes the correct pattern once writes
  *    are parallel).
  */
object Sinks {

  /** Keys mirroring the reference's deferred indexes
    * (`sql/indexes.sql:7-16`) — the parquet sort keys. */
  val indexKeys: Map[String, Seq[String]] = Map(
    "release" -> Seq("id"),
    "release_label" -> Seq("release_id"),
    "release_video" -> Seq("release_id"),
    "artist" -> Seq("id"),
    "label" -> Seq("id"),
    "master" -> Seq("id"),
    "master_artist" -> Seq("master_id", "artist_id"))

  /** Engine-native sink: overwrite parquet, each file sorted by the
    * table's index key, so row-group min/max skipping serves later
    * point lookups and merge joins. The sink adds no shuffle: one file
    * per partition of the frame, each sorted in place — the load hands
    * it each Discogs table in as many partitions as its dump's rows
    * need (see [[graft.DiscogsLoad]]). Returns the number of rows
    * written, counted by the write itself (no read-back job). */
  def writeParquet(df: DataFrame, table: String, outDir: String): Long = {
    val keys = indexKeys.getOrElse(table, Nil).map(col)
    val rows = Observation()
    val counted = df.observe(rows, count(lit(1)).as("rows"))
    val sorted = if (keys.isEmpty) counted else counted.sortWithinPartitions(keys: _*)
    sorted.write.mode(SaveMode.Overwrite).parquet(s"$outDir/$table")
    rows.get("rows").asInstanceOf[Long]
  }

  /** Small-file compaction — the maintenance op every long-running
    * ingest needs: micro-batches and per-task writers leave thousands
    * of KB-sized parquet files, and at 100 TB the NameNode/listing and
    * per-file task overhead dominate scans long before the bytes do.
    * Rewrites `dir` into ceil(bytes / targetMB) files (one read, one
    * shuffle, one write), then swaps via write-to-sibling + delete +
    * rename. The swap is NOT atomic: readers racing it can observe a
    * missing directory for the delete→rename window, and a crash in
    * that window leaves the new data at `<dir>._compact_tmp` — run it
    * in the table's maintenance window. FLAT dirs only: a Hive-
    * partitioned layout is refused (rewriting it here would flatten
    * the partition columns into data and break pruning).
    *
    * `clusterBy` lays the files out by key: repartition on the keys +
    * sort within partitions (the sort [[writeParquet]] leaves in each
    * file), so row-group min/max skipping survives compaction; the
    * repartition is needed here because compaction picks its own file
    * count. The default round-robin spread
    * maximizes write parallelism but scatters any pre-existing
    * clustering — pass the table's index keys when it has them.
    * Returns (filesBefore, filesAfter).
    */
  def compactParquet(spark: org.apache.spark.sql.SparkSession, dir: String,
      targetMB: Int = 128, clusterBy: Seq[String] = Nil): (Int, Int) = {
    require(targetMB > 0, s"targetMB must be positive, got $targetMB")
    val raw = new org.apache.hadoop.fs.Path(dir)
    val fs = raw.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // normalize BEFORE deriving the sibling: string-concat on a
    // trailing-slash dir would nest tmp INSIDE the target, and the
    // swap's recursive delete would then destroy both copies
    val hPath = fs.makeQualified(raw)
    val tmp = new org.apache.hadoop.fs.Path(
      hPath.getParent, hPath.getName + "._compact_tmp")
    val entries = fs.listStatus(hPath).toSeq
    val dataFiles = entries
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    require(dataFiles.nonEmpty,
      s"compactParquet: no top-level *.parquet in $hPath — " +
        "partitioned/nested layouts must be compacted per leaf directory")
    val bytes = dataFiles.map(_.getLen).sum
    val n = math.max(1L,
      (bytes + targetMB * (1L << 20) - 1) / (targetMB * (1L << 20))).toInt
    fs.delete(tmp, true)
    val df = spark.read.parquet(hPath.toString)
    val shaped =
      if (clusterBy.isEmpty) df.repartition(n)
      else df.repartition(n, clusterBy.map(org.apache.spark.sql.functions.col): _*)
        .sortWithinPartitions(clusterBy.map(org.apache.spark.sql.functions.col): _*)
    shaped.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    fs.delete(hPath, true)
    if (!fs.rename(tmp, hPath))
      throw new java.io.IOException(
        s"compactParquet: rename $tmp -> $hPath failed; data is intact at $tmp")
    (dataFiles.size, n)
  }

  /** Hive-style partitioned parquet layout: one directory per value of
    * the partition column(s). Queries filtering on those columns prune
    * whole directories at planning time (`PartitionFilters` in the
    * scan) — the coarse-grained skip that makes time-scoped queries on
    * a 100 TB event table read only their slice.
    */
  def writePartitioned(df: DataFrame, outDir: String, table: String,
      partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*)
      .parquet(s"$outDir/$table")

  /** Bucketed catalog table: pre-shuffles once at write time so every
    * later equi-join/aggregation on `keys` is exchange-free (both
    * sides scan matching buckets). The write-time analogue of the
    * reference's deferred indexes for JOIN workloads — at 100 TB,
    * bucketing the fact tables on their join key turns the dominant
    * shuffle into a metadata no-op.
    */
  def writeBucketed(df: DataFrame, table: String, keys: Seq[String],
      numBuckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  final case class JdbcConfig(url: String, user: String, password: String,
      batchSize: Int = 10000)

  /** Relational sink. Executors open their own connections (one per
    * partition). The path follows from what the partition can see: a
    * postgres connection with a schema [[PgBinaryCopy.supports]]
    * streams through binary COPY — the reference's wire format,
    * `db.rs:242-244`, no per-row round trips; anything else (another
    * driver, or a type binary COPY cannot encode) takes batched INSERTs
    * of `batchSize` rows — the reference's 10k-row flush (O13,
    * `db.rs:18-20`) distributed.
    */
  def writeJdbc(df: DataFrame, table: String, cfg: JdbcConfig): Unit = {
    val schema = df.schema
    val colNames = schema.fieldNames.toSeq
    val binary = PgBinaryCopy.supports(schema)
    df.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      if (rows.nonEmpty) {
        val conn = DriverManager.getConnection(cfg.url, cfg.user, cfg.password)
        try {
          if (binary && PgBinaryCopy.isPostgres(conn))
            PgBinaryCopy.copyIn(conn, table, colNames, schema, rows): Unit
          else {
            conn.setAutoCommit(false)
            val placeholders = colNames.map(_ => "?").mkString(", ")
            val sql = s"""INSERT INTO $table (${colNames.mkString(", ")})
                         |VALUES ($placeholders)""".stripMargin
            val ps = conn.prepareStatement(sql)
            // engines without SQL ARRAY (Derby, SQLite, H2 pre-2.x)
            // reject createArrayOf — degrade once per partition to the
            // postgres array-literal text form in a VARCHAR column
            var arraysSupported = true
            var n = 0
            rows.foreach { row =>
              var i = 0
              while (i < colNames.length) {
                row.get(i) match {
                  case seq: scala.collection.Seq[_] =>
                    if (arraysSupported) {
                      try ps.setArray(i + 1, conn.createArrayOf("text",
                        seq.map(_.asInstanceOf[AnyRef]).toArray))
                      catch {
                        // definitive capability signals — the driver
                        // doesn't do arrays (SQLFeatureNotSupported)
                        // or can't even link the call (LinkageError:
                        // AbstractMethodError on pre-JDBC-4 drivers,
                        // NoClassDefFound on broken jars — permanent
                        // for this JVM) — flip the flag for the
                        // partition
                        case _: java.sql.SQLFeatureNotSupportedException |
                            _: LinkageError =>
                          arraysSupported = false
                          ps.setString(i + 1, arrayLiteral(seq))
                        // other SQLExceptions (older SQLite/H2 throw
                        // plain SQLException here; but so does a dead
                        // connection): degrade THIS binding only — a
                        // broken connection still fails the batch, and
                        // a capability-rejecting driver just lands
                        // here per row instead of misclassifying a
                        // transient fault permanently
                        case _: java.sql.SQLException =>
                          ps.setString(i + 1, arrayLiteral(seq))
                      }
                    } else ps.setString(i + 1, arrayLiteral(seq))
                  case v => ps.setObject(i + 1, v)
                }
                i += 1
              }
              ps.addBatch(); n += 1
              if (n % cfg.batchSize == 0) { ps.executeBatch(); conn.commit() }
            }
            ps.executeBatch(); conn.commit()
          }
        } finally conn.close()
      }
    }
  }

  /** Postgres array-literal text form of a Seq — the INSERT path's
    * encoding for an array column on an engine without SQL ARRAY. */
  def arrayLiteral(seq: scala.collection.Seq[_]): String =
    seq.map {
      case null => "NULL"
      case e =>
        val s = e.toString
        "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    }.mkString("{", ",", "}")

  /** Streaming → relational bridge: land each micro-batch through the
    * same partition-streamed [[writeJdbc]] path. foreachBatch is the
    * idiomatic seam from Structured Streaming to a batch sink — the
    * batch DataFrame reuses all of the COPY/INSERT logic, and
    * exactly-once reduces to the sink table's idempotency (key the
    * table or dedup downstream; the reference's truncate-reload model
    * has no streaming equivalent).
    */
  def jdbcStreamWriter(df: DataFrame, table: String,
      cfg: JdbcConfig): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        writeJdbc(batch.toDF(), table, cfg)
    }

  /** O16: truncate-and-reload DDL before a JDBC load (the reference
    * runs DROP TABLE IF EXISTS + CREATE, `db.rs:40-45`). */
  def initTable(cfg: JdbcConfig, ddl: String): Unit =
    withConnection(cfg) { conn =>
      ddl.split(";").map(_.trim).filter(_.nonEmpty)
        .foreach(stmt => conn.createStatement().execute(stmt))
    }

  /** O17: deferred index DDL after load (reference `--create-indexes`,
    * `main.rs:105-107`). */
  def createIndexes(cfg: JdbcConfig, tables: Iterable[String]): Unit =
    withConnection(cfg) { conn =>
      tables.foreach { t =>
        val keys = indexKeys.getOrElse(t, Nil)
        if (keys.nonEmpty) {
          // one composite index over the declared key (a multi-column
          // key like master_artist's (master_id, artist_id) wants one
          // covering btree, not independent single-column indexes)
          conn.createStatement().execute(
            s"""CREATE INDEX IF NOT EXISTS ${t}_${keys.mkString("_")}_idx
               |ON $t (${keys.mkString(", ")})""".stripMargin)
        }
      }
    }

  private def withConnection[A](cfg: JdbcConfig)(f: Connection => A): A = {
    val conn = DriverManager.getConnection(cfg.url, cfg.user, cfg.password)
    try f(conn) finally conn.close()
  }
}
