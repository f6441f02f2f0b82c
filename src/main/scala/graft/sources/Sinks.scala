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
