package graft

import graft.sources.Sinks
import org.scalatest.funsuite.AnyFunSuite

import java.sql.DriverManager

/** End-to-end coverage of the relational sink (reference O14/O16,
  * `db.rs:55-180`) against embedded Derby — the JDBC engine on the
  * Spark runtime classpath. local-mode executors share the driver JVM,
  * so Derby's in-memory database is visible to foreachPartition tasks.
  *
  * Derby has no SQL ARRAY type, which also exercises the documented
  * degradation: array columns land as postgres-array-literal text.
  */
class JdbcSinkSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  private val cfg = Sinks.JdbcConfig(
    TestSpark.derbyUrl("graftsink"), "", "", batchSize = 100)

  private def query[A](sql: String)(f: java.sql.ResultSet => A): Vector[A] = {
    val conn = DriverManager.getConnection(cfg.url)
    try {
      val rs = conn.createStatement().executeQuery(sql)
      val out = Vector.newBuilder[A]
      while (rs.next()) out += f(rs)
      out.result()
    } finally conn.close()
  }

  test("initTable + writeJdbc land every row through batched INSERTs") {
    import spark.implicits._
    Sinks.initTable(cfg,
      """CREATE TABLE release_sink (
        |  id INT NOT NULL, title VARCHAR(200), genres VARCHAR(400))""".stripMargin)
    // 250 rows at batchSize=100 exercises both the mid-stream flush
    // and the final partial batch
    val df = (1 to 250)
      .map(i => (i, s"Title $i", Seq(s"g${i % 3}", "common")))
      .toDF("id", "title", "genres")
      .repartition(4) // multiple partitions → one connection each
    Sinks.writeJdbc(df, "release_sink", cfg)
    val n = query("SELECT COUNT(*) FROM release_sink")(_.getLong(1))
    assert(n == Vector(250L))
    val row42 = query(
      "SELECT title, genres FROM release_sink WHERE id = 42")(
      rs => (rs.getString(1), rs.getString(2)))
    assert(row42 == Vector(("Title 42", """{"g0","common"}""")))
  }

  test("initTable implements truncate-and-reload (drop + recreate)") {
    Sinks.initTable(cfg, "CREATE TABLE reload_t (x INT)")
    val conn = DriverManager.getConnection(cfg.url)
    try conn.createStatement().execute("INSERT INTO reload_t VALUES (1)")
    finally conn.close()
    // second init: caller-supplied DDL drops and recreates empty
    Sinks.initTable(cfg,
      "DROP TABLE reload_t; CREATE TABLE reload_t (x INT)")
    assert(query("SELECT COUNT(*) FROM reload_t")(_.getLong(1)) == Vector(0L))
  }

  test("array fields render as quoted postgres array literals") {
    assert(Sinks.arrayLiteral(Seq("a", "b")) == "{\"a\",\"b\"}")
    // inner quote/backslash escaped for the array literal
    assert(Sinks.arrayLiteral(Seq("x\"y")) == "{\"x\\\"y\"}")
    assert(Sinks.arrayLiteral(Seq("z\\w")) == "{\"z\\\\w\"}")
    assert(Sinks.arrayLiteral(Seq.empty[String]) == "{}")
  }
}
