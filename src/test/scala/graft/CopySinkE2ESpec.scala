package graft

import graft.sources.{PgBinaryCopy, Sinks}
import org.scalatest.funsuite.AnyFunSuite

/** CLI-to-wire e2e for the postgres COPY sink (reference O14,
  * `db.rs:230-244`): [[DiscogsLoad.run]] drives the full pipeline —
  * gz XML parse → clustered parquet → `Sinks.writeJdbc` — against
  * [[FakePg]]'s capturing endpoint, and the captured streams are
  * checked BYTE-FOR-BYTE against [[PgBinaryCopy.encodeRow]] over the
  * rows the CLI actually landed. This is the strongest check the
  * sandbox allows (no postgres server): the real distributed writer,
  * real framing, real per-partition connections; only the socket is
  * fake.
  */
class CopySinkE2ESpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  private def res(name: String): String =
    getClass.getResource("/" + name).getPath

  private def withTempDir[A](prefix: String)(f: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    try f(dir.toString) finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("CLI --copy-mode=binary streams exact COPY BINARY frames") {
    FakePg.registered
    FakePg.drainCaptured() // isolate from any earlier capture
    withTempDir("graft-cli-bin") { out =>
      DiscogsLoad.run(DiscogsLoad.Opts(
        files = Seq(res("labels.xml.gz")),
        out = out,
        dbUrl = Some("jdbc:postgresql://localhost:5432/graft_fake"),
        copyMode = "binary"), spark)
      val caps = FakePg.drainCaptured()
      assert(caps.nonEmpty, "no COPY stream reached the fake endpoint")
      // every stream took the reference's wire format, named the table,
      // and quoted its column list
      caps.foreach { c =>
        assert(c.sql.startsWith("COPY \"label\""), c.sql)
        assert(c.sql.contains("FROM STDIN WITH (FORMAT binary)"), c.sql)
        assert(c.sql.contains("\"id\""), c.sql)
      }
      // byte-exact: the multiset of captured tuple frames (across all
      // per-partition streams) equals encodeRow over the rows the CLI
      // landed in parquet — same source DataFrame, so any divergence is
      // a framing bug, not data skew
      val df = spark.read.parquet(s"$out/label")
      val schema = df.schema
      assert(PgBinaryCopy.supports(schema),
        "label schema must take the binary path for this test to mean anything")
      val want = df.collect()
        .map(r => PgBinaryCopy.encodeRow(r, schema).toSeq)
        .groupBy(identity).view.mapValues(_.length).toMap
      val got = caps.flatMap(c => FakePg.tupleFrames(c.bytes)).map(_.toSeq)
        .groupBy(identity).view.mapValues(_.length).toMap
      assert(want.nonEmpty, "fixture produced no label rows")
      assert(got == want,
        s"captured ${got.values.sum} tuples != expected ${want.values.sum}")
    }
  }

  test("CLI --copy-mode=csv routes the same pipeline through CSV COPY") {
    FakePg.registered
    FakePg.drainCaptured()
    withTempDir("graft-cli-csv") { out =>
      DiscogsLoad.run(DiscogsLoad.Opts(
        files = Seq(res("labels.xml.gz")),
        out = out,
        dbUrl = Some("jdbc:postgresql://localhost:5432/graft_fake"),
        copyMode = "csv"), spark)
      val caps = FakePg.drainCaptured()
      assert(caps.nonEmpty)
      caps.foreach(c => assert(c.sql.contains("FROM STDIN WITH (FORMAT csv)"), c.sql))
      val nRows = spark.read.parquet(s"$out/label").count()
      // record count = newlines OUTSIDE quoted fields (fixture profile
      // text embeds newlines, which COPY CSV carries inside quotes;
      // PgCopySpec covers the quoting rules themselves)
      def records(s: String): Long = {
        var inQuotes = false; var n = 0L
        s.foreach {
          case '"' => inQuotes = !inQuotes
          case '\n' if !inQuotes => n += 1
          case _ => ()
        }
        n
      }
      val lines = caps.map(c => records(new String(c.bytes, "UTF-8"))).sum
      assert(lines == nRows, s"csv records $lines != rows $nRows")
    }
  }

  test("binary COPY writer round-trips a typed DataFrame partition-parallel") {
    import spark.implicits._
    FakePg.registered
    FakePg.drainCaptured()
    // exercises every binary-encodable scalar type + text[] + nulls
    // across multiple partitions — the exact frames a postgres server
    // would parse
    val df = (1 to 57).map { i =>
      (i.toLong, i * 1.5, i % 3 == 0,
        if (i % 7 == 0) null else s"name_$i",
        Seq(s"t$i", "common"))
    }.toDF("id", "score", "flag", "name", "tags").repartition(4)
    Sinks.writeJdbc(df, "typed_sink",
      Sinks.JdbcConfig("jdbc:postgresql://localhost:5432/graft_fake", "u", "p"))
    val caps = FakePg.drainCaptured()
    assert(caps.size > 1, "expected one COPY stream per non-empty partition")
    val schema = df.schema
    val want = df.collect().map(r => PgBinaryCopy.encodeRow(r, schema).toSeq)
      .groupBy(identity).view.mapValues(_.length).toMap
    val got = caps.flatMap(c => FakePg.tupleFrames(c.bytes)).map(_.toSeq)
      .groupBy(identity).view.mapValues(_.length).toMap
    assert(got == want)
  }
}
