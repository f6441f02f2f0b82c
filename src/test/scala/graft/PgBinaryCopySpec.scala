package graft

import graft.sources.PgBinaryCopy
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.ByteBuffer

/** Byte-golden coverage of the postgres BINARY COPY serialization —
  * every framing and payload byte is checked against hand-computed
  * expectations from the documented format (network byte order). A
  * wrong length prefix desynchronizes the entire COPY stream, so this
  * is the correctness-bearing part of the binary fast path.
  */
class PgBinaryCopySpec extends AnyFunSuite {

  private def be16(v: Int) = ByteBuffer.allocate(2).putShort(v.toShort).array()
  private def be32(v: Int) = ByteBuffer.allocate(4).putInt(v).array()
  private def be64(v: Long) = ByteBuffer.allocate(8).putLong(v).array()

  test("header and trailer are the documented constants") {
    val h = PgBinaryCopy.header
    assert(h.length == 19)
    assert(new String(h.take(7), "ISO-8859-1") == "PGCOPY\n")
    assert(h.slice(7, 11).toSeq == Seq(0xff.toByte, '\r'.toByte, '\n'.toByte, 0.toByte))
    assert(h.slice(11, 15).toSeq == be32(0).toSeq) // flags
    assert(h.slice(15, 19).toSeq == be32(0).toSeq) // extension length
    assert(PgBinaryCopy.trailer.toSeq == be16(-1).toSeq)
  }

  test("scalar tuple: int4, int8, float8, bool, text, null") {
    val schema = StructType(Seq(
      StructField("a", IntegerType), StructField("b", LongType),
      StructField("c", DoubleType), StructField("d", BooleanType),
      StructField("e", StringType), StructField("f", StringType)))
    val row = Row(42, 7L, 1.5, true, "hi", null)
    val got = PgBinaryCopy.encodeRow(row, schema)
    val want =
      be16(6) ++
        be32(4) ++ be32(42) ++
        be32(8) ++ be64(7L) ++
        be32(8) ++ be64(java.lang.Double.doubleToLongBits(1.5)) ++
        be32(1) ++ Array[Byte](1) ++
        be32(2) ++ "hi".getBytes("UTF-8") ++
        be32(-1)
    assert(got.toSeq == want.toSeq)
  }

  test("text[] array payload: ndim/hasnull/oid/dim/lb + elements") {
    val schema = StructType(Seq(StructField("g", ArrayType(StringType))))
    val got = PgBinaryCopy.encodeRow(Row(Seq("ab", "c")), schema)
    val payload =
      be32(1) ++ // ndim
        be32(0) ++ // hasnull
        be32(25) ++ // text oid
        be32(2) ++ // dim size
        be32(1) ++ // lower bound
        be32(2) ++ "ab".getBytes("UTF-8") ++
        be32(1) ++ "c".getBytes("UTF-8")
    val want = be16(1) ++ be32(payload.length) ++ payload
    assert(got.toSeq == want.toSeq)
    // null element flips hasnull and encodes length -1
    val withNull = PgBinaryCopy.encodeRow(Row(Seq("x", null)), schema)
    val p2 = be32(1) ++ be32(1) ++ be32(25) ++ be32(2) ++ be32(1) ++
      be32(1) ++ "x".getBytes("UTF-8") ++ be32(-1)
    assert(withNull.toSeq == (be16(1) ++ be32(p2.length) ++ p2).toSeq)
  }

  test("timestamp and date rebase to the 2000-01-01 postgres epoch") {
    val schema = StructType(Seq(
      StructField("ts", TimestampType), StructField("d", DateType)))
    val ts = java.sql.Timestamp.valueOf("2000-01-01 00:00:01.000001")
    val date = java.sql.Date.valueOf("2000-01-02")
    // timestamps rebase via unix epoch micros; run in UTC for a stable
    // expectation (valueOf uses the default zone)
    val tz = java.util.TimeZone.getDefault
    java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("UTC"))
    try {
      val ts2 = java.sql.Timestamp.valueOf("2000-01-01 00:00:01.000001")
      val got = PgBinaryCopy.encodeRow(Row(ts2, date), schema)
      val want = be16(2) ++
        be32(8) ++ be64(1000001L) ++ // 1.000001 s past pg epoch
        be32(4) ++ be32(1) // 1 day past pg epoch
      assert(got.toSeq == want.toSeq)
    } finally java.util.TimeZone.setDefault(tz)
    assert(ts != null) // silence unused warning for the non-UTC value
  }

  test("pre-1970 timestamps floor correctly (no truncation-toward-zero)") {
    val schema = StructType(Seq(StructField("ts", TimestampType)))
    val tz = java.util.TimeZone.getDefault
    java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("UTC"))
    try {
      val ts = new java.sql.Timestamp(-500L) // 1969-12-31 23:59:59.5 UTC
      ts.setNanos(500000000)
      val got = PgBinaryCopy.encodeRow(Row(ts), schema)
      val want = be16(1) ++ be32(8) ++ be64(-500000L - 946684800000000L)
      assert(got.toSeq == want.toSeq)
    } finally java.util.TimeZone.setDefault(tz)
  }

  test("non-UTC JVM: binary timestamp matches the CSV/INSERT wall clock") {
    // postgres `timestamp` is zoneless; Timestamp.toString (its text
    // form) and pgjdbc setObject (INSERT fallback) both carry the
    // default-zone wall clock. The binary path must agree — an
    // epoch-instant encoding would shift this value by -5h (EST).
    val schema = StructType(Seq(StructField("ts", TimestampType)))
    val tz = java.util.TimeZone.getDefault
    java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("America/New_York"))
    try {
      val ts = java.sql.Timestamp.valueOf("2000-01-01 00:00:01.000001")
      assert(ts.toString == "2000-01-01 00:00:01.000001") // the CSV form
      val got = PgBinaryCopy.encodeRow(Row(ts), schema)
      // wall clock 1.000001 s past the pg epoch, NOT 5h1.000001s
      val want = be16(1) ++ be32(8) ++ be64(1000001L)
      assert(got.toSeq == want.toSeq)
    } finally java.util.TimeZone.setDefault(tz)
  }

  test("RowStream frames header + tuples + trailer across small reads") {
    val schema = StructType(Seq(StructField("a", IntegerType)))
    val s = new PgBinaryCopy.RowStream(Iterator(Row(1), Row(2)), schema)
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](3) // odd size: exercises refills
    var n = s.read(buf, 0, buf.length)
    while (n >= 0) { out.write(buf, 0, n); n = s.read(buf, 0, buf.length) }
    val got = out.toByteArray
    val want = PgBinaryCopy.header ++
      PgBinaryCopy.encodeRow(Row(1), schema) ++
      PgBinaryCopy.encodeRow(Row(2), schema) ++
      PgBinaryCopy.trailer
    assert(got.toSeq == want.toSeq)
  }

  test("unsupported types fail loudly instead of desynchronizing") {
    val schema = StructType(Seq(
      StructField("m", MapType(StringType, StringType))))
    val e = intercept[IllegalArgumentException] {
      PgBinaryCopy.encodeRow(Row(Map("a" -> "b")), schema)
    }
    assert(e.getMessage.contains("unsupported type"))
  }

  test("isPostgres sees the test-scope PGConnection; non-pg connections refuse COPY") {
    // the test classpath deliberately carries org.postgresql.PGConnection
    // (see that trait's scaladoc) so CopySinkE2ESpec can drive the real
    // COPY writer — on the production classpath (no pgjdbc dep) every
    // connection answers false. What must hold everywhere: a
    // non-postgres connection never routes into COPY.
    val derby = java.sql.DriverManager
      .getConnection(TestSpark.derbyUrl("pgcopyprobe"))
    try assert(!PgBinaryCopy.isPostgres(derby)) finally derby.close()
    assert(PgBinaryCopy.isPostgres(FakePg.connection()))
  }
}
