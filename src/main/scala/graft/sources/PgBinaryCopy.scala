package graft.sources

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import java.io.{ByteArrayOutputStream, DataOutputStream, InputStream}
import java.sql.Connection

/** Postgres BINARY COPY serialization — the reference's actual wire
  * format (O14, `db.rs:226-244`: `COPY ... FROM STDIN BINARY`). The
  * format is public PostgreSQL documentation (binary copy format,
  * network byte order):
  *
  *   header  = "PGCOPY\n\377\r\n\0" + int32 flags(0) + int32 ext(0)
  *   tuple   = int16 nFields, then per field int32 byteLen (-1 null)
  *             + payload
  *   trailer = int16 -1
  *
  * Typed payloads: int2/int4/int8 and float4/float8 big-endian, bool
  * one byte, text UTF-8, bytea raw, timestamp µs since 2000-01-01,
  * date days since 2000-01-01, arrays as ndim/hasnull/elemOid + per
  * element length-prefixed payloads.
  *
  * The encoding is pure and byte-golden-tested; the server call is a
  * reflective adapter over pgjdbc's CopyManager, so the library
  * compiles with zero JDBC-driver dependency and takes this path only
  * when the driver is on the runtime classpath ([[isPostgres]]).
  */
object PgBinaryCopy {

  private val PgEpochDays = 10957 // 2000-01-01 in unix days

  private val TextOid = 25

  val header: Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val d = new DataOutputStream(out)
    d.writeBytes("PGCOPY\n")
    d.write(Array[Byte](-1, '\r', '\n', 0)) // \377\r\n\0
    d.writeInt(0) // flags
    d.writeInt(0) // header extension length
    out.toByteArray
  }

  val trailer: Array[Byte] = Array[Byte](-1, -1) // int16 -1

  /** True iff every column of `schema` has a binary-COPY encoding
    * here. [[Sinks.writeJdbc]] consults this so a schema the binary
    * path can't express (decimals, non-string arrays, …) takes batched
    * INSERTs instead of failing every partition. */
  def supports(schema: StructType): Boolean =
    schema.fields.forall(_.dataType match {
      case ShortType | IntegerType | LongType | FloatType | DoubleType |
           BooleanType | StringType | BinaryType | TimestampType |
           DateType | ArrayType(StringType, _) => true
      case _ => false
    })

  /** One tuple in binary COPY framing. `schema` drives the per-field
    * encoding; unsupported types fail loudly (a silently-wrong length
    * prefix would desynchronize the whole stream). */
  def encodeRow(row: Row, schema: StructType): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val d = new DataOutputStream(out)
    d.writeShort(schema.length)
    var i = 0
    while (i < schema.length) {
      if (row.isNullAt(i)) d.writeInt(-1)
      else {
        val payload = encodeField(row.get(i), schema(i).dataType)
        d.writeInt(payload.length)
        d.write(payload)
      }
      i += 1
    }
    out.toByteArray
  }

  private def encodeField(v: Any, dt: DataType): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val d = new DataOutputStream(out)
    (dt, v) match {
      case (ShortType, x: Short) => d.writeShort(x)
      case (IntegerType, x: Int) => d.writeInt(x)
      case (LongType, x: Long) => d.writeLong(x)
      case (FloatType, x: Float) => d.writeFloat(x)
      case (DoubleType, x: Double) => d.writeDouble(x)
      case (BooleanType, x: Boolean) => d.writeByte(if (x) 1 else 0)
      case (StringType, x: String) => d.write(x.getBytes("UTF-8"))
      case (BinaryType, x: Array[Byte]) => d.write(x)
      case (TimestampType, x: java.sql.Timestamp) =>
        // postgres `timestamp` is zoneless; the INSERT fallback
        // (pgjdbc setObject) binds the JVM-default-zone WALL CLOCK, so
        // the binary form must encode the same LocalDateTime — an
        // epoch-instant encoding would shift every value by the TZ
        // offset on any non-UTC JVM relative to the INSERT path
        val ldt = x.toLocalDateTime // default zone, nanos preserved
        val micros = math.addExact(
          math.multiplyExact(ldt.toLocalDate.toEpochDay - PgEpochDays, 86400000000L),
          ldt.toLocalTime.toNanoOfDay / 1000)
        d.writeLong(micros)
      case (DateType, x: java.sql.Date) =>
        d.writeInt((x.toLocalDate.toEpochDay - PgEpochDays).toInt)
      case (ArrayType(StringType, _), xs: scala.collection.Seq[_]) =>
        d.writeInt(1) // ndim
        d.writeInt(if (xs.contains(null)) 1 else 0) // hasnull
        d.writeInt(TextOid)
        d.writeInt(xs.length)
        d.writeInt(1) // lower bound
        xs.foreach {
          case null => d.writeInt(-1)
          case e =>
            val b = e.toString.getBytes("UTF-8")
            d.writeInt(b.length); d.write(b)
        }
      case (other, x) => throw new IllegalArgumentException(
        s"binary COPY: unsupported type ${other.catalogString} " +
          s"(value class ${if (x == null) "null" else x.getClass.getName}); " +
          "flatten or cast the DataFrame before writeJdbc")
    }
    out.toByteArray
  }

  /** Streaming InputStream over an iterator of rows — COPY consumes
    * header, tuples, trailer without materializing the partition. */
  final class RowStream(rows: Iterator[Row], schema: StructType)
      extends InputStream {
    private var buf: Array[Byte] = header
    private var pos = 0
    private var done = false
    override def read(): Int = {
      while (pos >= buf.length) {
        if (done) return -1
        if (rows.hasNext) buf = encodeRow(rows.next(), schema)
        else { buf = trailer; done = true }
        pos = 0
      }
      val b = buf(pos) & 0xff
      pos += 1
      b
    }
    override def read(cbuf: Array[Byte], off: Int, len: Int): Int = {
      while (pos >= buf.length) {
        if (done) return -1
        if (rows.hasNext) buf = encodeRow(rows.next(), schema)
        else { buf = trailer; done = true }
        pos = 0
      }
      val n = math.min(len, buf.length - pos)
      System.arraycopy(buf, pos, cbuf, off, n)
      pos += n
      n
    }
  }

  /** True iff THIS connection is a pgjdbc connection. A missing driver
    * (ClassNotFoundException) or a broken/mismatched jar
    * (LinkageError) answers false, and classpath presence alone must
    * not route a Derby/H2/SQLite connection into COPY (unwrap would
    * throw and the write would die without ever reaching the INSERT
    * fallback). */
  def isPostgres(conn: Connection): Boolean =
    try conn.isWrapperFor(Class.forName("org.postgresql.PGConnection"))
    catch { case _: Throwable => false }

  /** COPY the rows into `table` over `conn` (must be a pgjdbc
    * connection, see [[isPostgres]]) in BINARY format. Returns rows
    * written. */
  def copyIn(conn: Connection, table: String, columns: Seq[String],
      schema: StructType, rows: Iterator[Row]): Long = {
    val pgIface = Class.forName("org.postgresql.PGConnection")
    val unwrapped = conn.unwrap(pgIface.asInstanceOf[Class[AnyRef]])
    val copyApi = pgIface.getMethod("getCopyAPI").invoke(unwrapped)
    def q(ident: String) = "\"" + ident.replace("\"", "\"\"") + "\""
    val sql = s"""COPY ${q(table)} (${columns.map(q).mkString(", ")})
                 |FROM STDIN WITH (FORMAT binary)""".stripMargin
    val m = copyApi.getClass.getMethod("copyIn", classOf[String], classOf[InputStream])
    m.setAccessible(true)
    m.invoke(copyApi, sql, new RowStream(rows, schema))
      .asInstanceOf[java.lang.Long].longValue()
  }
}
