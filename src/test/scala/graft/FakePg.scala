package graft

import java.io.InputStream
import java.lang.reflect.{InvocationHandler, Method, Proxy}
import java.sql.Connection

/** In-JVM fake of the postgres wire endpoint for COPY e2e tests: a
  * JDBC driver answering `jdbc:postgresql:` URLs with proxy
  * connections that masquerade as pgjdbc (`isWrapperFor`/`unwrap` on
  * the test-scope [[org.postgresql.PGConnection]]), and a capturing
  * CopyManager whose `copyIn` drains the writer's stream byte-for-byte.
  *
  * This is the "socket fake" end of the reference-parity check
  * (`db.rs:230-244`): [[graft.sources.Sinks.writeJdbc]] runs its REAL
  * distributed path — foreachPartition, per-partition connection,
  * [[graft.sources.PgBinaryCopy.RowStream]] framing — and the test
  * asserts the exact frames that would have hit a postgres socket.
  * local-mode executors share the JVM, so the static capture queue
  * sees every partition's stream.
  */
object FakePg {

  final case class Captured(sql: String, bytes: Array[Byte])

  private val captureQ = new java.util.concurrent.ConcurrentLinkedQueue[Captured]()

  def drainCaptured(): Seq[Captured] = {
    val out = Vector.newBuilder[Captured]
    var c = captureQ.poll()
    while (c != null) { out += c; c = captureQ.poll() }
    out.result()
  }

  /** Capturing CopyManager: the `copyIn(String, InputStream)` overload
    * pgjdbc exposes and the binary writer reflects on. */
  final class CopyApi {
    def copyIn(sql: String, in: InputStream): java.lang.Long = {
      val bytes = in.readAllBytes()
      captureQ.add(Captured(sql, bytes))
      java.lang.Long.valueOf(tupleFrames(bytes,
        failOnBadFraming = false).size.toLong)
    }
  }

  private final class PgConn extends org.postgresql.PGConnection {
    private val api = new CopyApi
    override def getCopyAPI: AnyRef = api
  }

  /** java.sql.Connection proxy that passes [[graft.sources.PgBinaryCopy
    * .isPostgres]] and unwraps to the fake PGConnection. Anything the
    * COPY path doesn't call throws, so a behavior change in the writer
    * surfaces here instead of silently no-opping. */
  def connection(): Connection = {
    val pg = new PgConn
    Proxy.newProxyInstance(getClass.getClassLoader,
      Array[Class[_]](classOf[Connection]),
      new InvocationHandler {
        override def invoke(proxy: AnyRef, m: Method,
            args: Array[AnyRef]): AnyRef = m.getName match {
          case "isWrapperFor" =>
            java.lang.Boolean.valueOf(
              args(0).asInstanceOf[Class[_]].isInstance(pg))
          case "unwrap" => pg
          case "close" | "setAutoCommit" | "commit" | "rollback" => null
          case "isClosed" => java.lang.Boolean.FALSE
          case "toString" => "FakePgConnection"
          case "hashCode" => java.lang.Integer.valueOf(System.identityHashCode(proxy))
          case "equals" => java.lang.Boolean.valueOf(proxy eq args(0))
          case other => throw new UnsupportedOperationException(
            s"FakePg connection: unexpected Connection.$other call")
        }
      }).asInstanceOf[Connection]
  }

  final class Driver extends java.sql.Driver {
    override def connect(url: String, info: java.util.Properties): Connection =
      if (acceptsURL(url)) connection() else null
    override def acceptsURL(url: String): Boolean =
      url != null && url.startsWith("jdbc:postgresql:")
    override def getPropertyInfo(url: String, info: java.util.Properties) =
      Array.empty[java.sql.DriverPropertyInfo]
    override def getMajorVersion: Int = 42
    override def getMinorVersion: Int = 0
    override def jdbcCompliant(): Boolean = false
    override def getParentLogger =
      throw new java.sql.SQLFeatureNotSupportedException()
  }

  /** Idempotent driver registration (lazy val body runs once). */
  lazy val registered: Unit = {
    java.sql.DriverManager.registerDriver(new Driver)
  }

  /** Split a captured binary COPY stream into its raw tuple frames,
    * asserting the exact framing: 19-byte documented header, per-tuple
    * int16 field count + int32 length prefixes, int16 -1 trailer, no
    * trailing bytes. Returns each tuple's bytes (field count + fields)
    * for multiset comparison against
    * [[graft.sources.PgBinaryCopy.encodeRow]]. */
  def tupleFrames(bytes: Array[Byte],
      failOnBadFraming: Boolean = true): Seq[Array[Byte]] = {
    def fail(msg: String): Nothing =
      throw new AssertionError(s"binary COPY framing: $msg")
    val header = graft.sources.PgBinaryCopy.header
    if (bytes.length < header.length + 2)
      if (failOnBadFraming) fail("stream shorter than header+trailer")
      else return Nil
    if (!bytes.take(header.length).sameElements(header))
      if (failOnBadFraming) fail("header mismatch") else return Nil
    val bb = java.nio.ByteBuffer.wrap(bytes, header.length,
      bytes.length - header.length)
    val frames = Vector.newBuilder[Array[Byte]]
    var done = false
    while (!done) {
      if (bb.remaining() < 2) fail("ran out of bytes before trailer")
      val start = bb.position()
      val nFields = bb.getShort()
      if (nFields == -1) {
        if (bb.remaining() != 0) fail(s"${bb.remaining()} bytes after trailer")
        done = true
      } else {
        var i = 0
        while (i < nFields) {
          if (bb.remaining() < 4) fail("truncated field length")
          val len = bb.getInt()
          if (len != -1) {
            if (len < 0 || bb.remaining() < len) fail(s"bad field length $len")
            bb.position(bb.position() + len)
          }
          i += 1
        }
        frames += java.util.Arrays.copyOfRange(bytes, start, bb.position())
      }
    }
    frames.result()
  }
}
