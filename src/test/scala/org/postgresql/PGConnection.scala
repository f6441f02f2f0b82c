package org.postgresql

/** Test-scope stand-in for pgjdbc's `PGConnection` interface.
  *
  * The production COPY writer ([[graft.sources.PgBinaryCopy]]) never
  * links against pgjdbc — it reaches CopyManager reflectively via
  * `Class.forName("org.postgresql.PGConnection")` so the library
  * carries zero compile-time JDBC deps. Placing this interface on the TEST
  * classpath makes that reflective path resolvable in the sandbox
  * (which ships no pgjdbc), so the e2e specs can drive the real
  * byte-streaming code against [[graft.FakePg]]'s capturing fake.
  * Method shape matches pgjdbc's public API (`getCopyAPI` returning
  * the CopyManager).
  */
trait PGConnection {
  def getCopyAPI: AnyRef
}
