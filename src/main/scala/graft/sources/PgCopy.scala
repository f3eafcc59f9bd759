package graft.sources

/** The PostgreSQL COPY-IN capability a JDBC connection may expose.
  *
  * `java.sql` has no bulk-load surface, so every PostgreSQL client
  * exposes COPY through a driver-specific side door — pgjdbc through
  * `PGConnection.getCopyAPI.copyIn(sql, reader)`, which
  * [[LtssSink.copyApiOf]] reaches reflectively (no compile-time pgjdbc
  * dependency), and any other driver by implementing THIS interface on
  * its `Connection` (the sandbox's test-scope wire client does). The
  * contract mirrors pgjdbc's `CopyManager.copyIn`: run the given
  * `COPY … FROM STDIN` statement feeding it the reader's text-format
  * payload, return the row count, throw `SQLException` with the
  * server's SQLSTATE on failure (a mid-COPY constraint violation must
  * surface as its 23xxx state so the sink's conflict classifier sees
  * it).
  */
trait PgCopy {
  // @throws matters: the contract says failures surface as checked
  // SQLException, and a java.lang.reflect.Proxy implementing this
  // trait (how a wire client mixes it onto Connection) can only
  // rethrow a checked exception DECLARED on the method — without the
  // clause it wraps in UndeclaredThrowableException and the sink's
  // SQLSTATE classifiers never see it
  @throws[java.sql.SQLException]
  def copyIn(sql: String, data: java.io.Reader): Long
}
