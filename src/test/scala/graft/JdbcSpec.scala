package graft

import java.sql.SQLException
import graft.config.LtssConfig
import graft.sources.LtssSink

/** JDBC sink failure-classification and replay semantics, driven by the
  * Postgres SQLSTATE classes the production target emits (the reference
  * sink is Postgres/TimescaleDB, __init__.py:201-244) and exercised
  * end-to-end against embedded Derby. */
class JdbcSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private def sqlEx(state: String) = new SQLException(s"state $state", state)
  private def wrapped(state: String) = new RuntimeException(
    "Job aborted", new RuntimeException("task failed", sqlEx(state)))

  test("SQLSTATE classifier: Postgres transient / conflict / fail-fast classes") {
    // 08xxx connection failures, 53xxx resource exhaustion, 57P03
    // cannot_connect_now → transient (retryable)
    for (s <- Seq("08000", "08003", "08006", "53000", "53300", "57P03")) {
      assert(LtssSink.isTransient(sqlEx(s)), s"$s should classify transient")
      assert(LtssSink.isTransient(wrapped(s)), s"wrapped $s should classify transient")
      assert(!LtssSink.isConflict(sqlEx(s)), s"$s is not a conflict")
    }
    // 23xxx integrity violations (23505 = unique_violation) → conflict
    for (s <- Seq("23000", "23505")) {
      assert(LtssSink.isConflict(sqlEx(s)), s"$s should classify conflict")
      assert(LtssSink.isConflict(wrapped(s)), s"wrapped $s should classify conflict")
      assert(!LtssSink.isTransient(sqlEx(s)), s"$s is not transient")
    }
    // 28xxx auth, 42xxx syntax, 3D000 missing database → neither:
    // waiting cannot fix these, the write must fail fast
    for (s <- Seq("28000", "28P01", "42601", "3D000")) {
      assert(!LtssSink.isTransient(sqlEx(s)), s"$s must fail fast")
      assert(!LtssSink.isConflict(sqlEx(s)), s"$s is not a conflict")
    }
    // JDBC standard exception subclasses classify without a state string
    assert(LtssSink.isTransient(new java.sql.SQLTransientConnectionException("down")))
    assert(LtssSink.isConflict(
      new java.sql.SQLIntegrityConstraintViolationException("dup")))
  }

  test("bootstrap retries each transient class, fails fast on auth (Postgres states)") {
    for (s <- Seq("08006", "53300", "57P03")) {
      var attempts = 0
      val url = s"jdbc:derby:memory:graftc_${System.nanoTime()};create=true"
      LtssSink.bootstrapJdbc(LtssConfig(dbUrl = url), retryWaitMs = 1, sleep = _ => (),
        connect = { u =>
          attempts += 1
          if (attempts <= 2) throw sqlEx(s)
          java.sql.DriverManager.getConnection(u)
        })
      assert(attempts == 3, s"state $s should have been retried twice then connect")
    }
    // auth failure: no retry, the first error surfaces — and the
    // give-up is announced before the throw (the reference's "LTSS
    // could not start" persistent notification, __init__.py:141-153)
    var attempts = 0
    val notices = scala.collection.mutable.ArrayBuffer.empty[String]
    val thrown = intercept[SQLException] {
      LtssSink.bootstrapJdbc(LtssConfig(dbUrl = "jdbc:derby:memory:na"), retryWaitMs = 1,
        sleep = _ => (), connect = { _ => attempts += 1; throw sqlEx("28P01") },
        log = notices += _)
    }
    assert(attempts == 1 && thrown.getSQLState == "28P01")
    assert(notices.exists(_.contains("LTSS could not start")),
      s"give-up must surface a user-visible notice, got: $notices")
  }

  test("PK-conflict replay retries the uncommitted remainder — partial commits are not dropped") {
    val url = s"jdbc:derby:memory:graftpc_${System.nanoTime()};create=true"
    val cfg = LtssConfig(dbUrl = url, enableLocation = false)
    LtssSink.bootstrapJdbc(cfg)
    def row(t: String, e: String, st: String) = (ts(t), e, st, s"""{"v":"$st"}""")
    // an earlier attempt committed SOME of the batch (each partition
    // commits on its own): rows 1-2 are already in the table
    LtssSink.writeJdbc(
      Seq(row("2024-01-01 00:00:00", "a.1", "1"), row("2024-01-01 00:00:01", "a.2", "2"))
        .toDF("time", "entity_id", "state", "attributes"),
      cfg, retryWaitMs = 1)
    // the replayed FULL batch holds the committed rows plus never-committed
    // ones, spread over several partitions → a chunk conflicts; Derby has
    // no ON CONFLICT, so the chunk replays row by row under savepoints,
    // skipping the stored keys without reading them back
    val replay = Seq(
      row("2024-01-01 00:00:00", "a.1", "1"), row("2024-01-01 00:00:01", "a.2", "2"),
      row("2024-01-01 00:00:02", "a.3", "3"), row("2024-01-01 00:00:03", "a.4", "4"))
      .toDF("time", "entity_id", "state", "attributes").repartition(3)
    LtssSink.writeJdbc(replay, cfg, maxRetries = 1, retryWaitMs = 1, sleep = _ => ())
    val back = spark.read.jdbc(url, "ltss", new java.util.Properties())
    assert(back.count() == 4, "never-committed rows were dropped on conflict")
    assert(back.select("entity_id").as[String].collect().sorted.toSeq ==
      Seq("a.1", "a.2", "a.3", "a.4"))
    // committed rows kept their original values (conflicts skipped, not upserted)
    assert(back.filter($"entity_id" === "a.1").select("state").as[String].head() == "1")
  }

  test("Postgres fast path: dialect detection and the one-statement conflict insert") {
    assert(LtssSink.postgresDialect("jdbc:postgresql://db:5432/ltss"))
    assert(LtssSink.postgresDialect("jdbc:postgresql:ltss"))
    assert(!LtssSink.postgresDialect("jdbc:derby:memory:x"))
    assert(!LtssSink.postgresDialect("jdbc:mysql://db/ltss"))
    // the remainder lands in ONE statement shape: every batch column,
    // positional binds, the conflict clause handled by the database
    assert(LtssSink.insertSql("ltss",
      Seq("time", "entity_id", "state", "attributes"), " ON CONFLICT DO NOTHING") ==
      "INSERT INTO ltss (time, entity_id, state, attributes) " +
        "VALUES (?, ?, ?, ?) ON CONFLICT DO NOTHING")
  }

  test("conflict-tolerant insert lands the remainder without reading keys back") {
    // the executor-side insert path the Postgres branch drives — run
    // end-to-end on Derby (suffix "" → the same statement minus the
    // clause; chunk conflicts replay row-by-row swallowing 23505, which
    // is exactly what ON CONFLICT DO NOTHING does server-side)
    val url = s"jdbc:derby:memory:graftoc_${System.nanoTime()};create=true"
    val cfg = LtssConfig(dbUrl = url, enableLocation = false)
    LtssSink.bootstrapJdbc(cfg)
    def row(t: String, e: String, st: String) = (ts(t), e, st, s"""{"v":"$st"}""")
    LtssSink.writeJdbc(
      Seq(row("2024-01-01 00:00:00", "a.1", "1"), row("2024-01-01 00:00:01", "a.2", "2"))
        .toDF("time", "entity_id", "state", "attributes"),
      cfg, retryWaitMs = 1)
    // replayed batch: two committed PKs + two new rows across partitions
    val replay = Seq(
      row("2024-01-01 00:00:00", "a.1", "1"), row("2024-01-01 00:00:01", "a.2", "2"),
      row("2024-01-01 00:00:02", "a.3", "3"), row("2024-01-01 00:00:03", "a.4", "4"))
      .toDF("time", "entity_id", "state", "attributes").repartition(3)
    LtssSink.insertIgnoreConflicts(replay, url, "ltss", "")
    val back = spark.read.jdbc(url, "ltss", new java.util.Properties())
    assert(back.count() == 4, "conflict-tolerant insert dropped or duplicated rows")
    assert(back.select("entity_id").as[String].collect().sorted.toSeq ==
      Seq("a.1", "a.2", "a.3", "a.4"))
    // committed rows kept their original values (conflicts skipped, not upserted)
    assert(back.filter($"entity_id" === "a.1").select("state").as[String].head() == "1")
  }

  test("isConflict sees the duplicate key behind a BatchUpdateException (nextException chain)") {
    val dup = sqlEx("23505")
    val bue = new java.sql.BatchUpdateException("batch failed", "XJ208", Array(1), null)
    bue.setNextException(dup)
    assert(LtssSink.isConflict(bue))
    assert(LtssSink.isConflict(new RuntimeException("job aborted", bue)))
  }

  test("a batch that repeats its own PK lands one row and does not throw") {
    val url = s"jdbc:derby:memory:graftsd_${System.nanoTime()};create=true"
    val cfg = LtssConfig(dbUrl = url, enableLocation = false)
    LtssSink.bootstrapJdbc(cfg)
    // two rows, one PK, one partition: the chunk conflicts with itself;
    // the database keeps the first and skips the second, as the
    // reference's drop-on-PK-conflict does (__init__.py:229-231)
    val selfDup = Seq(
      (ts("2024-02-01 00:00:00"), "b.1", "1", "{}"),
      (ts("2024-02-01 00:00:00"), "b.1", "2", "{}"),
      (ts("2024-02-01 00:00:01"), "b.2", "3", "{}"))
      .toDF("time", "entity_id", "state", "attributes").coalesce(1)
    LtssSink.writeJdbc(selfDup, cfg, maxRetries = 0, retryWaitMs = 1, sleep = _ => ())
    val back = spark.read.jdbc(url, "ltss", new java.util.Properties())
    assert(back.select("entity_id").as[String].collect().sorted.toSeq == Seq("b.1", "b.2"))
    assert(back.filter($"entity_id" === "b.1").select("state").as[String].head() == "1")
  }

  /** A java.sql.Connection + org.postgresql.PGConnection proxy whose
    * reflective getCopyAPI returns the given fake manager — the exact
    * shape `copyApiOf`'s production branch probes for. */
  private def fakePgConnection(mgr: org.postgresql.FakeCopyManager): java.sql.Connection = {
    val pgIface = classOf[org.postgresql.PGConnection]
    val handler = new java.lang.reflect.InvocationHandler {
      def invoke(proxy: AnyRef, m: java.lang.reflect.Method,
          args: Array[AnyRef]): AnyRef = m.getName match {
        case "isWrapperFor" =>
          java.lang.Boolean.valueOf(args(0).asInstanceOf[Class[_]] == pgIface)
        case "unwrap" => proxy
        case "getCopyAPI" => mgr
        case "close" => null
        case "hashCode" => Integer.valueOf(System.identityHashCode(proxy))
        case "equals" => java.lang.Boolean.valueOf(proxy eq args(0))
        case "toString" => "fake-pg-connection"
        case other => throw new UnsupportedOperationException(other)
      }
    }
    java.lang.reflect.Proxy.newProxyInstance(
      getClass.getClassLoader,
      Array(classOf[java.sql.Connection], pgIface), handler)
      .asInstanceOf[java.sql.Connection]
  }

  test("copyTimestamp: the JVM wall clock plus its UTC offset names the exact instant") {
    // COPY text feeds timestamptz columns too: the offset pins the
    // stored instant whatever the server session's zone, and the
    // wall-clock prefix is what a timestamp column keeps. Zones cover a
    // half-hour offset, a negative DST offset and a seconds-precision
    // LMT offset (Amsterdam 1900: +00:19:32).
    val saved = java.util.TimeZone.getDefault
    try for ((zone, wall) <- Seq(
        "Asia/Kolkata" -> "2024-01-01 00:00:00.000001",
        "America/St_Johns" -> "2024-07-01 12:34:56.5",
        "Europe/Amsterdam" -> "1900-06-01 00:00:00.0")) {
      java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone(zone))
      val t = java.sql.Timestamp.valueOf(wall)
      val txt = LtssSink.copyTimestamp(t)
      assert(txt.startsWith(wall), s"$zone: wall clock changed: $txt")
      assert(java.time.OffsetDateTime.parse(txt.replace(' ', 'T')).toInstant == t.toInstant,
        s"$zone: $txt does not name the source instant")
    } finally java.util.TimeZone.setDefault(saved)
  }

  test("reflective pgjdbc COPY surface: conflict SQLException reaches the caller unwrapped") {
    // the happy face: the reflective chain dispatches and returns the count
    val okMgr = new org.postgresql.FakeCopyManager(None)
    val ok = LtssSink.copyApiOf(fakePgConnection(okMgr))
    assert(ok.isDefined, "reflective surface should be detected")
    assert(ok.get("COPY t FROM STDIN", new java.io.StringReader("abc\n")) == 4L)
    assert(okMgr.calls == 1)
    // the conflict face: Method.invoke wraps the server's SQLException in
    // InvocationTargetException; copyIntoPg's chunk fallback matches on
    // `case e: SQLException if isConflict(e)` — the lambda must rethrow
    // the CAUSE, or the production driver never falls back chunk-wise
    val dupMgr = new org.postgresql.FakeCopyManager(Some("23505"))
    val dup = LtssSink.copyApiOf(fakePgConnection(dupMgr)).get
    val e = intercept[SQLException] {
      dup("COPY t FROM STDIN", new java.io.StringReader("x\n"))
    }
    assert(LtssSink.isConflict(e),
      "the unwrapped exception must classify as a PK conflict")
  }
}
