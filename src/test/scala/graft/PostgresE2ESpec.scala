package graft

import java.sql.{SQLException, Timestamp}
import org.scalatest.BeforeAndAfterAll
import graft.config.LtssConfig
import graft.pg.{PgMiniDriver, PgTestServer, PgWire}
import graft.sources.LtssSink

/** The sink's production JDBC paths against a REAL PostgreSQL 15 server
  * — the reference project's own test spine (it boots real database
  * containers and asserts schema outcomes per capability combo,
  * reference tests/pytest/test_databases.py:20-45,57-106 and
  * tests/bats/test_integration.bats:58-148). Everything the Derby suite
  * could not see is here: real `JSONB` DDL, the
  * `INSERT … ON CONFLICT DO NOTHING` fast path executing on the engine
  * that defines it, PostgreSQL's abort-the-transaction-on-error
  * semantics (which broke the old row-by-row conflict replay — fixed
  * with savepoints, regression-pinned below), and SQLSTATEs produced by
  * the server rather than constructed in the test.
  *
  * The server comes from [[graft.pg.PgTestServer]]; if the environment
  * cannot host one, every test cancels with the reason (never a false
  * green). JDBC connectivity is [[graft.pg.PgMiniDriver]] — a
  * test-scope wire-protocol-v3 client (no pgjdbc jar ships in the
  * zero-egress sandbox). */
class PostgresE2ESpec extends SparkSpec with BeforeAndAfterAll {
  import spark.implicits._

  private var state: Either[String, PgTestServer.Server] = Left("server not started")

  override def beforeAll(): Unit = {
    super.beforeAll()
    PgMiniDriver.ensureRegistered
    state = scala.util.Try(PgTestServer.start())
      .fold(e => Left(s"server bootstrap threw: $e"), identity)
  }
  override def afterAll(): Unit = {
    state.foreach(_.stop())
    super.afterAll()
  }

  private def server: PgTestServer.Server = state match {
    case Right(s) => s
    case Left(reason) => cancel(s"real-PostgreSQL e2e unavailable here: $reason")
  }
  private def cfg: LtssConfig = LtssConfig(dbUrl = server.url)
  private def ts(s: String) = Timestamp.valueOf(s)

  /** Run assertions over a throwaway wire connection. */
  private def withWire[T](f: PgWire.Conn => T): T = {
    val w = server.wire()
    try f(w) finally w.close()
  }

  test("bootstrapJdbc on real PostgreSQL: JSONB DDL, composite PK, idempotent re-run") {
    LtssSink.bootstrapJdbc(cfg, table = "ltss_boot")
    LtssSink.bootstrapJdbc(cfg, table = "ltss_boot") // second run: probe, no DDL, no error
    withWire { w =>
      val cols = w.query(
        "SELECT column_name, data_type, is_nullable FROM information_schema.columns " +
          "WHERE table_name = 'ltss_boot' ORDER BY ordinal_position").rows
      assert(cols.map(_(0)) ==
        Vector("time", "entity_id", "state", "attributes", "location"))
      // the adaptive type mapping lands REAL jsonb on this dialect (the
      // Derby run could only ever see CLOB)
      assert(cols.find(_(0) == "attributes").get(1) == "jsonb")
      assert(cols.find(_(0) == "time").get(2) == "NO")
      assert(cols.find(_(0) == "entity_id").get(2) == "NO")
      val pk = w.query(
        "SELECT a.attname FROM pg_index i JOIN pg_attribute a " +
          "ON a.attrelid = i.indrelid AND a.attnum = ANY(i.indkey) " +
          "WHERE i.indrelid = 'ltss_boot'::regclass AND i.indisprimary " +
          "ORDER BY array_position(i.indkey, a.attnum)").rows.map(_(0))
      assert(pk == Vector("time", "entity_id"))
      // jsonb is genuinely typed: the server validates the payload
      val e = intercept[SQLException](w.query(
        "INSERT INTO ltss_boot (time, entity_id, state, attributes) VALUES " +
          "(TIMESTAMP '2024-01-01 00:00:00', 'x.y', '1', 'not json')"))
      assert(e.getSQLState == "22P02", s"expected invalid_text_representation: $e")
    }
  }

  test("extension-adaptive bootstrap on live PG: the pg_available_extensions probe executes and the branch matches the catalog") {
    // the probe the reference runs at every start (__init__.py:273-278),
    // executed here against the real server — the branch taken below is
    // whatever this catalog actually supports, never an assumption
    val available = withWire { w =>
      w.query("SELECT name FROM pg_available_extensions ORDER BY name").rows.map(_(0))
    }
    assert(available.nonEmpty, "a live PostgreSQL always ships at least plpgsql")
    val actions = LtssSink.bootstrapJdbc(cfg, table = "ltss_ext")
    val locType = withWire(_.query(
      "SELECT udt_name FROM information_schema.columns " +
        "WHERE table_name = 'ltss_ext' AND column_name = 'location'").rows.map(_(0)))
    if (available.contains("postgis")) {
      assert(actions.contains("create_extension_postgis"))
      assert(locType == Vector("geometry"))
    } else {
      assert(!actions.exists(_.contains("postgis")))
      assert(locType == Vector("varchar"),
        "without PostGIS the location column must stay the WKT-text wire form")
    }
    if (available.contains("timescaledb"))
      assert(actions.contains("create_hypertable") &&
        actions.contains("set_chunk_time_interval"))
    else
      assert(!actions.exists(_.contains("hypertable")) &&
        !actions.exists(_.contains("chunk_time_interval")))
    assert(actions.contains("create_table"))
    // the reference's create_all makes table + indexes together
    // (models.py:75-80): a REAL GIN index on the real jsonb column,
    // and nothing left pending for the migration ladder — a fresh
    // table must never look "legacy" at the next startup
    val idx = withWire(_.query(
      "SELECT indexname FROM pg_indexes WHERE tablename = 'ltss_ext' " +
        "ORDER BY indexname").rows.map(_(0)))
    assert(idx.contains("ltss_ext_attributes_idx") &&
      idx.contains("ltss_ext_entityid_time_composite_idx"), s"indexes: $idx")
    assert(LtssSink.checkAndMigrate(cfg, table = "ltss_ext", dryRun = true).isEmpty,
      "a freshly bootstrapped table reported pending migrations")
    // idempotent re-run: nothing to create, nothing re-created
    val again = LtssSink.bootstrapJdbc(cfg, table = "ltss_ext")
    assert(!again.contains("create_table"))
  }

  test("hypertable + geometry DDL verified on a timescale/postgis-enabled live server") {
    val available = withWire { w =>
      w.query("SELECT name, default_version FROM pg_available_extensions " +
        "WHERE name IN ('timescaledb','postgis') ORDER BY name").rows
    }
    if (available.isEmpty)
      cancel("hypertable/PostGIS e2e proven unable on this host: the executed " +
        "pg_available_extensions probe lists NEITHER 'timescaledb' NOR 'postgis' " +
        "(PostgreSQL 15 Debian, contrib only) — TimescaleDdlSpec pins the positive " +
        "DDL sequence statement-by-statement against a scripted catalog instead")
    LtssSink.bootstrapJdbc(cfg, table = "ltss_ht")
    if (available.exists(_(0) == "timescaledb")) {
      val ht = withWire(_.query(
        "SELECT hypertable_name FROM timescaledb_information.hypertables " +
          "WHERE hypertable_name = 'ltss_ht'").rows)
      assert(ht.nonEmpty, "created table must be a hypertable when timescaledb is available")
    }
    if (available.exists(_(0) == "postgis")) {
      val srid = withWire(_.query(
        "SELECT srid FROM geometry_columns WHERE f_table_name = 'ltss_ht'").rows.map(_(0)))
      assert(srid == Vector("4326"))
    }
  }

  test("writeJdbc replayed partial commit lands exactly-once via ON CONFLICT DO NOTHING") {
    LtssSink.bootstrapJdbc(cfg, table = "ltss_fast", locationType = "VARCHAR(255)")
    val rows = (1 to 6).map(i =>
      (ts(s"2024-01-01 00:00:0$i.00000$i"), s"sensor.${(i % 3) + 1}", s"$i.5", s"""{"i":$i}"""))
    // an earlier attempt committed SOME partitions (the exact partial-
    // commit shape Spark's per-partition JDBC commits produce)
    withWire { w =>
      rows.take(2).foreach { case (t, e, s, a) =>
        w.query("INSERT INTO ltss_fast (time, entity_id, state, attributes) VALUES " +
          s"(TIMESTAMP '$t', '$e', '$s', '$a')")
      }
    }
    val batch = rows.toDF("time", "entity_id", "state", "attributes").repartition(2)
    // the sink's real entry: each partition's COPY chunk hits the
    // duplicate PK on the real server → that chunk lands through
    // ON CONFLICT DO NOTHING, skipping the committed rows
    LtssSink.writeJdbc(batch, LtssConfig(dbUrl = server.url), table = "ltss_fast",
      retryWaitMs = 1, sleep = _ => ())
    withWire { w =>
      val got = w.query(
        "SELECT entity_id, time, state, attributes FROM ltss_fast ORDER BY time").rows
      assert(got.length == 6, s"exactly-once violated: $got")
      assert(got.map(r => (r(0), r(2))) ==
        rows.map(t => (t._2, t._3)).toVector)
    }
  }

  test("writeJdbc COPY: text escaping and NULL land; a replay lands exactly-once") {
    LtssSink.bootstrapJdbc(cfg, table = "ltss_copy", locationType = "VARCHAR(255)")
    // state carries every COPY-text special character (tab, newline,
    // CR, backslash) — they must round-trip through the escaper, and a
    // SQL NULL must stay NULL (not the literal \N)
    val rows = Seq(
      (ts("2024-01-01 00:00:01.000001"), "sensor.1", "a\tb", """{"i":1}"""),
      (ts("2024-01-01 00:00:02.000002"), "sensor.2", "c\nd\\e\rf", null),
      (ts("2024-01-01 00:00:03.000003"), "sensor.3", "plain", """{"i":3}"""))
    val batch = rows.toDF("time", "entity_id", "state", "attributes")
    LtssSink.writeJdbc(batch, cfg, table = "ltss_copy", retryWaitMs = 1, sleep = _ => ())
    withWire { w =>
      val got = w.query(
        "SELECT entity_id, state, attributes FROM ltss_copy ORDER BY time").rows
      assert(got.map(_(1)) == Vector("a\tb", "c\nd\\e\rf", "plain"),
        s"COPY text escaping diverged: $got")
      assert(got(1)(2) == null, "SQL NULL must survive as NULL, not \\N")
      assert(got(0)(2) == """{"i": 1}""") // jsonb normalizes spacing
    }
    // a full replay plus one new row: the conflict fallback lands
    // exactly the remainder (at-least-once's expected face)
    val replay = (rows :+
      ((ts("2024-01-01 00:00:04.000004"), "sensor.4", "late", """{"i":4}""")))
      .toDF("time", "entity_id", "state", "attributes")
    LtssSink.writeJdbc(replay, cfg, table = "ltss_copy", retryWaitMs = 1, sleep = _ => ())
    withWire { w =>
      val got = w.query(
        "SELECT entity_id FROM ltss_copy ORDER BY time").rows.map(_(0))
      assert(got == Vector("sensor.1", "sensor.2", "sensor.3", "sensor.4"),
        s"replay must land exactly-once: $got")
    }
  }

  test("writeJdbc: a batch that repeats its own PK lands one row and does not throw") {
    LtssSink.bootstrapJdbc(cfg, table = "ltss_selfdup", locationType = "VARCHAR(255)")
    // one COPY chunk that conflicts with itself falls back to
    // ON CONFLICT DO NOTHING, which keeps the first row of the key
    val batch = Seq(
      (ts("2024-02-01 00:00:00"), "b.1", "1", "{}"),
      (ts("2024-02-01 00:00:00"), "b.1", "2", "{}"),
      (ts("2024-02-01 00:00:01"), "b.2", "3", "{}"))
      .toDF("time", "entity_id", "state", "attributes").coalesce(1)
    LtssSink.writeJdbc(batch, cfg, table = "ltss_selfdup", maxRetries = 0,
      retryWaitMs = 1, sleep = _ => ())
    withWire { w =>
      val got = w.query("SELECT entity_id, state FROM ltss_selfdup ORDER BY time").rows
      assert(got == Vector(Vector("b.1", "1"), Vector("b.2", "3")), s"self-duplicate batch: $got")
    }
  }

  test("COPY payload with a surrogate pair straddling the 64 KiB read boundary round-trips") {
    withWire { w =>
      w.query("DROP TABLE IF EXISTS copy_smp")
      w.query("CREATE TABLE copy_smp (v text)")
      // 65535 filler chars put the supplementary character's HIGH
      // surrogate exactly last in the wire client's first 64 Ki-char
      // read — the boundary that used to encode it alone as U+FFFD
      val value = "a" * 65535 + "🙂" + "tail"
      val n = w.copyIn("COPY copy_smp (v) FROM STDIN",
        new java.io.StringReader(value + "\n"))
      assert(n == 1L)
      val got = w.query("SELECT v FROM copy_smp").rows.head.head
      assert(got == value,
        s"non-BMP char split across CopyData reads corrupted: tail=${got.takeRight(8)}")
    }
  }

  test("writeJdbc into timestamptz stores the source instant when the session zone differs") {
    // the reference's own column type (models.py:31, DateTime(timezone=
    // True)): COPY text without an offset is read in the server
    // session's zone, so the stored instant would shift by the gap
    // between that zone and the JVM's
    val rows = Seq(
      (ts("2024-01-01 00:00:00.000001"), "sensor.1"),
      (ts("2024-07-01 12:34:56.5"), "sensor.2"))
    val zone = Seq("Pacific/Kiritimati", "America/Adak").find { z =>
      rows.forall { case (t, _) =>
        java.util.TimeZone.getTimeZone(z).getOffset(t.getTime) !=
          java.util.TimeZone.getDefault.getOffset(t.getTime)
      }
    }.get
    withWire { w =>
      w.query("CREATE DATABASE ltss_tz")
      w.query(s"ALTER DATABASE ltss_tz SET timezone TO '$zone'")
    }
    val tzWire = new PgWire.Conn("127.0.0.1", server.port, "postgres", "ltss_tz")
    try {
      assert(tzWire.query("SHOW timezone").rows.head.head == zone)
      tzWire.query("CREATE TABLE ltss_tstz (time TIMESTAMPTZ NOT NULL, " +
        "entity_id VARCHAR(255) NOT NULL, state VARCHAR(255), attributes JSONB, " +
        "PRIMARY KEY (time, entity_id))")
      val tzCfg = LtssConfig(dbUrl = server.url.replaceFirst("/postgres$", "/ltss_tz"))
      // the bootstrapJdbc table (timestamp without time zone) beside
      // it: the offset must not move its stored wall clock
      LtssSink.bootstrapJdbc(tzCfg, table = "ltss_wall", locationType = "VARCHAR(255)")
      val batch = rows.map { case (t, e) => (t, e, "1", "{}") }
        .toDF("time", "entity_id", "state", "attributes")
      Seq("ltss_tstz", "ltss_wall").foreach(t =>
        LtssSink.writeJdbc(batch, tzCfg, table = t, retryWaitMs = 1, sleep = _ => ()))
      val epochs = tzWire.query("SELECT (extract(epoch FROM time) * 1000000)::bigint " +
        "FROM ltss_tstz ORDER BY entity_id").rows.map(_.head.toLong)
      assert(epochs == rows.map { case (t, _) =>
        Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000 }.toVector,
        s"timestamptz instants shifted under session zone $zone: $epochs")
      val walls = tzWire.query("SELECT to_char(time, 'YYYY-MM-DD HH24:MI:SS.US') " +
        "FROM ltss_wall ORDER BY entity_id").rows.map(_.head)
      assert(walls == Vector("2024-01-01 00:00:00.000001", "2024-07-01 12:34:56.500000"),
        s"timestamp wall clock moved: $walls")
    } finally tzWire.close()
  }

  test("COPY vs batched INSERT throughput, measured on live PG 15") {
    LtssSink.bootstrapJdbc(cfg, table = "ltss_tp_ins", locationType = "VARCHAR(255)")
    LtssSink.bootstrapJdbc(cfg, table = "ltss_tp_cp", locationType = "VARCHAR(255)")
    val n = 20000
    val batch = spark.range(n.toLong).selectExpr(
      "timestampadd(MICROSECOND, CAST(id AS INT), TIMESTAMP '2024-01-01 00:00:00') AS time",
      "concat('sensor.', CAST(id % 50 AS STRING)) AS entity_id",
      "CAST(id AS STRING) AS state",
      """concat('{"i":', id, '}') AS attributes""").coalesce(2)
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    // the INSERT side is the fallback the PostgreSQL path keeps for a
    // connection without COPY (and for a conflicting chunk)
    val tIns = timed(LtssSink.insertIgnoreConflicts(batch, server.url, "ltss_tp_ins",
      " ON CONFLICT DO NOTHING"))
    val tCp = timed(LtssSink.writeJdbc(batch, cfg, table = "ltss_tp_cp",
      retryWaitMs = 1, sleep = _ => ()))
    withWire { w =>
      assert(w.query("SELECT count(*) FROM ltss_tp_ins").rows.head.head == n.toString)
      assert(w.query("SELECT count(*) FROM ltss_tp_cp").rows.head.head == n.toString)
    }
    // numbers on record (the round artifact greps test logs; SCALING.md
    // cites the recorded run): rows/s per path and the ratio
    info(f"batched INSERT: $n rows in $tIns%.2f s = ${n / tIns}%.0f rows/s")
    info(f"COPY protocol:  $n rows in $tCp%.2f s = ${n / tCp}%.0f rows/s " +
      f"(${tIns / tCp}%.1fx vs INSERT)")
  }

  test("effectiveConfig: the live table's location column overrides the flag both ways") {
    // table WITH the column: a config that dropped the flag is overridden
    // back on (once activated, never deactivated — reference models.py:38-43)
    LtssSink.bootstrapJdbc(cfg.copy(enableLocation = true), table = "ltss_det_on",
      locationType = "VARCHAR(255)")
    val on = LtssSink.effectiveConfig(cfg.copy(enableLocation = false), "ltss_det_on")
    assert(on.enableLocation, "existing location column must re-activate the flag")
    // table WITHOUT the column: a config wanting location is overridden off
    LtssSink.bootstrapJdbc(cfg.copy(enableLocation = false), table = "ltss_det_off")
    val off = LtssSink.effectiveConfig(cfg.copy(enableLocation = true), "ltss_det_off")
    assert(!off.enableLocation, "a column the DDL never created cannot be written")
    // missing table: creation follows the config unchanged
    val missing = LtssSink.effectiveConfig(cfg.copy(enableLocation = true), "ltss_det_nope")
    assert(missing.enableLocation)
  }

  test("effectiveConfig escapes LIKE wildcards: a sibling's location column can't flip the flag") {
    // `_` in getColumns is a LIKE wildcard unless escaped: the probe for
    // `ltss_wc` would ALSO match `ltssXwc`, merge in ITS location column,
    // and wrongly re-activate the flag for a table whose DDL cannot hold
    // the write. The sibling with location exists; the probed table does not
    // have the column.
    LtssSink.bootstrapJdbc(cfg.copy(enableLocation = true), table = "ltssXwc",
      locationType = "VARCHAR(255)")
    LtssSink.bootstrapJdbc(cfg.copy(enableLocation = false), table = "ltss_wc")
    val probed = LtssSink.effectiveConfig(cfg.copy(enableLocation = true), "ltss_wc")
    assert(!probed.enableLocation,
      "unescaped `_` merged a wildcard-sibling's columns into the probe")
  }

  test("upsertJdbc: late corrections overwrite stored rows, inserts land, PK-dups collapse") {
    LtssSink.bootstrapJdbc(cfg, table = "ltss_up", locationType = "VARCHAR(255)")
    val t1 = ts("2024-02-01 00:00:01"); val t2 = ts("2024-02-01 00:00:02")
    val t3 = ts("2024-02-01 00:00:03")
    withWire { w =>
      w.query("INSERT INTO ltss_up (time, entity_id, state, attributes) VALUES " +
        s"(TIMESTAMP '$t1', 'sensor.1', 'stale', '{}'), " +
        s"(TIMESTAMP '$t2', 'sensor.1', 'keep', '{}')")
    }
    // the correction batch: overwrites t1, inserts t3, and carries an
    // internal PK duplicate for t3 (the dedupByPk survivor — min state —
    // must win deterministically before the single-statement upsert)
    val batch = Seq(
      (t1, "sensor.1", "corrected", """{"v":1}"""),
      (t3, "sensor.1", "b_second", """{"v":3}"""),
      (t3, "sensor.1", "a_first", """{"v":3}"""))
      .toDF("time", "entity_id", "state", "attributes")
    LtssSink.upsertJdbc(batch, LtssConfig(dbUrl = server.url), table = "ltss_up")
    withWire { w =>
      val got = w.query(
        "SELECT time, state FROM ltss_up ORDER BY time").rows
      assert(got.length == 3, s"row set wrong after upsert: $got")
      assert(got.map(_(1)) == Vector("corrected", "keep", "a_first"),
        s"upsert semantics violated: $got")
    }
    // non-Postgres dialect refuses loudly rather than emulating
    val err = intercept[IllegalArgumentException] {
      LtssSink.upsertJdbc(batch, LtssConfig(dbUrl = "jdbc:derby:memory:x"), "t")
    }
    assert(err.getMessage.contains("ON CONFLICT DO UPDATE"))
  }

  test("savepoint conflict replay survives PostgreSQL's abort-on-error transactions") {
    // the generic-dialect path (suffix = "") on a server that POISONS
    // the transaction at the first violation: without per-row
    // savepoints every row after the first conflict dies 25P02 and the
    // remainder is silently lost — the regression the Derby-only suite
    // could not catch (Derby keeps the transaction alive)
    LtssSink.bootstrapJdbc(cfg, table = "ltss_generic", locationType = "VARCHAR(255)")
    val rows = (1 to 6).map(i =>
      (ts(s"2024-02-01 00:00:0$i"), s"light.$i", s"$i", "{}"))
    withWire { w =>
      // conflicts INTERLEAVED (rows 2 and 4): rows 3, 5, 6 must still land
      Seq(1, 3).foreach { i =>
        val (t, e, s, a) = rows(i)
        w.query("INSERT INTO ltss_generic (time, entity_id, state, attributes) VALUES " +
          s"(TIMESTAMP '$t', '$e', '$s', '$a')")
      }
    }
    val batch = rows.toDF("time", "entity_id", "state", "attributes").coalesce(1)
    LtssSink.insertIgnoreConflicts(batch, server.url, "ltss_generic", suffix = "")
    withWire { w =>
      val got = w.query("SELECT entity_id FROM ltss_generic ORDER BY time").rows.map(_(0))
      assert(got == rows.map(_._2).toVector,
        s"remainder lost after mid-chunk conflict: $got")
    }
  }

  test("streaming ingest lands in real PostgreSQL: queryable JSONB, WKT location, P4 drop") {
    // the ingest's JDBC branch reaches writeJdbc, i.e. the COPY path
    import java.nio.file.{Files, Paths}
    val in = Files.createTempDirectory("pg-stream-in").toString
    val ckpt = Files.createTempDirectory("pg-stream-ckpt").toString
    // event 3 carries attributes that are NOT valid JSON: the P4 drop
    // must catch it BEFORE the sink — a real JSONB column rejects the
    // payload server-side (22P02), and an undropped poison event would
    // wedge the stream at that batch forever
    Files.writeString(Paths.get(in, "b1.json"),
      """{"event_id":1,"ts":"2024-01-01T00:00:00.000001Z","user_id":1,"event_type":"sensor","value":21.5,"props":"{\"latitude\": 1.5, \"longitude\": 2.5}"}
        |{"event_id":2,"ts":"2024-01-01T00:00:01.000001Z","user_id":2,"event_type":"sensor","value":7.25,"props":"{\"k\": 3}"}
        |{"event_id":3,"ts":"2024-01-01T00:00:02.000001Z","user_id":3,"event_type":"sensor","value":1.0,"props":"not json"}
        |""".stripMargin)
    val c = LtssConfig(dbUrl = server.url, enableLocation = true)
    val q = graft.streaming.StreamingIngest.start(
      graft.streaming.StreamingIngest.readJsonEvents(spark, in), c, "", ckpt)
    graft.streaming.StreamingIngest.drainAndStop(q)
    withWire { w =>
      // the JSONB landed QUERYABLE by the reference's own idiom —
      // server-side ->> extraction, not just a stored string
      val rows = w.query(
        "SELECT entity_id, state, attributes ->> 'k' AS k, location " +
          "FROM ltss ORDER BY entity_id").rows
      assert(rows.map(_(0)) == Vector("sensor.1", "sensor.2"),
        s"expected exactly the two valid events: $rows")
      assert(rows(1)(2) == "3", s"JSONB ->> extraction failed: $rows")
      // the signature geo feature end-to-end: popped lat/lon became the
      // reference's WKT wire format (models.py:61), and the popped keys
      // are gone from the stored attributes
      assert(rows(0)(3) == "SRID=4326;POINT(2.5 1.5)", s"WKT mismatch: $rows")
      assert(rows(1)(3) == null)
      val attrs1 = w.query(
        "SELECT attributes FROM ltss WHERE entity_id = 'sensor.1'").rows.head.head
      assert(!attrs1.contains("latitude"), s"popped key leaked into JSONB: $attrs1")
    }
  }

  test("drain-and-cutover runbook mechanized: rewound re-read lands, output equals the uninterrupted run") {
    import java.nio.file.{Files, Paths}
    // The full runbook as ONE callable chain (steps 1-6): ingest events
    // 1-3, drain + manifest, checkpoint moved aside, restart from a
    // REWOUND source (files covering events 2-5 — overlap {2, 3}
    // re-emits) through the same sink, and the stored table must equal
    // the uninterrupted run's rows exactly once each. March 2024 PKs —
    // disjoint from the sibling ingest test in the shared ltss table.
    def line(i: Int) =
      s"""{"event_id":$i,"ts":"2024-03-01T00:00:0$i.000001Z","user_id":$i,"event_type":"sensor","value":$i.5,"props":"{\\"k\\": $i}"}"""
    val in1 = Files.createTempDirectory("pg-cut-in1").toString
    val ckpt = Files.createTempDirectory("pg-cut-ckpt").toString + "/ck"
    Files.writeString(Paths.get(in1, "b1.json"),
      (1 to 3).map(line).mkString("", "\n", "\n"))
    val c = LtssConfig(dbUrl = server.url)
    val q = graft.streaming.StreamingIngest.start(
      graft.streaming.StreamingIngest.readJsonEvents(spark, in1), c, "", ckpt)
    val res = graft.streaming.StreamingIngest.cutover(q, ckpt) {
      (frontier, freshCkpt) =>
        // the file-source rewind: re-include files covering event time
        // >= F (this map-only pipeline has no watermark, so F is None
        // and the replay window is the caller's retained log — here
        // events 2-5, overlapping the already-landed 2 and 3)
        assert(frontier.isEmpty, s"map-only ingest has no watermark: $frontier")
        assert(freshCkpt == ckpt && !new java.io.File(ckpt).exists(),
          "the restart must get the SAME path, vacated")
        val in2 = Files.createTempDirectory("pg-cut-in2").toString
        Files.writeString(Paths.get(in2, "b2.json"),
          (2 to 5).map(line).mkString("", "\n", "\n"))
        graft.streaming.StreamingIngest.start(
          graft.streaming.StreamingIngest.readJsonEvents(spark, in2),
          c, "", freshCkpt) // runbook step 6
    }
    graft.streaming.StreamingIngest.drainAndStop(res.restarted)
    // the manifest recorded the drain and the rewind targets
    assert(res.manifest.drained && res.manifest.sourceEndOffsets.nonEmpty,
      s"manifest incomplete: ${res.manifest}")
    // the old checkpoint is the rollback — moved aside, intact
    val rb = res.rollbackCheckpoint
    assert(new java.io.File(rb).isDirectory &&
      new java.io.File(rb).listFiles().nonEmpty,
      s"rollback checkpoint must survive the cutover: $rb")
    withWire { w =>
      val rows = w.query(
        "SELECT entity_id, state, attributes ->> 'k' AS k FROM ltss " +
          "WHERE time >= TIMESTAMP '2024-03-01 00:00:00' " +
          "AND time < TIMESTAMP '2024-04-01 00:00:00' ORDER BY entity_id").rows
      // equal to the uninterrupted run: every event exactly once, the
      // overlap skipped rather than duplicated or conflicted
      assert(rows.map(_(0)) == (1 to 5).map(i => s"sensor.$i").toVector,
        s"cutover output diverged from the uninterrupted run: $rows")
      assert(rows.zipWithIndex.forall { case (r, i) =>
        r(1) == s"${i + 1}.50" && r(2) == s"${i + 1}" }, // P1's 2-dp state format
        s"overlap rows must carry the recomputed (identical) payload: $rows")
    }
  }

  test("streaming ingest: a trigger whose commit entry was lost replays and lands every row once") {
    import java.nio.file.{Files, Paths}
    // April 2024 PKs — disjoint from the sibling ingest tests in the
    // shared ltss table
    def line(i: Int) =
      s"""{"event_id":$i,"ts":"2024-04-01T00:00:0$i.000001Z","user_id":$i,"event_type":"sensor","value":$i.5,"props":"{}"}"""
    val in = Files.createTempDirectory("pg-c3-in").toString
    val ckpt = Files.createTempDirectory("pg-c3-ckpt").toString
    Files.writeString(Paths.get(in, "b1.json"), (1 to 3).map(line).mkString("\n"))
    val c = LtssConfig(dbUrl = server.url, enableLocation = false)
    graft.streaming.StreamingIngest.drainAndStop(graft.streaming.StreamingIngest.start(
      graft.streaming.StreamingIngest.readJsonEvents(spark, in), c, "", ckpt))
    // the trigger's rows reached the table but its commits/<id> entry
    // did not: the restart re-runs that trigger from its offsets entry
    val commits = new java.io.File(ckpt, "commits")
    val newest = commits.listFiles().map(_.getName).filter(_.forall(_.isDigit)).maxBy(_.toLong)
    assert(new java.io.File(commits, newest).delete())
    new java.io.File(commits, s".$newest.crc").delete()
    Files.writeString(Paths.get(in, "b2.json"), line(4))
    val q2 = graft.streaming.StreamingIngest.start(
      graft.streaming.StreamingIngest.readJsonEvents(spark, in), c, "", ckpt)
    graft.streaming.StreamingIngest.drainAndStop(q2)
    assert(q2.recentProgress.exists(p => p.batchId == newest.toLong && p.numInputRows == 3),
      "the restart did not replay the uncommitted trigger")
    withWire { w =>
      val rows = w.query("SELECT entity_id FROM ltss " +
        "WHERE time >= TIMESTAMP '2024-04-01 00:00:00' " +
        "AND time < TIMESTAMP '2024-05-01 00:00:00' ORDER BY entity_id").rows.map(_(0))
      assert(rows == (1 to 4).map(i => s"sensor.$i").toVector, s"replayed trigger: $rows")
    }
  }

  test("importJdbc: partitioned migration read of a live reference table into the layout") {
    // the day-one user story: history lives in the reference's
    // PostgreSQL table — one partitioned Spark read brings it over,
    // WKT locations parse back to the engine's struct, and the chunked
    // layout + chunk exclusion work on the imported rows
    withWire { w =>
      w.query("CREATE TABLE ltss_import (time TIMESTAMP NOT NULL, " +
        "entity_id VARCHAR(255) NOT NULL, state VARCHAR(255), attributes JSONB, " +
        "location VARCHAR(255), PRIMARY KEY (time, entity_id))")
      val months = Seq("01", "03", "06")
      for (m <- months; i <- 1 to 4)
        w.query("INSERT INTO ltss_import VALUES (" +
          s"TIMESTAMP '2024-$m-0$i 00:00:0$i.00000$i', 'sensor.$i', '$i.5', " +
          s"""'{"k": $i}', ${if (i % 2 == 0) s"'SRID=4326;POINT($i.25 -$i.5)'" else "NULL"})""")
    }
    val imported = LtssSink.importJdbc(spark, cfg, "ltss_import", numPartitions = 4)
    // the read is genuinely range-partitioned on the time axis
    assert(imported.rdd.getNumPartitions == 4,
      s"expected 4 time-range partitions, got ${imported.rdd.getNumPartitions}")
    assert(imported.count() == 12)
    // WKT round-trips back to the struct the rest of the engine speaks
    val restored = imported.withColumn("location",
      LtssSink.locationFromWkt(org.apache.spark.sql.functions.col("location")))
    val loc2 = restored.filter(org.apache.spark.sql.functions.col("entity_id") === "sensor.2")
      .select("location.lon", "location.lat").distinct().collect()
    assert(loc2.map(r => (r.getDouble(0), r.getDouble(1))).toSet == Set((2.25, -2.5)))
    // land the chunked layout and prove chunk exclusion on imported data
    val out = java.nio.file.Files.createTempDirectory("pg-import-layout").toString
    LtssSink.writeParquet(restored, out,
      mode = org.apache.spark.sql.SaveMode.Overwrite)
    val jan = LtssSink.chunkScan(spark, out,
      ts("2024-01-01 00:00:00"), ts("2024-01-31 00:00:00"))
    assert(jan.count() == 4)
    assert(jan.queryExecution.executedPlan.toString.contains("PartitionFilters"))
  }

  test("checkAndMigrate: the reference migration ladder replayed on a legacy deployment") {
    // the EXACT legacy shape migrations.py repairs: surrogate id PK,
    // attributes stored as TEXT, the old per-column entity_id index
    withWire { w =>
      w.query("CREATE TABLE ltss_mig (id SERIAL, " +
        "time TIMESTAMP NOT NULL, entity_id VARCHAR(255) NOT NULL, " +
        "state VARCHAR(255), attributes TEXT, PRIMARY KEY (id))")
      w.query("CREATE INDEX ix_ltss_mig_entity_id ON ltss_mig (entity_id)")
      w.query("INSERT INTO ltss_mig (time, entity_id, state, attributes) VALUES " +
        "(TIMESTAMP '2024-01-01 00:00:00', 'sensor.a', '1', '{\"unit\": \"C\"}'), " +
        "(TIMESTAMP '2024-01-01 00:00:01', 'sensor.b', '2', '{\"unit\": \"F\"}')")
    }
    val applied = LtssSink.checkAndMigrate(cfg, table = "ltss_mig")
    assert(applied == Seq("attributes_text_to_jsonb", "attributes_index",
      "entityid_time_composite_index", "drop_entityid_index", "remove_id_column"),
      s"migration ladder diverged: $applied")
    withWire { w =>
      // the current schema: no id, typed jsonb attributes
      val cols = w.query(
        "SELECT column_name, udt_name FROM information_schema.columns " +
          "WHERE table_name = 'ltss_mig' ORDER BY ordinal_position").rows
      assert(cols.map(_(0)) == Vector("time", "entity_id", "state", "attributes"))
      assert(cols.find(_(0) == "attributes").get(1) == "jsonb")
      // the PK moved to the composite key (migrations.py:88-95)
      val pk = w.query(
        "SELECT a.attname FROM pg_index i JOIN pg_attribute a " +
          "ON a.attrelid = i.indrelid AND a.attnum = ANY(i.indkey) " +
          "WHERE i.indrelid = 'ltss_mig'::regclass AND i.indisprimary " +
          "ORDER BY array_position(i.indkey, a.attnum)").rows.map(_(0))
      assert(pk == Vector("time", "entity_id"))
      // new indexes present, the superseded one gone
      val idx = w.query("SELECT indexname FROM pg_indexes " +
        "WHERE tablename = 'ltss_mig'").rows.map(_(0)).toSet
      assert(idx.contains("ltss_mig_attributes_idx"), idx)
      assert(idx.contains("ltss_mig_entityid_time_composite_idx"), idx)
      assert(!idx.contains("ix_ltss_mig_entity_id"), idx)
      // data survived and is REAL jsonb now: the server's ->> operator
      // (the reference's whole point in migrating) works on it
      val got = w.query(
        "SELECT entity_id, attributes->>'unit' FROM ltss_mig ORDER BY time").rows
      assert(got == Vector(Vector("sensor.a", "C"), Vector("sensor.b", "F")))
    }
    // idempotence: a second run finds a current table and touches nothing
    assert(LtssSink.checkAndMigrate(cfg, table = "ltss_mig").isEmpty)
    // and the migrated table accepts the sink's production write path,
    // composite-PK conflict handling included
    val batch = Seq(
      (ts("2024-01-02 00:00:00"), "sensor.c", "3", """{"unit": "K"}"""),
      (ts("2024-01-01 00:00:00"), "sensor.a", "9", """{"unit": "X"}"""))
      .toDF("time", "entity_id", "state", "attributes")
    LtssSink.writeJdbc(batch, LtssConfig(dbUrl = server.url), table = "ltss_mig",
      retryWaitMs = 1, sleep = _ => ())
    withWire { w =>
      val after = w.query("SELECT entity_id, state FROM ltss_mig ORDER BY time, entity_id").rows
      assert(after == Vector(Vector("sensor.a", "1"), Vector("sensor.b", "2"),
        Vector("sensor.c", "3")), s"post-migration ingest diverged: $after")
    }
  }

  test("checkAndMigrate applies only the steps a PARTIALLY-migrated table still needs") {
    // mixed legacy state: attributes already JSONB (step 1 done by an
    // earlier run or a newer deployment) but the surrogate id and the
    // old index ladder remain — each step must probe independently,
    // exactly like the reference's inspector-driven ladder
    withWire { w =>
      w.query("CREATE TABLE ltss_mig2 (id SERIAL, " +
        "time TIMESTAMP NOT NULL, entity_id VARCHAR(255) NOT NULL, " +
        "state VARCHAR(255), attributes JSONB, PRIMARY KEY (id))")
      w.query("CREATE INDEX ix_ltss_mig2_entity_id ON ltss_mig2 (entity_id)")
      w.query("INSERT INTO ltss_mig2 (time, entity_id, state, attributes) VALUES " +
        "(TIMESTAMP '2024-01-01 00:00:00', 'sensor.a', '1', '{\"k\": 1}')")
    }
    val applied = LtssSink.checkAndMigrate(cfg, table = "ltss_mig2")
    assert(applied == Seq("attributes_index", "entityid_time_composite_index",
      "drop_entityid_index", "remove_id_column"),
      s"partial ladder diverged (text->jsonb must be skipped): $applied")
    withWire { w =>
      val cols = w.query(
        "SELECT column_name FROM information_schema.columns " +
          "WHERE table_name = 'ltss_mig2' ORDER BY ordinal_position").rows.map(_(0))
      assert(cols == Vector("time", "entity_id", "state", "attributes"))
      assert(w.query("SELECT attributes->>'k' FROM ltss_mig2").rows ==
        Vector(Vector("1")))
    }
    assert(LtssSink.checkAndMigrate(cfg, table = "ltss_mig2").isEmpty)
  }

  test("checkAndMigrate converges a crashed ladder and a renamed table's PK name") {
    // two robustness cases beyond the reference's own ladder: (a) a run
    // that crashed between CREATE composite-index and DROP old-index
    // left the legacy index behind — the reference's nested form
    // (migrations.py:43-46) would never revisit it; probing each step
    // independently converges. (b) the table was RENAMED at some point,
    // so its PK constraint kept the ORIGINAL name — the reference's
    // hardcoded <table>_pkey drop would silently no-op and the PK add
    // would fail with "multiple primary keys".
    withWire { w =>
      w.query("CREATE TABLE ltss_mig3_old (id SERIAL, " +
        "time TIMESTAMP NOT NULL, entity_id VARCHAR(255) NOT NULL, " +
        "state VARCHAR(255), attributes JSONB, PRIMARY KEY (id))")
      w.query("ALTER TABLE ltss_mig3_old RENAME TO ltss_mig3") // pk stays ltss_mig3_old_pkey
      w.query("CREATE INDEX ix_ltss_mig3_entity_id ON ltss_mig3 (entity_id)")
      w.query("CREATE INDEX ltss_mig3_entityid_time_composite_idx " +
        "ON ltss_mig3 (entity_id, time DESC)") // the crashed run's survivor
      w.query("INSERT INTO ltss_mig3 (time, entity_id, state, attributes) VALUES " +
        "(TIMESTAMP '2024-01-01 00:00:00', 'sensor.a', '1', '{\"k\": 1}')")
    }
    val applied = LtssSink.checkAndMigrate(cfg, table = "ltss_mig3")
    assert(applied == Seq("attributes_index", "drop_entityid_index", "remove_id_column"),
      s"crashed ladder must converge without re-creating the composite: $applied")
    withWire { w =>
      val pk = w.query(
        "SELECT a.attname FROM pg_index i JOIN pg_attribute a " +
          "ON a.attrelid = i.indrelid AND a.attnum = ANY(i.indkey) " +
          "WHERE i.indrelid = 'ltss_mig3'::regclass AND i.indisprimary " +
          "ORDER BY array_position(i.indkey, a.attnum)").rows.map(_(0))
      assert(pk == Vector("time", "entity_id"), s"renamed-PK swap failed: $pk")
      val idx = w.query("SELECT indexname FROM pg_indexes " +
        "WHERE tablename = 'ltss_mig3'").rows.map(_(0)).toSet
      assert(!idx.contains("ix_ltss_mig3_entity_id"), idx)
      val cols = w.query("SELECT column_name FROM information_schema.columns " +
        "WHERE table_name = 'ltss_mig3'").rows.map(_(0)).toSet
      assert(!cols.contains("id"), cols)
    }
    assert(LtssSink.checkAndMigrate(cfg, table = "ltss_mig3").isEmpty)
  }

  test("checkAndMigrate on a table name containing a single quote (ADVICE r14: literal vs identifier escaping)") {
    // the two SQL contexts need DIFFERENT escapes: probes embed the
    // name as a string literal (single quote doubled), DDL as a quoted
    // identifier (single quote passes through raw). r14 fed the
    // literal-escaped form to the identifier quoter, so probes and DDL
    // referenced different names for a table like this one.
    withWire { w =>
      w.query("CREATE TABLE \"ltss'q\" (id SERIAL, " +
        "time TIMESTAMP NOT NULL, entity_id VARCHAR(255) NOT NULL, " +
        "state VARCHAR(255), attributes TEXT, PRIMARY KEY (id))")
      w.query("CREATE INDEX \"ix_ltss'q_entity_id\" ON \"ltss'q\" (entity_id)")
      w.query("INSERT INTO \"ltss'q\" (time, entity_id, state, attributes) VALUES " +
        "(TIMESTAMP '2024-01-01 00:00:00', 'sensor.a', '1', '{\"k\": 1}')")
    }
    val applied = LtssSink.checkAndMigrate(cfg, table = "ltss'q")
    assert(applied == Seq("attributes_text_to_jsonb", "attributes_index",
      "entityid_time_composite_index", "drop_entityid_index", "remove_id_column"),
      s"quoted-name ladder diverged: $applied")
    withWire { w =>
      val idx = w.query("SELECT indexname FROM pg_indexes " +
        "WHERE tablename = 'ltss''q'").rows.map(_(0)).toSet
      assert(idx.contains("ltss'q_attributes_idx") &&
        idx.contains("ltss'q_entityid_time_composite_idx") &&
        !idx.contains("ix_ltss'q_entity_id"), idx)
      val cols = w.query("SELECT column_name, udt_name FROM information_schema.columns " +
        "WHERE table_name = 'ltss''q'").rows
      assert(!cols.map(_(0)).contains("id") &&
        cols.find(_(0) == "attributes").exists(_(1) == "jsonb"), cols)
    }
    assert(LtssSink.checkAndMigrate(cfg, table = "ltss'q").isEmpty)
  }

  test("real-server SQLSTATEs drive the sink classifier") {
    withWire { w =>
      w.query("CREATE TABLE IF NOT EXISTS ltss_states " +
        "(k INT PRIMARY KEY, v TEXT)")
      w.query("INSERT INTO ltss_states VALUES (1, 'a') ON CONFLICT DO NOTHING")
      // 23505 unique_violation, produced by the engine
      val dup = intercept[SQLException](w.query("INSERT INTO ltss_states VALUES (1, 'b')"))
      assert(dup.getSQLState == "23505")
      assert(LtssSink.isConflict(dup) && !LtssSink.isTransient(dup))
      // 42P01 undefined_table → neither retryable nor a conflict
      val missing = intercept[SQLException](w.query("SELECT * FROM graft_no_such_table"))
      assert(missing.getSQLState == "42P01")
      assert(!LtssSink.isConflict(missing) && !LtssSink.isTransient(missing))
      // the abort-on-error semantics the savepoint replay exists for:
      // after an error inside BEGIN, every statement is 25P02 until
      // ROLLBACK — and 25P02 is correctly NOT a conflict (fail loud,
      // not skip)
      w.query("BEGIN")
      intercept[SQLException](w.query("SELECT 1/0"))
      val poisoned = intercept[SQLException](w.query("SELECT 1"))
      assert(poisoned.getSQLState == "25P02")
      assert(!LtssSink.isConflict(poisoned) && !LtssSink.isTransient(poisoned))
      w.query("ROLLBACK")
    }
    // connection refused (nothing listens on the reserved port the test
    // server is NOT on) classifies transient — the class bootstrapJdbc's
    // retry loop keys on
    val refused = intercept[SQLException] {
      java.sql.DriverManager.getConnection("jdbc:postgresql://127.0.0.1:1/postgres")
    }
    assert(refused.getSQLState == "08001")
    assert(LtssSink.isTransient(refused) && !LtssSink.isConflict(refused))
  }
}
