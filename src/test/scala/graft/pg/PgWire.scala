package graft.pg

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8
import java.sql.{BatchUpdateException, Connection, DriverManager, SQLException, SQLFeatureNotSupportedException}

/** TEST-SCOPE minimal PostgreSQL client: the frontend/backend wire
  * protocol v3 (startup + Simple Query flow only), written from the
  * public protocol specification — PostgreSQL docs, "Frontend/Backend
  * Protocol, Message Formats" (protocol.html / protocol-message-formats
  * .html, PostgreSQL 15). The sandbox ships a real PostgreSQL 15 server
  * but NO pgjdbc jar (zero egress), and the sink's production paths
  * ([[graft.sources.LtssSink.bootstrapJdbc]], `writeJdbc`,
  * `insertIgnoreConflicts`) speak `java.sql` — so this file provides the
  * thinnest honest bridge: a socket client for the documented message
  * formats, plus a just-enough `java.sql.Driver` (reflective proxies;
  * anything a code path doesn't use throws
  * SQLFeatureNotSupportedException rather than faking an answer). This
  * is deliberately NOT a production driver — no TLS, no SCRAM (the test
  * server runs `--auth=trust`), no extended-query protocol, no COPY —
  * and lives in test scope so the library itself carries no JDBC
  * driver of its own.
  *
  * Parameters are interpolated client-side as SQL literals (the Simple
  * Query flow has no binds). That is exactly what the e2e spec needs:
  * the SERVER-side semantics under test — DDL idempotence, `ON CONFLICT
  * DO NOTHING`, SQLSTATE classes, transaction abort-on-error — are
  * independent of how parameter values travel.
  */
object PgWire {

  /** One Simple Query round trip's worth of results: the accumulated
    * row block (last result set if the SQL had several statements),
    * every CommandComplete tag in order, and the transaction status
    * from the closing ReadyForQuery ('I' idle / 'T' in txn / 'E'
    * aborted txn). */
  final case class Result(
      columns: Vector[String],
      typeOids: Vector[Int],
      rows: Vector[Vector[String]],
      tags: Vector[String],
      txnStatus: Char)

  /** SQLException carrying the server's real SQLSTATE (ErrorResponse
    * field 'C') — the thing the sink's classifier reads. */
  final class PgException(message: String, sqlState: String)
      extends SQLException(message, sqlState)

  final class Conn(host: String, port: Int, user: String, db: String) {
    private val sock = new Socket(host, port)
    sock.setTcpNoDelay(true)
    private val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
    private val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
    @volatile var txnStatus: Char = 'I'
    @volatile private var closed = false

    // ---- startup: StartupMessage (no type byte), then read to ReadyForQuery
    locally {
      val params = s"user\u0000$user\u0000database\u0000$db\u0000\u0000".getBytes(UTF_8)
      out.writeInt(8 + params.length)
      out.writeInt(196608) // protocol version 3.0
      out.write(params)
      out.flush()
      var ready = false
      while (!ready) {
        val (t, body) = readMessage()
        t match {
          case 'R' => // AuthenticationRequest; 0 = AuthenticationOk (trust)
            if (int32(body, 0) != 0)
              throw new PgException(
                s"server requested auth method ${int32(body, 0)}; this client only " +
                  "supports trust", "08004")
          case 'S' | 'K' | 'N' => () // ParameterStatus / BackendKeyData / Notice
          case 'Z' => txnStatus = body(0).toChar; ready = true
          case 'E' => throw errorFrom(body)
          case other =>
            throw new PgException(s"unexpected startup message '$other'", "08P01")
        }
      }
    }

    /** Simple Query ('Q'): runs `sql` (possibly multi-statement) and
      * drains the response to ReadyForQuery. An ErrorResponse is
      * collected, the stream is still drained to ReadyForQuery (so the
      * connection stays usable), and THEN thrown. */
    def query(sql: String): Result = synchronized {
      if (closed) throw new PgException("connection is closed", "08003")
      val b = sql.getBytes(UTF_8)
      out.writeByte('Q')
      out.writeInt(4 + b.length + 1)
      out.write(b)
      out.writeByte(0)
      out.flush()
      var cols = Vector.empty[String]
      var oids = Vector.empty[Int]
      val rows = Vector.newBuilder[Vector[String]]
      val tags = Vector.newBuilder[String]
      var err: SQLException = null
      var ready = false
      while (!ready) {
        val (t, body) = readMessage()
        t match {
          case 'T' => // RowDescription: int16 n, then per-field cstring name + 18B
            val (names, typeOids) = parseRowDescription(body)
            cols = names
            oids = typeOids
            rows.clear()
          case 'D' => rows += parseDataRow(body)
          case 'C' => tags += cstring(body, 0)._1
          case 'I' => () // EmptyQueryResponse
          case 'N' | 'S' | 'A' => () // Notice / ParameterStatus / Notification
          case 'E' => if (err == null) err = errorFrom(body)
          case 'Z' => txnStatus = body(0).toChar; ready = true
          case other =>
            throw new PgException(s"unexpected message '$other' in query flow", "08P01")
        }
      }
      if (err != null) throw err
      Result(cols, oids, rows.result(), tags.result(), txnStatus)
    }

    /** COPY-IN subprotocol: run a `COPY … FROM STDIN` statement and
      * stream the reader's text-format payload as CopyData messages.
      * The server answers the Query with CopyInResponse ('G'); data
      * flows as 'd' frames, CopyDone ('c') closes, and the tail drains
      * to ReadyForQuery exactly like [[query]] — an ErrorResponse
      * (e.g. 23505 on a replayed batch) is collected, the stream still
      * drains, and THEN throws with the server's SQLSTATE, leaving the
      * connection usable. Returns the `COPY n` row count. */
    def copyIn(sql: String, data: java.io.Reader): Long = synchronized {
      copyInFrames(sql) { () =>
        // each read's chars encode as one CopyData frame; a HIGH
        // SURROGATE landing last in a read is held back and prepended
        // to the next (encoding it alone would emit U+FFFD and corrupt
        // any non-BMP code point that straddled the 64 KiB boundary) —
        // only a genuinely unpaired surrogate at EOF still encodes as
        // the replacement char, which is what it is
        val buf = new Array[Char](65536)
        def frame(len: Int): Unit = if (len > 0) {
          val bytes = new String(buf, 0, len).getBytes(UTF_8)
          out.writeByte('d') // CopyData
          out.writeInt(4 + bytes.length)
          out.write(bytes)
        }
        var carry = 0
        var n = data.read(buf, carry, buf.length - carry)
        while (n > 0) {
          val total = carry + n
          val emit =
            if (Character.isHighSurrogate(buf(total - 1))) total - 1 else total
          frame(emit)
          if (emit < total) { buf(0) = buf(total - 1); carry = 1 } else carry = 0
          n = data.read(buf, carry, buf.length - carry)
        }
        frame(carry)
      }
    }

    /** The COPY-IN protocol frame around [[copyIn]]'s payload: send the
      * Query, await CopyInResponse, let `writeData` emit its
      * CopyData frames, close with CopyDone (or CopyFail on an IO
      * error), drain to ReadyForQuery collecting any ErrorResponse,
      * THEN throw with the server's SQLSTATE — connection stays
      * usable. Returns the `COPY n` count. */
    private def copyInFrames(sql: String)(writeData: () => Unit): Long = {
      if (closed) throw new PgException("connection is closed", "08003")
      val b = sql.getBytes(UTF_8)
      out.writeByte('Q')
      out.writeInt(4 + b.length + 1)
      out.write(b)
      out.writeByte(0)
      out.flush()
      var err: SQLException = null
      var inCopy = false
      var ready = false
      var rowsCopied = 0L
      while (!inCopy && !ready) {
        val (t, body) = readMessage()
        t match {
          case 'G' => inCopy = true // CopyInResponse
          case 'E' => if (err == null) err = errorFrom(body)
          case 'N' | 'S' | 'A' => ()
          case 'Z' => txnStatus = body(0).toChar; ready = true
          case other => throw new PgException(
            s"unexpected message '$other' awaiting CopyInResponse", "08P01")
        }
      }
      if (inCopy) {
        try {
          writeData()
          out.writeByte('c') // CopyDone
          out.writeInt(4)
          out.flush()
        } catch {
          case e: java.io.IOException =>
            val msg = s"graft copy aborted: ${e.getMessage}".getBytes(UTF_8)
            out.writeByte('f') // CopyFail
            out.writeInt(4 + msg.length + 1)
            out.write(msg)
            out.writeByte(0)
            out.flush()
        }
        while (!ready) {
          val (t, body) = readMessage()
          t match {
            case 'C' =>
              val tag = cstring(body, 0)._1
              if (tag.startsWith("COPY "))
                rowsCopied = tag.substring(5).trim.toLong
            case 'E' => if (err == null) err = errorFrom(body)
            case 'N' | 'S' | 'A' => ()
            case 'Z' => txnStatus = body(0).toChar; ready = true
            case other => throw new PgException(
              s"unexpected message '$other' in copy flow", "08P01")
          }
        }
      }
      if (err != null) throw err
      rowsCopied
    }

    def close(): Unit = synchronized {
      if (!closed) {
        closed = true
        try { out.writeByte('X'); out.writeInt(4); out.flush() } catch { case _: Exception => () }
        try sock.close() catch { case _: Exception => () }
      }
    }
    def isClosed: Boolean = closed

    // ---- wire plumbing
    private def readMessage(): (Char, Array[Byte]) = {
      val t = in.readByte().toChar
      val len = in.readInt()
      val body = new Array[Byte](len - 4)
      in.readFully(body)
      (t, body)
    }
    private def int32(b: Array[Byte], o: Int): Int =
      ((b(o) & 0xFF) << 24) | ((b(o + 1) & 0xFF) << 16) | ((b(o + 2) & 0xFF) << 8) | (b(o + 3) & 0xFF)
    private def int16(b: Array[Byte], o: Int): Int =
      ((b(o) & 0xFF) << 8) | (b(o + 1) & 0xFF)
    private def cstring(b: Array[Byte], o: Int): (String, Int) = {
      var e = o
      while (b(e) != 0) e += 1
      (new String(b, o, e - o, UTF_8), e + 1)
    }
    private def parseRowDescription(b: Array[Byte]): (Vector[String], Vector[Int]) = {
      val n = int16(b, 0)
      var off = 2
      val fields = (0 until n).map { _ =>
        val (name, next) = cstring(b, off)
        // after the name: tableOid i32, attnum i16, typOid i32,
        // typlen i16, typmod i32, fmt i16 — 18 bytes
        val typOid = int32(b, next + 6)
        off = next + 18
        (name, typOid)
      }.toVector
      (fields.map(_._1), fields.map(_._2))
    }
    private def parseDataRow(b: Array[Byte]): Vector[String] = {
      val n = int16(b, 0)
      var off = 2
      (0 until n).map { _ =>
        val len = int32(b, off)
        off += 4
        if (len < 0) null
        else {
          val s = new String(b, off, len, UTF_8)
          off += len
          s
        }
      }.toVector
    }
    private def errorFrom(body: Array[Byte]): SQLException = {
      // ErrorResponse: repeated [field-type byte][cstring], terminated by \0
      var off = 0
      var state = ""
      var msg = ""
      while (body(off) != 0) {
        val code = body(off).toChar
        val (v, next) = cstring(body, off + 1)
        code match {
          case 'C' => state = v
          case 'M' => msg = v
          case _ => ()
        }
        off = next
      }
      new PgException(s"ERROR: $msg", state)
    }
  }

  // ------------------------------------------------------------------
  // SQL literal rendering for client-side parameter interpolation.
  // standard_conforming_strings is on by default in PostgreSQL 15, so a
  // quoted literal only needs '' doubling (backslash is an ordinary
  // character).
  // ------------------------------------------------------------------
  def literal(v: AnyRef): String = v match {
    case null => "NULL"
    case s: String =>
      if (s.indexOf('\u0000') >= 0)
        throw new SQLException("PostgreSQL text cannot contain NUL", "22021")
      "'" + s.replace("'", "''") + "'"
    case t: java.sql.Timestamp => "TIMESTAMP '" + t.toString + "'" // µs survive toString
    case d: java.sql.Date => "DATE '" + d.toString + "'"
    case b: java.lang.Boolean => if (b) "TRUE" else "FALSE"
    case b: Array[Byte] =>
      "'\\x" + b.map(x => f"$x%02x").mkString + "'"
    case d: java.math.BigDecimal => d.toPlainString
    case n: java.lang.Number => n.toString
    case other =>
      throw new SQLFeatureNotSupportedException(
        s"PgWire.literal: unsupported bind type ${other.getClass.getName}")
  }

  /** Replace each `?` OUTSIDE single-quoted spans with the next literal. */
  def interpolate(sql: String, params: IndexedSeq[AnyRef]): String = {
    val sb = new StringBuilder(sql.length + 64)
    var i = 0
    var p = 0
    var inQuote = false
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (c == '\'') { inQuote = !inQuote; sb.append(c) }
      else if (c == '?' && !inQuote) {
        if (p >= params.length)
          throw new SQLException(s"missing bind for placeholder ${p + 1}", "07001")
        sb.append(literal(params(p)))
        p += 1
      } else sb.append(c)
      i += 1
    }
    sb.toString
  }
}

/** The just-enough `java.sql.Driver` over [[PgWire]]. A top-level class
  * with a public no-arg constructor on purpose: Spark's DriverRegistry
  * resolves the driver by class name and instantiates it reflectively
  * on executors. Register once via [[PgMiniDriver.ensureRegistered]]
  * before handing a `jdbc:postgresql:` URL to production code. */
final class PgMiniDriver extends java.sql.Driver {
  override def acceptsURL(url: String): Boolean =
    url != null && url.startsWith("jdbc:postgresql:")

  override def connect(url: String, info: java.util.Properties): Connection = {
    if (!acceptsURL(url)) return null // per JDBC contract: not ours
    // jdbc:postgresql://host:port/db[?k=v...]
    val m = PgMiniDriver.UrlRe.findFirstMatchIn(url).getOrElse(
      throw new SQLException(s"malformed PostgreSQL JDBC URL: $url", "08001"))
    val user = Option(info).flatMap(p => Option(p.getProperty("user"))).getOrElse("postgres")
    val wire =
      try new PgWire.Conn(m.group(1), m.group(2).toInt, user, m.group(3))
      catch {
        case e: SQLException => throw e
        case e: java.io.IOException =>
          // sqlclient_unable_to_establish_sqlconnection — the class the
          // sink's isTransient retry loop keys on
          throw new SQLException(s"could not connect to ${m.group(1)}:${m.group(2)}: " +
            e.getMessage, "08001", e)
      }
    PgMiniDriver.connection(wire)
  }

  override def getMajorVersion: Int = 0
  override def getMinorVersion: Int = 1
  override def jdbcCompliant(): Boolean = false
  override def getPropertyInfo(url: String, info: java.util.Properties) =
    Array.empty[java.sql.DriverPropertyInfo]
  override def getParentLogger =
    throw new SQLFeatureNotSupportedException("getParentLogger")
}

object PgMiniDriver {
  private[pg] val UrlRe = "^jdbc:postgresql://([^:/]+):(\\d+)/([^?]+)".r

  /** Idempotent DriverManager registration (lazy val = once per JVM). */
  lazy val ensureRegistered: Unit = DriverManager.registerDriver(new PgMiniDriver)

  // ---- reflective proxy plumbing -----------------------------------
  private def proxy[T](iface: Class[T], extra: Class[_]*)(
      h: PartialFunction[(String, Array[AnyRef]), AnyRef]): T =
    java.lang.reflect.Proxy.newProxyInstance(
      getClass.getClassLoader,
      (iface +: extra).toArray[Class[_]],
      (px: AnyRef, m: java.lang.reflect.Method, rawArgs: Array[AnyRef]) => {
        val args = if (rawArgs == null) Array.empty[AnyRef] else rawArgs
        m.getName match {
          case "toString" => s"PgMini(${iface.getSimpleName})"
          case "hashCode" => Int.box(System.identityHashCode(px))
          case "equals" => Boolean.box(args.length == 1 && (args(0) eq px))
          case name if h.isDefinedAt((name, args)) => h((name, args))
          case name =>
            throw new SQLFeatureNotSupportedException(
              s"PgMiniDriver ${iface.getSimpleName}.$name: not implemented " +
                "(test-scope driver implements only what the sink paths use)")
        }
      }).asInstanceOf[T]

  private val Empty: AnyRef = null

  /** Connection over one wire socket. JDBC transaction semantics:
    * autoCommit=true by default; with autoCommit=false a BEGIN is sent
    * lazily before the first statement outside a transaction, and
    * commit()/rollback() close it — statement-level recovery inside an
    * aborted PostgreSQL transaction requires the SAVEPOINT surface,
    * which is wired through to the server verbatim. */
  private[pg] def connection(wire: PgWire.Conn): Connection = {
    var autoCommit = true
    var spCounter = 0

    def exec(sql: String): PgWire.Result = {
      if (!autoCommit && wire.txnStatus == 'I') wire.query("BEGIN")
      wire.query(sql)
    }

    // the Connection proxy ALSO implements the sink's [[graft.sources
    // .PgCopy]] surface — the COPY side door pgjdbc exposes through
    // PGConnection.getCopyAPI, here wired straight to the protocol
    lazy val conn: Connection = proxy(
      classOf[Connection], classOf[graft.sources.PgCopy]) {
      case ("copyIn", Array(sql: String, data: java.io.Reader)) =>
        if (!autoCommit && wire.txnStatus == 'I') wire.query("BEGIN")
        Long.box(wire.copyIn(sql, data))
      case ("createStatement", _) => statement(exec)
      case ("prepareStatement", Array(sql: String)) => prepared(sql, exec)
      case ("prepareStatement", Array(sql: String, _: java.lang.Integer, _: java.lang.Integer)) =>
        // the (type, concurrency) hints — FORWARD_ONLY/READ_ONLY from
        // Spark's JDBCRDD — are already this client's only behavior
        prepared(sql, exec)
      case ("setAutoCommit", Array(b: java.lang.Boolean)) =>
        if (b && wire.txnStatus != 'I') wire.query("COMMIT")
        autoCommit = b
        Empty
      case ("getAutoCommit", _) => Boolean.box(autoCommit)
      case ("commit", _) =>
        if (wire.txnStatus != 'I') wire.query("COMMIT")
        Empty
      case ("rollback", Array()) =>
        if (wire.txnStatus != 'I') wire.query("ROLLBACK")
        Empty
      case ("setSavepoint", Array()) =>
        spCounter += 1
        val name = s"graft_sp_$spCounter"
        exec(s"SAVEPOINT $name")
        proxy(classOf[java.sql.Savepoint]) {
          case ("getSavepointName", _) => name
        }
      case ("rollback", Array(sp: java.sql.Savepoint)) =>
        wire.query(s"ROLLBACK TO SAVEPOINT ${sp.getSavepointName}")
        Empty
      case ("releaseSavepoint", Array(sp: java.sql.Savepoint)) =>
        wire.query(s"RELEASE SAVEPOINT ${sp.getSavepointName}")
        Empty
      case ("close", _) => wire.close(); Empty
      case ("isClosed", _) => Boolean.box(wire.isClosed)
      case ("isValid", _) => Boolean.box(!wire.isClosed)
      case ("getMetaData", _) => metaData(wire, exec)
      case ("getSchema", _) =>
        // the first schema on the effective search path — what pgjdbc
        // reports; lets effectiveConfig constrain its metadata probe
        exec("SELECT current_schema()").rows.headOption.map(_.head).orNull
      case ("setTransactionIsolation", Array(level: java.lang.Integer)) =>
        val name = level.intValue match {
          case Connection.TRANSACTION_READ_UNCOMMITTED => "READ UNCOMMITTED"
          case Connection.TRANSACTION_READ_COMMITTED => "READ COMMITTED"
          case Connection.TRANSACTION_REPEATABLE_READ => "REPEATABLE READ"
          case Connection.TRANSACTION_SERIALIZABLE => "SERIALIZABLE"
          case other => throw new SQLException(s"unknown isolation level $other")
        }
        wire.query(s"SET SESSION CHARACTERISTICS AS TRANSACTION ISOLATION LEVEL $name")
        Empty
      case ("getTransactionIsolation", _) =>
        Int.box(Connection.TRANSACTION_READ_COMMITTED)
      case ("clearWarnings" | "setCatalog" | "setClientInfo", _) => Empty
      case ("getWarnings", _) => Empty
      case ("getCatalog", _) => "postgres"
    }
    conn
  }

  private def updateCount(tags: Vector[String]): Int =
    // CommandComplete tag: "INSERT 0 n" / "UPDATE n" / "DELETE n" / "CREATE TABLE"
    tags.lastOption.flatMap(_.split(' ').lastOption)
      .flatMap(s => scala.util.Try(s.toInt).toOption).getOrElse(0)

  private def statement(exec: String => PgWire.Result): java.sql.Statement =
    proxy(classOf[java.sql.Statement]) {
      case ("execute", Array(sql: String)) =>
        Boolean.box(exec(sql).columns.nonEmpty)
      case ("executeUpdate", Array(sql: String)) => Int.box(updateCount(exec(sql).tags))
      case ("executeQuery", Array(sql: String)) => resultSet(exec(sql))
      case ("close" | "setQueryTimeout" | "cancel" | "clearWarnings", _) => Empty
      case ("isClosed", _) => Boolean.box(false)
      case ("getWarnings", _) => Empty
    }

  private def prepared(sql: String, exec: String => PgWire.Result): java.sql.PreparedStatement = {
    val params = scala.collection.mutable.ArrayBuffer.empty[AnyRef]
    val batch = scala.collection.mutable.ArrayBuffer.empty[String]
    def setParam(i: Int, v: AnyRef): AnyRef = {
      while (params.length < i) params += null
      params(i - 1) = v
      Empty
    }
    proxy(classOf[java.sql.PreparedStatement]) {
      case ("setObject", Array(i: java.lang.Integer, v)) => setParam(i, v)
      case ("setString", Array(i: java.lang.Integer, v)) => setParam(i, v)
      case ("setTimestamp", Array(i: java.lang.Integer, v)) => setParam(i, v)
      case ("setDate", Array(i: java.lang.Integer, v)) => setParam(i, v)
      case ("setInt", Array(i: java.lang.Integer, v)) => setParam(i, v)
      case ("setLong", Array(i: java.lang.Integer, v)) => setParam(i, v)
      case ("setShort", Array(i: java.lang.Integer, v)) => setParam(i, v)
      case ("setByte", Array(i: java.lang.Integer, v)) => setParam(i, v)
      case ("setDouble", Array(i: java.lang.Integer, v)) => setParam(i, v)
      case ("setFloat", Array(i: java.lang.Integer, v)) => setParam(i, v)
      case ("setBigDecimal", Array(i: java.lang.Integer, v)) => setParam(i, v)
      case ("setBoolean", Array(i: java.lang.Integer, v)) => setParam(i, v)
      case ("setBytes", Array(i: java.lang.Integer, v)) => setParam(i, v)
      case ("setNull", Array(i: java.lang.Integer, _)) => setParam(i, null)
      case ("clearParameters", _) => params.clear(); Empty
      case ("addBatch", Array()) =>
        batch += PgWire.interpolate(sql, params.toIndexedSeq)
        Empty
      case ("clearBatch", _) => batch.clear(); Empty
      case ("executeBatch", _) =>
        // one Simple Query message per batch: statements run in order,
        // the first error aborts the rest (and, inside an explicit
        // transaction, aborts the transaction — real server semantics
        // the sink's replay paths must survive)
        if (batch.isEmpty) Array.empty[Int]
        else {
          val joined = batch.mkString(";\n")
          val n = batch.length
          batch.clear()
          try {
            exec(joined)
            Array.fill(n)(1)
          } catch {
            case e: SQLException =>
              val bue = new BatchUpdateException(
                e.getMessage, e.getSQLState, 0, Array.empty[Int], e)
              bue.setNextException(e)
              throw bue
          }
        }
      case ("executeUpdate", Array()) =>
        Int.box(updateCount(exec(PgWire.interpolate(sql, params.toIndexedSeq)).tags))
      case ("executeQuery", Array()) =>
        resultSet(exec(PgWire.interpolate(sql, params.toIndexedSeq)))
      case ("execute", Array()) =>
        Boolean.box(exec(PgWire.interpolate(sql, params.toIndexedSeq)).columns.nonEmpty)
      case ("close" | "setQueryTimeout" | "cancel" | "clearWarnings" |
            "setFetchSize" | "setFetchDirection", _) => Empty
      case ("isClosed", _) => Boolean.box(false)
      case ("getWarnings", _) => Empty
    }
  }

  private def resultSet(r: PgWire.Result): java.sql.ResultSet = {
    var idx = -1
    var lastWasNull = false
    def cell(i: Int): String = {
      val v = r.rows(idx)(i - 1)
      lastWasNull = v == null
      v
    }
    def colIndex(label: String): Int = {
      val i = r.columns.indexWhere(_.equalsIgnoreCase(label))
      if (i < 0) throw new SQLException(s"no column '$label'", "42703")
      i + 1
    }
    proxy(classOf[java.sql.ResultSet]) {
      case ("next", _) =>
        idx += 1
        Boolean.box(idx < r.rows.length)
      case ("close", _) => Empty
      case ("wasNull", _) => Boolean.box(lastWasNull)
      case ("getString", Array(i: java.lang.Integer)) => cell(i)
      case ("getString", Array(label: String)) => cell(colIndex(label))
      case ("getInt", Array(i: java.lang.Integer)) =>
        Int.box(Option(cell(i)).map(_.toInt).getOrElse(0))
      case ("getLong", Array(i: java.lang.Integer)) =>
        Long.box(Option(cell(i)).map(_.toLong).getOrElse(0L))
      case ("getTimestamp", Array(i: java.lang.Integer)) =>
        Option(cell(i)).map(java.sql.Timestamp.valueOf).orNull
      case ("getDate", Array(i: java.lang.Integer)) =>
        Option(cell(i)).map(java.sql.Date.valueOf).orNull
      case ("getDouble", Array(i: java.lang.Integer)) =>
        Double.box(Option(cell(i)).map(_.toDouble).getOrElse(0d))
      case ("getFloat", Array(i: java.lang.Integer)) =>
        Float.box(Option(cell(i)).map(_.toFloat).getOrElse(0f))
      case ("getBigDecimal", Array(i: java.lang.Integer)) =>
        Option(cell(i)).map(new java.math.BigDecimal(_)).orNull
      case ("getBoolean", Array(i: java.lang.Integer)) =>
        Boolean.box(Option(cell(i)).exists(v => v == "t" || v == "true"))
      case ("getMetaData", _) => resultSetMetaData(r)
    }
  }

  /** ResultSetMetaData from the RowDescription's type OIDs (pg_type's
    * stable built-in OIDs, a documented public catalog surface) — what
    * Spark's JDBC source reads when it probes a table's schema with
    * `SELECT * FROM t WHERE 1=0`. */
  private def resultSetMetaData(r: PgWire.Result): java.sql.ResultSetMetaData = {
    import java.sql.Types
    def sqlType(oid: Int): (Int, String) = oid match {
      case 16 => (Types.BOOLEAN, "bool")
      case 20 => (Types.BIGINT, "int8")
      case 21 => (Types.SMALLINT, "int2")
      case 23 => (Types.INTEGER, "int4")
      case 25 => (Types.VARCHAR, "text")
      case 700 => (Types.REAL, "float4")
      case 701 => (Types.DOUBLE, "float8")
      case 1042 => (Types.CHAR, "bpchar")
      case 1043 => (Types.VARCHAR, "varchar")
      case 1082 => (Types.DATE, "date")
      case 1114 => (Types.TIMESTAMP, "timestamp")
      case 1700 => (Types.NUMERIC, "numeric")
      case 17 => (Types.BINARY, "bytea")
      case 3802 => (Types.OTHER, "jsonb")
      case _ => (Types.OTHER, s"oid_$oid")
    }
    proxy(classOf[java.sql.ResultSetMetaData]) {
      case ("getColumnCount", _) => Int.box(r.columns.length)
      case ("getColumnName" | "getColumnLabel", Array(i: java.lang.Integer)) =>
        r.columns(i - 1)
      case ("getColumnType", Array(i: java.lang.Integer)) =>
        Int.box(sqlType(r.typeOids(i - 1))._1)
      case ("getColumnTypeName", Array(i: java.lang.Integer)) =>
        sqlType(r.typeOids(i - 1))._2
      case ("getPrecision", Array(i: java.lang.Integer)) =>
        Int.box(if (r.typeOids(i - 1) == 1700) 38 else 255)
      case ("getScale", Array(i: java.lang.Integer)) =>
        Int.box(if (r.typeOids(i - 1) == 1700) 18 else 0)
      case ("isSigned", Array(_)) => Boolean.box(true)
      case ("isNullable", Array(_)) =>
        Int.box(java.sql.ResultSetMetaData.columnNullableUnknown)
      case ("isCaseSensitive", Array(_)) => Boolean.box(true)
    }
  }

  /** DatabaseMetaData: the sink's catalog probe (`getTables`) answered
    * from information_schema, plus the transaction-capability constants
    * Spark's JDBC writer consults before wrapping a partition in a
    * transaction. */
  private def metaData(wire: PgWire.Conn, exec: String => PgWire.Result): java.sql.DatabaseMetaData =
    proxy(classOf[java.sql.DatabaseMetaData]) {
      case ("getTables", Array(_, schemaPattern, namePattern: String, _)) =>
        // JDBC getTables patterns have LIKE semantics; null schema = any
        val schemaFilter = schemaPattern match {
          case s: String => s"AND table_schema LIKE ${PgWire.literal(s)} "
          case _ => ""
        }
        resultSet(exec(
          "SELECT table_catalog AS table_cat, table_schema AS table_schem, " +
            "table_name, 'TABLE' AS table_type FROM information_schema.tables " +
            s"WHERE table_type = 'BASE TABLE' AND table_name LIKE ${PgWire.literal(namePattern)} " +
            schemaFilter +
            "ORDER BY table_name"))
      case ("getColumns", Array(_, schemaPattern, namePattern: String, _)) =>
        // honor the schema pattern (JDBC LIKE semantics; null = any
        // schema) so effectiveConfig's current-schema-constrained probe
        // runs for real against the server, not just against Derby
        val schemaFilter = schemaPattern match {
          case s: String => s"AND table_schema LIKE ${PgWire.literal(s)} "
          case _ => ""
        }
        resultSet(exec(
          "SELECT table_catalog AS table_cat, table_schema AS table_schem, " +
            "table_name, column_name, data_type AS type_name " +
            "FROM information_schema.columns " +
            s"WHERE table_name LIKE ${PgWire.literal(namePattern)} " +
            schemaFilter +
            "ORDER BY ordinal_position"))
      // PostgreSQL's LIKE escape character, the same constant pgjdbc
      // reports — lets callers escape `_`/`%` in metadata patterns
      case ("getSearchStringEscape", _) => "\\"
      case ("supportsTransactions", _) => Boolean.box(true)
      case ("supportsDataManipulationTransactionsOnly", _) => Boolean.box(false)
      case ("supportsDataDefinitionAndDataManipulationTransactions", _) => Boolean.box(true)
      case ("supportsTransactionIsolationLevel", _) => Boolean.box(true)
      case ("getDefaultTransactionIsolation", _) =>
        Int.box(Connection.TRANSACTION_READ_COMMITTED)
      case ("supportsSavepoints", _) => Boolean.box(true)
      case ("getDatabaseProductName", _) => "PostgreSQL"
      case ("getDatabaseMajorVersion", _) => Int.box(15)
      case ("getDatabaseMinorVersion", _) => Int.box(0)
      case ("getJDBCMajorVersion", _) => Int.box(4)
      case ("getJDBCMinorVersion", _) => Int.box(2)
      case ("getDriverMajorVersion", _) => Int.box(0)
      case ("getDriverMinorVersion", _) => Int.box(1)
      case ("getDriverName", _) => "graft-pg-mini"
      case ("getDatabaseProductVersion", _) => "15"
      case ("getUserName", _) => "postgres"
      case ("getIdentifierQuoteString", _) => "\""
      case ("storesLowerCaseIdentifiers", _) => Boolean.box(true)
      case ("storesUpperCaseIdentifiers" | "storesMixedCaseIdentifiers", _) =>
        Boolean.box(false)
    }
}
