package graft.etl.pgwire

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.sql.SQLException

import scala.collection.mutable.ArrayBuffer

/** One column of a wire-level result: name + type OID + type modifier
  * (enough to reconstruct JDBC metadata — precision/scale for numerics
  * ride in the typmod). */
private[pgwire] final case class PgCol(name: String, typeOid: Int, typmod: Int)

/** One statement's result: column descriptors (empty for DDL/DML), rows
  * in TEXT format (null = SQL NULL), and the CommandComplete tag
  * ("SELECT 5", "INSERT 0 3", "MERGE 2", "CREATE TABLE", ...). */
private[pgwire] final case class PgResult(cols: IndexedSeq[PgCol],
    rows: IndexedSeq[Array[String]], tag: String) {
  /** Affected-row count parsed from the tag (0 for DDL). */
  def updateCount: Int = {
    val parts = tag.split(' ')
    if (parts.length >= 2 && parts.last.forall(_.isDigit)) parts.last.toInt
    else 0
  }
}

/** Minimal PostgreSQL v3 frontend/backend protocol client — SIMPLE query
  * mode, text result format, COPY FROM STDIN for bulk load, TLS
  * (SSLRequest negotiation, see [[PgTls]]), and trust / cleartext / MD5 /
  * SCRAM-SHA-256(-PLUS) authentication (channel binding over TLS).
  *
  * Built from the public protocol specification (PostgreSQL docs,
  * "Frontend/Backend Protocol" + "SASL Authentication"), RFC 5802/7677
  * for SCRAM and RFC 5929 for tls-server-end-point. This is NOT a
  * general-purpose driver: it exists so the [[graft.etl.JdbcUpsert]]
  * sink can be executed against a real Postgres server in environments
  * where no vendor JDBC driver is available. Unsupported: extended query
  * protocol, binary result format, COPY TO, notifications, hostname
  * verification (sslmode=verify-full).
  *
  * Thread safety: one protocol instance per connection; callers
  * (the JDBC wrapper) synchronize on the instance.
  */
private[pgwire] final class PgProtocol(host: String, port: Int,
    user: String, database: String, password: Option[String] = None,
    ssl: PgTls.Config = PgTls.Default) {

  private val (socket, peerCert) = {
    val raw = new Socket()
    raw.connect(new InetSocketAddress(host, port), 10000)
    raw.setTcpNoDelay(true)
    PgTls.negotiate(raw, host, port, ssl)
  }
  private val in = new DataInputStream(new BufferedInputStream(socket.getInputStream, 1 << 16))
  private val out = new DataOutputStream(new BufferedOutputStream(socket.getOutputStream, 1 << 16))
  @volatile private var closed = false
  /** Authentication outcome, for observability/specs: "trust",
    * "cleartext", "md5", "SCRAM-SHA-256", or "SCRAM-SHA-256-PLUS". */
  @volatile private[pgwire] var authMechanism: String = "trust"
  /** Whether the session runs inside TLS. */
  private[pgwire] def tlsActive: Boolean = peerCert.isDefined

  startup()

  def isClosed: Boolean = closed

  /** Send the StartupMessage and consume handshake messages through the
    * first ReadyForQuery, answering authentication requests: 0 = Ok,
    * 3 = CleartextPassword, 5 = MD5Password, 10/11/12 = SASL
    * (SCRAM-SHA-256 only). */
  private def startup(): Unit = {
    val params = Seq("user" -> user, "database" -> database,
      "client_encoding" -> "UTF8", "application_name" -> "graft-pgwire")
    val body = new ArrayBuffer[Byte]()
    def putInt(v: Int): Unit = {
      body += ((v >>> 24) & 0xff).toByte; body += ((v >>> 16) & 0xff).toByte
      body += ((v >>> 8) & 0xff).toByte; body += (v & 0xff).toByte
    }
    putInt(196608) // protocol 3.0
    params.foreach { case (k, v) =>
      body ++= k.getBytes(UTF_8); body += 0
      body ++= v.getBytes(UTF_8); body += 0
    }
    body += 0
    out.writeInt(body.length + 4)
    out.write(body.toArray)
    out.flush()

    def pw: String = password.getOrElse(throw new SQLException(
      "pgwire: server requires a password but none was supplied", "28000"))

    /** PasswordMessage / SASLInitialResponse / SASLResponse all ride the
      * same frontend message type 'p'. */
    def sendAuth(payload: Array[Byte]): Unit = {
      out.writeByte('p')
      out.writeInt(4 + payload.length)
      out.write(payload)
      out.flush()
    }

    var scram: Scram = null
    var ready = false
    while (!ready) {
      val (tpe, payload) = readMessage()
      tpe match {
        case 'R' =>
          val code = readInt32(payload, 0)
          code match {
            case 0 => () // AuthenticationOk
            case 3 => // CleartextPassword
              authMechanism = "cleartext"
              sendAuth(pw.getBytes(UTF_8) :+ 0.toByte)
            case 5 => // MD5Password: 4-byte salt follows
              authMechanism = "md5"
              val salt = payload.slice(4, 8)
              sendAuth(Scram.md5Password(user, pw, salt).getBytes(UTF_8) :+ 0.toByte)
            case 10 => // AuthenticationSASL: NUL-separated mechanism list
              val mechs = new String(payload, 4, payload.length - 4, UTF_8)
                .split('\u0000').filter(_.nonEmpty)
              // Over TLS prefer SCRAM-SHA-256-PLUS (channel binding ties
              // the exchange to THIS session's server certificate); plain
              // SCRAM over TLS sends gs2 'y' — "I could bind" — which a
              // -PLUS-advertising server must reject, RFC 5802's
              // downgrade defense.
              val mech = peerCert match {
                case Some(cert) if mechs.contains(Scram.MechanismPlus) =>
                  scram = new Scram(pw, Scram.freshNonce(), "",
                    "p=tls-server-end-point,,", PgTls.channelBindingData(cert))
                  Scram.MechanismPlus
                case Some(_) if mechs.contains(Scram.Mechanism) =>
                  scram = new Scram(pw, Scram.freshNonce(), "",
                    "y,,", Array.emptyByteArray)
                  Scram.Mechanism
                case None if mechs.contains(Scram.Mechanism) =>
                  scram = new Scram(pw)
                  Scram.Mechanism
                case _ =>
                  throw new SQLException(
                    s"pgwire: server offers [${mechs.mkString(", ")}], " +
                      s"client supports only ${Scram.Mechanism}(-PLUS)", "28000")
              }
              authMechanism = mech
              val initial = scram.clientFirstMessage.getBytes(UTF_8)
              val msg = new ArrayBuffer[Byte]()
              msg ++= mech.getBytes(UTF_8); msg += 0
              msg += ((initial.length >>> 24) & 0xff).toByte
              msg += ((initial.length >>> 16) & 0xff).toByte
              msg += ((initial.length >>> 8) & 0xff).toByte
              msg += (initial.length & 0xff).toByte
              msg ++= initial
              sendAuth(msg.toArray)
            case 11 => // AuthenticationSASLContinue: server-first-message
              if (scram == null)
                throw new SQLException("pgwire: SASLContinue outside an exchange", "28000")
              val serverFirst = new String(payload, 4, payload.length - 4, UTF_8)
              sendAuth(scram.clientFinal(serverFirst).getBytes(UTF_8))
            case 12 => // AuthenticationSASLFinal: server signature
              if (scram == null)
                throw new SQLException("pgwire: SASLFinal outside an exchange", "28000")
              scram.verifyServerFinal(new String(payload, 4, payload.length - 4, UTF_8))
            case other =>
              throw new SQLException(
                s"pgwire: unsupported authentication request code $other", "28000")
          }
        case 'S' | 'K' | 'N' => () // ParameterStatus / BackendKeyData / Notice
        case 'Z' => ready = true
        case 'E' => throw parseError(payload)
        case other =>
          throw new SQLException(s"pgwire: unexpected startup message '$other'")
      }
    }
  }

  /** Execute one simple Query message (which may carry multiple
    * ';'-separated statements) and collect every statement's result.
    * On ErrorResponse the stream is drained to ReadyForQuery before the
    * SQLException is thrown, so the connection stays usable. */
  def query(sql: String): IndexedSeq[PgResult] = synchronized {
    require(!closed, "pgwire connection is closed")
    val sqlBytes = sql.getBytes(UTF_8)
    out.writeByte('Q')
    out.writeInt(4 + sqlBytes.length + 1)
    out.write(sqlBytes)
    out.writeByte(0)
    out.flush()

    val results = new ArrayBuffer[PgResult]()
    var cols: IndexedSeq[PgCol] = Vector.empty
    var rows = new ArrayBuffer[Array[String]]()
    var err: SQLException = null
    var done = false
    while (!done) {
      val (tpe, payload) = readMessage()
      tpe match {
        case 'T' =>
          cols = parseRowDescription(payload)
          rows = new ArrayBuffer[Array[String]]()
        case 'D' =>
          rows += parseDataRow(payload)
        case 'C' =>
          val tag = cstring(payload, 0)._1
          results += PgResult(cols, rows.toIndexedSeq, tag)
          cols = Vector.empty
          rows = new ArrayBuffer[Array[String]]()
        case 'I' => // EmptyQueryResponse
          results += PgResult(Vector.empty, Vector.empty, "")
        case 'E' =>
          if (err == null) err = parseError(payload)
        case 'N' | 'S' => () // notices / parameter changes: ignore
        case 'Z' => done = true
        case other =>
          throw new SQLException(s"pgwire: unexpected message '$other' during query")
      }
    }
    if (err != null) throw err
    results.toIndexedSeq
  }

  /** Execute a `COPY table (cols) FROM STDIN` statement, `write` streaming
    * the COPY data into the [[CopyOut]] it is handed, and return the
    * copied row count from the CommandComplete tag.
    *
    * Frames: Query → CopyInResponse('G') → CopyData('d')* → CopyDone('c')
    * → CommandComplete → ReadyForQuery. The data goes out in ~64 KiB
    * CopyData frames. If `write` throws, CopyFail('f') aborts the COPY
    * server-side before the exception propagates. */
  def copyIn(sql: String)(write: CopyOut => Unit): Long = synchronized {
    require(!closed, "pgwire connection is closed")
    val sqlBytes = sql.getBytes(UTF_8)
    out.writeByte('Q')
    out.writeInt(4 + sqlBytes.length + 1)
    out.write(sqlBytes)
    out.writeByte(0)
    out.flush()

    // Wait for CopyInResponse; an error here (bad table/cols) drains to Z.
    var err: SQLException = null
    var inCopy = false
    var done = false
    var copied = 0L
    while (!inCopy && !done) {
      val (tpe, payload) = readMessage()
      tpe match {
        case 'G' => inCopy = true // CopyInResponse (the formats are the statement's own)
        case 'E' => if (err == null) err = parseError(payload)
        case 'N' | 'S' | 'K' => ()
        case 'Z' => done = true
        case other =>
          throw new SQLException(s"pgwire: unexpected message '$other' awaiting CopyInResponse")
      }
    }
    if (err != null) throw err

    val data = new CopyOut((buf, n) => {
      out.writeByte('d')
      out.writeInt(4 + n)
      out.write(buf, 0, n)
    })
    try {
      write(data)
      data.flush()
      out.writeByte('c'); out.writeInt(4) // CopyDone
      out.flush()
    } catch {
      case e: Throwable =>
        // abort server-side, then drain the error response to ReadyForQuery
        try {
          val reason = "pgwire client abort".getBytes(UTF_8)
          out.writeByte('f'); out.writeInt(4 + reason.length + 1)
          out.write(reason); out.writeByte(0); out.flush()
          var d = false
          while (!d) {
            val (tpe, _) = readMessage()
            if (tpe == 'Z') d = true
          }
        } catch { case _: Throwable => () }
        throw e
    }

    done = false
    while (!done) {
      val (tpe, payload) = readMessage()
      tpe match {
        case 'C' =>
          val tag = cstring(payload, 0)._1 // "COPY <n>"
          val parts = tag.split(' ')
          if (parts.length == 2 && parts(1).forall(_.isDigit)) copied = parts(1).toLong
        case 'E' => if (err == null) err = parseError(payload)
        case 'N' | 'S' => ()
        case 'Z' => done = true
        case other =>
          throw new SQLException(s"pgwire: unexpected message '$other' after CopyDone")
      }
    }
    if (err != null) throw err
    copied
  }

  def close(): Unit = synchronized {
    if (!closed) {
      closed = true
      try {
        out.writeByte('X'); out.writeInt(4); out.flush()
      } catch { case _: Throwable => () }
      try socket.close() catch { case _: Throwable => () }
    }
  }

  // ---- wire helpers -------------------------------------------------

  private def readMessage(): (Char, Array[Byte]) = {
    val tpe = in.read()
    if (tpe < 0) { closed = true; throw new EOFException("pgwire: server closed connection") }
    val len = in.readInt()
    val payload = new Array[Byte](len - 4)
    in.readFully(payload)
    (tpe.toChar, payload)
  }

  private def readInt32(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
      ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)

  private def readInt16(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)

  /** (string, index-after-NUL) */
  private def cstring(b: Array[Byte], off: Int): (String, Int) = {
    var end = off
    while (b(end) != 0) end += 1
    (new String(b, off, end - off, UTF_8), end + 1)
  }

  private def parseRowDescription(b: Array[Byte]): IndexedSeq[PgCol] = {
    val n = readInt16(b, 0)
    var off = 2
    (0 until n).map { _ =>
      val (name, next) = cstring(b, off)
      off = next
      off += 4 + 2 // table oid + attnum
      val typeOid = readInt32(b, off); off += 4
      off += 2 // typlen
      val typmod = readInt32(b, off); off += 4
      off += 2 // format code (always 0 = text in simple protocol)
      PgCol(name, typeOid, typmod)
    }
  }

  private def parseDataRow(b: Array[Byte]): Array[String] = {
    val n = readInt16(b, 0)
    var off = 2
    val row = new Array[String](n)
    var i = 0
    while (i < n) {
      val len = readInt32(b, off); off += 4
      if (len >= 0) { row(i) = new String(b, off, len, UTF_8); off += len }
      i += 1
    }
    row
  }

  private def parseError(b: Array[Byte]): SQLException = {
    var off = 0
    var severity = ""; var sqlState = ""; var message = ""
    while (off < b.length && b(off) != 0) {
      val code = b(off).toChar; off += 1
      val (value, next) = cstring(b, off); off = next
      code match {
        case 'S' => severity = value
        case 'C' => sqlState = value
        case 'M' => message = value
        case _ => ()
      }
    }
    new SQLException(s"$severity: $message", sqlState)
  }
}

/** The COPY data sink [[PgProtocol.copyIn]] hands its writer: a 64 KiB
  * buffer of big-endian fields, passed to `emit` (one CopyData frame)
  * whenever it fills and on the final `flush`. A field may straddle two
  * frames; the server reassembles the stream. */
private[etl] final class CopyOut(emit: (Array[Byte], Int) => Unit) {
  private val buf = new Array[Byte](1 << 16)
  private var n = 0

  def flush(): Unit = if (n > 0) { emit(buf, n); n = 0 }

  private def room(k: Int): Unit = if (n + k > buf.length) flush()

  def int8(v: Int): Unit = { room(1); buf(n) = v.toByte; n += 1 }
  def int16(v: Int): Unit = {
    room(2)
    buf(n) = (v >>> 8).toByte; buf(n + 1) = v.toByte
    n += 2
  }
  def int32(v: Int): Unit = {
    room(4)
    buf(n) = (v >>> 24).toByte; buf(n + 1) = (v >>> 16).toByte
    buf(n + 2) = (v >>> 8).toByte; buf(n + 3) = v.toByte
    n += 4
  }
  def int64(v: Long): Unit = { int32((v >>> 32).toInt); int32(v.toInt) }

  /** `len` bytes at `offset` of `base` (a byte array, or null with an
    * off-heap address), in Spark's `Platform` addressing. */
  def copy(base: AnyRef, offset: Long, len: Int): Unit = {
    var done = 0
    while (done < len) {
      if (n == buf.length) flush()
      val k = math.min(len - done, buf.length - n)
      org.apache.spark.unsafe.Platform.copyMemory(base, offset + done, buf,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + n, k)
      n += k; done += k
    }
  }
  def bytes(b: Array[Byte]): Unit =
    copy(b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length)
}
