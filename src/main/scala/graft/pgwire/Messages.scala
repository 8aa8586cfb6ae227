package graft.pgwire

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream, EOFException}
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.Row

/** PostgreSQL wire protocol v3 message framing: readers for
  * client→server messages, writers for server→client messages
  * (reference behavior: pgwire crate used by
  * datafusion-postgres/src/lib.rs:87-195; the framing itself is the
  * public protocol spec).
  */
object Messages {

  val PROTOCOL_V3 = 196608
  val SSL_REQUEST = 80877103
  val CANCEL_REQUEST = 80877102
  val GSS_REQUEST = 80877104

  sealed trait Startup
  final case class StartupParams(params: Map[String, String]) extends Startup
  case object SslRequest extends Startup
  case object GssRequest extends Startup
  final case class Cancel(pid: Int, secret: Int) extends Startup

  /** pg's bounds on lengths an unauthenticated client declares: a
    * startup packet is 8–10000 bytes (MAX_STARTUP_PACKET_LENGTH), any
    * other message 4 bytes to 1 GB. */
  val MaxStartupLen = 10000
  val MaxMessageLen = 1 << 30

  /** A declared length outside those bounds: the server closes the
    * connection before allocating anything, as pg does. */
  final class BadLength(what: String, len: Int)
    extends java.io.IOException(s"invalid $what length $len")

  /** Read the untyped startup packet. */
  def readStartup(in: DataInputStream): Startup = {
    val len = in.readInt()
    if (len < 8 || len > MaxStartupLen) throw new BadLength("startup packet", len)
    val code = in.readInt()
    code match {
      case SSL_REQUEST => SslRequest
      case GSS_REQUEST => GssRequest
      case CANCEL_REQUEST => Cancel(in.readInt(), in.readInt())
      case PROTOCOL_V3 =>
        val body = new Array[Byte](len - 8)
        in.readFully(body)
        var params = Map.empty[String, String]
        var i = 0
        while (i < body.length && body(i) != 0) {
          val k = readCString(body, i); i += k.length + 1
          if (i < body.length) {
            val v = readCString(body, i); i += v.length + 1
            params += (k -> v)
          }
        }
        StartupParams(params)
      case other =>
        throw new IllegalArgumentException(s"unsupported protocol $other")
    }
  }

  private def readCString(b: Array[Byte], from: Int): String = {
    var end = from
    while (end < b.length && b(end) != 0) end += 1
    new String(b, from, end - from, UTF_8)
  }

  /** One typed message: (type byte, payload). */
  final case class Msg(tpe: Byte, body: Array[Byte]) {
    def in: DataInputStream =
      new DataInputStream(new java.io.ByteArrayInputStream(body))
    def cStringAt(from: Int): String = readCString(body, from)
  }

  def readMessage(in: DataInputStream): Msg = {
    val tpe = in.read()
    if (tpe < 0) throw new EOFException()
    val len = in.readInt()
    if (len < 4 || len > MaxMessageLen) throw new BadLength("message", len)
    val body = new Array[Byte](len - 4)
    in.readFully(body)
    Msg(tpe.toByte, body)
  }

  // ---- writers ----------------------------------------------------------

  private def msg(out: DataOutputStream, tpe: Char)(write: DataOutputStream => Unit): Unit = {
    val buf = new ByteArrayOutputStream()
    write(new DataOutputStream(buf))
    out.writeByte(tpe)
    out.writeInt(buf.size + 4)
    buf.writeTo(out)
  }

  private def cstr(o: DataOutputStream, s: String): Unit = {
    o.write(s.getBytes(UTF_8)); o.writeByte(0)
  }

  def sslDeny(out: DataOutputStream): Unit = out.writeByte('N')

  def authOk(out: DataOutputStream): Unit = msg(out, 'R')(_.writeInt(0))
  def authCleartext(out: DataOutputStream): Unit = msg(out, 'R')(_.writeInt(3))
  def authMd5(out: DataOutputStream, salt: Array[Byte]): Unit =
    msg(out, 'R') { o => o.writeInt(5); o.write(salt) }

  /** AuthenticationSASL: advertise mechanisms (null-terminated list). */
  def authSasl(out: DataOutputStream, mechanisms: Seq[String]): Unit =
    msg(out, 'R') { o =>
      o.writeInt(10)
      mechanisms.foreach(cstr(o, _))
      o.writeByte(0)
    }

  def authSaslContinue(out: DataOutputStream, data: Array[Byte]): Unit =
    msg(out, 'R') { o => o.writeInt(11); o.write(data) }

  def authSaslFinal(out: DataOutputStream, data: Array[Byte]): Unit =
    msg(out, 'R') { o => o.writeInt(12); o.write(data) }

  def parameterStatus(out: DataOutputStream, k: String, v: String): Unit =
    msg(out, 'S') { o => cstr(o, k); cstr(o, v) }

  def backendKeyData(out: DataOutputStream, pid: Int, secret: Int): Unit =
    msg(out, 'K') { o => o.writeInt(pid); o.writeInt(secret) }

  /** NotificationResponse (LISTEN/NOTIFY delivery): notifying
    * backend's pid, channel, payload. */
  def notificationResponse(out: DataOutputStream, pid: Int, channel: String,
      payload: String): Unit =
    msg(out, 'A') { o => o.writeInt(pid); cstr(o, channel); cstr(o, payload) }

  /** status: 'I' idle, 'T' in txn, 'E' failed txn. */
  def readyForQuery(out: DataOutputStream, status: Char): Unit =
    msg(out, 'Z')(_.writeByte(status))

  def rowDescription(out: DataOutputStream, fields: Seq[PgType.FieldDesc]): Unit =
    msg(out, 'T') { o =>
      o.writeShort(fields.length)
      fields.foreach { f =>
        cstr(o, f.name)
        o.writeInt(0)              // table oid
        o.writeShort(0)            // attnum
        o.writeInt(f.oid)
        o.writeShort(f.len)
        o.writeInt(-1)             // typmod
        o.writeShort(f.format)     // 0 text / 1 binary
      }
    }

  /** One result row as a DataRow, built in the connection's buffer by
    * the result's [[RowWriter]] and written with one `write`. */
  def dataRow(out: DataOutputStream, buf: WireBuf, w: RowWriter, row: Row): Unit = {
    buf.begin('D'); w.write(row, buf); buf.send(out)
  }

  /** A DataRow of values already encoded (None = NULL). */
  def dataRow(out: DataOutputStream, values: Seq[Option[Array[Byte]]]): Unit = {
    val buf = WireBuf.scratch()
    buf.begin('D')
    buf.int2(values.length)
    values.foreach {
      case None => buf.int4(-1)
      case Some(b) => buf.int4(b.length); buf.bytes(b)
    }
    buf.send(out)
  }

  def commandComplete(out: DataOutputStream, tag: String): Unit =
    msg(out, 'C')(cstr(_, tag))

  def emptyQueryResponse(out: DataOutputStream): Unit = msg(out, 'I')(_ => ())

  def errorResponse(out: DataOutputStream, code: String, message: String,
      severity: String = "ERROR"): Unit =
    msg(out, 'E') { o =>
      // PgException messages may embed DETAIL/HINT paragraphs (the
      // constraint errors do) — split them into the protocol's D/H
      // fields so psql/pgjdbc render them exactly like pg
      val dIdx = message.indexOf("\nDETAIL:  ")
      val hIdx = message.indexOf("\nHINT:  ")
      val mEnd = Seq(dIdx, hIdx).filter(_ >= 0).sorted.headOption.getOrElse(message.length)
      val detail =
        if (dIdx >= 0) {
          val st = dIdx + "\nDETAIL:  ".length
          val en = if (hIdx > dIdx) hIdx else message.length
          Some(message.substring(st, en))
        } else None
      val hint =
        if (hIdx >= 0) Some(message.substring(hIdx + "\nHINT:  ".length))
        else None
      o.writeByte('S'); cstr(o, severity)
      o.writeByte('V'); cstr(o, severity)
      o.writeByte('C'); cstr(o, code)
      o.writeByte('M'); cstr(o, message.substring(0, mEnd))
      detail.foreach { d => o.writeByte('D'); cstr(o, d) }
      hint.foreach { h => o.writeByte('H'); cstr(o, h) }
      o.writeByte(0)
    }

  def noticeResponse(out: DataOutputStream, message: String): Unit =
    msg(out, 'N') { o =>
      o.writeByte('S'); cstr(o, "NOTICE")
      o.writeByte('C'); cstr(o, "00000")
      o.writeByte('M'); cstr(o, message)
      o.writeByte(0)
    }

  def parseComplete(out: DataOutputStream): Unit = msg(out, '1')(_ => ())
  def bindComplete(out: DataOutputStream): Unit = msg(out, '2')(_ => ())
  def closeComplete(out: DataOutputStream): Unit = msg(out, '3')(_ => ())
  def noData(out: DataOutputStream): Unit = msg(out, 'n')(_ => ())
  def portalSuspended(out: DataOutputStream): Unit = msg(out, 's')(_ => ())

  def parameterDescription(out: DataOutputStream, oids: Seq[Int]): Unit =
    msg(out, 't') { o =>
      o.writeShort(oids.length)
      oids.foreach(o.writeInt)
    }

  // ---- COPY sub-protocol (pg protocol §55.2.6) ---------------------------

  /** CopyOutResponse: overall + per-column format 0 (text) or 1
    * (binary). */
  def copyOutResponse(out: DataOutputStream, ncols: Int,
      binary: Boolean = false): Unit =
    msg(out, 'H') { o =>
      val f = if (binary) 1 else 0
      o.writeByte(f); o.writeShort(ncols)
      (0 until ncols).foreach(_ => o.writeShort(f))
    }

  /** CopyInResponse: same layout, type 'G'. */
  def copyInResponse(out: DataOutputStream, ncols: Int,
      binary: Boolean = false): Unit =
    msg(out, 'G') { o =>
      val f = if (binary) 1 else 0
      o.writeByte(f); o.writeShort(ncols)
      (0 until ncols).foreach(_ => o.writeShort(f))
    }

  def copyData(out: DataOutputStream, bytes: Array[Byte]): Unit = {
    out.writeByte('d'); out.writeInt(bytes.length + 4); out.write(bytes)
  }

  /** One binary COPY tuple: the same bytes as a DataRow body, framed
    * as CopyData. */
  def copyData(out: DataOutputStream, buf: WireBuf, w: RowWriter, row: Row): Unit = {
    buf.begin('d'); w.write(row, buf); buf.send(out)
  }

  def copyDone(out: DataOutputStream): Unit = msg(out, 'c')(_ => ())
}
