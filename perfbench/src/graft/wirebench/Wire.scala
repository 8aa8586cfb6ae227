package graft.wirebench

import java.io.{ByteArrayOutputStream, InputStream, OutputStream}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets.UTF_8

/** Order-insensitive result checksum: the wrapping sum of a 64-bit hash
  * of every DataRow body (field count + length-prefixed fields, exactly
  * the bytes after the message header). Row order never matters; row
  * multiplicity does.
  */
object Checksum {
  def row(b: Array[Byte], off: Int, len: Int): Long = {
    var h = 0x9E3779B97F4A7C15L ^ len.toLong
    var i = off
    val end = off + len
    while (i + 8 <= end) {
      val w = ((b(i) & 0xffL) << 56) | ((b(i + 1) & 0xffL) << 48) |
        ((b(i + 2) & 0xffL) << 40) | ((b(i + 3) & 0xffL) << 32) |
        ((b(i + 4) & 0xffL) << 24) | ((b(i + 5) & 0xffL) << 16) |
        ((b(i + 6) & 0xffL) << 8) | (b(i + 7) & 0xffL)
      h = mix(h ^ w)
      i += 8
    }
    var tail = 0L
    while (i < end) { tail = (tail << 8) | (b(i) & 0xffL); i += 1 }
    mix(h ^ tail)
  }

  /** Hash of the DataRow body the server would send for these fields
    * (None = SQL NULL). */
  def fields(values: Seq[Option[Array[Byte]]]): Long = {
    val bo = new ByteArrayOutputStream()
    val o = new java.io.DataOutputStream(bo)
    o.writeShort(values.length)
    values.foreach {
      case None => o.writeInt(-1)
      case Some(v) => o.writeInt(v.length); o.write(v)
    }
    val b = bo.toByteArray
    row(b, 0, b.length)
  }

  def text(values: String*): Long =
    fields(values.map(v => Option(v).map(_.getBytes(UTF_8))))

  private def mix(x: Long): Long = {
    var z = x * 0xBF58476D1CE4E5B9L
    z ^= z >>> 31
    z *= 0x94D049BB133111EBL
    z ^ (z >>> 29)
  }
}

/** pg v3 message reader over one input stream. The receive buffer is
  * linear: a refill moves at most the one partially received message
  * to the front and never copies what has already been consumed, so
  * draining n rows costs O(n) however large the result is. Messages are
  * only framed, never materialized: a DataRow is seen as a byte range
  * of [[buf]].
  */
final class MsgReader(in: InputStream) {
  /** When set, every byte read is also appended here. */
  var record: ByteArrayOutputStream = null
  var buf = new Array[Byte](1 << 18)
  private var pos = 0
  private var lim = 0
  /** Body of the current message: [start, end) of [[buf]]. */
  var start = 0
  var end = 0

  private def fill(need: Int): Unit = {
    if (buf.length - pos < need) {
      val live = lim - pos
      val nb = if (need > buf.length) new Array[Byte](Integer.highestOneBit(need) << 1) else buf
      System.arraycopy(buf, pos, nb, 0, live)
      buf = nb; pos = 0; lim = live
    }
    while (lim - pos < need) {
      val n = in.read(buf, lim, buf.length - lim)
      if (n < 0) throw new java.io.EOFException("server closed the connection")
      if (record != null) record.write(buf, lim, n)
      lim += n
    }
  }

  /** Advance to the next message; returns its type byte. */
  def next(): Char = {
    if (lim - pos < 5) fill(5)
    val len = ((buf(pos + 1) & 0xff) << 24) | ((buf(pos + 2) & 0xff) << 16) |
      ((buf(pos + 3) & 0xff) << 8) | (buf(pos + 4) & 0xff)
    if (lim - pos < len + 1) fill(len + 1)
    val t = buf(pos).toChar
    start = pos + 5
    end = pos + 1 + len
    pos = end
    t
  }

  def cstrings: Seq[String] = {
    val out = Seq.newBuilder[String]
    var i = start
    while (i < end && buf(i) != 0) {
      var j = i
      while (buf(j) != 0) j += 1
      out += new String(buf, i, j - i, UTF_8)
      i = j + 1
    }
    out.result()
  }
}

/** Outcome of one statement as the client saw it. Row contents are
  * hashed in place, never copied out. */
final class Outcome {
  var rows = 0L
  var sum = 0L
  var firstRowNs = 0L
  var error: String = null
  var tag: String = null
  /** first text field of the first row, kept only when asked for */
  var firstField: String = null

  def reset(): Unit = {
    rows = 0; sum = 0; firstRowNs = 0; error = null; tag = null; firstField = null
  }
}

object Drain {
  /** Read messages until ReadyForQuery, counting and hashing DataRows. */
  def untilReady(r: MsgReader, o: Outcome, keepFirst: Boolean = false): Unit = {
    var ready = false
    while (!ready) {
      r.next() match {
        case 'D' =>
          if (o.rows == 0) {
            o.firstRowNs = System.nanoTime()
            if (keepFirst) {
              val b = r.buf
              val s = r.start
              val n = ((b(s + 2) & 0xff) << 24) | ((b(s + 3) & 0xff) << 16) |
                ((b(s + 4) & 0xff) << 8) | (b(s + 5) & 0xff)
              if (n >= 0) o.firstField = new String(b, s + 6, n, UTF_8)
            }
          }
          o.rows += 1
          o.sum += Checksum.row(r.buf, r.start, r.end - r.start)
        case 'E' =>
          o.error = r.cstrings.filter(_.startsWith("M")).map(_.drop(1)).headOption
            .getOrElse("error")
        case 'C' =>
          o.tag = new String(r.buf, r.start, r.end - r.start - 1, UTF_8)
        case 'Z' =>
          ready = true
        case _ =>
      }
    }
  }
}

/** A pg v3 client connection: startup as a trust user, then simple
  * ('Q') and extended (Parse/Bind/Describe/Execute/Sync) requests with
  * text parameters. */
final class PgConn(port: Int, user: String) {
  private val sock = new Socket()
  sock.setTcpNoDelay(true)
  sock.connect(new InetSocketAddress("127.0.0.1", port), 10000)
  private val out: OutputStream = sock.getOutputStream
  val reader = new MsgReader(sock.getInputStream)
  private val msg = new ByteArrayOutputStream(1024)
  private val req = new ByteArrayOutputStream(4096)

  locally {
    val body = new ByteArrayOutputStream()
    val d = new java.io.DataOutputStream(body)
    d.writeInt(196608)
    Seq("user" -> user, "database" -> "postgres", "application_name" -> "wirebench")
      .foreach { case (k, v) => cstr(d, k); cstr(d, v) }
    d.writeByte(0)
    val o = new java.io.DataOutputStream(out)
    o.writeInt(body.size + 4)
    body.writeTo(o)
    o.flush()
    val oc = new Outcome
    Drain.untilReady(reader, oc)
    if (oc.error != null) throw new IllegalStateException(s"startup failed: ${oc.error}")
  }

  private def cstr(d: java.io.DataOutputStream, s: String): Unit = {
    d.write(s.getBytes(UTF_8)); d.writeByte(0)
  }

  private def frame(tpe: Char)(body: java.io.DataOutputStream => Unit): Unit = {
    msg.reset()
    body(new java.io.DataOutputStream(msg))
    val d = new java.io.DataOutputStream(req)
    d.writeByte(tpe)
    d.writeInt(msg.size + 4)
    msg.writeTo(req)
  }

  /** Stage a simple query. */
  def query(sql: String): Unit = frame('Q')(cstr(_, sql))

  /** Stage Parse of a named statement with untyped parameters. */
  def parse(name: String, sql: String): Unit =
    frame('P') { d => cstr(d, name); cstr(d, sql); d.writeShort(0) }

  /** Stage Bind/Describe(portal)/Execute for the unnamed portal. */
  def bindExecute(stmt: String, params: Seq[String], resultFormat: Int): Unit = {
    frame('B') { d =>
      cstr(d, ""); cstr(d, stmt)
      d.writeShort(1); d.writeShort(0)
      d.writeShort(params.length)
      params.foreach { p =>
        if (p == null) d.writeInt(-1)
        else { val b = p.getBytes(UTF_8); d.writeInt(b.length); d.write(b) }
      }
      d.writeShort(1); d.writeShort(resultFormat)
    }
    frame('D') { d => d.writeByte('P'); cstr(d, "") }
    frame('E') { d => cstr(d, ""); d.writeInt(0) }
  }

  def sync(): Unit = frame('S')(_ => ())

  /** Send everything staged; returns the send timestamp. */
  def flush(): Long = {
    val t = System.nanoTime()
    req.writeTo(out)
    out.flush()
    req.reset()
    t
  }

  def close(): Unit = {
    try { frame('X')(_ => ()); flush() } catch { case _: Exception => }
    try sock.close() catch { case _: Exception => }
  }
}
