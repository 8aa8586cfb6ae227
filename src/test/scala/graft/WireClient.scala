package graft

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable.ArrayBuffer

// ---- minimal pg wire client -------------------------------------------

final case class Reply(
    fields: Seq[(String, Int)], // (name, typeOid) of last RowDescription
    rows: Seq[Seq[Option[String]]],
    binRows: Seq[Seq[Option[Array[Byte]]]],
    tags: Seq[String],
    errors: Seq[(String, String)], // (sqlstate, message)
    paramStatus: Map[String, String],
    txnStatus: Char,
    emptyQuery: Boolean,
    suspended: Boolean,
    paramOids: Seq[Int],
    noData: Boolean,
    backendKey: Option[(Int, Int)], // (pid, secret) from BackendKeyData
    notifications: Seq[(Int, String, String)] = Nil, // NotificationResponse (pid, channel, payload)
    dataRows: Seq[Array[Byte]] = Nil) // raw DataRow message bodies

final class Client(port: Int) {
  private val sock = new Socket("127.0.0.1", port)
  sock.setSoTimeout(60000)
  private val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
  private val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))

  private def cstr(o: DataOutputStream, s: String): Unit = {
    o.write(s.getBytes(UTF_8)); o.writeByte(0)
  }
  private def send(tpe: Char)(body: DataOutputStream => Unit): Unit = {
    val buf = new ByteArrayOutputStream()
    body(new DataOutputStream(buf))
    out.writeByte(tpe); out.writeInt(buf.size + 4); buf.writeTo(out); out.flush()
  }

  def startup(user: String = "postgres", password: Option[String] = None,
      extraParams: Seq[(String, String)] = Nil): Reply = {
    val buf = new ByteArrayOutputStream()
    val o = new DataOutputStream(buf)
    o.writeInt(196608)
    cstr(o, "user"); cstr(o, user)
    cstr(o, "database"); cstr(o, "postgres")
    extraParams.foreach { case (k, v) => cstr(o, k); cstr(o, v) }
    o.writeByte(0)
    out.writeInt(buf.size + 4); buf.writeTo(out); out.flush()
    password.foreach { p => // wait for AuthenticationCleartextPassword
      val (tpe, body) = read()
      assert(tpe == 'R', s"expected auth request, got $tpe")
      send('p')(cstr(_, p))
    }
    drain()
  }

  def query(sql: String): Reply = { send('Q')(cstr(_, sql)); drain() }

  def parse(name: String, sql: String, oids: Seq[Int] = Nil): Unit =
    send('P') { o => cstr(o, name); cstr(o, sql); o.writeShort(oids.length); oids.foreach(o.writeInt) }

  def bind(portal: String, stmt: String, params: Seq[Option[String]],
      resultFormats: Seq[Short] = Nil): Unit =
    bindFormats(portal, stmt, Nil, params, resultFormats) // all params text

  /** Bind with text values and a parameter-format list of any length
    * (the server checks it against the parameter count). */
  def bindFormats(portal: String, stmt: String, paramFormats: Seq[Short],
      params: Seq[Option[String]], resultFormats: Seq[Short]): Unit =
    send('B') { o =>
      cstr(o, portal); cstr(o, stmt)
      o.writeShort(paramFormats.length); paramFormats.foreach(f => o.writeShort(f))
      o.writeShort(params.length)
      params.foreach {
        case None => o.writeInt(-1)
        case Some(v) => val b = v.getBytes(UTF_8); o.writeInt(b.length); o.write(b)
      }
      o.writeShort(resultFormats.length); resultFormats.foreach(f => o.writeShort(f))
    }

  def bindBinary(portal: String, stmt: String, params: Seq[Option[Array[Byte]]]): Unit =
    send('B') { o =>
      cstr(o, portal); cstr(o, stmt)
      o.writeShort(1); o.writeShort(1) // all params binary
      o.writeShort(params.length)
      params.foreach {
        case None => o.writeInt(-1)
        case Some(b) => o.writeInt(b.length); o.write(b)
      }
      o.writeShort(0)
    }

  /** Bind with per-parameter format codes and explicit result formats —
    * the exact message shape pgjdbc emits (mixed text/binary params). */
  def bindMixed(portal: String, stmt: String,
      params: Seq[(Short, Option[Array[Byte]])],
      resultFormats: Seq[Short]): Unit =
    send('B') { o =>
      cstr(o, portal); cstr(o, stmt)
      o.writeShort(params.length); params.foreach(p => o.writeShort(p._1))
      o.writeShort(params.length)
      params.foreach {
        case (_, None) => o.writeInt(-1)
        case (_, Some(b)) => o.writeInt(b.length); o.write(b)
      }
      o.writeShort(resultFormats.length); resultFormats.foreach(f => o.writeShort(f))
    }

  def closeStmt(kind: Char, name: String): Unit =
    send('C') { o => o.writeByte(kind); cstr(o, name) }

  def describe(kind: Char, name: String): Unit =
    send('D') { o => o.writeByte(kind); cstr(o, name) }

  def execute(portal: String, maxRows: Int = 0): Unit =
    send('E') { o => cstr(o, portal); o.writeInt(maxRows) }

  def sync(): Reply = { send('S')(_ => ()); drain() }

  /** COPY ... TO STDOUT: returns (ncols from CopyOutResponse,
    * concatenated CopyData payload, CommandComplete tag, errors).
    */
  /** Byte-exact CopyOut: raw concatenated CopyData payloads plus the
    * per-column format codes from CopyOutResponse (binary parity
    * tests must not round-trip through UTF-8). */
  def copyOutBytes(sql: String): (Seq[Short], Array[Byte], String, Seq[(String, String)]) = {
    send('Q')(cstr(_, sql))
    var formats = Seq.empty[Short]
    val data = new java.io.ByteArrayOutputStream()
    var tag = ""
    val errors = ArrayBuffer.empty[(String, String)]
    while (true) {
      val (tpe, body) = read()
      tpe match {
        case 'H' =>
          val bb = java.nio.ByteBuffer.wrap(body)
          bb.get() // overall format
          val n = bb.getShort
          formats = (0 until n).map(_ => bb.getShort)
        case 'd' => data.write(body)
        case 'c' => // CopyDone
        case 'C' =>
          var end = 0; while (end < body.length && body(end) != 0) end += 1
          tag = new String(body, 0, end, UTF_8)
        case 'E' =>
          var pos = 0; var code = ""; var m = ""
          while (pos < body.length && body(pos) != 0) {
            val fld = body(pos).toChar
            var end = pos + 1; while (end < body.length && body(end) != 0) end += 1
            val v = new String(body, pos + 1, end - pos - 1, UTF_8)
            if (fld == 'C') code = v
            if (fld == 'M') m = v + m
            if (fld == 'D') m += "\nDETAIL:  " + v
            if (fld == 'H') m += "\nHINT:  " + v
            pos = end + 1
          }
          errors += (code -> m)
        case 'Z' => return (formats, data.toByteArray, tag, errors.toSeq)
        case _ =>
      }
    }
    throw new IllegalStateException("unreachable")
  }

  def copyOut(sql: String): (Int, String, String, Seq[(String, String)]) = {
    send('Q')(cstr(_, sql))
    var ncols = -1
    val data = new StringBuilder
    var tag = ""
    val errors = ArrayBuffer.empty[(String, String)]
    while (true) {
      val (tpe, body) = read()
      tpe match {
        case 'H' => ncols = java.nio.ByteBuffer.wrap(body, 1, 2).getShort
        case 'd' => data.append(new String(body, UTF_8))
        case 'c' => // CopyDone
        case 'C' =>
          var end = 0; while (end < body.length && body(end) != 0) end += 1
          tag = new String(body, 0, end, UTF_8)
        case 'E' =>
          var pos = 0; var code = ""; var m = ""
          while (pos < body.length && body(pos) != 0) {
            val fld = body(pos).toChar
            var end = pos + 1; while (end < body.length && body(end) != 0) end += 1
            val v = new String(body, pos + 1, end - pos - 1, UTF_8)
            if (fld == 'C') code = v
            if (fld == 'M') m = v + m
            if (fld == 'D') m += "\nDETAIL:  " + v
            if (fld == 'H') m += "\nHINT:  " + v
            pos = end + 1
          }
          errors += (code -> m)
        case 'Z' => return (ncols, data.toString, tag, errors.toSeq)
        case _ => // row descriptions etc. from non-copy statements: ignore
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** COPY ... FROM STDIN: waits for CopyInResponse, sends the chunks +
    * CopyDone (or CopyFail when `fail` is set), then drains.
    */
  def copyIn(sql: String, chunks: Seq[String], fail: Option[String] = None): Reply = {
    send('Q')(cstr(_, sql))
    // wait for CopyInResponse; an error arrives as E..Z instead
    var ok = false
    var err: Option[(String, String)] = None
    while (!ok) {
      val (tpe, body) = read()
      tpe match {
        case 'G' => ok = true
        case 'E' =>
          var pos = 0; var code = ""; var m = ""
          while (pos < body.length && body(pos) != 0) {
            val fld = body(pos).toChar
            var end = pos + 1; while (end < body.length && body(end) != 0) end += 1
            val v = new String(body, pos + 1, end - pos - 1, UTF_8)
            if (fld == 'C') code = v
            if (fld == 'M') m = v + m
            if (fld == 'D') m += "\nDETAIL:  " + v
            if (fld == 'H') m += "\nHINT:  " + v
            pos = end + 1
          }
          err = Some(code -> m)
        case 'Z' =>
          return Reply(Nil, Nil, Nil, Nil, err.toSeq, Map.empty,
            body(0).toChar, emptyQuery = false, suspended = false, Nil,
            noData = false, None)
        case _ =>
      }
    }
    chunks.foreach(s => send('d')(_.write(s.getBytes(UTF_8))))
    fail match {
      case Some(m) => send('f')(cstr(_, m))
      case None => send('c')(_ => ())
    }
    drain()
  }

  /** [[copyIn]] with raw byte chunks (binary-format COPY FROM). */
  def copyInBytes(sql: String, chunks: Seq[Array[Byte]]): Reply = {
    send('Q')(cstr(_, sql))
    var ok = false
    var err: Option[(String, String)] = None
    while (!ok) {
      val (tpe, body) = read()
      tpe match {
        case 'G' => ok = true
        case 'E' =>
          var pos = 0; var code = ""; var m = ""
          while (pos < body.length && body(pos) != 0) {
            val fld = body(pos).toChar
            var end = pos + 1; while (end < body.length && body(end) != 0) end += 1
            val v = new String(body, pos + 1, end - pos - 1, UTF_8)
            if (fld == 'C') code = v
            if (fld == 'M') m = v + m
            if (fld == 'D') m += "\nDETAIL:  " + v
            if (fld == 'H') m += "\nHINT:  " + v
            pos = end + 1
          }
          err = Some(code -> m)
        case 'Z' =>
          return Reply(Nil, Nil, Nil, Nil, err.toSeq, Map.empty,
            body(0).toChar, emptyQuery = false, suspended = false, Nil,
            noData = false, None)
        case _ =>
      }
    }
    chunks.foreach(b => send('d')(_.write(b)))
    send('c')(_ => ())
    drain()
  }

  def close(): Unit = { send('X')(_ => ()); sock.close() }

  /** Block (up to timeoutMs) for an ASYNC NotificationResponse pushed
    * while this connection sits idle — no command is sent. Returns
    * None on timeout. */
  def awaitNotification(timeoutMs: Int): Option[(Int, String, String)] = {
    val old = sock.getSoTimeout
    sock.setSoTimeout(timeoutMs)
    try {
      val (tpe, body) = read()
      assert(tpe == 'A', s"expected NotificationResponse, got $tpe")
      val b = java.nio.ByteBuffer.wrap(body)
      val pid = b.getInt
      var end = 4; while (end < body.length && body(end) != 0) end += 1
      val chan = new String(body, 4, end - 4, UTF_8)
      val pStart = end + 1
      var pEnd = pStart; while (pEnd < body.length && body(pEnd) != 0) pEnd += 1
      Some((pid, chan, new String(body, pStart, pEnd - pStart, UTF_8)))
    } catch {
      case _: java.net.SocketTimeoutException => None
    } finally sock.setSoTimeout(old)
  }

  private def read(): (Char, Array[Byte]) = {
    val tpe = in.read()
    assert(tpe >= 0, "connection closed")
    val len = in.readInt()
    val body = new Array[Byte](len - 4)
    in.readFully(body)
    (tpe.toChar, body)
  }

  /** Read messages until ReadyForQuery; fold into a Reply. */
  def drain(): Reply = {
    var fields = Seq.empty[(String, Int)]
    var fieldFormats = Seq.empty[Short]
    val rows = ArrayBuffer.empty[Seq[Option[String]]]
    val binRows = ArrayBuffer.empty[Seq[Option[Array[Byte]]]]
    val tags = ArrayBuffer.empty[String]
    val errors = ArrayBuffer.empty[(String, String)]
    var params = Map.empty[String, String]
    var empty = false
    var suspended = false
    var paramOids = Seq.empty[Int]
    var noData = false
    var backendKey: Option[(Int, Int)] = None
    val notifs = ArrayBuffer.empty[(Int, String, String)]
    val raw = ArrayBuffer.empty[Array[Byte]]
    while (true) {
      val (tpe, body) = read()
      val b = java.nio.ByteBuffer.wrap(body)
      def str(from: Int): String = {
        var end = from; while (end < body.length && body(end) != 0) end += 1
        new String(body, from, end - from, UTF_8)
      }
      tpe match {
        case 'Z' =>
          return Reply(fields, rows.toSeq, binRows.toSeq, tags.toSeq, errors.toSeq,
            params, body(0).toChar, empty, suspended, paramOids, noData, backendKey,
            notifs.toSeq, raw.toSeq)
        case 'T' =>
          val n = b.getShort
          val fs = ArrayBuffer.empty[(String, Int)]
          val fmts = ArrayBuffer.empty[Short]
          var pos = 2
          (0 until n).foreach { _ =>
            val name = str(pos); pos += name.getBytes(UTF_8).length + 1
            val bb = java.nio.ByteBuffer.wrap(body, pos, 18)
            bb.getInt; bb.getShort // table oid, attnum
            val oid = bb.getInt
            bb.getShort; bb.getInt // typlen, typmod
            val fmt = bb.getShort
            fs += (name -> oid); fmts += fmt
            pos += 18
          }
          fields = fs.toSeq; fieldFormats = fmts.toSeq
        case 'D' =>
          val n = b.getShort
          var pos = 2
          val vals = ArrayBuffer.empty[Option[Array[Byte]]]
          (0 until n).foreach { _ =>
            val len = java.nio.ByteBuffer.wrap(body, pos, 4).getInt; pos += 4
            if (len < 0) vals += None
            else { vals += Some(body.slice(pos, pos + len)); pos += len }
          }
          val textRow = vals.zipWithIndex.map { case (v, i) =>
            val fmt = if (i < fieldFormats.length) fieldFormats(i) else 0
            if (fmt == 0) v.map(new String(_, UTF_8)) else None
          }
          rows += textRow.toSeq
          binRows += vals.toSeq
          raw += body
        case 'C' => tags += str(0)
        case 'E' =>
          // parse field map
          var pos = 0
          var code = ""; var msg = ""
          while (pos < body.length && body(pos) != 0) {
            val fld = body(pos).toChar
            val v = str(pos + 1)
            if (fld == 'C') code = v
            if (fld == 'M') msg = v + msg
            if (fld == 'D') msg += "\nDETAIL:  " + v
            if (fld == 'H') msg += "\nHINT:  " + v
            pos += 2 + v.getBytes(UTF_8).length
          }
          errors += (code -> msg)
        case 'S' =>
          val k = str(0); val v = str(k.getBytes(UTF_8).length + 1)
          params += (k -> v)
        case 'I' => empty = true
        case 'A' =>
          val pid = b.getInt
          val chan = str(4)
          val payload = str(4 + chan.getBytes(UTF_8).length + 1)
          notifs += ((pid, chan, payload))
        case 's' => suspended = true
        case 't' =>
          val n = b.getShort
          paramOids = (0 until n).map(_ => b.getInt)
        case 'n' => noData = true
        case 'K' => backendKey = Some((b.getInt, b.getInt))
        case 'R' | '1' | '2' | '3' | 'N' => // auth ok, parse/bind/close complete, notice
        case other => sys.error(s"unexpected message type $other")
      }
    }
    throw new IllegalStateException("unreachable")
  }
}

