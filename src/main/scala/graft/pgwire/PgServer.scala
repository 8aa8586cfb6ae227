package graft.pgwire

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.net.{InetSocketAddress, ServerSocket, Socket, SocketException}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.{MessageDigest, SecureRandom}
import java.util.concurrent.{ConcurrentHashMap, Semaphore}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** PostgreSQL wire-protocol v3 server fronting a SparkSession — the
  * reference's actual product shape (reference:
  * datafusion-postgres/src/lib.rs:87-195 accept loop,
  * src/handlers.rs:154-233 simple query, :236-351 extended query).
  *
  * One blocking-IO thread per connection (the reference runs one tokio
  * task per connection; same concurrency model, Spark fans the actual
  * query work across its executor pool). A semaphore bounds concurrent
  * connections like the reference's `max_connections`.
  *
  * Auth: trust (default), cleartext or md5 against a password map
  * (reference: auth.rs:464-596).
  */
final class PgServer(
    spark: SparkSession,
    host: String = "127.0.0.1",
    port: Int = 0,
    maxConnections: Int = 64,
    authMethod: String = "trust",
    passwords: Map[String, String] = Map.empty,
    val auth: AuthManager = new AuthManager(),
    hooks: Seq[QueryHook] = Nil,
    tls: Option[javax.net.ssl.SSLContext] = None) {

  private val server = new ServerSocket()
  private val connIds = new AtomicInteger(1)
  private val connLimit = new Semaphore(maxConnections)
  private val rng = new SecureRandom()
  /** pid → (secret, jobGroup) for CancelRequest routing. */
  private val cancelKeys = new ConcurrentHashMap[Int, (Int, String)]()
  @volatile private var running = false

  def boundPort: Int = server.getLocalPort

  /** Refuses a session built without `graft.GraftExtensions`: pg
    * dialect semantics (an analyzer rule) and the graft-native
    * functions reach wire queries only through it. */
  def start(): Unit = {
    if (!spark.sessionState.analyzer.extendedResolutionRules.contains(PgSemantics.Resolution))
      throw new IllegalStateException("PgServer needs a session built with " +
        "spark.sql.extensions=graft.GraftExtensions")
    server.bind(new InetSocketAddress(host, port))
    running = true
    // the pg functions first: restoring a saved wire view analyzes its
    // pg text (EXTRACT(EPOCH FROM ts), date_part('isodow', ts), ...)
    PgFunctions.registerAll(spark)
    // warehouse-backed DDL metadata: reload enums/sequences/indexes/
    // matviews/comments/tables when spark.graft.metaDir is set
    PgMeta.attachFromConf(spark)
    PgCatalog.registerAll(spark)
    PgStatStatements.installListener(spark)
    val t = new Thread(() => acceptLoop(), "pgwire-accept")
    t.setDaemon(true)
    t.start()
  }

  def stop(): Unit = {
    running = false
    try server.close() catch { case NonFatal(_) => }
  }

  private def acceptLoop(): Unit =
    while (running) {
      try {
        val sock = server.accept()
        connLimit.acquire()
        val t = new Thread(() => {
          // EOF, reset, TLS failure or a Messages.BadLength: drop it
          try handleConnection(sock) catch { case _: java.io.IOException => }
          finally { connLimit.release(); try sock.close() catch { case NonFatal(_) => } }
        }, s"pgwire-conn-${connIds.get()}")
        t.setDaemon(true)
        t.start()
      } catch {
        case _: SocketException => // closed during stop()
        case NonFatal(_) =>
      }
    }

  // ---- connection lifecycle ---------------------------------------------

  private def handleConnection(rawSock: Socket): Unit = {
    rawSock.setTcpNoDelay(true)
    var sock: Socket = rawSock
    var in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
    var out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))

    // startup phase: negotiate SSL (accept when a TLS context is
    // configured, else deny → client falls back to plaintext), handle
    // cancel, read params
    var startup: Messages.StartupParams = null
    while (startup == null) {
      Messages.readStartup(in) match {
        case Messages.SslRequest if tls.isDefined =>
          out.writeByte('S'); out.flush()
          val ssl = tls.get.getSocketFactory
            .createSocket(sock, sock.getInetAddress.getHostAddress, sock.getPort, true)
            .asInstanceOf[javax.net.ssl.SSLSocket]
          ssl.setUseClientMode(false)
          ssl.startHandshake()
          sock = ssl
          in = new DataInputStream(new BufferedInputStream(ssl.getInputStream))
          out = new DataOutputStream(new BufferedOutputStream(ssl.getOutputStream))
        case Messages.SslRequest | Messages.GssRequest =>
          Messages.sslDeny(out); out.flush()
        case Messages.Cancel(pid, secret) =>
          Option(cancelKeys.get(pid)).foreach { case (expected, jobGroup) =>
            if (expected == secret) spark.sparkContext.cancelJobGroup(jobGroup)
          }
          return // cancel connections close immediately
        case p: Messages.StartupParams => startup = p
      }
    }
    val user = startup.params.getOrElse("user", "postgres")
    val database = startup.params.getOrElse("database", user)
    if (!authenticate(in, out, user)) return

    val connId = connIds.getAndIncrement()
    val secret = rng.nextInt()
    val jobGroup = s"pgwire-conn-$connId"
    cancelKeys.put(connId, (secret, jobGroup))
    val session = new Session(connId, user, database)
    // pg applies startup-packet parameters as session settings (pgjdbc
    // ships DateStyle/TimeZone/extra_float_digits this way)
    startup.params.foreach { case (k, v) =>
      val lk = k.toLowerCase
      if (lk != "user" && lk != "database" && lk != "options" && lk != "replication")
        session.gucs(lk) = v
    }

    Messages.authOk(out)
    Seq(
      "server_version" -> PgFunctions.ServerVersion,
      "server_encoding" -> "UTF8",
      "client_encoding" -> "UTF8",
      "DateStyle" -> "ISO, MDY",
      "IntervalStyle" -> "postgres",
      "TimeZone" -> "UTC",
      "integer_datetimes" -> "on",
      "standard_conforming_strings" -> "on",
      "is_superuser" -> "on",
      "application_name" -> startup.params.getOrElse("application_name", "")
    ).foreach { case (k, v) => Messages.parameterStatus(out, k, v) }
    Messages.backendKeyData(out, connId, secret)
    readyWithNotifications(out, session)
    out.flush()

    NotifyBus.register(session)
    try messageLoop(in, out, session, jobGroup)
    finally {
      NotifyBus.deregister(session)
      cancelKeys.remove(connId)
      session.discardAllPortals()
      // disconnect mid-transaction rolls back (pg's rule): restore
      // any journaled writes before the session state drops
      try Handlers.abortOnDisconnect(spark, session)
      catch { case NonFatal(_) => }
      PgSequences.clearSession(connId)
    }
  }

  /** Drain pending NOTIFY deliveries, then ReadyForQuery — pg's
    * between-transactions delivery point. Notifications that arrive
    * while the connection is BUSY land here; idle connections get
    * them pushed directly by the bus (messageLoop's onNotify wiring).
    */
  private def readyWithNotifications(out: DataOutputStream, session: Session): Unit = {
    // pg delivers queued notifications only OUTSIDE a transaction
    // block — between in-transaction statements they stay queued
    // (live-pinned: delivery comes with COMMIT's ReadyForQuery)
    if (session.txn == session.Idle) {
      var n = session.pendingNotifications.poll()
      while (n != null) {
        Messages.notificationResponse(out, n._1, n._2, n._3)
        n = session.pendingNotifications.poll()
      }
    }
    Messages.readyForQuery(out, session.txnStatusByte)
  }

  private def authenticate(in: DataInputStream, out: DataOutputStream,
      user: String): Boolean = authMethod match {
    case "trust" => true
    case "cleartext" =>
      Messages.authCleartext(out); out.flush()
      val msg = Messages.readMessage(in)
      val given = msg.cStringAt(0)
      val ok = passwords.get(user).orElse(auth.password(user)).contains(given)
      if (!ok) {
        Messages.errorResponse(out, "28P01", s"""password authentication failed for user "$user"""")
        out.flush()
      }
      ok
    case "md5" =>
      val salt = new Array[Byte](4)
      rng.nextBytes(salt)
      Messages.authMd5(out, salt); out.flush()
      val msg = Messages.readMessage(in)
      val given = msg.cStringAt(0)
      val ok = passwords.get(user).orElse(auth.password(user)).exists { pass =>
        val inner = md5hex((pass + user).getBytes(UTF_8))
        val expect = "md5" + md5hex(inner.getBytes(UTF_8) ++ salt)
        expect == given
      }
      if (!ok) {
        Messages.errorResponse(out, "28P01", s"""password authentication failed for user "$user"""")
        out.flush()
      }
      ok
    case "scram-sha-256" =>
      passwords.get(user).orElse(auth.password(user)) match {
        case None =>
          Messages.errorResponse(out, "28P01",
            s"""password authentication failed for user "$user"""")
          out.flush(); false
        case Some(pass) =>
          Messages.authSasl(out, Seq("SCRAM-SHA-256")); out.flush()
          val init = Messages.readMessage(in).in
          val mech = {
            val buf = new scala.collection.mutable.ArrayBuffer[Byte]()
            var b = init.read()
            while (b > 0) { buf += b.toByte; b = init.read() }
            new String(buf.toArray, UTF_8)
          }
          if (mech != "SCRAM-SHA-256") {
            Messages.errorResponse(out, "28000", s"unsupported SASL mechanism $mech")
            out.flush(); return false
          }
          val n = init.readInt()
          val clientFirst = { val b = new Array[Byte](n); init.readFully(b); new String(b, UTF_8) }
          val salt = new Array[Byte](16); rng.nextBytes(salt)
          val nonceBytes = new Array[Byte](18); rng.nextBytes(nonceBytes)
          val scram = new Scram(user, pass,
            java.util.Base64.getEncoder.encodeToString(nonceBytes), salt)
          Messages.authSaslContinue(out,
            scram.serverFirstMessage(clientFirst).getBytes(UTF_8))
          out.flush()
          val clientFinal = new String(Messages.readMessage(in).body, UTF_8)
          scram.verifyClientFinal(clientFinal) match {
            case Some(serverFinal) =>
              Messages.authSaslFinal(out, serverFinal.getBytes(UTF_8)); true
            case None =>
              Messages.errorResponse(out, "28P01",
                s"""password authentication failed for user "$user"""")
              out.flush(); false
          }
      }
    case other =>
      Messages.errorResponse(out, "28000", s"unsupported auth method $other"); out.flush()
      false
  }

  private def md5hex(b: Array[Byte]): String =
    MessageDigest.getInstance("MD5").digest(b).map("%02x".format(_)).mkString

  // ---- message loop ------------------------------------------------------

  private def messageLoop(in: DataInputStream, out: DataOutputStream,
      session: Session, jobGroup: String): Unit = {
    var ignoreTillSync = false
    // Async NOTIFY to IDLE connections (pg pushes while a client waits
    // in select()): while this thread blocks in readMessage it holds no
    // lock, so the notifying connection's thread can take writeLock and
    // push the 'A' message directly. While a command is processing
    // (busyProcessing, or the lock is held) the push is skipped and the
    // notification drains at the next ReadyForQuery, pg's
    // between-transactions point — so responses never interleave.
    val writeLock = new java.util.concurrent.locks.ReentrantLock()
    // result rows are built here, one message at a time
    val buf = new WireBuf(8192)
    session.onNotify = () => {
      // idle INSIDE a transaction queues until the transaction ends
      // (live-pinned: the notification prints only after COMMIT)
      if (!session.busyProcessing && session.txn == session.Idle &&
        writeLock.tryLock()) {
        try {
          if (!session.busyProcessing && session.txn == session.Idle) {
            var wrote = false
            var n = session.pendingNotifications.poll()
            while (n != null) {
              Messages.notificationResponse(out, n._1, n._2, n._3)
              wrote = true
              n = session.pendingNotifications.poll()
            }
            if (wrote) out.flush()
          }
        } catch { case NonFatal(_) => } // socket gone → teardown handles it
        finally writeLock.unlock()
      }
    }
    while (true) {
      val msg = Messages.readMessage(in)
      session.busyProcessing = true
      writeLock.lock()
      try msg.tpe.toChar match {
        case 'X' => return
        case 'Q' =>
          handleSimpleQuery(in, out, buf, session, jobGroup, msg.cStringAt(0))
        case 'S' => // Sync
          ignoreTillSync = false
          readyWithNotifications(out, session); out.flush()
        case 'H' => out.flush()
        case _ if ignoreTillSync => // skip until Sync after an error
        case tpe =>
          // any extended-protocol error skips to Sync and, inside a
          // transaction block, fails the block (pg's rule)
          try tpe match {
            case 'P' => handleParse(session, msg); Messages.parseComplete(out)
            case 'B' => handleBind(session, msg); Messages.bindComplete(out)
            case 'D' => handleDescribe(out, session, jobGroup, msg)
            case 'E' => handleExecute(out, buf, session, jobGroup, msg)
            case 'C' =>
              val kind = msg.body(0).toChar
              val name = msg.cStringAt(1)
              if (kind == 'S') session.prepared.remove(name)
              else session.discardPortal(name)
              Messages.closeComplete(out)
            case 'F' => throw PgException("0A000", "function call protocol not supported")
            case other => throw PgException("08P01", s"unsupported message type $other")
          } catch { case e: Throwable =>
            writeError(out, e); ignoreTillSync = true
            if (session.txn == session.InTxn) session.txn = session.Failed
          }
      } finally {
        try out.flush()
        finally { writeLock.unlock(); session.busyProcessing = false }
      }
    }
  }

  // ---- simple query (reference: handlers.rs:154-233) ---------------------

  private def handleSimpleQuery(in: DataInputStream, out: DataOutputStream, buf: WireBuf,
      session: Session, jobGroup: String, sql: String): Unit = {
    val statements = Compat.splitStatements(sql)
    if (statements.isEmpty) {
      Messages.emptyQueryResponse(out)
      readyWithNotifications(out, session); out.flush()
      return
    }
    var failed = false
    statements.foreach { stmt =>
      if (!failed) {
        try Handlers.withTimeout(spark, session, jobGroup) {
          CopyOps.parse(stmt) match {
            case Some(spec) => handleCopy(in, out, buf, session, spec)
            case None =>
          Handlers.execute(spark, session, stmt, Some(auth), hooks) match {
            case EmptyQuery => Messages.emptyQueryResponse(out)
            case Complete(tag, push) =>
              push.foreach { case (k, v) => Messages.parameterStatus(out, k, v) }
              Messages.commandComplete(out, tag)
            case RowSet(schema, rows, tagFor, _) =>
              Messages.rowDescription(out, PgType.rowDescription(schema))
              val w = RowWriter(schema, _ => 0, session.outputFmt)
              var n = 0L
              rows.foreach { row =>
                Messages.dataRow(out, buf, w, row)
                n += 1
              }
              Messages.commandComplete(out, tagFor(n))
          }
          }
        } catch {
          case e: Throwable =>
            writeError(out, e)
            if (session.txn == session.InTxn) session.txn = session.Failed
            failed = true
        }
      }
    }
    readyWithNotifications(out, session)
    out.flush()
  }

  /** COPY sub-protocol (parity-plus: the reference has no CopyIn/Out;
    * psql `\copy` and every pg bulk tool depend on it). Both
    * directions route the actual data access through
    * [[Handlers.execute]], so RBAC, query hooks, statement timeout and
    * transaction state apply exactly as for plain SELECT/INSERT.
    */
  private def handleCopy(in: DataInputStream, out: DataOutputStream, buf: WireBuf,
      session: Session, spec: CopyOps.CopySpec): Unit = {
    if (!spec.fromStdin) {
      // ---- COPY ... TO STDOUT ----
      val sql = spec.source match {
        case Left(q) => q
        case Right(t) =>
          val colList =
            if (spec.cols.nonEmpty) spec.cols.map(c => s"`$c`").mkString(", ") else "*"
          s"SELECT $colList FROM `$t`"
      }
      Handlers.execute(spark, session, sql, Some(auth), hooks) match {
        case RowSet(schema, rows, _, _) if spec.binary =>
          // binary format: PGCOPY header, int16-count tuples of
          // (int32 len, wire-binary bytes) — the same per-type
          // encodings the extended protocol's binary result path
          // uses (byte-replay-pinned there), -1 trailer
          Messages.copyOutResponse(out, schema.fields.length, binary = true)
          Messages.copyData(out, CopyOps.binaryHeader)
          val w = RowWriter(schema, _ => 1, TextEncoder.Fmt.default)
          var n = 0L
          rows.foreach { row =>
            Messages.copyData(out, buf, w, row)
            n += 1
          }
          Messages.copyData(out, BinaryEncoder.be2(-1))
          Messages.copyDone(out)
          Messages.commandComplete(out, s"COPY $n")
        case RowSet(schema, rows, _, _) =>
          Messages.copyOutResponse(out, schema.fields.length)
          var n = 0L
          if (spec.header)
            Messages.copyData(out, CopyOps.encodeLine(
              schema.fields.toSeq.map(f => Some(f.name)), spec).getBytes(UTF_8))
          val fmt = session.outputFmt
          val cols = schema.fields.map(TextEncoder.writer(_, fmt))
          rows.foreach { row =>
            val fields = cols.indices.map { i =>
              if (row.isNullAt(i)) None else Some(TextEncoder.text(cols(i), row.get(i)))
            }
            Messages.copyData(out, CopyOps.encodeLine(fields, spec).getBytes(UTF_8))
            n += 1
          }
          Messages.copyDone(out)
          Messages.commandComplete(out, s"COPY $n")
        case _ =>
          throw PgException("42601", "COPY source did not produce a row set")
      }
    } else {
      // ---- COPY <table> FROM STDIN ----
      val table = spec.source.toOption.get
      val tgtSchema =
        try spark.table(table).schema
        catch { case NonFatal(_) =>
          throw PgException("42P01", s"""relation "$table" does not exist""") }
      val cols =
        if (spec.cols.nonEmpty) spec.cols else tgtSchema.fields.map(_.name).toSeq
      cols.foreach { c =>
        if (!tgtSchema.fieldNames.exists(_.equalsIgnoreCase(c)))
          throw PgException("42703",
            s"""column "$c" of relation "$table" does not exist""")
      }
      Messages.copyInResponse(out, cols.length, binary = spec.binary)
      out.flush()
      // drain the COPY data stream fully BEFORE acting on it — on any
      // failure the protocol still requires consuming up to CopyDone
      val buf = new java.io.ByteArrayOutputStream()
      val maxBytes = 256 * 1024 * 1024
      var overflow = false
      var failMsg: Option[String] = None
      var done = false
      while (!done) {
        val msg = Messages.readMessage(in)
        msg.tpe.toChar match {
          case 'd' =>
            if (!overflow && buf.size + msg.body.length > maxBytes) overflow = true
            if (!overflow) buf.write(msg.body)
          case 'c' => done = true
          case 'f' =>
            failMsg = Some(msg.cStringAt(0)); done = true
          case 'H' | 'S' => // Flush/Sync mid-copy: no-op
          case _ => // pg: other messages during CopyIn are ignored
        }
      }
      failMsg.foreach(m =>
        throw PgException("57014", s"COPY from stdin failed: $m"))
      if (overflow)
        throw PgException("54000",
          "COPY FROM STDIN exceeds the 256 MiB buffer — the protocol is a " +
            "single client stream by design; register bulk data as a file source instead")
      val rows =
        if (spec.binary) {
          // binary fields decode to TEXT form (per target column type)
          // so both formats share the staging/cast pipeline below
          val colTypes = cols.map(c =>
            tgtSchema.fields.find(_.name.equalsIgnoreCase(c)).get.dataType)
          CopyOps.decodeBinary(buf.toByteArray, colTypes)
        } else CopyOps.decode(new String(buf.toByteArray, UTF_8), spec)
      rows.zipWithIndex.foreach { case (r, idx) =>
        if (r.length != cols.length)
          throw PgException("22P04",
            s"row ${idx + 1} has ${r.length} columns, expected ${cols.length}")
      }
      // stage as a string-typed temp view, then a plain INSERT INTO
      // SELECT with per-column casts — the INSERT goes through
      // Handlers.execute so permissions/hooks see a normal write
      val viewName = s"__copy_in_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val strSchema = StructType(cols.map(c => StructField(c, StringType)).toArray)
      val data = rows.map(r => Row.fromSeq(r.map(_.orNull)))
      spark.createDataFrame(data.asJava, strSchema).createOrReplaceTempView(viewName)
      try {
        val sel = tgtSchema.fields.toSeq.map { f =>
          cols.find(_.equalsIgnoreCase(f.name)) match {
            case Some(c) if f.dataType == BinaryType =>
              s"pg_to_bytea(`$c`) AS `${f.name}`" // pg bytea text input (\x hex / escapes)
            case Some(c) =>
              s"CAST(`$c` AS ${f.dataType.sql}) AS `${f.name}`"
            case None =>
              s"CAST(NULL AS ${f.dataType.sql}) AS `${f.name}`"
          }
        }
        Handlers.execute(spark, session,
          s"INSERT INTO `$table` SELECT ${sel.mkString(", ")} FROM `$viewName`",
          Some(auth), hooks) match {
          case Complete(_, _) => Messages.commandComplete(out, s"COPY ${rows.length}")
          case _ => throw PgException("XX000", "COPY insert did not complete")
        }
      } finally spark.catalog.dropTempView(viewName)
    }
  }

  private def writeError(out: DataOutputStream, e: Throwable): Unit = {
    // a PgException thrown inside a UDF (e.g. pg_time_in's 22007)
    // surfaces wrapped in SparkException — walk the cause chain so the
    // client sees the pg SQLSTATE, not XX000. Spark's runtime data
    // errors (class 22: overflow, division by zero, bad cast input)
    // carry pg's codes already, apart from CAST_INVALID_INPUT's 22018
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8).toSeq
    val unwrapped = chain.collectFirst { case p: PgException => p }
      .orElse(chain.collectFirst { case d: org.apache.spark.SparkThrowable
          if Option(d.getSqlState).exists(_.startsWith("22")) =>
        PgException(if (d.getSqlState == "22018") "22P02" else d.getSqlState,
          Option(d.getMessage).getOrElse(d.getSqlState))
      }).getOrElse(e)
    val (code, msg) = unwrapped match {
      case PgException(c, m) => (c, m)
      case ae: org.apache.spark.sql.AnalysisException =>
        val cond = Option(ae.getCondition).getOrElse("")
        val sqlState =
          if (cond.contains("TABLE_OR_VIEW_NOT_FOUND")) "42P01"
          else if (cond.contains("UNRESOLVED_COLUMN") || cond.contains("UNRESOLVED_FIELD")) "42703"
          else if (cond.contains("PARSE_SYNTAX_ERROR")) "42601"
          else if (cond.contains("UNRESOLVED_ROUTINE")) "42883"
          else "42601"
        (sqlState, Option(ae.getMessage).getOrElse("analysis error"))
      case other =>
        val m = Option(other.getMessage).getOrElse(other.getClass.getName)
        // job killed via cancelJobGroup (CancelRequest path) → pg's
        // "query canceled" SQLSTATE rather than an internal error
        if (m.toLowerCase.contains("cancelled") || m.toLowerCase.contains("canceled"))
          ("57014", "canceling statement due to user request")
        else ("XX000", m)
    }
    Messages.errorResponse(out, code, msg)
  }

  // ---- extended query (reference: handlers.rs:236-351) -------------------

  private def handleParse(session: Session, msg: Messages.Msg): Unit = {
    val in = msg.in
    val name = readCStr(in)
    val sql = readCStr(in)
    val n = in.readShort()
    val clientOids = (0 until n).map(_ => in.readInt())
    val toks = Compat.tokenize(sql).filter(_.kind != Compat.Ws)
    if (toks.dropWhile(!_.is(";")).exists(!_.is(";")))
      throw PgException("42601", "cannot insert multiple commands into a prepared statement")
    // merge client-declared types with $N::type cast inference
    // (reference: planner.rs:9-66 — explicit Cast(Placeholder) types
    // override, client hints win over inference)
    val nParams = math.max(n.toInt, maxParamIndex(toks))
    val inferred = Compat.inferParamOids(sql, nParams)
    var oids = (0 until nParams).map { i =>
      val client = if (i < clientOids.length) clientOids(i) else 0
      if (client != 0) client else inferred(i)
    }
    // params the client left untyped and no `$N::type` cast names: walk
    // the parsed plan for usage context (reference planner.rs:38-66)
    if (oids.contains(0)) {
      val planTypes = ParamInfer.infer(spark, sql, nParams)
      oids = oids.zip(planTypes).map { case (o, p) => if (o != 0) o else p }
    }
    session.prepared(name) = session.Prepared(sql, oids, None)
  }

  private def maxParamIndex(toks: Seq[Compat.Tok]): Int =
    toks.collect {
      case t if t.kind == Compat.Word && t.text.matches("\\$\\d+") =>
        t.text.substring(1).toInt
    }.maxOption.getOrElse(0)

  private def handleBind(session: Session, msg: Messages.Msg): Unit = {
    val in = msg.in
    val portalName = readCStr(in)
    val stmtName = readCStr(in)
    val nFmt = in.readShort()
    val paramFormats = (0 until nFmt).map(_ => in.readShort())
    val nParams = in.readShort()
    if (nFmt > 1 && nFmt != nParams)
      throw PgException("08P01", s"bind message has $nFmt parameter formats but $nParams parameters")
    val prep = session.prepared.getOrElse(stmtName,
      throw PgException("26000", s"""prepared statement "$stmtName" does not exist"""))
    if (nParams != prep.paramOids.length)
      throw PgException("08P01", s"bind message supplies $nParams parameters, but prepared " +
        s"""statement "$stmtName" requires ${prep.paramOids.length}""")
    val literals = (0 until nParams).map { i =>
      val len = in.readInt()
      if (len > in.available())
        throw PgException("08P01", "insufficient data left in message")
      val bytes = if (len < 0) null else { val b = new Array[Byte](len); in.readFully(b); b }
      val oid = if (prep.paramOids(i) != 0) prep.paramOids(i) else PgType.TEXT
      paramToLiteral(bytes, oid, formatAt(paramFormats, i))
    }
    val nResFmt = in.readShort()
    val resultFormats = (0 until nResFmt).map(_ => in.readShort())
    val boundSql = substituteParams(prep.sql, literals)
    // re-Bind over an existing name discards the old portal's stream
    session.discardPortal(portalName)
    session.portals(portalName) = session.Portal(prep, boundSql, resultFormats)
  }

  /** Format code of item `i` from a 0-, 1- or n-entry format list. */
  private def formatAt(formats: Seq[Short], i: Int): Short =
    if (formats.isEmpty) 0 else if (formats.length == 1) formats.head else formats(i)

  /** Array parameter OIDs → Spark element type (reference supports 9
    * array param types; arrow-pg/src/datatypes/df.rs).
    */
  private val arrayElemType: Map[Int, String] = Map(
    PgType.BOOL_ARRAY -> "boolean", PgType.INT2_ARRAY -> "smallint",
    PgType.INT4_ARRAY -> "int", PgType.INT8_ARRAY -> "bigint",
    PgType.FLOAT4_ARRAY -> "float", PgType.FLOAT8_ARRAY -> "double",
    PgType.TEXT_ARRAY -> "string", PgType.VARCHAR_ARRAY -> "string",
    PgType.NUMERIC_ARRAY -> "decimal(38,18)")

  /** Decode one bind parameter into a SQL literal (reference param
    * coercion matrix: arrow-pg/src/datatypes/df.rs:282-880).
    */
  private def paramToLiteral(bytes: Array[Byte], oid: Int, format: Short): String = {
    if (bytes == null) return "NULL"
    if (format == 0) {
      val s = new String(bytes, UTF_8)
      oid match {
        case PgType.BOOL =>
          if (s == "t" || s.equalsIgnoreCase("true")) "TRUE" else "FALSE"
        case PgType.INT2 | PgType.INT4 | PgType.INT8 | PgType.OID =>
          if (!s.matches("[+-]?\\d+")) throw PgException("22P02", s"invalid integer: $s")
          s
        case PgType.FLOAT4 | PgType.FLOAT8 | PgType.NUMERIC =>
          if (!s.matches("[+-]?(\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?|NaN|[+-]?Infinity"))
            throw PgException("22P02", s"invalid number: $s")
          if (oid == PgType.FLOAT4) s"CAST('$s' AS FLOAT)"
          else if (oid == PgType.FLOAT8 || s.endsWith("NaN") || s.endsWith("Infinity"))
            s"CAST('$s' AS DOUBLE)"
          else {
            // the value's own precision and scale, like pg's numeric
            val d0 = new java.math.BigDecimal(s)
            val d = if (d0.scale < 0) d0.setScale(0) else d0
            val p = math.max(math.max(d.precision, d.scale), 1)
            if (p > 38) throw PgException("22003",
              s"numeric value $s has more than 38 digits")
            s"CAST('${d.toPlainString}' AS DECIMAL($p,${d.scale}))"
          }
        case PgType.BYTEA =>
          val hex = if (s.startsWith("\\x")) s.substring(2) else s
          s"X'$hex'"
        case PgType.DATE => s"DATE '${s.replace("'", "''")}'"
        case PgType.TIME => s"pg_time_in('${s.replace("'", "''")}')"
        // 1114 = plain timestamp → NTZ literal; 1184 keeps the
        // session-zoned type (Compat maps the keywords accordingly)
        case PgType.TIMESTAMP => s"TIMESTAMP '${s.replace("'", "''")}'"
        case PgType.TIMESTAMPTZ => s"TIMESTAMPTZ '${s.replace("'", "''")}'"
        case oid if arrayElemType.contains(oid) =>
          Compat.arrayLiteralSql(s, arrayElemType(oid))
        case _ => "'" + s.replace("'", "''") + "'"
      }
    } else {
      val buf = java.nio.ByteBuffer.wrap(bytes)
      oid match {
        case PgType.BOOL => if (bytes.nonEmpty && bytes(0) != 0) "TRUE" else "FALSE"
        case PgType.INT2 => buf.getShort.toString
        case PgType.INT4 | PgType.OID => buf.getInt.toString
        case PgType.INT8 => buf.getLong.toString
        case PgType.FLOAT4 => s"CAST('${buf.getFloat}' AS FLOAT)"
        case PgType.FLOAT8 => s"CAST('${buf.getDouble}' AS DOUBLE)"
        case PgType.TEXT | PgType.VARCHAR | PgType.NAME =>
          "'" + new String(bytes, UTF_8).replace("'", "''") + "'"
        case PgType.BYTEA => "X'" + bytes.map("%02x".format(_)).mkString + "'"
        case PgType.DATE =>
          val days = buf.getInt + BinaryEncoder.PG_EPOCH_DAYS
          s"DATE '${java.time.LocalDate.ofEpochDay(days)}'"
        case PgType.TIME =>
          // binary TIME = micros-since-midnight int8; re-enter through
          // pg_time_in's nanos passthrough (zero-padded to 15 digits so
          // even 00:00:00.0005 hits the ≥9-digit passthrough rule) so
          // the result column still tags as pg.type=time
          s"pg_time_in('${"%015d".format(buf.getLong * 1000L)}')"
        case PgType.TIMESTAMP | PgType.TIMESTAMPTZ =>
          // binary timestamp: micros since 2000-01-01. For 1114 the
          // value is a wall clock → NTZ literal; for 1184 it is a UTC
          // instant → timestamptz literal with an explicit +00
          val micros = buf.getLong + BinaryEncoder.PG_EPOCH_MICROS
          val ldt = java.time.LocalDateTime.ofEpochSecond(
            Math.floorDiv(micros, 1000000L), (Math.floorMod(micros, 1000000L) * 1000).toInt,
            java.time.ZoneOffset.UTC)
          if (oid == PgType.TIMESTAMP) s"TIMESTAMP '$ldt'"
          else s"TIMESTAMPTZ '${ldt}+00'"
        case oid if arrayElemType.contains(oid) =>
          // pg array binary: ndim, hasnull, eloid, [dim, lbound]*,
          // then (len, bytes) per element in row-major order (JDBC
          // setArray sends ndim=1; psycopg sends numpy-shaped data as
          // ndim>=2 — decoded to nested ARRAYs, parity-PLUS over the
          // reference's flat-only decode, arrow-pg/src/datatypes/
          // df.rs:555-877)
          val ndim = buf.getInt
          buf.getInt // hasnull
          val elemOid = buf.getInt
          val dims = (0 until ndim).map { _ =>
            val d = buf.getInt; buf.getInt /* lower bound */ ; d
          }
          val flat = scala.collection.mutable.ArrayBuffer.empty[String]
          (0 until dims.product).foreach { _ =>
            val len = buf.getInt
            if (len < 0) flat += "NULL"
            else {
              val eb = new Array[Byte](len)
              buf.get(eb)
              flat += paramToLiteral(eb, elemOid, 1)
            }
          }
          // fold row-major elements into nested ARRAY(...) level by
          // level, innermost (last) dimension first
          var groups: Seq[String] = flat.toSeq
          dims.reverse.dropRight(1).foreach { d =>
            groups = groups.grouped(d).map(g => s"ARRAY(${g.mkString(",")})").toSeq
          }
          val sparkElem = arrayElemType(oid)
          val castType = (1 to math.max(1, ndim)).foldLeft(sparkElem) {
            (t, _) => s"ARRAY<$t>"
          }
          if (ndim == 0) s"CAST(ARRAY() AS ARRAY<$sparkElem>)"
          else s"CAST(ARRAY(${groups.mkString(",")}) AS $castType)"
        case other =>
          throw PgException("0A000", s"binary format for type OID $other not supported")
      }
    }
  }

  /** Replace $N placeholders (outside strings/comments) with literals. */
  private def substituteParams(sql: String, literals: Seq[String]): String = {
    val toks = Compat.tokenize(sql).map { t =>
      if (t.kind == Compat.Word && t.text.matches("\\$\\d+")) {
        val idx = t.text.substring(1).toInt - 1
        if (idx < 0 || idx >= literals.length)
          throw PgException("08P01", s"parameter ${t.text} not bound")
        Compat.Tok(Compat.Word, literals(idx))
      } else t
    }
    Compat.render(toks)
  }

  /** Typed NULL literal for schema inference during Describe. */
  private def nullLiteralOf(oid: Int): String = {
    val tpe = oid match {
      case PgType.BOOL => "BOOLEAN"
      case PgType.INT2 => "SMALLINT"
      case PgType.INT4 | PgType.OID => "INT"
      case PgType.INT8 => "BIGINT"
      case PgType.FLOAT4 => "FLOAT"
      case PgType.FLOAT8 => "DOUBLE"
      case PgType.NUMERIC => "DECIMAL(38,18)"
      case PgType.BYTEA => "BINARY"
      case PgType.DATE => "DATE"
      case PgType.TIMESTAMP => "TIMESTAMP_NTZ"
      case PgType.TIMESTAMPTZ => "TIMESTAMP"
      case _ => "STRING"
    }
    s"CAST(NULL AS $tpe)"
  }

  private def handleDescribe(out: DataOutputStream, session: Session,
      jobGroup: String, msg: Messages.Msg): Unit = {
    val kind = msg.body(0).toChar
    val name = msg.cStringAt(1)
    if (kind == 'S') {
      val prep = session.prepared.getOrElse(name,
        throw PgException("26000", s"""prepared statement "$name" does not exist"""))
      val oids = prep.paramOids.map(o => if (o == 0) PgType.TEXT else o)
      Messages.parameterDescription(out, oids)
      describeSchema(prep.sql, oids) match {
        case Some(schema) => Messages.rowDescription(out, PgType.rowDescription(schema))
        case None => Messages.noData(out)
      }
    } else {
      val portal = session.portals.getOrElse(name,
        throw PgException("34000", s"""portal "$name" does not exist"""))
      // a row-returning statement runs here, once: the RowDescription
      // comes from the result Execute then streams. DML runs only at
      // Execute, so a described-but-unexecuted write never happens.
      if (portal.result.isEmpty && rowHead(portal.boundSql).isDefined)
        Handlers.withTimeout(spark, session, jobGroup)(openPortal(session, portal))
      portal.result match {
        case Some(RowSet(schema, _, _, _)) =>
          Messages.rowDescription(out,
            PgType.rowDescription(schema, formatAt(portal.resultFormats, _)))
        case _ => Messages.noData(out)
      }
    }
  }

  private val rowHeads =
    Set("SELECT", "WITH", "VALUES", "TABLE", "SHOW", "EXPLAIN", "DESCRIBE", "FETCH")
  private val writeWords = Set("INSERT", "UPDATE", "DELETE", "MERGE")

  /** The head keyword of a statement whose result is rows: a
    * row-returning head, and no data-modifying clause (`WITH … INSERT`)
    * behind a WITH. */
  private def rowHead(sql: String): Option[String] = {
    val words = Compat.tokenize(sql).iterator
      .filter(_.kind == Compat.Word).map(_.text.toUpperCase)
    words.nextOption().filter(h =>
      rowHeads.contains(h) && (h != "WITH" || !words.exists(writeWords.contains)))
  }

  /** Run the portal's statement (under the caller's statement timeout)
    * and keep its result on the portal for Execute to send. */
  private def openPortal(session: Session, portal: Session#Portal): PgResult = {
    val r = Handlers.execute(spark, session, portal.boundSql, Some(auth), hooks)
    r match {
      case rs: RowSet if portal.resultFormats.length > 1 &&
          portal.resultFormats.length != rs.schema.length =>
        rs.onDiscard()
        throw PgException("08P01", s"bind message has ${portal.resultFormats.length} " +
          s"result formats but query has ${rs.schema.length} columns")
      case _ =>
    }
    portal.result = Some(r)
    r
  }

  /** Analysis-only schema of a prepared statement, its parameters
    * bound to typed NULLs. No job runs: spark.sql is lazy for
    * row-returning plans, and only those get here (DDL/DML would
    * execute; SHOW and FETCH read session state, so describe as NoData).
    */
  private def describeSchema(sql: String, oids: Seq[Int]): Option[StructType] =
    rowHead(sql).filter(h => h != "SHOW" && h != "FETCH").flatMap { _ =>
      try Some(Handlers.runSql(spark, substituteParams(sql, oids.map(nullLiteralOf))).schema)
      catch { case NonFatal(_) => None }
    }

  private def handleExecute(out: DataOutputStream, buf: WireBuf, session: Session,
      jobGroup: String, msg: Messages.Msg): Unit = {
    val in = msg.in
    val name = readCStr(in)
    val maxRows = in.readInt()
    val portal = session.portals.getOrElse(name,
      throw PgException("34000", s"""portal "$name" does not exist"""))
    Handlers.withTimeout(spark, session, jobGroup) {
      portal.result.getOrElse(openPortal(session, portal)) match {
        case EmptyQuery =>
          portal.result = None
          Messages.emptyQueryResponse(out)
        case Complete(tag, push) =>
          portal.result = None
          push.foreach { case (k, v) => Messages.parameterStatus(out, k, v) }
          Messages.commandComplete(out, tag)
        case RowSet(schema, rows, tagFor, _) =>
          // built per Execute, not per portal: pg formats at output
          // time, so a SET DateStyle between two Executes applies
          val w = RowWriter(schema, formatAt(portal.resultFormats, _), session.outputFmt)
          var n = 0L
          var suspended = false
          while (rows.hasNext && !suspended) {
            Messages.dataRow(out, buf, w, rows.next())
            n += 1
            if (maxRows > 0 && n >= maxRows && rows.hasNext) suspended = true
          }
          if (suspended) Messages.portalSuspended(out)
          else {
            // pg's CommandComplete after a multi-Execute portal counts only
            // the FINAL batch, not the cumulative portal total (postgres.c
            // exec_execute_message reports this PortalRun's nprocessed) —
            // found by the pgjdbc setFetchSize conversation test
            Messages.commandComplete(out, tagFor(n))
            portal.result = None
          }
      }
    }
  }

  private def readCStr(in: DataInputStream): String = {
    val buf = new scala.collection.mutable.ArrayBuffer[Byte]()
    var b = in.read()
    while (b > 0) { buf += b.toByte; b = in.read() }
    new String(buf.toArray, UTF_8)
  }
}
