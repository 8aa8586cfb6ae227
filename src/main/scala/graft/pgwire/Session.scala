package graft.pgwire

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Per-connection session state: GUC variables, the transaction-status
  * state machine, cursor portals, and prepared statements.
  *
  * The state machine mirrors the reference (transactions.rs:24-131):
  * BEGIN in a txn is ignored with a warning tag, COMMIT in Error
  * state returns ROLLBACK, any non-txn statement in Error state
  * raises 25P02. Beyond the reference (r18), transactions are REAL:
  * a [[TxnJournal]] snapshots every written table per statement, so
  * ROLLBACK / ROLLBACK TO SAVEPOINT / disconnect restore bytes, and
  * deferred-constraint probes run at COMMIT (sweep-44 pins all of it
  * against live pg 15).
  */
final class Session(val connId: Int, val user: String, val database: String) {

  // ---- GUCs -------------------------------------------------------------
  val gucs: mutable.Map[String, String] = mutable.Map(
    "application_name" -> "",
    "search_path" -> "\"$user\", public",
    "datestyle" -> "ISO, MDY",
    "intervalstyle" -> "postgres",
    "bytea_output" -> "hex",
    "extra_float_digits" -> "1",
    "timezone" -> "UTC",
    // pg's NAMEDATALEN-1, read by ActiveRecord's adapter at connect
    "max_identifier_length" -> "63",
    "client_encoding" -> "UTF8")

  /** The output-format GUCs as the result encoders read them (pg
    * FormatOptions); a TimeZone that does not parse reads as UTC. */
  def outputFmt: TextEncoder.Fmt = {
    val zone =
      try java.time.ZoneId.of(gucs.getOrElse("timezone", "UTC"))
      catch { case scala.util.control.NonFatal(_) => java.time.ZoneOffset.UTC }
    TextEncoder.Fmt.fromGucs(zone, gucs.get("datestyle"), gucs.get("bytea_output"),
      gucs.get("extra_float_digits"))
  }

  /** statement_timeout in millis; 0 = none. */
  var statementTimeoutMs: Long = 0L

  /** LISTEN registrations (session-scoped). Concurrent: the owning
    * connection thread mutates via LISTEN/UNLISTEN while
    * NotifyBus.publish reads from OTHER connections' threads — a plain
    * mutable.Set raced (missed/phantom deliveries, rehash corruption). */
  val listenChannels: mutable.Set[String] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]().asScala

  /** Cross-connection NOTIFY delivery (round 13): notifications
    * queued by NOTIFY in any session on the process-wide [[NotifyBus]],
    * drained by this connection's loop before each ReadyForQuery — and
    * (round 14) pushed immediately to IDLE connections via [[onNotify]],
    * pg's async delivery. (pid, channel, payload) triples. */
  val pendingNotifications =
    new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, String)]()

  /** Called by NotifyBus after enqueueing a notification for this
    * session — the server wires it to a socket push that fires only
    * when the connection is idle (waiting in read). No-op for
    * embedded/handler-level sessions. */
  @volatile var onNotify: () => Unit = () => ()

  /** True while the connection thread is processing a message (and
    * thus writing to the socket itself) — the async notify push skips,
    * leaving delivery to the before-ReadyForQuery drain. */
  @volatile var busyProcessing: Boolean = false

  /** GUC vars whose SET pushes a ParameterStatus message
    * (reference: set_show.rs:253-260).
    */
  def parameterStatusName(guc: String): Option[String] = guc match {
    case "datestyle" => Some("DateStyle")
    case "intervalstyle" => Some("IntervalStyle")
    case "bytea_output" | "application_name" | "extra_float_digits" | "search_path" =>
      Some(guc)
    case _ => None
  }

  /** Parse pg duration syntax: bare int = ms; suffixes ms/s/min/h/d. */
  def parseTimeout(v: String): Long = {
    val t = v.trim.stripPrefix("'").stripSuffix("'").trim
    val m = "^(\\d+)\\s*(ms|s|min|h|d)?$".r
    t match {
      case m(n, unit) =>
        val base = n.toLong
        unit match {
          case null | "ms" => base
          case "s" => base * 1000
          case "min" => base * 60000
          case "h" => base * 3600000
          case "d" => base * 86400000
        }
      case _ => throw new IllegalArgumentException(s"invalid timeout value: $v")
    }
  }

  // ---- transaction state machine ----------------------------------------
  sealed trait TxnState
  case object Idle extends TxnState
  case object InTxn extends TxnState
  case object Failed extends TxnState

  var txn: TxnState = Idle

  /** Savepoint stack (most recent last): name + the transaction
    * statement mark at SAVEPOINT time. RELEASE pops the named entry
    * and everything after it; ROLLBACK TO pops everything AFTER the
    * named entry, clears a Failed state, and (r18) restores the
    * write journal to the mark — real partial undo. Live-pg-pinned
    * in SavepointSpec. */
  val savepoints: mutable.ArrayBuffer[(String, Int)] = mutable.ArrayBuffer.empty

  // ---- r18 transaction write journal + deferred constraints -------------

  /** Statement counter inside the current transaction block —
    * journal entries and savepoints are marked with it. */
  var txnStmtSeq: Int = 0

  /** Lazily-created write journal for the current transaction block
    * (None until the first in-transaction write). */
  var journal: Option[TxnJournal] = None

  /** `SET CONSTRAINTS <name> …` per-constraint overrides for this
    * transaction: name → deferred?. Cleared at transaction end. */
  val constraintModes: mutable.Map[String, Boolean] = mutable.Map.empty

  /** `SET CONSTRAINTS ALL …` override (beats the declared INITIALLY
    * mode, loses to per-name overrides set later). */
  var allConstraintsDeferred: Option[Boolean] = None

  /** Commit-time probes queued by checks skipped under deferral:
    * (kind, table, constraint name, detail) — see TxnCtx.addPending. */
  val deferredPending: mutable.LinkedHashSet[(String, String, String, String)] =
    mutable.LinkedHashSet.empty

  /** Reset all transaction-block state (at COMMIT/ROLLBACK/BEGIN). */
  def clearTxnState(): Unit = {
    savepoints.clear()
    txnStmtSeq = 0
    journal.foreach(j => try j.discard() catch { case scala.util.control.NonFatal(_) => })
    journal = None
    constraintModes.clear()
    allConstraintsDeferred = None
    deferredPending.clear()
  }

  def txnStatusByte: Char = txn match {
    case Idle => 'I'
    case InTxn => 'T'
    case Failed => 'E'
  }

  // ---- cursor portals (DECLARE/FETCH/CLOSE) ------------------------------
  final case class Cursor(schema: StructType, it: Iterator[Row]) {
    /** Last DECLARE/FETCH/MOVE touch, for TTL eviction. */
    var lastUsedMs: Long = System.currentTimeMillis()
  }
  val cursors: mutable.Map[String, Cursor] = mutable.Map.empty

  /** Idle-cursor TTL in millis; 0 = disabled. The reference frees a
    * cursor only on CLOSE or disconnect (hooks/cursor.rs:203-216) —
    * that stays the default — but a long-lived session that DECLAREs
    * and abandons a cursor pins its result iterator (and any Spark
    * job feeding it) until disconnect. `SET graft.cursor_ttl = '10min'`
    * bounds that: a cursor idle past the TTL is evicted at the next
    * statement dispatch and subsequent FETCH/CLOSE raises 34000, the
    * same error an unknown cursor gets.
    */
  var cursorTtlMs: Long = 0L

  /** Evict cursors idle past the TTL; called on every statement
    * dispatch (lazy sweep — no timer thread per connection).
    */
  def sweepExpiredCursors(): Unit =
    if (cursorTtlMs > 0 && cursors.nonEmpty) {
      val cutoff = System.currentTimeMillis() - cursorTtlMs
      val dead = cursors.collect { case (n, c) if c.lastUsedMs < cutoff => n }
      dead.foreach(cursors.remove)
    }

  // ---- extended-protocol prepared statements & portals -------------------
  final case class Prepared(sql: String, paramOids: Seq[Int], schema: Option[StructType])
  final case class Portal(prepared: Prepared, boundSql: String, resultFormats: Seq[Short]) {
    /** The statement's result once it has run: opened by Describe for a
      * row-returning statement, else by the first Execute. A RowSet
      * streams across Executes until drained; None before the statement
      * runs and after its result has been sent. */
    var result: Option[PgResult] = None
  }
  val prepared: mutable.Map[String, Prepared] = mutable.Map.empty
  val portals: mutable.Map[String, Portal] = mutable.Map.empty

  /** Discard one portal, releasing an undrained stream's resources
    * (RowSet.onDiscard) — on portal Close, re-Bind over the same name,
    * and session teardown. */
  def discardPortal(name: String): Unit =
    portals.remove(name).flatMap(_.result).foreach {
      case rs: RowSet =>
        try rs.onDiscard()
        catch { case scala.util.control.NonFatal(_) => }
      case _ =>
    }

  /** Session teardown: release every suspended portal's resources. */
  def discardAllPortals(): Unit =
    portals.keys.toSeq.foreach(discardPortal)
}

/** Process-wide LISTEN/NOTIFY bus: NOTIFY fans out to every REGISTERED
  * session listening on the channel (connections register for their
  * lifetime; bare Handler-level sessions — tests, embedded use — are
  * not registered and keep the old accept-only behavior). pg scopes
  * the bus to a database cluster; here it is the JVM process, which is
  * the same thing for a single-server deployment. Self-notification is
  * delivered when the notifier listens, exactly like pg.
  */
object NotifyBus {
  private val sessions =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Session]()

  def register(s: Session): Unit = sessions.add(s)
  def deregister(s: Session): Unit = sessions.remove(s)

  def publish(fromPid: Int, channel: String, payload: String): Unit = {
    val it = sessions.iterator()
    while (it.hasNext) {
      val s = it.next()
      if (s.listenChannels.contains(channel)) {
        s.pendingNotifications.add((fromPid, channel, payload))
        // pg pushes asynchronously to idle connections; the server
        // wires onNotify to a lock-guarded socket write that fires
        // only when the listener's connection thread is idle
        try s.onNotify()
        catch { case scala.util.control.NonFatal(_) => }
      }
    }
  }
}
