package graft.pgwire

import java.util.{Timer, TimerTask}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** A pg error carrying its SQLSTATE (maps to ErrorResponse fields). */
final case class PgException(code: String, msg: String) extends RuntimeException(msg)

/** Abstract result of one statement — the server maps these to wire
  * messages; unit tests assert on them directly.
  */
sealed trait PgResult
/** Row-returning statement; tagFor(rowCount) builds the CommandComplete
  * tag after the stream drains.
  */
final case class RowSet(schema: StructType, rows: Iterator[Row],
    tagFor: Long => String,
    /** Idempotent release of resources backing a partially-consumed
      * stream (INSERT…RETURNING's persisted write-set + temp views).
      * The stream calls it itself on exhaustion/error; the server
      * calls it when a suspended portal is Closed, re-Bound over, or
      * the session ends — without it an abandoned portal pinned the
      * cached plan for the JVM lifetime. */
    onDiscard: () => Unit = () => ()) extends PgResult
/** Non-row statement; paramStatus are ParameterStatus pushes (SET). */
final case class Complete(tag: String,
    paramStatus: Seq[(String, String)] = Nil) extends PgResult
case object EmptyQuery extends PgResult

/** Statement router: the hook chain (transaction state machine,
  * SET/SHOW, DECLARE/FETCH/CLOSE cursors — reference:
  * datafusion-postgres/src/hooks/{transactions,set_show,cursor}.rs)
  * in front of the compat-rewritten `spark.sql` query path
  * (reference: src/handlers.rs:154-233).
  */
object Handlers {

  import Compat.{Tok, Word, QIdent}

  def execute(spark: SparkSession, session: Session, rawSql: String,
      auth: Option[AuthManager] = None, hooks: Seq[QueryHook] = Nil): PgResult = {
    val t0 = System.nanoTime()
    val group = spark.sparkContext.getLocalProperty("spark.jobGroup.id")
    val (b0, r0) = PgStatStatements.scanSnapshot(group)
    // thread-local txn context for the deep write/check sites (saved/
    // restored because DDL cascades re-enter execute recursively)
    val prevCtx = TxnCtx.session.orNull
    TxnCtx.set(session)
    val r =
      try executeInner(spark, session, rawSql, auth, hooks)
      finally { if (prevCtx == null) TxnCtx.clear() else TxnCtx.set(prevCtx) }
    // warehouse-meta write-through: after a successful schema-shaping
    // statement, snapshot the wire-table catalog (the registries
    // persist themselves inside their own mutators)
    PgMeta.afterStatement(spark,
      rawSql.trim.takeWhile(!_.isWhitespace).toUpperCase)
    // pg_stat_statements counters: successful statements only (pg
    // doesn't count failures); row-returning statements add their row
    // count at drain through the wrapped tag builder. Scan metrics
    // (r18) attach as the per-connection job-group delta — at drain
    // for streamed results, immediately for Complete.
    val ms = (System.nanoTime() - t0) / 1e6
    def attachScan(key: String): Unit =
      if (group != null && group.startsWith("pgwire-conn-")) {
        // flush the async listener bus (bounded) so this statement's
        // own task-end events count into ITS delta
        org.apache.spark.graft.ListenerBusDrain.drain(spark.sparkContext, 500)
        val (b1, r1) = PgStatStatements.scanSnapshot(group)
        PgStatStatements.addScan(key, b1 - b0, r1 - r0)
      }
    r match {
      case EmptyQuery => r
      case rs: RowSet =>
        val key = PgStatStatements.record(rawSql, ms)
        rs.copy(tagFor = n => {
          PgStatStatements.addRows(key, n); attachScan(key); rs.tagFor(n)
        })
      case Complete(tag, _) =>
        val key = PgStatStatements.record(rawSql, ms)
        "(?s).*?(\\d+)\\s*$".r.findFirstMatchIn(tag)
          .foreach(m => PgStatStatements.addRows(key, m.group(1).toLong))
        attachScan(key)
        r
    }
  }

  private def executeInner(spark: SparkSession, session: Session, rawSql: String,
      auth: Option[AuthManager], hooks: Seq[QueryHook]): PgResult = {
    val sql = rawSql.trim
    if (sql.isEmpty) return EmptyQuery
    val toks = Compat.tokenize(sql).filter(_.kind != Compat.Ws)
    if (toks.isEmpty) return EmptyQuery
    val head = toks.head.text.toUpperCase
    val second = if (toks.length > 1) toks(1).text.toUpperCase else ""

    // lazy TTL sweep: an abandoned DECLARE must not pin its iterator
    // forever once graft.cursor_ttl is set (see Session.cursorTtlMs)
    session.sweepExpiredCursors()

    // aborted-transaction guard (reference: transactions.rs:96-118).
    // 25P02 in_failed_sql_transaction — live-pinned (r18): pg rejects
    // even BEGIN here; only COMMIT/END/ROLLBACK/ABORT pass
    if (session.txn == session.Failed &&
      !Set("COMMIT", "END", "ROLLBACK", "ABORT").contains(head))
      throw PgException("25P02",
        "current transaction is aborted, commands ignored until end of transaction block")

    // unpopulated-matview scan guard (pg raises 55000 on a read of a
    // WITH NO DATA matview until the first REFRESH). Non-executing
    // heads are exempt: DROP/REFRESH/LOCK and plan-only EXPLAIN
    // succeed in pg against an unpopulated matview; EXPLAIN ANALYZE
    // executes and does raise (ADVICE r14).
    val explainOnly = head == "EXPLAIN" &&
      !toks.drop(1).takeWhile(t => !t.isWord("SELECT"))
        .exists(_.isWord("ANALYZE"))
    // CREATE … WITH NO DATA stores the body without executing it —
    // pg happily creates over an unpopulated matview (live-pinned)
    val noDataCreate = head == "CREATE" &&
      "(?is)WITH\\s+NO\\s+DATA\\s*;?\\s*$".r.findFirstIn(sql).isDefined
    if (head != "REFRESH" && head != "DROP" && head != "LOCK" &&
      !explainOnly && !noDataCreate) {
      val unpop = PgMatViews.unpopulated
      if (unpop.nonEmpty)
        referencedTables(toks).find(n =>
          unpop.contains(n) || unpop.contains(n.toLowerCase)).foreach { n =>
          throw PgException("55000",
            s"""materialized view "$n" has not been populated""")
        }
    }

    // pluggable hooks run first; the first Some short-circuits
    // (reference: hooks/mod.rs:22-77, handlers.rs:181-191)
    val hookResult = hooks.view.flatMap(_.handle(spark, session, sql)).headOption
    if (hookResult.isDefined) return hookResult.get

    // RBAC statement hooks + permission gate (reference:
    // hooks/permissions.rs, auth.rs)
    if (auth.isDefined) {
      val a = auth.get
      (head, second) match {
        case ("CREATE", "USER") | ("CREATE", "ROLE") |
             ("DROP", "USER") | ("DROP", "ROLE") |
             ("GRANT", _) | ("REVOKE", _) =>
          return handleRbac(a, toks, head, second)
        case _ =>
          a.checkStatement(session.user, head, referencedTables(toks))
      }
    }

    // journal/savepoint statement marks advance per in-block statement
    if (session.txn == session.InTxn) session.txnStmtSeq += 1

    head match {
      case "BEGIN" | "START" =>
        // nested BEGIN is pg's warning-only no-op — savepoints and
        // the journal SURVIVE (live-pinned r18)
        if (session.txn != session.InTxn) {
          session.txn = session.InTxn
          session.clearTxnState()
        }
        Complete("BEGIN")
      case "COMMIT" | "END" =>
        val wasFailed = session.txn == session.Failed
        if (wasFailed) {
          // a failed transaction block commits as ROLLBACK: undo
          // every journaled write (pg's exact behavior)
          session.journal.foreach(_.rollbackAll(spark))
        } else if (session.deferredPending.nonEmpty) {
          // commit-time deferred-constraint probes; a violation rolls
          // the whole transaction back and surfaces the 23xxx with
          // the session already Idle (pg: ERROR then ReadyForQuery I)
          try runDeferredChecks(spark, session, None)
          catch {
            case e: Throwable =>
              session.journal.foreach(_.rollbackAll(spark))
              session.txn = session.Idle
              session.clearTxnState()
              throw e
          }
        }
        session.txn = session.Idle
        session.clearTxnState()
        Complete(if (wasFailed) "ROLLBACK" else "COMMIT")
      case "ROLLBACK" | "ABORT"
          if !toks.exists(_.isWord("TO")) =>
        session.journal.foreach(_.rollbackAll(spark))
        session.txn = session.Idle
        session.clearTxnState()
        Complete("ROLLBACK")
      case "ROLLBACK" =>
        // ROLLBACK [WORK|TRANSACTION] TO [SAVEPOINT] name — recovers a
        // Failed transaction (the 25P01 guard above lets ROLLBACK
        // through; pg's exact behavior, SavepointSpec pins it live)
        handleRollbackTo(spark, session, toks)
      case "SAVEPOINT" =>
        if (session.txn != session.InTxn)
          throw PgException("25P01",
            "SAVEPOINT can only be used in transaction blocks")
        if (toks.length < 2)
          throw PgException("42601", "syntax error at end of input")
        session.savepoints += ((savepointName(toks(1)), session.txnStmtSeq))
        Complete("SAVEPOINT")
      case "RELEASE" =>
        if (session.txn != session.InTxn)
          throw PgException("25P01",
            "RELEASE SAVEPOINT can only be used in transaction blocks")
        val nameTok =
          if (second == "SAVEPOINT") {
            if (toks.length < 3)
              throw PgException("42601", "syntax error at end of input")
            toks(2)
          } else {
            if (toks.length < 2)
              throw PgException("42601", "syntax error at end of input")
            toks(1)
          }
        val name = savepointName(nameTok)
        val idx = session.savepoints.lastIndexWhere(_._1 == name)
        if (idx < 0)
          throw PgException("3B001", s"""savepoint "$name" does not exist""")
        // RELEASE pops the named savepoint AND everything after it
        // (journaled writes stay — they now belong to the enclosing
        // transaction level, pg's rule)
        session.savepoints.remove(idx, session.savepoints.length - idx)
        Complete("RELEASE")
      // SET CONSTRAINTS (r18): real deferral. DEFERRED skips the
      // statement-time probe for DEFERRABLE constraints and queues a
      // commit-time check; IMMEDIATE flips back and checks any
      // outstanding queued violations right now (pg's rule).
      case "SET" if second == "CONSTRAINTS" =>
        handleSetConstraints(spark, session, toks)
      case "SET" if second != "" => handleSet(spark, session, toks)
      case "RESET" => Complete("RESET")
      case "SHOW" if !sparkShowKeywords.contains(second) =>
        handleShow(session, toks)
      case "DECLARE" => handleDeclare(spark, session, toks, sql)
      case "FETCH" | "MOVE" => handleFetch(session, toks, head == "MOVE")
      case "CLOSE" => handleClose(session, toks)
      case "DEALLOCATE" => Complete("DEALLOCATE")
      case "LISTEN" =>
        // registrations are session state; NOTIFY below fans out to
        // every registered connection via the process-wide NotifyBus.
        // Channel identifiers normalize like every pg identifier:
        // quoted → quotes stripped, case PRESERVED; unquoted → folded
        // to lowercase (the round-13 bug registered the raw quoted
        // token lowercased, so quoted/mixed-case channels never
        // matched NOTIFY's spelling).
        if (toks.length > 1) session.listenChannels += channelName(toks(1))
        Complete("LISTEN")
      case "UNLISTEN" =>
        if (second == "*") session.listenChannels.clear()
        else if (toks.length > 1) session.listenChannels -= channelName(toks(1))
        Complete("UNLISTEN")
      case "NOTIFY" =>
        // fan out to every registered connection listening on the
        // channel (delivered before its next ReadyForQuery, pg's
        // between-transactions timing); payload defaults to ''
        if (toks.length > 1) {
          val payload = toks.drop(2).find(_.kind == Compat.Str)
            .map(t => t.text.substring(1, t.text.length - 1).replace("''", "'"))
            .getOrElse("")
          NotifyBus.publish(session.connId, channelName(toks(1)), payload)
        }
        Complete("NOTIFY")
      case "EXPLAIN" => handleExplain(spark, session, sql)
      case "CREATE" if second == "TYPE" => handleCreateType(spark, toks)
      case "DROP" if second == "TYPE" => handleDropType(spark, toks)
      case "CREATE" if second == "SEQUENCE" ||
          ((second == "TEMP" || second == "TEMPORARY") && toks.length > 2 &&
            toks(2).isWord("SEQUENCE")) =>
        handleCreateSequence(spark, sql)
      case "DROP" if second == "SEQUENCE" => handleDropSequence(spark, toks)
      case "ALTER" if second == "SEQUENCE" => handleAlterSequence(sql)
      case "CREATE" if createViewRe.findFirstMatchIn(sql).isDefined =>
        handleCreateView(spark, sql)
      case "CREATE" if second == "MATERIALIZED" =>
        handleCreateMatView(spark, sql)
      case "COMMENT" => handleComment(spark, toks)
      case "VACUUM" | "ANALYZE" if head == "VACUUM" ||
          // Spark's own `ANALYZE TABLE t COMPUTE STATISTICS` passes through
          !(second == "TABLE" && toks.exists(_.isWord("COMPUTE"))) =>
        // maintenance statements every pg tool emits — storage upkeep
        // and planner stats are Spark/parquet concerns here, so both
        // no-op, but pg's gates stay: VACUUM refuses transaction
        // blocks (25001), named relations must exist (42P01).
        // Grammar: VACUUM [(opts)] [t [, ...]] / ANALYZE [VERBOSE] [t]
        if (head == "VACUUM" && session.txn == session.InTxn)
          throw PgException("25001",
            "VACUUM cannot run inside a transaction block")
        var i = 1
        // skip a parenthesized option list or legacy option words
        if (i < toks.length && toks(i).is("(")) {
          var depth = 1; i += 1
          while (i < toks.length && depth > 0) {
            if (toks(i).is("(")) depth += 1
            else if (toks(i).is(")")) depth -= 1
            i += 1
          }
        } else while (i < toks.length && (toks(i).isWord("FULL") ||
          toks(i).isWord("FREEZE") || toks(i).isWord("VERBOSE") ||
          toks(i).isWord("ANALYZE"))) i += 1
        val rest = toks.drop(i)
        val chains = scala.collection.mutable.ArrayBuffer(
          scala.collection.mutable.ArrayBuffer.empty[String])
        var stop = false
        rest.foreach { t =>
          if (!stop) {
            if (t.is(",")) chains += scala.collection.mutable.ArrayBuffer.empty[String]
            else if (t.kind == Compat.Word || t.kind == Compat.QIdent)
              chains.last += channelName(t)
            else if (t.is("(")) stop = true // per-table column list — ignore
          }
        }
        chains.map(_.lastOption).flatten.foreach { n =>
          if (scala.util.Try(spark.table(n)).isFailure)
            throw PgException("42P01", s"""relation "$n" does not exist""")
        }
        Complete(head)
      case "LOCK" =>
        // LOCK [TABLE] [ONLY] name [, ...] [IN <mode> MODE] [NOWAIT] —
        // lock-free no-op (the FOR UPDATE contract), but pg's gates
        // still apply: transaction block required (25P01), relations
        // must exist (42P01)
        if (session.txn != session.InTxn)
          throw PgException("25P01",
            "LOCK TABLE can only be used in transaction blocks")
        val nameToks = toks.drop(1)
          .dropWhile(t => t.isWord("TABLE") || t.isWord("ONLY"))
          .takeWhile(t => !t.isWord("IN") && !t.isWord("NOWAIT"))
        // comma-separated, possibly schema-qualified chains — validate
        // the last segment of each (the relation name)
        val chains = scala.collection.mutable.ArrayBuffer(
          scala.collection.mutable.ArrayBuffer.empty[String])
        nameToks.foreach { t =>
          if (t.is(",")) chains += scala.collection.mutable.ArrayBuffer.empty[String]
          else if (t.kind == Compat.Word || t.kind == Compat.QIdent)
            chains.last += channelName(t)
        }
        chains.map(_.lastOption).flatten.foreach { n =>
          // pg refuses to LOCK a matview outright (42809, live-pinned
          // "cannot lock relation") — before the existence check
          if (PgMatViews.lookup(n).isDefined)
            throw PgException("42809", s"""cannot lock relation "$n"""")
          if (scala.util.Try(spark.table(n)).isFailure)
            throw PgException("42P01", s"""relation "$n" does not exist""")
        }
        Complete("LOCK TABLE")
      case "REFRESH" => handleRefreshMatView(spark, sql)
      case "DROP" if second == "MATERIALIZED" =>
        handleDropMatView(spark, sql)
      case "DROP" if second == "VIEW" => handleDropView(spark, sql)
      case "DROP" if second == "TABLE" &&
          dropTableNames(sql).exists(n => PgMatViews.lookup(n).isDefined) =>
        // parse the DROP name list directly: referencedTables took the
        // token after TABLE, so `DROP TABLE IF EXISTS mv` read "if" and
        // skipped the guard, deleting the backing table out from under
        // the matview registry (ADVICE r14)
        val n = dropTableNames(sql)
          .find(n => PgMatViews.lookup(n).isDefined).get
        throw PgException("42809", s""""$n" is not a table""")
      case "CREATE" if second == "TABLE" || second == "TEMP" ||
          second == "TEMPORARY" || second == "UNLOGGED" =>
        pgCreateTable(spark, sql)
          .getOrElse(runQuery(spark, session,
            substituteSeqFns(spark, session, substituteGucFns(session, sql)),
            head, second))
      case "ALTER" if second == "TABLE" =>
        handleAlterTable(spark, session, sql)
          .getOrElse(runQuery(spark, session,
            substituteSeqFns(spark, session, substituteGucFns(session, sql)),
            head, second))
      case "TRUNCATE" => handleTruncate(spark, sql)
      case "CREATE" if second == "INDEX" ||
          (second == "UNIQUE" && toks.length > 2 && toks(2).isWord("INDEX")) =>
        handleCreateIndex(spark, sql)
      case "DROP" if second == "INDEX" => handleDropIndex(spark, sql)
      case "VACUUM" | "ANALYZE" | "ANALYSE" | "REINDEX" | "CHECKPOINT" =>
        // storage maintenance is meaningless over external parquet —
        // accept-and-no-op with the pg tag so client scripts
        // (pg_maintenance, scheduled VACUUM ANALYZE) run clean
        Complete(if (head == "ANALYSE") "ANALYZE" else head)
      case "DISCARD" =>
        // pg DISCARD ALL: drop cursors/portals/statements AND reset
        // session state to defaults
        session.cursors.clear(); session.portals.clear(); session.prepared.clear()
        session.gucs.clear()
        new Session(session.connId, session.user, session.database)
          .gucs.foreach { case (k, v) => session.gucs(k) = v }
        session.statementTimeoutMs = 0L
        session.cursorTtlMs = 0L
        Complete("DISCARD ALL")
      case "SELECT" if pgNotifyRe.findFirstMatchIn(sql).isDefined =>
        // literal-arg `SELECT pg_notify('chan', 'payload')` — the only
        // call shape clients emit; void renders as one blank cell
        // pg_notify's channel argument is a STRING — pg uses it
        // verbatim (case-sensitive), unlike the NOTIFY identifier
        val m = pgNotifyRe.findFirstMatchIn(sql).get
        NotifyBus.publish(session.connId, m.group(1),
          m.group(2).replace("''", "'"))
        RowSet(
          StructType(Seq(StructField("pg_notify", StringType))),
          Iterator(Row("")), n => s"SELECT $n")
      case _ => runQuery(spark, session,
        substituteSeqFns(spark, session, substituteGucFns(session, sql)),
        head, second)
    }
  }

  /** pg `EXPLAIN [(options)] stmt` / `EXPLAIN [ANALYZE] [VERBOSE] stmt`
    * (pg §SQL-EXPLAIN). Renders Spark's plan for the rewritten inner
    * statement under pg's one-column `QUERY PLAN` shape so psql's
    * `EXPLAIN` muscle memory works: plain → the planned physical tree
    * (`simple` explain mode; VERBOSE → `extended` with the
    * logical/optimized trees, pg's closest analogue); ANALYZE →
    * executes the plan via `toRdd.count()` (the un-pruned execution,
    * unlike a `df.count()` which would let Catalyst drop every
    * column) and appends pg-style `Planning Time` / `Execution Time`
    * summary lines plus the AQE-final executed plan.
    *
    * Scope guard: only row-returning heads (SELECT/WITH/VALUES/TABLE)
    * are explainable — `spark.sql` on DML executes EAGERLY, so
    * `EXPLAIN INSERT ...` would write rows while pg's contract is
    * plan-only; those raise 0A000 honestly. Boolean-valued options
    * are parsed (COSTS/TIMING/... accepted as advisory no-ops, pg
    * defaults); only FORMAT TEXT is supported.
    */
  private[pgwire] def handleExplain(spark: SparkSession, session: Session,
      sql: String): PgResult = {
    val m = explainRe.findFirstMatchIn(sql).getOrElse(
      throw PgException("42601", "syntax error at or near \"EXPLAIN\""))
    val optText = Option(m.group(1))
    var rest = m.group(2).trim.stripSuffix(";").trim
    var analyze = false
    var verbose = false
    var format = "text"
    optText match {
      case None =>
        var going = true
        while (going) {
          val up = rest.toUpperCase
          if (up.startsWith("ANALYZE") && (up.length == 7 || !up.charAt(7).isLetter)) {
            analyze = true; rest = rest.substring(7).trim
          } else if (up.startsWith("VERBOSE") && (up.length == 7 || !up.charAt(7).isLetter)) {
            verbose = true; rest = rest.substring(7).trim
          } else going = false
        }
      case Some(os) =>
        os.split(",").map(_.trim).filter(_.nonEmpty).foreach { o =>
          val parts = o.split("\\s+")
          val value = if (parts.length > 1) parts.drop(1).mkString(" ") else "on"
          val on = !Set("off", "false", "0").contains(value.toLowerCase)
          parts(0).toUpperCase match {
            case "ANALYZE" => analyze = on
            case "VERBOSE" => verbose = on
            case "FORMAT" =>
              value.toLowerCase match {
                case "text" | "json" | "yaml" => format = value.toLowerCase
                case other => throw PgException("0A000",
                  s"EXPLAIN FORMAT $other is not supported (text/json/yaml)")
              }
            case "COSTS" | "SETTINGS" | "BUFFERS" | "WAL" | "TIMING" |
                 "SUMMARY" | "GENERIC_PLAN" | "MEMORY" | "SERIALIZE" => ()
            case _ => throw PgException("42601",
              s"""unrecognized EXPLAIN option "${parts(0).toLowerCase}"""")
          }
        }
    }
    if (rest.isEmpty)
      throw PgException("42601", "syntax error at end of input")
    val innerHead = rest.split("[\\s(]+", 2).headOption.getOrElse("").toUpperCase
    val isDml = Set("INSERT", "UPDATE", "DELETE").contains(innerHead)
    if (analyze && isDml) {
      // EXPLAIN ANALYZE <dml> (r16): execute-then-report. The
      // row-producing side is PLANNED first (no jobs — the write
      // hasn't happened yet, so the tree reflects the statement's
      // own read), then the statement runs through the ordinary DML
      // path (constraints, serials, RETURNING discarded — pg also
      // discards output rows under ANALYZE), and the report renders
      // the plan + pg-style timing lines with the row count from the
      // command tag.
      val planSql = dmlPlanSelect(innerHead, rest)
      val t0 = System.nanoTime()
      val planLines = runSql(spark,
        substituteSeqFns(spark, session, substituteGucFns(session, planSql)))
        .queryExecution.executedPlan.toString.linesIterator.toSeq
      val planned = (System.nanoTime() - t0) / 1e6
      val t1 = System.nanoTime()
      val res = execute(spark, session, rest)
      val exec = (System.nanoTime() - t1) / 1e6
      val tag = res match {
        case Complete(t, _) => t
        case rs: RowSet =>
          // a RETURNING stream under ANALYZE: drain (count) and
          // discard the rows, like pg
          var k = 0L
          try { while (rs.rows.hasNext) { rs.rows.next(); k += 1 } }
          finally rs.onDiscard()
          rs.tagFor(k)
        case _ => innerHead
      }
      val n = tag.split("\\s+").lastOption
        .flatMap(s => scala.util.Try(s.toLong).toOption).getOrElse(0L)
      val lines = planLines ++ Seq("",
        f"Planning Time: $planned%.3f ms",
        f"Execution Time: $exec%.3f ms",
        s"Rows: $n ($tag)")
      return RowSet(StructType(Seq(StructField("QUERY PLAN", StringType))),
        lines.iterator.map(l => Row(l)), _ => "EXPLAIN")
    }
    val planText = innerHead match {
      case "SELECT" | "WITH" | "VALUES" | "TABLE" => rest
      case "INSERT" | "UPDATE" | "DELETE" =>
        // plain EXPLAIN of DML plans WITHOUT executing, like pg: the
        // row-producing side (insert source / update-delete match,
        // with the FROM/USING join) is what Spark can render — the
        // write node itself is the engine's table rewrite
        dmlPlanSelect(innerHead, rest)
      case _ =>
        throw PgException("0A000",
          s"EXPLAIN of ${innerHead.toLowerCase} statements is not supported")
    }
    val t0 = System.nanoTime()
    val df = runSql(spark,
      substituteSeqFns(spark, session, substituteGucFns(session, planText)))
    val qe = df.queryExecution
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    if (analyze) {
      val planned = (System.nanoTime() - t0) / 1e6
      val t1 = System.nanoTime()
      val n = qe.toRdd.count()
      val exec = (System.nanoTime() - t1) / 1e6
      lines ++= qe.executedPlan.toString.linesIterator
      lines += ""
      lines += f"Planning Time: $planned%.3f ms"
      lines += f"Execution Time: $exec%.3f ms"
      lines += s"Rows: $n"
    } else {
      val mode = if (verbose) "extended" else "simple"
      lines ++= qe.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString(mode)).linesIterator
    }
    // FORMAT JSON/YAML: one document row wrapping the plan lines (pg
    // emits one structured doc; the node tree here is Spark's, so the
    // lines travel verbatim inside a well-formed document)
    def esc(l: String): String =
      l.replace("\\", "\\\\").replace("\"", "\\\"")
    val out: Iterator[Row] = format match {
      case "json" =>
        Iterator.single(Row(
          (Seq("[", "  {", "    \"Plan\": {",
            "      \"Node Type\": \"Spark Plan\",",
            "      \"Plan Lines\": [") ++
            lines.map(l => "        \"" + esc(l) + "\"")
              .mkString(",\n").linesIterator ++
            Seq("      ]", "    }", "  }", "]")).mkString("\n")))
      case "yaml" =>
        Iterator.single(Row(
          ("- Plan:\n    Node Type: \"Spark Plan\"\n    Plan Lines:" +
            lines.map(l => "\n      - \"" + esc(l) + "\"").mkString)))
      case _ => lines.iterator.map(l => Row(l))
    }
    RowSet(StructType(Seq(StructField("QUERY PLAN", StringType))),
      out, _ => "EXPLAIN")
  }

  /** The row-producing SELECT behind a DML statement, for plan-only
    * EXPLAIN: INSERT → its source query; UPDATE/DELETE → the matched
    * rows (including the FROM/USING join). RETURNING is plan-inert. */
  private def dmlPlanSelect(head: String, rest0: String): String = {
    val retPos = Compat.topLevelKeywordPos(rest0, "RETURNING")
    val rest = (if (retPos >= 0) rest0.substring(0, retPos) else rest0).trim
    head match {
      case "INSERT" =>
        val m = "(?is)^INSERT\\s+INTO\\s+(\"[^\"]+\"|[\\w$.]+)\\s*(\\([^)]*\\))?\\s*(.+)$".r
          .findFirstMatchIn(rest).getOrElse(
            throw PgException("42601", "syntax error in INSERT"))
        val src = m.group(3).trim
        if (src.toUpperCase.startsWith("VALUES"))
          s"SELECT * FROM ($src) AS __explain_vals"
        else {
          // strip a trailing ON CONFLICT clause — plan the source
          val ocPos = "(?is)\\bON\\s+CONFLICT\\b".r.findFirstMatchIn(src)
            .map(_.start).getOrElse(src.length)
          src.substring(0, ocPos).trim match {
            case v if v.toUpperCase.startsWith("VALUES") =>
              s"SELECT * FROM ($v) AS __explain_vals"
            case v => v
          }
        }
      case "UPDATE" =>
        val m = ("(?is)^UPDATE\\s+(?:ONLY\\s+)?(\"[^\"]+\"|[\\w$.]+)" +
          "(?:\\s+(?:AS\\s+)?(?!SET\\b)(\"[^\"]+\"|[\\w$]+))?\\s+SET\\s+(.*)$").r
          .findFirstMatchIn(rest).getOrElse(
            throw PgException("42601", "syntax error in UPDATE"))
        val aliasSql = Option(m.group(2)).map(a => s" AS $a").getOrElse("")
        val tail = m.group(3)
        val fromPos = Compat.topLevelKeywordPos(tail, "FROM")
        val wherePos = Compat.topLevelKeywordPos(tail, "WHERE")
        val fromSql =
          if (fromPos >= 0) {
            val end = if (wherePos > fromPos) wherePos else tail.length
            s", ${tail.substring(fromPos + "FROM".length, end).trim}"
          } else ""
        val whereSql =
          if (wherePos >= 0) s" WHERE ${tail.substring(wherePos + "WHERE".length)}"
          else ""
        s"SELECT * FROM ${m.group(1)}$aliasSql$fromSql$whereSql"
      case "DELETE" =>
        val m = ("(?is)^DELETE\\s+FROM\\s+(?:ONLY\\s+)?(\"[^\"]+\"|[\\w$.]+)" +
          "(?:\\s+(?:AS\\s+)?(?!WHERE\\b|USING\\b)(\"[^\"]+\"|[\\w$]+))?\\s*(.*)$").r
          .findFirstMatchIn(rest).getOrElse(
            throw PgException("42601", "syntax error in DELETE"))
        val aliasSql = Option(m.group(2)).map(a => s" AS $a").getOrElse("")
        val tail = " " + m.group(3)
        val usingPos = Compat.topLevelKeywordPos(tail, "USING")
        val wherePos = Compat.topLevelKeywordPos(tail, "WHERE")
        val usingSql =
          if (usingPos >= 0) {
            val end = if (wherePos > usingPos) wherePos else tail.length
            s", ${tail.substring(usingPos + "USING".length, end).trim}"
          } else ""
        val whereSql =
          if (wherePos >= 0) s" WHERE ${tail.substring(wherePos + "WHERE".length)}"
          else ""
        s"SELECT * FROM ${m.group(1)}$aliasSql$usingSql$whereSql"
    }
  }

  private val explainRe =
    "(?is)^\\s*EXPLAIN\\s+(?:\\(([^)]*)\\)\\s*)?(.*)$".r

  private val pgNotifyRe =
    "(?is)^SELECT\\s+pg_notify\\(\\s*'([^']*)'\\s*,\\s*'((?:[^']|'')*)'\\s*\\)\\s*(?:AS\\s+\\w+\\s*)?;?$".r

  /** Channel identifier normalization, pg's identifier rules: quoted →
    * quotes stripped and case preserved; unquoted → folded lowercase. */
  private def channelName(t: Compat.Tok): String =
    if (t.kind == Compat.QIdent) t.text.substring(1, t.text.length - 1)
    else t.text.toLowerCase

  /** Savepoint names follow the same identifier rules. */
  private def savepointName(t: Compat.Tok): String = channelName(t)

  /** `ROLLBACK [WORK|TRANSACTION] TO [SAVEPOINT] name`: pops the
    * savepoints AFTER the named one (the savepoint itself survives —
    * pg allows rolling back to it repeatedly), clears a Failed
    * transaction back to InTxn, and (r18) restores the write journal
    * to the savepoint's statement mark — writes made after the
    * savepoint are REALLY undone. Outside a block → pg's 25P01. */
  private def handleRollbackTo(spark: SparkSession, session: Session,
      toks: Vector[Compat.Tok]): PgResult = {
    if (session.txn == session.Idle)
      throw PgException("25P01",
        "ROLLBACK TO SAVEPOINT can only be used in transaction blocks")
    val toIdx = toks.indexWhere(_.isWord("TO"))
    var nameIdx = toIdx + 1
    if (nameIdx < toks.length && toks(nameIdx).isWord("SAVEPOINT")) nameIdx += 1
    if (nameIdx >= toks.length)
      throw PgException("42601", "syntax error at end of input")
    val name = savepointName(toks(nameIdx))
    val idx = session.savepoints.lastIndexWhere(_._1 == name)
    if (idx < 0)
      throw PgException("3B001", s"""savepoint "$name" does not exist""")
    val mark = session.savepoints(idx)._2
    session.journal.foreach(_.rollbackTo(spark, mark))
    session.savepoints.remove(idx + 1, session.savepoints.length - (idx + 1))
    session.txn = session.InTxn
    Complete("ROLLBACK")
  }

  /** Abort an open transaction block on client disconnect: pg rolls
    * back, so the journal restores (called from connection teardown;
    * safe on idle sessions). */
  def abortOnDisconnect(spark: SparkSession, session: Session): Unit = {
    if (session.txn != session.Idle)
      try session.journal.foreach(_.rollbackAll(spark))
      catch { case scala.util.control.NonFatal(_) => }
    session.txn = session.Idle
    session.clearTxnState()
  }

  /** `SET CONSTRAINTS { ALL | name [, …] } { DEFERRED | IMMEDIATE }`.
    * Named constraints must exist and be DEFERRABLE (pg: 42704 /
    * 25P01-adjacent "is not deferrable" — live pg raises 55000-class
    * `ERROR: constraint "x" is not deferrable`, sqlstate 42809 in 15;
    * pinned by sweep-44). Switching to IMMEDIATE checks outstanding
    * queued violations at once (pg's rule). Outside a transaction
    * block the statement is accepted and has no effect. */
  private def handleSetConstraints(spark: SparkSession, session: Session,
      toks: Vector[Compat.Tok]): PgResult = {
    val rest = toks.drop(2).filterNot(_.is(","))
    if (rest.isEmpty)
      throw PgException("42601", "syntax error in SET CONSTRAINTS")
    val modeTok = rest.last
    val deferredMode =
      if (modeTok.isWord("DEFERRED")) true
      else if (modeTok.isWord("IMMEDIATE")) false
      else throw PgException("42601", "syntax error in SET CONSTRAINTS")
    val targets = rest.dropRight(1)
    if (targets.isEmpty)
      throw PgException("42601", "syntax error in SET CONSTRAINTS")
    val isAll = targets.length == 1 && targets.head.isWord("ALL")
    val names =
      if (isAll) Nil
      else targets.toSeq.map(t => unq(t.text).toLowerCase)
    if (!isAll) {
      // validate: the constraint must exist on some table and be
      // deferrable (42704 / "is not deferrable")
      names.foreach { n =>
        val hit = allDeferrableInfo(spark).get(n)
        hit match {
          case None =>
            throw PgException("42704", s"""constraint "$n" does not exist""")
          case Some(defr) if !defr =>
            throw PgException("42809", s"""constraint "$n" is not deferrable""")
          case _ =>
        }
      }
    }
    if (session.txn == session.InTxn) {
      if (isAll) {
        session.allConstraintsDeferred = Some(deferredMode)
        session.constraintModes.clear()
      } else names.foreach(n => session.constraintModes(n) = deferredMode)
      if (!deferredMode && session.deferredPending.nonEmpty) {
        // pg checks outstanding deferred violations NOW; a failure is
        // a statement error (transaction goes Failed, not rolled back)
        val scope: Option[Set[String]] = if (isAll) None else Some(names.toSet)
        runDeferredChecks(spark, session, scope)
      }
    }
    Complete("SET CONSTRAINTS")
  }

  /** name → deferrable? over every user table's unique + FK
    * constraints (dimension-sized catalog walk). */
  private def allDeferrableInfo(spark: SparkSession): Map[String, Boolean] = {
    val b = Map.newBuilder[String, Boolean]
    PgCatalog.userTables(spark).foreach { t =>
      scala.util.Try(spark.table(t).schema).toOption.foreach { schema =>
        PgConstraints.uniquesOf(t, schema).foreach(u =>
          b += (u.name.toLowerCase -> u.deferrable))
        fkDefs(t, schema).foreach { case (fk, d) =>
          b += (fk.name.toLowerCase -> d.deferrable)
        }
      }
    }
    b.result()
  }

  /** Run queued deferred-constraint probes (at COMMIT, or at SET
    * CONSTRAINTS … IMMEDIATE for `scope`'s names): uniques re-probe
    * the full current table for duplicate keys; FKs re-probe every
    * child row against the current parent — one distributed
    * anti-join each, exactly the statement-time shapes. Passing
    * probes leave the queue; the first violation throws its 23505 /
    * 23503 with the wording of the statement that queued it. */
  private def runDeferredChecks(spark: SparkSession, session: Session,
      scope: Option[Set[String]]): Unit = {
    val zone = java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)
    val pend = session.deferredPending.toSeq.filter { case (_, _, name, _) =>
      scope.forall(_.contains(name.toLowerCase))
    }
    pend.foreach { case entry @ (kind, table, name, detail) =>
      val schemaOpt = scala.util.Try(spark.table(table).schema).toOption
      schemaOpt.foreach { schema =>
        kind match {
          case "u" =>
            PgConstraints.uniquesOf(table, schema)
              .find(_.name.equalsIgnoreCase(name))
              .foreach(u => checkUniqueDups(spark.table(table), schema,
                Seq(u.copy(deferrable = false)), zone))
          case "fc" | "fp" =>
            fkDefs(table, schema)
              .find(_._1.name.equalsIgnoreCase(name))
              .foreach { case (fk, d) =>
                probeFkChildNow(spark, spark.table(table), schema, table,
                  fk, d, zone, None, None,
                  parentWording = kind == "fp", parentName = detail)
              }
          case _ =>
        }
      }
      session.deferredPending.remove(entry)
    }
  }

  /** Session-aware `current_setting('k'[, missing_ok])` and
    * `set_config('k', 'v', is_local)` for LITERAL-argument call shapes
    * (the only shapes clients emit): substituted textually with the
    * session's GUC value, because a Spark UDF evaluates on executor
    * threads with no connection context. Non-literal args fall through
    * to the default-map UDF. set_config applies to the session map
    * (is_local treated as SET LOCAL ≈ SET, matching the transaction
    * model's tag-only semantics).
    */
  private def substituteGucFns(session: Session, sql: String): String = {
    val lower = sql.toLowerCase
    if (!lower.contains("current_setting") && !lower.contains("set_config"))
      return sql
    def lit(v: String): String =
      scala.util.matching.Regex.quoteReplacement("'" + v.replace("'", "''") + "'")
    val afterSet =
      "(?i)set_config\\(\\s*'([^']*)'\\s*,\\s*'([^']*)'\\s*,\\s*(true|false)\\s*\\)".r
        .replaceAllIn(sql, m => {
          val k = m.group(1).toLowerCase
          val v = m.group(2)
          session.gucs(k) = v
          lit(v)
        })
    "(?i)current_setting\\(\\s*'([^']+)'\\s*(?:,\\s*(true|false)\\s*)?\\)".r
      .replaceAllIn(afterSet, m => {
        val k = m.group(1).toLowerCase
        val missingOk = Option(m.group(2)).exists(_.toBoolean)
        session.gucs.get(k)
          .orElse(PgCatalog.defaultGucs.toMap.get(k)) match {
          case Some(v) => lit(v)
          case None if missingOk => "NULL"
          case None => throw PgException("42704",
            s"""unrecognized configuration parameter "$k"""")
        }
      })
  }

  /** Sequence-call rewrite (session-aware, pre-Compat): the literal
    * call shapes clients emit — `nextval('s')`, `currval('s')`,
    * `setval('s', n[, bool])`, `lastval()` (optionally `::regclass`
    * on the name) — become the connId-bound nondeterministic UDFs
    * [[PgSequences.registerUdfs]] provides. Name resolution itself
    * (schema strip, quote/case rules) happens inside the UDF so
    * prepared-parameter names behave identically.
    */
  /** The literal sequence-call shapes → connId-bound UDF calls; also
    * applied to spliced DEFAULT expressions so `DEFAULT
    * nextval('s')` allocates per-connection like pg. */
  private def bindSeqCalls(sql: String, connId: Int): String = {
    val cid = connId.toString
    val name = "'((?:[^']|'')+)'(?:\\s*::\\s*regclass)?"
    var out = sql
    out = s"(?i)\\bnextval\\(\\s*$name\\s*\\)".r
      .replaceAllIn(out, m => scala.util.matching.Regex.quoteReplacement(
        s"pg_nextval('${m.group(1)}', $cid)"))
    out = s"(?i)\\bcurrval\\(\\s*$name\\s*\\)".r
      .replaceAllIn(out, m => scala.util.matching.Regex.quoteReplacement(
        s"pg_currval('${m.group(1)}', $cid)"))
    out = s"(?i)\\bsetval\\(\\s*$name\\s*,\\s*(-?\\d+)\\s*(?:,\\s*(true|false)\\s*)?\\)".r
      .replaceAllIn(out, m => {
        val c = Option(m.group(3)).getOrElse("true")
        scala.util.matching.Regex.quoteReplacement(
          s"pg_setval('${m.group(1)}', ${m.group(2)}, $c, $cid)")
      })
    out = "(?i)\\blastval\\(\\s*\\)".r
      .replaceAllIn(out, scala.util.matching.Regex.quoteReplacement(
        s"pg_lastval($cid)"))
    out
  }

  /** The SQL expression a column's DEFAULT resolves to: the implicit
    * serial sequence, the declared DEFAULT (sequence calls bound to
    * this connection), or a typed NULL. */
  private def defaultExprSql(f: StructField, connId: Int): String =
    if (f.metadata.contains("pg.serial"))
      s"pg_nextval('${f.metadata.getString("pg.serial")}', $connId)"
    else if (f.metadata.contains("pg.default")) {
      // int-family targets take pg's assignment cast (numeric 1.5 →
      // int rounds to 2 where Spark truncates) — live-pinned via the
      // ALTER TYPE default-recoercion sweep
      val cast =
        if (f.metadata.contains(PgType.OID_ALIAS_KEY) ||
          f.metadata.contains("pg.enum")) ""
        else f.dataType match {
          case ShortType => "::int2"
          case IntegerType => "::int4"
          case LongType => "::int8"
          case _ => ""
        }
      s"(${bindSeqCalls(f.metadata.getString("pg.default"), connId)})$cast"
    } else s"CAST(NULL AS ${f.dataType.sql})"

  private def substituteSeqFns(spark: SparkSession, session: Session,
      sql: String): String = {
    val lower = sql.toLowerCase
    if (!lower.contains("nextval") && !lower.contains("currval") &&
      !lower.contains("setval") && !lower.contains("lastval") &&
      !lower.contains("pg_get_serial_sequence")) return sql
    var out = bindSeqCalls(sql, session.connId)
    // pg_get_serial_sequence with literal arguments folds HERE, on the
    // driver, against the real catalog (a UDF task cannot reach
    // SessionState in Spark 4); the registered UDF stays as the
    // non-literal fallback over the wire-DDL registry. Column argument
    // matches verbatim case-sensitively, table argument is normalized
    // as an identifier — both live-pinned.
    out = ("(?i)\\bpg_get_serial_sequence\\(\\s*'((?:[^']|'')+)'\\s*,\\s*" +
      "'((?:[^']|'')+)'\\s*\\)").r.replaceAllIn(out, m => {
      val t = PgSequences.normName(m.group(1).replace("''", "'"))
      val c = m.group(2).replace("''", "'")
      val schema =
        try spark.table(t).schema
        catch { case scala.util.control.NonFatal(_) =>
          throw PgException("42P01", s"""relation "$t" does not exist""") }
      val f = schema.fields.find(_.name == c).getOrElse(
        throw PgException("42703",
          s"""column "$c" of relation "$t" does not exist"""))
      scala.util.matching.Regex.quoteReplacement(
        if (f.metadata.contains("pg.serial"))
          s"'public.${f.metadata.getString("pg.serial")}'"
        else "CAST(NULL AS STRING)")
    })
    out
  }

  // ---- CREATE/DROP/ALTER SEQUENCE --------------------------------------

  private def handleCreateSequence(spark: SparkSession, sql: String): PgResult = {
    val m = ("(?is)^CREATE\\s+(?:(?:TEMP|TEMPORARY)\\s+)?SEQUENCE\\s+" +
      "(IF\\s+NOT\\s+EXISTS\\s+)?(\"[^\"]+\"|[\\w$.]+)\\s*(.*)$").r
      .findFirstMatchIn(sql.trim.stripSuffix(";").trim)
      .getOrElse(throw PgException("42601", "syntax error in CREATE SEQUENCE"))
    val ifNotExists = m.group(1) != null
    val name = PgSequences.normName(m.group(2))
    val tail = m.group(3)
    def longOpt(re: String): Option[Long] =
      ("(?i)" + re).r.findFirstMatchIn(tail).map(_.group(1).toLong)
    val typid = "(?i)^AS\\s+(\\w+)".r.findFirstMatchIn(tail)
      .map(tm => PgSequences.typidOf(tm.group(1)).getOrElse(
        throw PgException("42P16",
          s"sequence type must be smallint, integer, or bigint")))
      .getOrElse(20)
    val increment = longOpt("INCREMENT\\s+(?:BY\\s+)?(-?\\d+)").getOrElse(1L)
    val noMin = "(?i)NO\\s+MINVALUE".r.findFirstIn(tail).isDefined
    val noMax = "(?i)NO\\s+MAXVALUE".r.findFirstIn(tail).isDefined
    val minV = if (noMin) None else longOpt("MINVALUE\\s+(-?\\d+)")
    val maxV = if (noMax) None else longOpt("MAXVALUE\\s+(-?\\d+)")
    val start = longOpt("START\\s+(?:WITH\\s+)?(-?\\d+)")
    val cycle = "(?i)(?<!NO\\s)\\bCYCLE\\b".r.findFirstIn(tail).isDefined
    PgSequences.create(name,
      PgSequences.defaultsFor(increment, minV, maxV, start, cycle, typid),
      ifNotExists)
    PgCatalog.invalidate()
    // eager: the 3-column relation view must resolve for the very next
    // `SELECT * FROM <seq>`, which carries no pg_ marker to trigger a
    // lazy refresh
    PgCatalog.refresh(spark)
    Complete("CREATE SEQUENCE")
  }

  private def handleDropSequence(spark: SparkSession,
      toks: Vector[Tok]): PgResult = {
    val rest = toks.drop(2).filterNot(t => t.is(",") || t.is(";"))
    val ifExists = rest.length >= 2 && rest(0).isWord("IF") && rest(1).isWord("EXISTS")
    val names = (if (ifExists) rest.drop(2) else rest)
      .filter(t => t.kind == Compat.Word || t.kind == Compat.QIdent)
      .filterNot(t => t.isWord("CASCADE") || t.isWord("RESTRICT"))
      .map(t => PgSequences.normName(t.text))
    if (names.isEmpty) throw PgException("42601", "syntax error in DROP SEQUENCE")
    names.foreach(PgSequences.drop(_, ifExists))
    PgCatalog.invalidate()
    PgCatalog.refresh(spark) // retire the relation views immediately
    Complete("DROP SEQUENCE")
  }

  private def handleAlterSequence(sql: String): PgResult = {
    val m = ("(?is)^ALTER\\s+SEQUENCE\\s+(IF\\s+EXISTS\\s+)?" +
      "(\"[^\"]+\"|[\\w$.]+)\\s+(.*)$").r
      .findFirstMatchIn(sql.trim.stripSuffix(";").trim)
      .getOrElse(throw PgException("42601", "syntax error in ALTER SEQUENCE"))
    val ifExists = m.group(1) != null
    val name = PgSequences.normName(m.group(2))
    if (!PgSequences.exists(name)) {
      if (ifExists) return Complete("ALTER SEQUENCE")
      throw PgException("42P01", s"""sequence "$name" does not exist""")
    }
    val tail = m.group(3)
    val rm = "(?i)RESTART(?:\\s+WITH\\s+(-?\\d+))?".r.findFirstMatchIn(tail)
      .getOrElse(throw PgException("0A000",
        "only ALTER SEQUENCE … RESTART [WITH n] is supported"))
    PgSequences.restart(name, Option(rm.group(1)).map(_.toLong))
    Complete("ALTER SEQUENCE")
  }

  /** Spark SHOW <x> forms passed through to the engine rather than
    * treated as pg GUC SHOW.
    */
  private val sparkShowKeywords = Set(
    "TABLES", "DATABASES", "SCHEMAS", "VIEWS", "COLUMNS", "FUNCTIONS",
    "PARTITIONS", "CREATE", "TBLPROPERTIES", "CATALOGS")

  // ---- SET / SHOW (reference: hooks/set_show.rs:25-366) -----------------

  private def handleSet(spark: SparkSession, session: Session,
      toks: Vector[Tok]): PgResult = {
    // SET [SESSION|LOCAL] name [TO|=] value...  /  SET TIME ZONE tz
    var i = 1
    if (i < toks.length && (toks(i).isWord("SESSION") || toks(i).isWord("LOCAL"))) i += 1
    if (i + 1 < toks.length && toks(i).isWord("TIME") && toks(i + 1).isWord("ZONE")) {
      val tz = unquote(toks.drop(i + 2))
      val zone = if (tz.equalsIgnoreCase("local") || tz.equalsIgnoreCase("default")) "UTC" else tz
      session.gucs("timezone") = zone
      return Complete("SET", Seq("TimeZone" -> zone))
    }
    if (i >= toks.length) throw PgException("42601", "syntax error in SET")
    // custom GUCs are dotted (extension.name) and tokenize as 3 tokens
    var name = toks(i).text.toLowerCase
    i += 1
    while (i + 1 < toks.length && toks(i).is(".")) {
      name = name + "." + toks(i + 1).text.toLowerCase
      i += 2
    }
    if (i < toks.length && (toks(i).isWord("TO") || toks(i).is("="))) i += 1
    val value = unquote(toks.drop(i))
    name match {
      case "statement_timeout" =>
        session.statementTimeoutMs =
          try session.parseTimeout(value)
          catch { case e: IllegalArgumentException => throw PgException("22023", e.getMessage) }
        session.gucs(name) = value
      case "graft.cursor_ttl" =>
        session.cursorTtlMs =
          try session.parseTimeout(value)
          catch { case e: IllegalArgumentException => throw PgException("22023", e.getMessage) }
        session.gucs(name) = value
      case "timezone" => session.gucs("timezone") = value
      case other => session.gucs(other) = value
    }
    val push = session.parameterStatusName(name).map(_ -> session.gucs(name)).toSeq
    Complete("SET", push)
  }

  private def unquote(ts: Seq[Tok]): String = {
    val raw = ts.map(_.text).mkString(" ").trim
    if (raw.startsWith("'") && raw.endsWith("'") && raw.length >= 2)
      raw.substring(1, raw.length - 1).replace("''", "'")
    else raw
  }

  private def handleShow(session: Session, toks: Vector[Tok]): PgResult = {
    val rest = toks.drop(1)
    if (rest.isEmpty) throw PgException("42601", "syntax error in SHOW")
    if (rest.head.isWord("ALL")) {
      val schema = StructType(Seq(
        StructField("name", StringType), StructField("setting", StringType),
        StructField("description", StringType)))
      val merged = (PgCatalog.defaultGucs.toMap ++ session.gucs.toMap).toSeq.sortBy(_._1)
      return RowSet(schema, merged.map { case (k, v) => Row(k, v, "") }.iterator,
        n => s"SHOW")
    }
    val name =
      if (rest.length >= 2 && rest(0).isWord("TIME") && rest(1).isWord("ZONE")) "timezone"
      else if (rest.length >= 2 && rest(0).isWord("TRANSACTION") && rest(1).isWord("ISOLATION"))
        "transaction_isolation"
      else rest.map(_.text.toLowerCase).mkString // dotted custom GUCs
    val value = showValue(session, name).getOrElse(
      throw PgException("42704", s"""unrecognized configuration parameter "$name""""))
    val colName = if (name == "timezone") "TimeZone" else name
    RowSet(StructType(Seq(StructField(colName, StringType))),
      Iterator.single(Row(value)), _ => "SHOW")
  }

  def showValue(session: Session, name: String): Option[String] = name match {
    case "server_version" => Some(PgFunctions.ServerVersion)
    case "server_version_num" => Some("170000")
    case "transaction_isolation" | "default_transaction_isolation" => Some("read committed")
    case "is_superuser" => Some("on")
    case "session_authorization" => Some(session.user)
    case "statement_timeout" => Some(session.statementTimeoutMs.toString)
    case other =>
      session.gucs.get(other).orElse(PgCatalog.defaultGucs.toMap.get(other))
  }

  // ---- cursors (reference: hooks/cursor.rs:26-223) -----------------------

  private def handleDeclare(spark: SparkSession, session: Session,
      toks: Vector[Tok], sql: String): PgResult = {
    if (toks.length < 4) throw PgException("42601", "syntax error in DECLARE")
    val name = identText(toks(1))
    var i = 2
    while (i < toks.length && !toks(i).isWord("CURSOR")) {
      if (toks(i).isWord("SCROLL") && !(i > 0 && toks(i - 1).isWord("NO")))
        throw PgException("0A000", "SCROLL cursors are not supported")
      i += 1
    }
    if (i >= toks.length) throw PgException("42601", "syntax error in DECLARE: missing CURSOR")
    i += 1 // past CURSOR
    if (i < toks.length && (toks(i).isWord("WITH") || toks(i).isWord("WITHOUT"))) i += 2
    if (i >= toks.length || !toks(i).isWord("FOR"))
      throw PgException("42601", "syntax error in DECLARE: missing FOR")
    // recover the raw query text after FOR (token render loses spacing
    // inside strings? no — render keeps text verbatim; but we filtered
    // Ws tokens, so re-tokenize the raw sql instead)
    val full = Compat.tokenize(sql)
    var seen = 0
    var cut = -1
    var j = 0
    var depth = 0
    while (j < full.length && cut < 0) {
      val t = full(j)
      if (t.is("(")) depth += 1
      else if (t.is(")")) depth -= 1
      else if (depth == 0 && t.isWord("FOR")) cut = j
      j += 1
    }
    if (cut < 0) throw PgException("42601", "syntax error in DECLARE")
    val query = Compat.render(full.drop(cut + 1)).trim
    if (session.cursors.contains(name))
      throw PgException("42P03", s"""cursor "$name" already exists""")
    val df = runSql(spark, query)
    session.cursors(name) = session.Cursor(df.schema, df.toLocalIterator().asScala)
    Complete("DECLARE CURSOR")
  }

  private def identText(t: Tok): String =
    if (t.kind == Compat.QIdent) t.text.substring(1, t.text.length - 1)
    else t.text.toLowerCase

  private def handleFetch(session: Session, toks: Vector[Tok], isMove: Boolean): PgResult = {
    // FETCH [NEXT|FORWARD n|FORWARD ALL|ALL|n] [FROM|IN] name
    var i = 1
    var count: Long = 1
    var all = false
    def bad(dir: String): Nothing =
      throw PgException("55000", s"cursor can only scan forward")
    if (i < toks.length) toks(i) match {
      case t if t.isWord("NEXT") => i += 1
      case t if t.isWord("PRIOR") || t.isWord("BACKWARD") || t.isWord("FIRST") ||
        t.isWord("LAST") || t.isWord("ABSOLUTE") || t.isWord("RELATIVE") => bad(t.text)
      case t if t.isWord("ALL") => all = true; i += 1
      case t if t.isWord("FORWARD") =>
        i += 1
        if (i < toks.length && toks(i).kind == Compat.Num) { count = toks(i).text.toLong; i += 1 }
        else if (i < toks.length && toks(i).isWord("ALL")) { all = true; i += 1 }
      case t if t.kind == Compat.Num =>
        val n = t.text.toLong
        if (n < 0) bad("backward")
        count = n; i += 1
      case _ =>
    }
    if (i < toks.length && (toks(i).isWord("FROM") || toks(i).isWord("IN"))) i += 1
    if (i >= toks.length) throw PgException("42601", "syntax error in FETCH: missing cursor name")
    val name = identText(toks(i))
    val cur = session.cursors.getOrElse(name,
      throw PgException("34000", s"""cursor "$name" does not exist"""))
    // drain manually — Iterator.take would invalidate cur.it for the
    // next FETCH on the same cursor
    val drained = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
      var k = 0L
      while (cur.it.hasNext && (all || k < count)) { buf += cur.it.next(); k += 1 }
      buf.toSeq
    }
    // touch AFTER draining: pulling a partition can run a Spark job,
    // and that time is activity, not idleness — the TTL clock starts
    // when the FETCH completes
    cur.lastUsedMs = System.currentTimeMillis()
    if (isMove) Complete(s"MOVE ${drained.length}")
    else RowSet(cur.schema, drained.iterator, n => s"FETCH $n")
  }

  private def handleClose(session: Session, toks: Vector[Tok]): PgResult = {
    if (toks.length < 2) throw PgException("42601", "syntax error in CLOSE")
    if (toks(1).isWord("ALL")) { session.cursors.clear(); Complete("CLOSE CURSOR ALL") }
    else {
      val name = identText(toks(1))
      if (session.cursors.remove(name).isEmpty)
        throw PgException("34000", s"""cursor "$name" does not exist""")
      Complete("CLOSE CURSOR")
    }
  }

  // ---- RBAC statements (reference: auth.rs, permissions.rs) -------------

  /** Relation names of a `DROP TABLE [IF EXISTS] n1, n2, … [CASCADE]`
    * statement, normalized like [[viewRelName]]. */
  private def dropTableNames(sql: String): Seq[String] =
    ("(?is)^\\s*DROP\\s+TABLE\\s+(?:IF\\s+EXISTS\\s+)?(.+?)" +
      "\\s*(?:CASCADE|RESTRICT)?\\s*;?\\s*$").r
      .findFirstMatchIn(sql).toSeq.flatMap { m =>
        splitTopLevelText(m.group(1), ',').map(_.trim).filter(_.nonEmpty)
          .map(viewRelName)
      }

  /** Tables referenced by a statement — the scopes the permission gate
    * checks. Heuristic token scan (FROM/JOIN/INTO/UPDATE targets);
    * pg_catalog names are excluded (readable by everyone).
    */
  def referencedTables(toks: Vector[Tok]): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      val isIntro = t.isWord("FROM") || t.isWord("JOIN") || t.isWord("INTO") ||
        (t.isWord("UPDATE") && i == 0) || (t.isWord("TABLE") && i <= 1)
      if (isIntro && i + 1 < toks.length) {
        val n = toks(i + 1)
        if (n.kind == QIdent) {
          // quoted relation name: case-significant, taken verbatim
          out += n.text.stripPrefix("\"").stripSuffix("\"").replace("\"\"", "\"")
        } else if (n.kind == Word && !n.isWord("SELECT") && !n.isWord("LATERAL")) {
          // take last segment of a qualified chain
          var j = i + 1
          var name = n.text
          while (j + 2 < toks.length && toks(j + 1).is(".") &&
            (toks(j + 2).kind == Word || toks(j + 2).kind == QIdent)) {
            name = toks(j + 2).text; j += 2
          }
          val lower =
            if (name.startsWith("\""))
              name.stripPrefix("\"").stripSuffix("\"").replace("\"\"", "\"")
            else name.toLowerCase
          if (!lower.startsWith("pg_") && lower != "range" && lower != "generate_series")
            out += lower
          i = j
        }
      }
      i += 1
    }
    out.distinct.toSeq
  }

  private def handleRbac(a: AuthManager, toks: Vector[Tok],
      head: String, second: String): PgResult = (head, second) match {
    case ("CREATE", "USER") =>
      val name = toks(2).text.toLowerCase
      var password: Option[String] = None
      var superuser = false
      var i = 3
      while (i < toks.length) {
        if (toks(i).isWord("PASSWORD") && i + 1 < toks.length) {
          val p = toks(i + 1).text
          password = Some(if (p.startsWith("'")) p.substring(1, p.length - 1) else p)
          i += 1
        } else if (toks(i).isWord("SUPERUSER")) superuser = true
        i += 1
      }
      a.createUser(name, password, superuser)
      Complete("CREATE USER")
    case ("CREATE", "ROLE") =>
      a.createRole(toks(2).text.toLowerCase); Complete("CREATE ROLE")
    case ("DROP", "USER") =>
      if (!a.dropUser(toks(2).text.toLowerCase))
        throw PgException("42704", s"""user "${toks(2).text}" does not exist""")
      Complete("DROP USER")
    case ("DROP", "ROLE") =>
      if (!a.dropRole(toks(2).text.toLowerCase))
        throw PgException("42704", s"""role "${toks(2).text}" does not exist""")
      Complete("DROP ROLE")
    case ("GRANT", _) | ("REVOKE", _) =>
      val isGrant = head == "GRANT"
      val kw = if (isGrant) "TO" else "FROM"
      val onIdx = toks.indexWhere(_.isWord("ON"))
      val kwIdx = toks.indexWhere(_.isWord(kw))
      if (kwIdx < 0) throw PgException("42601", s"syntax error in $head")
      val grantee = toks(kwIdx + 1).text.toLowerCase
      if (onIdx < 0) {
        // GRANT role TO user/role
        val role = toks(1).text.toLowerCase
        if (isGrant) a.grantRole(role, grantee) else a.revokeRole(role, grantee)
      } else {
        // GRANT perm[, perm] ON [TABLE] t | ALL TABLES TO role
        val perms = toks.slice(1, onIdx).filter(_.kind == Word).map(_.text.toUpperCase)
          .flatMap {
            case "ALL" => Permission.values.toSeq
            case "PRIVILEGES" => Nil
            case p => Permission.values.find(_.toString.toUpperCase == p).toSeq
          }
        val tgt = toks.slice(onIdx + 1, kwIdx).filter(_.kind == Word)
          .filterNot(t => t.isWord("TABLE") || t.isWord("TABLES"))
        val table = tgt.headOption.map(t =>
          if (t.isWord("ALL")) "*" else t.text.toLowerCase).getOrElse("*")
        perms.foreach { p =>
          if (isGrant) a.grant(grantee, table, p) else a.revoke(grantee, table, p)
        }
      }
      Complete(if (isGrant) "GRANT" else "REVOKE")
    case _ => throw PgException("42601", s"unsupported $head statement")
  }

  // ---- query path --------------------------------------------------------

  /** Compat-rewrite + (if pg_catalog is referenced) refresh the dynamic
    * catalog views, then hand to Catalyst.
    */
  def runSql(spark: SparkSession, sql: String): DataFrame = {
    // json[b]_populate_record[set] needs the target table's schema to
    // expand its column list — supplied here, where the session lives
    val pre =
      if (sql.toLowerCase.contains("populate_record"))
        Compat.rewritePopulateRecord(sql, name =>
          scala.util.Try(spark.table(name).schema).toOption
            .map(_.fields.toSeq.map(f => (f.name, Compat.pgTypeNameOf(f.dataType)))))
      else sql
    // json_agg input-order capture: which relations are file-backed
    // catalog tables (the `_metadata` file-ordinal key resolves there)
    val rewritten = Compat.rewrite(pre, Compat.Ctx(graft.functions.PgEnums.names(spark),
      topLevel = true, fileTable = name => TxnJournal.tableLocation(spark, name).isDefined))
    val lower = rewritten.toLowerCase
    if (lower.contains("pg_") || lower.contains("information_schema"))
      PgCatalog.refresh(spark)
    // live counters: rebuilt per referencing query (pg reads shared
    // memory; per-query rebuild is the same read-your-writes shape)
    if (lower.contains("pg_stat_statements"))
      PgStatStatements.refreshView(spark)
    // pg dialect type semantics: GraftExtensions' analyzer rule fires
    // inside withPg (PgServer.start refuses a session without it)
    tagPgOutputs(PgSemantics.withPg { spark.sql(rewritten) })
  }

  /** pg type metadata for result columns whose pg type the Spark type
    * does not tell, so the wire reports the pg OID and text form: time,
    * geometry, ranges, tsvector/tsquery, inet/cidr/macaddr, bit, xml,
    * money, variable-scale numeric and enum OIDs. Each output column's
    * type comes from [[PgSemantics.pgTypeOf]] over the analyzed plan (so
    * `SELECT t FROM (SELECT x::time AS t)` and view columns tag too);
    * only when some output column needs it does the plan gain one
    * Project re-aliasing those columns with their metadata.
    */
  private def tagPgOutputs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, NamedExpression}
    import org.apache.spark.sql.catalyst.plans.logical.Project
    val plan = df.queryExecution.analyzed
    val defs = PgSemantics.definedTypes(plan)
    val metas = plan.output.map { a =>
      if (Seq(PgType.OID_ALIAS_KEY, PgType.PG_TYPE_KEY, PgType.OID_NUM_KEY)
        .exists(a.metadata.contains)) None
      else defs(a.exprId).flatMap(pgTypeMeta(df.sparkSession, _))
    }
    if (metas.forall(_.isEmpty)) df
    else org.apache.spark.sql.graftshim.DatasetShim.ofRows(df.sparkSession,
      Project(plan.output.zip(metas).map {
        case (a, m) => m.fold[NamedExpression](a)(m => Alias(a, a.name)(explicitMetadata = Some(m)))
      }, plan))
  }

  /** Column metadata that makes the wire report pg type `name`. */
  private def pgTypeMeta(spark: SparkSession, name: String): Option[Metadata] = {
    val mb = new MetadataBuilder()
    name match {
      case "time" | "geometry" => Some(mb.putString(PgType.PG_TYPE_KEY, name).build())
      case a if PgType.aliasOids.contains(a) => Some(mb.putString(PgType.OID_ALIAS_KEY, a).build())
      case e => graft.functions.PgEnums.lookup(spark, e)
        .map(d => mb.putLong(PgType.OID_NUM_KEY, d.oid.toLong).build())
    }
  }

  /** `CREATE TYPE name AS ENUM ('a','b',…)` — the only CREATE TYPE
    * form supported (composite/base types → 0A000 like features the
    * engine doesn't plan).
    */
  private def handleCreateType(spark: SparkSession,
      toks: Vector[Compat.Tok]): PgResult = {
    if (toks.length < 4) throw PgException("42601", "syntax error in CREATE TYPE")
    val name = toks(2).text.toLowerCase
    val isEnum = toks.length > 5 && toks(3).text.equalsIgnoreCase("AS") &&
      toks(4).text.equalsIgnoreCase("ENUM")
    if (!isEnum) throw PgException("0A000",
      "only CREATE TYPE ... AS ENUM is supported")
    val labels = toks.drop(5).filter(_.kind == Compat.Str)
      .map(t => t.text.substring(1, t.text.length - 1).replace("''", "'"))
    if (labels.isEmpty) throw PgException("42601", "syntax error in CREATE TYPE")
    graft.functions.PgEnums.create(spark, name, labels)
    PgCatalog.refreshEnumViews(spark)
    Complete("CREATE TYPE")
  }

  // ---- pg-dialect CREATE TABLE -----------------------------------------

  /** Constraint keywords that end a column's type spelling. NOT NULL,
    * PRIMARY KEY, UNIQUE and DEFAULT are parsed and ENFORCED
    * (pg-parity: 23502/23505 at write time, defaults fill omitted
    * columns); REFERENCES / CHECK / COLLATE are accepted and ignored
    * (documented deviation); GENERATED … AS IDENTITY maps to the
    * serial machinery. */
  private val colConstraintKws = Set("not", "null", "primary", "unique",
    "default", "references", "check", "constraint", "generated", "collate")

  /** Depth-0 word tokens of a raw column-def tail, outside string
    * literals and quoted identifiers, with [start,end) offsets —
    * offsets let DEFAULT expressions splice back out of the RAW text
    * (tokenize+render would double backslashes in string literals). */
  private def topWords(s: String, from: Int): Vector[(String, Int, Int)] = {
    val out = Vector.newBuilder[(String, Int, Int)]
    var i = from
    var depth = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\'') { i += 1; while (i < s.length && s.charAt(i) != '\'') i += 1; i += 1 }
      else if (c == '"') { i += 1; while (i < s.length && s.charAt(i) != '"') i += 1; i += 1 }
      else if (c == '(') { depth += 1; i += 1 }
      else if (c == ')') { depth -= 1; i += 1 }
      else if (depth == 0 && (c.isLetter || c == '_')) {
        val st = i
        while (i < s.length && (s.charAt(i).isLetterOrDigit || s.charAt(i) == '_' || s.charAt(i) == '$')) i += 1
        out += ((s.substring(st, i).toLowerCase, st, i))
      } else i += 1
    }
    out.result()
  }

  /** Parsed column-level constraint clauses. */
  private final case class ColCons(notNull: Boolean, pk: Boolean,
    unique: Boolean, uniqueName: Option[String], default: Option[String],
    identity: Boolean,
    /** column-level `[CONSTRAINT name] CHECK (expr)` clauses */
    checks: Seq[(Option[String], String)] = Nil,
    /** column-level `REFERENCES reftable [(refcols)]` + ON
      * DELETE/UPDATE action letters */
    refs: Option[(String, Option[String], (Char, Char))] = None,
    /** DEFERRABLE [INITIALLY DEFERRED] on the column's PK/UNIQUE */
    uniqDefer: (Boolean, Boolean) = (false, false),
    /** DEFERRABLE [INITIALLY DEFERRED] on the column's REFERENCES */
    refDefer: (Boolean, Boolean) = (false, false))

  /** Scan a raw column def's constraint tail (everything after the
    * type spelling). Live-pinned semantics in PgDmlSpec; FK clauses
    * (REFERENCES … ON DELETE SET DEFAULT/NULL …) are consumed
    * precisely so their keywords don't read as new constraints. */
  private def scanColConstraints(d: String): ColCons = {
    // the type ends at the first depth-0 constraint keyword after the
    // column name (same rule as the token-based type extraction)
    val ws = topWords(d, 0)
    val tail = ws.dropWhile(w => !colConstraintKws.contains(w._1)).toList
    var notNull = false; var pk = false; var uniq = false
    var uniqueName: Option[String] = None
    var default: Option[String] = None
    var identity = false
    var pendingName: Option[String] = None
    val checks = Seq.newBuilder[(Option[String], String)]
    var refs: Option[(String, Option[String], (Char, Char))] = None
    // r18: DEFERRABLE attributes attach to the most recent
    // deferrable constraint ('u' = pk/unique, 'r' = references)
    var lastCons: Char = ' '
    var uniqDef = false; var uniqInit = false
    var refDef = false; var refInit = false
    var rest = tail
    def eat(): Unit = rest = rest.drop(1)
    /** balanced paren group starting at/after `from` in the raw def */
    def parenGroup(from: Int): Option[(String, Int)] = {
      var p = from
      while (p < d.length && d.charAt(p).isWhitespace) p += 1
      if (p >= d.length || d.charAt(p) != '(') None
      else {
        val close = matchingParenStr(d.substring(p), 0)
        if (close < 0) None
        else Some((d.substring(p + 1, p + close), p + close + 1))
      }
    }
    while (rest.nonEmpty) {
      val (w, _, end) = rest.head
      w match {
        case "not" =>
          eat()
          if (rest.headOption.exists(_._1 == "null")) { notNull = true; eat() }
          else if (rest.headOption.exists(_._1 == "deferrable")) {
            eat() // explicit NOT DEFERRABLE: reset the owning flags
            if (lastCons == 'u') { uniqDef = false; uniqInit = false }
            else if (lastCons == 'r') { refDef = false; refInit = false }
          }
        case "null" => eat()
        case "primary" =>
          eat(); if (rest.headOption.exists(_._1 == "key")) eat()
          pk = true; notNull = true
          lastCons = 'u'
          pendingName = None // pk name is always <table>_pkey
        case "unique" =>
          eat(); uniq = true; uniqueName = pendingName; pendingName = None
          lastCons = 'u'
        case "deferrable" =>
          eat()
          if (lastCons == 'u') uniqDef = true
          else if (lastCons == 'r') refDef = true
        case "initially" =>
          eat()
          val w0 = rest.headOption.map(_._1)
          if (w0.contains("deferred")) {
            if (lastCons == 'u') { uniqDef = true; uniqInit = true }
            else if (lastCons == 'r') { refDef = true; refInit = true }
          }
          if (w0.exists(x => x == "deferred" || x == "immediate")) eat()
        case "default" =>
          eat()
          val exprStart = end
          // expression runs to the next depth-0 constraint keyword
          val stops = Set("not", "primary", "unique", "references",
            "check", "constraint", "generated", "collate")
          var stopAt = d.length
          var scan = rest
          var found = false
          while (scan.nonEmpty && !found) {
            if (stops.contains(scan.head._1)) { stopAt = scan.head._2; found = true }
            else scan = scan.tail
          }
          default = Some(d.substring(exprStart, stopAt).trim)
          while (rest.nonEmpty && rest.head._2 < stopAt) eat()
        case "references" =>
          eat() // table name word
          var refHead: Option[(String, Option[String])] = None
          rest.headOption.foreach { case (_, st, en) =>
            val refTbl = d.substring(st, en)
            val refCols = parenGroup(en).map(_._1)
            refHead = Some((refTbl, refCols))
          }
          if (rest.nonEmpty) eat()
          // MATCH FULL|PARTIAL|SIMPLE
          if (rest.headOption.exists(_._1 == "match")) { eat(); if (rest.nonEmpty) eat() }
          // ON DELETE|UPDATE <action>, repeatable — recorded for the
          // write-time gates
          var onDel = 'a'; var onUpd = 'a'
          var more = true
          while (more && rest.headOption.exists(_._1 == "on")) {
            eat() // on
            val isDel = rest.headOption.exists(_._1 == "delete")
            if (rest.headOption.exists(w0 => w0._1 == "delete" || w0._1 == "update")) eat()
            val act: Option[Char] = rest.headOption.map(_._1) match {
              case Some("cascade") => eat(); Some('c')
              case Some("restrict") => eat(); Some('r')
              case Some("no") =>
                eat(); if (rest.headOption.exists(_._1 == "action")) eat()
                Some('a')
              case Some("set") =>
                eat()
                val w0 = rest.headOption.map(_._1)
                if (w0.exists(w1 => w1 == "null" || w1 == "default")) eat()
                if (w0.contains("null")) Some('n') else Some('d')
              case _ => more = false; None
            }
            act.foreach(a => if (isDel) onDel = a else onUpd = a)
          }
          refs = refHead.map { case (t0, rc) => (t0, rc, (onDel, onUpd)) }
          lastCons = 'r'
        case "check" =>
          val (_, _, kwEnd) = rest.head
          eat()
          parenGroup(kwEnd).foreach { case (expr, _) =>
            checks += ((pendingName, expr.trim))
          }
          pendingName = None
        case "constraint" =>
          eat()
          pendingName = rest.headOption.map(_._1)
          if (rest.nonEmpty) eat()
        case "collate" => eat(); if (rest.nonEmpty) eat()
        case "generated" =>
          eat()
          if (rest.headOption.exists(_._1 == "always")) eat()
          else if (rest.headOption.exists(_._1 == "by")) {
            eat(); if (rest.headOption.exists(_._1 == "default")) eat()
          }
          if (rest.headOption.exists(_._1 == "as")) eat()
          if (rest.headOption.exists(_._1 == "identity")) { identity = true; eat() }
        case _ => eat()
      }
    }
    ColCons(notNull, pk, uniq, uniqueName, default, identity,
      checks.result(), refs, (uniqDef, uniqDef && uniqInit),
      (refDef, refDef && refInit))
  }

  /** Entry starters that mark a TABLE-level constraint (skipped). */
  private val tableConstraintKws = Set("primary", "unique", "check",
    "constraint", "foreign", "exclude", "like")

  /** pg's CHECK auto-name: `<t>_<col>_check` when the expression (or
    * the defining column) references exactly one column, else
    * `<t>_check`; duplicates get a bare numeric suffix (live-pinned:
    * `ct_b_check1`). */
  private def resolveCheckName(tNorm: String, nameOpt: Option[String],
      expr: String, colHint: Option[String], fieldNames: Seq[String],
      taken: Set[String]): String = {
    val base = nameOpt.getOrElse {
      val refs = colHint.map(c => Seq(c.toLowerCase)).getOrElse {
        val names = fieldNames.map(_.toLowerCase).toSet
        Compat.tokenize(expr)
          .filter(t => t.kind == Compat.Word || t.kind == Compat.QIdent)
          .map(t => unq(t.text).toLowerCase).filter(names).distinct
      }
      if (refs.size == 1) s"${tNorm}_${refs.head}_check" else s"${tNorm}_check"
    }
    if (!taken(base)) base
    else {
      var k = 1
      while (taken(base + k)) k += 1
      base + k
    }
  }

  /** Build a FOREIGN KEY: pg_get_constraintdef text with the
    * referenced columns resolved to the parent's pk when omitted,
    * validated like pg at DDL time — parent must exist (42P01), the
    * referenced columns must exist (42703) and match a unique
    * constraint on the parent exactly (42830; `no primary key` wording
    * when the column list was omitted). `selfUniques`/`selfCols`
    * support the self-referencing CREATE TABLE shape where the parent
    * is the table being defined. Actions render pg-style in the
    * condef (NO ACTION omitted) — [[PgConstraints.parseFk]] reads
    * them back for the write-time gates. */
  private def mkFk(spark: SparkSession, tNorm: String, nameOpt: Option[String],
      cols: Seq[String], refTbl: String, refColsOpt: Option[String],
      taken: Set[String], actions: (Char, Char) = ('a', 'a'),
      selfUniques: Seq[PgConstraints.Unique] = Nil,
      selfCols: Seq[String] = Nil,
      defer: (Boolean, Boolean) = (false, false)): PgConstraints.Fk = {
    val refNorm = PgSequences.normName(refTbl).split("\\.").last
    val isSelf = refNorm.equalsIgnoreCase(PgSequences.normName(tNorm))
    val (parentCols, parentUniques) =
      if (isSelf && selfCols.nonEmpty) (selfCols, selfUniques)
      else {
        val schema =
          try spark.table(refNorm).schema
          catch { case scala.util.control.NonFatal(_) =>
            throw PgException("42P01",
              s"""relation "$refNorm" does not exist""") }
        (schema.fields.map(_.name).toSeq,
          PgConstraints.uniquesOf(refNorm, schema))
      }
    val refCols = refColsOpt.filter(_.nonEmpty) match {
      case Some(rc) => rc.split(",").toSeq.map(c => unq(c.trim)).filter(_.nonEmpty)
      case None => parentUniques.find(_.isPrimary).map(_.cols).getOrElse(
        // pg files the no-pk case under undefined_object, not 42830
        throw PgException("42704",
          s"""there is no primary key for referenced table "$refNorm""""))
    }
    refCols.foreach { c =>
      if (!parentCols.exists(_.equalsIgnoreCase(c)))
        throw PgException("42703",
          s"""column "$c" referenced in foreign key constraint does not exist""")
    }
    val want = refCols.map(_.toLowerCase).toSet
    if (!parentUniques.exists(_.cols.map(_.toLowerCase).toSet == want))
      throw PgException("42830",
        s"there is no unique constraint matching given keys for referenced " +
          s"""table "$refNorm"""")
    val base = nameOpt.getOrElse(
      s"${tNorm}_${cols.map(_.toLowerCase).mkString("_")}_fkey")
    val name =
      if (!taken(base)) base
      else {
        var k = 1
        while (taken(base + k)) k += 1
        base + k
      }
    PgConstraints.Fk(name,
      s"FOREIGN KEY (${cols.mkString(", ")}) REFERENCES " +
        s"$refNorm(${refCols.mkString(", ")})" +
        PgConstraints.fkActionSuffix(actions._1, actions._2) +
        PgConstraints.deferSuffix(defer._1, defer._2))
  }

  /** 23514 check over the rows actually being written: a row whose
    * CHECK expression is FALSE violates; NULL passes (pg's rule).
    * The expression is pg-dialect text, so it evaluates through
    * runSql over a temp view of the write-set. */
  private def checkChecks(spark: SparkSession, df: DataFrame,
      schema: StructType, table: String, zone: java.time.ZoneId): Unit = {
    val checks = PgConstraints.checksOf(table, schema)
    if (checks.isEmpty) return
    val v = s"__ck_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    df.createOrReplaceTempView(v)
    try checks.foreach { ck =>
      val bad = runSql(spark,
        s"SELECT * FROM `$v` WHERE NOT coalesce((${ck.expr}), true)")
        .limit(1).collect()
      if (bad.nonEmpty)
        throw PgException("23514",
          s"""new row for relation "$table" violates check constraint "${ck.name}"
DETAIL:  Failing row contains ${renderRowDetail(bad(0), schema, zone)}.""")
    } finally {
      try spark.catalog.dropTempView(v)
      catch { case scala.util.control.NonFatal(_) => }
    }
  }

  /** `CREATE TABLE name (coldefs)` in pg dialect: pg type spellings
    * (serial, text, int4, numeric(p,s), timestamptz, …) resolve to
    * Spark storage types, and the canonical-text families
    * (ranges/inet/tsvector/enum/money/bit/xml/json/uuid) store as
    * STRING with `pg.oid_alias`/`pg.oid_num` column metadata — so the
    * wire layer reports the right OIDs and the metadata-keyed operator
    * dispatch sees stored columns' pg types without casts. TIME stores
    * as nanos-bigint (pg.type=time) and GEOMETRY as EWKB binary, the
    * engine's documented encodings.
    *
    * Returns None (→ the plain Spark path) for CTAS, USING/PARTITIONED
    * tails, or anything else that isn't the bare pg shape — existing
    * Spark-dialect DDL is untouched.
    */
  private[pgwire] def pgCreateTable(spark: SparkSession, rawSql: String): Option[PgResult] = {
    val sql = rawSql.trim.stripSuffix(";").trim
    val m = ("(?is)^CREATE\\s+(?:(?:TEMP|TEMPORARY|UNLOGGED)\\s+)?TABLE\\s+" +
      "(IF\\s+NOT\\s+EXISTS\\s+)?(\"[^\"]+\"|[\\w$.]+)\\s*(\\(.*)$").r
      .findFirstMatchIn(sql).getOrElse(return None)
    val ifNotExists = m.group(1) != null
    val table = {
      val raw = m.group(2)
      if (raw.startsWith("\"")) raw.substring(1, raw.length - 1) else raw
    }
    val parenPart = m.group(3)
    val close = matchingParenStr(parenPart, 0)
    if (close < 0) return None
    if (parenPart.substring(close + 1).trim.nonEmpty) return None // USING/AS/… → Spark path
    val body = parenPart.substring(1, close)
    val defs = splitTopStr(body).map(_.trim).filter(_.nonEmpty)
    if (defs.isEmpty) return None
    val fields = scala.collection.mutable.ArrayBuffer.empty[StructField]
    val uniques = scala.collection.mutable.ArrayBuffer.empty[PgConstraints.Unique]
    // raw CHECK/FK clauses; names resolve after all defs are parsed
    // (pg's auto-name needs the full column set)
    val rawChecks = scala.collection.mutable.ArrayBuffer
      .empty[(Option[String], String, Option[String])] // (name, expr, col hint)
    val rawFks = scala.collection.mutable.ArrayBuffer
      .empty[(Option[String], Seq[String], String, Option[String], (Char, Char),
        (Boolean, Boolean))]
    val tNorm = PgSequences.normName(table)
    var sawPk = false
    def addUnique(cols: Seq[String], isPk: Boolean, name: Option[String],
        defer: (Boolean, Boolean) = (false, false)): Unit = {
      if (isPk) {
        if (sawPk) throw PgException("42P16",
          s"""multiple primary keys for table "$tNorm" are not allowed""")
        sawPk = true
        uniques += PgConstraints.Unique(s"${tNorm}_pkey", cols,
          isPrimary = true, deferrable = defer._1, initiallyDeferred = defer._2)
      } else uniques += PgConstraints.Unique(
        name.getOrElse(s"${tNorm}_${cols.map(_.toLowerCase).mkString("_")}_key"),
        cols, isPrimary = false, deferrable = defer._1,
        initiallyDeferred = defer._2)
    }
    val tablePkCols = scala.collection.mutable.Set.empty[String]
    defs.foreach { d =>
      val toks = Compat.tokenize(d).filter(_.kind != Compat.Ws)
      if (toks.isEmpty) return None
      val first = toks.head
      val isTableConstraint = first.kind == Compat.Word &&
        tableConstraintKws.contains(first.text.toLowerCase)
      if (isTableConstraint) {
        // table-level PRIMARY KEY/UNIQUE register; FK/CHECK/EXCLUDE
        // stay accepted-and-ignored (documented deviation)
        var ts = toks.toList
        var consName: Option[String] = None
        if (ts.head.isWord("CONSTRAINT") && ts.length > 1) {
          consName = Some(unq(ts(1).text).toLowerCase)
          ts = ts.drop(2)
        }
        val kind = ts.headOption.map(_.text.toLowerCase).getOrElse("")
        if (kind == "primary" || kind == "unique") {
          val open = ts.indexWhere(_.is("("))
          val close = if (open >= 0) {
            var depth = 0; var j = open; var c = -1
            while (j < ts.length && c < 0) {
              if (ts(j).is("(")) depth += 1
              else if (ts(j).is(")")) { depth -= 1; if (depth == 0) c = j }
              j += 1
            }
            c
          } else -1
          if (open >= 0 && close > open) {
            val cols = ts.slice(open + 1, close)
              .filter(t => t.kind == Compat.Word || t.kind == Compat.QIdent)
              .map(t => unq(t.text))
            if (cols.nonEmpty) {
              addUnique(cols, kind == "primary", consName,
                PgConstraints.deferFlags(d))
              if (kind == "primary") tablePkCols ++= cols.map(_.toLowerCase)
            }
          }
        } else if (kind == "check") {
          // balanced group after the CHECK keyword in the raw text
          "(?is)\\bCHECK\\b".r.findFirstMatchIn(d).foreach { km =>
            var p = km.end
            while (p < d.length && d.charAt(p).isWhitespace) p += 1
            if (p < d.length && d.charAt(p) == '(') {
              val cl = matchingParenStr(d.substring(p), 0)
              if (cl > 0)
                rawChecks += ((consName, d.substring(p + 1, p + cl).trim, None))
            }
          }
        } else if (kind == "foreign") {
          ("(?is)FOREIGN\\s+KEY\\s*\\(([^)]*)\\)\\s+REFERENCES\\s+" +
            "(\"[^\"]+\"|[\\w$.]+)\\s*(?:\\(([^)]*)\\))?").r
            .findFirstMatchIn(d).foreach { fm =>
              val cols = fm.group(1).split(",").toSeq.map(c => unq(c.trim))
                .filter(_.nonEmpty)
              rawFks += ((consName, cols, unq(fm.group(2)),
                Option(fm.group(3)).map(_.trim),
                PgConstraints.fkActions(d.substring(fm.end)),
                PgConstraints.deferFlags(d.substring(fm.end))))
            }
        } // EXCLUDE/LIKE stay accepted-and-ignored
      } else {
        fields += (parseColDef(spark, tNorm, d) match {
          case Some((f, cons)) =>
            if (cons.pk) addUnique(Seq(f.name), isPk = true, None,
              cons.uniqDefer)
            if (cons.unique) addUnique(Seq(f.name), isPk = false,
              cons.uniqueName.orElse(Some(s"${tNorm}_${f.name.toLowerCase}_key")),
              cons.uniqDefer)
            cons.checks.foreach { case (nm, expr) =>
              rawChecks += ((nm, expr, Some(f.name)))
            }
            cons.refs.foreach { case (reft, refCols, acts) =>
              rawFks += ((None, Seq(f.name), reft, refCols, acts,
                cons.refDefer))
            }
            f
          case None => return None // unknown spelling → Spark path decides
        })
      }
    }
    if (fields.isEmpty) return None
    // table-level PRIMARY KEY members are NOT NULL, like pg
    if (tablePkCols.nonEmpty) fields.indices.foreach { i =>
      val f = fields(i)
      if (tablePkCols.contains(f.name.toLowerCase) &&
          !(f.metadata.contains("pg.notnull") && f.metadata.getBoolean("pg.notnull")))
        fields(i) = StructField(f.name, f.dataType, f.nullable,
          new MetadataBuilder().withMetadata(f.metadata)
            .putBoolean("pg.notnull", value = true).build())
    }
    // resolve CHECK/FK names against the full column set (auto-names
    // + duplicate suffixes, live-pinned: ct_a_check, ct_check, …1)
    val checks = scala.collection.mutable.ArrayBuffer.empty[PgConstraints.Check]
    val fks = scala.collection.mutable.ArrayBuffer.empty[PgConstraints.Fk]
    def takenNames: Set[String] =
      (uniques.map(_.name) ++ checks.map(_.name) ++ fks.map(_.name)).toSet
    rawChecks.foreach { case (nm, expr, hint) =>
      checks += PgConstraints.Check(
        resolveCheckName(tNorm, nm, expr, hint,
          fields.toSeq.map(_.name), takenNames), expr)
    }
    rawFks.foreach { case (nm, cols, reft, refColsOpt, acts, defer) =>
      fks += mkFk(spark, tNorm, nm, cols, reft, refColsOpt, takenNames,
        acts, uniques.toSeq, fields.toSeq.map(_.name), defer)
    }
    // the unique set rides on the first column's metadata so a fresh
    // JVM can rebuild the registry from the catalog schema
    if (uniques.nonEmpty) {
      val f = fields(0)
      fields(0) = StructField(f.name, f.dataType, f.nullable,
        new MetadataBuilder().withMetadata(f.metadata)
          .putString("pg.uniques", PgConstraints.serialize(uniques.toSeq)).build())
    }
    if (checks.nonEmpty) {
      val f = fields(0)
      fields(0) = StructField(f.name, f.dataType, f.nullable,
        new MetadataBuilder().withMetadata(f.metadata)
          .putString("pg.checks", PgConstraints.serializeChecks(checks.toSeq)).build())
    }
    if (fks.nonEmpty) {
      val f = fields(0)
      fields(0) = StructField(f.name, f.dataType, f.nullable,
        new MetadataBuilder().withMetadata(f.metadata)
          .putString("pg.fks", PgConstraints.serializeFks(fks.toSeq)).build())
    }
    Some {
      if (spark.catalog.tableExists(table)) {
        if (ifNotExists) Complete("CREATE TABLE")
        else throw PgException("42P07", s"""relation "$table" already exists""")
      } else {
        spark.catalog.createTable(table, "parquet",
          StructType(fields.toArray), Map.empty[String, String])
        PgConstraints.register(table, uniques.toSeq)
        PgConstraints.registerChecks(table, checks.toSeq)
        PgConstraints.registerFks(table, fks.toSeq)
        fields.filter(_.metadata.contains("pg.serial")).foreach { f =>
          val seq = f.metadata.getString("pg.serial")
          // pg types the owned sequence after the serial family:
          // serial→integer, bigserial→bigint, smallserial→smallint
          val typid = f.dataType match {
            case org.apache.spark.sql.types.ShortType => 21
            case org.apache.spark.sql.types.LongType => 20
            case _ => 23
          }
          PgSequences.drop(seq, ifExists = true) // re-created table restarts
          PgSequences.create(seq,
            PgSequences.defaultsFor(1L, None, None, None, cycle = false, typid),
            ifNotExists = false)
        }
        // registry behind pg_get_serial_sequence's non-literal form
        PgSequences.registerTableSerials(PgSequences.normName(table),
          fields.toSeq.map(f => f.name ->
            (if (f.metadata.contains("pg.serial"))
              Some(f.metadata.getString("pg.serial")) else None)))
        if (fields.exists(_.metadata.contains("pg.serial"))) {
          PgCatalog.invalidate()
          PgCatalog.refresh(spark) // implicit-sequence views, eagerly
        }
        Complete("CREATE TABLE")
      }
    }
  }

  /** One raw pg column definition (`name type [constraints]`) → the
    * storage StructField with pg wire/constraint metadata plus the
    * parsed constraint clauses — shared by CREATE TABLE and ALTER
    * TABLE ADD COLUMN. None when the shape/spelling is unknown (the
    * caller falls back to the Spark DDL path). */
  private def parseColDef(spark: SparkSession, tNorm: String,
      d: String): Option[(StructField, ColCons)] = {
    val toks = Compat.tokenize(d).filter(_.kind != Compat.Ws)
    if (toks.isEmpty) return None
    val first = toks.head
    if (!(first.kind == Compat.Word || first.kind == Compat.QIdent)) return None
    val colName =
      if (first.kind == Compat.QIdent) first.text.substring(1, first.text.length - 1)
      else first.text
    // type spelling: tokens up to the first constraint keyword
    val typeToks = toks.drop(1).takeWhile(t =>
      !(t.kind == Compat.Word && colConstraintKws.contains(t.text.toLowerCase)))
    if (typeToks.isEmpty) return None
    val typeStr = typeToks.map(_.text).mkString(" ")
    val cons = scanColConstraints(d)
    pgColumnField(spark, colName, typeStr).map { f =>
      // serial families (and GENERATED … AS IDENTITY) get pg's
      // implicit sequence + a metadata marker the INSERT path uses to
      // auto-fill omitted values
      val baseTy = typeStr.trim.toLowerCase.takeWhile(c => c != '(' && c != ' ')
      val mb = new MetadataBuilder().withMetadata(f.metadata)
      if (serialTypes.contains(baseTy) || cons.identity)
        mb.putString("pg.serial", tNorm + "_" + colName.toLowerCase + "_seq")
      if (cons.notNull || serialTypes.contains(baseTy) || cons.identity)
        mb.putBoolean("pg.notnull", value = true)
      cons.default.filter(_.nonEmpty).foreach(mb.putString("pg.default", _))
      (StructField(f.name, f.dataType, f.nullable, mb.build()), cons)
    }
  }

  // ---- ALTER TABLE / TRUNCATE (round 14) --------------------------------
  //
  // pg ALTER TABLE semantics over immutable parquet: schema changes
  // rebuild the table (drop + recreate with the new StructType) and
  // data changes ride the same rewrite-to-overwrite machinery as
  // UPDATE/DELETE — the transform is one distributed pass spilled
  // through a temp directory, then positionally re-inserted. All
  // actions of one statement validate against the END state before
  // anything is written (pg's atomicity: `ADD q1, DROP nosuch` leaves
  // the table untouched — live-pinned). Error codes/messages are
  // live-pinned (sweep-37): 42701/42703/42704/42804 (+pg's USING
  // hint), 23502 `contains null values`, 23505 `could not create
  // unique index`, 42P07/42P16.

  /** pg's display name for a column type spelling, for 42804 texts. */
  private def pgTypeDisplay(spelling0: String): String = {
    val s = spelling0.trim.toLowerCase.replaceAll("\\s+", " ")
    val base = s.takeWhile(_ != '(')
    val mod = s.drop(base.length)
    val b = base.trim match {
      case "int" | "int4" => "integer"
      case "int8" => "bigint"
      case "int2" => "smallint"
      case "float8" | "double" => "double precision"
      case "float4" => "real"
      case "bool" => "boolean"
      case "varchar" => "character varying"
      case "char" | "bpchar" => "character"
      case "decimal" => "numeric"
      case "timestamptz" => "timestamp with time zone"
      case other => other
    }
    b + mod
  }

  /** Can `oldF` re-type to `newF` WITHOUT a USING clause? Mirrors
    * pg's assignment-coercion rule for the engine's type surface:
    * anything casts to the text family, numerics cast among
    * themselves, typmod-only changes are free, date widens to
    * timestamp[tz]/timestamp narrows to date; everything else —
    * notably text→non-text and any canonical-family change — needs
    * USING (live-pinned: text→int and int→point are 42804). */
  private def autoCastable(oldF: StructField, newF: StructField): Boolean = {
    def alias(f: StructField): Option[String] =
      if (f.metadata.contains("pg.enum")) Some("enum:" + f.metadata.getString("pg.enum"))
      else if (f.metadata.contains(PgType.PG_TYPE_KEY))
        Some("t:" + f.metadata.getString(PgType.PG_TYPE_KEY))
      else if (f.metadata.contains(PgType.OID_ALIAS_KEY))
        Some(f.metadata.getString(PgType.OID_ALIAS_KEY))
      else None
    def textish(f: StructField) = f.dataType == StringType && alias(f).isEmpty
    def numeric(t: DataType) = t match {
      case ByteType | ShortType | IntegerType | LongType |
           FloatType | DoubleType => true
      case _: DecimalType => true
      case _ => false
    }
    if (textish(newF)) true
    else if (alias(oldF) != alias(newF)) false
    else if (oldF.dataType == newF.dataType) true
    else if (numeric(oldF.dataType) && numeric(newF.dataType)) true
    else (oldF.dataType, newF.dataType) match {
      case (DateType, TimestampType | TimestampNTZType) => true
      case (TimestampType | TimestampNTZType, DateType) => true
      case _ => false
    }
  }

  /** Swap a catalog table for a new schema + contents. `next` READS
    * the old table, so it is written first, cast by position to
    * `fields`, into a [[TableStage]]; the old table is then dropped,
    * the new one created with `fields` (the unique set re-attached to
    * field 0, the CREATE TABLE convention), and the stage swapped in as
    * its directory. One distributed pass — nondeterministic fill
    * expressions (nextval, random) evaluate exactly once, and the same
    * job counts the rows. */
  private def replaceTable(spark: SparkSession, table: String,
      fields: Seq[StructField], uniques: Seq[PgConstraints.Unique],
      next: org.apache.spark.sql.DataFrame,
      checks: Seq[PgConstraints.Check] = null,
      fks: Seq[PgConstraints.Fk] = null): Long = {
    val tNorm = PgSequences.normName(table)
    // null ⇒ carry the table's current CHECK/FK set unchanged
    val cks = Option(checks).getOrElse(
      scala.util.Try(PgConstraints.checksOf(table, spark.table(table).schema))
        .getOrElse(Nil))
    val fkz = Option(fks).getOrElse(
      scala.util.Try(PgConstraints.fksOf(table, spark.table(table).schema))
        .getOrElse(Nil))
    val cleaned = fields.map { f =>
      val mb = new MetadataBuilder().withMetadata(f.metadata)
      mb.remove("pg.uniques")
      mb.remove("pg.checks")
      mb.remove("pg.fks")
      StructField(f.name, f.dataType, f.nullable, mb.build())
    }.toArray
    def attach(key: String, value: String): Unit = {
      val f = cleaned(0)
      cleaned(0) = StructField(f.name, f.dataType, f.nullable,
        new MetadataBuilder().withMetadata(f.metadata)
          .putString(key, value).build())
    }
    if (uniques.nonEmpty)
      attach("pg.uniques", PgConstraints.serialize(uniques))
    if (cks.nonEmpty)
      attach("pg.checks", PgConstraints.serializeChecks(cks))
    if (fkz.nonEmpty)
      attach("pg.fks", PgConstraints.serializeFks(fkz))
    val written = TableStage(spark) { stage =>
      val (counting, n) = TableStage.counted(next, org.apache.spark.sql.functions.lit(1))
      val dir = stage.write(table, counting, Some(StructType(cleaned)))
      runSql(spark, s"DROP TABLE ${qid(table)}").collect()
      spark.catalog.createTable(table, "parquet",
        StructType(cleaned), Map.empty[String, String])
      PgConstraints.register(table, uniques)
      PgConstraints.registerChecks(table, cks)
      PgConstraints.registerFks(table, fkz)
      stage.swapIn(table, dir)
      n()
    }
    PgSequences.dropTableSerials(tNorm)
    PgSequences.registerTableSerials(tNorm, cleaned.toSeq.map(f => f.name ->
      (if (f.metadata.contains("pg.serial"))
        Some(f.metadata.getString("pg.serial")) else None)))
    PgCatalog.invalidate()
    written
  }

  /** pg action heads this handler owns; other tails (Spark dialect:
    * ADD COLUMNS (…), SET TBLPROPERTIES, partitions …) fall back. */
  private def isPgAlterAction(a: String): Boolean = {
    val w = topWords(a, 0).take(3).map(_._1)
    w.headOption match {
      case Some("add") => w.lift(1) match {
        case Some("columns") => false // Spark spelling
        case Some("partition") => false
        case _ => true
      }
      case Some("drop") => w.lift(1) match {
        case Some("partition") => false
        case _ => true
      }
      case Some("alter") => true
      case Some("owner") => true
      case Some("validate") => true
      case Some("set") => w.lift(1).contains("schema")
      case Some("disable") | Some("enable") => true
      case _ => false
    }
  }

  private def handleTruncate(spark: SparkSession, sql0: String): PgResult = {
    val m = "(?is)^TRUNCATE\\s+(?:TABLE\\s+)?(.*)$".r
      .findFirstMatchIn(sql0.trim.stripSuffix(";").trim)
      .getOrElse(throw PgException("42601", "syntax error in TRUNCATE"))
    var tail = m.group(1).trim
    var restart = false
    val ri = "(?is)\\b(RESTART|CONTINUE)\\s+IDENTITY\\b".r
    ri.findFirstMatchIn(tail).foreach(mm =>
      restart = mm.group(1).equalsIgnoreCase("RESTART"))
    tail = ri.replaceAllIn(tail, "")
    val cascadeReq = "(?is)\\bCASCADE\\b".r.findFirstIn(tail).isDefined
    tail = "(?is)\\b(CASCADE|RESTRICT)\\b".r.replaceAllIn(tail, "")
    val tables = splitTopLevelText(tail, ',').map(_.trim).filter(_.nonEmpty)
      .map(t => unq("(?is)^ONLY\\s+".r.replaceFirstIn(t, "")).split("\\.").last)
    if (tables.isEmpty) throw PgException("42601", "syntax error in TRUNCATE")
    // pg validates every relation BEFORE truncating anything
    val schemas = tables.map { t =>
      try (t, spark.table(t).schema)
      catch { case scala.util.control.NonFatal(_) =>
        throw PgException("42P01", s"""relation "$t" does not exist""") }
    }
    // pg refuses to truncate a referenced parent unless every
    // referencing table truncates in the same statement; CASCADE
    // (r16) instead pulls the referencing tables in TRANSITIVELY,
    // exactly pg's behavior
    val allTables = scala.collection.mutable.LinkedHashMap(
      tables.map(t => t.toLowerCase -> t): _*)
    if (cascadeReq) {
      var frontier = tables
      while (frontier.nonEmpty) {
        val next = frontier
          .flatMap(t => referencingFks(spark, t).map(_._1))
          .filterNot(c => allTables.contains(c.toLowerCase))
          .distinct
        next.foreach(c => allTables.put(c.toLowerCase, c))
        frontier = next
      }
    } else schemas.foreach { case (t, _) =>
      referencingFks(spark, t).foreach { case (childT, _, _, _) =>
        if (!allTables.contains(childT.toLowerCase))
          throw PgException("0A000",
            s"""cannot truncate a table referenced in a foreign key constraint
DETAIL:  Table "$childT" references "$t".
HINT:  Truncate table "$childT" at the same time, or use TRUNCATE ... CASCADE.""")
      }
    }
    val allSchemas = allTables.values.toSeq.map { t =>
      try (t, spark.table(t).schema)
      catch { case scala.util.control.NonFatal(_) =>
        throw PgException("42P01", s"""relation "$t" does not exist""") }
    }
    // inside a transaction block: TRUNCATE is journaled (pg rolls a
    // truncate back like any DML)
    allSchemas.foreach { case (t, _) => TxnCtx.journalWrite(spark, t) }
    allSchemas.foreach { case (t, schema) =>
      runSql(spark, s"TRUNCATE TABLE ${qid(t)}").collect()
      if (restart) schema.fields.filter(_.metadata.contains("pg.serial"))
        .foreach(f => PgSequences.restart(f.metadata.getString("pg.serial"), None))
    }
    Complete("TRUNCATE TABLE")
  }

  // ---- CREATE / DROP INDEX ----------------------------------------------
  //
  // Spark plans over parquet statistics, not secondary indexes, so a
  // plain index is catalog state only (name reservation + pg_indexes
  // row + dependency cascade). A UNIQUE index registers a real unique
  // constraint — pg itself implements unique constraints as unique
  // indexes, and the 23505 texts are identical either way (live-
  // pinned). All error shapes from sweep-37c: 42P07 `relation …
  // already exists`, 42704 `index … does not exist`, 2BP01 for a
  // constraint-backed index, 42703 for an unknown key column.

  // ---- CREATE / DROP VIEW ------------------------------------------------
  //
  // Spark refuses a PERMANENT view over a temp-view-registered data
  // file, so pg CREATE VIEW lowers to a session-catalog TEMP view — the
  // single shared SparkSession makes it visible to every connection,
  // exactly pg's database-scoped behavior. The view body is stored as
  // its Compat-rewritten Spark SQL text (Spark keeps temp-view text
  // unresolved and re-analyzes per use, so the view tracks later DML on
  // the underlying tables like pg's OID-based resolution); the pg-facing
  // definition text goes to [[PgViews]] for pg_views / relkind 'v'.
  private val createViewRe =
    ("(?is)^\\s*CREATE\\s+(OR\\s+REPLACE\\s+)?(?:TEMP(?:ORARY)?\\s+)?VIEW\\s+" +
      "(\"[^\"]+\"|[\\w$.]+)\\s*(\\([^)]*\\))?\\s+AS\\s+(.*)$").r

  private def viewRelName(raw: String): String =
    if (raw.startsWith("\"")) unq(raw) else raw.split("\\.").last.toLowerCase

  private def handleCreateView(spark: SparkSession, sql0: String): PgResult = {
    val sql = sql0.trim.stripSuffix(";").trim
    val m = createViewRe.findFirstMatchIn(sql)
      .getOrElse(throw PgException("42601", "syntax error in CREATE VIEW"))
    val replace = m.group(1) != null
    val name = viewRelName(m.group(2))
    val isWireView = PgViews.lookup(name).isDefined
    val existsAsRel =
      try { spark.table(name); true }
      catch { case scala.util.control.NonFatal(_) => false }
    if (existsAsRel && !isWireView)
      throw PgException("42809", s""""$name" is not a view""")
    if (isWireView && !replace)
      throw PgException("42P07", s"""relation "$name" already exists""")
    val body = m.group(4).trim
    // run the body once through the full pg pipeline: validates it,
    // surfaces pg-shaped errors, and yields the output schema for the
    // optional rename column list
    val df = runSql(spark, body)
    val rewritten = Compat.rewrite(body,
      Compat.Ctx(graft.functions.PgEnums.names(spark), topLevel = true))
    val finalSql = Option(m.group(3)) match {
      case Some(colsRaw) =>
        val cols = splitTopLevelText(
          colsRaw.trim.stripPrefix("(").stripSuffix(")"), ',')
          .map(c => unq(c.trim)).filter(_.nonEmpty)
        val fields = df.schema.fieldNames
        if (cols.length != fields.length)
          throw PgException("42601",
            s"CREATE VIEW specifies ${cols.length} column names " +
              s"but query returns ${fields.length} columns")
        val proj = cols.zip(fields).map { case (c, f) =>
          "`" + f.replace("`", "``") + "` AS `" + c.replace("`", "``") + "`"
        }.mkString(", ")
        s"SELECT $proj FROM ( $rewritten )"
      case None => rewritten
    }
    // the body is analyzed here and again at every use, both with pg
    // semantics (operators dispatch on operand type in PgSemantics)
    PgSemantics.withPg(spark.sql(
      s"CREATE OR REPLACE TEMPORARY VIEW `${name.replace("`", "``")}` AS $finalSql"))
    PgViews.register(name, body, finalSql)
    PgCatalog.invalidate()
    Complete("CREATE VIEW")
  }

  /** `COMMENT ON <TABLE|VIEW|MATERIALIZED VIEW|COLUMN|INDEX|SEQUENCE|
    * FOREIGN TABLE> name IS <'text'|NULL>` — stored per (objoid,
    * objsubid) in [[PgComments]], live-read by obj_description /
    * col_description and surfaced as pg_description rows, which is
    * where psql `\d+` and DBeaver read them back. IS NULL removes
    * (live-pinned). Relation kinds all resolve through the rel: oid
    * space; other object classes (DATABASE, FUNCTION, …) raise 0A000
    * honestly rather than storing somewhere no reader would look.
    */
  private def handleComment(spark: SparkSession, toks: Vector[Compat.Tok]): PgResult = {
    if (toks.length < 3 || !toks(1).isWord("ON"))
      throw PgException("42601", "syntax error in COMMENT")
    val relKinds = Set("TABLE", "VIEW", "COLUMN", "INDEX", "SEQUENCE")
    var i = 2
    val kind = toks(i).text.toUpperCase match {
      case "MATERIALIZED" | "FOREIGN" => i += 2; "TABLE"
      case k if relKinds.contains(k) => i += 1; k
      case other =>
        throw PgException("0A000",
          s"COMMENT ON ${other.toLowerCase} is not supported")
    }
    // name: (Word|QIdent) (. (Word|QIdent))* up to IS
    val segs = scala.collection.mutable.ArrayBuffer.empty[String]
    var expectName = true
    while (i < toks.length && !toks(i).isWord("IS")) {
      val t = toks(i)
      if (expectName && (t.kind == Compat.Word || t.kind == Compat.QIdent)) {
        segs += (if (t.kind == Compat.QIdent) t.text.substring(1, t.text.length - 1)
          else t.text.toLowerCase)
        expectName = false
      } else if (!expectName && t.is(".")) expectName = true
      else throw PgException("42601", "syntax error in COMMENT")
      i += 1
    }
    if (segs.isEmpty || i >= toks.length || i + 1 >= toks.length)
      throw PgException("42601", "syntax error in COMMENT")
    val valueTok = toks(i + 1)
    val text: Option[String] =
      if (valueTok.isWord("NULL")) None
      else if (valueTok.kind == Compat.Str)
        Some(valueTok.text.substring(1, valueTok.text.length - 1).replace("''", "'"))
      else throw PgException("42601", "syntax error in COMMENT")
    val (table, subid) =
      if (kind == "COLUMN") {
        if (segs.length < 2)
          throw PgException("42601",
            "column name must be qualified in COMMENT ON COLUMN")
        val col = segs.last
        val tbl = segs(segs.length - 2)
        val schema =
          try spark.table(tbl).schema
          catch { case scala.util.control.NonFatal(_) =>
            throw PgException("42P01", s"""relation "$tbl" does not exist""") }
        val idx = schema.fields.indexWhere(_.name.equalsIgnoreCase(col))
        if (idx < 0)
          throw PgException("42703",
            s"""column "$col" of relation "$tbl" does not exist""")
        (tbl, idx + 1)
      } else {
        val tbl = segs.last
        val known = PgIndexes.lookup(tbl).isDefined ||
          PgSequences.exists(tbl) ||
          scala.util.Try(spark.table(tbl)).isSuccess
        if (!known)
          throw PgException("42P01", s"""relation "$tbl" does not exist""")
        (tbl, 0)
      }
    PgComments.set(Oids.of(s"rel:$table"), subid, text)
    PgCatalog.invalidate()
    Complete("COMMENT")
  }

  /** `CREATE MATERIALIZED VIEW [IF NOT EXISTS] name [(cols)] AS query
    * [WITH [NO] DATA]` — matviews are PHYSICAL in pg, so the backing
    * store is a managed parquet table (the same write a 100 TB
    * refresh performs); the pg-facing definition and the rewritten
    * body live in [[PgMatViews]] for pg_matviews / relkind 'm' /
    * REFRESH. Live-pinned tags: `SELECT n` when populated, bare
    * `CREATE MATERIALIZED VIEW` for WITH NO DATA. */
  private val createMatViewRe =
    ("(?is)^\\s*CREATE\\s+MATERIALIZED\\s+VIEW\\s+(IF\\s+NOT\\s+EXISTS\\s+)?" +
      "(\"[^\"]+\"|[\\w$.]+)\\s*(\\([^)]*\\))?\\s+AS\\s+(.*)$").r

  private def handleCreateMatView(spark: SparkSession, sql0: String): PgResult = {
    val sql = sql0.trim.stripSuffix(";").trim
    val m = createMatViewRe.findFirstMatchIn(sql).getOrElse(
      throw PgException("42601", "syntax error in CREATE MATERIALIZED VIEW"))
    val ifNotExists = m.group(1) != null
    val name = viewRelName(m.group(2))
    var body = m.group(4).trim
    var withData = true
    val dataTail = "(?is)^(.*?)\\s+WITH\\s+(NO\\s+)?DATA$".r
    dataTail.findFirstMatchIn(body).foreach { t =>
      body = t.group(1).trim
      withData = t.group(2) == null
    }
    if (spark.catalog.tableExists(name) || PgViews.lookup(name).isDefined ||
        scala.util.Try(spark.table(name)).isSuccess) {
      if (ifNotExists) return Complete("CREATE MATERIALIZED VIEW")
      throw PgException("42P07", s"""relation "$name" already exists""")
    }
    val df = runSql(spark, body)
    val rewritten = Compat.rewrite(body,
      Compat.Ctx(graft.functions.PgEnums.names(spark), topLevel = true))
    val projected = Option(m.group(3)) match {
      case Some(colsRaw) =>
        val cols = splitTopLevelText(
          colsRaw.trim.stripPrefix("(").stripSuffix(")"), ',')
          .map(c => unq(c.trim)).filter(_.nonEmpty)
        if (cols.length != df.schema.fields.length)
          throw PgException("42601",
            s"CREATE MATERIALIZED VIEW specifies ${cols.length} column names " +
              s"but query returns ${df.schema.fields.length} columns")
        df.toDF(cols: _*)
      case None => df
    }
    spark.catalog.createTable(name, "parquet", projected.schema,
      Map.empty[String, String])
    val n = if (withData) {
      val (counting, n) = TableStage.counted(projected, org.apache.spark.sql.functions.lit(1))
      TableStage.rewrite(spark, Seq(name -> counting))
      n()
    } else 0L
    PgMatViews.register(name,
      PgMatViews.MatView(body, rewritten, populated = withData))
    PgCatalog.invalidate()
    Complete(if (withData) s"SELECT $n" else "CREATE MATERIALIZED VIEW")
  }

  private def handleRefreshMatView(spark: SparkSession, sql0: String): PgResult = {
    val sql = sql0.trim.stripSuffix(";").trim
    val m = ("(?is)^REFRESH\\s+MATERIALIZED\\s+VIEW\\s+(?:CONCURRENTLY\\s+)?" +
      "(\"[^\"]+\"|[\\w$.]+)\\s*$").r.findFirstMatchIn(sql).getOrElse(
      throw PgException("42601", "syntax error in REFRESH MATERIALIZED VIEW"))
    val name = viewRelName(m.group(1))
    val mv = PgMatViews.lookup(name).getOrElse {
      if (scala.util.Try(spark.table(name)).isSuccess)
        throw PgException("42809", s""""$name" is not a materialized view""")
      throw PgException("42P01", s"""relation "$name" does not exist""")
    }
    // a body reading an unpopulated matview raises 55000, as the
    // direct read would (the execute() guard only sees the REFRESH
    // statement's own tokens, not the stored body)
    val unpop = PgMatViews.unpopulated - name
    if (unpop.nonEmpty)
      referencedTables(Compat.tokenize(mv.definition).filter(_.kind != Compat.Ws))
        .find(n => unpop.contains(n) || unpop.contains(n.toLowerCase))
        .foreach { n =>
          throw PgException("55000",
            s"""materialized view "$n" has not been populated""")
        }
    // refresh through the SAME dialect path CREATE used (runSql:
    // PgSemantics, populate_record expansion, catalog refresh) — the
    // stored Spark-side rewrite can go stale vs pg semantics state
    // (e.g. enum names minted after CREATE)
    overwriteTable(spark, name, runSql(spark, mv.definition))
    PgMatViews.setPopulated(name)
    PgCatalog.invalidate()
    Complete("REFRESH MATERIALIZED VIEW")
  }

  private def handleDropMatView(spark: SparkSession, sql0: String): PgResult = {
    val sql = sql0.trim.stripSuffix(";").trim
    val m = ("(?is)^DROP\\s+MATERIALIZED\\s+VIEW\\s+(IF\\s+EXISTS\\s+)?(.+?)" +
      "\\s*(?:CASCADE|RESTRICT)?$").r.findFirstMatchIn(sql).getOrElse(
      throw PgException("42601", "syntax error in DROP MATERIALIZED VIEW"))
    val ifExists = m.group(1) != null
    val names = splitTopLevelText(m.group(2), ',')
      .map(_.trim).filter(_.nonEmpty).map(viewRelName)
    names.foreach { n =>
      if (PgMatViews.lookup(n).isDefined) {
        spark.sql(s"DROP TABLE IF EXISTS `${n.replace("`", "``")}`")
        PgMatViews.drop(n)
      } else {
        val isRel = scala.util.Try(spark.table(n)).isSuccess
        if (isRel)
          throw PgException("42809", s""""$n" is not a materialized view""")
        if (!ifExists)
          throw PgException("42P01",
            s"""materialized view "$n" does not exist""")
      }
    }
    PgCatalog.invalidate()
    Complete("DROP MATERIALIZED VIEW")
  }

  private def handleDropView(spark: SparkSession, sql0: String): PgResult = {
    val sql = sql0.trim.stripSuffix(";").trim
    val m = ("(?is)^DROP\\s+VIEW\\s+(IF\\s+EXISTS\\s+)?(.+?)" +
      "\\s*(?:CASCADE|RESTRICT)?$").r.findFirstMatchIn(sql)
      .getOrElse(throw PgException("42601", "syntax error in DROP VIEW"))
    val ifExists = m.group(1) != null
    val names = splitTopLevelText(m.group(2), ',')
      .map(_.trim).filter(_.nonEmpty).map(viewRelName)
    names.foreach { n =>
      if (PgViews.lookup(n).isDefined) {
        spark.catalog.dropTempView(n)
        PgViews.drop(n)
      } else {
        val isRel =
          try { spark.table(n); true }
          catch { case scala.util.control.NonFatal(_) => false }
        if (isRel) throw PgException("42809", s""""$n" is not a view""")
        if (!ifExists)
          throw PgException("42P01", s"""view "$n" does not exist""")
      }
    }
    PgCatalog.invalidate()
    Complete("DROP VIEW")
  }

  private def handleCreateIndex(spark: SparkSession, sql0: String): PgResult = {
    val sql = sql0.trim.stripSuffix(";").trim
    val hm = ("(?is)^CREATE\\s+(UNIQUE\\s+)?INDEX\\s+(?:CONCURRENTLY\\s+)?" +
      "(IF\\s+NOT\\s+EXISTS\\s+)?(?:(\"[^\"]+\"|[\\w$]+)\\s+)?ON\\s+" +
      "(?:ONLY\\s+)?(\"[^\"]+\"|[\\w$.]+)\\s*(.*)$").r.findFirstMatchIn(sql)
      .getOrElse(throw PgException("42601", "syntax error in CREATE INDEX"))
    val unique = hm.group(1) != null
    val ifNot = hm.group(2) != null
    val nameOpt = Option(hm.group(3)).map(n => unq(n).toLowerCase)
    val table = unq(hm.group(4)).split("\\.").last
    var tail = hm.group(5).trim
    val method = "(?is)^USING\\s+([\\w$]+)\\s*(.*)$".r.findFirstMatchIn(tail) match {
      case Some(mm) => tail = mm.group(2).trim; mm.group(1).toLowerCase
      case None => "btree"
    }
    if (!tail.startsWith("("))
      throw PgException("42601", "syntax error in CREATE INDEX")
    val close = matchingParenStr(tail, 0)
    if (close < 0) throw PgException("42601", "syntax error in CREATE INDEX")
    val colsText = tail.substring(1, close).trim
    val schema =
      try spark.table(table).schema
      catch { case scala.util.control.NonFatal(_) =>
        throw PgException("42P01", s"""relation "$table" does not exist""") }
    val tNorm = PgSequences.normName(table)
    val entries = splitTopLevelText(colsText, ',').map(_.trim).filter(_.nonEmpty)
    // a plain key entry is one column name, optionally followed by
    // opclass/ordering words; a leading `fn(` marks an expression
    val colNames: Seq[Option[String]] = entries.map { e =>
      "(?is)^(\"[^\"]+\"|[\\w$]+)(\\s+.*)?$".r.findFirstMatchIn(e)
        .map(g => unq(g.group(1)))
    }
    colNames.flatten.foreach { c =>
      if (!schema.fields.exists(_.name.equalsIgnoreCase(c)))
        throw PgException("42703", s"""column "$c" does not exist""")
    }
    val name = nameOpt.getOrElse {
      val parts = entries.zip(colNames).map {
        case (_, Some(c)) => c.toLowerCase
        case (e, None) => // pg names expression keys after the function
          topWords(e, 0).headOption.map(_._1).getOrElse("expr")
      }
      s"${tNorm}_${parts.mkString("_")}_idx"
    }
    val taken = PgIndexes.lookup(name).isDefined ||
      spark.catalog.tableExists(name) ||
      PgConstraints.uniquesOf(table, schema).exists(_.name == name)
    if (taken) {
      if (ifNot) return Complete("CREATE INDEX") // pg: NOTICE, skipped
      throw PgException("42P07", s"""relation "$name" already exists""")
    }
    if (unique) {
      if (colNames.exists(_.isEmpty))
        throw PgException("0A000",
          "unique expression indexes are not supported")
      val cols = colNames.flatten.map(c =>
        schema.fields.find(_.name.equalsIgnoreCase(c)).get.name)
      val zone = java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)
      val df = runSql(spark, s"SELECT * FROM ${qid(table)}")
      val keyed = cols.foldLeft(df)((d, c) =>
        d.where(s"`${c.replace("`", "``")}` IS NOT NULL"))
      val dup = keyed.groupBy(cols.map(org.apache.spark.sql.functions.col): _*)
        .count().where("count > 1").limit(1).collect()
      if (dup.nonEmpty) {
        val fs = cols.map(c => schema.fields.find(_.name.equalsIgnoreCase(c)).get)
        val vals = fs.indices.map(i =>
          TextEncoder.encodeField(dup(0).get(i), fs(i), zone).getOrElse("null"))
        throw PgException("23505",
          s"""could not create unique index "$name"
DETAIL:  Key (${cols.mkString(", ")})=(${vals.mkString(", ")}) is duplicated.""")
      }
      val uq = PgConstraints.uniquesOf(table, schema) :+
        PgConstraints.Unique(name, cols, isPrimary = false)
      replaceTable(spark, table, schema.fields.toSeq, uq,
        runSql(spark, s"SELECT * FROM ${qid(table)}"))
    }
    PgIndexes.register(PgIndexes.Idx(name, table, colsText, unique, method))
    PgCatalog.invalidate()
    Complete("CREATE INDEX")
  }

  private def handleDropIndex(spark: SparkSession, sql0: String): PgResult = {
    val m = ("(?is)^DROP\\s+INDEX\\s+(?:CONCURRENTLY\\s+)?(IF\\s+EXISTS\\s+)?" +
      "(.+?)(?:\\s+(?:CASCADE|RESTRICT))?$").r
      .findFirstMatchIn(sql0.trim.stripSuffix(";").trim)
      .getOrElse(throw PgException("42601", "syntax error in DROP INDEX"))
    val ifExists = m.group(1) != null
    val names = splitTopLevelText(m.group(2), ',')
      .map(t => unq(t.trim).split("\\.").last.toLowerCase).filter(_.nonEmpty)
    names.foreach { name =>
      PgIndexes.lookup(name) match {
        case Some(idx) =>
          if (idx.unique && spark.catalog.tableExists(idx.table)) {
            val schema = spark.table(idx.table).schema
            val uq = PgConstraints.uniquesOf(idx.table, schema)
              .filterNot(_.name == name)
            replaceTable(spark, idx.table, schema.fields.toSeq, uq,
              runSql(spark, s"SELECT * FROM ${qid(idx.table)}"))
          }
          PgIndexes.drop(name)
          PgCatalog.invalidate()
        case None =>
          // a same-named CONSTRAINT owns its index — pg refuses
          val backing = PgCatalog.userTables(spark).find { t =>
            try PgConstraints.uniquesOf(t, spark.table(t).schema)
              .exists(_.name == name)
            catch { case scala.util.control.NonFatal(_) => false }
          }
          backing match {
            case Some(t) => throw PgException("2BP01",
              s"""cannot drop index $name because constraint $name on table $t requires it
HINT:  You can drop constraint $name on table $t instead.""")
            case None if !ifExists =>
              throw PgException("42704", s"""index "$name" does not exist""")
            case None => // IF EXISTS: NOTICE, skipped
          }
      }
    }
    Complete("DROP INDEX")
  }

  private def handleAlterTable(spark: SparkSession, session: Session,
      sql0: String): Option[PgResult] = {
    val sql = sql0.trim.stripSuffix(";").trim
    val m = ("(?is)^ALTER\\s+TABLE\\s+(IF\\s+EXISTS\\s+)?(?:ONLY\\s+)?" +
      "(\"[^\"]+\"|[\\w$.]+)\\s+(.*)$").r.findFirstMatchIn(sql)
      .getOrElse(return None)
    val ifExists = m.group(1) != null
    val table = unq(m.group(2)).split("\\.").last
    val rest = m.group(3).trim
    // RENAME forms are single-action statements in pg's grammar
    val renameTo = ("(?is)^RENAME\\s+TO\\s+(\"[^\"]+\"|[\\w$]+)$").r
      .findFirstMatchIn(rest)
    val renameCol = ("(?is)^RENAME\\s+(?:COLUMN\\s+)?(\"[^\"]+\"|[\\w$]+)" +
      "\\s+TO\\s+(\"[^\"]+\"|[\\w$]+)$").r.findFirstMatchIn(rest)
    val actions0 = splitTopLevelText(rest, ',').map(_.trim).filter(_.nonEmpty)
    if (renameTo.isEmpty && renameCol.isEmpty &&
      !actions0.forall(isPgAlterAction)) return None // Spark dialect
    if (!spark.catalog.tableExists(table)) {
      if (ifExists) return Some(Complete("ALTER TABLE")) // pg: NOTICE, skipped
      throw PgException("42P01", s"""relation "$table" does not exist""")
    }
    val schema = spark.table(table).schema
    val tNorm = PgSequences.normName(table)
    val zone = java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)
    val connId = session.connId

    if (renameTo.isDefined) {
      val newName = unq(renameTo.get.group(1))
      if (spark.catalog.tableExists(newName))
        throw PgException("42P07", s"""relation "$newName" already exists""")
      val uq = PgConstraints.uniquesOf(table, schema)
      val cks = PgConstraints.checksOf(table, schema)
      val fkz = PgConstraints.fksOf(table, schema)
      runSql(spark, s"ALTER TABLE ${qid(table)} RENAME TO ${qid(newName)}").collect()
      PgConstraints.drop(table)
      PgConstraints.register(newName, uq) // constraint NAMES keep the old prefix, like pg
      PgConstraints.registerChecks(newName, cks)
      PgConstraints.registerFks(newName, fkz)
      PgIndexes.renameTable(table, newName)
      PgSequences.dropTableSerials(tNorm)
      PgSequences.registerTableSerials(PgSequences.normName(newName),
        schema.fields.toSeq.map(f => f.name ->
          (if (f.metadata.contains("pg.serial"))
            Some(f.metadata.getString("pg.serial")) else None)))
      PgCatalog.invalidate()
      return Some(Complete("ALTER TABLE"))
    }

    val fields = scala.collection.mutable.ArrayBuffer(schema.fields: _*)
    val exprs = scala.collection.mutable.ArrayBuffer(
      schema.fields.map(f => qid(f.name)): _*)
    val uniques = scala.collection.mutable.ArrayBuffer(
      PgConstraints.uniquesOf(table, schema): _*)
    val checks = scala.collection.mutable.ArrayBuffer(
      PgConstraints.checksOf(table, schema): _*)
    val fks = scala.collection.mutable.ArrayBuffer(
      PgConstraints.fksOf(table, schema): _*)
    // fill expressions that must evaluate once, at write time only —
    // validation frames see typed NULL in their place
    val nondetCols = scala.collection.mutable.Set.empty[String]
    def idxOf(c0: String): Int = {
      val c = unq(c0)
      fields.indexWhere(_.name.equalsIgnoreCase(c))
    }
    // Spark-parser contexts (DataFrame.where) need backticks — pg
    // double quotes read as STRING literals there
    def bqid(name: String): String = "`" + name.replace("`", "``") + "`"
    def fieldAt(c0: String): Int = {
      val i = idxOf(c0)
      if (i < 0) throw PgException("42703",
        s"""column "${unq(c0)}" of relation "$table" does not exist""")
      i
    }
    def withMeta(i: Int)(f: MetadataBuilder => Unit): Unit = {
      val fl = fields(i)
      val mb = new MetadataBuilder().withMetadata(fl.metadata)
      f(mb)
      fields(i) = StructField(fl.name, fl.dataType, fl.nullable, mb.build())
    }
    /** The end-state frame for validations (nondet fills → NULL). */
    def validationDf(): org.apache.spark.sql.DataFrame = {
      val sel = fields.indices.map { i =>
        val e = if (nondetCols.contains(fields(i).name.toLowerCase))
          s"CAST(NULL AS ${fields(i).dataType.sql})"
        else exprs(i)
        s"$e AS ${qid(fields(i).name)}"
      }.mkString(", ")
      runSql(spark, s"SELECT $sel FROM ${qid(table)}")
    }
    val validations =
      scala.collection.mutable.ArrayBuffer.empty[() => Unit]
    // sequences created while parsing; rolled back if anything fails
    val createdSeqs = scala.collection.mutable.ArrayBuffer.empty[String]
    def endSchema() = StructType(fields.toArray)
    def addUniqueChecked(name: String, cols: Seq[String], isPk: Boolean,
        defer: (Boolean, Boolean) = (false, false)): Unit = {
      // pg reports the multiple-pkey error BEFORE the name collision
      if (isPk && uniques.exists(_.isPrimary))
        throw PgException("42P16",
          s"""multiple primary keys for table "$table" are not allowed""")
      if (uniques.exists(_.name == name))
        throw PgException("42P07",
          s"""constraint "$name" for relation "$table" already exists""")
      val fcols = cols.map(c => fields(fieldAt(c)).name)
      uniques += PgConstraints.Unique(name, fcols, isPk,
        deferrable = defer._1, initiallyDeferred = defer._2)
      if (isPk) fcols.foreach { c =>
        val i = fieldAt(c)
        withMeta(i)(_.putBoolean("pg.notnull", value = true))
        validations += { () =>
          if (!nondetCols.contains(c.toLowerCase) &&
            !validationDf().where(s"${bqid(c)} IS NULL").isEmpty)
            throw PgException("23502",
              s"""column "$c" of relation "$table" contains null values""")
        }
      }
      validations += { () =>
        // ALTER's duplicate-key shape differs from INSERT's (pinned)
        if (!fcols.forall(c => nondetCols.contains(c.toLowerCase))) {
          val df = validationDf()
          val keyed = fcols.foldLeft(df)((d, c) => d.where(s"${bqid(c)} IS NOT NULL"))
          val dup = keyed.groupBy(fcols.map(org.apache.spark.sql.functions.col): _*)
            .count().where("count > 1").limit(1).collect()
          if (dup.nonEmpty) {
            val fs = fcols.map(c => fields(fieldAt(c)))
            val vals = fs.indices.map(i =>
              TextEncoder.encodeField(dup(0).get(i), fs(i), zone).getOrElse("null"))
            throw PgException("23505",
              s"""could not create unique index "$name"
DETAIL:  Key (${fcols.mkString(", ")})=(${vals.mkString(", ")}) is duplicated.""")
          }
        }
      }
    }

    (if (renameCol.isDefined) Nil else actions0).foreach { a =>
      val heads = topWords(a, 0).take(4).map(_._1)
      val h = heads.headOption.getOrElse("")
      h match {
        case "add" if heads.lift(1).exists(w => w == "constraint" ||
            w == "primary" || w == "unique" || w == "foreign" ||
            w == "check" || w == "exclude") =>
          val am = ("(?is)^ADD\\s+(?:CONSTRAINT\\s+(\"[^\"]+\"|[\\w$]+)\\s+)?" +
            "(PRIMARY\\s+KEY|UNIQUE|FOREIGN\\s+KEY|CHECK|EXCLUDE)\\s*(.*)$").r
            .findFirstMatchIn(a).getOrElse(
              throw PgException("42601", "syntax error in ALTER TABLE ADD CONSTRAINT"))
          val consName = Option(am.group(1)).map(n => unq(n).toLowerCase)
          val kind = am.group(2).toLowerCase.replaceAll("\\s+", " ")
          val tail = am.group(3).trim
          if (kind == "primary key" || kind == "unique") {
            if (!tail.startsWith("("))
              throw PgException("42601", "syntax error in ALTER TABLE ADD CONSTRAINT")
            val close = matchingParenStr(tail, 0)
            if (close < 0)
              throw PgException("42601", "syntax error in ALTER TABLE ADD CONSTRAINT")
            val cols = splitTopLevelText(tail.substring(1, close), ',')
              .map(c => unq(c.trim)).filter(_.nonEmpty)
            val isPk = kind == "primary key"
            val name = consName.getOrElse(
              if (isPk) s"${tNorm}_pkey"
              else s"${tNorm}_${cols.map(_.toLowerCase).mkString("_")}_key")
            addUniqueChecked(name, cols, isPk,
              PgConstraints.deferFlags(tail.substring(close + 1)))
          } else if (kind == "check") {
            if (!tail.startsWith("("))
              throw PgException("42601",
                "syntax error in ALTER TABLE ADD CONSTRAINT")
            val close = matchingParenStr(tail, 0)
            if (close < 0)
              throw PgException("42601",
                "syntax error in ALTER TABLE ADD CONSTRAINT")
            val expr = tail.substring(1, close).trim
            val taken = (uniques.map(_.name) ++ checks.map(_.name) ++
              fks.map(_.name)).toSet
            val name = resolveCheckName(tNorm, consName, expr, None,
              fields.toSeq.map(_.name), taken)
            // pg validates existing rows BEFORE accepting (live-pinned:
            // `check constraint "X" of relation "t" is violated by
            // some row`, no DETAIL)
            validations += { () =>
              val v = s"__ckv_${java.util.UUID.randomUUID().toString.replace("-", "")}"
              validationDf().createOrReplaceTempView(v)
              try {
                val bad = runSql(spark,
                  s"SELECT 1 FROM `$v` WHERE NOT coalesce(($expr), true)")
                  .limit(1).collect()
                if (bad.nonEmpty)
                  throw PgException("23514",
                    s"""check constraint "$name" of relation "$table" is violated by some row""")
              } finally {
                try spark.catalog.dropTempView(v)
                catch { case scala.util.control.NonFatal(_) => }
              }
            }
            checks += PgConstraints.Check(name, expr)
          } else if (kind == "foreign key") {
            ("(?is)^\\(([^)]*)\\)\\s+REFERENCES\\s+" +
              "(\"[^\"]+\"|[\\w$.]+)\\s*(?:\\(([^)]*)\\))?").r
              .findFirstMatchIn(tail).foreach { fm =>
                val cols = fm.group(1).split(",").toSeq.map(c => unq(c.trim))
                  .filter(_.nonEmpty)
                val taken = (uniques.map(_.name) ++ checks.map(_.name) ++
                  fks.map(_.name)).toSet
                val fk = mkFk(spark, tNorm, consName, cols, unq(fm.group(2)),
                  Option(fm.group(3)).map(_.trim), taken,
                  PgConstraints.fkActions(tail.substring(fm.end)),
                  defer = PgConstraints.deferFlags(tail.substring(fm.end)))
                // pg validates existing rows BEFORE accepting (23503
                // with the insert-or-update message shape)
                PgConstraints.parseFk(fk).foreach { fd =>
                  validations += { () =>
                    val zone = java.time.ZoneId.of(
                      spark.sessionState.conf.sessionLocalTimeZone)
                    probeFkChild(spark, validationDf(),
                      spark.table(table).schema, table, fk, fd, zone, None)
                  }
                }
                fks += fk
              }
          } // EXCLUDE: accepted-and-ignored, the CREATE TABLE rule
        case "add" =>
          val am = ("(?is)^ADD\\s+(?:COLUMN\\s+)?(IF\\s+NOT\\s+EXISTS\\s+)?(.*)$").r
            .findFirstMatchIn(a).get
          val ifNot = am.group(1) != null
          val d = am.group(2).trim
          parseColDef(spark, tNorm, d) match {
            case Some((f, cons)) =>
              if (idxOf(f.name) >= 0) {
                if (!ifNot) throw PgException("42701",
                  s"""column "${f.name}" of relation "$table" already exists""")
              } else {
                val serial = f.metadata.contains("pg.serial")
                if (serial) {
                  val seq = f.metadata.getString("pg.serial")
                  val typid = f.dataType match {
                    case ShortType => 21
                    case LongType => 20
                    case _ => 23
                  }
                  PgSequences.drop(seq, ifExists = true)
                  PgSequences.create(seq, PgSequences.defaultsFor(
                    1L, None, None, None, cycle = false, typid),
                    ifNotExists = false)
                  createdSeqs += seq
                }
                val fill =
                  if (serial) {
                    // pg numbers existing rows 1..n in heap order; a
                    // per-row nextval would race across tasks, so the
                    // fill is a deterministic row_number in file-name +
                    // offset order (= insertion order for sequential
                    // histories; Spark's scan otherwise packs splits
                    // by SIZE) and the sequence advances to n after
                    // the write
                    s"CAST(row_number() OVER (ORDER BY input_file_name(), " +
                      s"monotonically_increasing_id()) AS ${f.dataType.sql})"
                  } else dmlValueExpr(f, "DEFAULT", connId)
                if ("(?i)nextval|setval|random|uuid".r.findFirstIn(fill).isDefined)
                  nondetCols += f.name.toLowerCase
                fields += f
                exprs += fill
                if (cons.pk)
                  addUniqueChecked(s"${tNorm}_pkey", Seq(f.name), isPk = true,
                    cons.uniqDefer)
                else if (cons.unique)
                  addUniqueChecked(cons.uniqueName.getOrElse(
                    s"${tNorm}_${f.name.toLowerCase}_key"), Seq(f.name),
                    isPk = false, cons.uniqDefer)
                val notNull = f.metadata.contains("pg.notnull") &&
                  f.metadata.getBoolean("pg.notnull")
                if (notNull && !serial) validations += { () =>
                  if (!validationDf().where(s"${bqid(f.name)} IS NULL").isEmpty)
                    throw PgException("23502",
                      s"""column "${f.name}" of relation "$table" contains null values""")
                }
              }
            case None => throw PgException("42601",
              "syntax error in ALTER TABLE ADD COLUMN")
          }
        case "drop" if heads.lift(1).contains("constraint") =>
          val dm = ("(?is)^DROP\\s+CONSTRAINT\\s+(IF\\s+EXISTS\\s+)?" +
            "(\"[^\"]+\"|[\\w$]+)(?:\\s+(?:CASCADE|RESTRICT))?$").r
            .findFirstMatchIn(a).getOrElse(throw PgException("42601",
              "syntax error in ALTER TABLE DROP CONSTRAINT"))
          val name = unq(dm.group(2)).toLowerCase
          val i = uniques.indexWhere(_.name == name)
          val ci = checks.indexWhere(_.name == name)
          val fi = fks.indexWhere(_.name == name)
          // a unique INDEX is not a constraint — pg raises 42704 here
          // and points the user at DROP INDEX
          if (i >= 0 && !PgIndexes.lookup(name).exists(_.unique))
            uniques.remove(i)
          else if (ci >= 0) checks.remove(ci)
          else if (fi >= 0) fks.remove(fi)
          else if (dm.group(1) == null) throw PgException("42704",
            s"""constraint "$name" of relation "$table" does not exist""")
          // pk members KEEP NOT NULL after the pkey drops, like pg
        case "drop" =>
          val dm = ("(?is)^DROP\\s+(?:COLUMN\\s+)?(IF\\s+EXISTS\\s+)?" +
            "(\"[^\"]+\"|[\\w$]+)(?:\\s+(?:CASCADE|RESTRICT))?$").r
            .findFirstMatchIn(a).getOrElse(throw PgException("42601",
              "syntax error in ALTER TABLE DROP COLUMN"))
          val i = idxOf(dm.group(2))
          if (i < 0) {
            if (dm.group(1) == null) throw PgException("42703",
              s"""column "${unq(dm.group(2))}" of relation "$table" does not exist""")
          } else {
            val f = fields(i)
            if (fields.length == 1) throw PgException("0A000",
              s"""cannot drop the only column of table "$table"""")
            // constraints on the column drop with it (live-pinned);
            // an owned serial sequence drops too
            val drop = uniques.filter(_.cols.exists(_.equalsIgnoreCase(f.name)))
            drop.foreach(u => uniques -= u)
            val colWord = ("(?i)\\b" +
              java.util.regex.Pattern.quote(f.name) + "\\b").r
            checks.filter(c => colWord.findFirstIn(c.expr).isDefined)
              .foreach(c => checks -= c)
            fks.filter(k => colWord.findFirstIn(k.condef).isDefined)
              .foreach(k => fks -= k)
            if (f.metadata.contains("pg.serial"))
              PgSequences.drop(f.metadata.getString("pg.serial"), ifExists = true)
            PgIndexes.dropColumn(table, f.name)
            nondetCols -= f.name.toLowerCase
            fields.remove(i); exprs.remove(i)
          }
        case "alter" =>
          val cm = ("(?is)^ALTER\\s+(?:COLUMN\\s+)?(\"[^\"]+\"|[\\w$]+)\\s+(.*)$").r
            .findFirstMatchIn(a).getOrElse(throw PgException("42601",
              "syntax error in ALTER TABLE ALTER COLUMN"))
          val i = fieldAt(cm.group(1))
          val f = fields(i)
          val op = cm.group(2).trim
          val tm = ("(?is)^(?:SET\\s+DATA\\s+)?TYPE\\s+(.+?)" +
            "(?:\\s+USING\\s+(.+))?$").r.findFirstMatchIn(op)
          if (tm.isDefined) {
            val tySpelling = tm.get.group(1).trim
            val usingOpt = Option(tm.get.group(2)).map(_.trim)
            val newF0 = pgColumnField(spark, f.name, tySpelling).getOrElse(
              throw PgException("42704",
                s"""type "${tySpelling.toLowerCase}" does not exist"""))
            if (usingOpt.isEmpty && !autoCastable(f, newF0))
              throw PgException("42804",
                s"""column "${f.name}" cannot be cast automatically to type ${pgTypeDisplay(tySpelling)}
HINT:  You might need to specify "USING ${f.name}::${pgTypeDisplay(tySpelling)}".""")
            // the stored DEFAULT is the ORIGINAL expression re-coerced
            // to each new type (live-pinned: numeric 1.5 → text → int
            // yields default 2); prove it coerces, keep it verbatim
            if (f.metadata.contains("pg.default")) {
              val dflt = f.metadata.getString("pg.default")
              val ok = try {
                runSql(spark,
                  s"SELECT (${bindSeqCalls(dflt, connId)})::$tySpelling").collect()
                true
              } catch { case scala.util.control.NonFatal(_) => false }
              if (!ok) throw PgException("42804",
                s"""default for column "${f.name}" cannot be cast automatically to type ${pgTypeDisplay(tySpelling)}""")
            }
            // carry constraint/serial markers onto the re-typed field
            val mb = new MetadataBuilder().withMetadata(newF0.metadata)
            if (f.metadata.contains("pg.notnull"))
              mb.putBoolean("pg.notnull", f.metadata.getBoolean("pg.notnull"))
            if (f.metadata.contains("pg.serial"))
              mb.putString("pg.serial", f.metadata.getString("pg.serial"))
            if (f.metadata.contains("pg.default"))
              mb.putString("pg.default", f.metadata.getString("pg.default"))
            fields(i) = StructField(f.name, newF0.dataType, f.nullable, mb.build())
            val src = usingOpt.getOrElse(exprs(i) match {
              case e if e == qid(f.name) => qid(f.name)
              case e => s"($e)"
            })
            exprs(i) = s"($src)::$tySpelling"
          } else {
            val ops = topWords(op, 0).map(_._1)
            (ops.headOption.getOrElse(""), ops.lift(1).getOrElse("")) match {
              case ("set", "default") =>
                val expr = "(?is)^SET\\s+DEFAULT\\s+(.*)$".r
                  .findFirstMatchIn(op).get.group(1).trim
                withMeta(i) { mb =>
                  mb.putString("pg.default", expr)
                  mb.remove("pg.serial") // an explicit default replaces it
                }
              case ("drop", "default") =>
                withMeta(i) { mb => mb.remove("pg.default"); mb.remove("pg.serial") }
              case ("set", "not") =>
                withMeta(i)(_.putBoolean("pg.notnull", value = true))
                val cn = f.name
                validations += { () =>
                  if (!nondetCols.contains(cn.toLowerCase) &&
                    !validationDf().where(s"${bqid(cn)} IS NULL").isEmpty)
                    throw PgException("23502",
                      s"""column "$cn" of relation "$table" contains null values""")
                }
              case ("drop", "not") =>
                if (uniques.exists(u => u.isPrimary &&
                  u.cols.exists(_.equalsIgnoreCase(f.name))))
                  throw PgException("42P16",
                    s"""column "${f.name}" is in a primary key""")
                withMeta(i)(_.putBoolean("pg.notnull", value = false))
              case ("set", "statistics") | ("set", "storage") |
                   ("set", "compression") | ("reset", _) => // storage hints: no-op
              case _ => throw PgException("0A000",
                s"ALTER TABLE ALTER COLUMN $op is not supported")
            }
          }
        case "owner" | "validate" | "disable" | "enable" => // accepted no-ops
        case "set" => throw PgException("0A000",
          "ALTER TABLE SET SCHEMA is not supported")
        case _ => throw PgException("0A000",
          s"ALTER TABLE action is not supported: $a")
      }
    }

    if (renameCol.isDefined) {
      val i = fieldAt(renameCol.get.group(1))
      val newName = unq(renameCol.get.group(2))
      if (fields.exists(f => f.name.equalsIgnoreCase(newName) &&
          !f.name.equalsIgnoreCase(fields(i).name)))
        throw PgException("42701",
          s"""column "$newName" of relation "$table" already exists""")
      val f = fields(i)
      uniques.indices.foreach { j =>
        val u = uniques(j)
        if (u.cols.exists(_.equalsIgnoreCase(f.name)))
          uniques(j) = u.copy(cols = u.cols.map(c =>
            if (c.equalsIgnoreCase(f.name)) newName else c))
      }
      // checks/fks rewrite their stored text, like pg's dependency
      // machinery rewrites the expression tree
      val colWordR = ("(?i)\\b" +
        java.util.regex.Pattern.quote(f.name) + "\\b").r
      val repl = scala.util.matching.Regex.quoteReplacement(newName)
      checks.indices.foreach { j =>
        checks(j) = checks(j).copy(
          expr = colWordR.replaceAllIn(checks(j).expr, repl))
      }
      fks.indices.foreach { j =>
        fks(j) = fks(j).copy(
          condef = colWordR.replaceAllIn(fks(j).condef, repl))
      }
      PgIndexes.renameColumn(table, f.name, newName)
      fields(i) = StructField(newName, f.dataType, f.nullable, f.metadata)
      // exprs(i) still reads the OLD column; replaceTable aliases it
    }

    try validations.foreach(_())
    catch {
      case e: Throwable =>
        createdSeqs.foreach(PgSequences.drop(_, ifExists = true))
        throw e
    }
    val sel = fields.indices.map(i => s"${exprs(i)} AS ${qid(fields(i).name)}")
      .mkString(", ")
    val written = replaceTable(spark, table, fields.toSeq, uniques.toSeq,
      runSql(spark, s"SELECT $sel FROM ${qid(table)}"),
      checks = checks.toSeq, fks = fks.toSeq)
    // an ADDed serial column numbered existing rows 1..n — advance
    // its sequence past them (pg: the next INSERT draws n+1)
    if (written > 0) createdSeqs.filter(PgSequences.exists).foreach(seq =>
      PgSequences.setval(seq, written, isCalled = true, connId))
    if (createdSeqs.nonEmpty || fields.exists(_.metadata.contains("pg.serial"))) {
      PgCatalog.invalidate()
      PgCatalog.refresh(spark)
    }
    Some(Complete("ALTER TABLE"))
  }

  /** One pg column type spelling → a StructField with the storage
    * type + wire metadata, or None when the spelling is unknown to
    * both the pg map and Spark's own type parser. */
  private def pgColumnField(spark: SparkSession, name: String,
      typeStr0: String): Option[StructField] = {
    val t = typeStr0.trim.toLowerCase.replaceAll("\\s+", " ")
    // N-dim array suffixes: pg arrays are flat at the wire level
    if (t.endsWith("[]") || t.endsWith("[ ]")) {
      val elem = t.replaceAll("\\s*\\[\\s*\\]\\s*$", "")
      return pgColumnField(spark, name, elem).map(f =>
        StructField(name, ArrayType(f.dataType), nullable = true, f.metadata))
    }
    // split "base(p[,s])" — precision kept only where it matters
    val pm = "^([a-z0-9_ ]+?)\\s*\\((\\s*\\d+\\s*(?:,\\s*\\d+\\s*)?)\\)$".r
      .findFirstMatchIn(t)
    val base = pm.map(_.group(1).trim).getOrElse(t)
    val prec: Seq[Int] = pm.map(_.group(2).split(",").map(_.trim.toInt).toSeq).getOrElse(Nil)
    def plain(dt: DataType) = Some(StructField(name, dt))
    def aliased(dt: DataType, alias: String) = Some(StructField(name, dt,
      nullable = true, new MetadataBuilder().putString(PgType.OID_ALIAS_KEY, alias).build()))
    def typed(dt: DataType, pgType: String) = Some(StructField(name, dt,
      nullable = true, new MetadataBuilder().putString(PgType.PG_TYPE_KEY, pgType).build()))
    base match {
      case "int" | "int4" | "integer" | "serial" | "serial4" => plain(IntegerType)
      case "int2" | "smallint" | "smallserial" | "serial2" => plain(ShortType)
      case "int8" | "bigint" | "bigserial" | "serial8" | "oid" => plain(LongType)
      case "real" | "float4" => plain(FloatType)
      case "float8" | "double precision" | "double" => plain(DoubleType)
      case "float" =>
        plain(if (prec.headOption.exists(_ <= 24)) FloatType else DoubleType)
      case "numeric" | "decimal" => prec match {
        case Seq(p, s) => plain(DecimalType(p, s))
        case Seq(p) => plain(DecimalType(p, 0))
        case _ => plain(DecimalType(38, 18)) // the engine's wide default
      }
      case "text" | "varchar" | "character varying" | "char" | "character" |
           "bpchar" | "name" | "citext" | "string" => plain(StringType)
      case "boolean" | "bool" => plain(BooleanType)
      case "date" => plain(DateType)
      case "timestamp" | "timestamp without time zone" => plain(TimestampNTZType)
      case "timestamptz" | "timestamp with time zone" => plain(TimestampType)
      case "bytea" | "binary" => plain(BinaryType)
      case "time" | "time without time zone" => typed(LongType, "time")
      case "geometry" => typed(BinaryType, "geometry")
      case "json" => aliased(StringType, "json")
      case "jsonb" => aliased(StringType, "jsonb")
      case "uuid" => aliased(StringType, "uuid")
      case "xml" => aliased(StringType, "xml")
      case "money" => aliased(StringType, "money")
      case "inet" => aliased(StringType, "inet")
      case "cidr" => aliased(StringType, "cidr")
      case "macaddr" => aliased(StringType, "macaddr")
      case "macaddr8" => aliased(StringType, "macaddr8")
      case "tsvector" => aliased(StringType, "tsvector")
      case "tsquery" => aliased(StringType, "tsquery")
      case "bit" | "bit varying" | "varbit" =>
        aliased(StringType, if (base == "bit") "bit" else "varbit")
      case r if Compat.rangeTypeNames.contains(r) => aliased(StringType, r)
      case e if graft.functions.PgEnums.lookup(spark, e).isDefined =>
        // pg.enum carries the TYPE NAME for the metadata operator
        // dispatch (PgSemantics); pg.oid_num carries the wire OID
        val oid = graft.functions.PgEnums.lookup(spark, e).get.oid
        Some(StructField(name, StringType, nullable = true,
          new MetadataBuilder().putLong(PgType.OID_NUM_KEY, oid.toLong)
            .putString("pg.enum", e).build()))
      case "time with time zone" | "timetz" =>
        throw PgException("0A000", "timetz table columns are not supported")
      case "interval" =>
        throw PgException("0A000",
          "interval table columns are not supported (store text and cast)")
      case _ =>
        // Spark's own spellings (struct<...>, map<...>, array<...>, …)
        try Some(StructField(name,
          org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseDataType(typeStr0)))
        catch { case scala.util.control.NonFatal(_) => None }
    }
  }

  private def matchingParenStr(s: String, open: Int): Int = {
    var depth = 0
    var i = open
    var inStr = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) { if (c == '\'') inStr = false }
      else c match {
        case '\'' => inStr = true
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth == 0) return i
        case _ =>
      }
      i += 1
    }
    -1
  }

  /** A VALUES cell Spark's inline table takes as it stands: a literal
    * (string, number, optionally signed, NULL/TRUE/FALSE), a typed one
    * (`DATE '…'`, `TIMESTAMP '…'`, `X'…'`), or a bound parameter's
    * `CAST('…' AS FLOAT|DOUBLE|DECIMAL(p,s))`. */
  private def isLiteralCell(cell: String): Boolean = {
    import Compat.{Num, Str}
    def literal(t: Seq[Compat.Tok]): Boolean = t match {
      case Seq(v) => v.kind == Str || v.kind == Num ||
        Seq("NULL", "TRUE", "FALSE").exists(v.isWord)
      case Seq(p, v) => ((p.is("-") || p.is("+")) && v.kind == Num) ||
        (v.kind == Str && Seq("DATE", "TIMESTAMP", "TIMESTAMPTZ", "X").exists(p.isWord))
      case _ => false
    }
    val ts = Compat.tokenize(cell).filter(_.kind != Compat.Ws)
    val as = ts.indexWhere(_.isWord("AS"))
    literal(ts) || (ts.length > 4 && ts.head.isWord("CAST") && ts(1).is("(") &&
      ts.last.is(")") && as > 2 && as + 1 < ts.length && literal(ts.slice(2, as)) &&
      Seq("FLOAT", "DOUBLE", "DECIMAL").exists(ts(as + 1).isWord))
  }

  private def splitTopStr(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0
    var inStr = false
    var st = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) { if (c == '\'') inStr = false }
      else c match {
        case '\'' => inStr = true
        case '(' => depth += 1
        case ')' => depth -= 1
        case ',' if depth == 0 => out += s.substring(st, i); st = i + 1
        case _ =>
      }
      i += 1
    }
    out += s.substring(st)
    out.result()
  }

  private def handleDropType(spark: SparkSession,
      toks: Vector[Compat.Tok]): PgResult = {
    val ifExists = toks.length > 4 && toks(2).text.equalsIgnoreCase("IF") &&
      toks(3).text.equalsIgnoreCase("EXISTS")
    val name = (if (ifExists) toks(4) else toks(2)).text.toLowerCase
    val dropped = graft.functions.PgEnums.drop(spark, name)
    if (!dropped && !ifExists)
      throw PgException("42704", s"""type "$name" does not exist""")
    PgCatalog.refreshEnumViews(spark)
    Complete("DROP TYPE")
  }

  private val serialTypes = Set("serial", "serial2", "serial4", "serial8",
    "smallserial", "bigserial")

  private val ddlHeads = Set("CREATE", "DROP", "ALTER", "TRUNCATE",
    "COMMENT", "REFRESH", "CACHE", "UNCACHE", "ANALYZE", "MSCK", "USE",
    "GRANT", "REVOKE")

  private def runQuery(spark: SparkSession, session: Session, sql: String,
      head: String, second: String): PgResult = {
    if (head == "DROP" && second == "TABLE") {
      // pg drops a serial column's owned sequence with its table
      val tableNames = "(?is)^DROP\\s+TABLE\\s+(?:IF\\s+EXISTS\\s+)?(.+?);?\\s*$".r
        .findFirstMatchIn(sql).map(_.group(1)).toSeq
        .map("(?is)\\b(CASCADE|RESTRICT)\\s*$".r.replaceFirstIn(_, ""))
        .flatMap(_.split(",")).map(_.trim)
        .filterNot(t => t.isEmpty || t.equalsIgnoreCase("CASCADE") ||
          t.equalsIgnoreCase("RESTRICT"))
      val ownedSeqs = tableNames.flatMap { t0 =>
        val t = if (t0.startsWith("\"")) t0.stripPrefix("\"").stripSuffix("\"") else t0
        try spark.table(t).schema.fields.toSeq
          .filter(_.metadata.contains("pg.serial"))
          .map(_.metadata.getString("pg.serial"))
        catch { case scala.util.control.NonFatal(_) => Nil }
      }
      // pg refuses to drop a table other tables' FKs depend on
      // (2BP01) unless the dependents drop in the same statement —
      // or CASCADE (r16), which drops the dependent CONSTRAINTS (not
      // the child tables: pg's cascade stops at the constraint)
      // through the ordinary ALTER DROP CONSTRAINT path, so child
      // metadata rewrites and the registries stay consistent
      val cascadeDrop = "(?is)\\bCASCADE\\b".r.findFirstIn(sql).isDefined
      val dropSet = tableNames
        .map(t0 => unq(t0).split("\\.").last.toLowerCase).toSet
      tableNames.foreach { t0 =>
        val t = unq(t0).split("\\.").last
        if (scala.util.Try(spark.table(t)).isSuccess)
          referencingFks(spark, t).foreach { case (childT, _, fk, _) =>
            if (!dropSet.contains(childT.toLowerCase) &&
                !childT.equalsIgnoreCase(t)) {
              if (cascadeDrop)
                execute(spark, session,
                  s"ALTER TABLE ${qid(childT)} DROP CONSTRAINT ${qid(fk.name)}")
              else
                throw PgException("2BP01",
                  s"""cannot drop table $t because other objects depend on it
DETAIL:  constraint ${fk.name} on table $childT depends on table $t
HINT:  Use DROP ... CASCADE to drop the dependent objects too.""")
            }
          }
      }
      // pg accepts a comma list and CASCADE/RESTRICT tails; Spark's
      // parser is single-table with no tail — re-issue per table
      // (existence already validated above for the non-IF-EXISTS
      // case by Spark's own first-drop error)
      val hasTail =
        "(?is)\\b(CASCADE|RESTRICT)\\b".r.findFirstIn(sql).isDefined
      if (tableNames.length > 1 || hasTail) {
        val ifEx =
          if ("(?is)\\bIF\\s+EXISTS\\b".r.findFirstIn(sql).isDefined) "IF EXISTS "
          else ""
        // pg validates the whole list before dropping anything
        if (ifEx.isEmpty) tableNames.foreach { t0 =>
          val t = unq(t0).split("\\.").last
          if (scala.util.Try(spark.table(t)).isFailure)
            throw PgException("42P01", s"""table "$t" does not exist""")
        }
        tableNames.foreach { t0 =>
          runSql(spark, s"DROP TABLE $ifEx${qid(unq(t0).split("\\.").last)}")
            .collect()
        }
      } else runSql(spark, sql).collect()
      ownedSeqs.foreach(PgSequences.drop(_, ifExists = true))
      tableNames.foreach { t =>
        PgSequences.dropTableSerials(PgSequences.normName(t))
        PgConstraints.drop(t)
        PgIndexes.dropTable(t)
      }
      PgCatalog.invalidate()
      if (ownedSeqs.nonEmpty) PgCatalog.refresh(spark)
      return Complete("DROP TABLE")
    }
    if (head == "INSERT") {
      // pg runs each column type's INPUT FUNCTION on insert — family
      // text is stored canonical and enum labels are validated at
      // write time, not first use (COVERAGE.md canonical-text note)
      val (noConf, conflictSpec) = extractOnConflict(sql)
      // `INSERT INTO t AS x` — only ON CONFLICT expressions may
      // reference the alias; strip it before canonicalization
      val aliasM = ("(?is)^(\\s*INSERT\\s+INTO\\s+(?:\"[^\"]+\"|[\\w$.]+))" +
        "\\s+AS\\s+(\"[^\"]+\"|[\\w$]+)([\\s(].*)$").r.findFirstMatchIn(noConf)
      val (noAlias, insAlias) = aliasM match {
        case Some(am) => (am.group(1) + am.group(3), Some(unq(am.group(2))))
        case None => (noConf, None)
      }
      val canon = canonicalizeInsert(spark, noAlias, session.connId)
      // inside a transaction block: journal the target's pre-state
      // before ANY insert path appends (checked, RETURNING, or plain)
      "(?is)^\\s*INSERT\\s+INTO\\s+(\"[^\"]+\"|[\\w$.]+)".r
        .findFirstMatchIn(canon)
        .foreach(t => TxnCtx.journalWrite(spark, unq(t.group(1))))
      val needsCheck = conflictSpec.isDefined || {
        val tm = "(?is)^\\s*INSERT\\s+INTO\\s+(\"[^\"]+\"|[\\w$.]+)".r
          .findFirstMatchIn(canon)
        tm.exists { t =>
          val tbl = unq(t.group(1))
          try PgConstraints.hasAny(tbl, spark.table(tbl).schema)
          catch { case scala.util.control.NonFatal(_) => false }
        }
      }
      if (needsCheck)
        return insertChecked(spark, session, canon, conflictSpec, insAlias)
      val retPos = Compat.topLevelKeywordPos(canon, "RETURNING")
      if (retPos >= 0) return insertReturning(spark, canon, retPos)
      val df = runSql(spark, singleFileValues(canon))
      val n = outputRows(df)
      return Complete(s"INSERT 0 $n")
    }
    if (head == "UPDATE") return handleUpdate(spark, session, sql)
    if (head == "DELETE") return handleDelete(spark, session, sql)
    val df = runSql(spark, sql)
    head match {
      case "INSERT" =>
        val n = outputRows(df)
        Complete(s"INSERT 0 $n")
      case h if ddlHeads.contains(h) =>
        // the relation set (or a same-named schema) changed: next
        // catalog-touching query must rebuild the dynamic views
        PgCatalog.invalidate()
        val obj = Seq("TABLE", "VIEW", "DATABASE", "SCHEMA", "FUNCTION", "INDEX")
          .find(o => sql.toUpperCase.split("\\s+").take(4).contains(o))
        Complete((h +: obj.toSeq).mkString(" "))
      case _ =>
        RowSet(df.schema, df.toLocalIterator().asScala, n => s"SELECT $n")
    }
  }

  /** A multi-row VALUES insert writes ONE file (r17): row order
    * inside a single parquet file is scan-stable, which keeps pg's
    * heap order reproducible for json_agg's input-order path — and
    * stops a 4-row OLTP insert from littering one file per local
    * core (file LISTING order is uuid-random, so a multi-file batch
    * loses its insert order). Bulk INSERT…SELECT keeps its
    * parallelism — only the literal VALUES shape coalesces. */
  private def singleFileValues(sql: String): String = {
    val vPos = Compat.topLevelKeywordPos(sql, "VALUES")
    if (vPos < 0) return sql
    val head = sql.substring(0, vPos)
    val ok = ("(?is)^\\s*INSERT\\s+INTO\\s+(\"[^\"]+\"|[\\w$.]+)" +
      "\\s*(\\([^)]*\\))?\\s*$").r.findFirstMatchIn(head).isDefined
    if (!ok) return sql
    head + "SELECT /*+ COALESCE(1) */ * FROM (" +
      sql.substring(vPos).trim.stripSuffix(";") + ") __graft_vals"
  }

  /** Families whose stored text must be CANONICAL (pg's type input
    * function normalizes on write): ranges, network/mac, text search,
    * money, uuid, bit strings, jsonb. NOT json — pg's json type
    * preserves the source bytes verbatim. Enum columns are handled
    * separately (label validation via enum_in's 22P02). */
  private val canonFamilies: Set[String] =
    Compat.rangeTypeNames ++ Set("inet", "cidr", "macaddr", "macaddr8",
      "tsvector", "tsquery", "money", "uuid", "bit", "varbit", "jsonb")

  // ---- UPDATE / DELETE ---------------------------------------------------
  //
  // Spark cannot mutate a parquet table in place, so DML rewrites to a
  // full-table transform materialized through a temp directory and
  // INSERT OVERWRITE (a direct self-overwrite is rejected as a
  // read-write cycle). The transform is fully distributed — only
  // RETURNING rows ever reach the driver, and those are bounded by the
  // affected-row count. pg semantics live-pinned (sweep-34): WHERE
  // matches with SQL 3VL (NULL predicate rows survive a DELETE and
  // skip an UPDATE), `SET col = DEFAULT` is nextval for serial columns
  // and NULL otherwise, multi-column `SET (a, b) = (1, 2)` works,
  // RETURNING yields NEW values for UPDATE and OLD rows for DELETE,
  // and tags are `UPDATE n` / `DELETE n`. The reference has no
  // UPDATE/DELETE at all — parity-plus. UPDATE … FROM and DELETE …
  // USING run through [[dmlWithFrom]] (sweep-38 differential).

  /** Split raw SQL text on a top-level separator, respecting strings,
    * quoted identifiers and paren depth. */
  private def splitTopLevelText(s: String, sep: Char): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var i = 0; var depth = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '\'' =>
          cur.append(c); i += 1
          var done = false
          while (i < s.length && !done) {
            val ch = s.charAt(i)
            cur.append(ch)
            if (ch == '\'' && i + 1 < s.length && s.charAt(i + 1) == '\'') {
              cur.append('\''); i += 2
            } else if (ch == '\'') { done = true; i += 1 }
            else i += 1
          }
        case '"' =>
          cur.append(c); i += 1
          while (i < s.length && s.charAt(i) != '"') { cur.append(s.charAt(i)); i += 1 }
          if (i < s.length) { cur.append('"'); i += 1 }
        case '(' | '[' => depth += 1; cur.append(c); i += 1
        case ')' | ']' => depth -= 1; cur.append(c); i += 1
        case `sep` if depth == 0 => out += cur.toString; cur.clear(); i += 1
        case _ => cur.append(c); i += 1
      }
    }
    out += cur.toString
    out.toSeq
  }

  private def unq(raw: String): String =
    if (raw.length >= 2 && raw.startsWith("\"") && raw.endsWith("\""))
      raw.substring(1, raw.length - 1)
    else raw

  /** pg-quoted identifier — the constructed DML SQL re-enters the
    * wire dialect path (runSql → Compat rewrite), not Spark's parser
    * directly. */
  private def qid(name: String): String =
    "\"" + name.replace("\"", "\"\"") + "\""

  /** The SET/RETURNING expression for a column, with the stored
    * family's input function applied (canonical text on write, enum
    * label validation — the same rule as [[canonicalizeInsert]]) and
    * DEFAULT resolved (serial → nextval, else typed NULL). */
  private def dmlValueExpr(f: StructField, raw: String, connId: Int): String = {
    val e = raw.trim
    val base =
      if (e.equalsIgnoreCase("DEFAULT")) defaultExprSql(f, connId) else e
    familyOf(f).map(t => s"($base)::$t").getOrElse(s"($base)")
  }

  /** The stored family (canonical-text type or enum) of a column. */
  private def familyOf(f: StructField): Option[String] =
    if (f.metadata.contains("pg.enum")) Some(f.metadata.getString("pg.enum"))
    else if (f.metadata.contains(PgType.OID_ALIAS_KEY)) {
      val a = f.metadata.getString(PgType.OID_ALIAS_KEY)
      if (canonFamilies.contains(a)) Some(a) else None
    } else None

  /** A [[dmlValueExpr]] in the column's stored type. A family value is
    * already its canonical STRING; a CAST AS STRING over it would read
    * as pg's inet→text cast (mask length shown). */
  private def storedAs(f: StructField, value: String): String =
    if (familyOf(f).isDefined) value else s"CAST(($value) AS ${f.dataType.sql})"

  /** Replace a catalog table's contents with `next`. */
  private def overwriteTable(spark: SparkSession, table: String,
      next: org.apache.spark.sql.DataFrame): Unit =
    overwriteTables(spark, Seq(table -> next))

  /** Stage-then-swap multi-table rewrite ([[TableStage.rewrite]]):
    * EVERY new state is written once, beside its table, BEFORE any
    * table's directory is swapped — a cascade step reading a parent
    * being rewritten in the same statement would otherwise re-scan
    * swapped-out files, and a constraint failure surfacing during
    * stage N's write would leave stages 1..N-1 applied (pg's
    * statement atomicity; a crash between the final swaps remains the
    * documented single-writer caveat). Inside a transaction block each
    * table's pre-state is journaled first. */
  private def overwriteTables(spark: SparkSession,
      writes: Seq[(String, org.apache.spark.sql.DataFrame)]): Unit = {
    writes.foreach { case (t, _) => TxnCtx.journalWrite(spark, t) }
    TableStage.rewrite(spark, writes)
  }

  /** The flag column of a counted rewrite: true on the rows the
    * statement matched. */
  private val MatchedFlag = "__graft_m"

  /** [[overwriteTables]] for a plain UPDATE or DELETE, returning its
    * command tag's count: the rows of `flagged` whose [[MatchedFlag]]
    * is true. `writes` holds `next` = `keep(flagged)` without the flag;
    * the job that writes `next` counts the flags as it goes, so the
    * count takes no job of its own. (A self-referencing cascade that
    * rewrote `next` further leaves it out of `writes`; the count then
    * runs before the write.) */
  private def overwriteCounted(spark: SparkSession,
      writes: Seq[(String, DataFrame)], next: DataFrame, flagged: DataFrame,
      keep: DataFrame => DataFrame): Long = {
    import org.apache.spark.sql.functions.{col, count, when}
    val matched = when(col(MatchedFlag), true)
    if (!writes.exists(_._2 eq next)) {
      val n = flagged.select(count(matched)).head().getLong(0)
      overwriteTables(spark, writes)
      n
    } else {
      val (counting, n) = TableStage.counted(flagged, matched)
      val written = keep(counting).drop(MatchedFlag)
      overwriteTables(spark,
        writes.map { case (t, df) => t -> (if (df eq next) written else df) })
      n()
    }
  }

  /** Persist + materialize a RETURNING projection BEFORE any table
    * rewrite, then stream it to the client partition-by-partition —
    * the rows live distributed in the executor cache, never whole on
    * the driver. `release` runs once: on stream exhaustion, on
    * failure, or when the server discards a suspended portal. */
  private def materializedRowSet(df: DataFrame, tagFor: Long => String,
      release: () => Unit = () => ()): RowSet = {
    val schema = df.schema
    // RDD-level persistence, NOT df.persist: the table rewrite that
    // follows makes CacheManager invalidate and *recache* dependent
    // plan caches, which re-reads the (deleted) pre-rewrite files.
    // RDD blocks are outside plan-cache management and survive the
    // rewrite untouched.
    val p = df.rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cleaned = new java.util.concurrent.atomic.AtomicBoolean(false)
    def cleanup(): Unit = if (cleaned.compareAndSet(false, true)) {
      try p.unpersist(blocking = false)
      catch { case scala.util.control.NonFatal(_) => }
      try release() catch { case scala.util.control.NonFatal(_) => }
    }
    try p.count() // pin the rows now — later reads hit the cache
    catch { case e: Throwable => cleanup(); throw e }
    val it = p.toLocalIterator
    val streaming = new Iterator[Row] {
      override def hasNext: Boolean = {
        val h = try it.hasNext catch { case e: Throwable => cleanup(); throw e }
        if (!h) cleanup()
        h
      }
      override def next(): Row =
        try it.next() catch { case e: Throwable => cleanup(); throw e }
    }
    RowSet(schema, streaming, tagFor, onDiscard = cleanup)
  }

  /** Run `write` between constructing a result and handing it to the
    * client; a failed write releases the result's pinned resources. */
  private def afterWrite(r: PgResult)(write: => Unit): PgResult =
    try { write; r } catch {
      case e: Throwable =>
        r match {
          case rs: RowSet =>
            try rs.onDiscard() catch { case scala.util.control.NonFatal(_) => }
          case _ =>
        }
        throw e
    }

  /** Parse `SET col = expr, (c1, c2) = (e1, e2), …` into column →
    * value-expression (family input function applied, DEFAULT
    * resolved) — shared by plain UPDATE and UPDATE … FROM. */
  private def parseSetAssignments(setPart: String, schema: StructType,
      table: String, connId: Int):
      scala.collection.mutable.LinkedHashMap[String, String] = {
    def fieldOf(c0: String): StructField = {
      val c = unq(c0.trim)
      schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw PgException("42703",
          s"""column "$c" of relation "$table" does not exist"""))
    }
    val assigned = scala.collection.mutable.LinkedHashMap.empty[String, String]
    splitTopLevelText(setPart, ',').map(_.trim).filter(_.nonEmpty).foreach { a =>
      if (a.startsWith("(")) {
        val close = {
          var depth = 0; var j = 0; var c = -1
          while (j < a.length && c < 0) {
            if (a.charAt(j) == '(') depth += 1
            else if (a.charAt(j) == ')') { depth -= 1; if (depth == 0) c = j }
            j += 1
          }
          if (c < 0) throw PgException("42601", "syntax error in UPDATE SET")
          c
        }
        val colNames = splitTopLevelText(a.substring(1, close), ',').map(_.trim)
        val rhs = a.substring(close + 1).trim
        if (!rhs.startsWith("=")) throw PgException("42601", "syntax error in UPDATE SET")
        val v = rhs.substring(1).trim
        if (!(v.startsWith("(") && v.endsWith(")")))
          throw PgException("0A000", "only (…) = (…) row assignment is supported")
        val inner = v.substring(1, v.length - 1)
        if (inner.trim.toUpperCase.startsWith("SELECT")) {
          // sub-SELECT row assignment: `(c1, c2) = (SELECT e1, e2 …)`.
          // Decomposes into one scalar subquery per column — pg
          // evaluates the subquery once per row (no row → NULLs,
          // >1 row → error); Catalyst's subquery reuse merges the
          // per-column copies back into a single evaluation, and each
          // correlated reference resolves against the outer UPDATE
          // row like any correlated scalar subquery.
          val sm = "(?is)^SELECT\\s+(.*)$".r.findFirstMatchIn(inner.trim).get
          val body = sm.group(1)
          // the select list ends at the first top-level FROM/WHERE —
          // everything after is the shared subquery tail
          val fromPos = Compat.topLevelKeywordPos(body, "FROM")
          val wherePos = Compat.topLevelKeywordPos(body, "WHERE")
          val cut = Seq(fromPos, wherePos).filter(_ >= 0).sorted.headOption
            .getOrElse(body.length)
          val items = splitTopLevelText(body.substring(0, cut), ',')
            .map(_.trim).filter(_.nonEmpty)
          val tail = body.substring(cut)
          if (items.length != colNames.length)
            throw PgException("42601",
              "number of columns does not match number of values")
          colNames.zip(items).foreach { case (c, e) =>
            val f = fieldOf(c)
            assigned(f.name) = dmlValueExpr(f, s"(SELECT $e $tail)", connId)
          }
        } else {
          val exprs = splitTopLevelText(inner, ',').map(_.trim)
          if (exprs.length != colNames.length)
            throw PgException("42601", "number of columns does not match number of values")
          colNames.zip(exprs).foreach { case (c, e) =>
            val f = fieldOf(c)
            assigned(f.name) = dmlValueExpr(f, e, connId)
          }
        }
      } else {
        val eq = {
          // first top-level `=` not part of an operator
          var depth = 0; var j = 0; var pos = -1
          while (j < a.length && pos < 0) {
            val c = a.charAt(j)
            if (c == '(') depth += 1
            else if (c == ')') depth -= 1
            else if (c == '\'') { j += 1; while (j < a.length && a.charAt(j) != '\'') j += 1 }
            else if (depth == 0 && c == '=') pos = j
            j += 1
          }
          if (pos < 0) throw PgException("42601", "syntax error in UPDATE SET")
          pos
        }
        val f = fieldOf(a.substring(0, eq))
        assigned(f.name) = dmlValueExpr(f, a.substring(eq + 1), connId)
      }
    }
    assigned
  }

  /** Best-effort aliases of the FROM/USING items, for exposing their
    * columns to RETURNING: top-level comma items, each split on JOINs;
    * each relation contributes its alias (or bare unqualified name).
    * A piece this can't parse is skipped — a RETURNING that references
    * it then fails resolution naturally, like an unknown column. */
  private def fromItemAliases(fromText: String): Seq[String] = {
    val joinKw = Set("LEFT", "RIGHT", "FULL", "INNER", "OUTER", "CROSS",
      "NATURAL", "LATERAL", "ONLY")
    splitTopLevelText(fromText, ',').flatMap { item =>
      val pieces = scala.collection.mutable.ArrayBuffer.empty[String]
      var rest = item
      var pos = Compat.topLevelKeywordPos(rest, "JOIN")
      while (pos >= 0) {
        pieces += rest.substring(0, pos)
        rest = rest.substring(pos + "JOIN".length)
        pos = Compat.topLevelKeywordPos(rest, "JOIN")
      }
      pieces += rest
      pieces.flatMap { p0 =>
        val onPos = Compat.topLevelKeywordPos(p0, "ON")
        val p1 = if (onPos >= 0) p0.substring(0, onPos) else p0
        val usPos = Compat.topLevelKeywordPos(p1, "USING")
        var p = (if (usPos >= 0) p1.substring(0, usPos) else p1)
          .trim.stripSuffix(";").trim
        // shed join-type keywords on either end ("a LEFT" / "NATURAL b")
        var changed = true
        while (changed) {
          changed = false
          joinKw.foreach { k =>
            if (p.toUpperCase.startsWith(k + " ")) { p = p.substring(k.length).trim; changed = true }
            if (p.toUpperCase.endsWith(" " + k)) { p = p.substring(0, p.length - k.length).trim; changed = true }
          }
        }
        if (p.isEmpty) None
        else if (p.startsWith("(")) {
          // (subquery) [AS] alias
          var depth = 0; var j = 0; var close = -1
          while (j < p.length && close < 0) {
            if (p.charAt(j) == '(') depth += 1
            else if (p.charAt(j) == ')') { depth -= 1; if (depth == 0) close = j }
            j += 1
          }
          if (close < 0) None
          else "(?is)^\\s*(?:AS\\s+)?(\"[^\"]+\"|[\\w$]+)".r
            .findFirstMatchIn(p.substring(close + 1))
            .map(mm => unq(mm.group(1)))
        } else {
          // no \s* between the name and the optional arg-parens: a
          // greedy \s* would eat the separator space and the (then
          // unsatisfiable, all-optional) alias tail would be skipped
          // without backtracking
          "(?is)^(\"[^\"]+\"|[\\w$.]+)(\\((?:[^()]|\\([^()]*\\))*\\))?" +
            "(?:\\s+(?:AS\\s+)?(\"[^\"]+\"|[\\w$]+))?" match {
            case re => re.r.findFirstMatchIn(p).flatMap { mm =>
              val alias = Option(mm.group(3)).map(unq)
                .getOrElse(unq(mm.group(1)).split("\\.").last)
              if (alias.isEmpty) None else Some(alias)
            }
          }
        }
      }
    }
  }

  /** Shared engine for `UPDATE … FROM` (setPart defined) and `DELETE …
    * USING` (setPart empty): pg joins each target row against the
    * FROM/USING relation(s); a target row with ≥1 match is updated or
    * deleted ONCE, using SOME matching row when several match (pg
    * documents the choice as unpredictable — live-pinned 2026-08-15:
    * `UPDATE t SET v = f.w FROM f WHERE t.id = f.id` with two f
    * matches updates once; RETURNING `*` expands to target columns —
    * NEW values for UPDATE, OLD for DELETE — followed by the FROM
    * items' columns, one row per affected target row).
    *
    * Fully distributed: target rows get a stable rid
    * (monotonically_increasing_id over a pinned cache), the join runs
    * as a plain Catalyst join, one match per rid survives via
    * first(struct(…)) partial aggregation, survivors come from an
    * anti-join, and RETURNING streams from a materialized projection —
    * no driver materialization at any step. */
  private def dmlWithFrom(spark: SparkSession, session: Session,
      tableRef: String, alias: Option[String], setPart: Option[String],
      fromText: String, whereOpt: Option[String],
      retList: Option[String]): PgResult = {
    val isUpdate = setPart.isDefined
    val table = unq(tableRef).split("\\.").last
    val schema =
      try spark.table(table).schema
      catch { case scala.util.control.NonFatal(_) =>
        throw PgException("42P01", s"""relation "$table" does not exist""") }
    val assigned = setPart.map(parseSetAssignments(_, schema, table, session.connId))
      .getOrElse(scala.collection.mutable.LinkedHashMap.empty[String, String])
    val taName = alias.map(unq).getOrElse(table)
    val taQ = qid(taName)
    val uid = java.util.UUID.randomUUID().toString.replace("-", "")
    val ridView = s"__graft_uf_$uid"
    val mView = s"__graft_ufm_$uid"
    val ridDf = spark.table(table)
      .withColumn("__graft_rid",
        org.apache.spark.sql.functions.monotonically_increasing_id())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var matched: DataFrame = null
    def upstreamRelease(): Unit = {
      try spark.catalog.dropTempView(mView)
      catch { case scala.util.control.NonFatal(_) => }
      try spark.catalog.dropTempView(ridView)
      catch { case scala.util.control.NonFatal(_) => }
      if (matched != null)
        try matched.unpersist() catch { case scala.util.control.NonFatal(_) => }
      try ridDf.unpersist() catch { case scala.util.control.NonFatal(_) => }
    }
    try {
      ridDf.count() // pin the rids before any reuse
      ridDf.createOrReplaceTempView(ridView)
      val fAliases = fromItemAliases(fromText)
      // NEW target values for UPDATE (SET exprs see OLD target + FROM
      // columns), OLD values for DELETE
      val newFields = schema.fields.map { f =>
        assigned.get(f.name)
          .map(e => s"${storedAs(f, e)} AS ${qid(f.name)}")
          .getOrElse(s"$taQ.${qid(f.name)} AS ${qid(f.name)}")
      }.mkString(", ")
      val fStructs = fAliases.zipWithIndex.map { case (a, i) =>
        s", struct(${qid(a)}.*) AS __graft_f_$i"
      }.mkString
      val pairSql =
        s"SELECT $taQ.`__graft_rid` AS __graft_rid, " +
          s"struct(struct($newFields) AS __graft_new$fStructs) AS __graft_s " +
          s"FROM `$ridView` AS $taQ, $fromText" +
          whereOpt.map(w => s" WHERE $w").getOrElse("")
      matched = runSql(spark,
        s"SELECT __graft_rid, first(__graft_s) AS __graft_s " +
          s"FROM ( $pairSql ) AS __graft_p GROUP BY __graft_rid")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = matched.count()
      matched.createOrReplaceTempView(mView)
      val newRows = spark.sql(s"SELECT __graft_s.__graft_new.* FROM `$mView`")
      // plain spark.sql (not the pg-dialect path): backtick quoting
      val bq = (nm: String) => "`" + nm.replace("`", "``") + "`"
      val survivors = spark.sql(
        s"SELECT ${schema.fieldNames.map(bq).mkString(", ")} " +
          s"FROM `$ridView` AS __graft_t WHERE NOT EXISTS " +
          s"(SELECT 1 FROM `$mView` AS __graft_m " +
          s"WHERE __graft_m.__graft_rid = __graft_t.`__graft_rid`)")
      val next = if (isUpdate) survivors.unionByName(newRows) else survivors
      val zoneFk = java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)
      if (isUpdate && PgConstraints.hasAny(table, schema)) {
        checkNotNull(newRows, schema, table, zoneFk)
        checkChecks(spark, newRows, schema, table, zoneFk)
        checkUniqueDups(next, schema, PgConstraints.uniquesOf(table, schema), zoneFk,
          table = table)
        checkFksChild(spark, newRows, schema, table, zoneFk, Some(next))
      }
      // FK parent gate (r16): target rows this statement rewrites or
      // deletes may carry keys still referenced by child rows; the
      // DELETE…USING arm also executes referential ACTIONS (r17)
      val writes =
        if (isUpdate) {
          // row-aligned old/new pairs via the rid join (r17: ON UPDATE
          // actions execute; NO ACTION keeps its probe inside)
          val pairs = spark.sql(
            s"SELECT struct(${schema.fieldNames.map(bq).mkString(", ")}) AS __o, " +
              s"__graft_m.__graft_s.__graft_new AS __n " +
              s"FROM `$ridView` AS __graft_t JOIN `$mView` AS __graft_m " +
              s"ON __graft_m.__graft_rid = __graft_t.`__graft_rid`")
          execFkUpdateActions(spark, table, pairs, next,
            assigned.keySet.map(_.toLowerCase).toSet, zoneFk, session.connId)
        } else {
          val oldMatched = spark.sql(
            s"SELECT ${schema.fieldNames.map(bq).mkString(", ")} " +
              s"FROM `$ridView` AS __graft_t WHERE EXISTS " +
              s"(SELECT 1 FROM `$mView` AS __graft_m " +
              s"WHERE __graft_m.__graft_rid = __graft_t.`__graft_rid`)")
          execFkDeleteActions(spark, table, oldMatched, next, zoneFk,
            session.connId)
        }
      val tagWord = if (isUpdate) "UPDATE" else "DELETE"
      retList match {
        case Some(ret) =>
          val items = splitTopLevelText(ret, ',').map(_.trim).filter(_.nonEmpty)
          def isStarOf(nm: String, item: String): Boolean =
            item.endsWith(".*") &&
              unq(item.stripSuffix(".*").trim).equalsIgnoreCase(nm)
          val mapped = items.map {
            case "*" => (taQ +: fAliases.map(qid)).map(_ + ".*").mkString(", ")
            case it if isStarOf(taName, it) => s"$taQ.*"
            case it if fAliases.exists(a => isStarOf(a, it)) =>
              qid(fAliases.find(a => isStarOf(a, it)).get) + ".*"
            case it => it
          }
          // target columns at top level (unqualified refs) and under
          // the target alias; each FROM item's columns likewise — an
          // unqualified name colliding across them is ambiguous, as
          // in pg
          val fTop = fAliases.zipWithIndex.flatMap { case (a, i) =>
            Seq(s"__graft_s.__graft_f_$i.*",
              s"__graft_s.__graft_f_$i AS ${qid(a)}")
          }
          val retSrcSql =
            (Seq(s"__graft_s.__graft_new.*", s"__graft_s.__graft_new AS $taQ") ++ fTop)
              .mkString("SELECT ", ", ", s" FROM `$mView`")
          val retSql =
            s"SELECT ${mapped.mkString(", ")} FROM ( $retSrcSql ) AS __graft_r"
          val rs = materializedRowSet(runSql(spark, retSql), _ => s"$tagWord $n")
          afterWrite(rs) {
            overwriteTables(spark, writes)
            upstreamRelease()
          }
        case None =>
          overwriteTables(spark, writes)
          upstreamRelease()
          Complete(s"$tagWord $n")
      }
    } catch {
      case e: Throwable => upstreamRelease(); throw e
    }
  }

  private def handleUpdate(spark: SparkSession, session: Session,
      sql: String): PgResult = {
    val retPos = Compat.topLevelKeywordPos(sql, "RETURNING")
    val (body, retList) =
      if (retPos >= 0)
        (sql.substring(0, retPos), Some(sql.substring(retPos + "RETURNING".length)))
      else (sql.trim.stripSuffix(";"), None)
    val m = ("(?is)^UPDATE\\s+(?:ONLY\\s+)?(\"[^\"]+\"|[\\w$.]+)" +
      "(?:\\s+(?:AS\\s+)?(?!SET\\b)(\"[^\"]+\"|[\\w$]+))?\\s+SET\\s+(.*)$").r
      .findFirstMatchIn(body.trim)
      .getOrElse(throw PgException("42601", "syntax error in UPDATE"))
    val table = unq(m.group(1)).split("\\.").last
    val alias = Option(m.group(2))
    val tail = m.group(3)
    val fromPos = Compat.topLevelKeywordPos(tail, "FROM")
    if (fromPos >= 0) {
      val rest = tail.substring(fromPos + "FROM".length)
      val wPos = Compat.topLevelKeywordPos(rest, "WHERE")
      val (fromText, fWhere) =
        if (wPos >= 0) (rest.substring(0, wPos).trim,
          Some(rest.substring(wPos + "WHERE".length).trim.stripSuffix(";")))
        else (rest.trim.stripSuffix(";"), None)
      return dmlWithFrom(spark, session, m.group(1), alias,
        Some(tail.substring(0, fromPos)), fromText, fWhere, retList)
    }
    val wherePos = Compat.topLevelKeywordPos(tail, "WHERE")
    val (setPart, whereOpt) =
      if (wherePos >= 0)
        (tail.substring(0, wherePos),
          Some(tail.substring(wherePos + "WHERE".length).trim.stripSuffix(";")))
      else (tail.trim.stripSuffix(";"), None)
    val schema =
      try spark.table(table).schema
      catch { case scala.util.control.NonFatal(_) =>
        throw PgException("42P01", s"""relation "$table" does not exist""") }
    // assignments: `col = expr` and `(c1, c2) = (e1, e2)`
    val assigned = parseSetAssignments(setPart, schema, table, session.connId)
    val aliasSql = alias.map(a => s" AS $a").getOrElse("")
    val fromSql = s" FROM ${m.group(1)}$aliasSql"
    // full-table transform: assigned columns switch on the predicate
    val proj = schema.fields.map { f =>
      assigned.get(f.name) match {
        case Some(e) =>
          whereOpt match {
            case Some(w) => s"CASE WHEN ($w) THEN ${e} ELSE ${qid(f.name)} END AS ${qid(f.name)}"
            case None => s"$e AS ${qid(f.name)}"
          }
        case None => qid(f.name)
      }
    }.mkString(", ")
    // NEW values of just the matched rows, for RETURNING and the count
    val matchedSql = {
      val p = schema.fields.map { f =>
        assigned.get(f.name).map(e => s"$e AS ${qid(f.name)}")
          .getOrElse(qid(f.name))
      }.mkString(", ")
      s"SELECT $p$fromSql${whereOpt.map(w => s" WHERE $w").getOrElse("")}"
    }
    // Nondeterministic SET values (nextval, random, …) must evaluate
    // EXACTLY ONCE per matched row — pg consumes one sequence value
    // per updated row. The plain path may execute the projection more
    // than once (constraint checks, RETURNING, the table rewrite), so those route
    // through a persisted matched-rows frame unioned with the
    // survivors instead (pinned by the live DML differential:
    // `SET id = DEFAULT WHERE p` allocates pg's exact values).
    val nondet = assigned.values.exists(e =>
      "(?i)nextval|setval|random|uuid".r.findFirstIn(e).isDefined)
    if (nondet) {
      // r18 (closes the last ON UPDATE cut): the nondeterministic
      // values pre-draw ONCE into a persisted row-aligned (__o,__n)
      // pair frame — the SAME one-projection shape the deterministic
      // path feeds execFkUpdateActions — so count, RETURNING, the
      // next state, AND the referential actions all read identical
      // drawn values instead of re-drawing per consumer (which is
      // why this arm was 0A000 through r17).
      def lf(nm: String) = "'" + nm.replace("'", "''") + "'"
      val oldS = schema.fields
        .map(f => s"${lf(f.name)}, ${qid(f.name)}").mkString(", ")
      val newS = schema.fields.map { f =>
        s"${lf(f.name)}, (${assigned.getOrElse(f.name, qid(f.name))})"
      }.mkString(", ")
      val pairsSql = s"SELECT named_struct($oldS) AS __o, " +
        s"named_struct($newS) AS __n$fromSql" +
        whereOpt.map(w => s" WHERE $w").getOrElse("")
      val pairs = runSql(spark, pairsSql)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val n = pairs.count() // materializes: one evaluation per row
        val matched = pairs.select(org.apache.spark.sql.functions.col("__n.*"))
        val keepSql = whereOpt match {
          case Some(w) => s"SELECT *$fromSql WHERE NOT coalesce(($w), false)"
          case None => s"SELECT *$fromSql WHERE false"
        }
        val next = runSql(spark, keepSql).union(matched)
        val zone = java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)
        if (PgConstraints.hasAny(table, schema)) {
          checkNotNull(matched, schema, table, zone)
          checkChecks(spark, matched, schema, table, zone)
          checkUniqueDups(next, schema, PgConstraints.uniquesOf(table, schema),
            zone, table = table)
          checkFksChild(spark, matched, schema, table, zone, Some(next))
        }
        // parent side: referential actions execute from the PERSISTED
        // pairs (drawn values stable across the action joins)
        val writes = execFkUpdateActions(spark, table, pairs.toDF(), next,
          assigned.keySet.map(_.toLowerCase).toSet, zone, session.connId)
        retList match {
          case Some(ret) =>
            val sub = alias.getOrElse(m.group(1))
            // unique view name — the shared SparkSession makes temp
            // views global, so a fixed name raced concurrent updates
            val v = s"__graft_upd_m_${java.util.UUID.randomUUID().toString.replace("-", "")}"
            matched.createOrReplaceTempView(v)
            val rs = materializedRowSet(
              runSql(spark, s"SELECT $ret FROM `$v` AS $sub"),
              _ => s"UPDATE $n")
            afterWrite(rs) {
              overwriteTables(spark, writes)
              spark.catalog.dropTempView(v)
            }
          case None =>
            overwriteTables(spark, writes)
            Complete(s"UPDATE $n")
        }
      } finally pairs.unpersist()
    } else {
      val zone = java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)
      val flag = whereOpt.fold("true")(w => s"coalesce(($w), false)")
      val flagged = runSql(spark, s"SELECT $proj, $flag AS $MatchedFlag$fromSql")
      val next = flagged.drop(MatchedFlag)
      if (PgConstraints.hasAny(table, schema)) {
        val mn = runSql(spark, matchedSql)
        checkNotNull(mn, schema, table, zone)
        checkChecks(spark, mn, schema, table, zone)
        checkUniqueDups(next, schema, PgConstraints.uniquesOf(table, schema), zone,
          table = table)
        checkFksChild(spark, mn, schema, table, zone, Some(next))
      }
      // parent side (r17): ON UPDATE referential actions execute —
      // row-aligned old/new pairs from ONE projection
      val writes = {
        def lf(nm: String) = "'" + nm.replace("'", "''") + "'"
        val oldS = schema.fields
          .map(f => s"${lf(f.name)}, ${qid(f.name)}").mkString(", ")
        // the WHERE below already restricts to matched rows, so the
        // new side uses the raw SET exprs (mirrors matchedSql)
        val newS = schema.fields.map { f =>
          s"${lf(f.name)}, (${assigned.getOrElse(f.name, qid(f.name))})"
        }.mkString(", ")
        val pairsSql = s"SELECT named_struct($oldS) AS __o, " +
          s"named_struct($newS) AS __n$fromSql" +
          whereOpt.map(w => s" WHERE $w").getOrElse("")
        execFkUpdateActions(spark, table, runSql(spark, pairsSql), next,
          assigned.keySet.map(_.toLowerCase).toSet, zone, session.connId)
      }
      retList match {
        case Some(ret) =>
          val sub = alias.getOrElse(m.group(1))
          // NEW values materialize BEFORE the overwrite (distributed,
          // in the cache) — lazy iteration afterwards would re-read
          // the rewritten table
          val rs = materializedRowSet(
            runSql(spark, s"SELECT $ret FROM ( $matchedSql ) AS $sub"),
            n => s"UPDATE $n")
          afterWrite(rs) {
            overwriteTables(spark, writes)
          }
        case None =>
          Complete(s"UPDATE ${overwriteCounted(spark, writes, next, flagged, identity)}")
      }
    }
  }

  private def handleDelete(spark: SparkSession, session: Session,
      sql: String): PgResult = {
    val retPos = Compat.topLevelKeywordPos(sql, "RETURNING")
    val (body, retList) =
      if (retPos >= 0)
        (sql.substring(0, retPos), Some(sql.substring(retPos + "RETURNING".length)))
      else (sql.trim.stripSuffix(";"), None)
    val m = ("(?is)^DELETE\\s+FROM\\s+(?:ONLY\\s+)?(\"[^\"]+\"|[\\w$.]+)" +
      "(?:\\s+(?:AS\\s+)?(?!WHERE\\b|USING\\b)(\"[^\"]+\"|[\\w$]+))?\\s*(.*)$").r
      .findFirstMatchIn(body.trim)
      .getOrElse(throw PgException("42601", "syntax error in DELETE"))
    val table = unq(m.group(1)).split("\\.").last
    val alias = Option(m.group(2))
    val tail = m.group(3)
    val usingPos = Compat.topLevelKeywordPos(" " + tail, "USING")
    if (usingPos >= 0) {
      val rest = (" " + tail).substring(usingPos + "USING".length)
      val wPos = Compat.topLevelKeywordPos(rest, "WHERE")
      val (fromText, fWhere) =
        if (wPos >= 0) (rest.substring(0, wPos).trim,
          Some(rest.substring(wPos + "WHERE".length).trim.stripSuffix(";")))
        else (rest.trim.stripSuffix(";"), None)
      return dmlWithFrom(spark, session, m.group(1), alias,
        None, fromText, fWhere, retList)
    }
    val wherePos = Compat.topLevelKeywordPos(" " + tail, "WHERE")
    val whereOpt =
      if (wherePos >= 0)
        Some((" " + tail).substring(wherePos + "WHERE".length).trim.stripSuffix(";"))
      else {
        if (tail.trim.stripSuffix(";").trim.nonEmpty)
          throw PgException("42601", "syntax error in DELETE")
        None
      }
    try spark.table(table)
    catch { case scala.util.control.NonFatal(_) =>
      throw PgException("42P01", s"""relation "$table" does not exist""") }
    val aliasSql = alias.map(a => s" AS $a").getOrElse("")
    val fromSql = s" FROM ${m.group(1)}$aliasSql"
    val matchedSql =
      s"SELECT *$fromSql${whereOpt.map(w => s" WHERE $w").getOrElse("")}"
    // survivors: pg 3VL — a NULL predicate row is NOT deleted
    val flag = whereOpt.fold("true")(w => s"coalesce(($w), false)")
    val flagged = runSql(spark, s"SELECT *, $flag AS $MatchedFlag$fromSql")
    val keep = (df: DataFrame) => df.where(!org.apache.spark.sql.functions.col(MatchedFlag))
    val survivors = keep(flagged).drop(MatchedFlag)
    // FK parent gate (r16) + referential ACTIONS (r17): NO ACTION /
    // RESTRICT children still referencing a deleted key refuse the
    // delete (23503) before any write; CASCADE / SET NULL / SET
    // DEFAULT children become extra staged rewrites in the same
    // statement, recursively
    val writes = execFkDeleteActions(spark, table,
      runSql(spark, matchedSql), survivors,
      java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone),
      session.connId)
    retList match {
      case Some(ret) =>
        val sub = alias.getOrElse(m.group(1))
        // OLD rows materialize BEFORE the overwrite (in the cache)
        val rs = materializedRowSet(
          runSql(spark, s"SELECT $ret FROM ( $matchedSql ) AS $sub"),
          n => s"DELETE $n")
        afterWrite(rs) {
          overwriteTables(spark, writes)
        }
      case None =>
        Complete(s"DELETE ${overwriteCounted(spark, writes, survivors, flagged, keep)}")
    }
  }

  /** Rewrite `INSERT INTO t [(cols)] <VALUES|SELECT …>` so every
    * source expression bound to a stored family/enum column passes
    * through that type's input function: the source becomes a derived
    * table and the family positions get a `::<type>` cast, which the
    * ordinary Compat cast rewrite then lowers to the existing parser
    * UDFs (`int4range_in`, `enum_in`, …). pg semantics follow for
    * free: `'1 , 5'::int4range` reads back as `[1,6)`, and an
    * unknown enum label raises 22P02 AT WRITE TIME instead of on
    * first ordinal use. Statements whose target table has no family
    * columns (or that do not parse as the plain INSERT shape) pass
    * through untouched.
    */
  private[graft] def canonicalizeInsert(spark: SparkSession, sql: String,
      connId: Int = 0): String = {
    val retPos = Compat.topLevelKeywordPos(sql, "RETURNING")
    val (ins, ret) =
      if (retPos >= 0) (sql.substring(0, retPos), " " + sql.substring(retPos))
      else (sql, "")
    val m = "(?is)^\\s*INSERT\\s+INTO\\s+(\"[^\"]+\"|[\\w$.]+)\\s*(\\(([^)]*)\\))?\\s*(.+)$"
      .r.findFirstMatchIn(ins).getOrElse(return sql)
    val table = {
      val raw = m.group(1)
      if (raw.startsWith("\"")) raw.substring(1, raw.length - 1) else raw
    }
    val schema =
      try spark.table(table).schema
      catch { case scala.util.control.NonFatal(_) => return sql }
    val cols: Seq[StructField] =
      if (m.group(3) != null) {
        val named = m.group(3).split(",").map(_.trim).map { c0 =>
          val c =
            if (c0.startsWith("\"") && c0.endsWith("\"") && c0.length >= 2)
              c0.substring(1, c0.length - 1)
            else c0
          schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(return sql)
        }
        named.toSeq
      } else schema.fields.toSeq
    val src0 = m.group(4).trim
    // VALUES introspection: row arity (pg's short positional insert
    // targets the leading columns) and per-position DEFAULT keywords
    val valueRows: Option[Seq[Seq[String]]] =
      if (!(src0.length >= 6 && src0.substring(0, 6).equalsIgnoreCase("VALUES"))) None
      else {
        val rows = splitTopStr(src0.substring(6)).map(_.trim)
        if (rows.nonEmpty && rows.forall(r => r.startsWith("(") && r.endsWith(")")))
          Some(rows.map(r => splitTopStr(r.substring(1, r.length - 1)).map(_.trim)))
        else None
      }
    val colsEff: Seq[StructField] =
      if (m.group(3) == null) valueRows match {
        case Some(rs) if rs.head.length < cols.length => cols.take(rs.head.length)
        case _ => cols
      } else cols
    val fams = colsEff.map(familyOf)
    // a DEFAULT, cast, call or other non-literal VALUES cell: Spark's
    // inline VALUES takes only foldable cells
    val hasExprCell = valueRows.exists(_.exists(_.exists(c => !isLiteralCell(c))))
    // omitted columns with an implicit (serial) or declared default
    // are filled; plain omitted columns stay NULL via the Spark path
    val fill: Seq[StructField] =
      if (m.group(3) == null && colsEff.length == cols.length) Nil
      else schema.fields.toSeq.filter(f =>
        (f.metadata.contains("pg.serial") || f.metadata.contains("pg.default")) &&
          !colsEff.exists(_.name.equalsIgnoreCase(f.name)))
    if (fams.forall(_.isEmpty) && fill.isEmpty && !hasExprCell) return sql
    // Serial allocation for literal VALUES happens HERE, on the
    // driver: one nextval per (row, serial slot) in pg's evaluation
    // order (target-list order = table column position), and the
    // inserted rows carry the reserved values as LITERALS instead of
    // per-row pg_nextval UDF calls. This is the multi-JVM-correct
    // allocator for the ORM hot path — executor tasks never touch
    // driver sequence state — and it makes the write-set
    // deterministic (re-evaluating the frame for constraint checks /
    // ON CONFLICT / RETURNING cannot re-draw values). pg parity:
    // values bind to rows in VALUES order, and a statement that fails
    // AFTER its draws still burns them. DOCUMENTED DEVIATION
    // (pre-reservation vs pg's pipelined per-row draw): pg evaluates
    // row by row, so a statement failing on an EARLY row (explicit-id
    // conflict in row 1, serial DEFAULT in row 2) burns fewer draws
    // in pg than here, and a statement that fails Spark ANALYSIS
    // burns draws pg would never evaluate — sequence state can run
    // AHEAD of live pg after such failures (never behind, never
    // reused). Pinned in PgDmlSpec's "serial pre-reservation
    // deviation" case; script6 pins the DEFAULT-before-conflict
    // ordering where the two models agree.
    val serialFill = fill.filter(_.metadata.contains("pg.serial"))
    def schemaPos(f: StructField): Int = schema.fieldIndex(f.name)
    def drawFor(f: StructField): Long = PgSequences.nextval(
      PgSequences.normName(f.metadata.getString("pg.serial")), connId)
    // per row: serial DEFAULT-cell literals by cell index, serial
    // fill-column literals by column name
    val reserved: Option[Seq[(Map[Int, Long], Map[String, Long])]] =
      valueRows.map { rs =>
        rs.map { row =>
          val cellSlots: Seq[Either[Int, StructField]] =
            row.zipWithIndex.collect {
              case (e, i) if e.equalsIgnoreCase("DEFAULT") &&
                i < colsEff.length &&
                colsEff(i).metadata.contains("pg.serial") => Left(i)
            }
          val slots = (cellSlots ++ serialFill.map(Right(_))).sortBy {
            case Left(i) => schemaPos(colsEff(i))
            case Right(f) => schemaPos(f)
          }
          var cellVals = Map.empty[Int, Long]
          var fillVals = Map.empty[String, Long]
          slots.foreach {
            case Left(i) => cellVals += i -> drawFor(colsEff(i))
            case Right(f) => fillVals += f.name -> drawFor(f)
          }
          (cellVals, fillVals)
        }
      }
    def fillLits(fillVals: Map[String, Long]): Seq[String] =
      serialFill.map(f => s"CAST(${fillVals(f.name)} AS BIGINT)")
    // INSERT … SELECT serial fill: count + reserve two-pass (r16).
    // One count job sizes the block, the driver reserves it through
    // the real nextval transitions (overflow/log_cnt/currval keep
    // their pinned semantics), and the values ride as window
    // arithmetic over the reserved block — executor tasks never touch
    // driver sequence state, the multi-JVM-safe shape. The global
    // row_number serializes the window stage; pg itself serializes
    // every draw through one buffer lock, so the semantics are
    // inherently serial — this is the OLTP write surface, not the
    // bulk-analytics path. Guards that keep the legacy per-row UDF
    // fill (single-JVM caveat at PgSequences): CYCLE sequences (a
    // block that wraps is not an arithmetic progression) and sources
    // that call sequence functions themselves (the count pass would
    // double-draw them).
    lazy val selectSrcCount: Long =
      try runSql(spark, s"SELECT count(*) FROM ( $src0 ) AS __graft_cnt")
        .head().getLong(0)
      catch { case scala.util.control.NonFatal(_) => -1L }
    val srcHasSeqFns = "(?i)nextval|setval|currval|lastval".r
      .findFirstIn(src0).isDefined
    def serialSelectExpr(f: StructField): String = {
      val seq = PgSequences.normName(f.metadata.getString("pg.serial"))
      val sparkTy = f.dataType.sql
      if (PgSequences.isCycle(seq) || srcHasSeqFns || selectSrcCount < 0)
        defaultExprSql(f, connId)
      else if (selectSrcCount == 0L) s"CAST(NULL AS $sparkTy)"
      else {
        val (first, inc) =
          PgSequences.reserveBlock(seq, selectSrcCount, connId)
        s"CAST($first + (row_number() OVER (ORDER BY " +
          s"monotonically_increasing_id()) - 1) * $inc AS $sparkTy)"
      }
    }
    // DEFAULT cells resolve to expressions that may be
    // nondeterministic, like any other non-literal cell — Spark's
    // inline VALUES requires foldable cells, so such rows become a
    // UNION ALL of SELECTs (serial cells are reserved literals and
    // would stay foldable, but non-serial defaults keep the
    // expression form)
    val src = (valueRows, reserved) match {
      case (Some(rs), Some(rv)) if hasExprCell =>
        rs.zip(rv).map { case (row, (cellVals, fillVals)) =>
          val cells = row.zipWithIndex.map { case (e, i) =>
            if (e.equalsIgnoreCase("DEFAULT") && i < colsEff.length)
              cellVals.get(i).map(v => s"CAST($v AS BIGINT)")
                .getOrElse(defaultExprSql(colsEff(i), connId))
            else e
          }
          "SELECT " + (cells ++ fillLits(fillVals)).mkString(", ")
        }.mkString(" UNION ALL ")
      case (Some(rs), Some(rv)) if serialFill.nonEmpty =>
        "VALUES " + rs.zip(rv).map { case (row, (_, fillVals)) =>
          "(" + (row ++ fillLits(fillVals)).mkString(", ") + ")"
        }.mkString(", ")
      case _ => src0
    }
    val colListSql =
      if (m.group(2) == null && colsEff.length == cols.length && fill.isEmpty) ""
      else s" (${(colsEff ++ fill).map(f => "\"" + f.name + "\"").mkString(", ")})"
    val nSerialSrc = if (valueRows.isDefined) serialFill.length else 0
    val gcols = colsEff.indices.map(i => s"__gc$i") ++
      (0 until nSerialSrc).map(j => s"__gf$j")
    val proj = colsEff.indices.map { i =>
      fams(i) match {
        case Some(fam) => s"__gc$i::$fam AS __gc$i"
        case None => s"__gc$i"
      }
    } ++ fill.zipWithIndex.map { case (f, k) =>
      val base =
        if (valueRows.isDefined && f.metadata.contains("pg.serial"))
          s"__gf${serialFill.indexWhere(_.name == f.name)}"
        else if (f.metadata.contains("pg.serial")) serialSelectExpr(f)
        else defaultExprSql(f, connId)
      familyOf(f) match {
        case Some(fam) => s"($base)::$fam AS __gs$k"
        case None => s"$base AS __gs$k"
      }
    }
    s"INSERT INTO ${m.group(1)}$colListSql SELECT ${proj.mkString(", ")} " +
      s"FROM ( $src ) AS __graft_ins(${gcols.mkString(", ")})$ret"
  }

  /** `INSERT INTO t [(cols)] <VALUES|SELECT …> RETURNING exprs` —
    * pg's insert-and-echo shape every ORM emits (parity-plus: the
    * reference has no RETURNING). The source rows are materialized
    * ONCE (persist), projected to the full target schema with
    * insertion casts, written via the catalog table's insertInto, and
    * the RETURNING projection is evaluated over the SAME materialized
    * rows — so a non-deterministic source still echoes exactly what
    * was written. Scale note: the INSERT write streams through
    * insertInto and the RETURNING rows stream to the client through
    * toLocalIterator (one partition on the driver at a time, same as
    * the SELECT path) — an `INSERT ... SELECT ... RETURNING` of a
    * large result never materializes driver-side.
    */
  private def insertReturning(spark: SparkSession, sql: String,
      retPos: Int): PgResult = {
    val retExprs = sql.substring(retPos + "RETURNING".length).trim
    val insertPart = sql.substring(0, retPos).trim
    val m = "(?is)^INSERT\\s+INTO\\s+(\"[^\"]+\"|[\\w$.]+)\\s*(\\(([^)]*)\\))?\\s*(.+)$"
      .r.findFirstMatchIn(insertPart).getOrElse(
        throw PgException("42601", s"cannot parse INSERT for RETURNING: $insertPart"))
    val table = {
      val raw = m.group(1)
      if (raw.startsWith("\"")) raw.substring(1, raw.length - 1) else raw
    }
    val colList = Option(m.group(3)).map(_.split(",").map(_.trim)
      .map(c => if (c.startsWith("\"") && c.endsWith("\"")) c.substring(1, c.length - 1) else c)
      .toSeq).getOrElse(Nil)
    val srcText = m.group(4).trim
    val tgtSchema =
      try spark.table(table).schema
      catch { case scala.util.control.NonFatal(_) =>
        throw PgException("42P01", s"""relation "$table" does not exist""") }
    val cols = if (colList.nonEmpty) colList else tgtSchema.fields.map(_.name).toSeq
    cols.foreach { c =>
      if (!tgtSchema.fieldNames.exists(_.equalsIgnoreCase(c)))
        throw PgException("42703",
          s"""column "$c" of relation "$table" does not exist""")
    }
    val srcSql =
      if (srcText.toUpperCase.startsWith("VALUES"))
        s"SELECT * FROM ($srcText) AS __vals"
      else srcText
    val src = runSql(spark, srcSql)
    if (src.schema.fields.length != cols.length)
      throw PgException("42601",
        s"INSERT has ${src.schema.fields.length} expressions but ${cols.length} target columns")
    val named = src.toDF(cols: _*)
    val viewName = s"__ins_ret_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    named.createOrReplaceTempView(viewName)
    val retView = s"${viewName}_out"
    val fullSel = tgtSchema.fields.toSeq.map { f =>
      cols.find(_.equalsIgnoreCase(f.name)) match {
        case Some(c) => s"CAST(`$c` AS ${f.dataType.sql}) AS `${f.name}`"
        case None => s"CAST(NULL AS ${f.dataType.sql}) AS `${f.name}`"
      }
    }
    val full = spark.sql(s"SELECT ${fullSel.mkString(", ")} FROM `$viewName`")
      .persist()
    // the temp views and the persisted write-set must outlive the
    // RETURNING stream — cleanup fires when the row iterator is
    // exhausted (or on any failure), not before
    val cleaned = new java.util.concurrent.atomic.AtomicBoolean(false)
    def cleanup(): Unit = if (cleaned.compareAndSet(false, true)) {
      try spark.catalog.dropTempView(retView)
      catch { case scala.util.control.NonFatal(_) => }
      try spark.catalog.dropTempView(viewName)
      catch { case scala.util.control.NonFatal(_) => }
      try full.unpersist()
      catch { case scala.util.control.NonFatal(_) => }
    }
    try {
      val n = full.count()
      full.write.insertInto(table)
      full.createOrReplaceTempView(retView)
      val out = runSql(spark, s"SELECT $retExprs FROM `$retView`")
      // stream the (client-bound) result partition-by-partition — a
      // driver collect() here made `INSERT ... SELECT ... RETURNING`
      // of a large result a driver-OOM, while the plain SELECT path
      // already rode toLocalIterator. The projection still evaluates
      // over the SAME persisted rows that were written.
      val it = out.toLocalIterator().asScala
      val streaming = new Iterator[Row] {
        override def hasNext: Boolean = {
          val h = try it.hasNext catch { case e: Throwable => cleanup(); throw e }
          if (!h) cleanup()
          h
        }
        override def next(): Row =
          try it.next() catch { case e: Throwable => cleanup(); throw e }
      }
      RowSet(out.schema, streaming, _ => s"INSERT 0 $n", onDiscard = cleanup)
    } catch { case e: Throwable => cleanup(); throw e }
  }

  /** Rows written by an eagerly-executed command (INSERT tag;
    * reference: handlers.rs:354-376 collects the count column).
    * Eager commands surface as CommandResultExec whose real write plan
    * (with the numOutputRows metric) hangs off commandPhysicalPlan,
    * not the children — unwrap it first.
    */
  private def outputRows(df: DataFrame): Long = {
    val top = df.queryExecution.executedPlan
    val root = top match {
      case c: org.apache.spark.sql.execution.CommandResultExec => c.commandPhysicalPlan
      case p => p
    }
    root.collectFirst {
      case p if p.metrics.contains("numOutputRows") => p.metrics("numOutputRows").value
    }.getOrElse(0L)
  }

  // ---- constraint enforcement + ON CONFLICT upsert -----------------------

  /** Parsed `ON CONFLICT …` clause. `doUpdate` is None for DO
    * NOTHING, Some((setText, whereText)) for DO UPDATE. */
  private[pgwire] final case class ConflictSpec(cols: Seq[String],
    constraintName: Option[String],
    doUpdate: Option[(String, Option[String])])

  /** Split a raw INSERT into (sql without the ON CONFLICT clause,
    * parsed spec). RETURNING (which follows the clause in pg's
    * grammar) is preserved in the returned SQL. */
  private[pgwire] def extractOnConflict(sql: String): (String, Option[ConflictSpec]) = {
    val confPos = Compat.topLevelKeywordPos(sql, "CONFLICT")
    if (confPos < 0) return (sql, None)
    // the preceding top-level word must be ON (JOIN … ON <CONFLICT?>
    // can't occur — CONFLICT is not a valid expression head)
    var j = confPos - 1
    while (j >= 0 && sql.charAt(j).isWhitespace) j -= 1
    val onEnd = j + 1
    while (j >= 0 && (sql.charAt(j).isLetter || sql.charAt(j) == '_')) j -= 1
    val onStart = j + 1
    if (!sql.substring(onStart, onEnd).equalsIgnoreCase("ON")) return (sql, None)
    val after = confPos + "CONFLICT".length
    val retRel = Compat.topLevelKeywordPos(sql.substring(after), "RETURNING")
    val clauseEnd = if (retRel >= 0) after + retRel else sql.length
    val clause = sql.substring(after, clauseEnd).trim.stripSuffix(";")
    val base = sql.substring(0, onStart) +
      (if (retRel >= 0) " " + sql.substring(clauseEnd) else "")
    // ---- parse the clause: [(cols) | ON CONSTRAINT name]
    //      DO NOTHING | DO UPDATE SET … [WHERE …]
    var rest = clause
    var cols: Seq[String] = Nil
    var consName: Option[String] = None
    if (rest.startsWith("(")) {
      val close = matchingParenStr(rest, 0)
      if (close < 0) throw PgException("42601", "syntax error in ON CONFLICT")
      cols = splitTopStr(rest.substring(1, close)).map(c => unq(c.trim))
      rest = rest.substring(close + 1).trim
      // a WHERE here is pg's partial-index inference — not supported
      if (rest.toUpperCase.startsWith("WHERE"))
        throw PgException("0A000",
          "ON CONFLICT index predicates (partial-index inference) are not supported")
    } else if (rest.toUpperCase.startsWith("ON")) {
      val m = "(?is)^ON\\s+CONSTRAINT\\s+(\"[^\"]+\"|[\\w$]+)\\s*(.*)$".r
        .findFirstMatchIn(rest).getOrElse(
          throw PgException("42601", "syntax error in ON CONFLICT"))
      consName = Some(unq(m.group(1)).toLowerCase)
      rest = m.group(2).trim
    }
    val spec =
      if ("(?is)^DO\\s+NOTHING\\s*$".r.findFirstIn(rest).isDefined)
        ConflictSpec(cols, consName, None)
      else {
        val m = "(?is)^DO\\s+UPDATE\\s+SET\\s+(.*)$".r.findFirstMatchIn(rest)
          .getOrElse(throw PgException("42601", "syntax error in ON CONFLICT"))
        if (cols.isEmpty && consName.isEmpty)
          throw PgException("42601",
            "ON CONFLICT DO UPDATE requires inference specification or constraint name")
        val tail = m.group(1).trim
        val wherePos = Compat.topLevelKeywordPos(tail, "WHERE")
        if (wherePos >= 0)
          ConflictSpec(cols, consName, Some((tail.substring(0, wherePos).trim,
            Some(tail.substring(wherePos + "WHERE".length).trim))))
        else ConflictSpec(cols, consName, Some((tail, None)))
      }
    (base, Some(spec))
  }

  /** Qualify a DO UPDATE SET/WHERE expression: `EXCLUDED.c` → the
    * proposed row (`__i.c`), `<table|alias>.c` and bare column names
    * → the existing row (`__e.c`). Splices into the RAW text so
    * string literals are never re-rendered. */
  private def qualifyConflictExpr(raw: String, table: String,
      alias: Option[String], schema: StructType): String = {
    val tblLower = table.toLowerCase
    val aliasLower = alias.map(_.toLowerCase)
    def colOf(name: String, quoted: Boolean): Option[String] =
      if (quoted) schema.fields.find(_.name == name).map(_.name)
      else schema.fields.find(_.name.equalsIgnoreCase(name)).map(_.name)
    val sb = new StringBuilder
    var i = 0
    val n = raw.length
    def prevNonWs(p0: Int): Char = {
      var p = p0
      while (p >= 0 && raw.charAt(p).isWhitespace) p -= 1
      if (p >= 0) raw.charAt(p) else '\u0000'
    }
    def nextNonWs(p0: Int): Char = {
      var p = p0
      while (p < n && raw.charAt(p).isWhitespace) p += 1
      if (p < n) raw.charAt(p) else '\u0000'
    }
    while (i < n) {
      val c = raw.charAt(i)
      if (c == '\'') {
        val st = i; i += 1
        while (i < n && !(raw.charAt(i) == '\'' &&
          !(i + 1 < n && raw.charAt(i + 1) == '\''))) {
          if (raw.charAt(i) == '\'' && i + 1 < n && raw.charAt(i + 1) == '\'') i += 2
          else i += 1
        }
        i = math.min(i + 1, n)
        sb.append(raw.substring(st, i))
      } else if (c == '"' || c.isLetter || c == '_') {
        // read an identifier chain: ident [. ident]
        def readIdent(at: Int): Option[(String, Boolean, Int)] = {
          if (at >= n) None
          else if (raw.charAt(at) == '"') {
            var e = at + 1
            while (e < n && raw.charAt(e) != '"') e += 1
            if (e >= n) None else Some((raw.substring(at + 1, e), true, e + 1))
          } else if (raw.charAt(at).isLetter || raw.charAt(at) == '_') {
            var e = at
            while (e < n && (raw.charAt(e).isLetterOrDigit ||
              raw.charAt(e) == '_' || raw.charAt(e) == '$')) e += 1
            Some((raw.substring(at, e), false, e))
          } else None
        }
        val first = readIdent(i).get
        val afterFirst = first._3
        val dotted =
          if (nextNonWs(afterFirst) == '.') {
            var p = afterFirst
            while (p < n && raw.charAt(p).isWhitespace) p += 1
            readIdent(p + 1).map(second => (second, second._3))
          } else None
        val prevC = prevNonWs(i - 1)
        dotted match {
          case Some(((colName, colQuoted, _), chainEnd)) if prevC != '.' =>
            val q = first._1.toLowerCase
            val isExcluded = !first._2 && q == "excluded"
            val isTarget = (!first._2 && (q == tblLower || aliasLower.contains(q))) ||
              (first._2 && (first._1 == table || alias.contains(first._1)))
            if (isExcluded || isTarget) {
              val col = colOf(colName, colQuoted).getOrElse(
                throw PgException("42703",
                  s"""column "$colName" of relation "$table" does not exist"""))
              sb.append(if (isExcluded) "__i." else "__e.").append(qid(col))
              i = chainEnd
            } else { sb.append(raw.substring(i, chainEnd)); i = chainEnd }
          case _ =>
            // bare identifier: a column name (not a function call, not
            // a `::type` target, not a qualifier we just emitted)
            val isFnCall = nextNonWs(afterFirst) == '('
            val isCastTarget = prevC == ':'
            val isQualified = prevC == '.'
            colOf(first._1, first._2) match {
              case Some(col) if !isFnCall && !isCastTarget && !isQualified &&
                  !(nextNonWs(afterFirst) == '.') =>
                sb.append("__e.").append(qid(col)); i = afterFirst
              case _ =>
                sb.append(raw.substring(i, afterFirst)); i = afterFirst
            }
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** pg's 23502 DETAIL row rendering — values through the type output
    * functions, NULL as the literal `null`. */
  private def renderRowDetail(row: Row, schema: StructType,
      zone: java.time.ZoneId): String =
    schema.fields.indices.map { i =>
      TextEncoder.encodeField(row.get(i), schema.fields(i), zone)
        .getOrElse("null")
    }.mkString("(", ", ", ")")

  /** 23502 check over the rows actually being written. */
  private def checkNotNull(df: DataFrame, schema: StructType, table: String,
      zone: java.time.ZoneId): Unit = {
    val nn = PgConstraints.notNullCols(schema)
    if (nn.isEmpty) return
    import org.apache.spark.sql.functions.col
    nn.foreach { c =>
      val bad = df.where(col(c).isNull).limit(1).collect()
      if (bad.nonEmpty)
        throw PgException("23502",
          s"""null value in column "${c}" of relation "$table" violates not-null constraint
DETAIL:  Failing row contains ${renderRowDetail(bad(0), schema, zone)}.""")
    }
  }

  /** 23505 check: any duplicate non-null key group in `df` (which
    * should be the candidate FINAL table state) violates `u`. A
    * constraint currently DEFERRED (r18) skips its probe and queues a
    * commit-time re-check instead. `table` names the probe queue's
    * target; callers pass candidate frames, the commit probe re-reads
    * the live table. */
  private def checkUniqueDups(df: DataFrame, schema: StructType,
      uniques0: Seq[PgConstraints.Unique], zone: java.time.ZoneId,
      table: String = ""): Unit = {
    import org.apache.spark.sql.functions.{col, count, lit}
    val uniques = uniques0.filter { u =>
      val defer = table.nonEmpty &&
        TxnCtx.deferred(u.name, u.deferrable, u.initiallyDeferred)
      if (defer) TxnCtx.addPending("u", table, u.name)
      !defer
    }
    uniques.foreach { u =>
      val keyed = u.cols.foldLeft(df)((d, c) => d.where(col(c).isNotNull))
      val dup = keyed.groupBy(u.cols.map(col): _*)
        .agg(count(lit(1)).as("__n")).where(col("__n") > 1)
        .limit(1).collect()
      if (dup.nonEmpty) {
        val fs = u.cols.map(c => schema.fields.find(_.name.equalsIgnoreCase(c)).get)
        val vals = fs.indices.map(i =>
          TextEncoder.encodeField(dup(0).get(i), fs(i), zone).getOrElse("null"))
        throw PgException("23505",
          s"""duplicate key value violates unique constraint "${u.name}"
DETAIL:  Key (${u.cols.mkString(", ")})=(${vals.mkString(", ")}) already exists.""")
      }
    }
  }

  /** FKs of `table` structurally decoded; legacy/unparseable condefs
    * are skipped (recorded-only). */
  private def fkDefs(table: String, schema: StructType)
      : Seq[(PgConstraints.Fk, PgConstraints.FkDef)] =
    PgConstraints.fksOf(table, schema).flatMap(f =>
      PgConstraints.parseFk(f).map(d => (f, d)))

  /** 23503 probe over rows being written into a child table (INSERT /
    * UPDATE / COPY / ALTER ADD FK validation): every row whose FK
    * members are ALL non-null (MATCH SIMPLE — any NULL member passes,
    * pg's default) must find its parent key, via a distributed
    * LEFT ANTI join against the parent's key projection (LIMIT-1
    * driver probe only on violation, the 23505 pattern). `selfNext`
    * supplies the candidate post-write parent state for
    * self-referencing FKs — pg checks at statement end, so a batch
    * may reference rows it itself inserts. */
  private def checkFksChild(spark: SparkSession, df: DataFrame,
      schema: StructType, table: String, zone: java.time.ZoneId,
      selfNext: Option[DataFrame] = None): Unit =
    fkDefs(table, schema).foreach { case (fk, d) =>
      probeFkChild(spark, df, schema, table, fk, d, zone, selfNext)
    }

  /** One FK's child-side anti-join probe (shared by [[checkFksChild]]
    * and ALTER ADD FK's existing-row validation). A constraint
    * currently DEFERRED (r18) skips and queues the commit re-check. */
  private def probeFkChild(spark: SparkSession, df: DataFrame,
      schema: StructType, table: String, fk: PgConstraints.Fk,
      d: PgConstraints.FkDef, zone: java.time.ZoneId,
      selfNext: Option[DataFrame],
      parentOverride: Option[DataFrame] = None): Unit = {
    if (TxnCtx.deferred(fk.name, d.deferrable, d.initiallyDeferred)) {
      TxnCtx.addPending("fc",
        PgSequences.normName(table).split("\\.").last, fk.name)
      return
    }
    probeFkChildNow(spark, df, schema, table, fk, d, zone, selfNext,
      parentOverride)
  }

  /** The probe itself (no deferral gate — also the commit-time
    * runner's entry). `parentWording` selects pg's delete-side
    * message (`update or delete on table "<parentName>" …`), used
    * when the queued violation came from a parent-side statement. */
  private def probeFkChildNow(spark: SparkSession, df: DataFrame,
      schema: StructType, table: String, fk: PgConstraints.Fk,
      d: PgConstraints.FkDef, zone: java.time.ZoneId,
      selfNext: Option[DataFrame],
      parentOverride: Option[DataFrame] = None,
      parentWording: Boolean = false, parentName: String = ""): Unit = {
    import org.apache.spark.sql.functions.col
    val tNorm = PgSequences.normName(table).split("\\.").last
    val childFields = d.cols.flatMap(c =>
      schema.fields.find(_.name.equalsIgnoreCase(c)))
    val parentOpt =
      if (parentOverride.isDefined) parentOverride
      else if (d.refTable.equalsIgnoreCase(tNorm) && selfNext.isDefined) selfNext
      else scala.util.Try(spark.table(d.refTable)).toOption
    parentOpt match {
      case Some(parent0) if childFields.length == d.cols.length =>
        val parentFields = d.refCols.flatMap(c =>
          parent0.schema.fields.find(_.name.equalsIgnoreCase(c)))
        if (parentFields.length == d.refCols.length) {
          val probe = df
            .select(childFields.map(f => col(f.name)): _*)
            .where(childFields.map(f => col(f.name).isNotNull).reduce(_ && _))
          val pk = parent0
            .select(parentFields.map(f => col(f.name)): _*)
            .toDF(childFields.indices.map(i => s"__fk_p_$i"): _*)
          val cond = childFields.zipWithIndex
            .map { case (f, i) => probe(f.name) === pk(s"__fk_p_$i") }
            .reduce(_ && _)
          val bad = probe.join(pk, cond, "left_anti").limit(1).collect()
          if (bad.nonEmpty) {
            val vals = childFields.indices.map(i =>
              TextEncoder.encodeField(bad(0).get(i), childFields(i), zone)
                .getOrElse("null"))
            if (parentWording)
              throw PgException("23503",
                s"""update or delete on table "$parentName" violates foreign key constraint "${fk.name}" on table "$tNorm"
DETAIL:  Key (${d.refCols.mkString(", ")})=(${vals.mkString(", ")}) is still referenced from table "$tNorm".""")
            throw PgException("23503",
              s"""insert or update on table "$tNorm" violates foreign key constraint "${fk.name}"
DETAIL:  Key (${d.cols.mkString(", ")})=(${vals.mkString(", ")}) is not present in table "${d.refTable}".""")
          }
        }
      case _ => // parent dropped out from under a recorded FK: skip
    }
  }

  /** FKs in OTHER user tables that reference `parent` — reverse
    * lookup over the session catalog. Dimension-sized (table COUNT,
    * not data) and only consulted on parent-side DML, which already
    * rewrites the whole table. */
  private def referencingFks(spark: SparkSession, parent: String)
      : Seq[(String, StructType, PgConstraints.Fk, PgConstraints.FkDef)] = {
    val pNorm = PgSequences.normName(parent).split("\\.").last
    PgCatalog.userTables(spark).flatMap { t =>
      scala.util.Try(spark.table(t).schema).toOption.toSeq.flatMap { schema =>
        fkDefs(t, schema)
          .filter(_._2.refTable.equalsIgnoreCase(pNorm))
          .map { case (fk, d) => (t, schema, fk, d) }
      }
    }
  }

  private def cascadeClass(a: Char): Boolean = a == 'c' || a == 'n' || a == 'd'

  /** Parent-side 23503 gate for UPDATEs rewriting referenced keys
    * (DELETE paths run [[execFkDeleteActions]] instead since r17):
    * any child row still referencing a key in `vanished` (old keys an
    * UPDATE rewrote) refuses the write. NO ACTION and RESTRICT behave
    * identically (no deferred constraints); a cascade-class ON UPDATE
    * action raises an honest 0A000 at the moment it would fire.
    * `selfChildState` overrides the child frame for self-referencing
    * FKs (the child rows that survive this same statement). */
  private def checkFksParent(spark: SparkSession, table: String,
      vanished: DataFrame, zone: java.time.ZoneId, isDelete: Boolean,
      selfChildState: Option[DataFrame] = None,
      touchedCols: Option[Set[String]] = None,
      nextState: Option[DataFrame] = None): Unit = {
    import org.apache.spark.sql.functions.col
    val tNorm = PgSequences.normName(table).split("\\.").last
    val refs = referencingFks(spark, table)
    if (refs.isEmpty) return
    refs.foreach { case (childT, childSchema, fk, d) =>
      val relevant = touchedCols.forall(tc =>
        d.refCols.exists(c => tc.contains(c.toLowerCase)))
      // r18: a deferred NO ACTION check skips its probe and queues
      // the commit-time re-check (referential ACTIONS other than the
      // NO ACTION check can never be deferred — pg's rule — so only
      // the 'a' arm is gated)
      val action0 = if (isDelete) d.onDelete else d.onUpdate
      val deferSkip = relevant && action0 == 'a' &&
        TxnCtx.deferred(fk.name, d.deferrable, d.initiallyDeferred)
      if (deferSkip)
        TxnCtx.addPending("fp",
          PgSequences.normName(childT).split("\\.").last, fk.name, tNorm)
      val parentFields = d.refCols.flatMap(c =>
        vanished.schema.fields.find(_.name.equalsIgnoreCase(c)))
      val childFields = d.cols.flatMap(c =>
        childSchema.fields.find(_.name.equalsIgnoreCase(c)))
      if (!deferSkip && relevant && parentFields.length == d.refCols.length &&
          childFields.length == d.cols.length) {
        val child0 =
          if (childT.equalsIgnoreCase(tNorm) && selfChildState.isDefined)
            selfChildState.get
          else spark.table(childT)
        val probe = child0
          .select(childFields.map(f => col(f.name)): _*)
          .where(childFields.map(f => col(f.name).isNotNull).reduce(_ && _))
          .toDF(childFields.indices.map(i => s"__fk_c_$i"): _*)
        // a key only VANISHES if no surviving parent row still holds
        // it — an UPDATE that rewrote a row without changing its key
        // must not trip (nextState = the candidate post-write table)
        val keys0 = vanished.select(parentFields.map(f => col(f.name)): _*)
        val keys = nextState.map(ns => keys0.except(
          ns.select(parentFields.map(f => col(f.name)): _*))).getOrElse(keys0)
        val cond = parentFields.zipWithIndex
          .map { case (f, i) => keys(f.name) === probe(s"__fk_c_$i") }
          .reduce(_ && _)
        val bad = keys.join(probe, cond, "left_semi").limit(1).collect()
        if (bad.nonEmpty) {
          val action = if (isDelete) d.onDelete else d.onUpdate
          if (cascadeClass(action))
            throw PgException("0A000",
              s"cascading referential action for foreign key constraint " +
                s""""${fk.name}" on table "$childT" is not supported""")
          val vals = parentFields.indices.map(i =>
            TextEncoder.encodeField(bad(0).get(i), parentFields(i), zone)
              .getOrElse("null"))
          throw PgException("23503",
            s"""update or delete on table "$tNorm" violates foreign key constraint "${fk.name}" on table "$childT"
DETAIL:  Key (${d.refCols.mkString(", ")})=(${vals.mkString(", ")}) is still referenced from table "$childT".""")
        }
      }
    }
  }

  /** Executes ON DELETE referential ACTIONS (r17): CASCADE deletes
    * referencing child rows, SET NULL / SET DEFAULT rewrite their FK
    * columns — each one more distributed anti/semi-join step inside
    * the statement, recursing through [[referencingFks]] for
    * multi-level graphs (a worklist with per-table candidate states,
    * so self-referencing CASCADE chains run to their fixpoint).
    * NO ACTION / RESTRICT keep their 23503 probe, now against the
    * post-cascade candidate child state. Rewritten child rows
    * re-validate their own constraints in pg's order: NOT NULL
    * (23502), CHECK (23514), UNIQUE over the candidate final state
    * (23505), and SET DEFAULT re-probes the default key against the
    * post-delete parent (23503). A SET NULL/DEFAULT key rewrite fires
    * grandchild FKs through the existing ON UPDATE gate (NO ACTION
    * probes; cascade-class ON UPDATE remains 0A000 — the documented
    * r17 cut line).
    *
    * Returns the COMPLETE (table → new state) write set — the parent's
    * own rewrite included, since a self-referencing CASCADE narrows
    * the parent beyond its direct survivors — which the caller stages
    * in one [[overwriteTables]] pass, so every violation surfaces
    * before any table is touched (pg's statement atomicity).
    *
    * Scale: each wave is key-projection joins — the vanished-key set
    * (bounded by the statement's deleted rows) localCheckpoints once
    * per FK edge and drives one semi- and one anti-join against the
    * child; no per-row driver work, violation samples are LIMIT-1.
    */
  private def execFkDeleteActions(spark: SparkSession, table: String,
      deletedRows: DataFrame, survivors: DataFrame, zone: java.time.ZoneId,
      connId: Int): Seq[(String, DataFrame)] = {
    import org.apache.spark.sql.functions.{col, lit}
    if (referencingFks(spark, table).isEmpty) return Seq(table -> survivors)
    def norm(t: String): String =
      PgSequences.normName(t).split("\\.").last.toLowerCase
    val rootNorm = norm(table)
    // candidate post-statement state per touched table + display names
    val states = scala.collection.mutable.LinkedHashMap[String, DataFrame]()
    val display = scala.collection.mutable.LinkedHashMap[String, String]()
    states(rootNorm) = survivors
    display(rootNorm) = table
    def stateOf(t: String): DataFrame =
      states.getOrElse(norm(t), spark.table(t))
    val queue = scala.collection.mutable.Queue[(String, DataFrame)]()
    queue += table -> deletedRows
    var waves = 0
    while (queue.nonEmpty) {
      waves += 1
      if (waves > 100)
        throw PgException("54001",
          "foreign key cascade exceeds 100 levels")
      val (t, newRows) = queue.dequeue()
      val tN = norm(t)
      referencingFks(spark, t).foreach { case (childT, childSchema, fk, d) =>
        val cN = norm(childT)
        val parentFields = d.refCols.flatMap(c =>
          newRows.schema.fields.find(_.name.equalsIgnoreCase(c)))
        val childFields = d.cols.flatMap(c =>
          childSchema.fields.find(_.name.equalsIgnoreCase(c)))
        if (parentFields.length == d.refCols.length &&
            childFields.length == d.cols.length) {
          // keys leaving `t` in this wave (pg FKs reference unique
          // cols, so a deleted key has no surviving duplicate)
          val keys = newRows
            .select(parentFields.map(f => col(f.name)): _*)
            .toDF(childFields.indices.map(i => s"__fk_k_$i"): _*)
            .where(childFields.indices.map(i =>
              col(s"__fk_k_$i").isNotNull).reduce(_ && _))
            .distinct()
            .localCheckpoint() // break lineage: stable under rewrites + self-joins
          if (!keys.isEmpty) {
            val childState = stateOf(childT)
            val cond = childFields.zipWithIndex.map { case (f, i) =>
              childState(f.name) === keys(s"__fk_k_$i") }.reduce(_ && _)
            d.onDelete match {
              case 'a' if TxnCtx.deferred(fk.name, d.deferrable,
                  d.initiallyDeferred) =>
                // r18: deferred NO ACTION — the delete proceeds,
                // dangling children re-probe at COMMIT
                TxnCtx.addPending("fp", cN, fk.name, tN)
              case 'a' | 'r' =>
                val sample = keys.join(
                  childState
                    .select(childFields.map(f => col(f.name)): _*)
                    .toDF(childFields.indices.map(i => s"__fk_c_$i"): _*),
                  childFields.indices.map(i =>
                    col(s"__fk_k_$i") === col(s"__fk_c_$i")).reduce(_ && _),
                  "left_semi").limit(1).collect()
                if (sample.nonEmpty) {
                  val vals = parentFields.indices.map(i =>
                    TextEncoder.encodeField(sample(0).get(i), parentFields(i), zone)
                      .getOrElse("null"))
                  throw PgException("23503",
                    s"""update or delete on table "$tN" violates foreign key constraint "${fk.name}" on table "$childT"
DETAIL:  Key (${d.refCols.mkString(", ")})=(${vals.mkString(", ")}) is still referenced from table "$childT".""")
                }
              case 'c' =>
                val aff = childState.join(keys, cond, "left_semi")
                  .localCheckpoint()
                if (!aff.isEmpty) {
                  states(cN) = childState.join(keys, cond, "left_anti")
                  display(cN) = childT
                  queue += childT -> aff
                }
              case act @ ('n' | 'd') =>
                val aff = childState.join(keys, cond, "left_semi")
                  .localCheckpoint()
                if (!aff.isEmpty) {
                  val fkColNames = childFields.map(_.name)
                  val modified: DataFrame =
                    if (act == 'n')
                      childFields.foldLeft(aff)((df, f) =>
                        df.withColumn(f.name, lit(null).cast(f.dataType)))
                    else {
                      // SET DEFAULT: FK columns take their declared
                      // defaults through the pg-dialect default exprs
                      val v = "__fkd_" +
                        java.util.UUID.randomUUID().toString.replace("-", "")
                      aff.createOrReplaceTempView(v)
                      // pg-dialect projection (runSql rewrites it):
                      // pg-style double-quoted identifiers, defaults
                      // carrying their ::casts and sequence binds
                      def dq(nm: String) = "\"" + nm.replace("\"", "\"\"") + "\""
                      try runSql(spark,
                        childSchema.fields.map { f =>
                          if (fkColNames.exists(_.equalsIgnoreCase(f.name)))
                            s"(${defaultExprSql(f, connId)}) AS ${dq(f.name)}"
                          else dq(f.name)
                        }.mkString("SELECT ", ", ", s" FROM ${dq(v)}"))
                        .localCheckpoint()
                      finally {
                        try spark.catalog.dropTempView(v)
                        catch { case scala.util.control.NonFatal(_) => }
                      }
                    }
                  checkNotNull(modified, childSchema, cN, zone)
                  checkChecks(spark, modified, childSchema, childT, zone)
                  val newChild = childState.join(keys, cond, "left_anti")
                    .unionByName(modified)
                  checkUniqueDups(newChild, childSchema,
                    PgConstraints.uniquesOf(childT, childSchema), zone,
                    table = childT)
                  if (act == 'd')
                    probeFkChild(spark, modified, childSchema, childT, fk, d,
                      zone, selfNext = None,
                      parentOverride = Some(stateOf(t)))
                  // grandchild FKs see the FK columns as UPDATEd keys
                  checkFksParent(spark, childT, aff, zone, isDelete = false,
                    selfChildState = Some(newChild),
                    touchedCols = Some(fkColNames.map(_.toLowerCase).toSet),
                    nextState = Some(newChild))
                  states(cN) = newChild
                  display(cN) = childT
                }
              case _ => ()
            }
          }
        }
      }
    }
    states.toSeq.map { case (n, df) => display(n) -> df }
  }

  /** Executes ON UPDATE referential actions (r17 late batch — closes
    * the last cut): CASCADE copies the parent's NEW key into
    * referencing child rows, SET NULL / SET DEFAULT rewrite their FK
    * columns — fired only for rows whose referenced key VALUE
    * actually changed (pg's rule), recursing when a child's own
    * referenced columns change. Also runs the NO ACTION / RESTRICT
    * 23503 probe (a changed-away key still referenced, unless another
    * row re-introduces it), so it fully REPLACES [[checkFksParent]]
    * on the deterministic direct-UPDATE paths. `pairs0` carries
    * row-aligned `__o`/`__n` structs (old/new values of the updated
    * rows — built in ONE projection, so alignment is by construction).
    * Returns the COMPLETE write set incl. the parent (a
    * self-referencing CASCADE rewrites the parent beyond `next0`).
    * Rewritten child rows re-validate NOT NULL / CHECK / UNIQUE, and
    * SET DEFAULT re-probes its default key against the parent's next
    * state. The nondeterministic-SET path keeps the old gate
    * (cascade-class → 0A000): evaluating the pairs projection would
    * re-draw per-row sequence values.
    */
  private def execFkUpdateActions(spark: SparkSession, table: String,
      pairs0: DataFrame, next0: DataFrame, touched0: Set[String],
      zone: java.time.ZoneId, connId: Int): Seq[(String, DataFrame)] = {
    import org.apache.spark.sql.functions.{col, lit, struct, when}
    if (referencingFks(spark, table).isEmpty) return Seq(table -> next0)
    def norm(t: String): String =
      PgSequences.normName(t).split("\\.").last.toLowerCase
    val states = scala.collection.mutable.LinkedHashMap[String, DataFrame]()
    val display = scala.collection.mutable.LinkedHashMap[String, String]()
    states(norm(table)) = next0
    display(norm(table)) = table
    def stateOf(t: String): DataFrame =
      states.getOrElse(norm(t), spark.table(t))
    val queue =
      scala.collection.mutable.Queue[(String, DataFrame, Set[String])]()
    queue += ((table, pairs0, touched0))
    var waves = 0
    while (queue.nonEmpty) {
      waves += 1
      if (waves > 100)
        throw PgException("54001", "foreign key cascade exceeds 100 levels")
      val (t, pairs, touched) = queue.dequeue()
      val tN = norm(t)
      referencingFks(spark, t).foreach { case (childT, childSchema, fk, d) =>
        val cN = norm(childT)
        val oStruct = pairs.schema("__o").dataType.asInstanceOf[StructType]
        val pFields = d.refCols.flatMap(c =>
          oStruct.fields.find(_.name.equalsIgnoreCase(c)))
        val cFields = d.cols.flatMap(c =>
          childSchema.fields.find(_.name.equalsIgnoreCase(c)))
        if (d.refCols.exists(c => touched.contains(c.toLowerCase)) &&
            pFields.length == d.refCols.length &&
            cFields.length == d.cols.length) {
          val oldNonNull = pFields
            .map(f => col(s"__o.${f.name}").isNotNull).reduce(_ && _)
          val valueChanged = pFields
            .map(f => !(col(s"__o.${f.name}") <=> col(s"__n.${f.name}")))
            .reduce(_ || _)
          val changed = pairs.where(oldNonNull && valueChanged)
            .select(
              pFields.zipWithIndex.map { case (f, i) =>
                col(s"__o.${f.name}").as(s"__ok_$i") } ++
              pFields.zipWithIndex.map { case (f, i) =>
                col(s"__n.${f.name}").as(s"__nk_$i") }: _*)
            .distinct()
            .localCheckpoint()
          if (!changed.isEmpty) {
            val childState = stateOf(childT)
            val cond = cFields.zipWithIndex.map { case (f, i) =>
              childState(f.name) === changed(s"__ok_$i") }.reduce(_ && _)
            d.onUpdate match {
              case 'a' if TxnCtx.deferred(fk.name, d.deferrable,
                  d.initiallyDeferred) =>
                // r18: deferred NO ACTION — the key rewrite proceeds,
                // dangling children re-probe at COMMIT
                TxnCtx.addPending("fp", cN, fk.name, tN)
              case 'a' | 'r' =>
                // a key only VANISHES if no row of the parent's next
                // state still holds it
                val parentState = stateOf(t)
                val prFields = d.refCols.flatMap(c =>
                  parentState.schema.fields.find(_.name.equalsIgnoreCase(c)))
                val vanished = changed
                  .select(cFields.indices.map(i => col(s"__ok_$i")): _*)
                  .except(parentState
                    .select(prFields.map(f => col(f.name)): _*)
                    .toDF(cFields.indices.map(i => s"__ok_$i"): _*))
                val sample = vanished.join(
                  childState
                    .where(cFields.map(f => col(f.name).isNotNull).reduce(_ && _))
                    .select(cFields.map(f => col(f.name)): _*)
                    .toDF(cFields.indices.map(i => s"__fk_c_$i"): _*),
                  cFields.indices.map(i =>
                    col(s"__ok_$i") === col(s"__fk_c_$i")).reduce(_ && _),
                  "left_semi").limit(1).collect()
                if (sample.nonEmpty) {
                  val vals = pFields.indices.map(i =>
                    TextEncoder.encodeField(sample(0).get(i), pFields(i), zone)
                      .getOrElse("null"))
                  throw PgException("23503",
                    s"""update or delete on table "$tN" violates foreign key constraint "${fk.name}" on table "$childT"
DETAIL:  Key (${d.refCols.mkString(", ")})=(${vals.mkString(", ")}) is still referenced from table "$childT".""")
                }
              case act @ ('c' | 'n' | 'd') =>
                val fkColNames = cFields.map(_.name)
                val childPairs: DataFrame =
                  if (act == 'd') {
                    // defaults via the pg-dialect exprs, one aligned
                    // projection over the affected rows
                    val affected = childState.join(changed, cond, "left_semi")
                    val v = "__fku_" +
                      java.util.UUID.randomUUID().toString.replace("-", "")
                    affected.createOrReplaceTempView(v)
                    def dq(nm: String) = "\"" + nm.replace("\"", "\"\"") + "\""
                    def lf(nm: String) = "'" + nm.replace("'", "''") + "'"
                    try runSql(spark,
                      "SELECT named_struct(" +
                        childSchema.fields.map(f =>
                          s"${lf(f.name)}, ${dq(f.name)}").mkString(", ") +
                        ") AS __o, named_struct(" +
                        childSchema.fields.map { f =>
                          val e =
                            if (fkColNames.exists(_.equalsIgnoreCase(f.name)))
                              s"(${defaultExprSql(f, connId)})"
                            else dq(f.name)
                          s"${lf(f.name)}, $e"
                        }.mkString(", ") +
                        s") AS __n FROM ${dq(v)}")
                      .localCheckpoint()
                    finally {
                      try spark.catalog.dropTempView(v)
                      catch { case scala.util.control.NonFatal(_) => }
                    }
                  } else {
                    // one inner join — old FK keys are unique in
                    // `changed`, so no row duplication
                    val j = childState.join(changed, cond, "inner")
                    val newCols = childSchema.fields.map { f =>
                      val ci = cFields.indexWhere(_.name.equalsIgnoreCase(f.name))
                      if (ci >= 0) {
                        val nv =
                          if (act == 'c') j(s"__nk_$ci")
                          else lit(null).cast(f.dataType)
                        nv.as(f.name)
                      } else j(f.name).as(f.name)
                    }
                    j.select(
                      struct(childSchema.fields.map(f =>
                        j(f.name).as(f.name)): _*).as("__o"),
                      struct(newCols: _*).as("__n"))
                      .localCheckpoint()
                  }
                if (!childPairs.isEmpty) {
                  val modified = childPairs.select(col("__n.*"))
                  checkNotNull(modified, childSchema, cN, zone)
                  checkChecks(spark, modified, childSchema, childT, zone)
                  val newChild = childState.join(changed, cond, "left_anti")
                    .unionByName(modified)
                  checkUniqueDups(newChild, childSchema,
                    PgConstraints.uniquesOf(childT, childSchema), zone,
                    table = childT)
                  if (act == 'd')
                    probeFkChild(spark, modified, childSchema, childT, fk, d,
                      zone, selfNext = None,
                      parentOverride = Some(stateOf(t)))
                  states(cN) = newChild
                  display(cN) = childT
                  queue += ((childT, childPairs,
                    fkColNames.map(_.toLowerCase).toSet))
                }
              case _ => ()
            }
          }
        }
      }
    }
    states.toSeq.map { case (n, df) => display(n) -> df }
  }

  /** INSERT against a table with declared constraints and/or an ON
    * CONFLICT clause. pg-parity semantics, all live-pinned
    * (PgDmlSpec): 23502/23505 with pg's DETAIL lines, DO NOTHING
    * keep-first within a batch, DO UPDATE with EXCLUDED/target-row
    * qualification, 21000 when two proposed rows hit the same
    * existing row, `INSERT 0 <inserted+updated>` tags.
    *
    * Scale note: the write-set is persisted once and every check is a
    * distributed aggregate/anti-join over it (no driver collects
    * beyond LIMIT-1 violation probes and the RETURNING rows, which
    * materialize before the table rewrite like UPDATE's). Constraint
    * tables are the wire-DDL OLTP surface; bulk analytics tables
    * take the streaming unconstrained path.
    */
  private def insertChecked(spark: SparkSession, session: Session,
      canonSql: String, spec: Option[ConflictSpec],
      insAlias: Option[String]): PgResult = {
    import org.apache.spark.sql.functions.{col, count, lit, monotonically_increasing_id, row_number}
    val retPos = Compat.topLevelKeywordPos(canonSql, "RETURNING")
    val (insertPart, retExprs) =
      if (retPos >= 0) (canonSql.substring(0, retPos).trim,
        Some(canonSql.substring(retPos + "RETURNING".length).trim))
      else (canonSql.trim.stripSuffix(";"), None)
    val m = "(?is)^INSERT\\s+INTO\\s+(\"[^\"]+\"|[\\w$.]+)\\s*(\\(([^)]*)\\))?\\s*(.+)$".r
      .findFirstMatchIn(insertPart).getOrElse(
        throw PgException("42601", s"cannot parse INSERT: $insertPart"))
    val table = unq(m.group(1))
    val tgtSchema =
      try spark.table(table).schema
      catch { case scala.util.control.NonFatal(_) =>
        throw PgException("42P01", s"""relation "$table" does not exist""") }
    val cols = Option(m.group(3)).map(_.split(",").map(c => unq(c.trim)).toSeq)
      .getOrElse(tgtSchema.fields.map(_.name).toSeq)
    cols.foreach { c =>
      if (!tgtSchema.fieldNames.exists(_.equalsIgnoreCase(c)))
        throw PgException("42703",
          s"""column "$c" of relation "$table" does not exist""")
    }
    val srcText = m.group(4).trim
    val srcSql =
      if (srcText.toUpperCase.startsWith("VALUES"))
        s"SELECT * FROM ($srcText) AS __vals"
      else srcText
    val src = runSql(spark, srcSql)
    if (src.schema.fields.length != cols.length)
      throw PgException("42601",
        s"INSERT has ${src.schema.fields.length} expressions but ${cols.length} target columns")
    val named = src.toDF(cols: _*)
    val zone = java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)
    val viewName = s"__ins_chk_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    named.createOrReplaceTempView(viewName)
    val fullSel = tgtSchema.fields.toSeq.map { f =>
      cols.find(_.equalsIgnoreCase(f.name)) match {
        case Some(c) => s"CAST(`$c` AS ${f.dataType.sql}) AS `${f.name}`"
        case None => s"CAST(NULL AS ${f.dataType.sql}) AS `${f.name}`"
      }
    }
    val full = spark.sql(s"SELECT ${fullSel.mkString(", ")} FROM `$viewName`")
      .persist()
    val uniques = PgConstraints.uniquesOf(table, tgtSchema)
    val fieldName = (c: String) =>
      tgtSchema.fields.find(_.name.equalsIgnoreCase(c)).get.name
    def resolveArbiters(s: ConflictSpec): Seq[PgConstraints.Unique] =
      s.constraintName match {
        case Some(n) =>
          val hit = uniques.filter(_.name.equalsIgnoreCase(n))
          if (hit.isEmpty) throw PgException("42704",
            s"""constraint "$n" for table "$table" does not exist""")
          hit.take(1)
        case None if s.cols.nonEmpty =>
          val want = s.cols.map(_.toLowerCase).toSet
          val hit = uniques.filter(_.cols.map(_.toLowerCase).toSet == want)
          if (hit.isEmpty) throw PgException("42P10",
            "there is no unique or exclusion constraint matching the ON CONFLICT specification")
          hit.take(1)
        case None => uniques // DO NOTHING without a target: every arbiter
      }
    /** RETURNING projection, materialized distributed (never a driver
      * collect — an `INSERT … SELECT <millions> ON CONFLICT … RETURNING *`
      * must stream) BEFORE the table write; Complete when absent. */
    def retStream(n: Long, affected: DataFrame): PgResult = retExprs match {
      case None => Complete(s"INSERT 0 $n")
      case Some(ret) =>
        val v = s"__ins_aff_${java.util.UUID.randomUUID().toString.replace("-", "")}"
        affected.createOrReplaceTempView(v)
        try materializedRowSet(
          runSql(spark, s"SELECT $ret FROM `$v` AS ${qid(insAlias.getOrElse(table))}"),
          _ => s"INSERT 0 $n")
        finally {
          try spark.catalog.dropTempView(v)
          catch { case scala.util.control.NonFatal(_) => }
        }
    }
    try {
      spec match {
        case None =>
          // plain insert into a constrained table
          val n = full.count()
          checkNotNull(full, tgtSchema, table, zone)
          checkChecks(spark, full, tgtSchema, table, zone)
          if (uniques.nonEmpty)
            checkUniqueDups(
              spark.table(table).unionByName(full.select(tgtSchema.fieldNames.map(col).toSeq: _*)),
              tgtSchema, uniques, zone, table = table)
          checkFksChild(spark, full, tgtSchema, table, zone,
            Some(spark.table(table).unionByName(
              full.select(tgtSchema.fieldNames.map(col).toSeq: _*))))
          val r = retStream(n, full)
          afterWrite(r)(full.write.insertInto(table))

        case Some(s) if s.doUpdate.isEmpty =>
          // DO NOTHING: keep-first within the batch per arbiter, then
          // drop rows that collide with stored ones (NULL keys exempt)
          val arbiters = resolveArbiters(s)
          val existing = spark.table(table)
          var surv = full.withColumn("__ord", monotonically_increasing_id())
          arbiters.foreach { u =>
            val kcols = u.cols.map(fieldName)
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy(kcols.map(col): _*).orderBy(col("__ord"))
            val anyNull = kcols.map(col(_).isNull).reduce(_ || _)
            surv = surv.withColumn("__rn", row_number().over(w))
              .where(anyNull || col("__rn") === 1).drop("__rn")
              .join(existing.select(kcols.map(col): _*), kcols, "left_anti")
          }
          val out = surv.drop("__ord")
            .select(tgtSchema.fieldNames.map(col).toSeq: _*).persist()
          try {
            val n = out.count()
            checkNotNull(out, tgtSchema, table, zone)
            checkChecks(spark, out, tgtSchema, table, zone)
            val others = uniques.filterNot(u => arbiters.exists(_.name == u.name))
            if (others.nonEmpty)
              checkUniqueDups(existing.unionByName(out), tgtSchema, others, zone,
                table = table)
            checkFksChild(spark, out, tgtSchema, table, zone,
              Some(existing.unionByName(out)))
            val r = retStream(n, out)
            afterWrite(r)(out.write.insertInto(table))
          } finally out.unpersist()

        case Some(s) =>
          // DO UPDATE: merge — matched rows take the SET expressions
          // (EXCLUDED = proposed row, bare/target-qualified = stored
          // row), the rest insert; whole-table rewrite like UPDATE
          val u0 = resolveArbiters(s).head
          val kcols = u0.cols.map(fieldName)
          val nnKeys = kcols.foldLeft(full.toDF())((d, c) => d.where(col(c).isNotNull))
          val batchDup = nnKeys.groupBy(kcols.map(col): _*)
            .agg(count(lit(1)).as("__n")).where(col("__n") > 1).limit(1).count()
          if (batchDup > 0)
            throw PgException("21000",
              """ON CONFLICT DO UPDATE command cannot affect row a second time
HINT:  Ensure that no rows proposed for insertion within the same command have duplicate constrained values.""")
          val (setText, whereText) = s.doUpdate.get
          val assigned = scala.collection.mutable.LinkedHashMap.empty[String, String]
          splitTopLevelText(setText, ',').map(_.trim).filter(_.nonEmpty).foreach { a =>
            val eq = {
              var depth = 0; var j = 0; var pos = -1
              while (j < a.length && pos < 0) {
                val c = a.charAt(j)
                if (c == '(') depth += 1
                else if (c == ')') depth -= 1
                else if (c == '\'') { j += 1; while (j < a.length && a.charAt(j) != '\'') j += 1 }
                else if (depth == 0 && c == '=') pos = j
                j += 1
              }
              if (pos < 0) throw PgException("42601", "syntax error in ON CONFLICT DO UPDATE SET")
              pos
            }
            val cn = unq(a.substring(0, eq).trim)
            val f = tgtSchema.fields.find(_.name.equalsIgnoreCase(cn)).getOrElse(
              throw PgException("42703",
                s"""column "$cn" of relation "$table" does not exist"""))
            val rhs = a.substring(eq + 1).trim
            val qual =
              if (rhs.equalsIgnoreCase("DEFAULT")) rhs
              else qualifyConflictExpr(rhs, table, insAlias, tgtSchema)
            assigned(f.name) = storedAs(f, dmlValueExpr(f, qual, session.connId))
          }
          val qualWhere = whereText.map(w =>
            qualifyConflictExpr(w, table, insAlias, tgtSchema))
          val iView = s"__ins_upd_${java.util.UUID.randomUUID().toString.replace("-", "")}"
          full.createOrReplaceTempView(iView)
          try {
            val joinCond = kcols.map(c => s"__e.${qid(c)} = __i.${qid(c)}").mkString(" AND ")
            val pairsFrom = s"FROM ${qid(table)} AS __e JOIN `$iView` AS __i ON $joinCond"
            val updProj = tgtSchema.fields.map { f =>
              assigned.getOrElse(f.name, s"__e.${qid(f.name)}") + s" AS ${qid(f.name)}"
            }.mkString(", ")
            val updated = runSql(spark,
              s"SELECT $updProj $pairsFrom" +
                qualWhere.map(w => s" WHERE $w").getOrElse("")).persist()
            val inserts = full
              .join(spark.table(table).select(kcols.map(col): _*), kcols, "left_anti")
              .persist()
            try {
              val nUpd = updated.count()
              val nIns = inserts.count()
              val eStar = tgtSchema.fields
                .map(f => s"__e.${qid(f.name)} AS ${qid(f.name)}").mkString(", ")
              val keptMatched = qualWhere.map(w => runSql(spark,
                s"SELECT $eStar $pairsFrom WHERE NOT coalesce(($w), false)"))
              val survivorsE = spark.table(table)
                .join(full.select(kcols.map(col): _*), kcols, "left_anti")
              val affected = updated.unionByName(inserts)
              checkNotNull(affected, tgtSchema, table, zone)
              checkChecks(spark, affected, tgtSchema, table, zone)
              // a USING-columns join fronts the key columns; insertInto
              // matches by position — restore the table's column order
              val next = keptMatched.foldLeft(survivorsE)(_ unionByName _)
                .unionByName(affected)
                .select(tgtSchema.fieldNames.map(col).toSeq: _*)
              checkUniqueDups(next, tgtSchema, uniques, zone, table = table)
              checkFksChild(spark, affected, tgtSchema, table, zone, Some(next))
              val r = retStream(nUpd + nIns, affected)
              afterWrite(r)(overwriteTable(spark, table, next))
            } finally { updated.unpersist(); inserts.unpersist() }
          } finally spark.catalog.dropTempView(iView)
      }
    } finally {
      try spark.catalog.dropTempView(viewName)
      catch { case scala.util.control.NonFatal(_) => }
      full.unpersist()
    }
  }

  // ---- statement timeout (reference: handlers.rs:196-210) ---------------

  /** Run `body` under the session's statement_timeout: a watchdog
    * cancels the connection's Spark job group on expiry and the call
    * raises 57014. Job-group scoping is per-thread, so each connection
    * thread cancels only its own jobs.
    */
  def withTimeout[A](spark: SparkSession, session: Session, jobGroup: String)(body: => A): A = {
    spark.sparkContext.setJobGroup(jobGroup, "pgwire statement", interruptOnCancel = true)
    val ms = session.statementTimeoutMs
    if (ms <= 0) {
      try body finally spark.sparkContext.clearJobGroup()
    } else {
      @volatile var timedOut = false
      val timer = new Timer("pg-statement-timeout", true)
      val task = new TimerTask {
        def run(): Unit = { timedOut = true; spark.sparkContext.cancelJobGroup(jobGroup) }
      }
      // LEVEL-triggered: a one-shot cancel races statement planning —
      // if the deadline passes while Catalyst is still analyzing/
      // codegen-ing, no job exists yet, the cancel no-ops, and the
      // job then runs unbounded. Re-fire until the body returns.
      timer.scheduleAtFixedRate(task, ms, 250)
      try {
        val r = body
        if (timedOut)
          throw PgException("57014", "canceling statement due to statement timeout")
        r
      } catch {
        case _: Throwable if timedOut =>
          throw PgException("57014", "canceling statement due to statement timeout")
      } finally {
        task.cancel(); timer.cancel(); spark.sparkContext.clearJobGroup()
      }
    }
  }
}
