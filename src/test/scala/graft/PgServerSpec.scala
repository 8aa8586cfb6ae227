package graft

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable.ArrayBuffer
import org.scalatest.BeforeAndAfterAll
import graft.pgwire.{BinaryEncoder, Handlers, Messages, PgServer, RowSet, Session, TextEncoder}

/** End-to-end pgwire server tests over a raw socket — the Scala
  * analogue of the reference's MockClient harness
  * (datafusion-postgres/src/testing.rs:20-60) plus its handler tests
  * (handlers.rs:485-928): startup handshake, simple + multi-statement
  * queries, type round-trips, SET/SHOW with ParameterStatus, the
  * transaction tag state machine, DECLARE/FETCH/CLOSE cursors,
  * pg_catalog introspection joins, the extended protocol, and
  * statement_timeout.
  */
class PgServerSpec extends SparkSpec with BeforeAndAfterAll {

  private var server: PgServer = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    import spark.implicits._
    (0 until 7).map(i => (i, s"name_$i")).toDF("id", "name")
      .createOrReplaceTempView("t7")
    server = new PgServer(spark)
    server.start()
  }

  override def afterAll(): Unit = {
    if (server != null) server.stop()
    super.afterAll()
  }

  private def connect(): Client = {
    val c = new Client(server.boundPort)
    val r = c.startup()
    assert(r.txnStatus === 'I')
    c
  }

  // ---- tests -------------------------------------------------------------

  test("startup handshake reports server parameters") {
    val c = new Client(server.boundPort)
    val r = c.startup()
    assert(r.paramStatus("server_version") === "17.0")
    assert(r.paramStatus("client_encoding") === "UTF8")
    assert(r.paramStatus("TimeZone") === "UTC")
    c.close()
  }

  test("SELECT 1 round-trips (the reference's smoke query)") {
    val c = connect()
    val r = c.query("SELECT 1")
    assert(r.rows === Seq(Seq(Some("1"))))
    assert(r.tags === Seq("SELECT 1"))
    c.close()
  }

  test("multi-type query: RowDescription OIDs + text encodings") {
    val c = connect()
    val r = c.query(
      "SELECT 1::int4 AS i, 'x' AS s, true AS b, 1.5::float8 AS f, " +
        "DATE '2024-01-01' AS d, array(1, 2) AS a, 0.0001::float8 AS tiny")
    assert(r.fields.map(_._2) === Seq(23, 25, 16, 701, 1082, 1007, 701))
    assert(r.rows.head === Seq(Some("1"), Some("x"), Some("t"), Some("1.5"),
      Some("2024-01-01"), Some("{1,2}"), Some("0.0001")))
    c.close()
  }

  test("graft-native vector functions are callable over the wire") {
    // GraftExtensions injects them; PgServer.start refuses a session
    // without it (see "PgServer.start refuses a session without
    // GraftExtensions")
    val c = connect()
    val r = c.query(
      "SELECT vec_ldot(CAST(array(1, 2, 3) AS ARRAY<BIGINT>), " +
        "CAST(array(4, 5, 6) AS ARRAY<BIGINT>)) AS d")
    assert(r.rows === Seq(Seq(Some("32"))))
    c.close()
  }

  test("multi-statement simple query returns one result set per statement") {
    val c = connect()
    val r = c.query("SELECT 1; SELECT 2")
    assert(r.tags === Seq("SELECT 1", "SELECT 1"))
    assert(r.rows === Seq(Seq(Some("1")), Seq(Some("2"))))
    c.close()
  }

  test("empty query gets EmptyQueryResponse") {
    val c = connect()
    assert(c.query("").emptyQuery)
    assert(c.query("  ;  ").emptyQuery)
    c.close()
  }

  test("error recovery: bad SQL errors, connection stays usable") {
    val c = connect()
    val r1 = c.query("SELECT FROM nope WHERE")
    assert(r1.errors.nonEmpty)
    val r2 = c.query("SELECT 42")
    assert(r2.rows === Seq(Seq(Some("42"))))
    c.close()
  }

  test("unknown table maps to SQLSTATE 42P01") {
    val c = connect()
    val r = c.query("SELECT * FROM no_such_table_xyz")
    assert(r.errors.head._1 === "42P01")
    c.close()
  }

  test("Spark runtime data errors reach the client with pg's SQLSTATE (live pg 15)") {
    val c = connect()
    for ((sql, code) <- Seq("SELECT 2147483647::int + 1" -> "22003", "SELECT 1/0" -> "22012",
        "SELECT 'x'::int" -> "22P02")) {
      assert(c.query(sql).errors.map(_._1) === Seq(code), sql)
      assert(c.query("SELECT 1").rows === Seq(Seq(Some("1"))), s"after $sql")
    }
    c.close()
  }

  test("SET pushes ParameterStatus; SHOW reads it back") {
    val c = connect()
    val r1 = c.query("SET application_name = 'mytool'")
    assert(r1.tags === Seq("SET"))
    assert(r1.paramStatus.get("application_name") === Some("mytool"))
    val r2 = c.query("SHOW application_name")
    assert(r2.rows === Seq(Seq(Some("mytool"))))
    val r3 = c.query("SET statement_timeout = '5s'")
    assert(r3.tags === Seq("SET"))
    assert(c.query("SHOW statement_timeout").rows === Seq(Seq(Some("5000"))))
    assert(c.query("SHOW server_version").rows === Seq(Seq(Some("17.0"))))
    assert(c.query("SHOW TIME ZONE").fields.map(_._1) === Seq("TimeZone"))
    val bad = c.query("SHOW no_such_guc")
    assert(bad.errors.head._1 === "42704")
    c.query("SET statement_timeout = 0")
    c.close()
  }

  test("INSERT ... RETURNING echoes the inserted rows (pg ORM shape)") {
    val c = connect()
    c.query("CREATE TABLE ret_t (id INT, name STRING, val DOUBLE) USING parquet")
    // VALUES insert, RETURNING *
    val r1 = c.query(
      "INSERT INTO ret_t VALUES (1, 'a', 1.5), (2, 'b', 2.5) RETURNING *")
    assert(r1.errors === Nil)
    assert(r1.tags === Seq("INSERT 0 2"))
    assert(r1.rows.toSet === Set(
      Seq(Some("1"), Some("a"), Some("1.5")),
      Seq(Some("2"), Some("b"), Some("2.5"))))
    // column-list insert: unlisted columns NULL; RETURNING expressions
    val r2 = c.query(
      "INSERT INTO ret_t (val, id) VALUES (9.5, 9) RETURNING id * 10 AS x, name")
    assert(r2.errors === Nil)
    assert(r2.tags === Seq("INSERT 0 1"))
    assert(r2.rows === Seq(Seq(Some("90"), None)))
    // INSERT ... SELECT ... RETURNING
    val r3 = c.query(
      "INSERT INTO ret_t SELECT id + 100, name, val FROM ret_t WHERE id <= 2 " +
        "RETURNING id")
    assert(r3.errors === Nil)
    assert(r3.tags === Seq("INSERT 0 2"))
    assert(r3.rows.flatMap(_.head).map(_.toInt).sorted === Seq(101, 102))
    assert(c.query("SELECT count(*) FROM ret_t").rows === Seq(Seq(Some("5"))))
    // errors keep pg SQLSTATEs
    val bad = c.query("INSERT INTO no_table VALUES (1) RETURNING *")
    assert(bad.errors.map(_._1) === Seq("42P01"))
    val bad2 = c.query("INSERT INTO ret_t (nope) VALUES (1) RETURNING *")
    assert(bad2.errors.map(_._1) === Seq("42703"))
    // RETURNING inside a string literal must NOT trigger the splitter
    val lit = c.query("SELECT 'VALUES RETURNING x' AS s")
    assert(lit.rows === Seq(Seq(Some("VALUES RETURNING x"))))
    c.query("DROP TABLE ret_t")
    c.close()
  }

  test("Close on a suspended RETURNING portal releases the write-set") {
    val c = connect()
    c.query("DROP TABLE IF EXISTS ret_close")
    c.query("CREATE TABLE ret_close (id INT, v STRING) USING parquet")
    def insRetViews(): Seq[String] =
      spark.catalog.listTables().collect().map(_.name)
        .filter(_.startsWith("__ins_ret_")).toSeq
    val persistedBefore = spark.sparkContext.getPersistentRDDs.size
    c.parse("sret", "INSERT INTO ret_close VALUES (1,'a'),(2,'b'),(3,'c') RETURNING id")
    c.bind("pret", "sret", Nil)
    c.execute("pret", maxRows = 1) // suspends after 1 row
    val r1 = c.sync()
    assert(r1.errors === Nil, r1.errors)
    assert(r1.rows.length === 1)
    // suspended: the write-set views + persisted plan are still alive
    assert(insRetViews().nonEmpty)
    // Close Portal must release them (the round-13 leak: only stream
    // exhaustion or error cleaned up)
    c.closeStmt('P', "pret")
    val r2 = c.sync()
    assert(r2.errors === Nil, r2.errors)
    assert(insRetViews() === Nil,
      s"leaked INSERT-RETURNING views: ${insRetViews()}")
    assert(spark.sparkContext.getPersistentRDDs.size === persistedBefore,
      "leaked persisted write-set")
    // the write itself completed before the stream was abandoned
    assert(c.query("SELECT count(*) FROM ret_close").rows === Seq(Seq(Some("3"))))
    // re-Bind over the same portal name also discards
    c.parse("sret2", "INSERT INTO ret_close VALUES (4,'d'),(5,'e') RETURNING id")
    c.bind("pret2", "sret2", Nil)
    c.execute("pret2", maxRows = 1)
    assert(c.sync().errors === Nil)
    assert(insRetViews().nonEmpty)
    c.bind("pret2", "sret2", Nil) // overwrite discards the suspended stream
    c.execute("pret2")
    assert(c.sync().errors === Nil)
    assert(insRetViews() === Nil)
    assert(spark.sparkContext.getPersistentRDDs.size === persistedBefore)
    c.query("DROP TABLE ret_close")
    c.close()
  }

  test("LISTEN/NOTIFY delivers across connections at ReadyForQuery") {
    val l = connect()
    val n = connect()
    assert(l.query("LISTEN events").tags === Seq("LISTEN"))
    assert(n.query("NOTIFY events, 'payload-1'").tags === Seq("NOTIFY"))
    // pg delivers between transactions: the notification arrives
    // before the listener's next ReadyForQuery
    val r = l.query("SELECT 1")
    assert(r.notifications.map(t => (t._2, t._3)) === Seq(("events", "payload-1")))
    // pg_notify() function spelling
    assert(n.query("SELECT pg_notify('events', 'payload-2')").rows ===
      Seq(Seq(Some(""))))
    assert(l.query("SELECT 1").notifications.map(_._3) === Seq("payload-2"))
    // self-notification (notifier listens on its own channel) arrives
    // with the NOTIFY's own response
    n.query("LISTEN selfchan")
    assert(n.query("NOTIFY selfchan").notifications.map(_._2) === Seq("selfchan"))
    // UNLISTEN stops delivery; unrelated channels never leak
    l.query("UNLISTEN events")
    n.query("NOTIFY events, 'after-unlisten'")
    n.query("NOTIFY otherchan")
    assert(l.query("SELECT 1").notifications === Nil)
    l.close(); n.close()
  }

  test("NOTIFY pushes asynchronously to an IDLE listener") {
    val l = connect()
    val n = connect()
    assert(l.query("LISTEN idlechan").tags === Seq("LISTEN"))
    // listener now sits idle (blocked in read, no command in flight);
    // pg pushes the notification without waiting for its next command
    assert(n.query("NOTIFY idlechan, 'wake'").tags === Seq("NOTIFY"))
    val got = l.awaitNotification(1000)
    assert(got.map(t => (t._2, t._3)) === Some(("idlechan", "wake")), got)
    // quoted channels are case-sensitive; unquoted fold to lowercase
    l.query("LISTEN \"Mixed\"")
    n.query("NOTIFY mixed, 'nope'") // folded 'mixed' ≠ "Mixed"
    assert(l.awaitNotification(300) === None)
    n.query("NOTIFY \"Mixed\", 'yes'")
    assert(l.awaitNotification(1000).map(_._3) === Some("yes"))
    // pg_notify's string channel is case-sensitive too
    n.query("SELECT pg_notify('Mixed', 'fn')")
    assert(l.awaitNotification(1000).map(_._3) === Some("fn"))
    l.close(); n.close()
  }

  test("NOTIFY queues while the listener is idle IN a transaction, delivers at COMMIT") {
    // live-pinned (pg 15): a notification that arrives mid-transaction
    // is not pushed and does not drain between in-transaction
    // statements — it rides the ReadyForQuery AFTER the transaction
    // ends
    val l = connect()
    val n = connect()
    assert(l.query("LISTEN txnchan").tags === Seq("LISTEN"))
    assert(l.query("BEGIN").tags === Seq("BEGIN"))
    assert(n.query("NOTIFY txnchan, 'inside'").tags === Seq("NOTIFY"))
    // idle-in-transaction: no async push
    assert(l.awaitNotification(300) === None)
    // an in-transaction statement's ReadyForQuery does NOT drain it
    val mid = l.query("SELECT 1")
    assert(mid.errors === Nil)
    assert(mid.notifications === Nil)
    assert(l.awaitNotification(300) === None)
    // COMMIT's ReadyForQuery delivers
    val fin = l.query("COMMIT")
    assert(fin.tags === Seq("COMMIT"))
    assert(fin.notifications.map(t => (t._2, t._3)) === Seq(("txnchan", "inside")))
    // ROLLBACK delivers the same way
    l.query("BEGIN")
    n.query("NOTIFY txnchan, 'aborted'")
    assert(l.awaitNotification(300) === None)
    assert(l.query("ROLLBACK").notifications.map(_._3) === Seq("aborted"))
    l.close(); n.close()
  }

  test("INSERT ... SELECT ... RETURNING streams a large batch") {
    val c = connect()
    c.query("DROP TABLE IF EXISTS ret_big")
    c.query("CREATE TABLE ret_big (id BIGINT, label STRING) USING parquet")
    // 50k-row SELECT-sourced batch: the RETURNING rows ride
    // toLocalIterator (one partition driver-side at a time), never a
    // full collect — this is the INSERT ... SELECT shape that used to
    // materialize the whole returned rowset on the driver
    val r = c.query(
      "INSERT INTO ret_big SELECT id, 'x' || id FROM range(0, 50000) " +
        "RETURNING id, label")
    assert(r.errors === Nil)
    assert(r.tags === Seq("INSERT 0 50000"))
    assert(r.rows.length === 50000)
    assert(r.rows.flatMap(_.head).map(_.toLong).sum === 50000L * 49999 / 2)
    // the staging temp views are dropped once the stream is exhausted
    val leftovers = spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("__ins_ret_"))
    assert(leftovers.isEmpty, leftovers.mkString(","))
    assert(c.query("SELECT count(*) FROM ret_big").rows === Seq(Seq(Some("50000"))))
    c.query("DROP TABLE ret_big")
    c.close()
  }

  test("timestamp params: OID 1114 stays NTZ, 1184 is an instant") {
    val c = connect()
    // text param typed timestamp (1114): wall clock, renders no offset
    c.parse("ts1", "SELECT $1 AS t", Seq(1114))
    c.bind("p1", "ts1", Seq(Some("2024-01-15 12:00:00")))
    c.execute("p1")
    val r1 = c.sync()
    assert(r1.rows === Seq(Seq(Some("2024-01-15 12:00:00"))))
    // text param typed timestamptz (1184): an instant, renders +00
    c.parse("ts2", "SELECT $1 AS t", Seq(1184))
    c.bind("p2", "ts2", Seq(Some("2024-01-15 12:00:00+02")))
    c.execute("p2")
    val r2 = c.sync()
    assert(r2.rows === Seq(Seq(Some("2024-01-15 10:00:00+00"))))
    c.close()
  }

  test("numeric and float4 text params keep their types (live pg 15)") {
    val c = connect()
    def bound(oid: Int, v: String): Reply = {
      c.parse("", "SELECT $1", Seq(oid))
      c.bind("", "", Seq(Some(v)))
      c.describe('P', "")
      c.execute("")
      c.sync()
    }
    // numeric binds exactly, at the value's own precision and scale
    val n = bound(1700, "12345678901234567890.123456789")
    assert(n.errors === Nil, n.errors)
    assert(n.fields.map(_._2) === Seq(1700))
    assert(n.rows === Seq(Seq(Some("12345678901234567890.123456789"))))
    assert(bound(1700, "1.5E+3").rows === Seq(Seq(Some("1500"))))
    val f4 = bound(700, "1.5")
    assert(f4.fields.map(_._2) === Seq(700))
    assert(f4.rows === Seq(Seq(Some("1.5"))))
    // NaN keeps the float8 binding; past 38 digits is out of range
    assert(bound(1700, "NaN").rows === Seq(Seq(Some("NaN"))))
    assert(bound(1700, "1" * 39).errors.map(_._1) === Seq("22003"))
    c.close()
  }

  test("FETCH FIRST ... WITH TIES keeps peer rows of the boundary") {
    val c = connect()
    val r = c.query(
      "SELECT x, y FROM (VALUES (1,'a'),(2,'b'),(2,'c'),(3,'d')) t(x,y) " +
        "ORDER BY x FETCH FIRST 2 ROWS WITH TIES")
    assert(r.errors === Nil)
    assert(r.rows.map(_.head) === Seq(Some("1"), Some("2"), Some("2")))
    // all-equal keys: every row is a peer of the boundary
    val r2 = c.query(
      "SELECT x FROM (VALUES (5),(5),(5)) t(x) ORDER BY x FETCH FIRST ROW WITH TIES")
    assert(r2.rows.length === 3)
    c.close()
  }

  test("LISTEN / UNLISTEN / NOTIFY accept with pg tags") {
    val c = connect()
    assert(c.query("LISTEN mychan").tags === Seq("LISTEN"))
    assert(c.query("NOTIFY mychan").tags === Seq("NOTIFY"))
    assert(c.query("UNLISTEN mychan").tags === Seq("UNLISTEN"))
    assert(c.query("UNLISTEN *").tags === Seq("UNLISTEN"))
    c.close()
  }

  test("SET TIME ZONE shifts timestamptz text rendering") {
    val c = connect()
    // Spark session tz is UTC: this literal is the instant 12:00Z
    assert(c.query("SELECT TIMESTAMPTZ '2024-01-15 12:00:00' AS t").rows ===
      Seq(Seq(Some("2024-01-15 12:00:00+00"))))
    val set = c.query("SET TIME ZONE 'America/New_York'")
    assert(set.paramStatus.get("TimeZone") === Some("America/New_York"))
    assert(c.query("SELECT TIMESTAMPTZ '2024-01-15 12:00:00' AS t").rows ===
      Seq(Seq(Some("2024-01-15 07:00:00-05")))) // EST = UTC-5 in January
    // plain TIMESTAMP is WITHOUT time zone (round 11): it must NOT
    // shift with the zone GUC — exactly pg's behavior
    assert(c.query("SELECT TIMESTAMP '2024-01-15 12:00:00' AS t").rows ===
      Seq(Seq(Some("2024-01-15 12:00:00"))))
    c.query("SET TIME ZONE 'UTC'")
    c.close()
  }

  test("transaction tag state machine (reference transactions.rs)") {
    val c = connect()
    assert(c.query("BEGIN").tags === Seq("BEGIN"))
    val r = c.query("SELECT 1")
    assert(r.txnStatus === 'T')
    // error flips to Failed state
    val e = c.query("SELECT * FROM missing_t")
    assert(e.txnStatus === 'E')
    // non-txn statement in failed txn → 25P02 (live-pinned r18)
    val blocked = c.query("SELECT 1")
    assert(blocked.errors.head._1 === "25P02")
    // COMMIT in failed state reports ROLLBACK
    val commit = c.query("COMMIT")
    assert(commit.tags === Seq("ROLLBACK"))
    assert(commit.txnStatus === 'I')
    assert(c.query("SELECT 1").rows.nonEmpty)
    c.close()
  }

  test("all-types parquet round-trips over the wire (reference all_types.parquet)") {
    // mirror of tests-integration/create_arrow_testfile.py: base
    // scalars + list-of-each + struct + list-of-struct, with NULLs at
    // every nesting level, served from a real parquet file
    val dir = java.nio.file.Files.createTempDirectory("graft-alltypes").toString
    spark.sql(
      """SELECT * FROM VALUES
        |  (1, 1.0D, 'a', true, DATE '2012-01-01', TIMESTAMP '2012-01-01 00:00:00',
        |   array(1, NULL, 2), array('a', NULL, 'b'),
        |   named_struct('i', 1, 'f', 1.0D, 's', 'a'),
        |   array(named_struct('i', 1, 'f', 1.0D, 's', 'a'))),
        |  (NULL, CAST(NULL AS DOUBLE), NULL, NULL, NULL, NULL,
        |   NULL, NULL,
        |   named_struct('i', CAST(NULL AS INT), 'f', CAST(NULL AS DOUBLE), 's', CAST(NULL AS STRING)),
        |   NULL),
        |  (2, 2.0D, 'b', false, DATE '2012-01-02', TIMESTAMP '2012-01-02 00:00:00',
        |   array(3), array('c'),
        |   named_struct('i', 2, 'f', 2.0D, 's', 'b'),
        |   array(named_struct('i', 2, 'f', 2.0D, 's', 'b')))
        |AS t(int32, float64, string, bool, date32, ts, int_list, str_list, struct, list_struct)
        |""".stripMargin)
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("all_types")
    val c = connect()
    val r = c.query("SELECT * FROM all_types ORDER BY int32 NULLS LAST")
    assert(r.fields.length === 10)
    assert(r.rows.length === 3)
    val byName = r.fields.map(_._1).zipWithIndex.toMap
    def cell(row: Int, colName: String): Option[String] = r.rows(row)(byName(colName))
    assert(cell(0, "int32") === Some("1"))
    assert(cell(0, "int_list") === Some("{1,NULL,2}"))
    assert(cell(0, "str_list") === Some("{a,NULL,b}"))
    // Spark TimestampType is instant-semantics → pg timestamptz (+00)
    assert(cell(0, "ts") === Some("2012-01-01 00:00:00+00"))
    assert(cell(0, "struct").exists(_.startsWith("(1,1")))
    assert(cell(0, "list_struct").exists(_.startsWith("{\"(")))
    // the all-NULL row: scalars and lists are NULL; the struct exists
    // with every field NULL
    assert(cell(2, "int32") === None)
    assert(cell(2, "int_list") === None)
    assert(cell(2, "struct") === Some("(,,)"))
    c.close()
  }

  test("transaction command variants + edge cases (reference test_transactions.py)") {
    val c = connect()
    // BEGIN/END spelling variants
    val variants = Seq(
      "BEGIN" -> "COMMIT",
      "BEGIN TRANSACTION" -> "COMMIT TRANSACTION",
      "BEGIN WORK" -> "COMMIT WORK",
      "START TRANSACTION" -> "END",
      "BEGIN" -> "END TRANSACTION")
    variants.foreach { case (b, e) =>
      assert(c.query(b).errors.isEmpty, s"$b failed")
      assert(c.query("SELECT 1").rows === Seq(Seq(Some("1"))))
      val done = c.query(e)
      assert(done.errors.isEmpty, s"$e failed")
      assert(done.txnStatus === 'I', s"$e did not end the txn")
    }
    // ROLLBACK spelling variants (ABORT included)
    Seq("ROLLBACK", "ROLLBACK TRANSACTION", "ROLLBACK WORK", "ABORT").foreach { rb =>
      c.query("BEGIN"); c.query("SELECT 1")
      val done = c.query(rb)
      assert(done.errors.isEmpty, s"$rb failed")
      assert(done.txnStatus === 'I', s"$rb did not end the txn")
    }
    // COMMIT / ROLLBACK outside a transaction do not error
    assert(c.query("COMMIT").errors.isEmpty)
    assert(c.query("ROLLBACK").errors.isEmpty)
    // nested BEGIN is tolerated (pg warns, does not error)
    assert(c.query("BEGIN").errors.isEmpty)
    assert(c.query("BEGIN").errors.isEmpty)
    assert(c.query("COMMIT").txnStatus === 'I')
    c.close()
  }

  test("DECLARE / FETCH / CLOSE cursor lifecycle (reference cursor.rs)") {
    val c = connect()
    assert(c.query("DECLARE cur1 CURSOR FOR SELECT id FROM t7 ORDER BY id").tags ===
      Seq("DECLARE CURSOR"))
    val f1 = c.query("FETCH 3 FROM cur1")
    assert(f1.tags === Seq("FETCH 3"))
    assert(f1.rows.map(_.head.get) === Seq("0", "1", "2"))
    val f2 = c.query("FETCH NEXT FROM cur1")
    assert(f2.rows.map(_.head.get) === Seq("3"))
    val f3 = c.query("FETCH ALL FROM cur1")
    assert(f3.rows.map(_.head.get) === Seq("4", "5", "6"))
    val f4 = c.query("FETCH 5 FROM cur1") // exhausted
    assert(f4.tags === Seq("FETCH 0"))
    // backward scan rejected
    assert(c.query("FETCH PRIOR FROM cur1").errors.head._1 === "55000")
    assert(c.query("CLOSE cur1").tags === Seq("CLOSE CURSOR"))
    assert(c.query("FETCH 1 FROM cur1").errors.head._1 === "34000")
    assert(c.query("CLOSE nope").errors.head._1 === "34000")
    c.close()
  }

  test("cursor TTL: idle DECLARE'd cursor evicted, FETCH -> 34000") {
    val c = connect()
    // default (TTL off) matches the reference: drop on CLOSE/disconnect
    assert(c.query("SHOW graft.cursor_ttl").errors.head._1 === "42704")
    assert(c.query("SET graft.cursor_ttl = '400ms'").tags === Seq("SET"))
    assert(c.query("SHOW graft.cursor_ttl").rows.head.head === Some("400ms"))
    assert(c.query("DECLARE curttl CURSOR FOR SELECT id FROM t7 ORDER BY id").tags ===
      Seq("DECLARE CURSOR"))
    // a FETCH inside the TTL window succeeds and refreshes the clock
    assert(c.query("FETCH 1 FROM curttl").rows.map(_.head.get) === Seq("0"))
    Thread.sleep(900)
    // idle past the TTL: the next dispatch sweeps it; FETCH sees 34000
    assert(c.query("FETCH 1 FROM curttl").errors.head._1 === "34000")
    // a fresh cursor under an active TTL still works end-to-end
    assert(c.query("DECLARE curttl2 CURSOR FOR SELECT id FROM t7 ORDER BY id").tags ===
      Seq("DECLARE CURSOR"))
    assert(c.query("FETCH 2 FROM curttl2").rows.map(_.head.get) === Seq("0", "1"))
    assert(c.query("CLOSE curttl2").tags === Seq("CLOSE CURSOR"))
    // invalid TTL value -> 22023, same as statement_timeout
    assert(c.query("SET graft.cursor_ttl = 'soon'").errors.head._1 === "22023")
    c.close()
  }

  test("pg_catalog: psql-style introspection join runs (tests/psql.rs)") {
    val c = connect()
    val r = c.query(
      """SELECT n.nspname AS schema, c.relname AS name
        |FROM pg_catalog.pg_class c
        |LEFT JOIN pg_catalog.pg_namespace n ON n.oid = c.relnamespace
        |WHERE c.relkind IN ('r','p','v','m','S','f')
        |  AND n.nspname <> 'pg_catalog'
        |  AND n.nspname !~ '^pg_toast'
        |ORDER BY 1, 2""".stripMargin)
    assert(r.errors.isEmpty, r.errors.toString)
    assert(r.rows.exists(_(1) === Some("t7")))
    assert(r.rows.forall(_(0) === Some("public")))
    c.close()
  }

  test("pg_catalog: pg_attribute lists t7 columns with type oids") {
    val c = connect()
    val r = c.query(
      """SELECT a.attname, a.atttypid
        |FROM pg_attribute a JOIN pg_class cl ON cl.oid = a.attrelid
        |WHERE cl.relname = 't7' ORDER BY a.attnum""".stripMargin)
    assert(r.errors.isEmpty, r.errors.toString)
    assert(r.rows === Seq(
      Seq(Some("id"), Some("23")), Seq(Some("name"), Some("25"))))
    c.close()
  }

  test("system UDFs: version/current_schema/quote_ident/format_type") {
    val c = connect()
    val r = c.query("SELECT version()")
    assert(r.fields.map(_._1) === Seq("version"))
    assert(r.rows.head.head.get.startsWith("PostgreSQL"))
    assert(c.query("SELECT current_schema()").rows === Seq(Seq(Some("public"))))
    assert(c.query("SELECT current_database()").rows === Seq(Seq(Some("postgres"))))
    assert(c.query("SELECT quote_ident('select')").rows === Seq(Seq(Some("\"select\""))))
    assert(c.query("SELECT format_type(1043, 36)").rows ===
      Seq(Seq(Some("character varying(32)"))))
    c.close()
  }

  test("extended protocol: Parse/Bind/Describe/Execute with a parameter") {
    val c = connect()
    c.parse("s1", "SELECT $1::int + 1 AS v", Seq(23))
    c.describe('S', "s1")
    c.bind("p1", "s1", Seq(Some("41")))
    c.execute("p1")
    val r = c.sync()
    assert(r.errors.isEmpty, r.errors.toString)
    assert(r.paramOids === Seq(23))
    assert(r.fields.map(_._1) === Seq("v"))
    assert(r.rows === Seq(Seq(Some("42"))))
    assert(r.tags === Seq("SELECT 1"))
    c.close()
  }

  test("extended protocol: maxRows suspends the portal and resumes") {
    val c = connect()
    c.parse("s2", "SELECT id FROM t7 ORDER BY id")
    c.bind("p2", "s2", Nil)
    c.execute("p2", maxRows = 4)
    val r1 = c.sync()
    assert(r1.suspended)
    assert(r1.rows.map(_.head.get) === Seq("0", "1", "2", "3"))
    c.bind("p2b", "s2", Nil)
    c.execute("p2b")
    val r2 = c.sync()
    assert(r2.rows.map(_.head.get) === (0 until 7).map(_.toString))
    assert(r2.tags === Seq("SELECT 7"))
    c.close()
  }

  test("extended protocol: binary result format round-trips an int8") {
    val c = connect()
    c.parse("s3", "SELECT 258::int8 AS v")
    c.bind("p3", "s3", Nil, resultFormats = Seq(1))
    c.execute("p3")
    val r = c.sync()
    assert(r.errors.isEmpty, r.errors.toString)
    assert(r.binRows.head.head.get.toSeq === Seq[Byte](0, 0, 0, 0, 0, 0, 1, 2))
    c.close()
  }

  test("extended protocol: param type inferred from $1::type when client sends none") {
    val c = connect()
    c.parse("s5", "SELECT $1::int8 * 2 AS v") // no OIDs declared
    c.describe('S', "s5")
    c.bind("p5", "s5", Seq(Some("21")))
    c.execute("p5")
    val r = c.sync()
    assert(r.errors.isEmpty, r.errors.toString)
    assert(r.paramOids === Seq(20)) // inferred int8
    assert(r.rows === Seq(Seq(Some("42"))))
    c.close()
  }

  test("extended protocol: TIME param (OID 1083) text and binary forms") {
    // text form: $1::time infers 1083, decode goes through pg_time_in
    val c = connect()
    c.parse("st1", "SELECT $1::time AS t")
    c.describe('S', "st1")
    c.bind("pt1", "st1", Seq(Some("07:08:09.5")))
    c.execute("pt1")
    val r = c.sync()
    assert(r.errors.isEmpty, r.errors.toString)
    assert(r.paramOids === Seq(1083))
    assert(r.rows === Seq(Seq(Some("07:08:09.5"))))
    c.close()
    // binary form: micros-since-midnight int8, client-declared OID;
    // result requested binary too (micros int8 back)
    val c2 = connect()
    c2.parse("st2", "SELECT $1::time AS t", Seq(1083))
    val micros = ((7L * 3600 + 8 * 60 + 9) * 1000000L) + 500000L
    val buf = java.nio.ByteBuffer.allocate(8).putLong(micros).array()
    c2.bindMixed("pt2", "st2", Seq((1.toShort, Some(buf))), resultFormats = Seq(1))
    c2.execute("pt2")
    val r2 = c2.sync()
    assert(r2.errors.isEmpty, r2.errors.toString)
    assert(r2.binRows.head.head.get.toSeq ===
      java.nio.ByteBuffer.allocate(8).putLong(micros).array().toSeq)
    c2.close()
  }

  test("extended protocol: int4[] array parameter binds from pg text form") {
    val c = connect()
    c.parse("s6", "SELECT array_contains($1, 2) AS has2, size($1) AS n", Seq(1007))
    c.bind("p6", "s6", Seq(Some("{1,2,3}")))
    c.execute("p6")
    val r = c.sync()
    assert(r.errors.isEmpty, r.errors.toString)
    assert(r.rows === Seq(Seq(Some("t"), Some("3"))))
    c.close()
  }

  test("extended protocol: int4[] BINARY array parameter (JDBC setArray wire form)") {
    val c = connect()
    c.parse("s7", "SELECT array_contains($1, 20) AS has20, size($1) AS n", Seq(1007))
    val buf = java.nio.ByteBuffer.allocate(20 + 3 * 8)
    buf.putInt(1).putInt(0).putInt(23) // ndim, hasnull, int4 elem oid
    buf.putInt(3).putInt(1) // dim, lower bound
    Seq(10, 20, 30).foreach(v => buf.putInt(4).putInt(v))
    c.bindBinary("p7", "s7", Seq(Some(buf.array())))
    c.execute("p7")
    val r = c.sync()
    assert(r.errors.isEmpty, r.errors.toString)
    assert(r.rows === Seq(Seq(Some("t"), Some("3"))))
    c.close()
  }

  test("extended protocol: MULTIDIM array params, text and binary (parity-plus)") {
    // text form: psycopg renders numpy-shaped data as '{{1,2},{3,4}}'
    val c = connect()
    // pg-style 1-based subscripts (Compat shifts them): [2][2] = 4
    c.parse("s8", "SELECT size($1) AS n_rows, $1[2][2] AS corner, size($1[1]) AS n_inner",
      Seq(1007))
    c.bind("p8", "s8", Seq(Some("{{1,2},{3,4}}")))
    c.execute("p8")
    val r = c.sync()
    assert(r.errors.isEmpty, r.errors.toString)
    assert(r.rows === Seq(Seq(Some("2"), Some("4"), Some("2"))))
    // ragged nesting rejected with pg's 22P02
    c.parse("s8b", "SELECT size($1) AS n", Seq(1007))
    c.bind("p8b", "s8b", Seq(Some("{{1,2},{3}}")))
    c.execute("p8b")
    val r2 = c.sync()
    assert(r2.errors.headOption.map(_._1) === Some("22P02"), r2.errors.toString)
    // binary form: ndim=2, dims (2,3), row-major elements 1..6 →
    // [[1,2,3],[4,5,6]]; pg-style [2][3] = 6
    c.parse("s9", "SELECT size($1) AS n_rows, $1[2][3] AS corner", Seq(1007))
    val buf = java.nio.ByteBuffer.allocate(12 + 2 * 8 + 6 * 8)
    buf.putInt(2).putInt(0).putInt(23) // ndim, hasnull, int4 elem oid
    buf.putInt(2).putInt(1) // dim 1, lower bound
    buf.putInt(3).putInt(1) // dim 2, lower bound
    (1 to 6).foreach(v => buf.putInt(4).putInt(v))
    c.bindBinary("p9", "s9", Seq(Some(buf.array())))
    c.execute("p9")
    val r3 = c.sync()
    assert(r3.errors.isEmpty, r3.errors.toString)
    assert(r3.rows === Seq(Seq(Some("2"), Some("6"))))
    c.close()
  }

  test("extended protocol: text param NULL binds as SQL NULL") {
    val c = connect()
    c.parse("s4", "SELECT $1::text IS NULL AS isnull", Seq(25))
    c.bind("p4", "s4", Seq(None))
    c.execute("p4")
    val r = c.sync()
    assert(r.rows === Seq(Seq(Some("t"))))
    c.close()
  }

  test("Bind: a parameter-format list neither 0, 1 nor one per parameter is 08P01") {
    val c = connect()
    c.parse("bf1", "SELECT $1::int4 + $2::int4 + $3::int4 AS v")
    c.bindFormats("", "bf1", Seq(0, 0), Seq(Some("1"), Some("2"), Some("3")), Nil)
    c.execute("")
    val r = c.sync()
    assert(r.errors === Seq("08P01" -> "bind message has 2 parameter formats but 3 parameters"))
    assert(r.txnStatus === 'I')
    c.close()
  }

  test("Bind: a parameter count other than the statement's is 08P01") {
    val c = connect()
    c.parse("bc1", "SELECT $1::int4 + $2::int4 AS v")
    c.bind("", "bc1", Seq(Some("1"), Some("2"), Some("3")))
    c.execute("")
    val r = c.sync()
    assert(r.errors === Seq("08P01" ->
      "bind message supplies 3 parameters, but prepared statement \"bc1\" requires 2"))
    assert(r.rows.isEmpty)
    c.close()
  }

  test("Bind: a result-format list neither 0, 1 nor one per column is 08P01 where the result opens") {
    val c = connect()
    c.parse("rf1", "SELECT 1 AS a, 2 AS b, 3 AS c")
    val msg = "bind message has 2 result formats but query has 3 columns"
    c.bind("", "rf1", Nil, resultFormats = Seq(0, 1))
    c.describe('P', "")
    c.execute("")
    assert(c.sync().errors === Seq("08P01" -> msg))
    c.bind("", "rf1", Nil, resultFormats = Seq(0, 1))
    c.execute("")
    assert(c.sync().errors === Seq("08P01" -> msg))
    c.close()
  }

  test("an extended-protocol error fails the transaction block (Parse, Describe)") {
    val c = connect()
    assert(c.query("BEGIN").txnStatus === 'T')
    c.parse("", "SELECT 1; SELECT 2")
    val p = c.sync()
    assert(p.errors.map(_._1) === Seq("42601"))
    assert(p.txnStatus === 'E')
    assert(c.query("SELECT 1").errors.map(_._1) === Seq("25P02"))
    assert(c.query("ROLLBACK").txnStatus === 'I')
    // a trailing terminator or comment is not a second command
    c.parse("", "SELECT 1 AS v; -- done")
    c.bind("", "", Nil)
    c.execute("")
    assert(c.sync().rows === Seq(Seq(Some("1"))))
    assert(c.query("BEGIN").txnStatus === 'T')
    c.describe('P', "no_such_portal")
    val d = c.sync()
    assert(d.errors.map(_._1) === Seq("34000"))
    assert(d.txnStatus === 'E')
    assert(c.query("ROLLBACK").txnStatus === 'I')
    c.close()
  }

  /** Raw socket that has sent `bytes`; true once the server closed it. */
  private def closedAfter(bytes: Array[Byte], startup: Boolean): Boolean = {
    val s = new Socket("127.0.0.1", server.boundPort)
    s.setSoTimeout(10000)
    try {
      val in = new DataInputStream(new BufferedInputStream(s.getInputStream))
      val out = s.getOutputStream
      if (startup) {
        val b = new ByteArrayOutputStream()
        val d = new DataOutputStream(b)
        d.writeInt(196608); d.write("user\u0000postgres\u0000\u0000".getBytes(UTF_8))
        out.write(java.nio.ByteBuffer.allocate(4).putInt(b.size + 4).array()); b.writeTo(out)
        var tpe = 0
        while (tpe != 'Z') { // through ReadyForQuery
          tpe = in.read(); val body = new Array[Byte](in.readInt() - 4); in.readFully(body)
        }
      }
      out.write(bytes); out.flush()
      try in.read() == -1 catch { case _: java.net.SocketException => true } // FIN or RST
    } finally s.close()
  }

  private def be(xs: Int*): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(4 * xs.length); xs.foreach(b.putInt); b.array()
  }

  test("out-of-bounds message lengths close the connection before any allocation") {
    // a startup packet claiming 64 MB (pg's cap: 10000 bytes)
    assert(closedAfter(be(64 << 20, 196608), startup = false))
    assert(closedAfter(be(4, 196608), startup = false))
    // typed messages: under the 4-byte header, over 1 GB
    assert(closedAfter(Array[Byte]('Q') ++ be(2), startup = true))
    assert(closedAfter(Array[Byte]('Q') ++ be((1 << 30) + 5), startup = true))
    val c = connect()
    assert(c.query("SELECT 1").rows === Seq(Seq(Some("1"))))
    c.close()
  }

  test("PgServer.start refuses a session without GraftExtensions") {
    val outFile = java.nio.file.Files.createTempFile("graft-plain-start", ".txt")
    val (p, log) = ChildJvm.spawn("graft.PlainSessionStart", outFile.toString)
    assert(p.waitFor(300, java.util.concurrent.TimeUnit.SECONDS),
      s"child JVM timed out\n${ChildJvm.logTail(log)}")
    assert(p.exitValue() === 0, s"child JVM failed:\n${ChildJvm.logTail(log)}")
    assert(java.nio.file.Files.readString(outFile) === "refused: PgServer needs a session " +
      "built with spark.sql.extensions=graft.GraftExtensions")
  }

  test("CancelRequest from a second socket kills the running statement (57014)") {
    val c = new Client(server.boundPort)
    val (pid, secret) = c.startup().backendKey.getOrElse(fail("no BackendKeyData"))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val slow = Future(c.query(
      "SELECT max(xxhash64(concat(cast(id AS string), 'x'))) FROM range(5000000000)"))
    Thread.sleep(1500) // let the job start
    // pg cancel: separate connection carrying the key
    val cancelSock = new Socket("127.0.0.1", server.boundPort)
    val co = new DataOutputStream(cancelSock.getOutputStream)
    co.writeInt(16); co.writeInt(80877102); co.writeInt(pid); co.writeInt(secret)
    co.flush(); cancelSock.close()
    val r = Await.result(slow, 60.seconds)
    assert(r.errors.headOption.map(_._1) === Some("57014"), r.errors.toString)
    assert(c.query("SELECT 1").rows === Seq(Seq(Some("1")))) // conn survives
    c.close()
  }

  test("statement_timeout cancels a long-running statement with 57014") {
    val c = connect()
    c.query("SET statement_timeout = 300")
    val t0 = System.nanoTime()
    val r = c.query(
      "SELECT max(xxhash64(concat(cast(id AS string), 'x'))) FROM range(2000000000)")
    val elapsedMs = (System.nanoTime() - t0) / 1e6
    assert(r.errors.headOption.map(_._1) === Some("57014"), r.errors.toString)
    assert(elapsedMs < 30000, s"timeout took ${elapsedMs}ms")
    c.query("SET statement_timeout = 0")
    c.close()
  }

  test("information_schema.tables/columns resolve (JDBC introspection path)") {
    val c = connect()
    val t = c.query(
      "SELECT table_name, table_type FROM information_schema.tables WHERE table_schema = 'public' ORDER BY table_name")
    assert(t.errors.isEmpty, t.errors.toString)
    assert(t.rows.exists(_(0) === Some("t7")))
    val cols = c.query(
      """SELECT column_name, data_type, ordinal_position FROM information_schema.columns
        |WHERE table_name = 't7' ORDER BY ordinal_position""".stripMargin)
    assert(cols.errors.isEmpty, cols.errors.toString)
    assert(cols.rows.map(r => (r(0).get, r(1).get)) ===
      Seq(("id", "integer"), ("name", "text")))
    c.close()
  }

  test("pg_get_keywords() UDTF-as-view works through the TVF rewrite") {
    val c = connect()
    val r = c.query("SELECT word FROM pg_get_keywords() WHERE catcode = 'R' ORDER BY word LIMIT 3")
    assert(r.errors.isEmpty, r.errors.toString)
    assert(r.rows.map(_.head.get) === Seq("all", "analyse", "analyze"))
    c.close()
  }

  test("SHOW ALL lists settings with three columns") {
    val c = connect()
    val r = c.query("SHOW ALL")
    assert(r.fields.map(_._1) === Seq("name", "setting", "description"))
    assert(r.rows.exists(_.head === Some("server_version")))
    c.close()
  }

  test("DDL + INSERT round-trip: CREATE TABLE / INSERT 0 n / CTAS / DROP") {
    val c = connect()
    c.query("DROP TABLE IF EXISTS pgtest_ins")
    val ct = c.query("CREATE TABLE pgtest_ins(id INT) USING parquet")
    assert(ct.errors.isEmpty, ct.errors.toString)
    assert(ct.tags === Seq("CREATE TABLE"))
    val ins = c.query("INSERT INTO pgtest_ins VALUES (1), (2), (3)")
    assert(ins.errors.isEmpty, ins.errors.toString)
    assert(ins.tags === Seq("INSERT 0 3"))
    assert(c.query("SELECT count(*) FROM pgtest_ins").rows === Seq(Seq(Some("3"))))
    val ctas = c.query("CREATE TABLE pgtest_ctas USING parquet AS SELECT id * 2 AS x FROM pgtest_ins")
    assert(ctas.errors.isEmpty, ctas.errors.toString)
    assert(ctas.tags === Seq("CREATE TABLE"))
    assert(c.query("SELECT count(*) FROM pgtest_ctas").rows === Seq(Seq(Some("3"))))
    assert(c.query("DROP TABLE pgtest_ins").tags === Seq("DROP TABLE"))
    assert(c.query("DROP TABLE pgtest_ctas").tags === Seq("DROP TABLE"))
    c.close()
  }

  test("RBAC: readonly user can SELECT but not CREATE (42501)") {
    val c = connect()
    assert(c.query("CREATE USER alice WITH PASSWORD 'pw'").tags === Seq("CREATE USER"))
    assert(c.query("GRANT readonly TO alice").tags === Seq("GRANT"))
    // new connection as alice (trust auth: no password prompt)
    val a = new Client(server.boundPort)
    a.startup(user = "alice")
    assert(a.query("SELECT id FROM t7 ORDER BY id LIMIT 1").rows === Seq(Seq(Some("0"))))
    val denied = a.query("CREATE TABLE alice_t(id INT) USING parquet")
    assert(denied.errors.head._1 === "42501")
    a.close()
    // revoke the role: SELECT now denied too
    assert(c.query("REVOKE readonly FROM alice").tags === Seq("REVOKE"))
    val b = new Client(server.boundPort)
    b.startup(user = "alice")
    assert(b.query("SELECT id FROM t7 LIMIT 1").errors.head._1 === "42501")
    b.close()
    c.query("DROP USER alice")
    c.close()
  }

  test("RBAC: per-table GRANT scopes access") {
    val c = connect()
    c.query("CREATE USER carol")
    c.query("CREATE ROLE t7_reader")
    assert(c.query("GRANT SELECT ON t7 TO t7_reader").tags === Seq("GRANT"))
    c.query("GRANT t7_reader TO carol")
    val a = new Client(server.boundPort)
    a.startup(user = "carol")
    assert(a.query("SELECT count(*) FROM t7").rows === Seq(Seq(Some("7"))))
    assert(a.query("SELECT 1 FROM range(3)").errors.head._1 === "42501")
    a.close()
    c.query("DROP USER carol"); c.query("DROP ROLE t7_reader")
    c.close()
  }

  test("custom QueryHook intercepts before the engine") {
    import graft.pgwire.{PgResult, QueryHook, RowSet, Session => PgSession}
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val hook = new QueryHook {
      def handle(s: org.apache.spark.sql.SparkSession, sess: PgSession,
          sql: String): Option[PgResult] =
        if (sql.trim.equalsIgnoreCase("SELECT magic")) Some(RowSet(
          StructType(Seq(StructField("magic", StringType))),
          Iterator.single(org.apache.spark.sql.Row("abracadabra")),
          n => s"SELECT $n"))
        else None
    }
    val hooked = new PgServer(spark, hooks = Seq(hook))
    hooked.start()
    try {
      val c = new Client(hooked.boundPort)
      c.startup()
      assert(c.query("SELECT magic").rows === Seq(Seq(Some("abracadabra"))))
      assert(c.query("SELECT 1").rows === Seq(Seq(Some("1")))) // passthrough
      c.close()
    } finally hooked.stop()
  }

  test("extended-protocol SHOW describes a RowDescription; DISCARD ALL resets session") {
    val c = connect()
    c.query("SET application_name = 'before_discard'")
    c.query("SET statement_timeout = '7s'")
    c.parse("sh1", "SHOW application_name")
    c.bind("ph1", "sh1", Nil)
    c.describe('P', "ph1")
    c.execute("ph1")
    val r = c.sync()
    assert(r.errors.isEmpty, r.errors.toString)
    assert(r.fields.map(_._1) === Seq("application_name"))
    assert(r.rows === Seq(Seq(Some("before_discard"))))
    assert(c.query("DISCARD ALL").tags === Seq("DISCARD ALL"))
    assert(c.query("SHOW application_name").rows === Seq(Seq(Some(""))))
    assert(c.query("SHOW statement_timeout").rows === Seq(Seq(Some("0"))))
    c.close()
  }

  test("concurrent connections interleave queries safely") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val futures = (1 to 4).map { cid =>
      Future {
        val c = connect()
        try (1 to 8).map { i =>
          val r = c.query(s"SELECT $cid * 100 + $i AS v, count(*) FROM t7 GROUP BY 1")
          assert(r.errors.isEmpty, r.errors.toString)
          r.rows.head.head.get.toInt
        } finally c.close()
      }
    }
    val results = Await.result(Future.sequence(futures), 120.seconds)
    assert(results.flatten.toSet === (for (c <- 1 to 4; i <- 1 to 8) yield c * 100 + i).toSet)
  }

  test("TLS: SSLRequest upgrades the connection and queries run over it") {
    // self-signed cert minted with the JDK keytool
    val ksPath = java.nio.file.Files.createTempDirectory("pgtls").resolve("ks.p12")
    val keytool = new ProcessBuilder(
      s"${sys.props("java.home")}/bin/keytool", "-genkeypair", "-alias", "pg",
      "-keyalg", "RSA", "-keysize", "2048", "-storetype", "PKCS12",
      "-keystore", ksPath.toString, "-storepass", "changeit",
      "-dname", "CN=localhost", "-validity", "1").inheritIO().start()
    assert(keytool.waitFor() === 0, "keytool failed")
    val ks = java.security.KeyStore.getInstance("PKCS12")
    val fis = java.nio.file.Files.newInputStream(ksPath)
    try ks.load(fis, "changeit".toCharArray) finally fis.close()
    val kmf = javax.net.ssl.KeyManagerFactory.getInstance("SunX509")
    kmf.init(ks, "changeit".toCharArray)
    val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
    ctx.init(kmf.getKeyManagers, null, null)

    val srv = new PgServer(spark, tls = Some(ctx))
    srv.start()
    try {
      val plain = new Socket("127.0.0.1", srv.boundPort)
      plain.setSoTimeout(30000)
      val pout = new DataOutputStream(plain.getOutputStream)
      pout.writeInt(8); pout.writeInt(80877103); pout.flush() // SSLRequest
      assert(plain.getInputStream.read() === 'S'.toInt)
      // trust-all client context for the self-signed cert
      val trustAll = new javax.net.ssl.X509TrustManager {
        def getAcceptedIssuers = new Array[java.security.cert.X509Certificate](0)
        def checkClientTrusted(c: Array[java.security.cert.X509Certificate], a: String): Unit = ()
        def checkServerTrusted(c: Array[java.security.cert.X509Certificate], a: String): Unit = ()
      }
      val cctx = javax.net.ssl.SSLContext.getInstance("TLS")
      cctx.init(null, Array(trustAll), null)
      val ssl = cctx.getSocketFactory
        .createSocket(plain, "localhost", srv.boundPort, true)
        .asInstanceOf[javax.net.ssl.SSLSocket]
      ssl.setUseClientMode(true)
      ssl.startHandshake()
      // speak the normal protocol inside the tunnel
      val in = new DataInputStream(new BufferedInputStream(ssl.getInputStream))
      val out = new DataOutputStream(new BufferedOutputStream(ssl.getOutputStream))
      def cstr(o: DataOutputStream, s: String): Unit = { o.write(s.getBytes(UTF_8)); o.writeByte(0) }
      val sb = new ByteArrayOutputStream(); val so = new DataOutputStream(sb)
      so.writeInt(196608); cstr(so, "user"); cstr(so, "postgres")
      cstr(so, "database"); cstr(so, "postgres"); so.writeByte(0)
      out.writeInt(sb.size + 4); sb.writeTo(out); out.flush()
      def read(): (Char, Array[Byte]) = {
        val t = in.read(); val len = in.readInt()
        val b = new Array[Byte](len - 4); in.readFully(b); (t.toChar, b)
      }
      var done = false
      while (!done) { val (t, _) = read(); if (t == 'Z') done = true }
      val qb = new ByteArrayOutputStream(); val qo = new DataOutputStream(qb)
      cstr(qo, "SELECT 99")
      out.writeByte('Q'); out.writeInt(qb.size + 4); qb.writeTo(out); out.flush()
      var saw = false; done = false
      while (!done) {
        val (t, b) = read()
        if (t == 'D') saw = new String(b, 6, b.length - 6, UTF_8) == "99"
        if (t == 'Z') done = true
      }
      assert(saw, "query result did not arrive over TLS")
      ssl.close()
    } finally srv.stop()
  }

  test("SCRAM-SHA-256 handshake authenticates per RFC 5802") {
    import java.util.Base64
    import javax.crypto.Mac
    import javax.crypto.spec.{PBEKeySpec, SecretKeySpec}
    import javax.crypto.SecretKeyFactory
    import java.security.MessageDigest
    def hmac(key: Array[Byte], data: Array[Byte]): Array[Byte] = {
      val m = Mac.getInstance("HmacSHA256")
      m.init(new SecretKeySpec(key, "HmacSHA256")); m.doFinal(data)
    }
    val am = new graft.pgwire.AuthManager
    am.createUser("scramuser", Some("tops3cret"))
    am.grantRole("dbadmin", "scramuser")
    val srv = new PgServer(spark, authMethod = "scram-sha-256", auth = am)
    srv.start()
    try {
      val sock = new Socket("127.0.0.1", srv.boundPort)
      sock.setSoTimeout(30000)
      val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
      val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
      def cstr(o: DataOutputStream, s: String): Unit = { o.write(s.getBytes(UTF_8)); o.writeByte(0) }
      def send(tpe: Char)(body: DataOutputStream => Unit): Unit = {
        val buf = new ByteArrayOutputStream(); body(new DataOutputStream(buf))
        out.writeByte(tpe); out.writeInt(buf.size + 4); buf.writeTo(out); out.flush()
      }
      def read(): (Char, Array[Byte]) = {
        val t = in.read(); val len = in.readInt()
        val b = new Array[Byte](len - 4); in.readFully(b); (t.toChar, b)
      }
      // startup
      val sb = new ByteArrayOutputStream(); val so = new DataOutputStream(sb)
      so.writeInt(196608); cstr(so, "user"); cstr(so, "scramuser")
      cstr(so, "database"); cstr(so, "postgres"); so.writeByte(0)
      out.writeInt(sb.size + 4); sb.writeTo(out); out.flush()
      // AuthenticationSASL
      val (t1, b1) = read()
      assert(t1 == 'R' && java.nio.ByteBuffer.wrap(b1).getInt == 10)
      assert(new String(b1, 4, b1.length - 6, UTF_8).startsWith("SCRAM-SHA-256"))
      // client-first
      val cnonce = "clientnonce12345"
      val clientFirstBare = s"n=scramuser,r=$cnonce"
      val clientFirst = "n,," + clientFirstBare
      send('p') { o =>
        cstr(o, "SCRAM-SHA-256")
        val d = clientFirst.getBytes(UTF_8); o.writeInt(d.length); o.write(d)
      }
      // server-first
      val (t2, b2) = read()
      assert(t2 == 'R' && java.nio.ByteBuffer.wrap(b2).getInt == 11)
      val serverFirst = new String(b2, 4, b2.length - 4, UTF_8)
      val attrs = serverFirst.split(",").map(f => f.substring(0, 1) -> f.substring(2)).toMap
      val nonce = attrs("r"); val salt = Base64.getDecoder.decode(attrs("s"))
      val iters = attrs("i").toInt
      assert(nonce.startsWith(cnonce))
      // client-final with proof
      val spec = new PBEKeySpec("tops3cret".toCharArray, salt, iters, 256)
      val salted = SecretKeyFactory.getInstance("PBKDF2WithHmacSHA256")
        .generateSecret(spec).getEncoded
      val clientKey = hmac(salted, "Client Key".getBytes(UTF_8))
      val storedKey = MessageDigest.getInstance("SHA-256").digest(clientKey)
      val withoutProof = s"c=biws,r=$nonce"
      val authMsg = (clientFirstBare + "," + serverFirst + "," + withoutProof).getBytes(UTF_8)
      val sig = hmac(storedKey, authMsg)
      val proof = clientKey.zip(sig).map { case (a, b) => (a ^ b).toByte }
      send('p')(o => o.write(
        (withoutProof + ",p=" + Base64.getEncoder.encodeToString(proof)).getBytes(UTF_8)))
      // SASLFinal (server signature) then AuthOk then ReadyForQuery
      val (t3, b3) = read()
      assert(t3 == 'R' && java.nio.ByteBuffer.wrap(b3).getInt == 12)
      val serverKey = hmac(salted, "Server Key".getBytes(UTF_8))
      val expectV = "v=" + Base64.getEncoder.encodeToString(hmac(serverKey, authMsg))
      assert(new String(b3, 4, b3.length - 4, UTF_8) === expectV)
      var done = false
      while (!done) { val (t, _) = read(); if (t == 'Z') done = true }
      // authenticated: run a query
      send('Q')(cstr(_, "SELECT 7"))
      var saw7 = false
      done = false
      while (!done) {
        val (t, b) = read()
        if (t == 'D') saw7 = new String(b, 6, b.length - 6, UTF_8) == "7"
        if (t == 'Z') done = true
      }
      assert(saw7)
      sock.close()
    } finally srv.stop()
  }

  test("cleartext auth accepts the right password and rejects the wrong one") {
    // AuthManager-backed credential lookup (reference DfAuthSource)
    val am = new graft.pgwire.AuthManager
    am.createUser("alice", Some("secret"))
    am.grantRole("dbadmin", "alice")
    val authed = new PgServer(spark, authMethod = "cleartext", auth = am)
    authed.start()
    try {
      val ok = new Client(authed.boundPort)
      val r = ok.startup(user = "alice", password = Some("secret"))
      assert(r.txnStatus === 'I')
      assert(ok.query("SELECT 1").rows === Seq(Seq(Some("1"))))
      ok.close()
      val bad = new Client(authed.boundPort)
      intercept[Throwable] {
        val r2 = bad.startup(user = "alice", password = Some("wrong"))
        assert(r2.errors.nonEmpty) // either error reply or closed conn
        throw new RuntimeException("got error reply as expected")
      }
      bad.close()
    } finally authed.stop()
  }

  test("format GUCs: DateStyle, bytea_output, extra_float_digits change wire text") {
    val c = connect()
    val probe = "SELECT DATE '2024-03-01' AS d, TIMESTAMP_NTZ '2024-03-01 14:30:00' AS ts, " +
      "X'481b' AS b, CAST(0.1 AS DOUBLE) + CAST(0.2 AS DOUBLE) AS f"
    // defaults: ISO date, hex bytea, shortest-precise float
    val iso = c.query(probe)
    assert(iso.rows.head === Seq(Some("2024-03-01"), Some("2024-03-01 14:30:00"),
      Some("\\x481b"), Some("0.30000000000000004")))

    assert(c.query("SET datestyle = 'German'").paramStatus("DateStyle") === "German")
    assert(c.query("SELECT DATE '2024-03-01'").rows.head.head === Some("01.03.2024"))
    c.query("SET datestyle = 'SQL, DMY'")
    assert(c.query(probe).rows.head.take(2) ===
      Seq(Some("01/03/2024"), Some("01/03/2024 14:30:00")))
    c.query("SET datestyle = 'Postgres, MDY'")
    assert(c.query("SELECT TIMESTAMP_NTZ '2024-03-01 14:30:00'").rows.head.head ===
      Some("Fri Mar 01 14:30:00 2024"))
    c.query("SET datestyle = 'ISO, MDY'")

    c.query("SET bytea_output = escape")
    assert(c.query("SELECT X'481b'").rows.head.head === Some("H\\033"))
    c.query("SET bytea_output = hex")

    // extra_float_digits = 0 → pg pre-Ryu %.15g (rounds the noise away)
    c.query("SET extra_float_digits = 0")
    assert(c.query("SELECT CAST(0.1 AS DOUBLE) + CAST(0.2 AS DOUBLE)").rows.head.head ===
      Some("0.3"))
    c.query("SET extra_float_digits = 3")
    assert(c.query("SELECT CAST(0.1 AS DOUBLE) + CAST(0.2 AS DOUBLE)").rows.head.head ===
      Some("0.30000000000000004"))
    c.close()
  }

  test("startup-packet parameters are applied as session GUCs") {
    val c = new Client(server.boundPort)
    c.startup(extraParams = Seq("DateStyle" -> "German", "application_name" -> "myapp"))
    assert(c.query("SHOW datestyle").rows.head.head === Some("German"))
    assert(c.query("SHOW application_name").rows.head.head === Some("myapp"))
    assert(c.query("SELECT DATE '2024-03-01'").rows.head.head === Some("01.03.2024"))
    c.close()
  }

  test("maintenance statements no-op with pg tags (VACUUM/ANALYZE/REINDEX)") {
    val c = connect()
    assert(c.query("VACUUM").tags === Seq("VACUUM"))
    assert(c.query("VACUUM ANALYZE t7").tags === Seq("VACUUM"))
    assert(c.query("ANALYZE t7").tags === Seq("ANALYZE"))
    assert(c.query("ANALYSE").tags === Seq("ANALYZE"))
    assert(c.query("REINDEX TABLE t7").tags === Seq("REINDEX"))
    // the session still works afterwards
    assert(c.query("SELECT count(*) FROM t7").rows === Seq(Seq(Some("7"))))
    c.close()
  }

  test("EXPLAIN runs through the server and returns a plan") {
    // the reference delegates EXPLAIN to its engine (handlers.rs runs
    // it as a plain query); here Spark's EXPLAIN plays that role
    val c = connect()
    val r = c.query("EXPLAIN SELECT count(*) FROM t7 WHERE id > 2")
    assert(r.errors.isEmpty, r.errors.toString)
    assert(r.rows.nonEmpty)
    assert(r.rows.map(_.head.getOrElse("")).mkString.contains("Physical Plan"))
    c.close()
  }

  test("every reference catalog export is queryable (65-table parity)") {
    // the reference ships these 65 tables as populated feathers
    // (datafusion-pg-catalog/pg_catalog_arrow_exports/); each must at
    // minimum resolve and count through the server
    val refTables = Seq(
      "pg_aggregate", "pg_am", "pg_amop", "pg_amproc", "pg_attrdef",
      "pg_attribute", "pg_auth_members", "pg_authid", "pg_cast", "pg_class",
      "pg_collation", "pg_constraint", "pg_conversion", "pg_database",
      "pg_db_role_setting", "pg_default_acl", "pg_depend", "pg_description",
      "pg_enum", "pg_event_trigger", "pg_extension", "pg_foreign_data_wrapper",
      "pg_foreign_server", "pg_foreign_table", "pg_get_keywords", "pg_index",
      "pg_inherits", "pg_init_privs", "pg_language", "pg_largeobject",
      "pg_largeobject_metadata", "pg_namespace", "pg_opclass", "pg_operator",
      "pg_opfamily", "pg_parameter_acl", "pg_partitioned_table", "pg_policy",
      "pg_proc", "pg_publication", "pg_publication_namespace",
      "pg_publication_rel", "pg_range", "pg_replication_origin", "pg_rewrite",
      "pg_seclabel", "pg_sequence", "pg_shdepend", "pg_shdescription",
      "pg_shseclabel", "pg_statistic", "pg_statistic_ext",
      "pg_statistic_ext_data", "pg_subscription", "pg_subscription_rel",
      "pg_tablespace", "pg_transform", "pg_trigger", "pg_ts_config",
      "pg_ts_config_map", "pg_ts_dict", "pg_ts_parser", "pg_ts_template",
      "pg_type", "pg_user_mapping")
    assert(refTables.size === 65)
    val c = connect()
    for (t <- refTables) {
      val r = c.query(s"SELECT count(*) AS n FROM pg_catalog.$t")
      assert(r.errors.isEmpty, s"$t: ${r.errors}")
      assert(r.rows.size === 1, t)
    }
    // the derived content joins: amop strategies resolve to pg_operator
    // rows through pg_opfamily/pg_am, the way \d-style tooling walks them
    val join = c.query(
      """SELECT am.amname, f.opfname, o.oprname, a.amopstrategy
        |FROM pg_catalog.pg_amop a
        |JOIN pg_catalog.pg_am am ON a.amopmethod = am.oid
        |JOIN pg_catalog.pg_opfamily f ON a.amopfamily = f.oid
        |JOIN pg_catalog.pg_operator o ON a.amopopr = o.oid
        |WHERE f.opfname = 'integer_ops' AND am.amname = 'btree'
        |  AND a.amoplefttype = 23 AND a.amopstrategy = 3""".stripMargin)
    assert(join.rows === Seq(Seq(Some("btree"), Some("integer_ops"), Some("="), Some("3"))))
    // text-search parity: 29 configs × 19 token mappings = 551 rows
    assert(c.query("SELECT count(*) FROM pg_catalog.pg_ts_config").rows.head.head
      === Some("29"))
    assert(c.query("SELECT count(*) FROM pg_catalog.pg_ts_config_map").rows.head.head
      === Some("551"))
    c.close()
  }

  test("SET pg_trgm.*_threshold drives the %-family rewrites (live-pg pinned r16)") {
    // outcomes pinned against live pg 15 + pg_trgm at the same
    // thresholds (2026-08-16): similarity('abcdef','abzzzz') =
    // 0.18181819 flips across 0.05/0.3; 'word'~'words' = 0.5714286
    // drops at 0.8; the word/strict families ride their own GUCs
    val c = connect()
    def one(expr: String): String =
      c.query(s"SELECT $expr").rows.head.head.getOrElse("")
    assert(one("'abcdef' % 'abzzzz'") === "f") // extension default 0.3
    assert(c.query("SET pg_trgm.similarity_threshold = 0.05").errors === Nil)
    assert(one("'abcdef' % 'abzzzz'") === "t")
    assert(c.query("SET pg_trgm.similarity_threshold = 0.8").errors === Nil)
    assert(one("'word' % 'words'") === "f")
    assert(one("'x' % 'x'") === "t")
    assert(c.query("SET pg_trgm.word_similarity_threshold = 0.99").errors === Nil)
    assert(one("'word' <% 'two words here'") === "f")
    assert(one("'two words here' %> 'word'") === "f")
    assert(c.query("SET pg_trgm.strict_word_similarity_threshold = 0.1").errors === Nil)
    assert(one("'zzz' <<% 'two words here'") === "f")
    assert(one("'abc' <<% 'abc zzz'") === "t")
    assert(c.query("SET pg_trgm.similarity_threshold = 0.3").errors === Nil)
    assert(one("'abcdef' % 'abzzzz'") === "f")
    // an unparseable value behaves as the unloaded-extension default
    // (our custom-GUC store is unvalidated — lenient deviation)
    c.query("SET pg_trgm.similarity_threshold = 'bogus'")
    assert(one("'word' % 'words'") === "t")
    // the threshold is SESSION state: a fresh connection sees defaults
    val c2 = connect()
    assert(c2.query("SELECT 'abcdef' % 'abzzzz'")
      .rows.head.head === Some("f"))
    c2.close()
    c.close()
  }

  // ---- result encoding: the per-result row writer vs the per-value encoders ----

  /** One column per result type, nested NULLs inside the composites,
    * and NULL columns of several types. */
  private val matrixCols = Seq(
    "true", "7::int2", "-42::int4", "(-9223372036854775807 - 1)::int8",
    "1.5e-5::float4", "0.1::float8 + 0.2::float8", "1e16::float8", "'NaN'::float8",
    "12345.678::numeric(10,3)", "'a b,\"c' || chr(92)", "'héllo ✓'::varchar(10)",
    "decode('deadbeef5c41207f', 'hex')", "date '2024-03-05'",
    "timestamp '2024-03-05 14:30:00.125'", "timestamptz '2024-07-01 12:00:00.5+00'",
    "time '13:45:07.25'", "interval '1 year 2 mons 3 days 04:05:06'",
    "ARRAY[1, NULL, 2]", "ARRAY['a b', NULL, '', 'NULL', 'q\"' || chr(92)]",
    "ARRAY[timestamptz '2024-01-01 00:00:00+00']", "ARRAY[date '2024-01-02']",
    "ARRAY[0.1::float8, 1e20::float8]",
    "ROW(0.1::float8 + 0.2::float8, date '2024-01-02', 'x y', NULL::int4)",
    "st_geomfromtext('POINT(1 2)')",
    "NULL::int4", "NULL::text", "NULL::date", "NULL::timestamptz", "NULL::time")

  private val matrixSql =
    matrixCols.zipWithIndex.map { case (e, i) => s"$e AS c$i" }.mkString("SELECT ", ", ", "")

  /** The DataRow bodies the per-value encoders give for `sql` under the
    * `setup` statements: Handlers in-process, then
    * TextEncoder.encodeField / BinaryEncoder.encodeField per value and
    * Messages.dataRow per row. */
  private def perValueRows(setup: Seq[String], sql: String, formats: Seq[Short]): Seq[Seq[Byte]] = {
    val s = new Session(0, "postgres", "postgres")
    setup.foreach(Handlers.execute(spark, s, _))
    val RowSet(schema, rows, _, _) = Handlers.execute(spark, s, sql)
    val fmt = s.outputFmt
    rows.map { row =>
      val vals = schema.fields.indices.map { i =>
        val v = if (row.isNullAt(i)) null else row.get(i)
        val binary = formats.nonEmpty && (if (formats.length == 1) formats.head else formats(i)) == 1
        if (binary) BinaryEncoder.encodeField(v, schema(i))
        else TextEncoder.encodeField(v, schema(i), fmt).map(_.getBytes(UTF_8))
      }
      val bo = new ByteArrayOutputStream()
      Messages.dataRow(new DataOutputStream(bo), vals)
      bo.toByteArray.toSeq.drop(5) // type byte + length
    }.toSeq
  }

  test("DataRows from the row writer equal the per-value encoders across formats and settings") {
    val styles = for (s <- Seq("ISO", "SQL", "Postgres", "German"); o <- Seq("MDY", "DMY")) yield s"$s, $o"
    val zones = Seq("UTC", "America/New_York", "Asia/Kolkata")
    val n = matrixCols.length
    val formatSets = Seq(Seq.empty[Short], Seq[Short](1),
      (0 until n).map(i => (i % 2).toShort), (0 until n).map(i => ((i + 1) % 2).toShort))
    val c = connect()
    var checked = 0
    for ((style, k) <- styles.zipWithIndex; zone <- zones) {
      val setup = Seq(s"SET DateStyle = '$style'", s"SET TimeZone = '$zone'",
        s"SET bytea_output = '${if (k % 2 == 0) "hex" else "escape"}'",
        s"SET extra_float_digits = ${Seq(1, 0, -3, 3)(k % 4)}")
      setup.foreach(q => assert(c.query(q).errors.isEmpty, q))
      formatSets.foreach { formats =>
        c.parse("", matrixSql)
        c.bind("", "", Nil, resultFormats = formats)
        c.execute("")
        val r = c.sync()
        assert(r.errors.isEmpty, s"$setup $formats: ${r.errors}")
        assert(r.dataRows.map(_.toSeq) === perValueRows(setup, matrixSql, formats),
          s"$setup formats $formats")
        checked += 1
      }
      // the simple-query path writes text through the same writer
      val q = c.query(matrixSql)
      assert(q.dataRows.map(_.toSeq) === perValueRows(setup, matrixSql, Nil), s"$setup simple query")
    }
    assert(checked === styles.length * zones.length * formatSets.length)
    c.close()
  }

  test("timestamptz array elements render at the session TimeZone") {
    val c = connect()
    c.query("SET TimeZone = 'America/New_York'")
    // live pg 15: {"2023-12-31 19:00:00-05"}
    assert(c.query("SELECT ARRAY[timestamptz '2024-01-01 00:00:00+00'] AS a").rows ===
      Seq(Seq(Some("{\"2023-12-31 19:00:00-05\"}"))))
    c.close()
  }

  test("record fields follow DateStyle and extra_float_digits") {
    val c = connect()
    c.query("SET DateStyle = 'German'")
    c.query("SET extra_float_digits = 0")
    // live pg 15: (0.3,02.01.2024)
    assert(c.query("SELECT ROW(0.1::float8 + 0.2::float8, date '2024-01-02') AS r").rows ===
      Seq(Seq(Some("(0.3,02.01.2024)"))))
    c.close()
  }

  test("a suspended portal's next Execute formats with the DateStyle set in between") {
    val c = connect()
    c.query("BEGIN")
    c.parse("dates", "SELECT date '2024-01-02' + id AS d FROM t7 ORDER BY id")
    c.bind("pd", "dates", Nil)
    c.execute("pd", maxRows = 2)
    c.parse("", "SET DateStyle = 'German'")
    c.bind("", "", Nil)
    c.execute("")
    c.execute("pd", maxRows = 2)
    val r = c.sync()
    assert(r.errors.isEmpty, r.errors.toString)
    // pg formats at output time: the second batch is German
    assert(r.rows.map(_.head.get) === Seq("2024-01-02", "2024-01-03", "04.01.2024", "05.01.2024"))
    c.query("COMMIT")
    c.close()
  }
}

/** Child JVM for PgServerSpec: builds a session WITHOUT
  * graft.GraftExtensions (the test JVM's shared session has it, and a
  * JVM hosts one SparkContext) and writes what `PgServer.start` did. */
object PlainSessionStart {
  def main(args: Array[String]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[1]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-plain-wh").toString)
      .getOrCreate()
    val outcome =
      try { new PgServer(spark).start(); "started" }
      catch { case e: IllegalStateException => "refused: " + e.getMessage }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args(0)), outcome)
    spark.stop()
  }
}
