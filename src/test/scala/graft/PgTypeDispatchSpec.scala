package graft

import org.scalatest.BeforeAndAfterAll
import graft.pgwire.PgServer

/** Range, network, money, enum, text-search, trigram and jsonb
  * operators dispatch on operand TYPE (PgSemantics.pgTypeOf), so
  * columns work like literals: stored columns, subquery/CTE/view
  * columns and computed values alike.
  * Every expected value below is the output of a live PostgreSQL
  * 15.18 (`psql -X -A -t`, UTC), same statements.
  */
class PgTypeDispatchSpec extends SparkSpec with BeforeAndAfterAll {

  private var server: PgServer = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    graft.pgwire.PgFunctions.registerAll(spark)
    server = new PgServer(spark)
    server.start()
  }

  override def afterAll(): Unit = {
    if (server != null) server.stop()
    super.afterAll()
  }

  private def connect(): Client = {
    val c = new Client(server.boundPort)
    c.startup()
    c
  }

  /** psql -A -t text: columns `|`-joined, rows newline-joined. */
  private def text(r: Reply): String =
    r.rows.map(_.map(_.getOrElse("")).mkString("|")).mkString("\n")

  test("computed and view columns report their pg OIDs") {
    val c = connect()
    val r = c.query("SELECT '10.0.0.1'::inet, '10.0.0.0/8'::cidr, " +
      "'08:00:2b:01:02:03'::macaddr, '08:00:2b:01:02:03:04:05'::macaddr8")
    assert(r.errors === Nil, r.errors)
    assert(r.fields.map(_._2) === Seq(869, 650, 829, 774))
    c.query("DROP VIEW IF EXISTS tdv")
    assert(c.query("CREATE VIEW tdv AS SELECT int4range(1,10) AS r, " +
      "'10.1.2.3'::inet AS a, '$1.50'::money AS m").errors === Nil)
    val v = c.query("SELECT r, a, m FROM tdv")
    assert(v.fields.map(_._2) === Seq(3904, 869, 790))
    assert(text(v) === "[1,10)|10.1.2.3|$1.50")
    c.query("DROP VIEW tdv")
    c.close()
  }

  test("column-operand matrix matches live pg") {
    val c = connect()
    Seq("DROP VIEW IF EXISTS rv", "DROP TABLE IF EXISTS ni", "DROP TABLE IF EXISTS n2")
      .foreach(c.query)
    for (setup <- Seq(
        "CREATE TABLE ni(a inet, b inet, c cidr, r int4range, m money, mac macaddr)",
        "INSERT INTO ni VALUES ('10.1.2.3','10.1.2.0','10.1.0.0/16','[1,10)','$1.50'," +
          "'08:00:2b:01:02:03')",
        "CREATE TABLE n2(a inet)",
        "INSERT INTO n2 VALUES ('10.1.2.10'), ('10.1.2.9')",
        "CREATE VIEW rv AS SELECT int4range(1,10) AS r, '10.1.2.3'::inet AS a, " +
          "'$1.50'::money AS m"))
      assert(c.query(setup).errors === Nil, setup)
    val pinned = Seq(
      "SELECT a - b FROM ni" -> "3",
      "SELECT a + 1 FROM ni" -> "10.1.2.4",
      "SELECT a << c, c >> a, a && c FROM ni" -> "t|t|t",
      "SELECT ~a FROM ni" -> "245.254.253.252",
      "SELECT r @> 5, r + int4range(5,15), upper(r), r && int4range(8,20) FROM ni" ->
        "t|[1,15)|10|t",
      "SELECT m * 2, m + m, m::numeric FROM ni" -> "$3.00|$3.00|1.50",
      "SELECT abbrev(c), text(a), set_masklen(c, 8) FROM ni" ->
        "10.1/16|10.1.2.3/32|10.0.0.0/8",
      "SELECT trunc(mac), mac & '00:00:00:ff:ff:ff'::macaddr FROM ni" ->
        "08:00:2b:00:00:00|00:00:00:01:02:03",
      // compared as inet, not as text ('10.1.2.10' < '10.1.2.9' as text)
      "SELECT a FROM n2 WHERE a > '10.1.2.9'::inet" -> "10.1.2.10",
      "SELECT x @> 5 FROM (SELECT int4range(1,10) AS x) t" -> "t",
      "WITH t AS (SELECT int4range(1,10) AS x) SELECT x @> 5, x && int4range(8,20) FROM t" ->
        "t|t",
      "SELECT a << b FROM (SELECT '10.1.2.3'::inet AS a, '10.0.0.0/8'::cidr AS b) t" -> "t",
      "SELECT r @> 5, a << '10.0.0.0/8'::inet, upper(r) FROM rv" -> "t|t|10",
      "SELECT '10.1.2.3'::inet::text" -> "10.1.2.3/32",
      "SELECT text(5)" -> "5")
    for ((sql, want) <- pinned) {
      val r = c.query(sql)
      assert(r.errors === Nil, sql)
      assert(text(r) === want, sql)
    }
    Seq("DROP VIEW rv", "DROP TABLE ni", "DROP TABLE n2").foreach(c.query)
    c.close()
  }

  test("family columns in UPDATE, WHERE and mixed-type arithmetic match live pg") {
    val c = connect()
    c.query("DROP TABLE IF EXISTS nx")
    assert(c.query("CREATE TABLE nx(id int, a inet, c cidr, r int4range, " +
      "r2 int4range, m money, mac macaddr)").errors === Nil)
    assert(c.query("INSERT INTO nx VALUES (1, '10.1.2.3', '10.1.0.0/16', '[1,10)', " +
      "'[5,20)', '$1.50', '08:00:2b:01:02:03'), (2, '192.168.1.9', '192.168.0.0/24', " +
      "'[5,8)', '[20,30)', '$2.25', '08:00:2b:01:02:04')").errors === Nil)
    val pinned = Seq(
      "SELECT id, 1 + a, a - 1, a - '10.1.0.0'::inet FROM nx ORDER BY id" ->
        "1|10.1.2.4|10.1.2.2|515\n2|192.168.1.10|192.168.1.8|3064398089",
      "SELECT id, m / m, 2 * m, m - m, m < m, m > '$2.00', m <= '$1.50' FROM nx ORDER BY id" ->
        "1|1|$3.00|$0.00|f|f|t\n2|1|$4.50|$0.00|f|t|f",
      "SELECT id, r < r2, r >= r2, r * r2, r - '[5,30)', r << r2, r >> r2, r && '[9,10)' " +
        "FROM nx ORDER BY id" -> "1|t|f|[5,10)|[1,5)|f|f|t\n2|t|f|empty|empty|t|f|f",
      "SELECT id, lower(r), r <@ r2, 5 <@ r, r2 @> r FROM nx ORDER BY id" ->
        "1|1|f|t|f\n2|5|f|t|f",
      "SELECT id, a & '255.255.0.0', a | '0.0.0.255'::inet, a::text, CAST(c AS text) " +
        "FROM nx ORDER BY id" ->
        ("1|10.1.0.0|10.1.2.255|10.1.2.3/32|10.1.0.0/16\n" +
          "2|192.168.0.0|192.168.1.255|192.168.1.9/32|192.168.0.0/24"),
      "SELECT id, ~mac, mac | '00:00:00:00:00:ff'::macaddr FROM nx ORDER BY id" ->
        "1|f7:ff:d4:fe:fd:fc|08:00:2b:01:02:ff\n2|f7:ff:d4:fe:fd:fb|08:00:2b:01:02:ff",
      "SELECT id FROM nx WHERE a << '192.168.0.0/16' ORDER BY id" -> "2",
      "SELECT id FROM nx WHERE m > '$2.00'::money ORDER BY id" -> "2",
      "SELECT id, abbrev(a), set_masklen(a, 16), network(a) FROM nx ORDER BY id" ->
        "1|10.1.2.3|10.1.2.3/16|10.1.2.3/32\n2|192.168.1.9|192.168.1.9/16|192.168.1.9/32")
    for ((sql, want) <- pinned) {
      val r = c.query(sql)
      assert(r.errors === Nil, sql)
      assert(text(r) === want, sql)
    }
    // the SET value is stored as the column's canonical text (no /32)
    assert(c.query("UPDATE nx SET a = a + 1, m = m + m, r = r + '[10,12)' WHERE id = 1")
      .tags === Seq("UPDATE 1"))
    assert(text(c.query("SELECT id, a, m, r FROM nx ORDER BY id")) ===
      "1|10.1.2.4|$3.00|[1,12)\n2|192.168.1.9|$2.25|[5,8)")
    c.query("DROP TABLE nx")
    c.close()
  }

  private def assertPinned(c: Client, pinned: Seq[(String, String)]): Unit =
    for ((sql, want) <- pinned) {
      val r = c.query(sql)
      assert(r.errors === Nil, sql)
      assert(text(r) === want, sql)
    }

  test("enum, text-search, trigram and jsonb column matrix matches live pg") {
    val c = connect()
    Seq("DROP TABLE IF EXISTS em", "DROP TABLE IF EXISTS docs", "DROP TABLE IF EXISTS nm",
      "DROP TABLE IF EXISTS js", "DROP TYPE IF EXISTS mood").foreach(c.query)
    for (setup <- Seq(
        "CREATE TYPE mood AS ENUM ('sad','ok','happy')",
        "CREATE TABLE em(m mood, k int)",
        "INSERT INTO em VALUES ('happy',1),('sad',1),('ok',2)",
        "CREATE TABLE docs(id int, d tsvector, q tsquery, body text)",
        "INSERT INTO docs SELECT 1, to_tsvector('english','the fat cats sat'), " +
          "to_tsquery('english','cat & fat'), 'the fat cats sat'",
        "CREATE TABLE nm(a text, b text)",
        "INSERT INTO nm VALUES ('word','words')",
        "CREATE TABLE js(j jsonb)",
        """INSERT INTO js VALUES ('{"a":1,"b":{"c":"x"}}')"""))
      assert(c.query(setup).errors === Nil, setup)
    assertPinned(c, Seq(
      "SELECT x FROM (SELECT m::text::mood AS x FROM em) t ORDER BY x" -> "sad\nok\nhappy",
      "WITH c AS (SELECT m::text::mood AS x FROM em) SELECT x FROM c WHERE x > 'sad' " +
        "ORDER BY x" -> "ok\nhappy",
      "SELECT max(x) FROM (SELECT m::text::mood AS x FROM em) t" -> "happy",
      "SELECT greatest(m, 'ok') FROM em ORDER BY k, m" -> "ok\nhappy\nok",
      "SELECT k, min(m) OVER (PARTITION BY k) FROM em ORDER BY k, m" ->
        "1|sad\n1|sad\n2|ok",
      "SELECT body @@ q FROM docs" -> "t",
      "SELECT d || d FROM docs" -> "'cat':3,7 'fat':2,6 'sat':4,8",
      "SELECT q && q, q || q FROM docs" ->
        "'cat' & 'fat' & 'cat' & 'fat'|'cat' & 'fat' | 'cat' & 'fat'",
      "SELECT q <-> q FROM docs" -> "( 'cat' & 'fat' ) <-> ( 'cat' & 'fat' )",
      "SELECT length(d) FROM docs" -> "3",
      "SELECT !!q FROM docs" -> "!( 'cat' & 'fat' )",
      "SELECT a % b FROM nm" -> "t",
      "SELECT a <-> b FROM nm" -> "0.4285714",
      "SELECT a <% b FROM nm" -> "t",
      "SELECT j - 'a' FROM js" -> """{"b": {"c": "x"}}""",
      """SELECT j || '{"z":2}' FROM js""" -> """{"a": 1, "b": {"c": "x"}, "z": 2}""",
      """SELECT x - 'a' FROM (SELECT '{"a":1,"b":2}'::jsonb AS x) t""" -> """{"b": 2}"""))
    Seq("DROP TABLE em", "DROP TABLE docs", "DROP TABLE nm", "DROP TABLE js",
      "DROP TYPE mood").foreach(c.query)
    c.close()
  }

  test("`<->` and the trigram operators over non-text operands") {
    val c = connect()
    // geometry <-> geometry is PostGIS's 2D distance
    assertPinned(c, Seq(
      "SELECT 'POINT(0 0)'::geometry <-> 'POINT(3 4)'::geometry" -> "5"))
    // live pg 15.18 (pg_trgm loaded): no such operator, not a trigram
    // match over the number's text
    for ((sql, op) <- Seq("SELECT 5 <-> 3" -> "<->", "SELECT 5 <% 3" -> "<%")) {
      val errs = c.query(sql).errors
      assert(errs.map(_._1) === Seq("42883"), sql)
      assert(errs.head._2 === s"operator does not exist: integer $op integer", sql)
    }
    c.close()
  }

  test("money times and over a number rounds like live pg") {
    // an integer divisor truncates the cents (cash_div_int*); a float or
    // numeric factor or divisor rounds half-even (rint)
    val c = connect()
    assertPinned(c, Seq(
      "SELECT '$2.25'::money / 2" -> "$1.12",
      "SELECT '$2.35'::money / 2" -> "$1.17",
      "SELECT '$2.35'::money / 2.0" -> "$1.18",
      "SELECT '$0.05'::money * 0.5" -> "$0.02",
      "SELECT '$0.07'::money * 0.5" -> "$0.04",
      "SELECT '$7.00'::money / 3, '$7.00'::money / -3, '$1.00'::money * 2, " +
        "2 * '$1.25'::money, '$2.50'::money / 0.5" -> "$2.33|-$2.33|$2.00|$2.50|$5.00"))
    for (sql <- Seq("SELECT '$1.00'::money / 0", "SELECT '$1.00'::money / 0.0",
        "SELECT '$1'::money / '$0'::money")) {
      val errs = c.query(sql).errors
      assert(errs.map(_._1) === Seq("22012"), sql)
      assert(errs.head._2 === "division by zero", sql)
    }
    c.close()
  }

  test("ORDER BY, min and max over inet and cidr sort in network order (live pg)") {
    val c = connect()
    c.query("DROP TABLE IF EXISTS ib")
    for (setup <- Seq("CREATE TABLE ib(a inet, c cidr)",
        "INSERT INTO ib VALUES ('10.1.2.9/8', '10.0.0.0/8'), ('10.1.2.10', '10.1.0.0/16'), " +
          "('9.0.0.1', '9.0.0.0/8'), ('::1', '::/0'), ('10.1.2.9', '10.1.2.0/24')"))
      assert(c.query(setup).errors === Nil, setup)
    assertPinned(c, Seq(
      "SELECT a FROM ib WHERE a << '10.0.0.0/8' OR a = '9.0.0.1' ORDER BY a" ->
        "9.0.0.1\n10.1.2.9\n10.1.2.10",
      "SELECT a FROM ib ORDER BY a" -> "9.0.0.1\n10.1.2.9/8\n10.1.2.9\n10.1.2.10\n::1",
      "SELECT c FROM ib ORDER BY c DESC" ->
        "::/0\n10.1.2.0/24\n10.1.0.0/16\n10.0.0.0/8\n9.0.0.0/8",
      "SELECT min(a), max(a), min(c), max(c) FROM ib" -> "9.0.0.1|::1|9.0.0.0/8|::/0",
      "SELECT k, max(a::inet) FROM (VALUES (1, '10.0.0.2'), (1, '9.9.9.9'), (2, '::2')) " +
        "t(k, a) GROUP BY k ORDER BY k" -> "1|10.0.0.2\n2|::2"))
    c.query("DROP TABLE ib")
    c.close()
  }

  test("INSERT … VALUES with cast, typed-literal and function cells (live pg)") {
    // pg accepts any expression in a VALUES cell; these forms failed as
    // Spark inline-table cells and wrote nothing
    val c = connect()
    Seq("DROP TABLE IF EXISTS vi", "DROP TYPE IF EXISTS mood").foreach(c.query)
    for (setup <- Seq("CREATE TYPE mood AS ENUM ('sad','ok','happy')",
        "CREATE TABLE vi(a inet, m mood, d tsvector, f float8)"))
      assert(c.query(setup).errors === Nil, setup)
    for ((sql, tag) <- Seq(
        "INSERT INTO vi(a) VALUES ('1.2.3.4'::inet), (inet '1.2.3.5')" -> "INSERT 0 2",
        "INSERT INTO vi(m) VALUES ('ok'::mood)" -> "INSERT 0 1",
        "INSERT INTO vi(d) VALUES ('fat cat'::tsvector), " +
          "(to_tsvector('english','fat cats'))" -> "INSERT 0 2",
        "INSERT INTO vi(f) VALUES (random())" -> "INSERT 0 1"))
      assert(c.query(sql).tags === Seq(tag), sql)
    assertPinned(c, Seq(
      "SELECT a FROM vi WHERE a IS NOT NULL ORDER BY a" -> "1.2.3.4\n1.2.3.5",
      "SELECT m FROM vi WHERE m IS NOT NULL" -> "ok",
      "SELECT d FROM vi WHERE d IS NOT NULL ORDER BY d" -> "'cat' 'fat'\n'cat':2 'fat':1",
      "SELECT count(*) FROM vi WHERE f >= 0 AND f < 1" -> "1"))
    Seq("DROP TABLE vi", "DROP TYPE mood").foreach(c.query)
    c.close()
  }
}
