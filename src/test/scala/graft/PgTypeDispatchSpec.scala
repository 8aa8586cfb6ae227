package graft

import org.scalatest.BeforeAndAfterAll
import graft.pgwire.PgServer

/** Range, network, money, enum, text-search, trigram, jsonb and
  * bit-string operators, time arithmetic and array `||` dispatch on
  * operand TYPE (PgSemantics.pgTypeOf), so columns work like literals:
  * stored columns, subquery/CTE/view columns and computed values alike.
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

  /** Drops the `drops` objects ("TABLE t", "TYPE e") if they exist,
    * runs `setup`, checks the pins, then drops the objects. */
  private def withTables(drops: Seq[String], setup: Seq[String])(
      pinned: Seq[(String, String)]): Unit = {
    val c = connect()
    drops.foreach { d =>
      val Array(kind, name) = d.split(' ')
      c.query(s"DROP $kind IF EXISTS $name")
    }
    for (sql <- setup) assert(c.query(sql).errors === Nil, sql)
    assertPinned(c, pinned)
    drops.foreach(d => c.query(s"DROP $d"))
    c.close()
  }

  private val bitTable = Seq(
    "CREATE TABLE bt(a bit(4), b bit(4), v varbit(8), k int)",
    "INSERT INTO bt VALUES (B'1010', B'0110', B'101', 1)")
  private val timeTable = Seq(
    "CREATE TABLE tt(d date, t time, ts timestamp, u time)",
    "INSERT INTO tt VALUES (DATE '2024-01-02', TIME '10:30:00', " +
      "TIMESTAMP '2024-01-02 01:00:00', TIME '01:15:00')")
  private val moodTable = Seq(
    "CREATE TYPE mood AS ENUM ('sad','ok','happy')",
    "CREATE TABLE em(m mood, k int)",
    "INSERT INTO em VALUES ('happy',1),('sad',1),('ok',2)")

  test("bit-string columns: operators, casts and accessors match live pg") {
    withTables(Seq("TABLE bt"), bitTable)(Seq(
      "SELECT a & b, a | b, a # b, ~a FROM bt" -> "0010|1110|1100|0101",
      "SELECT a << 1, a >> 2 FROM bt" -> "0100|0010",
      "SELECT a::int, k::bit(4) FROM bt" -> "10|0001",
      "SELECT bit_count(a), octet_length(a) FROM bt" -> "2|1",
      "SELECT x & y FROM (SELECT a AS x, b AS y FROM bt) s" -> "0010",
      "WITH c AS (SELECT B'1100' AS x) SELECT x | B'0011' FROM c" -> "1111"))
  }

  test("time arithmetic over columns and literals matches live pg") {
    withTables(Seq("TABLE tt"), timeTable)(Seq(
      "SELECT d + t, t + d FROM tt" -> "2024-01-02 10:30:00|2024-01-02 10:30:00",
      "SELECT t + INTERVAL '2 hours', t - INTERVAL '2 hours' FROM tt" -> "12:30:00|08:30:00",
      "SELECT t - TIME '01:00', t - u FROM tt" -> "09:30:00|09:15:00",
      "SELECT TIME '10:00' - TIME '01:00'" -> "09:00:00",
      "SELECT d + x FROM (SELECT d, t AS x FROM tt) s" -> "2024-01-02 10:30:00"))
  }

  test("array || with a computed element, a sub-array or NULL matches live pg") {
    withTables(Nil, Nil)(Seq(
      "SELECT ARRAY[1,2] || -1" -> "{1,2,-1}",
      "SELECT ARRAY[1,2] || (1+1)" -> "{1,2,2}",
      "SELECT ARRAY[ARRAY[1,2]] || ARRAY[3,4]" -> "{{1,2},{3,4}}",
      "SELECT ARRAY[1,2] || NULL" -> "{1,2}"))
  }

  test("array || widens the array to the element's type, like live pg") {
    withTables(Nil, Nil)(Seq(
      "SELECT ARRAY[1,2] || 3000000000, 3000000000 || ARRAY[1,2]" ->
        "{1,2,3000000000}|{3000000000,1,2}",
      "SELECT ARRAY[ARRAY[1,2]] || ARRAY[3000000000]" -> "{{1,2},{3000000000}}",
      "SELECT (ARRAY[1,2] || 2.5)[3], pg_typeof(ARRAY[1,2] || 2.5)" -> "2.5|numeric[]"))
  }

  test("shapes the removed token passes handled keep their live-pg values") {
    withTables(Seq("TABLE tt", "TABLE xa", "TABLE nt"), timeTable ++ Seq(
        "CREATE TABLE xa(xs int[])", "INSERT INTO xa VALUES (ARRAY[1,2])",
        "CREATE TABLE nt(x int)", "INSERT INTO nt VALUES (1), (NULL), (0)"))(Seq(
      "SELECT ARRAY[1,2] || 3, 0 || ARRAY[1,2]" -> "{1,2,3}|{0,1,2}",
      "SELECT '{1,2}'::int[] || 3, 5 || '{1,2}'::int[]" -> "{1,2,3}|{5,1,2}",
      "SELECT string_to_array('a,b', ',') || 'c'::text, ARRAY['x'] || lower('Y')" ->
        "{a,b,c}|{x,y}",
      "SELECT array_append(xs, 9) || 7 FROM xa" -> "{1,2,9,7}",
      "SELECT ARRAY[1,2] || '{3}', 'a' || 'b' || 'c', 1 || 'x'" -> "{1,2,3}|abc|1x",
      "SELECT B'1010' & B'0110', 5::bit(4)" -> "0010|0101",
      "SELECT DATE '2024-01-02' + '03:00'::time" -> "2024-01-02 03:00:00",
      "SELECT ts + TIME '01:00', d + '03:00'::time + INTERVAL '1 hour' FROM tt" ->
        "2024-01-02 02:00:00|2024-01-02 04:00:00",
      // explicit NULLS clauses and an aggregate's input order
      "SELECT coalesce(x::text,'N') FROM nt ORDER BY x NULLS FIRST" -> "N\n0\n1",
      "SELECT coalesce(x::text,'N') FROM nt ORDER BY x DESC NULLS LAST" -> "1\n0\nN",
      "SELECT string_agg(coalesce(x::text,'N'), ',' ORDER BY x) FROM nt" -> "0,1,N"))
  }

  test("ORDER BY puts NULLs last ascending and first descending, like live pg") {
    withTables(Seq("TABLE nt"),
        Seq("CREATE TABLE nt(x int)", "INSERT INTO nt VALUES (1), (NULL), (0)"))(Seq(
      "SELECT coalesce(x::text,'N') FROM nt ORDER BY x" -> "0\n1\nN",
      "SELECT coalesce(x::text,'N') FROM nt ORDER BY x DESC" -> "N\n1\n0",
      "SELECT coalesce(x::text,'N') FROM (SELECT x FROM nt ORDER BY x LIMIT 2) q ORDER BY 1" ->
        "0\n1",
      "SELECT coalesce(x::text,'N'), row_number() OVER (ORDER BY x) FROM nt ORDER BY 2" ->
        "0|1\n1|2\nN|3"))
  }

  test("ORDER BY over columns named like frame units keeps pg's NULL placement") {
    withTables(Seq("TABLE q"), Seq("CREATE TABLE q(rows int, range int)",
        "INSERT INTO q VALUES (1, 2), (2, 1), (NULL, 0)"))(Seq(
      "SELECT coalesce(q.rows::text,'N') FROM q ORDER BY q.rows DESC" -> "N\n2\n1",
      "SELECT coalesce(rows::text,'N') FROM q ORDER BY q.rows + range DESC, rows" -> "N\n1\n2",
      "SELECT coalesce(rows::text,'N') FROM q ORDER BY CASE WHEN rows > 1 THEN range ELSE -range END" ->
        "1\nN\n2",
      "SELECT coalesce(rows::text,'N'), sum(rows) OVER (ORDER BY rows ROWS 1 PRECEDING) FROM q ORDER BY rows" ->
        "1|1\n2|3\nN|2",
      "SELECT coalesce(rows::text,'N') FROM q ORDER BY ARRAY[rows][1] DESC LIMIT 2" -> "N\n2"))
  }

  test("BETWEEN over enum and inet columns compares like live pg") {
    withTables(Seq("TABLE em", "TYPE mood", "TABLE nw"), moodTable ++ Seq(
        "CREATE TABLE nw(a inet)",
        "INSERT INTO nw VALUES ('10.1.2.9'), ('10.1.2.10'), ('9.0.0.1')"))(Seq(
      "SELECT m FROM em WHERE m BETWEEN 'sad' AND 'ok' ORDER BY m" -> "sad\nok",
      "SELECT a FROM nw WHERE a BETWEEN '9.0.0.0' AND '10.1.2.9' ORDER BY a" ->
        "9.0.0.1\n10.1.2.9"))
  }

  // expected values below follow pg 15's documented rules (§9.2
  // BETWEEN SYMMETRIC, §8.10 varbit casts), not a live cluster
  test("BETWEEN SYMMETRIC compares in the operands' type, like pg") {
    withTables(Seq("TABLE em", "TYPE mood", "TABLE nw", "TABLE mn"), moodTable ++ Seq(
        "CREATE TABLE nw(a inet)",
        "INSERT INTO nw VALUES ('10.1.2.9'), ('10.1.2.10'), ('9.0.0.1')",
        "CREATE TABLE mn(m money, x int)",
        "INSERT INTO mn VALUES ('$1.50', 1), ('$12.00', 5), ('$3.25', 10)"))(Seq(
      "SELECT m FROM em WHERE m BETWEEN SYMMETRIC 'ok' AND 'sad' ORDER BY m" -> "sad\nok",
      "SELECT m FROM em WHERE m NOT BETWEEN SYMMETRIC 'ok' AND 'sad'" -> "happy",
      "SELECT a FROM nw WHERE a BETWEEN SYMMETRIC '10.1.2.9' AND '9.0.0.0' ORDER BY a" ->
        "9.0.0.1\n10.1.2.9",
      "SELECT x FROM mn WHERE m BETWEEN SYMMETRIC '$12.00' AND '$2.00' ORDER BY x" -> "5\n10",
      "SELECT x FROM mn WHERE x * 2 BETWEEN SYMMETRIC 12 AND 2 ORDER BY x" -> "1\n5",
      "SELECT x FROM mn WHERE x = 10 AND x * 2 NOT BETWEEN SYMMETRIC 12 AND 2" -> "10",
      "SELECT 2 BETWEEN SYMMETRIC 3 AND 1, -1.5 NOT BETWEEN SYMMETRIC 0 AND -2" -> "t|f"))
  }

  test("an explicit varbit(n) cast truncates, never pads, and is bit varying, like pg") {
    val c = connect()
    val r = c.query("SELECT B'101'::varbit(8), B'1010101011'::varbit(4), B'11'::bit varying(1)")
    assert(r.errors === Nil, r.errors)
    assert(text(r) === "101|1010|1")
    assert(r.fields.map(_._2) === Seq(1562, 1562, 1562))
    assertPinned(c, Seq(
      "SELECT pg_typeof(B'101'::varbit(8)), length(B'101'::varbit(8))" -> "bit varying|3",
      "SELECT B'101'::bit(8)" -> "10100000"))
    c.close()
  }

  test("::varbit and ::bit varying without a length are bit varying, like pg") {
    val c = connect()
    val r = c.query("SELECT B'101'::varbit, B'101'::bit varying")
    assert(r.errors === Nil, r.errors)
    assert(text(r) === "101|101")
    assert(r.fields.map(_._2) === Seq(1562, 1562))
    assertPinned(c, Seq(
      "SELECT pg_typeof(B'101'::varbit), pg_typeof(B'101'::bit varying)" ->
        "bit varying|bit varying",
      "SELECT length(B'10110'::varbit), B'10'::varbit || B'01'::varbit" -> "5|1001"))
    c.close()
  }

  test("pg_typeof and max keep enum, bit and time types, like live pg") {
    withTables(Seq("TABLE em", "TYPE mood", "TABLE bt", "TABLE tt"),
        moodTable ++ bitTable ++ timeTable)(Seq(
      "SELECT pg_typeof(m) FROM em WHERE k = 2" -> "mood",
      "SELECT pg_typeof(a), pg_typeof(v) FROM bt" -> "bit|bit varying",
      "SELECT pg_typeof(t) FROM tt" -> "time without time zone",
      "SELECT max(t) FROM tt" -> "10:30:00",
      "SELECT pg_typeof(max(t)) FROM tt" -> "time without time zone"))
  }

  test("ORDER BY over range values sorts in range order, like live pg") {
    withTables(Seq("TABLE rg"), Seq("CREATE TABLE rg(r int4range)",
        "INSERT INTO rg VALUES ('[1,10)'), ('[1,2)'), ('empty'), ('[0,3)')"))(Seq(
      "SELECT r FROM rg ORDER BY r" -> "empty\n[0,3)\n[1,2)\n[1,10)",
      "SELECT string_agg(r::text, ' ' ORDER BY r) FROM rg" -> "empty [0,3) [1,2) [1,10)"))
    // numrange bounds that tie as doubles still order exactly
    withTables(Seq("TABLE nr"), Seq("CREATE TABLE nr(r numrange)",
        "INSERT INTO nr VALUES ('[1.00000000000000002,2)'), ('[1.00000000000000001,3)')"))(Seq(
      "SELECT r FROM nr ORDER BY r" -> "[1.00000000000000001,3)\n[1.00000000000000002,2)"))
  }
}
