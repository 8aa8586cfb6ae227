package graft

import org.scalatest.BeforeAndAfterAll
import graft.pgwire.PgServer

/** User enum types (`CREATE TYPE … AS ENUM`, pg §8.7): DDL, validated
  * casts, catalog rows, wire OIDs — expectations follow live pg 15
  * (probed in-session before implementation; labels compared against
  * `SELECT 'happy'::mood`, the 22P02 error text, enum_first/last/
  * range, and the pg_enum join).
  */
class EnumSpec extends SparkSpec with BeforeAndAfterAll {

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

  test("wire: enum lifecycle — create, cast, validate, introspect, drop") {
    val c = connect()
    assert(c.query("CREATE TYPE mood AS ENUM ('sad', 'ok', 'happy')").tags ===
      Seq("CREATE TYPE"))
    // valid cast renders the label and reports the enum's dynamic OID
    val r = c.query("SELECT 'happy'::mood AS m")
    assert(r.rows === Seq(Seq(Some("happy"))))
    assert(r.fields.head._2 > 30100)
    // pg_typeof knows the type name... via catalog; invalid label errors
    val bad = c.query("SELECT 'bogus'::mood").errors
    assert(bad.nonEmpty && bad.head._1 === "22P02")
    assert(bad.head._2.contains("""invalid input value for enum mood: "bogus""""))
    // declared-order functions
    val fr = c.query("SELECT enum_first(NULL::mood) AS f, enum_last(NULL::mood) AS l, " +
      "array_to_string(enum_range(NULL::mood), ',') AS r")
    assert(fr.rows === Seq(Seq(Some("sad"), Some("happy"), Some("sad,ok,happy"))))
    // catalog rows: pg_type typtype='e' + pg_enum labels in sort order
    val t = c.query(
      "SELECT e.enumlabel FROM pg_enum e JOIN pg_type t ON e.enumtypid = t.oid " +
        "WHERE t.typname = 'mood' AND t.typtype = 'e' ORDER BY e.enumsortorder")
    assert(t.rows.map(_.head.get) === Seq("sad", "ok", "happy"))
    // duplicate create errors like pg
    val dup = c.query("CREATE TYPE mood AS ENUM ('x')").errors
    assert(dup.nonEmpty && dup.head._1 === "42710")
    // drop removes the catalog rows; unknown drop errors unless IF EXISTS
    assert(c.query("DROP TYPE mood").tags === Seq("DROP TYPE"))
    val gone = c.query("SELECT count(*) AS n FROM pg_type WHERE typname = 'mood'")
    assert(gone.rows === Seq(Seq(Some("0"))))
    val nodrop = c.query("DROP TYPE mood").errors
    assert(nodrop.nonEmpty && nodrop.head._1 === "42704")
    assert(c.query("DROP TYPE IF EXISTS mood").tags === Seq("DROP TYPE"))
    c.close()
  }

  test("wire: enum declared-order semantics — ORDER BY, min/max, comparisons") {
    // expectations follow live pg 15: enum values sort in declared
    // label order (sad < ok < happy), not lexically
    val c = connect()
    c.query("CREATE TYPE mood2 AS ENUM ('sad', 'ok', 'happy')")
    val vals = "(VALUES ('happy'), ('sad'), ('ok')) t(m)"
    val r = c.query(s"SELECT m FROM $vals ORDER BY m::mood2")
    assert(r.rows.map(_.head.get) === Seq("sad", "ok", "happy"))
    val rd = c.query(s"SELECT m FROM $vals ORDER BY m::mood2 DESC")
    assert(rd.rows.map(_.head.get) === Seq("happy", "ok", "sad"))
    val mm = c.query(
      s"SELECT min(m::mood2) AS lo, max(m::mood2) AS hi FROM $vals")
    assert(mm.rows === Seq(Seq(Some("sad"), Some("happy"))))
    // a cast on either side drives both operands through the ordinal
    // map (bare literals validate against the enum, like pg)
    val cp = c.query("SELECT 'ok'::mood2 < 'happy'::mood2 AS a, " +
      "'sad'::mood2 > 'happy' AS b, 'ok' <= 'ok'::mood2 AS c2")
    assert(cp.rows === Seq(Seq(Some("t"), Some("f"), Some("t"))))
    val w = c.query(
      s"SELECT m FROM $vals WHERE m::mood2 >= 'ok' ORDER BY m::mood2")
    assert(w.rows.map(_.head.get) === Seq("ok", "happy"))
    // invalid label in a comparison raises 22P02 exactly like a cast
    val bad = c.query("SELECT 'sad'::mood2 < 'bogus'").errors
    assert(bad.nonEmpty && bad.head._1 === "22P02")
    // windowed enum min: declared-order minimum over the whole window
    // (live pg 15: min(m::mood) OVER (PARTITION BY true) → sad)
    val wmin = c.query(s"SELECT min(m::mood2) OVER (PARTITION BY 1) AS lo FROM $vals")
    assert(wmin.rows.map(_.head.get).toSet === Set("sad"))
    // non-enum expressions that merely CONTAIN an enum cast stay
    // untouched: length() yields an int and compares numerically,
    // and a trailing ::text re-cast compares as text (live pg:
    // 'x' < 'happy'::mood2::text is false)
    val thr = c.query(
      "SELECT length('sad'::mood2) > 2 AS a, 'x' < 'happy'::mood2::text AS b")
    assert(thr.rows === Seq(Seq(Some("t"), Some("f"))))
    c.query("DROP TYPE mood2")
    c.close()
  }

  /** psql -A -t text: columns `|`-joined, rows newline-joined. */
  private def text(r: Reply): String =
    r.rows.map(_.map(_.getOrElse("")).mkString("|")).mkString("\n")

  private def assertPinned(c: Client, pinned: Seq[(String, String)]): Unit =
    for ((sql, want) <- pinned) {
      val r = c.query(sql)
      assert(r.errors === Nil, sql)
      assert(text(r) === want, sql)
    }

  test("wire: enum dispatch requires the cast in OUTERMOST position") {
    // values from live pg 15.18 over the same table; only an operand
    // whose value IS enum-typed dispatches: a span that merely
    // contains an enum cast (length, CASE, a comparison, ::mood::text)
    // orders and compares as its own type. pg rejects length(mood)
    // without ::text; the pins give pg's length(m::mood::text) values
    val c = connect()
    c.query("DROP TABLE IF EXISTS ed")
    c.query("DROP TYPE IF EXISTS mood")
    for (setup <- Seq("CREATE TYPE mood AS ENUM ('sad','ok','happy')",
        "CREATE TABLE ed(m text, k int)",
        "INSERT INTO ed VALUES ('happy',1),('sad',1),('ok',2)"))
      assert(c.query(setup).errors === Nil, setup)
    assertPinned(c, Seq(
      "SELECT m FROM ed WHERE length(m::mood) > 2 ORDER BY k, m" -> "happy\nsad",
      "SELECT m FROM ed ORDER BY CASE WHEN m::mood = 'sad' THEN 0 ELSE 1 END, m" ->
        "sad\nhappy\nok",
      "SELECT m FROM ed ORDER BY (m::mood = 'sad'), m" -> "happy\nok\nsad",
      "SELECT m FROM ed WHERE 'ok' < m::mood::text ORDER BY m" -> "sad",
      "SELECT m FROM ed WHERE m::text::mood < 'happy' ORDER BY m" -> "ok\nsad",
      "SELECT m FROM ed ORDER BY m::mood" -> "sad\nok\nhappy",
      "SELECT m FROM ed WHERE m::mood < 'ok'" -> "sad",
      "SELECT m FROM ed WHERE (m::mood) < 'ok'" -> "sad",
      "SELECT greatest(length(m::mood), 3) FROM ed ORDER BY k, m" -> "5\n3\n3"))
    Seq("DROP TABLE ed", "DROP TYPE mood").foreach(c.query)
    c.close()
  }

  test("wire: windowed and filtered enum aggregates order by declared position") {
    // values from live pg 15.18; the OVER and FILTER clauses stay on
    // the aggregate
    val c = connect()
    c.query("DROP TABLE IF EXISTS ew")
    c.query("DROP TYPE IF EXISTS mood")
    for (setup <- Seq("CREATE TYPE mood AS ENUM ('sad','ok','happy')",
        "CREATE TABLE ew(m text, k int)",
        "INSERT INTO ew VALUES ('happy',1),('sad',1),('ok',2)"))
      assert(c.query(setup).errors === Nil, setup)
    assertPinned(c, Seq(
      "SELECT k, min(m::mood) OVER (PARTITION BY k) FROM ew ORDER BY k, m" ->
        "1|sad\n1|sad\n2|ok",
      "SELECT min(m::mood) FILTER (WHERE k > 0), max(m::mood) FILTER (WHERE k = 1) " +
        "FROM ew" -> "sad|happy",
      "SELECT m, max(m::mood) OVER (ORDER BY k, m ROWS UNBOUNDED PRECEDING) FROM ew " +
        "ORDER BY k, m" -> "happy|happy\nsad|happy\nok|happy",
      "SELECT string_agg(m, ',' ORDER BY m::mood DESC) FROM ew" -> "happy,ok,sad"))
    Seq("DROP TABLE ew", "DROP TYPE mood").foreach(c.query)
    c.close()
  }

  test("wire: enum values flow through queries over row data") {
    val c = connect()
    c.query("CREATE TYPE color AS ENUM ('red', 'green', 'blue')")
    val r = c.query(
      "SELECT x, 'green'::color AS g FROM (VALUES ('a'), ('b')) t(x) ORDER BY x")
    assert(r.rows.map(_.map(_.get)) === Seq(Seq("a", "green"), Seq("b", "green")))
    c.query("DROP TYPE color")
    c.close()
  }
}
