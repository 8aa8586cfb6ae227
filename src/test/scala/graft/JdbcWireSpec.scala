package graft

import java.nio.ByteBuffer
import org.scalatest.BeforeAndAfterAll
import graft.pgwire.PgServer

/** pgjdbc conversation emulation — the closest offline analogue of the
  * reference's real-client integration tests
  * (tests-integration/test_csv.py, test_parquet.py run psycopg against
  * the live server; no Postgres client library ships in this build's
  * offline cache, so this spec replays, byte-for-byte, the message
  * sequences the PostgreSQL JDBC driver emits — its startup parameters,
  * extended-protocol-only execution, typed and UNTYPED prepared
  * parameters, DatabaseMetaData catalog queries, setFetchSize portal
  * suspension, and binary result transfer — against a live PgServer).
  */
class JdbcWireSpec extends SparkSpec with BeforeAndAfterAll {

  private var server: PgServer = _
  private val sf = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    super.beforeAll()
    Tables.register(spark, sf)
    server = new PgServer(spark)
    server.start()
  }

  override def afterAll(): Unit = {
    if (server != null) server.stop()
    super.afterAll()
  }

  /** Connect the way pgjdbc does: its exact startup parameter set. */
  private def jdbcConnect(): Client = {
    val c = new Client(server.boundPort)
    val r = c.startup(extraParams = Seq(
      "client_encoding" -> "UTF8",
      "DateStyle" -> "ISO",
      "TimeZone" -> "UTC",
      "extra_float_digits" -> "3",
      "application_name" -> "PostgreSQL JDBC Driver"))
    // pgjdbc hard-requires these ParameterStatus values at connect time
    // (org.postgresql.core.v3.ConnectionFactoryImpl) — a missing or
    // off-value one aborts the JDBC connection
    assert(r.paramStatus.contains("server_version"))
    assert(r.paramStatus("client_encoding") === "UTF8")
    assert(r.paramStatus("standard_conforming_strings") === "on")
    assert(r.paramStatus("integer_datetimes") === "on")
    assert(r.backendKey.isDefined) // pgjdbc stores it for Statement.cancel
    c
  }

  /** pgjdbc never uses the simple protocol: every Statement.execute is
    * Parse("")/Bind("")/Describe(P)/Execute/Sync on the unnamed objects. */
  private def exec(c: Client, sql: String, params: Seq[(Int, Option[Array[Byte]], Short)] = Nil,
      resultFormats: Seq[Short] = Nil, maxRows: Int = 0): Reply = {
    c.parse("", sql, params.map(_._1))
    c.bindMixed("", "", params.map(p => (p._3, p._2)), resultFormats)
    c.describe('P', "")
    c.execute("", maxRows)
    c.sync()
  }

  private def textParam(oid: Int, v: String): (Int, Option[Array[Byte]], Short) =
    (oid, Some(v.getBytes("UTF-8")), 0: Short)

  test("connection bootstrap: startup params + SET extra_float_digits") {
    val c = jdbcConnect()
    // pgjdbc's first round-trip on older assumeMinServerVersion paths
    val r = exec(c, "SET extra_float_digits = 3")
    assert(r.errors.isEmpty, r.errors)
    assert(r.tags.exists(_.startsWith("SET")))
    c.close()
  }

  test("Statement.executeQuery runs through the extended protocol") {
    val c = jdbcConnect()
    val r = exec(c, "SELECT n_name FROM nation ORDER BY n_nationkey LIMIT 3")
    assert(r.errors.isEmpty, r.errors)
    assert(r.rows === Seq(Seq(Some("NATION_0")), Seq(Some("NATION_1")), Seq(Some("NATION_2"))))
    assert(r.tags === Seq("SELECT 3"))
    c.close()
  }

  test("PreparedStatement setLong: typed INT8 param, binary wire format") {
    val c = jdbcConnect()
    // pgjdbc knows setLong → Oid.INT8 and ships the value binary
    val key = ByteBuffer.allocate(8).putLong(7L).array()
    val r = exec(c, "SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey = $1",
      params = Seq((20, Some(key), 1: Short)))
    assert(r.errors.isEmpty, r.errors)
    assert(r.rows.map(_.head) === Seq(Some("7")))
    c.close()
  }

  test("UNTYPED param: Describe infers INT8 from WHERE o_orderkey = $1") {
    val c = jdbcConnect()
    // oid 0 = pgjdbc's "unspecified" (setObject / stringtype=unspecified):
    // the server must infer from the plan, as the reference does
    c.parse("S_untyped", "SELECT o_totalprice FROM orders WHERE o_orderkey = $1", Seq(0))
    c.describe('S', "S_untyped")
    val d = c.sync()
    assert(d.errors.isEmpty, d.errors)
    assert(d.paramOids === Seq(20), s"expected inferred INT8, got ${d.paramOids}")
    // and executing with a text-format value under the inferred type works
    c.bind("", "S_untyped", Seq(Some("7")))
    c.execute("")
    val r = c.sync()
    assert(r.errors.isEmpty, r.errors)
    assert(r.rows.length === 1)
    c.closeStmt('S', "S_untyped")
    c.close()
  }

  test("UNTYPED param inference: comparison to a string column and IN list") {
    val c = jdbcConnect()
    c.parse("S_s", "SELECT count(*) AS n FROM nation WHERE n_name = $1", Seq(0))
    c.describe('S', "S_s")
    val d = c.sync()
    assert(d.paramOids === Seq(25), s"expected TEXT, got ${d.paramOids}")
    c.bind("", "S_s", Seq(Some("NATION_5")))
    c.execute("")
    assert(c.sync().rows === Seq(Seq(Some("1"))))

    c.parse("S_in", "SELECT count(*) AS n FROM region WHERE r_regionkey IN ($1, $2)", Seq(0, 0))
    c.describe('S', "S_in")
    val d2 = c.sync()
    assert(d2.paramOids === Seq(23, 23), s"got ${d2.paramOids}")
    c.close()
  }

  test("UNTYPED param inference: arithmetic and LIKE contexts") {
    val c = jdbcConnect()
    c.parse("S_ar", "SELECT o_orderkey FROM orders WHERE o_totalprice + $1 > 1000", Seq(0))
    c.describe('S', "S_ar")
    assert(c.sync().paramOids === Seq(701), "arithmetic with a float8 column")
    c.parse("S_lk", "SELECT count(*) FROM nation WHERE n_name LIKE $1", Seq(0))
    c.describe('S', "S_lk")
    assert(c.sync().paramOids === Seq(25), "LIKE pattern is text")
    c.close()
  }

  test("UNTYPED param inference: explicit cast overrides usage") {
    val c = jdbcConnect()
    c.parse("S_c", "SELECT o_orderkey FROM orders WHERE o_orderkey = CAST($1 AS INT)", Seq(0))
    c.describe('S', "S_c")
    assert(c.sync().paramOids === Seq(23))
    c.close()
  }

  test("DatabaseMetaData.getTables: pgjdbc's catalog query") {
    val c = jdbcConnect()
    // the exact relkind-CASE query PgDatabaseMetaData#getTables builds for
    // getTables(null, null, "nation", {"TABLE"})
    val r = exec(c,
      """SELECT NULL AS TABLE_CAT, n.nspname AS TABLE_SCHEM, c.relname AS TABLE_NAME,
        | CASE n.nspname ~ '^pg_' OR n.nspname = 'information_schema'
        | WHEN true THEN CASE
        |  WHEN n.nspname = 'pg_catalog' OR n.nspname = 'information_schema' THEN CASE c.relkind
        |   WHEN 'r' THEN 'SYSTEM TABLE' WHEN 'v' THEN 'SYSTEM VIEW' WHEN 'i' THEN 'SYSTEM INDEX' ELSE NULL END
        |  WHEN n.nspname = 'pg_toast' THEN CASE c.relkind
        |   WHEN 'r' THEN 'SYSTEM TOAST TABLE' WHEN 'i' THEN 'SYSTEM TOAST INDEX' ELSE NULL END
        |  ELSE CASE c.relkind WHEN 'r' THEN 'TEMPORARY TABLE' WHEN 'p' THEN 'TEMPORARY TABLE'
        |   WHEN 'i' THEN 'TEMPORARY INDEX' WHEN 'S' THEN 'TEMPORARY SEQUENCE' WHEN 'v' THEN 'TEMPORARY VIEW' ELSE NULL END
        | END
        | WHEN false THEN CASE c.relkind
        |  WHEN 'r' THEN 'TABLE' WHEN 'p' THEN 'PARTITIONED TABLE' WHEN 'i' THEN 'INDEX'
        |  WHEN 'P' THEN 'PARTITIONED INDEX' WHEN 'S' THEN 'SEQUENCE' WHEN 'v' THEN 'VIEW'
        |  WHEN 'c' THEN 'TYPE' WHEN 'f' THEN 'FOREIGN TABLE' WHEN 'm' THEN 'MATERIALIZED VIEW' ELSE NULL END
        | ELSE NULL END AS TABLE_TYPE, d.description AS REMARKS,
        | '' as TYPE_CAT, '' as TYPE_SCHEM, '' as TYPE_NAME, '' AS SELF_REFERENCING_COL_NAME, '' AS REF_GENERATION
        |FROM pg_catalog.pg_class c
        | LEFT JOIN pg_catalog.pg_namespace n ON (c.relnamespace = n.oid)
        | LEFT JOIN pg_catalog.pg_description d ON (c.oid = d.objoid AND d.objsubid = 0 AND d.classoid = 'pg_class'::regclass)
        |WHERE c.relnamespace = n.oid
        |  AND (false OR (c.relkind = 'r' AND n.nspname !~ '^pg_' AND n.nspname <> 'information_schema'))
        |  AND c.relname LIKE 'nation'
        |ORDER BY TABLE_TYPE, TABLE_SCHEM, TABLE_NAME""".stripMargin)
    assert(r.errors.isEmpty, r.errors)
    assert(r.rows.length === 1)
    val row = r.rows.head
    assert(row(2) === Some("nation")) // TABLE_NAME
    assert(row(3) === Some("TABLE"))  // TABLE_TYPE
    c.close()
  }

  test("DatabaseMetaData.getColumns: pgjdbc's attribute query") {
    val c = jdbcConnect()
    val r = exec(c,
      """SELECT n.nspname, c.relname, a.attname, a.atttypid,
        | a.attnotnull OR (t.typtype = 'd' AND t.typnotnull) AS attnotnull,
        | a.atttypmod, a.attlen, t.typtypmod,
        | row_number() OVER (PARTITION BY a.attrelid ORDER BY a.attnum) AS attnum,
        | nullif(a.attidentity, '') as attidentity,
        | pg_catalog.pg_get_expr(def.adbin, def.adrelid) AS adsrc,
        | dsc.description, t.typbasetype, t.typtype
        |FROM pg_catalog.pg_namespace n
        | JOIN pg_catalog.pg_class c ON (c.relnamespace = n.oid)
        | JOIN pg_catalog.pg_attribute a ON (a.attrelid = c.oid)
        | JOIN pg_catalog.pg_type t ON (a.atttypid = t.oid)
        | LEFT JOIN pg_catalog.pg_attrdef def ON (a.attrelid = def.adrelid AND a.attnum = def.adnum)
        | LEFT JOIN pg_catalog.pg_description dsc ON (c.oid = dsc.objoid AND a.attnum = dsc.objsubid)
        | LEFT JOIN pg_catalog.pg_class dc ON (dc.oid = dsc.classoid AND dc.relname = 'pg_description')
        | LEFT JOIN pg_catalog.pg_namespace dn ON (dc.relnamespace = dn.oid AND dn.nspname = 'pg_catalog')
        |WHERE c.relkind in ('r', 'p', 'v', 'f', 'm')
        |  AND a.attnum > 0 AND NOT a.attisdropped
        |  AND c.relname LIKE 'region' AND a.attname LIKE '%'
        |ORDER BY nspname, c.relname, attnum""".stripMargin)
    assert(r.errors.isEmpty, r.errors)
    // this testdata's region has exactly (r_regionkey int4, r_name text)
    assert(r.rows.map(_(2)) === Seq(Some("r_regionkey"), Some("r_name")))
    // atttypid drives JDBC type mapping: r_regionkey is int4
    assert(r.rows.head(3) === Some("23"))
    c.close()
  }

  test("setFetchSize: Execute(maxRows) suspends and resumes the portal") {
    val c = jdbcConnect()
    c.parse("S_fetch", "SELECT n_nationkey FROM nation ORDER BY n_nationkey", Nil)
    c.bind("P_fetch", "S_fetch", Nil)
    c.describe('P', "P_fetch")
    c.execute("P_fetch", 10)
    val first = c.sync()
    assert(first.suspended, "expected PortalSuspended after maxRows")
    assert(first.rows.length === 10)
    // pgjdbc re-Executes the SAME portal for the next page
    c.execute("P_fetch", 10)
    val second = c.sync()
    assert(second.rows.length === 10)
    assert(second.rows.head === Seq(Some("10")))
    c.execute("P_fetch", 100)
    val rest = c.sync()
    assert(!rest.suspended)
    assert(rest.rows.length === 5) // 25 nations total
    assert(rest.tags === Seq("SELECT 5"))
    c.closeStmt('P', "P_fetch")
    c.closeStmt('S', "S_fetch")
    c.close()
  }

  test("binary result transfer: int8/float8/date/bool/text decode") {
    val c = jdbcConnect()
    val r = exec(c,
      "SELECT 42::int8 AS a, 1.5::float8 AS b, DATE '2024-03-01' AS c, true AS d, 'hi' AS e",
      resultFormats = Seq(1))
    assert(r.errors.isEmpty, r.errors)
    val row = r.binRows.head
    assert(ByteBuffer.wrap(row(0).get).getLong === 42L)
    assert(ByteBuffer.wrap(row(1).get).getDouble === 1.5)
    // binary DATE = days since 2000-01-01
    val days = ByteBuffer.wrap(row(2).get).getInt
    assert(java.time.LocalDate.of(2000, 1, 1).plusDays(days) === java.time.LocalDate.of(2024, 3, 1))
    assert(row(3).get === Array[Byte](1))
    assert(new String(row(4).get, "UTF-8") === "hi")
    c.close()
  }

  test("setArray: binary int4[] param in the JDBC wire form") {
    val c = jdbcConnect()
    // pgjdbc binary array: ndim, hasnull, elemoid, [dim, lbound], elems
    val buf = ByteBuffer.allocate(12 + 8 + 2 * 8)
    buf.putInt(1).putInt(0).putInt(23) // 1-dim, no nulls, int4
    buf.putInt(2).putInt(1)            // 2 elements, lower bound 1
    buf.putInt(4).putInt(1)            // elem: len 4, value 1
    buf.putInt(4).putInt(3)            // elem: len 4, value 3
    val r = exec(c, "SELECT count(*) AS n FROM region WHERE r_regionkey = ANY($1)",
      params = Seq((1007, Some(buf.array()), 1: Short)))
    assert(r.errors.isEmpty, r.errors)
    assert(r.rows === Seq(Seq(Some("2"))))
    c.close()
  }

  test("transaction conversation: autocommit off BEGIN/COMMIT cycle") {
    val c = jdbcConnect()
    // pgjdbc with autocommit=false issues BEGIN before the first statement
    assert(exec(c, "BEGIN").txnStatus === 'T')
    val r = exec(c, "SELECT count(*) AS n FROM nation")
    assert(r.rows === Seq(Seq(Some("25"))))
    assert(r.txnStatus === 'T')
    assert(exec(c, "COMMIT").txnStatus === 'I')
    c.close()
  }

  test("Describe(P) opens the result Execute streams: nextval describes and draws once") {
    val c = jdbcConnect()
    assert(c.query("CREATE SEQUENCE jdbc_describe_seq").errors.isEmpty)
    for (expected <- Seq("1", "2")) {
      val r = exec(c, "SELECT nextval('jdbc_describe_seq') AS v")
      assert(r.errors.isEmpty, r.errors)
      assert(!r.noData, "a row-returning portal describes as a RowDescription")
      assert(r.fields === Seq("v" -> 20))
      assert(r.rows === Seq(Seq(Some(expected))))
    }
    c.close()
  }

  test("Describe(P) of an INSERT answers NoData and writes nothing until Execute") {
    val c = jdbcConnect()
    assert(c.query("CREATE TABLE jdbc_describe_ins (id INT)").errors.isEmpty)
    c.parse("S_ins", "INSERT INTO jdbc_describe_ins VALUES (1)")
    c.bind("P_ins", "S_ins", Nil)
    c.describe('P', "P_ins")
    val d = c.sync()
    assert(d.errors.isEmpty, d.errors)
    assert(d.noData)
    def count(): Seq[Seq[Option[String]]] =
      c.query("SELECT count(*) FROM jdbc_describe_ins").rows
    assert(count() === Seq(Seq(Some("0"))))
    c.execute("P_ins")
    assert(c.sync().tags === Seq("INSERT 0 1"))
    assert(count() === Seq(Seq(Some("1"))))
    c.close()
  }
}
