package graft

import scala.sys.process._

/** Differential COPY parity vs LIVE PostgreSQL 15: the same
  * `COPY (query) TO STDOUT` runs against a scratch real-pg cluster
  * (via psql, raw stdout captured byte-for-byte) and against the
  * graft server (via the wire client, raw CopyData payload), and the
  * bytes must be identical. This pins the round-11 COPY surface to
  * ground truth the same way PgParitySpec pins scalar semantics —
  * the COPY text/csv formats have enough escaping corners (delimiter
  * collision, \N vs "", quote doubling, bytea backslashes, array
  * braces) that byte-diffing the real server is the only honest
  * oracle.
  *
  * Cancels (does not fail) when the PostgreSQL server toolchain is
  * not installed.
  */
class CopyParitySpec extends SparkSpec {

  private val pgPort = 54398
  private val dataDir = s"/tmp/copy_pgdata_${java.util.UUID.randomUUID.toString.take(8)}"

  private def haveTools: Boolean =
    new java.io.File("/usr/bin/psql").canExecute &&
      new java.io.File("/usr/local/bin/initdb").canExecute &&
      new java.io.File("/usr/local/bin/pg_ctl").canExecute

  private def sh(cmd: Seq[String]): (Int, String) = {
    val out = new StringBuilder
    val code = Process(cmd).!(ProcessLogger(s => { out ++= s; out += '\n' },
      s => { out ++= s; out += '\n' }))
    (code, out.toString)
  }

  private var server: Option[pgwire.PgServer] = None
  private var clusterUp = false

  override def beforeAll(): Unit = {
    super.beforeAll()
    if (haveTools) {
      val (_, srv) = Cli.serve(Array(
        "--parquet", "region:/root/testdata/sf0.001/region.parquet",
        "--host", "127.0.0.1", "-p", "0"))
      server = Some(srv)
      new java.io.File(dataDir).mkdirs()
      sh(Seq("chown", "postgres", dataDir))
      val (c1, o1) = sh(Seq("su", "postgres", "-c",
        s"/usr/local/bin/initdb -D $dataDir -U postgres -A trust"))
      assert(c1 == 0, s"initdb failed: $o1")
      val (c2, o2) = sh(Seq("su", "postgres", "-c",
        s"/usr/local/bin/pg_ctl -D $dataDir -o '-p $pgPort -k /tmp' -l $dataDir/log start"))
      assert(c2 == 0, s"pg_ctl start failed: $o2")
      clusterUp = true
    }
  }

  override def afterAll(): Unit = {
    if (clusterUp)
      sh(Seq("su", "postgres", "-c", s"/usr/local/bin/pg_ctl -D $dataDir stop -m immediate"))
    server.foreach(_.stop())
    super.afterAll()
  }

  /** Run psql with its stdout redirected to `f` by the OS. Through
    * scala.sys.process's `#>` the copy into the file runs on a thread
    * that `!` may outlive, and a test read an empty file now and then. */
  private def psqlTo(cmd: Seq[String], f: java.nio.file.Path): Int = {
    val pb = new java.lang.ProcessBuilder(cmd: _*).redirectOutput(f.toFile)
      .redirectError(java.lang.ProcessBuilder.Redirect.INHERIT)
    pb.environment().put("PGCONNECT_TIMEOUT", "10")
    pb.start().waitFor()
  }

  /** COPY output from LIVE pg, raw bytes (file-redirected so psql's
    * line handling can't normalize anything).
    */
  private def copyLive(copySql: String): String = {
    val f = java.nio.file.Files.createTempFile("copy_live", ".out")
    val cmd = Seq("/usr/bin/psql", "-X", "-q", "-h", "/tmp", "-p", pgPort.toString,
      "-U", "postgres", "-d", "postgres", "-v", "ON_ERROR_STOP=1",
      "-c", "SET timezone='UTC'", "-c", copySql)
    val code = psqlTo(cmd, f)
    assert(code == 0, s"live pg COPY failed: $copySql")
    val bytes = java.nio.file.Files.readAllBytes(f)
    java.nio.file.Files.deleteIfExists(f)
    new String(bytes, "UTF-8")
  }

  /** COPY output from the graft server, raw CopyData payload. */
  private def copyGraft(copySql: String): String = {
    val c = new Client(server.get.boundPort)
    c.startup()
    val (_, data, tag, errs) = c.copyOut(copySql)
    c.close()
    assert(errs.isEmpty, s"graft COPY failed: $errs for $copySql")
    assert(tag.startsWith("COPY "), tag)
    data
  }

  private def diff(copySql: String): Unit = {
    assume(haveTools, "no scratch PostgreSQL toolchain installed")
    val live = copyLive(copySql)
    val graft = copyGraft(copySql)
    assert(graft === live, s"COPY output diverges for: $copySql")
  }

  // expressions valid and equal in BOTH engines
  test("text format: scalar type matrix renders byte-identically") {
    diff("COPY (SELECT 42::int4 AS a, 9000000000::int8 AS b, 1.5::float8 AS c, " +
      "12.340::numeric AS d, 'plain' AS e, true AS f, false AS g, " +
      "DATE '2026-08-14' AS h, TIMESTAMP '2026-08-14 12:34:56' AS i) TO STDOUT")
  }

  test("text format: NULL, empty string, and the \\N marker") {
    diff("COPY (SELECT NULL::text AS a, '' AS b, 'N' AS c) TO STDOUT")
    diff("COPY (SELECT NULL::int4 AS a, NULL::float8 AS b) TO STDOUT " +
      "WITH (NULL 'nil')")
  }

  test("text format: tab/newline/cr/backslash escape identically") {
    diff("COPY (SELECT 'a' || chr(9) || 'b' AS t, 'c' || chr(10) || 'd' AS n, " +
      "'e' || chr(13) || 'f' AS r, 'g' || chr(92) || 'h' AS bs) TO STDOUT")
  }

  test("text format: arrays and bytea") {
    diff("COPY (SELECT ARRAY[1,2,3] AS a, ARRAY['x','y'] AS b, " +
      """'\x0102ff'::bytea AS c) TO STDOUT""")
    diff("""COPY (SELECT ARRAY['a b', 'c,d', NULL]::text[] AS a) TO STDOUT""")
  }

  test("csv format: quoting, header, delimiter, null-vs-empty") {
    diff("COPY (SELECT 1 AS id, 'plain' AS a, 'with,comma' AS b, " +
      "'with\"quote' AS c, NULL::text AS d, '' AS e) TO STDOUT (FORMAT csv)")
    diff("COPY (SELECT 1 AS id, 'x' AS name) TO STDOUT (FORMAT csv, HEADER true)")
    diff("COPY (SELECT 'a;b' AS v, 'c' AS w) TO STDOUT (FORMAT csv, DELIMITER ';')")
    diff("COPY (SELECT 'a' || chr(10) || 'b' AS v) TO STDOUT (FORMAT csv)")
  }

  test("csv format: custom NULL marker distinguishes null from literal") {
    diff("COPY (SELECT NULL::text AS a, 'NA' AS b, '' AS c) TO STDOUT " +
      "(FORMAT csv, NULL 'NA')")
  }

  test("timestamps, intervals, and multidim arrays through COPY") {
    diff("COPY (SELECT '2024-03-07 10:11:12'::timestamp AS a, " +
      "'2024-03-07 10:11:12+02'::timestamptz AS b, " +
      "TIME '12:34:56.25' AS c) TO STDOUT")
    diff("COPY (SELECT interval '1-2' AS a, interval '3 4:05:06' AS b, " +
      "interval '2 mons' - interval '10 days' AS c) TO STDOUT")
    diff("COPY (SELECT ARRAY[[1,2],[3,4]] AS a) TO STDOUT")
    diff("COPY (SELECT '2024-03-07 10:11:12'::timestamp AS a, " +
      "interval '1 day 12 hours' AS b) TO STDOUT (FORMAT csv)")
  }

  test("multi-row output with ordering") {
    diff("COPY (SELECT g AS id, 'row' || g AS t FROM generate_series(1, 5) AS g " +
      "ORDER BY 1) TO STDOUT")
    diff("COPY (SELECT g AS id FROM generate_series(1, 5) AS g ORDER BY 1) " +
      "TO STDOUT (FORMAT csv, HEADER true)")
  }

  // ---- binary format (round 13): PGCOPY header + wire-binary tuples ----

  /** Raw binary COPY bytes from LIVE pg. */
  private def copyLiveBytes(copySql: String): Array[Byte] = {
    val f = java.nio.file.Files.createTempFile("copy_live", ".bin")
    val cmd = Seq("/usr/bin/psql", "-X", "-q", "-h", "/tmp", "-p", pgPort.toString,
      "-U", "postgres", "-d", "postgres", "-v", "ON_ERROR_STOP=1",
      "-c", "SET timezone='UTC'", "-c", copySql)
    val code = psqlTo(cmd, f)
    assert(code == 0, s"live pg COPY failed: $copySql")
    val bytes = java.nio.file.Files.readAllBytes(f)
    java.nio.file.Files.deleteIfExists(f)
    bytes
  }

  private def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString

  private def diffBinary(copySql: String): Unit = {
    assume(haveTools, "no scratch PostgreSQL toolchain installed")
    val live = copyLiveBytes(copySql)
    val c = new Client(server.get.boundPort)
    c.startup()
    val (formats, data, tag, errs) = c.copyOutBytes(copySql)
    c.close()
    assert(errs.isEmpty, s"graft COPY failed: $errs for $copySql")
    assert(tag.startsWith("COPY "), tag)
    assert(formats.nonEmpty && formats.forall(_ == 1),
      s"CopyOutResponse must declare binary column formats, got $formats")
    assert(hex(data) === hex(live), s"binary COPY bytes diverge for: $copySql")
  }

  test("binary format: scalar type matrix is byte-identical") {
    diffBinary("COPY (SELECT 42::int4 AS a, 9000000000::int8 AS b, " +
      "7::int2 AS c, 1.5::float4 AS d, 2.25::float8 AS e, 'plain text' AS f, " +
      "true AS g, false AS h, NULL::text AS i) TO STDOUT (FORMAT binary)")
  }

  test("binary format: date/time/timestamp encodings") {
    diffBinary("COPY (SELECT DATE '2026-08-14' AS a, " +
      "'2024-03-07 10:11:12'::timestamp AS b, " +
      "'2024-03-07 10:11:12+02'::timestamptz AS c, " +
      "TIME '12:34:56.25' AS d) TO STDOUT (FORMAT binary)")
  }

  test("binary format: numeric digit groups, bytea, arrays, intervals") {
    diffBinary("COPY (SELECT 12.34::numeric(10,2) AS a, " +
      "-98765.4321::numeric(12,4) AS b, 0::numeric(5,0) AS c, " +
      """'\x0102ff'::bytea AS d) TO STDOUT (FORMAT binary)""")
    diffBinary("COPY (SELECT ARRAY[1,2,3] AS a, ARRAY['x','y'] AS b, " +
      "ARRAY['a b', NULL]::text[] AS c) TO STDOUT (FORMAT binary)")
    diffBinary("COPY (SELECT interval '1-2' AS a, interval '3 4:05:06' AS b) " +
      "TO STDOUT (FORMAT binary)")
  }

  test("binary format: multi-row stream and empty result") {
    // g cast to int8 on both sides: pg's generate_series yields int4,
    // the engine's range yields int8 — the text format hides the
    // width, the binary format does not
    diffBinary("COPY (SELECT g::int8 AS id, 'row' || g AS t " +
      "FROM generate_series(1, 5) AS g ORDER BY 1) TO STDOUT (FORMAT binary)")
    diffBinary("COPY (SELECT 1 AS x WHERE false) TO STDOUT (FORMAT binary)")
  }

  test("binary format: legacy WITH BINARY spelling") {
    diffBinary("COPY (SELECT 5::int4 AS a) TO STDOUT WITH BINARY")
  }
}
