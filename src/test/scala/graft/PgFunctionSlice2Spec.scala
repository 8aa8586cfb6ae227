package graft

import org.apache.spark.sql.Row
import graft.pgwire.{Compat, Handlers, PgFunctions}

/** Slice #2 of the functions.md roadmap: binary-string pack, uuid
  * pack, SIMILAR TO, pg_typeof/pg_input_is_valid, array P2 rows and
  * the P1 aggregate aliases.
  */
class PgFunctionSlice2Spec extends SparkSpec {

  private def one(sql: String): Row = {
    PgFunctions.registerAll(spark)
    spark.sql(sql).collect().head
  }

  test("pg encode/decode formats (shadowing Spark's charset builtins)") {
    val r = one(
      """SELECT encode(CAST('abc' AS BINARY), 'hex') AS hex,
        |  encode(CAST('abc' AS BINARY), 'base64') AS b64,
        |  encode(CAST(X'01205C7F' AS BINARY), 'escape') AS esc,
        |  CAST(decode('616263', 'hex') AS STRING) AS unhex,
        |  CAST(decode('YWJj', 'base64') AS STRING) AS unb64,
        |  CAST(decode('a\\\\b\\001', 'escape') AS STRING) AS unesc""".stripMargin)
    assert(r.getString(0) === "616263")
    assert(r.getString(1) === "YWJj")
    assert(r.getString(2) === "\\001 \\\\\\177")
    assert(r.getString(3) === "abc")
    assert(r.getString(4) === "abc")
    assert(r.getString(5) === "a\\b\u0001")
  }

  test("byte/bit accessors use pg numbering (LSB of byte 0 is bit 0)") {
    val r = one(
      """SELECT get_byte(CAST(X'1234' AS BINARY), 1) AS gb,
        |  encode(set_byte(CAST(X'1234' AS BINARY), 0, 255), 'hex') AS sb,
        |  get_bit(CAST(X'01' AS BINARY), 0) AS bit0,
        |  get_bit(CAST(X'01' AS BINARY), 7) AS bit7,
        |  encode(set_bit(CAST(X'00' AS BINARY), 1, 1), 'hex') AS setb,
        |  pg_bit_count(CAST(X'FF0F' AS BINARY)) AS bc,
        |  crc32(CAST('123456789' AS BINARY)) AS c32,
        |  crc32c(CAST('123456789' AS BINARY)) AS c32c""".stripMargin)
    assert(r.getInt(0) === 0x34)
    assert(r.getString(1) === "ff34")
    assert(r.getInt(2) === 1 && r.getInt(3) === 0)
    assert(r.getString(4) === "02")
    assert(r.getLong(5) === 12L)
    // public check vectors for CRC-32 ("cbf43926") and CRC-32C ("e3069283")
    assert(r.getLong(6) === 0xcbf43926L)
    assert(r.getLong(7) === 0xe3069283L)
  }

  test("charset conversions") {
    val r = one(
      """SELECT convert_from(CAST(X'C3A9' AS BINARY), 'UTF8') AS f,
        |  encode(convert_to('é', 'LATIN1'), 'hex') AS t,
        |  encode(convert(CAST(X'C3A9' AS BINARY), 'UTF8', 'LATIN1'), 'hex') AS c""".stripMargin)
    assert(r.getString(0) === "é")
    assert(r.getString(1) === "e9")
    assert(r.getString(2) === "e9")
  }

  test("uuid pack: versions, v7 timestamp ordering, extraction") {
    val r = one(
      """SELECT uuid_extract_version(gen_random_uuid()) AS v4,
        |  uuid_extract_version(uuidv7()) AS v7,
        |  uuid_extract_timestamp(uuidv7()) IS NOT NULL AS ts7,
        |  uuid_extract_timestamp(gen_random_uuid()) IS NULL AS ts4,
        |  uuid_extract_version('not-a-uuid') IS NULL AS bad""".stripMargin)
    assert(r.getInt(0) === 4 && r.getInt(1) === 7)
    assert(r.getBoolean(2) && r.getBoolean(3) && r.getBoolean(4))
    // v7 embedded time is close to now
    val ts = PgFunctions.uuidTimestamp(PgFunctions.uuidv7())
    assert(math.abs(ts.toEpochMilli - System.currentTimeMillis()) < 5000)
  }

  test("similar_to_escape matches pg translation rules") {
    assert(PgFunctions.similarEscape("%abc%") === "^(?:.*abc.*)$")
    assert(PgFunctions.similarEscape("_b_") === "^(?:.b.)$")
    assert(PgFunctions.similarEscape("10%") === "^(?:10.*)$")
    assert(PgFunctions.similarEscape("a.b") === "^(?:a\\.b)$")
    assert(PgFunctions.similarEscape("\\%x", Some('\\')) === "^(?:%x)$")
    assert(PgFunctions.similarEscape("(a|b)%") === "^(?:(a|b).*)$")
    assert(PgFunctions.similarEscape("[0-9]+") === "^(?:[0-9]+)$")
  }

  test("SIMILAR TO rewrites through the server path") {
    assert(Compat.rewrite("SELECT * FROM t WHERE a SIMILAR TO '%(b|d)%'") ===
      "SELECT * FROM t WHERE a RLIKE '^(?:.*(b|d).*)\\$'".replace("\\$", "$"))
    assert(Compat.rewrite("SELECT * FROM t WHERE a NOT SIMILAR TO 'a_c' ESCAPE '#'") ===
      "SELECT * FROM t WHERE a NOT RLIKE '^(?:a.c)$'")
    // non-literal pattern goes through the UDF
    assert(Compat.rewrite("SELECT a SIMILAR TO p FROM t") ===
      "SELECT a RLIKE similar_to_escape(p) FROM t")
    PgFunctions.registerAll(spark)
    val rows = spark.sql(Compat.rewrite(
      "SELECT x FROM VALUES ('abc'), ('adc'), ('xyz') AS t(x) WHERE x SIMILAR TO 'a_c'"))
      .collect().map(_.getString(0)).sorted
    assert(rows.toSeq === Seq("abc", "adc"))
  }

  test("extract(epoch) rewrite and date_bin") {
    PgFunctions.registerAll(spark)
    // EXTRACT returns numeric at scale 6 (pg 14+; sweep #8)
    val sql = "SELECT EXTRACT(EPOCH FROM TIMESTAMP '1970-01-02 00:00:00.5') AS e"
    assert(Handlers.runSql(spark, sql).collect().head.getDecimal(0) ===
      new java.math.BigDecimal("86400.500000"))
    // nested parens inside the expr survive the rewrite
    val sql2 = "SELECT extract(epoch from coalesce(TIMESTAMP '1970-01-01 00:01:00', null)) AS e"
    assert(Handlers.runSql(spark, sql2).collect().head.getDecimal(0) ===
      new java.math.BigDecimal("60.000000"))
    val r = spark.sql(
      """SELECT date_bin(INTERVAL '15' MINUTE, TIMESTAMP '2026-08-12 10:07:30',
        |  TIMESTAMP '2001-01-01') AS b,
        |  date_bin(INTERVAL '1' DAY, TIMESTAMP '1969-12-31 13:00:00',
        |  TIMESTAMP '1970-01-01') AS neg""".stripMargin).collect().head
    assert(r.get(0).toString === "2026-08-12 10:00:00.0")
    assert(r.get(1).toString === "1969-12-31 00:00:00.0")
    val err = intercept[Exception](spark.sql(
      "SELECT date_bin(make_interval(0, 1), TIMESTAMP '2026-01-01', TIMESTAMP '2001-01-01')")
      .collect())
    assert(err.getMessage.contains("month"))
  }

  test("review fixes: uuid v1 timestamp, YYYYMMDD parse, tz sign, NULL strictness") {
    // v1 uuid minted from known gregorian ticks: the old ticks*100 Long
    // overflow put modern v1 timestamps centuries in the past
    val v1 = "c232ab00-9414-11ec-b3c8-9f6bdeced846" // RFC 9562 v1 vector: 2022-02-22 2:22:22 PM GMT-5
    val ts = PgFunctions.uuidTimestamp(v1)
    assert(ts.toString === "2022-02-22T19:22:22Z")
    assert(PgFunctions.uuidVersion(null) === null)
    assert(PgFunctions.uuidTimestamp(null) === null)
    // separator-less template: each field limited to keyword width
    PgFunctions.registerAll(spark)
    val r = spark.sql(
      """SELECT to_date('20260812', 'YYYYMMDD') AS d,
        |  to_char(to_timestamp('2026-08-12 10:00 -00:30', 'YYYY-MM-DD HH24:MI TZH:TZM'),
        |    'YYYY-MM-DD HH24:MI') AS tz,
        |  pg_width_bucket(1.0D, CAST(NULL AS ARRAY<DOUBLE>)) IS NULL AS wb_null,
        |  pg_input_is_valid('x', CAST(NULL AS STRING)) IS NULL AS valid_null,
        |  strpos('xbc', 'b') AS sp
        |""".stripMargin).collect().head
    assert(r.get(0).toString === "2026-08-12")
    // -00:30 must SUBTRACT: 10:00 at -00:30 is 10:30 UTC
    assert(r.getString(1) === "2026-08-12 10:30")
    assert(r.getBoolean(2) && r.getBoolean(3))
    assert(r.getInt(4) === 2)
    // code-point semantics for NULL-delimiter split
    val cps = spark.sql("SELECT string_to_array('a𝔞b', NULL) AS a")
      .collect().head.getSeq[String](0)
    assert(cps === Seq("a", "𝔞", "b"))
  }

  test("pg_typeof / pg_input_is_valid") {
    val r = one(
      """SELECT pg_typeof(1) AS t_int, pg_typeof(CAST(1 AS BIGINT)) AS t_big,
        |  pg_typeof('x') AS t_text, pg_typeof(1.5D) AS t_f8,
        |  pg_typeof(DATE '2026-01-01') AS t_date,
        |  pg_input_is_valid('42', 'integer') AS ok_int,
        |  pg_input_is_valid('4e2', 'integer') AS bad_int,
        |  pg_input_is_valid('4e2', 'float8') AS ok_f8,
        |  pg_input_is_valid('2026-02-30', 'date') AS bad_date""".stripMargin)
    assert(r.getString(0) === "integer" && r.getString(1) === "bigint")
    assert(r.getString(2) === "text" && r.getString(3) === "double precision")
    assert(r.getString(4) === "date")
    assert(r.getBoolean(5) && !r.getBoolean(6) && r.getBoolean(7) && !r.getBoolean(8))
  }

  test("pg_input_error_info / min_scale / scale / \\df passthrough rows") {
    val r = one(
      """SELECT pg_input_error_info('42', 'integer').sql_error_code IS NULL AS ok,
        |  pg_input_error_info('abc', 'integer').sql_error_code AS code,
        |  pg_input_error_info('abc', 'integer').message AS msg,
        |  min_scale(CAST(1.5000 AS DECIMAL(10, 4))) AS ms,
        |  scale(CAST(1.5000 AS DECIMAL(10, 4))) AS sc""".stripMargin)
    assert(r.getBoolean(0))
    assert(r.getString(1) === "22P02")
    assert(r.getString(2).contains("invalid input syntax"))
    assert(r.getInt(3) === 1 && r.getInt(4) === 4)
    // native passthrough rows exist with the right kind
    assert(PgFunctions.procs.exists(p => p.name == "abs" && p.kind == "f"))
    assert(PgFunctions.procs.exists(p => p.name == "mode" && p.kind == "a"))
    assert(PgFunctions.procOid.contains("percentile_cont"))
  }

  test("unistr decodes all four escape shapes; unicode_assigned probes") {
    // Spark's SQL literals escape-process backslashes, so each pg
    // backslash is doubled here; unistr receives the single form
    val r = one(
      """SELECT unistr('d\\0061t\\+000061') AS a,
        |  unistr('dat\\U00000061') AS b,
        |  unistr('\\+01F600') AS emoji,
        |  unistr('a\\\\b') AS bs,
        |  unistr('\\D83D\\DE00') AS surrogates,
        |  unicode_assigned('data') AS ok,
        |  unicode_assigned(unistr('\\+10FFFE')) AS bad""".stripMargin)
    assert(r.getString(0) === "data")
    assert(r.getString(1) === "data")
    assert(r.getString(2) === new String(Character.toChars(0x1F600)))
    assert(r.getString(3) === "a\\b")
    // split surrogate pair combines, as in pg
    assert(r.getString(4) === new String(Character.toChars(0x1F600)))
    assert(r.getBoolean(5))
    assert(!r.getBoolean(6))
    val e = intercept[Exception](one("SELECT unistr('\\\\00zz')"))
    assert(e.getMessage.contains("invalid Unicode escape"))
  }

  test("array_sample / array_shuffle: pg range check + permutation laws") {
    val r = one(
      """SELECT array_sample(sequence(1, 10), 4) AS samp,
        |  array_shuffle(sequence(1, 6)) AS shuf,
        |  array_sample(array(1, 2), 0) AS empty""".stripMargin)
    val samp = r.getSeq[Int](0)
    assert(samp.length === 4 && samp.distinct.length === 4 &&
      samp.forall(v => v >= 1 && v <= 10))
    assert(r.getSeq[Int](1).sorted === Seq(1, 2, 3, 4, 5, 6))
    assert(r.getSeq[Int](2) === Seq.empty)
    val e = intercept[Exception](one("SELECT array_sample(array(1, 2), 5)"))
    assert(e.getMessage.contains("sample size must be between 0 and 2"))
  }

  test("pg_sleep_for / pg_sleep_until accept interval and timestamp") {
    val t0 = System.nanoTime()
    one("SELECT pg_sleep_for(INTERVAL '0.2' SECOND) AS s")
    assert((System.nanoTime() - t0) / 1e9 >= 0.15)
    // a past timestamp returns immediately
    one("SELECT pg_sleep_until(TIMESTAMP '2000-01-01 00:00:00') AS s")
  }

  test("array_fill / trim_array / every / variance") {
    val r = one(
      """SELECT array_fill(7, array(3)) AS af,
        |  trim_array(array(1, 2, 3, 4), 2) AS ta,
        |  (SELECT every(v > 0) FROM VALUES (1), (2) AS t(v)) AS ev,
        |  (SELECT every(v > 1) FROM VALUES (1), (2) AS t(v)) AS ev2,
        |  (SELECT CAST(variance(v) AS DOUBLE) FROM VALUES (1.0), (2.0), (3.0) AS t(v)) AS vr""".stripMargin)
    assert(r.getSeq[Int](0) === Seq(7, 7, 7))
    assert(r.getSeq[Int](1) === Seq(1, 2))
    assert(r.getBoolean(2) && !r.getBoolean(3))
    assert(math.abs(r.getDouble(4) - 1.0) < 1e-12)
  }
}
