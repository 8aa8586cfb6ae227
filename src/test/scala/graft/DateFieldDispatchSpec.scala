package graft

import org.scalatest.BeforeAndAfterAll
import graft.pgwire.PgServer

/** EXTRACT, date_part, date_trunc and isfinite dispatch on the operand's
  * TYPE, so an interval or time column from a subquery, a CTE or a view
  * reads its fields as a literal of its type does. Every expected value
  * is the output of a live PostgreSQL 15 (`psql -X -A -t`, UTC), same
  * statements.
  */
class DateFieldDispatchSpec extends SparkSpec with BeforeAndAfterAll {

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

  /** `select` over the columns of `values`, read from a subquery, a CTE
    * and a view; each reply checked by `check`. */
  private def overColumns(c: Client, values: String, select: String)(check: (String, Reply) => Unit): Unit = {
    check("subquery", c.query(s"SELECT $select FROM ($values) t"))
    check("cte", c.query(s"WITH w AS ($values) SELECT $select FROM w"))
    c.query("DROP VIEW IF EXISTS dfd_v")
    assert(c.query(s"CREATE VIEW dfd_v AS $values").errors === Nil)
    check("view", c.query(s"SELECT $select FROM dfd_v"))
    c.query("DROP VIEW dfd_v")
  }

  private def pin(c: Client, values: String, select: String, expected: String): Unit =
    overColumns(c, values, select) { (form, r) =>
      assert(r.errors === Nil, s"$form: ${r.errors}")
      assert(text(r) === expected, s"$form: $select")
    }

  test("an interval column reads pg's fields, not Spark's normalized ones") {
    val c = connect()
    pin(c, "SELECT INTERVAL '100 hours' AS d, INTERVAL '100 hours 30 minutes' AS d2",
      "extract(hour FROM d), date_part('hour', d), date_trunc('hour', d2), isfinite(d), " +
        "extract(epoch FROM d)",
      "100|100|100:00:00|t|360000.000000")
    pin(c, "SELECT '90 minutes'::interval AS d", "extract(minute FROM d), extract(epoch FROM d)",
      "30|5400.000000")
    c.close()
  }

  test("a time column reads its time-of-day fields; other fields are 0A000") {
    val c = connect()
    pin(c, "SELECT TIME '13:45:00' AS t, TIME '13:45:30.5' AS t2",
      "extract(epoch FROM t), extract(hour FROM t), extract(second FROM t2), date_part('minute', t)",
      "49500.000000|13|30.500000|45")
    overColumns(c, "SELECT TIME '13:45:00' AS t", "extract(day FROM t)") { (form, r) =>
      assert(r.errors.map(_._1) === Seq("0A000"), form)
      assert(r.errors.head._2 === """unit "day" not supported for type time without time zone""", form)
    }
    c.close()
  }

  test("date_part over an interval is double precision (pg 14+)") {
    val c = connect()
    val lit = c.query("SELECT date_part('epoch', INTERVAL '1 day')")
    assert(lit.errors === Nil, lit.errors)
    assert(text(lit) === "86400")
    assert(lit.fields.map(_._2) === Seq(701))
    overColumns(c, "SELECT INTERVAL '1 day' AS d", "date_part('epoch', d)") { (form, r) =>
      assert(r.errors === Nil, s"$form: ${r.errors}")
      assert(text(r) === "86400", form)
      assert(r.fields.map(_._2) === Seq(701), form)
    }
    c.close()
  }
}
