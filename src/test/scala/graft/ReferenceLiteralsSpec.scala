package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.SparkPlan
import org.scalatest.BeforeAndAfterAll
import graft.pgwire.{Complete, Handlers, PgCatalog, PgFunctions, RowSet, Session}
import graft.plans.RefLiteral

/** Constants reach generated code through `references`
  * (`plans.ReferenceLiterals`): a statement shape that comes back with
  * new values compiles nothing, gives the results the spliced literals
  * give, and prints the same plan, scan pushdown included.
  */
class ReferenceLiteralsSpec extends SparkSpec with BeforeAndAfterAll {

  override def beforeAll(): Unit = {
    super.beforeAll()
    PgCatalog.registerAll(spark)
    PgFunctions.registerAll(spark)
    val dir = Files.createTempDirectory("reflit").toString
    def table(name: String, sql: String, partitionBy: String*): Unit = {
      spark.sql(sql).write.partitionBy(partitionBy: _*).parquet(s"$dir/$name")
      spark.read.parquet(s"$dir/$name").createOrReplaceTempView(name)
    }
    table("rl_orders", "SELECT id AS o_orderkey, CAST(id % 50 AS INT) AS o_custkey, " +
      "id * 1.5D AS o_totalprice, date_add(DATE '2024-01-01', CAST(id % 365 AS INT)) AS o_orderdate " +
      "FROM range(1, 301)")
    table("rl_lineitem", "SELECT id DIV 4 AS l_orderkey, CAST(id % 4 + 1 AS INT) AS l_linenumber, " +
      "CAST(id % 50 AS INT) AS l_quantity FROM range(0, 1200)", "l_linenumber")
    table("rl_customer", "SELECT CAST(id AS INT) AS c_custkey, concat('c', id) AS c_name, " +
      "CAST(id % 25 AS INT) AS c_nationkey FROM range(0, 50)")
    table("rl_nation", "SELECT CAST(id AS INT) AS n_nationkey, concat('n', id) AS n_name FROM range(0, 25)")
    table("rl_vals", "SELECT CAST(k AS INT) AS k, CAST(i AS INT) AS i, CAST(i AS BIGINT) AS b, " +
      "CAST(i AS SMALLINT) AS s, CAST(f AS FLOAT) AS f, f AS d, " +
      "date_add(DATE '2024-01-01', i) AS dt, " +
      "TIMESTAMP '2024-01-01 00:00:00' + make_dt_interval(0, i) AS ts, " +
      "TIMESTAMP_NTZ '2024-01-01 00:00:00' + make_dt_interval(0, i) AS tsn, " +
      "make_dt_interval(i, 0) AS iv FROM VALUES " +
      "(0, -2, CAST('NaN' AS DOUBLE)), (0, -1, CAST('-0.0' AS DOUBLE)), (1, 0, 0.0D), " +
      "(1, 1, CAST('Infinity' AS DOUBLE)), (2, 2, CAST('-Infinity' AS DOUBLE)), " +
      "(2, 3, 1.5D), (3, CAST(NULL AS INT), CAST(NULL AS DOUBLE)) AS v(k, i, f)")
  }

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def run(session: Session, sql: String): Seq[String] =
    Handlers.execute(spark, session, sql) match {
      case RowSet(_, it, tagFor, _) =>
        val rows = it.map(_.toSeq.mkString("|")).toVector
        tagFor(rows.size)
        rows
      case Complete(tag, _) => Seq(tag)
      case other => fail(s"unexpected $other")
    }

  /** Runs `stmt(k)` for each key; returns (Janino compiles, rows) per run. */
  private def runKeys(session: Session, keys: Seq[Int])(stmt: Int => String): Seq[(Long, Seq[String])] =
    keys.map { k =>
      val c0 = compiles
      val rows = run(session, stmt(k))
      (compiles - c0, rows)
    }

  private def assertFlat(runs: Seq[(Long, Seq[String])]): Unit =
    assert(runs.drop(1).map(_._1) === Seq(0L, 0L), s"compiles per run: ${runs.map(_._1)}")

  test("a keyed read compiles on its first shape only, whatever the key") {
    val session = new Session(1, "postgres", "postgres")
    val pk = runKeys(session, Seq(202, 17, 95))(k =>
      s"SELECT o_orderkey, o_custkey, o_totalprice FROM rl_orders WHERE o_orderkey = $k")
    assertFlat(pk)
    assert(pk.map(_._2) === Seq(202, 17, 95).map(k => Seq(s"$k|${k % 50}|${k * 1.5}")))

    val range = runKeys(session, Seq(32, 64, 96))(b =>
      s"SELECT count(*), sum(l_quantity) FROM rl_lineitem WHERE l_orderkey BETWEEN $b AND ${b + 31}")
    assertFlat(range)
    assert(range.map(_._2) === Seq(32, 64, 96).map { b =>
      val qs = (b * 4 until (b + 32) * 4).map(_ % 50)
      Seq(s"${qs.size}|${qs.sum}")
    })

    val join = runKeys(session, Seq(7, 31, 44))(k =>
      "SELECT c.c_custkey, c.c_name, n.n_name FROM rl_customer c JOIN rl_nation n " +
        s"ON c.c_nationkey = n.n_nationkey WHERE c.c_custkey = $k")
    assertFlat(join)
    assert(join.map(_._2) === Seq(7, 31, 44).map(k => Seq(s"$k|c$k|n${k % 25}")))
  }

  test("a keyed UPDATE compiles on its first run only, whatever the key") {
    val session = new Session(1, "postgres", "postgres")
    run(session, "DROP TABLE IF EXISTS rl_items")
    run(session, "CREATE TABLE rl_items(id int, v int)")
    run(session, "INSERT INTO rl_items VALUES " + (1 to 20).map(i => s"($i, $i)").mkString(", "))
    val upd = runKeys(session, Seq(3, 11, 18))(k => s"UPDATE rl_items SET v = v + 100 WHERE id = $k")
    assertFlat(upd)
    assert(upd.map(_._2) === Seq.fill(3)(Seq("UPDATE 1")))
    assert(run(session, "SELECT id FROM rl_items WHERE v > 100 ORDER BY id") === Seq("3", "11", "18"))
    // the SET value is the THEN value of the rewrite's projection
    val set = runKeys(session, Seq(4, 12, 19))(k => s"UPDATE rl_items SET v = ${k * 1000} WHERE id = $k")
    assertFlat(set)
    assert(set.map(_._2) === Seq.fill(3)(Seq("UPDATE 1")))
    assert(run(session, "SELECT id, v FROM rl_items WHERE v >= 1000 ORDER BY id") ===
      Seq("4|4000", "12|12000", "19|19000"))
    run(session, "DROP TABLE rl_items")
  }

  test("CASE/IF results and coalesce/nvl/greatest/least values compile on the first run only") {
    val session = new Session(1, "postgres", "postgres")
    val xs = Seq(5, 9, 13)
    val runs = runKeys(session, xs)(x =>
      s"SELECT k, CASE WHEN i = 1 THEN $x ELSE 0 END, coalesce(NULLIF(i, 0), $x), nvl(i, $x), " +
        s"greatest(i, $x), least(i, $x) FROM rl_vals ORDER BY k, i")
    assertFlat(runs)
    val ki = Seq(0 -> Some(-2), 0 -> Some(-1), 1 -> Some(0), 1 -> Some(1), 2 -> Some(2),
      2 -> Some(3), 3 -> None)
    assert(runs.map(_._2) === xs.map(x => ki.map { case (k, i) =>
      Seq(k, if (i.contains(1)) x else 0, i.filter(_ != 0).getOrElse(x), i.getOrElse(x),
        i.fold(x)(math.max(_, x)), i.fold(x)(math.min(_, x))).mkString("|")
    }))
  }

  test("substr's positions compile on the first run only (pg's substr is a UDF)") {
    val session = new Session(1, "postgres", "postgres")
    val xs = Seq(2, 3, 4)
    val runs = runKeys(session, xs)(x =>
      s"SELECT substr(CAST(k AS TEXT) || 'abcdef', $x), substr(CAST(k AS TEXT), 1, $x) " +
        "FROM rl_vals ORDER BY k")
    assertFlat(runs)
    val ks = Seq(0, 0, 1, 1, 2, 2, 3)
    assert(runs.map(_._2) === xs.map(x => ks.map(k => s"${(k + "abcdef").substring(x - 1)}|$k")))
  }

  test("EXPLAIN keeps the literal values, in the scan's pushed and partition filters too") {
    val session = new Session(1, "postgres", "postgres")
    val pk = run(session, "EXPLAIN SELECT o_custkey FROM rl_orders WHERE o_orderkey = 202").mkString("\n")
    assert(pk.contains("EqualTo(o_orderkey,202)"), pk)
    assert(pk.matches("(?s).*Filter .*\\(o_orderkey#\\d+L = 202\\).*"), pk)
    val part = run(session, "EXPLAIN SELECT count(*) FROM rl_lineitem WHERE l_linenumber = 3").mkString("\n")
    assert(part.matches("(?s).*PartitionFilters: \\[.*\\(l_linenumber#\\d+ = 3\\)\\].*"), part)
  }

  private def withoutAqe[T](body: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try body finally spark.conf.set(key, prev)
  }

  private def rows(plan: SparkPlan): Seq[String] = {
    val types = plan.output.map(_.dataType)
    plan.executeCollect().map(r => types.indices.map(i =>
      String.valueOf(if (r.isNullAt(i)) null else r.get(i, types(i)))).mkString("|")).toSeq.sorted
  }

  /** `sql` gives the same rows and plan text as its plan with every
    * RefLiteral put back as the literal it wraps; returns whether the
    * plan held any RefLiteral. */
  private def sameAsLiterals(sql: String): Boolean = {
    val plan = spark.sql(sql).queryExecution.executedPlan
    val literal = plan.transformAllExpressions { case r: RefLiteral => r.literal }
    assert(plan.toString === literal.toString, sql)
    assert(rows(plan) === rows(literal), sql)
    plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[RefLiteral])))
  }

  test("results and plans match the spliced literals for every by-value type, NULL included") {
    val values = Seq(
      "i" -> Seq("1", "-1", "CAST(NULL AS INT)"),
      "b" -> Seq("CAST(2 AS BIGINT)", "CAST(-2 AS BIGINT)"),
      "s" -> Seq("CAST(1 AS SMALLINT)"),
      "f" -> Seq("CAST('NaN' AS FLOAT)", "CAST('-0.0' AS FLOAT)", "CAST('Infinity' AS FLOAT)",
        "CAST('-Infinity' AS FLOAT)", "CAST(1.5 AS FLOAT)"),
      "d" -> Seq("CAST('NaN' AS DOUBLE)", "CAST('-0.0' AS DOUBLE)", "CAST('Infinity' AS DOUBLE)",
        "CAST('-Infinity' AS DOUBLE)", "0.0D", "CAST(NULL AS DOUBLE)"),
      "dt" -> Seq("DATE '2024-01-02'"),
      "ts" -> Seq("TIMESTAMP '2024-01-01 00:00:01'"),
      "tsn" -> Seq("TIMESTAMP_NTZ '2024-01-01 00:00:01'"),
      "iv" -> Seq("INTERVAL '1' DAY", "INTERVAL '-1 02:00:00' DAY TO SECOND"))
    val arithmetic = Set("i", "b", "s", "f", "d", "iv")
    withoutAqe {
      for ((c, lits) <- values; v <- lits) {
        val shapes = Seq(
          s"SELECT i FROM rl_vals WHERE $c = $v",
          s"SELECT i FROM rl_vals WHERE $c > $v OR $c IN ($v, $v)",
          s"SELECT i, CASE WHEN $c < $v THEN 'lt' WHEN $c = $v THEN 'eq' ELSE 'ge' END FROM rl_vals",
          s"SELECT a.i, b.i FROM rl_vals a JOIN rl_vals b ON a.k = b.k AND (a.$c < $v OR b.$c = $v)",
          s"SELECT i, CASE WHEN k > i THEN $v ELSE $c END, if(k > i, $c, $v), coalesce($c, $v), " +
            s"greatest($c, $v), least($c, $v) FROM rl_vals") ++
          (if (arithmetic(c)) Seq(s"SELECT i, $c + $v, $c - $v FROM rl_vals") else Nil) ++
          (if (c == "i") Seq(s"SELECT i, pg_substr(CAST(k AS STRING), $v, 2) FROM rl_vals") else Nil)
        val referenced = shapes.map(sameAsLiterals)
        if (v.contains("NULL")) assert(!referenced.exists(identity), v)
        else assert(referenced.forall(identity), v)
      }
    }
  }
}
