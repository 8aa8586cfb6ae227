package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.BeforeAndAfterAll
import graft.pgwire.{Complete, Handlers, PgCatalog, PgFunctions, PgServer, RowSet, Session}

/** UPDATE and DELETE write each table's next state once, beside the
  * table, and swap its directory in; the command tag's count comes from
  * that same write job. A failed statement leaves its tables and the
  * stage area as they were.
  */
class DmlWriteOnceSpec extends SparkSpec with BeforeAndAfterAll {

  private var server: PgServer = _
  private val jobs = new AtomicInteger
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    PgFunctions.registerAll(spark)
    PgCatalog.registerAll(spark)
    spark.sparkContext.addSparkListener(listener)
    server = new PgServer(spark)
    server.start()
  }

  override def afterAll(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    if (server != null) server.stop()
    super.afterAll()
  }

  private def connect(): Client = {
    val c = new Client(server.boundPort)
    c.startup()
    c
  }

  private def ok(c: Client, sql: String): Seq[String] = {
    val r = c.query(sql)
    assert(r.errors === Nil, s"$sql -> ${r.errors}")
    r.rows.map(_.map(_.getOrElse("NULL")).mkString("|")) ++ r.tags
  }

  private def drain(): Unit =
    org.apache.spark.graft.ListenerBusDrain.drain(spark.sparkContext, 10000)

  /** The command tag of `sql` and the Spark jobs it started. */
  private def tagAndJobs(session: Session, sql: String): (String, Int) = {
    drain()
    val j0 = jobs.get
    val tag = Handlers.execute(spark, session, sql) match {
      case Complete(t, _) => t
      case other => fail(s"$sql: expected a command tag, got $other")
    }
    drain()
    (tag, jobs.get - j0)
  }

  private def stageEntries(): Seq[String] = {
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val root = (if (wh.contains(":")) Paths.get(new java.net.URI(wh)) else Paths.get(wh))
      .resolve(".graft_stage")
    if (!Files.isDirectory(root)) Nil
    else {
      import scala.jdk.CollectionConverters._
      Files.list(root).iterator().asScala.map((p: Path) => p.getFileName.toString).toSeq
    }
  }

  test("a keyed UPDATE or DELETE on a 1000-row table runs at most 2 Spark jobs") {
    val session = new Session(1, "postgres", "postgres")
    def run(sql: String): Unit = Handlers.execute(spark, session, sql)
    run("DROP TABLE IF EXISTS wo_items")
    run("CREATE TABLE wo_items (id BIGINT, grp INT, v BIGINT, note TEXT)")
    run("INSERT INTO wo_items VALUES " +
      (0 until 1000).map(i => s"($i, ${i % 10}, ${i * 7919L % 100000}, 'n$i')").mkString(", "))
    // one warm-up statement of each shape
    run("UPDATE wo_items SET v = v + 1 WHERE id = 1")
    run("DELETE FROM wo_items WHERE id = 2")
    val runs = Seq(
      "UPDATE wo_items SET v = v + 7 WHERE id = 10" -> "UPDATE 1",
      "DELETE FROM wo_items WHERE id = 20" -> "DELETE 1",
      "UPDATE wo_items SET v = v + 7 WHERE id = 5000" -> "UPDATE 0",
      "DELETE FROM wo_items WHERE id = 5000" -> "DELETE 0")
    runs.foreach { case (sql, tag) =>
      val (t, n) = tagAndJobs(session, sql)
      assert(t === tag, sql)
      assert(n <= 2, s"$sql started $n Spark jobs")
    }
    val check = Handlers.execute(spark, session,
      "SELECT count(*), sum(CASE WHEN id = 10 THEN v END) FROM wo_items") match {
      case RowSet(_, it, _, _) => it.map(_.toSeq.mkString("|")).toVector
      case other => fail(s"unexpected $other")
    }
    assert(check === Seq(s"998|${10 * 7919 % 100000 + 7}"))
    assert(stageEntries() === Nil)
    run("DROP TABLE wo_items")
  }

  test("the tag counts pg's matches: NULL predicates match nothing, an empty table gives 0") {
    val c = connect()
    ok(c, "DROP TABLE IF EXISTS wo_3vl")
    ok(c, "CREATE TABLE wo_3vl (id int, v int)")
    assert(ok(c, "UPDATE wo_3vl SET v = 1") === Seq("UPDATE 0"))
    assert(ok(c, "DELETE FROM wo_3vl") === Seq("DELETE 0"))
    ok(c, "INSERT INTO wo_3vl VALUES (1, 10), (2, NULL), (3, 30)")
    assert(ok(c, "UPDATE wo_3vl SET v = v + 1 WHERE v > 5") === Seq("UPDATE 2"))
    assert(ok(c, "DELETE FROM wo_3vl WHERE v < 20") === Seq("DELETE 1"))
    assert(ok(c, "UPDATE wo_3vl SET v = 0") === Seq("UPDATE 2"))
    assert(ok(c, "SELECT id, v FROM wo_3vl ORDER BY id") === Seq("2|0", "3|0", "SELECT 2"))
    ok(c, "DROP TABLE wo_3vl")
    c.close()
  }

  test("tables the directory swap cannot serve are overwritten from their stage") {
    val c = connect()
    Seq("wo_csv" -> "USING csv", "wo_part" -> "USING parquet PARTITIONED BY (p)").foreach {
      case (t, tail) =>
        ok(c, s"DROP TABLE IF EXISTS $t")
        ok(c, s"CREATE TABLE $t (id int, v int, p int) $tail")
        ok(c, s"INSERT INTO $t VALUES (1, 10, 0), (2, 20, 1), (3, 30, 1)")
        assert(ok(c, s"UPDATE $t SET v = v + 1 WHERE p = 1") === Seq("UPDATE 2"), t)
        assert(ok(c, s"DELETE FROM $t WHERE id = 1") === Seq("DELETE 1"), t)
        assert(ok(c, s"SELECT id, v, p FROM $t ORDER BY id") === Seq("2|21|1", "3|31|1", "SELECT 2"), t)
        ok(c, s"DROP TABLE $t")
    }
    assert(stageEntries() === Nil)
    c.close()
  }

  private def failureTables(c: Client): Unit = {
    Seq("DROP TABLE IF EXISTS wo_child", "DROP TABLE IF EXISTS wo_parent",
      "DROP TABLE IF EXISTS wo_ov",
      "CREATE TABLE wo_ov (id int, v int)",
      "INSERT INTO wo_ov VALUES (1, 1), (2, 2000000000)",
      "CREATE TABLE wo_parent (id bigint PRIMARY KEY)",
      "INSERT INTO wo_parent VALUES (1), (2)",
      "CREATE TABLE wo_child (id int, pid int REFERENCES wo_parent (id) ON UPDATE CASCADE)",
      "INSERT INTO wo_child VALUES (10, 1), (20, 2)").foreach(ok(c, _))
  }

  private val ovRows = Seq("1|1", "2|2000000000", "SELECT 2")
  private val parentRows = Seq("1", "2", "SELECT 2")
  private val childRows = Seq("10|1", "20|2", "SELECT 2")

  private def assertUnchanged(c: Client): Unit = {
    assert(ok(c, "SELECT id, v FROM wo_ov ORDER BY id") === ovRows)
    assert(ok(c, "SELECT id FROM wo_parent ORDER BY id") === parentRows)
    assert(ok(c, "SELECT id, pid FROM wo_child ORDER BY id") === childRows)
    assert(stageEntries() === Nil, "stage directories left behind")
  }

  // the parent's stage is written first; the cascaded child key does
  // not fit the child's int column, so the second stage's write fails
  private val overflowingSet = "UPDATE wo_ov SET v = v * 2 WHERE id > 0"
  private val overflowingCascade = "UPDATE wo_parent SET id = 5000000000 WHERE id = 1"

  test("a write job that fails leaves the tables and the stage area unchanged") {
    val c = connect()
    failureTables(c)
    val before = stageEntries()
    assert(before === Nil)
    Seq(overflowingSet, overflowingCascade).foreach { sql =>
      val r = c.query(sql)
      assert(r.errors.nonEmpty, s"$sql should fail")
      assert(r.errors.head._2.toLowerCase.contains("overflow"), r.errors)
      assertUnchanged(c)
    }
    c.close()
  }

  test("a write job that fails inside BEGIN … ROLLBACK leaves the tables as they were") {
    val c = connect()
    failureTables(c)
    Seq(overflowingSet, overflowingCascade).foreach { sql =>
      ok(c, "BEGIN")
      ok(c, "UPDATE wo_ov SET v = 5 WHERE id = 1")
      ok(c, "DELETE FROM wo_child WHERE id = 20")
      assert(c.query(sql).errors.nonEmpty, s"$sql should fail")
      assert(c.query("SELECT 1").errors.map(_._1) === Seq("25P02"))
      assert(ok(c, "ROLLBACK") === Seq("ROLLBACK"))
      assertUnchanged(c)
    }
    ok(c, "DROP TABLE wo_child")
    ok(c, "DROP TABLE wo_parent")
    ok(c, "DROP TABLE wo_ov")
    c.close()
  }
}
