package graft

import java.nio.file.Files

import org.scalatest.BeforeAndAfterAll

import graft.pgwire._
import graft.ChildJvm.{logTail, spawn}

/** VERDICT r16 item 1 — the last single-JVM assumption: DDL registry
  * state (enums, sequences, plain indexes, matviews, views, comments,
  * OIDs, and the wire-table catalog itself) must survive a JVM
  * restart via the warehouse-backed [[PgMeta]] store, and sequences
  * must hand out DISJOINT values to concurrent JVMs.
  *
  * Proof shape (the verdict's own "done" bar):
  *  1. this JVM attaches a meta root, runs the full DDL surface, and
  *     draws from a sequence;
  *  2. a REAL second JVM ([[PgMetaChildMain]]) boots its own
  *     SparkSession over the same meta root and answers probe queries
  *     — enum rendering/sort order, PK/FK/CHECK/NOT NULL enforcement
  *     codes, serial + sequence continuation, catalog rows — which
  *     this spec asserts value-for-value against the single-JVM run;
  *  3. a concurrent draw race: parent and a second JVM
  *     ([[PgMetaSeqChild]]) each draw 400 values from one sequence at
  *     the same time; the union must be exactly the first 800 values,
  *     duplicate- and gap-free (FileLock cross-process exclusion).
  */
class PgMetaSpec extends SparkSpec with BeforeAndAfterAll {

  private val metaDir = Files.createTempDirectory("graft-pgmeta").toString
  private val session = new Session(81, "postgres", "postgres")

  private def run(sql: String): PgResult = Handlers.execute(spark, session, sql)
  private def rows(sql: String): Seq[Seq[String]] = run(sql) match {
    case RowSet(_, rs, _, _) => rs.map(r => (0 until r.length).map(i =>
      Option(r.get(i)).map(_.toString).getOrElse("NULL")).toSeq).toSeq
    case other => fail(s"expected rows from $sql, got $other")
  }
  private def code(sql: String): String =
    intercept[PgException](run(sql) match {
      case RowSet(_, rs, _, _) => rs.size // DML errors can surface at drain
      case _ => ()
    }).code

  override def beforeAll(): Unit = {
    super.beforeAll()
    PgFunctions.registerAll(spark)
    PgCatalog.registerAll(spark)
    PgMeta.attach(spark, metaDir)
    // the DDL surface under test (everything the r16 verdict listed as
    // driver-JVM state)
    Seq(
      "DROP TABLE IF EXISTS pmeta_child",
      "DROP TABLE IF EXISTS pmeta_parent",
      "DROP TABLE IF EXISTS pmeta_moods",
      "CREATE TYPE pmeta_mood AS ENUM ('sad', 'ok', 'happy')",
      "CREATE TABLE pmeta_moods (m pmeta_mood)",
      "INSERT INTO pmeta_moods VALUES ('happy'), ('sad'), ('ok')",
      "CREATE TABLE pmeta_parent (id int PRIMARY KEY, nm text NOT NULL)",
      "CREATE TABLE pmeta_child (id serial PRIMARY KEY, " +
        "pid int REFERENCES pmeta_parent(id), qty int CHECK (qty > 0))",
      "INSERT INTO pmeta_parent VALUES (1, 'alpha'), (2, 'beta')",
      "INSERT INTO pmeta_child (pid, qty) VALUES (1, 5), (1, 6)",
      "CREATE INDEX pmeta_idx ON pmeta_parent (nm)",
      "CREATE VIEW pmeta_v AS SELECT id, upper(nm) AS nm FROM pmeta_parent",
      "CREATE MATERIALIZED VIEW pmeta_mv AS SELECT count(*) AS c FROM pmeta_parent",
      "COMMENT ON TABLE pmeta_parent IS 'the parent table'",
      "CREATE SEQUENCE pmeta_s1 START 100"
    ).foreach(run)
    assert(rows("SELECT nextval('pmeta_s1')") === Seq(Seq("100")))
  }

  override def afterAll(): Unit = {
    try Seq(
      "DROP MATERIALIZED VIEW IF EXISTS pmeta_mv",
      "DROP VIEW IF EXISTS pmeta_v",
      "DROP VIEW IF EXISTS pmeta_ext",
      "DROP TABLE IF EXISTS pmeta_child",
      "DROP TABLE IF EXISTS pmeta_parent",
      "DROP TABLE IF EXISTS pmeta_moods",
      "DROP TYPE IF EXISTS pmeta_mood",
      "DROP SEQUENCE IF EXISTS pmeta_s1",
      "DROP SEQUENCE IF EXISTS pmeta_conc"
    ).foreach(sql => scala.util.Try(run(sql)))
    finally PgMeta.detach()
    super.afterAll()
  }

  test("a second JVM over the same meta root reproduces the DDL surface value-for-value") {
    // single-JVM expectations captured FIRST (the child must match)
    assert(rows("SELECT m FROM pmeta_moods ORDER BY m").flatten ===
      Seq("sad", "ok", "happy")) // declared order, not alphabetical
    assert(code("INSERT INTO pmeta_parent VALUES (1, 'dup')") === "23505")
    assert(code("INSERT INTO pmeta_child (pid, qty) VALUES (99, 1)") === "23503")
    assert(code("INSERT INTO pmeta_child (pid, qty) VALUES (1, -5)") === "23514")
    assert(code("INSERT INTO pmeta_parent (id) VALUES (50)") === "23502")

    val outFile = Files.createTempFile("pgmeta-probe", ".tsv")
    val (p, log) = spawn("graft.pgwire.PgMetaChildMain", metaDir, outFile.toString)
    assert(p.waitFor(300, java.util.concurrent.TimeUnit.SECONDS),
      s"child JVM timed out\n${logTail(log)}")
    assert(p.exitValue() === 0, s"child JVM failed:\n${logTail(log)}")
    val probes = new String(Files.readAllBytes(outFile), "UTF-8")
      .split("\n").filter(_.nonEmpty)
      .map { l => val Array(k, v) = l.split("\t", 2); k -> v }.toMap

    assert(probes("enum_render") === "happy")
    assert(probes("enum_order") === "sad;ok;happy") // declared order survives
    assert(probes("table_rows") === "1|alpha;2|beta")
    assert(probes("pk_enforce") === "ERR:23505")
    assert(probes("fk_enforce") === "ERR:23503")
    assert(probes("check_enforce") === "ERR:23514")
    assert(probes("notnull_enforce") === "ERR:23502")
    // serial continuation across the restart, counting the statement
    // pre-reservation burn (documented deviation, sweep-36d): parent
    // drew 1,2 in beforeAll, burned 3,4 on this test's failing fk/check
    // INSERTs; the child burned 5,6 on ITS failing probes; its
    // successful insert draws 7 — from the SHARED file state
    assert(probes("serial_insert") === "7")
    // parent drew 100 — the restarted JVM continues at 101
    assert(probes("seq_next") === "101")
    assert(probes("index_listed").contains("pmeta_idx"))
    assert(probes("index_listed").contains("pmeta_parent_pkey"))
    assert(probes("matview_rows") === "2")
    assert(probes("view_rows") === "ALPHA;BETA")
    assert(probes("view_def").toLowerCase.contains("from pmeta_parent"))
    assert(probes("comment_read") === "the parent table")
    assert(probes("seq_listed").contains("pmeta_s1"))

    // the child's draws advanced the SHARED state: this JVM sees them
    assert(rows("SELECT nextval('pmeta_s1')") === Seq(Seq("102")))
  }

  test("two JVMs drawing concurrently get disjoint, gap-free value blocks") {
    run("CREATE SEQUENCE pmeta_conc")
    val n = 400
    val childOut = Files.createTempFile("pgmeta-draws", ".txt")
    val (p, log) = spawn("graft.pgwire.PgMetaSeqChild",
      metaDir, "pmeta_conc", n.toString, childOut.toString)
    // wait for the child to signal it is about to draw, so the two
    // processes genuinely contend on the file lock instead of the
    // parent finishing before the child JVM boots
    val marker = java.nio.file.Paths.get(childOut.toString + ".started")
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (!Files.exists(marker) && System.nanoTime() < deadline)
      Thread.sleep(10)
    assert(Files.exists(marker), s"seq child never started\n${logTail(log)}")
    val mine = scala.collection.mutable.ArrayBuffer.empty[Long]
    var drawn = 0
    while (drawn < n) {
      mine += PgSequences.nextval("pmeta_conc", session.connId)
      drawn += 1
    }
    assert(p.waitFor(120, java.util.concurrent.TimeUnit.SECONDS),
      s"seq child timed out\n${logTail(log)}")
    assert(p.exitValue() === 0, s"seq child failed:\n${logTail(log)}")
    val theirs = new String(Files.readAllBytes(childOut), "UTF-8")
      .split("\n").filter(_.nonEmpty).map(_.toLong).toSeq
    assert(theirs.size === n)
    val all = mine.toSeq ++ theirs
    assert(all.toSet.size === 2 * n, "duplicate values across JVMs")
    assert(all.toSet === (1L to 2L * n).toSet, "gaps in the drawn range")
    // each JVM's own draws are strictly increasing (per-process order)
    assert(mine.toSeq === mine.toSeq.sorted)
    assert(theirs === theirs.sorted)
  }

  test("a wire view over EXTRACT(EPOCH) and date_part('isodow') restores when a fresh server starts") {
    // the saved text keeps pg's field names, which Spark's own
    // extract/date_part reject: a restart must register the pg
    // functions before it recreates the view
    run("CREATE VIEW pmeta_ext AS SELECT EXTRACT(EPOCH FROM ts) AS e, " +
      "date_part('isodow', ts) AS d FROM (SELECT TIMESTAMP '2024-03-07 12:00:00' AS ts) s")
    val probe = "SELECT e, d FROM pmeta_ext"
    assert(rows(probe) === Seq(Seq("1709812800.000000", "4")))
    val outFile = Files.createTempFile("pgmeta-ext", ".tsv")
    val (p, log) = spawn("graft.pgwire.PgMetaQueryChild", metaDir, outFile.toString, probe)
    assert(p.waitFor(300, java.util.concurrent.TimeUnit.SECONDS),
      s"child JVM timed out\n${logTail(log)}")
    assert(p.exitValue() === 0, s"child JVM failed:\n${logTail(log)}")
    assert(new String(Files.readAllBytes(outFile), "UTF-8").trim ===
      "0\t1709812800.000000|4")
  }
}
