package graft.pgwire

import org.apache.spark.sql.SparkSession

/** Sequence-drawing child JVM for PgMetaSpec's disjoint-block proof:
  * attaches the meta ROOT only (no SparkSession — nextval is pure
  * file-lock state) and draws `n` values from `seqName`, one per
  * line, into `outFile`. Run CONCURRENTLY with the parent test JVM
  * drawing from the same sequence; the union of both draw sets must
  * be gap-free and duplicate-free — the cross-PROCESS exclusion the
  * r16 verdict named as the one remaining single-JVM assumption. */
object PgMetaSeqChild {
  def main(args: Array[String]): Unit = {
    val Array(metaDir, seqName, nStr, outFile) = args
    PgMeta.attachRootOnly(metaDir)
    val n = nStr.toInt
    // signal the parent that drawing is about to begin (the spec
    // holds its own draws until both processes contend for real)
    java.nio.file.Files.createFile(java.nio.file.Paths.get(outFile + ".started"))
    val out = new java.io.PrintWriter(outFile)
    var i = 0
    while (i < n) { out.println(PgSequences.nextval(seqName, 999)); i += 1 }
    out.close()
  }
}

/** A restarted server for PgMetaSpec's child JVMs: its OWN
  * SparkSession (fresh catalog, fresh registries — a genuine restart)
  * with `spark.graft.metaDir` set, booted through [[PgServer.start]]
  * as a deployment boots. [[probe]] writes `key<TAB>answer` for each
  * probe statement to `outFile` (rows `|`/`;`-joined, errors their
  * SQLSTATE) and stops. */
object PgMetaRestart {
  def probe(metaDir: String, outFile: String, probes: Seq[(String, String)]): Unit = {
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-child-wh").toString)
      .config("spark.graft.metaDir", metaDir)
      .config(graft.Tables.sessionConfs)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val server = new PgServer(spark)
    server.start()

    val session = new Session(501, "postgres", "postgres")
    def run(sql: String): String =
      try Handlers.execute(spark, session, sql) match {
        case RowSet(_, rows, _, _) =>
          rows.map(r => (0 until r.length).map(i =>
            Option(r.get(i)).map(_.toString).getOrElse("NULL")).mkString("|"))
            .mkString(";")
        case Complete(tag, _) => tag
        case EmptyQuery => ""
      } catch {
        case PgException(code, _) => s"ERR:$code"
        case e: Throwable => s"FATAL:${e.getClass.getSimpleName}:${Option(e.getMessage).getOrElse("").take(120)}"
      }
    val out = new java.io.PrintWriter(outFile)
    probes.foreach { case (k, sql) => out.println(k + "\t" + run(sql)) }
    out.close()
    server.stop()
    spark.stop()
  }
}

/** Full second-SparkSession child JVM for PgMetaSpec: restarts over
  * the shared meta root ([[PgMetaRestart]]) and runs the probe
  * statements whose answers the parent asserts value-for-value: enum
  * rendering and declared-order sort, table contents, PK/FK/CHECK
  * enforcement errors, serial and sequence continuation, pg_indexes/
  * pg_views/pg_description catalog rows, matview reads. */
object PgMetaChildMain {
  def main(args: Array[String]): Unit = {
    val Array(metaDir, outFile) = args
    val probes = Seq(
      "enum_render" -> "SELECT 'happy'::pmeta_mood",
      "enum_order" -> "SELECT m FROM pmeta_moods ORDER BY m",
      "table_rows" -> "SELECT id, nm FROM pmeta_parent ORDER BY id",
      "pk_enforce" -> "INSERT INTO pmeta_parent VALUES (1, 'dup')",
      "fk_enforce" -> "INSERT INTO pmeta_child (pid, qty) VALUES (99, 1)",
      "check_enforce" -> "INSERT INTO pmeta_child (pid, qty) VALUES (1, -5)",
      "notnull_enforce" -> "INSERT INTO pmeta_parent (id) VALUES (50)",
      "serial_insert" ->
        "INSERT INTO pmeta_child (pid, qty) VALUES (2, 7) RETURNING id",
      "seq_next" -> "SELECT nextval('pmeta_s1')",
      "index_listed" ->
        "SELECT indexname FROM pg_indexes WHERE tablename = 'pmeta_parent' ORDER BY indexname",
      "matview_rows" -> "SELECT c FROM pmeta_mv",
      "view_rows" -> "SELECT nm FROM pmeta_v ORDER BY nm",
      "view_def" ->
        "SELECT definition FROM pg_views WHERE viewname = 'pmeta_v'",
      "comment_read" ->
        "SELECT d.description FROM pg_description d JOIN pg_class c ON c.oid = d.objoid WHERE c.relname = 'pmeta_parent'",
      "seq_listed" ->
        "SELECT sequencename FROM pg_sequences WHERE sequencename LIKE 'pmeta%' ORDER BY 1"
    )
    PgMetaRestart.probe(metaDir, outFile, probes)
  }
}

/** Child JVM that restarts over the meta root and answers the
  * statements given after `outFile`, keyed by their position. */
object PgMetaQueryChild {
  def main(args: Array[String]): Unit =
    PgMetaRestart.probe(args(0), args(1), args.drop(2).zipWithIndex.map {
      case (sql, i) => i.toString -> sql }.toSeq)
}
