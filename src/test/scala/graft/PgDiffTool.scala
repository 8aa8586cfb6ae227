package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Manual differential harness: evaluates vectors from a file (one per
  * line) through the engine and writes `vector\t=>\tresult` lines for
  * diffing against live PostgreSQL output (see live-postgres-oracle
  * notes). Run:
  *
  *   sbt "Test/runMain graft.PgDiffTool /tmp/diff_vectors.txt /tmp/engine_results.txt"
  *
  * A line is either a pg expression, evaluated as `SELECT <expr>` through
  * [[pgwire.Handlers.runSql]], or a whole statement (`CREATE`, `INSERT`,
  * `UPDATE`, `DELETE`, `DROP`, `WITH` or `SELECT`), which runs through
  * [[pgwire.Handlers.execute]] on one [[pgwire.Session]] shared by the
  * whole file, so table and view set-up lines work. Results print like
  * `psql -X -A -t`: every column of a row `|`-joined (NULL empty), rows
  * joined by a literal `\n`, a command tag for a statement that returns
  * no rows.
  *
  * Not a test: a scratch pg cluster isn't available on CI runs; the
  * curated divergence-free vectors get pinned into specs instead.
  */
object PgDiffTool {
  private val statementHead =
    "(?is)\\s*(CREATE|INSERT|UPDATE|DELETE|DROP|WITH|SELECT)\\b.*".r

  def main(args: Array[String]): Unit = {
    val in = args(0)
    val outPath = args(1)
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    pgwire.PgFunctions.registerAll(spark)
    val session = new pgwire.Session(0, "postgres", "postgres")
    // the container JVM's default charset is POSIX — be explicit
    val vectors = scala.io.Source.fromFile(in)(scala.io.Codec.UTF8)
      .getLines().filter(_.trim.nonEmpty).toVector
    val out = new java.io.PrintWriter(outPath, "UTF-8")
    vectors.foreach { v =>
      val statement = statementHead.matches(v)
      val sql = if (statement) v else s"SELECT $v"
      val res =
        try {
          if (statement) pgwire.Handlers.execute(spark, session, sql) match {
            case rs: pgwire.RowSet => render(rs.schema, rs.rows.toSeq)
            case pgwire.Complete(tag, _) => tag
            case pgwire.EmptyQuery => ""
          } else {
            // the SAME path the live server runs: Compat rewrite +
            // PgSemantics plan pass + output typing (Handlers.runSql)
            val df = pgwire.Handlers.runSql(spark, sql)
            if (sys.env.contains("SPARK_GRAFT_DIFF_NAMES"))
              df.schema.fieldNames.mkString("|") // RowDescription sweep mode
            else render(df.schema, df.collect().toSeq)
          }
        } catch {
          case e: Throwable =>
            "<ERR:" + Option(e.getMessage).getOrElse(e.getClass.getName)
              .replace("\n", " ").take(
                if (sys.env.contains("SPARK_GRAFT_DIFF_FULLERR")) 600 else 80) + ">"
        }
      out.println(v + "\t=>\t" + res.replace("\n", "\\n"))
      // optional third arg: also log the rewritten SQL for debugging
      if (args.length > 2)
        System.err.println("REWRITE: " + v + "  ==>  " +
          (try pgwire.Compat.rewrite(sql) catch { case e: Throwable => "<" + e.getMessage + ">" }))
    }
    out.close()
    spark.stop()
  }

  private def render(schema: StructType, rows: Seq[Row]): String =
    rows.map(row => schema.fields.indices.map(i =>
      pgwire.TextEncoder.encodeField(row.get(i), schema.fields(i),
        java.time.ZoneOffset.UTC).getOrElse("")).mkString("|")).mkString("\n")
}
