package graft.wirebench

import java.io.{BufferedReader, InputStreamReader, PrintWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.pgwire.{BinaryEncoder, PgServer, TextEncoder}

/** The server process: `graft.Cli`'s own start-up (session, parquet
  * table registration, `PgServer.start`) on the generated tables, plus
  * a control channel on stdin that run.py uses outside timing (one
  * command a line, fields separated by tabs):
  *
  *   expect <workload> <out file>          expected results, in-process
  *   trace <workload> <replay file> <out json> <span file>
  *   gc                                    cumulative GC ms
  *
  * usage: BenchServer <data dir> <spark master>
  */
object BenchServer {
  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

  def main(args: Array[String]): Unit = {
    val Array(dataDir, master) = args
    val cliArgs = Seq("-p", "0", "--master", master) ++
      tables.flatMap(t => Seq("--parquet", s"$t:$dataDir/$t.parquet"))
    val (spark, server) = graft.Cli.serve(cliArgs.toArray)
    val out = new PrintWriter(System.out, true)
    out.println(s"WB READY ${server.boundPort}")
    val in = new BufferedReader(new InputStreamReader(System.in))
    var line = in.readLine()
    while (line != null) {
      val reply = line.split("\t").toList match {
        case "expect" :: wl :: file :: Nil =>
          Expect.run(spark, wl, Paths.get(file))
        case "trace" :: wl :: replay :: json :: spans :: Nil =>
          new Trace(spark, server).run(wl, Paths.get(replay), Paths.get(json), Paths.get(spans))
        case "gc" :: Nil =>
          java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
            .map(_.getCollectionTime).sum.toString
        case other => s"unknown command $other"
      }
      out.println(s"WB $reply")
      line = in.readLine()
    }
    server.stop()
    spark.stop()
  }
}

/** Expected results, computed through the in-process DataFrame path
  * (`spark.sql` on the same tables) and encoded with the server's own
  * text and binary encoders into DataRow bodies, so the client can
  * compare row counts and checksums byte for byte. Each line of the
  * output: template, key, rows, text checksum, binary checksum.
  *
  * As a main it computes the read workloads' expectations once per
  * build, in a Spark session of its own with the SQL extension and
  * session settings `graft.Cli` gives the server, so no timed server
  * ever runs them.
  *
  * usage: Expect <data dir> <out dir>
  */
object Expect {
  private val fmt = TextEncoder.Fmt.default

  def textFields(row: Row, schema: StructType, from: Int): Seq[Option[Array[Byte]]] =
    (from until schema.length).map { i =>
      TextEncoder.encodeField(if (row.isNullAt(i)) null else row.get(i), schema(i), fmt)
        .map(_.getBytes(UTF_8))
    }

  def binaryFields(row: Row, schema: StructType, from: Int): Seq[Option[Array[Byte]]] =
    (from until schema.length).map { i =>
      BinaryEncoder.encode(if (row.isNullAt(i)) null else row.get(i), schema(i).dataType)
    }

  def run(spark: SparkSession, workload: String, file: java.nio.file.Path): String = {
    val lines = Seq.newBuilder[String]
    Workloads.templates(workload).foreach { t =>
      val df = spark.sql(t.expect.get)
      val schema = df.schema
      val from = if (t.keyed) 1 else 0
      val acc = scala.collection.mutable.Map.empty[String, Array[Long]]
      df.toLocalIterator().asScala.foreach { row =>
        val k = if (t.keyed) row.getString(0) else ""
        val a = acc.getOrElseUpdate(k, new Array[Long](3))
        a(0) += 1
        a(1) += Checksum.fields(textFields(row, schema, from))
        if (t.binary) a(2) += Checksum.fields(binaryFields(row, schema, from))
      }
      if (!t.keyed && acc.isEmpty) acc("") = new Array[Long](3)
      acc.foreach { case (k, a) =>
        lines += s"${t.id}\t$k\t${a(0)}\t${a(1)}\t${if (t.binary) a(2).toString else ""}"
      }
    }
    val all = lines.result()
    Files.write(file, all.asJava)
    s"OK ${all.length}"
  }

  def main(args: Array[String]): Unit = {
    val Array(dataDir, outDir) = args
    val spark = SparkSession.builder().appName("wirebench-expect").master("local[2]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config(graft.Tables.sessionConfs)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    BenchServer.tables.foreach(t =>
      spark.read.parquet(s"$dataDir/$t.parquet").createOrReplaceTempView(t))
    graft.pgwire.PgCatalog.registerAll(spark)
    Seq("point", "bulk").foreach(w => run(spark, w, Paths.get(outDir, s"$w.tsv")))
    spark.stop()
  }
}
