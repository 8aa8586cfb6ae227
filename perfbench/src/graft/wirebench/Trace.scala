package graft.wirebench

import java.io.{DataOutputStream, OutputStream}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.pgwire.{Compat, Handlers, Messages, PgCatalog, PgServer, RowSet, Session}

/** Counts every job, stage and task the session runs. */
private object SparkCounts extends SparkListener {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  @volatile var installedOn: SparkSession = null

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.incrementAndGet()

  def snapshot(spark: SparkSession): (Long, Long, Long) = {
    org.apache.spark.graft.ListenerBusDrain.drain(spark.sparkContext, 2000)
    (jobs.get, stages.get, tasks.get)
  }
}

/** The traced run: replays statements the load generator sent (one
  * cycle of connection 0, with their wire latencies) through the public
  * functions the server calls for them, in-process, on a thread whose
  * job group is `pgwire-conn-…` as on a real connection. Each call is
  * timed as a span (name, start, end, parent, statement id); spans stay
  * in memory and are written at the end.
  */
object Trace {
  private final case class Span(id: Int, stmt: Int, name: String, start: Long, end: Long, parent: Int)
}

final class Trace(spark: SparkSession, server: PgServer) {
  import Trace.Span

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val threadMx = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
  private val chunk = 4096

  private def span[A](stmt: Int, parent: Int, name: String)(body: => A): (A, Long) = {
    val t0 = System.nanoTime()
    val a = body
    val t1 = System.nanoTime()
    spans += Span(spans.length + 1, stmt, name, t0, t1, parent)
    (a, t1 - t0)
  }

  private def warehouseFiles(): Map[String, (Long, Long)] = {
    val raw = spark.conf.get("spark.sql.warehouse.dir")
    val root = if (raw.startsWith("file:")) Paths.get(new java.net.URI(raw)) else Paths.get(raw)
    if (!Files.exists(root)) Map.empty
    else Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
      p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
    }.toMap
  }

  private object CountingSink extends OutputStream {
    var n = 0L
    override def write(b: Int): Unit = n += 1
    override def write(b: Array[Byte], off: Int, len: Int): Unit = n += len
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(s.length / 2) }
  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  def run(workload: String, replayFile: Path, jsonOut: Path, spanFile: Path): String = {
    if (SparkCounts.installedOn ne spark) {
      spark.sparkContext.addSparkListener(SparkCounts)
      SparkCounts.installedOn = spark
    }
    val templateSql = (Workloads.templates(workload) :+ Workloads.audit(0))
      .map(t => t.id -> t.sql).toMap
    val stmts = Files.readAllLines(replayFile).asScala.toSeq.map(_.split("\t", 5))
    val session = new Session(90000, "postgres", "postgres")
    val jobGroup = "pgwire-conn-90000"
    val enums = graft.functions.PgEnums.names(spark)
    val dout = new DataOutputStream(CountingSink)

    val rewriteUs, inferUs, refreshMs, runSqlMs, describeMs, optimizeMs, planMs, executeMs,
      firstRowMs, finishMs, unaccounted = mutable.ArrayBuffer.empty[Double]
    val jobsAll, stagesAll, tasksAll, writeBytes, writeJobs = mutable.ArrayBuffer.empty[Double]
    var rowsTotal, iterNs, textNs, textAlloc, binNs, binAlloc, frameNs, frameBytes = 0L

    stmts.zipWithIndex.foreach { case (f, id) =>
      val Array(tid, kind, format, wireMs, sql) = f
      val isRead = kind == "Read"
      val t0 = System.nanoTime()
      val root = spans.length + 1
      spans += Span(root, id, "stmt", t0, t0, 0) // end filled in below
      val tsql = templateSql.getOrElse(tid, sql)
      val nParams = "\\$(\\d+)".r.findAllMatchIn(tsql).map(_.group(1).toInt).maxOption.getOrElse(0)

      val (rewritten, rw) = span(id, root, "Compat.rewrite")(Compat.rewriteTop(sql, enums))
      rewriteUs += rw / 1e3
      inferUs += span(id, root, "Compat.inferParamOids")(Compat.inferParamOids(tsql, nParams))._2 / 1e3
      if (isRead) {
        val lower = rewritten.toLowerCase
        if (lower.contains("pg_") || lower.contains("information_schema"))
          refreshMs += span(id, root, "PgCatalog.refresh")(PgCatalog.refresh(spark))._2 / 1e6
        val (df, rs) = span(id, root, "Handlers.runSql")(Handlers.runSql(spark, sql))
        runSqlMs += rs / 1e6
        describeMs += span(id, root, "Handlers.describe")(Handlers.runSql(spark, sql).schema)._2 / 1e6
        optimizeMs += span(id, root, "Spark.optimize")(df.queryExecution.optimizedPlan)._2 / 1e6
        planMs += span(id, root, "Spark.plan")(df.queryExecution.executedPlan)._2 / 1e6
      }

      val before = if (isRead) Map.empty[String, (Long, Long)] else warehouseFiles()
      val (j0, s0, k0) = SparkCounts.snapshot(spark)
      var critical = 0L
      Handlers.withTimeout(spark, session, jobGroup) {
        val (res, ex) = span(id, root, "Handlers.execute")(
          Handlers.execute(spark, session, sql, Some(server.auth)))
        // transaction control never reaches Spark; it would swamp the median
        if (!Set("BEGIN", "COMMIT", "ROLLBACK").contains(sql.trim.toUpperCase)) executeMs += ex / 1e6
        critical += ex
        res match {
          case RowSet(schema, rows, tagFor, _) =>
            val (_, fr) = span(id, root, "Spark.first_row")(rows.hasNext)
            firstRowMs += fr / 1e6
            critical += fr
            var n = 0L
            val buf = new Array[Row](chunk)
            var more = true
            while (more) {
              val (k, it) = span(id, root, "Spark.iter") {
                var k = 0
                while (k < chunk && rows.hasNext) { buf(k) = rows.next(); k += 1 }
                k
              }
              iterNs += it
              critical += it
              n += k
              more = k == chunk
              val tid0 = Thread.currentThread().getId
              val a0 = threadMx.getThreadAllocatedBytes(tid0)
              val (text, te) = span(id, root, "TextEncoder")(
                (0 until k).map(i => Expect.textFields(buf(i), schema, 0)))
              val a1 = threadMx.getThreadAllocatedBytes(tid0)
              val (bin, be) = span(id, root, "BinaryEncoder")(
                (0 until k).map(i => Expect.binaryFields(buf(i), schema, 0)))
              val a2 = threadMx.getThreadAllocatedBytes(tid0)
              textNs += te; textAlloc += a1 - a0
              binNs += be; binAlloc += a2 - a1
              critical += (if (format == "1") be else te)
              val framed = if (format == "1") bin else text
              val b0 = CountingSink.n
              val (_, fm) = span(id, root, "Messages.dataRow")(framed.foreach(Messages.dataRow(dout, _)))
              frameNs += fm
              frameBytes += CountingSink.n - b0
              critical += fm
            }
            rowsTotal += n
            val (_, fin) = span(id, root, "PgStatStatements.finish")(tagFor(n))
            finishMs += fin / 1e6
            critical += fin
          case _ =>
        }
      }
      val (j1, s1, k1) = SparkCounts.snapshot(spark)
      jobsAll += (j1 - j0).toDouble
      stagesAll += (s1 - s0).toDouble
      tasksAll += (k1 - k0).toDouble
      if (!isRead) {
        val after = warehouseFiles()
        writeBytes += after.iterator.collect {
          case (p, (size, mtime)) if !before.get(p).contains((size, mtime)) => size
        }.sum.toDouble
        writeJobs += (j1 - j0).toDouble
      } else unaccounted += wireMs.toDouble - critical / 1e6
      val t1 = System.nanoTime()
      spans(root - 1) = spans(root - 1).copy(end = t1)
    }
    if (refreshMs.isEmpty) // no replayed statement reads the catalog: time one refresh alone
      refreshMs += span(-1, 0, "PgCatalog.refresh")(PgCatalog.refresh(spark))._2 / 1e6

    Files.write(spanFile, spans.map { s =>
      s"""{"span": ${s.id}, "stmt": ${s.stmt}, "name": "${s.name}", "start_ns": ${s.start}, """ +
        s""""end_ns": ${s.end}, "parent": ${if (s.parent == 0) "null" else s.parent.toString}}"""
    }.asJava)

    val rows = math.max(rowsTotal, 1L).toDouble
    val m = Seq(
      "Compat.rewrite_us" -> median(rewriteUs.toSeq),
      "Compat.infer_param_oids_us" -> median(inferUs.toSeq),
      "Handlers.execute_ms" -> median(executeMs.toSeq),
      "Handlers.runsql_ms" -> median(runSqlMs.toSeq),
      "Handlers.describe_ms" -> median(describeMs.toSeq),
      "PgCatalog.refresh_ms" -> median(refreshMs.toSeq),
      "Spark.optimize_ms" -> median(optimizeMs.toSeq),
      "Spark.plan_ms" -> median(planMs.toSeq),
      "Spark.first_row_ms" -> median(firstRowMs.toSeq),
      "Spark.iter_ns_per_row" -> iterNs / rows,
      "Spark.jobs_per_stmt" -> mean(jobsAll.toSeq),
      "Spark.stages_per_stmt" -> mean(stagesAll.toSeq),
      "Spark.tasks_per_stmt" -> mean(tasksAll.toSeq),
      "TextEncoder.ns_per_row" -> textNs / rows,
      "TextEncoder.alloc_bytes_per_row" -> textAlloc / rows,
      "BinaryEncoder.ns_per_row" -> binNs / rows,
      "BinaryEncoder.alloc_bytes_per_row" -> binAlloc / rows,
      "Messages.datarow_ns_per_row" -> frameNs / rows,
      "Messages.bytes_per_row" -> frameBytes / rows,
      "PgServer.unaccounted_ms" -> median(unaccounted.toSeq),
      "PgStatStatements.finish_ms" -> median(finishMs.toSeq),
      "write.bytes_written_per_stmt" -> mean(writeBytes.toSeq),
      "write.jobs_per_stmt" -> mean(writeJobs.toSeq))
    Files.write(jsonOut, java.util.List.of(m.map { case (k, v) => f""""$k": $v%.6f""" }
      .mkString("{", ", ", s""", "replayed": ${stmts.length}, "rows": $rowsTotal}""")))
    s"OK ${stmts.length}"
  }
}
