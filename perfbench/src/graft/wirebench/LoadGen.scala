package graft.wirebench

import java.io.{BufferedReader, ByteArrayInputStream, ByteArrayOutputStream, InputStreamReader, PrintWriter}
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

/** The load generator: one process, `conns` closed-loop connections
  * (each sends its next request only after the previous ReadyForQuery),
  * seeded by argument. Driven over stdin/stdout by run.py (fields
  * separated by tabs):
  *
  *   <- WB HELLO             JVM up
  *   -> PORT <port>          connect, create state, warm up
  *   <- WB WARM              warm-up done (set-up ends here)
  *   -> GO <expect file> <seconds> <replay file> <trace 0|1>
  *   <- WB RESULT <json>     after the timed loop
  */
object LoadGen {

  final case class Sample(tid: String, kind: Kind, format: Int, latNs: Long, firstNs: Long,
      rows: Long, ok: Boolean, sql: String)

  private val out = new PrintWriter(System.out, true)
  private def say(s: String): Unit = out.println("WB " + s)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val conns = opts("conns").toInt
    val stdin = new BufferedReader(new InputStreamReader(System.in))
    say("HELLO")
    val port = stdin.readLine().split("\t")(1).toInt
    val gen = new LoadGen(workload, seed, conns, port)
    gen.warmUp()
    say("WARM")
    val go = stdin.readLine().split("\t")
    val result = gen.timed(Paths.get(go(1)), go(2).toDouble, Paths.get(go(3)), go(4) == "1")
    say("RESULT " + result)
    gen.close()
  }

  def percentile(sorted: Array[Long], p: Double): Long =
    sorted(math.max(0, math.ceil(p / 100 * sorted.length).toInt - 1))

  /** The highest of these percentiles with at least ten samples beyond
    * it; the median when there are fewer than twenty samples. The grid
    * is coarse so that small changes in a run's sample count rarely
    * change the percentile. */
  def tailPercentile(n: Int): Double =
    Seq(99.0, 90.0, 75.0, 50.0).find(p => n * (1 - p / 100) >= 10).getOrElse(50.0)

  /** Drain a recorded response stream in memory, the way the timed loop
    * drains the socket; returns (ns, rows, checksum). */
  def drainRecorded(bytes: Array[Byte]): (Long, Long, Long) = {
    val r = new MsgReader(new ByteArrayInputStream(bytes))
    val o = new Outcome
    val t0 = System.nanoTime()
    Drain.untilReady(r, o)
    (System.nanoTime() - t0, o.rows, o.sum)
  }
}

final class LoadGen(workload: String, seed: Long, nConns: Int, port: Int) {
  import LoadGen._

  private val pools = Workloads.pools(workload, seed)
  private val conns = (0 until nConns).map(_ => new PgConn(port, "postgres"))
  /** The `write` workload's table, as its one connection wrote it. */
  private val model = new WriteModel
  private val rngs = conns.indices.map(i => new Random(seed * 1000003L + i))
  private var expect = Map.empty[(String, String, Int), (Long, Long)]
  /** Raw bytes of one 600k-row binary response, for the drain self-test. */
  @volatile private var recorded: Array[Byte] = null

  /** Audit rows each connection has appended (point). */
  private val seqs = conns.indices.map(_ => new AtomicLong)

  /** Templates connection i runs as named prepared statements. */
  private def prepared(i: Int): Seq[Template] = workload match {
    case "point" => Workloads.pointReads :+ Workloads.audit(i)
    case "bulk" => Seq(Workloads.bulkAll, Workloads.bulkRange, Workloads.Begin, Workloads.Commit)
    case _ => Nil
  }

  private def simple(c: PgConn, sql: String): Outcome = {
    c.query(sql); c.flush()
    val o = new Outcome
    Drain.untilReady(c.reader, o, keepFirst = true)
    o
  }

  private def mustSucceed(c: PgConn, sql: String): Outcome = {
    val o = simple(c, sql)
    if (o.error != null) throw new IllegalStateException(s"$sql: ${o.error}")
    o
  }

  private def setUp(): Unit = {
    conns.zipWithIndex.foreach { case (c, i) =>
      if (workload == "point") {
        mustSucceed(c, s"DROP TABLE IF EXISTS ${Workloads.auditTable(i)}")
        mustSucceed(c, s"CREATE TABLE ${Workloads.auditTable(i)} (seq BIGINT, note TEXT)")
      }
      if (prepared(i).nonEmpty) {
        prepared(i).foreach(t => c.parse(t.id, t.sql))
        c.sync(); c.flush()
        val o = new Outcome
        Drain.untilReady(c.reader, o)
        if (o.error != null) throw new IllegalStateException(s"Parse failed: ${o.error}")
      }
    }
    if (workload == "write") model.createSql.foreach(mustSucceed(conns.head, _))
  }

  /** One request, timed from the first byte sent to ReadyForQuery. */
  private def run(c: PgConn, r: Req, o: Outcome): Long = {
    o.reset()
    if (r.extended) { c.bindExecute(r.t.id, r.params, r.format); c.sync() }
    else c.query(r.boundSql)
    val t0 = c.flush()
    Drain.untilReady(c.reader, o)
    t0
  }

  private def check(r: Req, o: Outcome): Boolean =
    if (o.error != null) false
    else r.t.kind match {
      case Write => o.tag == r.t.expectedTag
      case Read => expect.get((r.t.id, r.key, r.format)) match {
        case Some((rows, sum)) => o.rows == rows && o.sum == sum
        case None => r.t.keyed && o.rows == 0 // keys with no rows have no line
      }
    }

  /** Run one cycle on connection i; `sink` sees every finished sample. */
  private def cycle(i: Int, sink: Sample => Unit): Unit = {
    val c = conns(i)
    val o = new Outcome
    if (workload == "write") {
      model.cycle(rngs(i)).foreach { next =>
        val s = next()
        o.reset()
        c.query(s.sql)
        val t0 = c.flush()
        Drain.untilReady(c.reader, o)
        val t1 = System.nanoTime()
        val ok = o.error == null && (s.kind match {
          case Write => o.tag == s.tag
          case Read => o.rows == s.rows && o.sum == s.sum
        })
        if (!ok) System.err.println(s"[wirebench] mismatch on ${s.sql}: ${o.error} tag=${o.tag} rows=${o.rows}")
        sink(Sample(s.sql.takeWhile(_ != ' '), s.kind, 0, t1 - t0,
          if (o.rows > 0) o.firstRowNs - t0 else -1, o.rows, ok, s.sql))
      }
    } else {
      Workloads.cycle(workload, pools, rngs(i), i, () => seqs(i).incrementAndGet()).foreach { r =>
        val t0 = run(c, r, o)
        val t1 = System.nanoTime()
        val ok = check(r, o)
        if (!ok && expect.nonEmpty)
          System.err.println(s"[wirebench] mismatch on ${r.t.id}(${r.key}) fmt ${r.format}: " +
            s"${o.error} rows=${o.rows}")
        sink(Sample(r.t.id, r.t.kind, r.format, t1 - t0,
          if (o.rows > 0) o.firstRowNs - t0 else -1, o.rows, ok, r.boundSql))
      }
    }
  }

  /** Run body(0 until n) on n threads; rethrows the first failure. */
  private def parallel(n: Int)(body: Int => Unit): Unit = {
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = (0 until n).map { i =>
      val t = new Thread(() => try body(i) catch { case e: Throwable => errors.add(e) })
      t.start(); t
    }
    ts.foreach(_.join())
    if (!errors.isEmpty) throw errors.peek()
  }

  /** Fixed warm-up (see [[Workloads.warmUp]]); `write` creates its
    * table and runs the autocommit part of a cycle. The warm-up's 600k
    * binary response is recorded for the drain self-test. */
  def warmUp(): Unit = {
    setUp()
    if (workload == "write") {
      model.cycle(rngs.head).take(8).foreach(next => simple(conns.head, next().sql))
      return
    }
    parallel(conns.length) { i =>
      val c = conns(i)
      val o = new Outcome
      Workloads.warmUp(workload, pools, rngs(i), i, () => seqs(i).incrementAndGet()).foreach { r =>
        val rec = workload == "bulk" && r.t == Workloads.bulkAll
        if (rec) c.reader.record = new ByteArrayOutputStream(1 << 26)
        run(c, r, o)
        if (rec) { recorded = c.reader.record.toByteArray; c.reader.record = null }
        if (o.error != null) throw new IllegalStateException(s"warm-up ${r.t.id}: ${o.error}")
      }
      // bulk's writes are sub-millisecond transaction control: run it
      // often enough to be compiled before timing
      if (workload == "bulk") (0 until 100).foreach { k =>
        Seq(Workloads.Begin, Workloads.Commit).foreach(t => run(c, Req(t, Nil, 0, k % 2 == 0), o))
      }
    }
  }

  /** Expectations of the keys this run can draw. */
  private def loadExpect(path: java.nio.file.Path): Unit = {
    val wanted = pools.map { case (t, p) => t -> p.map(_.mkString("|")).toSet }
    val m = mutable.Map.empty[(String, String, Int), (Long, Long)]
    Files.lines(path).forEach { line =>
      val f = line.split("\t", -1)
      if (wanted.get(f(0)).forall(_.contains(f(1)))) {
        m((f(0), f(1), 0)) = (f(2).toLong, f(3).toLong)
        if (f(4).nonEmpty) m((f(0), f(1), 1)) = (f(2).toLong, f(4).toLong)
      }
    }
    expect = m.toMap
  }

  def timed(expectFile: java.nio.file.Path, seconds: Double, replayFile: java.nio.file.Path,
      traced: Boolean): String = {
    loadExpect(expectFile)
    var setupChecks = 0
    var setupFailed = 0
    if (workload == "write") {
      // the model must describe the server's table before the run
      setupChecks = 1
      val (rows, sum) = expect(("write_table", "", 0))
      if (rows != model.size || sum != model.tableSum) {
        setupFailed = 1
        System.err.println(s"[wirebench] write model differs from server: $rows rows")
      }
    }
    val reset = simple(conns.head, "SELECT pg_stat_statements_reset()")
    if (reset.error != null) throw new IllegalStateException(reset.error)

    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val perConn = conns.indices.map(_ => mutable.ArrayBuffer.empty[Sample])
    val replayCut = conns.indices.map(_ => new AtomicLong(0))
    val cpu0 = os.getProcessCpuTime
    val cycles = math.max(1, math.round(seconds / Workloads.cycleSeconds(workload)).toInt)
    val t0 = System.nanoTime()
    parallel(conns.length) { i =>
      try {
        (0 until cycles).foreach { k =>
          cycle(i, perConn(i) += _)
          if (k == 0) replayCut(i).set(perConn(i).length)
        }
      } catch {
        case e: java.io.IOException => // a dropped connection: one failure, and it is done
          System.err.println(s"[wirebench] connection $i dropped: $e")
          perConn(i) += Sample("dropped", Read, 0, 0, -1, 0, ok = false, "")
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpuMs = (os.getProcessCpuTime - cpu0) / 1e6

    // read-your-writes on the audit tables: every appended row is there
    val auditFailed = if (workload != "point") 0 else conns.indices.count { i =>
      val ok = try {
        val o = simple(conns(i), s"SELECT count(*) FROM ${Workloads.auditTable(i)}")
        if (o.error != null || o.firstField != seqs(i).get.toString)
          System.err.println(s"[wirebench] audit table $i: ${o.error} ${o.firstField} rows")
        o.error == null && o.firstField == seqs(i).get.toString
      } catch { case _: java.io.IOException => false }
      !ok
    }
    val auditChecks = if (workload == "point") conns.length else 0

    val all = perConn.flatten
    val answered = all.filter(_.tid != "dropped")
    val reads = answered.filter(_.kind == Read)
    val writes = answered.filter(_.kind == Write)
    def ms(ns: Long): Double = ns / 1e6
    def sortedLat(s: Seq[Sample]): Array[Long] = s.map(_.latNs).toArray.sorted
    val readLat = sortedLat(reads)
    val writeLat = sortedLat(writes)
    val firsts = reads.filter(_.firstNs >= 0).map(_.firstNs).toArray.sorted
    val readTailP = tailPercentile(readLat.length)
    val writeTailP = tailPercentile(writeLat.length)
    val totalLatMs = all.map(_.latNs).sum / 1e6

    // pg_stat_statements' view of the same statements (traced runs only)
    val attributed = if (!traced) -1.0 else {
      val stat = simple(conns.head, "SELECT sum(total_exec_time) FROM pg_stat_statements")
      if (stat.error != null || stat.firstField == null)
        throw new IllegalStateException(s"pg_stat_statements: ${stat.error}")
      stat.firstField.toDouble / totalLatMs
    }

    // statements of connection 0's first cycle, for the traced replay
    val replay = perConn.head.take(replayCut.head.get.toInt)
    Files.write(replayFile, replay.map { s =>
      Seq(s.tid, s.kind.toString, s.format.toString, (s.latNs / 1e6).toString,
        s.sql.replaceAll("[\\t\\r\\n]+", " ")).mkString("\t")
    }.asJava)

    val byTemplate = all.groupBy(s => s"${s.tid}/${s.format}").map { case (k, v) =>
      k -> f""""$k": {"n": ${v.length}, "p50_ms": ${ms(percentile(sortedLat(v), 50))}%.4f}"""
    }.toSeq.sorted.map(_._2).mkString("{", ", ", "}")

    // drain self-test: the count-only reader against a recorded 600k-row stream
    val selftest = if (recorded == null) "null" else {
      val runs = (0 until 3).map(_ => drainRecorded(recorded))
      val best = runs.map(_._1).min
      val served = all.filter(s => s.tid == "bulk_600k" && s.format == 1)
      val servedMs = ms(percentile(sortedLat(served), 50))
      val exp = expect(("bulk_600k", "", 1))
      val ok = runs.forall(r => r._2 == exp._1 && r._3 == exp._2) && servedMs / ms(best) >= 5
      f"""{"bytes": ${recorded.length}, "rows": ${runs.head._2}, "drain_ms": ${ms(best)}%.3f, """ +
        f""""served_ms": $servedMs%.3f, "ok": $ok}"""
    }
    val selftestChecks = if (recorded == null) 0 else 1
    val selftestFailed = if (selftest.contains("\"ok\": false")) 1 else 0
    val attempted = all.length + setupChecks + auditChecks + selftestChecks
    val failed = all.count(!_.ok) + setupFailed + auditFailed + selftestFailed

    val m = Seq(
      "read_p50_ms" -> ms(percentile(readLat, 50)),
      "read_tail_ms" -> ms(percentile(readLat, readTailP)),
      "first_row_p50_ms" -> (if (firsts.isEmpty) -1.0 else ms(percentile(firsts, 50))),
      "write_p50_ms" -> (if (writeLat.isEmpty) -1.0 else ms(percentile(writeLat, 50))),
      "write_tail_ms" -> (if (writeLat.isEmpty) -1.0 else ms(percentile(writeLat, writeTailP))),
      "stmts_per_s" -> all.length / wall,
      "rows_per_s" -> all.map(_.rows).sum / wall,
      "failed_ratio" -> failed.toDouble / attempted,
      "client_cpu_ms_per_stmt" -> cpuMs / all.length,
      "attributed_share" -> attributed)
    m.map { case (k, v) => f""""$k": $v%.6f""" }.mkString("{", ", ",
      f""", "attempted": $attempted, "failed": $failed, """ +
        f""""wall_s": $wall%.3f, "read_n": ${readLat.length}, "read_tail_pct": $readTailP, """ +
        f""""write_n": ${writeLat.length}, "write_tail_pct": $writeTailP, """ +
        s""""templates": $byTemplate, "selftest": $selftest}""")
  }

  def close(): Unit = conns.foreach(_.close())
}
