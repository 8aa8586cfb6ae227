package graft.wirebench

import scala.util.Random

/** How a statement counts: row-returning reads, or the write class
  * (INSERT/UPDATE/DELETE and transaction control). */
sealed trait Kind
case object Read extends Kind
case object Write extends Kind

/** One statement shape. `sql` carries `$n` placeholders; extended
  * requests bind them as text parameters, simple ones get literals.
  * `expect` is the Spark SQL that computes the expected results of every
  * possible key in one in-process query: its first column is the key
  * (`__k`, params joined by `|`) when the template has parameters, and
  * the rest are the columns the client receives. `binary` templates are
  * also read in binary format. A write's CommandComplete tag must equal
  * `tag` (by default the statement itself, as for BEGIN).
  */
final case class Template(
    id: String,
    sql: String,
    kind: Kind,
    expect: Option[String] = None,
    binary: Boolean = false,
    tag: String = null) {
  val keyed: Boolean = sql.contains("$1")
  def expectedTag: String = if (tag == null) sql else tag
}

/** One request: a template, its parameters, the result format (0 text,
  * 1 binary) and the protocol it goes out with. */
final case class Req(t: Template, params: Seq[String], format: Int, extended: Boolean) {
  def key: String = params.mkString("|")

  /** The statement with parameters substituted as literals, the text a
    * simple-protocol client sends. */
  def boundSql: String =
    params.zipWithIndex.reverse.foldLeft(t.sql) { case (s, (p, i)) =>
      val lit = if (p.matches("-?\\d+")) p else "'" + p.replace("'", "''") + "'"
      s.replace("$" + (i + 1), lit)
    }
}

/** The workloads' statement shapes, seeded key pools and cycles,
  * shared by the load generator, the expectation process and the
  * traced replay. */
object Workloads {
  val Begin: Template = Template("begin", "BEGIN", Write)
  val Commit: Template = Template("commit", "COMMIT", Write)

  // ---- point: pooled-client reads over the extended protocol ----------

  val select1: Template = Template("select1", "SELECT 1", Read, Some("SELECT 1"))

  val ordersPk: Template = Template("orders_pk",
    "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority " +
      "FROM orders WHERE o_orderkey = $1", Read,
    Some("SELECT CAST(o_orderkey AS STRING) AS __k, o_orderkey, o_custkey, o_orderstatus, " +
      "o_totalprice, o_orderdate, o_orderpriority FROM orders"))

  val customerPk: Template = Template("customer_pk",
    "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer WHERE c_custkey = $1",
    Read,
    Some("SELECT CAST(c_custkey AS STRING) AS __k, c_custkey, c_name, c_nationkey, c_acctbal, " +
      "c_mktsegment FROM customer"))

  val partPk: Template = Template("part_pk",
    "SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice FROM part WHERE p_partkey = $1",
    Read,
    Some("SELECT CAST(p_partkey AS STRING) AS __k, p_partkey, p_name, p_brand, p_type, p_size, " +
      "p_retailprice FROM part"))

  val custNation: Template = Template("customer_nation",
    "SELECT c.c_custkey, c.c_name, n.n_name FROM customer c JOIN nation n " +
      "ON c.c_nationkey = n.n_nationkey WHERE c.c_custkey = $1", Read,
    Some("SELECT CAST(c.c_custkey AS STRING) AS __k, c.c_custkey, c.c_name, n.n_name " +
      "FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey"))

  /** 32 consecutive orders, 128 lineitem rows aggregated. */
  val lineRange: Template = Template("lineitem_range",
    "SELECT count(*) AS n, CAST(sum(l_quantity) AS BIGINT) AS qty FROM lineitem " +
      "WHERE l_orderkey BETWEEN $1 AND $2", Read,
    Some("SELECT concat(CAST(b AS STRING), '|', CAST(b + 31 AS STRING)) AS __k, " +
      "count(*) AS n, CAST(sum(l_quantity) AS BIGINT) AS qty " +
      "FROM (SELECT l_orderkey DIV 32 * 32 AS b, l_quantity FROM lineitem) GROUP BY b"))

  val priorityPatterns: Seq[String] =
    Seq("urgent", "high", "medium", "not specified", "low").map("%" + _ + "%")

  /** pg dialect: `::` casts, date_trunc, ILIKE with a bound pattern.
    * One row whatever the key, so every point read returns one row. */
  val pgDialect: Template = Template("pg_dialect",
    "SELECT date_trunc('month', max(o_orderdate))::date AS last_month, count(*)::int AS n, " +
      "max(o_totalprice)::numeric(12,2) AS top FROM orders " +
      "WHERE o_custkey = $1 AND o_orderpriority ILIKE $2", Read,
    Some("SELECT concat(CAST(c.c_custkey AS STRING), '|', p.pat) AS __k, " +
      "CAST(date_trunc('month', max(o.o_orderdate)) AS DATE) AS last_month, " +
      "CAST(count(o.o_orderkey) AS INT) AS n, CAST(max(o.o_totalprice) AS DECIMAL(12,2)) AS top " +
      "FROM customer c CROSS JOIN (SELECT explode(array(" +
      priorityPatterns.map("'" + _ + "'").mkString(", ") + ")) AS pat) p " +
      "LEFT JOIN orders o ON o.o_custkey = c.c_custkey AND o.o_orderpriority ILIKE p.pat " +
      "GROUP BY c.c_custkey, p.pat"))

  /** pgjdbc's TypeInfoCache lookup of a type by OID. */
  val catalogType: Template = Template("catalog_type",
    "SELECT n.nspname = ANY(current_schemas(true)) AS visible, n.nspname, t.typname " +
      "FROM pg_catalog.pg_type t JOIN pg_catalog.pg_namespace n ON t.typnamespace = n.oid " +
      "WHERE t.oid = $1", Read,
    Some("SELECT CAST(t.oid AS STRING) AS __k, n.nspname IN ('pg_catalog', 'public') AS visible, " +
      "n.nspname, t.typname FROM pg_type t JOIN pg_namespace n ON t.typnamespace = n.oid"))

  val pointReads: Seq[Template] =
    Seq(select1, ordersPk, customerPk, partPk, custNation, lineRange, pgDialect, catalogType)

  /** Connection `conn`'s audit table: one appended row per point cycle. */
  def auditTable(conn: Int): String = s"wb_audit_$conn"
  def audit(conn: Int): Template =
    Template("audit", s"INSERT INTO ${auditTable(conn)} VALUES ($$1, $$2)", Write, tag = "INSERT 0 1")

  // ---- bulk: lineitem scans, text and binary ---------------------------

  val lineCols: String =
    "l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice, " +
      "l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate"

  val bulkAll: Template = Template("bulk_600k", s"SELECT $lineCols FROM lineitem", Read,
    Some(s"SELECT $lineCols FROM lineitem"), binary = true)

  /** 15000 consecutive orders: 60000 rows. */
  val bulkRange: Template = Template("bulk_60k",
    s"SELECT $lineCols FROM lineitem WHERE l_orderkey BETWEEN $$1 AND $$2", Read,
    Some("SELECT concat(CAST(b AS STRING), '|', CAST(b + 14999 AS STRING)) AS __k, " +
      s"$lineCols FROM (SELECT l_orderkey DIV 15000 * 15000 AS b, * FROM lineitem)"), binary = true)

  // ---- write: see WriteModel -------------------------------------------

  val writeTable = "wb_items"

  /** The whole `write` table, read in-process to check the client's
    * model before the timed run. */
  val writeTableRead: Template = Template("write_table", s"SELECT id, grp, v, note FROM $writeTable",
    Read, Some(s"SELECT id, grp, v, note FROM $writeTable"))

  /** Templates with in-process expectations; `write`'s reads are
    * checked against the client's model instead. */
  def templates(workload: String): Seq[Template] = workload match {
    case "point" => pointReads
    case "bulk" => Seq(bulkAll, bulkRange)
    case "write" => Seq(writeTableRead)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Seeded parameter pools the requests draw their keys from. */
  def pools(workload: String, seed: Long): Map[String, IndexedSeq[Seq[String]]] = {
    val rng = new Random(seed * 7919 + workload.hashCode)
    def ints(n: Int, bound: Int): IndexedSeq[Int] = IndexedSeq.fill(n)(rng.nextInt(bound))
    workload match {
      case "point" =>
        Map(
          "orders_pk" -> ints(1024, 150000).map(k => Seq(k.toString)),
          "customer_pk" -> ints(1024, 15000).map(k => Seq(k.toString)),
          "part_pk" -> ints(1024, 20000).map(k => Seq(k.toString)),
          "customer_nation" -> ints(1024, 15000).map(k => Seq(k.toString)),
          "lineitem_range" -> ints(512, 150000 / 32).map { b =>
            Seq((b * 32).toString, (b * 32 + 31).toString)
          },
          "pg_dialect" -> ints(512, 15000).map { c =>
            Seq(c.toString, priorityPatterns(rng.nextInt(priorityPatterns.length)))
          },
          "catalog_type" -> IndexedSeq(16, 20, 21, 23, 25, 700, 701, 1043, 1082, 1114, 1184, 1700)
            .map(o => Seq(o.toString)))
      case "bulk" =>
        Map("bulk_60k" -> (0 until 10).map(b => Seq((b * 15000).toString, (b * 15000 + 14999).toString)))
      case _ => Map.empty
    }
  }

  /** Nominal length of one cycle on a 4-core host. A run of S seconds
    * is round(S / this) whole cycles per connection: the amount of work,
    * and so every sample count and the tail percentile, is the same in
    * every run however fast that run goes. */
  def cycleSeconds(workload: String): Double = workload match {
    case "point" => 3.5
    case "bulk" => 7.0
    case "write" => 10.0
  }

  /** The fixed warm-up of connection `conn` before timing: two cycles
    * for `point`, so JIT compilation of the per-statement path is done
    * before timing; for `bulk` one 60k read per format and one 600k
    * binary read (the one the drain self-test records). */
  def warmUp(workload: String, pools: Map[String, IndexedSeq[Seq[String]]], rng: Random,
      conn: Int, seq: () => Long): Seq[Req] = workload match {
    case "bulk" =>
      val range = pools(bulkRange.id)
      Seq(Req(bulkRange, range(rng.nextInt(range.length)), 0, extended = false),
        Req(bulkRange, range(rng.nextInt(range.length)), 1, extended = true),
        Req(bulkAll, Nil, 1, extended = true))
    case _ => cycle(workload, pools, rng, conn, seq) ++ cycle(workload, pools, rng, conn, seq)
  }

  /** One cycle of connection `conn`: every template of the workload in a
    * seeded order, so each run's statement mix is the same whatever its
    * length.
    *  - point (pgjdbc/asyncpg in autocommit): the eight reads and one
    *    audit-row INSERT, whose sequence number `seq` hands out;
    *  - bulk (psycopg2 shape): each read its own transaction, BEGIN and
    *    COMMIT around it. */
  def cycle(workload: String, pools: Map[String, IndexedSeq[Seq[String]]], rng: Random,
      conn: Int, seq: () => Long): Seq[Req] = {
    def draw(t: Template): Seq[String] =
      pools.get(t.id).map(p => p(rng.nextInt(p.length))).getOrElse(Nil)
    workload match {
      case "point" =>
        val n = seq()
        rng.shuffle(pointReads.map(t => Req(t, draw(t), 0, extended = true)) :+
          Req(audit(conn), Seq(n.toString, s"r$n"), 0, extended = true))
      case "bulk" =>
        // the 600k read goes out in binary only: in text it alone would
        // outlast the rest of the cycle, and the 60k reads measure text
        // 3 text and 2 binary 60k reads: the read median falls among
        // the text reads, not on the edge between two kinds
        rng.shuffle(Req(bulkAll, Nil, 1, extended = true) +:
          (Seq.fill(3)(Req(bulkRange, draw(bulkRange), 0, extended = false)) ++
            Seq.fill(2)(Req(bulkRange, draw(bulkRange), 1, extended = true))))
          .flatMap(r => Seq(Req(Begin, Nil, 0, r.extended), r, Req(Commit, Nil, 0, r.extended)))
      case other => throw new IllegalArgumentException(s"no static cycle for $other")
    }
  }
}
