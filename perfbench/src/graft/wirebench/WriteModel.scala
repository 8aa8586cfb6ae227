package graft.wirebench

import scala.collection.mutable
import scala.util.Random

/** The client's model of the `write` workload's table. Every write the
  * load generator sends is applied here too (and undone on ROLLBACK),
  * so each read can be checked against what the client itself wrote:
  * read-your-writes inside and across transactions.
  */
object WriteModel {
  private final case class Item(grp: Int, v: Long, note: String)

  /** A checked statement: SQL, expected tag (writes) or expected
    * (rows, checksum) (reads). */
  final case class Step(sql: String, kind: Kind, tag: String, rows: Long, sum: Long)
}

final class WriteModel {
  import WriteModel._
  private var rows = mutable.LinkedHashMap.empty[Long, Item]
  private var ids = mutable.ArrayBuffer.empty[Long]
  private var saved: Option[(mutable.LinkedHashMap[Long, Item], mutable.ArrayBuffer[Long])] = None
  private var nextId = 1000000L

  val initialRows = 1000
  (0 until initialRows).foreach { i =>
    put(i.toLong, Item(i % 10, (i * 7919L) % 100000, s"n$i"))
  }

  private def put(id: Long, it: Item): Unit = {
    if (!rows.contains(id)) ids += id
    rows(id) = it
  }

  private def remove(id: Long): Unit = {
    rows.remove(id)
    val i = ids.indexOf(id)
    ids(i) = ids.last
    ids.remove(ids.length - 1)
  }

  def createSql: Seq[String] = Seq(
    s"DROP TABLE IF EXISTS ${Workloads.writeTable}",
    s"CREATE TABLE ${Workloads.writeTable} (id BIGINT, grp INT, v BIGINT, note TEXT)",
    s"INSERT INTO ${Workloads.writeTable} VALUES " + rows.map { case (id, it) =>
      s"($id, ${it.grp}, ${it.v}, '${it.note}')"
    }.mkString(", "))

  private def rowSum(id: Long, it: Item): Long =
    Checksum.text(id.toString, it.grp.toString, it.v.toString, it.note)

  /** Checksum of the whole table as `SELECT id, grp, v, note` returns it. */
  def tableSum: Long = rows.iterator.map { case (id, it) => rowSum(id, it) }.sum
  def size: Int = rows.size

  private def readRow(id: Long): Step = {
    val sql = s"SELECT id, grp, v, note FROM ${Workloads.writeTable} WHERE id = $id"
    rows.get(id) match {
      case Some(it) => Step(sql, Read, null, 1, rowSum(id, it))
      case None => Step(sql, Read, null, 0, 0L)
    }
  }

  private def readAgg(): Step =
    Step(s"SELECT count(*) AS n, sum(v) AS s FROM ${Workloads.writeTable}", Read, null, 1,
      Checksum.text(rows.size.toString, rows.valuesIterator.map(_.v).sum.toString))

  private def readGroups(): Step = {
    val groups = rows.valuesIterator.toSeq.groupBy(_.grp)
    Step(s"SELECT grp, count(*) AS n, sum(v) AS s FROM ${Workloads.writeTable} GROUP BY grp",
      Read, null, groups.size,
      groups.iterator.map { case (g, its) =>
        Checksum.text(g.toString, its.size.toString, its.map(_.v).sum.toString)
      }.sum)
  }

  private def insert(rng: Random): (Step, Long) = {
    val id = nextId
    nextId += 1
    val it = Item(rng.nextInt(10), rng.nextInt(100000).toLong, s"w$id")
    put(id, it)
    (Step(s"INSERT INTO ${Workloads.writeTable} VALUES ($id, ${it.grp}, ${it.v}, '${it.note}')",
      Write, "INSERT 0 1", 0, 0), id)
  }

  private def update(rng: Random): (Step, Long) = {
    val id = ids(rng.nextInt(ids.length))
    val d = 1 + rng.nextInt(999)
    rows(id) = rows(id).copy(v = rows(id).v + d)
    (Step(s"UPDATE ${Workloads.writeTable} SET v = v + $d WHERE id = $id", Write, "UPDATE 1", 0, 0), id)
  }

  private def delete(rng: Random): (Step, Long) = {
    val id = ids(rng.nextInt(ids.length))
    remove(id)
    (Step(s"DELETE FROM ${Workloads.writeTable} WHERE id = $id", Write, "DELETE 1", 0, 0), id)
  }

  private def begin(): Step = {
    saved = Some((rows.clone(), ids.clone()))
    Step("BEGIN", Write, "BEGIN", 0, 0)
  }

  private def commit(): Step = { saved = None; Step("COMMIT", Write, "COMMIT", 0, 0) }

  private def rollback(): Step = {
    saved.foreach { case (r, i) => rows = r; ids = i }
    saved = None
    Step("ROLLBACK", Write, "ROLLBACK", 0, 0)
  }

  /** One cycle: an autocommit run, a committed block and a rolled-back
    * block of INSERT/UPDATE/DELETE, each write followed by a read of the
    * table. Kept inserts equal kept deletes, so the table size holds
    * steady. UPDATE and DELETE rewrite the whole table and outnumber the
    * other writes, so the write median is one of them. A step's
    * expectation is computed when the step is generated, i.e. after the
    * model applied every earlier step. */
  def cycle(rng: Random): Iterator[() => Step] = {
    def w(f: => (Step, Long)): Seq[() => Step] = {
      var id = 0L
      Seq(() => { val (s, i) = f; id = i; s }, () => readRow(id))
    }
    def t(f: => Step, read: () => Step): Seq[() => Step] = Seq(() => f, read)
    def upd: Seq[() => Step] = t(update(rng)._1, () => readAgg())
    (w(insert(rng)) ++ upd ++ w(delete(rng)) ++ upd ++
      t(begin(), () => readGroups()) ++ w(insert(rng)) ++ upd ++ w(delete(rng)) ++ upd ++
      t(commit(), () => readGroups()) ++
      t(begin(), () => readAgg()) ++ w(delete(rng)) ++ upd ++
      t(rollback(), () => readGroups())).iterator
  }
}
