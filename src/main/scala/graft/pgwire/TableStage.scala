package graft.pgwire

import java.nio.file.{AtomicMoveNotSupportedException, Files, Path, Paths}
import java.nio.file.StandardCopyOption.ATOMIC_MOVE
import scala.concurrent.Await
import scala.concurrent.duration._
import scala.util.control.NonFatal
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TableOutputResolver
import org.apache.spark.sql.catalyst.catalog.{CatalogTable, CatalogTableType}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions.count
import org.apache.spark.sql.graftshim.DatasetShim
import org.apache.spark.sql.types.StructType

/** Table rewrites that write each new state once.
  *
  * Every statement that replaces a table's rows (UPDATE, DELETE, their
  * FK actions, MERGE, REFRESH MATERIALIZED VIEW, the ALTER TABLE
  * rewrite) writes the new state with one job into a fresh hidden
  * directory of the warehouse, `.graft_stage/<id>/w<i>`, cast by
  * position to the table's catalog schema exactly as `insertInto`
  * casts. Writing outside the table's own directory is what lets a
  * plan that reads the table write its next state. Once every stage of
  * the statement is written, each table's directory is renamed aside
  * and its stage renamed into its place (one filesystem, so each
  * rename is atomic), and the table's file index is refreshed. The
  * stage directory, old files included, is deleted however the
  * statement ends, so a failed write leaves every table as it was.
  *
  * The table's location never changes, so [[TxnJournal]]'s hardlink
  * snapshots of it restore it as before. A table the swap cannot serve
  * (not parquet, partitioned or bucketed, not on the local filesystem,
  * or on another filesystem than the warehouse) is overwritten from
  * its stage by `insertInto`.
  */
private[pgwire] final class TableStage private (spark: SparkSession, root: Path) {
  private var stages = 0

  /** Write `df` into a new stage directory, cast by position to
    * `schema` when given. */
  def write(table: String, df: DataFrame, schema: Option[StructType]): Path = {
    stages += 1
    val dir = root.resolve(s"w$stages")
    schema.fold(df)(aligned(table, df, _)).write.parquet(dir.toUri.toString)
    dir
  }

  /** `df` as `insertInto` would write it into a table of `schema`:
    * columns matched by position, cast under the session's store
    * assignment policy, named and tagged as the table's fields. */
  private def aligned(table: String, df: DataFrame, schema: StructType): DataFrame =
    DatasetShim.ofRows(spark, TableOutputResolver.resolveOutputColumns(table,
      DataTypeUtils.toAttributes(schema), df.queryExecution.analyzed,
      byName = false, spark.sessionState.conf))

  /** Replace `table`'s contents with the stage in `dir`. */
  def swapIn(table: String, dir: Path): Unit = {
    val meta = TableStage.catalogTable(spark, table)
    val loc = meta.filter(TableStage.swappable).map(m => Paths.get(m.location))
    if (loc.exists(swapDir(_, dir, root.resolve(s"old_${dir.getFileName}")))) {
      // as insertInto: size statistics no longer hold for the new files
      meta.filter(_.stats.nonEmpty).foreach(m =>
        spark.sessionState.catalog.alterTableStats(m.identifier, None))
      spark.catalog.refreshTable(table)
    } else
      spark.read.parquet(dir.toUri.toString).write.mode("overwrite").insertInto(table)
  }

  /** Rename `loc` to `old` and `dir` to `loc`. False, with nothing
    * moved, when `loc` is on another filesystem than the stage. */
  private def swapDir(loc: Path, dir: Path, old: Path): Boolean = {
    if (Files.exists(loc))
      try Files.move(loc, old, ATOMIC_MOVE)
      catch { case _: AtomicMoveNotSupportedException => return false }
    try Files.move(dir, loc, ATOMIC_MOVE)
    catch {
      case e: Throwable =>
        if (Files.exists(old)) Files.move(old, loc, ATOMIC_MOVE)
        throw e
    }
    true
  }
}

private[pgwire] object TableStage {

  /** Run `body` over a fresh stage directory, deleted when it ends. */
  def apply[T](spark: SparkSession)(body: TableStage => T): T = {
    val root = TxnJournal.warehousePath(spark).resolve(".graft_stage")
      .resolve(java.util.UUID.randomUUID().toString.replace("-", ""))
    Files.createDirectories(root)
    try body(new TableStage(spark, root))
    finally TxnJournal.deleteTree(root)
  }

  /** Replace each table's contents with its new state: every state is
    * written before any table is swapped, so a failure while writing
    * any of them changes none. */
  def rewrite(spark: SparkSession, writes: Seq[(String, DataFrame)]): Unit =
    if (writes.nonEmpty) apply(spark) { stage =>
      writes.map { case (t, df) => t -> stage.write(t, df, catalogTable(spark, t).map(_.schema)) }
        .foreach { case (t, dir) => stage.swapIn(t, dir) }
    }

  /** `df` counting the rows where `rows` is not null in whichever job
    * runs it first, and a function that returns that count once the
    * job has run. Run `df` once, in the job whose count is wanted: a
    * job that reads it only in part (a LIMIT) would count that part.
    * The count arrives with the job's end event on Spark's listener
    * bus; the wait for it is bounded so a lost event cannot hang the
    * connection. */
  def counted(df: DataFrame, rows: Column): (DataFrame, () => Long) = {
    val obs = Observation()
    (df.observe(obs, count(rows).as("n")),
      () => Await.result(obs.future, 60.seconds).getLong(0))
  }

  /** The catalog entry of a table; None for temp views and unknown
    * names. */
  def catalogTable(spark: SparkSession, table: String): Option[CatalogTable] =
    try {
      val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
      val catalog = spark.sessionState.catalog
      if (catalog.isTempView(ident)) None else Some(catalog.getTableMetadata(ident))
    } catch { case NonFatal(_) => None }

  private def swappable(t: CatalogTable): Boolean =
    t.tableType != CatalogTableType.VIEW &&
      t.provider.exists(_.equalsIgnoreCase("parquet")) &&
      t.partitionColumnNames.isEmpty && t.bucketSpec.isEmpty &&
      t.storage.locationUri.exists(_.getScheme == "file")
}
