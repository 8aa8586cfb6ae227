package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSparkSession}

/** The one `private[sql]` doorway the engine needs: rebuilding a
  * DataFrame from a transformed LOGICAL plan (Handlers' output-typing
  * Project). Lives under `org.apache.spark.sql` solely for
  * the access scope — no Spark internals are modified.
  */
object DatasetShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSparkSession], plan)
}
