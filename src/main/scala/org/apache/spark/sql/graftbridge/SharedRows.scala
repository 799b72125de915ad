package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, classic}
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.storage.StorageLevel

/** One evaluation of a plan, shared by every consumer of its rows.
  *
  * The plan is executed once, inside its own SQL execution (so its jobs and
  * SQL metrics belong to it), and its row RDD is persisted MEMORY_AND_DISK
  * and re-wrapped as a `LogicalRDD`. Unlike `Dataset.persist` nothing is
  * registered with the CacheManager: the blocks are reaped by the
  * ContextCleaner once the returned frame and everything built on it are
  * unreachable. Unlike `localCheckpoint` the lineage is kept: a lost block
  * is recomputed from the original plan. With AQE on, the plan's shuffle
  * map stages run here; the final stage runs on first use. `LogicalRDD` is
  * `private[sql]`, hence the bridge package. */
object SharedRows {
  def apply(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val qe = ds.queryExecution
    val rdd = SQLExecution.withNewExecutionId(qe, Some("shared rows")) {
      qe.executedPlan.execute().map(_.copy())
    }.persist(StorageLevel.MEMORY_AND_DISK)
    classic.Dataset.ofRows(ds.sparkSession,
      LogicalRDD.fromDataset(rdd, ds, ds.isStreaming))
  }
}
