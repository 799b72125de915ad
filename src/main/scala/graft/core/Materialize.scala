package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.storage.StorageLevel

/** The one place a storage mechanism is named. Every materialization is
  * one of three classes, so surviving executor loss is one policy per
  * class: a [[cut]] may be recomputed from lineage, a [[pin]] may not.
  */
object Materialize {

  /** Recomputing the rows would be correct, only slower (an iteration's
    * level, a frame several readers share): `localCheckpoint`. A frame
    * whose optimized plan already is a `LocalRelation` (a driver fast
    * path's rows) comes back unchanged — checkpointing it only adds a job. */
  def cut(df: DataFrame): DataFrame =
    if (df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]) df
    else df.localCheckpoint()

  /** The rows must never be recomputed, because an input changes after this
    * point (a store the caller appends to, a table that grows):
    * `localCheckpoint`. Never make this lineage-keeping — a recompute would
    * anti-join against the grown store or re-read the grown table. */
  def pin(df: DataFrame): DataFrame = df.localCheckpoint()

  /** `use` over `df` persisted `MEMORY_AND_DISK`, released when `use`
    * returns or throws. What `use` returns must not read the persisted
    * frame lazily: cut it inside the block. */
  def scoped[A](df: DataFrame)(use: DataFrame => A): A = {
    val held = df.persist(StorageLevel.MEMORY_AND_DISK)
    try use(held) finally release(held)
  }

  /** Ends a [[scoped]] persistence early, once its last reader has run. */
  private[graft] def release(df: DataFrame): Unit = df.unpersist(blocking = false)

  /** Chained spellings: `df.cut()`, `df.pin()`. */
  implicit class Ops(private val df: DataFrame) extends AnyVal {
    def cut(): DataFrame = Materialize.cut(df)
    def pin(): DataFrame = Materialize.pin(df)
  }
}
