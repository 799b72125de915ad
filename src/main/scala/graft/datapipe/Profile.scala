package graft.datapipe

import graft.core.Materialize._
import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._

/** Lake profiling diagnostics — the reports read BEFORE picking a join or
  * partitioning strategy at 100 TB: which keys are hot (salting / AQE
  * skew-join candidates), and what each column's null/distinct shape is
  * (broadcast-ability, bucketing keys, dead columns).
  */
object Profile {

  /** Top-k hottest values of a prospective join/groupBy key with their
    * corpus share. Plans as a two-phase count + `TakeOrderedAndProject`
    * (plan-pinned on [[hotKeysOf]]) — the global top-k never materializes a
    * full sort; ties broken by key so the report is deterministic.
    *
    * ONE upstream pass: `hotKeys` is called on arbitrary frames (filtered /
    * joined / derived, not just scans), so the denominator must not be a
    * second `df.count()` execution of the upstream plan. The reduced
    * (key, n) counts are scoped, the total read off them with a tiny
    * aggregate, and the k-row report cut before they are released. */
  def hotKeys(df: DataFrame, keyCol: String, k: Int = 10): DataFrame =
    scoped(df.groupBy(col(keyCol).as("key"))
        .agg(count(lit(1)).as("n"))) { counts =>
      val r = counts.agg(sum(col("n"))).collect()(0)
      val total = (if (r.isNullAt(0)) 0L else r.getLong(0)).toDouble
      hotKeysOf(counts, total, k).cut()
    }

  /** The lazy top-k report over already-reduced (key, n) counts — the plan
    * the no-global-sort pin inspects. */
  private[graft] def hotKeysOf(counts: DataFrame, total: Double,
                               k: Int): DataFrame =
    counts.orderBy(col("n").desc, col("key"))
      .limit(k)
      .select(col("key"), col("n"),
        round(col("n").cast("double") / total, 6).as("share"))

  /** Per-column profile in long form: (column, n_rows, n_null,
    * n_distinct). One unpivot (values carried as strings) and one
    * two-phase aggregate keyed by column name — #cols keys, trivially
    * balanced. Exact distinct counts are the oracle-checkable form used
    * here; at lake scale swap `countDistinct` for
    * `approx_count_distinct` (same plan shape, sketch exchange). */
  def columnProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    val entries: Seq[Column] = cols.map(c =>
      struct(lit(c).as("col_name"), col(c).cast("string").as("v")))
    df.select(explode(array(entries: _*)).as("e"))
      .select(col("e.col_name").as("col_name"), col("e.v").as("v"))
      .groupBy("col_name")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_null"),
        countDistinct(col("v")).as("n_distinct"))
  }

  /** The lake-scale form of [[columnProfile]]: HyperLogLog++ sketches
    * (`approx_count_distinct`, rsd 2%) instead of exact distincts. The
    * exact form plans an Expand (one duplicated stream per distinct
    * aggregate) plus a second aggregate over the expanded keys — at 100 TB
    * that is a corpus-width exchange of every profiled VALUE; the sketch
    * form is one aggregate whose exchange carries #cols fixed-size HLL
    * buffers (plan-pinned in PlanSpec: no Expand, single agg pair). */
  def columnProfileApprox(df: DataFrame, cols: Seq[String]): DataFrame = {
    val entries: Seq[Column] = cols.map(c =>
      struct(lit(c).as("col_name"), col(c).cast("string").as("v")))
    df.select(explode(array(entries: _*)).as("e"))
      .select(col("e.col_name").as("col_name"), col("e.v").as("v"))
      .groupBy("col_name")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_null"),
        approx_count_distinct(col("v"), 0.02).as("n_distinct_approx"))
  }
}
