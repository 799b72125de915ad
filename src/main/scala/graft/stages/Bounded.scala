package graft.stages

import org.apache.spark.sql.Dataset

/** The driver fast paths' size guard. */
object Bounded {

  /** All rows of `ds` when it has at most `bound` of them, else None. The
    * guard is folded into the collect (limit N+1, check the length): one
    * job, where a count() followed by a collect() would materialize a lazy
    * `ds` twice. */
  def collect[T](ds: Dataset[T], bound: Long): Option[Array[T]] = {
    val rows = ds.limit(math.min(bound, Int.MaxValue - 2L).toInt + 1).collect()
    Option.when(rows.length <= bound)(rows)
  }
}
