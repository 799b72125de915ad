package graft.core

import graft.core.Materialize._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The semi-naive frontier closure behind every visited-set walk: the KB
  * crawl (cndbpedia/AbstractSubjectGraph.kt:17–46, [[graft.stages.KbExpand]]),
  * the repost subtree ([[graft.stages.TreeGraph]]) and the tree labels
  * ([[graft.stages.TreeAnalytics]]). Each is a seed plus a step; this is the
  * one loop, and the one place its lineage is cut.
  */
object Frontier {
  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Levels between re-materializations of the accumulated union: only the
    * per-level frontier is cut every level, and the union of those
    * materialized levels is folded every `FoldEvery` levels just to bound
    * its fan-in in the anti-join plan (TreeAnalyticsSpec's 200-level chain
    * pins this). Cutting the whole union every level would be
    * O(depth × nodes) writes. */
  private val FoldEvery = 8

  /** Level 0 is `seed`; level r+1 is `step(level r)` minus every row whose
    * `key` an earlier level already holds. Stops at the first empty level,
    * or after `maxSteps` steps (levels 0..maxSteps); a stop at the cap with
    * a non-empty last level logs a WARN that the closure may be incomplete.
    * Each level costs one [[Materialize.cut]] and one emptiness test. `step`
    * returns rows with `seed`'s column names.
    * @return the union of all levels (`seed`'s columns) */
  def closure(seed: DataFrame, key: String, maxSteps: Int)
             (step: DataFrame => DataFrame): DataFrame = {
    val cols = seed.columns.toIndexedSeq.map(col)
    var level = seed.cut()
    var all = level
    var unfolded = 0
    var steps = 0
    var growing = true
    while (growing && steps < maxSteps) {
      val next = step(level)
        .join(all.select(col(key)), Seq(key), "left_anti")
        .select(cols: _*) // a using-join puts the key first
        .cut()
      if (next.isEmpty) growing = false
      else {
        all = all.union(next)
        unfolded += 1
        if (unfolded >= FoldEvery) { all = all.cut(); unfolded = 0 }
        level = next
        steps += 1
      }
    }
    if (growing && steps > 0)
      log.warn(s"frontier closure on '$key' stopped at its cap of $maxSteps steps " +
        "with a non-empty last level; the closure may be incomplete")
    all
  }
}
