package graft.stages

import graft.core.Frontier
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stage 3 — entity linking + BFS triple expansion over the KB.
  *
  * Dataflow image of the reference crawl (cndbpedia/AbstractSubjectGraph.kt:
  * 17–46): startWithMention resolves mention→entities (ment2ent), skips the
  * visited set, emits every AV-pair of each new entity as a (subj, pred, obj)
  * triple, and recurses on rule-selected relations. Here the visited set is
  * a [[graft.core.Frontier.closure]] over entities, each level a fully
  * parallel DataFrame pass:
  *
  *   level entities ──join avpair──► filter(recursive pred) ──► mentions
  *     ──broadcast join ment2ent──► entities ──left_anti visited──► next level
  *
  * and the triples are `visited ⋈ avpair`, joined once at the end.
  *
  * The expansion works on DISTINCT mentions — at 100 TB the per-doc mention
  * stream is first reduced to its (much smaller) distinct set, so KB work is
  * O(|dictionary hits|), not O(|docs|). The visited set is a DataFrame
  * (left_anti), never driver memory; the closure cuts lineage each level
  * (`Materialize.cut`, SURVEY.md §4.2.1).
  */
object KbExpand {

  /** The driver BFS walk of the dimension-bounded KB closure — exactly the
    * reference's HashMap recursion (AbstractSubjectGraph.kt:17–46), run by
    * [[expand]]'s fast path.
    * @return visited entities, sorted (deterministic). */
  private def expandLocal(
      seedMentions: Iterable[String],
      m2e: Map[String, Seq[String]],
      av: Map[String, Array[(String, String, String)]],
      recursivePreds: Set[String]): Seq[String] = {
    val visited = scala.collection.mutable.HashSet[String]()
    val queue = scala.collection.mutable.Queue[String]()
    seedMentions.foreach(queue.enqueue)
    while (queue.nonEmpty) {
      val m = queue.dequeue()
      m2e.getOrElse(m, Nil).foreach { e =>
        if (!visited.contains(e)) {
          visited += e
          av.getOrElse(e, Array.empty).foreach { case (_, p, o) =>
            if (recursivePreds.contains(p)) queue.enqueue(o)
          }
        }
      }
    }
    visited.toSeq.sorted
  }

  /** Distinct (subj, pred, obj) triples of the visited entities — the local
    * image of `visited ⋈ avpair` (avpair complete by the threshold check). */
  private def triplesLocal(
      visited: Seq[String],
      av: Map[String, Array[(String, String, String)]]): Seq[(String, String, String)] =
    visited.iterator.flatMap(e => av.getOrElse(e, Array.empty)).toVector.distinct

  /** @param mentions  single-column DF `mention` (distinct seed mentions)
    * @param ment2ent  (mention, entities: array<string>) dimension
    * @param avpair    (entity, pred, obj) dimension
    * @param recursivePreds relations whose obj re-enters the frontier
    * @param maxRounds safety bound on the entity levels (reference recursion
    *                  is visited-bounded; our KB alias chains converge in
    *                  ≪ 20 levels)
    * @param driverThreshold driver fast-path bound on each dim (0: dataflow only)
    * @param m2eCollected the ment2ent dimension, already collected by the
    *                  caller; the fast path runs, and ment2ent is
    *                  force-broadcast, only when it is given. A caller that
    *                  found ment2ent over the bound passes None: dataflow,
    *                  with no driver collect of either dim
    * @return kb triples (subj, pred, obj) distinct
    */
  def expand(
      spark: SparkSession,
      mentions: DataFrame,
      ment2ent: DataFrame,
      avpair: DataFrame,
      recursivePreds: Set[String],
      maxRounds: Int = 20,
      driverThreshold: Long = 0L,
      m2eCollected: Option[Map[String, Seq[String]]] = None): DataFrame = {

    // The BFS closure is DIMENSION-bounded: it expands over the KB tables,
    // never over per-doc rows (the doc side is already reduced to distinct
    // mentions). When the KB fits the driver — the same condition under
    // which it is broadcast — computing the closure in-memory costs 2 jobs
    // instead of O(rounds); this is exactly the reference's HashMap walk
    // (AbstractSubjectGraph.kt:17–46). The dataflow closure below remains the
    // path for KBs beyond driver memory. The fast path needs the ment2ent
    // dictionary the caller already collected (`m2eCollected`, from
    // Mentions.seedMentions' limit-N+1 probe); avpair is then collected
    // under the same guard ([[Bounded.collect]], one driver job). A
    // caller that found ment2ent over the bound passes no dictionary, which
    // rules the fast path out: avpair is then never collected.
    if (driverThreshold > 0 && m2eCollected.isDefined) {
      import spark.implicits._
      val avRows = Bounded.collect(
        avpair.select("entity", "pred", "obj").as[(String, String, String)], driverThreshold)
      if (avRows.isDefined) {
        val av = avRows.get.groupBy(_._1)
        val seeds = mentions.select("mention").as[String].collect()
        // the result is built fully driver-side as a LocalRelation — no
        // join/broadcast/checkpoint jobs; each spared dim-phase job is serial
        // driver latency that lands 1:1 on the small-cluster pipeline wall
        return triplesLocal(
          expandLocal(seeds, m2eCollected.get, av, recursivePreds), av)
          .toDF("subj", "pred", "obj")
      }
    }

    // an over-bound (uncollected) dictionary must not be force-broadcast
    // either — let the planner pick the join (AQE broadcasts iff it fits)
    val m2e = if (m2eCollected.isDefined) broadcast(ment2ent) else ment2ent

    // the visited set is the frontier closure over entities: level 0 is the
    // seed mentions' entities, a step follows the recursive relations of
    // the last level back through ment2ent (ment2ent is a broadcast
    // dictionary — no shuffle of the frontier beyond its own distinct)
    val recPreds = recursivePreds.toSeq
    def entities(ms: DataFrame): DataFrame =
      ms.join(m2e, Seq("mention"))
        .select(explode(col("entities")).as("entity"))
        .distinct()
    val visited = Frontier.closure(
        entities(mentions.select(col("mention")).distinct()), "entity",
        maxRounds - 1) { ents =>
      entities(ents.join(avpair, Seq("entity"))
        .filter(col("pred").isin(recPreds: _*))
        .select(col("obj").as("mention"))
        .distinct())
    }
    // avpair is a dimension table; AQE broadcasts it when small, falls back
    // to shuffle hash join at real KB scale
    visited.join(avpair, Seq("entity"))
      .select(col("entity").as("subj"), col("pred"), col("obj"))
      .distinct()
  }
}
