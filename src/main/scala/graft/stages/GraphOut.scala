package graft.stages

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stage 5 — materialize the deduplicated labeled-property graph.
  *
  * Replaces the reference's transactional Neo4j MERGE writes
  * (extentFunctions.kt:20–38, Neo4jGraph.kt:56–96) with columnar tables:
  *   vertices(vertex_id, name, labels)   edges(src, dst, rel)
  *
  * Ids are stable `xxhash64(name)` — no transactional counter (SURVEY.md
  * §7.4); contiguous ids exist only in the small export path
  * (`Export.entityIds`, DumpGraphToText.kt:93–108 image).
  * Dedup is the north-star two-phase hash aggregate: Catalyst plans
  * partial-per-partition + final for dropDuplicates, and the exchange
  * between them is the one the final aggregate requires. Its initial width
  * is `spark.sql.shuffle.partitions`, which AQE coalesces to the data it
  * sees (one task on a small graph, the cluster's parallelism or more at
  * lake scale). A fixed-count `repartition` here would be an exchange AQE
  * never coalesces: one task and one output file per partition, whatever
  * the data size.
  *
  * `vertices`/`edges` keep their `parts` parameter for source compatibility
  * with existing callers only: it no longer sets a width.
  */
object GraphOut {

  /** Every subj and every obj becomes a vertex — the reference merges a node
    * for each triple endpoint, literals included (AbstractSubjectGraph.kt:
    * 22–33 merges toMention for every AV pair). */
  def vertices(triples: DataFrame, labelsByName: DataFrame, parts: Int): DataFrame = {
    val names = triples.select(col("subj").as("name"))
      .unionByName(triples.select(col("obj").as("name")))
      .dropDuplicates("name")
    names.join(labelsByName, Seq("name"), "left")
      .select(xxhash64(col("name")).as("vertex_id"), col("name"),
        coalesce(col("labels"), array()).as("labels"))
  }

  def edges(triples: DataFrame, parts: Int): DataFrame =
    triples
      .select(xxhash64(col("subj")).as("src"), xxhash64(col("obj")).as("dst"),
        col("pred").as("rel"))
      .dropDuplicates("src", "dst", "rel")
}
