package graft.stages

import graft.core.Materialize._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** TransE/DeepPath text-export surface — the image of DumpGraphToText.kt:
  * integer-id triples, id dictionaries, 75/25 train/test split of forward
  * relations, tab-separated + JSON sinks.
  *
  * Determinism deltas from the reference (SURVEY.md §7.4): ids are assigned
  * by name order instead of arrival order, and the split is seeded instead
  * of `shuffled()` (DumpGraphToText.kt:298, 305–316) — the reference's
  * unseeded shuffle is why golden comparison is on sets, not file bytes.
  */
object Export {

  /** Fixed relation vocabulary + ids (DumpGraphToText.kt:38–46). */
  val relations: Seq[String] = Seq(
    "keyword", "keyword_inv", "repost", "repost_inv", "comment", "comment_inv",
    "reference", "reference_inv", "create", "create_inv",
    "entertainment", "entertainment_inv", "political", "political_inv")

  def relationIds(spark: SparkSession): DataFrame = {
    import spark.implicits._
    relations.zipWithIndex.toDF("rel", "rel_id")
  }

  /** Contiguous export ids, deterministic by name (buildEntityIndex image,
    * DumpGraphToText.kt:93–108). Export scale only — single window. */
  def entityIds(names: DataFrame): DataFrame =
    names.select(col("name")).distinct()
      .withColumn("ent_id", // literal partition key: same single partition, no WindowExec warning
        row_number().over(Window.partitionBy(lit(0)).orderBy("name")) - 1)

  /** The graph-export forward relations (DumpGraphToText.kt main). */
  val forwardPreds: Seq[String] =
    Seq("keyword", "repost", "comment", "reference", "create")

  /** Forward + `_inv` edge rows of the exportable relation subset. */
  def bidirectional(triples: DataFrame): DataFrame = {
    val base = triples.filter(col("pred").isin(forwardPreds: _*))
    base.select(col("subj"), col("pred"), col("obj"))
      .unionByName(base.select(col("obj").as("subj"),
        concat(col("pred"), lit("_inv")).as("pred"), col("subj").as("obj")))
  }

  /** The shared entity index (the reference's one entityToIndex serves both
    * the graph dump and the episodes — DumpGraphToText.kt:333–338). */
  def graphEntityIds(triples: DataFrame): DataFrame = {
    val both = bidirectional(triples)
    entityIds(
      both.select(col("subj").as("name")).union(both.select(col("obj").as("name"))))
  }

  /** Bidirectional integer triples (buildBidirection, DumpGraphToText.kt:
    * 116–119): each forward edge also emits obj→subj with `<rel>_inv`. */
  def integerGraph(spark: SparkSession, triples: DataFrame): DataFrame = {
    val both = bidirectional(triples)
    val ids = graphEntityIds(triples)
    both
      .join(ids.withColumnRenamed("name", "subj").withColumnRenamed("ent_id", "from_id"), Seq("subj"))
      .join(ids.withColumnRenamed("name", "obj").withColumnRenamed("ent_id", "to_id"), Seq("obj"))
      .join(broadcast(relationIds(triples.sparkSession))
        .withColumnRenamed("rel", "pred"), Seq("pred"))
      .select("from_id", "to_id", "rel_id")
  }

  /** Forward-only 75/25 split (DumpGraphToText.kt:305–316; even rel ids are
    * the forward relations, :306), seeded for determinism. */
  def trainTestSplit(graph: DataFrame, seed: Long = 42L): (DataFrame, DataFrame) = {
    val fwd = graph.filter(col("rel_id") % 2 === 0)
    val Array(train, test) = fwd.randomSplit(Array(0.75, 0.25), seed)
    (train, test)
  }

  /** Write the five text sinks (S14/S15). coalesce(1): export scale only. */
  def writeAll(spark: SparkSession, triples: DataFrame, outDir: String): Unit = {
    val names = triples.select(col("subj").as("name"))
      .union(triples.select(col("obj").as("name")))
    entityIds(names).coalesce(1)
      .write.mode("overwrite").option("sep", "\t").csv(s"$outDir/entity2id")
    relationIds(spark).coalesce(1)
      .write.mode("overwrite").option("sep", "\t").csv(s"$outDir/relation2id")
    scoped(integerGraph(spark, triples)) { graph =>
      graph.coalesce(1)
        .write.mode("overwrite").option("sep", "\t").csv(s"$outDir/train2id")
      val (train, test) = trainTestSplit(graph)
      train.coalesce(1).write.mode("overwrite").option("sep", "\t").csv(s"$outDir/train_pairs")
      test.coalesce(1).write.mode("overwrite").option("sep", "\t").csv(s"$outDir/test_pairs")
    }
  }

  /** Episode export (G9, DumpGraphToText.kt:242–303): per qualifying root
    * (depth > 1, keyword in a topic table), all paths of exactly `depth`
    * hops with interleaved relation ids. */
  def episodes(blogEdges: DataFrame, rootsKw: DataFrame, labels: DataFrame,
               topicKeywords: Map[String, Seq[String]], depth: Int = 2): DataFrame = {
    val depths = TreeAnalytics.treeDepths(labels)
    val topics = topicKeywords.toSeq
      .flatMap { case (topic, kws) => kws.map(k => (k, topic)) }
    val spark = blogEdges.sparkSession
    import spark.implicits._
    val topicDf = broadcast(topics.toDF("keyword", "topic"))
    val valid = rootsKw.join(topicDf, Seq("keyword"))
      .join(depths.filter(col("depth") > 1)
        .withColumnRenamed("root", "mid"), Seq("mid"))
    val paths = TreeAnalytics.pathsAtDistance(blogEdges,
      valid.select(col("mid")), depth)
    paths.join(valid.select(col("mid").as("root"), col("topic")), Seq("root"))
      .select(col("topic"), col("steps"))
  }

  /** G9 full fidelity — the reference's buildAnalyzeRelation + episode dump
    * (DumpGraphToText.kt:242–316): per qualifying root (tree depth > 1,
    * keyword in entertainmentKeywords/politicalKeywords), every root→blog
    * path of EXACTLY min(depth, 5) hops becomes one episode with the
    * interleaved integer array [id0, repost_rel_id, id1, repost_rel_id, …].
    * Ids come from the caller-supplied (name, ent_id) index — use
    * [[entityIds]] over the same triple name set as [[integerGraph]] so
    * episode ids and graph ids line up, the reference's shared
    * entityToIndex.
    *
    * Output: (from_id, to_id, rid, path) with path = comma-joined ints.
    * The reference's per-path `paths: [[...]]` JSON nesting is one list per
    * episode row (DumpGraphToText.kt:283–290). */
  def episodesFull(blogEdges: DataFrame, rootsKw: DataFrame, labels: DataFrame,
                   ids: DataFrame,
                   topicKeywords: Map[String, Seq[String]] =
                     graft.core.Rules.topicKeywords,
                   depthCap: Int = 5): DataFrame = {
    val spark = blogEdges.sparkSession
    import spark.implicits._
    val repostRelId = relations.indexOf("repost")
    val topics = topicKeywords.toSeq.flatMap { case (topic, kws) =>
      kws.map(k => (k, topic, relations.indexOf(topic)))
    }
    val topicDf = broadcast(topics.toDF("keyword", "topic", "rid"))
    val valid = rootsKw.join(topicDf, Seq("keyword"))
      .join(TreeAnalytics.treeDepths(labels).filter(col("depth") > 1)
        .withColumnRenamed("root", "mid"), Seq("mid"))
      .select(col("mid"), col("rid"),
        least(col("depth"), lit(depthCap)).cast("int").as("d"))
      .cut()

    // exact-depth walks, one frontier expansion per capped depth bucket
    val paths = (1 to depthCap).map { d =>
      TreeAnalytics.pathsArrayAtDistance(blogEdges,
        valid.filter(col("d") === d).select("mid"), d)
    }.reduce(_ unionByName _)

    // mid → export id via ONE equi-join on the prefixed name, then
    // order-preserving re-assembly (pos-sorted) and rel-id interleave
    val exploded = paths
      .select(col("root"), col("tip"), posexplode(col("path")).as(Seq("pos", "mid")))
      .withColumn("name", concat(lit("blog:"), col("mid")))
      .join(ids, Seq("name"))
    val assembled = exploded.groupBy("root", "tip")
      .agg(array_sort(collect_list(struct(col("pos"), col("ent_id")))).as("pe"))
      .select(col("root"), col("tip"),
        flatten(transform(col("pe"), (x, i) =>
          when(i === 0, array(x.getField("ent_id")))
            .otherwise(array(lit(repostRelId), x.getField("ent_id"))))).as("idpath"))
    assembled
      .join(valid.select(col("mid").as("root"), col("rid")), Seq("root"))
      .select(
        element_at(col("idpath"), 1).as("from_id"),
        element_at(col("idpath"), -1).as("to_id"),
        col("rid"),
        concat_ws(",", col("idpath")).as("path"))
  }

  /** The analyze relation set the episodes imply (DumpGraphToText.kt:292–299):
    * bidirectional root→tip topic edges; the reference's train/test pairs
    * are split from THIS set (main: dumpRelationAsTrainAndTest(analyzeSet)). */
  def analyzeGraph(episodes: DataFrame): DataFrame =
    episodes.select(col("from_id"), col("to_id"), col("rid").as("rel_id"))
      .unionByName(episodes.select(col("to_id").as("from_id"),
        col("from_id").as("to_id"), (col("rid") + 1).as("rel_id")))

  /** Full DumpGraphToText main parity: the five graph sinks, plus
    * episodes.json and train/test pairs split from the ANALYZE set (the
    * reference splits analyzeSet, not the whole graph —
    * DumpGraphToText.kt:341). */
  def writeAllWithEpisodes(spark: SparkSession, triples: DataFrame,
                           blogEdges: DataFrame, rootsKw: DataFrame,
                           labels: DataFrame, outDir: String): Unit = {
    writeAll(spark, triples, outDir)
    scoped(episodesFull(blogEdges, rootsKw, labels, graphEntityIds(triples))) { eps =>
      // episodes.json rows mirror the reference's map shape incl. the
      // one-path-per-episode `paths` nesting (DumpGraphToText.kt:283-290)
      eps.select(col("from_id"), col("to_id"), col("rid"),
          array(transform(split(col("path"), ","), _.cast("int"))).as("paths"))
        .coalesce(1).write.mode("overwrite").json(s"$outDir/episodes")
      val (train, test) = trainTestSplit(analyzeGraph(eps))
      train.coalesce(1).write.mode("overwrite")
        .option("sep", "\t").csv(s"$outDir/train_pairs_analyze")
      test.coalesce(1).write.mode("overwrite")
        .option("sep", "\t").csv(s"$outDir/test_pairs_analyze")
    }
  }
}
