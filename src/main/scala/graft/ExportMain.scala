package graft

import graft.gen.{Corpus, CorpusData}
import graft.stages.{Export, Normalize, TreeAnalytics}
import org.apache.spark.sql.functions._

/** spark-submit entry point mirroring the reference's DumpGraphToText main:
  * runs the KG pipeline (or reads a prior run via PipelineMain's outDir),
  * then lands the TransE/DeepPath text surface — entity2id / relation2id /
  * train2id, episodes.json with interleaved (id, rel-id, id) paths, and
  * train/test pairs split from the analyze set.
  *
  *   ExportMain <outDir> [nDocs] [master]
  */
object ExportMain {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/graft-export")
    val nDocs = if (args.length > 1) args(1).toInt else 10000
    val spark = PipelineMain.submitSession("graft-export", args.lift(2))

    val cfg = Corpus.Config(nDocs = nDocs)
    val docs = CorpusData.docsDF(spark, cfg)
    val out = KgPipeline.run(spark, docs,
      CorpusData.ment2entDF(spark, cfg), CorpusData.avpairDF(spark, cfg),
      dimFastPaths = true)
    val blogs = Normalize.blogs(docs).filter(col("valid"))
    val edges = blogs.select("mid", "repost_id")
    Export.writeAllWithEpisodes(spark, out.triples, edges,
      blogs.filter(col("keyword").isNotNull).select("mid", "keyword"),
      TreeAnalytics.rootsAndLevels(edges), outDir)
    val eps = spark.read.json(s"$outDir/episodes").count()
    println(s"[export] outDir=$outDir episodes=$eps")
    spark.stop()
  }
}
