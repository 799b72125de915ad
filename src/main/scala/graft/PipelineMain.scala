package graft

import graft.core.TableIO
import graft.gen.{Corpus, CorpusData}
import org.apache.spark.sql.SparkSession

/** spark-submit entry point for the KG-construction pipeline.
  *
  *   PipelineMain <outDir> [nDocs] [master]
  *
  * Reads/synthesizes the interleaved-docs corpus, runs the full dataflow
  * (normalize → mentions → KB expand → canonicalize → dedup → graph
  * materialize) with Iceberg-style snapshot commits under <outDir>; a killed
  * run re-invoked with the same <outDir> resumes from the last committed
  * snapshot (TableIO manifests carry per-file lineage, row counts and
  * counters; the printed counts are read from them).
  */
object PipelineMain {

  /** The session every spark-submit main (this one, ExportMain,
    * TreeGraphMain, CrawlMain) runs in: master `SPARK_MASTER` (default
    * local[8]) unless the command line names one, `SPARK_GRAFT_SHUFFLE`
    * shuffle partitions (default 32), AQE with skew join, UTC, no UI, WARN
    * logging. */
  private[graft] def submitSession(appName: String,
                                   master: Option[String] = None): SparkSession = {
    val spark = SparkSession.builder()
      .master(master.getOrElse(sys.env.getOrElse("SPARK_MASTER", "local[8]")))
      .appName(appName)
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "32").toInt)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/graft-kg-out")
    val nDocs = if (args.length > 1) args(1).toInt else 10000
    val spark = submitSession("graft-kg-pipeline", args.lift(2))

    val cfg = Corpus.Config(nDocs = nDocs)
    val io = new TableIO(spark, outDir)
    val t0 = System.nanoTime()
    KgPipeline.run(spark, CorpusData.docsDF(spark, cfg),
      CorpusData.ment2entDF(spark, cfg), CorpusData.avpairDF(spark, cfg),
      io = Some(io), dimFastPaths = true)
    // every output is committed by now; its manifest holds the row count
    def rows(stage: String): Long = io.counterOf(stage, "row_count").get
    val (nTriples, nV, nE) = (rows("triples"), rows("vertices"), rows("edges"))
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"[pipeline] docs=$nDocs triples=$nTriples vertices=$nV edges=$nE " +
      f"wall=$sec%.1fs triples_per_sec=${nTriples / sec}%.0f")
    println(s"[pipeline] triples manifest: ${io.manifest("triples")}")
    spark.stop()
  }
}
