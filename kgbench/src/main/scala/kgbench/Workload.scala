package kgbench

import graft.gen.Corpus
import org.apache.spark.sql.SparkSession
import java.nio.file.Path

/** One KG-construction workload: the generated input and the pipeline mode.
  * `checkpoint` runs the pipeline through TableIO (PipelineMain's production
  * shape); otherwise it runs lazily with no snapshot commits. */
final case class Workload(name: String, nDocs: Int, nEntities: Int,
                          checkpoint: Boolean) {
  def config(seed: Long): Corpus.Config =
    Corpus.Config(nDocs = nDocs, nEntities = nEntities, seed = seed)
}

object Workload {
  val all: Seq[Workload] = Seq(
    // corpus-proportional layers (Normalize, WeiboTriples, the dedup
    // exchange, GraphOut) with the fused driver dim phase
    Workload("kg_lazy", nDocs = 5000, nEntities = 120, checkpoint = false),
    // the same input through TableIO: commit, read-back, lineage, resume and
    // the staged dim path
    Workload("kg_checkpoint", nDocs = 5000, nEntities = 120, checkpoint = true))

  def named(name: String): Option[Workload] = all.find(_.name == name)
}

/** The one set of session confs every workload runs with: those of
  * graft.PipelineMain, the spark-submit entry point. The benchmark adds only
  * where Spark keeps its scratch files, so that a run stays inside its own
  * work directory. */
object Session {
  val shufflePartitions = 32

  val pipelineConfs: Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  def start(slots: Int, work: Path): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$slots]")
      .appName("kgbench")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    pipelineConfs.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
