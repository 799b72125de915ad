package graft.streaming

import graft.core.TableIO
import graft.datapipe.Quantiles
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming quantile-threshold refresh — the curation cutoffs ("keep the
  * top p% by quality per source") tracking an arriving corpus WITHOUT
  * corpus re-reads. Each micro-batch reduces its own documents to a
  * (key, value, cnt) count-by-value delta and merges it into the committed
  * state ([[StreamingLm]]'s compacted-count discipline). The state is
  * bounded by key-cardinality × value-resolution — curation scores are
  * rounded to a fixed scale by construction (Quantiles' premise), so the
  * per-batch read AND write are dimension-sized, never the corpus.
  *
  * Exactness (StreamingSpec parity): counts compose over any batch split,
  * so after N batches [[thresholds]] is IDENTICAL to
  * `Quantiles.byKey` over the union of all batches. Replay-safe via
  * [[Epochs.mergeCounts]]' batch-id guard. */
object StreamingQuantiles {

  val stage = "value_counts"

  /** Start the count-refresh query; `valueOf` maps the batch frame to the
    * scored value column (already bounded-resolution, e.g. a rounded
    * quality score). */
  def start(spark: SparkSession, docsStream: DataFrame, tableDir: String,
            checkpointDir: String, keyCol: String,
            valueOf: DataFrame => Column): StreamingQuery = {
    val io = new TableIO(spark, tableDir)
    docsStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Epochs.mergeCounts(io, stage,
          Quantiles.countsByValue(batch, keyCol, valueOf(batch)),
          Seq(keyCol, "v"), "cnt", batchId)
      }
      .start()
  }

  /** Per-key quantiles from the latest committed counts — drop-in for the
    * batch `Quantiles.byKey` output. */
  def thresholds(spark: SparkSession, tableDir: String, keyCol: String,
                 ps: Seq[Double], scale: Int = 4): DataFrame =
    Quantiles.ofCounts(new TableIO(spark, tableDir).read(stage),
      keyCol, ps, scale)
}
