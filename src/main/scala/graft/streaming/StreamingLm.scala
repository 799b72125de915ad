package graft.streaming

import graft.core.Materialize._
import graft.core.TableIO
import graft.datapipe.TextStats
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming LM-model refresh — quality thresholds that update per batch
  * WITHOUT corpus re-reads. Each micro-batch tokenizes only its own
  * documents, reduces them to a vocab-sized (w, c) count delta, merges the
  * delta into the committed count state, and commits the merged state as
  * the next snapshot (the [[StreamingKg]] compacted-key-state discipline:
  * the per-batch read AND write are both vocabulary-sized — ~10^6..10^7
  * narrow rows — never the corpus). [[model]] derives the pruned
  * log-probability model from the latest committed counts, so a curation
  * stream can re-score against a model that tracks the corpus with
  * one-batch lag.
  *
  * Exactness (StreamingSpec parity): counts compose over any batch split
  * (sum is associative), so after N batches the committed counts — and
  * therefore the derived model, total included — are IDENTICAL to
  * [[graft.datapipe.LmScore.train]] over the union of all batches.
  * Replay safety: a re-delivered batch id is skipped
  * ([[Epochs.mergeCounts]]), so at-least-once foreachBatch never
  * double-counts. */
object StreamingLm {

  val stage = "lm_word_counts"

  /** Start the count-refresh query over a (doc_id, text) stream. */
  def start(spark: SparkSession, docsStream: DataFrame, tableDir: String,
            checkpointDir: String, textCol: String = "text"): StreamingQuery = {
    val io = new TableIO(spark, tableDir)
    docsStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val delta = batch
          .select(explode(TextStats.tokens(col(textCol))).as("w"))
          .where(length(col("w")) > 0)
          .groupBy("w").agg(count(lit(1)).as("c"))
        Epochs.mergeCounts(io, stage, delta, Seq("w"), "c", batchId)
      }
      .start()
  }

  /** The pruned unigram model from the latest committed counts — the same
    * count-threshold-filter / proper-total rule as `LmScore.train`, so the
    * streamed model is drop-in for `LmScore.score`/`commitModel`. */
  def model(spark: SparkSession, tableDir: String,
            minCount: Long = 3L): DataFrame = {
    val cnt = new TableIO(spark, tableDir).read(stage).cut()
    val total = cnt.agg(sum("c")).first().getLong(0).toDouble
    cnt.where(col("c") >= minCount)
      .select(col("w"), log(col("c").cast("double") / total).as("logp"))
  }
}
