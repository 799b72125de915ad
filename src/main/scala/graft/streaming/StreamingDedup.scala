package graft.streaming

import graft.core.TableIO
import graft.datapipe.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming incremental exact-dedup — the daily-crawl shape end-to-end in
  * the stream path (S12's production form): each micro-batch reduces to
  * one row per content fingerprint (min id wins within the batch), is
  * anti-joined against the COMMITTED key state, and the survivors append
  * as an epoch snapshot. Duplicate keys across batches therefore never
  * re-append, a restarted stream re-delivers only uncommitted batches
  * (foreachBatch exactly-once via the query checkpoint, idempotent via the
  * anti-join), and — like [[StreamingKg]] — the committed state read per
  * batch is a COMPACTED fingerprint snapshot plus a bounded epoch tail,
  * not the union of every epoch ever landed ([[Epochs.appendNovel]]). The
  * exchange carries md5 fingerprints, never document text. */
object StreamingDedup {

  private val epochStage = "kept_docs"

  /** Start the incremental-dedup query over a (doc_id, text) stream.
    * `tableDir` accumulates `kept_docs` epoch snapshots (id, fp). */
  def start(spark: SparkSession, docsStream: DataFrame, tableDir: String,
            checkpointDir: String, idCol: String = "doc_id",
            textCol: String = "text", compactEvery: Int = 4): StreamingQuery = {
    val io = new TableIO(spark, tableDir)
    docsStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Epochs.appendNovel(io, epochStage, "committed_fps",
          Dedup.firstByFingerprint(batch, idCol, textCol), Seq("fp"),
          batchId, compactEvery)
      }
      .start()
  }

  /** All kept (id, fp) rows landed so far (union of epoch snapshots). */
  def landed(spark: SparkSession, tableDir: String): DataFrame =
    new TableIO(spark, tableDir).readAll(epochStage)

  /** Kept rows landed AFTER epoch `fromExclusive` — e.g. the survivors of
    * the most recent daily batch. */
  def landedRange(spark: SparkSession, tableDir: String,
                  fromExclusive: Int): DataFrame =
    new TableIO(spark, tableDir).readRange(epochStage, fromExclusive)
}
