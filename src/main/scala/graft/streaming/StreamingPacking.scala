package graft.streaming

import graft.core.TableIO
import graft.datapipe.Packing
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming twin of [[Packing.packIncremental]] — continuous
  * concat-and-chunk packing of an arriving document stream. Each
  * micro-batch packs only documents beyond the committed id high-water
  * mark and CONTINUES the global token stream from the committed token
  * high-water mark, snapshot-appending one epoch per batch. foreachBatch's
  * at-least-once replay is idempotent here: a re-delivered batch is fully
  * below the id HWM, packs to an empty delta, and commits nothing — the
  * same restart discipline as [[StreamingDedup]] and the JDBC incremental
  * ingest. Invariant (StreamingSpec): the union of all epochs equals the
  * one-shot packing of all documents, provided ids rise across batches
  * (a crawl frontier's natural order).
  */
object StreamingPacking {

  val stage = "pack_index"

  /** Start the incremental-packing query over a (doc_id, text) stream;
    * `tableDir` accumulates `pack_index` epoch snapshots. */
  def start(spark: SparkSession, docsStream: DataFrame, tableDir: String,
            checkpointDir: String, seqLen: Long,
            idCol: String = "doc_id", textCol: String = "text"): StreamingQuery = {
    val io = new TableIO(spark, tableDir)
    docsStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        Packing.packIncremental(io, stage, batch, idCol, textCol, seqLen)
        ()
      }
      .start()
  }

  /** The accumulated packing index across all landed epochs. */
  def landed(spark: SparkSession, tableDir: String): DataFrame =
    new TableIO(spark, tableDir).readAll(stage)
}
