package graft.streaming

import graft.core.{Rules, TableIO}
import graft.stages._
import graft.KgPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Structured-Streaming seam (SURVEY.md §2.7).
  *
  * The reference is batch-only but streaming-shaped: incremental scan from a
  * high-water mark (FromScrappyDump.kt:352–357), periodic 500k-row flush
  * (:392–406), buffer reset after commit (WeiboManager.kt:42–45). Here each
  * micro-batch runs the SAME stage functions as the batch pipeline inside
  * `foreachBatch`, deduplicates against the already-committed triple set
  * (left_anti — the streaming image of the reference's REPLACE-upsert), and
  * appends an epoch snapshot whose manifest records the batch id as the
  * high-water mark. A killed stream restarted from the same checkpoint +
  * table dir re-delivers only uncommitted batches (foreachBatch exactly-once
  * via the query checkpoint, idempotent via the anti-join).
  *
  * Canonicalization is deliberately a downstream BATCH stage over the
  * accumulated triples (alias components are global — a per-batch canon
  * would be wrong); the streaming layer lands raw triples.
  */
object StreamingKg {

  /** Per-batch transformation: docs micro-batch → new distinct raw triples. */
  def batchTriples(spark: SparkSession, batch: DataFrame,
                   ment2ent: DataFrame, avpair: DataFrame): DataFrame = {
    val weibo = WeiboTriples.emit(Normalize.blogs(batch), Normalize.comments(batch))
    val (mentions, dict) =
      Mentions.seedMentions(spark, KgPipeline.textSpans(batch), ment2ent)
    val kb = KbExpand.expand(spark, mentions, ment2ent, avpair,
      Rules.recursivePreds, driverThreshold = 2000000L, m2eCollected = dict)
    KgPipeline.dedupTriples(weibo.unionByName(KgPipeline.kbTriples(kb)))
  }

  /** Start the incremental ingestion query. `tableDir` accumulates epoch
    * snapshots under stage `stream_triples`; each batch's novel triples are
    * found against the compacted key snapshot `committed_keys`
    * ([[Epochs.appendNovel]]). */
  def start(spark: SparkSession, docsStream: DataFrame, ment2ent: DataFrame,
            avpair: DataFrame, tableDir: String, checkpointDir: String,
            compactEvery: Int = 4): StreamingQuery = {
    val io = new TableIO(spark, tableDir)
    docsStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Epochs.appendNovel(io, "stream_triples", "committed_keys",
          batchTriples(spark, batch, ment2ent, avpair),
          Seq("subj", "pred", "obj"), batchId, compactEvery)
      }
      .start()
  }

  /** All triples landed so far (union of epoch snapshots, distinct by key). */
  def landed(spark: SparkSession, tableDir: String): DataFrame =
    new TableIO(spark, tableDir).readAll("stream_triples")
}
