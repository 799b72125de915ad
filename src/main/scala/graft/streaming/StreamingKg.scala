package graft.streaming

import graft.core.{Rules, TableIO}
import graft.stages._
import graft.KgPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
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
      Rules.recursivePreds, driverThreshold = 2000000L,
      m2eCollected = dict, m2eTooLarge = dict.isEmpty)
    weibo.unionByName(kb.select(col("subj"), col("pred"), col("obj"),
        lit(null).cast("string").as("doc_id"), lit(-1).as("span_offset")))
      .groupBy("subj", "pred", "obj")
      .agg(min(col("doc_id")).as("doc_id"), min(col("span_offset")).as("span_offset"))
  }

  private val keyCols = Seq("subj", "pred", "obj")

  /** Start the incremental ingestion query. `tableDir` accumulates epoch
    * snapshots under stage `stream_triples`.
    *
    * Per-batch dedup joins against a COMPACTED key snapshot (stage
    * `committed_keys`, narrow 3-column parquet) plus only the ≤`compactEvery`
    * epochs committed since the last compaction — NOT the union of every
    * epoch ever landed. The per-batch plan therefore has a bounded number of
    * inputs (one sequential columnar key scan + a bounded epoch tail) instead
    * of a file list that grows with history; every `compactEvery` batches the
    * tail is folded into a fresh key snapshot (amortized O(total)/C). At lake
    * scale the compacted key table is the layout to bucket by key hash for
    * join co-location; exact global dedup cannot scan less than the key set. */
  def start(spark: SparkSession, docsStream: DataFrame, ment2ent: DataFrame,
            avpair: DataFrame, tableDir: String, checkpointDir: String,
            compactEvery: Int = 4): StreamingQuery = {
    val io = new TableIO(spark, tableDir)
    docsStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val fresh = batchTriples(spark, batch, ment2ent, avpair)
        val covered = io.counterOf("committed_keys", "covers_epochs")
          .getOrElse(-1L).toInt
        val last = io.lastCommitted("stream_triples")
        val compacted =
          if (io.hasCommitted("committed_keys")) Some(io.read("committed_keys"))
          else None
        val recentTail =
          if (last > covered)
            Some(io.readRange("stream_triples", covered)
              .select(keyCols.map(col): _*))
          else None
        val committedKeys = (compacted.toSeq ++ recentTail.toSeq)
          .reduceOption(_ unionByName _)
        val novel = committedKeys
          .fold(fresh)(k => fresh.join(k, keyCols, "left_anti"))
        io.commit("stream_triples", novel,
          counters = Map("batch_id" -> batchId))
        // fold the epoch tail into the key snapshot every compactEvery epochs
        val newLast = io.lastCommitted("stream_triples")
        if (newLast - covered >= compactEvery) {
          // epochs are pairwise disjoint by construction (each was
          // anti-joined against everything before it) — plain union IS the
          // distinct key set
          val newKeys = (compacted.toSeq :+
            io.readRange("stream_triples", covered).select(keyCols.map(col): _*))
            .reduce(_ unionByName _)
          io.commit("committed_keys", newKeys,
            counters = Map("covers_epochs" -> newLast.toLong))
        }
        ()
      }
      .start()
  }

  /** All triples landed so far (union of epoch snapshots, distinct by key). */
  def landed(spark: SparkSession, tableDir: String): DataFrame =
    new TableIO(spark, tableDir).readAll("stream_triples")
}
