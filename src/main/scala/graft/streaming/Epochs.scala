package graft.streaming

import graft.core.TableIO
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One (doc_id, text) row of a document stream — the input shape of
  * [[StreamingDedup]], [[StreamingFuzzyDedup]], [[StreamingLm]] and
  * [[StreamingPacking]]. */
case class Doc(doc_id: Long, text: String)

/** The streaming layer's per-micro-batch commit policies over [[TableIO]]
  * epoch snapshots (SURVEY.md S12: the reference's REPLACE flush is an
  * idempotent upsert, i.e. dedup-by-key before append). Every epoch commit
  * records its micro-batch id as the `batch_id` counter; foreachBatch is
  * at-least-once, so a restarted query may re-deliver the last batch.
  *
  *  - [[appendNovel]]: append only rows whose key no earlier epoch holds.
  *    A replay anti-joins against its own earlier epoch and appends
  *    nothing, so it needs no guard.
  *  - [[mergeCounts]]: sum a count delta into the committed count state.
  *    Summing is not idempotent, so a replayed batch is skipped.
  *  - [[replayed]]: the one replay guard, for any policy that must not
  *    re-apply a batch. */
object Epochs {

  private val BatchId = "batch_id"
  private val CoversEpochs = "covers_epochs"

  /** True when `stage` already holds the commit of micro-batch `batchId`. */
  def replayed(io: TableIO, stage: String, batchId: Long): Boolean =
    io.counterOf(stage, BatchId).exists(_ >= batchId)

  /** Commits `df` as the next snapshot of `stage`, tagged with `batchId`. */
  def commit(io: TableIO, stage: String, df: DataFrame, batchId: Long): Unit =
    io.commit(stage, df, counters = Map(BatchId -> batchId))

  /** Commits the rows of `fresh` whose `keyCols` no earlier epoch of `stage`
    * holds, as the next epoch.
    *
    * The committed key set is read as a COMPACTED key snapshot (stage
    * `keyStage`, narrow key-column parquet) plus only the ≤`compactEvery`
    * epochs committed since the last compaction — NOT the union of every
    * epoch ever landed. The per-batch plan therefore has a bounded number of
    * inputs (one sequential columnar key scan + a bounded epoch tail) instead
    * of a file list that grows with history; every `compactEvery` batches the
    * tail is folded into a fresh key snapshot (amortized O(total)/C). At lake
    * scale the compacted key table is the layout to bucket by key hash for
    * join co-location; exact global dedup cannot scan less than the key set.
    * `fresh` must hold at most one row per key. */
  def appendNovel(io: TableIO, stage: String, keyStage: String,
                  fresh: DataFrame, keyCols: Seq[String], batchId: Long,
                  compactEvery: Int): Unit = {
    val covered = io.counterOf(keyStage, CoversEpochs).getOrElse(-1L).toInt
    val compacted =
      if (io.hasCommitted(keyStage)) Some(io.read(keyStage)) else None
    def tailKeys = io.readRange(stage, covered).select(keyCols.map(col): _*)
    val tail = if (io.lastCommitted(stage) > covered) Some(tailKeys) else None
    val novel = (compacted.toSeq ++ tail.toSeq).reduceOption(_ unionByName _)
      .fold(fresh)(k => fresh.join(k, keyCols, "left_anti")
        .select(fresh.columns.map(col): _*)) // a using-join puts keys first
    commit(io, stage, novel, batchId)
    // fold the epoch tail into the key snapshot every compactEvery epochs
    val newLast = io.lastCommitted(stage)
    if (newLast - covered >= compactEvery) {
      // epochs are pairwise disjoint by construction (each was anti-joined
      // against everything before it) — plain union IS the distinct key set
      val newKeys = (compacted.toSeq :+ tailKeys).reduce(_ unionByName _)
      io.commit(keyStage, newKeys, counters = Map(CoversEpochs -> newLast.toLong))
    }
  }

  /** Unless micro-batch `batchId` is already committed, sums the count
    * column `cnt` of `delta` into the committed count state of `stage`
    * (keyed by `keyCols`) and commits the merged state as the next
    * snapshot. Sums compose over any batch split, so the state after N
    * batches equals the counts of their union. */
  def mergeCounts(io: TableIO, stage: String, delta: DataFrame,
                  keyCols: Seq[String], cnt: String, batchId: Long): Unit =
    if (!replayed(io, stage, batchId)) {
      val merged =
        if (io.hasCommitted(stage))
          io.read(stage).unionByName(delta)
            .groupBy(keyCols.map(col): _*).agg(sum(cnt).as(cnt))
        else delta
      commit(io, stage, merged, batchId)
    }
}
