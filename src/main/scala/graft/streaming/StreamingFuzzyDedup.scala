package graft.streaming

import graft.core.TableIO
import graft.datapipe.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming twin of [[Dedup.incrementalFuzzyCommit]] — continuous fuzzy
  * dedup of an arriving document stream against the committed bucketed
  * signature store. Each micro-batch computes minhash signatures only for
  * its own documents, screens them against the store (signature estimate
  * ≥ threshold vs any committed survivor sharing a guarded band bucket →
  * drop), near-dup-clusters within itself, epoch-appends the survivors,
  * and bucket-appends their signatures — so the store side of tomorrow's
  * screen is never re-shuffled and the corpus-wide shingle scan that the
  * batch ScrubPipeline pays daily is never re-paid here.
  *
  * Replay discipline: foreachBatch is at-least-once; a re-delivered batch
  * id is SKIPPED outright ([[Epochs.replayed]]) rather than re-screened,
  * because the greedy fuzzy keep rule is not replay-idempotent the way the
  * exact anti-join is — a transitively-clustered non-survivor whose only
  * threshold link was to another non-survivor would pass the store screen
  * on replay and be wrongly re-admitted. The crash seam BETWEEN the store
  * append and the epoch commit is closed by batch-tagged store rows
  * ([[Dedup.incrementalFuzzyCommit]]'s `batchId`): a replayed batch
  * excludes its OWN earlier append from the screen (reproducing the
  * original survivor set instead of self-hitting at estimate 1.0) and
  * skips the second append — so the epoch snapshot the replay commits
  * holds exactly the survivors whose signatures the store already has. */
object StreamingFuzzyDedup {

  private val epochStage = "kept_docs_fuzzy"

  /** Start the incremental fuzzy-dedup query over a (doc_id, text) stream;
    * `tableDir` accumulates survivor epochs, `sigTable` is the bucketed
    * committed signature store (created on first batch).
    * `compactEvery > 0` rewrites the store to one file per bucket every
    * that many epochs ([[graft.core.Bucketing.compact]]) — each
    * bucket-append lays its own file set into every bucket, so a
    * long-running stream otherwise fragments the store into
    * epochs × buckets files and the screen join pays per-file opens. */
  def start(spark: SparkSession, docsStream: DataFrame, tableDir: String,
            checkpointDir: String, sigTable: String,
            spec: graft.core.Bucketing.BucketSpec,
            idCol: String = "doc_id", textCol: String = "text",
            threshold: Double = 0.7, compactEvery: Int = 0): StreamingQuery = {
    val io = new TableIO(spark, tableDir)
    docsStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!Epochs.replayed(io, epochStage, batchId)) {
          val survivors = Dedup.incrementalFuzzyCommit(
            batch, idCol, textCol, sigTable, spec, threshold = threshold,
            batchId = batchId)
          Epochs.commit(io, epochStage, survivors, batchId)
          if (compactEvery > 0 &&
              (io.lastCommitted(epochStage) + 1) % compactEvery == 0)
            graft.core.Bucketing.compact(spark, sigTable, spec)
        }
        ()
      }
      .start()
  }

  /** All survivor ids landed so far (union of epoch snapshots). */
  def landed(spark: SparkSession, tableDir: String): DataFrame =
    new TableIO(spark, tableDir).readAll(epochStage)

  /** Survivors landed AFTER epoch `fromExclusive`. */
  def landedRange(spark: SparkSession, tableDir: String,
                  fromExclusive: Int): DataFrame =
    new TableIO(spark, tableDir).readRange(epochStage, fromExclusive)

  /** Epoch-tagged survivors: (epoch, id) across every landed snapshot —
    * the per-batch audit shape the batch twin's two-run gate compares. */
  def landedWithEpochs(spark: SparkSession, tableDir: String): DataFrame = {
    val io = new TableIO(spark, tableDir)
    (0 to io.lastCommitted(epochStage))
      .map(k => io.readSnapshot(epochStage, k)
        .select(lit(k.toLong).as("epoch"), col("id")))
      .reduce(_ unionByName _)
  }
}
