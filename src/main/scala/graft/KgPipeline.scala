package graft

import graft.core.{Rules, TableIO}
import graft.stages._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SharedRows

/** End-to-end KG-construction dataflow (the north star):
  *
  *   docs ─► normalize (narrow) ─► weibo triples
  *        ─► text spans ─► trie mention detect ─► distinct mentions
  *        ─► KB BFS expand (broadcast dims, anti-join visited)
  *        ─► canonicalize (alias CC, salted) ─► two-phase triple dedup
  *        ─► vertices / edges materialize
  *
  * Each stage optionally checkpoints through [[TableIO]] (Iceberg-style
  * snapshot + lineage manifest); a killed run resumes from the last committed
  * snapshot, skipping finished stages entirely.
  */
object KgPipeline {

  case class Outputs(triples: DataFrame, vertices: DataFrame, edges: DataFrame)

  /** text spans of every doc: (doc_id, span_offset, text) — one explode. */
  def textSpans(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(col("spans")).as("s"))
      .filter(col("s.kind") === "text" && col("s.text").isNotNull)
      .select(col("doc_id"), col("s.offset").as("span_offset"), col("s.text").as("text"))

  /** Builds the canonicalized distinct triple set with provenance, and the
    * vertices and edges derived from it.
    *
    * With `io` every stage is snapshot-committed and the outputs read the
    * committed tables. Without it the returned `triples` is already
    * materialized: its plan (normalize → emit → canonicalize → dedup) runs
    * once, the dedup's map stage inside this call, and `vertices`, `edges`
    * and `triples` all read the same shared rows. Those blocks live until
    * the outputs are unreachable, then the ContextCleaner reaps them; a
    * lost block is recomputed from lineage.
    *
    * @param dimFastPaths when true, the dimension-bounded passes (KB BFS
    *   closure, alias CC) use their driver fast paths within `dimBound`
    *   (see KbExpand/Canon docs), with or without `io`. The golden P/R
    *   suite runs with false — pure dataflow — so the gate never tests
    *   driver code against driver code; KgParitySpec asserts both modes
    *   emit identical triples.
    * @param dimBound the driver bound of every dim collect (limit N+1). It
    *   applies even with `dimFastPaths` off: the seed step collects
    *   ment2ent to build the broadcast trie, and a dictionary over the bound
    *   is detected distributed instead (Mentions.seedMentions). */
  def run(spark: SparkSession, docs: DataFrame, ment2ent: DataFrame,
          avpair: DataFrame, io: Option[TableIO] = None,
          shufflePartitions: Int = 32,
          dimFastPaths: Boolean = false,
          dimBound: Long = 2000000L): Outputs = {
    val dimThreshold = if (dimFastPaths) dimBound else 0L

    // Reap obsolete shuffle/broadcast state before the wide job. In a
    // long-lived driver (notebook, streaming service, a bench loop) the
    // references to earlier jobs' shuffles die, but with a large,
    // pressure-free driver heap the JVM may not GC for tens of minutes —
    // and Spark's ContextCleaner only reaps executor-side shuffle files
    // and broadcast blocks when those driver references are COLLECTED
    // (spark.cleaner.periodicGC.interval, default 30 min, exists for
    // exactly this). A pipeline entry is the natural reap boundary:
    // measured on the 4-executor scaling rig, back-to-back runs in one
    // session degrade 22 s → 29 s → 37 s without this and hold 21-24 s
    // with it (the accumulated state starves the fixed-size executors);
    // the GC itself costs well under a second against a multi-second job.
    if (sys.env.getOrElse("SPARK_GRAFT_ENTRY_GC", "1") != "0") System.gc()

    // Stage boundaries: snapshot commit when checkpointing. Without io the
    // corpus-side stages (normalized docs, emitted triples) stay lazy:
    // caching fat doc rows serializes local-mode tasks on the MemoryStore
    // lock (measured: 3/32 threads busy during cache build). The one shared
    // materialization is the post-dedup triple set — thin rows, read by all
    // three outputs — so vertices and edges never re-run the corpus plan.
    // The small dim-side stages (kb, canon_map) are checkpointed via
    // `small()`, unless already a LocalRelation (a driver fast path's
    // output): checkpointing that would only add jobs.
    def stage(name: String, upstream: Seq[String],
              counters: => Map[String, Long] = Map.empty)
             (f: => DataFrame): DataFrame =
      io match {
        case Some(t) => t.runOrResume(name, upstream, counters)(f)
        case None => f
      }
    def small(df: DataFrame): DataFrame =
      if (io.isDefined || df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]) df
      else df.localCheckpoint()

    // quarantine metrics — the dataflow image of the reference's println
    // dead-letter paths (FromScrappyDump.kt:166, 179–182, 228–232, 296–299):
    // counted per stage into the lineage manifest instead of logged
    def weiboCounters: Map[String, Long] = {
      val b = Normalize.blogs(docs).agg(
        sum(when(!col("valid"), 1L).otherwise(0L)).as("invalid"),
        sum(when(col("valid") && !col("time_ok"), 1L).otherwise(0L)).as("bad_time")
      ).collect()(0)
      val c = Normalize.comments(docs).agg(
        sum(when(!col("valid"), 1L).otherwise(0L)).as("invalid")).collect()(0)
      Map(
        "blogs_skipped" -> Option(b.get(0)).map(_.asInstanceOf[Long]).getOrElse(0L),
        "blogs_bad_time" -> Option(b.get(1)).map(_.asInstanceOf[Long]).getOrElse(0L),
        "comments_skipped" -> Option(c.get(0)).map(_.asInstanceOf[Long]).getOrElse(0L))
    }

    val weibo = stage("weibo_triples", Seq.empty, weiboCounters) {
      WeiboTriples.emit(Normalize.blogs(docs), Normalize.comments(docs))
    }

    // Dim phase, one body for both modes: the seed step's one bounded
    // ment2ent collect feeds the trie and (via m2eCollected) the closure's
    // fast path; an over-bound dictionary routes through the distributed
    // substring detect and the dataflow BFS. The fast paths' outputs are
    // LocalRelations, which `small()` leaves as they are.
    val kb = small(stage("kb_triples", Seq.empty) {
      val (mentions, dict) =
        Mentions.seedMentions(spark, textSpans(docs), ment2ent, dimBound)
      KbExpand.expand(spark, mentions, ment2ent, avpair, Rules.recursivePreds,
        driverThreshold = dimThreshold, m2eCollected = dict,
        m2eTooLarge = dict.isEmpty)
    })

    val kbT = kb.select(col("subj"), col("pred"), col("obj"),
      lit(null).cast("string").as("doc_id"), lit(-1).as("span_offset"))

    // the CC pass runs once and is snapshot-committed: resume never re-iterates
    val canonMap = small(stage("canon_map", Seq("kb_triples")) {
      Canon.canonicalMap(kb, Rules.categoryPred, Rules.aliasPreds,
        ccDriverThreshold = dimThreshold)
    })

    val deduped = stage("triples", Seq("weibo_triples", "kb_triples", "canon_map")) {
      val all = Canon.canonicalize(weibo.unionByName(kbT), canonMap)
      // Two-phase dedup (SURVEY.md §4.2.5): partial hash-agg per partition,
      // then ONE shuffle hashed on the FULL (subj, pred, obj) key — never on
      // subj alone: the planted hot root makes subj heavily skewed (one
      // celebrity subject owns ~30% of repost triples) and a subj-keyed
      // exchange creates a straggler partition. The composite key is
      // high-cardinality and skew-free; AQE coalesces the final width.
      all
        .groupBy("subj", "pred", "obj")
        .agg(min(col("doc_id")).as("doc_id"),
          min(col("span_offset")).as("span_offset"))
    }
    // io's commit already materialized the triples; otherwise share one run
    val triples = if (io.isDefined) deduped else SharedRows(deduped)

    val labels = Canon.nodeLabels(
      Canon.canonicalize(kbT, canonMap), Rules.categoryPred)

    val vertices = stage("vertices", Seq("triples")) {
      GraphOut.vertices(triples, labels, shufflePartitions)
    }
    val edges = stage("edges", Seq("triples")) {
      GraphOut.edges(triples, shufflePartitions)
    }
    Outputs(triples, vertices, edges)
  }
}
