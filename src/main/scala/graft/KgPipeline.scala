package graft

import graft.core.{Materialize, Rules, TableIO}
import graft.stages._
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SharedRows

/** End-to-end KG-construction dataflow (the north star):
  *
  *   docs ─► normalize (narrow) ─► weibo triples
  *        ─► text spans ─► trie mention detect ─► distinct mentions
  *        ─► KB BFS expand (broadcast dims, anti-join visited)
  *        ─► canonicalize (alias CC, salted) ─► two-phase triple dedup
  *        ─► vertices (+ labels of the canonical KB) / edges materialize
  *
  * Each stage optionally checkpoints through [[TableIO]] (Iceberg-style
  * snapshot + lineage manifest); a killed run resumes from the last committed
  * snapshot, skipping finished stages entirely. Checkpointed, independent
  * stages commit side by side: weibo_triples beside kb_triples → canon_map,
  * and vertices beside edges.
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
    * committed tables; weibo_triples commits on one thread while
    * kb_triples and canon_map commit on another, and so do vertices and
    * edges (see [[both]]). The weibo stage's quarantine counters are
    * observed by its write. Without it evaluation is sequential, and the
    * returned `triples` is already materialized: its plan (normalize →
    * emit → canonicalize → dedup) runs once, the dedup's map stage inside
    * this call, and `vertices`, `edges` and `triples` all read the same
    * shared rows. Those blocks live until the outputs are unreachable, then
    * the ContextCleaner reaps them; a lost block is recomputed from lineage.
    *
    * Vertices carry the labels of the canonicalized KB triples
    * ([[Canon.vertexLabels]]), built inside the vertices stage: with the
    * fast paths on and the KB and canonical map within `dimBound` they are
    * a driver-built table (the canonical map's bounded collect, plus the
    * KB's when canon_map resumed; none launches a job when the KB and the
    * map are driver-built themselves), otherwise the label dataflow. A
    * resume whose vertices are committed builds none.
    *
    * Entry reap: a run first forces a GC, so that Spark's ContextCleaner
    * frees the shuffle and broadcast state of earlier, unreachable jobs.
    *
    * @param shufflePartitions kept for source compatibility with existing
    *   callers only: it sets no exchange width. Every exchange, the
    *   vertices/edges dedup included, starts at the session's
    *   `spark.sql.shuffle.partitions` and AQE coalesces it.
    * @param dimFastPaths when true, the dimension-bounded passes (KB BFS
    *   closure, alias CC, vertex labels) use their driver fast paths within
    *   `dimBound` (see KbExpand/Canon docs), with or without `io`. The
    *   golden P/R suite runs with false — pure dataflow — so the gate never
    *   tests driver code against driver code; KgParitySpec asserts both
    *   modes emit identical triples and vertices.
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

    entryReap()

    // Stage boundaries: snapshot commit when checkpointing. Without io the
    // corpus-side stages (normalized docs, emitted triples) stay lazy:
    // caching fat doc rows serializes local-mode tasks on the MemoryStore
    // lock (measured: 3/32 threads busy during cache build). The one shared
    // materialization is the post-dedup triple set — thin rows, read by all
    // three outputs — so vertices and edges never re-run the corpus plan.
    // The small dim-side stages (kb, canon_map) are cut via `small()`
    // (`Materialize.cut` leaves a driver fast path's LocalRelation as it is).
    def stage(name: String, upstream: Seq[String],
              counters: => Map[String, Long] = Map.empty)
             (f: => DataFrame): DataFrame =
      io match {
        case Some(t) => t.runOrResume(name, upstream, counters)(f)
        case None => f
      }
    def both[A, B](a: => A, b: => B): (A, B) =
      KgPipeline.both(a, b, parallel = io.isDefined)
    def small(df: DataFrame): DataFrame =
      if (io.isDefined) df else Materialize.cut(df)

    // quarantine metrics — the dataflow image of the reference's println
    // dead-letter paths (FromScrappyDump.kt:166, 179–182, 228–232, 296–299):
    // counted per stage into the lineage manifest instead of logged. With
    // io they are observed on the normalized rows below emit's `valid`
    // filter, in the weibo_triples write itself, and read after it; the
    // lazy plan carries no observation (its counters are never read).
    val blogsObs, commentsObs = Observation()
    val invalid = sum(when(!col("valid"), 1L).otherwise(0L)).as("invalid")
    def observed(df: DataFrame, obs: Observation, aggs: Column*): DataFrame =
      if (io.isDefined) df.observe(obs, invalid, aggs: _*) else df
    def observedCount(obs: Observation, name: String): Long =
      Option(obs.get(name)).map(_.asInstanceOf[Long]).getOrElse(0L)
    def weiboCounters: Map[String, Long] = Map(
      "blogs_skipped" -> observedCount(blogsObs, "invalid"),
      "blogs_bad_time" -> observedCount(blogsObs, "bad_time"),
      "comments_skipped" -> observedCount(commentsObs, "invalid"))
    def weiboStage = stage("weibo_triples", Seq.empty, weiboCounters) {
      WeiboTriples.emit(
        observed(Normalize.blogs(docs), blogsObs,
          sum(when(col("valid") && !col("time_ok"), 1L).otherwise(0L)).as("bad_time")),
        observed(Normalize.comments(docs), commentsObs))
    }

    // Dim phase, one body for both modes: the seed step's one bounded
    // ment2ent collect feeds the trie and (via m2eCollected) the closure's
    // fast path; an over-bound dictionary routes through the distributed
    // substring detect and the dataflow BFS. The fast paths' outputs are
    // LocalRelations, which `small()`'s cut leaves as they are. The CC pass runs
    // once and is snapshot-committed: resume never re-iterates.
    // The KB fast paths of canon_map and of the vertex labels share one
    // bounded KB collect (`kbRows`): made on first use, so a resume past
    // both stages makes none, and over the bound neither collects again.
    def dimStages: (DataFrame, DataFrame, () => Option[Array[(String, String, String)]]) = {
      val kb = small(stage("kb_triples", Seq.empty) {
        val (mentions, dict) =
          Mentions.seedMentions(spark, textSpans(docs), ment2ent, dimBound)
        KbExpand.expand(spark, mentions, ment2ent, avpair, Rules.recursivePreds,
          driverThreshold = dimThreshold, m2eCollected = dict)
      })
      lazy val kbRows = Canon.kbRows(kb, dimThreshold)
      (kb, small(stage("canon_map", Seq("kb_triples")) {
        Canon.canonicalMap(kb, Rules.categoryPred, Rules.aliasPreds,
          ccDriverThreshold = dimThreshold, collectedKb = Some(kbRows))
      }), () => kbRows)
    }

    // weibo_triples does not depend on kb_triples → canon_map
    val (weibo, (kb, canonMap, kbRows)) = both(weiboStage, dimStages)

    val deduped = stage("triples", Seq("weibo_triples", "kb_triples", "canon_map")) {
      dedupTriples(Canon.canonicalize(weibo.unionByName(kbTriples(kb)), canonMap))
    }
    // io's commit already materialized the triples; otherwise share one run
    val triples = if (io.isDefined) deduped else SharedRows(deduped)

    // vertices read the triples and the labels (built here, beside the
    // edges branch, and only when vertices are not yet committed); edges
    // read only the triples
    val (vertices, edges) = both(
      stage("vertices", Seq("triples", "kb_triples", "canon_map")) {
        GraphOut.vertices(triples,
          Canon.vertexLabels(kb, canonMap, Rules.categoryPred, dimThreshold,
            collectedKb = Some(kbRows())),
          shufflePartitions)
      },
      stage("edges", Seq("triples")) {
        GraphOut.edges(triples, shufflePartitions)
      })
    Outputs(triples, vertices, edges)
  }

  /** KB closure triples in the triple schema: no document provenance
    * (null `doc_id`, `span_offset` -1). */
  private[graft] def kbTriples(kb: DataFrame): DataFrame =
    kb.select(col("subj"), col("pred"), col("obj"),
      lit(null).cast("string").as("doc_id"), lit(-1).as("span_offset"))

  /** Two-phase dedup (SURVEY.md §4.2.5) to one row per (subj, pred, obj),
    * keeping the min provenance: a partial aggregate per partition, then ONE
    * shuffle hashed on the FULL key, then the final aggregate. Both
    * aggregates plan as `SortAggregate`, not `HashAggregate`: `min` over the
    * string `doc_id` has no fixed-width buffer. The shuffle is never keyed
    * on subj alone: the planted hot root makes subj heavily skewed (one
    * celebrity subject owns ~30% of repost triples) and a subj-keyed
    * exchange creates a straggler partition. The composite key is
    * high-cardinality and skew-free; AQE coalesces the final width. */
  private[graft] def dedupTriples(all: DataFrame): DataFrame =
    all.groupBy("subj", "pred", "obj")
      .agg(min(col("doc_id")).as("doc_id"),
        min(col("span_offset")).as("span_offset"))

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)
  private lazy val explicitGcDisabled = scala.util.Try(
    java.lang.management.ManagementFactory
      .getPlatformMXBean(classOf[com.sun.management.HotSpotDiagnosticMXBean])
      .getVMOption("DisableExplicitGC").getValue == "true").getOrElse(false)

  /** Reaps obsolete shuffle/broadcast state before the wide job. In a
    * long-lived driver (notebook, streaming service, a bench loop) the
    * references to earlier jobs' shuffles die, but with a large,
    * pressure-free driver heap the JVM may not GC for tens of minutes — and
    * Spark's ContextCleaner only reaps executor-side shuffle files and
    * broadcast blocks when those driver references are COLLECTED
    * (spark.cleaner.periodicGC.interval, default 30 min, exists for exactly
    * this). A pipeline entry is the natural reap boundary: measured on the
    * 4-executor scaling rig, back-to-back runs in one session degrade
    * 22 s → 29 s → 37 s without it and hold 21-24 s with it (the
    * accumulated state starves the fixed-size executors); the GC itself
    * costs well under a second against a multi-second job. */
  private def entryReap(): Unit =
    if (explicitGcDisabled)
      log.warn("entry reap is a no-op: -XX:+DisableExplicitGC ignores " +
        "System.gc(), so dead shuffle and broadcast state waits for " +
        "spark.cleaner.periodicGC.interval")
    else {
      val t0 = System.nanoTime()
      System.gc()
      log.info(f"entry reap: System.gc() took ${(System.nanoTime() - t0) / 1e6}%.0f ms")
    }

  /** Evaluates two independent branches. With `parallel` they run side by
    * side: `b` on a new thread while `a` runs on the caller's, so each
    * branch's driver-side planning overlaps the other's running jobs. A new
    * thread inherits the SparkContext's local properties (job tags,
    * scheduler pool, a tracer's span) and the active session. The branch
    * thread is always joined before an error is rethrown, `a`'s first.
    * Without `parallel`, `a` then `b` on the caller's thread. */
  private def both[A, B](a: => A, b: => B, parallel: Boolean): (A, B) =
    if (!parallel) (a, b)
    else {
      var rb: Either[Throwable, B] = null
      val t = new Thread(() =>
        rb = try Right(b) catch { case e: Throwable => Left(e) }, BranchThread)
      t.setDaemon(true)
      t.start()
      val ra = try Right(a) catch { case e: Throwable => Left(e) }
      t.join()
      (ra, rb) match {
        case (Left(e), _) => throw e
        case (_, Left(e)) => throw e
        case (Right(x), Right(y)) => (x, y)
      }
    }

  /** Name of the thread that runs a checkpointed run's second branch. */
  private[graft] val BranchThread = "graft-kg-branch"
}
