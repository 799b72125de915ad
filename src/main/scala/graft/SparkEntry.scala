package graft

import graft.core.Materialize._
import graft.core.{Bucketing, Rules}
import graft.datapipe.{Dedup, Multimodal, Quantiles, Similarity, TextStats}
import graft.gen.{Corpus, CorpusData}
import graft.stages._
import graft.streaming.{Doc, Sessionize, StreamingDedup, StreamingFuzzyDedup}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import scala.reflect.runtime.universe.TypeTag

/** Driver contract — one `queries` entry per implemented operator family
  * (SURVEY.md §2) plus the training-data-pipeline operators; `oracleSql` is
  * the DuckDB-equivalent for every SQL-expressible query (same column names,
  * rounded doubles). KG-pipeline queries run on the engine's own seeded
  * interleaved-docs corpus (BASELINE.json: no external data) and are
  * rows-only checks — their correctness gate is the golden-triple P/R suite
  * in `sbt -batch test`.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  // shared corpus config for the KG queries (independent of sfDir)
  private[graft] val kgCfg = Corpus.Config(nDocs = 1200, nEntities = 120, seed = 42L)

  // several queries expose different outputs of the same pipeline run —
  // memoize per session so Verify/Bench don't re-run it per query
  @transient private var kgCache: (SparkSession, KgPipeline.Outputs) = null

  private def kgOutputs(s: SparkSession): KgPipeline.Outputs = synchronized {
    if (kgCache == null || (kgCache._1 ne s)) {
      val out = KgPipeline.run(s, CorpusData.docsDF(s, kgCfg),
        CorpusData.ment2entDF(s, kgCfg), CorpusData.avpairDF(s, kgCfg))
      // run's lazy-mode triples are already materialized once
      kgCache = (s, out.copy(vertices = out.vertices.cut(),
        edges = out.edges.cut()))
    }
    kgCache._2
  }

  /** Fresh per-run scratch dir under a fixed reaped parent. Gate/bench
    * queries that write filesystem state (bucketed warehouse, shard
    * parquet, streaming table + checkpoint) each cost /tmp space per
    * invocation; a fixed path breaks reruns (LOCATION_ALREADY_EXISTS,
    * stale checkpoints), so runs get fresh dirs — and THIS reaper bounds
    * the accumulation. Staleness is keyed on OWNER LIVENESS, not age alone:
    * each run dir records its creator's pid in a SIBLING `<dir>.owner_pid`
    * file (sibling, not in-dir — several call sites hand the fresh dir to
    * CREATE DATABASE, which expects to own an empty/absent path), and a dir
    * whose owner process is still alive is never reaped — a multi-hour
    * concurrent bench/verify run keeps its live warehouse however old the
    * dir gets. The mtime horizon (older than BOTH this JVM's start AND 1h)
    * only applies to dirs with a dead or unreadable owner. */
  private def freshRunDir(family: String): java.nio.file.Path = {
    import scala.jdk.CollectionConverters._
    val parent = java.nio.file.Paths.get(s"/tmp/graft-$family-runs")
    java.nio.file.Files.createDirectories(parent)
    val jvmStart = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime
    val horizon = math.min(jvmStart, System.currentTimeMillis() - 3600L * 1000)
    def pidFileOf(p: java.nio.file.Path): java.nio.file.Path =
      p.resolveSibling(p.getFileName.toString + ".owner_pid")
    def ownerAlive(p: java.nio.file.Path): Boolean =
      try {
        val pidFile = pidFileOf(p)
        java.nio.file.Files.exists(pidFile) && {
          val pid = java.nio.file.Files.readString(pidFile).trim.toLong
          ProcessHandle.of(pid).map[Boolean](_.isAlive).orElse(false)
        }
      } catch { case _: Exception => false }
    val listing = java.nio.file.Files.list(parent)
    val stale =
      try listing.iterator().asScala
        .filter(p => java.nio.file.Files.isDirectory(p)) // pid files go with their dir
        .filter(p => java.nio.file.Files.getLastModifiedTime(p).toMillis < horizon)
        .filterNot(ownerAlive)
        .toList
      finally listing.close() // directory streams leak an fd per call otherwise
    stale.foreach { dir =>
      try {
        val walk = java.nio.file.Files.walk(dir)
        try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists(_))
        finally walk.close()
        java.nio.file.Files.deleteIfExists(pidFileOf(dir))
      } catch { case _: java.io.IOException => () } // lost a reap race: fine
    }
    val dir = java.nio.file.Files.createTempDirectory(parent, "run")
    try java.nio.file.Files.writeString(pidFileOf(dir),
      ProcessHandle.current().pid().toString)
    catch { case _: java.io.IOException => () } // liveness is best-effort
    dir
  }

  // q_dedup_clusters and q_dedup_keep_best expose two outputs of the SAME
  // scrub run (LSH blocking → exact Jaccard verify → transitive closure) —
  // memoized per (session, sfDir) exactly like kgOutputs, so Verify/Bench
  // pay the shingle/minhash scan once, not once per exposed output. (The
  // standalone operator rows q_lsh_candidates / q_jaccard_pairs stay
  // independent on purpose — they exercise each stage in isolation.)
  @transient private var scrubCache: (SparkSession, String, DataFrame) = null

  private def scrubKeepMap(s: SparkSession, d: String): DataFrame = synchronized {
    if (scrubCache == null || (scrubCache._1 ne s) || scrubCache._2 != d)
      scrubCache = (s, d, graft.datapipe.ScrubPipeline
        .run(s, t(s, d, "documents"), "doc_id", "text")
        .keepMap.cut())
    scrubCache._3
  }

  private def blogEdges(s: SparkSession): DataFrame =
    Normalize.blogs(CorpusData.docsDF(s, kgCfg))
      .filter(col("valid")).select("mid", "repost_id")

  /** Runs a streaming query over a driver-fed MemoryStream — the
    * verification seam of the `*_stream` queries: `start` builds the query
    * over the stream, each batch is fed in turn and processed to
    * completion, and the query is stopped even when a batch fails. */
  private def runStream[A <: Product : TypeTag](s: SparkSession, batches: Seq[A]*)
                                               (start: Dataset[A] => StreamingQuery)
      : Unit = {
    val stream = MemoryStream(Encoders.product[A], s.sqlContext)
    val query = start(stream.toDS())
    try batches.foreach { b => stream.addData(b); query.processAllAvailable() }
    finally query.stop()
  }

  /** The event-time `*_stream` queries: the events as (key, ts) rows
    * through `plan` into the memory sink `qname`, then one far-future
    * sentinel event, which advances the watermark past every open window
    * or session so append mode emits them all. The sink's rows without the
    * sentinel's; None when there are no events. */
  private def eventTimeStream(s: SparkSession, d: String, qname: String)
                             (plan: Dataset[Sessionize.Ev] => DataFrame)
      : Option[DataFrame] = {
    import s.implicits._
    val evs = t(s, d, "events")
      .select(col("event_type").cast("string").as("key"),
        col("ts").cast("timestamp").as("ts"))
      .as[Sessionize.Ev].collect().toSeq
    if (evs.isEmpty) None
    else {
      val maxTs = evs.iterator.map(_.ts.getTime).max
      val sentinel = Sessionize.Ev(" wm",
        new java.sql.Timestamp(maxTs + 30L * 24 * 3600 * 1000))
      s.catalog.dropTempView(qname)
      runStream(s, evs, Seq(sentinel))(ds =>
        plan(ds).writeStream.format("memory").queryName(qname)
          .outputMode("append").start())
      Some(s.table(qname).filter(col("key") =!= sentinel.key))
    }
  }

  /** The documents as the incremental-dedup queries' two batches: the
    * accumulated corpus (doc_id < 400), then the "daily" batch. */
  private def docBatches(s: SparkSession, d: String): (Seq[Doc], Seq[Doc]) = {
    import s.implicits._
    t(s, d, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .as[Doc].collect().toSeq.partition(_.doc_id < 400)
  }

  /** Flagship: full KG construction on sf0.001-scale corpus. */
  def entry(spark: SparkSession): DataFrame = kgOutputs(spark).triples

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- scans / filters / projections (S2, P1–P4) --------------------------
    "q_scan_filter_project" -> ((s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_quantity") > 45 && col("l_returnflag") === "R")
        .select("l_orderkey", "l_linenumber", "l_quantity")),

    // ---- aggregations (A3–A7) ------------------------------------------------
    // money sums go through DECIMAL so the aggregate is exact and
    // order-independent — double summation order differs across engines
    "q_agg_groupby" -> ((s, d) =>
      t(s, d, "lineitem").groupBy("l_returnflag", "l_linestatus").agg(
        round(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"), 2).as("sum_qty"),
        count(lit(1)).as("cnt"),
        round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(28,6)")).cast("double"), 2).as("revenue"))),
    "q_agg_stats" -> ((s, d) =>
      t(s, d, "orders").groupBy("o_orderpriority").agg(
        count(lit(1)).as("cnt"),
        round((sum(col("o_totalprice").cast("decimal(18,2)")).cast("double") /
          count(lit(1))), 2).as("avg_price"),
        round(max("o_totalprice"), 2).as("max_price"))),
    "q_tier_histogram" -> ((s, d) =>
      t(s, d, "events")
        .groupBy(floor(col("value") / 10).cast("int").as("tier"))
        .agg(count(lit(1)).as("n"))),
    "q_agg_argmax" -> ((s, d) =>
      t(s, d, "orders").groupBy("o_orderpriority").agg(
        max_by(col("o_orderkey"), col("o_totalprice")).as("top_order"),
        min_by(col("o_orderkey"), col("o_totalprice")).as("bottom_order"))),
    "q_last_write_wins" -> ((s, d) => {
      // S16 staging semantics: latest row per key in ingest order
      val staged = graft.stages.Staging.lastWriteWins(
        t(s, d, "documents").select("doc_id", "source", "lang"),
        Seq("source"), "doc_id")
      staged.select("source", "doc_id", "lang")
    }),
    "q_rlike_join" -> ((s, d) => {
      // J8 regex theta-join (extentFunctions.kt:53–66 semantics, fixed):
      // nations sharing a 2-letter name prefix
      val a = t(s, d, "nation").select(col("n_name").as("name_a"))
      val b = t(s, d, "nation").select(col("n_name").as("name_b"))
      a.join(b, regexp_like(col("name_a"),
          concat(lit("^"), substring(col("name_b"), 1, 2))) &&
        col("name_a") =!= col("name_b"))
    }),

    // ---- joins (J1–J5) -------------------------------------------------------
    "q_join_broadcast" -> ((s, d) =>
      t(s, d, "orders")
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation")).agg(
          count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"), 1).as("total"))
        .select("nation", "n_orders", "total")),
    "q_semi_join" -> ((s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")),
    "q_anti_join" -> ((s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "orders").filter(col("o_totalprice") > 450000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")),
    "q_selfjoin_adjacent" -> ((s, d) => {
      val li = t(s, d, "lineitem").select("l_orderkey", "l_linenumber", "l_extendedprice")
      val a = li.toDF("k", "ln1", "p1")
      val b = li.toDF("k", "ln2", "p2")
      a.join(b, a("k") === b("k") && b("ln2") === a("ln1") + 1)
        .select(a("k").as("l_orderkey"), col("ln1"), col("ln2"),
          round(col("p1") + col("p2"), 2).as("pair_price"))
    }),
    "q_contains_filter" -> ((s, d) =>
      t(s, d, "part").filter(col("p_type").contains("ECONOMY"))
        .groupBy(col("p_brand").as("brand")).agg(count(lit(1)).as("n"))),

    // ---- set ops / dedup / windows (A2, A8, A11, A12) ------------------------
    "q_union_dedup" -> ((s, d) =>
      t(s, d, "customer").select(col("c_name").as("name"))
        .unionByName(t(s, d, "supplier").select(col("s_name").as("name")))
        .groupBy("name").agg(count(lit(1)).as("n"))),
    "q_window_topk" -> ((s, d) => {
      val w = Window.partitionBy("l_suppkey")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      t(s, d, "lineitem")
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice"), 2).as("price"),
          row_number().over(w).as("rn"))
        .filter(col("rn") <= 3)
    }),
    "q_window_running" -> ((s, d) => {
      val w = Window.partitionBy("l_suppkey")
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "lineitem")
        .filter(col("l_orderkey") < 3000)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          round(sum("l_quantity").over(w), 2).as("running_qty"))
    }),
    "q_rownum_ids" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        (row_number().over(Window.partitionBy(lit(0)).orderBy("doc_id")) - 1).as("ent_id"))),

    // ---- explode / scalar functions (A10, F1–F2, F10, F13) -------------------
    "q_explode_tokens" -> ((s, d) =>
      t(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))),
    "q_regex_extract" -> ((s, d) =>
      t(s, d, "events")
        .groupBy(col("event_type"),
          regexp_extract(col("props"), "([0-9]+)", 1).as("num"))
        .agg(count(lit(1)).as("n"))),
    "q_json_extract" -> ((s, d) =>
      t(s, d, "events")
        .select(get_json_object(col("props"), "$.k").cast("int").as("k"))
        .groupBy(pmod(col("k"), lit(10)).as("bucket")).agg(count(lit(1)).as("n"))),
    "q_time_buckets" -> ((s, d) =>
      t(s, d, "events")
        .groupBy(date_format(col("ts"), "yyyy-MM-dd HH").as("hour_bucket"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value").cast("decimal(18,6)")).cast("double"), 2).as("sum_value"))),
    "q_event_windows" -> ((s, d) =>
      // the streaming windowed-agg operator, oracle-checked on batch
      graft.streaming.Windowed.eventCounts(t(s, d, "events"), "ts", "event_type")),
    "q_event_windows_stream" -> ((s, d) =>
      // the STREAM path of the windowed aggregation (readStream → watermark
      // → tumbling window → append-mode finalization), surfaced to the
      // driver gate like q_sessionize_stream: same rows, same oracle as the
      // batch twin.
      eventTimeStream(s, d, "graft_event_windows_stream")(ds =>
          graft.streaming.Windowed.eventCounts(ds.toDF(), "ts", "key"))
        .map(_.select(col("window_start"), col("key").as("event_type"), col("n")))
        .getOrElse(s.emptyDataFrame.select(lit(0L).as("window_start"),
          lit("").as("event_type"), lit(0L).as("n")).limit(0))),
    "q_sessionize" -> ((s, d) =>
      // gap-based sessionization (batch twin of the stateful stream op)
      graft.streaming.Sessionize.sessionsBatch(t(s, d, "events"),
        "event_type", "ts", gapSec = 3600)),
    "q_sessionize_stream" -> ((s, d) =>
      // the STREAM path of the same operator (flatMapGroupsWithState with
      // event-time timeout), surfaced to the driver gate: same rows, same
      // oracle as the batch twin. MemoryStream is necessarily fed from the
      // driver — that is the verification seam (production reads a source),
      // and the stateful operator itself runs distributed.
      eventTimeStream(s, d, "graft_sessionize_stream")(ds =>
          Sessionize.sessionsStream(ds, gapSec = 3600).toDF())
        .getOrElse(s.emptyDataset(Encoders.product[Sessionize.Session]).toDF())),

    // ---- training-data ops: text ---------------------------------------------
    "q_dedup_exact" -> ((s, d) => Dedup.exactGroups(t(s, d, "documents"))),
    "q_fingerprint" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        TextStats.fingerprint(col("text")).as("fp"))),
    "q_text_stats" -> ((s, d) => {
      val c = TextStats.textCounts(col("text"))
      t(s, d, "documents").select(col("doc_id"),
        c.getField("token_count").as("n_tokens"),
        c.getField("distinct_tokens").as("n_distinct"),
        c.getField("char_count").as("n_chars_m"))
    }),
    "q_quality_score" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        TextStats.qualityScore(col("text")).as("quality"))),
    "q_salted_agg" -> ((s, d) =>
      // explicit two-phase salted aggregation: the hot event_type's first
      // phase spreads over 8 reducers; result ≡ the plain groupBy (oracle)
      graft.core.Skew.saltedCount(
        t(s, d, "events"), "event_type", col("event_id"), salts = 8)),
    "q_bucketed_join" -> ((s, d) => {
      // co-located layout: both sides bucketed on the join key → the merge
      // join plans with zero Exchange (BucketingSpec pins the plan); the
      // result is byte-identical to the shuffled join the oracle runs.
      // HERMETIC: leftover catalog/filesystem state from ANY prior run
      // (this process or another) is dropped first, and the warehouse
      // location is a fresh per-run temp dir — a fixed /tmp path cost this
      // query its round-2 correctness row (LOCATION_ALREADY_EXISTS on rerun)
      s.sql("DROP DATABASE IF EXISTS graft_bkt CASCADE")
      val wh = freshRunDir("bkt-wh")
      java.nio.file.Files.delete(wh) // CREATE DATABASE owns (and creates) it
      s.sql(s"CREATE DATABASE graft_bkt LOCATION '${wh.toString}'")
      val spec = Bucketing.BucketSpec("custkey", 8)
      Bucketing.writeBucketed(
        t(s, d, "orders").withColumnRenamed("o_custkey", "custkey"),
        "graft_bkt.b_orders", spec)
      Bucketing.writeBucketed(
        t(s, d, "customer").withColumnRenamed("c_custkey", "custkey"),
        "graft_bkt.b_customer", spec)
      Bucketing.colocatedJoin(s, "graft_bkt.b_orders", "graft_bkt.b_customer", spec)
        .groupBy(col("c_mktsegment").as("seg"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"), 1)
            .as("total"))
    }),
    "q_repetition" -> ((s, d) =>
      // Gopher-style repetition signals, single scan pass
      t(s, d, "documents").select(col("doc_id"),
        TextStats.dupTokenFraction(col("text")).as("dup_token_frac"),
        TextStats.symbolWordRatio(col("text")).as("symbol_word_ratio"))),
    "q_top_bigram" -> ((s, d) =>
      TextStats.topBigramFraction(t(s, d, "documents"), "doc_id", "text")),
    "q_dup_ngram_coverage" -> ((s, d) =>
      // the faithful Gopher repeated-ngram filter: fraction of token
      // positions covered by a within-doc repeated 5-gram (union of spans)
      TextStats.dupNgramCoverage(t(s, d, "documents"), "doc_id", "text", n = 5)
        .select(col("id").as("doc_id"), col("dup_ngram_coverage"))),
    "q_ivf_cell_histogram" -> ((s, d) => {
      // the inverted-file balance audit read before choosing nProbe: vectors
      // per cell + each cell's worst fit (min cosine to its own centroid) —
      // deterministic seed-rule centroids so the layout is oracle-checkable
      val embs = t(s, d, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      Similarity.assignCells(
          embs.select(col("vec_id").as("id"), col("v")),
          embs.filter(col("vec_id") < 16)
            .select(col("vec_id").as("cid"), col("v").as("cv")))
        .groupBy("cid")
        .agg(count(lit(1)).as("n_vectors"), min(col("csim")).as("worst_fit"))
    }),
    "q_chunk_dedup" -> ((s, d) =>
      // sub-document dedup: first corpus-wide occurrence of each 8-token
      // chunk survives; per-doc scrub summary + reassembled text
      Dedup.chunkDedup(t(s, d, "documents"), "doc_id", "text")),
    "q_boilerplate_scrub" -> ((s, d) =>
      // cross-doc boilerplate removal: chunks present in > 2 distinct docs
      // are removed from EVERY doc (no first-copy survives — the
      // complement of q_chunk_dedup's keep-first rule)
      Dedup.boilerplateScrub(t(s, d, "documents"), "doc_id", "text")),
    "q_redact" -> ((s, d) =>
      // PII scrub; the corpus has no planted PII, so the query stitches a
      // deterministic email/phone/IP per doc before redacting — the oracle
      // builds the identical string
      t(s, d, "documents").select(col("doc_id"),
        TextStats.redactPii(concat(col("text"), lit(" contact doc"),
          col("doc_id").cast("string"), lit("@example.com or 555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit("-1234 at 10.0.0."), (col("doc_id") % 255).cast("string")))
          .as("redacted"))),
    "q_subword_count" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        TextStats.subwordCount(col("text")).as("n_subwords"))),
    "q_langid" -> ((s, d) =>
      t(s, d, "documents")
        .groupBy(TextStats.langId(col("text")).as("lang_pred"))
        .agg(count(lit(1)).as("n"))),
    "q_minhash" -> ((s, d) => {
      // exploded-INDEX shape: only the cheap index sequence explodes; each
      // shingle string is built by codegen'd slice+concat_ws after the
      // explode (the transform-HOF form is interpreted and allocates the
      // whole shingle array per row — see Dedup.shingleRows)
      val docs = t(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
      docs.select(col("doc_id"), col("toks"),
          explode(sequence(lit(1), greatest(size(col("toks")) - 2, lit(1)))).as("i"))
        .select(col("doc_id"),
          concat_ws(" ", slice(col("toks"), col("i"), lit(3))).as("s3"))
        .groupBy("doc_id")
        .agg(min(md5(concat(lit("0"), col("s3")))).as("mh0"),
          min(md5(concat(lit("1"), col("s3")))).as("mh1"))
    }),
    "q_simhash" -> ((s, d) =>
      Dedup.simhashAgg(t(s, d, "documents"), "doc_id", "text", bits = 16)
        .select(col("id").as("doc_id"), col("simhash"))),
    "q_jaccard_pairs" -> ((s, d) => {
      // the scale-path composition: LSH blocking → exact Jaccard verify
      // (never an all-pairs product)
      val docs = t(s, d, "documents")
      val cands = Dedup.lshCandidates(
        Dedup.lshBandsMd5(docs, "doc_id", "text", 8, 4, 3), maxBucket = 64)
      Dedup.jaccardVerify(cands, docs, "doc_id", "text", 0.7)
    }),
    "q_tfidf_keywords" -> ((s, d) =>
      // corpus keyword extraction: top-3 TF-IDF terms per document
      TextStats.tfIdfTopK(t(s, d, "documents"), "doc_id", "text", k = 3)
        .select(col("id").as("doc_id"), col("term"), col("score"), col("rank"))),
    "q_stratified_sample" -> ((s, d) =>
      // deterministic hash-mod training-mix sampling: keep all English,
      // downsample the rest — reproducible across runs/partitionings/engines
      graft.datapipe.Sampling.stratified(t(s, d, "documents"),
          "doc_id", "lang", Map("en" -> 1.0, "zh" -> 0.5), default = 0.25)
        .select("doc_id", "lang", "source")),
    "q_corpus_scrub" -> ((s, d) =>
      // the composed pre-training filter verdict: per-doc quality + langid
      // + repetition signals and the keep decision a scrub pass acts on —
      // one narrow scan, all signals in a single projection
      t(s, d, "documents").select(col("doc_id"),
          TextStats.qualityScore(col("text")).as("quality"),
          TextStats.langId(col("text")).as("lang"),
          TextStats.dupTokenFraction(col("text")).as("dup_frac"))
        .withColumn("keep",
          col("quality") >= 0.5 && col("lang") === "en" && col("dup_frac") <= 0.4)),
    "q_dedup_clusters" -> ((s, d) =>
      // the COMPLETE fuzzy-dedup scrub: LSH blocking → exact Jaccard verify
      // → transitive closure → (doc, keeper) map. Runs through the
      // production composition (ScrubPipeline; io=None → lazy one-job
      // dataflow; with a TableIO it snapshot-commits and resumes per stage);
      // one memoized run feeds this row and q_dedup_keep_best
      scrubKeepMap(s, d).select(col("id").as("doc_id"), col("keep_id"))),
    "q_dedup_keep_best" -> ((s, d) => {
      // curation-grade near-dup keep rule: within each verified cluster,
      // keep the highest-QUALITY member (ties → min id), not the min id —
      // composes the scrub closure with the quality signal
      val docs = t(s, d, "documents")
      Dedup.keepBest(scrubKeepMap(s, d),
        docs.select(col("doc_id"),
          TextStats.qualityScore(col("text")).as("q")), "doc_id", "q")
    }),
    "q_decontaminate" -> ((s, d) => {
      // benchmark decontamination at the PRODUCTION n = 13: flag corpus
      // docs sharing any 13-token word n-gram with an eval set. The
      // "benchmark" is 13-token snippets lifted from every 50th doc —
      // planted contamination the scrub must find. (The corpus-wide pass
      // is hash-only; gram strings travel only for the contaminated set.)
      val docs = t(s, d, "documents")
      val bench = docs.filter(col("doc_id") % 50 === 0)
        .select(col("doc_id"),
          concat_ws(" ", slice(split(trim(col("text")), "\\s+"), 1, 13)).as("text"))
      Dedup.decontaminate(docs, bench, "doc_id", "text", n = 13)
        .select(col("id").as("doc_id"), col("n_hits"), col("first_gram"))
    }),
    "q_dedup_incremental" -> ((s, d) => {
      // the daily-crawl shape: dedup a new batch (doc_id ≥ 400) against the
      // accumulated corpus (doc_id < 400) — only unseen fingerprints
      // survive, first within-batch occurrence wins
      val docs = t(s, d, "documents")
      Dedup.incrementalDedup(
        docs.filter(col("doc_id") >= 400),
        docs.filter(col("doc_id") < 400), "doc_id", "text")
    }),
    "q_kg_neo4j_csv" -> ((s, d) => {
      // neo4j-admin-import CSV emission gated END-TO-END: build a small
      // labeled graph from nation/region, write the import bundle (driver
      // header files + parallel headerless parts), read the FILES back as
      // text and return every line — the oracle re-derives the exact CSV
      // strings, so header contract, ';'-label join, and row formatting
      // are all hash-gated
      val out = freshRunDir("neo4j-csv").toString
      val nation = t(s, d, "nation")
      val region = t(s, d, "region")
      val vertices = nation.select(
          concat(lit("nation:"), col("n_nationkey").cast("string")).as("vertex_id"),
          col("n_name").as("name"), array(lit("Nation")).as("labels"))
        .unionByName(region.select(
          concat(lit("region:"), col("r_regionkey").cast("string")).as("vertex_id"),
          col("r_name").as("name"), array(lit("Region")).as("labels")))
      val edges = nation.select(
        concat(lit("nation:"), col("n_nationkey").cast("string")).as("src"),
        concat(lit("region:"), col("n_regionkey").cast("string")).as("dst"),
        lit("IN_REGION").as("rel"))
      Neo4jExport.write(vertices, edges, out)
      s.read.text(s"$out/nodes")
        .select(lit("node").as("kind"), col("value").as("line"))
        .unionByName(s.read.text(s"$out/relationships")
          .select(lit("rel").as("kind"), col("value").as("line")))
        .unionByName(s.read.text(s"$out/nodes_header.csv")
          .select(lit("node_header").as("kind"), col("value").as("line")))
        .unionByName(s.read.text(s"$out/relationships_header.csv")
          .select(lit("rel_header").as("kind"), col("value").as("line")))
    }),
    "q_fuzzy_incremental" -> ((s, d) => {
      // incremental FUZZY dedup over a committed bucketed signature store —
      // the daily-crawl shape for the LSH scrub: batch 0 (doc_id < 400)
      // seeds the store, batch 1 (doc_id ≥ 400) computes signatures only
      // for its own docs and screens them against the committed bands
      // (estimate ≥ 0.7 → drop), then near-dup-clusters within itself.
      // HERMETIC like q_bucketed_join: fresh warehouse dir per run,
      // reaped parent. Store reads are bucket-in-place (DatapipeSpec pin).
      s.sql("DROP DATABASE IF EXISTS graft_fz CASCADE")
      val wh = freshRunDir("fz-wh")
      java.nio.file.Files.delete(wh) // CREATE DATABASE owns (and creates) it
      s.sql(s"CREATE DATABASE graft_fz LOCATION '${wh.toString}'")
      val spec = Bucketing.BucketSpec("skey", 8)
      val docs = t(s, d, "documents")
      val s1 = Dedup.incrementalFuzzyCommit(
        docs.filter(col("doc_id") < 400), "doc_id", "text",
        "graft_fz.fuzzy_sigs", spec)
      val s2 = Dedup.incrementalFuzzyCommit(
        docs.filter(col("doc_id") >= 400), "doc_id", "text",
        "graft_fz.fuzzy_sigs", spec)
      s1.select(lit(0L).as("epoch"), col("id").as("doc_id"))
        .unionAll(s2.select(lit(1L).as("epoch"), col("id").as("doc_id")))
    }),
    "q_dedup_incremental_stream" -> ((s, d) => {
      // the STREAM path of incremental dedup (StreamingDedup: foreachBatch
      // → fp-reduce → anti-join committed keys → epoch-append), surfaced to
      // the driver gate like the other *_stream rows: the accumulated
      // corpus (doc_id < 400) arrives as micro-batch 0, the "daily" batch
      // (doc_id ≥ 400) as micro-batch 1, and epoch snapshot 1 must equal
      // the batch twin (q_dedup_incremental — same oracle). MemoryStream is
      // necessarily fed from the driver — the documented verification seam;
      // the per-batch dedup dataflow itself runs distributed.
      val (oldBatch, newBatch) = docBatches(s, d)
      val dir = freshRunDir("sdedup").toString
      runStream(s, oldBatch, newBatch)(ds =>
        StreamingDedup.start(s, ds.toDF(), s"$dir/table", s"$dir/ckpt"))
      StreamingDedup.landedRange(s, s"$dir/table", 0)
    }),
    "q_fuzzy_incremental_stream" -> ((s, d) => {
      // the STREAM path of incremental FUZZY dedup (StreamingFuzzyDedup:
      // foreachBatch → signature screen vs the committed bucketed store →
      // within-batch closure → epoch-append + store append): the same two
      // fixed batches as q_fuzzy_incremental arrive as micro-batches 0 and
      // 1, and the epoch-tagged survivors must equal the batch twin — same
      // oracle. MemoryStream is fed from the driver (the documented
      // verification seam); each batch's dataflow runs distributed.
      s.sql("DROP DATABASE IF EXISTS graft_fzs CASCADE")
      val wh = freshRunDir("fzs-wh")
      java.nio.file.Files.delete(wh) // CREATE DATABASE owns (and creates) it
      s.sql(s"CREATE DATABASE graft_fzs LOCATION '${wh.toString}'")
      val (oldBatch, newBatch) = docBatches(s, d)
      val dir = freshRunDir("sfuzzy").toString
      runStream(s, oldBatch, newBatch)(ds =>
        StreamingFuzzyDedup.start(s, ds.toDF(), s"$dir/table", s"$dir/ckpt",
          "graft_fzs.fuzzy_sigs", Bucketing.BucketSpec("skey", 8)))
      StreamingFuzzyDedup.landedWithEpochs(s, s"$dir/table")
        .select(col("epoch"), col("id").as("doc_id"))
    }),
    "q_minhash_est" -> ((s, d) => {
      // signature-based Jaccard estimate over the LSH candidates — the
      // cheap verify at lake scale (no per-pair re-tokenization; unbiased,
      // σ = sqrt(j(1−j)/8) at 8 slots)
      val docs = t(s, d, "documents")
      val cands = Dedup.lshCandidates(
        Dedup.lshBandsMd5(docs, "doc_id", "text", 8, 4, 3), maxBucket = 64)
      Dedup.minhashEstimate(cands,
        Dedup.minhashSigsMd5(docs, "doc_id", "text", 8, 3))
    }),
    "q_mix_report" -> ((s, d) => {
      // training-mix composition audit: per (source, lang) doc/token counts
      // and each cell's share of corpus tokens — the report a data-mixture
      // decision reads. One scan + one tiny aggregate; the fused TextCounts
      // walk feeds the token sum.
      val g = t(s, d, "documents")
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(TextStats.tokenCount(col("text")).cast("long")).as("n_tokens"))
        .cut()
      g.crossJoin(g.agg(sum(col("n_tokens")).as("tot")))
        .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
          round(col("n_tokens").cast("double") / col("tot"), 6).as("token_share"))
    }),
    "q_mix_rebalance" -> ((s, d) => {
      // token-budget mix rebalancing: the per-lang keep rates that realize
      // a target token mix (en .5 / zh .2 / de,es,fr .1) without
      // upsampling, plus what the deterministic hash-mod sample actually
      // kept — the manifest a mixture-rebalance job emits
      val docs = t(s, d, "documents")
      val weights = Map("en" -> 0.5, "zh" -> 0.2,
        "de" -> 0.1, "es" -> 0.1, "fr" -> 0.1)
      val tc = TextStats.tokenCount(col("text"))
      val rates = graft.datapipe.Sampling
        .rebalanceRates(docs, "lang", tc, weights)
      val kept = graft.datapipe.Sampling
        .rebalance(docs, "doc_id", "lang", tc, weights)
        .groupBy("lang").agg(count(lit(1)).as("kept_docs"),
          sum(TextStats.tokenCount(col("text")).cast("long")).as("kept_tokens"))
      rates.join(kept, Seq("lang"), "left")
        .select(col("lang"), col("n_tokens"),
          round(col("rate"), 6).as("rate"),
          coalesce(col("kept_docs"), lit(0L)).as("kept_docs"),
          coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"))
    }),
    "q_pack_index" -> ((s, d) =>
      // concat-and-chunk sequence packing: each doc's global token start
      // offset (two-phase distributed prefix sum — NEVER a global-order
      // window; PackingSpec pins no-SinglePartition) and the training
      // sequences it lands in at seqLen=256
      graft.datapipe.Packing.packIndex(
        t(s, d, "documents"), "doc_id", "text", seqLen = 256L)),
    "q_pack_stats" -> ((s, d) =>
      // per-sequence fill report over the same packing: docs touching each
      // sequence + slots filled (== 256 except the final partial one)
      graft.datapipe.Packing.packStats(
        graft.datapipe.Packing.packIndex(
          t(s, d, "documents"), "doc_id", "text", seqLen = 256L), 256L)),
    "q_cdc_dedup" -> ((s, d) =>
      // content-defined chunking dedup: rolling md5-prefix boundaries
      // (shift-resistant, unlike the fixed chunk grid); whole per-doc
      // chunking in ONE projection — only (id, chunk, md5) hashes reach
      // the exchange
      Dedup.cdcDedup(t(s, d, "documents"), "doc_id", "text", avgWords = 32)),
    "q_char_entropy" -> ((s, d) =>
      // information-theoretic junk signal: per-doc char Shannon entropy,
      // one two-phase (doc, char) aggregate — alphabet-bounded exchange
      graft.datapipe.TextStats.charEntropy(
        t(s, d, "documents"), "doc_id", "text")),
    "q_hot_keys" -> ((s, d) =>
      // skew diagnostic: top-10 hottest event users + corpus share —
      // two-phase count + TakeOrderedAndProject, never a full global sort
      graft.datapipe.Profile.hotKeys(t(s, d, "events"), "user_id", k = 10)),
    "q_profile" -> ((s, d) =>
      // per-column null/distinct profile of documents in one unpivot +
      // one aggregate keyed by column name (exact distincts here —
      // approx_count_distinct is the lake-scale swap, same plan shape)
      graft.datapipe.Profile.columnProfile(t(s, d, "documents"),
        Seq("doc_id", "text", "lang", "source", "n_chars"))),
    "q_profile_approx" -> ((s, d) => {
      // the lake-scale profile (HLL sketches, no Expand): DuckDB's HLL
      // differs bit-for-bit, so the gate pins what IS portable — exact
      // n_rows/n_null plus an engine-computed tolerance boolean (approx
      // within ±5% of the exact distinct count) the oracle pins TRUE
      val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
      val docs = t(s, d, "documents")
      graft.datapipe.Profile.columnProfileApprox(docs, cols)
        .join(graft.datapipe.Profile.columnProfile(docs, cols)
          .select(col("col_name"), col("n_distinct")), Seq("col_name"))
        .select(col("col_name"), col("n_rows"), col("n_null"),
          (abs(col("n_distinct_approx") - col("n_distinct"))
            .cast("double") / col("n_distinct") <= 0.05)
            .as("approx_within_5pct"))
    }),
    "q_train_shuffle" -> ((s, d) =>
      // deterministic training-order shuffle: seeded-md5 global permutation
      // rank via the two-phase distributed rank (range partition →
      // per-partition row_number + broadcast count bases) — never
      // row_number over a global window's single reducer
      graft.datapipe.Packing.shuffleOrder(
        t(s, d, "documents"), "doc_id", seed = 42L)),
    "q_lm_bigram" -> ((s, d) => {
      // interpolated bigram LM score: 0.75·P(w|prev) + 0.25·unigram
      // backoff, OOV floor as a shared decimal literal; context totals
      // derived from the bigram aggregate (one corpus tokenization),
      // per-doc bigrams distinct-reduced before the model joins
      val docs = t(s, d, "documents")
      graft.datapipe.LmScore.scoreInterpolated(
        docs,
        graft.datapipe.LmScore.trainProbs(docs, "text", minCount = 3L),
        graft.datapipe.LmScore.trainBigram(docs, "text", minCount = 3L),
        "doc_id", "text")
    }),
    "q_dup_span_scrub" -> ((s, d) =>
      // cross-document exact-substring scrub (Lee et al. shape): every
      // duplicated 8-gram span removed except its first occurrence; grams
      // travel as hashes, canonical pick is min(struct) in the SAME
      // two-phase aggregate as the dup count — no window on the hot key
      graft.datapipe.TextStats.scrubDuplicateSpans(
        t(s, d, "documents"), "doc_id", "text", n = 8)),
    "q_lm_score" -> ((s, d) => {
      // CCNet-shape unigram LM quality score: model trained on the corpus
      // itself (count-threshold pruning — a pure filter, no global top-K
      // sort), then every doc scored by mean token log-prob with an OOV
      // floor. The scoring exchange carries (doc, word, n) distinct-word
      // rows, never raw tokens; the hot-stopword model join is
      // AQE-skew-splittable
      val docs = t(s, d, "documents")
      graft.datapipe.LmScore.score(
        docs, graft.datapipe.LmScore.train(docs, "text", minCount = 3L),
        "doc_id", "text")
    }),
    "q_lm_score_store" -> ((s, d) => {
      // the committed-model form of q_lm_score: train once, commit the
      // pruned model BUCKETED on the word, score from the store — the
      // 100 TB shape where a web-scale vocabulary outgrows broadcast and
      // the model side of the scoring join must read bucket-in-place
      // (DatapipeSpec pins the zero-model-side-Exchange plan). Same
      // result rows as q_lm_score — same oracle.
      s.sql("DROP DATABASE IF EXISTS graft_lm CASCADE")
      val wh = freshRunDir("lm-wh")
      java.nio.file.Files.delete(wh) // CREATE DATABASE owns (and creates) it
      s.sql(s"CREATE DATABASE graft_lm LOCATION '${wh.toString}'")
      val docs = t(s, d, "documents")
      graft.datapipe.LmScore.commitModel(
        graft.datapipe.LmScore.train(docs, "text", minCount = 3L),
        "graft_lm.lm_model", Bucketing.BucketSpec("w", 8))
      graft.datapipe.LmScore.scoreFromStore(docs, "graft_lm.lm_model",
        "doc_id", "text")
    }),
    "q_shard_audit" -> ((s, d) => {
      // end-to-end shard writer: materialize the packing as
      // shard_id-partitioned parquet (4 seqs × 256 tokens per shard) into a
      // fresh temp dir, read it BACK, and audit per-shard docs/tokens/seqs
      // — the oracle recomputes the audit analytically from the same
      // concat-and-chunk rule
      val out = freshRunDir("shard-audit").toString
      graft.datapipe.Packing.writeShards(
        graft.datapipe.Packing.packIndex(
          t(s, d, "documents"), "doc_id", "text", seqLen = 256L),
        s"$out/shards", 256L, seqsPerShard = 4L)
    }),
    "q_source_quality" -> ((s, d) =>
      // per-source curation audit: mean quality (exact decimal mean of the
      // 4-decimal scores — order-independent) + the blocklist flag a
      // curation pass acts on
      t(s, d, "documents")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(TextStats.qualityScore(col("text")).cast("decimal(12,4)")).as("qs"))
        .select(col("source"), col("n_docs"),
          round(col("qs").cast("double") / col("n_docs"), 4).as("mean_quality"),
          (col("qs").cast("double") / col("n_docs") < 0.5).as("low_quality"))),
    "q_quality_quantiles" -> ((s, d) =>
      // per-source quality distribution at the points a curation threshold
      // is read from: EXACT p50/p90 via the bounded-cardinality two-phase
      // count-by-value quantile (quality is 4-decimal ⇒ ≤ 10001 distinct
      // values — the per-key interpolation table is tiny at any corpus
      // size; percentile_approx would not be oracle-reproducible)
      Quantiles.byKey(t(s, d, "documents"), "source",
        TextStats.qualityScore(col("text")), Seq(0.5, 0.9))),
    "q_quality_topp" -> ((s, d) =>
      // the curation ACTION: keep docs at/above their source's p90 quality
      // — per-source thresholds are a tiny broadcast dim, corpus unshuffled
      Quantiles.keepAboveQuantile(t(s, d, "documents"), "source",
          TextStats.qualityScore(col("text")), 0.9)
        .select(col("doc_id"), col("source"))),
    "q_lsh_candidates" -> ((s, d) =>
      // md5 hash family (oracle-reproducible); the bucket-size guard makes
      // the UNCAPPED input tractable even on the dense synthetic vocab
      Dedup.lshCandidates(
        Dedup.lshBandsMd5(t(s, d, "documents"), "doc_id", "text", 8, 4, 3),
        maxBucket = 64)),

    // ---- training-data ops: embeddings ---------------------------------------
    "q_embed_topk" -> ((s, d) => {
      val embs = t(s, d, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      Similarity.bruteForceTopK(
        embs.filter(col("vec_id") < 5), embs.filter(col("vec_id") < 1000),
        "vec_id", "v", k = 3)
    }),
    "q_embed_lsh_topk" -> ((s, d) => {
      val embs = t(s, d, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      Similarity.lshTopK(embs.filter(col("vec_id") < 20), embs, "vec_id", "v", 3)
    }),
    "q_embed_multiprobe" -> ((s, d) => {
      // multi-probe OR-amplification: probe all 1-bit-flip buckets too
      val embs = t(s, d, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      Similarity.lshTopK(embs.filter(col("vec_id") < 20), embs, "vec_id", "v", 3,
        planes = 8, probes = 1)
    }),
    "q_embed_ivf" -> ((s, d) => {
      // IVF cell-probe ANN (deterministic seed centroids; k-means slots in)
      val embs = t(s, d, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      Similarity.ivfTopK(embs.filter(col("vec_id") < 20), embs, "vec_id", "v", 3,
        nCentroids = 16, nProbe = 2)
    }),
    "q_embed_ivf_trained" -> ((s, d) => {
      // IVF over TRAINED centroids (Lloyd's k-means) in the gate. Lloyd's
      // is not portably SQL-reproducible (order-dependent double means), so
      // the row is a SELF-GATE cross-checked on everything an external
      // engine CAN reproduce: the oracle independently recomputes the
      // seed-rule recall@10 and the seed-rule QUANTIZATION ERROR, and pins
      // trained_qe_le_seed = TRUE — guaranteed BY CONSTRUCTION: trainCentroids
      // runs spherical k-means (normalized-mean update — the one monotone for
      // the cosine objective) AND returns the best-QE iterate including the
      // seed layout itself, compared with exact decimal sums; the hash goes
      // red if training ever regresses the objective. (Recall itself is NOT
      // a monotone gate: on
      // near-orthogonal synthetic vectors the seed rule's unbalanced cells
      // cover more corpus per probe, trading compute for recall — measured.)
      // The trained ivfTopK path still runs end-to-end: n_trained_rows pins
      // a full top-10 per query out of the trained cell layout. Exact
      // decimal sums keep every comparison order-independent.
      val embs = t(s, d, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      val qs = embs.filter(col("vec_id") < 20)
      val corpus = embs.select(col("vec_id").as("id"), col("v"))
      // the training loop already paid for the seed AND best QE sums —
      // reuse its audit instead of two more full assignment passes, and
      // 3 Lloyd's iterations suffice for the gate (the ≤-seed invariant is
      // by-construction, not iteration-count-dependent)
      val trained = Similarity.trainCentroidsAudited(
        embs, "vec_id", "v", k = 16, iters = 3)
      // trained.centroids is a k-row LocalRelation — no checkpoint needed
      val cent = trained.centroids
      val exact = Similarity.bruteForceTopK(qs, embs, "vec_id", "v", 10)
      val rSeed = Similarity.recallAtK(
        Similarity.ivfTopK(qs, embs, "vec_id", "v", 10, nCentroids = 16,
          nProbe = 2), exact, 10)
      val nTrained = Similarity.ivfTopK(qs, embs, "vec_id", "v", 10,
          nCentroids = 16, nProbe = 2, centroids = Some(cent))
        .agg(count(lit(1)).as("n_trained_rows"))
      rSeed.agg(count(lit(1)).as("n_queries"),
          sum(col("recall").cast("decimal(8,4)")).as("ss"))
        .withColumn("qe_seed", lit(trained.seedQe))
        .withColumn("qe_trained", lit(trained.bestQe))
        .crossJoin(corpus.agg(count(lit(1)).as("n_vec")))
        .crossJoin(nTrained)
        .select(col("n_queries"), col("n_vec"),
          round(col("ss").cast("double") / col("n_queries"), 4).as("seed_recall"),
          round(col("qe_seed").cast("double") / col("n_vec"), 6).as("seed_qe"),
          (col("qe_trained") <= col("qe_seed")).as("trained_qe_le_seed"),
          col("n_trained_rows"))
    }),
    "q_ann_recall" -> ((s, d) => {
      // the ANN self-check: recall@10 of multi-probe LSH vs brute force on
      // a sampled query slice (both computed distributed; the slice is tiny)
      val embs = t(s, d, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      val qs = embs.filter(col("vec_id") < 20)
      Similarity.recallAtK(
        Similarity.lshTopK(qs, embs, "vec_id", "v", 10, planes = 8, probes = 1),
        Similarity.bruteForceTopK(qs, embs, "vec_id", "v", 10), 10)
    }),
    "q_embed_neardup" -> ((s, d) => {
      val embs = t(s, d, "embeddings")
        .filter(col("vec_id") < 500)
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      // synthetic embeddings are random (near-orthogonal); 0.3 exercises the
      // bucket-join + verify path with a non-empty result. planesFor(500)=4
      // — the corpus-sized bucket-space rule, matching the oracle's planes=4
      Dedup.embeddingNearDups(embs, "vec_id", "v", threshold = 0.3,
        planes = Dedup.planesFor(500))
    }),

    // ---- multimodal plumbing ---------------------------------------------------
    "q_media_meta" -> ((s, d) =>
      Multimodal.mediaFromDocs(t(s, d, "documents"))
        .select(col("doc_id"), col("kind"), col("mime"),
          octet_length(col("payload")).as("n_bytes"))),
    "q_media_features" -> ((s, d) =>
      // image rows: REAL PNG payloads decoded through JDK ImageIO; audio
      // rows: REAL PCM-WAV payloads decoded through JDK AudioSystem. Both
      // synthesis functions are closed-form, so the oracle verifies the
      // decoded dims/means and sample-rate/frames/RMS analytically — no
      // codec needed on its side. video: stride-sum stub features the
      // oracle recomputes from hex(payload). (image/audio n_bytes and f0
      // are NULL — container encoding size is codec-internal, not an
      // engine-portable content invariant.)
      Multimodal.extractFeatures(s,
          Multimodal.mediaWithRealMedia(s, t(s, d, "documents")))
        .toDF().select(col("doc_id"), col("kind"),
          when(col("kind") === "video", col("n_bytes")).as("n_bytes"),
          when(col("kind") === "video", col("feature")(0).cast("long")).as("f0"),
          col("img_w"), col("img_h"),
          col("mean_r"), col("mean_g"), col("mean_b"),
          col("audio_sr"), col("audio_frames"), col("audio_rms"))),
    "q_frame_sample" -> ((s, d) =>
      Multimodal.sampleFrames(Multimodal.mediaFromDocs(t(s, d, "documents")))),

    // ---- KG pipeline on its own corpus (DuckDB oracles in KgOracleSql read
    // the corpus tables Verify materializes; the P/R gate is in sbt test) ---
    "q_kg_triples" -> ((s, _) => kgOutputs(s).triples),
    "q_kg_vertices" -> ((s, _) =>
      // portable surface: md5 id (DuckDB lacks xxhash64) and a sortable
      // scalar labels column (the driver's canonicalizer can't sort arrays)
      kgOutputs(s).vertices.select(md5(col("name")).as("vertex_id"),
        col("name"), concat_ws(",", col("labels")).as("labels_s"))),
    "q_kg_tree_graph" -> ((s, _) => {
      // BlogTreeInNeo4j main from the planted hot root
      val docs = CorpusData.docsDF(s, kgCfg)
      TreeGraph.edges(
        Normalize.blogs(docs).filter(col("valid")),
        Normalize.comments(docs).filter(col("valid")),
        Seq(Corpus.codedMid(0, 0)))
    }),
    "q_episodes" -> ((s, _) => {
      val docs = CorpusData.docsDF(s, kgCfg)
      val blogs = Normalize.blogs(docs).filter(col("valid"))
      val edges = blogs.select("mid", "repost_id")
      Export.episodesFull(edges,
        blogs.filter(col("keyword").isNotNull).select("mid", "keyword"),
        TreeAnalytics.rootsAndLevels(edges),
        Export.graphEntityIds(kgOutputs(s).triples))
    }),
    "q_longest_path" -> ((s, _) => {
      val e = blogEdges(s)
      TreeAnalytics.longestPath(e, TreeAnalytics.rootsAndLevels(e))
    }),
    "q_link_scores" -> ((s, _) => {
      // north star: batched entity-link scoring per partition (broadcast
      // dims; the crawl path keeps the reference's all-candidates semantics)
      val spans = KgPipeline.textSpans(CorpusData.docsDF(s, kgCfg))
      val m2e = CorpusData.ment2entDF(s, kgCfg)
        .select(col("mention"), explode(col("entities")).as("entity"))
      val dict = m2e.select("mention").distinct()
        .collect().map(_.getString(0)).toSeq
      val det = Mentions.detect(s, spans, dict)
        .join(spans, Seq("doc_id", "span_offset"))
      Linker.scoreCandidates(det, m2e,
        Linker.entityProfiles(CorpusData.avpairDF(s, kgCfg)))
    }),
    "q_kg_canon_map" -> ((s, _) => {
      val dict = CorpusData.ment2entDF(s, kgCfg)
      val (mentions, m2e) = Mentions.seedMentions(s,
        KgPipeline.textSpans(CorpusData.docsDF(s, kgCfg)), dict)
      val kb = KbExpand.expand(s, mentions, dict,
        CorpusData.avpairDF(s, kgCfg), Rules.recursivePreds,
        m2eCollected = m2e)
      Canon.canonicalMap(kb, Rules.categoryPred, Rules.aliasPreds)
    }),
    "q_tree_depth_histogram" -> ((s, _) =>
      TreeAnalytics.depthHistogram(TreeAnalytics.rootsAndLevels(blogEdges(s)))),
    "q_tree_tier_histogram" -> ((s, _) =>
      TreeAnalytics.tierHistogram(TreeAnalytics.rootsAndLevels(blogEdges(s)), minDepth = 1)),
    "q_tree_paths" -> ((s, _) => {
      val e = blogEdges(s)
      val labels = TreeAnalytics.rootsAndLevels(e)
      TreeAnalytics.pathsAtDistance(e,
        labels.filter(col("level") === 0).select("mid"), 2)
    }),
    "q_export_graph" -> ((s, _) =>
      Export.integerGraph(s, kgOutputs(s).triples))
  )

  def oracleSql: Map[String, String] = Map(
    "q_scan_filter_project" ->
      "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_quantity > 45 AND l_returnflag = 'R'",
    "q_agg_groupby" ->
      ("SELECT l_returnflag, l_linestatus, " +
        "round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty, count(*) AS cnt, " +
        "round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE), 2) AS revenue " +
        "FROM lineitem GROUP BY 1, 2"),
    "q_agg_stats" ->
      ("SELECT o_orderpriority, count(*) AS cnt, " +
        "round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*), 2) AS avg_price, " +
        "round(max(o_totalprice), 2) AS max_price FROM orders GROUP BY 1"),
    "q_tier_histogram" ->
      "SELECT CAST(floor(value / 10) AS INT) AS tier, count(*) AS n FROM events GROUP BY 1",
    "q_agg_argmax" ->
      ("SELECT o_orderpriority, max_by(o_orderkey, o_totalprice) AS top_order, " +
        "min_by(o_orderkey, o_totalprice) AS bottom_order FROM orders GROUP BY 1"),
    "q_last_write_wins" ->
      ("SELECT source, max_by(doc_id, doc_id) AS doc_id, max_by(lang, doc_id) AS lang " +
        "FROM documents GROUP BY 1"),
    "q_rlike_join" ->
      ("SELECT a.n_name AS name_a, b.n_name AS name_b FROM nation a JOIN nation b " +
        "ON regexp_matches(a.n_name, '^' || substr(b.n_name, 1, 2)) AND a.n_name <> b.n_name"),
    "q_join_broadcast" ->
      ("SELECT n_name AS nation, count(*) AS n_orders, " +
        "round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 1) AS total " +
        "FROM orders JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey GROUP BY 1"),
    "q_semi_join" ->
      "SELECT c_custkey, c_name FROM customer c WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)",
    "q_anti_join" ->
      ("SELECT c_custkey, c_name FROM customer c WHERE NOT EXISTS " +
        "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000)"),
    "q_selfjoin_adjacent" ->
      ("SELECT a.l_orderkey, a.l_linenumber AS ln1, b.l_linenumber AS ln2, " +
        "round(a.l_extendedprice + b.l_extendedprice, 2) AS pair_price FROM lineitem a " +
        "JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND b.l_linenumber = a.l_linenumber + 1"),
    "q_contains_filter" ->
      "SELECT p_brand AS brand, count(*) AS n FROM part WHERE p_type LIKE '%ECONOMY%' GROUP BY 1",
    "q_union_dedup" ->
      ("SELECT name, count(*) AS n FROM (SELECT c_name AS name FROM customer " +
        "UNION ALL SELECT s_name AS name FROM supplier) GROUP BY 1"),
    "q_window_topk" ->
      ("SELECT l_suppkey, l_orderkey, l_linenumber, price, rn FROM (" +
        "SELECT l_suppkey, l_orderkey, l_linenumber, round(l_extendedprice, 2) AS price, " +
        "row_number() OVER (PARTITION BY l_suppkey ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn " +
        "FROM lineitem) WHERE rn <= 3"),
    "q_window_running" ->
      ("SELECT l_suppkey, l_orderkey, l_linenumber, round(sum(l_quantity) OVER (" +
        "PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_qty " +
        "FROM lineitem WHERE l_orderkey < 3000"),
    "q_rownum_ids" ->
      "SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS ent_id FROM documents",
    "q_explode_tokens" ->
      ("SELECT token, count(*) AS n FROM (SELECT unnest(string_split(text, ' ')) AS token " +
        "FROM documents) GROUP BY 1"),
    "q_regex_extract" ->
      "SELECT event_type, regexp_extract(props, '([0-9]+)', 1) AS num, count(*) AS n FROM events GROUP BY 1, 2",
    "q_json_extract" ->
      ("SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS bucket, count(*) AS n " +
        "FROM events GROUP BY 1"),
    "q_time_buckets" ->
      ("SELECT strftime(ts, '%Y-%m-%d %H') AS hour_bucket, count(*) AS n, " +
        "round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 2) AS sum_value FROM events GROUP BY 1"),
    "q_event_windows" ->
      ("SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS window_start, " +
        "event_type, count(*) AS n FROM events GROUP BY 1, 2"),
    // the stream path must emit EXACTLY the batch twin's windows
    "q_event_windows_stream" ->
      ("SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS window_start, " +
        "event_type, count(*) AS n FROM events GROUP BY 1, 2"),
    "q_sessionize" ->
      ("WITH o AS (SELECT event_type AS key, CAST(floor(epoch(ts)) AS BIGINT) AS ts FROM events), " +
        "b AS (SELECT key, ts, CASE WHEN lag(ts) OVER (PARTITION BY key ORDER BY ts) IS NULL " +
        "OR ts - lag(ts) OVER (PARTITION BY key ORDER BY ts) > 3600 THEN 1 ELSE 0 END AS brk FROM o), " +
        "s AS (SELECT key, ts, CAST(sum(brk) OVER (PARTITION BY key ORDER BY ts " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT) AS sid FROM b) " +
        "SELECT key, sid, min(ts) AS start_ts, max(ts) AS end_ts, count(*) AS n " +
        "FROM s GROUP BY 1, 2"),
    // the stream path must emit EXACTLY the batch twin's sessions
    "q_sessionize_stream" ->
      ("WITH o AS (SELECT event_type AS key, CAST(floor(epoch(ts)) AS BIGINT) AS ts FROM events), " +
        "b AS (SELECT key, ts, CASE WHEN lag(ts) OVER (PARTITION BY key ORDER BY ts) IS NULL " +
        "OR ts - lag(ts) OVER (PARTITION BY key ORDER BY ts) > 3600 THEN 1 ELSE 0 END AS brk FROM o), " +
        "s AS (SELECT key, ts, CAST(sum(brk) OVER (PARTITION BY key ORDER BY ts " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT) AS sid FROM b) " +
        "SELECT key, sid, min(ts) AS start_ts, max(ts) AS end_ts, count(*) AS n " +
        "FROM s GROUP BY 1, 2"),
    "q_dedup_exact" ->
      ("SELECT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp, " +
        "count(*) AS n_dups, min(doc_id) AS keep_id FROM documents GROUP BY 1"),
    "q_fingerprint" ->
      "SELECT doc_id, md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp FROM documents",
    "q_text_stats" ->
      ("SELECT doc_id, len(string_split_regex(trim(text), '\\s+')) AS n_tokens, " +
        "len(list_distinct(string_split_regex(trim(text), '\\s+'))) AS n_distinct, " +
        "length(text) AS n_chars_m FROM documents"),
    "q_quality_score" ->
      ("WITH s AS (SELECT doc_id, length(text) AS n, " +
        "length(text) - length(regexp_replace(text, '[\\.,;:!\\?]', '', 'g')) AS punct, " +
        "string_split_regex(trim(text), '\\s+') AS toks FROM documents) " +
        "SELECT doc_id, round(" +
        "(CASE WHEN n BETWEEN 50 AND 2000 THEN 1.0 WHEN n BETWEEN 10 AND 5000 THEN 0.5 ELSE 0.0 END) * 0.4 + " +
        "least(CAST(len(list_filter(toks, x -> lower(x) IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE) " +
        "/ greatest(len(toks), 1) * 4.0, 1.0) * 0.4 + " +
        "(1.0 - least(CAST(punct AS DOUBLE) / greatest(n, 1) * 10.0, 1.0)) * 0.2, 4) AS quality FROM s"),
    "q_subword_count" ->
      ("SELECT doc_id, CAST(sum(CAST(ceil(length(w) / 4.0) AS INT)) AS INT) AS n_subwords " +
        "FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w FROM documents) " +
        "GROUP BY 1"),
    "q_langid" ->
      ("WITH s AS (SELECT length(text) - length(regexp_replace(text, '[\\x{4e00}-\\x{9fff}]', '', 'g')) AS cjk, " +
        "greatest(length(text), 1) AS n, " +
        "CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), " +
        "x -> lower(x) IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE) " +
        "/ greatest(len(string_split_regex(trim(text), '\\s+')), 1) AS stop_ratio FROM documents) " +
        "SELECT CASE WHEN CAST(cjk AS DOUBLE) / n > 0.3 THEN 'zh' " +
        "WHEN stop_ratio > 0.02 THEN 'en' ELSE 'unk' END AS lang_pred, count(*) AS n FROM s GROUP BY 1"),
    "q_minhash" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
        "s AS (SELECT doc_id, md5('0' || array_to_string(toks[i:i+2], ' ')) AS h0, " +
        "md5('1' || array_to_string(toks[i:i+2], ' ')) AS h1 " +
        "FROM t, unnest(generate_series(1, greatest(len(toks) - 2, 1))) AS u(i)) " +
        "SELECT doc_id, min(h0) AS mh0, min(h1) AS mh1 FROM s GROUP BY 1"),
    "q_simhash" ->
      ("WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents), " +
        "h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS hv FROM t), " +
        "b AS (SELECT doc_id, i AS bit, sum(CASE WHEN (hv >> i) & 1 = 1 THEN 1 ELSE -1 END) AS vote " +
        "FROM h, unnest(generate_series(0, 15)) AS u(i) GROUP BY 1, 2) " +
        "SELECT doc_id, CAST(sum(CASE WHEN vote > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS simhash FROM b GROUP BY 1"),
    "q_lsh_candidates" -> lshCandidatesSql,
    "q_dedup_incremental" ->
      ("WITH fp AS (SELECT doc_id, md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp FROM documents), " +
        "k AS (SELECT DISTINCT fp FROM fp WHERE doc_id < 400), " +
        "b AS (SELECT fp, min(doc_id) AS id FROM fp WHERE doc_id >= 400 GROUP BY 1) " +
        "SELECT b.id, b.fp FROM b WHERE NOT EXISTS (SELECT 1 FROM k WHERE k.fp = b.fp)"),
    // the stream path must land EXACTLY the batch twin's epoch-tagged
    // survivors (same oracle as q_fuzzy_incremental)
    "q_fuzzy_incremental_stream" -> fuzzyIncrementalSql,
    "q_kg_neo4j_csv" ->
      ("SELECT 'node' AS kind, 'nation:' || CAST(n_nationkey AS VARCHAR) || ',' || n_name || ',Nation' AS line FROM nation " +
        "UNION ALL SELECT 'node', 'region:' || CAST(r_regionkey AS VARCHAR) || ',' || r_name || ',Region' FROM region " +
        "UNION ALL SELECT 'rel', 'nation:' || CAST(n_nationkey AS VARCHAR) || ',region:' || CAST(n_regionkey AS VARCHAR) || ',IN_REGION' FROM nation " +
        "UNION ALL SELECT 'node_header', ':ID,name,:LABEL' " +
        "UNION ALL SELECT 'rel_header', ':START_ID,:END_ID,:TYPE'"),
    "q_fuzzy_incremental" -> fuzzyIncrementalSql,
    // the stream path must land EXACTLY the batch twin's survivors in its
    // second epoch snapshot
    "q_dedup_incremental_stream" ->
      ("WITH fp AS (SELECT doc_id, md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp FROM documents), " +
        "k AS (SELECT DISTINCT fp FROM fp WHERE doc_id < 400), " +
        "b AS (SELECT fp, min(doc_id) AS id FROM fp WHERE doc_id >= 400 GROUP BY 1) " +
        "SELECT b.id, b.fp FROM b WHERE NOT EXISTS (SELECT 1 FROM k WHERE k.fp = b.fp)"),
    "q_minhash_est" ->
      (lshCtes +
        ", cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2 " +
        "FROM bk a JOIN ok USING (band, key) " +
        "JOIN bk b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id) " +
        "SELECT c.id1, c.id2, " +
        "round(sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) / 8.0, 4) AS est_jaccard " +
        "FROM cand c JOIN sg sa ON sa.doc_id = c.id1 " +
        "JOIN sg sb ON sb.doc_id = c.id2 AND sa.hi = sb.hi GROUP BY 1, 2"),
    "q_mix_report" ->
      ("WITH g AS (SELECT source, lang, count(*) AS n_docs, " +
        "sum(len(string_split_regex(trim(text), '\\s+'))) AS n_tokens FROM documents GROUP BY 1, 2) " +
        "SELECT source, lang, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens, " +
        "round(CAST(n_tokens AS DOUBLE) / (SELECT sum(n_tokens) FROM g), 6) AS token_share FROM g"),
    "q_mix_rebalance" ->
      ("WITH t AS (SELECT doc_id, lang, " +
        "len(string_split_regex(trim(text), '\\s+')) AS tc FROM documents), " +
        "g AS (SELECT lang, sum(tc) AS n_tokens FROM t GROUP BY 1), " +
        "w AS (SELECT lang, n_tokens, CAST(CASE lang WHEN 'en' THEN 0.5 " +
        "WHEN 'zh' THEN 0.2 WHEN 'de' THEN 0.1 WHEN 'es' THEN 0.1 " +
        "WHEN 'fr' THEN 0.1 ELSE 0.0 END AS DOUBLE) AS w FROM g), " +
        "x AS (SELECT min(CAST(n_tokens AS DOUBLE) / w) AS x FROM w WHERE w > 0), " +
        "r AS (SELECT lang, n_tokens, least(CAST(1.0 AS DOUBLE), " +
        "w * x.x / CAST(n_tokens AS DOUBLE)) AS rate FROM w CROSS JOIN x WHERE w > 0), " +
        "k AS (SELECT t.lang, count(*) AS kept_docs, sum(t.tc) AS kept_tokens " +
        "FROM t JOIN r USING (lang) " +
        "WHERE ('0x' || substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 8))::BIGINT / 4294967296.0 < r.rate " +
        "GROUP BY 1) " +
        "SELECT r.lang, CAST(r.n_tokens AS BIGINT) AS n_tokens, " +
        "round(r.rate, 6) AS rate, coalesce(k.kept_docs, 0) AS kept_docs, " +
        "CAST(coalesce(k.kept_tokens, 0) AS BIGINT) AS kept_tokens " +
        "FROM r LEFT JOIN k USING (lang)"),
    "q_pack_index" ->
      ("WITH t AS (SELECT doc_id, CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens FROM documents), " +
        "f AS (SELECT * FROM t WHERE n_tokens > 0), " +
        "o AS (SELECT doc_id, n_tokens, CAST(COALESCE(SUM(n_tokens) OVER " +
        "(ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset FROM f) " +
        "SELECT doc_id, n_tokens, start_offset, start_offset // 256 AS seq_first, " +
        "(start_offset + n_tokens - 1) // 256 AS seq_last, " +
        "(start_offset + n_tokens - 1) // 256 - start_offset // 256 + 1 AS n_seqs FROM o"),
    "q_pack_stats" ->
      ("WITH t AS (SELECT doc_id, CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens FROM documents), " +
        "f AS (SELECT * FROM t WHERE n_tokens > 0), " +
        "o AS (SELECT doc_id, n_tokens, CAST(COALESCE(SUM(n_tokens) OVER " +
        "(ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset FROM f), " +
        "e AS (SELECT start_offset, start_offset + n_tokens - 1 AS e_off, " +
        "unnest(generate_series(start_offset // 256, (start_offset + n_tokens - 1) // 256)) AS seq_id FROM o) " +
        "SELECT seq_id, count(*) AS n_docs, " +
        "CAST(SUM(LEAST(e_off, (seq_id + 1) * 256 - 1) - GREATEST(start_offset, seq_id * 256) + 1) AS BIGINT) AS n_tokens " +
        "FROM e GROUP BY 1"),
    "q_cdc_dedup" ->
      ("WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS lst FROM documents), " +
        "w0 AS (SELECT doc_id, lst, unnest(generate_series(1, len(lst))) AS pos FROM t), " +
        "w AS (SELECT doc_id, pos, lst[pos] AS w FROM w0), " +
        "b AS (SELECT doc_id, pos, w, CASE WHEN ('0x' || substr(md5(w), 1, 8))::BIGINT % 32 = 0 AND pos > 1 THEN 1 ELSE 0 END AS cut FROM w), " +
        "c AS (SELECT doc_id, pos, w, SUM(cut) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS chunk_id FROM b), " +
        "g AS (SELECT doc_id, chunk_id, md5(string_agg(w, ' ' ORDER BY pos)) AS h, count(*) AS n_words FROM c GROUP BY 1, 2), " +
        "d1 AS (SELECT h, count(*) AS n_copies, min(doc_id) AS keep_doc, CAST(min(n_words) AS BIGINT) AS n_words FROM g GROUP BY 1), " +
        "d2 AS (SELECT g.h, CAST(min(g.chunk_id) AS BIGINT) AS keep_chunk FROM g JOIN d1 ON g.h = d1.h AND g.doc_id = d1.keep_doc GROUP BY 1) " +
        "SELECT d1.h, d1.n_copies, d1.keep_doc, d2.keep_chunk, d1.n_words FROM d1 JOIN d2 ON d1.h = d2.h"),
    "q_char_entropy" ->
      ("WITH t AS (SELECT doc_id, text FROM documents WHERE length(text) > 0), " +
        "c AS (SELECT doc_id, substr(text, i, 1) AS ch FROM t, unnest(generate_series(1, length(text))) AS u(i)), " +
        "g AS (SELECT doc_id, ch, count(*) AS n FROM c GROUP BY 1, 2) " +
        "SELECT doc_id AS id, CAST(sum(n) AS BIGINT) AS n_chars, " +
        "round(ln(sum(n)) - sum(n * ln(n)) / sum(n), 6) AS char_entropy " +
        "FROM g GROUP BY 1"),
    "q_hot_keys" ->
      ("SELECT user_id AS key, count(*) AS n, " +
        "round(count(*) / (SELECT count(*) FROM events), 6) AS share " +
        "FROM events GROUP BY 1 ORDER BY n DESC, key LIMIT 10"),
    "q_profile" ->
      ("WITH u AS (" +
        "SELECT 'doc_id' AS col_name, doc_id::VARCHAR AS v FROM documents " +
        "UNION ALL SELECT 'text', text FROM documents " +
        "UNION ALL SELECT 'lang', lang FROM documents " +
        "UNION ALL SELECT 'source', source FROM documents " +
        "UNION ALL SELECT 'n_chars', n_chars::VARCHAR FROM documents) " +
        "SELECT col_name, count(*) AS n_rows, " +
        "CAST(count(*) FILTER (WHERE v IS NULL) AS BIGINT) AS n_null, " +
        "CAST(count(DISTINCT v) AS BIGINT) AS n_distinct FROM u GROUP BY 1"),
    "q_profile_approx" ->
      ("WITH u AS (" +
        "SELECT 'doc_id' AS col_name, doc_id::VARCHAR AS v FROM documents " +
        "UNION ALL SELECT 'text', text FROM documents " +
        "UNION ALL SELECT 'lang', lang FROM documents " +
        "UNION ALL SELECT 'source', source FROM documents " +
        "UNION ALL SELECT 'n_chars', n_chars::VARCHAR FROM documents) " +
        "SELECT col_name, count(*) AS n_rows, " +
        "CAST(count(*) FILTER (WHERE v IS NULL) AS BIGINT) AS n_null, " +
        "TRUE AS approx_within_5pct FROM u GROUP BY 1"),
    "q_train_shuffle" ->
      ("SELECT doc_id, CAST(row_number() OVER (ORDER BY " +
        "('0x' || substr(md5('42#' || doc_id), 1, 15))::BIGINT, doc_id) - 1 " +
        "AS BIGINT) AS shuffle_pos FROM documents"),
    "q_lm_bigram" ->
      ("WITH tok0 AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l0 FROM documents), " +
        "tkf AS (SELECT doc_id, list_filter(l0, x -> len(x) > 0) AS tk FROM tok0), " +
        "b AS (SELECT doc_id, tk, len(tk) AS nt FROM tkf WHERE len(tk) > 0), " +
        "u0 AS (SELECT unnest(tk) AS w FROM b), " +
        "ucnt AS (SELECT w, count(*) AS c FROM u0 GROUP BY 1), " +
        "utot AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM ucnt), " +
        "uni AS (SELECT w, c / t AS p1 FROM ucnt, utot WHERE c >= 3), " +
        "bg AS (SELECT doc_id, tk[t-1] AS w1, tk[t] AS w2 FROM b, unnest(generate_series(2, nt)) AS s(t) WHERE nt >= 2), " +
        "c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2), " +
        "cctx AS (SELECT w1, CAST(sum(c2) AS DOUBLE) AS cc FROM c2 GROUP BY 1), " +
        "big AS (SELECT c2.w1, c2.w2, c2.c2 / cctx.cc AS pc FROM c2 JOIN cctx USING (w1) WHERE c2.c2 >= 3), " +
        "fst AS (SELECT b.doc_id, b.nt, ln(coalesce(u.p1, 6.14421235332821e-6)) AS t1 FROM b LEFT JOIN uni u ON u.w = b.tk[1]), " +
        "per AS (SELECT doc_id, w1, w2, count(*) AS n FROM bg GROUP BY 1, 2, 3), " +
        "s2 AS (SELECT per.doc_id, sum(per.n * ln(0.75 * coalesce(big.pc, 0.0) + 0.25 * coalesce(u.p1, 6.14421235332821e-6))) AS sum2 " +
        "FROM per LEFT JOIN big ON per.w1 = big.w1 AND per.w2 = big.w2 LEFT JOIN uni u ON u.w = per.w2 GROUP BY 1) " +
        "SELECT f.doc_id AS id, CAST(f.nt AS BIGINT) AS n_tokens, " +
        "round((f.t1 + coalesce(s2.sum2, 0.0)) / f.nt, 6) AS avg_logp " +
        "FROM fst f LEFT JOIN s2 ON f.doc_id = s2.doc_id"),
    "q_dup_span_scrub" ->
      ("WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS lst FROM documents), " +
        "s AS (SELECT doc_id, lst, len(lst) AS nt FROM t), " +
        "g AS (SELECT doc_id, nt, i, md5(array_to_string(lst[i:i+7], ' ')) AS gh " +
        "FROM s, unnest(generate_series(1, greatest(nt - 7, 1))) AS u(i)), " +
        "d1 AS (SELECT gh, count(*) AS c, min(doc_id) AS kd FROM g GROUP BY 1), " +
        "d2 AS (SELECT g.gh, min(g.i) AS ki FROM g JOIN d1 ON g.gh = d1.gh AND g.doc_id = d1.kd WHERE d1.c >= 2 GROUP BY 1), " +
        "o AS (SELECT g.doc_id, g.nt, g.i FROM g JOIN d1 ON g.gh = d1.gh JOIN d2 ON g.gh = d2.gh " +
        "WHERE d1.c >= 2 AND NOT (g.doc_id = d1.kd AND g.i = d2.ki)), " +
        "cov AS (SELECT DISTINCT doc_id, p FROM o, unnest(generate_series(i, least(i + 7, nt))) AS v(p)), " +
        "w AS (SELECT doc_id, nt, pos, lst[pos] AS w FROM s, unnest(generate_series(1, nt)) AS u(pos)), " +
        "k AS (SELECT w.doc_id, w.nt, w.pos, w.w, cov.p IS NULL AS keep FROM w LEFT JOIN cov ON w.doc_id = cov.doc_id AND w.pos = cov.p) " +
        "SELECT doc_id AS id, CAST(any_value(nt) AS BIGINT) AS n_tokens, " +
        "CAST(count(*) FILTER (WHERE NOT keep) AS BIGINT) AS n_removed, " +
        "md5(coalesce(string_agg(w, ' ' ORDER BY pos) FILTER (WHERE keep), '')) AS clean_md5 " +
        "FROM k GROUP BY doc_id"),
    "q_lm_score" -> lmScoreSql,
    // identical result contract: the store changes the JOIN layout, not
    // one output value
    "q_lm_score_store" -> lmScoreSql,
    "q_shard_audit" ->
      ("WITH t AS (SELECT doc_id, CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens FROM documents), " +
        "f AS (SELECT * FROM t WHERE n_tokens > 0), " +
        "o AS (SELECT doc_id, n_tokens, CAST(COALESCE(SUM(n_tokens) OVER " +
        "(ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset FROM f), " +
        "e AS (SELECT start_offset, start_offset + n_tokens - 1 AS e_off, " +
        "start_offset // 256 AS seq_first, (start_offset + n_tokens - 1) // 256 AS seq_last, " +
        "unnest(generate_series(start_offset // 1024, (start_offset + n_tokens - 1) // 1024)) AS shard_id FROM o) " +
        "SELECT shard_id, count(*) AS n_docs, " +
        "CAST(SUM(LEAST(e_off, (shard_id + 1) * 1024 - 1) - GREATEST(start_offset, shard_id * 1024) + 1) AS BIGINT) AS n_tokens, " +
        "max(LEAST(seq_last, (shard_id + 1) * 4 - 1)) - min(GREATEST(seq_first, shard_id * 4)) + 1 AS n_seqs " +
        "FROM e GROUP BY 1"),
    "q_source_quality" ->
      ("WITH s AS (SELECT doc_id, source, length(text) AS n, " +
        "length(text) - length(regexp_replace(text, '[\\.,;:!\\?]', '', 'g')) AS punct, " +
        "string_split_regex(trim(text), '\\s+') AS toks FROM documents), " +
        "q AS (SELECT source, round(" +
        "(CASE WHEN n BETWEEN 50 AND 2000 THEN 1.0 WHEN n BETWEEN 10 AND 5000 THEN 0.5 ELSE 0.0 END) * 0.4 + " +
        "least(CAST(len(list_filter(toks, x -> lower(x) IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE) " +
        "/ greatest(len(toks), 1) * 4.0, 1.0) * 0.4 + " +
        "(1.0 - least(CAST(punct AS DOUBLE) / greatest(n, 1) * 10.0, 1.0)) * 0.2, 4) AS quality FROM s), " +
        "g AS (SELECT source, count(*) AS n_docs, sum(CAST(quality AS DECIMAL(12,4))) AS qs FROM q GROUP BY 1) " +
        "SELECT source, n_docs, round(CAST(qs AS DOUBLE) / n_docs, 4) AS mean_quality, " +
        "(CAST(qs AS DOUBLE) / n_docs < 0.5) AS low_quality FROM g"),
    "q_quality_quantiles" ->
      // independent check: DuckDB's own continuous-quantile aggregate over
      // per-doc qualities vs the engine's count-by-value interpolation
      ("WITH s AS (SELECT doc_id, source, length(text) AS n, " +
        "length(text) - length(regexp_replace(text, '[\\.,;:!\\?]', '', 'g')) AS punct, " +
        "string_split_regex(trim(text), '\\s+') AS toks FROM documents), " +
        "q AS (SELECT source, round(" +
        "(CASE WHEN n BETWEEN 50 AND 2000 THEN 1.0 WHEN n BETWEEN 10 AND 5000 THEN 0.5 ELSE 0.0 END) * 0.4 + " +
        "least(CAST(len(list_filter(toks, x -> lower(x) IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE) " +
        "/ greatest(len(toks), 1) * 4.0, 1.0) * 0.4 + " +
        "(1.0 - least(CAST(punct AS DOUBLE) / greatest(n, 1) * 10.0, 1.0)) * 0.2, 4) AS quality FROM s) " +
        "SELECT source, count(*) AS n_rows, " +
        "round(quantile_cont(quality, 0.5), 4) AS q50, " +
        "round(quantile_cont(quality, 0.9), 4) AS q90 FROM q GROUP BY 1"),
    "q_quality_topp" ->
      ("WITH s AS (SELECT doc_id, source, length(text) AS n, " +
        "length(text) - length(regexp_replace(text, '[\\.,;:!\\?]', '', 'g')) AS punct, " +
        "string_split_regex(trim(text), '\\s+') AS toks FROM documents), " +
        "q AS (SELECT doc_id, source, round(" +
        "(CASE WHEN n BETWEEN 50 AND 2000 THEN 1.0 WHEN n BETWEEN 10 AND 5000 THEN 0.5 ELSE 0.0 END) * 0.4 + " +
        "least(CAST(len(list_filter(toks, x -> lower(x) IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE) " +
        "/ greatest(len(toks), 1) * 4.0, 1.0) * 0.4 + " +
        "(1.0 - least(CAST(punct AS DOUBLE) / greatest(n, 1) * 10.0, 1.0)) * 0.2, 4) AS quality FROM s), " +
        "thr AS (SELECT source, round(quantile_cont(quality, 0.9), 4) AS q90 FROM q GROUP BY 1) " +
        "SELECT q.doc_id, q.source FROM q JOIN thr USING (source) WHERE q.quality >= thr.q90"),
    "q_tfidf_keywords" ->
      ("WITH tf AS (SELECT doc_id, u.term, count(*) AS tf FROM (" +
        "SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents) " +
        "CROSS JOIN unnest(toks) AS u(term) GROUP BY 1, 2), " +
        "df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1), " +
        "n AS (SELECT count(*) AS n FROM documents), " +
        "sc AS (SELECT tf.doc_id, tf.term, " +
        "round(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 6) AS score " +
        "FROM tf JOIN df USING (term) CROSS JOIN n), " +
        "r AS (SELECT doc_id, term, score, " +
        "row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank FROM sc) " +
        "SELECT doc_id, term, score, rank FROM r WHERE rank <= 3"),
    "q_stratified_sample" ->
      ("SELECT doc_id, lang, source FROM documents " +
        "WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT / 4294967296.0 < " +
        "(CASE WHEN lang = 'en' THEN 1.0 WHEN lang = 'zh' THEN 0.5 ELSE 0.25 END)"),
    "q_corpus_scrub" ->
      ("WITH s AS (SELECT doc_id, text, length(text) AS n, " +
        "length(text) - length(regexp_replace(text, '[\\.,;:!\\?]', '', 'g')) AS punct, " +
        "length(text) - length(regexp_replace(text, '[\\x{4e00}-\\x{9fff}]', '', 'g')) AS cjk, " +
        "string_split_regex(trim(text), '\\s+') AS toks FROM documents), " +
        "t2 AS (SELECT doc_id, " +
        "round((CASE WHEN n BETWEEN 50 AND 2000 THEN 1.0 WHEN n BETWEEN 10 AND 5000 THEN 0.5 ELSE 0.0 END) * 0.4 + " +
        "least(CAST(len(list_filter(toks, x -> lower(x) IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE) " +
        "/ greatest(len(toks), 1) * 4.0, 1.0) * 0.4 + " +
        "(1.0 - least(CAST(punct AS DOUBLE) / greatest(n, 1) * 10.0, 1.0)) * 0.2, 4) AS quality, " +
        "CASE WHEN CAST(cjk AS DOUBLE) / greatest(n, 1) > 0.3 THEN 'zh' " +
        "WHEN CAST(len(list_filter(toks, x -> lower(x) IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE) " +
        "/ greatest(len(toks), 1) > 0.02 THEN 'en' ELSE 'unk' END AS lang, " +
        "round(1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1), 4) AS dup_frac " +
        "FROM s) " +
        "SELECT doc_id, quality, lang, dup_frac, " +
        "(quality >= 0.5 AND lang = 'en' AND dup_frac <= 0.4) AS keep FROM t2"),
    "q_dedup_clusters" ->
      (lshCtes.replaceFirst("WITH ", "WITH RECURSIVE ") +
        ", cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2 " +
        "FROM bk a JOIN ok USING (band, key) " +
        "JOIN bk b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id), " +
        "jt AS (SELECT doc_id, list_distinct(string_split_regex(trim(text), '\\s+')) AS toks FROM documents), " +
        "vp AS (SELECT id1, id2 FROM (SELECT c.id1, c.id2, " +
        "round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / " +
        "(len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))), 6) AS jaccard " +
        "FROM cand c JOIN jt a ON c.id1 = a.doc_id JOIN jt b ON c.id2 = b.doc_id) " +
        "WHERE jaccard >= 0.7), " +
        "sym AS (SELECT id1 AS src, id2 AS dst FROM vp " +
        "UNION SELECT id2 AS src, id1 AS dst FROM vp), " +
        "reach AS (SELECT src AS id, src AS r FROM sym " +
        "UNION SELECT reach.id, s.dst FROM reach JOIN sym s ON s.src = reach.r) " +
        "SELECT id AS doc_id, min(r) AS keep_id FROM reach GROUP BY 1"),
    "q_dedup_keep_best" ->
      (lshCtes.replaceFirst("WITH ", "WITH RECURSIVE ") +
        ", cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2 " +
        "FROM bk a JOIN ok USING (band, key) " +
        "JOIN bk b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id), " +
        "jt AS (SELECT doc_id, list_distinct(string_split_regex(trim(text), '\\s+')) AS toks FROM documents), " +
        "vp AS (SELECT id1, id2 FROM (SELECT c.id1, c.id2, " +
        "round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / " +
        "(len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))), 6) AS jaccard " +
        "FROM cand c JOIN jt a ON c.id1 = a.doc_id JOIN jt b ON c.id2 = b.doc_id) " +
        "WHERE jaccard >= 0.7), " +
        "sym AS (SELECT id1 AS src, id2 AS dst FROM vp " +
        "UNION SELECT id2 AS src, id1 AS dst FROM vp), " +
        "reach AS (SELECT src AS id, src AS r FROM sym " +
        "UNION SELECT reach.id, s.dst FROM reach JOIN sym s ON s.src = reach.r), " +
        "comp AS (SELECT id AS doc_id, min(r) AS cluster FROM reach GROUP BY 1), " +
        "qs AS (SELECT doc_id, length(text) AS n, " +
        "length(text) - length(regexp_replace(text, '[\\.,;:!\\?]', '', 'g')) AS punct, " +
        "string_split_regex(trim(text), '\\s+') AS qtoks FROM documents), " +
        "qx AS (SELECT doc_id, round(" +
        "(CASE WHEN n BETWEEN 50 AND 2000 THEN 1.0 WHEN n BETWEEN 10 AND 5000 THEN 0.5 ELSE 0.0 END) * 0.4 + " +
        "least(CAST(len(list_filter(qtoks, x -> lower(x) IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE) " +
        "/ greatest(len(qtoks), 1) * 4.0, 1.0) * 0.4 + " +
        "(1.0 - least(CAST(punct AS DOUBLE) / greatest(n, 1) * 10.0, 1.0)) * 0.2, 4) AS quality FROM qs), " +
        "j AS (SELECT comp.doc_id, comp.cluster, qx.quality FROM comp JOIN qx USING (doc_id)), " +
        "rp AS (SELECT cluster, doc_id AS rep_id, " +
        "row_number() OVER (PARTITION BY cluster ORDER BY quality DESC, doc_id) AS rn FROM j) " +
        "SELECT j.doc_id, rp.rep_id, (j.doc_id = rp.rep_id) AS kept " +
        "FROM j JOIN rp ON j.cluster = rp.cluster AND rp.rn = 1"),
    "q_decontaminate" ->
      ("WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents), " +
        "bt AS (SELECT array_to_string(toks[1:13], ' ') AS btext FROM tk WHERE doc_id % 50 = 0), " +
        "btk AS (SELECT string_split_regex(trim(btext), '\\s+') AS toks FROM bt), " +
        "bg AS (SELECT CASE WHEN len(toks) >= 13 " +
        "THEN list_transform(generate_series(1, len(toks) - 12), i -> array_to_string(toks[i:i+12], ' ')) " +
        "ELSE [array_to_string(toks, ' ')] END AS gs FROM btk), " +
        "bh AS (SELECT DISTINCT md5(u.g) AS gh FROM bg CROSS JOIN unnest(gs) AS u(g)), " +
        "cg AS (SELECT doc_id, CASE WHEN len(toks) >= 13 " +
        "THEN list_transform(generate_series(1, len(toks) - 12), i -> array_to_string(toks[i:i+12], ' ')) " +
        "ELSE [array_to_string(toks, ' ')] END AS gs FROM tk), " +
        "ce AS (SELECT doc_id, u.g, md5(u.g) AS gh FROM cg CROSS JOIN unnest(gs) AS u(g)) " +
        "SELECT ce.doc_id, count(DISTINCT ce.gh) AS n_hits, min(ce.g) AS first_gram " +
        "FROM ce JOIN bh USING (gh) GROUP BY 1"),
    "q_jaccard_pairs" ->
      (lshCtes +
        ", cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2 " +
        "FROM bk a JOIN ok USING (band, key) " +
        "JOIN bk b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id), " +
        "jt AS (SELECT doc_id, list_distinct(string_split_regex(trim(text), '\\s+')) AS toks FROM documents), " +
        "sc AS (SELECT c.id1, c.id2, " +
        "round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / " +
        "(len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))), 6) AS jaccard " +
        "FROM cand c JOIN jt a ON c.id1 = a.doc_id JOIN jt b ON c.id2 = b.doc_id) " +
        "SELECT id1, id2, jaccard FROM sc WHERE jaccard >= 0.7"),
    "q_embed_topk" ->
      ("WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5), " +
        "c AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 1000), " +
        "s AS (SELECT query_id, id, round(list_dot_product(qv, v) / " +
        "(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 6) AS cos " +
        "FROM q, c WHERE query_id <> id), " +
        "r AS (SELECT query_id, id, cos, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, id) AS rank FROM s) " +
        "SELECT query_id, id, cos, rank FROM r WHERE rank <= 3"),
    "q_media_meta" ->
      ("SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind, " +
        "CASE WHEN doc_id % 3 = 0 THEN 'image/jpeg' WHEN doc_id % 3 = 1 THEN 'audio/wav' ELSE 'video/mp4' END AS mime, " +
        "octet_length(encode(text)) AS n_bytes FROM documents"),
    "q_frame_sample" ->
      ("SELECT doc_id, CAST(i AS INT) AS frame_idx, CAST(i * 1000 AS INT) AS offset_ms FROM documents, " +
        "unnest(generate_series(0, least(octet_length(encode(text)) // 100, 30))) AS u(i) " +
        "WHERE doc_id % 3 = 2"),
    // video: stride-sum stub recomputed from hex(payload); image: the REAL
    // ImageIO-decoded dims/means verified ANALYTICALLY from the closed-form
    // pixel function; audio: the REAL AudioSystem-decoded sample-rate/
    // frames/RMS verified ANALYTICALLY from the closed-form PCM sample
    // function (no codec in DuckDB — that's the point: an independent
    // derivation of what a correct decode must produce)
    "q_media_features" ->
      ("WITH m AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, " +
        "CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind, " +
        "encode(text) AS payload FROM documents), " +
        "av AS (SELECT doc_id, kind, octet_length(payload) AS n_bytes, hex(payload) AS h FROM m WHERE kind = 'video'), " +
        "avf AS (SELECT doc_id, kind, n_bytes, " +
        "coalesce(sum(CASE WHEN u.i <= n_bytes AND (u.i - 1) % 8 = 0 " +
        "THEN ('0x' || substr(h, (u.i - 1) * 2 + 1, 2))::INT ELSE 0 END), 0) AS f0 " +
        "FROM av CROSS JOIN unnest(generate_series(1, greatest(n_bytes, 1))) AS u(i) GROUP BY 1, 2, 3), " +
        "im AS (SELECT doc_id, CAST(4 + doc_id % 5 AS INT) AS w, CAST(3 + doc_id % 4 AS INT) AS h FROM m WHERE kind = 'image'), " +
        "px AS (SELECT doc_id, w, h, " +
        "(doc_id * 37 + x.x * 11) % 256 AS r, (doc_id * 59 + y.y * 17) % 256 AS g, " +
        "(doc_id * 83 + (x.x + y.y) * 29) % 256 AS b " +
        "FROM im CROSS JOIN unnest(generate_series(0, w - 1)) AS x(x) " +
        "CROSS JOIN unnest(generate_series(0, h - 1)) AS y(y)), " +
        "imf AS (SELECT doc_id, min(w) AS img_w, min(h) AS img_h, " +
        "round(CAST(sum(r) AS DOUBLE) / (min(w) * min(h)), 6) AS mean_r, " +
        "round(CAST(sum(g) AS DOUBLE) / (min(w) * min(h)), 6) AS mean_g, " +
        "round(CAST(sum(b) AS DOUBLE) / (min(w) * min(h)), 6) AS mean_b FROM px GROUP BY 1), " +
        "au AS (SELECT doc_id, 80 + doc_id % 41 AS n FROM m WHERE kind = 'audio'), " +
        "auf AS (SELECT doc_id, CAST(8000 AS INT) AS audio_sr, CAST(n AS BIGINT) AS audio_frames, " +
        "round(sqrt(sum(pow((doc_id * 31 + u.i * 7) % 256 - 128, 2)) / (80 + doc_id % 41)), 6) AS audio_rms " +
        "FROM au CROSS JOIN unnest(generate_series(0, n - 1)) AS u(i) GROUP BY 1, 2, 3) " +
        "SELECT doc_id, kind, n_bytes, CAST(f0 AS BIGINT) AS f0, " +
        "NULL::INT AS img_w, NULL::INT AS img_h, " +
        "NULL::DOUBLE AS mean_r, NULL::DOUBLE AS mean_g, NULL::DOUBLE AS mean_b, " +
        "NULL::INT AS audio_sr, NULL::BIGINT AS audio_frames, NULL::DOUBLE AS audio_rms FROM avf " +
        "UNION ALL SELECT doc_id, 'image' AS kind, NULL::INT AS n_bytes, NULL::BIGINT AS f0, " +
        "img_w, img_h, mean_r, mean_g, mean_b, " +
        "NULL::INT AS audio_sr, NULL::BIGINT AS audio_frames, NULL::DOUBLE AS audio_rms FROM imf " +
        "UNION ALL SELECT doc_id, 'audio' AS kind, NULL::INT AS n_bytes, NULL::BIGINT AS f0, " +
        "NULL::INT AS img_w, NULL::INT AS img_h, " +
        "NULL::DOUBLE AS mean_r, NULL::DOUBLE AS mean_g, NULL::DOUBLE AS mean_b, " +
        "audio_sr, audio_frames, audio_rms FROM auf"),
    "q_embed_neardup" ->
      ("WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 500), " +
        embedBucketCtes(4) +
        // mirrors the engine's maxBucket=256 dense-bucket guard
        ", okb AS (SELECT bucket FROM bkt GROUP BY bucket HAVING count(*) <= 256), " +
        "pr AS (SELECT a.vec_id AS id1, b.vec_id AS id2 FROM bkt a " +
        "JOIN okb USING (bucket) " +
        "JOIN bkt b ON a.bucket = b.bucket AND a.vec_id < b.vec_id), " +
        "sc AS (SELECT p.id1, p.id2, " +
        "round(list_dot_product(e1.v, e2.v) / (sqrt(list_dot_product(e1.v, e1.v)) * sqrt(list_dot_product(e2.v, e2.v))), 6) AS cos " +
        "FROM pr p JOIN emb e1 ON p.id1 = e1.vec_id JOIN emb e2 ON p.id2 = e2.vec_id) " +
        "SELECT id1, id2, cos FROM sc WHERE cos >= 0.3"),
    "q_embed_lsh_topk" ->
      ("WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
        embedBucketCtes(8) +
        ", q AS (SELECT b.vec_id AS query_id, e.v AS qv, b.bucket FROM bkt b " +
        "JOIN emb e ON b.vec_id = e.vec_id WHERE b.vec_id < 20), " +
        "c AS (SELECT b.vec_id AS id, e.v, b.bucket FROM bkt b JOIN emb e ON b.vec_id = e.vec_id), " +
        "sc AS (SELECT q.query_id, c.id, " +
        "round(list_dot_product(qv, v) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 6) AS cos " +
        "FROM q JOIN c ON q.bucket = c.bucket AND q.query_id <> c.id), " +
        "r AS (SELECT query_id, id, cos, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, id) AS rank FROM sc) " +
        "SELECT query_id, id, cos, rank FROM r WHERE rank <= 3"),
    "q_embed_ivf" ->
      ("WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
        "cent AS (SELECT vec_id AS cid, v AS cv FROM emb WHERE vec_id < 16), " +
        "asg AS (SELECT vec_id AS id, v, cid FROM (" +
        "SELECT e.vec_id, e.v, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY " +
        "round(list_dot_product(e.v, c.cv) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC, c.cid) AS rn " +
        "FROM emb e CROSS JOIN cent c) WHERE rn = 1), " +
        "prb AS (SELECT vec_id AS query_id, v AS qv, cid FROM (" +
        "SELECT e.vec_id, e.v, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY " +
        "round(list_dot_product(e.v, c.cv) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC, c.cid) AS rn " +
        "FROM emb e CROSS JOIN cent c WHERE e.vec_id < 20) WHERE rn <= 2), " +
        "sc AS (SELECT p.query_id, a.id, " +
        "round(list_dot_product(p.qv, a.v) / (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(a.v, a.v))), 6) AS cos " +
        "FROM prb p JOIN asg a USING (cid) WHERE p.query_id <> a.id), " +
        "r AS (SELECT query_id, id, cos, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, id) AS rank FROM sc) " +
        "SELECT query_id, id, cos, rank FROM r WHERE rank <= 3"),
    // seed-rule IVF recall@10 recomputed end-to-end; the trained side is the
    // engine's self-gate (Lloyd's is not portably SQL-reproducible), pinned
    // to TRUE — the row hash goes red if training ever degrades recall
    "q_embed_ivf_trained" ->
      ("WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
        "cent AS (SELECT vec_id AS cid, v AS cv FROM emb WHERE vec_id < 16), " +
        "asg AS (SELECT vec_id AS id, v, cid FROM (" +
        "SELECT e.vec_id, e.v, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY " +
        "round(list_dot_product(e.v, c.cv) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC, c.cid) AS rn " +
        "FROM emb e CROSS JOIN cent c) WHERE rn = 1), " +
        "prb AS (SELECT vec_id AS query_id, v AS qv, cid FROM (" +
        "SELECT e.vec_id, e.v, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY " +
        "round(list_dot_product(e.v, c.cv) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC, c.cid) AS rn " +
        "FROM emb e CROSS JOIN cent c WHERE e.vec_id < 20) WHERE rn <= 2), " +
        "sc AS (SELECT p.query_id, a.id, " +
        "round(list_dot_product(p.qv, a.v) / (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(a.v, a.v))), 6) AS cos " +
        "FROM prb p JOIN asg a USING (cid) WHERE p.query_id <> a.id), " +
        "r AS (SELECT query_id, id, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, id) AS rank FROM sc), " +
        "ap AS (SELECT query_id, id FROM r WHERE rank <= 10), " +
        "bq AS (SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id < 20), " +
        "bs AS (SELECT bq.query_id, emb.vec_id AS id, " +
        "round(list_dot_product(qv, v) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 6) AS cos " +
        "FROM bq, emb WHERE bq.query_id <> emb.vec_id), " +
        "br AS (SELECT query_id, id, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, id) AS rank FROM bs), " +
        "ex10 AS (SELECT query_id, id FROM br WHERE rank <= 10), " +
        "pr AS (SELECT e.query_id, round(CAST(sum(CASE WHEN a.id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / 10, 4) AS recall " +
        "FROM ex10 e LEFT JOIN ap a ON e.query_id = a.query_id AND e.id = a.id GROUP BY 1), " +
        // seed-rule quantization error from the SAME deterministic assignment
        "qa AS (SELECT a.id, round(list_dot_product(a.v, c.cv) / " +
        "(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) AS csim " +
        "FROM asg a JOIN cent c USING (cid)), " +
        "qe AS (SELECT sum(CAST(1.0 - csim AS DECIMAL(10,6))) AS s, count(*) AS n_vec FROM qa) " +
        "SELECT (SELECT count(*) FROM pr) AS n_queries, qe.n_vec, " +
        "(SELECT round(CAST(sum(CAST(recall AS DECIMAL(8,4))) AS DOUBLE) / count(*), 4) FROM pr) AS seed_recall, " +
        "round(CAST(qe.s AS DOUBLE) / qe.n_vec, 6) AS seed_qe, " +
        "TRUE AS trained_qe_le_seed, " +
        "(SELECT count(*) * 10 FROM pr) AS n_trained_rows FROM qe"),
    "q_salted_agg" ->
      "SELECT event_type, count(*) AS n FROM events GROUP BY 1",
    "q_bucketed_join" ->
      ("SELECT c_mktsegment AS seg, count(*) AS n_orders, " +
        "round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 1) AS total " +
        "FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1"),
    "q_repetition" ->
      ("WITH t AS (SELECT doc_id, text, string_split_regex(trim(text), '\\s+') AS toks FROM documents) " +
        "SELECT doc_id, " +
        "round(1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1), 4) AS dup_token_frac, " +
        "round(CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE) " +
        "/ greatest(len(toks), 1), 4) AS symbol_word_ratio FROM t"),
    "q_top_bigram" ->
      ("WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents), " +
        "bg AS (SELECT doc_id, len(toks) AS n, u.b FROM t " +
        "CROSS JOIN unnest(list_transform(generate_series(1, len(toks) - 1), " +
        "i -> toks[i] || ' ' || toks[i+1])) AS u(b) WHERE len(toks) >= 2), " +
        "c AS (SELECT doc_id, n, b, count(*) AS cnt FROM bg GROUP BY 1, 2, 3) " +
        "SELECT doc_id, round(max(cnt) * 2.0 / max(n), 4) AS top_bigram_frac FROM c GROUP BY 1"),
    "q_dup_ngram_coverage" ->
      ("WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents), " +
        "g AS (SELECT doc_id, len(toks) AS n_toks, i.i AS i, " +
        "array_to_string(toks[i.i:i.i+4], ' ') AS sh FROM tk " +
        "CROSS JOIN unnest(generate_series(1, greatest(len(toks) - 4, 1))) AS i(i)), " +
        "c AS (SELECT doc_id, sh FROM g GROUP BY 1, 2 HAVING count(*) >= 2), " +
        "d AS (SELECT g.doc_id, g.n_toks, g.i FROM g JOIN c USING (doc_id, sh)), " +
        "p AS (SELECT DISTINCT d.doc_id, u.p FROM d " +
        "CROSS JOIN unnest(generate_series(d.i, least(d.i + 4, d.n_toks))) AS u(p)), " +
        "cv AS (SELECT doc_id, count(*) AS cov FROM p GROUP BY 1) " +
        "SELECT t.doc_id, round(coalesce(cv.cov, 0) / CAST(greatest(len(t.toks), 1) AS DOUBLE), 4) " +
        "AS dup_ngram_coverage FROM tk t LEFT JOIN cv USING (doc_id)"),
    "q_ivf_cell_histogram" ->
      ("WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
        "cent AS (SELECT vec_id AS cid, v AS cv FROM emb WHERE vec_id < 16), " +
        "asg AS (SELECT vec_id AS id, v, cid FROM (" +
        "SELECT e.vec_id, e.v, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY " +
        "round(list_dot_product(e.v, c.cv) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC, c.cid) AS rn " +
        "FROM emb e CROSS JOIN cent c) WHERE rn = 1), " +
        "qa AS (SELECT a.id, a.cid, round(list_dot_product(a.v, c.cv) / " +
        "(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) AS csim " +
        "FROM asg a JOIN cent c USING (cid)) " +
        "SELECT cid, count(*) AS n_vectors, min(csim) AS worst_fit FROM qa GROUP BY 1"),
    "q_chunk_dedup" ->
      ("WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents), " +
        "ch AS (SELECT doc_id, u.i AS idx, array_to_string(toks[(u.i*8+1):(u.i*8+8)], ' ') AS para " +
        "FROM t CROSS JOIN unnest(generate_series(0, CAST(ceil(len(toks) / 8.0) AS INT) - 1)) AS u(i)), " +
        "r AS (SELECT doc_id, idx, para, " +
        "row_number() OVER (PARTITION BY md5(para) ORDER BY doc_id, idx) AS rn FROM ch) " +
        "SELECT doc_id, count(*) AS n_chunks, " +
        "CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, " +
        "coalesce(string_agg(para, ' ' ORDER BY idx) FILTER (WHERE rn = 1), '') AS kept_text " +
        "FROM r GROUP BY 1"),
    "q_boilerplate_scrub" ->
      ("WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents), " +
        "ch AS (SELECT doc_id, u.i AS idx, array_to_string(toks[(u.i*8+1):(u.i*8+8)], ' ') AS para " +
        "FROM t CROSS JOIN unnest(generate_series(0, CAST(ceil(len(toks) / 8.0) AS INT) - 1)) AS u(i)), " +
        "b AS (SELECT md5(para) AS h FROM ch GROUP BY 1 HAVING count(DISTINCT doc_id) > 2), " +
        "k AS (SELECT doc_id, idx, para, (md5(para) IN (SELECT h FROM b)) AS drop FROM ch) " +
        "SELECT doc_id, count(*) AS n_chunks, " +
        "CAST(sum(CASE WHEN drop THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped, " +
        "coalesce(string_agg(para, ' ' ORDER BY idx) FILTER (WHERE NOT drop), '') AS clean_text " +
        "FROM k GROUP BY 1"),
    "q_redact" ->
      ("SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(" +
        "text || ' contact doc' || doc_id || '@example.com or 555-' || " +
        "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '-1234 at 10.0.0.' || CAST(doc_id % 255 AS VARCHAR), " +
        "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), " +
        "'\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'), " +
        "'\\b\\d{3}-\\d{3,4}-\\d{4}\\b', '<PHONE>', 'g') AS redacted FROM documents"),
    "q_ann_recall" ->
      ("WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
        embedBucketCtes(8) +
        ", q AS (SELECT b.vec_id AS query_id, e.v AS qv, xor(b.bucket, f.f) AS bucket " +
        "FROM bkt b JOIN emb e ON b.vec_id = e.vec_id " +
        "CROSS JOIN (SELECT unnest([0, 1, 2, 4, 8, 16, 32, 64, 128]) AS f) f " +
        "WHERE b.vec_id < 20), " +
        "c AS (SELECT b.vec_id AS id, e.v, b.bucket FROM bkt b JOIN emb e ON b.vec_id = e.vec_id), " +
        "sc AS (SELECT q.query_id, c.id, " +
        "round(list_dot_product(qv, v) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 6) AS cos " +
        "FROM q JOIN c ON q.bucket = c.bucket AND q.query_id <> c.id), " +
        "r AS (SELECT query_id, id, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, id) AS rank FROM sc), " +
        "ap AS (SELECT query_id, id FROM r WHERE rank <= 10), " +
        "bq AS (SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id < 20), " +
        "bs AS (SELECT bq.query_id, emb.vec_id AS id, " +
        "round(list_dot_product(qv, v) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 6) AS cos " +
        "FROM bq, emb WHERE bq.query_id <> emb.vec_id), " +
        "br AS (SELECT query_id, id, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, id) AS rank FROM bs), " +
        "ex10 AS (SELECT query_id, id FROM br WHERE rank <= 10) " +
        "SELECT e.query_id, round(CAST(sum(CASE WHEN a.id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / 10, 4) AS recall " +
        "FROM ex10 e LEFT JOIN ap a ON e.query_id = a.query_id AND e.id = a.id GROUP BY 1"),
    "q_embed_multiprobe" ->
      ("WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
        embedBucketCtes(8) +
        ", q AS (SELECT b.vec_id AS query_id, e.v AS qv, xor(b.bucket, f.f) AS bucket " +
        "FROM bkt b JOIN emb e ON b.vec_id = e.vec_id " +
        "CROSS JOIN (SELECT unnest([0, 1, 2, 4, 8, 16, 32, 64, 128]) AS f) f " +
        "WHERE b.vec_id < 20), " +
        "c AS (SELECT b.vec_id AS id, e.v, b.bucket FROM bkt b JOIN emb e ON b.vec_id = e.vec_id), " +
        "sc AS (SELECT q.query_id, c.id, " +
        "round(list_dot_product(qv, v) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 6) AS cos " +
        "FROM q JOIN c ON q.bucket = c.bucket AND q.query_id <> c.id), " +
        "r AS (SELECT query_id, id, cos, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, id) AS rank FROM sc) " +
        "SELECT query_id, id, cos, rank FROM r WHERE rank <= 3")
  ) ++ graft.oracle.KgOracleSql.all

  /** Fuzzy-incremental oracle — shared by the batch gate row and its
    * streaming twin (epochs must land the identical survivors): batch 0
    * near-dup-clusters itself (estimate >= 0.7, transitive closure, min
    * id survives), its survivors' band/sig rows form the store; batch 1
    * drops docs whose signature estimate vs any stored survivor sharing
    * a guarded skey bucket clears the threshold, then clusters within
    * itself. Guards at 64 per bucket on every side, mirroring the
    * engine exactly. */
  private def fuzzyIncrementalSql: String =
    lshBaseCtes.replaceFirst("WITH ", "WITH RECURSIVE ") +
        ", bk1 AS (SELECT * FROM bk WHERE doc_id < 400)" +
        ", ok1 AS (SELECT band, key FROM bk1 GROUP BY 1, 2 HAVING count(*) <= 64)" +
        ", cand1 AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2 " +
        "FROM bk1 a JOIN ok1 USING (band, key) " +
        "JOIN bk1 b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)" +
        ", vp1 AS (SELECT c.id1, c.id2 FROM cand1 c " +
        "JOIN sg sa ON sa.doc_id = c.id1 JOIN sg sb ON sb.doc_id = c.id2 AND sa.hi = sb.hi " +
        "GROUP BY 1, 2 HAVING sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) / 8.0 >= 0.7)" +
        ", sym1 AS (SELECT id1 AS src, id2 AS dst FROM vp1 UNION SELECT id2, id1 FROM vp1)" +
        ", reach1 AS (SELECT src AS id, src AS r FROM sym1 " +
        "UNION SELECT reach1.id, s.dst FROM reach1 JOIN sym1 s ON s.src = reach1.r)" +
        ", drop1 AS (SELECT id FROM (SELECT id, min(r) AS keep FROM reach1 GROUP BY 1) WHERE keep <> id)" +
        ", s1 AS (SELECT DISTINCT doc_id FROM bk1 WHERE doc_id NOT IN (SELECT id FROM drop1))" +
        ", store1 AS (SELECT doc_id, md5(CAST(band AS VARCHAR) || '|' || key) AS skey " +
        "FROM bk WHERE doc_id IN (SELECT doc_id FROM s1))" +
        ", oks AS (SELECT skey FROM store1 GROUP BY 1 HAVING count(*) <= 64)" +
        ", bk2 AS (SELECT * FROM bk WHERE doc_id >= 400)" +
        ", ks2 AS (SELECT doc_id, md5(CAST(band AS VARCHAR) || '|' || key) AS skey FROM bk2)" +
        ", okb AS (SELECT skey FROM ks2 GROUP BY 1 HAVING count(*) <= 64)" +
        ", candx AS (SELECT DISTINCT n.doc_id AS nid, o.doc_id AS oid " +
        "FROM ks2 n JOIN okb ON n.skey = okb.skey " +
        "JOIN store1 o ON n.skey = o.skey " +
        "JOIN oks ON o.skey = oks.skey)" +
        ", hit AS (SELECT DISTINCT nid FROM (SELECT c.nid, c.oid FROM candx c " +
        "JOIN sg sa ON sa.doc_id = c.nid JOIN sg sb ON sb.doc_id = c.oid AND sa.hi = sb.hi " +
        "GROUP BY 1, 2 HAVING sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) / 8.0 >= 0.7))" +
        ", fresh2 AS (SELECT DISTINCT doc_id FROM bk2 WHERE doc_id NOT IN (SELECT nid FROM hit))" +
        ", bk2f AS (SELECT * FROM bk2 WHERE doc_id IN (SELECT doc_id FROM fresh2))" +
        ", ok2 AS (SELECT band, key FROM bk2f GROUP BY 1, 2 HAVING count(*) <= 64)" +
        ", cand2 AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2 " +
        "FROM bk2f a JOIN ok2 USING (band, key) " +
        "JOIN bk2f b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)" +
        ", vp2 AS (SELECT c.id1, c.id2 FROM cand2 c " +
        "JOIN sg sa ON sa.doc_id = c.id1 JOIN sg sb ON sb.doc_id = c.id2 AND sa.hi = sb.hi " +
        "GROUP BY 1, 2 HAVING sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) / 8.0 >= 0.7)" +
        ", sym2 AS (SELECT id1 AS src, id2 AS dst FROM vp2 UNION SELECT id2, id1 FROM vp2)" +
        ", reach2 AS (SELECT src AS id, src AS r FROM sym2 " +
        "UNION SELECT reach2.id, s.dst FROM reach2 JOIN sym2 s ON s.src = reach2.r)" +
        ", drop2 AS (SELECT id FROM (SELECT id, min(r) AS keep FROM reach2 GROUP BY 1) WHERE keep <> id)" +
        ", s2 AS (SELECT doc_id FROM fresh2 WHERE doc_id NOT IN (SELECT id FROM drop2)) " +
        "SELECT CAST(0 AS BIGINT) AS epoch, doc_id FROM s1 " +
        "UNION ALL SELECT CAST(1 AS BIGINT) AS epoch, doc_id FROM s2"

  /** CCNet-shape unigram scoring oracle — shared by q_lm_score and its
    * committed-bucketed-store twin (same values, different join layout). */
  private def lmScoreSql: String =
    "WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w FROM documents), " +
      "tf AS (SELECT doc_id, w FROM tok WHERE len(w) > 0), " +
      "cnt AS (SELECT w, count(*) AS c FROM tf GROUP BY 1), " +
      "tot AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM cnt), " +
      "model AS (SELECT w, ln(c / t) AS logp FROM cnt, tot WHERE c >= 3), " +
      "per AS (SELECT doc_id, w, count(*) AS n FROM tf GROUP BY 1, 2) " +
      "SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens, " +
      "round(sum(n * coalesce(logp, -12.0)) / sum(n), 6) AS avg_logp " +
      "FROM per LEFT JOIN model USING (w) GROUP BY 1"

  /** md5-family LSH banding + bucket-size guard over `documents` — shared by
    * the q_lsh_candidates and q_jaccard_pairs oracles (mirrors
    * Dedup.lshBandsMd5 + lshCandidates(maxBucket = 64)). */
  private def lshBaseCtes: String =
    "WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents), " +
      "sh AS (SELECT doc_id, CASE WHEN len(toks) >= 3 " +
      "THEN list_transform(generate_series(1, len(toks) - 2), i -> array_to_string(toks[i:i+2], ' ')) " +
      "ELSE [array_to_string(toks, ' ')] END AS shingles FROM t), " +
      // 8 hash fns = 8-hex windows of 2 md5 digests (mirrors minhashSigsMd5)
      "sg AS (SELECT doc_id, h.i AS hi, " +
      "min(substr(md5(CAST(h.i // 4 AS VARCHAR) || '|' || u.s), (h.i % 4) * 8 + 1, 8)) AS mh " +
      "FROM sh CROSS JOIN unnest(shingles) AS u(s) " +
      "CROSS JOIN unnest(generate_series(0, 7)) AS h(i) GROUP BY 1, 2), " +
      "bk AS (SELECT doc_id, CAST(hi // 2 AS INT) AS band, " +
      "md5(string_agg(mh, '|' ORDER BY hi)) AS key FROM sg GROUP BY 1, 2)"

  private def lshCtes: String =
    lshBaseCtes +
      ", ok AS (SELECT band, key FROM bk GROUP BY band, key HAVING count(*) <= 64)"

  private def lshCandidatesSql: String =
    lshCtes + " SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2 " +
      "FROM bk a JOIN ok USING (band, key) " +
      "JOIN bk b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id"

  /** Deterministic md5-hyperplane sign buckets over `emb(vec_id, v)` —
    * mirrors Similarity.signBucket. */
  private def embedBucketCtes(planes: Int): String =
    "ex AS (SELECT vec_id, u.i - 1 AS d, v[u.i] AS x FROM emb " +
      "CROSS JOIN unnest(generate_series(1, len(v))) AS u(i)), " +
      "dims AS (SELECT DISTINCT d FROM ex), " +
      s"ps AS (SELECT p.p, dims.d, CASE WHEN ('0x' || substr(md5(CAST(p.p AS VARCHAR) || '_' || CAST(dims.d AS VARCHAR)), 1, 6))::BIGINT % 2 = 0 " +
      "THEN 1.0 ELSE -1.0 END AS sgn " +
      s"FROM (SELECT unnest(generate_series(0, ${planes - 1})) AS p) p CROSS JOIN dims), " +
      "dots AS (SELECT e.vec_id, s.p, sum(e.x * s.sgn) AS dot FROM ex e JOIN ps s ON e.d = s.d GROUP BY 1, 2), " +
      "bkt AS (SELECT vec_id, CAST(sum(CASE WHEN dot >= 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS bucket FROM dots GROUP BY 1)"
}
