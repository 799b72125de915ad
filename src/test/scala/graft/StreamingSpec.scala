package graft

import graft.core.Schemas.Doc
import graft.gen.{Corpus, CorpusData}
import graft.streaming.StreamingKg
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Structured-Streaming incremental ingestion: micro-batches land epoch
  * snapshots; overlapping re-delivery is idempotent (anti-join dedup); the
  * accumulated set equals the batch pipeline's raw triples on the same docs. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val cfg = Corpus.Config(nDocs = 300, nEntities = 120, seed = 42L)

  test("micro-batched ingestion = batch semantics; re-delivery is idempotent") {
    val kb = Corpus.kb(cfg)
    val all = Corpus.docs(cfg).toVector
    val (b1, b2) = all.splitAt(150)
    val m2e = CorpusData.ment2entDF(spark, cfg)
    val av = CorpusData.avpairDF(spark, cfg)

    val tableDir = Files.createTempDirectory("stream-table").toString
    val ckpt = Files.createTempDirectory("stream-ckpt").toString

    implicit val sq = spark.sqlContext
    val stream = MemoryStream[Doc]
    val q = StreamingKg.start(spark, stream.toDF(), m2e, av, tableDir, ckpt)
    stream.addData(b1)
    q.processAllAvailable()
    val after1 = StreamingKg.landed(spark, tableDir).count()
    assert(after1 > 0)
    // second batch overlaps the first (re-delivery) + brings new docs
    stream.addData(b1.take(50) ++ b2)
    q.processAllAvailable()
    q.stop()

    val landed = StreamingKg.landed(spark, tableDir)
      .select("subj", "pred", "obj")
      .as[(String, String, String)].collect()
    // no duplicates across epochs despite the overlap
    assert(landed.length === landed.toSet.size)

    // equals the batch pipeline's raw (pre-canonicalization) triples
    val batchRaw = StreamingKg.batchTriples(spark,
      CorpusData.docsDF(spark, cfg), m2e, av)
      .select("subj", "pred", "obj")
      .as[(String, String, String)].collect().toSet
    assert(landed.toSet === batchRaw)
  }

  test("streaming packing: epochs union to the one-shot packing; replays are no-ops") {
    import graft.streaming.StreamingPacking
    import graft.streaming.{Doc => PDoc}
    val tableDir = Files.createTempDirectory("spack-table").toString
    val ckpt = Files.createTempDirectory("spack-ckpt").toString
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[PDoc]
    val allDocs = Seq(PDoc(10, "a b c"), PDoc(11, "a b c d e"),
      PDoc(12, "solo"), PDoc(20, "w x y z"), PDoc(21, "p q"),
      PDoc(30, "s t u v w x"))
    val q = StreamingPacking.start(spark, stream.toDS().toDF(),
      tableDir, ckpt, seqLen = 4L)
    try {
      stream.addData(allDocs.take(3))
      q.processAllAvailable()
      stream.addData(allDocs.slice(3, 5))
      q.processAllAvailable()
      // re-delivery of already-committed ids + one genuinely new doc: the
      // HWM filter must drop the replays, not repack (and reshift) them
      stream.addData(allDocs.slice(2, 6))
      q.processAllAvailable()
    } finally q.stop()

    val got = StreamingPacking.landed(spark, tableDir)
      .select("doc_id", "n_tokens", "start_offset", "seq_first", "seq_last",
        "n_seqs")
      .orderBy("doc_id").collect().toSeq
    val want = graft.datapipe.Packing.packIndex(
        allDocs.toDF(), "doc_id", "text", 4L)
      .orderBy("doc_id").collect().toSeq
    assert(got === want)
    // exactly one non-empty epoch per batch that carried novel ids
    val io = new graft.core.TableIO(spark, tableDir)
    assert(io.lastCommitted(StreamingPacking.stage) === 2)
  }

  test("streaming quantile refresh: thresholds after N batches == one-shot byKey") {
    import graft.streaming.StreamingQuantiles
    val tableDir = Files.createTempDirectory("squant-table").toString
    val ckpt = Files.createTempDirectory("squant-ckpt").toString
    // bounded-resolution scores (2 decimals), two keys, three batches
    val b0 = Seq(("web", 0.10), ("web", 0.50), ("book", 0.90))
    val b1 = Seq(("web", 0.30), ("book", 0.70), ("book", 0.80))
    val b2 = Seq(("web", 0.20), ("web", 0.40))
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[(String, Double)]
    val q = StreamingQuantiles.start(spark,
      stream.toDS().toDF("source", "q"), tableDir, ckpt,
      "source", df => df("q"))
    try {
      Seq(b0, b1, b2).foreach { b => stream.addData(b); q.processAllAvailable() }
    } finally q.stop()
    val ps = Seq(0.5, 0.9)
    val streamed = StreamingQuantiles
      .thresholds(spark, tableDir, "source", ps)
      .orderBy("source").collect().toSeq
    val oneShot = graft.datapipe.Quantiles.byKey(
        (b0 ++ b1 ++ b2).toDF("source", "q"), "source", col("q"), ps)
      .orderBy("source").collect().toSeq
    assert(streamed === oneShot)
    // the committed state is dimension-sized: one row per (key, value)
    val counts = new graft.core.TableIO(spark, tableDir)
      .read(StreamingQuantiles.stage).collect()
    assert(counts.length === (b0 ++ b1 ++ b2).distinct.length)
  }

  test("streaming LM refresh: counts compose — model after N batches == one-shot train") {
    import graft.streaming.StreamingLm
    import graft.streaming.{Doc => LDoc}
    val tableDir = Files.createTempDirectory("slm-table").toString
    val ckpt = Files.createTempDirectory("slm-ckpt").toString
    val b0 = Seq(LDoc(1, "the cat sat on the mat"), LDoc(2, "the dog ran"))
    val b1 = Seq(LDoc(3, "the cat and the dog sat"))
    val b2 = Seq(LDoc(4, "a mat and a log"))
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[LDoc]
    val q = StreamingLm.start(spark, stream.toDS().toDF(), tableDir, ckpt)
    try {
      Seq(b0, b1, b2).foreach { b =>
        stream.addData(b); q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = StreamingLm.model(spark, tableDir, minCount = 2L)
      .as[(String, Double)].collect().sortBy(_._1).toSeq
    val oneShot = graft.datapipe.LmScore.train(
        (b0 ++ b1 ++ b2).toDF(), "text", minCount = 2L)
      .as[(String, Double)].collect().sortBy(_._1).toSeq
    // counts are associative over any batch split: bit-identical logp
    assert(streamed === oneShot)
    // the committed state is vocab-sized, not corpus-sized: one (w, c)
    // row per distinct word
    val io = new graft.core.TableIO(spark, tableDir)
    val counts = io.read(StreamingLm.stage).as[(String, Long)].collect()
    assert(counts.map(_._1).distinct.length === counts.length)
    assert(counts.map(_._2).sum ===
      (b0 ++ b1 ++ b2).flatMap(_.text.split("\\s+")).count(_.nonEmpty))
  }

  test("streaming fuzzy dedup: epochs match the batch twin, store screens near-dups") {
    import graft.streaming.StreamingFuzzyDedup
    import graft.streaming.{Doc => FDoc}
    import graft.core.Bucketing.BucketSpec
    val tableDir = Files.createTempDirectory("sfuzzy-table").toString
    val ckpt = Files.createTempDirectory("sfuzzy-ckpt").toString
    val streamTbl = "sfuzzy_stream_store"
    val twinTbl = "sfuzzy_twin_store"
    spark.sql(s"DROP TABLE IF EXISTS $streamTbl")
    spark.sql(s"DROP TABLE IF EXISTS $twinTbl")
    val spec = BucketSpec("skey", 4)
    val textA = "alpha beta gamma delta epsilon zeta eta theta"
    val textB = "one two three four five six seven eight nine"
    val textC = "red orange yellow green blue indigo violet ultraviolet"
    val b0 = Seq(FDoc(1, textA), FDoc(2, textA), FDoc(3, textB))
    val b1 = Seq(FDoc(10, textA), FDoc(11, textC), FDoc(12, textC))
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[FDoc]
    val q = StreamingFuzzyDedup.start(spark, stream.toDS().toDF(),
      tableDir, ckpt, streamTbl, spec, compactEvery = 2)
    try {
      stream.addData(b0)
      q.processAllAvailable()
      stream.addData(b1)
      q.processAllAvailable()
    } finally q.stop()
    // every epoch equals the batch twin run over the same batches
    val t0 = graft.datapipe.Dedup.incrementalFuzzyCommit(
      b0.toDF(), "doc_id", "text", twinTbl, spec)
      .select("id").as[Long].collect().sorted.toSeq
    val t1 = graft.datapipe.Dedup.incrementalFuzzyCommit(
      b1.toDF(), "doc_id", "text", twinTbl, spec)
      .select("id").as[Long].collect().sorted.toSeq
    assert(t0 === Seq(1L, 3L) && t1 === Seq(11L)) // twin sanity
    val io = new graft.core.TableIO(spark, tableDir)
    assert(io.read("kept_docs_fuzzy").count() > 0)
    val epoch1 = StreamingFuzzyDedup.landedRange(spark, tableDir, 0)
      .select("id").as[Long].collect().sorted.toSeq
    assert(epoch1 === t1, s"stream epoch 1 $epoch1 != batch twin $t1")
    val all = StreamingFuzzyDedup.landed(spark, tableDir)
      .select("id").as[Long].collect().sorted.toSeq
    assert(all === (t0 ++ t1).sorted, s"landed $all != twin union")
    // both stores hold the same survivor signatures
    assert(spark.table(streamTbl).count() === spark.table(twinTbl).count())
    // compactEvery=2 fired after epoch 2: the stream's store is ONE file
    // per bucket (the twin, append-only, is fragmented across its appends)
    import org.apache.spark.sql.functions.col
    def dataFiles(t: String): Int = {
      val loc = spark.sql(s"DESCRIBE TABLE EXTENDED $t")
        .filter(col("col_name") === "Location")
        .select("data_type").as[String].head().stripPrefix("file:")
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(loc))
      try walk.iterator().asScala
        .count(p => p.getFileName.toString.startsWith("part-"))
      finally walk.close()
    }
    assert(dataFiles(streamTbl) <= spec.buckets,
      s"store not compacted: ${dataFiles(streamTbl)} files")
    assert(dataFiles(twinTbl) > dataFiles(streamTbl))
  }

  test("streaming incremental dedup: cross-batch duplicate keys never re-append") {
    import graft.streaming.StreamingDedup
    import graft.streaming.{Doc => DDoc}
    val tableDir = Files.createTempDirectory("sdedup-table").toString
    val ckpt = Files.createTempDirectory("sdedup-ckpt").toString
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[DDoc]
    // compactEvery=2 so the key-snapshot fold runs mid-test
    val q = StreamingDedup.start(spark, stream.toDS().toDF(),
      tableDir, ckpt, compactEvery = 2)
    try {
      // batch 0: two distinct texts + an intra-batch duplicate (min id wins)
      stream.addData(Seq(DDoc(10, "alpha beta"), DDoc(11, "gamma delta"),
        DDoc(12, "alpha beta")))
      q.processAllAvailable()
      // batch 1: re-delivers "alpha beta" (cross-batch dup) + one new text
      stream.addData(Seq(DDoc(20, "alpha beta"), DDoc(21, "epsilon zeta")))
      q.processAllAvailable()
      // batch 2: everything already seen — must land an EMPTY epoch
      stream.addData(Seq(DDoc(30, "gamma delta"), DDoc(31, "epsilon zeta")))
      q.processAllAvailable()
      // batch 3: whitespace-normalization dup (fingerprint equality) + new
      stream.addData(Seq(DDoc(40, "  alpha   beta "), DDoc(41, "eta theta")))
      q.processAllAvailable()
    } finally q.stop()

    val landed = StreamingDedup.landed(spark, tableDir)
      .as[(Long, String)].collect()
    // one row per distinct fingerprint, first-seen (min-id-in-batch) wins
    assert(landed.map(_._2).distinct.length === landed.length)
    assert(landed.map(_._1).sorted.toSeq === Seq(10L, 11L, 21L, 41L))
    // the compaction snapshot exists and covers committed epochs
    val io = new graft.core.TableIO(spark, tableDir)
    assert(io.hasCommitted("committed_fps"))
    assert(io.counterOf("committed_fps", "covers_epochs").exists(_ >= 1L))
    // per-epoch survivors: epoch 1 = the one novel doc of batch 1
    val epoch1 = StreamingDedup.landedRange(spark, tableDir, 0)
      .as[(Long, String)].collect().filter(_._1 < 30)
    assert(epoch1.map(_._1).toSet === Set(21L))
  }

  test("stateful sessionization: stream (flatMapGroupsWithState) ≡ batch windows") {
    import graft.streaming.Sessionize
    import graft.streaming.Sessionize.{Ev, Session}
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000)
    // key A: two sessions (gap 60s exceeded between 70 and 400);
    // key B: one session; the final 10_000-sec event advances the
    // watermark far enough to close everything emitted below
    val evs = Seq(
      Ev("A", t(10)), Ev("A", t(40)), Ev("A", t(70)),
      Ev("B", t(100)),
      Ev("A", t(400)), Ev("A", t(430)))
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[Ev]
    val out = Sessionize.sessionsStream(stream.toDS(), gapSec = 60)
    val q = out.writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    stream.addData(evs)
    q.processAllAvailable()
    stream.addData(Seq(Ev("C", t(10000)))) // watermark jump → timeouts fire
    q.processAllAvailable()
    stream.addData(Seq(Ev("C", t(20000)))) // close C's first event too
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sessions").as[Session].collect()
      .map(s => (s.key, s.start_ts, s.end_ts, s.n)).toSet
    assert(streamed.contains(("A", 10L, 70L, 3L)))
    assert(streamed.contains(("A", 400L, 430L, 2L)))
    assert(streamed.contains(("B", 100L, 100L, 1L)))

    // batch twin on the same rows agrees (modulo the late open C session)
    val batchDf = evs.map(e => (e.key, e.ts)).toDF("k", "ts")
    val batch = Sessionize.sessionsBatch(batchDf, "k", "ts", 60)
      .as[(String, Int, Long, Long, Long)].collect()
      .map(s => (s._1, s._3, s._4, s._5)).toSet
    assert(batch === streamed.filter(_._1 != "C"))
  }

  test("driver query q_sessionize_stream ≡ q_sessionize (stream path in the gate)") {
    val sf = "/root/testdata/sf0.001"
    val streamed = SparkEntry.queries("q_sessionize_stream")(spark, sf)
      .as[(String, Int, Long, Long, Long)].collect().toSet
    val batch = SparkEntry.queries("q_sessionize")(spark, sf)
      .as[(String, Int, Long, Long, Long)].collect().toSet
    assert(streamed.nonEmpty)
    assert(streamed === batch)
  }

  test("watermarked tumbling windows finalize in append mode") {
    import graft.streaming.Windowed
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000)
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[(java.sql.Timestamp, String)]
    val counts = Windowed.eventCounts(
      stream.toDF().toDF("ts", "event_type"), "ts", "event_type",
      windowLen = "1 hour", watermark = "10 minutes")
    val q = counts.writeStream.format("memory").queryName("wincounts")
      .outputMode("append").start()
    stream.addData(Seq((t(600), "x"), (t(1200), "x"), (t(1800), "y")))
    q.processAllAvailable()
    // advance the watermark past hour-0 + 10 min → hour-0 windows finalize
    stream.addData(Seq((t(3600 + 1200), "x")))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("wincounts")
      .as[(Long, String, Long)].collect().toSet
    assert(rows === Set((0L, "x", 2L), (0L, "y", 1L)))
  }

  test("long run: key compaction bounds the per-batch dedup inputs") {
    val cfg10 = Corpus.Config(nDocs = 200, nEntities = 60, seed = 7L)
    val all = Corpus.docs(cfg10).toVector
    val m2e = CorpusData.ment2entDF(spark, cfg10)
    val av = CorpusData.avpairDF(spark, cfg10)
    val tableDir = Files.createTempDirectory("stream-table10").toString
    val ckpt = Files.createTempDirectory("stream-ckpt10").toString
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[Doc]
    val q = StreamingKg.start(spark, stream.toDF(), m2e, av, tableDir, ckpt,
      compactEvery = 3)
    // 10 micro-batches, each overlapping the previous (re-delivery pattern)
    all.grouped(20).take(10).zipWithIndex.foreach { case (chunk, i) =>
      stream.addData(if (i == 0) chunk else all.slice(i * 20 - 10, i * 20) ++ chunk)
      q.processAllAvailable()
    }
    q.stop()
    val io = new graft.core.TableIO(spark, tableDir)
    // compaction ran and covers all but a bounded epoch tail
    val covered = io.counterOf("committed_keys", "covers_epochs").get
    val last = io.lastCommitted("stream_triples")
    assert(covered >= last - 3,
      s"key snapshot lags: covers $covered of $last epochs")
    // exact global dedup held across all 10 epochs
    val landed = StreamingKg.landed(spark, tableDir)
      .select("subj", "pred", "obj")
      .as[(String, String, String)].collect()
    assert(landed.length === landed.toSet.size)
    val batchRaw = StreamingKg.batchTriples(spark,
      CorpusData.docsDF(spark, cfg10), m2e, av)
      .select("subj", "pred", "obj")
      .as[(String, String, String)].collect().toSet
    assert(landed.toSet === batchRaw)
  }

  test("micro-batch replay: a re-run batch neither double-counts nor re-appends") {
    import graft.streaming.StreamingLm
    import graft.streaming.{Doc => LDoc}
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.StreamingQuery
    import java.nio.file.Paths
    import java.nio.file.attribute.FileTime
    import scala.jdk.CollectionConverters._
    val base = Files.createTempDirectory("stream-replay")
    // a file source whose every file is one micro-batch, laid down before the
    // query starts: one parquet file per frame, in ascending mtime order
    def fileStream(name: String, batches: Seq[DataFrame]): DataFrame = {
      val dir = Files.createDirectories(base.resolve(name))
      batches.zipWithIndex.foreach { case (df, k) =>
        val staged = base.resolve(s"$name-staged-$k")
        df.coalesce(1).write.parquet(staged.toString)
        val part = Files.list(staged).iterator.asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        val file = Files.move(part, dir.resolve(s"batch-$k.parquet"))
        Files.setLastModifiedTime(file, FileTime.fromMillis(1600000000000L + k * 60000L))
      }
      spark.readStream.schema(batches.head.schema)
        .option("maxFilesPerTrigger", 1).parquet(dir.toString)
    }
    def run(q: StreamingQuery): StreamingQuery = {
      try q.processAllAvailable() finally q.stop()
      q
    }
    // after both batches ran, delete batch 1's commit marker: a restart on
    // the same checkpoint re-runs that batch from its logged offsets
    def uncommitBatch1(ckpt: String): Unit = {
      val commits = Paths.get(ckpt, "commits")
      assert(Files.exists(commits.resolve("1")) && !Files.exists(commits.resolve("2")))
      Files.delete(commits.resolve("1"))
      Files.deleteIfExists(commits.resolve(".1.crc"))
    }
    def reranBatch1(q: StreamingQuery): Boolean = q.recentProgress.exists(_.batchId == 1)

    // StreamingLm: the replayed batch's counts are not merged twice
    val lmBatches = Seq(
      Seq(LDoc(1, "the cat sat on the mat"), LDoc(2, "the dog ran")),
      Seq(LDoc(3, "the cat and the dog sat")))
    val lmTable = base.resolve("lm-table").toString
    val lmCkpt = base.resolve("lm-ckpt").toString
    val lmStream = fileStream("lm-src", lmBatches.map(_.toDF()))
    run(StreamingLm.start(spark, lmStream, lmTable, lmCkpt))
    uncommitBatch1(lmCkpt)
    assert(reranBatch1(run(StreamingLm.start(spark, lmStream, lmTable, lmCkpt))))
    val streamed = StreamingLm.model(spark, lmTable, minCount = 1L)
      .as[(String, Double)].collect().sortBy(_._1).toSeq
    val oneShot = graft.datapipe.LmScore.train(
        lmBatches.flatten.toDF(), "text", minCount = 1L)
      .as[(String, Double)].collect().sortBy(_._1).toSeq
    assert(streamed === oneShot)
    val counts = new graft.core.TableIO(spark, lmTable).read(StreamingLm.stage)
      .as[(String, Long)].collect()
    assert(counts.map(_._2).sum ===
      lmBatches.flatten.flatMap(_.text.split("\\s+")).count(_.nonEmpty))

    // StreamingKg: the replayed batch appends no triple a second time
    val docs = Corpus.docs(cfg).toVector.take(120)
    val m2e = CorpusData.ment2entDF(spark, cfg)
    val av = CorpusData.avpairDF(spark, cfg)
    val kgTable = base.resolve("kg-table").toString
    val kgCkpt = base.resolve("kg-ckpt").toString
    val (d0, d1) = docs.splitAt(60)
    val kgStream = fileStream("kg-src", Seq(d0.toDF(), d1.toDF()))
    def landed = StreamingKg.landed(spark, kgTable)
      .select("subj", "pred", "obj").as[(String, String, String)].collect()
    def startKg() = StreamingKg.start(spark, kgStream, m2e, av, kgTable, kgCkpt)
    run(startKg())
    val beforeReplay = landed.toSeq.sorted
    uncommitBatch1(kgCkpt)
    assert(reranBatch1(run(startKg())))
    val after = landed.toSeq.sorted
    assert(beforeReplay.nonEmpty)
    assert(after === beforeReplay)
    assert(after.distinct.length === after.length)
  }
}
