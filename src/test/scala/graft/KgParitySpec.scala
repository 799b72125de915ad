package graft

import graft.core.TableIO
import graft.gen.{Corpus, CorpusData}
import graft.stages.KbExpand
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Cross-cutting pipeline properties: the dim-side driver fast paths emit
  * exactly the dataflow paths' triples; a killed run resumes from the last
  * committed snapshot to an identical final set (BASELINE.md resumability);
  * the lazy and checkpointed runs give identical outputs, and the lazy
  * run's vertices/edges read its one materialized triple set; dedup and
  * canonicalization are idempotent. */
class KgParitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val cfg = Corpus.Config(nDocs = 800, nEntities = 120, seed = 42L)
  private def docs = CorpusData.docsDF(spark, cfg)
  private def m2e = CorpusData.ment2entDF(spark, cfg)
  private def av = CorpusData.avpairDF(spark, cfg)

  private def tripleSet(fast: Boolean): Set[(String, String, String)] =
    KgPipeline.run(spark, docs, m2e, av, shufflePartitions = 4,
      dimFastPaths = fast)
      .triples.select("subj", "pred", "obj")
      .as[(String, String, String)].collect().toSet

  test("dimFastPaths ≡ pure dataflow (identical triple set)") {
    val slow = tripleSet(fast = false)
    val fastS = tripleSet(fast = true)
    assert((slow diff fastS).isEmpty && (fastS diff slow).isEmpty,
      s"diffA=${(slow diff fastS).take(3)} diffB=${(fastS diff slow).take(3)}")
  }

  test("over-bound ment2ent degrades to the distributed detect + dataflow expand, identical triples") {
    // dimBound = 1: the seed step's limit-N+1 ment2ent probe overflows, so
    // the broadcast-trie build is skipped, mention detection runs through
    // Mentions.detectBySubstring, avpair is never collected, and the BFS
    // runs the dataflow loop with an unforced m2e join — the degradation
    // path a 100× dictionary takes instead of OOMing the driver.
    val bounded = KgPipeline.run(spark, docs, m2e, av, shufflePartitions = 4,
        dimFastPaths = true, dimBound = 1L)
      .triples.select("subj", "pred", "obj")
      .as[(String, String, String)].collect().toSet
    val reference = tripleSet(fast = true)
    assert((reference diff bounded).isEmpty && (bounded diff reference).isEmpty,
      s"diffA=${(reference diff bounded).take(3)} diffB=${(bounded diff reference).take(3)}")
  }

  test("dimBound between |ment2ent| and |avpair|: trie seeds, dataflow BFS and canon, identical triples") {
    // the dictionary fits (trie + collected m2e) but the avpair probe
    // overflows, so the closure and the canonical map take their dataflow
    // paths fed by a driver-built seed set
    val (nM, nA) = (m2e.count(), av.count())
    val bound = (nM + nA) / 2
    assert(nM < bound && bound < nA, s"|ment2ent|=$nM |avpair|=$nA")
    val mixed = KgPipeline.run(spark, docs, m2e, av, shufflePartitions = 4,
        dimFastPaths = true, dimBound = bound)
      .triples.select("subj", "pred", "obj")
      .as[(String, String, String)].collect().toSet
    val reference = tripleSet(fast = false)
    assert((reference diff mixed).isEmpty && (mixed diff reference).isEmpty,
      s"diffA=${(reference diff mixed).take(3)} diffB=${(mixed diff reference).take(3)}")
  }

  test("m2eTooLarge: KbExpand.expand never collects avpair to the driver") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    // an RDD-backed avpair, so a driver collect of it launches a job whose
    // stages name the collect's call site and list the RDD
    val avRows = av.rdd
    val avOverRdd = spark.createDataFrame(avRows, av.schema)
    val sentinel = spark.sparkContext.parallelize(Seq(1), 1)
    val avCollects = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val sentinelSeen = new java.util.concurrent.atomic.AtomicBoolean(false)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val rdds = j.stageInfos.flatMap(_.rddInfos.map(_.id)).toSet
        if (rdds.contains(sentinel.id)) sentinelSeen.set(true)
        else if (rdds.contains(avRows.id))
          j.stageInfos.map(_.name).filter(_.startsWith("collect at KbExpand"))
            .foreach(avCollects.add)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val seeds = m2e.select("mention")
      def kb(tooLarge: Boolean) = KbExpand.expand(spark, seeds, m2e, avOverRdd,
          graft.core.Rules.recursivePreds, driverThreshold = 1000000L,
          m2eTooLarge = tooLarge)
        .as[(String, String, String)].collect().toSet
      val dataflow = kb(tooLarge = true)
      // listener events arrive in order: once the sentinel job's start is
      // seen, so is every earlier job's
      sentinel.count()
      val deadline = System.nanoTime() + 60e9.toLong
      while (!sentinelSeen.get && System.nanoTime() < deadline) Thread.sleep(20)
      assert(sentinelSeen.get, "listener never saw the sentinel job")
      assert(avCollects.isEmpty, s"avpair collected: $avCollects")
      assert(dataflow.nonEmpty && dataflow == kb(tooLarge = false))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("substring detect ≡ broadcast-trie detect on the corpus dictionary") {
    val dict = m2e.select("mention").distinct()
      .as[String].collect().toSeq
    val spans = KgPipeline.textSpans(docs)
    val trie = graft.stages.Mentions.detect(spark, spans, dict)
      .select(col("doc_id").cast("string"), col("span_offset"), col("mention"))
      .as[(String, Int, String)].collect().toSet
    val sub = graft.stages.Mentions.detectBySubstring(spark, spans,
        m2e.select("mention"))
      .select(col("doc_id").cast("string"), col("span_offset"), col("mention"))
      .as[(String, Int, String)].collect().toSet
    assert((trie diff sub).isEmpty && (sub diff trie).isEmpty,
      s"diffA=${(trie diff sub).take(3)} diffB=${(sub diff trie).take(3)}")
  }

  test("kill/resume: re-run from committed snapshots yields identical triples") {
    val dir = Files.createTempDirectory("kgio").toString
    val io1 = new TableIO(spark, dir)
    val full = KgPipeline.run(spark, docs, m2e, av, Some(io1), 4)
      .triples.select("subj", "pred", "obj")
      .as[(String, String, String)].collect().toSet

    // simulate a crash after the kb/canon commits: downstream snapshots gone
    import scala.reflect.io.Directory
    new Directory(new java.io.File(s"$dir/triples")).deleteRecursively()
    new Directory(new java.io.File(s"$dir/vertices")).deleteRecursively()
    new Directory(new java.io.File(s"$dir/edges")).deleteRecursively()

    val io2 = new TableIO(spark, dir)
    assert(io2.hasCommitted("weibo_triples") && io2.hasCommitted("kb_triples"))
    val resumed = KgPipeline.run(spark, docs, m2e, av, Some(io2), 4)
      .triples.select("subj", "pred", "obj")
      .as[(String, String, String)].collect().toSet
    assert(resumed === full)

    // manifests carry lineage + per-partition counts
    val manifest = io2.manifest("triples")
    assert(manifest.contains("\"upstream\""))
    assert(manifest.contains("per_partition"))
    assert(manifest.contains("\"row_count\""))
  }

  test("lazy ≡ checkpointed: identical triples (with provenance), vertices and edges") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    for (fast <- Seq(false, true)) {
      val io = new TableIO(spark, Files.createTempDirectory("kgio").toString)
      val ck = KgPipeline.run(spark, docs, m2e, av, Some(io), 4, dimFastPaths = fast)
      val lz = KgPipeline.run(spark, docs, m2e, av, shufflePartitions = 4,
        dimFastPaths = fast)
      for ((name, c, l) <- Seq(("triples", ck.triples, lz.triples),
          ("vertices", ck.vertices, lz.vertices), ("edges", ck.edges, lz.edges))) {
        val (a, b) = (rows(c), rows(l))
        assert(a.nonEmpty && a == b,
          s"dimFastPaths=$fast $name: ckOnly=${(a diff b).take(3)} lazyOnly=${(b diff a).take(3)}")
      }
    }
  }

  test("lazy run: vertices and edges read the shared triple rows, not the docs plan") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.LogicalRDD
    val d = docs
    for (fast <- Seq(false, true)) {
      val out = KgPipeline.run(spark, d, m2e, av, shufflePartitions = 4,
        dimFastPaths = fast)
      val shared = out.triples.queryExecution.optimizedPlan.collectLeaves()
        .collect { case r: LogicalRDD => r.rdd }
      assert(shared.size == 1, s"dimFastPaths=$fast: lazy triples are not one materialized relation")
      val docLeaves = d.queryExecution.optimizedPlan.collectLeaves()
      for ((name, df) <- Seq(("vertices", out.vertices), ("edges", out.edges))) {
        val leaves = df.queryExecution.optimizedPlan.collectLeaves()
        assert(leaves.exists { case r: LogicalRDD => r.rdd eq shared.head; case _ => false },
          s"dimFastPaths=$fast: $name does not read the shared triple rows")
        assert(!leaves.exists(l => docLeaves.exists(_.sameResult(l))),
          s"dimFastPaths=$fast: $name recomputes the triples from the docs")
      }
      if (fast) {
        // the fast paths' kb and canonical map stay LocalRelations: the
        // shared triple rows are vertices' only RDD leaf (no dim checkpoint)
        val leaves = out.vertices.queryExecution.optimizedPlan.collectLeaves()
        val rdds = leaves.collect { case r: LogicalRDD => r.rdd }
        assert(rdds.forall(_ eq shared.head),
          s"vertices reads RDDs other than the shared rows; the dims were checkpointed: $rdds")
        assert(leaves.exists(_.isInstanceOf[LocalRelation]),
          "vertices has no LocalRelation dim leaf")
      }
    }
  }

  test("dedup + canonicalization idempotence: running twice = once") {
    val out1 = KgPipeline.run(spark, docs, m2e, av, shufflePartitions = 4)
    val t1 = out1.triples.select("subj", "pred", "obj")
    // feeding the canonical triple set through dedup again changes nothing
    val again = t1.groupBy("subj", "pred", "obj").count()
    assert(again.filter(col("count") > 1).count() === 0)
  }
}
