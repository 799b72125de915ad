package graft

import graft.core.TableIO
import graft.gen.{Corpus, CorpusData}
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
    // dimBound = 1: every dim collect's limit-N+1 probe overflows, so the
    // fused phase bails, the broadcast-trie build is skipped, mention
    // detection runs through Mentions.detectBySubstring, and the BFS runs
    // the dataflow loop with an unforced m2e join — the degradation path a
    // 100× dictionary takes instead of OOMing the driver.
    val bounded = KgPipeline.run(spark, docs, m2e, av, shufflePartitions = 4,
        dimFastPaths = true, dimBound = 1L)
      .triples.select("subj", "pred", "obj")
      .as[(String, String, String)].collect().toSet
    val reference = tripleSet(fast = true)
    assert((reference diff bounded).isEmpty && (bounded diff reference).isEmpty,
      s"diffA=${(reference diff bounded).take(3)} diffB=${(bounded diff reference).take(3)}")
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
    val io = new TableIO(spark, Files.createTempDirectory("kgio").toString)
    val ck = KgPipeline.run(spark, docs, m2e, av, Some(io), 4)
    val lz = KgPipeline.run(spark, docs, m2e, av, shufflePartitions = 4)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    for ((name, c, l) <- Seq(("triples", ck.triples, lz.triples),
        ("vertices", ck.vertices, lz.vertices), ("edges", ck.edges, lz.edges))) {
      val (a, b) = (rows(c), rows(l))
      assert(a.nonEmpty && a == b,
        s"$name: ckOnly=${(a diff b).take(3)} lazyOnly=${(b diff a).take(3)}")
    }
  }

  test("lazy run: vertices and edges read the shared triple rows, not the docs plan") {
    import org.apache.spark.sql.execution.LogicalRDD
    val d = docs
    val out = KgPipeline.run(spark, d, m2e, av, shufflePartitions = 4)
    val shared = out.triples.queryExecution.optimizedPlan.collectLeaves()
      .collect { case r: LogicalRDD => r.rdd }
    assert(shared.size == 1, "lazy triples are not one materialized relation")
    val docLeaves = d.queryExecution.optimizedPlan.collectLeaves()
    for ((name, df) <- Seq(("vertices", out.vertices), ("edges", out.edges))) {
      val leaves = df.queryExecution.optimizedPlan.collectLeaves()
      assert(leaves.exists { case r: LogicalRDD => r.rdd eq shared.head; case _ => false },
        s"$name does not read the shared triple rows")
      assert(!leaves.exists(l => docLeaves.exists(_.sameResult(l))),
        s"$name recomputes the triples from the docs")
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
