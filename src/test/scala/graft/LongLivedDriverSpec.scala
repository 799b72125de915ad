package graft

import graft.gen.{Corpus, CorpusData}
import org.scalatest.funsuite.AnyFunSuite

/** A long-lived driver (notebook, service, bench loop) runs the lazy
  * pipeline again and again in one session. Nothing may pile up: the run
  * never registers a CacheManager entry, and the blocks of its shared
  * triple rows are reaped by the ContextCleaner once the outputs are
  * unreachable. */
class LongLivedDriverSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val cfg = Corpus.Config(nDocs = 400, nEntities = 120, seed = 7L)

  private def cachedRdds: Set[Int] = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
  private def freeStorage: Long =
    spark.sparkContext.getExecutorMemoryStatus.values.map(_._2).sum

  /** One lazy run with every output written in full; its outputs become
    * unreachable when this returns. The RDDs cached while they were live. */
  private def runOnce(): Set[Int] = {
    val out = KgPipeline.run(spark, CorpusData.docsDF(spark, cfg),
      CorpusData.ment2entDF(spark, cfg), CorpusData.avpairDF(spark, cfg),
      shufflePartitions = 4, dimFastPaths = true)
    assert(spark.sharedState.cacheManager.isEmpty, "run registered a cached frame")
    Seq(out.triples, out.vertices, out.edges)
      .foreach(_.write.format("noop").mode("overwrite").save())
    assert(spark.sharedState.cacheManager.isEmpty, "outputs registered a cached frame")
    cachedRdds
  }

  test("three lazy runs back to back: no cached frames; blocks reaped after GC") {
    // earlier suites in this JVM may leave frames cached
    spark.catalog.clearCache()
    val rdds0 = cachedRdds
    val free0 = freeStorage
    for (i <- 1 to 3)
      assert((runOnce() diff rdds0).nonEmpty, s"run $i persisted no rows")

    // the ContextCleaner reaps asynchronously, after the GC enqueues the
    // dead references
    val deadline = System.nanoTime() + 60L * 1000000000L
    def reaped = (cachedRdds diff rdds0).isEmpty && freeStorage >= free0
    while (!reaped && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(250)
    }
    assert((cachedRdds diff rdds0).isEmpty, s"RDDs still cached after GC: ${cachedRdds diff rdds0}")
    assert(freeStorage >= free0, s"storage memory not released: $freeStorage < $free0")
    assert(spark.sharedState.cacheManager.isEmpty)
  }
}
