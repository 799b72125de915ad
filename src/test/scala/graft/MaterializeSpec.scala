package graft

import graft.core.{Materialize, TableIO}
import graft.datapipe.{LmScore, Packing, Profile}
import graft.stages.{Export, TreeAnalytics, TreeGraph}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import scala.jdk.CollectionConverters._

/** The materialization module: `scoped` releases what it persists,
  * `cut` leaves a LocalRelation alone, every caller that holds a cache
  * leaves the CacheManager empty, and nothing in src/main names a storage
  * mechanism outside it. */
class MaterializeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def cacheEmpty: Boolean = spark.sharedState.cacheManager.isEmpty

  /** `body`'s result and the jobs it launched. Listener events arrive in
    * order: once a sentinel job started after `body` is seen, so is every
    * job of `body`. */
  private def withJobCount[A](body: => A): (A, Int) = {
    val sentinel = spark.sparkContext.parallelize(Seq(1), 1)
    val jobs = new AtomicInteger
    val sentinelSeen = new AtomicBoolean(false)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.stageInfos.exists(_.rddInfos.exists(_.id == sentinel.id)))
          sentinelSeen.set(true)
        else jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val a = body
      sentinel.count()
      val deadline = System.nanoTime() + 60e9.toLong
      while (!sentinelSeen.get && System.nanoTime() < deadline) Thread.sleep(20)
      assert(sentinelSeen.get, "listener never saw the sentinel job")
      (a, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("scoped leaves the CacheManager empty when the block returns or throws") {
    spark.catalog.clearCache() // earlier suites in this JVM may leave frames cached
    val df = spark.range(100).toDF("id")
    val n = Materialize.scoped(df) { held =>
      assert(!cacheEmpty, "scoped did not persist its frame")
      held.count()
    }
    assert(n === 100L)
    assert(cacheEmpty, "scoped left its frame cached after returning")
    val e = intercept[IllegalStateException] {
      Materialize.scoped(df) { held =>
        held.count()
        throw new IllegalStateException("use failed")
      }
    }
    assert(e.getMessage === "use failed")
    assert(cacheEmpty, "scoped left its frame cached after a throw")
  }

  test("cut returns a LocalRelation's plan unchanged and launches no job") {
    val local = Seq((1, "a"), (2, "b")).toDF("k", "v")
    assert(local.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    val (same, jobs) = withJobCount(Materialize.cut(local))
    assert(same.queryExecution.logical eq local.queryExecution.logical)
    assert(jobs === 0, s"cut of a LocalRelation launched $jobs job(s)")
    // any other frame is checkpointed, which runs its plan once
    val (cutRange, rangeJobs) = withJobCount(Materialize.cut(spark.range(10).toDF("id")))
    assert(rangeJobs >= 1)
    assert(!cutRange.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    assert(cutRange.as[Long].collect().sorted.toSeq === (0L until 10L))
  }

  test("every caller that holds a cache leaves the CacheManager empty") {
    spark.catalog.clearCache()
    def clean(what: String)(run: => Any): Unit = {
      run
      assert(cacheEmpty, s"$what left a frame in the CacheManager")
    }
    val docs = Seq((10L, "a b c"), (11L, "a b c d e a"), (12L, "solo b"),
      (13L, "w x a"))
      .toDF("doc_id", "text")
    clean("packIndex")(Packing.packIndex(docs, "doc_id", "text", 4L, parts = 2).collect())
    clean("shuffleOrder")(Packing.shuffleOrder(docs, "doc_id", parts = 2).collect())
    val io = new TableIO(spark, Files.createTempDirectory("graft-mat-pack").toString)
    clean("packIncremental")(
      Packing.packIncremental(io, "pack", docs, "doc_id", "text", 4L, parts = 2).collect())
    clean("LmScore.train")(LmScore.train(docs, "text", minCount = 1L).collect())
    clean("Profile.hotKeys")(Profile.hotKeys(docs, "text", 2).collect())

    val edges = Seq(("r1", null.asInstanceOf[String]), ("a", "r1"), ("c", "a"))
      .toDF("mid", "repost_id")
    val labels = TreeAnalytics.rootsAndLevels(edges)
    clean("rootsAndLevels")(labels.collect())
    clean("TreeGraph.subtree")(TreeGraph.subtree(edges, Seq("r1")).collect())

    val triples = Seq(
      ("root:香港", "keyword", "blog:r1", "d0", 0),
      ("blog:r1", "repost", "blog:a", "d1", 0),
      ("blog:a", "repost", "blog:c", "d2", 0))
      .toDF("subj", "pred", "obj", "doc_id", "span_offset")
    clean("writeAll")(Export.writeAll(spark, triples,
      Files.createTempDirectory("graft-mat-export").toString))
    clean("writeAllWithEpisodes")(Export.writeAllWithEpisodes(spark, triples, edges,
      Seq(("r1", "香港")).toDF("mid", "keyword"), labels,
      Files.createTempDirectory("graft-mat-episodes").toString))
  }

  test("no code line in src/main names a storage mechanism outside Materialize") {
    val root = Paths.get(sys.props("user.dir"), "src", "main", "scala")
    assert(Files.isDirectory(root), s"source tree not found at $root")
    val mechanism = """localCheckpoint\(|\.persist\(|\.cache\(\)|unpersist\(""".r
    val allowed = Seq("graft/core/Materialize.scala",
      "org/apache/spark/sql/graftbridge/SharedRows.scala")
    // a code line: not a comment line, and without its trailing comment
    def code(line: String): String = {
      val t = line.trim
      if (t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")) ""
      else t.replaceFirst("//.*$", "")
    }
    val files = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty)
    val hits = files
      .filterNot(p => allowed.exists(a => root.relativize(p).toString.replace('\\', '/') == a))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (l, i) if mechanism.findFirstIn(code(l)).isDefined =>
            s"${root.relativize(p)}:${i + 1}: ${l.trim}"
        }
      }
    if (hits.nonEmpty)
      fail(s"materialization outside core/Materialize:\n${hits.mkString("\n")}")
  }
}
