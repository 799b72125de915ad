package graft

import graft.core.Frontier
import graft.stages.TreeAnalytics
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hand-computed fixture tests for the tree kernel, mirroring the
  * reference semantics (Blog.kt:25–145): placeholder parents become roots,
  * per-level widths, set-deduplicated branching average. */
class TreeAnalyticsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // forest: r1 → {a, b}, a → c, c → d ; r2 isolated ; e → p (p never a mid)
  private def edges = Seq(
    ("r1", null.asInstanceOf[String]), ("a", "r1"), ("b", "r1"),
    ("c", "a"), ("d", "c"), ("r2", null.asInstanceOf[String]), ("e", "p"))
    .toDF("mid", "repost_id")

  test("rootsAndLevels: roots incl. placeholder parents (Blog.kt:37–44)") {
    val labels = TreeAnalytics.rootsAndLevels(edges)
      .as[(String, String, Int)].collect().toSet
    assert(labels === Set(
      ("r1", "r1", 0), ("a", "r1", 1), ("b", "r1", 1), ("c", "r1", 2),
      ("d", "r1", 3), ("r2", "r2", 0), ("p", "p", 0), ("e", "p", 1)))
  }

  test("deep forest: a 200-level chain completes without per-level full re-materialization") {
    // n000 ← n001 ← … ← n200 (chain), plus one shallow tree — the fixture
    // the lazy-union frontier accumulation must handle in O(depth × frontier)
    // checkpoint work, not O(depth × nodes)
    val depth = 200
    val chain = (1 to depth).map(i => (f"n$i%03d", f"n${i - 1}%03d"))
    val deep = (Seq(("n000", null.asInstanceOf[String]), ("x", "n000")) ++ chain)
      .toDF("mid", "repost_id")
    val labels = TreeAnalytics.rootsAndLevels(deep, maxDepth = 256)
      .as[(String, String, Int)].collect()
    assert(labels.length === depth + 2)
    val byMid = labels.map(l => l._1 -> l).toMap
    assert(byMid(f"n$depth%03d") === (f"n$depth%03d", "n000", depth))
    assert(byMid("n100") === ("n100", "n000", 100))
    assert(byMid("x") === ("x", "n000", 1))
    assert(labels.forall(_._2 == "n000"))
  }

  test("a chain deeper than maxDepth stops at levels 0..maxDepth and logs one WARN") {
    // n00 ← n01 ← … ← n12 with maxDepth 5: the closure truncates at the cap
    val chain = (Seq(("n00", null.asInstanceOf[String])) ++
      (1 to 12).map(i => (f"n$i%02d", f"n${i - 1}%02d"))).toDF("mid", "repost_id")
    val warns = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("frontier-cap", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.WARN) warns.add(e.getMessage.getFormattedMessage)
    }
    val logger = LogManager.getLogger(Frontier.getClass).asInstanceOf[Logger]
    capture.start()
    logger.addAppender(capture)
    val labels =
      try TreeAnalytics.rootsAndLevels(chain, maxDepth = 5)
        .as[(String, String, Int)].collect()
      finally logger.removeAppender(capture)
    assert(labels.map(_._3).sorted.toSeq === (0 to 5))
    assert(labels.toSet === (0 to 5).map(i => (f"n$i%02d", "n00", i)).toSet)
    assert(warns.size === 1)
    assert(warns.peek().contains("may be incomplete"))
  }

  test("treeDepths + depthHistogram (Blog.kt:69–78, BlogTreeAnalyze.kt:72)") {
    val labels = TreeAnalytics.rootsAndLevels(edges)
    val depths = TreeAnalytics.treeDepths(labels)
      .as[(String, Int)].collect().toMap
    assert(depths === Map("r1" -> 3, "r2" -> 0, "p" -> 1))
    val hist = TreeAnalytics.depthHistogram(labels)
      .as[(Int, Long)].collect().toMap
    assert(hist === Map(0 -> 1, 1 -> 1, 3 -> 1))
  }

  test("diffusionWidth per level (Blog.kt:60–67)") {
    val labels = TreeAnalytics.rootsAndLevels(edges)
    val widths = TreeAnalytics.diffusionWidth(labels)
      .filter(col("root") === "r1")
      .as[(String, Int, Long)].collect().map(r => r._2 -> r._3).toMap
    assert(widths === Map(0 -> 1L, 1 -> 2L, 2 -> 1L, 3 -> 1L))
  }

  test("averageNeighbors uses SET of child-counts (Blog.kt:128–145)") {
    val labels = TreeAnalytics.rootsAndLevels(edges)
    val avg = TreeAnalytics.averageNeighbors(edges, labels)
      .as[(String, Int)].collect().toMap
    // r1 child-counts: r1→2, a→1, c→1 → set {2,1} → avg 1.5 → toInt 1
    assert(avg("r1") === 1)
  }

  test("pathsAtDistance renders step strings (Blog.kt:91–126)") {
    val labels = TreeAnalytics.rootsAndLevels(edges)
    val roots = labels.filter(col("level") === 0).select("mid")
    val paths = TreeAnalytics.pathsAtDistance(edges, roots, 2)
      .select("steps").as[String].collect().toSet
    assert(paths === Set("r1, a, c"))
    val paths1 = TreeAnalytics.pathsAtDistance(edges, roots, 1)
      .select("steps").as[String].collect().toSet
    assert(paths1 === Set("r1, a", "r1, b", "p, e"))
  }

  test("deepestLeaf (Blog.kt:80–89 longestPath endpoint)") {
    val labels = TreeAnalytics.rootsAndLevels(edges)
    val deep = TreeAnalytics.deepestLeaf(labels)
      .as[(String, String, Int)].collect().toSet
    assert(deep === Set(("r1", "d", 3), ("r2", "r2", 0), ("p", "e", 1)))
  }

  test("longestPath returns the full root→leaf mid CHAIN (Blog.kt:80–89)") {
    val labels = TreeAnalytics.rootsAndLevels(edges)
    val paths = TreeAnalytics.longestPath(edges, labels)
      .as[(String, Int, String)].collect().toSet
    assert(paths === Set(
      ("r1", 3, "r1, a, c, d"), ("r2", 0, "r2"), ("p", 1, "p, e")))
    // deterministic tie-break: smallest mid among equally-deep leaves
    val tied = Seq(
      ("t", null.asInstanceOf[String]), ("x", "t"), ("y", "t"))
      .toDF("mid", "repost_id")
    val tiedLabels = TreeAnalytics.rootsAndLevels(tied)
    val p = TreeAnalytics.longestPath(tied, tiedLabels)
      .as[(String, Int, String)].collect().toSet
    assert(p === Set(("t", 1, "t, x")))
  }

  test("longestPath walk-up joins see only deep-tree edges") {
    // a forest dominated by depth-0 singletons: the per-level join input
    // must shrink to the one deep tree's edges, not the full edge set
    val singles = (0 until 500).map(i => (s"s$i", null.asInstanceOf[String]))
    val chain = Seq(("c0", null.asInstanceOf[String]), ("c1", "c0"), ("c2", "c1"))
    val e = (singles ++ chain).toDF("mid", "repost_id")
    val labels = TreeAnalytics.rootsAndLevels(e)
    // the restriction longestPath computes internally: labels of deep roots
    val deepRoots = TreeAnalytics.treeDepths(labels)
      .filter(col("depth") >= 1).select("root")
    val walkInput = e.filter(col("repost_id").isNotNull)
      .select(col("mid"), col("repost_id").as("parent"))
      .join(labels.join(deepRoots, Seq("root"), "left_semi").select("mid"),
        Seq("mid"), "left_semi")
    assert(walkInput.count() === 2) // c1→c0, c2→c1 only
    // and the output is still exactly right across the mixed forest
    val out = TreeAnalytics.longestPath(e, labels)
      .as[(String, Int, String)].collect()
    assert(out.length === 501)
    assert(out.contains(("c0", 2, "c0, c1, c2")))
    assert(out.count(_._2 == 0) === 500)
  }
}
