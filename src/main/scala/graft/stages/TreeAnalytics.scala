package graft.stages

import graft.core.Frontier
import graft.core.Materialize._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stage 6 — repost-forest analytics as iterative DataFrame passes.
  *
  * The reference builds an in-memory `Blog` adjacency forest and recurses on
  * the driver (weibo/Blog.kt:25–145, BlogTreeAnalyze.kt:25–58,
  * TreePatternAnalyze.kt:30–56). Here the forest is only ever an
  * `edges(mid, parent_mid)` DataFrame; every tree metric derives from ONE
  * iterative BFS kernel that labels each node with (root, level) — so the
  * cost is O(depth) joins regardless of forest size, and each join
  * co-partitions on the parent key. The BFS is a
  * [[graft.core.Frontier.closure]] of the roots, which truncates lineage per
  * level.
  */
object TreeAnalytics {

  /** BFS kernel. Input: (mid, repost_id) rows (repost_id nullable).
    * Output: (mid, root, level) for every node within `maxDepth` levels of
    * its root, including placeholder parents that never appeared as a mid
    * themselves — the reference turns those into roots (Blog.kt:37–44;
    * FromScrappyDump.kt:263–268).
    *
    * Skew note: the corpus plants a hot root owning ~30% of all reposts, so
    * the per-level frontier join on the parent key is skewed. While the
    * frontier fits the broadcast threshold Catalyst broadcasts it (no
    * key-partitioned exchange → no skew exposure); when both sides are
    * exchange-sized, AQE's skew-join split handles the hot key — every
    * session builder in this repo enables
    * `spark.sql.adaptive.skewJoin.enabled`.
    */
  def rootsAndLevels(blogEdges: DataFrame, maxDepth: Int = 64): DataFrame =
    // every level is cut, so the edge cache is released once the closure
    // returns: a long-lived session running many tree jobs never
    // accumulates one pinned edge set per call
    scoped(blogEdges.select(col("mid"), col("repost_id"))) { e =>
      val mids = e.select("mid")
      // placeholder parents: referenced as parent, never seen as a mid
      val placeholders = e.filter(col("repost_id").isNotNull)
        .select(col("repost_id").as("mid")).distinct()
        .join(mids, Seq("mid"), "left_anti")
      // roots: no-parent rows + placeholders
      val roots = e.filter(col("repost_id").isNull).select("mid")
        .union(placeholders).distinct()

      // child→parent pairs (parent may be a placeholder)
      val child2parent = e.filter(col("repost_id").isNotNull)
        .select(col("mid"), col("repost_id").as("parent"))

      Frontier.closure(
          roots.select(col("mid"), col("mid").as("root"), lit(0).as("level")),
          "mid", maxDepth) { level =>
        child2parent
          .join(level.select(col("mid").as("parent"), col("root"), col("level")),
            Seq("parent"))
          // a mid can repost several parents in the dump; reference addChild
          // keeps it under each parent but identity is mid-only — the
          // surviving (root, level) must be DETERMINISTIC (min root at this
          // level), not whichever partition finished first
          .groupBy("mid").agg(min("root").as("root"), min(col("level") + 1).as("level"))
      }
    }

  /** G2 — max depth per tree (Blog.kt:69–78). */
  def treeDepths(labels: DataFrame): DataFrame =
    labels.groupBy("root").agg(max("level").as("depth"))

  /** A3 — trees-per-depth histogram (BlogTreeAnalyze.kt:72–76). */
  def depthHistogram(labels: DataFrame): DataFrame =
    treeDepths(labels).groupBy("depth").agg(count("*").as("trees"))
      .orderBy("depth")

  /** G3 — per-level node counts of each tree (Blog.kt:60–67). */
  def diffusionWidth(labels: DataFrame): DataFrame =
    labels.groupBy("root", "level").agg(count("*").as("width"))

  /** TreePatternAnalyze.kt:30–56 — trees deeper than `minDepth`, average
    * diffusion width → tier histogram of step `stepSize`. The reference's
    * average is over the per-level width list (stages.average().toInt). */
  def tierHistogram(labels: DataFrame, minDepth: Int = 4, stepSize: Int = 10): DataFrame = {
    val deep = treeDepths(labels).filter(col("depth") > minDepth).select("root")
    diffusionWidth(labels)
      .join(deep, Seq("root"), "left_semi")
      .groupBy("root").agg(floor(avg("width")).cast("int").as("avg_width"))
      .groupBy((col("avg_width") / stepSize).cast("int").as("tier"))
      .agg(count("*").as("trees"))
      .orderBy("tier")
  }

  /** G8 — mean branching factor per tree over the SET of child-counts
    * (Blog.kt:128–145 uses a Set<Int>, deduplicating equal counts). */
  def averageNeighbors(blogEdges: DataFrame, labels: DataFrame): DataFrame = {
    val childCounts = blogEdges.filter(col("repost_id").isNotNull)
      .groupBy(col("repost_id").as("mid")).agg(count("*").as("n_childs"))
    childCounts.join(labels.select("mid", "root"), Seq("mid"))
      .select("root", "n_childs").distinct() // reference set semantics
      .groupBy("root").agg(floor(avg("n_childs")).cast("int").as("avg_neighbors"))
  }

  /** G6 — all root→node paths of exactly `distance` hops, as the reference's
    * "mid, mid, …" step strings (Blog.kt:91–126; depth cap 5,
    * DumpGraphToText.kt:264–267). Iterative path extension with an
    * array<string> column. */
  def pathsAtDistance(blogEdges: DataFrame, roots: DataFrame, distance: Int): DataFrame =
    pathsArrayAtDistance(blogEdges, roots, distance)
      .select(col("root"), col("tip"), concat_ws(", ", col("path")).as("steps"))

  /** Same walk, path kept as an array<string> of mids (episode export needs
    * the elements to interleave relation ids — DumpGraphToText.kt:272–281). */
  def pathsArrayAtDistance(blogEdges: DataFrame, roots: DataFrame, distance: Int): DataFrame = {
    require(distance <= 5, "reference caps episode depth at 5 (DumpGraphToText.kt:264)")
    val child2parent = blogEdges.filter(col("repost_id").isNotNull)
      .select(col("mid"), col("repost_id").as("parent"))
    var paths = roots.select(col("mid").as("tip"), col("mid").as("root"),
      array(col("mid")).as("path"))
    (0 until distance).foreach { _ =>
      paths = child2parent
        .join(paths.select(col("tip").as("parent"), col("root"), col("path")),
          Seq("parent"))
        .select(col("mid").as("tip"), col("root"),
          concat(col("path"), array(col("mid"))).as("path"))
        .cut()
    }
    paths.select("root", "tip", "path")
  }

  /** G4 — deepest chain endpoint per root (Blog.kt:80–89's longestPath tip;
    * the interactive-analysis surface). Deterministic tie-break: smallest
    * mid at the deepest level. */
  def deepestLeaf(labels: DataFrame): DataFrame =
    deepestLeaf(labels, treeDepths(labels))

  /** Overload reusing an already-computed depth table (longestPath computes
    * it once and feeds both the deep-root filter and the leaf selection). */
  def deepestLeaf(labels: DataFrame, depths: DataFrame): DataFrame =
    labels.join(depths, Seq("root"))
      .filter(col("level") === col("depth"))
      .groupBy("root").agg(min("mid").as("leaf"), max("level").as("depth"))

  /** G4 (full) — the root→leaf mid CHAIN of each tree's longest path
    * (Blog.kt:80–89 returns the whole path, recursing into the deepest
    * child). The reference's maxBy over a HashSet is order-nondeterministic;
    * here the tie-break is the smallest mid at the deepest level, and the
    * chain is recovered by walking UP from that leaf — O(depth) joins, each
    * on the (small) one-row-per-root frontier. Output: (root, depth, path)
    * with path = "root, …, leaf". */
  def longestPath(blogEdges: DataFrame, labels: DataFrame): DataFrame = {
    val maxDepth = labels.agg(max("level")).collect()(0).getInt(0)
    // the walk only ever touches nodes of trees with depth ≥ 1 — restrict
    // the per-level join input to them once, instead of joining the FULL
    // edge set at every level (at lake scale most nodes sit in shallow
    // trees; this is the difference between O(depth × |edges|) and
    // O(depth × |deep-tree edges|) join work)
    val depths = treeDepths(labels).cut()
    val deepRoots = depths.filter(col("depth") >= 1).select("root")
    val parentOf = blogEdges.filter(col("repost_id").isNotNull)
      .select(col("mid"), col("repost_id").as("parent"))
      .join(labels.join(deepRoots, Seq("root"), "left_semi").select("mid"),
        Seq("mid"), "left_semi")
      .cut()
    val start = deepestLeaf(labels, depths)
      .select(col("root"), col("depth"), col("leaf").as("cur"),
        array(col("leaf")).as("path"))
    // finished/active split: a depth-0 tree (or a walk that reached its
    // root) drops out of the join immediately — the per-level join's left
    // side shrinks as chains complete
    var finished = start.filter(col("cur") === col("root")).cut()
    var active = start.filter(col("cur") =!= col("root")).cut()
    var level = 0
    while (level < maxDepth && !active.isEmpty) {
      val stepped = active
        .join(parentOf.withColumnRenamed("mid", "cur"), Seq("cur"), "left")
        .select(col("root"), col("depth"),
          coalesce(col("parent"), col("cur")).as("cur"),
          when(col("parent").isNotNull,
            concat(array(col("parent")), col("path"))).otherwise(col("path"))
            .as("path"))
        .cut()
      finished = finished.union(stepped.filter(col("cur") === col("root")))
      active = stepped.filter(col("cur") =!= col("root")).cut()
      level += 1
    }
    // stranded walks (inconsistent edges — parent never reached the root)
    // surface as-is, exactly as the fixed-iteration formulation left them
    finished.union(active)
      .select(col("root"), col("depth"), concat_ws(", ", col("path")).as("path"))
  }
}
