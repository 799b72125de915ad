package graft.stages

import graft.core.Frontier
import graft.core.Materialize._
import graft.functions.{TextExtract => TE}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** BlogTreeInNeo4j's graph vocabulary (BlogTreeInNeo4j.kt:59–66, 133–202) —
  * the reference's third main: starting from a chosen root set, materialize
  * the repost SUBTREE as a labeled graph with tag and time nodes as
  * first-class vertices:
  *
  *   repost:  blog:parent → blog:child        (registerRepost, :59–66)
  *   reply:   blog:mid    → comment:cid        (midToCid, :150)
  *   create:  user:uid    → blog:mid | comment:cid  (uidToIds, :173)
  *   contain: tag:tag     → blog:mid           (loadTags + :177)
  *   when:    time:date   → blog:mid           (times, :192; comments
  *                                              commented out in reference)
  *
  * `date` is the first 10 chars of the blog time when it contains
  * `\d{4}-\d{2}-\d{2}` anywhere, else "unknown" (BlogTreeInNeo4j.kt:82–93).
  * Placeholder mids (reposted but never scraped) stay in the subtree with
  * uid "" and time "unknown" — the reference's default-initialized Blog.
  *
  * Deltas from the reference (documented, SURVEY.md §7.4): edges are a
  * DISTINCT set (our sinks are MERGE-style; the reference CREATEs one edge
  * per occurrence), and vertex identity is the prefixed name instead of a
  * transactional integer id.
  *
  * The subtree is a [[graft.core.Frontier.closure]] — O(depth) equi-joins on
  * the parent key, never a driver recursion; at 100 TB each level is one
  * co-partitioned join.
  */
object TreeGraph {

  /** Descendant mid set of `rootMids` (inclusive) over (mid, repost_id): the
    * [[graft.core.Frontier.closure]] of the roots under child-of. */
  def subtree(blogs: DataFrame, rootMids: Seq[String], maxDepth: Int = 64): DataFrame = {
    val spark = blogs.sparkSession
    import spark.implicits._
    // scoped: every level's step reads the child→parent pairs, which
    // would otherwise re-run `blogs` once per level
    scoped(blogs.filter(col("repost_id").isNotNull)
        .select(col("mid"), col("repost_id").as("parent"))) { c2p =>
      Frontier.closure(rootMids.toDF("mid"), "mid", maxDepth) { level =>
        c2p.join(level.select(col("mid").as("parent")), Seq("parent"))
          .select("mid")
          .distinct()
      }
    }
  }

  /** (src, rel, dst) edge set of the subtree graph. `blogs` / `comments` are
    * normalized VALID rows (Normalize.blogs/.comments filtered on `valid`). */
  def edges(blogs: DataFrame, comments: DataFrame, rootMids: Seq[String]): DataFrame = {
    val sub = subtree(blogs, rootMids) // its levels are already checkpointed
    val subBlogs = sub.join(blogs, Seq("mid"), "left") // placeholders keep null cols

    val repost = blogs.filter(col("repost_id").isNotNull)
      .join(sub.withColumnRenamed("mid", "repost_id"), Seq("repost_id"))
      .select(concat(lit("blog:"), col("repost_id")).as("src"),
        lit("repost").as("rel"), concat(lit("blog:"), col("mid")).as("dst"))

    val reply = comments.join(sub, Seq("mid"))
      .select(concat(lit("blog:"), col("mid")).as("src"),
        lit("reply").as("rel"), concat(lit("comment:"), col("cid")).as("dst"))

    val createBlog = subBlogs
      .select(concat(lit("user:"), coalesce(col("uid"), lit(""))).as("src"),
        lit("create").as("rel"), concat(lit("blog:"), col("mid")).as("dst"))

    val createComment = comments.join(sub, Seq("mid"))
      .select(concat(lit("user:"), coalesce(col("uid"), lit(""))).as("src"),
        lit("create").as("rel"), concat(lit("comment:"), col("cid")).as("dst"))

    val contain = subBlogs.filter(col("content").isNotNull)
      .select(col("mid"), explode(TE.detectTags(col("content"))).as("tag"))
      .select(concat(lit("tag:"), col("tag")).as("src"),
        lit("contain").as("rel"), concat(lit("blog:"), col("mid")).as("dst"))

    val whenDate =
      when(col("time").isNotNull && col("time").rlike("\\d{4}-\\d{2}-\\d{2}"),
        substring(col("time"), 1, 10)).otherwise(lit("unknown"))
    val whenEdges = subBlogs
      .select(concat(lit("time:"), whenDate).as("src"),
        lit("when").as("rel"), concat(lit("blog:"), col("mid")).as("dst"))

    repost.unionByName(reply).unionByName(createBlog).unionByName(createComment)
      .unionByName(contain).unionByName(whenEdges)
      .distinct()
  }
}
