package graft

import graft.stages.TreeGraph
import org.scalatest.funsuite.AnyFunSuite

/** BlogTreeInNeo4j's graph vocabulary on a hand-computed fixture
  * (BlogTreeInNeo4j.kt:133–202): subtree restriction, reply/contain/when
  * edges, tag and time vertices, placeholder-root defaults. */
class TreeGraphSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // r1 is a PLACEHOLDER root (reposted but never scraped — uid "",
  // time "unknown", the reference's default-initialized Blog). z/z2 are a
  // separate tree that must NOT leak into r1's subtree.
  private def blogs = Seq(
    ("a", "r1", "u2", null.asInstanceOf[String], "今天 10:11"),
    ("b", "r1", "u3", "@x: hi #t1#", "2019-09-03 09:30"),
    ("c", "a", "u1", "#t2# x //@y: #t3#", "2019-09-03 11:00"),
    ("z", null.asInstanceOf[String], "u9", "#zz#", "2019-09-04 00:00"),
    ("z2", "z", "u9", null.asInstanceOf[String], null.asInstanceOf[String]))
    .toDF("mid", "repost_id", "uid", "content", "time")

  private def comments = Seq(
    ("c1", "u5", "a"),
    ("c2", "u6", "z"))
    .toDF("cid", "uid", "mid")

  test("subtree = descendants of the root, inclusive") {
    val sub = TreeGraph.subtree(blogs, Seq("r1")).as[String].collect().toSet
    assert(sub === Set("r1", "a", "b", "c"))
  }

  test("deep subtree: a 200-level chain is collected whole") {
    // c000 ← c001 ← … ← c200, plus the unrelated z tree
    val depth = 200
    val chain = (Seq(("c000", null.asInstanceOf[String])) ++
      (1 to depth).map(i => (f"c$i%03d", f"c${i - 1}%03d")) ++
      Seq(("z", null.asInstanceOf[String]), ("z2", "z")))
      .toDF("mid", "repost_id")
    val sub = TreeGraph.subtree(chain, Seq("c000"), maxDepth = 256)
      .as[String].collect()
    assert(sub.length === depth + 1)
    assert(sub.toSet === (0 to depth).map(i => f"c$i%03d").toSet)
  }

  test("subtree reads each input row once, not once per level") {
    import org.apache.spark.sql.functions._
    val reads = spark.sparkContext.longAccumulator("subtree input rows")
    val counted = udf((p: String) => { reads.add(1L); p }).asNondeterministic()
    // n0 ← n1 ← … ← n6: seven nodes, six levels below the root. Built from
    // spark.range, not a local Seq, whose projection the optimizer would
    // evaluate on the driver.
    val chain = spark.range(7).select(
      concat(lit("n"), col("id").cast("string")).as("mid"),
      counted(when(col("id") > 0, concat(lit("n"), (col("id") - 1).cast("string"))))
        .as("repost_id"))
    val sub = TreeGraph.subtree(chain, Seq("n0")).as[String].collect()
    assert(sub.toSet === (0 until 7).map(i => s"n$i").toSet)
    assert(reads.value === 7L, s"subtree read ${reads.value} input rows for 7")
  }

  test("edge set matches the hand-computed reply/contain/when/repost/create sets") {
    val got = TreeGraph.edges(blogs, comments, Seq("r1"))
      .as[(String, String, String)].collect().toSet
    val expected = Set(
      ("blog:r1", "repost", "blog:a"),
      ("blog:r1", "repost", "blog:b"),
      ("blog:a", "repost", "blog:c"),
      ("blog:a", "reply", "comment:c1"),
      ("user:", "create", "blog:r1"), // placeholder root → uid ""
      ("user:u2", "create", "blog:a"),
      ("user:u3", "create", "blog:b"),
      ("user:u1", "create", "blog:c"),
      ("user:u5", "create", "comment:c1"),
      // detectTags: anchored @handle (greedy \S+ keeps the colon) + #topic#,
      // only on the text before the first //@
      ("tag:@x:", "contain", "blog:b"),
      ("tag:#t1#", "contain", "blog:b"),
      ("tag:#t2#", "contain", "blog:c"),
      // when: first 10 chars if the time contains a date anywhere, else unknown
      ("time:unknown", "when", "blog:r1"),
      ("time:unknown", "when", "blog:a"),
      ("time:2019-09-03", "when", "blog:b"),
      ("time:2019-09-03", "when", "blog:c"))
    assert(got === expected)
  }
}
