package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.core.TableIO
import graft.gen.{Corpus, CorpusData}
import graft.sources.Jdbc
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path}
import java.sql.DriverManager
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._

/** The snapshot layer's one-pass commit: a commit launches only its write's
  * jobs, a committed stage is read with the schema its manifest stores (no
  * inference job) and that schema is the one Spark would infer, lineage and
  * row counts come from the written files, and manifests round-trip any
  * stage or counter name. */
class TableIOSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val json = new ObjectMapper()

  private def tmpDir(prefix: String): Path = Files.createTempDirectory(prefix)

  private def snapshotDir(root: Path, io: TableIO, stage: String): String =
    root.resolve(stage).resolve(s"snapshot-${io.lastCommitted(stage)}").toString

  /** Jobs launched while `f` runs, with the SQL execution each belongs to,
    * and the physical plan of every SQL execution started meanwhile. */
  private def jobsOf[A](f: => A): (A, Seq[Option[Long]], Map[Long, String]) = {
    val sentinel = spark.sparkContext.parallelize(Seq(1), 1)
    val jobs = new ConcurrentLinkedQueue[Option[Long]]()
    val plans = new ConcurrentHashMap[Long, String]()
    @volatile var sentinelSeen = false
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.stageInfos.exists(_.rddInfos.exists(_.id == sentinel.id))) sentinelSeen = true
        else jobs.add(Option(j.properties).flatMap(p =>
          Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          plans.put(s.executionId, s.physicalPlanDescription)
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = f
      // listener events arrive in order: once the sentinel job's start is
      // seen, so is every earlier job's
      sentinel.count()
      val deadline = System.nanoTime() + 60e9.toLong
      while (!sentinelSeen && System.nanoTime() < deadline) Thread.sleep(20)
      assert(sentinelSeen, "listener never saw the sentinel job")
      (out, jobs.asScala.toSeq, plans.asScala.toMap)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def manifestOf(io: TableIO, stage: String): JsonNode =
    json.readTree(io.manifest(stage))

  /** Per-file rows sum to row_count, which is the committed row count. */
  private def assertLineage(io: TableIO, stage: String): Unit = {
    val m = manifestOf(io, stage)
    val files = m.get("per_partition").elements().asScala.toSeq
    assert(files.nonEmpty && files.forall(f => f.get("pid").asInt >= 0),
      s"$stage: no per-file lineage in $m")
    val rows = m.get("row_count").asLong
    assert(files.map(_.get("rows").asLong).sum === rows, s"$stage: $m")
    assert(io.read(stage).count() === rows, s"$stage: row_count $rows")
  }

  test("commit launches only its write's jobs; reading a committed stage launches none") {
    val root = tmpDir("tableio-jobs")
    val io = new TableIO(spark, root.toString)
    val df = spark.range(0, 2000, 1, 4)
      .groupBy((col("id") % 97).as("k")).agg(count(lit(1)).as("n"))
    val (committed, jobs, plans) = jobsOf(io.commit("agg", df))
    val execs = jobs.flatten.distinct
    assert(jobs.nonEmpty && jobs.forall(_.isDefined) && execs.size == 1,
      s"commit ran jobs outside one SQL execution: $jobs")
    assert(plans.get(execs.head).exists(_.contains("InsertIntoHadoopFsRelationCommand")),
      s"commit's jobs are not its write's: ${plans.get(execs.head)}")

    io.commit("agg", df.filter(col("k") < 10)) // a second snapshot
    val (_, readJobs, _) = jobsOf(Seq(committed, io.read("agg"),
      io.readSnapshot("agg", 0), io.readAll("agg"), io.readRange("agg", 0))
      .map(_.schema))
    assert(readJobs.isEmpty, s"reading committed snapshots launched ${readJobs.size} jobs")
    assert(io.readAll("agg").count() === 97 + 10)
    assertLineage(io, "agg")
  }

  test("committed frames carry the schema Spark infers: pipeline stages, empty commit, JDBC") {
    val root = tmpDir("tableio-schema")
    val io = new TableIO(spark, root.toString)
    val cfg = Corpus.Config(nDocs = 300, nEntities = 60, seed = 7L)
    val out = KgPipeline.run(spark, CorpusData.docsDF(spark, cfg),
      CorpusData.ment2entDF(spark, cfg), CorpusData.avpairDF(spark, cfg),
      Some(io), 4, dimFastPaths = true)
    val stages = Seq("weibo_triples", "kb_triples", "canon_map", "triples",
      "vertices", "edges")
    for (st <- stages) {
      val inferred = spark.read.parquet(snapshotDir(root, io, st)).schema
      assert(io.read(st).schema === inferred, st)
      assert(manifestOf(io, st).has("schema"), st)
      assertLineage(io, st)
    }
    for ((st, df) <- Seq(("triples", out.triples), ("vertices", out.vertices),
        ("edges", out.edges)))
      assert(df.schema === spark.read.parquet(snapshotDir(root, io, st)).schema, st)

    // empty, with non-nullable nested columns: Spark reads every field back
    // nullable, and the stored schema must say the same
    val empty = spark.range(0).select(col("id"),
      struct(col("id").as("a"), array(lit(1)).as("b")).as("s"))
    val e = io.commit("empty", empty)
    assert(e.schema === spark.read.parquet(snapshotDir(root, io, "empty")).schema)
    assert(io.counterOf("empty", "row_count") === Some(0L))
    assertLineage(io, "empty")

    // JDBC source: Derby reports upper-case column names
    val u = s"jdbc:derby:${tmpDir("tableio-derby")}/db;create=true"
    Class.forName(Jdbc.derbyDriver)
    val c = DriverManager.getConnection(u)
    try {
      c.createStatement().execute("CREATE TABLE t (id BIGINT NOT NULL, content VARCHAR(64))")
      c.createStatement().execute("INSERT INTO t VALUES (1, 'a'), (2, 'b'), (3, NULL)")
    } finally c.close()
    assert(Jdbc.ingestIncremental(spark, io, "jdbc", u, "t", "id") === 3L)
    val jdbc = io.readAll("jdbc")
    assert(jdbc.schema === spark.read.parquet(snapshotDir(root, io, "jdbc")).schema)
    assert(jdbc.schema.fieldNames.toSeq === Seq("ID", "CONTENT"))
    assertLineage(io, "jdbc")
  }

  test("manifest: a `snapshot` counter and quoted or escaped names round-trip") {
    val root = tmpDir("tableio-names")
    val io = new TableIO(spark, root.toString)
    // the stage name is the table's directory: every Hadoop glob
    // metacharacter in it must be read literally
    val stage = "odd \"stage\" \\ [x] {a,b} * ?"
    val counters = Map("snapshot" -> 7L, "say \"hi\"" -> 11L, "back\\slash" -> 13L,
      "row_count" -> 17L)
    io.commit(stage, spark.range(3).toDF("id"), counters = counters)
    val m = manifestOf(io, stage)
    assert(m.get("stage").asText === stage && m.get("snapshot").asInt === 0)
    assert(m.get("row_count").asLong === 3L)
    // a counter wins over the top-level field of the same name
    for ((name, v) <- counters) assert(io.counterOf(stage, name) === Some(v), name)
    io.commit(stage, spark.range(5).toDF("id"))
    assert(io.counterOf(stage, "snapshot") === Some(1L), "falls back to the top-level field")
    assert(io.counterOf(stage, "row_count") === Some(5L))
    assert(io.counterOf(stage, "stage") === None, "a non-numeric field is no counter")
    assert(io.counterOf(stage, "missing") === None)
    assert(io.read(stage).count() === 5L)
    assert(io.readAll(stage).count() === 3L + 5L)

    // a name that, as a glob, would also match its neighbour's directory
    io.commit("s?", spark.range(2).toDF("id"))
    io.commit("sa", spark.range(7).toDF("id"))
    assert(io.read("s?").count() === 2L && io.readAll("s?").count() === 2L)
    assert(io.counterOf("s?", "row_count") === Some(2L))
  }

  test("a driver-built frame commits as one file; a distributed one keeps its partitions") {
    val io = new TableIO(spark, tmpDir("tableio-local").toString)
    import spark.implicits._
    val rows = (1 to 50).map(i => (s"s$i", i))
    val local = rows.toDF("name", "n")
    assert(local.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    assert(spark.sparkContext.defaultParallelism > 1)
    io.commit("local", local)
    io.commit("ranged", spark.range(0, 100, 1, 4).toDF("id"))
    for ((st, files) <- Seq(("local", 1), ("ranged", 4)))
      assert(manifestOf(io, st).get("per_partition").size === files, st)
    assertLineage(io, "local")
    assert(io.read("local").as[(String, Int)].collect().toSet === rows.toSet)
  }

  test("a manifest without a stored schema is read by inference") {
    val root = tmpDir("tableio-legacy")
    val io = new TableIO(spark, root.toString)
    io.commit("old", spark.range(4).toDF("id"))
    val mf = root.resolve("old").resolve("snapshot-0").resolve("_manifest.json")
    val legacy = json.readTree(mf.toFile).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    legacy.remove("schema")
    Files.writeString(mf, json.writeValueAsString(legacy))
    val (df, jobs, _) = jobsOf(io.read("old"))
    assert(jobs.nonEmpty, "inference should have run a job")
    assert(df.count() === 4L && df.schema.fieldNames.toSeq === Seq("id"))
  }
}
