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
          // KbExpand's bounded collect; its call site is Bounded.collect
          j.stageInfos.map(_.name).filter(_.startsWith("collect at Bounded"))
            .foreach(avCollects.add)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val seeds = m2e.select("mention")
      val dict = m2e.select("mention", "entities")
        .as[(String, Seq[String])].collect().toMap
      def kb(tooLarge: Boolean) = KbExpand.expand(spark, seeds, m2e, avOverRdd,
          graft.core.Rules.recursivePreds, driverThreshold = 1000000L,
          m2eCollected = if (tooLarge) None else Some(dict))
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

  test("weibo_triples manifest: quarantine counters equal counts over the normalized rows") {
    val io = new TableIO(spark, Files.createTempDirectory("kgio").toString)
    KgPipeline.run(spark, docs, m2e, av, Some(io), 4)
    val blogs = graft.stages.Normalize.blogs(docs)
    val comments = graft.stages.Normalize.comments(docs)
    val expected = Map(
      "blogs_skipped" -> blogs.filter(!col("valid")).count(),
      "blogs_bad_time" -> blogs.filter(col("valid") && !col("time_ok")).count(),
      "comments_skipped" -> comments.filter(!col("valid")).count())
    assert(expected("blogs_skipped") === 16L, "fixture: 16 blogs without a mid or time")
    for ((name, n) <- expected)
      assert(io.counterOf("weibo_triples", name) === Some(n), name)
  }

  test("a failed overlapped commit: branches joined, nothing half-published, clean resume") {
    import scala.jdk.CollectionConverters._
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    val root = Files.createTempDirectory("kgio-fail")
    // a regular file where the vertices table belongs: its commit fails
    // while edges commits on the other branch
    val blocker = root.resolve("vertices")
    Files.writeString(blocker, "not a table")
    intercept[java.nio.file.NotDirectoryException] {
      KgPipeline.run(spark, docs, m2e, av, Some(new TableIO(spark, root.toString)), 4)
    }
    assert(!Thread.getAllStackTraces.keySet.asScala
      .exists(t => t.getName == KgPipeline.BranchThread && t.isAlive),
      "a pipeline branch thread outlived the failed run")
    // every published snapshot is complete: manifest present, rows as stated
    val io = new TableIO(spark, root.toString)
    for (st <- Seq("weibo_triples", "kb_triples", "canon_map", "triples", "edges")) {
      val snaps = Files.list(root.resolve(st)).iterator.asScala
        .filter(_.getFileName.toString.startsWith("snapshot-")).toSeq
      assert(snaps.size == 1 && Files.exists(snaps.head.resolve("_manifest.json")),
        s"$st: $snaps")
      assert(io.counterOf(st, "row_count") === Some(io.read(st).count()), st)
    }

    Files.delete(blocker)
    val resumed = KgPipeline.run(spark, docs, m2e, av, Some(io), 4)
    val clean = KgPipeline.run(spark, docs, m2e, av,
      Some(new TableIO(spark, Files.createTempDirectory("kgio-clean").toString)), 4)
    for ((name, r, c) <- Seq(("triples", resumed.triples, clean.triples),
        ("vertices", resumed.vertices, clean.vertices), ("edges", resumed.edges, clean.edges))) {
      val (a, b) = (rows(r), rows(c))
      assert(a.nonEmpty && a == b, s"$name: resumedOnly=${(a diff b).take(3)} cleanOnly=${(b diff a).take(3)}")
    }
    // only vertices was committed by the re-run
    assert(Seq("triples", "edges", "vertices").map(io.lastCommitted) === Seq(0, 0, 0))
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

  test("vertices/edges: AQE sizes the dedup exchange, no fixed-count repartition") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
    import org.apache.spark.sql.util.QueryExecutionListener
    object Plans extends AdaptiveSparkPlanHelper
    def assertAqeSized(what: String, plan: SparkPlan): Unit = {
      val origins = Plans.collect(plan) { case e: ShuffleExchangeExec => e.shuffleOrigin }
      assert(origins.nonEmpty, s"$what: no exchange in\n$plan")
      assert(!origins.contains(REPARTITION_BY_NUM), s"$what: fixed-count repartition in\n$plan")
    }
    val width = spark.conf.get("spark.sql.shuffle.partitions").toInt

    val lz = KgPipeline.run(spark, docs, m2e, av, shufflePartitions = width,
      dimFastPaths = true)
    for ((name, df) <- Seq(("vertices", lz.vertices), ("edges", lz.edges))) {
      df.collect() // runs df's own QueryExecution, so its executed plan is final
      assertAqeSized(s"lazy $name", df.queryExecution.executedPlan)
    }

    // checkpointed: the plans that wrote each stage's snapshot
    val writes = new java.util.concurrent.ConcurrentHashMap[String, SparkPlan]()
    val qel = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        Plans.collect(qe.executedPlan) {
          case w @ DataWritingCommandExec(c: InsertIntoHadoopFsRelationCommand, _) =>
            writes.put(c.outputPath.getParent.getName, w)
        }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // query-execution listeners share the listener bus queue with
    // SparkListeners: once the sentinel job's start is seen, every earlier
    // write has been reported
    val sentinel = spark.sparkContext.parallelize(Seq(1), 1)
    val sentinelSeen = new java.util.concurrent.atomic.AtomicBoolean(false)
    val sl = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.stageInfos.exists(_.rddInfos.exists(_.id == sentinel.id))) sentinelSeen.set(true)
    }
    val root = Files.createTempDirectory("kgio-aqe")
    val io = new TableIO(spark, root.toString)
    spark.listenerManager.register(qel)
    spark.sparkContext.addSparkListener(sl)
    try {
      KgPipeline.run(spark, docs, m2e, av, Some(io), width, dimFastPaths = true)
      sentinel.count()
      val deadline = System.nanoTime() + 60e9.toLong
      while (!sentinelSeen.get && System.nanoTime() < deadline) Thread.sleep(20)
      assert(sentinelSeen.get, "listener never saw the sentinel job")
    } finally {
      spark.listenerManager.unregister(qel)
      spark.sparkContext.removeSparkListener(sl)
    }
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    for (name <- Seq("vertices", "edges")) {
      assert(writes.containsKey(name), s"no write of $name seen: ${writes.keySet}")
      assertAqeSized(s"checkpointed $name", writes.get(name))
      val files = json.readTree(io.manifest(name)).get("per_partition").size
      assert(files >= 1 && files < width,
        s"checkpointed $name: $files files at spark.sql.shuffle.partitions = $width")
    }
  }

  test("string order: the driver fast paths order names and labels as Spark does") {
    import graft.core.Rules
    import graft.stages.Canon
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    // Java's compareTo ranks "（甲" above "𠮷甲" (U+FF08 > the surrogate
    // U+D842); Spark's UTF-8 order ranks it below (EF BC 88 < F0 A0 AE B7)
    assert("（甲".compareTo("𠮷甲") > 0)
    val kb = Seq(("𠮷甲", "别名", "（甲"), ("𠮷甲", Rules.categoryPred, "𠮷类"),
      ("𠮷甲", Rules.categoryPred, "（类")).toDF("subj", "pred", "obj")
    def canonMap(threshold: Long) = Canon.canonicalMap(kb, Rules.categoryPred,
        Rules.aliasPreds, ccDriverThreshold = threshold)
      .as[(String, String)].collect().toSet
    val dataflow = canonMap(0L)
    assert(dataflow === Set(("𠮷甲", "（甲")))
    assert(canonMap(1000L) === dataflow, "canonicalMap's driver fast path")
    val edges = Seq(("𠮷甲", "（甲")).toDF("src", "dst")
    def cc(threshold: Long) = Canon.ccLogRounds(edges, driverThreshold = threshold)
      .as[(String, String)].collect().toSet
    assert(cc(1000L) === cc(0L), "ccLogRounds' driver fast path")

    // label arrays sorted as sort_array sorts them, in nodeLabels' schema
    val cm = Seq(("𠮷甲", "（甲")).toDF("name", "comp")
    val fast = Canon.vertexLabels(kb, cm, Rules.categoryPred, driverThreshold = 1000L)
    val flow = Canon.vertexLabels(kb, cm, Rules.categoryPred, driverThreshold = 0L)
    assert(fast.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    assert(!flow.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    assert(fast.schema === flow.schema)
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, Seq[String])].collect().toMap
    assert(labels(flow)("（甲") === Seq("人物", "（类", "𠮷类"))
    assert(labels(fast) === labels(flow))
  }

  test("KB fast paths: a caller's bounded KB collect is used, and the KB is not scanned again") {
    import graft.core.Rules
    import graft.stages.Canon
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val kb = Seq(("𠮷甲", "别名", "（甲"), ("𠮷甲", Rules.categoryPred, "𠮷类"),
      ("乙", "创办人", "甲公司")).toDF("subj", "pred", "obj")
    val rows = kb.as[(String, String, String)].collect()
    // the same KB behind a scan that fails: any collect of it throws
    val unscannable = spark.createDataFrame(spark.sparkContext.parallelize(Seq(0), 1)
      .map[Row](_ => throw new IllegalStateException("the KB was scanned")), kb.schema)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.as[(String, String)].collect().toSet
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, Seq[String])].collect().toMap
    val cm = Seq(("𠮷甲", "（甲")).toDF("name", "comp")
    assert(pairs(Canon.canonicalMap(unscannable, Rules.categoryPred, Rules.aliasPreds,
        ccDriverThreshold = 1000L, collectedKb = Some(Some(rows)))) ===
      pairs(Canon.canonicalMap(kb, Rules.categoryPred, Rules.aliasPreds)))

    val expected = labels(Canon.vertexLabels(kb, cm, Rules.categoryPred, 0L))
    val fromRows = Canon.vertexLabels(unscannable, cm, Rules.categoryPred, 1000L,
      collectedKb = Some(Some(rows)))
    assert(fromRows.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    assert(labels(fromRows) === expected)
    // a caller that found the KB over the bound: the dataflow, no collect
    val over = Canon.vertexLabels(unscannable, cm, Rules.categoryPred, 1000L,
      collectedKb = Some(None))
    assert(!over.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
  }

  test("vertices: driver-built labels ≡ the label dataflow, lazy and checkpointed, within and over the bound") {
    import org.apache.spark.sql.types._
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    def vertices(fast: Boolean, bound: Long, checkpointed: Boolean) = {
      val io = if (checkpointed)
        Some(new TableIO(spark, Files.createTempDirectory("kgio").toString)) else None
      val out = KgPipeline.run(spark, docs, m2e, av, io, 4,
        dimFastPaths = fast, dimBound = bound)
      (rows(out.vertices), io.map(_.read("vertices").schema))
    }
    val default = 2000000L
    val (reference, refSchema) = vertices(fast = false, default, checkpointed = true)
    assert(reference.exists(_(2).asInstanceOf[scala.collection.Seq[_]].size > 1),
      "no vertex has two labels")
    // the stored schema of the vertices snapshot
    assert(refSchema === Some(StructType(Seq(
      StructField("vertex_id", LongType),
      StructField("name", StringType),
      StructField("labels", ArrayType(StringType))))))
    for ((fast, bound, ck) <- Seq((true, default, false), (true, default, true),
        (false, default, false), (true, 1L, false), (true, 1L, true))) {
      val (vs, schema) = vertices(fast, bound, ck)
      val what = s"dimFastPaths=$fast dimBound=$bound checkpointed=$ck"
      assert(vs == reference,
        s"$what: only=${(vs diff reference).take(3)} referenceOnly=${(reference diff vs).take(3)}")
      schema.foreach(s => assert(Some(s) === refSchema, what))
    }
  }

  test("lazy vertices with driver-built labels: at most 3 jobs, no KB scan or canon_map broadcast") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
    import org.apache.spark.sql.execution.LogicalRDD
    val out = KgPipeline.run(spark, docs, m2e, av, shufflePartitions = 4,
      dimFastPaths = true)
    // the plan reads the shared triple rows and one (name, labels) table:
    // no kb (subj, pred, obj) or canon_map (name, comp) relation
    val leaves = out.vertices.queryExecution.optimizedPlan.collectLeaves()
    def isLabelTable(l: LogicalPlan) = l match {
      case r: LocalRelation => r.output.map(_.name) == Seq("name", "labels")
      case _ => false
    }
    assert(leaves.exists(_.isInstanceOf[LogicalRDD]) && leaves.exists(isLabelTable) &&
      leaves.forall(l => l.isInstanceOf[LogicalRDD] || isLabelTable(l)),
      s"vertices leaves: $leaves")

    val tag = "kg-parity-vertices"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val sentinel = spark.sparkContext.parallelize(Seq(1), 1)
    val sentinelSeen = new java.util.concurrent.atomic.AtomicBoolean(false)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.stageInfos.exists(_.rddInfos.exists(_.id == sentinel.id))) sentinelSeen.set(true)
        else if (Option(j.properties).exists(p =>
            Option(p.getProperty("spark.job.tags")).exists(_.split(",").contains(tag))))
          jobs.add(j.jobId)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.addJobTag(tag)
      try out.vertices.write.format("noop").mode("overwrite").save()
      finally spark.sparkContext.removeJobTag(tag)
      sentinel.count()
      val deadline = System.nanoTime() + 60e9.toLong
      while (!sentinelSeen.get && System.nanoTime() < deadline) Thread.sleep(20)
      assert(sentinelSeen.get, "listener never saw the sentinel job")
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.size >= 1 && jobs.size <= 3, s"vertices materialization ran jobs $jobs")
  }

  test("dedup + canonicalization idempotence: running twice = once") {
    val out1 = KgPipeline.run(spark, docs, m2e, av, shufflePartitions = 4)
    val t1 = out1.triples.select("subj", "pred", "obj")
    // feeding the canonical triple set through dedup again changes nothing
    val again = t1.groupBy("subj", "pred", "obj").count()
    assert(again.filter(col("count") > 1).count() === 0)
  }
}
