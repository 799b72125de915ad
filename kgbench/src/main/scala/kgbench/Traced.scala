package kgbench

import graft.KgPipeline
import graft.core.{Rules, TableIO}
import graft.gen.{Corpus, CorpusData}
import graft.stages._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** The traced run: per-layer metrics from two passes over the run's input.
  *
  * Monolithic pass: one job exactly as timed, with spans around
  * KgPipeline.run and each output's materialization. Jobs launched inside
  * `run` go to the layer of their call site's source file; the dedup
  * numbers come from the SQL metrics of the plan that executed the dedup.
  *
  * Staged pass: each layer's public entry point is called in turn on its
  * upstream output, which was first materialized to parquet in the work
  * directory. The span covers the call and the parquet write of its output.
  */
object Traced {

  type Attempt = (String, Option[Path], Span, Option[Path]) => Option[Double]
  type MetricMap = Map[String, (Double, String)]

  /** KgPipeline.run's default dim bound, the driver threshold of its fast
    * paths when `dimFastPaths` is on. */
  val dimBound = 2000000L

  val layers: Seq[String] = Seq("Normalize", "WeiboTriples", "Mentions", "KbExpand",
    "Canon", "KgPipeline.dim", "KgPipeline.dedup", "GraphOut", "TableIO")

  private val MB = 1048576.0

  def run(spark: SparkSession, o: Main.Opts, cfg: Corpus.Config, docsPath: String,
          ioDir: () => Option[Path], attempt: Attempt): MetricMap = {
    val d0 = ioDir()
    val untraced = attempt("untraced", d0, Span.none, None)
    d0.foreach(Dirs.deleteTree)

    val tracer = new Tracer(spark)
    tracer.attach()
    val gc0 = gcSeconds()
    val staged = o.work.resolve("staged")
    val triplesPath = staged.resolve("triples")
    val d1 = ioDir()
    val traced = attempt("traced", d1, tracer, Some(triplesPath))
    d1.foreach(Dirs.deleteTree)
    val stagedExtras = stagedPass(spark, tracer, cfg, docsPath, staged, o.workload.checkpoint)
    val driverGc = gcSeconds() - gc0
    tracer.detach()
    Main.log(f"traced: ${tracer.allJobs.size} jobs, ${tracer.spans.size} spans")

    val m = scala.collection.mutable.LinkedHashMap[String, (Double, String)]()
    def put(k: String, v: Double, unit: String): Unit = m(k) = (v, unit)

    // -- monolithic pass --------------------------------------------------------
    val runSpan = tracer.spans.filter(_.name == "KgPipeline.run").last
    val mono = tracer.spans.filter(s => s.startNs >= runSpan.startNs &&
      (s.name == "KgPipeline.run" || s.name.startsWith("materialize.")))
    val monoJobs = mono.flatMap(tracer.jobsIn)
    val execs = monoJobs.map(_.execId).distinct.sorted.flatMap(id => tracer.execution(id).map(id -> _))
    val dedup = execs.iterator.flatMap { case (id, (qe, ns)) =>
      Tracer.dedupAggs(qe.executedPlan).map(a => (id, qe, ns, a)) }.nextOption()

    val dimJobs = tracer.jobsIn(runSpan)
    putLayer(put, "KgPipeline.dim", Seq(runSpan.seconds), dimJobs,
      rowsOut = dimJobs.map(_.recordsOut).sum)
    dedup match {
      case Some((id, qe, ns, (partial, fin))) =>
        val dj = tracer.allJobs.filter(_.execId == id)
        val rowsIn = Tracer.rowsOut(partial.child)
        val partialOut = Tracer.metric(partial, "numOutputRows")
        val finalOut = Tracer.metric(fin, "numOutputRows")
        val exch = Tracer.exchangeAbove(qe.executedPlan, partial)
        put("KgPipeline.dedup.wall_s", ns / 1e9, "s")
        put("KgPipeline.dedup.cpu_s", dj.map(_.cpuNs).sum / 1e9, "s")
        put("KgPipeline.dedup.gc_s", dj.map(_.gcMs).sum / 1e3, "s")
        put("KgPipeline.dedup.shuffle_write_mb",
          exch.map(e => Tracer.metric(e, "shuffleBytesWritten")).getOrElse(0L) / MB, "MB")
        val (pTime, pSpill) = Tracer.aggCost(partial)
        val (fTime, fSpill) = Tracer.aggCost(fin)
        put("KgPipeline.dedup.spill_mb", (pSpill + fSpill) / MB, "MB")
        put("KgPipeline.dedup.rows_in", rowsIn.toDouble, "count")
        put("KgPipeline.dedup.rows_out", finalOut.toDouble, "count")
        put("KgPipeline.dedup.jobs", dj.size.toDouble, "count")
        put("KgPipeline.dedup.dup_factor", ratio(rowsIn, finalOut), "ratio")
        put("KgPipeline.dedup.partial_absorb", 1.0 - ratio(partialOut, rowsIn), "ratio")
        put("KgPipeline.dedup.agg_time_s", (pTime + fTime) / 1e3, "s")
      case None =>
        // reported as missing values, which fail the run's check
        Main.log("traced: no dedup aggregate found in the monolithic pass")
        Seq("wall_s", "cpu_s", "gc_s", "shuffle_write_mb", "spill_mb", "rows_in", "rows_out",
          "jobs", "dup_factor", "partial_absorb", "agg_time_s")
          .foreach(k => put(s"KgPipeline.dedup.$k", Double.NaN, ""))
    }
    val graphExecs = mono.filter(s => s.name == "materialize.vertices" || s.name == "materialize.edges")
      .flatMap(tracer.jobsIn).map(_.execId).distinct.flatMap(tracer.execution)
    put("GraphOut.corpus_rows_rescanned",
      graphExecs.map(e => Tracer.rowsScanned(e._1.executedPlan, docsPath)).sum.toDouble, "count")

    // -- staged pass ------------------------------------------------------------
    val stagedSpans = tracer.spans.filter(s => s.startNs > mono.map(_.endNs).max)
    for (layer <- layers if !layer.startsWith("KgPipeline.")) {
      val ss = stagedSpans.filter(_.name == layer)
      putLayer(put, layer, ss.map(_.seconds), ss.flatMap(tracer.jobsIn),
        stagedExtras.getOrElse(s"$layer.rows_out", (0.0, ""))._1.toLong)
    }
    stagedExtras.foreach { case (k, v) => if (!k.endsWith(".rows_out")) m(k) = v }
    // the first TableIO span is the commit; every job beyond its write is
    // bookkeeping (read-back, lineage counts)
    put("TableIO.extra_jobs_per_commit", stagedSpans.find(_.name == "TableIO")
      .map(s => (tracer.jobsIn(s).size - 1).max(0).toDouble).getOrElse(0.0), "count")

    // -- coverage and overhead --------------------------------------------------
    val measured = (mono ++ stagedSpans).flatMap(tracer.jobsIn)
    val attributed = measured.filter(j => layerOf(tracer, j).isDefined)
    put("trace.cpu_coverage", ratio(attributed.map(_.cpuNs).sum, measured.map(_.cpuNs).sum), "ratio")
    put("job.untraced_s", untraced.getOrElse(Double.NaN), "s")
    put("job.traced_s", traced.getOrElse(Double.NaN), "s")
    put("trace.overhead",
      (for (t <- traced; u <- untraced) yield t / u).getOrElse(Double.NaN), "ratio")
    put("driver.gc_s", driverGc, "s")
    put("driver.heap_after_gc_mb", Heap.usedAfterGcMb(), "MB")

    writeTrace(o, tracer)
    scala.collection.immutable.ListMap.from(m)
  }

  /** The layer a measured job belongs to: its staged span's layer; inside
    * KgPipeline.run the layer of its call site; for the monolithic pass's
    * materializations the layer whose operator is the output's root. */
  def layerOf(tracer: Tracer, j: JobRec): Option[String] =
    tracer.spanOf(j).map(_.name).flatMap {
      case "KgPipeline.run" => tracer.layerOf(j)
      case "materialize.triples" => Some("KgPipeline.dedup")
      case "materialize.vertices" | "materialize.edges" => Some("GraphOut")
      case l if layers.contains(l) => Some(l)
      case _ => None
    }

  private def putLayer(put: (String, Double, String) => Unit, layer: String,
                       walls: Seq[Double], jobs: Seq[JobRec], rowsOut: Long): Unit = {
    put(s"$layer.wall_s", walls.sum, "s")
    put(s"$layer.cpu_s", jobs.map(_.cpuNs).sum / 1e9, "s")
    put(s"$layer.gc_s", jobs.map(_.gcMs).sum / 1e3, "s")
    put(s"$layer.shuffle_write_mb", jobs.map(_.shuffleWriteBytes).sum / MB, "MB")
    put(s"$layer.spill_mb", jobs.map(_.spillBytes).sum / MB, "MB")
    put(s"$layer.rows_in", jobs.map(_.recordsIn).sum.toDouble, "count")
    put(s"$layer.rows_out", rowsOut.toDouble, "count")
    put(s"$layer.jobs", jobs.size.toDouble, "count")
  }

  private def ratio(a: Long, b: Long): Double = if (b == 0) 0.0 else a.toDouble / b

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Calls each layer's entry point on its materialized upstream. Returns
    * the counts and ratios measured on the outputs, outside every span. */
  def stagedPass(spark: SparkSession, span: Span, cfg: Corpus.Config,
                 docsPath: String, dir: Path, checkpoint: Boolean): MetricMap = {
    import spark.implicits._
    def p(name: String) = dir.resolve(name).toString
    def write(df: DataFrame, name: String): Unit = df.write.parquet(p(name))
    def read(name: String): DataFrame = spark.read.parquet(p(name))
    def rows(names: String*): Double = names.map(read(_).count()).sum.toDouble
    val docs = spark.read.parquet(docsPath)
    val ment2ent = CorpusData.ment2entDF(spark, cfg)
    val avpair = CorpusData.avpairDF(spark, cfg)
    val out = scala.collection.mutable.LinkedHashMap[String, (Double, String)]()

    span("Normalize") {
      write(Normalize.blogs(docs), "blogs")
      write(Normalize.comments(docs), "comments")
    }
    val normalized = rows("blogs", "comments")
    out("Normalize.rows_out") = (normalized, "count")
    out("Normalize.quarantine_share") = (
      (read("blogs").filter(!col("valid")).count() +
        read("comments").filter(!col("valid")).count()) / normalized, "ratio")

    span("WeiboTriples") { write(WeiboTriples.emit(read("blogs"), read("comments")), "weibo") }
    out("WeiboTriples.rows_out") = (rows("weibo"), "count")

    val m2e = ment2ent.select("mention", "entities").as[(String, Seq[String])].collect()
    val dict = m2e.map(_._1).distinct.toSeq
    span("Mentions") {
      write(Mentions.detect(spark, KgPipeline.textSpans(docs), dict), "mentions")
    }
    out("Mentions.rows_out") = (rows("mentions"), "count")
    out("Mentions.hit_rate") = (
      read("mentions").select("doc_id", "span_offset").distinct().count().toDouble /
        KgPipeline.textSpans(docs).count(), "ratio")
    out("Mentions.dict_words") = (dict.size.toDouble, "count")

    span("KbExpand") {
      write(KbExpand.expand(spark, read("mentions").select("mention").distinct(),
        ment2ent, avpair, Rules.recursivePreds, driverThreshold = dimBound,
        m2eCollected = Some(m2e.toMap)), "kb")
    }
    out("KbExpand.rows_out") = (rows("kb"), "count")

    def kbT = read("kb").select(col("subj"), col("pred"), col("obj"),
      lit(null).cast("string").as("doc_id"), lit(-1).as("span_offset"))
    span("Canon") {
      write(Canon.canonicalMap(read("kb"), Rules.categoryPred, Rules.aliasPreds,
        ccDriverThreshold = dimBound), "canon_map")
      write(Canon.canonicalize(read("weibo").unionByName(kbT), read("canon_map")), "canonical")
      write(Canon.nodeLabels(Canon.canonicalize(kbT, read("canon_map")), Rules.categoryPred),
        "labels")
    }
    out("Canon.rows_out") = (rows("canon_map", "canonical", "labels"), "count")
    out("Canon.names") = (read("kb").select(col("subj").as("n"))
      .union(read("kb").select(col("obj").as("n"))).distinct().count().toDouble, "count")
    out("Canon.merged") = (rows("canon_map"), "count")

    span("GraphOut") {
      write(GraphOut.vertices(read("triples"), read("labels"), Session.shufflePartitions),
        "vertices")
      write(GraphOut.edges(read("triples"), Session.shufflePartitions), "edges")
    }
    out("GraphOut.rows_out") = (rows("vertices", "edges"), "count")

    if (checkpoint) {
      val io = new TableIO(spark, p("tableio"))
      span("TableIO") { io.commit("triples", read("triples")) }
      span("TableIO") { Job.materialize(io.read("triples")) }
      val triples = rows("triples")
      val bytes = {
        val s = Files.walk(dir.resolve("tableio"))
        try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
        finally s.close()
      }
      out("TableIO.rows_out") = (triples, "count")
      out("TableIO.bytes_written_mb") = (bytes / MB, "MB")
      out("TableIO.bytes_per_triple") = (bytes / triples, "B")
    } else {
      out("TableIO.bytes_written_mb") = (0.0, "MB")
      out("TableIO.bytes_per_triple") = (0.0, "B")
    }
    scala.collection.immutable.ListMap.from(out)
  }

  /** Writes every span and job of the traced run as JSON lines. */
  private def writeTrace(o: Main.Opts, tracer: Tracer): Unit = {
    val dir = o.work.getParent.resolve("traces")
    Files.createDirectories(dir)
    val lines = tracer.spans.sortBy(_.startNs).map(s =>
      s"""{"span": ${s.id}, "name": ${Json.str(s.name)}, "start_ns": ${s.startNs}, "end_ns": ${s.endNs}}""") ++
      tracer.allJobs.map(j =>
        s"""{"job": ${j.id}, "span": ${j.spanId}, "execution": ${j.execId}, """ +
          s""""layer": ${layerOf(tracer, j).map(Json.str).getOrElse("null")}, """ +
          s""""cpu_ns": ${j.cpuNs}, "gc_ms": ${j.gcMs}, "shuffle_write_bytes": ${j.shuffleWriteBytes}, """ +
          s""""spill_bytes": ${j.spillBytes}, "records_in": ${j.recordsIn}, """ +
          s""""records_out": ${j.recordsOut}, "call_site": ${Json.str(j.callSite.linesIterator.take(4).mkString(" | "))}}""")
    Files.write(dir.resolve(s"${o.workload.name}-${o.seed}.jsonl"), lines.asJava)
  }
}
