package kgbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SortExec, SparkPlan, UnionExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.catalyst.expressions.aggregate.{Final, Partial}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.kgbench.SparkInternals
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** A closed span: one call into a layer, on the driver thread. */
final case class SpanRec(id: Int, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Executor totals of one Spark job, summed over its tasks. */
final class JobRec(val id: Int, val spanId: Int, val execId: Long,
                   val callSite: String) {
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var recordsIn = 0L
  var recordsOut = 0L
}

/** Records spans around the benchmark's calls into the layers and the Spark
  * jobs and SQL executions that run inside them. The span open on the driver
  * thread travels to its jobs as a local property, so the asynchronous
  * listener bus attributes each job to the span that launched it. Spans and
  * counters stay in memory until the traced run ends. */
final class Tracer(spark: SparkSession) extends SparkListener with Span {
  import Tracer._

  private val sc = spark.sparkContext
  private var nextSpan = 0
  private val closed = ArrayBuffer[SpanRec]()
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val executions = new ConcurrentHashMap[Long, (QueryExecution, Long)]()
  private val executionSites = new ConcurrentHashMap[Long, String]()

  def apply[A](name: String)(f: => A): A = {
    nextSpan += 1
    val id = nextSpan
    val prev = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, id.toString)
    val t0 = System.nanoTime()
    try f
    finally {
      closed += SpanRec(id, name, t0, System.nanoTime())
      sc.setLocalProperty(SpanProp, prev)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val site = e.stageInfos.map(_.details).mkString("\n")
    val rec = new JobRec(e.jobId, prop(SpanProp).map(_.toInt).getOrElse(0),
      prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L), site)
    jobs.put(e.jobId, rec)
    e.stageIds.foreach(stageJob.putIfAbsent(_, e.jobId))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
      .filter(_ => m != null).foreach { r =>
        r.synchronized {
          r.cpuNs += m.executorCpuTime
          r.gcMs += m.jvmGCTime
          r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          r.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          r.recordsIn += m.inputMetrics.recordsRead
          r.recordsOut += m.outputMetrics.recordsWritten
        }
      }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case start: SparkListenerSQLExecutionStart =>
      executionSites.put(start.executionId, start.details)
    case end: SparkListenerSQLExecutionEnd =>
      SparkInternals.finishedQuery(end).foreach(executions.put(end.executionId, _))
    case _ =>
  }

  def attach(): Unit = sc.addSparkListener(this)

  /** Waits for the listener bus to deliver every event, then detaches. */
  def detach(): Unit = {
    SparkInternals.drainListenerBus(sc)
    sc.removeSparkListener(this)
  }

  def spans: Seq[SpanRec] = closed.toSeq

  def allJobs: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.id)

  def spanOf(j: JobRec): Option[SpanRec] = spans.find(_.id == j.spanId)

  def jobsIn(s: SpanRec): Seq[JobRec] = allJobs.filter(_.spanId == s.id)

  /** The layer of a job's call site. AQE launches a query's stages from a
    * Spark thread pool, whose stack holds no program frame; such a job takes
    * the call site of its SQL execution, recorded on the calling thread. */
  def layerOf(j: JobRec): Option[String] =
    layerOfCallSite(j.callSite).orElse(
      Option(executionSites.get(j.execId)).flatMap(layerOfCallSite))

  /** A finished SQL execution and its duration in ns. */
  def execution(id: Long): Option[(QueryExecution, Long)] = Option(executions.get(id))
}

object Tracer extends AdaptiveSparkPlanHelper {
  val SpanProp = "kgbench.span"

  /** Source file → layer, for jobs attributed by their call site. */
  val layerOfFile: Seq[(String, String)] = Seq(
    "Normalize.scala" -> "Normalize",
    "WeiboTriples.scala" -> "WeiboTriples",
    "Mentions.scala" -> "Mentions",
    "Trie.scala" -> "Mentions",
    "KbExpand.scala" -> "KbExpand",
    "Canon.scala" -> "Canon",
    "GraphOut.scala" -> "GraphOut",
    "TableIO.scala" -> "TableIO",
    "KgPipeline.scala" -> "KgPipeline.dim")

  private val Frame = """\(([A-Za-z0-9_]+\.scala):\d+\)""".r

  /** The layer of the innermost frame of the call site that lies in a
    * layer's source file: `collect at Canon.scala:361` → Canon. */
  def layerOfCallSite(site: String): Option[String] =
    Frame.findAllMatchIn(site).map(_.group(1))
      .flatMap(f => layerOfFile.find(_._1 == f).map(_._2)).nextOption()

  def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  /** Rows a plan node emits; nodes without a row metric (Project, Union,
    * codegen wrappers) pass their children's count through. */
  def rowsOut(p: SparkPlan): Long = p.metrics.get("numOutputRows") match {
    case Some(m) => m.value
    case None => p match {
      case u: UnionExec => u.children.map(rowsOut).sum
      case _ if p.children.size == 1 => rowsOut(p.children.head)
      case _ => 0L
    }
  }

  /** The triple dedup's two aggregates in an executed plan: the ones that
    * group by (subj, pred, obj) and take min(doc_id), min(span_offset). */
  def dedupAggs(plan: SparkPlan): Option[(BaseAggregateExec, BaseAggregateExec)] = {
    val aggs = collect(plan) {
      case a: BaseAggregateExec
          if a.groupingExpressions.map(_.toAttribute.name) == Seq("subj", "pred", "obj") &&
            a.aggregateExpressions.map(_.aggregateFunction.prettyName).contains("min") => a
    }
    for {
      p <- aggs.find(_.aggregateExpressions.forall(_.mode == Partial))
      f <- aggs.find(_.aggregateExpressions.forall(_.mode == Final))
    } yield (p, f)
  }

  /** (time in ms, spilled bytes) of one aggregate: a hash aggregate's own
    * aggTime and spill, plus those of the sort feeding a sort aggregate
    * (Spark plans min over strings as a sort aggregate). */
  def aggCost(a: BaseAggregateExec): (Long, Long) = {
    val sort = a.child.find(_.isInstanceOf[SortExec])
    (metric(a, "aggTime") + sort.map(metric(_, "sortTime")).getOrElse(0L),
      metric(a, "spillSize") + sort.map(metric(_, "spillSize")).getOrElse(0L))
  }

  /** The exchange that feeds the final aggregate from the partial one. */
  def exchangeAbove(plan: SparkPlan, partial: SparkPlan): Option[ShuffleExchangeExec] =
    collect(plan) {
      case e: ShuffleExchangeExec if e.child.find(_ eq partial).isDefined => e
    }.headOption

  /** Rows scanned from files under `path` by the plan. */
  def rowsScanned(plan: SparkPlan, path: String): Long =
    collect(plan) {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains(path)) =>
        metric(s, "numOutputRows")
    }.sum
}
