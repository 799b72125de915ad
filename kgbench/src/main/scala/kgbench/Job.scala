package kgbench

import graft.KgPipeline
import graft.core.TableIO
import graft.gen.{Corpus, CorpusData}
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.Path

/** One complete KG-construction job: from the docs on disk until triples,
  * vertices and edges are all materialized (lazy) or committed (checkpoint).
  * Each output is written to a `noop` sink with all its columns, never
  * counted: count() lets Catalyst prune the provenance columns away. */
final class Job(spark: SparkSession, cfg: Corpus.Config, docsPath: String) {
  private val ment2ent = CorpusData.ment2entDF(spark, cfg)
  private val avpair = CorpusData.avpairDF(spark, cfg)

  /** Calls KgPipeline.run as PipelineMain does. `span` wraps the run call
    * and each output's materialization; the traced pass records it. After
    * the clock stops, `keepTriples` (if set) receives a parquet copy of the
    * triples, the upstream of the traced run's staged pass. */
  def apply(ioDir: Option[Path], span: Span = Span.none,
            keepTriples: Option[Path] = None): (Double, OutputSig) = {
    val t0 = System.nanoTime()
    val out = run(ioDir, span)
    val sig = OutputSig(
      span("materialize.triples")(Job.materialize(out.triples)),
      span("materialize.vertices")(Job.materialize(out.vertices)),
      span("materialize.edges")(Job.materialize(out.edges)))
    val t = (System.nanoTime() - t0) / 1e9
    keepTriples.foreach(p => out.triples.write.parquet(p.toString))
    (t, sig)
  }

  /** The same job, but the triples are collected to the driver, with their
    * row hashes, instead of written to the noop sink: set-up's first job
    * yields the (subj, pred, obj) set of the P/R check without a second run. */
  def collecting(ioDir: Option[Path]): (OutputSig, Set[(String, String, String)]) = {
    val out = run(ioDir, Span.none)
    val (triples, rows) = Job.collect(out.triples)
    (OutputSig(triples, Job.materialize(out.vertices), Job.materialize(out.edges)),
      rows.iterator.map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet)
  }

  private def run(ioDir: Option[Path], span: Span): KgPipeline.Outputs =
    span("KgPipeline.run") {
      KgPipeline.run(spark, spark.read.parquet(docsPath), ment2ent, avpair,
        io = ioDir.map(d => new TableIO(spark, d.toString)),
        shufflePartitions = Session.shufflePartitions, dimFastPaths = true)
    }
}

object Job {
  private val seq = new java.util.concurrent.atomic.AtomicLong()

  /** The hash column: one xxhash64 over every column of the row. */
  def rowHash(df: DataFrame): org.apache.spark.sql.Column =
    xxhash64(df.columns.map(col): _*).cast("decimal(38,0)")

  /** Write `df` to the noop sink and observe its signature in the same pass. */
  def materialize(df: DataFrame): Sig = {
    val obs = Observation(s"sig-${seq.incrementAndGet()}")
    df.observe(obs, count(lit(1)).as("rows"), sum(rowHash(df)).as("hash"))
      .write.format("noop").mode("overwrite").save()
    sigOf(obs.get)
  }

  /** Collect `df` to the driver with each row's hash as a last column, and
    * its signature summed on the driver. */
  def collect(df: DataFrame): (Sig, Array[Row]) = {
    val rows = df.select(df.columns.map(col) :+ rowHash(df): _*).collect()
    val h = df.columns.length
    (Sig(rows.length.toLong, rows.iterator.map(r => BigDecimal(r.getDecimal(h))).sum), rows)
  }

  private def sigOf(m: Map[String, Any]): Sig = Sig(
    m("rows").asInstanceOf[Long],
    Option(m("hash")).map(h => BigDecimal(h.asInstanceOf[java.math.BigDecimal]))
      .getOrElse(BigDecimal(0)))
}

/** A named interval around a call into a layer. The untraced run passes
  * [[Span.none]]; the tracer records the spans of the traced run. */
trait Span {
  def apply[A](name: String)(f: => A): A
}

object Span {
  val none: Span = new Span { def apply[A](name: String)(f: => A): A = f }
}
