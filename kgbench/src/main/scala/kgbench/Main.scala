package kgbench

import graft.oracle.RefOracle
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.control.NonFatal

/** KG-construction benchmark: one workload, one JVM, Spark local mode.
  *
  *   kgbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <dir>
  *
  * Set-up generates the corpus for the seed to parquet, runs the warmup job
  * and checks P/R of its triples against RefOracle. The untraced run
  * (`--trace 0`) then times `timedJobs` jobs, and more until `--seconds`
  * have passed, re-runs after a simulated crash, and prints the end-to-end
  * metrics. The traced run (`--trace 1`) prints the per-layer
  * metrics instead, and runs the same job at 1 slot. Every job's output
  * signature must equal the warmup's. The last stdout line is the JSON
  * result; the exit code is nonzero when any check fails.
  */
object Main {

  final case class Opts(workload: Workload, seed: Long, seconds: Double,
                        trace: Boolean, work: Path)

  /** Timed jobs per run, at least. The JIT is still settling after the
    * warmup (job times keep falling for six or more jobs), so every run
    * times the same iterations, whatever the host's speed. A run reports
    * the least of its job times: on a shared host CPU steal only adds wall
    * time, and the first timed job also pays for the JIT's compiles. */
  val timedJobs = 2

  /** Crash-and-resume samples per checkpointed run. */
  val resumes = 2

  def main(args: Array[String]): Unit = {
    val code =
      try {
        if (args.headOption.contains("--train")) train(Paths.get(args(1)).toAbsolutePath)
        else run(parse(args))
      } catch { case NonFatal(e) => e.printStackTrace(); 2 }
    sys.exit(code)
  }

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    val w = Workload.named(need("--workload")).getOrElse(
      throw new IllegalArgumentException(
        s"unknown workload; known: ${Workload.all.map(_.name).mkString(", ")}"))
    Opts(w, need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", Paths.get(need("--work")).toAbsolutePath)
  }

  private val processStart = ManagementFactory.getRuntimeMXBean.getStartTime

  /** A progress line on stdout, stamped with seconds since process start. */
  def log(msg: String): Unit =
    println(f"[kgbench ${(System.currentTimeMillis() - processStart) / 1e3}%7.2f] $msg")

  def run(o: Opts): Int = {
    val slots = math.min(4, Runtime.getRuntime.availableProcessors())
    val cfg = o.workload.config(o.seed)
    Files.createDirectories(o.work)
    val docsPath = o.work.resolve("docs.parquet").toString
    var spark = Session.start(slots, o.work)
    log(s"session local[$slots]")
    graft.gen.CorpusData.docsDF(spark, cfg).write.parquet(docsPath)
    log(s"corpus ${cfg.nDocs} docs, seed ${cfg.seed}")
    // the oracle is single-threaded driver code: overlap it with the warmups
    val golden = Future(RefOracle.goldenTriples(cfg))(ExecutionContext.global)
    var job = new Job(spark, cfg, docsPath)

    var attempted = 0
    var failed = 0
    var nextDir = 0
    def ioDir(): Option[Path] =
      if (o.workload.checkpoint) { nextDir += 1; Some(o.work.resolve(s"io-$nextDir")) }
      else None
    def drop(dir: Option[Path]): Unit = dir.foreach(Dirs.deleteTree)

    // -- set-up: the warmup job and the golden-oracle check ---------------------
    // The warmup job settles the JIT and codegen caches. It collects its
    // triples for the P/R check, and its output signature is the reference
    // every later job must reproduce.
    attempted += 1
    val firstDir = ioDir()
    val t0 = System.nanoTime()
    val (ref, emitted) = job.collecting(firstDir)
    log(f"warmup: ${(System.nanoTime() - t0) / 1e9}%.3f s, $ref")
    drop(firstDir)
    val goldenSet = Await.result(golden, Duration.Inf)
    val (precision, recall) = Checks.precisionRecall(emitted, goldenSet)
    val prOk = Checks.passesGolden(precision, recall)
    log(f"golden=${goldenSet.size} emitted=${emitted.size} P=$precision%.4f R=$recall%.4f")
    val setupS = (System.currentTimeMillis() - processStart) / 1e3

    /** Runs one job; its time, or None when it threw or its output differs. */
    def attempt(what: String, dir: Option[Path], span: Span,
                keep: Option[Path]): Option[Double] = {
      attempted += 1
      try {
        val (t, sig) = job(dir, span, keep)
        log(f"$what: $t%.3f s")
        if (sig == ref) Some(t)
        else { failed += 1; log(s"$what: output $sig differs from $ref"); None }
      } catch { case NonFatal(e) =>
        failed += 1; log(s"$what: failed: $e"); e.printStackTrace(); None
      }
    }

    val metrics =
      if (o.trace) {
        val layerMetrics = Traced.run(spark, o, cfg, docsPath, ioDir _, attempt)
        // N→4N: the same job at 1 slot, against the traced run's untraced job
        spark.stop()
        spark = Session.start(1, o.work)
        job = new Job(spark, cfg, docsPath)
        val d1 = ioDir()
        val oneSlotS = attempt("1 slot", d1, Span.none, None)
        drop(d1)
        val scaling = for (t1 <- oneSlotS; tN <- layerMetrics.get("job.untraced_s"))
          yield Checks.scalingEff(t1, tN._1, slots)
        layerMetrics ++ Metrics(
          "job.one_slot_s" -> (oneSlotS.getOrElse(Double.NaN), "s"),
          "job.scaling_eff" -> (scaling.getOrElse(Double.NaN), "ratio"))
      } else {
        // -- timed iterations ---------------------------------------------------
        val times = scala.collection.mutable.ArrayBuffer[Double]()
        val start = System.nanoTime()
        var lastDir: Option[Path] = None
        var iters = 0
        while (iters < timedJobs || (System.nanoTime() - start) / 1e9 < o.seconds) {
          iters += 1
          drop(lastDir)
          lastDir = ioDir()
          attempt(s"timed $iters", lastDir, Span.none, None).foreach(times += _)
        }
        if (times.size < 2) { spark.stop(); return finish(o, attempted, failed, false, Map.empty) }
        val heapMb = Heap.usedAfterGcMb()
        val jobS = times.min

        // -- crash and resume ---------------------------------------------------
        // checkpoint: the stages committed after canon_map are lost and the
        // job resumes from the snapshots that survive, twice. lazy: nothing
        // survives a crash, so recovery is a full job and resume_s is job_s.
        val resumeS = lastDir match {
          case Some(d) =>
            val rs = (1 to resumes).flatMap { i =>
              Seq("triples", "vertices", "edges").foreach(s => Dirs.deleteTree(d.resolve(s)))
              attempt(s"resume $i", lastDir, Span.none, None)
            }
            drop(lastDir)
            if (rs.size == resumes) Some(rs.min) else None
          case None => Some(jobS)
        }
        log(s"samples=${times.size} job_s=${times.map(t => f"$t%.3f").mkString(",")}")
        Metrics(
          "setup_s" -> (setupS, "s"),
          "job_s" -> (jobS, "s"),
          "triples_per_s" -> (ref.triples.rows / jobS, "1/s"),
          "resume_s" -> (resumeS.getOrElse(Double.NaN), "s"),
          "loop_drift" -> (Checks.loopDrift(times.toSeq), "ratio"),
          "heap_after_gc_mb" -> (heapMb, "MB"))
      }
    spark.stop()
    finish(o, attempted, failed, prOk, metrics)
  }

  /** A short checkpointed run over a tiny corpus, which passes through the
    * code paths of the timed jobs. run.py records the classes it loads into
    * a class-data sharing archive that later runs start from. */
  def train(work: Path): Int =
    run(Opts(Workload("train", 300, 120, checkpoint = true), 0L, 0,
      trace = false, work))

  private def finish(o: Opts, attempted: Int, failed: Int, prOk: Boolean,
                     metrics: Map[String, (Double, String)]): Int = {
    Dirs.deleteTree(o.work)
    val correct = prOk && failed == 0 && metrics.values.forall(v => !v._1.isNaN)
    println(Json.result(correct, attempted, failed, metrics))
    if (correct) 0 else 1
  }
}

object Metrics {
  def apply(kv: (String, (Double, String))*): Map[String, (Double, String)] =
    scala.collection.immutable.ListMap(kv: _*)
}

object Heap {
  /** Driver heap in use after a forced full GC, in MB: the least of three
    * GC-then-read rounds. The pauses let Spark's ContextCleaner release the
    * blocks whose references the previous GC cleared. */
  def usedAfterGcMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      mem.gc()
      val used = mem.getHeapMemoryUsage.getUsed / 1048576.0
      Thread.sleep(300)
      used
    }.min
  }
}

object Dirs {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def result(correct: Boolean, attempted: Int, failed: Int,
             metrics: Map[String, (Double, String)]): String =
    metrics.map { case (k, (v, u)) => s"""${str(k)}: {"value": ${num(v)}, "unit": ${str(u)}}""" }
      .mkString(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""",
        ", ", "}}")
}
