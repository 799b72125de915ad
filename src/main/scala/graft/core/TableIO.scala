package graft.core

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types.{DataType, StructType}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** Iceberg-style snapshot table layer: atomic-commit Parquet snapshots with
  * per-file lineage manifests and resume (SURVEY.md §7.3).
  *
  * No Iceberg runtime jar ships in this sandbox (§7.0), so the Iceberg
  * semantics the north rule needs — snapshot isolation, atomic commit,
  * resume-from-last-committed, per-file row counts / lineage — are
  * provided behind this small facade over partitioned Parquet plus a
  * `_manifest.json` committed by atomic rename. A real Iceberg catalog can
  * replace this class without touching any stage code (stages exchange plain
  * DataFrames).
  *
  * Layout:  <root>/<stage>/snapshot-<k>/   parquet files
  *          <root>/<stage>/snapshot-<k>/_manifest.json
  *
  * A commit is one pass: the write is its only Spark work. The manifest's
  * lineage (`per_partition`: one entry per written file, its write task's
  * partition id and rows) and `row_count` come from the Parquet footers of
  * the files just written, read on the driver; `counters` are evaluated
  * after the write, so they may read what it observed. The manifest also
  * stores the snapshot's read schema, so reading a committed stage runs no
  * schema-inference job; a manifest without one (written before the schema
  * was stored) falls back to inference. Manifests are JSON emitted and
  * parsed with Jackson, so any stage or counter name round-trips.
  *
  * This is the Spark-native replacement for the reference's 500k-row REPLACE
  * flush (FromScrappyDump.kt:392–406) and max-id restart (:352–357).
  */
final class TableIO(spark: SparkSession, root: String) {
  import TableIO._

  private def stageDir(stage: String): Path = Paths.get(root, stage)

  private def snapDir(stage: String, k: Int): Path =
    stageDir(stage).resolve(s"snapshot-$k")

  /** Last snapshot id with a committed manifest, or -1. Runs on every
    * read/commit, so the directory stream must be closed — a leaked fd per
    * micro-batch would exhaust the open-file limit on long streams. */
  def lastCommitted(stage: String): Int = {
    val d = stageDir(stage)
    if (!Files.exists(d)) return -1
    val listing = Files.list(d)
    try
      listing.iterator.asScala
        .map(_.getFileName.toString)
        .collect { case s if s.startsWith("snapshot-") &&
          Files.exists(d.resolve(s).resolve(ManifestFile)) =>
          s.stripPrefix("snapshot-").toInt }
        .foldLeft(-1)(math.max)
    finally listing.close()
  }

  def hasCommitted(stage: String): Boolean = lastCommitted(stage) >= 0

  /** Read the latest committed snapshot of a stage. */
  def read(stage: String): DataFrame =
    load(Seq(snapDir(stage, lastCommitted(stage))))

  /** Read ONE committed snapshot by epoch id (epoch-tagged consumers —
    * e.g. per-batch survivor audits — read each epoch labeled). */
  def readSnapshot(stage: String, k: Int): DataFrame =
    load(Seq(snapDir(stage, k)))

  /** Union of ALL committed snapshots of a stage (epoch-append semantics —
    * the streaming layer appends one snapshot per micro-batch). */
  def readAll(stage: String): DataFrame = readRange(stage, -1)

  /** Union of the committed snapshots AFTER `fromExclusive` (bounded-recency
    * reads — the streaming layer's per-batch dedup joins the compacted key
    * snapshot plus only the epochs committed since the last compaction). */
  def readRange(stage: String, fromExclusive: Int): DataFrame =
    load((fromExclusive + 1 to lastCommitted(stage)).map(k => snapDir(stage, k))
      .filter(d => Files.exists(d.resolve(ManifestFile))))

  /** Snapshot directories read with their manifests' schema when they all
    * store the same one; otherwise Spark infers it (a Spark job). */
  private def load(dirs: Seq[Path]): DataFrame = {
    val paths = dirs.map(d => literalGlob(d.toString))
    dirs.map(storedSchema).distinct match {
      case Seq(Some(schema)) => spark.read.schema(schema).parquet(paths: _*)
      case _ => spark.read.parquet(paths: _*)
    }
  }

  /** A counter value from the latest committed manifest of a stage: the
    * entry of `counters`, else a numeric top-level field (`row_count`,
    * `snapshot`). */
  def counterOf(stage: String, name: String): Option[Long] = {
    if (!hasCommitted(stage)) return None
    val m = readManifest(snapDir(stage, lastCommitted(stage)))
    Seq(m.path("counters").get(name), m.get(name))
      .find(v => v != null && v.isIntegralNumber).map(_.asLong)
  }

  /** Write a new snapshot: data first (to a temp dir), then the manifest
    * via atomic rename — a crash at any point leaves the previous snapshot
    * as the committed one (idempotent resume). Returns the committed
    * snapshot, read with its known schema. */
  def commit(stage: String, df: DataFrame,
             upstream: Seq[String] = Nil,
             counters: => Map[String, Long] = Map.empty): DataFrame = {
    val k = lastCommitted(stage) + 1
    val dir = snapDir(stage, k)
    val tmp = stageDir(stage).resolve(s".tmp-snapshot-$k")
    // a driver-built frame (a LocalRelation: a dim fast path's output) is
    // small by construction; uncoalesced it writes one file per
    // default-parallelism slot, and a bounded limit-N+1 read of the
    // snapshot (Canon.canonicalMap over kb_triples) then takes two jobs
    val out =
      if (df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]) df.coalesce(1)
      else df
    out.write.mode("overwrite").parquet(tmp.toString)

    val files = writtenFiles(tmp)
    val m = Json.createObjectNode()
    m.put("stage", stage)
    m.put("snapshot", k)
    m.put("row_count", files.map(_.rows).sum)
    val up = m.putArray("upstream")
    upstream.foreach { s =>
      up.addObject().put("stage", s).put("snapshot", lastCommitted(s)) }
    val parts = m.putArray("per_partition")
    files.foreach { f =>
      parts.addObject().put("pid", f.pid).put("file", f.name).put("rows", f.rows) }
    val cs = m.putObject("counters")
    counters.foreach { case (name, v) => cs.put(name, v) }
    files.iterator.flatMap(_.schema).nextOption()
      .foreach(s => m.set[JsonNode]("schema", Json.readTree(s.json)))

    val mTmp = tmp.resolve(ManifestFile + ".tmp")
    Files.writeString(mTmp, Json.writeValueAsString(m))
    Files.move(mTmp, tmp.resolve(ManifestFile), StandardCopyOption.ATOMIC_MOVE)
    // final atomic publish of the whole snapshot directory
    Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
    load(Seq(dir))
  }

  /** The data files of a written snapshot directory, from their footers. */
  private def writtenFiles(dir: Path): Seq[DataFile] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val listing = Files.list(dir)
    val names =
      try listing.iterator.asScala.map(_.getFileName.toString)
        .filterNot(n => n.startsWith("_") || n.startsWith(".")).toVector.sorted
      finally listing.close()
    names.map { name =>
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(new HPath(dir.resolve(name).toUri), conf))
      try {
        val footer = reader.getFooter
        DataFile(name, PartId.findFirstMatchIn(name).map(_.group(1).toInt).getOrElse(-1),
          footer.getBlocks.asScala.map(_.getRowCount).sum,
          Option(footer.getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey))
            .map(DataType.fromJson(_).asInstanceOf[StructType]))
      } finally reader.close()
    }
  }

  /** Run `f` only if the stage has no committed snapshot yet (resume skip).
    * `counters` (quarantine/skip-reason metrics) are evaluated only on a
    * fresh run, after the write, and land in the manifest. */
  def runOrResume(stage: String, upstream: Seq[String] = Nil,
                  counters: => Map[String, Long] = Map.empty)
                 (f: => DataFrame): DataFrame =
    if (hasCommitted(stage)) read(stage)
    else commit(stage, f, upstream, counters)

  def manifest(stage: String): String =
    Files.readString(snapDir(stage, lastCommitted(stage)).resolve(ManifestFile))
}

object TableIO {
  private val ManifestFile = "_manifest.json"
  /** Footer key under which Spark's Parquet writer stores the row schema. */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"
  /** `part-<task partition>-<uuid>…`: the write task's partition id. */
  private val PartId = """^part-(\d+)""".r
  private val Json = new ObjectMapper()
  private val GlobChar = """[\\\[\]{}*?]""".r

  /** `path` as a Hadoop glob that matches only itself. Spark's readers
    * expand every path as a glob, and a stage name (a directory) may hold
    * `\`, `[`, `{`, `*` or `?`. (Spark's internal no-glob read option lists
    * every path once per path when several are read together.) */
  private def literalGlob(path: String): String =
    GlobChar.replaceAllIn(path, m => Regex.quoteReplacement("\\" + m.matched))

  private final case class DataFile(name: String, pid: Int, rows: Long,
                                    schema: Option[StructType])

  private def readManifest(snapshot: Path): JsonNode =
    Json.readTree(snapshot.resolve(ManifestFile).toFile)

  /** The schema a snapshot's manifest stores; None without one (or without
    * a manifest: reading such a path fails as it always did). */
  private def storedSchema(snapshot: Path): Option[StructType] =
    Option.when(Files.exists(snapshot.resolve(ManifestFile)))(readManifest(snapshot))
      .flatMap(m => Option(m.get("schema")))
      .map(s => DataType.fromJson(Json.writeValueAsString(s)).asInstanceOf[StructType])
}
