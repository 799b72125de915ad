package graft

import graft.functions.TextExtract
import graft.datapipe.TextStats
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The formulations the native expressions replaced, kept only as parity
  * oracles: each production operator is pinned against its oracle here
  * (ExtractSpec, DatapipeSpec, CcHygieneSpec), bit for bit. None of them
  * runs in a production plan. */
object ParityOracles {

  // ---- TextExtract: regex formulations (ExtractSpec) ----------------------
  // reference regexes, verbatim semantics (cited file:line into the
  // reference). FromScrappyDump.kt:38 — anchored full-string, lazy prefix:
  // the string must end at the digit run; "转发 17376x" yields no match.
  val numberRegex = ".*?([0-9]+)"
  // FromScrappyDump.kt:39 / :42 / :43
  val timeFromXml     = "title=\"(.+?)\""
  val timeFromXmlText = ">(.+?)</"
  val quoteUserRegex  = "(@\\S+)[:\\s]*"
  val topicRegex      = "(#.+?#)"
  val nicknameRegex   = "nick-name=\"(.+?)\" "
  // MicroBlog.kt:6–7
  val blogUrlRegex   = "//weibo\\.com/(.+?)/([A-Za-z0-9]{9}).*"
  val userUrlIdRegex = "//weibo\\.com/([A-Za-z0-9/]*)"

  /** F2 — all matches' group 1, in order (Kotlin findAll,
    * extentFunctions.kt:151–153). */
  def extractValues(c: Column, pattern: String): Column =
    regexp_extract_all(c, lit(pattern), lit(1))

  /** First occurrence (Kotlin extractValues(...).first()) — '' when absent. */
  def extractFirst(c: Column, pattern: String): Column =
    regexp_extract(c, pattern, 1)

  /** [[TextExtract.intOrZero]] (FromScrappyDump.kt:74–85). */
  def intOrZeroRegex(c: Column): Column =
    coalesce(TextExtract.firstMatch(c, numberRegex).cast("int"), lit(0))

  /** [[TextExtract.detectTags]] (FromScrappyDump.kt:87–97). */
  def detectTagsRegex(content: Column): Column = {
    val top = substring_index(content, "//@", 1)
    concat(extractValues(top, quoteUserRegex), extractValues(top, topicRegex))
  }

  /** [[TextExtract.titleAttr]], [[TextExtract.anchorText]] and
    * [[TextExtract.nickName]] (FromScrappyDump.kt:186–191, 202–221). */
  def titleAttrRegex(c: Column): Column = extractFirst(c, timeFromXml)
  def anchorTextRegex(c: Column): Column =
    trim(substring_index(extractFirst(c, timeFromXmlText), " 转赞人数", 1))
  def nickNameRegex(c: Column): Column = trim(extractFirst(c, nicknameRegex))

  /** The URL parsers (MicroBlog.kt:42–79): "" on no match. */
  def url2codedMidRegex(url: Column): Column =
    regexp_extract(url, blogUrlRegex, 2)
  def uidFromBlogUrlRegex(url: Column): Column =
    regexp_extract(url, blogUrlRegex, 1)
  def uidFromUserUrlRegex(url: Column): Column =
    regexp_replace(regexp_extract(url, userUrlIdRegex, 1), "u/", "")

  // ---- TextStats: the tokenizer and the per-doc counters (ExtractSpec,
  // DatapipeSpec) -------------------------------------------------------------

  /** [[TextStats.tokens]]: whitespace split. */
  def tokensRegex(text: Column): Column = split(trim(text), "\\s+")

  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "it")

  /** The interpreted-HOF counters the fused [[TextStats.textCounts]] walk
    * replaced, one per struct field. */
  def tokenCountHof(text: Column): Column = size(TextStats.tokens(text))
  def subwordCountHof(text: Column): Column =
    aggregate(TextStats.tokens(text), lit(0),
      (acc, w) => acc + ceil(length(w) / lit(4.0)).cast("int"))
  def stopwordCountHof(text: Column): Column =
    size(filter(TextStats.tokens(text), w => lower(w).isin(stopwords: _*)))
  def distinctTokensHof(text: Column): Column =
    size(array_distinct(TextStats.tokens(text)))
  def cjkCountHof(text: Column): Column =
    length(text) - length(regexp_replace(text, "[\\x{4e00}-\\x{9fff}]", ""))
  def punctCountHof(text: Column): Column =
    length(text) - length(regexp_replace(text, "[\\.,;:!\\?]", ""))
  def symbolCountHof(text: Column): Column =
    length(text) - length(regexp_replace(text, "[^A-Za-z0-9 ]", ""))

  // ---- Similarity (DatapipeSpec) -------------------------------------------

  /** Deterministic pseudo-random hyperplane component for (plane p, dim d):
    * md5 mapped to ±1. */
  private def planeSign(p: Int, d: Column): Column =
    when(conv(substring(md5(concat(lit(p.toString), lit("_"), d.cast("string"))),
      1, 6), 16, 10).cast("long") % 2 === 0, 1.0).otherwise(-1.0)

  /** [[graft.datapipe.Similarity.signBucket]] as the higher-order-function
    * chain it replaced: `planes` sign bits of the vector's dot products with
    * the ±1 hyperplanes. */
  def signBucketHof(v: Column, planes: Int): Column = {
    val bits = (0 until planes).map { p =>
      val dot = aggregate(
        zip_with(v, sequence(lit(0), size(v) - 1),
          (x, i) => x * planeSign(p, i)),
        lit(0.0), (acc, x) => acc + x)
      when(dot >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  // ---- Dedup (DatapipeSpec) ------------------------------------------------

  /** [[graft.datapipe.Dedup.cdcChunks]] as the aggregate-HOF fold it
    * replaced (interpreted, one immutable array copy per chunk per token). */
  def cdcChunksHof(docs: DataFrame, idCol: String, textCol: String,
                   avgWords: Int = 32): DataFrame = {
    def boundary(w: Column) =
      (conv(substring(md5(w), 1, 8), 16, 10).cast("long") % avgWords) === 0
    val zero = struct(
      array().cast("array<string>").as("done"),
      lit(null).cast("string").as("cur"))
    def merge(acc: Column, w: Column) = {
      val cur = acc.getField("cur")
      val cut = boundary(w) && cur.isNotNull
      struct(
        when(cut, array_append(acc.getField("done"), cur))
          .otherwise(acc.getField("done")).as("done"),
        when(cut || cur.isNull, w)
          .otherwise(concat(cur, lit(" "), w)).as("cur"))
    }
    def finish(acc: Column) =
      when(acc.getField("cur").isNotNull,
        array_append(acc.getField("done"), acc.getField("cur")))
        .otherwise(acc.getField("done"))
    docs
      .select(col(idCol),
        aggregate(TextStats.tokens(col(textCol)), zero, merge, finish)
          .as("chunks"))
      .select(col(idCol), posexplode(col("chunks")))
      .select(col(idCol), col("pos").cast("long").as("chunk_id"),
        md5(col("col")).as("h"),
        size(split(col("col"), " ")).cast("long").as("n_words"))
  }

  // ---- Canon (CcHygieneSpec) -----------------------------------------------

  /** Iterative min-label propagation connected components over undirected
    * edges — the reference kernel for [[graft.stages.Canon.ccLogRounds]].
    * One shuffle round per hop of component diameter; hot nodes go through
    * a two-phase min-aggregate salted 16 ways; lineage is truncated with
    * localCheckpoint every `checkpointEvery` rounds, and each superseded
    * per-round cache is unpersisted.
    *
    * @return (name, comp) where comp = lexicographically-min name reachable.
    */
  def connectedComponents(edges: DataFrame,
                          checkpointEvery: Int = 3): DataFrame = {
    val salt = 16
    val e = edges.toDF("src", "dst")
    val sym = e
      .union(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint()

    var comp = sym.select(col("src").as("name")).distinct()
      .withColumn("comp", col("name"))
      .localCheckpoint()

    var changed = 1L
    var iter = 0
    var prevCached: DataFrame = null
    while (changed > 0) {
      // min over neighbors' components; two-phase (salted) aggregate so a
      // hot node with 10^8 neighbors never lands on one reducer.
      val nbrMin = sym
        .join(comp.withColumnRenamed("name", "dst"), Seq("dst"))
        .groupBy(col("src"), pmod(xxhash64(col("dst")), lit(salt)).as("_salt"))
        .agg(min(col("comp")).as("c1"))
        .groupBy(col("src")).agg(min(col("c1")).as("nbr_comp"))

      val next = comp
        .join(nbrMin.withColumnRenamed("src", "name"), Seq("name"), "left")
        .select(col("name"), col("comp").as("old_comp"),
          least(col("comp"), coalesce(col("nbr_comp"), col("comp"))).as("comp"))

      val materialized =
        if ((iter + 1) % checkpointEvery == 0) next.localCheckpoint()
        else next.cache()
      changed = materialized.filter(col("comp") =!= col("old_comp")).count()
      // the previous iteration's cache is superseded the moment the new one
      // is materialized — unpersist it, or a long CC run accumulates every
      // iteration in the MemoryStore
      if (prevCached != null) prevCached.unpersist()
      prevCached = if ((iter + 1) % checkpointEvery == 0) null else materialized
      comp = materialized.select("name", "comp")
      iter += 1
    }
    if (prevCached != null) {
      comp = comp.localCheckpoint() // detach the result from the cache...
      prevCached.unpersist()        // ...then release the final iteration
    }
    comp
  }
}
