package graft.oracle

import graft.core.Rules
import graft.functions.Base62
import graft.gen.Corpus
import graft.stages.Canon
import java.nio.charset.StandardCharsets.UTF_8
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import scala.collection.mutable

/** Single-threaded golden generator: re-implements the REFERENCE semantics
  * (plain Scala loops + java.time + java regex, mirroring the Kotlin control
  * flow of weibo/FromScrappyDump.kt and cndbpedia/AbstractSubjectGraph.kt)
  * over the same deterministic corpus the Spark pipeline reads. The emitted
  * (subj, pred, obj) set is the P/R ≥ 0.95 gate (BASELINE.md).
  *
  * Deliberately shares NO Spark code with the pipeline — only the corpus
  * generator, the rule tables (they are the spec), the base62 codec and
  * Canon's driver label builder (the golden gate runs the pipeline's label
  * dataflow, so that builder still meets an independent implementation).
  */
object RefOracle {

  // --- Kotlin-equivalent string/regex helpers --------------------------------
  private def firstMatch(s: String, pattern: String): Option[String] = {
    val m = java.util.regex.Pattern.compile(pattern).matcher(s)
    if (m.matches()) Some(m.group(1)) else None // matchEntire
  }
  private def extractValues(s: String, pattern: String): List[String] = {
    val m = java.util.regex.Pattern.compile(pattern).matcher(s)
    val out = mutable.ListBuffer[String]()
    while (m.find()) out += m.group(1)
    out.toList
  }
  private def substringBefore(s: String, d: String): String = {
    val i = s.indexOf(d); if (i < 0) s else s.substring(0, i)
  }
  private def substringAfter(s: String, d: String): String = {
    val i = s.indexOf(d); if (i < 0) s else s.substring(i + d.length)
  }

  private val scrapFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private val outFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm")

  /** FromScrappyDump.kt:112–160, branch order preserved. */
  def alignTime(scrapTime: String, time: String): String = {
    val st = LocalDateTime.parse(scrapTime, scrapFmt)
    if (time.contains("刚刚")) outFmt.format(st)
    else if (time.contains("秒")) outFmt.format(st)
    else if (time.contains("分钟前"))
      outFmt.format(st.minusMinutes(firstMatch(time, "(\\d+)分钟.+?").get.toLong))
    else if (time.contains("小时前"))
      outFmt.format(st.minusHours(firstMatch(time, "(\\d+)小时.+?").get.toLong))
    else if (time.contains("今天")) {
      val m = java.util.regex.Pattern.compile("今天\\s?(\\d{2}):(\\d{2}).*").matcher(time)
      m.matches()
      outFmt.format(st.withHour(m.group(1).toInt).withMinute(m.group(2).toInt))
    } else if (time.contains("年"))
      time.replace("年", "-").replace("月", "-").replace("日", "")
    else {
      val p = java.util.regex.Pattern.compile("(\\d+)月(\\d+)日 (\\d{2}):(\\d{2}).*")
      if (p.matcher(time).find()) {
        val m = p.matcher(time); m.matches()
        outFmt.format(st.withMonth(m.group(1).toInt).withDayOfMonth(m.group(2).toInt)
          .withHour(m.group(3).toInt).withMinute(m.group(4).toInt))
      } else time
    }
  }

  private def intOrZero(s: String): Int =
    if (s == null) 0 else firstMatch(s, ".*?([0-9]+)").map(_.toInt).getOrElse(0)

  private def url2codedMid(url: String): String = {
    if (url == null) return ""
    val m = java.util.regex.Pattern
      .compile("//weibo\\.com/(.+?)/([A-Za-z0-9]{9}).*").matcher(url)
    if (m.find()) m.group(2) else ""
  }
  private def uidFromBlogUrl(url: String): String = {
    if (url == null) return ""
    val m = java.util.regex.Pattern
      .compile("//weibo\\.com/(.+?)/([A-Za-z0-9]{9}).*").matcher(url)
    if (m.find()) m.group(1) else ""
  }
  private def uidFromUserUrl(url: String): String = {
    val m = java.util.regex.Pattern
      .compile("//weibo\\.com/([A-Za-z0-9/]*)").matcher(url)
    m.find()
    m.group(1).replace("u/", "")
  }

  private def detectTags(content: String): List[String] = {
    val top = substringBefore(content, "//@")
    extractValues(top, "(@\\S+)[:\\s]*") ++ extractValues(top, "(#.+?#)")
  }

  // ---------------------------------------------------------------------------

  type T3 = (String, String, String)

  def goldenTriples(cfg: Corpus.Config): Set[T3] = {
    val kb = Corpus.kb(cfg)
    val triples = mutable.HashSet[T3]()
    val mentionsFound = mutable.LinkedHashSet[String]()

    Corpus.docs(cfg).foreach { d =>
      val byKind = d.spans.groupBy(_.kind)
      def first(k: String) = byKind.get(k).map(_.minBy(_.offset))
      def txt(k: String) = first(k).map(_.text).orNull
      def ref(k: String) = first(k).map(_.media_ref).orNull

      // mention detection on every text span, doc validity-independent
      byKind.getOrElse("text", Nil).foreach { s =>
        if (s.text != null) kb.mentions.foreach { m =>
          if (s.text.contains(m)) mentionsFound += m
        }
      }

      val isComment = byKind.contains("cid")
      if (isComment) {
        val cidDec = txt("cid")
        if (cidDec != null) {
          val cid = Base62.encodeMid(cidDec)
          val uid = uidFromUserUrl(ref("user"))
          val mid = url2codedMid(ref("src"))
          if (mid != "") {
            val ct = txt("ctime")
            val time = if (ct == null) null else {
              var t = if (ct.startsWith("<div"))
                substringBefore(substringAfter(ct, ">"), "<")
              else ct
              if (t.contains("楼")) t = substringAfter(t, "楼 ")
              t
            }
            val like = {
              val lt = first("stat").map(_.text).filter(_ != null)
                .flatMap(t => firstMatch(t, ".*?([0-9]+)")).orNull
              if (lt != null && lt != "") lt.toInt else 0
            }
            triples += ((s"user:$uid", "create", s"comment:$cid"))
            triples += ((s"comment:$cid", "comment", s"blog:$mid"))
            triples += ((s"comment:$cid", "like_count", like.toString))
            if (time != null) triples += ((s"comment:$cid", "at_time", time))
          }
        }
      } else {
        val url = ref("link")
        val mid = url2codedMid(url)
        val ctime = txt("ctime")
        val timeF = txt("time")
        val hasTime = ctime != null || timeF != null
        if (url != null && mid != "" && hasTime) {
          val uid = uidFromBlogUrl(url)
          val content = txt("text")
          val unameRaw = txt("uname")
          val username =
            if (unameRaw == null) "unknown"
            else if (unameRaw.contains("<a "))
              extractValues(unameRaw, "nick-name=\"(.+?)\" ").head.trim
            else unameRaw.trim
          val timeRaw =
            if (ctime != null) {
              if (ctime.contains("<div"))
                extractValues(ctime, "title=\"(.+?)\"").head.trim
              else ctime
            } else {
              val t = timeF.replace("\n", "")
              if (t.contains("<a"))
                substringBefore(extractValues(t, ">(.+?)</").head, " 转赞人数").trim
              else t.trim
            }
          val scrap = txt("scrap")
          val time = alignTime(scrap, timeRaw)
          def stat(w: String) = intOrZero(byKind.getOrElse("stat", Nil)
            .sortBy(_.offset).find(s => s.text != null && s.text.startsWith(w))
            .map(_.text).orNull)

          val blogId = s"blog:$mid"
          triples += ((s"user:$uid", "create", blogId))
          triples += ((s"user:$uid", "name", username))
          triples += ((blogId, "at_time", time))
          triples += ((blogId, "repost_count", stat("转发").toString))
          triples += ((blogId, "comment_count", stat("评论").toString))
          triples += ((blogId, "like_count", stat("点赞").toString))
          if (content != null)
            detectTags(content).foreach(t => triples += ((blogId, "reference", s"tag:$t")))
          val srcRef = ref("src")
          val srcText = txt("src")
          if (srcRef != null && srcRef.contains("//weibo.com"))
            triples += ((s"blog:${url2codedMid(srcRef)}", "repost", blogId))
          else if (srcRef == null && srcText != null)
            triples += ((s"root:$srcText", "keyword", blogId))
        }
      }
    }

    // --- KB BFS (AbstractSubjectGraph.kt:17–46 control flow) -----------------
    val m2e: Map[String, Seq[String]] = kb.ment2ent.map(m => m.mention -> m.entities).toMap
    val avBySubj: Map[String, Seq[(String, String)]] =
      kb.avpair.groupBy(_.entity).map { case (e, rows) => e -> rows.map(r => (r.pred, r.obj)) }
    val finished = mutable.HashSet[String]()
    val kbTriples = mutable.HashSet[T3]()
    val queue = mutable.Queue[String]()
    mentionsFound.foreach(queue.enqueue)
    while (queue.nonEmpty) {
      val mention = queue.dequeue()
      m2e.getOrElse(mention, Nil).foreach { e =>
        if (!finished.contains(e)) {
          finished += e
          avBySubj.getOrElse(e, Nil).foreach { case (p, o) =>
            kbTriples += ((e, p, o))
            if (Rules.recursivePreds.contains(p)) queue.enqueue(o)
          }
        }
      }
    }

    // --- canonicalization (deterministic closure of Neo4jIdCache.kt:8–15) ----
    val labelMap = Canon.labelSets(kbTriples, Rules.categoryPred)
    // names in Spark's string order (UTF-8 bytes = code points), which the
    // pipeline's min/least kernels use; Java's UTF-16 `<` differs between
    // a surrogate pair and a BMP character above U+DFFF
    val names = labelMap.keySet.toVector.sortWith((a, b) =>
      java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8)) < 0)
    val parent = mutable.HashMap[String, String]()
    def find(x: String): String = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    def union(a: String, b: String): Unit = {
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(if (ra < rb) rb else ra) = if (ra < rb) ra else rb
    }
    for (a <- names; b <- names)
      if (a != b && b.length >= 2 && a.contains(b) &&
        labelMap(b).subsetOf(labelMap(a))) union(a, b)
    kbTriples.foreach { case (s, p, o) =>
      if (Rules.aliasPreds.contains(p)) union(s, o)
    }
    val comp = mutable.HashMap[String, String]() // root -> min member
    names.foreach { n => // names sorted → first hit per root is the least
      val r = find(n)
      if (!comp.contains(r)) comp(r) = n
    }
    def canon(n: String): String =
      if (labelMap.contains(n)) comp(find(n)) else n

    (triples.map { case (s, p, o) => (canon(s), p, canon(o)) } ++
      kbTriples.map { case (s, p, o) => (canon(s), p, canon(o)) }).toSet
  }
}
