package graft.stages

import graft.functions.{Base62, SpanFields, TextExtract => TE}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Stage 1 — rectify interleaved docs into normalized blog / comment rows.
  *
  * The Spark image of the reference's per-row field rectification
  * (weibo/FromScrappyDump.kt:162–285 parseBlog, :295–348 parseComment,
  * version dispatch :376–383). Narrow column expressions — no explode, no
  * shuffle; this stage scales linearly and is the basis of the N→4N
  * scaling evidence.
  *
  * Span access goes through ONE native [[SpanFields]] pass per row
  * (min-offset span per kind, prefix-matched stats): the earlier
  * `get(filter(spans, …), 0)` per field re-walked the array through ~15
  * interpreted higher-order lambdas per row, whose allocation storm
  * inflated CPU 11× once 8 cores ran concurrently (see SpanFields doc).
  * The `sf` struct is aliased in its own projection so CollapseProject
  * cannot inline the (non-cheap) expression into every consumer.
  */
object Normalize {

  /** blog/comment classifier — native codegen'd early-exit walk, not the
    * interpreted exists() HOF (one lambda dispatch per element per row on
    * the hottest filter in the pipeline; see functions.HasSpanKind). */
  def isComment(spans: Column): Column =
    graft.functions.HasSpanKind(spans, "cid")

  private def withSf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), SpanFields(col("spans")).as("sf"))

  private def textOf(kind: String): Column = col(s"sf.${kind}_text")
  private def refOf(kind: String): Column = col(s"sf.${kind}_ref")
  private def offOf(kind: String): Column = col(s"sf.${kind}_off")

  /** Counter field by its CJK prefix word — the image of the reference's
    * per-field intOrZero (FromScrappyDump.kt:169–171, 340–344). */
  private def statOf(word: String): Column =
    TE.intOrZero(col(s"sf.${SpanFields.statField(word)}"))

  /** docs → normalized blog rows (null mid / missing time ⇒ invalid, the
    * reference's `return false` paths, FromScrappyDump.kt:166, 179–182, 225). */
  def blogs(docs0: DataFrame): DataFrame = {
    val docs = withSf(docs0.filter(!isComment(col("spans"))))
    val url = refOf("link")
    val content = textOf("text")
    val unameRaw = textOf("uname")
    val ctime = textOf("ctime")
    val timeF = textOf("time")
    val scrap = textOf("scrap")
    val srcRef = refOf("src")
    val srcText = textOf("src")

    // create_time branch then time branch (FromScrappyDump.kt:202–225)
    // translate, not regexp_replace: removing a literal char needs no
    // Matcher/String allocation per row on the normalize hot path
    val timeClean = translate(timeF, "\n", "")
    val timeRaw =
      when(ctime.isNotNull,
        when(ctime.contains("<div"), trim(TE.titleAttr(ctime))).otherwise(ctime))
      .when(timeF.isNotNull,
        when(timeClean.contains("<a"), TE.anchorText(timeClean)).otherwise(trim(timeClean)))

    // username: nick-name markup | plain | unknown (FromScrappyDump.kt:186–196)
    val username =
      when(unameRaw.isNotNull,
        when(unameRaw.contains("<a "), TE.nickName(unameRaw)).otherwise(trim(unameRaw)))
      .otherwise(lit("unknown"))

    docs
      .select(
        col("doc_id"),
        TE.url2codedMid(url).as("mid"),
        TE.uidFromBlogUrl(url).as("uid"),
        content.as("content"),
        offOf("text").as("content_offset"),
        username.as("username"),
        statOf("转发").as("repost"),
        statOf("评论").as("comment"),
        statOf("点赞").as("like"),
        timeRaw.as("time_raw"),
        scrap.as("scrap_time"),
        when(srcRef.contains("//weibo.com"), TE.url2codedMid(srcRef)).as("repost_id"),
        when(srcRef.contains("//weibo.com"), srcRef).as("repost_link"),
        when(srcRef.isNull, srcText).as("keyword"))
      .withColumn("time", TE.alignTime(col("scrap_time"), col("time_raw")))
      .withColumn("valid",
        col("mid").isNotNull && col("mid") =!= "" && col("time_raw").isNotNull)
      .withColumn("time_ok",
        TE.isValidTime(col("time")) || col("time") === "unknown")
  }

  /** docs → normalized comment rows (FromScrappyDump.kt:295–348). */
  def comments(docs0: DataFrame): DataFrame = {
    val docs = withSf(docs0.filter(isComment(col("spans"))))
    val cidDec = textOf("cid")
    val ct = textOf("ctime")
    // startsWith "<div" → text between first '>' and next '<'; then strip
    // a leading `N楼 ` floor marker (FromScrappyDump.kt:308–316).
    val afterGt = get(split(ct, ">", 2), lit(1))
    val t0 = when(ct.startsWith("<div"), substring_index(afterGt, "<", 1)).otherwise(ct)
    // Kotlin substringAfter("楼 ") returns the original when the exact
    // delimiter (with the space) is absent
    val t1 = when(t0.contains("楼 "), get(split(t0, "楼 ", 2), lit(1))).otherwise(t0)

    docs
      .select(
        col("doc_id"),
        Base62.encode_mid(cidDec).as("cid"),
        TE.uidFromUserUrl(refOf("user")).as("uid"),
        textOf("text").as("content"),
        offOf("text").as("content_offset"),
        when(ct.isNull, lit(null).cast("string")).otherwise(t1).as("time"),
        textOf("scrap").as("scrap_time"),
        TE.url2codedMid(refOf("src")).as("mid"),
        statOf("赞").as("like"))
      .withColumn("valid", col("cid").isNotNull && col("mid") =!= "")
  }
}
