package graft.core

/** Typed row shapes at stage boundaries (SURVEY.md §1.3).
  *
  * The primary input contract is the interleaved-docs table from
  * BASELINE.json's input_hint — the Spark image of the reference's
  * semi-structured scrapy rows (reference: weibo/FromScrappyDump.kt:354–372,
  * field kinds :162–348).
  */
object Schemas {

  /** One interleaved fragment of a document. `kind` selects the parse shape
    * the way the reference dispatches on JSON field names + `version`
    * (FromScrappyDump.kt:376–383). `offset` preserves the original order —
    * the per-row invariant is span-sequence equality on
    * (kind, text, media_ref, order). */
  case class Span(kind: String, text: String, media_ref: String, offset: Int)

  case class Doc(doc_id: String, spans: Seq[Span])

  /** KB dimension rows — the pre-materialized image of the reference's
    * HTTP API + SQLite cache (cndbpedia/APIRequestCache.kt:85–105). */
  case class Ment2Ent(mention: String, entities: Seq[String])
  case class AvPair(entity: String, pred: String, obj: String)
}
