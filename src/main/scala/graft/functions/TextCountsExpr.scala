package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass per-document text counters: every scalar statistic the
  * pre-training scrub operators need, from a SINGLE walk of the text.
  *
  * The column formulations these feed (TextStats.qualityScore / langId /
  * dupTokenFraction / symbolWordRatio / subwordCount / stopwordCount)
  * re-derived `split(trim(text), "\\s+")` up to four times per row and ran
  * interpreted higher-order lambdas (`aggregate`, `filter`) over the result
  * — the same CPU-inflation shape SpanFields measured at 11× under 8
  * concurrent cores, on the operator family that BY DESIGN runs over every
  * row of the corpus (q_corpus_scrub). This expression allocates one token
  * array per row and hands every downstream signal a plain struct-field
  * read, inside the whole-stage-codegen span (SignBucket-style codegen —
  * the generated code calls [[compute]] directly, no fallback dispatch).
  *
  * Field semantics are BIT-IDENTICAL to the column formulations the DuckDB
  * oracles mirror (parity-pinned in DatapipeSpec, including the empty/
  * whitespace edge cases):
  *  - char_count      = length(text)                     (code points)
  *  - token_count     = size(split(trim(text), "\\s+"))  (Spark trim strips
  *    ONLY spaces; split keeps leading/trailing empty tokens produced by
  *    other whitespace; "" splits to [""], so the count is 1, not 0)
  *  - distinct_tokens = size(array_distinct(tokens))
  *  - subword_count   = Σ ceil(len(tok)/4)               (BPE-ish proxy)
  *  - stopword_count  = count of tokens whose lowercase is an English
  *    stopword (ASCII case-insensitive — the stopword list is pure ASCII,
  *    so any token with a non-ASCII char can never match)
  *  - cjk_count       = code points in [U+4E00, U+9FFF]
  *  - punct_count     = chars in [.,;:!?]
  *  - symbol_count    = chars outside [A-Za-z0-9 ]
  */
case class TextCounts(child: Expression) extends UnaryExpression {
  import TextCounts._

  override def prettyName: String = "text_counts"
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = schema

  def compute(u: UTF8String): GenericInternalRow = {
    if (TextCounts.countEvals) TextCounts.evals.incrementAndGet()
    val s = u.toString
    var chars = 0
    var cjk = 0
    var punct = 0
    var symbol = 0
    var i = 0
    val n = s.length
    while (i < n) {
      val cp = s.codePointAt(i)
      chars += 1
      if (cp >= 0x4e00 && cp <= 0x9fff) cjk += 1
      if (cp == '.' || cp == ',' || cp == ';' || cp == ':' || cp == '!' || cp == '?')
        punct += 1
      if (!((cp >= 'A' && cp <= 'Z') || (cp >= 'a' && cp <= 'z') ||
            (cp >= '0' && cp <= '9') || cp == ' ')) symbol += 1
      i += Character.charCount(cp)
    }
    // Spark's trim strips ONLY the space character from both ends
    var start = 0
    var end = n
    while (start < end && s.charAt(start) == ' ') start += 1
    while (end > start && s.charAt(end - 1) == ' ') end -= 1
    // limit -1 = Spark's split: trailing empty tokens kept; "" -> [""]
    val parts = WS.split(s.substring(start, end), -1)
    var tokens = 0
    var subwords = 0
    var stops = 0
    val seen = new java.util.HashSet[String](math.max(8, parts.length * 2))
    var distinct = 0
    var p = 0
    while (p < parts.length) {
      val w = parts(p)
      tokens += 1
      val len = w.codePointCount(0, w.length)
      subwords += (len + 3) / 4
      if (isStopword(w)) stops += 1
      if (seen.add(w)) distinct += 1
      p += 1
    }
    new GenericInternalRow(Array[Any](chars, tokens, distinct, subwords,
      stops, cjk, punct, symbol))
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("textCounts", this, classOf[TextCounts].getName)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): TextCounts =
    copy(child = newChild)
}

object TextCounts {
  private val WS = java.util.regex.Pattern.compile("\\s+")

  /** Test seam proving one-walk-per-row: PlanSpec flips `countEvals` and
    * asserts Catalyst's subexpression elimination collapsed the repeated
    * struct reads of a multi-signal projection to ~1 walk per row. The flag
    * is a single volatile read per row when off. */
  @volatile private[graft] var countEvals: Boolean = false
  private[graft] val evals = new java.util.concurrent.atomic.AtomicLong

  /** The stopword list (the counters' HOF oracle uses the same one), pure
    * lowercase ASCII by construction. */
  private val stopwords: Array[String] =
    Array("the", "a", "of", "and", "to", "in", "is", "it")

  /** lower(w) ∈ stopwords, without allocating the lowercased copy: the list
    * is pure ASCII, so a token containing any non-ASCII char cannot match
    * under either ASCII or full-Unicode lowercasing of this list. */
  private def isStopword(w: String): Boolean = {
    val n = w.length
    var k = 0
    while (k < stopwords.length) {
      val sw = stopwords(k)
      if (sw.length == n) {
        var i = 0
        var ok = true
        while (ok && i < n) {
          val c = w.charAt(i)
          val lc = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
          if (lc != sw.charAt(i)) ok = false
          i += 1
        }
        if (ok) return true
      }
      k += 1
    }
    false
  }

  val schema: StructType = StructType(Seq(
    StructField("char_count", IntegerType, nullable = false),
    StructField("token_count", IntegerType, nullable = false),
    StructField("distinct_tokens", IntegerType, nullable = false),
    StructField("subword_count", IntegerType, nullable = false),
    StructField("stopword_count", IntegerType, nullable = false),
    StructField("cjk_count", IntegerType, nullable = false),
    StructField("punct_count", IntegerType, nullable = false),
    StructField("symbol_count", IntegerType, nullable = false)))

  def apply(c: Column): Column =
    ColumnBridge.column(TextCounts(ColumnBridge.expression(c)))
}
