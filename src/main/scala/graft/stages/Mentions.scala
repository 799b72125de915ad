package graft.stages

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import scala.collection.mutable

/** Stage 2 — dictionary mention detection over text spans.
  *
  * The reference seeds its KB crawl with hand-picked mentions
  * (cndbpedia/{Government,Religion,Company}Graph.main) and resolves them via
  * the ment2ent API (APIRequestCache.kt:85–94). At 10^12-doc scale the
  * mentions come from the corpus itself: a broadcast dictionary trie scanned
  * per partition — no per-row RPC, no shuffle until the final distinct
  * (north star: "broadcast dictionary/trie mention detection").
  *
  * The scan is a native codegen'd expression ([[TrieMatch]]) + `explode`,
  * NOT a typed mapPartitions: the Dataset hop deserialized every span row
  * to a Scala tuple and re-encoded every output — 4+ allocations per row
  * both ways, measured as ~3× CPU inflation at 8 concurrent cores. The
  * expression stays inside the whole-stage-codegen span (preference order
  * SURVEY.md §7.5: builtin > native Expression > UDF > mapPartitions).
  */
object Mentions {

  def buildTrie(dictWords: Seq[String]): Trie = {
    // mutable build graph, then freeze into flat arrays
    final class B { val ch = new mutable.TreeMap[Char, B]; var word: String = null }
    val root = new B
    dictWords.foreach { w =>
      var n = root
      w.foreach(c => n = n.ch.getOrElseUpdate(c, new B))
      n.word = w
    }
    val nodes = mutable.ArrayBuffer[B](root)
    var k = 0
    while (k < nodes.length) { // BFS order; children contiguous per node
      nodes ++= nodes(k).ch.valuesIterator
      k += 1
    }
    val index = new java.util.IdentityHashMap[B, Int]()
    nodes.zipWithIndex.foreach { case (b, i) => index.put(b, i) }
    val childStart = new Array[Int](nodes.length)
    val childEnd = new Array[Int](nodes.length)
    val chars = mutable.ArrayBuffer[Char]()
    val targets = mutable.ArrayBuffer[Int]()
    val words = new Array[String](nodes.length)
    nodes.zipWithIndex.foreach { case (b, i) =>
      words(i) = b.word
      childStart(i) = chars.length
      b.ch.foreach { case (c, child) => // TreeMap ⇒ already char-sorted
        chars += c; targets += index.get(child)
      }
      childEnd(i) = chars.length
    }
    new Trie(childStart, childEnd, chars.toArray, targets.toArray, words)
  }

  /** array<string> of distinct dictionary words contained in `child`.
    * The trie rides the broadcast (built once on the driver — a real
    * dictionary is millions of entries; per-task rebuild would repeat the
    * construction per partition per stage); generated code reads
    * `bc.value()` per row, a cached-field read after first access. */
  case class TrieMatch(child: Expression, bc: Broadcast[Trie])
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "trie_match"

    override protected def nullSafeEval(input: Any): Any =
      bc.value.matchesArray(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val bcRef = ctx.addReferenceObj("trieBc", bc,
        classOf[Broadcast[_]].getName)
      defineCodeGen(ctx, ev,
        c => s"((graft.stages.Trie)$bcRef.value()).matchesArray($c)")
    }

    override protected def withNewChildInternal(newChild: Expression): TrieMatch =
      copy(child = newChild)
  }

  def trieMatch(c: Column, bc: Broadcast[Trie]): Column =
    ColumnBridge.column(TrieMatch(ColumnBridge.expression(c), bc))

  /** (doc_id, offset, text) spans → (doc_id, span_offset, mention) rows. */
  def detect(spark: SparkSession, textSpans: DataFrame, dict: Seq[String]): DataFrame = {
    val bc = spark.sparkContext.broadcast(buildTrie(dict))
    textSpans.select(col("doc_id"), col("span_offset").cast("int").as("span_offset"),
      explode(trieMatch(col("text"), bc)).as("mention"))
  }

  /** Dataflow mention detection for dictionaries BEYOND the driver bound —
    * the fallback when the ment2ent dimension cannot be collected to build
    * the broadcast trie (same output contract as [[detect]]: one row per
    * distinct dictionary word contained in each span).
    *
    * Shape: substring blocking. The distinct dictionary-entry LENGTHS are a
    * tiny dimension (bounded by the longest mention — broadcast); each span
    * explodes into its |text| × |lengths| candidate substrings, and a
    * LEFT SEMI equi-join against the dictionary keeps exactly the
    * substrings that are dictionary words. The dictionary side is never
    * driver-resident and never broadcast — the join shuffles candidate
    * hashes at corpus scale, which is the price of a dictionary that has
    * outgrown every executor's memory. */
  def detectBySubstring(spark: SparkSession, textSpans: DataFrame,
                        dict: DataFrame): DataFrame = {
    val words = dict.select(col(dict.columns.head).as("mention"))
      .where(col("mention").isNotNull && length(col("mention")) > 0)
      .distinct()
    val lens = words.select(length(col("mention")).as("len")).distinct()
    val cands = textSpans
      .join(broadcast(lens), length(col("text")) >= col("len"))
      .select(col("doc_id"), col("span_offset").cast("int").as("span_offset"),
        col("text"), col("len"),
        explode(sequence(lit(1), length(col("text")) - col("len") + 1)).as("i"))
      .select(col("doc_id"), col("span_offset"),
        col("text").substr(col("i"), col("len")).as("mention"))
    cands.join(words, Seq("mention"), "left_semi")
      // one row per distinct word per span, like the trie walk; dedup AFTER
      // the semi-join so only dictionary hits (tiny) reach the distinct
      .distinct()
      .select(col("doc_id"), col("span_offset"), col("mention"))
  }

  /** The bounded seed step of the KB crawl: the distinct dictionary
    * mentions in `textSpans`. ONE limit-N+1 collect of the `ment2ent`
    * dimension probes `bound`: within it the collected dictionary builds the
    * broadcast trie ([[detect]]); over it detection runs distributed
    * ([[detectBySubstring]]) and the dictionary never reaches the driver.
    * @return (single-column DF `mention`, distinct; the mention → entities
    *   dictionary when it fit — hand it to KbExpand.expand as
    *   `m2eCollected`, and `m2eTooLarge = dict.isEmpty`) */
  def seedMentions(spark: SparkSession, textSpans: DataFrame, ment2ent: DataFrame,
                   bound: Long = 2000000L)
      : (DataFrame, Option[Map[String, Seq[String]]]) = {
    import spark.implicits._
    val rows = ment2ent.select(col("mention"), col("entities"))
      .limit(math.min(bound, Int.MaxValue - 2L).toInt + 1)
      .as[(String, Seq[String])].collect()
    val (found, dict) =
      if (rows.length > bound)
        (detectBySubstring(spark, textSpans, ment2ent.select("mention")), None)
      else
        (detect(spark, textSpans, rows.iterator.map(_._1).toSeq.distinct),
          Some(rows.toMap))
    (found.select(col("mention")).distinct(), dict)
  }
}
