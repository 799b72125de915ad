package graft.datapipe

import graft.core.Materialize._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, quality scoring, language-ID heuristic, document
  * fingerprinting. All pure column expressions (codegen'd, narrow — no
  * shuffle), designed to run inside the same scan as filtering so a 100 TB
  * corpus is scored in one pass.
  */
object TextStats {

  /** whitespace tokenization + a BPE-ish subword count proxy: words plus
    * extra units for every 4 chars of long words. Native byte scan
    * (functions/WsSplit) — the regex split paid a Matcher walk per row on
    * every shingle/LM/chunk scan; ExtractSpec pins it to the regex split. */
  def tokens(text: Column): Column = graft.functions.WsSplitExpr(text)

  /** Every scalar per-doc counter in ONE text walk — the fused native
    * expression (functions/TextCounts). All the scalar signals below are
    * plain field reads of this struct; in a multi-signal projection
    * (q_corpus_scrub) Catalyst's subexpression elimination evaluates the
    * walk once per row (plan-pinned in PlanSpec). */
  def textCounts(text: Column): Column = graft.functions.TextCounts(text)

  def tokenCount(text: Column): Column =
    textCounts(text).getField("token_count")

  /** subword-unit estimate: ceil(len/4) summed over words — a cheap,
    * deterministic stand-in for a BPE vocab (no model shipped). */
  def subwordCount(text: Column): Column =
    textCounts(text).getField("subword_count")

  def stopwordCount(text: Column): Column =
    textCounts(text).getField("stopword_count")

  /** Quality score in [0,1]: length band + punctuation ratio + stopword
    * presence — the usual pre-training heuristics, deterministic and
    * SQL-expressible for the oracle. One fused text walk. */
  def qualityScore(text: Column): Column = {
    val c = textCounts(text)
    val n = c.getField("char_count")
    val punctRatio = c.getField("punct_count").cast("double") /
      greatest(n, lit(1)).cast("double")
    val stopRatio = c.getField("stopword_count").cast("double") /
      greatest(c.getField("token_count"), lit(1)).cast("double")
    val lenScore = when(n.between(50, 2000), 1.0)
      .when(n.between(10, 5000), 0.5).otherwise(0.0)
    round(lenScore * 0.4 + least(stopRatio * lit(4.0), lit(1.0)) * 0.4 +
      (lit(1.0) - least(punctRatio * lit(10.0), lit(1.0))) * 0.2, 4)
  }

  /** n-gram language-ID heuristic: script ratio first (CJK vs latin), then
    * an English stopword-density check. One fused text walk; the cjk ratio
    * uses the RAW length (an empty document is 'unk', never 'zh'). */
  def langId(text: Column): Column = {
    val c = textCounts(text)
    val n = greatest(c.getField("char_count"), lit(1))
    val stopRatio = c.getField("stopword_count").cast("double") /
      greatest(c.getField("token_count"), lit(1)).cast("double")
    when(c.getField("cjk_count").cast("double") / n.cast("double") > 0.3, "zh")
      .when(stopRatio > 0.02, "en")
      .otherwise("unk")
  }

  /** Document fingerprint: hash of the whitespace-normalized, lowercased
    * text. md5 (not xxhash64) so external engines can reproduce it. */
  def fingerprint(text: Column): Column =
    md5(lower(regexp_replace(trim(text), "\\s+", " ")))

  // ---- repetition signals (Gopher-style pre-training filters) -------------
  // Rae et al. 2021 ("Scaling Language Models", §A1.1) filter documents by
  // duplicate-line / duplicate-ngram fractions; all three below are narrow
  // column expressions that run inside the scan pass with the other scores.

  /** Fraction of tokens that are repeats of an earlier token:
    * 1 − |distinct tokens| / |tokens|. One fused text walk. */
  def dupTokenFraction(text: Column): Column = {
    val c = textCounts(text)
    round(lit(1.0) - c.getField("distinct_tokens").cast("double") /
      greatest(c.getField("token_count"), lit(1)).cast("double"), 4)
  }

  /** Fraction of lines that are repeats of an earlier line (boilerplate
    * chrome / repeated headers). */
  def dupLineFraction(text: Column): Column = {
    val lines = split(text, "\n")
    round(lit(1.0) - size(array_distinct(lines)).cast("double") /
      greatest(size(lines), lit(1)).cast("double"), 4)
  }

  /** Symbol characters (anything outside [A-Za-z0-9 ]) per word — high
    * values flag markup/code/mojibake masquerading as text. One fused walk. */
  def symbolWordRatio(text: Column): Column = {
    val c = textCounts(text)
    round(c.getField("symbol_count").cast("double") /
      greatest(c.getField("token_count"), lit(1)).cast("double"), 4)
  }

  /** Gopher's duplicate-n-gram filter, faithful UNION-OF-SPANS semantics
    * (Rae et al. 2021 §A1.1): the fraction of TOKEN POSITIONS covered by at
    * least one occurrence of a within-document repeated n-gram — not the
    * count of duplicate grams (overlapping repeats must not double-count).
    *
    * Shape: one shingle pass with positions (codegen'd slice+concat_ws
    * after an index explode — the shingleRows discipline), a two-phase
    * (doc, gram) count, a semi-join back to flag duplicated occurrences,
    * a bounded position explode (n per occurrence) with distinct, and a
    * per-doc count. All keyed by doc id — shuffles are narrow and
    * naturally balanced; nothing is corpus-quadratic. */
  def dupNgramCoverage(docs: DataFrame, idCol: String, textCol: String,
                       n: Int = 5): DataFrame = {
    val toks = tokens(col(textCol))
    val g = docs
      .select(col(idCol).as("id"), toks.as("toks"))
      .select(col("id"), col("toks"), size(col("toks")).as("n_toks"),
        explode(sequence(lit(1),
          greatest(size(col("toks")) - (n - 1), lit(1)))).as("i"))
      .select(col("id"), col("n_toks"), col("i"),
        concat_ws(" ", slice(col("toks"), col("i"), lit(n))).as("sh"))
      .cut()
    val dupGrams = g.groupBy("id", "sh").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2)
      .select("id", "sh")
    val covered = g.join(dupGrams, Seq("id", "sh"), "left_semi")
      .select(col("id"),
        explode(sequence(col("i"), least(col("i") + (n - 1), col("n_toks"))))
          .as("p"))
      .distinct()
      .groupBy("id").agg(count(lit(1)).as("cov"))
    docs.select(col(idCol).as("id"),
        greatest(tokenCount(col(textCol)), lit(1)).as("nt"))
      .join(covered, Seq("id"), "left")
      .select(col("id"),
        round(coalesce(col("cov"), lit(0L)).cast("double") / col("nt"), 4)
          .as("dup_ngram_coverage"))
  }

  /** Character-level Shannon entropy per document — the
    * information-theoretic junk detector: binary-ish blobs and
    * single-character floods sit far below natural text (~4.1 bits/char
    * for English; this returns nats). Computed as ln(T) − Σ n·ln(n) / T
    * over the per-char counts, so one two-phase (doc, char) aggregate is
    * the only shuffle — map-side partials collapse each partition's
    * per-doc counts to alphabet size before the exchange. Empty docs have
    * no characters and produce no row.
    *
    * Per-row memory is BOUNDED: the char walk goes through fixed 4 KB
    * chunks (an outer explode over ceil(len/4096) chunk ids, an inner
    * explode over ≤ 4096 positions), never a doc-length integer array —
    * a single pathological tens-of-MB document must not be able to OOM an
    * executor task when the exchange itself is alphabet-bounded. */
  def charEntropy(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val chunk = 4096
    docs
      .select(col(idCol).as("id"), col(textCol).as("tx"))
      .where(length(col("tx")) > 0)
      .select(col("id"), col("tx"),
        explode(sequence(lit(0),
          floor((length(col("tx")) - 1) / chunk).cast("int"))).as("k"))
      .select(col("id"),
        col("tx").substr(col("k") * chunk + 1, lit(chunk)).as("ck"))
      // per-chunk native histogram (functions/CharCounts): the walk stays
      // chunk-bounded, but the Generate emits one row per DISTINCT char per
      // chunk instead of one per character — ~40× fewer rows into the
      // (id, ch) aggregate at natural alphabet sizes, identical counts
      .select(col("id"),
        explode(graft.functions.CharCountsExpr(col("ck"))).as("e"))
      .groupBy(col("id"), col("e.ch").as("ch"))
      .agg(sum(col("e.n")).as("n"))
      .groupBy("id")
      .agg(sum("n").as("n_chars"),
        round(log(sum("n")) - sum(col("n") * log(col("n"))) / sum("n"), 6)
          .as("char_entropy"))
  }

  /** CROSS-document duplicate-span removal — the rewrite complement of
    * [[dupNgramCoverage]] and the distributed shape of exact-substring
    * training-data dedup (Lee et al. 2022: duplicated spans are removed
    * from every document but their first occurrence). A span = any n-token
    * gram whose corpus-wide occurrence count is ≥ 2; the canonical
    * (lexicographically first (doc, pos)) occurrence keeps its tokens,
    * every other occurrence's positions are scrubbed, and the document is
    * re-emitted from its surviving tokens.
    *
    * Returns (id, n_tokens, n_removed, clean_md5) — the hash, not the
    * rewritten text, so the gate row stays narrow; callers wanting the
    * text use the same kept-positions join.
    *
    * Shape at 100 TB: grams travel as md5 HASHES with positions — the
    * exchange never carries gram text (the decontaminate discipline); the
    * global duplicate test is one two-phase aggregate on the gram hash
    * (map-side partials absorb boilerplate grams); canonical-occurrence
    * selection is min(struct(doc, pos)) inside that same aggregate — no
    * window, no sort group, so a license header repeated 10^8 times is
    * still one combiner cell, and the occurrence join back is
    * AQE-skew-splittable. Position scrubbing is per-doc bounded (covered
    * positions ≤ doc length) and runs as codegen'd array ops in one
    * projection. */
  def scrubDuplicateSpans(docs: DataFrame, idCol: String, textCol: String,
                          n: Int = 8): DataFrame = {
    val g = docs
      .select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
      .select(col("id"), col("toks"), size(col("toks")).as("nt"),
        explode(sequence(lit(1),
          greatest(size(col("toks")) - (n - 1), lit(1)))).as("i"))
      .select(col("id"), col("nt"), col("i"),
        md5(concat_ws(" ", slice(col("toks"), col("i"), lit(n)))).as("gh"))
      .cut()
    val dup = g.groupBy("gh")
      .agg(count(lit(1)).as("c"), min(struct(col("id"), col("i"))).as("k"))
      .filter(col("c") >= 2)
      .select(col("gh"), col("k.id").as("kd"), col("k.i").as("ki"))
    val covered = g.join(dup, Seq("gh"))
      .filter(!(col("id") === col("kd") && col("i") === col("ki")))
      .select(col("id"),
        explode(sequence(col("i"), least(col("i") + (n - 1), col("nt"))))
          .as("p"))
      .distinct()
      .groupBy("id").agg(collect_list(col("p")).as("ps"))
    docs
      .select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
      .join(covered, Seq("id"), "left")
      .select(col("id"), size(col("toks")).cast("long").as("n_tokens"),
        coalesce(size(col("ps")), lit(0)).cast("long").as("n_removed"),
        md5(concat_ws(" ",
          filter(col("toks"), (_, idx) =>
            coalesce(!array_contains(col("ps"), idx + 1), lit(true)))))
          .as("clean_md5"))
  }

  /** Fraction of tokens covered by the single most frequent bigram
    * (2 × max bigram count / token count). Needs a per-doc frequency table,
    * so it is a DataFrame op (explode → two-phase count → max), not a scalar
    * column: partial aggregation keeps the shuffle narrow — rows shuffled
    * are (doc, distinct bigram), never (doc, token occurrence). Docs with
    * fewer than 2 tokens have no bigram and are dropped. */
  def topBigramFraction(docs: DataFrame, idCol: String,
                        textCol: String): DataFrame = {
    val toks = tokens(col(textCol))
    // index explode + post-Generate codegen bigram build — the transform
    // HOF is interpreted and allocated the whole bigram array per row
    docs.filter(size(tokens(col(textCol))) >= 2)
      .select(col(idCol), size(toks).as("n"), toks.as("tk"),
        explode(sequence(lit(1), size(toks) - 1)).as("i"))
      .select(col(idCol), col("n"),
        concat(element_at(col("tk"), col("i")), lit(" "),
          element_at(col("tk"), col("i") + 1)).as("b"))
      .groupBy(idCol, "n", "b").agg(count(lit(1)).as("cnt"))
      .groupBy(idCol)
      .agg(round(max(col("cnt")) * lit(2.0) / max(col("n")), 4)
        .as("top_bigram_frac"))
  }

  /** TF-IDF top-k keywords per document: tf = in-doc term count, idf =
    * ln(N / df) with df = documents containing the term; score rounded to
    * 6 so the ranking is engine-portable; ties broken by term.
    *
    * Scale shape: one explode pass feeds BOTH aggregates — tf is a
    * two-phase (doc, term) count; df reuses tf's output (one row per
    * (doc, term) already = distinct containment) with a second narrow
    * count keyed by term. The df table is vocabulary-sized; the join back
    * is an equi-join on term that AQE broadcasts while the vocabulary fits
    * and shuffle-hash-joins beyond. The final per-doc top-k window
    * partitions by doc id — naturally balanced. */
  def tfIdfTopK(docs: DataFrame, idCol: String, textCol: String,
                k: Int): DataFrame = {
    val n = docs.count()
    val tf = docs
      .select(col(idCol).as("id"), explode(tokens(col(textCol))).as("term"))
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))
      .cut()
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("id")
      .orderBy(col("score").desc, col("term").asc)
    tf.join(df, Seq("term"))
      .select(col("id"), col("term"),
        round(col("tf") * log(lit(n.toDouble) / col("df")), 6).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  // ---- PII redaction -------------------------------------------------------
  // Training-data scrubbing pass: emails, phone-shaped numbers, IPv4.
  // Patterns are deliberately RE2-compatible (no backrefs/lookaround) so an
  // external engine reproduces the output byte-for-byte; order matters —
  // emails first (they contain dots that would otherwise half-match IPs).

  def redactPii(text: Column): Column = {
    val email = regexp_replace(text,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val ip = regexp_replace(email,
      "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>")
    regexp_replace(ip, "\\b\\d{3}-\\d{3,4}-\\d{4}\\b", "<PHONE>")
  }
}
