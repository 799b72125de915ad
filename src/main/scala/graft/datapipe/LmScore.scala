package graft.datapipe

import graft.core.Materialize._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** N-gram language-model quality scoring (the CCNet-shape filter: train a
  * cheap LM on a reference slice, score every document by its mean token
  * log-probability, keep/route by the score). The reference engine has no
  * LM filter — this is a beyond-reference training-pipeline operator, the
  * standard third leg next to dedup and heuristic quality scores.
  *
  * Scale shape (the part that matters at 100 TB):
  *  - the model is pruned by a COUNT THRESHOLD, not a global top-K — a
  *    pure filter after the word-count aggregate, no global sort, no
  *    single-reducer ranking. Vocabulary after pruning is ~10^6..10^7
  *    rows; the training pass over the reference slice is one explode +
  *    one two-phase aggregate (map-side partials absorb hot stopwords).
  *  - scoring reduces each doc to its DISTINCT-word counts before touching
  *    the model: the exchange carries (doc, word, n) — bounded by distinct
  *    words per doc — never one row per token.
  *  - the model join's hot keys ("the" appears in ~every doc) are a JOIN,
  *    so AQE skew-split applies; at pruned-vocab sizes Spark's AQE will
  *    broadcast the model side outright when it fits.
  *  - out-of-vocabulary words get a fixed floor log-prob instead of being
  *    dropped, so gibberish is penalized rather than ignored.
  *  - the unigram and bigram trainers each scan the reference once rather
  *    than sharing a cached tokenized projection: the token arrays are
  *    CORPUS-sized, and persisting them at 100 TB means writing the lake
  *    to executor disks — strictly worse than a second columnar scan.
  *    What IS materialized is every vocab-sized reduction (word counts,
  *    bigram counts) — the packIndex rule: keep narrow aggregates,
  *    re-scan wide sources — and no trainer leaves a cache behind (the
  *    model is cut while its scoped count cache is held), so repeated
  *    training never grows storage memory.
  */
object LmScore {

  /** Train a pruned unigram LM over `ref`: one row per word with
    * `count >= minCount`, `logp = ln(count / total)` where `total` counts
    * ALL words (including pruned ones), keeping the retained probabilities
    * proper. The total is a scalar aggregate (driver-side single value). */
  def train(ref: DataFrame, textCol: String, minCount: Long = 3L): DataFrame =
    withWordCounts(ref, textCol) { (cnt, total) =>
      cnt.where(col("c") >= minCount)
        .select(col("w"), log(col("c").cast("double") / total).as("logp"))
    }

  /** One corpus tokenization per trainer call, zero retained cache
    * entries afterwards: the vocab-sized word-count aggregate is scoped to
    * the scalar-total action and the cut of the PRUNED model (~10^6 rows)
    * built from it. */
  private def withWordCounts(ref: DataFrame, textCol: String)
                            (build: (DataFrame, Double) => DataFrame): DataFrame =
    scoped(ref
        .select(explode(TextStats.tokens(col(textCol))).as("w"))
        .where(length(col("w")) > 0)
        .groupBy("w").agg(count(lit(1)).as("c"))) { cnt =>
      val total = cnt.agg(sum("c")).first().getLong(0).toDouble
      build(cnt, total).cut()
    }

  /** e^-12 as a fixed decimal literal: the SAME string parses to the SAME
    * double in the engine and the oracle, where a runtime `exp(-12)` could
    * differ by an ulp between libms. */
  val FloorProb: Double = 6.14421235332821e-6

  /** Commit a trained (w, logp) model to a table BUCKETED on `w`. The
    * in-session model join in [[score]] relies on broadcast/AQE — right
    * while the pruned model fits an executor, wrong at 100 TB where a
    * web-scale bigram/unigram vocabulary outgrows broadcast: from the
    * bucketed store, the model side of every scoring join is read
    * bucket-in-place with ZERO model-side Exchange (plan-pinned in
    * DatapipeSpec; run with `spark.sql.shuffle.partitions == spec.buckets`
    * so the document side lands partition-aligned), and the model is
    * trained once, scored against for weeks. */
  def commitModel(model: DataFrame, table: String,
                  spec: graft.core.Bucketing.BucketSpec): Unit = {
    require(spec.key == "w", s"model store must bucket on w, got ${spec.key}")
    graft.core.Bucketing.writeBucketed(model, table, spec)
  }

  /** Score against a committed bucketed model store ([[commitModel]]). */
  def scoreFromStore(docs: DataFrame, modelTable: String, idCol: String,
                     textCol: String, floorLogp: Double = -12.0): DataFrame =
    score(docs, docs.sparkSession.table(modelTable), idCol, textCol,
      floorLogp)

  /** Unigram model in PROBABILITY space (for interpolation): (w, p1) with
    * p1 = c/total for words with count >= minCount. Same pruning-by-filter
    * shape as [[train]]. */
  def trainProbs(ref: DataFrame, textCol: String, minCount: Long = 3L): DataFrame =
    withWordCounts(ref, textCol) { (cnt, total) =>
      cnt.where(col("c") >= minCount)
        .select(col("w"), (col("c").cast("double") / total).as("p1"))
    }

  /** Bigram model: (w1, w2, pc) with pc = c(w1,w2) / c(w1-as-context),
    * pruned to bigrams with count >= minCount. The context totals are
    * derived FROM the bigram aggregate (sum of c2 per w1) — never a second
    * corpus pass; the corpus is tokenized exactly once and the only wide
    * exchange is the two-phase (w1, w2) count. */
  def trainBigram(ref: DataFrame, textCol: String, minCount: Long = 3L): DataFrame = {
    // array_remove, not the filter HOF: the HOF is interpreted (a lambda
    // dispatch per element per row); removing "" is the same non-empty
    // filter as codegen
    val toksF = array_remove(TextStats.tokens(col(textCol)), "")
    val c2 = ref
      .select(toksF.as("tk"))
      .where(size(col("tk")) >= 2)
      .select(col("tk"), explode(sequence(lit(2), size(col("tk")))).as("t"))
      .select(element_at(col("tk"), col("t") - 1).as("w1"),
        element_at(col("tk"), col("t")).as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
      .cut() // reused for the context totals — no re-scan
    val cctx = c2.groupBy("w1").agg(sum("c2").cast("double").as("cc"))
    c2.where(col("c2") >= minCount)
      .join(cctx, Seq("w1"))
      .select(col("w1"), col("w2"),
        (col("c2").cast("double") / col("cc")).as("pc"))
  }

  /** Interpolated bigram score: position 1 scores ln(p1(w) | floor);
    * positions t >= 2 score ln(lambda·pc(w_{t-1}, w_t) + (1−lambda)·
    * (p1(w_t) | floor)) — unseen bigrams back off to the unigram leg, so
    * the mixture is always positive. `lambda` MUST be exactly
    * representable in binary (default 0.75) or engine and oracle drift on
    * the (1−lambda) literal. Per-doc bigram occurrences aggregate to
    * distinct (doc, w1, w2, n) BEFORE the model joins — the same
    * distinct-reduction discipline as [[score]]. */
  def scoreInterpolated(docs: DataFrame, uni: DataFrame, big: DataFrame,
                        idCol: String, textCol: String,
                        lambda: Double = 0.75,
                        floorProb: Double = FloorProb): DataFrame = {
    val toksF = array_remove(TextStats.tokens(col(textCol)), "") // not the interpreted filter HOF
    val base = docs
      .select(col(idCol).as("id"), toksF.as("tk"))
      .where(size(col("tk")) > 0)
      .select(col("id"), col("tk"), size(col("tk")).as("nt"))
    val first = base
      .select(col("id"), col("nt"), element_at(col("tk"), 1).as("w"))
      .join(uni, Seq("w"), "left")
      .select(col("id"), col("nt"),
        log(coalesce(col("p1"), lit(floorProb))).as("t1"))
    val sum2 = base
      .where(col("nt") >= 2)
      .select(col("id"), col("tk"),
        explode(sequence(lit(2), col("nt"))).as("t"))
      .select(col("id"), element_at(col("tk"), col("t") - 1).as("w1"),
        element_at(col("tk"), col("t")).as("w2"))
      .groupBy("id", "w1", "w2").agg(count(lit(1)).as("n"))
      .join(big, Seq("w1", "w2"), "left")
      .join(uni.select(col("w").as("w2"), col("p1")), Seq("w2"), "left")
      .groupBy("id")
      .agg(sum(col("n") *
          log(lit(lambda) * coalesce(col("pc"), lit(0.0)) +
            lit(1 - lambda) * coalesce(col("p1"), lit(floorProb))))
        .as("sum2"))
    first.join(sum2, Seq("id"), "left")
      .select(col("id"), col("nt").cast("long").as("n_tokens"),
        round((col("t1") + coalesce(col("sum2"), lit(0.0))) / col("nt"), 6)
          .as("avg_logp"))
  }

  /** Score every document: mean token log-probability under `model`
    * ((w, logp) rows from [[train]]); unseen words score `floorLogp`.
    * Returns (id, n_tokens, avg_logp) — higher is more reference-like.
    * All-whitespace docs have no tokens and produce no row. */
  def score(docs: DataFrame, model: DataFrame, idCol: String, textCol: String,
            floorLogp: Double = -12.0): DataFrame =
    docs
      .select(col(idCol), explode(TextStats.tokens(col(textCol))).as("w"))
      .where(length(col("w")) > 0)
      .groupBy(col(idCol), col("w")).agg(count(lit(1)).as("n"))
      .join(model, Seq("w"), "left")
      .groupBy(col(idCol))
      .agg(sum("n").as("n_tokens"),
        round(sum(col("n") * coalesce(col("logp"), lit(floorLogp))) / sum("n"), 6)
          .as("avg_logp"))
}
