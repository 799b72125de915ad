package graft.datapipe

import graft.core.Materialize._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Baseline: brute-force cosine top-k — a broadcast of the (small) query set
  * against the full corpus, one pass, no corpus shuffle. Scale path: an
  * LSH (random-hyperplane) bucketed variant that probes only matching
  * buckets, trading recall for a bucket-local candidate set; the bucket key
  * join replaces the cross product. Deterministic throughout (hyperplanes
  * derive from md5 of (plane, dim) — no RNG state).
  */
object Similarity {

  /** Random-hyperplane sign bucket: `planes` sign bits of the vector's dot
    * products with deterministic ±1 hyperplanes. Native codegen'd
    * expression — one fused primitive loop per row over a sign table
    * precomputed once (the interpreted HOF chain it replaces re-derived
    * planes × dims md5 signs per corpus row). */
  def signBucket(v: Column, planes: Int): Column =
    graft.functions.SignBucket(v, planes)

  /** Brute-force cosine top-k: for each query vector, the k nearest corpus
    * vectors (excluding self). Query set is broadcast; ties broken by id. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    val scored = q.join(c, col("query_id") =!= col("id"))
      .select(col("query_id"), col("id"),
        round(Dedup.cosine(col("qv"), col("v")), 6).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** LSH-bucketed ANN: only corpus vectors in the query's sign bucket are
    * scored. Same output shape as bruteForceTopK; recall < 1 by design.
    * `probes` > 0 adds multi-probe OR-amplification: each query also probes
    * the buckets at Hamming distance ≤ `probes` bit-flips of its own (the
    * standard recall recovery — a near neighbor that landed one hyperplane
    * away is still found), trading a (planes choose probes)-fold fan-out of
    * the SMALL query side — the corpus is still scanned once and joined on
    * the bucket key. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
              vecCol: String, k: Int, planes: Int = 8,
              probes: Int = 0): DataFrame = {
    val q0 = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      signBucket(col(vecCol), planes).as("bucket0"))
    // probe set: the exact bucket plus single-bit flips (probes=1), etc.
    val flips: Seq[Column] = lit(0L) +: (if (probes >= 1)
      (0 until planes).map(p => lit(1L << p)) else Seq.empty)
    val q = q0.select(col("query_id"), col("qv"),
      explode(array_distinct(array(flips.map(f =>
        col("bucket0").bitwiseXOR(f)): _*))).as("bucket"))
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("v"),
      signBucket(col(vecCol), planes).as("bucket"))
    // a corpus vector has exactly ONE bucket and the probe set is distinct,
    // so each (query, corpus) pair matches at most once — no dedup needed
    val scored = q.join(c, Seq("bucket"))
      .filter(col("query_id") =!= col("id"))
      .select(col("query_id"), col("id"),
        round(Dedup.cosine(col("qv"), col("v")), 6).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Nearest-centroid assignment — the IVF build pass. Input `corpus` is
    * (id, v); `cent` is the SMALL (cid, cv) dimension — driver-bounded by
    * contract (the previous formulation broadcast it, which is the same
    * driver materialization). The centroid table is collected once and
    * embedded as a plan literal, and the argmax runs as ONE fused native
    * loop per corpus row ([[graft.functions.BestCell]]) — a pure
    * PROJECTION: zero corpus-side Exchange, vs the previous cross-join +
    * two-phase `max_by` aggregate whose final exchange still carried one
    * (id, v, cid, csim) struct per corpus vector. Tie-break identical:
    * max rounded cosine (nan-safe ordering), then MIN cid. Rows with a null
    * vector get no cell and are dropped. */
  def assignCells(corpus: DataFrame, cent: DataFrame): DataFrame =
    assignCellsLocal(corpus, centRowsOf(cent))

  /** Collect the (cid, cv) dimension — bounded by the centroid count k by
    * contract, exactly what `broadcast(cent)` materialized driver-side
    * before. */
  private def centRowsOf(cent: DataFrame): Array[(Long, Array[Double])] =
    cent.select(col("cid").cast("long"),
        col("cv").cast(org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)))
      .collect()
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))

  /** The centroid table as one array<struct<cid, cv>> plan literal. */
  private def centsLiteral(rows: Seq[(Long, Array[Double])]): Column = {
    import org.apache.spark.sql.types._
    val schema = ArrayType(StructType(Seq(
      StructField("cid", LongType), StructField("cv", ArrayType(DoubleType)))))
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        rows.map { case (cid, cv) =>
          org.apache.spark.sql.Row(cid, cv.toSeq) }, schema))
  }

  /** [[assignCells]] over driver-resident centroid rows — the seam the
    * k-means trainer uses so each iteration's assignment is a plain
    * projection over the checkpointed corpus with no per-iteration
    * DataFrame lineage at all. */
  private[datapipe] def assignCellsLocal(
      corpus: DataFrame, cents: Array[(Long, Array[Double])]): DataFrame =
    corpus.select(col("id"), col("v"),
        graft.functions.BestCell(col("v"), centsLiteral(cents.toSeq)).as("b"))
      .filter(col("b").isNotNull)
      .select(col("id"), col("v"), col("b.cid").as("cid"),
        col("b.csim").as("csim"))

  /** IVF-style ANN: corpus vectors are assigned to their nearest centroid
    * via [[assignCells]] (broadcast centroids, two-phase argmax — the
    * inverted-file build); each query scores only the `nProbe` centroid
    * cells nearest to it. Default centroids are a deterministic seed rule
    * (the first `nCentroids` corpus ids) so the DuckDB oracle can reproduce
    * the assignment; pass `centroids` from [[trainCentroids]] for a real
    * k-means cell layout. Similarity values are rounded to 6 before argmax,
    * so the assignment is engine-portable. Output shape matches
    * [[bruteForceTopK]]. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
              vecCol: String, k: Int, nCentroids: Int = 16,
              nProbe: Int = 2, centroids: Option[DataFrame] = None): DataFrame = {
    val cent = broadcast(centroids.getOrElse(corpus
      .filter(col(idCol) < nCentroids)
      .select(col(idCol).as("cid"), col(vecCol).as("cv"))))
    val cells = assignCells(
      corpus.select(col(idCol).as("id"), col(vecCol).as("v")), cent)
    // query side keeps the rank window: nProbe > 1 needs top-n per query
    // and the query set is the small side by contract
    val w0 = Window.partitionBy("query_id")
      .orderBy(col("csim").desc, col("cid").asc)
    val probes = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .join(cent, lit(true))
      .select(col("query_id"), col("qv"), col("cid"),
        round(Dedup.cosine(col("qv"), col("cv")), 6).as("csim"))
      .withColumn("crank", row_number().over(w0))
      .filter(col("crank") <= nProbe)
      .drop("csim", "crank")
    val scored = probes.join(cells, Seq("cid"))
      .filter(col("query_id") =!= col("id"))
      .select(col("query_id"), col("id"),
        round(Dedup.cosine(col("qv"), col("v")), 6).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Bounded SPHERICAL k-means over the embedding corpus — the centroid
    * TRAINING pass that slots into [[ivfTopK]]'s `centroids` seam. The
    * centroids stay on the driver: each iteration assigns with one
    * [[graft.functions.BestCell]] projection over the checkpointed corpus
    * and refits with one two-phase per-dimension mean aggregate (k rows
    * collected). Deterministic seeding (the k smallest ids with a non-null
    * vector); rows with a null vector are dropped. A cell that loses all
    * members keeps its previous centroid, and a dimension none of a cell's
    * members has keeps its previous component (ragged vectors: a shorter
    * vector contributes nothing past its length; 0 where the previous
    * centroid is shorter too). Centroids have the first seed's length.
    * Returns (cid, cv).
    *
    * Two guarantees back the `trained_qe ≤ seed_qe` gate row:
    *  1. members are NORMALIZED before the mean update (spherical
    *     k-means) — cos(v, c) = cos(v/|v|, c), so the assignment is
    *     unchanged, and the mean-of-unit-vectors update is the one that
    *     provably descends the cosine quantization objective (a plain
    *     per-dimension mean over raw vectors is NOT monotone for cosine);
    *  2. the BEST-QE iterate (including the seed layout itself) is
    *     returned, with QE compared by an exact decimal sum of the rounded
    *     csim values — so `QE(returned) ≤ QE(seed)` holds by construction
    *     even against round-to-6 wobble, not merely by descent argument. */
  def trainCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                     k: Int, iters: Int = 5): DataFrame =
    trainCentroidsAudited(corpus, idCol, vecCol, k, iters).centroids

  /** [[trainCentroids]] result plus the QE audit the training loop already
    * paid for: the seed layout's exact-decimal QE sum (iteration 0's
    * assignment) and the returned (best) iterate's QE sum. Callers gating
    * on `trained_qe ≤ seed_qe` read these instead of re-running two full
    * corpus assignment passes — at 100 TB each avoided pass is a complete
    * corpus × centroid-broadcast scan. */
  case class TrainedIndex(centroids: DataFrame,
                          seedQe: java.math.BigDecimal,
                          bestQe: java.math.BigDecimal)

  def trainCentroidsAudited(corpus: DataFrame, idCol: String, vecCol: String,
                            k: Int, iters: Int = 5): TrainedIndex = {
    val spark = corpus.sparkSession
    val data = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
      .filter(col("v").isNotNull)
      .cut()
    // seed: the k smallest ids, numbered 0..k-1. Centroids live DRIVER-SIDE
    // for the whole loop — they are k rows by definition (the old
    // formulation broadcast them every iteration, the identical driver
    // materialization) — so each refit is ONE job (a k-row collect of the
    // two-phase per-dimension mean aggregate) and each assignment is a pure
    // BestCell projection over the checkpointed corpus: no per-iteration
    // cut, no posexplode fan-out exchange of N×dims rows, no
    // window. takeOrdered returns rows already sorted by the orderBy key.
    val seed: Array[Array[Double]] = data.orderBy("id").limit(k)
      .select(col("v").cast(org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType)))
      .collect().map(_.getSeq[Double](0).toArray)
    def cellsOf(c: Array[Array[Double]]): DataFrame =
      assignCellsLocal(data,
        c.zipWithIndex.map { case (cv, i) => (i.toLong, cv) })
    // exact, order-independent QE: csim is already rounded to 6 decimals in
    // assignCells, so the decimal(28,6) sum is lossless and deterministic.
    // The per-iterate QE aggregates are DEFERRED and unioned into ONE
    // collect at the end (each re-projects the checkpointed corpus — a
    // cheap native loop, not a recomputation of any lineage) — the
    // training loop itself pays exactly one job per iteration (the refit).
    def qeAgg(cells: DataFrame, i: Int): DataFrame =
      cells.agg(lit(i).as("i"),
        sum((lit(1.0) - col("csim")).cast("decimal(28,6)")).as("qe"))
    val cents = scala.collection.mutable.ArrayBuffer[Array[Array[Double]]]()
    val qeAggs = scala.collection.mutable.ArrayBuffer[DataFrame]()
    var cur = seed
    val dims = if (cur.nonEmpty) cur(0).length else 0
    (0 until iters).foreach { i =>
      val cells = cellsOf(cur)
      cents += cur
      qeAggs += qeAgg(cells, i) // QE of the CURRENT layout, same assignment
      if (dims > 0) {
        // spherical refit: normalize natively, then ONE two-phase hash
        // aggregate (cid → per-dimension means) collected to k tiny rows;
        // a cell that loses all members keeps its previous centroid, a
        // null mean (no member reaches that dimension) its previous component
        val avgs = (0 until dims).map(d =>
          avg(try_element_at(col("nv"), lit(d + 1))).as(s"m$d"))
        val means = cells
          .select(col("cid"), graft.functions.VecNormalize(col("v")).as("nv"))
          .groupBy("cid").agg(avgs.head, avgs.tail: _*)
          .collect()
          .map { r =>
            val c = r.getLong(0).toInt
            c -> Array.tabulate(dims)(d =>
              if (r.isNullAt(d + 1)) cur(c).lift(d).getOrElse(0.0)
              else r.getDouble(d + 1))
          }.toMap
        cur = Array.tabulate(cur.length)(c => means.getOrElse(c, cur(c)))
      }
    }
    cents += cur
    qeAggs += qeAgg(cellsOf(cur), iters)
    val qes = qeAggs.reduce(_ unionAll _).collect()
      .map(r => (r.getInt(0), r.getDecimal(1))).sortBy(_._1).map(_._2)
    val seedQe = qes.head // iteration 0 IS the seed layout (iters = 0 too)
    // first minimum wins, exactly the old strict-< running comparison
    var bestIdx = 0
    qes.indices.foreach(i =>
      if (qes(i).compareTo(qes(bestIdx)) < 0) bestIdx = i)
    import spark.implicits._
    val bestDf = cents(bestIdx).zipWithIndex
      .map { case (cv, i) => (i.toLong, cv.toSeq) }.toSeq.toDF("cid", "cv")
    TrainedIndex(bestDf, seedQe, qes(bestIdx))
  }

  /** Mean quantization error of a centroid layout: avg(1 − cos(v, nearest
    * centroid)) over the corpus — the objective Lloyd's descends; used by
    * the training test and as the production index-quality probe. */
  def quantizationError(corpus: DataFrame, cent: DataFrame,
                        idCol: String, vecCol: String): Double =
    assignCells(corpus.select(col(idCol).as("id"), col(vecCol).as("v")), cent)
      .agg(avg(lit(1.0) - col("csim")))
      .collect()(0).getDouble(0)

  /** Recall@k of an approximate top-k result against the exact one: per
    * query, |approx ∩ exact| / k. Both inputs are the (query_id, id, …)
    * shape the topK operators emit. This is the self-check a production ANN
    * deployment runs on a sampled query slice — the sample is small, so the
    * join is broadcast-sized even when the index covers the full corpus. */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    val hits = approx.select(col("query_id"), col("id"), lit(1).as("hit"))
    exact.select("query_id", "id")
      .join(hits, Seq("query_id", "id"), "left")
      .groupBy("query_id")
      .agg(round(sum(coalesce(col("hit"), lit(0))).cast("double") / k, 4)
        .as("recall"))
  }
}
