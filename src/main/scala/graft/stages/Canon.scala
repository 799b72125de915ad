package graft.stages

import graft.core.Materialize._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Stage 4 — entity canonicalization: alias edges → connected components.
  *
  * The reference merges entities through two mechanisms:
  *  1. alias predicates 别名/俗称/别称/又名 (ReligionGraph.kt:10, 24–29);
  *  2. the driver-side id cache that reuses an existing node whenever a
  *     CACHED name `contains` the new name and the cached labels ⊇ the query
  *     labels (Neo4jIdCache.kt:8–15) — order-dependent first-match.
  *
  * First-match insertion order is nondeterministic under parallelism, so the
  * rebuild defines the deterministic closure (SURVEY.md §7.4): build an
  * undirected alias graph from (1) alias-pred pairs and (2) containment pairs
  * {a, b : a ≠ b, a contains b, |b| ≥ 2, labels(b) ⊆ labels(a)}, then take
  * canonical(x) = lexicographically-smallest name in x's component. The P/R
  * gate (≥0.95) absorbs the divergence from the reference's order-dependent
  * behavior; the oracle implements this same deterministic rule.
  */
object Canon {

  /** Unified target-label rule — the union of the three crawl pipelines'
    * rules (GovernmentGraph.kt:7–10, CompanyGraph.kt:9–13,
    * ReligionGraph.kt:21–32): label(s) assigned to a triple's object. */
  def targetLabelExpr(pred: Column, subjIsReligion: Column): Column =
    when(pred.isin("机场", "火车站"), lit("交通设施"))
      .when(pred.isin("创办人", "创始人"), lit("经济人物"))
      .when(pred.isin("开发商", "发行商", "主办单位", "开发公司"), lit("公司"))
      .when(pred.isin("教派", "学派", "所属宗教", "隶属"), lit("宗教"))
      .when(pred === "主要人物", lit("宗教人物"))
      .when(pred.isin("别名", "俗称", "别称", "又名"),
        when(subjIsReligion, lit("宗教")).otherwise(lit("人物")))
      .otherwise(pred)

  /** Same rule for the single-threaded oracle. */
  def targetLabel(pred: String, subjIsReligion: Boolean): String = pred match {
    case "机场" | "火车站" => "交通设施"
    case "创办人" | "创始人" => "经济人物"
    case "开发商" | "发行商" | "主办单位" | "开发公司" => "公司"
    case "教派" | "学派" | "所属宗教" | "隶属" => "宗教"
    case "主要人物" => "宗教人物"
    case "别名" | "俗称" | "别称" | "又名" => if (subjIsReligion) "宗教" else "人物"
    case p => p
  }

  /** name → sorted label set, from CATEGORY_ZH triples (subjects,
    * AbstractSubjectGraph.kt:19) + target-label rule (objects). The rule
    * defaults to the engine's union-of-pipelines expression; a
    * single-pipeline replay (CrawlMain) passes its own
    * `Rules.PipelineRules.labelCol`. */
  def nodeLabels(kbTriples: DataFrame, categoryPred: String,
                 labelRule: (Column, Column) => Column = targetLabelExpr)
      : DataFrame = {
    val cat = kbTriples.filter(col("pred") === categoryPred)
      .select(col("subj").as("name"), col("obj").as("label"))
    val religious = cat.filter(col("label") === "宗教")
      .select(col("name").as("subj"), lit(true).as("subj_rel")).distinct()
    val objLabels = kbTriples
      .join(broadcast(religious), Seq("subj"), "left")
      .select(col("obj").as("name"),
        labelRule(col("pred"), coalesce(col("subj_rel"), lit(false))).as("label"))
    cat.unionByName(objLabels)
      .groupBy("name").agg(sort_array(collect_set(col("label"))).as("labels"))
  }

  /** Containment-alias candidate pairs via bigram blocking: if container `a`
    * contains `b`, then b's first bigram is one of a's bigrams — so the
    * quadratic theta-join becomes an equi-join on a bigram key (SURVEY.md
    * §4.2.3). Fan-out is O(len(name)) per name, independent of corpus size. */
  def containmentEdges(named: DataFrame): DataFrame = {
    val bigrams = transform(
      sequence(lit(1), length(col("name")) - 1),
      i => col("name").substr(i, lit(2)))
    val containers = named
      .filter(length(col("name")) >= 2)
      .select(col("name").as("a"), col("labels").as("a_labels"),
        explode(array_distinct(bigrams)).as("bigram"))
    val contained = named
      .filter(length(col("name")) >= 2)
      .select(col("name").as("b"), col("labels").as("b_labels"),
        substring(col("name"), 1, 2).as("bigram"))
    containers.join(contained, Seq("bigram"))
      .filter(col("a") =!= col("b") &&
        col("a").contains(col("b")) &&
        forall(col("b_labels"), l => array_contains(col("a_labels"), l)))
      .select(col("a"), col("b"))
      .distinct()
  }

  /** Last [[ccLogRounds]] round count — a test/diagnostic seam (0 after the
    * driver fast path). */
  @volatile private[graft] var lastCcRounds: Int = 0

  /** Driver union-find over a symmetric edge frame when it fits under
    * `threshold` — ONE bounded collect job ([[Bounded.collect]]) instead of
    * O(rounds) shuffle rounds; [[ccLogRounds]]' fast path. */
  private def driverCc(sym: DataFrame, threshold: Long): Option[DataFrame] = {
    val spark = sym.sparkSession
    import spark.implicits._
    Bounded.collect(sym.as[(String, String)], threshold).map { pairs =>
      val uf = new MinRootUnionFind
      pairs.foreach { case (a, b) => uf.union(a, b) }
      // sym is symmetric → every node occurs as src
      val nodes = pairs.iterator.map(_._1).toSet
      lastCcRounds = 0
      nodes.iterator.map(n => (n, uf.find(n))).toSeq.toDF("name", "comp")
    }
  }

  /** Spark's string order: UTF-8 bytes, as `least`, `min` and `sort_array`
    * compare. Java's `String.compareTo` compares UTF-16 units and disagrees
    * with it between a supplementary character (a surrogate pair) and a
    * BMP character above U+DFFF, e.g. `𠮷` and `（`. Every driver image of
    * a dataflow ordering uses this one. */
  private[graft] val sparkStringOrder: Ordering[String] =
    (a, b) => UTF8String.fromString(a).compareTo(UTF8String.fromString(b))

  /** Driver union-find over names: path-compressing `find`, and `union`
    * roots each set at its minimum name in [[sparkStringOrder]] — the
    * component label the dataflow kernels propagate. */
  private[graft] final class MinRootUnionFind {
    private val parent = mutable.HashMap[String, String]()
    def find(x: String): String = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    def union(a: String, b: String): Unit = {
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (sparkStringOrder.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
    }
  }

  /** Connected components in O(log n) shuffle rounds — the alternating
    * large-star/small-star kernel (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", 2014). Min-label propagation pays one full
    * shuffle round PER HOP of component diameter; the
    * corpus-scale dedup pair graph (Dedup.dedupClusters) carries near-dup
    * CHAINS from template drift whose diameter, at 100 TB, would make hop
    * count the wall-clock. Star rounds instead halve the tree height each
    * alternation, independent of diameter.
    *
    * Each round: large-star hangs every neighbor v > u of each center u
    * onto m = min(N(u) ∪ {u}); small-star then hangs the smaller neighbors
    * (and u itself) onto the local min. Both are ordinary two-phase min
    * aggregates + equi-joins — hub centers are absorbed by map-side partial
    * aggregation and the AQE skew join, no explicit salting needed.
    * Convergence = the oriented edge set reaches its fixed point (stars
    * pointing at component minima), detected by a (count, hash-sum)
    * signature; lineage is truncated every round (the round count is
    * logarithmic, so checkpoint cost is bounded).
    *
    * Same contract as min-label propagation (CcHygieneSpec pins it to that
    * reference kernel on randomized graphs): undirected (src, dst) edges in, (name,
    * comp = lexicographically-smallest reachable name) out, nodes with no
    * edges absent. */
  def ccLogRounds(edges: DataFrame, driverThreshold: Long = 0L,
                  maxRounds: Int = 64): DataFrame = {
    val e0 = edges.toDF("src", "dst").filter(col("src") =!= col("dst"))

    if (driverThreshold > 0) {
      // lazy sym — the probe-only path: driverCc's limit-folded collect is
      // its single materialization (no checkpoint: on bail the iterative
      // kernel below re-derives its own oriented set from e0)
      val sym = e0
        .union(e0.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
      val fast = driverCc(sym, driverThreshold)
      if (fast.isDefined) return fast.get
    }

    def sig(e: DataFrame): (Long, Long) = {
      // bit_xor, not sum: order-independent, collision-safe enough next to
      // the count, and cannot overflow under ANSI arithmetic
      val r = e.agg(count(lit(1)),
        coalesce(bit_xor(xxhash64(col("src"), col("dst"))), lit(0L))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }

    // canonical orientation: src > dst (small-star's input contract, and a
    // stable representation for the convergence signature)
    var e = e0.select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .distinct().cut()
    var prev = e
    var prevSig = sig(e)
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      // large-star: m(u) = min over N(u) ∪ {u}; emit (v, m) for v > u.
      // Each undirected edge is emitted exactly once — from its smaller
      // endpoint's center (the larger endpoint sees a smaller neighbor).
      val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      val lmins = sym.groupBy("src")
        .agg(min(col("dst")).as("mn"))
        .select(col("src"), least(col("mn"), col("src")).as("m"))
      val ls = sym.join(lmins, "src")
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .distinct() // m ≤ u < v ⇒ already src > dst oriented, no self loops
      // small-star on the (src > dst)-oriented set: m(u) = min(N_small(u));
      // emit (v, m) for v ∈ N_small(u) \ {m}, plus (u, m)
      val smins = ls.groupBy("src").agg(min(col("dst")).as("m"))
      val ss = ls.join(smins, "src")
        .filter(col("dst") =!= col("m"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .union(smins.select(col("src"), col("m").as("dst")))
        .distinct()
      e = ss.cut()
      val s = sig(e)
      rounds += 1
      if (s == prevSig) {
        // the signature is a (count, xor-hash) fingerprint — a collision
        // (or an xor-cancelling edge swap at equal count) would otherwise
        // terminate early and SILENTLY emit a non-star, wrong component
        // map. Confirm the one candidate round with a real set equality:
        // counts already match (part of the signature), so one-directional
        // except-emptiness proves the sets equal. Runs at most once per
        // true convergence plus once per (astronomically rare) collision.
        if (e.except(prev).isEmpty) converged = true
      } else prevSig = s
      prev = e
    }
    if (!converged)
      throw new IllegalStateException(
        s"ccLogRounds did not converge in $maxRounds star rounds")
    lastCcRounds = rounds
    // fixed point: every edge is (node, component-min); roots map to themselves
    e.select(col("src").as("name"), col("dst").as("comp"))
      .unionByName(e.select(col("dst").as("name"), col("dst").as("comp")).distinct())
  }

  /** name → label set of (subj, pred, obj) KB rows under the union rule:
    * the one driver image of [[nodeLabels]] (null labels dropped, as
    * `collect_set` drops them). [[canonicalMapLocal]], [[vertexLabels]] and
    * the reference oracle build their labels here. */
  private[graft] def labelSets(rows: Iterable[(String, String, String)],
                               categoryPred: String): mutable.Map[String, mutable.Set[String]] = {
    val labelMap = mutable.HashMap[String, mutable.Set[String]]()
    def addLabel(n: String, l: String): Unit = {
      val ls = labelMap.getOrElseUpdate(n, mutable.HashSet[String]())
      if (l != null) ls += l
    }
    val religious = rows.collect {
      case (s, p, o) if p == categoryPred && o == "宗教" => s }.toSet
    rows.foreach { case (s, p, o) =>
      if (p == categoryPred) addLabel(s, o)
      addLabel(o, targetLabel(p, religious.contains(s)))
    }
    labelMap
  }

  /** The driver image of the canonical-map dataflow over an already-local
    * KB triple set — labels, containment+alias union-find, non-identity
    * pairs: [[canonicalMap]]'s fast path. Returns None when the name set
    * exceeds the quadratic containment loop's sane bound (the caller falls
    * back to the bigram-blocked dataflow). Semantics identical to the
    * dataflow path — parity-tested in KgParitySpec. */
  private def canonicalMapLocal(
      rows: Iterable[(String, String, String)], categoryPred: String,
      aliasPreds: Set[String]): Option[Seq[(String, String)]] = {
    val labelMap = labelSets(rows, categoryPred)
    val names = labelMap.keySet.toVector
    // the quadratic containment loop is only sane for small name sets;
    // larger dictionaries use the bigram-blocked dataflow
    if (names.size > 20000) return None
    val uf = new MinRootUnionFind
    for (a <- names; b <- names)
      if (a != b && b.length >= 2 && a.contains(b) &&
        labelMap(b).subsetOf(labelMap(a))) uf.union(a, b)
    rows.foreach { case (s, p, o) => if (aliasPreds.contains(p)) uf.union(s, o) }
    Some(names.map(n => (n, uf.find(n))).filter(x => x._1 != x._2))
  }

  /** The (subj, pred, obj) rows of a KB triple frame on the driver, when
    * there are at most `bound` (one [[Bounded.collect]] job); None over it,
    * and with `bound` 0 (no job). The input of the KB fast paths of
    * [[canonicalMap]] and [[vertexLabels]]: a caller that runs both makes
    * this collect once and hands its result to each. */
  def kbRows(kbTriples: DataFrame, bound: Long): Option[Array[(String, String, String)]] =
    if (bound <= 0) None else {
      val spark = kbTriples.sparkSession
      import spark.implicits._
      Bounded.collect(kbTriples.select("subj", "pred", "obj").as[(String, String, String)], bound)
    }

  /** Full canonical map for a KB triple set: name → canonical name (only
    * names whose canonical differs are returned — the join side stays small).
    * @param collectedKb `Some(kbRows(kbTriples, ccDriverThreshold))` when
    *   the caller already made that collect; None: the fast path makes it */
  def canonicalMap(kbTriples: DataFrame, categoryPred: String,
                   aliasPreds: Set[String],
                   ccDriverThreshold: Long = 0L,
                   precomputedLabels: Option[DataFrame] = None,
                   collectedKb: Option[Option[Array[(String, String, String)]]] = None)
      : DataFrame = {
    // fast path: the whole alias graph derives from the KB triples, which
    // are dictionary-bounded — when they fit the driver, one collect
    // replaces the label/blocking/CC dataflow (which remains the unbounded
    // path and is parity-tested against this one in KgParitySpec)
    // the fast path recomputes labels from kbTriples under the union rule,
    // so it is OFF when the caller supplies its own label frame (a
    // single-pipeline rule, or any frame that diverges from the
    // recomputation)
    if (ccDriverThreshold > 0 && precomputedLabels.isEmpty) {
      val spark = kbTriples.sparkSession
      import spark.implicits._
      collectedKb.getOrElse(kbRows(kbTriples, ccDriverThreshold))
        .flatMap(canonicalMapLocal(_, categoryPred, aliasPreds)) match {
          case Some(cm) => return cm.toDF("name", "comp")
          case None => () // over the bound, or a name set too large for the quadratic loop
        }
    }

    val labels = precomputedLabels.getOrElse(nodeLabels(kbTriples, categoryPred))
    val aliasEdges = kbTriples
      .filter(col("pred").isin(aliasPreds.toSeq: _*))
      .select(col("subj").as("a"), col("obj").as("b"))
    val edges = containmentEdges(labels).unionByName(aliasEdges).distinct()
    // log-rounds star kernel: the alias graph is usually shallow, but its
    // containment chains (nested names) give it diameter too, and the star
    // kernel costs no more on shallow graphs (2–3 rounds)
    ccLogRounds(edges, driverThreshold = ccDriverThreshold)
      .filter(col("comp") =!= col("name"))
  }

  /** Rewrite subj/obj through the canonical map (left joins — names outside
    * the map, e.g. the prefixed weibo ids, pass through untouched). */
  def canonicalize(triples: DataFrame, canonMap: DataFrame): DataFrame = {
    val m = broadcast(canonMap)
    triples
      .join(m.withColumnRenamed("name", "subj").withColumnRenamed("comp", "subj_c"),
        Seq("subj"), "left")
      .join(m.withColumnRenamed("name", "obj").withColumnRenamed("comp", "obj_c"),
        Seq("obj"), "left")
      .select(
        coalesce(col("subj_c"), col("subj")).as("subj"),
        col("pred"),
        coalesce(col("obj_c"), col("obj")).as("obj"),
        col("doc_id"), col("span_offset"))
  }

  /** Vertex labels of a canonicalized KB: [[nodeLabels]] of
    * `canonicalize(kbTriples(kb), canonMap)` under the union rule, same
    * rows and schema. Within `driverThreshold` it is built on the driver:
    * the KB rows ([[kbRows]]) and `canonMap` are each collected under the
    * bound, the rows are rewritten through the map, labelled by
    * [[labelSets]], and returned as a `LocalRelation` whose label arrays
    * are distinct and sorted in [[sparkStringOrder]]. The labels are
    * bounded by the dictionary, so this replaces three KB scans, their
    * broadcasts and aggregate exchanges with two small collects (none when
    * `kb` and `canonMap` are already local). Over the bound, or with
    * `driverThreshold` 0, it is that dataflow. A single-pipeline replay
    * with its own label rule calls [[nodeLabels]] with it instead.
    * @param collectedKb as in [[canonicalMap]]: `Some(kbRows(kb,
    *   driverThreshold))` when the caller already made that collect */
  def vertexLabels(kb: DataFrame, canonMap: DataFrame, categoryPred: String,
                   driverThreshold: Long,
                   collectedKb: Option[Option[Array[(String, String, String)]]] = None)
      : DataFrame = {
    val spark = kb.sparkSession
    import spark.implicits._
    val local = for {
      rows <- if (driverThreshold > 0)
        collectedKb.getOrElse(kbRows(kb, driverThreshold)) else None
      cm <- Bounded.collect(canonMap.select("name", "comp").as[(String, String)],
        driverThreshold)
    } yield {
      val comp = cm.toMap
      def canon(x: String) = comp.getOrElse(x, x)
      val labels = labelSets(
        rows.map { case (s, p, o) => (canon(s), p, canon(o)) }, categoryPred)
      val schema = StructType(Seq(
        StructField("name", StringType,
          kb.schema("subj").nullable || kb.schema("obj").nullable),
        StructField("labels", ArrayType(StringType, containsNull = false),
          nullable = false)))
      spark.createDataFrame(labels.iterator.map { case (name, ls) =>
        Row(name, ls.toVector.sorted(sparkStringOrder))
      }.toSeq.asJava, schema)
    }
    local.getOrElse(
      nodeLabels(canonicalize(graft.KgPipeline.kbTriples(kb), canonMap), categoryPred))
  }
}
