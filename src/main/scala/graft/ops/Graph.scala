package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Graph analytics over an undirected edge list `(id_a, id_b)` — the
  * dup-cluster/link-structure layer of a training-data pipeline: once a
  * near-dup pair generator (MinHash-LSH, SRP-LSH, IVF — see [[Dedup]] /
  * [[Similarity]]) has produced candidate edges, these operators answer
  * "how is the duplicate graph shaped?" (degree profile), "which docs sit
  * in tightly-knit clusters?" (triangles), and "which pairs are probably
  * missing edges?" (common-neighbor link prediction). Connected components
  * live in [[Dedup.duplicateClusters]].
  *
  * Everything is joins/aggregations keyed on node ids — no adjacency
  * matrices, no driver-side graph state, so the operators scale with the
  * edge count. Triangle enumeration uses the degree-ordered orientation
  * (Schank & Wagner 2005; Suri & Vassilvitskii WWW'11 "Counting triangles
  * and the curse of the last reducer"): orient every edge from its
  * lower-(degree, id) endpoint to the higher one, so each wedge is
  * generated at its lowest-ranked vertex. Wedge fan-out per vertex is then
  * bounded by its OUT-degree, which the orientation caps at O(√m) — total
  * work O(m^1.5) instead of Σ deg² (which a hub node turns into the "last
  * reducer" straggler at 100 TB).
  */
object Graph {

  /** Canonical undirected edge list: (id_a < id_b), loops dropped,
    * duplicates merged. Run once at graph build; every operator below
    * ALSO applies it internally — on non-canonical input (reversed or
    * duplicated pairs straight out of a pair generator) degrees would
    * silently double-count and the link-prediction anti join would
    * silently miss existing edges. Canonicalization is idempotent, so
    * pre-canonicalized input pays one extra `distinct` (one shuffle on
    * the edge list) — the price of never emitting silently wrong data. */
  def canonical(edges: DataFrame, aCol: String, bCol: String): DataFrame =
    edges.select(
        least(col(aCol), col(bCol)).as("id_a"),
        greatest(col(aCol), col(bCol)).as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
      .distinct()

  private def canon(edges: DataFrame): DataFrame =
    canonical(edges, "id_a", "id_b")

  /** Per-node degree — one shuffle keyed on node id. */
  def degrees(edges: DataFrame): DataFrame = degreesOf(canon(edges))

  /** Degree over edges already in canonical shape (internal fast path —
    * avoids re-canonicalizing when the caller just did). */
  private def degreesOf(cedges: DataFrame): DataFrame =
    cedges.select(col("id_a").as("node"))
      .unionAll(cedges.select(col("id_b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))

  /** Degree histogram (degree → node count) — the first diagnostic of a
    * duplicate graph: a heavy tail means template/boilerplate clusters. */
  def degreeHistogram(edges: DataFrame): DataFrame =
    degreesOf(canon(edges)).groupBy("degree").agg(count(lit(1)).as("n_nodes"))

  /** All triangles, one row each, vertices id-sorted (`node_a < node_b <
    * node_c`). Degree-ordered wedge enumeration (see class doc): each
    * triangle is generated exactly once, at its lowest-(degree, id)
    * vertex, so no post-dedup of 3! permutations is needed. Three joins,
    * all keyed on node ids. */
  def triangles(rawEdges: DataFrame): DataFrame =
    trianglesOf(canon(rawEdges))

  /** Triangle enumeration over edges already in canonical shape —
    * internal fast path: [[clusteringCoefficients]] and
    * [[triangleCounts]] canonicalize once themselves, and routing them
    * through the public [[triangles]] re-ran the canonical `distinct`
    * (a second full shuffle of the edge list) for nothing (round-16
    * review). */
  private def trianglesOf(edges: DataFrame): DataFrame = {
    val deg = degreesOf(edges)
    val withDeg = edges
      .join(deg.select(col("node").as("id_a"), col("degree").as("deg_a")), "id_a")
      .join(deg.select(col("node").as("id_b"), col("degree").as("deg_b")), "id_b")
    // rank = (degree, id): a total order, compared as a struct. Orient each
    // edge low-rank → high-rank and carry the dst rank for the wedge join.
    val rankA = struct(col("deg_a").as("d"), col("id_a").as("i"))
    val rankB = struct(col("deg_b").as("d"), col("id_b").as("i"))
    val aLower = rankA < rankB
    val oriented = withDeg.select(
      when(aLower, col("id_a")).otherwise(col("id_b")).as("src"),
      when(aLower, col("id_b")).otherwise(col("id_a")).as("dst"),
      when(aLower, rankB).otherwise(rankA).as("dst_rank"))
    val e1 = oriented.select(col("src").as("s1"), col("dst").as("d1"),
      col("dst_rank").as("r1"))
    val e2 = oriented.select(col("src").as("s2"), col("dst").as("d2"),
      col("dst_rank").as("r2"))
    val e3 = oriented.select(col("src").as("s3"), col("dst").as("d3"))
    // wedge (x→y, x→z) with rank(y) < rank(z); close with oriented y→z —
    // which is how {y,z} must be oriented, since rank(y) < rank(z).
    val sorted = e1.join(e2, col("s1") === col("s2") && col("r1") < col("r2"))
      .join(e3, col("d1") === col("s3") && col("d2") === col("d3"))
      .select(array_sort(array(col("s1"), col("d1"), col("d2"))).as("t"))
    sorted.select(
      element_at(col("t"), 1).as("node_a"),
      element_at(col("t"), 2).as("node_b"),
      element_at(col("t"), 3).as("node_c"))
  }

  /** Per-node triangle participation count (nodes in ≥ 1 triangle). */
  def triangleCounts(edges: DataFrame): DataFrame =
    trianglesOf(canon(edges))
      .select(explode(array(col("node_a"), col("node_b"), col("node_c")))
        .as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))

  /** Local clustering coefficient per node: cc(v) = 2·tri(v) /
    * (deg(v)·(deg(v)−1)) for deg(v) ≥ 2 — "how close is v's neighborhood
    * to a clique". In a dedup graph, cc ≈ 1 nodes sit inside
    * fully-connected template clusters (safe to drop all but one); low-cc
    * high-degree nodes are hubs stitching unrelated docs (LSH false
    * positives to re-verify).
    *
    * Reuses the degree-ordered triangle enumeration (O(m^1.5)) and joins
    * its per-node counts back to degrees — nodes in no triangle keep
    * cc = 0. Cross-engine exact: one IEEE double division of exact
    * integers per node, bit-identical on any engine. */
  def clusteringCoefficients(rawEdges: DataFrame): DataFrame = {
    val edges = canon(rawEdges)
    val eligible = degreesOf(edges).filter(col("degree") >= 2)
    eligible
      .join(trianglesOf(edges)
          .select(explode(array(col("node_a"), col("node_b"), col("node_c")))
            .as("node"))
          .groupBy("node").agg(count(lit(1)).as("n_triangles")),
        Seq("node"), "left_outer")
      .select(col("node"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        (lit(2.0) * coalesce(col("n_triangles"), lit(0L)) /
          (col("degree") * (col("degree") - 1))).as("clustering_coeff"))
  }

  /** PageRank over the undirected graph (each undirected edge acts as two
    * directed edges), a fixed number of damped power iterations:
    *
    *   rank_0(v)     = 1/n
    *   rank_{i+1}(v) = (1-d)/n + d · Σ_{u ∈ N(v)} rank_i(u) / deg(u)
    *
    * In a dedup graph this ranks documents by "template centrality" —
    * high-rank nodes sit inside large, densely connected boilerplate
    * clusters and are the first candidates for removal. No dangling-node
    * correction is needed: every node of an edge list has degree ≥ 1.
    *
    * Scale shape: per iteration, ONE join (ranks ⋈ out-edges on the
    * source) and ONE aggregation (contributions keyed by destination) —
    * both shuffles on node ids, nothing driver-side except the node
    * count (one long). Like [[Dedup.connectedComponents]], each round is
    * `localCheckpoint`ed: without truncation the iterated self-join
    * lineage grows a plan that kills the driver long before the data
    * does. The adjacency (with degrees) is persisted once and reused by
    * all rounds.
    *
    * Cross-engine exactness: per-edge contributions rank/deg are IEEE
    * double ops (bit-identical on any engine); the per-node SUM is the
    * only order-dependent step. Two modes:
    *   - `orderedFold = true` (default): contributions are collected per
    *     node, sorted by source id, and reduced by a sequential double
    *     fold — bit-identical to DuckDB's `list_sum(list(... ORDER BY
    *     src))`, the same proven pattern as the cosine fold (dd6/ss1).
    *     Per-node cost ∝ degree (one array per node) — cap hub degrees
    *     upstream, exactly as for [[commonNeighbors]].
    *   - `orderedFold = false`: DECIMAL(38,18) accumulation —
    *     order-independent, no per-node array, the shape to prefer at
    *     100 TB. It is exact arithmetic in Spark, but NOT cross-engine
    *     bit-reproducible: DuckDB's double→decimal cast goes through
    *     `value · 10^scale` in floating point, so its low digits differ
    *     from Spark's exact BigDecimal conversion (measured: 1-ulp drift
    *     on ~1% of fixture ranks after 5 iterations).
    * Both modes agree to summation noise (spec-asserted ≤ 1e-12). */
  def pageRank(
      rawEdges: DataFrame, iterations: Int,
      damping: Double = 0.85, orderedFold: Boolean = true): DataFrame =
    pageRankImpl(rawEdges, iterations, damping, orderedFold, seedPred = None)

  /** Personalized PageRank: the damped walk RESTARTS onto the seed set
    * (uniformly) instead of the whole graph — rank becomes "relevance to
    * the seeds", the query-biased centrality behind related-item
    * retrieval and seed-expansion labeling (find more docs like this
    * audited boilerplate set). Identical iteration machinery and
    * exactness contract as [[pageRank]]; only the restart vector changes
    * (per-node `when(seed)` expression instead of a constant). Rank mass
    * still sums to 1; non-seed nodes unreachable from any seed decay to
    * exactly 0. */
  def personalizedPageRank(
      rawEdges: DataFrame, iterations: Int, seedPred: Column,
      damping: Double = 0.85, orderedFold: Boolean = true): DataFrame =
    pageRankImpl(rawEdges, iterations, damping, orderedFold, Some(seedPred))

  private def pageRankImpl(
      rawEdges: DataFrame, iterations: Int, damping: Double,
      orderedFold: Boolean, seedPred: Option[Column]): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    import org.apache.spark.storage.StorageLevel
    require(iterations >= 0, "iterations must be non-negative")
    val edges = canon(rawEdges)
    val adj = edges.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionAll(edges.select(col("id_b").as("src"), col("id_a").as("dst")))
    // out-degree as a whole-partition window — the groupBy-join-back
    // form re-derived the adjacency union (and its edge canonicalization)
    // for the join's second input; nodes then read from the PERSISTED
    // frame instead of a third derivation
    val outgoing = adj
      .withColumn("deg", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("src"))))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = outgoing.select(col("src").as("node")).distinct()
    // bounded driver scalars: the restart-population size (one long)
    val n = seedPred match {
      case None => nodes.count()
      case Some(p) => nodes.filter(p).count()
    }
    require(n > 0, "personalization seed set matches no node")
    // restart vector: constant 1/n for plain PR, 1/|S| on seeds else 0
    def restart(scale: Double): Column = seedPred match {
      case None => lit(scale / n)
      case Some(p) => when(p, lit(scale / n)).otherwise(lit(0.0))
    }
    var ranks = nodes.withColumn("pagerank", restart(1.0))
      .localCheckpoint(true)
    (1 to iterations).foreach { _ =>
      val contrib = outgoing
        .join(ranks, col("src") === col("node"))
        .select(col("dst"), col("src"),
          (col("pagerank") / col("deg")).as("c"))
      val sums =
        if (orderedFold)
          contrib.groupBy("dst").agg(
            aggregate(
              transform(
                array_sort(collect_list(struct(col("src"), col("c")))),
                x => x.getField("c")),
              lit(0.0), (acc, x) => acc + x).as("s"))
        else
          contrib.groupBy("dst")
            .agg(sum(col("c").cast(DecimalType(38, 18))).cast("double")
              .as("s"))
      ranks = nodes
        .join(sums, col("node") === col("dst"), "left_outer")
        .select(col("node"),
          (restart(1.0 - damping) + lit(damping) *
            coalesce(col("s"), lit(0.0))).as("pagerank"))
        .localCheckpoint(true) // truncate lineage; old blocks GC-reclaimed
    }
    outgoing.unpersist(blocking = false)
    ranks
  }

  /** k-core decomposition slice: the maximal subgraph where every node
    * keeps degree ≥ k — the TEMPLATE-FARM detector on a near-dup graph
    * (one-off matches and pendant chains peel away; what survives the
    * 2-core is densely interlinked duplication the pairwise audits
    * undercount). Classic iterative peel: drop nodes under degree k,
    * recompute degrees on the survivor subgraph, repeat to fixpoint.
    *
    * Scale shape: each round is one keyed degree agg + two semi joins on
    * node ids — edge-list-sized, no adjacency matrix, no driver graph
    * state; `localCheckpoint` truncates per-round lineage (the [[pageRank]]
    * discipline). Rounds needed = the graph's degeneracy ordering depth,
    * small for near-dup graphs; a graph still peeling at `maxRounds`
    * FAILS LOUDLY rather than returning a non-fixpoint subgraph (the
    * [[Dedup.connectedComponents]] rule — silent truncation would
    * undercount the very clusters this exists to find).
    * Output: surviving (node, core_degree) — degree WITHIN the core. */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 20): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    var cur = canon(edges).localCheckpoint(true)
    var prev = -1L
    var n = cur.count()
    var rounds = 0
    while (n != prev && rounds < maxRounds) {
      val keep = degreesOf(cur).filter(col("degree") >= k).select("node")
      cur = cur
        .join(keep.select(col("node").as("id_a")), Seq("id_a"), "left_semi")
        .join(keep.select(col("node").as("id_b")), Seq("id_b"), "left_semi")
        .localCheckpoint(true)
      prev = n
      n = cur.count()
      rounds += 1
    }
    if (n != prev) throw new IllegalStateException(
      s"kCore(k=$k) still peeling after $maxRounds rounds " +
      s"($prev -> $n edges) — raise maxRounds; refusing to return a " +
      "non-fixpoint subgraph")
    degreesOf(cur).select(col("node"), col("degree").as("core_degree"))
  }

  /** Link prediction by common-neighbor count: unconnected pairs sharing
    * ≥ `minCommon` neighbors — in a dedup graph these are the pairs the
    * candidate generator probably MISSED (LSH recall < 1), ranked for
    * re-verification. One self-join of the adjacency list keyed on the
    * shared neighbor, then an anti join against the edge set. Fan-out per
    * shared neighbor is deg², so hub nodes dominate cost — cap them
    * upstream with `maxDegree` (standard practice: a boilerplate doc
    * connected to everything predicts nothing). */
  def commonNeighbors(
      rawEdges: DataFrame, minCommon: Long,
      maxDegree: Long = Long.MaxValue): DataFrame = {
    // canonical shape is load-bearing here: the left_anti below filters
    // predicted pairs against (id_a < id_b) edges, so a reversed input
    // edge would survive the anti join and be reported as a "missing"
    // link that in fact exists
    val edges = canon(rawEdges)
    val adj0 = edges.select(col("id_a").as("node"), col("id_b").as("nbr"))
      .unionAll(edges.select(col("id_b").as("node"), col("id_a").as("nbr")))
    val adj =
      if (maxDegree == Long.MaxValue) adj0
      else adj0.join(
        degreesOf(edges).filter(col("degree") <= maxDegree).select("node")
          .withColumnRenamed("node", "nbr"), "nbr")
    val pairs = adj.select(col("node").as("node_a"), col("nbr"))
      .join(adj.select(col("node").as("node_b"), col("nbr")), "nbr")
      .filter(col("node_a") < col("node_b"))
      .groupBy("node_a", "node_b")
      .agg(count(lit(1)).as("common_neighbors"))
      .filter(col("common_neighbors") >= minCommon)
    pairs.join(edges,
        pairs("node_a") === edges("id_a") && pairs("node_b") === edges("id_b"),
        "left_anti")
  }

  /** Jaccard-coefficient link prediction: [[commonNeighbors]] candidates
    * re-scored by neighborhood overlap, J = common / (deg_a + deg_b −
    * common) — the normalized score that ranks a 3-common-of-6-neighbors
    * pair above a 3-common-of-60 hub pair, which the raw common count
    * cannot. Degrees come from the UNCAPPED graph; if `maxDegree` prunes
    * hub mediators, the common count (and so J) is a lower bound for
    * pairs touching pruned hubs — documented trade, same as gr3.
    * One extra join against the degree table per endpoint; exact-integer
    * IEEE division, bit-identical cross-engine. */
  def jaccardLinkPrediction(
      rawEdges: DataFrame, minCommon: Long,
      maxDegree: Long = Long.MaxValue): DataFrame = {
    val deg = degrees(rawEdges)
    commonNeighbors(rawEdges, minCommon, maxDegree)
      .join(deg.select(col("node").as("node_a"), col("degree").as("deg_a")),
        "node_a")
      .join(deg.select(col("node").as("node_b"), col("degree").as("deg_b")),
        "node_b")
      .select(col("node_a"), col("node_b"), col("common_neighbors"),
        (col("common_neighbors").cast("double") /
          (col("deg_a") + col("deg_b") - col("common_neighbors"))
            .cast("double")).as("jaccard"))
  }

  /** Bipartite co-occurrence projection: from `(group, item)` links (order
    * baskets, doc↔shingle incidence, user↔page visits) to a weighted
    * item-item graph where `weight` = number of distinct groups containing
    * both items. This is the market-basket / co-citation construction —
    * the standard way to mint an item graph (then fed to the operators
    * above) out of transactional data.
    *
    * Scale shape: pair generation fans out C(basket, 2) rows per group, so
    * one degenerate group (a crawler session touching every page, an order
    * with 10⁵ lines) costs |basket|² alone — `maxBasket` drops such groups
    * BEFORE the self-join, the same mediator-capping move as
    * [[commonNeighbors]]'s `maxDegree`. With baskets capped at B, total
    * work is ≤ |groups|·B², every shuffle is keyed (group id, then item
    * pair), and nothing is ever all-pairs across groups. `minWeight`
    * prunes the long singleton tail before it is ever materialized
    * downstream (HAVING runs map-side partial-agg first). */
  def bipartiteProjection(
      links: DataFrame, groupCol: String, itemCol: String,
      maxBasket: Long = Long.MaxValue, minWeight: Long = 1L): DataFrame = {
    val base = links
      .select(col(groupCol).as("_g"), col(itemCol).as("_item")).distinct()
    val bounded =
      if (maxBasket == Long.MaxValue) base
      else {
        val small = base.groupBy("_g")
          .agg(count(lit(1)).as("_bsz"))
          .filter(col("_bsz") <= maxBasket)
          .select("_g")
        base.join(small, "_g")
      }
    val a = bounded.select(col("_g"), col("_item").as("item_a"))
    val b = bounded.select(col("_g").as("_g2"), col("_item").as("item_b"))
    a.join(b, col("_g") === col("_g2") && col("item_a") < col("item_b"))
      .groupBy("item_a", "item_b")
      .agg(count(lit(1)).as("weight"))
      .filter(col("weight") >= minWeight)
  }

  /** Community detection by synchronous label propagation (Raghavan et
    * al. 2007): every node starts as its own community, then for a fixed
    * number of rounds simultaneously adopts the most frequent label among
    * its neighbors (ties to the smallest label — the determinism rule
    * that makes async LPA's run-to-run noise disappear). On a near-dup
    * graph this splits what connected components would merge: CC calls
    * two template families bridged by one chance edge a single cluster;
    * LPA keeps them apart because each side's majority wins locally.
    *
    * Scale shape: per round one join shuffled on the neighbor key, one
    * (node, label) count, one per-node argmax — all keyed, state = one
    * label per node, `localCheckpoint` truncates per-round lineage like
    * [[pageRank]]. Fixed rounds + total tie order → deterministic →
    * oracle hash-exact (the oracle replays the same rounds as staged
    * CTEs). */
  def labelPropagation(rawEdges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    import org.apache.spark.storage.StorageLevel
    val edges = canon(rawEdges)
    val adj = edges.select(col("id_a").as("node"), col("id_b").as("nbr"))
      .unionAll(edges.select(col("id_b").as("node"), col("id_a").as("nbr")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels = adj.select(col("node")).distinct()
      .withColumn("lbl", col("node"))
      .localCheckpoint(true)
    (1 to rounds).foreach { _ =>
      labels = adj
        .join(labels.select(col("node").as("nbr"), col("lbl")), "nbr")
        .groupBy(col("node"), col("lbl")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("node"))
        // min over (−count, label): highest count, then smallest label
        .agg(min(struct((-col("cnt")).as("_nc"), col("lbl").as("lbl")))
          .as("_m"))
        .select(col("node"), col("_m.lbl").as("lbl"))
        .localCheckpoint(true)
    }
    adj.unpersist()
    labels.select(col("node"), col("lbl").as("community"))
  }

  /** k-hop reachability: per node, the number of DISTINCT nodes reachable
    * in at most `k` undirected hops (self excluded) — the "blast radius"
    * of a near-dup cluster: a doc whose 3-hop neighborhood spans half the
    * corpus sits in template sludge; a doc reaching 2 nodes is an isolated
    * pair. Classic distributed BFS by frontier expansion: each round joins
    * the CURRENT frontier (not the whole reach set) against the adjacency
    * list, anti-joins out pairs already reached, and unions the survivors
    * in. Per round that is one join shuffle keyed on the mid node, one
    * `distinct`, and one anti join — state never exceeds the true
    * reachable-pair set (the output size), and the frontier-only join is
    * what keeps round r from redoing rounds 1..r−1's work on a 100 TB
    * edge list. `localCheckpoint` truncates the per-round lineage the same
    * way [[pageRank]] and `Dedup.duplicateClusters` do. Deterministic
    * (pure set algebra on longs) → oracle hash-exact. */
  def kHopCounts(rawEdges: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val edges = canon(rawEdges)
    // pin the adjacency: every expansion round's eager localCheckpoint
    // is its own job, so exchange reuse cannot share it across rounds,
    // and without the pin the canonical `distinct` shuffle re-ran k+1
    // times over the full edge list (gr7 measured 1.86/1.90 s pinned vs
    // 2.24/2.31 s unpinned). It is pinned rather than unpersisted
    // after the loop because the returned frame still reads it at the
    // CALLER's action time (the pageRank-style unpersist-after-loop only
    // works when the result was eagerly checkpointed).
    val adj = Pipeline.pin(
      edges.select(col("id_a").as("node"), col("id_b").as("nbr"))
        .unionAll(edges.select(col("id_b").as("node"), col("id_a").as("nbr"))))
    var reach = adj
    var frontier = adj
    (2 to k).foreach { _ =>
      val expanded = frontier.select(col("node"), col("nbr").as("mid"))
        .join(adj.select(col("node").as("mid"), col("nbr")), "mid")
        .select(col("node"), col("nbr"))
        .filter(col("node") =!= col("nbr"))
        .distinct()
      frontier = expanded.join(reach, Seq("node", "nbr"), "left_anti")
        .localCheckpoint(true)
      reach = reach.unionAll(frontier)
    }
    reach.groupBy("node").agg(count(lit(1)).as("n_reachable"))
  }
}
