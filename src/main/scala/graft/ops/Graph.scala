package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Iterative graph analytics over DataFrame edge lists — PageRank in
  * FIXED-POINT integer arithmetic so the result is deterministic,
  * partition-order independent, and cross-engine hash-exact (a float
  * PageRank's per-node contribution sums depend on reduction order;
  * int64 sums do not).
  *
  * Scale shape (the star-contraction discipline applied to power
  * iteration): each iteration is ONE equi-join of the edge list with
  * the rank table plus one map-side-partial keyed sum — no windows,
  * no driver-side graph state; every iteration is one round of
  * [[Caching.iterate]] (a [[Caching.cut]] per round, constant-depth
  * plans over any iteration count, previous round released).
  *
  * Fixed-point arithmetic: ranks carry `Scale` units per 1.0 of mass.
  * contribution(u→v) = rank(u) div outdeg(u); rank'(v) =
  * (15·Scale) div 100 + (85·Σ contributions) div 100 — every op an
  * exact int64 operation (Spark `div` ≡ DuckDB `//` on nonnegative
  * values). Headroom: the total mass stays ≤ N·Scale (integer floors
  * only leak mass downward), so `85·Σ` fits int64 for graphs up to
  * ~10⁸ nodes at the default Scale — and the scale is a PARAMETER
  * with the bound enforced at runtime against the real node count
  * (scale=10⁷ covers the 10¹⁰-node web-graph regime at 10⁻⁷ rank
  * resolution).
  */
object Graph {

  /** Default 10⁻⁹ rank resolution; see the headroom note above. */
  val Scale = 1000000000L

  /** Symmetric co-purchase edge list over lineitem: parts that appear
    * in the same order, both directions, deduplicated. The pair
    * explosion is per-order (bounded by basket size — never a global
    * cross join), the same shape as
    * [[graft.ops.Relational.coOccurrence]].
    */
  def coPurchaseEdges(lineitem: DataFrame): DataFrame = {
    val li = lineitem.select(col("l_orderkey"), col("l_partkey")).distinct()
    val und = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
      .distinct()
    und.unionByName(und.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** Fixed-point PageRank over a directed edge list (src, dst) with no
    * dangling nodes (every src must have outdeg ≥ 1 — symmetric edge
    * lists like [[coPurchaseEdges]] satisfy this by construction).
    * Returns (node, outdeg, rank_fp, pagerank) for every node with at
    * least one outgoing edge; `pagerank = rank_fp / scale` is the
    * conventional damped rank with r₀ = 1.
    *
    * `scale` trades rank resolution for node-count headroom: the total
    * mass stays ≤ N·scale (integer floors only leak mass downward), so
    * `85·Σ contributions` fits int64 iff N ≤ Long.MaxValue/(85·scale)
    * — ~10⁸ nodes at the default 10⁻⁹ resolution, ~10¹⁰ at scale=10⁷.
    * The bound is ENFORCED against the actual node count (computed on
    * the pass that builds the degree table, so the guard is free), not
    * documented-and-hoped.
    */
  def pageRank(edges: DataFrame, iterations: Int = 10,
      scale: Long = Scale): DataFrame =
    pageRankImpl(edges, iterations, scale, seeds = None)

  /** Personalized PageRank: teleport mass lands ONLY on the seed set
    * (r₀(v) = scale·[v∈S]; rank'(v) = [v∈S]·(15·scale div 100) +
    * (85·Σ contributions) div 100) — the graph-side "select data near
    * a target" primitive (seed = a trusted/topical node set, rank =
    * proximity). Same fixed-point discipline and int64 headroom bound
    * as [[pageRank]] (PPR mass ≤ |S|·scale ≤ N·scale). `seeds` is a
    * one-column (node) table, broadcast onto the degree table — the
    * per-iteration plan shape is identical to the uniform variant.
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
      iterations: Int = 10, scale: Long = Scale): DataFrame =
    pageRankImpl(edges, iterations, scale, Some(_ => seeds))

  /** `seeds`: a function from the node table (one `node` column, the
    * distinct src set, served from the already-cached edge list) to
    * the seed set — lets a caller pick seeds from the graph itself
    * without a second materialization of the edge list; the public
    * [[personalizedPageRank]] wraps an explicit seed table as a
    * constant function.
    */
  private def pageRankImpl(edges: DataFrame, iterations: Int, scale: Long,
      seeds: Option[DataFrame => DataFrame]): DataFrame = {
    require(iterations >= 1, s"need at least one iteration, got $iterations")
    require(scale >= 1L, s"scale must be positive, got $scale")
    // partition the STATIC sides once, on their join keys: the cached
    // InMemoryRelation advertises its hashpartitioning, so every
    // iteration's edge⋈rank join exchanges ONLY the iteration-fresh
    // rank table, and the deg join runs exchange-free on both sides
    // (contribs arrive hash-partitioned by node from their own agg) —
    // at scale this halves the per-iteration shuffle volume, and the
    // edge list (the big side) never re-shuffles after iteration 0
    // (r16, tried and REVERTED: sortWithinPartitions on both static
    // caches so the per-iteration sort-merge joins skip re-sorting the
    // static side. Measured LOSS at the bench SF — every bench run
    // rebuilds the caches, so the one-time edge sort is paid per run
    // while the skipped sorts are over the tiny degree table, and the
    // executed plans showed the edge⋈rank join served as a broadcast
    // of the rank table with NO edge exchange or sort anyway:
    // q_pagerank 10.8→11.4 s, ppr 9.1→10.7 s back-to-back.)
    val e = edges.select(col("src"), col("dst"))
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val degsBase = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      .select(col("src").as("node"), col("outdeg"))
    // seed flag rides the degree table via a broadcast join (seed sets
    // are small by construction); is_seed ∈ {0,1} makes both the r₀
    // mass and the per-iteration teleport term one multiply — the
    // uniform variant is the constant-1 case of the same plan
    val degs = seeds.fold(degsBase.withColumn("is_seed", lit(1L))) { pick =>
      val s = pick(degsBase.select(col("node")))
      degsBase.join(
          broadcast(s.select(col("node"), lit(1L).as("__seed"))),
          Seq("node"), "left")
        .select(col("node"), col("outdeg"),
          coalesce(col("__seed"), lit(0L)).as("is_seed"))
    }
      .repartition(col("node"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nNodes = degs.count()
    val maxNodes = Long.MaxValue / 85L / scale
    require(nNodes <= maxNodes,
      s"int64 fixed-point headroom exceeded: $nNodes nodes at scale=" +
        s"$scale (85·N·scale must fit int64; max $maxNodes nodes). " +
        "Pass a smaller `scale` — e.g. 10_000_000 covers ~10^10 nodes " +
        "at 10^-7 rank resolution.")
    val baseFp = 15L * scale / 100L
    // one cut per round (r16 A/B, min-of-5, local[32], sf0.1: a cut
    // every round beat composing 2 or 5 rounds into one job — q_pagerank
    // 9.12 vs 11.02 vs 10.97 s; AQE re-planning and stage barriers of
    // the deep plan cost more than the tiny rank table's write+read)
    val init = degs.select(col("node"), col("outdeg"), col("is_seed"),
      (lit(scale) * col("is_seed")).as("rank_fp"))
    val (ranks, _) = Caching.iterate("pageRank", init, iterations, cutInit = false) { r =>
      val contribs = e
        .join(r.select(col("node").as("src"), col("outdeg"), col("rank_fp")),
          Seq("src"))
        .select(col("dst").as("node"), expr("rank_fp div outdeg").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("s"))
      Some(degs.join(contribs, Seq("node"), "left")
        .select(col("node"), col("outdeg"), col("is_seed"),
          (lit(baseFp) * col("is_seed") +
            expr(s"(85 * coalesce(s, 0L)) div 100")).as("rank_fp")))
    }
    // the cached result reads the last round's cut: set a checkpoint
    // dir and the result recomputes ([[Caching.cut]])
    val out = ranks.select(col("node"), col("outdeg"), col("rank_fp"),
      (col("rank_fp").cast("double") / lit(scale.toDouble)).as("pagerank"))
    Caching.materialized(out) {
      e.unpersist(false); degs.unpersist(false); Caching.releaseCheckpoint(ranks)
    }
  }

  /** Driver row: PageRank over the co-purchase graph, top `k` parts by
    * rank (rank_fp desc, node asc) — "most central products". One
    * distributed TakeOrdered; ranks are integers, so the ordering and
    * the surfaced doubles are hash-exact.
    */
  def pageRankQuery(lineitem: DataFrame, iterations: Int = 10,
      k: Int = 50): DataFrame =
    pageRank(coPurchaseEdges(lineitem), iterations)
      .orderBy(col("rank_fp").desc, col("node")).limit(k)

  /** Driver row: PERSONALIZED PageRank over the co-purchase graph,
    * seeded on the `nSeeds` smallest part keys present in the graph
    * (a deterministic, oracle-expressible stand-in for "the trusted /
    * topical set"), top `k` by proximity. Nodes the seeds can't reach
    * in `iterations` hops hold rank 0 and are excluded (rank ties at 0
    * would otherwise make the top-k cutoff unstable).
    */
  def personalizedPageRankQuery(lineitem: DataFrame, iterations: Int = 10,
      nSeeds: Int = 20, k: Int = 50): DataFrame = {
    // seeds = the nSeeds smallest nodes of the graph. Picked INSIDE
    // pageRankImpl from its node table (distinct src ≡ the node set,
    // read off the impl's own cached edge list) — a query-level
    // edges.persist + count previously materialized the lineitem pair
    // explosion a second time just to feed the seed pick (measured
    // ~2.5 s of the row); the impl's cache is the only pass now.
    pageRankImpl(coPurchaseEdges(lineitem), iterations, Scale,
        Some(_.orderBy(col("node")).limit(nSeeds)))
      .filter(col("rank_fp") > 0)
      .orderBy(col("rank_fp").desc, col("node")).limit(k)
  }

  /** Connected components over a host-level link graph — mirror
    * networks and site families (hosts that interlink form one
    * cluster; the canonical representative is the min host, the label
    * a curator dedups or quota-groups by). Reuses the large-star/
    * small-star contraction ([[graft.dedup.Dedup.clustersFromPairs]]
    * — label-type agnostic, per-round lineage cuts, map-side min
    * aggregation, never a window), so the dedup-scale evidence (1M-
    * node smoke) carries over. Eager: the result is the one cache
    * scope, and the caller unpersists it.
    */
  def hostClusters(edges: DataFrame, maxIters: Int = 30): DataFrame = {
    val nodes = edges.select(col("src_host").as("doc_id"))
      .union(edges.select(col("dst_host").as("doc_id"))).distinct()
    graft.dedup.Dedup.labelComponents(nodes,
      edges.select(col("src_host").as("a"), col("dst_host").as("b")),
      maxIters, "host", "cluster_host", "is_canonical")
  }
}
