package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed graph analytics over plain edge DataFrames — the
  * companion surface to the pointer-jumping connected components in
  * [[graft.text.Dedup.duplicateClusters]] and the Pregel-style
  * PageRank in [[graft.text.TextOps.textRank]]: graphs here are
  * tables, algorithms are joins, and the scale levers are the
  * standard relational ones (orientation, key shuffles, no
  * vertex-centric runtime needed).
  */
object Graphs {

  /** Canonical undirected edge list: (u, v) with u < v, self-loops
    * dropped, duplicates (either orientation) collapsed. One
    * distinct. */
  def canonicalEdges(edges: DataFrame, aCol: String,
                     bCol: String): DataFrame =
    edges.select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull &&
        col("v").isNotNull)
      .distinct()

  /** k-core decomposition at a FIXED k (Seidman 1983): iteratively
    * peel nodes of degree < k until the remaining subgraph is a
    * k-core (every survivor has ≥ k in-core neighbors) — the
    * community/spam-structure filter (densely-linked boilerplate
    * clusters survive high k; organic long-tail structure peels
    * away).
    *
    * Bounded iteration contract ([[Iterate.loop]]): at most `rounds`
    * peel rounds, each ONE degree agg + two anti-joins, stopping
    * EARLY the round nothing peels (a cheap limit-1 probe, a
    * [[Iterate.Fixpoint]]). Early stop is observationally identical
    * to running the full `rounds` — a converged graph peels
    * nothing — so an oracle that always
    * replays exactly `rounds` rounds matches regardless of where
    * convergence lands; if the corpus needs more than `rounds`
    * rounds, both engines stop at the same partially-peeled graph
    * (stated contract: `rounds` bounds the worst case, real graphs
    * converge in a handful).
    *
    * @return surviving (node, core_degree) — degree INSIDE the core */
  def kCore(edges: DataFrame, aCol: String, bCol: String, k: Int,
            rounds: Int = 8): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(rounds >= 1, "rounds must be >= 1")
    val e0 = Iterate.pin(canonicalEdges(edges, aCol, bCol))
    val (e, _) = Iterate.loop(e0, rounds) { (e, _) =>
      val deg = e.select(explode(array(col("u"), col("v"))).as("n"))
        .groupBy(col("n")).agg(count(lit(1)).as("deg"))
      val bad = deg.filter(col("deg") < k).select(col("n"))
      if (bad.limit(1).count() == 0) Iterate.Fixpoint
      else Iterate.Next(
        e.join(bad.select(col("n").as("u")), Seq("u"), "left_anti")
          .join(bad.select(col("n").as("v")), Seq("v"), "left_anti")
          .select(col("u"), col("v")))
    }
    e.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy(col("node"))
      .agg(count(lit(1)).cast("long").as("core_degree"))
  }

  /** Synchronous label-propagation community detection (Raghavan et
    * al. 2007, made DETERMINISTIC): every node starts as its own
    * label; each round, every node adopts the most frequent label
    * among its neighbors, ties broken by the SMALLEST label — no RNG,
    * no visit order, so any engine replays it bit-for-bit. Runs a
    * FIXED round budget with an early stop only at an exact fixpoint:
    * a fixpoint is invariant under further rounds, so an oracle that
    * always replays `rounds` rounds still matches (the k-core
    * early-stop contract). Synchronous LPA can 2-cycle on bipartite
    * structure — the fixed budget makes even that deterministic
    * (round parity decides, identically in both engines).
    *
    * Scale shape per round: one adjacency join keyed on the neighbor
    * (labels stay distributed), one (node, label) hash agg, one
    * argmax window over THAT frame — partitioned by node, so the
    * window is per-node-degree-sized, never global. Each round's
    * labels are pinned by [[Iterate.loop]]. Rounds is small by
    * design: LPA communities form in a handful of sweeps; at 100 TB
    * you cap rounds, not nodes.
    *
    * @return (node, community) — community = the converged (or
    *         round-budget) label */
  def labelPropagation(edges: DataFrame, aCol: String, bCol: String,
                       rounds: Int = 4): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    val e = Iterate.pin(canonicalEdges(edges, aCol, bCol))
    val adj = e.select(col("u").as("__n"), col("v").as("__m"))
      .union(e.select(col("v").as("__n"), col("u").as("__m")))
    val lab0 = Iterate.pin(
      e.select(explode(array(col("u"), col("v"))).as("node"))
        .distinct().select(col("node"), col("node").as("label")))
    val (labels, _) = Iterate.loop(lab0, rounds) { (lab, _) =>
      val nb = adj.join(
        lab.select(col("node").as("__m"), col("label")), Seq("__m"))
      val cnt = nb.groupBy(col("__n"), col("label"))
        .agg(count(lit(1)).as("__c"))
      val w = Window.partitionBy(col("__n"))
        .orderBy(col("__c").desc, col("label"))
      val next = cnt.withColumn("__r", row_number().over(w))
        .filter(col("__r") === 1)
        .select(col("__n").as("node"), col("label"))
      Iterate.Next(next, next =>
        next.join(lab.withColumnRenamed("label", "__old"), Seq("node"))
          .filter(col("label") =!= col("__old")).limit(1).count() == 0)
    }
    labels.select(col("node"), col("label").as("community"))
  }

  /** Damped PageRank over a directed weighted edge list (Brin & Page
    * 1998) — the generalized-centrality companion to the
    * UNDAMPED event-chain stationary distribution in
    * [[graft.ops.Analytics]] (markov) and the fixed-vocab TextRank in
    * [[graft.text.TextOps.textRank]]: arbitrary node ids, integer
    * edge weights, teleport + proper DANGLING-MASS redistribution
    * (a node with no out-edges donates its rank to every node —
    * dropping it, the common shortcut, leaks mass and the ranks no
    * longer sum to ~1).
    *
    * Update (one iteration):
    *   r'(v) = (1−d)/N + d·( Σ_{u→v} r(u)·w(u,v)/Σw(u,·)
    *                         + dangling/N )
    *
    * Cross-engine determinism (the w25_markov conventions): integer
    * weights make every out-probability an exact long/long double
    * ratio rounded once to 6 (decimal); rank·p products are exact
    * decimal, per-node sums decimal (order-free); the dangling sum is
    * decimal; one double round per node per iteration. `iters` is
    * fixed and unrolled — the oracle replays every round in SQL (the
    * e_kmeans bar for loop-carried state).
    *
    * Scale shape (the textRank discipline): ranks stay DISTRIBUTED —
    * per round ONE src-keyed join of the edge list to the rank table
    * + one dst-keyed agg; the dangling mass and N are the only
    * scalars, attached via broadcast crossJoin (never collected).
    * Out-degree normalization is a src-keyed window on the edge list
    * — the same exchange family the join uses. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               weight: Column, damping: Double = 0.85,
               iters: Int = 2): DataFrame = {
    require(damping > 0 && damping < 1, "damping in (0,1)")
    require(iters >= 1, "iters must be >= 1")
    val g = rankGraph(edges, srcCol, dstCol, weight)
    val nAgg = g.nodes.agg(count(lit(1)).as("__n"))
    val r0 = g.nodes.crossJoin(broadcast(nAgg))
      .select(col("node"),
        dec6(round(lit(1.0) / col("__n").cast("double"), 6)).as("__r"))
    val rN = (1 to iters).foldLeft(r0) { (r, _) =>
      val (dangling, contrib) = g.flow(r)
      g.nodes.join(contrib, Seq("node"), "left")
        .crossJoin(broadcast(nAgg)).crossJoin(broadcast(dangling))
        .select(col("node"), dec6(round(
          (lit(1.0) - lit(damping)) / col("__n").cast("double") +
            lit(damping) * (inflow +
              col("__dang").cast("double") / col("__n").cast("double")),
          6)).as("__r"))
    }
    rN.select(col("node"), col("__r").cast("double").as("pagerank"))
  }

  /** PERSONALIZED PageRank — [[pageRank]] with the restart mass
    * concentrated on a SEED set instead of spread uniformly: rank
    * flows outward from the seeds through the graph, scoring every
    * node by its proximity to the cohort (related-item discovery,
    * cohort expansion, "suppliers of customers like these"). Update:
    * r ← (1−d)·s + d·(Pᵀr + dang·s), where s is uniform over the
    * seeds (1/|S∩nodes| — seeds absent from the graph are ignored,
    * stated contract) and dangling mass teleports BACK TO THE SEEDS
    * (the PPR convention — uniform teleport would leak personalized
    * mass to the whole graph).
    *
    * Determinism: [[pageRank]]'s discipline verbatim — round-6
    * decimal transition probabilities and iterates, fixed-order
    * double update rounded once per node per round, `iters` rounds
    * unrolled (the e_kmeans loop-carried-state bar; the oracle
    * replays every round).
    *
    * Scale shape: identical to [[pageRank]] — per-round one
    * edge-frame join + dst-keyed agg; the seed frame joins once as a
    * node-frame column. Bounded rounds, unrolled and unpinned.
    *
    * @return (node, ppr) for every graph node */
  def personalizedPageRank(edges: DataFrame, srcCol: String,
                           dstCol: String, weight: Column,
                           seeds: DataFrame, seedCol: String,
                           damping: Double = 0.85,
                           iters: Int = 2): DataFrame = {
    require(damping > 0 && damping < 1, "damping in (0,1)")
    require(iters >= 1, "iters must be >= 1")
    val g = rankGraph(edges, srcCol, dstCol, weight)
    val seedNodes = seeds.select(col(seedCol).as("node")).distinct()
      .join(g.nodes, Seq("node"))
    val sAgg = seedNodes.agg(count(lit(1)).as("__ns"))
    val sF = g.nodes
      .join(seedNodes.withColumn("__isSeed", lit(1)), Seq("node"),
        "left")
      .crossJoin(broadcast(sAgg))
      .select(col("node"),
        when(col("__isSeed").isNotNull,
          dec6(round(lit(1.0) / col("__ns").cast("double"), 6)))
          .otherwise(dec6(lit(0))).as("__s"))
    val r0 = sF.select(col("node"), col("__s").as("__r"))
    val rN = (1 to iters).foldLeft(r0) { (r, _) =>
      val (dangling, contrib) = g.flow(r)
      sF.join(contrib, Seq("node"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("node"), dec6(round(
          (lit(1.0) - lit(damping)) * col("__s").cast("double") +
            lit(damping) * (inflow +
              col("__dang").cast("double") * col("__s").cast("double")),
          6)).as("__r"))
    }
    rN.select(col("node"), col("__r").cast("double").as("ppr"))
  }

  /** The round-6 decimal of every PageRank probability and iterate. */
  private def dec6(c: Column): Column = c.cast("decimal(18,6)")

  /** The graph [[pageRank]] and [[personalizedPageRank]] walk: `p` =
    * (__src, __dst, __p) round-6 transition probabilities of the
    * summed positive integer weights, `nodes` = every endpoint,
    * `srcs` = the nodes with an out-edge. */
  private final case class RankGraph(p: DataFrame, nodes: DataFrame,
                                     srcs: DataFrame) {
    /** One round's mass flow from `r` (node, __r): the dangling mass
      * (one row, __dang) and each reached node's inflow (node, __c). */
    def flow(r: DataFrame): (DataFrame, DataFrame) = (
      r.join(srcs, Seq("node"), "left_anti")
        .agg(coalesce(sum(col("__r")), dec6(lit(0))).as("__dang")),
      p.join(r.select(col("node").as("__src"), col("__r")), Seq("__src"))
        .groupBy(col("__dst").as("node"))
        .agg(sum(dec6(round(col("__r") * col("__p"), 6))).as("__c")))
  }

  private def rankGraph(edges: DataFrame, srcCol: String, dstCol: String,
                        weight: Column): RankGraph = {
    val e = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"),
        weight.cast("long").as("__w"))
      .filter(col("__src").isNotNull && col("__dst").isNotNull &&
        col("__w") > 0)
      .groupBy(col("__src"), col("__dst")).agg(sum(col("__w")).as("__w"))
    val wOut = Window.partitionBy(col("__src"))
    val p = e.withColumn("__p",
        dec6(round(col("__w").cast("double") /
          sum(col("__w")).over(wOut).cast("double"), 6)))
      .select(col("__src"), col("__dst"), col("__p"))
    val nodes = e.select(col("__src").as("node"))
      .union(e.select(col("__dst").as("node"))).distinct()
    val srcs = e.select(col("__src").as("node")).distinct()
    RankGraph(p, nodes, srcs)
  }

  /** A node's inflow as a double; 0 for a node no edge reaches. */
  private def inflow: Column =
    coalesce(col("__c"), dec6(lit(0))).cast("double")

  /** Per-node triangle counts (node-iterator with DEGREE ORIENTATION
    * — Schank & Wagner 2005; the MapReduce formulation is Suri &
    * Vassilvitskii WWW'11): each undirected edge is directed from its
    * lower-(degree, id) endpoint to the higher, wedges are one
    * self-join of the oriented list on the middle vertex, and a wedge
    * a→b→c is a triangle iff the closing edge a→c is oriented too.
    * The orientation is a total order, so every triangle is
    * enumerated EXACTLY once (its least corner sees both out-edges) —
    * no /3 correction, no duplicate pairs.
    *
    * Why orientation matters at scale: wedge count is Σ_v outdeg(v)²,
    * and directing edges toward higher degree caps every out-degree
    * at O(√m) on ANY graph — a star's hub gets out-degree ~0 and its
    * spokes 1, so the skewed-degree corpus graph (stopword-like hub
    * terms) generates wedges proportional to the answer, not to
    * hub-degree². Plan: one distinct, one node-sized degree agg
    * joined back (AQE broadcasts when vocab-sized), two equi-join
    * shuffles (wedge build + closure probe), one corner explode +
    * hash agg. Nothing all-pairs, nothing driver-side. */
  def triangleCounts(edges: DataFrame, aCol: String,
                     bCol: String): DataFrame = {
    val e = canonicalEdges(edges, aCol, bCol)
    val deg = e.select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    val withDeg = e
      .join(deg.select(col("n").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("deg").as("dv")), Seq("v"))
    val uFirst = (col("du") < col("dv")) ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = withDeg.select(
      when(uFirst, col("u")).otherwise(col("v")).as("src"),
      when(uFirst, col("v")).otherwise(col("u")).as("dst"))
    val wedges = oriented.select(col("src").as("a"), col("dst").as("b"))
      .join(oriented.select(col("src").as("b"), col("dst").as("c")),
        Seq("b"))
    val triangles = wedges.join(
      oriented.select(col("src").as("a"), col("dst").as("c")),
      Seq("a", "c"))
    triangles
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
  }
}
