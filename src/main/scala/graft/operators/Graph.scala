package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.Pin._

/** Graph centrality over an edge list — the link-graph quality signal
  * a web-crawl curation pipeline feeds into document scoring (rank of
  * the page a document came from), computed here directly over the
  * engine's own verified near-dup/citation pair output.
  *
  * [[pageRank]] runs a FIXED number of power iterations of the
  * classic damped walk over the undirected (symmetrized) graph:
  * pr'(v) = (1−α)/N + α · Σ_{u∈in(v)} pr(u)/deg(u). Fixed iteration
  * count (not convergence-driven) keeps the operator a pure, finite
  * dataflow an external engine can replay CTE-by-CTE.
  *
  * Determinism across engines: each contribution pr(u)/deg(u) is an
  * IEEE-deterministic double; contributions QUANTIZE to 1e-15 and sum
  * in DECIMAL(38,0) (the engine-wide exact-sum trick), so the
  * aggregated inflow — the only order-sensitive float reduction — is
  * exact and identical however partitions combine.
  *
  * Scale shape: per iteration, ONE join of the rank frame against the
  * edge list (both keyed on node — the exchange carries the EDGE
  * list, never a corpus) + one destination-keyed aggregation of the
  * quantized contributions. Degrees are computed once. The edge list
  * should be pinned by the caller if it is itself an expensive
  * pipeline (the q70 pattern); iterations deepen the plan linearly,
  * which a handful of fixed rounds keeps cheap.
  */
object Graph {

  /** Ranks after `iterations` damped power steps over the symmetrized
    * edge set. Returns (node, degree, pagerank) for every node that
    * appears in an edge (isolated nodes have no edges to walk — by
    * construction every graph node has degree ≥ 1, so there is no
    * dangling-mass term). */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iterations: Int, damping: Double = 0.85): DataFrame = {
    require(iterations >= 1, "pageRank needs at least one iteration")
    // Pin the loop's static frames once: the edge list is joined every
    // iteration and the degree frame both seeds init and closes every
    // round — unpinned, the fold's unrolled plan re-ran the upstream
    // edge pipeline (corpus scan + distinct) once per iteration per
    // consumer. Both frames are the operator's own bounded units
    // (edges / nodes), the same discipline labelPropagation/bfsLayers
    // already apply. (No pre-partitioned pin here, unlike Components:
    // the per-round rank join builds the node frame as a broadcast, so
    // the edge side never re-shuffles anyway — measured r16, a
    // repartition-by-src pin cost q105 0.91x for zero saved exchanges.)
    val sym = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .unionByName(edges.select(col(dstCol).as("src"), col(srcCol).as("dst")))
      .pin
    val deg = sym.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("degree"))
      .pin
    val n = deg.agg(count(lit(1)).as("__n"))

    // pr0 = 1/N for every node
    val init = deg.crossJoin(n)
      .select(col("node"), col("degree"),
              (lit(1.0) / col("__n").cast("double")).as("pr"))

    val quantum = 1e15
    val ranks = (1 to iterations).foldLeft(init) { case (prev, _) =>
      val contrib = prev
        .join(sym, prev("node") === sym("src"))
        .select(col("dst").as("node"),
                round(col("pr") / col("degree").cast("double") * quantum, 0)
                  .cast("decimal(38,0)").as("__q"))
        .groupBy(col("node"))
        .agg(sum(col("__q")).as("__inflow"))
      // flatten lineage per round (the labelPropagation discipline):
      // without this the final plan nests `iterations` copies of the
      // round subtree and optimizer time alone grows superlinearly
      deg.join(contrib, Seq("node"))
        .crossJoin(n)
        .select(col("node"), col("degree"),
                (lit((1.0 - damping)) / col("__n").cast("double") +
                  lit(damping) * (col("__inflow").cast("double") / quantum))
                  .as("pr"))
        .pin
    }
    ranks.select(col("node"), col("degree"), round(col("pr"), 6).as("pagerank"))
  }

  /** Triangle enumeration over an undirected edge list stored in
    * canonical (src < dst) orientation — the clustering-coefficient /
    * community-density primitive. Each triangle {a < b < c} is its
    * three canonical edges (a,b), (b,c), (a,c); joining wedge
    * (a,b)+(b,c) and semi-checking the closing edge (a,c) emits every
    * triangle exactly once with no orientation bookkeeping.
    *
    * Scale shape: two equi-joins on node keys — the exchanges carry
    * the EDGE list, never a corpus. Wedge count is Σ_v deg²(v), the
    * quadratic term a hub node dominates; the production hardening
    * for power-law graphs is degree orientation (point each edge at
    * its higher-degree endpoint before the wedge join) which bounds
    * wedges at O(m^1.5) — same output set, so the canonical-id form
    * here is also its correctness oracle. AQE skew-join covers the
    * moderate-hub middle ground. */
  def triangles(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).as("__s"), col(dstCol).as("__d"))
    val wedges = e.select(col("__s").as("a"), col("__d").as("b"))
      .join(e.select(col("__s").as("b"), col("__d").as("c")), "b")
    wedges.join(e.select(col("__s").as("a"), col("__d").as("c")),
                Seq("a", "c"), "left_semi")
      .select(col("a"), col("b"), col("c"))
  }

  /** Degree-oriented triangle enumeration — the power-law hardening
    * [[triangles]]'s scaladoc names: re-orient every undirected edge
    * from its LOWER endpoint to its HIGHER endpoint under the total
    * order ≺ = (degree, id), then wedge-join pairs of OUT-edges and
    * semi-check the closing out-edge. Each triangle {x ≺ y ≺ z}
    * appears exactly once, as the wedge (x→y, x→z) closed by y→z.
    *
    * Why it scales where canonical-id orientation doesn't: after
    * degree orientation every out-degree is O(√m) (a node of degree d
    * only keeps out-edges to endpoints of degree ≥ d, and there are
    * at most 2m/d of those), so the wedge count is bounded at
    * O(m^1.5) regardless of hubs — canonical-id orientation lets one
    * hub with degree h contribute h²/2 wedges. Exchanges: one degree
    * aggregation, two broadcast-or-shuffle joins to attach endpoint
    * degrees, then the same two edge-keyed joins as [[triangles]].
    * Output is re-canonicalized to (a < b < c) node ids, so it is
    * row-identical to [[triangles]] on the same edge set — the
    * canonical form doubles as this operator's correctness oracle. */
  def trianglesOriented(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val oriented = orientByDegree(edges, srcCol, dstCol).pin
    val o1 = oriented.select(col("lo"), col("hi").as("y"), col("dhi").as("dy"))
    val o2 = oriented.select(col("lo"), col("hi").as("z"), col("dhi").as("dz"))
    val wedges = o1.join(o2,
        Seq("lo"), "inner")
      .filter(col("dy") < col("dz") ||
              (col("dy") === col("dz") && col("y") < col("z")))
      .select(col("lo").as("x"), col("y"), col("z"))
    val closed = wedges.join(
        oriented.select(col("lo").as("y"), col("hi").as("z")),
        Seq("y", "z"), "left_semi")
    // Re-canonicalize to id order so output matches [[triangles]].
    val a = least(col("x"), col("y"), col("z"))
    val c = greatest(col("x"), col("y"), col("z"))
    val b = when(col("x") =!= a && col("x") =!= c, col("x"))
      .when(col("y") =!= a && col("y") =!= c, col("y"))
      .otherwise(col("z"))
    closed.select(a.as("a"), b.as("b"), c.as("c"))
  }

  /** Degree orientation of an undirected edge list: each edge emitted
    * once as (lo, hi, dhi) with lo ≺ hi under (degree, id) and dhi =
    * degree(hi). Max out-degree of the result is O(√m) — the bound
    * the wedge join in [[trianglesOriented]] rides on, and what a
    * spec asserts directly on a hub graph. */
  def orientByDegree(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).as("__u"), col(dstCol).as("__v"))
    val sym = e.unionByName(e.select(col("__v").as("__u"), col("__u").as("__v")))
    val deg = sym.groupBy(col("__u").as("__n")).agg(count(lit(1)).as("__deg"))
    val withDeg = e
      .join(deg.select(col("__n").as("__u"), col("__deg").as("__du")), Seq("__u"))
      .join(deg.select(col("__n").as("__v"), col("__deg").as("__dv")), Seq("__v"))
    val uFirst = col("__du") < col("__dv") ||
      (col("__du") === col("__dv") && col("__u") < col("__v"))
    // lo → hi under ≺ = (degree, id); carry hi's degree so the wedge
    // ordering needs no re-join.
    withDeg.select(
      when(uFirst, col("__u")).otherwise(col("__v")).as("lo"),
      when(uFirst, col("__v")).otherwise(col("__u")).as("hi"),
      when(uFirst, col("__dv")).otherwise(col("__du")).as("dhi"))
  }

  /** Synchronous label propagation for community detection: every
    * node starts as its own label; each round it adopts the most
    * frequent label among its NEIGHBORS, ties to the smallest label.
    * Runs a FIXED number of rounds (not to convergence — synchronous
    * LPA can 2-cycle on bipartite structure, and a fixed round count
    * is what makes the run replayable step-for-step by an external
    * engine). Returns (community, n_members) for the final labeling.
    *
    * Determinism: the per-node argmax rides one integer key
    * cnt·2²¹ + (2²¹−1−label) — max count wins, then smaller label —
    * so any engine replaying the rounds lands on identical labels.
    * Requires node ids < 2²¹ (widen the packing for larger spaces).
    *
    * Scale shape: per round, ONE join of the label frame against the
    * edge list + one (node, label)-keyed count + one node-keyed max —
    * exchanges carry the EDGE list (the [[pageRank]] contract);
    * labels are pinned per round so lineage stays flat. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       rounds: Int): DataFrame = {
    // Pre-partitioning the pinned edge list by the aggregation key (the
    // Components r16 move) was A/B'd here and REVERTED: q171 0.86× —
    // the label frame broadcasts into the per-round join, so sym's
    // partitioning is never re-derived downstream (the per-round
    // (u,label) count keys on a column the checkpoint's
    // HashPartitioning(u) only PARTIALLY satisfies post-scan, and the
    // extra up-front exchange is pure cost at this graph's size).
    val sym = edges
      .select(col(srcCol).as("u"), col(dstCol).as("v"))
      .unionByName(edges.select(col(dstCol).as("u"), col(srcCol).as("v")))
      .pin
    val pack = 1L << 21
    var labels = sym.select(col("u").as("node")).distinct()
      .withColumn("label", col("node")).pin
    for (_ <- 1 to rounds) {
      labels = sym
        .join(labels.select(col("node").as("v"), col("label")), Seq("v"))
        .groupBy(col("u"), col("label"))
        .agg(count(lit(1)).as("__c"))
        .groupBy(col("u"))
        .agg(max(col("__c") * pack + (lit(pack - 1) - col("label")))
               .as("__k"))
        .select(col("u").as("node"),
                (lit(pack - 1) - col("__k") % pack).as("label"))
        .pin
    }
    labels.groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_members"))
  }

  /** Personalized PageRank: the damped walk of [[pageRank]] with
    * teleport mass restricted to a SEED set — rank relative to a
    * trust/interest anchor (TrustRank-style link spam demotion, seed-
    * relative recommendation) instead of the global uniform prior:
    * pr'(v) = (1−α)·tele(v) + α·Σ_{u∈in(v)} pr(u)/deg(u), with
    * tele = 1/|S| on seeds and 0 elsewhere. Same exchanges, same
    * 1e-15 quantized inflow determinism as [[pageRank]]; nodes
    * unreachable from the seeds settle at 0. */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                           seeds: DataFrame, seedCol: String,
                           iterations: Int,
                           damping: Double = 0.85): DataFrame = {
    require(iterations >= 1, "needs at least one iteration")
    // Same loop-frame pinning as [[pageRank]]: sym is joined every
    // iteration, tele both seeds init and closes every round — both
    // are the operator's bounded units (edges / nodes). Pre-partition
    // trade-off: see the pageRank note.
    val sym = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .unionByName(edges.select(col(dstCol).as("src"), col(srcCol).as("dst")))
      .pin
    val deg = sym.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("degree"))
    val seedSet = seeds.select(col(seedCol).as("node")).distinct()
    val nSeeds = seedSet.agg(count(lit(1)).as("__ns"))
    // Node universe = deg ∪ seeds (FULL outer): an edgeless seed must
    // keep its 1/|S| teleport share (it is counted in |S|) and appear
    // in the output with degree 0 — a left join from deg would drop
    // it entirely while still diluting every other seed's share.
    val tele = deg.join(seedSet.withColumn("__isSeed", lit(true)),
                        Seq("node"), "full_outer")
      .crossJoin(broadcast(nSeeds))
      .select(col("node"), coalesce(col("degree"), lit(0L)).as("degree"),
              when(col("__isSeed"),
                   lit(1.0) / col("__ns").cast("double"))
                .otherwise(lit(0.0)).as("tele"))
      .pin
    val init = tele.withColumn("pr", col("tele"))
    val quantum = 1e15
    val ranks = (1 to iterations).foldLeft(init) { case (prev, _) =>
      val contrib = prev
        .join(sym, prev("node") === sym("src"))
        .select(col("dst").as("node"),
                round(col("pr") / col("degree").cast("double") * quantum, 0)
                  .cast("decimal(38,0)").as("__q"))
        .groupBy(col("node"))
        .agg(sum(col("__q")).as("__inflow"))
      tele.join(contrib, Seq("node"), "left")
        .select(col("node"), col("degree"), col("tele"),
                (lit(1.0 - damping) * col("tele") +
                  lit(damping) *
                  (coalesce(col("__inflow"), lit(0L).cast("decimal(38,0)"))
                     .cast("double") / quantum)).as("pr"))
        .pin // flatten lineage per round (pageRank note)
    }
    ranks.select(col("node"), col("degree"), round(col("pr"), 6).as("ppr"))
  }

  /** Multi-source BFS layers: hop distance of every reachable node
    * from a seed set — the reachability/radius primitive (crawl
    * frontier depth, link distance from trusted seeds). Returns
    * (node, dist) for reached nodes only.
    *
    * Scale shape: per round, ONE join of the frontier against the
    * edge list + an anti-join against the visited set — exchanges
    * carry the EDGE list; the frontier shrinks as the graph
    * saturates; visited/frontier are pinned so lineage stays flat, and
    * each pin counts its own rows (no separate count job). Round
    * count = graph eccentricity from the seeds, `maxDepth` the guard.
    * Deterministic: a node's dist is its FIRST reach round —
    * simultaneous expansion makes that partitioning-independent, so a
    * fixed-depth SQL replay lands on the identical layering. */
  def bfsLayers(edges: DataFrame, srcCol: String, dstCol: String,
                seeds: DataFrame, seedCol: String,
                maxDepth: Int = 32): DataFrame = {
    val sym = edges
      .select(col(srcCol).as("u"), col(dstCol).as("v"))
      .unionByName(edges.select(col(dstCol).as("u"), col(srcCol).as("v")))
      .pin
    val rows = count(lit(1)).as("n")
    var (visited, seeded) = seeds.select(col(seedCol).as("node")).distinct()
      .withColumn("dist", lit(0L)).pinObserving(rows)
    var frontier = visited.select(col("node"))
    var depth = 0L
    var frontierSize = seeded("n").asInstanceOf[Long]
    while (frontierSize > 0 && depth < maxDepth) {
      depth += 1
      val (next, m) = sym
        .join(frontier.select(col("node").as("u")), Seq("u"), "left_semi")
        .select(col("v").as("node")).distinct()
        .join(visited.select(col("node")), Seq("node"), "left_anti")
        .pinObserving(rows)
      frontierSize = m("n").asInstanceOf[Long]
      if (frontierSize > 0) {
        visited = visited
          .unionByName(next.withColumn("dist", lit(depth)))
          .pin
        frontier = next
      }
    }
    visited
  }

  /** k-core decomposition (the densest-community primitive): the
    * maximal node set in which every member keeps ≥ k neighbors
    * WITHIN the set, computed by simultaneous peeling — each round
    * drops every node whose degree among survivors is < k, until a
    * fixpoint. Returns (node, deg_in_core) over the final core.
    *
    * Scale shape: each round is one double semi-join of the edge list
    * against the survivor set plus one node-keyed count — exchanges
    * carry the EDGE list, never more; the survivor frame shrinks
    * monotonically and is pinned per round (the pin counting its own
    * rows) so the plan does not deepen with rounds. Round count is
    * bounded by the graph's degeneracy ordering (tens, not thousands,
    * on real graphs); `maxRounds` is a runaway guard, not a tuning
    * knob.
    * Deterministic: simultaneous (not sequential) removal makes the
    * result independent of any node ordering, so a fixed-step replay
    * of the same peel (the q164 oracle runs 30 rounds) lands on the
    * identical set once both have converged. */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
            maxRounds: Int = 100): DataFrame = {
    val sym = edges
      .select(col(srcCol).as("u"), col(dstCol).as("v"))
      .unionByName(edges.select(col(dstCol).as("u"), col(srcCol).as("v")))
      .pin
    val rows = count(lit(1)).as("n")
    var (alive, all) = sym.select(col("u").as("node")).distinct()
      .pinObserving(rows)
    var n = all("n").asInstanceOf[Long]
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      val (next, m) = sym
        .join(alive.select(col("node").as("u")), Seq("u"), "left_semi")
        .join(alive.select(col("node").as("v")), Seq("v"), "left_semi")
        .groupBy(col("u")).agg(count(lit(1)).as("__d"))
        .filter(col("__d") >= k)
        .select(col("u").as("node"))
        .pinObserving(rows)
      val survivors = m("n").asInstanceOf[Long]
      converged = survivors == n
      alive = next
      n = survivors
      rounds += 1
    }
    sym
      .join(alive.select(col("node").as("u")), Seq("u"), "left_semi")
      .join(alive.select(col("node").as("v")), Seq("v"), "left_semi")
      .groupBy(col("u")).agg(count(lit(1)).as("deg_in_core"))
      .select(col("u").as("node"), col("deg_in_core"))
  }
  /** HITS (Kleinberg): hub/authority scores on a DIRECTED edge list —
    * the bipartite-flavored centrality ([[pageRank]]'s companion) a
    * link-graph curation pass uses to split "pages that point well"
    * from "pages worth pointing at". Per round: authority(v) =
    * Σ_{u→v} hub(u), then hub(u) = Σ_{u→v} authority(v), each side
    * max-normalized (the PCA max-abs precedent — deterministic, no
    * sqrt-of-sum portability hazard).
    *
    * Scale shape: identical to [[pageRank]] — every round is two
    * edge-bounded exchanges; contributions quantize to 1e-15 decimals
    * (order-independent sums), normalized scores to 9 decimals, so a
    * SQL unrolled replay lands on identical values; score frames are
    * pinned per half-step. Nodes with no in-edges hold
    * authority 0, no out-edges hub 0. */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iterations: Int): DataFrame = {
    require(iterations >= 1 && iterations <= 50,
      s"Graph.hits: iterations in [1, 50], got $iterations")
    import org.apache.spark.sql.types.DecimalType
    // Pin the edge list: it is joined twice per iteration, and the
    // caller's upstream (a corpus scan + distinct) would otherwise
    // replay per half-step. Edge frame = the operator's bounded unit.
    val e = edges.select(col(srcCol).cast("long").as("src"),
                         col(dstCol).cast("long").as("dst"))
      .pin
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
      .pin
    def q15(c: Column) = round(c * lit(1e15), 0).cast(DecimalType(38, 0))
    def normalized(rawIn: DataFrame, vCol: String): DataFrame = {
      // raw is consumed twice (max aggregate + the join back); pin the
      // ≤|nodes|-row half-step frame so the edge join runs once.
      val raw = rawIn.pin
      val mx = raw.agg(max(col(vCol)).as("__mx"))
      nodes.join(raw, Seq("node"), "left").crossJoin(broadcast(mx))
        .select(col("node"),
          round(coalesce(col(vCol).cast("double"), lit(0.0)) /
            col("__mx").cast("double"), 9).as("score"))
        .pin
    }
    var hub = nodes.select(col("node"), lit(1.0).as("score"))
    var auth = nodes.select(col("node"), lit(0.0).as("score"))
    for (_ <- 1 to iterations) {
      val aRaw = e.join(hub.select(col("node").as("src"),
          col("score").as("h")), Seq("src"))
        .select(col("dst").as("node"), q15(col("h")).as("hq"))
        .groupBy(col("node")).agg(sum(col("hq")).as("aq"))
      auth = normalized(aRaw, "aq")
      val hRaw = e.join(auth.select(col("node").as("dst"),
          col("score").as("a")), Seq("dst"))
        .select(col("src").as("node"), q15(col("a")).as("aq2"))
        .groupBy(col("node")).agg(sum(col("aq2")).as("hq"))
      hub = normalized(hRaw, "hq")
    }
    hub.select(col("node"), col("score").as("__h"))
      .join(auth.select(col("node"), col("score").as("__a")), Seq("node"))
      .select(col("node"), round(col("__h"), 6).as("hub"),
              round(col("__a"), 6).as("authority"))
  }

}
