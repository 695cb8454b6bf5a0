package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.Pin._

/** Connected components over a pair graph — the step that turns
  * near-duplicate PAIRS (NearDup.lshCandidatePairs et al.) into dedup
  * GROUPS so a pipeline can keep one canonical document per group.
  * Pairs alone don't dedup: if a~b and b~c, dropping "the second of
  * each pair" would drop b and c even though a~c may not hold; the
  * group representative must be chosen per component.
  *
  * Algorithm: iterative min-label propagation with pointer jumping.
  * Each round does (1) propagate: label(x) := min(label(x), min over
  * neighbors y of label(y)) — one join + one aggregation on the edge
  * list; (2) jump: label(x) := label(label(x)) — a self-join that
  * halves chain depth, so rounds are O(log diameter) rather than
  * O(diameter). Labels only ever decrease and are node ids, so the
  * fixpoint assigns every node the MINIMUM id in its component —
  * deterministic, no rng, engine-portable.
  *
  * Scale notes (100 TB): each round is two shuffles bounded by the
  * EDGE list, not the corpus — near-dup graphs are tiny relative to
  * the input (most docs are singletons and never enter this operator).
  * LSH-banded components are near-cliques (diameter 1–3), so 2–3
  * rounds close them; the per-round convergence check is one count on
  * the changed-label set. For adversarial long-chain graphs the
  * pointer jump bounds rounds at log₂(diameter); beyond that the
  * two-phase large-star/small-star formulation (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14) is the
  * same joins with a different grouping and the same O(log) bound.
  * The edge list is pinned once; each round's labels are pinned to
  * truncate lineage (iterative plans otherwise grow a round's plan
  * depth per iteration and re-execute history).
  */
object Components {

  /** Labels every node of the undirected pair graph `edges` with the
    * minimum node id reachable from it. Returns (node, label) for
    * nodes that appear in at least one edge (singletons never enter
    * the graph; their "component" is themselves by definition).
    * `maxIter` is a safety bound — with pointer jumping it allows
    * components of diameter 2^maxIter. */
  def connectedComponents(edges: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 16): DataFrame =
    connectedComponentsWithRounds(edges, aCol, bCol, maxIter)._1

  /** The batch ids an incremental near-dup dedup against accepted
    * history drops, as one long column `node`: every non-representative
    * member of an in-batch component (representative = min id, the q60
    * contract), every member of a component that touches history
    * ANYWHERE — the accepted historical doc is the component's true
    * canonical representative, so members that don't collide with the
    * store directly (9~X, 5~9, 5!~X) must not be re-accepted — and
    * every direct hit (singleton components never enter the pair
    * graph). `hits` holds one column: the batch ids with a history
    * hit. */
  def historyDrops(pairs: DataFrame, aCol: String, bCol: String,
                   hits: DataFrame): DataFrame = {
    val comps = connectedComponents(pairs, aCol, bCol)
    val hitIds = hits.select(col(hits.columns.head).cast("long").as("__hit"))
    val poisonedLabels = comps
      .join(hitIds, col("node") === col("__hit"), "left_semi")
      .select(col("label").as("__pl")).distinct()
    comps.join(poisonedLabels, col("label") === col("__pl"), "left_semi")
      .select(col("node"))
      .union(comps.filter(col("node") =!= col("label")).select(col("node")))
      .union(hitIds.select(col("__hit").as("node")))
      .distinct()
  }

  /** [[connectedComponents]] plus the number of label-update rounds it
    * ran (including the final no-change round that witnesses the
    * fixpoint) — the observable for the O(log diameter) claim: a path
    * graph of diameter 2^k must close in ≤ k+2 rounds, which
    * `ComponentsSpec` asserts adversarially. */
  def connectedComponentsWithRounds(edges: DataFrame, aCol: String,
                                    bCol: String,
                                    maxIter: Int = 16): (DataFrame, Int) = {
    val a = col(aCol).cast("long")
    val b = col(bCol).cast("long")
    // Symmetrize with ONE pass over `edges` (an explode, not a
    // self-union — a union would evaluate the upstream pair pipeline
    // once per branch when first materialized into the cache).
    // Pre-partition the pinned edge list by the PROBE key (`nbr`): the
    // per-round propagate join reads sym on nbr, and the checkpoint
    // preserves the hash partitioning (LogicalRDD keeps
    // outputPartitioning), so every round's join reuses it instead of
    // re-exchanging the edge list (rounds × one edge-sized shuffle
    // saved — the dominant per-round exchange). Width follows the
    // session's shuffle-partition setting — scale-adaptive, not a
    // local constant.
    val sym = edges
      .select(explode(array(struct(a.as("node"), b.as("nbr")),
                            struct(b.as("node"), a.as("nbr")))).as("e"))
      .select(col("e.node").as("node"), col("e.nbr").as("nbr"))
      .repartition(col("nbr"))
      .pin

    // Labels only ever DECREASE, so the exact label sum is a monotone
    // convergence witness: an unchanged sum means no label moved. The
    // sum rides each round's label pin (Pin.pinObserving), so a round
    // runs exactly ONE action — not pin + a separate aggregation job.
    // DECIMAL(38,0) keeps the sum exact at any node count (a long sum
    // would overflow under ANSI at ~10^10 snowflake-scale ids); an
    // empty edge set sums to null.
    val labelSum = sum(col("label").cast("decimal(38,0)")).as("__ls")

    // Round 0: label(x) = min(x, min neighbor).
    var (labels, observed) = sym.groupBy(col("node"))
      .agg(min(col("nbr")).as("__mn"))
      .select(col("node"), least(col("node"), col("__mn")).as("label"))
      .pinObserving(labelSum)
    var prevSum = observed("__ls")

    var converged = false
    var round = 0
    while (!converged && round < maxIter) {
      // Propagate the neighbor minimum one hop along every edge, with
      // the node's OWN label riding the same aggregation as a unioned
      // self-row: min(own ∪ neighbor labels) ≡ least(own, min nbrs),
      // one exchange instead of groupBy + join-back (r15 shape), and
      // no `stepped` pin — the r15 pin doubled the pin actions per
      // round and regressed q180 in both measured runs; the
      // pointer-jump self-join's two references below share the
      // aggregation exchange via AQE reuse instead.
      val stepped = sym
        .join(labels.withColumnRenamed("node", "__n"), col("nbr") === col("__n"))
        .select(col("node"), col("label"))
        .unionByName(labels)
        .groupBy(col("node")).agg(min(col("label")).as("label"))
      // Pointer jump: follow the label's own label (labels are node
      // ids and only decrease, so label(label(x)) <= label(x)). The
      // jump side is a renamed projection of the SAME lazy frame —
      // its aggregation exchange is byte-identical to stepped's and
      // AQE exchange reuse shares one execution across both sides.
      val jump = stepped.select(col("node").as("__jn"),
                                col("label").as("__jl"))
      val (next, m) = stepped.join(jump, col("label") === col("__jn"), "left")
        .select(col("node"),
                least(col("label"), coalesce(col("__jl"), col("label")))
                  .as("label"))
        .pinObserving(labelSum)
      labels = next
      converged = m("__ls") == prevSum
      prevSum = m("__ls")
      round += 1
    }
    (labels, round)
  }

  /** Dedup-group summary over [[connectedComponents]]: one row per
    * group with its representative (the minimum doc id — the row a
    * dedup keeps), member count and id checksum. */
  def dedupGroups(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    connectedComponents(pairs, aCol, bCol)
      .groupBy(col("label").as("group_rep"))
      // checksum accumulates in DECIMAL(38,0) — a long accumulator
      // would throw ANSI overflow mid-aggregation for snowflake-scale
      // ids (same guard as labelSum); the final bigint cast can only
      // fail if the TRUE per-group sum exceeds a long, which is a
      // contract limit of the output column, not an accumulation
      // artifact.
      .agg(count(lit(1)).as("n_docs"),
           sum(col("node").cast("decimal(38,0)")).cast("long")
             .as("id_checksum"),
           max(col("node")).as("max_id"))

  /** Dedup groups with a QUALITY-chosen survivor: per component, keep
    * the member maximizing (quality desc, id asc) — the "keep the
    * longest / cleanest copy" policy production dedup uses instead of
    * min-id. `quality` maps ids to a per-row quality score; only
    * graph members join it (singletons are their own survivors by
    * definition and never enter). Members with NO quality row are
    * kept, not dropped (left join): they still count toward n_docs,
    * and rank after every scored member (desc ordering puts nulls
    * last), so a coverage gap in `quality` surfaces as a null
    * survivor_quality instead of a silently deflated — or vanished —
    * component. One extra key-partitioned window over the (tiny)
    * member set on top of the component labels. */
  def dedupSurvivors(pairs: DataFrame, aCol: String, bCol: String,
                     quality: DataFrame, idCol: String,
                     qualityCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val members = connectedComponents(pairs, aCol, bCol)
      .join(quality, col("node") === quality(idCol), "left")
    val w = Window.partitionBy(col("label"))
      .orderBy(col(qualityCol).desc, col("node").asc)
    members.withColumn("__rn", row_number().over(w))
      .groupBy(col("label").as("group_rep"))
      .agg(count(lit(1)).as("n_docs"),
           max(when(col("__rn") === 1, col("node"))).as("survivor_id"),
           max(when(col("__rn") === 1, col(qualityCol)))
             .as("survivor_quality"))
  }
}
