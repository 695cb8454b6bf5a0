package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.llm.Components
import graft.util.Pin._

/** Exact 2-D DBSCAN with grid bucketing — density clustering for the
  * noise-vs-structure split a curation pipeline wants over projected
  * embeddings (clusters = modes worth stratifying; noise = outliers
  * worth inspecting): a point is CORE when ≥ minPts−1 neighbors sit
  * within eps; clusters are the connected components of the core-core
  * eps-graph; non-core points adjacent to a core join its cluster as
  * BORDER; the rest is NOISE. min-label tie-breaks make the labeling
  * unique (standard DBSCAN leaves border assignment order-dependent;
  * this formulation is deterministic).
  *
  * Scale shape: the all-pairs distance test — quadratic done naively —
  * is bucketed by an eps-sized GRID: each point probes only its 3×3
  * neighbor cells (a 9× explode of point rows, each a narrow struct),
  * and the candidate join is an equi-join on cell keys, so the pair
  * count is output-proportional for any non-adversarial density; the
  * component step exchanges only core-core EDGES
  * ([[Components.connectedComponents]], pointer-jumping bounded).
  * Nothing about the grid changes the RESULT — the q180 oracle
  * computes the same clustering from brute-force pairs, proving the
  * pruned plan lossless (the q144 bloom-join contract).
  *
  * Lineage discipline: the candidate-pair pipeline (explode + cell
  * join + distance filter) feeds FOUR consumers (neighbor counts,
  * core-core edges, border labeling, noise anti-join). `pairs`,
  * `roles` and the label frames are pinned ONCE before
  * the fan-out — the [[Components]] discipline — so the physical plan
  * of the result contains at most one Generate and the explode+join
  * runs exactly once, not once per consumer (`PlanShapeSpec` asserts
  * the plan shape; without this, ~12 pointer-jumping rounds of
  * re-evaluated lineage dominated the q180 bench).
  *
  * Skew guard: one adversarially dense eps-cell makes the cell
  * equi-join quadratic WITHIN that cell (m points → m² candidate
  * pairs). `maxCellPoints` is the [[graft.llm.NearDup]] `maxBucket`
  * precedent: cells holding more than `maxCellPoints` points are
  * excluded from the BUILD side of the candidate join (their points
  * still probe, and still pair with neighbors in non-overflowing
  * cells), bounding per-cell pair fan-out at 9·maxCellPoints per
  * probe point. Beyond the cap, neighbor counts are LOWER bounds
  * (recall cap, exactly like an oversized LSH bucket); the default
  * cap is "no cap" and the audit is first-class: [[overflowCells]]
  * returns every capped cell with its size, so a run can prove the
  * cap never fired — the q144 lossless-prune contract.
  */
object Dbscan {

  private[graft] def gridded(points: DataFrame, idCol: String, xCol: String,
                             yCol: String, eps: Double): DataFrame =
    points.select(col(idCol).cast("long").as("id"),
                  col(xCol).cast("double").as("x"),
                  col(yCol).cast("double").as("y"))
      .withColumn("cx", floor(col("x") / eps).cast("long"))
      .withColumn("cy", floor(col("y") / eps).cast("long"))

  /** The audit for `maxCellPoints`: every grid cell whose population
    * exceeds the cap, with its size — empty ⇔ the clustering was
    * exact (no build rows were pruned). */
  def overflowCells(points: DataFrame, idCol: String, xCol: String,
                    yCol: String, eps: Double,
                    maxCellPoints: Int): DataFrame =
    gridded(points, idCol, xCol, yCol, eps)
      .groupBy(col("cx"), col("cy")).agg(count(lit(1)).as("n_points"))
      .filter(col("n_points") > maxCellPoints)

  /** Candidate pairs within eps after the grid prune: (ida, idb) with
    * ida ≠ idb, both directions. Build side drops cells over
    * `maxCellPoints` (see object doc). Exposed for the adversarial
    * skew spec to count. */
  private[graft] def candidatePairs(pts: DataFrame, eps: Double,
                                    maxCellPoints: Int): DataFrame = {
    val probes = pts.select(col("id").as("ida"), col("x").as("xa"),
                            col("y").as("ya"),
                            explode(array((for (dx <- -1 to 1; dy <- -1 to 1)
                              yield struct((col("cx") + dx).as("px"),
                                           (col("cy") + dy).as("py"))): _*))
                              .as("p"))
      .select(col("ida"), col("xa"), col("ya"),
              col("p.px").as("cx"), col("p.py").as("cy"))
    val build =
      if (maxCellPoints == Int.MaxValue) pts
      else pts.withColumn("__cn", count(lit(1)).over(
             org.apache.spark.sql.expressions.Window.partitionBy("cx", "cy")))
        .filter(col("__cn") <= maxCellPoints).drop("__cn")
    val d2 = (col("xa") - col("x")) * (col("xa") - col("x")) +
             (col("ya") - col("y")) * (col("ya") - col("y"))
    probes.join(build, Seq("cx", "cy"))
      .filter(col("ida") =!= col("id") && d2 <= lit(eps * eps))
      .select(col("ida"), col("id").as("idb"))
  }

  /** Returns one row per point: (id, role ∈ core|border|noise,
    * cluster — min core id of the cluster, null for noise). */
  def gridDbscan(points: DataFrame, idCol: String, xCol: String,
                 yCol: String, eps: Double, minPts: Int,
                 maxCellPoints: Int = Int.MaxValue): DataFrame = {
    val pts = gridded(points, idCol, xCol, yCol, eps).pin
    // Build ONCE, consume four times: checkpoint before the fan-out.
    val pairs = candidatePairs(pts, eps, maxCellPoints).pin
    val nbrCount = pairs.groupBy(col("ida")).agg(count(lit(1)).as("__nb"))
    val roles = pts.select(col("id"))
      .join(nbrCount.select(col("ida").as("id"), col("__nb")), Seq("id"), "left")
      .select(col("id"),
              (coalesce(col("__nb"), lit(0L)) + 1 >= minPts).as("isCore"))
      .pin
    val coreIds = roles.filter(col("isCore")).select(col("id"))
    val coreEdges = pairs
      .join(coreIds.select(col("id").as("ida")), Seq("ida"), "left_semi")
      .join(coreIds.select(col("id").as("idb")), Seq("idb"), "left_semi")
    val comp = Components.connectedComponents(coreEdges, "ida", "idb")
    val coreLabeled = coreIds
      .join(comp.select(col("node").as("id"), col("label")), Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("cluster"),
              lit("core").as("role"))
      .pin
    // (the r15 shape also semi-joined pairs against core idb first —
    // redundant: the inner join on coreLabeled.idb is that restriction)
    val borderLabeled = pairs
      .join(coreLabeled.select(col("id").as("idb"), col("cluster")), Seq("idb"))
      .join(coreIds.select(col("id").as("ida")), Seq("ida"), "left_anti")
      .groupBy(col("ida"))
      .agg(min(col("cluster")).as("cluster"))
      .select(col("ida").as("id"), col("cluster"), lit("border").as("role"))
    // One pass instead of checkpoint + anti-join + union (r15 shape):
    // every point takes its core/border row or defaults to noise —
    // labeled ids are unique (core and border are disjoint, one row
    // per id by construction), so the left join is row-identical.
    val labeled = coreLabeled.unionByName(borderLabeled)
    pts.select(col("id"))
      .join(labeled, Seq("id"), "left")
      .select(col("id"), col("cluster"),
              coalesce(col("role"), lit("noise")).as("role"))
  }
}
