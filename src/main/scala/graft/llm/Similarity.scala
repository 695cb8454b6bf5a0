package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Pin._

/** Similarity search over an embedding column (array<float>).
  *
  * Baseline: brute-force cosine top-k — a crossJoin with the (small,
  * broadcast) query set; dot products via zip_with + aggregate in
  * DOUBLE, sequential in index order (deterministic and
  * oracle-mirrorable). Scale path: sign-random-projection LSH — a
  * deterministic hash-derived hyperplane signature bucket-joins
  * candidates so the crossJoin shrinks from |Q|×N to |Q|×bucket.
  */
object Similarity {

  /** Index-order dot product of two array<float/double> columns,
    * computed in double. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a.cast("array<double>"), b.cast("array<double>"), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Brute-force cosine top-k: for each row of `queries` (id, vec),
    * the k nearest rows of `corpus` (id, vec) by cosine, excluding
    * self-id matches. Queries side is broadcast. */
  def cosineTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
                 queries: DataFrame, queryId: String, queryVec: String,
                 k: Int): DataFrame = {
    val q = broadcast(queries.select(col(queryId).as("qid"), col(queryVec).as("qv")))
    val c = corpus.select(col(corpusId).as("cid"), col(corpusVec).as("cv"))
    val scored = q.join(c, col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), cosine(col("qv"), col("cv")).as("cos_sim"))
    scored
      .withColumn("__rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("cid").asc)))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** Brute-force top-k scored by the codegen'd native expression
    * (graft.plans.CosineSimilarity) — the fused-loop fast path; same
    * semantics as cosineTopK up to float-associativity in the norm. */
  def cosineTopKNative(corpus: DataFrame, corpusId: String, corpusVec: String,
                       queries: DataFrame, queryId: String, queryVec: String,
                       k: Int): DataFrame = {
    val spark = corpus.sparkSession
    val q = broadcast(queries.select(col(queryId).as("qid"), col(queryVec).as("qv")))
    val c = corpus.select(col(corpusId).as("cid"), col(corpusVec).as("cv"))
    q.join(c, col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
              graft.plans.NativeFunctions.cosineNative(spark, col("qv"), col("cv"))
                .as("cos_sim"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("cid").asc)))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** Contrastive-training triplet mining: for each anchor, the
    * positive = its nearest corpus row by cosine, and the hard
    * negative = the MOST similar corpus row still below `negCeiling`
    * (the maximally-confusable non-match — the semi-hard negative
    * that makes triplet/InfoNCE losses learn). Emits
    * (anchor_id, pos_id, pos_cos, neg_id, neg_cos, margin); negative
    * columns are null when no row scores below the ceiling (surfaced,
    * not dropped). Ties break toward the smaller corpus id.
    *
    * Scale shape: anchors broadcast against the corpus and both picks
    * are conditional `max(struct(cos, -cid))` aggregates in ONE
    * aggregation pass — partials combine map-side to one row per
    * anchor, so nothing corpus-sized shuffles and the corpus is
    * scored exactly once (vs the two window passes the naive
    * pos/neg-join formulation would take). */
  def tripletMine(corpus: DataFrame, corpusId: String, corpusVec: String,
                  anchors: DataFrame, anchorId: String, anchorVec: String,
                  negCeiling: Double): DataFrame = {
    val q = broadcast(anchors.select(col(anchorId).as("qid"),
                                     col(anchorVec).as("qv")))
    val c = corpus.select(col(corpusId).as("cid"), col(corpusVec).as("cv"))
    val scored = q.join(c, col("qid") =!= col("cid"))
      .select(col("qid"), col("cid").cast("long").as("cid"),
              cosine(col("qv"), col("cv")).as("cos"))
    val pick = struct(col("cos"), (-col("cid")).as("nc"))
    scored
      .groupBy(col("qid"))
      .agg(max(pick).as("p"),
           max(when(col("cos") < negCeiling, pick)).as("n"))
      .select(col("qid").as("anchor_id"),
              (-col("p.nc")).as("pos_id"),
              round(col("p.cos"), 4).as("pos_cos"),
              (-col("n.nc")).as("neg_id"),
              round(col("n.cos"), 4).as("neg_cos"),
              round(col("p.cos") - col("n.cos"), 4).as("margin"))
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) — the standard
    * hybrid-retrieval combiner: given per-system rankings
    * (qid, cid, rn), each candidate scores Σ_systems 1/(k + rank),
    * which rewards agreement without requiring the systems' raw
    * scores to be commensurable (dense cosine and sparse TF-IDF
    * live on different scales; their RANKS don't). Returns the
    * fused top-`topN` per query with deterministic (score, cid)
    * ordering.
    *
    * Portability: ranks are exact ints, each reciprocal is the same
    * IEEE double everywhere, and IEEE addition is commutative — a
    * per-(qid, cid) sum over a handful of systems is order-safe
    * without decimal routing.
    *
    * Scale shape: a union of ranking frames (each already top-k
    * sized, |Q|·k rows), one (qid, cid) aggregation, one qid window
    * — nothing corpus-sized appears at all; the expensive part is
    * the upstream retrievers, not the fusion. */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, topN: Int): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    val unioned = rankings
      .map(_.select(col("qid"), col("cid"), col("rn")))
      .reduce(_ unionByName _)
    unioned
      .groupBy(col("qid"), col("cid"))
      .agg(sum(lit(1.0) / (lit(k.toDouble) + col("rn").cast("double")))
             .as("rrf"),
           count(lit(1)).as("n_systems"))
      .withColumn("fused_rank", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("rrf").desc, col("cid").asc)))
      .filter(col("fused_rank") <= topN)
      .select(col("qid"), col("cid"), round(col("rrf"), 6).as("rrf"),
              col("n_systems"), col("fused_rank"))
  }

  /** The `nCentroids` corpus rows with the smallest (lcg(id), id) —
    * the deterministic, oracle-recomputable stand-in for an offline
    * k-means fit shared by the IVF and PQ paths. Bounded collect. */
  private def selectCentroids(corpus: DataFrame, corpusId: String,
                              corpusVec: String,
                              nCentroids: Int): Array[org.apache.spark.sql.Row] =
    corpus
      .select(col(corpusId).cast("long").as("cent_id"),
              col(corpusVec).cast("array<double>").as("cent_vec"))
      .orderBy(lcg(col("cent_id")), col("cent_id"))
      .limit(nCentroids)
      .collect()

  // The `probes` nearest cells of one vector: one fused codegen
  // cosine per centroid (each centroid vector is a plan literal, so
  // the whole scoring is straight-line generated code — no
  // interpreted HOF lambdas in the per-row hot path), then a 16-
  // element sort desc by (cos, cell asc). The native expression's
  // accumulation order is identical to the HOF fold and the oracle's
  // list_dot_product (see q37), so cell choice is bit-stable.
  private def nearestCells(spark: org.apache.spark.sql.SparkSession,
                           centRows: Array[org.apache.spark.sql.Row],
                           vec: Column, probes: Int): Column =
    nearestCellsOf(spark,
      centRows.toIndexedSeq.map(r => r.getLong(0) -> r.getSeq[Double](1)),
      vec, probes)

  private def nearestCellsOf(spark: org.apache.spark.sql.SparkSession,
                             cents: Seq[(Long, Seq[Double])],
                             vec: Column, probes: Int): Column =
    slice(
      array_sort(
        array(cents.toIndexedSeq.map { case (cell, v) =>
          struct(
            graft.plans.NativeFunctions.cosineNative(spark, vec, typedLit(v))
              .as("cd"),
            lit(cell).as("cell"))
        }: _*),
        (l, r) =>
          when(l("cd") > r("cd"), -1).when(l("cd") < r("cd"), 1)
            .when(l("cell") < r("cell"), -1).when(l("cell") > r("cell"), 1)
            .otherwise(0)),
      1, probes)

  /** Flattened PQ codebook over the selected centroid vectors: entry
    * (s, c) at (s*nCodes + c)*subDim (see plans.Pq layout). */
  private def pqCodebook(centRows: Array[org.apache.spark.sql.Row],
                         nSub: Int): (Seq[Double], Int) = {
    require(centRows.nonEmpty,
      "PQ codebook needs a non-empty corpus: no centroid rows were " +
        "selected (is the corpus empty or fully filtered?)")
    val dim = centRows.head.getSeq[Double](1).length
    val subDim = dim / nSub
    require(nSub * subDim == dim, "nSub must divide dim")
    val nCodes = centRows.length
    val flat = for {
      s <- 0 until nSub; c <- 0 until nCodes; i <- 0 until subDim
    } yield centRows(c).getSeq[Double](1)(s * subDim + i)
    (flat, nCodes)
  }

  /** IVF-flat ANN: partition the corpus into `nCentroids` Voronoi cells,
    * assign each vector to its nearest centroid once, then answer
    * queries by exact-reranking only the `nProbe` cells nearest the
    * query. Shrinks the scored candidate set from N to
    * ~N*nProbe/nCentroids per query; the inverted index (cell → rows)
    * is exactly a partitioned/bucketed layout at 100 TB.
    *
    * Centroid set: [[selectCentroids]] — collected once (bounded) and
    * baked into the plan as an array literal, so nearest-cell
    * assignment is a NARROW per-row argmax projection — zero joins,
    * zero shuffles over the corpus. The only corpus-wide exchange left
    * in the whole query is the final per-query top-k window over the
    * pruned candidate set. */
  def ivfTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
              queries: DataFrame, queryId: String, queryVec: String,
              k: Int, nCentroids: Int = 16, nProbe: Int = 4): DataFrame = {
    val spark = corpus.sparkSession
    val centRows = selectCentroids(corpus, corpusId, corpusVec, nCentroids)
    def nearestCells(vec: Column, probes: Int): Column =
      Similarity.nearestCells(spark, centRows, vec, probes)

    val assigned = corpus
      .select(col(corpusId).as("cid"), col(corpusVec).as("cv"))
      .withColumn("cell", element_at(nearestCells(col("cv"), 1), 1)
        .getField("cell"))

    val probed = broadcast(
      queries.select(col(queryId).as("qid"), col(queryVec).as("qv"))
        .withColumn("cell", explode(
          nearestCells(col("qv"), nProbe).getField("cell"))))

    // Broadcast hash join on cell: the corpus side streams through
    // unshuffled. Each corpus row lives in exactly one cell and probe
    // cells are distinct, so (qid, cid) pairs are already unique — no
    // dedup aggregation needed.
    probed.join(assigned, Seq("cell"))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
              graft.plans.NativeFunctions.cosineNative(spark, col("qv"), col("cv"))
                .as("cos_sim"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("cid").asc)))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** Product-quantization ANN with asymmetric distance computation
    * (ADC) — the COMPRESSED scale path. Each vector is encoded once
    * into `nSub` byte-sized codes (its nearest codeword per subspace),
    * so a 64-dim float corpus shrinks 32× (256 B → 8 B/row); queries
    * never decode — each query precomputes a tiny distance table
    * (L2² of its subvector to every codeword) and a candidate's
    * approximate distance is just `nSub` table lookups. This is the
    * standard IVFADC building block (Jégou et al., "Product
    * Quantization for Nearest Neighbor Search", TPAMI'11): compose
    * with [[ivfTopK]]'s cell pruning for candidate reduction AND code
    * compression.
    *
    * Codebooks: sub-slices of the `nCodes` LCG-selected corpus vectors
    * — the same deterministic stand-in for an offline k-means fit as
    * [[ivfTopK]] (and oracle-recomputable). They are collected once
    * (bounded) and baked into the plan as literals, so ENCODING is a
    * narrow per-row projection — straight-line codegen, zero joins,
    * zero corpus shuffle. The ADC scan is a broadcast of the (tiny)
    * query distance tables over the codes table; the only corpus-wide
    * exchange is the final per-query top-k window. All distance terms
    * are added in fixed index order, so the oracle reproduces every
    * code and distance bit-for-bit. */
  def pqTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
             queries: DataFrame, queryId: String, queryVec: String,
             k: Int, nSub: Int = 8, nCodes: Int = 16): DataFrame = {
    // Flattened codebook as a plan-time constant shared by the three
    // native PQ kernels (graft.plans.Pq). A composable column
    // formulation of the same argmin (arrays of per-codeword L2
    // expressions + array_position) is ~2,000 expression nodes and
    // fell out of whole-stage codegen past Janino's 64 KB method
    // limit — the fused loops keep encode AND the corpus-wide ADC scan
    // codegen'd with identical accumulation order (see Pq scaladoc;
    // BENCH q63 6.6 s → sub-s).
    //
    // The code count passed to the kernels is the codebook's ACTUAL
    // row count (a corpus smaller than `nCodes` yields fewer
    // codewords) — the kernels derive subDim from cb.length/(nSub*
    // nCodes), so passing the requested count against a short
    // codebook would silently misalign every slice.
    val spark = corpus.sparkSession
    val centRows = selectCentroids(corpus, corpusId, corpusVec, nCodes)
    val (cbFlat, nCodesActual) = pqCodebook(centRows, nSub)

    val enc = corpus.select(col(corpusId).as("cid"),
      graft.plans.PqNative
        .pqCodes(spark, col(corpusVec), cbFlat, nSub, nCodesActual).as("codes"))
    val q = broadcast(queries.select(col(queryId).as("qid"),
      graft.plans.PqNative
        .pqDistTable(spark, col(queryVec), cbFlat, nSub, nCodesActual).as("dt")))
    q.join(enc, col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        graft.plans.PqNative.pqAdc(spark, col("codes"), col("dt"), nCodesActual)
          .as("adc_dist"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("adc_dist").asc_nulls_last, col("cid").asc)))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** IVFADC — the composition that actually runs at 100 TB (Jégou et
    * al., TPAMI'11): IVF cell pruning shrinks the candidate set to
    * ~N·nProbe/nCentroids per query, AND every candidate is scored
    * from its `nSub`-byte PQ code (32× less I/O than raw vectors) via
    * the query's broadcast distance table. One shared centroid
    * collect; cell assignment and PQ encoding are both narrow fused
    * projections over the corpus — the only corpus exchange is the
    * final per-query top-k window. */
  def ivfPqTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
                queries: DataFrame, queryId: String, queryVec: String,
                k: Int, nCentroids: Int = 16, nProbe: Int = 4,
                nSub: Int = 8): DataFrame = {
    val spark = corpus.sparkSession
    val centRows = selectCentroids(corpus, corpusId, corpusVec, nCentroids)
    val (cbFlat, nCodes) = pqCodebook(centRows, nSub)

    val enc = corpus.select(
      col(corpusId).as("cid"),
      element_at(nearestCells(spark, centRows, col(corpusVec), 1), 1)
        .getField("cell").as("cell"),
      graft.plans.PqNative
        .pqCodes(spark, col(corpusVec), cbFlat, nSub, nCodes).as("codes"))
    val probed = broadcast(
      queries.select(col(queryId).as("qid"),
        graft.plans.PqNative
          .pqDistTable(spark, col(queryVec), cbFlat, nSub, nCodes).as("dt"),
        explode(nearestCells(spark, centRows, col(queryVec), nProbe)
          .getField("cell")).as("cell")))
    probed.join(enc, Seq("cell"))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        graft.plans.PqNative.pqAdc(spark, col("codes"), col("dt"), nCodes)
          .as("adc_dist"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("adc_dist").asc_nulls_last, col("cid").asc)))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** One Lloyd refinement step of k-means over the embedding corpus —
    * the operator that turns [[selectCentroids]]' deterministic seed
    * into FITTED centroids (and, iterated, into the offline k-means
    * the IVF/PQ scaladocs assume exists). Assignment is spherical
    * (argmax cosine, matching how [[ivfTopK]] buckets vectors);
    * the refreshed centroid is the per-dimension mean of each cell's
    * members.
    *
    * Output is the flat (cell, dim, centroid_val, n_members) frame —
    * k·dim rows — rather than reassembled arrays: it is the natural
    * shape for both the SQL oracle and a next-iteration literal
    * rebuild.
    *
    * Scale: seed centroids are one bounded collect (k rows) baked
    * into the plan; assignment is a NARROW per-row argmax projection
    * (zero corpus shuffle); the mean is ONE hash aggregation of
    * k·dim partial sums with map-side combine — the canonical
    * distributed Lloyd step. Sums are exact: each element is
    * quantized to 1e-6 (round half-up, ties impossible — (n+0.5)/1e6
    * is never exactly representable in binary floating point) and
    * summed as DECIMAL(38,0), so the mean is order-independent and
    * engine-portable at any row count (a long sum would overflow
    * ANSI around 1e12 rows × 1e7 quanta). */
  def lloydStep(corpus: DataFrame, idCol: String, vecCol: String,
                nCentroids: Int = 8): DataFrame = {
    val spark = corpus.sparkSession
    val centRows = selectCentroids(corpus, idCol, vecCol, nCentroids)
    corpus
      .select(
        element_at(nearestCells(spark, centRows, col(vecCol), 1), 1)
          .getField("cell").as("cell"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("dim", "x")))
      .withColumn("xq", round(col("x") * lit(1e6), 0).cast("decimal(38,0)"))
      .groupBy(col("cell"), col("dim"))
      .agg(round(sum(col("xq")).cast("double") / (lit(1e6) * count(lit(1))), 4)
             .as("centroid_val"),
           count(lit(1)).as("n_members"))
  }

  /** Full Lloyd k-means fit: iterates [[lloydStep]]-shaped refinements
    * from the deterministic LCG seed until no centroid's squared-L2
    * movement exceeds `tol`, or `maxIter`. Per iteration the
    * assignment is the same narrow plan-literal argmax projection as
    * [[ivfTopK]] (spherical assignment, arithmetic mean update — the
    * corpus never shuffles for it); the refreshed means reduce to
    * k·dim rows collected on the driver (bounded by CONFIG, not data
    * — the same budget as the seed collect). Cells that lose all
    * members retain their previous centroid. Deterministic end to
    * end: LCG seed, cosine ties broken by cell id, exact decimal
    * means — the fit is reproducible across runs and partitionings.
    * Returns the final (cell, dim, centroid_val, n_members) frame,
    * [[lloydStep]]'s shape, plus the iteration that converged. */
  def kmeansFit(corpus: DataFrame, idCol: String, vecCol: String,
                nCentroids: Int = 8, maxIter: Int = 10,
                tol: Double = 1e-8): (DataFrame, Int) = {
    val spark = corpus.sparkSession
    val (_, iter, lastStats) =
      lloydLoop(corpus, idCol, vecCol, nCentroids, maxIter, tol)
    import scala.jdk.CollectionConverters._
    val out = spark.createDataFrame(
      lastStats.map(r => org.apache.spark.sql.Row(
        r.getLong(0), r.getInt(1),
        BigDecimal(r.getDouble(2)).setScale(4, BigDecimal.RoundingMode.HALF_UP)
          .toDouble,
        r.getLong(3))).toSeq.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cell",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("dim",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("centroid_val",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("n_members",
          org.apache.spark.sql.types.LongType))))
    (out, iter)
  }

  /** The Lloyd loop shared by [[kmeansFit]] and [[semanticDedup]]:
    * returns the FINAL (post-update, empty-cell-fallback-applied)
    * centroids, the iteration count, and the last iteration's
    * (cell, dim, mean, n_members) stats rows. Scale contract as
    * documented on [[kmeansFit]]. */
  private def lloydLoop(corpus: DataFrame, idCol: String, vecCol: String,
                        nCentroids: Int, maxIter: Int, tol: Double)
      : (Map[Long, IndexedSeq[Double]], Int,
         Array[org.apache.spark.sql.Row]) = {
    val spark = corpus.sparkSession
    val prepared = corpus.select(col(vecCol).cast("array<double>").as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var cents: Map[Long, IndexedSeq[Double]] =
      selectCentroids(corpus, idCol, vecCol, nCentroids)
        .map(r => r.getLong(0) -> r.getSeq[Double](1).toIndexedSeq).toMap
    require(cents.nonEmpty,
      s"kmeansFit needs a non-empty corpus and nCentroids > 0 " +
        s"(got nCentroids=$nCentroids, seeded ${cents.size} centroids)")
    var iter = 0
    var moved = Double.MaxValue
    var lastStats: Array[org.apache.spark.sql.Row] = Array.empty
    try while (iter < maxIter && moved > tol) {
      val centSeq = cents.toIndexedSeq.sortBy(_._1)
      val assigned = prepared.withColumn("cell",
        element_at(nearestCellsOf(spark, centSeq, col("v"), 1), 1)
          .getField("cell"))
      lastStats = assigned
        .select(col("cell"), posexplode(col("v")).as(Seq("dim", "x")))
        .withColumn("xq", round(col("x") * lit(1e6), 0).cast("decimal(38,0)"))
        .groupBy(col("cell"), col("dim"))
        .agg((sum(col("xq")).cast("double") / (lit(1e6) * count(lit(1))))
               .as("centroid_val"),
             count(lit(1)).as("n_members"))
        .collect()
      val refreshed = lastStats.groupBy(_.getLong(0)).map { case (cell, rows) =>
        cell -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toIndexedSeq
      }
      moved = cents.map { case (cell, old) =>
        refreshed.get(cell).fold(0.0)(nw =>
          old.zip(nw).map { case (a, b) => (a - b) * (a - b) }.sum)
      }.max
      cents = cents.map { case (cell, old) =>
        cell -> refreshed.getOrElse(cell, old)
      }
      iter += 1
    } finally prepared.unpersist()
    (cents, iter, lastStats)
  }

  /** SemDeDup-style semantic dedup (Abbas et al., 2023,
    * arXiv:2303.09540 — a published pattern, not from the reference):
    * k-means-cluster the embedding space with the deterministic
    * [[kmeansFit]] loop, then run pairwise-cosine near-dup detection
    * ONLY within each cluster. The clustering is the scale device —
    * it bounds the quadratic pairwise stage at Σ|cell|², the way LSH
    * banding bounds MinHash (NearDup) — so the knob at 100 TB is
    * `nCentroids`: pick k ≈ N/10⁴ so cells stay pairwise-affordable
    * (the paper uses ~100k clusters for 5B embeddings). Keep rule,
    * deterministic and oracle-expressible: a document is dropped iff
    * some SAME-CELL document with a SMALLER id is within `tau`
    * cosine (so each cell's minimum id always survives).
    *
    * Shuffle inventory: the Lloyd fit as [[kmeansFit]] (narrow
    * assignment, k·dim aggregate per round); final assignment is the
    * same narrow plan-literal argmax, pinned once for its
    * three consumers (both pair-join sides + the member summary), so
    * the corpus is scanned and argmax'd exactly once; the pair stage is ONE
    * hash-partition of the (id, cell, vec) projection by cell on each
    * join side — an equi-join, so AQE skew splitting applies to a
    * runaway cell; the summary is two k-row aggregates joined on
    * cell, NOT a second corpus shuffle (kept checksum = id sum minus
    * dropped sum, both accumulated in DECIMAL(38,0) against ANSI
    * overflow at snowflake-scale ids).
    *
    * Returns one row per non-empty cell:
    * (cell, n_members, n_dropped, kept_id_checksum). */
  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
                    nCentroids: Int = 8, maxIter: Int = 2,
                    tau: Double = 0.35): DataFrame = {
    val spark = corpus.sparkSession
    val (cents, _, _) =
      lloydLoop(corpus, idCol, vecCol, nCentroids, maxIter, tol = 0.0)
    val centSeq = cents.toIndexedSeq.sortBy(_._1)
    // Materialized ONCE (the q60/q70 pin pattern): the
    // assignment feeds three consumers (both pair-join sides and the
    // member summary) — without this the corpus would be rescanned
    // and the k-cosine argmax recomputed per branch.
    val assigned = corpus
      .select(col(idCol).cast("long").as("id"),
              col(vecCol).cast("array<double>").as("v"))
      .withColumn("cell",
        element_at(nearestCellsOf(spark, centSeq, col("v"), 1), 1)
          .getField("cell"))
      .pin
    val dropped = assigned
      .select(col("cell"), col("id").as("id_a"), col("v").as("va"))
      .join(assigned.select(col("cell"), col("id").as("id_b"),
                            col("v").as("vb")),
            Seq("cell"))
      .where(col("id_a") < col("id_b"))
      .where(graft.plans.NativeFunctions
               .cosineNative(spark, col("va"), col("vb")) >= lit(tau))
      .select(col("cell"), col("id_b").as("drop_id"))
      .distinct()
    val members = assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"),
           sum(col("id").cast("decimal(38,0)")).as("id_sum"))
    val drops = dropped.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_dropped"),
           sum(col("drop_id").cast("decimal(38,0)")).as("drop_sum"))
    members.join(drops, Seq("cell"), "left")
      .select(col("cell"), col("n_members"),
              coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
              (col("id_sum") - coalesce(col("drop_sum"),
                                        lit(0).cast("decimal(38,0)")))
                .cast("long").as("kept_id_checksum"))
  }

  /** Per-domain embedding-centroid outlier scoring — the embedding-
    * space quality filter: documents far (by cosine) from their
    * domain's mean embedding are mislabeled/noise/contamination
    * candidates. Returns the `k` LOWEST-cosine members per domain,
    * rank-ordered (ties broken by id on the 6-decimal-rounded score —
    * the portable-tie contract).
    *
    * Scale shape: the centroid is one (domain, dim)-keyed aggregation
    * of decimal-quantized partials (map-side combined — the Lloyd-mean
    * arithmetic of [[lloydStep]], so means are exact and engine-
    * portable); centroids are domains×dim rows and broadcast-join
    * back; the cosine is a narrow per-row pass; the bottom-k is one
    * domain-keyed window. Nothing corpus-sized shuffles except the
    * id-keyed domain join the caller supplies. */
  def domainOutliers(corpus: DataFrame, idCol: String, vecCol: String,
                     domainCol: String, k: Int): DataFrame = {
    val prepared = corpus.select(col(idCol), col(domainCol),
      col(vecCol).cast("array<double>").as("__v"))
    val cent = prepared
      .select(col(domainCol), posexplode(col("__v")).as(Seq("dim", "x")))
      .withColumn("xq", round(col("x") * lit(1e6), 0).cast("decimal(38,0)"))
      .groupBy(col(domainCol), col("dim"))
      .agg((sum(col("xq")).cast("double") / (lit(1e6) * count(lit(1))))
             .as("cv"))
      .groupBy(col(domainCol))
      .agg(array_sort(collect_list(struct(col("dim"), col("cv"))))
             .as("__cs"))
      .select(col(domainCol),
              transform(col("__cs"), s => s.getField("cv")).as("__c"))
    val scored = prepared.join(broadcast(cent), domainCol)
      .withColumn("cos_centroid",
        graft.plans.NativeFunctions
          .cosineNative(corpus.sparkSession, col("__v"), col("__c")))
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy(col(domainCol))
          .orderBy(round(col("cos_centroid"), 6).asc, col(idCol).asc)))
      .filter(col("rk") <= k)
      .select(col(domainCol), col(idCol), round(col("cos_centroid"), 4)
                .as("cos_centroid"), col("rk"))
  }

  /** Per-dimension moment statistics of an embedding column — the
    * whitening / standardization table (count, mean, population
    * variance, min, max per dimension) that an embedding-normalization
    * pass multiplies through, and the drift monitor a serving pipeline
    * compares batches against.
    *
    * Scale shape: ONE aggregation — posexplode is scan-local and the
    * per-dim partials map-side combine down to `dim` rows regardless of
    * corpus size (the [[lloydStep]] shape without the assignment).
    * Sums are exact and engine-portable: elements quantize to 1e-6 and
    * accumulate in DECIMAL(38,0) (x² quanta stay < 1e22 even at 1e9
    * rows), so mean/variance are order-independent; variance is the
    * E[x²] − E[x]² identity over those exact sums. */
  def dimStats(corpus: DataFrame, vecCol: String): DataFrame = {
    val n     = count(lit(1))
    val sumQ  = sum(col("xq")).cast("double")
    val sumQ2 = sum(col("xq") * col("xq")).cast("double")
    val mean  = sumQ / (lit(1e6) * n)
    corpus
      .select(posexplode(col(vecCol).cast("array<double>")).as(Seq("dim", "x")))
      .withColumn("xq", round(col("x") * lit(1e6), 0).cast("decimal(38,0)"))
      .groupBy(col("dim"))
      .agg(n.as("n"),
           round(mean, 4).as("mean"),
           round(sumQ2 / (lit(1e12) * n) - mean * mean, 4).as("var_pop"),
           round(min(col("xq")).cast("double") / lit(1e6), 6).as("min_x"),
           round(max(col("xq")).cast("double") / lit(1e6), 6).as("max_x"))
  }

  /** Plain-arithmetic LCG (glibc constants, mod 2^31): deterministic
    * AND expressible in any SQL engine — which is what lets the
    * DuckDB oracle recompute the SRP buckets and IVF centroid choice
    * exactly, turning both ANN paths into full hash-checked queries.
    *
    * The input is reduced into [0, 2^31) FIRST (pmod): it preserves
    * the LCG value mod 2^31, keeps the multiply < 2^62 so ANSI mode
    * never overflows for any long id (snowflake-scale included), and
    * makes negative ids well-defined (Spark's % follows the dividend's
    * sign, which would otherwise leak a negative state into every
    * consumer — splits, shards, centroid ranks). The SQL oracles
    * mirror the same reduction (LlmQueries.lcgSql). */
  def lcg(idx: Column): Column =
    (lit(1103515245L) * pmod(idx, lit(2147483648L)) + lit(12345L)) %
      lit(2147483648L)

  /** Deterministic sign-random-projection signature: bit b is the sign
    * of <v, h_b> where hyperplane h_b has ±1 components derived from
    * lcg(b * dim + i). No randomness at plan time; reproducible in any
    * engine with 64-bit integer arithmetic (see [[lcg]]).
    *
    * The hyperplanes are plan-time CONSTANTS, so each bit is one fused
    * native cosine against a literal ±1 array (sign(cos) == sign(dot):
    * the norms are positive, and the oracle checks the raw projection's
    * sign, which is identical) — straight-line generated code per row,
    * no interpreted HOF lambdas. */
  /** Portable 32-bit integer mix (the xor-shift/multiply "triple32"
    * family, multiplier 0x45d9f3b): every intermediate stays below
    * 2^32·0x45d9f3b ≈ 3.1e17, so *, %, >>, xor replay exactly in any
    * 64-bit-integer engine — the [[lcg]] portability contract with
    * avalanche good enough for ISOMETRY, not just sign balance. The
    * single-pass affine lcg's bit-16 stream is measurably correlated
    * across a stride of `dim` (JL distortion sd 0.86 observed vs the
    * 0.25 theory bound at d'=32); this mix restores sd ≈ 0.24. */
  def mix32(k: Long): Long = {
    var x = (((k >> 16) ^ k) * 73244475L) % 4294967296L
    x = (((x >> 16) ^ x) * 73244475L) % 4294967296L
    (x >> 16) ^ x
  }

  /** [[mix32]] as a column expression (codegen'd built-ins only) —
    * for per-row hashing that an external engine must replay exactly
    * (the count-min sketch, q154). Input must be a non-negative long
    * below ~2^47 so every intermediate stays under 2^63. */
  def mix32Col(k: Column): Column = {
    val a = (shiftright(k, 16).bitwiseXOR(k) * lit(73244475L)) % lit(4294967296L)
    val b = (shiftright(a, 16).bitwiseXOR(a) * lit(73244475L)) % lit(4294967296L)
    shiftright(b, 16).bitwiseXOR(b)
  }

  /** Rademacher random projection to `dPrime` dimensions — the
    * Johnson–Lindenstrauss dimensionality reduction (Achlioptas 2003:
    * ±1 entries preserve pairwise distances like Gaussian ones, with
    * integer-only hash-derived construction). Sign (j,i) is the low
    * bit of [[mix32]](j·dim + i); q148 measures the resulting
    * pairwise-distance distortion against the JL bound.
    *
    * The sign vectors are plan-time literals: the projection is a
    * narrow per-row expression (no shuffle, no join), and downstream
    * ANN runs on dPrime-wide arrays — dim/dPrime× less data through
    * every exchange and comparison that follows. */
  def rademacherProject(vec: Column, dim: Int, dPrime: Int): Column = {
    def signs(j: Int): Seq[Double] =
      (0 until dim).map { i =>
        if ((mix32(j.toLong * dim + i) & 1L) == 0L) 1.0 else -1.0
      }
    array((0 until dPrime).map(j => dot(vec, typedLit(signs(j)))): _*)
  }

  def srpSignature(vec: Column, dim: Int, bits: Int): Column = {
    def hyperplane(b: Int): Seq[Double] =
      (0 until dim).map { i =>
        val k = b.toLong * dim + i
        val state = (1103515245L * k + 12345L) % 2147483648L
        if (((state >> 16) & 1L) == 0L) 1.0 else -1.0
      }
    val spark = org.apache.spark.sql.SparkSession.active
    array((0 until bits).map { b =>
      when(graft.plans.NativeFunctions
             .cosineNative(spark, vec, typedLit(hyperplane(b))) > 0,
           lit(1)).otherwise(lit(0))
    }: _*)
  }

  /** Bucketed ANN: group corpus by SRP signature prefix, join queries to
    * their bucket only, exact-cosine rerank within bucket. Recall is
    * tunable via `bits` (fewer bits → bigger buckets → higher recall). */
  def annTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
              queries: DataFrame, queryId: String, queryVec: String,
              k: Int, dim: Int, bits: Int = 8): DataFrame = {
    val cSig = corpus.select(col(corpusId).as("cid"), col(corpusVec).as("cv"),
      concat_ws("", srpSignature(col(corpusVec), dim, bits)).as("bucket"))
    val qSig = broadcast(queries.select(col(queryId).as("qid"), col(queryVec).as("qv"),
      concat_ws("", srpSignature(col(queryVec), dim, bits)).as("bucket")))
    qSig.join(cSig, Seq("bucket"))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), cosine(col("qv"), col("cv")).as("cos_sim"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("cid").asc)))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }
}
