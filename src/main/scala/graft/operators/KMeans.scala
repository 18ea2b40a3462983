package graft.operators

import graft.CkptOps

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** x91: multi-iteration Lloyd k-means over the embedding corpus, in the
  * fixed-point arithmetic that makes every iteration bit-reproducible —
  * the TRAINING loop behind x8's IVF index and x87's SemDeDup cells,
  * which both consume a single assignment step off the label seeding.
  * (Lloyd 1982; the standard parallel formulation — e.g. the MLlib
  * implementation — broadcasts centroids and reduces per-cell sums,
  * which is exactly this plan's shape.)
  *
  * Determinism (x75's integer pattern, extended from x8's single
  * aggregation to a full iterative loop): elements quantize ONCE to
  * floor(x·10⁶) — integral doubles whose sums stay far below 2⁵³, so
  * every partial aggregation is exact and order-free. Each centroid
  * component is floor(S_d / n): one exactly-rounded IEEE division on
  * exact integrals, identical on any engine (x90's quotient argument),
  * then floored back to an integral. Distances are exact integer sums
  * of squared integral differences (dim 64 × (2.4·10⁶)² ≈ 4·10¹⁴ worst
  * case — comfortably exact), so the argmin, the tie-break (distance,
  * then cell id), the next iteration's cells, and the final inertia are
  * all deterministic under ANY partitioning AND replay exactly in the
  * DuckDB oracle (three unrolled iterations, the x75 CTE pattern).
  *
  * Scale shape: the centroid table is k rows — a broadcast at any
  * corpus size. Per iteration: ONE map-side-combined aggregate builds
  * the per-cell sums (the vector_sum single-node aggregate, so the plan
  * does not grow with dim), and ONE aggregate computes the argmin —
  * the broadcast cross join expands each point to k colocated rows that
  * partial-aggregate back to one row BEFORE the shuffle (min over a
  * (d2, cell, fv) struct), so the shuffle carries n rows, not n·k; a
  * window formulation would sort-shuffle the full n·k expansion.
  * Lineage truncates per iteration (`graft.ckpt`). Ragged vectors drop
  * via the dominant-dimensionality rule (x8/x87's drop-don't-fail).
  */
object KMeans {

  /** The x91 fixed-point quantization scale (floor(x·10⁶)). ONE
    * definition interpolated by every quantization site — [[quantizedPts]]
    * and [[IncrementalPq]]'s slice-filtered per-cycle scan — so a scale
    * change cannot silently drift the incremental path from the stores,
    * the fresh twin, or the oracle (r18 ADVICE). private[graft]: the
    * x106/x118 streaming quantize sites interpolate it too.
    */
  private[graft] val FixedPointScale = 1000000L

  /** Fixed-point quantized points at the dominant dimensionality:
    * (vec_id, fv). Shared by [[assignments]] (x91), [[batchDriftProfile]]
    * (x98), and [[ProductQuantization]]'s subspace split (x107/x108).
    */
  private[operators] def quantizedPts(emb: DataFrame,
                                      spreadInput: Boolean = true): DataFrame = {
    // Spread across every core BEFORE the CPU-heavy derivations (shingle
    // of the dedup family — r21 stage profile: the Lloyd/coarse argmin
    // chains of x108 ran as ONE task off the single-file local scan, 3 s
    // of the row serial on one core). Hash by vec_id (deterministic under
    // retry, guide §2.5), and by the SAME key most downstream groupBys
    // use. SCALE-ADAPTIVE twice over: only when the input is
    // UNDER-parallel (at 100 TB the scan is already thousands of splits
    // and an unconditional repartition would re-shuffle the full
    // raw-vector corpus for nothing; `.rdd` only plans — `emb` is always
    // a scan/filter subtree, so no stages execute), and only when the
    // CALLER wants it: the PQ train/top-k chains (x107/x108/x113/x114)
    // win 0.5-2 s each from the spread, while per-slice incremental
    // encodes (IncrementalPq) and the tiny x91 Lloyd lose ~0.5 s of pure
    // exchange overhead — those pass spreadInput = false.
    val par = emb.sparkSession.sparkContext.defaultParallelism
    val spread =
      if (spreadInput && emb.rdd.getNumPartitions < par)
        emb.repartition(par, col("vec_id"))
      else emb
    val quantized = spread
      .select(col("vec_id"),
      expr("transform(cast(embedding as array<double>), " +
        s"x -> cast(floor(x * cast($FixedPointScale as double)) as double))").as("fv"))
    val domDim = quantized.groupBy(size(col("fv")).as("sz")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("sz")).limit(1)
      .select(col("sz").as("dom_sz"))
    quantized.join(broadcast(domDim), size(col("fv")) === col("dom_sz"))
      .drop("dom_sz")
  }

  /** Per-cell fixed-point mean centroids of an assignment relation:
    * exact integral sums, one floored IEEE quotient per component —
    * integral again on the way out. (c_cell, c), ≤ k rows.
    */
  private def cellCentroids(asg: DataFrame): DataFrame =
    asg.groupBy(col("cell"))
      .agg(graft.functions.ArrayExpressions.vectorSum(col("fv")).as("s"),
        count(lit(1)).as("n"))
      .select(col("cell").as("c_cell"),
        expr("transform(s, x -> cast(floor(x / cast(n as double)) as double))").as("c"))

  // fused codegen kernel (ArrayExpressions.FixedPointDist2) — exact
  // integers, identical result to the zip_with+aggregate formulation
  private val Dist2Expr = "fixed_point_dist2(fv, c)"

  /** `iterations` Lloyd steps over `pts` from the `vec_id % k` seeding;
    * returns the final (vec_id, fv, cell, d2) assignment. Each argmin is
    * a map-side-combined struct-min over the broadcast k-row centroid
    * expansion — the shuffle carries n rows, not n·k.
    */
  private def lloyd(pts: DataFrame, k: Int, iterations: Int): DataFrame = {
    // seed: cell = vec_id mod k — a pure function of the row, no data scan
    var asg = pts.withColumn("cell", pmod(col("vec_id"), lit(k.toLong)).cast("int"))
      .withColumn("d2", lit(0L))
      .ckpt() // each iteration reads the previous assignment twice
    for (_ <- 1 to iterations) {
      val cent = cellCentroids(asg)
      asg = pts.crossJoin(broadcast(cent))
        .withColumn("d2c", expr(Dist2Expr))
        .groupBy(col("vec_id"))
        .agg(min(struct(col("d2c"), col("c_cell"), col("fv"))).as("m"))
        .select(col("vec_id"), col("m.fv").as("fv"),
          col("m.c_cell").as("cell"), col("m.d2c").as("d2"))
        .ckpt()
    }
    asg
  }

  /** Final per-vector assignment after `iterations` Lloyd steps from the
    * deterministic `vec_id % k` seeding: (vec_id, cell, dist2) with
    * dist2 the exact fixed-point squared distance to the winning
    * centroid. Ordered by vec_id.
    */
  def assignments(emb: DataFrame, k: Int = 8, iterations: Int = 3): DataFrame =
    lloyd(quantizedPts(emb, spreadInput = false), k, iterations)
      .select(col("vec_id"), col("cell"), col("d2").as("dist2"))
      .orderBy("vec_id")

  /** x98: embedding-distribution DRIFT monitoring by incremental k-means
    * assignment — the ops check a production embedding pipeline runs on
    * every new batch: train cells on the standing corpus, assign the
    * incoming batch against those FROZEN centroids, and compare per-cell
    * occupancy shares. A batch whose share profile diverges from the
    * corpus signals upstream change (new domain mix, encoder drift,
    * pipeline bugs) BEFORE it contaminates the index — the x31/x49
    * incremental posture applied to distribution shape rather than
    * membership.
    *
    * Semantics: centroids = the per-cell means of the corpus slice's
    * final 3-step Lloyd assignment (the "trained model"); BOTH slices
    * then 1-NN-assign under these frozen centroids (symmetric, so the
    * share comparison is apples-to-apples), corpus/batch split =
    * [[IncrementalAnn.isNewVec]]'s vec_id % 10 == 7. All fixed-point —
    * training, centroids, and both assignments replay exactly in the
    * oracle; the only floats are the two share divisions (int/int, one
    * exactly-rounded IEEE quotient each).
    *
    * Scale shape: training touches only the corpus slice (the loop's
    * per-iteration cost, x91); the serve step is ONE linear pass over
    * all vectors against a k-row broadcast — the batch never joins the
    * corpus. Output: (cell, n_corpus, n_batch, share_corpus,
    * share_batch), cell-ordered.
    */
  def batchDriftProfile(emb: DataFrame, k: Int = 8, iterations: Int = 3): DataFrame = {
    val pts = quantizedPts(emb).ckpt() // read by training AND the serve pass
    val corpus = pts.filter(!IncrementalAnn.isNewVec(col("vec_id")))
    val cent = cellCentroids(lloyd(corpus, k, iterations))
    val assigned = pts.crossJoin(broadcast(cent))
      .withColumn("d2c", expr(Dist2Expr))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2c"), col("c_cell"))).as("m"))
      .select(col("vec_id"), col("m.c_cell").as("cell"))
    val counts = assigned
      .groupBy(col("cell"))
      .agg(sum(when(!IncrementalAnn.isNewVec(col("vec_id")), 1L).otherwise(0L))
        .as("n_corpus"),
        sum(when(IncrementalAnn.isNewVec(col("vec_id")), 1L).otherwise(0L))
          .as("n_batch"))
      .ckpt() // ≤ k rows; read for the totals AND the share projection
    val totals = counts.agg(sum(col("n_corpus")).as("t_corpus"),
      sum(col("n_batch")).as("t_batch"))
    counts.crossJoin(broadcast(totals))
      .select(col("cell"), col("n_corpus"), col("n_batch"),
        (col("n_corpus").cast("double") / col("t_corpus")).as("share_corpus"),
        (col("n_batch").cast("double") / col("t_batch")).as("share_batch"))
      .orderBy("cell")
  }

  /** The frozen drift-serve model x98 trains and x106's STREAMING
    * monitor shares: the corpus's dominant dimensionality (the stream's
    * ragged-vector gate), the k trained centroids COLLECTED as model
    * parameters (k rows — the one thing that legitimately leaves the
    * cluster, exactly like the BPE merge table), and the standing-corpus
    * slice's per-cell occupancy under those frozen centroids (the
    * baseline profile each live batch compares against).
    */
  def driftServeModel(emb: DataFrame, k: Int = 8, iterations: Int = 3)
      : (Int, Array[(Int, Array[Double])], DataFrame) = {
    val pts = quantizedPts(emb).ckpt()
    val domSz = pts.select(size(col("fv")).as("d")).limit(1).head().getInt(0)
    val corpus = pts.filter(!IncrementalAnn.isNewVec(col("vec_id")))
    val cent = cellCentroids(lloyd(corpus, k, iterations)).ckpt()
    val corpusCounts = corpus.crossJoin(broadcast(cent))
      .withColumn("d2c", expr(Dist2Expr))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2c"), col("c_cell"))).as("m"))
      .groupBy(col("m.c_cell").as("cell"))
      .agg(count(lit(1)).as("n_corpus"))
    val centArr = cent.collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
    (domSz, centArr, corpusCounts)
  }

  /** 1-NN cell of a quantized vector column under COLLECTED frozen
    * centroids: `least` over k (d2, cell) structs — a pure STATELESS
    * projection, so it runs inside a streaming plan where the
    * aggregate-argmin form (a second stateful operator) cannot.
    * Lexicographic struct comparison reproduces the (distance, cell)
    * tie-break of the aggregate form exactly.
    */
  def assignCellExpr(fv: Column, cents: Array[(Int, Array[Double])]): Column =
    least(cents.sortBy(_._1).map { case (cellId, c) =>
      struct(
        aggregate(zip_with(fv, typedlit(c), (x, y) => (x - y) * (x - y)),
          lit(0.0), (a, t) => a + t).cast("bigint").as("d2"),
        lit(cellId).as("cell"))
    }.toIndexedSeq: _*).getField("cell")

  /** Exact total inertia (Σ dist2) after `iterations` steps — Lloyd's
    * objective, monotonically non-increasing across iterations; pinned
    * by the spec as the convergence contract.
    */
  def inertia(emb: DataFrame, k: Int = 8, iterations: Int = 3): Long =
    assignments(emb, k, iterations)
      .agg(sum(col("dist2")).as("i")).head().getLong(0)
}
