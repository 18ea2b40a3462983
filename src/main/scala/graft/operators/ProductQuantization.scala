package graft.operators

import graft.CkptOps

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** x107/x108: product quantization — the memory-bounded ANN scale path
  * (Jégou, Douze & Schmid 2011, "Product Quantization for Nearest
  * Neighbor Search"). The d-dim embedding splits into `NumSub`
  * contiguous subspaces; an independent k-means codebook is trained per
  * subspace; a vector's code is its per-subspace nearest-centroid cells
  * — `NumSub` small ints instead of d floats (here 4 bytes vs 256: a
  * 64x index-memory cut, the property that lets a 100 TB corpus' ANN
  * index fit a cluster's RAM). Queries score compressed codes via
  * ADC (asymmetric distance computation): one exact lookup table of
  * query-subvector-to-centroid distances, then a distance is just
  * `NumSub` table adds.
  *
  * '''Determinism''' — everything rides x91's fixed-point frame:
  * elements quantize once to floor(x·10⁶) integral doubles; per-subspace
  * Lloyd iterations use exact integral sums, one floored IEEE quotient
  * per centroid component, exact integer d2 argmins tie-broken by cell;
  * seeding is `(vec_id + sub) % K` (pure function of the row — the +sub
  * decorrelates subspace seeds). The codebook, the codes, the ADC
  * distances and the top-k ranks therefore all hash-gate, and the whole
  * train+search replays in DuckDB as unrolled MATERIALIZED CTEs.
  *
  * '''Scale shape''': training is x91's per-iteration plan run once over
  * the subvector relation (n·NumSub rows): ONE map-side-combined
  * aggregate for the per-(sub, cell) sums, ONE broadcast expansion
  * (NumSub·K rows — a broadcast at any corpus size) whose argmin
  * partial-aggregates to n·NumSub rows BEFORE the shuffle. Search is
  * IVFADC: a CoarseK-cell full-dimension quantizer supplies both the
  * inverted-list key and the residual each vector PQ-encodes, so each
  * query probes ~n/CoarseK candidates, not n; the ADC join touches
  * candidate·NumSub code rows against the query's broadcast-joined LUT.
  * Candidate lists are cell-bounded, so the per-query top-k window
  * partitions are bounded by the largest inverted list, never the
  * corpus. Per-round lineage truncates via `graft.ckpt`.
  */
object ProductQuantization {

  /** Subspaces (the embedding's dominant dim 64 splits 8 x 8). */
  val NumSub = 8

  /** Dimensions per subspace. */
  val SubDim = 8

  /** Centroids per subspace codebook — 8-bit codes, byte-per-subspace:
    * the production PQ sizing (Jégou et al. 2011 use k* = 256 throughout;
    * it is also what FAISS ships as the default). A 64-dim vector
    * compresses to NumSub = 8 bytes. Earlier cuts measured the resolution
    * ladder on the clustered fixture (BASELINE.md, Round 16 pqrecall):
    * 4 subspaces x 2-bit codes ranked near-randomly, K=16 (4-bit) reached
    * recall@10 0.66-0.68 against a 0.98-1.00 coarse-probe ceiling — the
    * gap was PQ resolution, not routing. K=256 is the same plan with a
    * NumSub·256-row broadcast (still trivially broadcast-sized), and the
    * distances stay exact integers, so every hash gate is unchanged in
    * kind.
    */
  val K = 256

  /** Lloyd iterations per subspace (trained jointly in one relation). */
  val Iters = 2

  /** The x98 held-out query/corpus split: `vec_id % QueryMod == QueryRem`
    * rows are QUERIES, everything else is the searchable corpus (models
    * train on the corpus slice only, so queries never leak in). Aliases
    * of [[IncrementalAnn.NewMod]]/`NewRem` — the x31 "new day" slice IS
    * the same rule — so the sizing probe, the recall baseline, the
    * coarse stage and the oracle CTEs all interpolate ONE definition and
    * the split cannot drift between the search path and its gates (the
    * EpsBase/IdStride precedent).
    */
  val QueryMod: Int = IncrementalAnn.NewMod
  val QueryRem: Int = IncrementalAnn.NewRem

  /** The split as a Column predicate over `vec_id`. */
  def isQueryCol: Column = IncrementalAnn.isNewVec(col("vec_id"))

  /** ONE materialization of the quantized points per query entry point —
    * the relation every stage (coarse quantizer, PQ training input,
    * exact re-rank vectors, sizing count) derives from. Without it the
    * quantize chain (and, for x113/x114, the 20-member clusteredFixture
    * explode feeding it) re-evaluated once per consumer: the r22 stage
    * profile of x114 showed four full evaluations, ~35 s of task time
    * doing the same transform (guide §2.4 — recompute is a shuffle-free
    * shuffle).
    */
  private def ptsCkpt(emb: DataFrame): DataFrame = KMeans.quantizedPts(emb).ckpt()

  /** Subvector relation (vec_id, sub, sv): each dominant-dim fixed-point
    * vector split into NumSub contiguous SubDim-slices. The pts ckpt
    * matters here too: [[train]] re-reads its input every Lloyd round
    * (seeding + one argmin join per round), so an unmaterialized
    * quantize chain would re-run per round (x107's r22 stage profile:
    * two ~6 s-task-time re-evaluations).
    */
  private def subPts(emb: DataFrame): DataFrame = subPtsOf(ptsCkpt(emb))

  /** Subspace split of any (vec_id, fv) relation — raw fixed-point
    * vectors for the x107 codebook, coarse-cell RESIDUALS for x108.
    */
  private[operators] def subPtsOf(pts: DataFrame): DataFrame =
    pts.select(col("vec_id"),
        explode(expr(s"transform(sequence(0, ${NumSub - 1}), " +
          s"s -> struct(cast(s as int) AS sub, slice(fv, s * $SubDim + 1, $SubDim) AS sv))"))
          .as("p"))
      .select(col("vec_id"), col("p.sub").as("sub"), col("p.sv").as("sv"))

  /** Per-(sub, cell) fixed-point mean centroids of an assignment:
    * (sub, c_cell, c) — at most NumSub·K rows, broadcast-sized always.
    */
  private[operators] def centroids(asg: DataFrame): DataFrame =
    asg.groupBy(col("sub"), col("cell"))
      .agg(graft.functions.ArrayExpressions.vectorSum(col("sv")).as("s"),
        count(lit(1)).as("n"))
      .select(col("sub"), col("cell").as("c_cell"),
        expr("transform(s, x -> cast(floor(x / cast(n as double)) as double))").as("c"))

  // the fused codegen kernel (ArrayExpressions.FixedPointDist2), not the
  // zip_with+aggregate lambda chain: at K=256 the argmin relation is
  // n·NumSub·K rows and per-element lambda dispatch dominated the wall
  private[operators] val Dist2Expr = "fixed_point_dist2(sv, c)"

  /** `Iters` Lloyd rounds over the subvector relation from the
    * `(vec_id + sub) % K` seeding. Returns (codebook, codes): the final
    * centroid table (the one the last assignment used — the trained
    * model) and the final per-(vec, sub) assignment. Intermediate
    * assignments ckpt per round (each is read by the next centroid
    * update); the FINAL one is returned LAZY — eager ckpt here would
    * make x107 (which consumes only the codebook) pay for an
    * assignment pass it discards; x108 ckpts it at its two-read site.
    */
  private[operators] def train(sp: DataFrame): (DataFrame, DataFrame) = {
    var asg = sp
      .withColumn("cell", pmod(col("vec_id") + col("sub"), lit(K.toLong)).cast("int"))
      .ckpt()
    var cb: DataFrame = asg // overwritten below (Iters >= 1)
    for (i <- 1 to Iters) {
      // tiny (<= NumSub*K rows) but consumed by this round's argmin AND
      // by the caller (x107 surface / x108 LUT) — ckpt, the ReuseExchange
      // rule for multiply-consumed small aggregates
      cb = centroids(asg).ckpt()
      val next = sp.join(broadcast(cb), Seq("sub"))
        .withColumn("d2c", expr(Dist2Expr))
        .groupBy(col("vec_id"), col("sub"))
        .agg(min(struct(col("d2c"), col("c_cell"), col("sv"))).as("m"))
        .select(col("vec_id"), col("sub"), col("m.sv").as("sv"),
          col("m.c_cell").as("cell"), col("m.d2c").as("d2"))
      asg = if (i < Iters) next.ckpt() else next
    }
    (cb, asg)
  }

  /** x107: the trained codebook over the full corpus, exploded to scalar
    * rows for the hash gate: (sub, cell, di, ci) with di the 1-based
    * dimension within the subspace and ci the fixed-point centroid
    * component. NumSub·K·SubDim rows, ordered.
    */
  def codebook(emb: DataFrame): DataFrame = {
    val (cb, _) = train(subPts(emb))
    cb.select(col("sub"), col("c_cell").as("cell"), posexplode(col("c")))
      .select(col("sub"), col("cell"), (col("pos") + 1).cast("int").as("di"),
        col("col").cast("long").as("ci"))
      .orderBy("sub", "cell", "di")
  }

  /** Brute-force EXACT fixed-point L2 top-k over the same hold-out split
    * as [[adcTopK]] — the recall baseline (`AnnSizingSpec`). Not a
    * ledger row and not a production path: the all-pairs scan is
    * precisely what PQ exists to avoid; it lives here so the baseline
    * and the compressed search can never drift apart on split or
    * distance definitions.
    */
  def exactTopK(emb: DataFrame, topK: Int = 3): DataFrame = {
    val pts = KMeans.quantizedPts(emb)
    val q = pts.filter(isQueryCol).select(col("vec_id").as("q_id"), col("fv").as("qv"))
    val c = pts.filter(!isQueryCol).select(col("vec_id").as("c_id"), col("fv").as("cv"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("d2"), col("c_id"))
    q.crossJoin(c)
      .withColumn("d2", expr("fixed_point_dist2(qv, cv)"))
      .withColumn("rnk", row_number().over(w).cast("int"))
      .filter(col("rnk") <= topK)
      .select(col("q_id"), col("rnk"), col("c_id"), col("d2"))
      .orderBy("q_id", "rnk")
  }

  /** Coarse-quantizer cells (x8's IVF pattern: `vec_id % CoarseK`
    * seeding over the corpus slice, ONE exact fixed-point centroid
    * update). The inverted-list key of the IVFADC search.
    */
  val CoarseK = 8

  /** Coarse cells each query visits — the standard IVF recall knob
    * (recall ceiling ≈ P(true neighbor's home list is among the NProbe
    * probed); scan cost NProbe/CoarseK of the corpus per query).
    */
  val NProbe = 2

  /** PRODUCTION coarse-list sizing: CoarseK ∝ √n (the x105 occupancy-
    * sizing precedent applied to IVF). With CoarseK fixed, per-query
    * candidate work is NProbe·n/CoarseK — linear in the corpus; with
    * CoarseK = √n it is NProbe·√n, and the per-query routing cost
    * (distance to every coarse centroid) is also √n — the classic IVF
    * balance point where neither side dominates as n grows (FAISS's own
    * guideline). The pqrecall table (BASELINE.md, Round 16) measured
    * the trade on the clustered fixture: CoarseK=32@NProbe=2 matched CoarseK=8's recall on
    * ~40% fewer candidates at 10×. Floored at the fixed ledger constant
    * so tiny corpora keep non-degenerate lists; the hash-gated ledger
    * rows (x108/x113) keep the FIXED geometry — their oracles interpolate
    * CoarseK — while the incremental stores are built at this geometry
    * ([[IncrementalPq.incrementalRerankTopKSized]], the production entry
    * point).
    */
  def sizedCoarseK(corpusSize: Long): Int =
    math.max(CoarseK, math.round(math.sqrt(corpusSize.toDouble)).toInt)

  /** Probes for the SIZED coarse geometry. With √n lists each list holds
    * ~√n vectors and a planted neighborhood spans a couple of them, so
    * NProbe = 2 leaves routing recall on the table; the pqrecall grid
    * (BASELINE.md, Round 18: IVFADC-R composed production default)
    * measured the ceiling at (√n lists, nProbe) on the
    * clustered fixture at 1×/3×/10×: np=2 → 0.972/0.975/0.951,
    * np=4 → 1.000/0.999/0.992 at candidate counts still growing ~√n
    * (212/321/741 cand/q). 4 is the knee.
    */
  val SizedNProbe = 4

  private[operators] val CoarseDist2 = "fixed_point_dist2(fv, cc)"

  /** The coarse stage alone: (rCorpus, qProbe) — home-cell residuals
    * for the corpus and per-probed-cell residuals for the queries.
    * Split from [[searchParts]] so the [[candidates]] accessor never
    * pays for PQ training it does not consume. The ledger rows pass the
    * fixed constants; the recall trade against √n lists
    * ([[sizedCoarseK]]) is in BASELINE.md, Round 17 pqrecall.
    */
  private def coarseParts(pts: DataFrame, coarseK: Int,
                          nProbe: Int): (DataFrame, DataFrame) = {
    val isQuery = isQueryCol
    // ONE exact centroid update from the corpus-slice seeding: coarseK
    // rows — a broadcast at any corpus size
    val coarse = pts.filter(!isQuery)
      .withColumn("ccell", pmod(col("vec_id"), lit(coarseK.toLong)).cast("int"))
      .groupBy(col("ccell"))
      .agg(graft.functions.ArrayExpressions.vectorSum(col("fv")).as("s"),
        count(lit(1)).as("n"))
      .select(col("ccell"),
        expr("transform(s, x -> cast(floor(x / cast(n as double)) as double))").as("cc"))
      .ckpt()
    // corpus: 1-NN home cell + residual — the argmin partial-aggregates
    // BEFORE the shuffle (n rows cross the broadcast, agg back to n)
    val rCorpus = pts.filter(!isQuery).crossJoin(broadcast(coarse))
      .withColumn("d2c", expr(CoarseDist2))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2c"), col("ccell"), col("fv"), col("cc"))).as("m"))
      .select(col("vec_id"), col("m.ccell").as("ccell"),
        expr("zip_with(m.fv, m.cc, (x, y) -> x - y)").as("fv"))
      // read by PQ training and the candidate build. ckptBy, NOT ckpt:
      // AQE coalesces the small-bytes argmin exchange to ONE partition,
      // and a plain ckpt freezes that width — every Lloyd iteration of
      // the residual PQ training then ran as a single 0.9-1.4 s task
      // (r21 stage profile of x108/x113/x114). The explicit-width
      // repartition inside ckptBy is never coalesced, so the CPU-heavy
      // train loop stays spread across every core.
      .ckptBy(graft.spreadWidth(pts.sparkSession), "vec_id")
    // queries: nProbe nearest cells, one residual PER PROBED CELL; the
    // rank window partitions are coarseK rows each (WindowGroupLimit
    // cuts at nProbe), never corpus-sized
    val wq = Window.partitionBy(col("vec_id")).orderBy(col("d2c"), col("ccell"))
    val qProbe = pts.filter(isQuery).crossJoin(broadcast(coarse))
      .withColumn("d2c", expr(CoarseDist2))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= nProbe)
      .select(col("vec_id").as("q_id"), col("ccell"),
        expr("zip_with(fv, cc, (x, y) -> x - y)").as("fv"))
      // read by the LUT and the candidate build. ckptBy like rCorpus:
      // AQE coalesces the small query side to ONE partition and a plain
      // ckpt froze that width — the LUT chain (explode ×NumSub, ×K
      // broadcast expansion, fixed-point d2) then ran as ~0.4 s
      // single-task stages (r22 stage profile of x114, the same disease
      // as the corpus side). A/B'd against a plain ckpt + explicit qSub
      // repartition: ckptBy won on x114 (5.5 vs 6.2 profile min) and was
      // noise-flat on x108/x113.
      .ckptBy(graft.spreadWidth(pts.sparkSession), "q_id")
    (rCorpus, qProbe)
  }

  /** Training + probe state of every ADC entry point: (lut, cand,
    * codes).
    *
    * This is IVFADC proper (Jégou et al. 2011 §IV): a full-dimension
    * coarse quantizer supplies the inverted lists AND the residuals —
    * a corpus vector re-expresses as (home cell, fv − home centroid)
    * and the PQ codebooks train on those RESIDUALS, the energy left
    * after the coarse quantizer explains the vector's position; a query
    * visits its NProbe nearest cells and residualizes PER PROBED CELL
    * (the ADC distance in list L compares residuals in L's frame).
    * The first cut of this operator probed on the sub-0 PQ code of raw
    * vectors: its ceiling measured ~0.17 (BASELINE.md, "Round-15
    * continuation: PQ ANN ... (x107-x111)"; one 8-dim subspace barely
    * predicts full-space proximity) — the
    * coarse/residual split and the multi-probe are not optimizations
    * but what makes PQ search work.
    */
  private def searchParts(pts: DataFrame, coarseK: Int,
                          nProbe: Int): (DataFrame, DataFrame, DataFrame) = {
    val (rCorpus, qProbe) = coarseParts(pts, coarseK, nProbe)
    val (cb, codes0) = train(subPtsOf(rCorpus))
    // the lazy final assignment, read twice (ADC join sides). ckptBy
    // keyed on the ADC join key: pins the width AQE would coalesce away
    // (the corpus encode otherwise materializes as one ~10 MB block and
    // single-task stages) AND makes the layout visible to the
    // cand⋈codes join.
    val codes = codes0.select(col("vec_id").as("c_id"), col("sub"), col("cell"))
      .ckptBy(graft.spreadWidth(pts.sparkSession), "c_id")
    // exact RESIDUAL distance table per (query, probed cell, sub, cell):
    // |queries|*NProbe*NumSub*K rows
    val qSub = qProbe.select(col("q_id"), col("ccell"),
        explode(expr(s"transform(sequence(0, ${NumSub - 1}), " +
          s"s -> struct(cast(s as int) AS sub, slice(fv, s * $SubDim + 1, $SubDim) AS sv))"))
          .as("p"))
      .select(col("q_id"), col("ccell"), col("p.sub").as("sub"), col("p.sv").as("sv"))
    val lut = qSub.join(broadcast(cb), Seq("sub"))
      .withColumn("d2", expr(Dist2Expr))
      .select(col("q_id"), col("ccell"), col("sub"), col("c_cell").as("cell"), col("d2"))
    // candidates: the probed inverted lists (a corpus vector has ONE home
    // cell, so (q_id, c_id) appears at most once across probes)
    val cand = qProbe.select(col("q_id"), col("ccell"))
      .join(rCorpus.select(col("vec_id").as("c_id"), col("ccell")), Seq("ccell"))
      .select(col("q_id"), col("ccell"), col("c_id"))
    (lut, cand, codes)
  }

  /** The coarse inverted-list membership (q_id, c_id) at the ledger
    * geometry: whatever the coarse probe does not list, ADC can never
    * return, so this IS the recall ceiling `AnnSizingSpec` asserts.
    */
  private[graft] def candidates(emb: DataFrame): DataFrame = {
    val (rCorpus, qProbe) = coarseParts(ptsCkpt(emb), CoarseK, NProbe)
    qProbe.select(col("q_id"), col("ccell"))
      .join(rCorpus.select(col("vec_id").as("c_id"), col("ccell")), Seq("ccell"))
      .select(col("q_id"), col("c_id"))
  }

  /** Members generated per planted cluster by [[clusteredFixture]]. */
  val ClusterMembers = 20

  /** Every `ClusterStride`-th corpus vector becomes a cluster center. */
  val ClusterStride = 20

  /** [[clusteredFixture]] member perturbation ε(m) = EpsBase + EpsStep·(m
    * % EpsMod) — hoisted so the Spark derivation and the x113 oracle CTE
    * interpolate ONE definition and cannot drift (the same rule as
    * ClusterStride/ClusterMembers). EpsMod < ClusterMembers on purpose:
    * ε repeats within a cluster, giving ties the (d2, id) break must
    * resolve deterministically.
    */
  val EpsBase = "0.05"
  val EpsStep = "0.02"
  val EpsMod = 7

  /** Member ids are `center_id · IdStride + m`; cluster identity is
    * recoverable as `vec_id div IdStride` by any engine (the x113
    * same_cluster flag on both sides of the gate).
    */
  val IdStride = 1000

  /** Deterministic CLUSTERED-NEIGHBOR fixture derived from the isotropic
    * embeddings corpus — the evaluation substrate the raw fixture cannot
    * be: iid draws in 64 dims have concentrated pairwise distances
    * (~1.3× min-to-max), so "recall" over them measures distance
    * concentration, not the index. Here every `ClusterStride`-th
    * dominant-dim corpus vector v becomes a cluster CENTER that emits
    * [[ClusterMembers]] members
    *
    *   w(m) = v + ε(m)·shift(v, m+1),   ε(m) = 0.05 + 0.02·(m % 7)
    *
    * (shift = cyclic component rotation — a deterministic, pure-columnar
    * perturbation). Within-cluster distances are ≤ (ε_i+ε_j)·|v| ≈ 0.34·|v|
    * while cross-cluster distances stay ≳ |v| (isotropic centers are
    * near-orthogonal), so each member's exact top-k neighbors for
    * k < members-per-cluster are its OWN cluster siblings, with a real
    * ranked order induced by the varying ε — a known neighbor graph.
    * Member ids are `center_id·1000 + m`, so the x98/x108 held-out rule
    * (vec_id % 10 = 7) makes members m ∈ {7, 17} of every cluster the
    * queries and the other 18 the corpus, and cluster identity is
    * recoverable as `vec_id div 1000` by any engine. Double arithmetic
    * is one mul + one add per component from literal ε — bit-identical
    * in Spark and DuckDB, so the derivation (and everything trained on
    * it) hash-gates.
    */
  def clusteredFixture(emb: DataFrame): DataFrame = {
    val base = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val domDim = base.groupBy(size(col("v")).as("sz")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("sz")).limit(1).select(col("sz").as("dom_sz"))
    base.join(broadcast(domDim), size(col("v")) === col("dom_sz"))
      .filter(pmod(col("vec_id"), lit(ClusterStride.toLong)) === 0)
      .select(col("vec_id").as("g"), col("v"),
        explode(expr(s"sequence(0, ${ClusterMembers - 1})")).as("m"))
      .select((col("g") * IdStride + col("m")).as("vec_id"),
        expr(s"transform(v, (x, i) -> x + (${EpsBase}d + ${EpsStep}d * cast(m % $EpsMod as double)) " +
          "* element_at(v, ((i + m + 1) % size(v)) + 1))").as("embedding"))
  }

  /** x108: IVFADC top-k search (coarse quantizer + residual PQ + ADC).
    * The coarse quantizer and the PQ codebooks train on the corpus
    * slice only (vec_id % 10 != 7 — x98's held-out split, so queries
    * never leak into the model); corpus vectors compress to (home
    * cell, NumSub residual codes); each query probes its NProbe
    * nearest coarse cells, residualizes PER PROBED CELL, builds its
    * exact LUT against the broadcast residual codebook, scans the
    * probed inverted lists (~NProbe·n/CoarseK candidates), and ranks
    * candidates by the ADC distance (exact-query-side,
    * quantized-corpus-side), ties by candidate id.
    * (q_id, rnk, c_id, adc_d2).
    *
    * NOTE: this is the hash-gated ledger surface (fixed geometry), NOT
    * the production default — plain ADC ranking saturates at recall@10
    * ≈ 0.66 on the clustered fixture. Production callers want exact
    * re-ranking at the √n geometry
    * ([[IncrementalPq.incrementalRerankTopKSized]]).
    */
  def adcTopK(emb: DataFrame, topK: Int = 3, coarseK: Int = CoarseK,
              nProbe: Int = NProbe): DataFrame = {
    val adc = adcScores(ptsCkpt(emb), coarseK, nProbe)
    // per-query partitions are inverted-list-bounded, never corpus-sized
    val w = Window.partitionBy(col("q_id")).orderBy(col("adc_d2"), col("c_id"))
    adc.withColumn("rnk", row_number().over(w).cast("int"))
      .filter(col("rnk") <= topK)
      .select(col("q_id"), col("rnk"), col("c_id"), col("adc_d2"))
      .orderBy("q_id", "rnk")
  }

  /** Summed ADC distances over the probed inverted lists: (q_id, c_id,
    * adc_d2) — the scoring stage [[adcTopK]] and [[adcRerankTopK]] share.
    */
  private def adcScores(pts: DataFrame, coarseK: Int, nProbe: Int): DataFrame = {
    val (lut, cand, codes) = searchParts(pts, coarseK, nProbe)
    cand.join(codes, Seq("c_id"))
      .join(lut, Seq("q_id", "ccell", "sub", "cell"))
      .groupBy(col("q_id"), col("c_id"))
      .agg(sum(col("d2")).as("adc_d2"))
  }

  /** ADC-shortlist size multiple used by [[adcRerankTopK]]'s default
    * (shortlist = RerankFactor · topK).
    */
  val RerankFactor = 4

  /** x114: IVFADC search WITH exact re-ranking (Jégou et al. 2011 §V's
    * refinement step, the "IVFADC-R" production configuration). The
    * measurement that motivates it: on the clustered fixture the coarse
    * probe ceiling is 0.98-1.00 and 99% of returned hits land in the
    * RIGHT cluster, yet ADC-ranked recall@10 saturates at ~0.66 at BOTH
    * K=16 and K=256 — the residual code (any practical size) cannot
    * resolve the ε-graded ordering BETWEEN true neighbors, only separate
    * neighbors from non-neighbors. So resolution is recovered where it
    * is cheap: ADC ranks the probed lists and keeps a per-query
    * shortlist of `shortlist` ids (RerankFactor·topK by default), and
    * only those re-rank by EXACT fixed-point distance against the
    * stored full vectors.
    *
    * '''Scale shape''': the shortlist join touches shortlist·|queries|
    * full vectors — a per-query CONSTANT (not corpus-scaled) re-read,
    * the standard memory/recall trade every production IVFADC deployment
    * ships. Everything stays exact integers, so the whole chain
    * (coarse → residual PQ → ADC shortlist → exact re-rank) hash-gates
    * and replays in DuckDB.
    */
  def adcRerankTopK(emb: DataFrame, topK: Int = 3, coarseK: Int = CoarseK,
                    nProbe: Int = NProbe, shortlist: Int = 0): DataFrame = {
    val l = if (shortlist > 0) shortlist else RerankFactor * topK
    // ONE pts materialization: the ADC stage AND both exact re-rank join
    // sides read it — before the ptsCkpt threading the quantize chain
    // (plus x114's clusteredFixture explode) re-evaluated once per
    // consumer (~35 s of duplicated task time in the r22 stage profile)
    val pts = ptsCkpt(emb)
    val adc = adcScores(pts, coarseK, nProbe)
    val ws = Window.partitionBy(col("q_id")).orderBy(col("adc_d2"), col("c_id"))
    val short = adc.withColumn("srnk", row_number().over(ws))
      .filter(col("srnk") <= l)
      .select(col("q_id"), col("c_id"))
    // exact re-rank against the STORED full fixed-point vectors — the
    // same quantizedPts relation every stage upstream derives from
    val ex = short
      .join(pts.select(col("vec_id").as("q_id"), col("fv").as("qv")), Seq("q_id"))
      .join(pts.select(col("vec_id").as("c_id"), col("fv").as("cv")), Seq("c_id"))
      .withColumn("d2", expr("fixed_point_dist2(qv, cv)"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("d2"), col("c_id"))
    ex.withColumn("rnk", row_number().over(w).cast("int"))
      .filter(col("rnk") <= topK)
      .select(col("q_id"), col("rnk"), col("c_id"), col("d2"))
      .orderBy("q_id", "rnk")
  }
}
