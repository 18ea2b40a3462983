package graft.operators

import graft.CkptOps

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._

/** Sketch aggregates (HyperLogLog++ distinct counting, GK-sketch
  * approximate percentiles) alongside their exact counterparts, in the
  * same oracle-the-invariants form as the compression profile: the sketch
  * VALUES are engine-internal (another engine's HLL gives different
  * estimates), but the exact columns hash-check against DuckDB and the
  * tolerance booleans pin the sketches' accuracy contract — a sketch
  * drifting outside its error bound fails the driver gate.
  *
  * Scale rationale: both sketches are the 100-TB path for their exact
  * twins — countDistinct expands to a two-phase shuffle of every distinct
  * value, and exact percentile collects per-group value arrays; HLL++ is
  * a fixed few-KB buffer per group and the quantile summary is bounded by
  * 1/accuracy, both merged map-side.
  */
object Sketch {

  /** |approx − exact| ≤ max(relTol·|exact|, absTol): the absolute floor
    * matters at SMALL cardinalities, where an HLL estimate a handful off
    * a two-digit count blows a purely relative gate (observed: a 25-value
    * group estimated outside ±10% at sf0.001) without the sketch being
    * out of contract.
    */
  private def within(approx: Column, exact: Column, relTol: Double, absTol: Double): Column =
    abs(approx.cast("double") - exact.cast("double")) <=
      greatest(lit(relTol) * abs(exact.cast("double")), lit(absTol))

  /** Per-source distinct-length and median-length stats: exact values
    * (oracled) + sketch-within-tolerance booleans. rsd 2% HLL++ against a
    * 10%-or-±8 gate; percentile_approx at accuracy 10000 against a
    * 10%-or-±8 gate.
    *
    * The exact twins are computed from a pre-reduced LENGTH HISTOGRAM
    * (`groupBy(source, n_chars)` → counts), not per-group value arrays:
    * `count(*)` over the histogram IS the exact distinct count, and the
    * frequency-weighted `percentile(n_chars, 0.5, cnt)` IS the exact
    * interpolated median — same results, but aggregate state bounded by
    * distinct lengths per source (map-side-combined) instead of one entry
    * per ROW per group. The sketches still run over the raw rows: they are
    * the honest streaming path whose accuracy the booleans pin.
    *
    * NULL semantics match the single-groupBy form and SQL: a NULL n_chars
    * row counts toward n_docs but NOT toward nd_exact (count(n_chars)
    * over the histogram skips the NULL group, like count(DISTINCT ...));
    * percentile already ignores NULL inputs; and the exact/approx halves
    * rejoin on NULL-SAFE source equality so a NULL source group survives
    * the join exactly as it survives one groupBy.
    */
  def sketchStats(docs: DataFrame): DataFrame = {
    val base = docs.select(col("source"), col("n_chars"))
    val exact = base.groupBy(col("source"), col("n_chars"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("source"))
      .agg(
        sum(col("cnt")).as("n_docs"),
        count(col("n_chars")).as("nd_exact"),
        round(expr("percentile(n_chars, 0.5, cnt)"), 6).as("p50_exact"))
    val approx = base.groupBy(col("source"))
      .agg(
        approx_count_distinct(col("n_chars"), 0.02).as("_nd_approx"),
        expr("percentile_approx(n_chars, 0.5, 10000)").as("_p50_approx"))
      .withColumnRenamed("source", "_source_a")
    exact.join(approx, col("source") <=> col("_source_a")).drop("_source_a")
      .select(col("source"), col("n_docs"), col("nd_exact"),
        within(col("_nd_approx"), col("nd_exact"), 0.10, 8.0).as("nd_sketch_ok"),
        col("p50_exact"),
        within(col("_p50_approx"), col("p50_exact"), 0.10, 8.0).as("p50_sketch_ok"))
      .orderBy("source")
  }

  /** x76: HEAVY HITTERS — exact top-`k` token frequencies next to their
    * Count-Min sketch estimates, completing the sketch family (x27 pins
    * distinct-count + quantile sketches; this pins the frequency
    * sketch). The CMS is the fixed-memory streaming path (depth·width
    * counters regardless of vocabulary — at 100 TB the exact token
    * aggregate shuffles the whole vocabulary, the sketch ships ~KBs and
    * merges associatively); the exact aggregate is the truth the
    * invariant booleans pin: a CMS NEVER under-counts (`est >= exact`
    * deterministically — the sketch only adds collisions) and with
    * eps = 10^-4 the over-count stays inside a 100·eps·N slack
    * (probability of violating that margin across depth-5 rows is
    * ~(100e)^-5 per token — astronomically safe as a gate, unlike the
    * 1-delta single-eps bound, which flips ~1% of rows by design).
    * Fully in-plan, zero driver round-trips: Spark's `count_min_sketch`
    * aggregate ships an opaque binary with no SQL read side, so the
    * custom [[graft.functions.ArrayExpressions.CmsEstimate]] expression
    * provides the read half — the 1-row (total, sketch) aggregate joins
    * the top-k as a broadcast literal (the documented q29/x8 pattern)
    * and the estimates are probed inside codegen. ONE tokenize scan is
    * materialized and feeds both the exact token shuffle and the fused
    * total+CMS aggregate (eps=1e-4, conf=0.99 -> width 27183 x depth 5
    * counters, fixed memory at any corpus size).
    */
  /** x83: MERGEABLE distinct-count sketches — the cross-shard
    * cardinality pattern a 1000-executor ingest actually runs: each
    * source builds its own DataSketches HLL over its tokens
    * (`hll_sketch_agg`, the binary a shard would PERSIST), and the
    * global vocabulary estimate comes from UNIONING those per-source
    * binaries (`hll_union_agg`) — never from re-scanning the corpus.
    * This is the capability `approx_count_distinct` (x27) cannot
    * express: its partial state is internal to one aggregate, while the
    * DataSketches binary is an interchange format that merges across
    * jobs, days, and storage. The union estimate gates against the
    * exact global distinct (lgK=14 → rsd 0.81%; the 5%-or-±16 gate has
    * astronomical headroom), per-source exact counts hash-check, and
    * `sum(nd_exact_src) >= nd_union_exact` pins that the union really
    * deduplicates across sources (strict at any overlap).
    */
  def mergeableVocab(docs: DataFrame): DataFrame = {
    // ONE corpus scan: every downstream quantity (per-source sketch,
    // per-source exact, global exact) derives from the distinct
    // (source, token) relation — HLL is duplicate-insensitive, so
    // sketching the deduped pairs gives the identical sketch, and the
    // pair relation (Σ per-source vocab, corpus-independent once
    // vocabularies saturate) is cheap to materialize for its two reads
    val pairs = docs
      .select(col("source"), explode(split(lower(col("text")), "\\s+")).as("token"))
      .filter(col("token") =!= "")
      .distinct()
      .ckpt()
    val perSource = pairs.groupBy(col("source"))
      .agg(expr("hll_sketch_agg(token, 14)").as("sk"),
        count(lit(1)).as("nd_src"))
    val unioned = perSource.agg(
      count(lit(1)).as("n_sources"),
      sum(col("nd_src")).as("sum_nd_src"),
      expr("hll_sketch_estimate(hll_union_agg(sk, true))").as("_est"))
    val exact = pairs.agg(countDistinct(col("token")).as("nd_union_exact"))
    exact.crossJoin(broadcast(unioned))
      .select(col("n_sources"), col("sum_nd_src"), col("nd_union_exact"),
        within(col("_est"), col("nd_union_exact"), 0.05, 16.0).as("union_ok"),
        (col("sum_nd_src") >= col("nd_union_exact")).as("dedup_ok"))
  }

  def heavyHitters(docs: DataFrame, k: Int = 10): DataFrame = {
    // ONE tokenize pass: the exact top-k groupBy and the fused total+CMS
    // aggregate need different shuffle keys (token vs global), so no
    // exchange reuse can join them — materialize the exploded token
    // relation instead and read it twice. At 100 TB the corpus scan +
    // explode dominates; paying it once instead of twice halves the
    // operator's scan cost (round-12 finding).
    val toks = graft.ckpt(docs
      .select(explode(split(lower(col("text")), "\\s+")).as("token"))
      .filter(col("token") =!= ""))
    val top = toks.groupBy(col("token")).agg(count(lit(1)).as("c_exact"))
      .orderBy(col("c_exact").desc, col("token")).limit(k)
    val glob = toks
      .agg(count(lit(1)).as("total"),
        expr("count_min_sketch(token, CAST(0.0001 AS DOUBLE), CAST(0.99 AS DOUBLE), 42)")
          .as("sk"))
    top.crossJoin(broadcast(glob))
      .withColumn("est", graft.functions.ArrayExpressions.cmsEstimate(col("sk"), col("token")))
      .withColumn("slack",
        greatest(lit(1L), floor(col("total") * lit(100.0 * 0.0001)).cast("long")))
      .select(col("token"), col("c_exact"),
        (col("est") >= col("c_exact") && col("est") <= col("c_exact") + col("slack"))
          .as("cms_ok"))
      .orderBy(col("c_exact").desc, col("token"))
  }

  /** x95: sketch-based JOIN-SIZE estimation — the planner statistic a
    * 100-TB engine consults before committing to a join strategy. The
    * Count-Min inner product (Cormode & Muthukrishnan 2005, §4.2)
    * estimates |A ⋈ B| = Σ_k a(k)·b(k) from two mergeable O(depth·width)
    * summaries WITHOUT touching the join itself; the self-join size of
    * lineitem on l_partkey estimated here is exactly the quantity x75's
    * co-purchase edge build pays for real, and the quantity that decides
    * broadcast vs shuffle vs abort at plan time.
    *
    * Estimate_i = Σ_j cell_i[j]² per depth row, est = min_i — every
    * collision term c_k·c_k' is nonnegative, so est ≥ exact is a hard
    * guarantee (spec-pinned), and the CM bound caps the overshoot at
    * ε·(Σc)² with probability 1−δ per row.
    *
    * Determinism is why this is a RELATION, not Spark's
    * `count_min_sketch` binary: the built-in seeds XXH64 into an opaque
    * engine-specific layout (x76 gates it with invariant booleans for
    * that reason); here cells are (depth, md5-position) rows — both
    * engines compute identical positions, so the ESTIMATE itself
    * hash-gates. Plan shape: one map-side-combined key-count aggregate
    * (ckpt'd — read by the exact side and the sketch side), a bounded
    * explode(depth), and aggregates over ≤ depth·width cells; the
    * sketch is mergeable across shards by cell-wise addition
    * (spec-pinned: sketch(A∪B) = sketch(A) + sketch(B)).
    */
  def joinSizeEstimate(li: DataFrame, depth: Int = 5, width: Int = 8192): DataFrame = {
    val keyCounts = graft.ckpt(li
      .groupBy(col("l_partkey").as("k")).agg(count(lit(1)).as("c")))
    val exact = keyCounts.agg(
      count(lit(1)).as("n_keys"),
      sum(col("c")).as("n_rows"),
      sum(col("c") * col("c")).as("exact_join_rows"))
    val est = sketchCells(keyCounts, depth, width)
      .groupBy(col("i")).agg(sum(col("cell") * col("cell")).as("est_i"))
      .agg(min(col("est_i")).as("est_join_rows"))
    exact.crossJoin(broadcast(est))
      .select(col("n_keys"), col("n_rows"), col("exact_join_rows"),
        col("est_join_rows"))
  }

  /** x105: [[joinSizeEstimate]] with the width OCCUPANCY-SIZED instead of
    * fixed — the production default x95's own scale study demanded: with
    * a fixed 8192-cell width, est/exact degraded 3.3 → 24.6 as 10× the
    * keys packed the same cells (BASELINE.md's fill-degradation law).
    * Here the width scales with the key cardinality (the way x51 sizes
    * LSH bits from occupancy), so the collision inflation — roughly
    * (1 + n_keys/width) for even counts — is pinned to a CONSTANT
    * ≈ 1.125 at every corpus size until the 2²⁰ memory cap.
    *
    * The cardinality probe is a deterministic hash-sample estimator
    * (keys whose md5 position ≡ 0 (mod 64), scaled back up — linear
    * counting's sampled form): one extra aggregate over the already-
    * reduced key-count relation, exact integer arithmetic, so BOTH the
    * chosen width and the resulting estimate replay verbatim in the
    * oracle. (`approx_count_distinct`/HLL — x27/x83 — is the same
    * statistic, but its estimate is engine-specific; determinism is the
    * reason the whole row can hash-gate.) Width sizing is pure integers:
    * 8× the estimated cardinality rounded up to a 1024 multiple, clamped
    * to [2¹⁰, 2²⁰]. The 1-row probe read is the convergence-probe idiom,
    * never a data collect.
    */
  def sizedJoinSizeEstimate(li: DataFrame, depth: Int = 5): DataFrame = {
    val keyCounts = graft.ckpt(li
      .groupBy(col("l_partkey").as("k")).agg(count(lit(1)).as("c")))
    val ndEst = keyCounts
      .filter(expr("cast(conv(substring(md5(concat('ndk:', cast(k as string))), " +
        "1, 15), 16, 10) as bigint) % 64 = 0"))
      .agg(count(lit(1))).head.getLong(0) * 64
    val width = math.min(1048576L, math.max(1024L, 1024L * ((8 * ndEst + 1023) / 1024)))
    val exact = keyCounts.agg(
      count(lit(1)).as("n_keys"),
      sum(col("c")).as("n_rows"),
      sum(col("c") * col("c")).as("exact_join_rows"))
    val est = sketchCells(keyCounts, depth, width.toInt)
      .groupBy(col("i")).agg(sum(col("cell") * col("cell")).as("est_i"))
      .agg(min(col("est_i")).as("est_join_rows"))
    exact.crossJoin(broadcast(est))
      .select(col("n_keys"), col("n_rows"), col("exact_join_rows"),
        lit(ndEst).as("nd_est"), lit(width).as("width"), col("est_join_rows"))
  }

  /** The deterministic CMS cell relation over a reduced `(k, c)` count
    * table: depth md5 positions per key, cell = Σ c. ≤ depth·width rows.
    */
  private[graft] def sketchCells(keyCounts: DataFrame, depth: Int,
                                 width: Int): DataFrame =
    keyCounts
      .select(explode(expr(
        s"""transform(sequence(0, ${depth - 1}), i -> named_struct(
           |  'i', i,
           |  'j', cast(conv(substring(md5(concat(
           |         'cms', cast(i as string), ':', cast(k as string))),
           |       1, 15), 16, 10) as bigint) % $width))""".stripMargin)).as("ij"),
        col("c"))
      .groupBy(col("ij.i").as("i"), col("ij.j").as("j"))
      .agg(sum(col("c")).as("cell"))
}
