package graft.queries

import graft.CkptOps
import graft.operators.{Dedup, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end training-data curation: the extension operators composed the
  * way a real pipeline chains them — quality gate → near-duplicate removal
  * (MinHash-LSH, keep the lowest doc_id of each duplicate pair) → join with
  * the embedding store → per-source retention report. One lazy DAG; every
  * stage is the already-tested operator, so this query exercises
  * composition, not new logic.
  */
object Curation {

  def pipeline(spark: SparkSession, docs: DataFrame, embeddings: DataFrame,
               minQuality: Double = 0.05, dupThreshold: Double = 0.6): DataFrame = {
    // 1. quality gate — the score computed AS A COLUMN on the doc scan
    //    (same formula as qualityStats via TextAnalysis.qualityScore); the
    //    earlier qualityStats-then-self-join form paid a second documents
    //    scan, a shuffle join on doc_id, and qualityStats' global sort,
    //    all to attach one column the scan can compute in place
    val gated = docs
      .withColumn("quality_score", TextAnalysis.qualityScoreOn(col("text")))
      .filter(col("quality_score") >= minQuality)
    // 2. near-dup removal: every doc_b of a verified LSH pair drops
    //    (doc_a < doc_b, so the lowest id of each cluster survives)
    val losers = Dedup.minhashLshPairs(docs, threshold = dupThreshold)
      .select(col("doc_b").as("doc_id")).distinct()
    val deduped = gated.join(losers, Seq("doc_id"), "left_anti")
    // 3. attach embeddings (inner: curated set must be embeddable)
    val withEmb = deduped.join(
      embeddings.select(col("vec_id").as("doc_id"), col("embedding")), "doc_id")
    // 4. retention report per source
    val total = docs.groupBy(col("source")).agg(count(lit(1)).as("n_total"))
    // avg over micro-quantized scores, not avg(double): quality_score is
    // already round-6 (qualityScoreOn), so floor(qs·1e6 + 0.5) is its exact
    // integer form, the sum is exact in Long, and the average no longer
    // depends on partition-merge order — which makes the whole pipeline
    // DuckDB-reproducible (a float-sum average over partition-ordered
    // addition can't reliably hash-match a serial oracle; cf. x14's
    // dropped avg_channel_mean)
    withEmb.groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"),
        sum(col("n_chars")).as("kept_chars"),
        round(sum(floor(col("quality_score") * lit(1000000.0) + lit(0.5)))
          .cast("double") / count(lit(1)) / lit(1000000.0), 6).as("avg_quality"))
      .join(total, "source")
      .withColumn("retention", round(col("n_kept").cast("double") / col("n_total"), 6))
      .select("source", "n_total", "n_kept", "kept_chars", "avg_quality", "retention")
      .orderBy("source")
  }

  /** x44: the fully-oracled sibling of [[pipeline]] — the same curation
    * DAG with every stage chosen DETERMINISTIC and SQL-expressible, so the
    * whole composed funnel (not just each operator) sits in the driver's
    * hash gate. Stages, in production order:
    *
    *  1. eval holdout removal (doc_id % 17 == 3, the x33 benchmark slice);
    *  2. PII scrub (x32's triple redaction — downstream stages see CLEAN
    *     text, the order a real pipeline enforces);
    *  3. quality gate: >= `minTokens` whitespace tokens of clean text (the
    *     length filter every pipeline runs first; the fixture's salads
    *     carry no PII/punct signal, so length IS the discriminating gate);
    *  4. exact near-dup removal: keep the min doc_id per md5 of the first
    *     40 clean chars (x2's normalized key — deterministic, unlike LSH);
    *  5. decontamination: drop survivors sharing an 8-token clean-text
    *     gram with the held-out slice (x33's join, clean-text both sides);
    *  6. x30's hash split over the survivors.
    *
    * Output: one funnel row per source. Every count is recomputable by
    * DuckDB from the original table, so a regression ANYWHERE in the
    * composition — regex drift, hash drift, gram drift, stage reorder —
    * breaks the driver gate, not just a unit test.
    *
    * Scale shape: stages 1-4 are one scan + one aggregation on the norm
    * key + one broadcast-free semi-join structure identical to x2/x32;
    * stage 5 reuses x33's distinct-gram explode with the bounded eval side
    * broadcast; stage 6 is a pure projection. No stage materializes, the
    * whole funnel is one lazy DAG.
    */
  def oracledFunnel(spark: SparkSession, dir: String, minTokens: Int = 40): DataFrame = {
    val docs = graft.Tables.load(spark, dir, "documents")
    val clean = regexp_replace(regexp_replace(regexp_replace(col("text"),
      TextAnalysis.EmailRe, "<EMAIL>"), TextAnalysis.Ipv4Re, "<IP>"),
      TextAnalysis.PhoneRe, "<PHONE>")
    val corpus = docs.filter(col("doc_id") % 17 =!= 3)
      .select(col("doc_id"), col("source"), clean.as("clean"))
    val evalSlice = docs.filter(col("doc_id") % 17 === 3)
      .select(col("doc_id"), clean.as("clean"))

    val toks = filter(TextAnalysis.tokens(lower(col("clean"))), t => t =!= "")
    val gated = corpus.filter(size(toks) >= minTokens)
    val keepers = gated
      .withColumn("norm_key", md5(substring(col("clean"), 1, 40)))
      .withColumn("_rk", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("norm_key")).orderBy(col("doc_id"))))
      .filter(col("_rk") === 1).drop("_rk", "norm_key")

    def grams(d: DataFrame) = d
      .select(col("doc_id"), toks.as("t"))
      .select(col("doc_id"), explode(array_distinct(expr(
        "case when size(t) >= 8 then transform(sequence(1, size(t) - 7), " +
          "i -> array_join(slice(t, i, 8), ' ')) else array() end"))).as("gram"))
    val contaminated = grams(keepers)
      .join(broadcast(grams(evalSlice).select(col("gram")).distinct()), "gram")
      .select(col("doc_id")).distinct()
    val survivors = keepers.join(contaminated, Seq("doc_id"), "left_anti")

    val bucket = pmod(graft.operators.Sampling.multHash(col("doc_id")), lit(100L))
    val funnel = docs.groupBy(col("source")).agg(
        count(lit(1)).as("n_input"),
        count(when(col("doc_id") % 17 =!= 3, 1)).as("n_corpus"))
      .join(gated.groupBy(col("source")).agg(count(lit(1)).as("n_quality")), Seq("source"), "left")
      .join(keepers.groupBy(col("source")).agg(count(lit(1)).as("n_dedup")), Seq("source"), "left")
      .join(survivors.groupBy(col("source")).agg(
          count(lit(1)).as("n_clean"),
          count(when(bucket < 80, 1)).as("n_train"),
          count(when(bucket >= 80 && bucket < 90, 1)).as("n_val"),
          count(when(bucket >= 90, 1)).as("n_test")),
        Seq("source"), "left")
    funnel.select(col("source"), col("n_input"), col("n_corpus"),
        coalesce(col("n_quality"), lit(0L)).as("n_quality"),
        coalesce(col("n_dedup"), lit(0L)).as("n_dedup"),
        coalesce(col("n_clean"), lit(0L)).as("n_clean"),
        coalesce(col("n_train"), lit(0L)).as("n_train"),
        coalesce(col("n_val"), lit(0L)).as("n_val"),
        coalesce(col("n_test"), lit(0L)).as("n_test"))
      .orderBy("source")
  }

  /** x100: the round-14 curation funnel — the new gates composed into one
    * oracled pipeline, proving they stack the way a production run
    * stacks them: (1) Tukey-fence length gate per language (x97's
    * row-level form — robust, self-calibrating); (2) FUZZY benchmark
    * decontamination of the survivors (x96 — near-dups of any eval doc
    * drop, with "near" = x4's exact LSH pipeline RUN ON THE GATED SET,
    * not a pre-gate pair list: bucket occupancy, star hubs, and
    * therefore candidates legitimately differ after gating), and the
    * eval slice itself leaves the pool; (3) DSIR importance selection
    * over what remains (x90 — the hashed-bigram model trains on the
    * surviving target slice vs the surviving raw pool, top-20% of raw
    * kept). Every stage is deterministic, so the COMPOSITION sits in
    * the driver's hash gate end to end (the x44 posture for the
    * round-14 operator set).
    *
    * Output: the per-source funnel audit — input count, post-gate count,
    * post-decontam pool count, selected count, and the exact integer sum
    * of selected weights (targets show 0 selected: DSIR selects from the
    * raw pool; the target slice is its reference, not a candidate).
    */
  def roundFourteenFunnel(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.load(spark, dir, "documents")
    // read three times (decontam, pool, stage count); materialized
    // because the decontam's shingling spreads it (spreadNarrow takes
    // exchange-free input, and the fence join is not)
    val kept1 = graft.operators.Quantiles.iqrKeptDocs(docs).ckpt()
    val contaminated = TextAnalysis.fuzzyContamination(kept1)
      .select(col("doc_id"))
    val pool = kept1.filter(col("doc_id") % 17 =!= 3)
      .join(contaminated, Seq("doc_id"), "left_anti")
      .ckpt() // read by the DSIR scorer AND three rollup branches
    val sel = TextAnalysis.dsirSelect(pool)
      .filter(col("selected"))
      .join(pool.select(col("doc_id"), col("source")), "doc_id")
    docs.groupBy(col("source")).agg(count(lit(1)).as("n_input"))
      .join(kept1.groupBy(col("source")).agg(count(lit(1)).as("n_length_ok")),
        Seq("source"), "left")
      .join(pool.groupBy(col("source")).agg(count(lit(1)).as("n_pool")),
        Seq("source"), "left")
      .join(sel.groupBy(col("source")).agg(count(lit(1)).as("n_selected"),
          sum(col("weight_micro")).as("w_selected")),
        Seq("source"), "left")
      .select(col("source"), col("n_input"),
        coalesce(col("n_length_ok"), lit(0L)).as("n_length_ok"),
        coalesce(col("n_pool"), lit(0L)).as("n_pool"),
        coalesce(col("n_selected"), lit(0L)).as("n_selected"),
        coalesce(col("w_selected"), lit(0L)).as("w_selected"))
      .orderBy("source")
  }
}
