package graft.operators

import graft.CkptOps

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** x109/x110: a TRAINED document-quality classifier — the
  * fastText-style learned gate every production curation pipeline runs
  * after its hand-written heuristics (weak labels in, linear model out,
  * corpus scored by the model). Here the model is a batch perceptron
  * (Rosenblatt 1958; the batch formulation sums all misclassified
  * updates per epoch), which keeps the whole loop in EXACT integer
  * arithmetic: features are raw integer counts, labels are ±1 from a
  * deterministic weak-supervision rule, and each round's update is one
  * order-free integer sum — so the learned weights, the per-round
  * update counts, and the final confusion matrix all hash-gate and the
  * three training rounds unroll verbatim in DuckDB (the x75/x91/x102
  * pattern). No sigmoid anywhere: transcendental math is what would
  * break cross-engine exactness, and the perceptron needs none.
  *
  * '''Features''' (per doc, exact integers, x10's token definitions):
  * char count, whitespace-token count, punct count, digit count,
  * English-stopword hits, and a constant bias. '''Weak labels''':
  * y = +1 iff the doc is stopword-dense (5·stop ≥ tokens) AND not
  * digit-heavy (10·digits ≤ chars) — the conjunction is NOT linear in
  * the features, so the perceptron genuinely approximates it rather
  * than reading the answer off one coordinate.
  *
  * '''Training round''' i: margin mᵢ = y·(w·x) (exact integer);
  * UPDATE SET = rows with m ≤ 0 (w₀ = 0 makes round 1 the classic
  * all-rows sum); w ← w + Σ y·x over the update set (learning rate 1
  * keeps everything integral). Magnitude bound: |w| ≤ iters·n·|x|max
  * and |w·x| ≤ 6·|w|·|x|max ≈ 6·iters·n·|x|max² — int64-safe while
  * n·|x|max² ≲ 5·10¹⁷, e.g. 10¹¹ docs of ≤ 10³ chars at 3 rounds.
  * Past that, the production levers are the standard ones (clamp the
  * count features to a cap, or scale the update by a power-of-two
  * learning rate) — the exactness argument itself is unchanged, only
  * the headroom arithmetic.
  *
  * '''Scale shape''': ONE map-side-combined aggregate per round over
  * the ckpt'd feature relation (6 sums + a count — bytes per partition
  * regardless of corpus size); the weight vector is model parameters,
  * 6 longs on the driver (the Bpe merge-table rule: bounded by
  * construction, the one thing that legitimately lives there). Scoring
  * (x110) is a stateless projection + one aggregation keyed by source —
  * no joins, no windows, nothing driver-side but the 6 weights.
  */
object Classifier {

  /** Training rounds (unrolled identically in the oracle). */
  val Iters = 3

  /** One training round's outcome: epoch, update-set size, weights
    * AFTER the update, in feature order (chars, tokens, punct, digits,
    * stopwords, bias).
    */
  private final case class Round(iter: Int, nUpdates: Long, w: Array[Long])

  /** Integer feature relation: (doc_id, source, f_c, f_t, f_p, f_d,
    * f_s, y) — x10's count definitions plus the weak label.
    */
  private def features(docs: DataFrame): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    docs.select(col("doc_id"), col("source"),
        length(col("text")).cast("long").as("f_c"),
        size(toks).cast("long").as("f_t"),
        size(expr("regexp_extract_all(text, '[.,!?;:]', 0)")).cast("long").as("f_p"),
        size(expr("regexp_extract_all(text, '[0-9]', 0)")).cast("long").as("f_d"),
        TextAnalysis.hits(toks, TextAnalysis.Lexicons("en")).cast("long").as("f_s"))
      .withColumn("y",
        when(lit(5L) * col("f_s") >= col("f_t") && lit(10L) * col("f_d") <= col("f_c"), 1L)
          .otherwise(-1L))
  }

  /** w·x under weight vector `w` (bias last). */
  private def score(w: Array[Long]) =
    lit(w(0)) * col("f_c") + lit(w(1)) * col("f_t") + lit(w(2)) * col("f_p") +
      lit(w(3)) * col("f_d") + lit(w(4)) * col("f_s") + lit(w(5))

  /** `iters` batch-perceptron rounds over the ckpt'd feature relation;
    * one 7-value aggregate per round.
    */
  private def trainRounds(f: DataFrame, iters: Int): Seq[Round] = {
    var w = Array.fill(6)(0L)
    val rounds = Seq.newBuilder[Round]
    for (i <- 1 to iters) {
      // the 1-row model-update aggregate (the convergence-probe idiom,
      // not a data collect)
      val g = f.filter(col("y") * score(w) <= 0)
        .agg(count(lit(1)).as("nu"),
          sum(col("y") * col("f_c")), sum(col("y") * col("f_t")),
          sum(col("y") * col("f_p")), sum(col("y") * col("f_d")),
          sum(col("y") * col("f_s")), sum(col("y")))
        .head()
      val grad = (1 to 6).map(j => if (g.isNullAt(j)) 0L else g.getLong(j))
      w = w.zip(grad).map { case (a, b) => a + b }
      rounds += Round(i, g.getLong(0), w.clone())
    }
    rounds.result()
  }

  /** x109: the training trace — (iter, n_updates, w_chars, w_tokens,
    * w_punct, w_digits, w_stop, w_bias), one row per round.
    */
  def trainTable(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    trainRounds(features(docs).ckpt(), Iters)
      .map(r => (r.iter, r.nUpdates, r.w(0), r.w(1), r.w(2), r.w(3), r.w(4), r.w(5)))
      .toDF("iter", "n_updates", "w_chars", "w_tokens", "w_punct", "w_digits", "w_stop", "w_bias")
      .orderBy("iter")
  }

  /** x110: the trained model applied to the whole corpus — per-source
    * confusion counts of prediction (sign of w·x, margin 0 → +1)
    * against the weak labels. (source, tp, fp, tn, fn).
    */
  def confusionBySource(docs: DataFrame): DataFrame = {
    val f = features(docs).ckpt() // read by 3 training rounds + scoring
    confusionGiven(f, trainRounds(f, Iters).last.w)
  }

  /** The scoring pass alone, given trained weights — one stateless
    * projection + one per-source aggregate.
    */
  private def confusionGiven(f: DataFrame, w: Array[Long]): DataFrame =
    f.withColumn("pred", when(score(w) >= 0, 1L).otherwise(-1L))
      .groupBy(col("source"))
      .agg(
        sum(when(col("y") === 1L && col("pred") === 1L, 1L).otherwise(0L)).as("tp"),
        sum(when(col("y") === -1L && col("pred") === 1L, 1L).otherwise(0L)).as("fp"),
        sum(when(col("y") === -1L && col("pred") === -1L, 1L).otherwise(0L)).as("tn"),
        sum(when(col("y") === 1L && col("pred") === -1L, 1L).otherwise(0L)).as("fn"))
      .orderBy("source")
}
