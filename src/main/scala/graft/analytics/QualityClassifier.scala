package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import scala.util.Random

/** Model-based quality scoring — the fasttext-style linear classifier
  * that sits beyond the rule-based features (t02) and the corpus LMs
  * (t09/t10) in a curation stack: hashed unigram+bigram features, a fixed
  * weight vector, a sigmoid keep-probability.
  *
  * The model here is a FIXED literal vector (seeded, embedded in both the
  * operator and its SQL twin the way s02 embeds its hyperplanes) — the
  * engine's concern is the scoring operator, not the training run that
  * produced the weights; swap in learned weights and nothing downstream
  * changes. Scoring is a PURE PER-ROW PROJECTION: feature hashing, weight
  * lookup, and the sum fold all happen inside one codegen'd expression
  * tree — no shuffle, no join, no UDF; the 100 TB shape (scan-parallel
  * like t01–t04).
  *
  * Cross-engine float determinism (the t09 recipe): weights are exact
  * double literals, each feature's weight is looked up exactly, and the
  * sum folds STRICTLY left-to-right (unigrams in token order, then
  * bigrams in position order) — both engines add the same doubles in the
  * same order bit-for-bit. The only transcendental, `exp`, sits on a
  * 9-dp-rounded mean and the sigmoid is display-rounded to 6 dp; the
  * keep threshold compares the ROUNDED score (the d06/t08 boundary
  * convention).
  */
object QualityClassifier {

  /** Hashed-feature dimensionality (power of two keeps the twin's modulo
    * arithmetic trivial).
    */
  val Dim = 64

  /** Fixed classifier weights: seeded Gaussians, scaled — the stand-in
    * for a trained model, shared bit-for-bit with the SQL twin via
    * Double.toString literals.
    */
  lazy val weights: Seq[Double] = {
    val r = new Random(7L)
    Seq.fill(Dim)(r.nextGaussian() * 0.3)
  }

  val Bias = -0.05

  /** feature string → its weight: portable md5-low64 hash, pmod into the
    * weight table. The hash is the fused [[graft.plans.Md5Low64]] kernel
    * (bit-identical to the declarative [[Dedup.md5Low64]] chain,
    * DedupSpec) — the lambda still runs interpreted inside the HOFs below,
    * but each feature's hash is one call with no intermediate strings.
    */
  private def featureWeight(f: Column): Column =
    element_at(typedLit(weights),
      (pmod(call_function("md5_low64", f), lit(Dim.toLong)) + 1).cast("int"))

  /** Strict left-to-right weight-sum over a feature array ATTRIBUTE. */
  private def weightSum(feats: Column): Column =
    aggregate(transform(feats, f => featureWeight(f)), lit(0.0), (acc, w) => acc + w)

  /** Per-document classifier scores: `(idCol, n_feats, score, keep)`.
    * `score` = sigmoid of the 9-dp-rounded mean feature weight (+ bias),
    * rounded to 6 dp; `keep` compares the rounded score to 0.5.
    * Feature-less documents (no tokens) carry a null score and keep =
    * false.
    */
  def score(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    Par.spreadForCpu(docs)
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("ws"))
      .select(col(idCol), col("ws"),
        TextAnalysis.ngramsFromTokens(col("ws"), 2).as("bg"))
      .select(col(idCol),
        (size(col("ws")) + size(col("bg"))).cast(LongType).as("n_feats"),
        (weightSum(col("ws")) + weightSum(col("bg"))).as("s"))
      .select(col(idCol), col("n_feats"),
        when(col("n_feats") === 0, lit(null).cast("double"))
          .otherwise(round(lit(Bias) + col("s") / col("n_feats"), 9)).as("z"))
      .select(col(idCol), col("n_feats"),
        round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 6).as("score"))
      .withColumn("keep", coalesce(col("score") >= 0.5, lit(false)))
  }
}
