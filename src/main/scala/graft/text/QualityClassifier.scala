package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Learned quality filter — the fasttext-style classifier tier real
  * pipelines layer over rule batteries (GPT-3 §A trained LR against a
  * WebText-positive class; CCNet and LLaMA used fasttext the same
  * way). Features are the engine's own hashed bag-of-words embeddings
  * ([[TextAnalysis.hashEmbedVectors]] — no external tokenizer or
  * model), so the whole loop is:
  *
  *   weak labels (Gopher rule battery) → MLlib LogisticRegression on
  *   hash-embed features → serve scores with a codegen dot product.
  *
  * Train/serve split mirrors the ANN family: TRAINING is an MLlib fit
  * ([[Linear.fit]], shared with [[LangClassifier]]; distributed L-BFGS
  * treeAggregate — the one place a Vector UDF
  * conversion is unavoidable, same boundary as [[graft.ann.MlLsh]])
  * over a deterministic `doc_id`-gated SAMPLE of the corpus (the
  * [[graft.ann.Pq.train]] precedent: at 100 TB nobody fits 50 L-BFGS
  * iterations against every row; a bounded sample fits the same
  * decision surface). SERVING is `sigmoid(w·x + b)` where w rides
  * along as an array literal in a native
  * [[graft.expressions.DotProduct]] — broadcast with the plan, no
  * model object, no UDF, whole-stage codegen. At 100 TB the scoring
  * pass is a narrow map over the corpus: d float multiplies per doc
  * after the O(tokens) sparse feature build.
  *
  * The fitted model joins the index-at-rest family
  * ([[saveModel]]/[[loadModel]] — the [[Linear]] (row, dim, weight)
  * layout, `d` in TBLPROPERTIES): train once, score many, across
  * sessions.
  *
  * Separation on planted good/bad corpora, the sigmoid recount, the
  * no-UDF/no-Window serving-plan contract, sampled-vs-full parity,
  * and the save/load round trip are pinned in QualityClassifierSpec.
  */
object QualityClassifier {

  /** Serving-side model: d-dim weights + intercept. */
  case class QualityModel(weights: Array[Float], intercept: Double, d: Int)

  /** Default training-sample fraction — the same knob and default
    * shape as [[graft.ann.Pq.train]]'s `sampleFrac`: L-BFGS cost is
    * per-row per-iteration, and the rule-derived labels are cheap to
    * make plentiful, so a bounded deterministic sample trains the
    * same boundary at a fraction of the cost (sampled-vs-full parity
    * is spec'd).
    */
  val DefaultTrainSampleFrac = 0.25

  /** L-BFGS iteration cap for the DRIVER-ROW queries (the API default
    * stays 50): at driver-row data shapes each iteration is one
    * treeAggregate job whose fixed scheduling overhead dominates, and
    * past ~25 iterations the fit only polishes decimals the spec
    * bounds (accuracy, separation, held-out recall) can't see — the
    * specs exercise the driver rows AT this setting.
    */
  val DriverRowMaxIter = 25

  /** Weak labels from the Gopher rule battery: pass = positive. The
    * classifier generalizes the brittle rule edges into a smooth
    * score (a doc failing one rule by a hair scores near the
    * boundary, not at 0) — exactly why pipelines train a model on
    * rule-derived or domain-derived weak labels instead of shipping
    * the rules alone.
    */
  def weakLabels(docs: DataFrame): DataFrame =
    TextAnalysis.gopherQuality(docs)
      .select(col("doc_id"), col("gopher_pass").cast("int").as("label"))

  /** The feature frame: (doc_id, embedding array<float>) — one
    * definition so train and serve cannot drift apart.
    */
  def features(docs: DataFrame, d: Int = 256): DataFrame =
    TextAnalysis.hashEmbedVectors(docs, d)

  /** Fit against an ALREADY-BUILT feature frame (so a caller that
    * scores the same corpus — [[trainScoreQuery]] — builds features
    * once): the shared [[Linear.fit]], binomial on labels {0, 1}, both
    * of which the `doc_id`-gated sample must hold. Deterministic given
    * the data (seedless L-BFGS from a zero start; float-sum order
    * across partitions makes the last ulps run-dependent, which is why
    * the driver rows are declared rows-only).
    */
  def trainOnFeatures(feats: DataFrame, labels: DataFrame, d: Int,
      maxIter: Int = 50, regParam: Double = 1e-3,
      sampleFrac: Double = 1.0): QualityModel =
    fromWeights(Linear.fit(feats, labels, 2, maxIter, regParam, sampleFrac), d)

  /** Fit on hash-embed features joined to `labels` (doc_id,
    * label∈{0,1}). Features are built only for the sampled subset —
    * the semi-join runs BEFORE the O(tokens) feature build.
    */
  def train(docs: DataFrame, labels: DataFrame, d: Int = 256,
      maxIter: Int = 50, regParam: Double = 1e-3,
      sampleFrac: Double = 1.0): QualityModel =
    fromWeights(Linear.train(docs, labels, d, 2, maxIter, regParam, sampleFrac), d)

  private def fromWeights(w: Linear.Weights, d: Int): QualityModel =
    QualityModel(w.rows.head, w.intercepts.head, d)

  /** Score an already-built feature frame: (doc_id, quality_prob,
    * quality_pred), `quality_prob = sigmoid(`[[Linear.score]]`)`. The
    * weights array is a plan literal — no UDF, no model broadcast
    * machinery, the dot product is the codegen kernel shared with the
    * ANN scan tiers (plan-asserted: no UDF, no Window).
    */
  def scoreFeatures(feats: DataFrame, model: QualityModel): DataFrame = {
    val z = Linear.score(model.weights, model.intercept)
    feats
      .select(col("doc_id"),
        (lit(1.0) / (lit(1.0) + exp(-z))).as("quality_prob"))
      .withColumn("quality_pred", (col("quality_prob") >= 0.5).cast("int"))
  }

  /** Score every doc from raw text. */
  def score(docs: DataFrame, model: QualityModel): DataFrame =
    scoreFeatures(features(docs, model.d), model)

  /** Persist a fitted model in the [[Linear.save]] layout — one weight
    * row, its intercept at dim −1 — with `d` in the
    * `graft.quality.params` property: the artifact lives WITH its
    * parameters, not in caller lore.
    */
  def saveModel(model: QualityModel, spark: SparkSession, table: String,
      path: Option[String] = None): Unit =
    Linear.save(spark, table, path,
      Linear.Weights(Array(model.weights), Array(model.intercept)),
      "graft.quality.params" -> s"""{"d":${model.d}}""")

  /** Restore a [[saveModel]]ed model; a table without
    * `graft.quality.params` is refused by that name.
    */
  def loadModel(spark: SparkSession, table: String): QualityModel = {
    val (_, w) = Linear.load(spark, table, "graft.quality.params")
    require(w.rows.length == 1, s"table $table has ${w.rows.length} weight rows, expected 1")
    fromWeights(w, w.rows.head.length)
  }

  /** The driver row: weak-label → train (sampled) → score the same
    * corpus, with the label joined back for inspection. Features and
    * labels are built ONCE and shared between the fit and the scoring
    * pass ([[graft.ops.Caching.materialized]] scope). Rows-only (see
    * [[trainOnFeatures]]).
    */
  def trainScoreQuery(docs: DataFrame, d: Int = 256,
      sampleFrac: Double = DefaultTrainSampleFrac,
      maxIter: Int = DriverRowMaxIter): DataFrame = {
    val feats = features(docs, d).persist(StorageLevel.MEMORY_AND_DISK)
    val labels = weakLabels(docs).persist(StorageLevel.MEMORY_AND_DISK)
    val model = trainOnFeatures(feats, labels, d, maxIter = maxIter,
      sampleFrac = sampleFrac)
    val out = scoreFeatures(feats, model).join(labels, Seq("doc_id"))
      .select(col("doc_id"), col("label"), col("quality_prob"), col("quality_pred"))
    graft.ops.Caching.materialized(out) {
      feats.unpersist(false); labels.unpersist(false)
    }
  }

  /** The persisted driver row: train (sampled) → [[saveModel]] →
    * [[loadModel]] → score from the LOADED weights — the
    * train-once/score-many production shape, same round-trip contract
    * as `ann_ivf_persisted`. Rows-only (see [[trainOnFeatures]]).
    */
  def trainSaveScoreQuery(docs: DataFrame, table: String,
      path: Option[String] = None, d: Int = 256,
      sampleFrac: Double = DefaultTrainSampleFrac,
      maxIter: Int = DriverRowMaxIter): DataFrame = {
    val spark = docs.sparkSession
    val model = train(docs, weakLabels(docs), d, maxIter = maxIter,
      sampleFrac = sampleFrac)
    saveModel(model, spark, table, path)
    score(docs, loadModel(spark, table))
  }
}
