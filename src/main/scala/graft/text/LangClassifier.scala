package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Learned language ID — the [[QualityClassifier]] loop (weak labels →
  * multinomial LR on hash-embed features → codegen dot-product
  * serving) applied to the weakest heuristic in the text family:
  * [[TextAnalysis.langId]]'s marker-stopword profile can only see its
  * 7 markers per language, so a document that drops or paraphrases
  * them falls to `und` even when every other token screams its
  * language. The classifier trains ON the heuristic's own labels
  * (where markers DO fire) and generalizes to the full vocabulary
  * through the hashed bag-of-words — fasttext's exact recipe
  * (Joulin et al. 2016: averaged hashed n-gram embeddings + linear
  * softmax), built from the engine's own pieces.
  *
  * Train/serve split is the [[QualityClassifier]] one, through the
  * same [[Linear]] core: MLlib fit over a deterministic `doc_id`-gated
  * sample; serving = per-class `w_c·x + b_c` with the weights as plan
  * literals in the shared codegen [[graft.expressions.DotProduct]]
  * kernel, argmax via one `array_max` over (score, −class) structs —
  * no UDF, no Window, no model object at scoring time. At 100 TB the scoring pass is a
  * narrow map: |langs|·d multiplies per doc.
  */
object LangClassifier {

  /** Serving-side model: one weight row + intercept per language, in
    * [[TextAnalysis.langMarkers]] priority order.
    */
  case class LangModel(langs: Seq[String], weights: Array[Array[Float]],
      intercepts: Array[Double], d: Int)

  def langs: Seq[String] = TextAnalysis.langMarkers.map(_._1)

  /** Per-language vocabulary for the PLANTED corpus: the marker
    * stopwords plus common non-marker words. The non-marker half is
    * what the learned model can see and the heuristic cannot — the
    * held-out recall spec strips the markers and measures exactly
    * that gap.
    */
  val langVocab: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is",
      "house", "water", "day", "good", "time", "people", "new", "work"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "mit",
      "haus", "wasser", "tag", "gut", "zeit", "leute", "neu", "arbeit"),
    "es" -> Seq("el", "la", "los", "de", "y", "es", "que",
      "casa", "agua", "dia", "bueno", "tiempo", "gente", "nuevo", "trabajo"),
    "fr" -> Seq("le", "les", "des", "et", "est", "dans", "une",
      "maison", "eau", "jour", "bon", "temps", "gens", "nouveau", "travail"))

  private def markerSet: Set[String] =
    TextAnalysis.langMarkers.flatMap(_._2).toSet

  /** Deterministic multilingual corpus from the documents table: each
    * doc gets a language by HASHING doc_id (not `doc_id % 4` — the
    * deterministic `doc_id % s` training gates would alias with a
    * modulo assignment and sample only a language subset) and
    * `wordsPerDoc` tokens drawn from that language's vocabulary by
    * pure hash arithmetic on (doc_id, position) — expression-only
    * synthesis (the [[graft.multimodal.Binary.Wav.synthFromDocs]]
    * idiom), no RNG state, reproducible on any engine. Emits
    * `(doc_id, lang_true, text)`.
    */
  def plantedCorpus(docs: DataFrame, wordsPerDoc: Int = 30): DataFrame = {
    val vocab = typedlit(langVocab.map(_._2))
    val nLangs = langVocab.length
    val lidx = pmod(hash(col("doc_id")), lit(nLangs)).cast("int")
    val words = transform(
      sequence(lit(0), lit(wordsPerDoc - 1)),
      i => {
        val list = element_at(vocab, lidx + 1)
        element_at(list, pmod(hash(col("doc_id"), i), size(list)) + 1)
      })
    docs.select(
      col("doc_id"),
      element_at(typedlit(langs), lidx + 1).as("lang_true"),
      concat_ws(" ", words).as("text"))
  }

  /** The planted corpus with every marker stopword removed — the
    * heuristic's entire signal. On these the marker profile collapses
    * to `und`; the learned model still sees the non-marker vocabulary.
    */
  def stripMarkers(planted: DataFrame): DataFrame = {
    val kept = filter(split(col("text"), " "),
      w => !w.isInCollection(markerSet))
    planted.withColumn("text", concat_ws(" ", kept))
  }

  /** Weak labels from the marker heuristic: docs where
    * [[TextAnalysis.langId]] commits to a language (`pred_lang` ≠
    * `und`), as class indices in [[langs]] order.
    */
  def weakLabels(docs: DataFrame): DataFrame =
    TextAnalysis.langId(docs)
      .filter(col("pred_lang") =!= "und")
      .select(col("doc_id"),
        (array_position(typedlit(langs), col("pred_lang")) - 1).as("label"))

  /** Fit on hash-embed features against the weak labels through the
    * shared [[Linear.train]]: `doc_id`-gated sample, multinomial over
    * the |[[langs]]| classes. Every language must appear in the sampled
    * labels — a missing class would fit weight rows that no longer
    * line up with [[langs]].
    */
  def train(docs: DataFrame, d: Int = 256, maxIter: Int = 50,
      regParam: Double = 1e-3, sampleFrac: Double = 1.0): LangModel = {
    val w = Linear.train(docs, weakLabels(docs), d, langs.length, maxIter,
      regParam, sampleFrac)
    LangModel(langs, w.rows, w.intercepts, d)
  }

  /** Score a feature frame: argmax over the per-class
    * [[Linear.score]]s, ties to the earlier language (the heuristic's
    * priority order) via `array_max` over (score, −class) structs.
    * Pure codegen projection — no UDF, no Window (plan-asserted in
    * LangClassifierSpec).
    */
  def scoreFeatures(feats: DataFrame, model: LangModel): DataFrame = {
    val packed = array(model.langs.indices.map(c =>
      struct(Linear.score(model.weights(c), model.intercepts(c)).as("z"),
        lit(-c).as("ni"))): _*)
    feats
      .withColumn("best", array_max(packed))
      .select(col("doc_id"),
        element_at(typedlit(model.langs), -col("best.ni") + 1).as("pred_lang"),
        col("best.z").as("score"))
  }

  /** Score raw docs. */
  def score(docs: DataFrame, model: LangModel): DataFrame =
    scoreFeatures(QualityClassifier.features(docs, model.d), model)

  /** Persist in the [[Linear.save]] layout — one weight row per
    * language, intercepts at dim −1 — with d/langs in the
    * `graft.langid.params` property.
    */
  def saveModel(model: LangModel, spark: SparkSession, table: String,
      path: Option[String] = None): Unit =
    Linear.save(spark, table, path, Linear.Weights(model.weights, model.intercepts),
      "graft.langid.params" -> s"""{"d":${model.d},"langs":"${model.langs.mkString(",")}"}""")

  /** Restore a [[saveModel]]ed model; a table without
    * `graft.langid.params` is refused by that name.
    */
  def loadModel(spark: SparkSession, table: String): LangModel = {
    val (json, w) = Linear.load(spark, table, "graft.langid.params")
    val ls = graft.ops.TableProps.stringField(json, "langs").split(",").toSeq
    require(w.rows.length == ls.length,
      s"table $table has ${w.rows.length} weight rows for ${ls.length} languages")
    LangModel(ls, w.rows, w.intercepts, w.rows.head.length)
  }

  /** The driver row: plant the multilingual corpus, train on the
    * heuristic's weak labels over the MARKED text (sampled), then
    * score the MARKER-STRIPPED variant next to the heuristic's own
    * call on it — the generalization gap (heuristic → `und`, model →
    * the language) in one frame. Rows-only: the fit is a float
    * optimization (see [[QualityClassifier.trainOnFeatures]]);
    * recall bounds are pinned in LangClassifierSpec.
    */
  def trainScoreQuery(docs: DataFrame, d: Int = 256,
      sampleFrac: Double = QualityClassifier.DefaultTrainSampleFrac,
      maxIter: Int = QualityClassifier.DriverRowMaxIter): DataFrame = {
    val planted = plantedCorpus(docs).persist(StorageLevel.MEMORY_AND_DISK)
    val model = train(planted, d, maxIter = maxIter, sampleFrac = sampleFrac)
    val stripped = stripMarkers(planted)
    val out = score(stripped, model)
      .join(TextAnalysis.langId(stripped)
        .select(col("doc_id"), col("pred_lang").as("heuristic_lang")), Seq("doc_id"))
      .join(planted.select(col("doc_id"), col("lang_true")), Seq("doc_id"))
      .select(col("doc_id"), col("lang_true"), col("heuristic_lang"),
        col("pred_lang"), (col("pred_lang") === col("lang_true")).as("correct"))
    graft.ops.Caching.materialized(out) { planted.unpersist(false) }
  }

  /** The persisted driver row ([[QualityClassifier.trainSaveScoreQuery]]'s
    * language twin): train (sampled) → [[saveModel]] → [[loadModel]] →
    * score the marker-stripped corpus from the LOADED per-class
    * weights — train-once/score-many; bitwise save/load is already
    * spec'd, this row exercises it through the driver gate. Rows-only
    * (float fit, like `text_langid_learned`).
    */
  def trainSaveScoreQuery(docs: DataFrame, table: String,
      path: Option[String] = None, d: Int = 256,
      sampleFrac: Double = QualityClassifier.DefaultTrainSampleFrac,
      maxIter: Int = QualityClassifier.DriverRowMaxIter): DataFrame = {
    val spark = docs.sparkSession
    val planted = plantedCorpus(docs).persist(StorageLevel.MEMORY_AND_DISK)
    val model = train(planted, d, maxIter = maxIter, sampleFrac = sampleFrac)
    saveModel(model, spark, table, path)
    val out = score(stripMarkers(planted), loadModel(spark, table))
      .join(planted.select(col("doc_id"), col("lang_true")), Seq("doc_id"))
      .select(col("doc_id"), col("lang_true"), col("pred_lang"),
        (col("pred_lang") === col("lang_true")).as("correct"))
    graft.ops.Caching.materialized(out) { planted.unpersist(false) }
  }
}
