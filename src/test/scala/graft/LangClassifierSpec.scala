package graft

import org.apache.spark.sql.functions._

import graft.text.{LangClassifier, TextAnalysis}

/** The learned language-ID contracts (round-7 verdict item #7): the
  * model trained on the marker heuristic's OWN labels must beat the
  * heuristic on marker-stripped held-out docs (the generalization the
  * upgrade exists for), the scoring plan must stay a codegen
  * projection (no UDF, no Window), and the model-at-rest round trip
  * must serve bitwise-identical predictions.
  */
class LangClassifierSpec extends SparkSpec {
  import spark.implicits._

  // 400 synthetic doc ids — plantedCorpus derives language and tokens
  // from doc_id alone, the text column is unused by the synthesis
  lazy val base = (0L until 400L).map(i => (i, "")).toDF("doc_id", "text")
  lazy val planted = LangClassifier.plantedCorpus(base)

  test("planted corpus: heuristic labels the marked text, collapses on stripped text") {
    val marked = TextAnalysis.langId(planted)
      .join(planted.select(col("doc_id"), col("lang_true")), Seq("doc_id"))
      .collect()
    val okMarked = marked.count(r =>
      r.getAs[String]("pred_lang") == r.getAs[String]("lang_true"))
    assert(okMarked >= 390, s"heuristic should label marked text: $okMarked/400")
    val stripped = TextAnalysis.langId(LangClassifier.stripMarkers(planted)).collect()
    val und = stripped.count(_.getAs[String]("pred_lang") == "und")
    assert(und === 400, s"stripping markers must blind the heuristic: $und/400 und")
  }

  test("learned model recovers the language the heuristic lost (held-out, marker-stripped)") {
    // sampleFrac=0.5 trains on doc_id % 2 == 0; odd ids are held out
    val model = LangClassifier.train(planted, d = 128, sampleFrac = 0.5)
    val got = LangClassifier.score(LangClassifier.stripMarkers(planted), model)
      .join(planted.select(col("doc_id"), col("lang_true")), Seq("doc_id"))
      .filter(col("doc_id") % 2 === 1)
      .collect()
    assert(got.length === 200)
    val ok = got.count(r => r.getAs[String]("pred_lang") == r.getAs[String]("lang_true"))
    assert(ok >= 190, s"learned recall on held-out stripped docs: $ok/200")
  }

  test("driver row: stripped heuristic is blind, learned predictions are right") {
    val out = SparkEntry.queries("text_langid_learned")(spark, sfDir)
    val rows = out.collect()
    out.unpersist(blocking = true)
    assert(rows.length > 0)
    assert(rows.forall(_.getAs[String]("heuristic_lang") == "und"))
    val ok = rows.count(_.getAs[Boolean]("correct"))
    assert(ok >= rows.length * 9 / 10, s"learned accuracy: $ok/${rows.length}")
  }

  test("scoring plan is a codegen projection: no UDF, no Window, no shuffle") {
    val model = LangClassifier.train(planted, d = 64, sampleFrac = 0.5)
    val phys = LangClassifier.scoreFeatures(
      graft.text.QualityClassifier.features(planted, 64), model)
      .queryExecution.executedPlan.toString
    assert(!phys.contains("BatchEvalPython") && !phys.contains("UDF"),
      s"scoring leaves codegen:\n$phys")
    assert(!phys.contains("Window"), s"scoring plans a window:\n$phys")
    assert(phys.contains("DotProduct") || phys.contains("dot_product"),
      s"scoring lost the codegen kernel:\n$phys")
  }

  test("persisted driver row: loaded-weights scoring stays accurate on the stripped corpus") {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val tmp = tempDir("graft_lang_rt").toString
    val out = graft.text.LangClassifier.trainSaveScoreQuery(d,
      "graft_lang_model_rt_spec", path = Some(s"$tmp/m")).collect()
    assert(out.nonEmpty)
    val acc = out.count(_.getAs[Boolean]("correct")).toDouble / out.length
    assert(acc >= 0.95, s"persisted-row accuracy $acc")
    spark.sql("DROP TABLE IF EXISTS graft_lang_model_rt_spec")
  }

  test("model-at-rest round trip serves bitwise-identical predictions") {
    val model = LangClassifier.train(planted, d = 64, sampleFrac = 0.5)
    LangClassifier.saveModel(model, spark, "graft_langid_model_spec")
    try {
      val loaded = LangClassifier.loadModel(spark, "graft_langid_model_spec")
      assert(loaded.langs === model.langs && loaded.d === model.d)
      assert(loaded.intercepts.toSeq === model.intercepts.toSeq)
      assert(loaded.weights.map(_.toSeq).toSeq === model.weights.map(_.toSeq).toSeq)
      val stripped = LangClassifier.stripMarkers(planted)
      val fresh = LangClassifier.score(stripped, model).collect().map(_.toString)
      val served = LangClassifier.score(stripped, loaded).collect().map(_.toString)
      assert(served.toSeq === fresh.toSeq)
    } finally spark.sql("DROP TABLE IF EXISTS graft_langid_model_spec")
  }

  test("labels with no row of one language are refused at the fit") {
    // drop every doc the heuristic labels `de` (class 1): the top class
    // still appears, so the label count alone would look complete
    val noDe = planted.join(TextAnalysis.langId(planted)
      .filter(col("pred_lang") === "de").select(col("doc_id")), Seq("doc_id"), "left_anti")
    val e = intercept[IllegalArgumentException](LangClassifier.train(noDe, d = 64))
    assert(e.getMessage.contains("classes 0..3"), e.getMessage)
  }

  test("a quality table does not load as a language model, nor the reverse") {
    val lm = LangClassifier.LangModel(LangClassifier.langs,
      Array.fill(LangClassifier.langs.length, 16)(0.5f),
      Array.fill(LangClassifier.langs.length)(0.25), 16)
    val qm = graft.text.QualityClassifier.QualityModel(Array.fill(16)(0.5f), 0.25, 16)
    LangClassifier.saveModel(lm, spark, "graft_langid_cross_spec")
    graft.text.QualityClassifier.saveModel(qm, spark, "graft_quality_cross_spec")
    try {
      val asQuality = intercept[RuntimeException](
        graft.text.QualityClassifier.loadModel(spark, "graft_langid_cross_spec"))
      assert(asQuality.getMessage.contains("has no graft.quality.params property"),
        asQuality.getMessage)
      val asLang = intercept[RuntimeException](
        LangClassifier.loadModel(spark, "graft_quality_cross_spec"))
      assert(asLang.getMessage.contains("has no graft.langid.params property"),
        asLang.getMessage)
      val back = LangClassifier.loadModel(spark, "graft_langid_cross_spec")
      assert(back.weights.map(_.toSeq).toSeq === lm.weights.map(_.toSeq).toSeq)
      assert(back.intercepts.toSeq === lm.intercepts.toSeq)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_langid_cross_spec")
      spark.sql("DROP TABLE IF EXISTS graft_quality_cross_spec")
    }
  }
}
