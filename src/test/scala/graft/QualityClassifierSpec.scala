package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.text.QualityClassifier

/** The learned quality-filter contracts (round-7 verdict item #1):
  * planted good/bad separation, the sigmoid recount against the
  * model's own weights, the no-UDF/no-Window serving-plan contract,
  * sampled-vs-full training parity, and the model-at-rest round trip.
  */
class QualityClassifierSpec extends SparkSpec {
  import spark.implicits._

  /** n good docs (ids 0..n-1: long natural sentences — pass every
    * Gopher rule) + n bad docs (ids n..2n-1: short digit/symbol junk —
    * fail length, alpha-ratio, and stopword rules). Both halves hit
    * every `doc_id % s == 0` training gate, so sampled training sees
    * both classes.
    */
  private def planted(n: Int): DataFrame = {
    val sent = "the project team reviewed all of the results and found that " +
      "the data was sound because every test in the set passed with a clear margin today"
    val good = (0 until n).map(i => (i.toLong, s"$sent item$i $sent"))
    val bad = (0 until n).map(i => ((n + i).toLong, s"### 123 456 ### $i ### 789 ###"))
    (good ++ bad).toDF("doc_id", "text")
  }

  lazy val docs = planted(100)

  private def accuracy(rows: Array[org.apache.spark.sql.Row]): Double =
    rows.count(r => r.getAs[Int]("quality_pred") == r.getAs[Int]("label")).toDouble /
      rows.length

  test("planted separation: the rule-trained classifier separates good from bad") {
    val scored = QualityClassifier.trainScoreQuery(docs, d = 64, sampleFrac = 1.0)
    val rows = scored.collect()
    scored.unpersist(blocking = true)
    assert(rows.length === 200)
    assert(accuracy(rows) >= 0.95, s"accuracy ${accuracy(rows)}")
    val goodMean = rows.filter(_.getAs[Int]("label") == 1)
      .map(_.getAs[Double]("quality_prob")).sum / 100
    val badMean = rows.filter(_.getAs[Int]("label") == 0)
      .map(_.getAs[Double]("quality_prob")).sum / 100
    assert(goodMean - badMean >= 0.5,
      s"probability gap too small: good=$goodMean bad=$badMean")
  }

  test("sampled training fits the same boundary as full-corpus training") {
    val labels = QualityClassifier.weakLabels(docs)
    val feats = QualityClassifier.features(docs, d = 64)
    for (frac <- Seq(1.0, 0.5)) {
      val m = QualityClassifier.trainOnFeatures(feats, labels, d = 64, sampleFrac = frac)
      val rows = QualityClassifier.scoreFeatures(feats, m)
        .join(labels, Seq("doc_id")).collect()
      assert(accuracy(rows) >= 0.9, s"sampleFrac=$frac accuracy ${accuracy(rows)}")
    }
  }

  test("quality_prob is exactly sigmoid(w·x + b) over the model's own weights") {
    val labels = QualityClassifier.weakLabels(docs)
    val feats = QualityClassifier.features(docs, d = 64)
    val model = QualityClassifier.trainOnFeatures(feats, labels, d = 64)
    val fmap = feats.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getSeq[Float](1).toArray).toMap
    QualityClassifier.scoreFeatures(feats, model).collect().foreach { r =>
      val x = fmap(r.getAs[Long]("doc_id"))
      // same fold as the codegen DotProduct: double accumulation over
      // per-element double products, array order
      var dot = 0.0
      var i = 0
      while (i < x.length) { dot += model.weights(i).toDouble * x(i).toDouble; i += 1 }
      val p = 1.0 / (1.0 + math.exp(-(dot + model.intercept)))
      assert(math.abs(p - r.getAs[Double]("quality_prob")) < 1e-9,
        s"doc ${r.getAs[Long]("doc_id")}: recount $p vs ${r.getAs[Double]("quality_prob")}")
      assert(r.getAs[Int]("quality_pred") === (if (p >= 0.5) 1 else 0))
    }
  }

  test("serving-plan contract: codegen dot product, no UDF, no Window") {
    // tree-walk, not plan-string match: the 64-float weight literal
    // makes the Project line exceed maxToStringFields and the string
    // form elides the expression
    val feats = QualityClassifier.features(docs, d = 64)
    val model = QualityClassifier.QualityModel(Array.fill(64)(0.01f), -0.5, 64)
    val plan = QualityClassifier.scoreFeatures(feats, model)
      .queryExecution.optimizedPlan
    assert(plan.exists(_.expressions.exists(
      _.exists(_.isInstanceOf[graft.expressions.DotProduct]))),
      s"native dot_product kernel missing:\n$plan")
    assert(!plan.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Window]),
      s"serving plan has a Window:\n$plan")
    assert(!plan.exists(_.expressions.exists(_.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.ScalaUDF]))),
      s"serving plan has a UDF:\n$plan")
  }

  test("model-at-rest: save → load is bitwise the fitted model; scores identical") {
    val labels = QualityClassifier.weakLabels(docs)
    val feats = QualityClassifier.features(docs, d = 64)
    val model = QualityClassifier.trainOnFeatures(feats, labels, d = 64, sampleFrac = 0.5)
    val tmp = tempDir("graft_qmodel").toString
    QualityClassifier.saveModel(model, spark, "graft_quality_spec_rt", Some(s"$tmp/tbl"))
    val loaded = QualityClassifier.loadModel(spark, "graft_quality_spec_rt")
    assert(loaded.d === model.d)
    assert(loaded.intercept === model.intercept)
    assert(loaded.weights.sameElements(model.weights))
    val fresh = QualityClassifier.scoreFeatures(feats, model).collect()
    val served = QualityClassifier.scoreFeatures(feats, loaded).collect()
    assert(fresh.sameElements(served))
  }

  test("trainSaveScoreQuery serves from the loaded model and scores every doc") {
    val tmp = tempDir("graft_qmodel_q").toString
    val out = QualityClassifier.trainSaveScoreQuery(docs, "graft_quality_spec_q",
      path = Some(s"$tmp/tbl"), d = 64, sampleFrac = 0.5)
    val rows = out.collect()
    assert(rows.length === 200)
    assert(rows.forall { r =>
      val p = r.getAs[Double]("quality_prob"); p >= 0.0 && p <= 1.0
    })
  }

  test("single-class labels are refused at the fit") {
    val feats = QualityClassifier.features(docs, d = 64)
    val allGood = QualityClassifier.weakLabels(docs).withColumn("label", lit(1))
    val e = intercept[IllegalArgumentException](
      QualityClassifier.trainOnFeatures(feats, allGood, d = 64))
    assert(e.getMessage.contains("classes 0..1"), e.getMessage)
  }

  test("at-rest layout: one (row, dim, weight) row per dim, the intercept at dim -1") {
    val model = QualityClassifier.QualityModel(Array.tabulate(64)(i => i / 7f), -0.3125, 64)
    QualityClassifier.saveModel(model, spark, "graft_quality_spec_layout")
    try {
      val t = spark.table("graft_quality_spec_layout")
      assert(t.columns.toSeq === Seq("row", "dim", "weight"))
      val rows = t.collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
      assert(rows.size === 65)
      assert(rows((0, -1)) === -0.3125)
      assert((0 until 64).forall(j => rows((0, j)) === (j / 7f).toDouble))
    } finally spark.sql("DROP TABLE IF EXISTS graft_quality_spec_layout")
  }

  test("saving twice to one external path leaves one copy of the rows") {
    val model = QualityClassifier.QualityModel(Array.fill(64)(0.01f), -0.5, 64)
    val path = Some(s"${tempDir("graft_qmodel_twice")}/tbl")
    try {
      QualityClassifier.saveModel(model, spark, "graft_quality_spec_twice", path)
      QualityClassifier.saveModel(model.copy(intercept = 0.25), spark,
        "graft_quality_spec_twice", path)
      assert(spark.table("graft_quality_spec_twice").count() === 65)
      assert(spark.read.parquet(path.get).count() === 65)
      assert(QualityClassifier.loadModel(spark, "graft_quality_spec_twice").intercept === 0.25)
    } finally spark.sql("DROP TABLE IF EXISTS graft_quality_spec_twice")
  }
}
