package graft.text

import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.GraftFunctions
import graft.ops.{Compaction, Sampling, TableProps}

/** The linear core under [[QualityClassifier]] and [[LangClassifier]]:
  * one sampled logistic-regression fit (MLlib's default family:
  * binomial for 2 classes, one weight row; multinomial above, one row
  * per class), one per-class codegen score column, and one at-rest
  * layout — `(row, dim, weight double)` with each row's intercept at
  * `dim = -1`, written by [[Compaction.saveTable]] under the family's
  * own property, which a load reads first.
  */
private[text] object Linear {

  /** Fitted weights: one `d`-float row and one intercept per class row. */
  final case class Weights(rows: Array[Array[Float]], intercepts: Array[Double])

  /** Fit on (doc_id, embedding) features against (doc_id, label) rows
    * gated by `sampleFrac`. Every class in [0, classes) must have a
    * sampled row: a missing one fits an infinite intercept (one class
    * left) or weight rows that no longer line up with the classes.
    */
  def fit(feats: DataFrame, labels: DataFrame, classes: Int, maxIter: Int,
      regParam: Double, sampleFrac: Double): Weights = {
    // the sampled training set is batch-bounded — compact it to a few
    // partitions so each of the maxIter treeAggregate passes is a
    // handful of tasks, not a full grid of near-empty ones
    val tr = feats.join(Sampling.idGate(labels, "doc_id", sampleFrac), Seq("doc_id"))
      .select(array_to_vector(col("embedding")).as("features"),
        col("label").cast("double").as("label"))
      .coalesce(8)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val seen = tr.agg(collect_set(col("label"))).head().getSeq[Double](0).toSet
      require(seen == (0 until classes).map(_.toDouble).toSet,
        s"training labels must cover classes 0..${classes - 1} and no others; " +
          s"got ${seen.toSeq.sorted.mkString(",")} — widen sampleFrac, the corpus or the label rule")
      val m = new LogisticRegression().setMaxIter(maxIter).setRegParam(regParam).fit(tr)
      val cm = m.coefficientMatrix
      Weights(Array.tabulate(cm.numRows, cm.numCols)((c, j) => cm(c, j).toFloat),
        m.interceptVector.toArray)
    } finally tr.unpersist(false)
  }

  /** [[fit]] on raw docs: the gate runs first and, below `sampleFrac`
    * 1, the O(tokens) feature build only sees the sampled docs (a
    * semi-join).
    */
  def train(docs: DataFrame, labels: DataFrame, d: Int, classes: Int,
      maxIter: Int, regParam: Double, sampleFrac: Double): Weights = {
    val lab = Sampling.idGate(labels, "doc_id", sampleFrac)
    val sub =
      if (sampleFrac >= 1.0) docs
      else docs.join(lab.select(col("doc_id")), Seq("doc_id"), "left_semi")
    fit(QualityClassifier.features(sub, d), lab, classes, maxIter, regParam, 1.0)
  }

  /** One class row's linear score `w·embedding + b`. */
  def score(w: Array[Float], b: Double): Column =
    GraftFunctions.dot_product(col("embedding"), typedlit(w)) + lit(b)

  /** Overwrite `table` with `w` in the at-rest layout and set `prop`. */
  def save(spark: SparkSession, table: String, path: Option[String], w: Weights,
      prop: (String, String)): Unit = {
    import spark.implicits._
    val rows = w.rows.indices.flatMap { c =>
      (-1 until w.rows(c).length).map { j =>
        (c, j, if (j < 0) w.intercepts(c) else w.rows(c)(j).toDouble)
      }
    }
    Compaction.saveTable(rows.toDF("row", "dim", "weight").coalesce(1), table, path, prop)
  }

  /** The property `key` (a JSON object with field `d`) and the weights
    * of a [[save]]d table. The collect is the model itself — rows·(d+1)
    * rows, kilobytes.
    */
  def load(spark: SparkSession, table: String, key: String): (String, Weights) = {
    val json = TableProps.get(spark, table, key)
    val d = TableProps.longField(json, "d").toInt
    val rows = spark.table(table).collect()
      .map(r => (r.getAs[Int]("row"), r.getAs[Int]("dim"), r.getAs[Double]("weight")))
    val n = if (rows.isEmpty) 0 else rows.map(_._1).max + 1
    val want = (for (c <- 0 until n; j <- -1 until d) yield (c, j)).toSet
    require(n > 0 && rows.length == want.size && rows.map(r => (r._1, r._2)).toSet == want,
      s"table $table has ${rows.length} weight rows, not $n row(s) of d+1 = ${d + 1}")
    val w = Weights(Array.ofDim[Float](n, d), new Array[Double](n))
    rows.foreach { case (c, j, v) =>
      if (j < 0) w.intercepts(c) = v else w.rows(c)(j) = v.toFloat
    }
    (json, w)
  }
}
