package graft.ann

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import org.apache.spark.sql.GraftColumnBridge

import graft.GraftFunctions
import graft.expressions.GramMoments

/** Distributed PCA over an embedding column — the DATA-DERIVED
  * compression lever next to the data-oblivious JL projection
  * ([[Project]]): same serving shape (k dot products per vector, all
  * codegen), but the axes are the corpus's own top principal
  * directions, so equal k keeps strictly more variance.
  *
  * Scale shape: the fit is ONE narrow corpus pass through the
  * [[graft.expressions.GramMoments]] aggregate (map-side partial
  * O(d²) state per partition, #partitions × O(d²) bytes shuffled —
  * independent of n), then a d×d Jacobi eigensolve on the DRIVER
  * (d is the embedding width: microseconds of arithmetic on one
  * collected row). Serving embeds the top-k components as plan
  * literals into the codegen `dot_product` kernel — the
  * [[graft.text.QualityClassifier]] weights-as-literal idiom — so
  * projection is a pure whole-stage-codegen map: no UDF, no model
  * broadcast, no shuffle. Like every float fit in the engine
  * (declared rows-only family): cross-engine hash oracles don't
  * apply; the spec battery pins orthonormality, eigenvalue order,
  * captured variance ≥ the JL baseline, and parity with an
  * independent reimplementation.
  */
object Pca {

  /** Fitted model: `components(c)` is the c-th principal axis
    * (unit-norm, rows of Wᵀ), `eigenvalues(c)` its covariance
    * eigenvalue (= variance captured along it), `mean` the corpus
    * mean vector. Sign convention: each component's largest-|·|
    * coordinate is positive — eigenvectors are sign-ambiguous, and
    * pinning the sign makes save/load and refits comparable.
    */
  case class PcaModel(d: Int, k: Int, mean: Array[Double],
      eigenvalues: Array[Double], components: Array[Array[Double]])

  private def gramMoments(embeddings: DataFrame, d: Int, vecCol: String): Column =
    GraftColumnBridge.column(
      GramMoments(GraftColumnBridge.expression(col(vecCol)), d).toAggregateExpression())

  /** One-pass sufficient statistics → covariance → Jacobi. */
  def fit(embeddings: DataFrame, d: Int, k: Int,
      vecCol: String = "embedding"): PcaModel = {
    require(k >= 1 && k <= d, s"need 1 <= k <= d, got k=$k d=$d")
    val row = embeddings.agg(gramMoments(embeddings, d, vecCol).as("m"))
      .select(col("m.n"), col("m.sums"), col("m.gram")).collect()(0)
    val n = row.getLong(0)
    require(n >= 2, s"PCA needs at least 2 vectors, got $n")
    val sums = row.getSeq[Double](1).toArray
    val gram = row.getSeq[Double](2).toArray
    val mean = sums.map(_ / n)
    // covariance C = E[xxᵀ] − μμᵀ (population form: /n)
    val c = Array.ofDim[Double](d, d)
    var t = 0
    var i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val v = gram(t) / n - mean(i) * mean(j)
        c(i)(j) = v; c(j)(i) = v
        j += 1; t += 1
      }
      i += 1
    }
    val (values, vectors) = jacobiEigen(c)
    // sort desc by eigenvalue (stable tie-break on index), take k,
    // pin each component's sign
    val order = values.indices.sortBy(i => (-values(i), i)).take(k)
    val comps = order.map { ci =>
      val w = Array.tabulate(d)(r => vectors(r)(ci))
      val m = w.indices.maxBy(i => (math.abs(w(i)), -i))
      if (w(m) < 0) w.map(-_) else w
    }.toArray
    PcaModel(d, k, mean, order.map(values).toArray, comps)
  }

  /** Cyclic Jacobi eigensolve for a symmetric matrix: returns
    * (eigenvalues, eigenvector columns). Deterministic sweep order;
    * converges quadratically — for the d ≤ a-few-hundred embedding
    * widths this is microseconds, and keeping it dependency-free
    * beats shipping a linalg library for one d×d solve.
    */
  private[ann] def jacobiEigen(a0: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = offDiagNorm(a)
    val eps = 1e-14 * math.max(1.0, frobNorm(a))
    while (off > eps && sweep < 100) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          if (math.abs(a(p)(q)) > eps / (d * d)) {
            // 2x2 symmetric Schur rotation zeroing a(p)(q)
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
            val sign = if (theta >= 0) 1.0 else -1.0
            val tTan = sign / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val cCos = 1.0 / math.sqrt(tTan * tTan + 1.0)
            val s = tTan * cCos
            var r = 0
            while (r < d) {
              val arp = a(r)(p); val arq = a(r)(q)
              a(r)(p) = cCos * arp - s * arq
              a(r)(q) = s * arp + cCos * arq
              r += 1
            }
            r = 0
            while (r < d) {
              val apr = a(p)(r); val aqr = a(q)(r)
              a(p)(r) = cCos * apr - s * aqr
              a(q)(r) = s * apr + cCos * aqr
              val vrp = v(r)(p); val vrq = v(r)(q)
              v(r)(p) = cCos * vrp - s * vrq
              v(r)(q) = s * vrp + cCos * vrq
              r += 1
            }
          }
          q += 1
        }
        p += 1
      }
      off = offDiagNorm(a)
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  private def offDiagNorm(a: Array[Array[Double]]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) {
      var j = 0
      while (j < a.length) { if (i != j) s += a(i)(j) * a(i)(j); j += 1 }
      i += 1
    }
    math.sqrt(s)
  }

  private def frobNorm(a: Array[Array[Double]]): Double = {
    var s = 0.0
    a.foreach(_.foreach(x => s += x * x))
    math.sqrt(s)
  }

  /** The k-dim projection `(x − μ)·Wᵀ` as a single Column over a
    * vector column — components and the constant μ·w_c offsets are
    * plan literals into the codegen `dot_product` kernel. Composable
    * anywhere a projection Column fits (e.g. the projected-IVF
    * serving path).
    */
  def projectCol(v: Column, model: PcaModel): Column = {
    val cols = model.components.map { w =>
      val offset = w.zip(model.mean).map { case (wi, mi) => wi * mi }.sum
      GraftFunctions.dot_product(v, typedlit(w.toSeq)) - lit(offset)
    }
    array(cols.toIndexedSeq: _*)
  }

  /** Append the k-dim projection `(x − μ)·Wᵀ` as `outCol`. A pure
    * codegen projection, zero shuffles at any scale.
    */
  def project(df: DataFrame, model: PcaModel,
      vecCol: String = "embedding", outCol: String = "projected"): DataFrame =
    df.withColumn(outCol, projectCol(col(vecCol), model))

  /** IVF serving with candidate generation in the PCA space —
    * [[Project.probeTopKProjected]] with the DATA-DERIVED compressor
    * slotted in as the projector: assignment and probing score k-dim
    * PCA coordinates (maximum variance retained per dimension kept),
    * exact rerank in the original space touches only probed
    * candidates. Same plan discipline, swapped axes.
    */
  def probeTopKPca(embeddings: DataFrame, queries: DataFrame,
      centroids: DataFrame, nProbe: Int, k: Int, model: PcaModel): DataFrame =
    Project.probeTopKProjected(embeddings, queries, centroids, nProbe, k,
      projector = v => projectCol(v, model))

  /** Persist the fitted model as a (kind, idx, dim, value) long table
    * with shape params in TBLPROPERTIES, written by
    * [[graft.ops.Compaction.saveTable]] — the artifact travels WITH
    * its params.
    */
  def saveModel(model: PcaModel, spark: SparkSession, table: String,
      path: Option[String] = None): Unit = {
    import spark.implicits._
    val rows =
      model.mean.zipWithIndex.map { case (v, i) => ("mean", 0, i, v) } ++
      model.eigenvalues.zipWithIndex.map { case (v, c) => ("eigenvalue", c, 0, v) } ++
      model.components.zipWithIndex.flatMap { case (w, c) =>
        w.zipWithIndex.map { case (v, i) => ("component", c, i, v) } }
    graft.ops.Compaction.saveTable(
      rows.toSeq.toDF("kind", "idx", "dim", "value").coalesce(1), table, path,
      "graft.pca.params" -> s"""{"d":${model.d},"k":${model.k}}""")
  }

  /** Restore a [[saveModel]]ed model (k·d + k + d rows — kilobytes,
    * driver-sized by construction).
    */
  def loadModel(spark: SparkSession, table: String): PcaModel = {
    val json = graft.ops.TableProps.get(spark, table, "graft.pca.params")
    val d = graft.ops.TableProps.longField(json, "d").toInt
    val k = graft.ops.TableProps.longField(json, "k").toInt
    val mean = new Array[Double](d)
    val ev = new Array[Double](k)
    val comps = Array.ofDim[Double](k, d)
    spark.table(table).collect().foreach { r =>
      val (kind, idx, dim, v) = (r.getAs[String]("kind"), r.getAs[Int]("idx"),
        r.getAs[Int]("dim"), r.getAs[Double]("value"))
      kind match {
        case "mean" => mean(dim) = v
        case "eigenvalue" => ev(idx) = v
        case "component" => comps(idx)(dim) = v
      }
    }
    PcaModel(d, k, mean, ev, comps)
  }

  /** Driver row: fit on the corpus, project every vector, and carry
    * the per-component eigenvalue alongside — rows-only (float fit).
    * Long format, one (vec_id, dim_idx, value, eigenvalue) row per
    * projected component: the gate canonicalizes SCALAR cells only
    * (array cells crash its pandas row-sort), so this is the
    * [[Project.projectQuery]] layout with the component's eigenvalue
    * joined in as a scalar via the plan-literal eigenvalue array.
    */
  def query(embeddings: DataFrame, d: Int, k: Int): DataFrame = {
    val model = fit(embeddings, d, k)
    val ev = typedlit(model.eigenvalues.toSeq)
    project(embeddings, model)
      .select(col("vec_id"), posexplode(col("projected")).as(Seq("dim_idx", "value")))
      .select(col("vec_id"), col("dim_idx").cast("long").as("dim_idx"),
        col("value"), element_at(ev, col("dim_idx").cast("int") + 1).as("eigenvalue"))
  }
}
