package graft.ann

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftFunctions

/** Optimized Product Quantization (Ge et al., "Optimized Product
  * Quantization for Approximate Nearest Neighbor Search", CVPR 2013,
  * parametric solution §4) — the rung of the compression ladder between
  * PCA and residual IVFADC: learn an ORTHOGONAL rotation R of the
  * vector space before product quantization, so the m independent
  * subspace codebooks cut the data where its variance actually lies
  * instead of along the arbitrary coordinate blocks. Because R is
  * orthogonal it preserves inner products and norms exactly —
  * `cos(Rq, Rx) = cos(q, x)` — so every downstream PQ/ADC/rerank stage
  * runs UNCHANGED in the rotated space and the exact rerank still
  * returns true cosines.
  *
  * Parametric OPQ fit (one extra corpus pass over raw PQ):
  *  1. full PCA of the unit-normalized corpus — the one-pass
  *     [[graft.expressions.GramMoments]] aggregate + driver-side Jacobi
  *     already built for [[Pca]] (O(d²) shuffled state, n-independent);
  *  2. EIGENVALUE ALLOCATION: reorder the d eigen-axes into m groups
  *     of d/m, balancing the product of eigenvalues per group (the
  *     paper's independence-times-balance criterion) — pure driver
  *     arithmetic on d numbers;
  *  3. R's rows are the reordered eigenvectors; rotation is applied as
  *     d codegen dot products with the rows riding the plan as
  *     literals (the [[Pca.projectCol]] idiom — no UDF, no broadcast,
  *     no shuffle), then the standard [[Pq]] machinery takes over.
  *
  * Rows-only at the driver gate: the PCA rotation is a float fit,
  * and no SQL oracle mirrors the [[Pq]] Lloyd rounds yet;
  * orthonormality / inner-product-preservation / allocation /
  * recall-vs-raw-PQ properties in OpqSpec.
  */
object Opq {

  /** A fitted OPQ model: the d×d orthogonal rotation (rows = reordered
    * unit eigenvectors) and the PQ codebooks trained in rotated space.
    */
  final case class OpqModel(d: Int, rotation: Array[Array[Double]], pq: Pq.PqModel)

  /** Eigenvalue allocation: partition the d eigen-axes into m groups
    * of d/m with balanced per-group eigenvalue PRODUCTS (sums of
    * logs). Scale-invariant formulation: groups all hold exactly d/m
    * axes, so centering the logs changes every group's sum by the same
    * constant — greedy balanced partition of the centered logs
    * (largest |log| first; positive → currently-smallest group,
    * negative → currently-largest group) is deterministic and spreads
    * the high-variance axes one-per-group whenever they dominate.
    * Returns m arrays of axis indices, each sorted by descending
    * eigenvalue.
    */
  private[graft] def allocate(eigenvalues: Array[Double], m: Int): Array[Array[Int]] = {
    val d = eigenvalues.length
    require(m >= 1 && d % m == 0, s"m=$m must divide d=$d")
    val dSub = d / m
    val logs = eigenvalues.map(ev => math.log(math.max(ev, 1e-300)))
    val mean = logs.sum / d
    val centered = logs.map(_ - mean)
    val order = (0 until d).sortBy(i => (-math.abs(centered(i)), i))
    val sums = new Array[Double](m)
    val buckets = Array.fill(m)(scala.collection.mutable.ArrayBuffer.empty[Int])
    order.foreach { i =>
      val open = (0 until m).filter(b => buckets(b).size < dSub)
      val b =
        if (centered(i) >= 0) open.minBy(b => (sums(b), b))
        else open.maxBy(b => (sums(b), -b))
      buckets(b) += i
      sums(b) += centered(i)
    }
    buckets.map(_.sortBy(i => (-eigenvalues(i), i)).toArray)
  }

  /** Fit the rotation alone: full PCA of the unit-normalized corpus,
    * axes reordered by [[allocate]]. The returned matrix is orthogonal
    * (rows are the eigenvectors of a symmetric matrix — orthonormal by
    * construction, reordering preserves that).
    */
  def fitRotation(emb: DataFrame, m: Int,
      vecCol: String = "embedding"): Array[Array[Double]] = {
    val nv = emb.select(GraftFunctions.l2_normalize(col(vecCol)).as("nv"))
      .filter(col("nv").isNotNull)
    val d = nv.select(size(col("nv"))).head().getInt(0)
    val pca = Pca.fit(nv, d, d, vecCol = "nv")
    allocate(pca.eigenvalues, m).flatten.map(pca.components)
  }

  /** `R·v` as a Column: one codegen dot product per output dimension,
    * rotation rows as plan literals — a pure whole-stage-codegen map.
    */
  def rotateCol(v: Column, rotation: Array[Array[Double]]): Column =
    array(rotation.map(w =>
      GraftFunctions.dot_product(v, typedlit(w.toSeq))).toIndexedSeq: _*)

  /** Rotate a (vec_id, `vecCol`) frame in place, other columns kept. */
  def rotate(df: DataFrame, rotation: Array[Array[Double]],
      vecCol: String = "embedding"): DataFrame =
    df.withColumn(vecCol, rotateCol(col(vecCol), rotation))

  /** Fit rotation + rotated-space PQ codebooks. Same knobs as
    * [[Pq.train]]; the PCA pass shares [[Pq.train]]'s deterministic
    * corpus sample discipline via `sampleFrac` (rotation statistics
    * stabilize long before the full corpus is seen).
    */
  def train(emb: DataFrame, m: Int = 8, k: Int = 16,
      maxIter: Int = 10, sampleFrac: Double = 0.1): OpqModel = {
    val rotation = fitRotation(graft.ops.Sampling.idGate(emb, "vec_id", sampleFrac), m)
    OpqModel(rotation.length, rotation,
      Pq.train(rotate(emb, rotation), m, k, maxIter, sampleFrac))
  }

  /** Exhaustive OPQ-ADC top-k (the [[Pq.pqTopK]] twin): rotate corpus
    * and queries, serve with the standard ADC machinery. The exact
    * rerank runs on ROTATED full-precision vectors — identical cosines
    * by orthogonality, so the output contract matches the PQ family.
    */
  def topK(corpus: DataFrame, queries: DataFrame, model: OpqModel,
      k: Int, prefilterK: Int,
      broadcastQueries: Option[Boolean] = None): DataFrame =
    Pq.pqTopK(rotate(corpus, model.rotation), rotate(queries, model.rotation),
      model.pq, k, prefilterK, broadcastQueries)

  /** Persist the rotation as a (r, dim, value) long table with d in
    * TBLPROPERTIES, written by [[graft.ops.Compaction.saveTable]].
    */
  def saveRotation(rotation: Array[Array[Double]], spark: SparkSession,
      table: String, path: Option[String] = None): Unit = {
    import spark.implicits._
    val rows = for {
      r <- rotation.indices
      j <- rotation(r).indices
    } yield (r, j, rotation(r)(j))
    graft.ops.Compaction.saveTable(rows.toDF("r", "dim", "value").coalesce(1), table, path,
      "graft.opq.params" -> s"""{"d":${rotation.length}}""")
  }

  /** Restore a [[saveRotation]]ed matrix (d² rows — kilobytes). */
  def loadRotation(spark: SparkSession, table: String): Array[Array[Double]] = {
    val json = graft.ops.TableProps.get(spark, table, "graft.opq.params")
    val d = graft.ops.TableProps.longField(json, "d").toInt
    val rot = Array.ofDim[Double](d, d)
    spark.table(table).collect().foreach { r =>
      rot(r.getAs[Int]("r"))(r.getAs[Int]("dim")) = r.getAs[Double]("value")
    }
    rot
  }

  /** Persist the full OPQ index at rest: `<table>_rot` = the rotation,
    * plus the [[Pq.saveIndex]] pair (codebook + m-byte codes of the
    * ROTATED corpus). Serving from [[topKOnSavedIndex]] re-applies the
    * persisted rotation to queries only — the corpus never re-rotates.
    */
  def saveIndex(model: OpqModel, corpus: DataFrame, table: String,
      path: Option[String] = None): Unit = {
    saveRotation(model.rotation, corpus.sparkSession, s"${table}_rot",
      path.map(loc => s"${loc}_rot"))
    Pq.saveIndex(model.pq, rotate(corpus, model.rotation), table, path)
  }

  /** Restore (model, codes) from a [[saveIndex]] table set. */
  def loadIndex(spark: SparkSession, table: String): (OpqModel, DataFrame) = {
    val rot = loadRotation(spark, s"${table}_rot")
    val (pq, codes) = Pq.loadIndex(spark, table)
    (OpqModel(rot.length, rot, pq), codes)
  }

  /** ADC top-k from a persisted OPQ index: queries rotate with the
    * PERSISTED matrix (never the caller's), codes serve as stored; the
    * rerank touches the rotated corpus (= identical cosines).
    */
  def topKOnSavedIndex(spark: SparkSession, table: String, corpus: DataFrame,
      queries: DataFrame, k: Int, prefilterK: Int,
      broadcastQueries: Option[Boolean] = None): DataFrame = {
    val (model, codes) = loadIndex(spark, table)
    Pq.pqTopKOnCodes(codes, rotate(corpus, model.rotation),
      rotate(queries, model.rotation), model.pq, k, prefilterK, broadcastQueries)
  }

  /** OPQ × IVFADC at rest: the rotation composes with the cell-pruned
    * path exactly as with the exhaustive one — corpus AND centroids
    * persist rotated (cell assignment in rotated space ≡ raw space by
    * orthogonality), the rotation rides in `<table>_rot` next to the
    * `Pq.saveCellIndex` triple, and residual/nProbe encoding flags
    * persist in the cells table as usual. Everything downstream —
    * bucketed-by-cell layout, probe equi-join, ADC kernel, bias term —
    * is the unmodified [[Pq]] machinery.
    */
  def saveCellIndex(model: OpqModel, corpus: DataFrame, centroids: DataFrame,
      table: String, nBuckets: Int = 32, path: Option[String] = None,
      residual: Boolean = false, nProbe: Int = 1): Unit = {
    saveRotation(model.rotation, corpus.sparkSession, s"${table}_rot",
      path.map(loc => s"${loc}_rot"))
    Pq.saveCellIndex(model.pq, rotate(corpus, model.rotation),
      rotate(centroids, model.rotation), table, nBuckets, path, residual, nProbe)
  }

  /** One-call IVFADC serving from an [[saveCellIndex]]ed OPQ index:
    * the persisted rotation applies to the query batch and the rerank
    * corpus (cells and centroids are already at rest rotated), the
    * persisted encoding flags select the scoring decomposition — a
    * rotated residual index cannot be served un-rotated or un-biased.
    */
  def topKOnSavedCellIndex(spark: SparkSession, table: String,
      corpus: DataFrame, queries: DataFrame, k: Int, prefilterK: Int,
      nProbeOverride: Option[Int] = None,
      broadcastQueries: Option[Boolean] = None): DataFrame = {
    val rot = loadRotation(spark, s"${table}_rot")
    Pq.topKOnSavedCellIndex(spark, table, rotate(corpus, rot),
      rotate(queries, rot), k, prefilterK, nProbeOverride, broadcastQueries)
  }
}
