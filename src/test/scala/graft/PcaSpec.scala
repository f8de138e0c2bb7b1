package graft

import org.apache.spark.sql.functions._

import graft.ann.Pca

class PcaSpec extends SparkSpec {
  import spark.implicits._

  lazy val emb = Tables.load(spark, sfDir, "embeddings")
  val d = 64

  /** Independent reference: covariance + top eigenpair via plain-Scala
    * power iteration on collected rows — shares NO code with the
    * GramMoments aggregate or the Jacobi solve.
    */
  private lazy val (refCov, refTopValue, refTopVector) = {
    val x = emb.select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val n = x.length
    val mean = Array.tabulate(d)(i => x.map(_(i)).sum / n)
    val c = Array.tabulate(d, d)((i, j) =>
      x.map(r => (r(i) - mean(i)) * (r(j) - mean(j))).sum / n)
    var v = Array.fill(d)(1.0 / math.sqrt(d))
    var lambda = 0.0
    (0 until 300).foreach { _ =>
      val cv = Array.tabulate(d)(i => (0 until d).map(j => c(i)(j) * v(j)).sum)
      val norm = math.sqrt(cv.map(e => e * e).sum)
      v = cv.map(_ / norm)
      lambda = norm
    }
    (c, lambda, v)
  }

  test("fit: orthonormal components, descending eigenvalues, trace preserved") {
    val m = Pca.fit(emb, d, d) // full decomposition
    // orthonormality
    for (a <- 0 until d; b <- a until d) {
      val dot = m.components(a).zip(m.components(b)).map { case (x, y) => x * y }.sum
      val expect = if (a == b) 1.0 else 0.0
      assert(math.abs(dot - expect) < 1e-9, s"components ($a, $b) dot = $dot")
    }
    // ordering and positivity (covariance is PSD)
    m.eigenvalues.sliding(2).foreach { case Array(hi, lo) => assert(hi >= lo - 1e-12) }
    assert(m.eigenvalues.forall(_ > -1e-9))
    // sum of eigenvalues = trace of the covariance (solve is exact)
    val trace = (0 until d).map(i => refCov(i)(i)).sum
    assert(math.abs(m.eigenvalues.sum - trace) < 1e-8 * math.max(1.0, trace),
      s"eigenvalue sum ${m.eigenvalues.sum} vs trace $trace")
  }

  test("fit agrees with an independent power-iteration reference on the top eigenpair") {
    val m = Pca.fit(emb, d, 4)
    assert(math.abs(m.eigenvalues(0) - refTopValue) < 1e-9 * math.max(1.0, refTopValue),
      s"lambda1 ${m.eigenvalues(0)} vs power-iteration $refTopValue")
    val cos = math.abs(m.components(0).zip(refTopVector).map { case (a, b) => a * b }.sum)
    assert(cos > 1.0 - 1e-7, s"top component misaligned: |cos| = $cos")
  }

  test("projection: variance per component = eigenvalue; plan is a pure codegen map") {
    val k = 8
    val m = Pca.fit(emb, d, k)
    val proj = Pca.project(emb, m)
    val rows = proj.select(col("projected")).collect().map(_.getSeq[Double](0).toArray)
    val n = rows.length
    (0 until k).foreach { c =>
      val mu = rows.map(_(c)).sum / n
      val varC = rows.map(r => (r(c) - mu) * (r(c) - mu)).sum / n
      assert(math.abs(varC - m.eigenvalues(c)) < 1e-6 * math.max(1.0, m.eigenvalues(c)),
        s"component $c variance $varC vs eigenvalue ${m.eigenvalues(c)}")
      // centered projection: the per-component mean is ~0
      assert(math.abs(mu) < 1e-9, s"component $c mean $mu")
    }
    val phys = proj.queryExecution.executedPlan.toString
    assert(!phys.contains("Exchange"), s"projection shuffles:\n$phys")
    assert(!phys.contains("BatchEvalPython") && !phys.contains("UDF"),
      s"projection leaves codegen:\n$phys")
  }

  test("data-derived beats a random subspace: top-k captures well above k/d of the variance") {
    val k = 8
    val m = Pca.fit(emb, d, k)
    val captured = m.eigenvalues.sum
    val trace = (0 until d).map(i => refCov(i)(i)).sum
    assert(captured > 1.3 * trace * k / d,
      s"top-$k captured $captured of $trace — no better than a random $k-dim subspace")
  }

  test("fit plan: one narrow corpus pass, O(d^2) shuffle via the moments aggregate") {
    val agg = emb.agg(org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.GramMoments(
        org.apache.spark.sql.GraftColumnBridge.expression(col("embedding")), d)
        .toAggregateExpression()).as("m"))
    val phys = agg.queryExecution.executedPlan.toString
    // partial aggregation runs map-side: the only exchange moves
    // #partitions sketch rows, not corpus rows
    assert(phys.contains("gram_moments"), phys)
    assert("Exchange".r.findAllIn(phys).size === 1, s"moments pass shuffles more than once:\n$phys")
    assert(phys.toLowerCase.contains("partial_gram_moments"),
      s"moments aggregate is not map-side partial:\n$phys")
  }

  test("model save/load round trip is bitwise") {
    val m = Pca.fit(emb, d, 6)
    val dir = tempDir("pca_rt").toString
    Pca.saveModel(m, spark, "graft_pca_rt_spec", Some(s"$dir/tbl"))
    val m2 = Pca.loadModel(spark, "graft_pca_rt_spec")
    assert(m2.d === m.d && m2.k === m.k)
    assert(m2.mean.toSeq === m.mean.toSeq)
    assert(m2.eigenvalues.toSeq === m.eigenvalues.toSeq)
    assert(m2.components.map(_.toSeq).toSeq === m.components.map(_.toSeq).toSeq)
    // loaded model serves the identical projection
    val a = Pca.project(emb, m).select(col("vec_id"), col("projected")).collect()
    val b = Pca.project(emb, m2).select(col("vec_id"), col("projected")).collect()
    assert(a.map(_.toString).toSeq === b.map(_.toString).toSeq)
    spark.sql("DROP TABLE IF EXISTS graft_pca_rt_spec")
  }

  test("planted dominant direction is recovered as component 0") {
    val dir = Array.tabulate(d)(i => if (i % 7 == 0) 1.0 else 0.2).map(identity)
    val norm = math.sqrt(dir.map(x => x * x).sum)
    val u = dir.map(_ / norm)
    // strong signal along u, weak deterministic noise elsewhere
    val rows = (0 until 400).map { r =>
      val signal = (r % 21).toDouble - 10.0
      val v = Array.tabulate(d)(i =>
        (signal * u(i) + 0.01 * math.sin(r * 131 + i * 17)).toFloat)
      (r.toLong, v.toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val m = Pca.fit(df, d, 1)
    val cos = math.abs(m.components(0).zip(u).map { case (a, b) => a * b }.sum)
    assert(cos > 0.999, s"planted axis not recovered: |cos| = $cos")
  }

  test("probeTopKPca: window-free plan; probe-every-cell ≡ brute force row-for-row") {
    val m = Pca.fit(emb, d, 16)
    val q = emb.filter(col("vec_id") < 10)
    val cents = emb.filter(col("vec_id") < 8)
    val df = Pca.probeTopKPca(emb, q, cents, nProbe = 2, k = 5, m)
    val phys = df.queryExecution.executedPlan.toString
    assert(!phys.contains("Window"), s"PCA-projected IVF plans a window:\n$phys")
    assert(!phys.contains("BatchEvalPython"), phys)
    // probing EVERY cell = exhaustive search in disguise: the
    // PCA-space candidate generation must then agree with brute force
    val all = Pca.probeTopKPca(emb, q, cents, nProbe = 8, k = 5, m)
      .collect().map(_.toString)
    val brute = graft.ann.Knn.cosineTopK(emb, q, k = 5).collect().map(_.toString)
    assert(all.sameElements(brute))
  }

  test("hardNegatives: planted near-dup excluded, boundary sample surfaces, filter precedes the top-k") {
    import graft.ann.Ivf
    // 0/1 are centroids & queries; 10 is a near-duplicate of 0 (same
    // direction), 11 is similar-but-below-threshold, 12 is dissimilar
    def vec(main: Int, eps: Double, seed: Int): Seq[Float] =
      Array.tabulate(8)(i =>
        (if (i == main) 1.0 else eps * math.sin(seed * 31 + i)).toFloat).toSeq
    val rows = Seq(
      (0L, vec(0, 0.0, 1)), (1L, vec(1, 0.0, 2)),
      (10L, vec(0, 0.001, 3)),  // near-dup of 0: sim > 0.999
      (11L, vec(0, 0.45, 4)),   // confusable with 0 but < 0.95
      (12L, vec(1, 0.05, 5)))   // other cluster
    val emb8 = rows.toDF("vec_id", "embedding")
    val queries = emb8.filter(col("vec_id") === 0L)
    val cents = emb8.filter(col("vec_id") < 2)
    val got = Ivf.hardNegatives(emb8, queries, cents, nProbe = 1, k = 1)
      .collect()
    assert(got.length === 1)
    val r = got.head
    assert(r.getAs[Long]("cand_id") === 11L,
      s"hard negative should be the boundary sample, got ${r.getAs[Long]("cand_id")}")
    assert(r.getAs[Double]("sim") < 0.95 && r.getAs[Double]("sim") > 0.5)
    // the near-dup (sim > 0.999) was excluded by the threshold even
    // though it is the TOP candidate — proving the filter runs before
    // the bounded top-k, not on its survivors
    val unfiltered = Ivf.probeTopK(emb8, queries, cents, nProbe = 1, k = 1).collect()
    assert(unfiltered.head.getAs[Long]("cand_id") === 10L)
  }

  test("query: k scalar rows per vector, eigenvalue attached per component") {
    val k = 4
    val got = Pca.query(emb, d, k)
    val n = emb.count()
    assert(got.count() === n * k)
    // all cells scalar (the gate's pandas row-sort requirement) and the
    // eigenvalue column carries the model spectrum, constant per dim_idx
    val m = Pca.fit(emb, d, k)
    val rows = got.filter(col("vec_id") === 0L).orderBy(col("dim_idx")).collect()
    assert(rows.length === k)
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[Long]("dim_idx") === i.toLong)
      assert(r.getAs[Double]("eigenvalue") === m.eigenvalues(i))
    }
    // per-row value matches the direct projection of vector 0
    val x = emb.filter(col("vec_id") === 0L).select(col("embedding"))
      .collect().head.getSeq[Float](0).map(_.toDouble).toArray
    rows.zipWithIndex.foreach { case (r, c) =>
      val w = m.components(c)
      val offset = w.zip(m.mean).map { case (wi, mi) => wi * mi }.sum
      val expect = x.zip(w).map { case (xi, wi) => xi * wi }.sum - offset
      assert(math.abs(r.getAs[Double]("value") - expect) < 1e-9)
    }
  }
}
