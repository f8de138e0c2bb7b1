package graft

import org.apache.spark.sql.functions._

import graft.ann.{Knn, Opq, Pq}

/** Specs for parametric OPQ (Ge et al. 2013): the rotation must be a
  * true orthogonal matrix (so ADC serving in rotated space returns the
  * same cosines), the eigenvalue allocation must balance variance
  * across subspaces, and on data whose variance is concentrated inside
  * one coordinate block — the case OPQ exists for — rotated-space PQ
  * must recall at least as well as raw PQ at equal m/k.
  */
class OpqSpec extends SparkSpec {
  import spark.implicits._

  /** Planted anisotropic corpus: d=16, all signal variance in dims
    * 0..3 (exactly ONE raw-PQ subspace at m=4), tiny noise elsewhere.
    * Deterministic seeded congruential generator — no RNG state.
    */
  private lazy val planted = {
    val d = 16
    def u(seed: Long): Double = {
      // splitmix64-style scramble → uniform in [-1, 1)
      var z = seed + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      ((z ^ (z >>> 31)) >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
    }
    val rows = (0L until 400L).map { id =>
      val v = Array.tabulate(d) { j =>
        if (j < 4) u(id * 31 + j).toFloat
        else (0.05 * u(id * 131 + 7 * j + 1)).toFloat
      }
      (id, v.toSeq)
    }
    rows.toDF("vec_id", "embedding")
  }

  test("rotation is orthogonal: R·Rᵀ = I and inner products survive exactly") {
    val rot = Opq.fitRotation(planted, m = 4)
    val d = rot.length
    assert(d === 16)
    for (a <- 0 until d; b <- a until d) {
      val dot = rot(a).zip(rot(b)).map { case (x, y) => x * y }.sum
      val expect = if (a == b) 1.0 else 0.0
      assert(math.abs(dot - expect) < 1e-9, s"rows ($a,$b) dot=$dot")
    }
    // dot(Rx, Ry) == dot(x, y) for corpus pairs (driver-side check on
    // collected vectors, independent of the Column path)
    val vecs = planted.limit(6).collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    def rotv(x: Array[Double]) = rot.map(r => r.zip(x).map { case (a, b) => a * b }.sum)
    for (i <- vecs.indices; j <- i + 1 until vecs.length) {
      val raw = vecs(i).zip(vecs(j)).map { case (a, b) => a * b }.sum
      val rr = rotv(vecs(i)).zip(rotv(vecs(j))).map { case (a, b) => a * b }.sum
      assert(math.abs(raw - rr) < 1e-9, s"pair ($i,$j): $raw vs $rr")
    }
  }

  test("rotateCol matches the driver-side rotation arithmetic") {
    val rot = Opq.fitRotation(planted, m = 4)
    val got = Opq.rotate(planted.limit(3), rot).collect()
    val raw = planted.limit(3).collect()
    got.zip(raw).foreach { case (g, r) =>
      val x = r.getSeq[Float](1).map(_.toDouble).toArray
      val expect = rot.map(w => w.zip(x).map { case (a, b) => a * b }.sum)
      val v = g.getSeq[Double](1)
      v.zip(expect).foreach { case (a, b) => assert(math.abs(a - b) < 1e-9) }
    }
  }

  test("eigenvalue allocation: equal-size groups, dominant axes spread one-per-group") {
    // 4 dominant eigenvalues (the planted dims), 12 small ones
    val ev = Array(9.0, 8.0, 7.0, 6.0) ++ Array.fill(12)(0.01)
    val groups = Opq.allocate(ev, 4)
    assert(groups.length === 4)
    groups.foreach(g => assert(g.length === 4))
    assert(groups.flatten.sorted.toSeq === (0 until 16))
    // each group holds exactly one of the dominant axes 0..3
    groups.foreach(g => assert(g.count(_ < 4) === 1,
      s"dominant axes clustered: ${groups.map(_.toSeq).toSeq}"))
  }

  test("planted anisotropy: OPQ recall ≥ raw PQ recall at equal m/k") {
    val m = 4; val kCode = 8
    val queries = planted.filter(col("vec_id") < 20)
    val exact = Knn.cosineTopK(planted, queries, 10).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"))).toSet
    def recallOf(got: Array[org.apache.spark.sql.Row]): Double = {
      val pairs = got.map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"))).toSet
      pairs.intersect(exact).size.toDouble / exact.size
    }
    val pqModel = Pq.train(planted, m = m, k = kCode, sampleFrac = 1.0)
    val rawR = recallOf(Pq.pqTopK(planted, queries, pqModel, k = 10,
      prefilterK = 10).collect())
    val opqModel = Opq.train(planted, m = m, k = kCode, sampleFrac = 1.0)
    val opqR = recallOf(Opq.topK(planted, queries, opqModel, k = 10,
      prefilterK = 10).collect())
    // prefilterK == k so the ADC ranking is not hidden by the rerank;
    // with all signal variance inside one raw subspace the rotation's
    // advantage is structural, not statistical noise
    assert(opqR >= rawR, s"OPQ recall $opqR < raw PQ recall $rawR")
    assert(opqR > 0.5, s"OPQ recall $opqR implausibly low")
  }

  test("OPQ × IVFADC: cell-pruned serving from the rotated index at rest") {
    val model = Opq.train(planted, m = 4, k = 8, sampleFrac = 1.0)
    val cents = planted.filter(col("vec_id") < 6)
    val tmp = tempDir("graft_opq_cells").toString
    Opq.saveCellIndex(model, planted, cents, "graft_opq_cells_rt",
      path = Some(s"$tmp/tbl"), residual = true, nProbe = 2)
    val queries = planted.filter(col("vec_id") < 5)
    val served = Opq.topKOnSavedCellIndex(spark, "graft_opq_cells_rt",
      planted, queries, k = 5, prefilterK = 20).collect()
    // composition ≡ rotating every input and running the raw PQ path
    val rot = model.rotation
    val fresh = Pq.topKOnSavedCellIndex(spark, "graft_opq_cells_rt",
      Opq.rotate(planted, rot), Opq.rotate(queries, rot),
      k = 5, prefilterK = 20).collect()
    assert(served.map(_.toString).toSeq === fresh.map(_.toString).toSeq)
    assert(served.nonEmpty)
    // the rerank returns TRUE cosines: spot-check one served pair
    // against the unrotated exact cosine (orthogonality)
    val exact = Knn.cosineTopK(planted, queries, 20).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id")) -> r.getAs[Double]("sim"))
      .toMap
    served.foreach { r =>
      val key = (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"))
      exact.get(key).foreach { s =>
        assert(math.abs(r.getAs[Double]("sim") - s) < 1e-9, s"pair $key")
      }
    }
    Seq("graft_opq_cells_rt", "graft_opq_cells_rt_cells",
      "graft_opq_cells_rt_centroids", "graft_opq_cells_rt_rot")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("save/load round trip: rotation bitwise, served top-k identical") {
    val model = Opq.train(planted, m = 4, k = 8, sampleFrac = 1.0)
    val tmp = tempDir("graft_opq_spec").toString
    Opq.saveIndex(model, planted, "graft_opq_spec_rt", path = Some(s"$tmp/tbl"))
    val (loaded, codes) = Opq.loadIndex(spark, "graft_opq_spec_rt")
    assert(loaded.d === model.d)
    loaded.rotation.zip(model.rotation).foreach { case (a, b) =>
      assert(a.toSeq === b.toSeq)
    }
    assert(loaded.pq.m === model.pq.m && loaded.pq.k === model.pq.k)
    val queries = planted.filter(col("vec_id") < 5)
    val fresh = Opq.topK(planted, queries, model, k = 5, prefilterK = 20)
      .collect().map(_.toString)
    val served = Opq.topKOnSavedIndex(spark, "graft_opq_spec_rt", planted,
      queries, k = 5, prefilterK = 20).collect().map(_.toString)
    assert(served.toSeq === fresh.toSeq)
    assert(codes.count() === planted.count())
    spark.sql("DROP TABLE IF EXISTS graft_opq_spec_rt")
    spark.sql("DROP TABLE IF EXISTS graft_opq_spec_rt_codes")
    spark.sql("DROP TABLE IF EXISTS graft_opq_spec_rt_rot")
  }

  test("sampleFrac outside (0, 1] is refused before the rotation fit runs a job") {
    var err: Option[IllegalArgumentException] = None
    val jobs = jobsOf {
      err = Some(intercept[IllegalArgumentException](Opq.train(planted, m = 4, sampleFrac = 0.0)))
    }
    assert(err.get.getMessage.contains("sampleFrac=0.0"))
    assert(jobs === 0)
  }
}
