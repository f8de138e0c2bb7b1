package graft

import org.apache.spark.sql.functions._

import graft.ann.Knn
import graft.config.LshConfig
import graft.lsh.{LshIndex, LshParams, RandomProjection}

class LshSpec extends SparkSpec {
  import spark.implicits._

  lazy val emb = Tables.load(spark, sfDir, "embeddings")
  val p = LshParams(dim = 64, numPerm = 32, numBands = Some(8), rowsPerBand = Some(4))

  test("signatures are deterministic and partition-independent") {
    val a = LshIndex.signatures(emb, p).orderBy("vec_id").collect()
    val b = LshIndex.signatures(emb.repartition(7), p).orderBy("vec_id").collect()
    assert(a.map(_.getSeq[Long](1)).toSeq === b.map(_.getSeq[Long](1)).toSeq)
  }

  test("identical vectors collide in every band; band sigs fit rowsPerBand bits") {
    val sigs = LshIndex.signatures(emb, p).collect()
    sigs.foreach { r =>
      val s = r.getSeq[Long](1)
      assert(s.length === p.b)
      assert(s.forall(v => v >= 0 && v < (1L << p.r)))
    }
    val dup = emb.limit(1).withColumn("vec_id", lit(999999L))
    val both = LshIndex.signatures(emb.limit(1).unionByName(dup), p).collect()
    assert(both(0).getSeq[Long](1) === both(1).getSeq[Long](1))
  }

  test("empirical collision rate follows the S-curve P(s)=1-(1-s^r)^b") {
    // planted pairs at controlled similarity: v and a noisy copy
    val rng = new scala.util.Random(7)
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    def pairAt(target: Double): (Array[Float], Array[Float]) = {
      val a = unit(Array.fill(64)(rng.nextGaussian()))
      val noise = unit(Array.fill(64)(rng.nextGaussian()))
      // b = target*a + sqrt(1-target^2)*orthogonalized noise
      val dot = a.zip(noise).map { case (x, y) => x * y }.sum
      val orth = unit(noise.zip(a).map { case (y, x) => y - dot * x })
      val bv = a.zip(orth).map { case (x, o) => target * x + math.sqrt(1 - target * target) * o }
      (a.map(_.toFloat), bv.map(_.toFloat))
    }
    Seq(0.3, 0.6, 0.9).foreach { s =>
      val n = 300
      val pairs = (0 until n).map(_ => pairAt(s))
      val df = pairs.zipWithIndex.flatMap { case ((a, b), i) =>
        Seq((i.toLong * 2, a), (i.toLong * 2 + 1, b))
      }.toDF("vec_id", "embedding")
      val idx = LshIndex.build(df, p)
      val collided = idx.as("x").join(idx.as("y"),
          col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
            col("x.vec_id") + 1 === col("y.vec_id") && col("x.vec_id") % 2 === 0)
        .select(col("x.vec_id")).distinct().count()
      // cosine-LSH row-match prob: (1 - acos(s)/pi)^r per band
      val pRow = 1.0 - math.acos(s) / math.Pi
      val expected = 1.0 - math.pow(1.0 - math.pow(pRow, p.r), p.b)
      val got = collided.toDouble / n
      assert(math.abs(got - expected) < 0.12,
        s"s=$s: empirical $got vs theoretical $expected")
    }
  }

  test("lsh topPRerank achieves high recall vs brute force at matched k") {
    val recallP = LshParams(dim = 64, numPerm = 64, numBands = Some(16), rowsPerBand = Some(4))
    val queries = emb.filter(col("vec_id") < 20)
    val brute = Knn.cosineTopK(emb, queries, 3).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"))).toSet
    val lsh = LshIndex.topPRerank(emb, queries, recallP, topP = 1.0, topK = 3).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"))).toSet
    val recall = brute.intersect(lsh).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall $recall too low (16x4 bands on random corpus)")
  }

  test("topK orders by collision count desc then id (reference tie-break)") {
    val res = LshIndex.topK(emb, emb.filter(col("vec_id") < 5), p, 10).collect()
    res.groupBy(_.getAs[Long]("q_id")).values.foreach { g =>
      val ordered = g.sortBy(_.getAs[Long]("rn"))
      val keys = ordered.map(r => (-r.getAs[Long]("n_collisions"), r.getAs[Long]("cand_id")))
      assert(keys.sameElements(keys.sorted))
    }
  }

  test("save/load round-trip preserves index and params") {
    val dir = tempDir("lshidx").toString
    val idx = LshIndex.build(emb, p)
    LshIndex.save(idx, p, dir)
    val (loaded, lp) = LshIndex.load(spark, dir)
    assert(lp === p.copy(numBands = Some(p.b), rowsPerBand = Some(p.r)))
    assert(loaded.count() === idx.count())
    // same signatures derivable from loaded params
    val again = LshIndex.build(emb, lp)
    assert(again.orderBy("vec_id", "band").collect().map(_.toSeq).toSeq ===
      idx.orderBy("vec_id", "band").collect().map(_.toSeq).toSeq)
  }

  test("load rejects hostile/mispaired persisted state (reference persistence tests)") {
    // missing directory raises (test_load_missing_directory_raises)
    intercept[Exception] { LshIndex.load(spark, "/tmp/graft_no_such_dir_xyz") }
    // params without index raises (test_load_missing_files_raises)
    val dir = tempDir("lshbad").toString
    val idx = LshIndex.build(emb, p)
    LshIndex.save(idx, p, dir)
    val dir2 = tempDir("lshbad2").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(dir, "params.json"),
      java.nio.file.Paths.get(dir2, "params.json"))
    intercept[Exception] { LshIndex.load(spark, dir2) }
    // params that disagree with the stored band layout fail fast
    val wrong = p.copy(numPerm = 16, numBands = Some(4), rowsPerBand = Some(4))
    val dir3 = tempDir("lshbad3").toString
    LshIndex.save(idx, wrong, dir3) // 8-band index, 4-band params
    val e = intercept[IllegalArgumentException] { LshIndex.load(spark, dir3) }
    assert(e.getMessage.contains("does not match"))
    // validate=false restores the permissive behavior
    LshIndex.load(spark, dir3, validate = false)
  }

  test("bucketed save/load: params round-trip; collision join has no index-side exchange") {
    val idx = LshIndex.build(emb, p)
    val dir = tempDir("lshtbl").toString
    LshIndex.saveBucketed(idx, p, "lsh_idx_spec", nBuckets = 4, path = Some(dir))
    val (loaded, lp) = LshIndex.loadBucketed(spark, "lsh_idx_spec")
    assert(lp === p.copy(numBands = Some(p.b), rowsPerBand = Some(p.r)))
    assert(loaded.count() === idx.count())
    // results identical to serving from a freshly built index
    val queries = emb.filter(col("vec_id") < 5)
    assert(LshIndex.topKOnIndex(loaded, queries, lp, 10).collect().toSeq ===
      LshIndex.topK(emb, queries, p, 10).collect().toSeq)
    // scale contract: with a non-broadcast query side, only the QUERY
    // side shuffles — the bucketed index's layout already satisfies the
    // (band, sig) distribution (the Redis-bucket analogue at rest)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val plan = LshIndex.topKOnIndex(loaded, queries, lp, 10, broadcastQueries = false)
        .queryExecution.executedPlan.toString
      assert(plan.contains("Exchange"), "query side should shuffle")
      val freshPlan = LshIndex.topK(emb, queries, p, 10, broadcastQueries = false)
        .queryExecution.executedPlan.toString
      def exchanges(s: String) = "Exchange".r.findAllIn(s).size
      assert(exchanges(plan) < exchanges(freshPlan),
        s"bucketed index still exchanges:\n$plan")
    } finally spark.conf.set(key, old)
    spark.sql("DROP TABLE IF EXISTS lsh_idx_spec")
  }

  test("bucketed broadcast serve: the index scan stage runs fewer tasks than buckets") {
    val dir = tempDir("lshstream").toString
    LshIndex.saveBucketed(LshIndex.build(emb, p), p, "lsh_stream_spec", nBuckets = 8,
      path = Some(dir))
    val (loaded, lp) = LshIndex.loadBucketed(spark, "lsh_stream_spec", validate = false)
    // an in-memory batch, so the one file scan in the serve is the index
    val qRows = emb.filter(col("vec_id") < 5).collect()
    val queries = spark.createDataFrame(java.util.Arrays.asList(qRows: _*), emb.schema)
    val scans = stagesOf(LshIndex.topKOnIndex(loaded, queries, lp, 10).collect())
      .filter(_.rddInfos.exists(_.name == "FileScanRDD"))
    assert(scans.nonEmpty, "no index scan stage observed")
    assert(scans.forall(_.numTasks < 8),
      s"index scan runs one task per bucket: ${scans.map(_.numTasks)}")
    spark.sql("DROP TABLE IF EXISTS lsh_stream_spec")
  }

  test("bucketed lifecycle: add appends under stored params; compact ≡ rebuild, one file per bucket") {
    import graft.ops.Compaction
    val thirds = (0 to 2).map(i => emb.filter(col("vec_id") % 3 === i))
    val dir = tempDir("lshcpt").toString
    LshIndex.saveBucketed(LshIndex.build(thirds(0), p), p, "lsh_cpt_spec",
      nBuckets = 4, path = Some(s"$dir/tbl"))
    LshIndex.addToBucketed(spark, thirds(1), "lsh_cpt_spec")
    LshIndex.addToBucketed(spark, thirds(2), "lsh_cpt_spec")
    // the adds signed under the TABLE's params: appended index ≡ a
    // full rebuild over the union (same planes, same signatures)
    val (loaded, lp) = LshIndex.loadBucketed(spark, "lsh_cpt_spec")
    val full = LshIndex.build(emb, p)
    assert(loaded.count() === full.count())
    assert(loaded.except(full).count() === 0 && full.except(loaded).count() === 0)
    // append debris: some bucket holds more than one file set
    assert(Compaction.filesPerBucket(spark, "lsh_cpt_spec").values.max > 1,
      "appends should leave more than one file in some bucket")
    LshIndex.compactBucketed(spark, "lsh_cpt_spec")
    val perBucket = Compaction.filesPerBucket(spark, "lsh_cpt_spec")
    assert(perBucket.nonEmpty && perBucket.values.forall(_ == 1),
      s"compaction left multi-file buckets: $perBucket")
    // params property survived the staging-table swap; serving from
    // the compacted table ≡ serving from a fresh index
    val (compacted, cp) = LshIndex.loadBucketed(spark, "lsh_cpt_spec")
    assert(cp === p.copy(numBands = Some(p.b), rowsPerBand = Some(p.r)))
    val queries = emb.filter(col("vec_id") < 5)
    assert(LshIndex.topKOnIndex(compacted, queries, cp, 10).collect().toSeq ===
      LshIndex.topK(emb, queries, p, 10).collect().toSeq)
    // the compacted table still serves its collision join with fewer
    // exchanges than a from-scratch build (the bucketed-at-rest contract)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      def exchanges(s: String) = "Exchange".r.findAllIn(s).size
      val plan = LshIndex.topKOnIndex(compacted, queries, cp, 10, broadcastQueries = false)
        .queryExecution.executedPlan.toString
      val freshPlan = LshIndex.topK(emb, queries, p, 10, broadcastQueries = false)
        .queryExecution.executedPlan.toString
      assert(exchanges(plan) < exchanges(freshPlan),
        s"compacted index still exchanges:\n$plan")
    } finally spark.conf.set(key, old)
    spark.sql("DROP TABLE IF EXISTS lsh_cpt_spec")
  }

  test("delete removes all bands of the given ids") {
    val idx = LshIndex.build(emb, p)
    val ids = Seq(1L, 2L, 3L).toDF("vec_id")
    val after = LshIndex.delete(idx, ids)
    assert(after.filter(col("vec_id").isin(1L, 2L, 3L)).count() === 0)
    assert(after.count() === idx.count() - 3 * p.b)
  }

  test("wide signatures: byte packing agrees bit-for-bit with the long packing at r ≤ 64") {
    // same planes, same sign decisions — the little-endian byte layout
    // (reference hash/lsh.py:171) reassembles to exactly the int64 sig
    val sub = emb.limit(40)
    val longs = LshIndex.signatures(sub, p).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Long](1)).toMap
    val wideExpr = org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.LshBandSignaturesWide(
        org.apache.spark.sql.GraftColumnBridge.expression(col("embedding")),
        p.b, p.r, p.dim, p.seed))
    val wides = sub.select(col("vec_id"), wideExpr.as("sigs")).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Array[Byte]](1)).toMap
    assert(wides.nonEmpty && wides.keySet === longs.keySet)
    wides.foreach { case (id, bands) =>
      assert(bands.length === p.b)
      bands.zipWithIndex.foreach { case (bytes, bi) =>
        assert(bytes.length === (p.r + 7) / 8)
        val reassembled = bytes.zipWithIndex
          .map { case (by, i) => (by.toLong & 0xFFL) << (8 * i) }.sum
        assert(reassembled === longs(id)(bi), s"vec $id band $bi")
      }
    }
  }

  test("wide config r=96: builds, collides exact dups in every band, serves topK") {
    // the parameter domain the long path rejects — numPerm/b > 64
    val wp = LshParams(dim = 64, numPerm = 192, numBands = Some(2), rowsPerBand = Some(96))
    assert(wp.wide)
    val sub = emb.limit(60)
    val idx = LshIndex.build(sub, wp)
    // one hex string per (vec, band), 96 bits → 12 bytes → 24 hex chars
    val rows = idx.collect()
    assert(rows.length === 60 * 2)
    rows.foreach(r => assert(r.getAs[String]("sig").length === 24))
    // a planted duplicate collides in all bands with its source
    val base = sub.select(col("vec_id"), col("embedding"))
    val dup = base.filter(col("vec_id") === 0L)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    val pairs = LshIndex.candidatePairs(LshIndex.build(base.unionByName(dup), wp))
      .filter(col("a") === 0L && col("b") === 100000L).collect()
    assert(pairs.length === 1 && pairs.head.getAs[Long]("n_shared_bands") === 2L)
    // end-to-end serving: at r=96 only (near-)identical vectors ever
    // collide — query the planted duplicate against the dup'd index
    val got = LshIndex.topKOnIndex(LshIndex.build(base.unionByName(dup), wp),
      dup, wp, k = 5).collect()
    assert(got.length === 1)
    assert(got.head.getAs[Long]("cand_id") === 0L)
    assert(got.head.getAs[Long]("n_collisions") === 2L)
    // persistence: the hex-sig index round-trips through save/load
    // with its wide params intact
    val dir = tempDir("lsh_wide_rt").toString
    LshIndex.save(idx, wp, dir)
    val (reloaded, rp) = LshIndex.load(spark, dir)
    assert(rp === wp && rp.wide)
    assert(reloaded.orderBy(col("vec_id"), col("band")).collect().map(_.toString).toSeq
      === idx.orderBy(col("vec_id"), col("band")).collect().map(_.toString).toSeq)
  }

  test("RandomProjection gaussians: deterministic, ~N(0,1)") {
    val xs = (0 until 20000).map(i => RandomProjection.gaussian(42L, i % 8, (i / 8) % 4, i / 32))
    val mean = xs.sum / xs.size
    val varr = xs.map(x => (x - mean) * (x - mean)).sum / xs.size
    assert(math.abs(mean) < 0.03, s"mean $mean")
    assert(math.abs(varr - 1.0) < 0.05, s"var $varr")
    assert(RandomProjection.gaussian(42L, 3, 2, 1) === RandomProjection.gaussian(42L, 3, 2, 1))
    assert(RandomProjection.gaussian(42L, 3, 2, 1) !== RandomProjection.gaussian(43L, 3, 2, 1))
  }
}
