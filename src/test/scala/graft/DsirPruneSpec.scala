package graft

import org.apache.spark.sql.functions._

import graft.ann.Prune
import graft.text.Dsir

/** Specs for the round-9 selection operators: DSIR importance
  * resampling and prototype-based semantic pruning.
  */
class DsirPruneSpec extends SparkSpec {
  import spark.implicits._

  // ---- Dsir.importanceResample ----

  private def mixedDocs = {
    // Target-vocabulary docs (en) vs disjoint-vocabulary docs (de),
    // plus two probe docs in the OTHER language label so weight
    // separation can't come from the label itself.
    val en = (0L until 8L).map(i => (i, "alpha beta gamma delta alpha beta", "en", "s0"))
    val de = (8L until 16L).map(i => (i, "zeta eta theta iota zeta eta", "de", "s1"))
    val probeEnLike = Seq((16L, "alpha beta gamma delta", "de", "s1"))
    val probeDeLike = Seq((17L, "zeta eta theta iota", "en", "s0"))
    (en ++ de ++ probeEnLike ++ probeDeLike)
      .toDF("doc_id", "text", "lang", "source")
  }

  test("dsir: target-vocabulary docs outweigh off-target docs regardless of label") {
    val out = Dsir.importanceResample(mixedDocs, k = 5).collect()
      .map(r => r.getLong(0) -> r.getLong(4)).toMap
    // the de-labelled probe written in TARGET vocabulary must score
    // above the en-labelled probe written in off-target vocabulary
    assert(out(16L) > out(17L),
      s"target-vocab probe ${out(16L)} !> off-vocab probe ${out(17L)}")
    // and the en docs (target vocab) above the de docs
    val enMean = (0L until 8L).map(out).sum / 8.0
    val deMean = (8L until 16L).map(out).sum / 8.0
    assert(enMean > deMean, s"en mean $enMean !> de mean $deMean")
  }

  test("dsir: output is a pure function of content — partitioning-invariant") {
    val base = mixedDocs
    val a = Dsir.importanceResample(base, k = 5).collect().map(_.toString).sorted
    val b = Dsir.importanceResample(base.repartition(7), k = 5)
      .collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("dsir: exactly k selected, ranks 1..k, rank order follows score") {
    val out = Dsir.importanceResample(mixedDocs, k = 5).collect()
    val sel = out.filter(_.getBoolean(7))
    assert(sel.length === 5)
    val byRank = sel.sortBy(_.getLong(6))
    assert(byRank.map(_.getLong(6)).sameElements(1L to 5L))
    // rank increases as (score desc, doc_id asc)
    val key = byRank.map(r => (-r.getLong(5), r.getLong(0)))
    assert(key.sameElements(key.sorted))
    // no unselected doc strictly beats a selected one
    val worstSel = key.last
    val ord = implicitly[Ordering[(Long, Long)]]
    out.filter(!_.getBoolean(7)).foreach { r =>
      assert(ord.gt((-r.getLong(5), r.getLong(0)), worstSel))
    }
  }

  test("dsir: n_feat = 2·|toks| − 1 (unigrams + positional bigrams)") {
    val out = Dsir.importanceResample(mixedDocs, k = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(out(16L) === 7L) // 4 toks -> 4 + 3
    assert(out(0L) === 11L) // 6 toks -> 6 + 5
  }

  test("dsir: on the real corpus the en slice outweighs other langs on average") {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val out = Dsir.importanceResample(d).groupBy(col("lang") === "en")
      .agg(avg(col("weight_fp")).as("w")).collect()
      .map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(out(true) > out(false),
      s"en mean ${out(true)} !> non-en mean ${out(false)}")
  }

  test("dsir: plan is window-free and the llr + winner joins broadcast") {
    val df = Dsir.importanceResample(
      spark.read.parquet(s"$sfDir/documents.parquet"))
    val phys = df.queryExecution.executedPlan.toString
    assert(!phys.contains("Window"), s"dsir plans a window:\n$phys")
    assert(phys.contains("BroadcastHashJoin"),
      s"llr/winner tables not broadcast:\n$phys")
    assert(phys.contains("TopKByScore") || phys.contains("top_k_by_score"),
      s"selection not through the bounded top-k aggregate:\n$phys")
  }

  test("dsir: persisted llr round trip — resample from the loaded table ≡ fresh, params guarded") {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val tmp = tempDir("graft_dsir_spec").toString
    val fresh = Dsir.importanceResample(d).collect().map(_.toString)
    val persisted = Dsir.fitSaveResampleQuery(d, "graft_dsir_llr_spec",
      path = Some(s"$tmp/llr")).collect().map(_.toString)
    assert(fresh.sameElements(persisted))
    // a table fitted under different hashing params must be refused
    graft.ops.TableProps.set(spark, "graft_dsir_llr_spec", "graft.dsir.params",
      s"""{"num_buckets":${Dsir.NumBuckets * 2},"scale":${Dsir.Scale}}""")
    intercept[IllegalArgumentException] {
      Dsir.loadLlr(spark, "graft_dsir_llr_spec")
    }
    spark.sql("DROP TABLE IF EXISTS graft_dsir_llr_spec")
  }

  test("dsir: llr table is complete over the hashed space — a disjoint batch drops no features") {
    val llr = Dsir.fitLlr(mixedDocs)
    assert(llr.count() === Dsir.NumBuckets)
    // a batch with vocabulary the fit never saw still weighs every
    // feature occurrence (unobserved buckets carry the zero-count llr)
    val novel = Seq((100L, "totally unseen vocabulary tokens here", "xx", "s9"))
      .toDF("doc_id", "text", "lang", "source")
    val w = Dsir.weigh(novel, llr).collect()
    assert(w.length === 1 && w.head.getAs[Long]("n_feat") === 9L) // 5 toks -> 5+4
  }

  test("dsir: stream scoring from the persisted llr ≡ batch weigh, bitwise") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.Streams
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val tmp = tempDir("graft_dsir_stream").toString
    Dsir.saveLlr(Dsir.fitLlr(d), "graft_dsir_llr_stream_spec",
      path = Some(s"$tmp/llr"))
    val sample = d.orderBy(col("doc_id")).limit(5).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
    val input = MemoryStream[(Long, String)](spark, 31)
    input.addData(sample.toIndexedSeq)
    val stream = input.toDF().select(col("_1").as("doc_id"), col("_2").as("text"))
    val got = scala.collection.concurrent.TrieMap.empty[Long, (Long, Long)]
    val q = Streams.scoreDsirStream(stream, "graft_dsir_llr_stream_spec") { (scored, _) =>
      scored.collect().foreach(r => got(r.getAs[Long]("doc_id")) =
        (r.getAs[Long]("weight_fp"), r.getAs[Long]("n_feat")))
    }.start()
    try q.processAllAvailable() finally q.stop()
    val batch = Dsir.weigh(
      d.filter(col("doc_id").isin(sample.map(_._1).toSeq: _*)),
      Dsir.loadLlr(spark, "graft_dsir_llr_stream_spec")).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("weight_fp"), r.getAs[Long]("n_feat"))).toMap
    assert(got.toMap === batch)
    spark.sql("DROP TABLE IF EXISTS graft_dsir_llr_stream_spec")
  }

  // ---- Prune.prototypePrune ----

  private def vecs = {
    // 2 well-separated centroid directions; members at decreasing
    // similarity to their centroid.
    def v(x: Double, y: Double) = Array(x.toFloat, y.toFloat, 0f, 0f)
    Seq(
      (0L, v(1, 0)), (1L, v(0, 1)),            // centroids (vec_id < 2)
      (10L, v(10, 0)),                          // sim 1.0 to c0
      (11L, v(10, 1)), (12L, v(10, 3)),         // decreasing sim to c0
      (20L, v(0, 5)),                           // sim 1.0 to c1
      (21L, v(1, 8)), (22L, v(3, 7))
    ).toDF("vec_id", "embedding")
  }

  test("prototypePrune: per-cell ranks follow centroid similarity; k bounds the prune set") {
    val out = Prune.prototypePrune(vecs, vecs.filter(col("vec_id") < 2), k = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), if (r.isNullAt(3)) -1L else r.getLong(3),
          r.getBoolean(4))).toMap
    // exact-direction members are rank-1 prototypes of their cells
    // (centroids themselves also land in the cells at sim 1.0 with
    // smaller ids, so they take rank 1; the planted copies rank 2)
    assert(out(0L)._3 === 1L && out(10L)._3 === 2L)
    assert(out(1L)._3 === 1L && out(20L)._3 === 2L)
    // k=2 per cell: everything else unpruned
    assert(Seq(11L, 12L, 21L, 22L).forall(id => !out(id)._4))
    assert(out.values.count(_._4) === 4)
  }

  test("prototypePrune: pruned are exactly the k highest-similarity members of each cell") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val out = Prune.prototypePrune(e, e.filter(col("vec_id") < 8), k = 32).collect()
    val byCell = out.groupBy(_.getLong(1))
    byCell.foreach { case (cell, rows) =>
      val pruned = rows.filter(_.getBoolean(4))
      assert(pruned.length === math.min(32, rows.length), s"cell $cell")
      // every pruned member sorts (sim desc, id asc) before every kept one
      if (pruned.length < rows.length) {
        val worstPruned = pruned.map(r => (-r.getDouble(2), r.getLong(0))).max
        val bestKept = rows.filter(!_.getBoolean(4))
          .map(r => (-r.getDouble(2), r.getLong(0))).min
        assert(implicitly[Ordering[(Double, Long)]].lt(worstPruned, bestKept),
          s"cell $cell ordering")
      }
      // ranks are 1..|pruned| and follow the same order
      val byRank = pruned.sortBy(_.getLong(3))
      assert(byRank.map(_.getLong(3)).sameElements(1L to pruned.length))
    }
  }

  test("prototypePrune: partitioning-invariant and window-free with map-side partial argmax") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val cents = e.filter(col("vec_id") < 8)
    val a = Prune.prototypePrune(e, cents, k = 32).collect().map(_.toString).sorted
    val b = Prune.prototypePrune(e.repartition(7), cents, k = 32)
      .collect().map(_.toString).sorted
    assert(a.sameElements(b))
    val phys = Prune.prototypePrune(e, cents, k = 32)
      .queryExecution.executedPlan.toString
    assert(!phys.contains("Window"), s"prune plans a window:\n$phys")
    assert(phys.contains("partial_max") || phys.contains("partial max"),
      s"cell argmax not map-side combined:\n$phys")
  }
}
