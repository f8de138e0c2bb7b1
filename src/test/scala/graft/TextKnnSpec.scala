package graft

import org.apache.spark.sql.functions._

import graft.ann.Knn
import graft.text.TextAnalysis

class TextKnnSpec extends SparkSpec {
  import spark.implicits._

  lazy val docs = Tables.load(spark, sfDir, "documents")
  lazy val emb = Tables.load(spark, sfDir, "embeddings")

  test("tokenStats matches a manual count") {
    val row = docs.orderBy("doc_id").limit(1).collect().head
    val text = row.getAs[String]("text")
    val manual = text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
    val got = TextAnalysis.tokenStats(docs)
      .filter(col("doc_id") === row.getAs[Long]("doc_id")).collect().head
    assert(got.getAs[Long]("n_tokens") === manual.length)
    assert(got.getAs[Long]("n_unique") === manual.distinct.length)
  }

  test("quality metrics are in range and consistent") {
    val rows = TextAnalysis.quality(docs).collect()
    assert(rows.length === docs.count())
    rows.foreach { r =>
      val q = r.getAs[Double]("quality_score")
      assert(q >= 0.0 && q <= 1.0)
      assert(r.getAs[Double]("punct_ratio") >= 0.0)
      assert(r.getAs[Double]("stop_ratio") <= 1.0)
    }
  }

  test("langid: predictions are deterministic members of the label set") {
    val langs = TextAnalysis.langId(docs).select("pred_lang").distinct()
      .collect().map(_.getString(0)).toSet
    assert(langs.subsetOf(Set("en", "de", "es", "fr", "und")))
  }

  test("fingerprint is stable and collision-free on distinct texts") {
    val fp = TextAnalysis.fingerprint(docs).collect()
    assert(fp.map(_.getAs[Long]("fingerprint")).distinct.length === fp.length)
    val again = TextAnalysis.fingerprint(docs).collect()
    assert(fp.map(_.getAs[Long]("fingerprint")).sameElements(again.map(_.getAs[Long]("fingerprint"))))
  }

  test("tokenPmi: planted collocation scores ln(4); ubiquitous pair scores 0") {
    // 40 docs. 'rare1 rare2' appear together in exactly docs 0-9
    // (df=10 each, co_df=10): pmi = ln(10·40/100) = ln 4 > 0.
    // 'alpha beta' appear in every doc: pmi = ln(40·40/1600) = 0.
    val corpus = (0 until 40).map { i =>
      val rare = if (i < 10) " rare1 rare2" else ""
      (i.toLong, s"alpha beta$rare the a of pad$i")
    }.toDF("doc_id", "text")
    val rows = TextAnalysis.tokenPmi(corpus, vocabSize = 50, minCoDf = 5).collect()
    val res = rows
      .map(r => (r.getAs[String]("a"), r.getAs[String]("b")) -> r.getAs[Double]("pmi")).toMap
    assert(math.abs(res(("rare1", "rare2")) - math.log(4.0)) < 1e-12)
    assert(math.abs(res(("alpha", "beta"))) < 1e-12)
    // every reported pmi equals the definition, recomputed via DetLn
    rows.foreach { r =>
      val expect = graft.expressions.DetLn.ln(
        (r.getAs[Long]("co_df").toDouble * 40) /
          (r.getAs[Long]("df_a").toDouble * r.getAs[Long]("df_b")))
      assert(r.getAs[Double]("pmi") === expect)
    }
  }

  test("corpusStats totals reconcile with the corpus; topNgrams plans a distributed top-k") {
    val stats = TextAnalysis.corpusStats(docs).collect()
    assert(stats.map(_.getAs[Long]("n_docs")).sum === docs.count())
    stats.foreach { r =>
      assert(r.getAs[Double]("avg_tokens") ===
        r.getAs[Long]("total_tokens").toDouble / r.getAs[Long]("n_docs"))
    }
    val top = TextAnalysis.topNgrams(docs, k = 20)
    val phys = top.queryExecution.executedPlan.toString
    assert(phys.contains("TakeOrderedAndProject"),
      s"global top-k must not sort the full vocabulary:\n$phys")
    val rows = top.collect()
    assert(rows.length <= 20)
    val dfs = rows.map(_.getAs[Long]("df"))
    assert(dfs.sameElements(dfs.sortBy(-_)), "descending df order")
    assert(rows.map(_.getAs[Long]("rank")).toSeq === (1L to rows.length))
  }

  test("repetition: a looping document scores high; varied text scores low") {
    import spark.implicits._
    val planted = Seq(
      (9000001L, Array.fill(50)("spam ham").mkString(" ")),     // "spam ham" x50
      (9000002L, (1 to 100).map(i => s"tok$i").mkString(" ")))  // all-distinct bigrams
      .toDF("doc_id", "text")
    val r = TextAnalysis.repetition(planted).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Double]("dup_bigram_frac"), x.getAs[Double]("top_bigram_frac"))).toMap
    assert(r(9000001L)._1 > 0.9, s"loop not flagged: ${r(9000001L)}")
    assert(r(9000001L)._2 > 0.4)
    assert(r(9000002L)._1 === 0.0)
  }

  test("CountMin: one-sided guarantee, εN bound, merge ≡ whole-corpus sketch, unseen token") {
    import graft.text.CountMin
    val (depth, width) = (4, 8192)
    val tok = docs.select(explode(GraftFunctions.tokens(col("text"))).as("token"))
    val exact = tok.groupBy(col("token")).agg(count(lit(1)).as("n_exact"))
    val nTotal = tok.count()
    val est = CountMin.estimate(CountMin.sketch(docs, depth, width),
      exact, depth, width).collect()
      .map(r => (r.getAs[String]("token"),
        r.getAs[Long]("n_exact"), r.getAs[Long]("cms_count")))
    // overestimate-only, and within the e/width·N Markov bound for
    // every row of EVERY token (4 independent rows make a miss on all
    // of them essentially impossible at this corpus size)
    val eps = math.E / width
    est.foreach { case (t, n, c) =>
      assert(c >= n, s"$t underestimated: $c < $n")
      assert(c - n <= (eps * nTotal).toLong.max(2L), s"$t over by ${c - n}")
    }
    // sharded build + counter merge == whole-corpus sketch, bit-for-bit
    val (a, b) = (docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 === 1))
    val merged = CountMin.merge(CountMin.sketch(a, depth, width),
      CountMin.sketch(b, depth, width))
      .collect().map(r => (r.getAs[Int]("j"), r.getAs[Long]("bucket"), r.getAs[Long]("cnt"))).sorted
    val whole = CountMin.sketch(docs, depth, width)
      .collect().map(r => (r.getAs[Int]("j"), r.getAs[Long]("bucket"), r.getAs[Long]("cnt"))).sorted
    assert(merged.toSeq == whole.toSeq)
    // a token absent from the corpus estimates near zero (collision-bounded)
    import spark.implicits._
    val ghost = CountMin.estimate(CountMin.sketch(docs, depth, width),
      Seq("zz_never_a_token_zz").toDF("token"), depth, width)
      .collect().head.getAs[Long]("cms_count")
    assert(ghost <= (eps * nTotal).toLong.max(2L), s"ghost token estimated $ghost")
  }

  test("corpusApproxDistinct: HLL estimates land within the rsd error bound of exact") {
    val rsd = 0.05
    val approx = TextAnalysis.corpusApproxDistinct(docs, rsd).collect()
      .map(r => ((r.getAs[String]("source"), r.getAs[String]("lang")),
        (r.getAs[Long]("approx_distinct_tokens"), r.getAs[Long]("approx_distinct_fingerprints"))))
      .toMap
    val exact = docs.withColumn("toks", GraftFunctions.tokens(col("text")))
      .select(col("source"), col("lang"),
        GraftFunctions.hex64(array_join(col("toks"), " ")).as("fp"),
        explode(col("toks")).as("tok"))
      .groupBy(col("source"), col("lang"))
      .agg(countDistinct(col("tok")).as("t"), countDistinct(col("fp")).as("f"))
      .collect()
      .map(r => ((r.getAs[String]("source"), r.getAs[String]("lang")),
        (r.getAs[Long]("t"), r.getAs[Long]("f")))).toMap
    assert(approx.keySet === exact.keySet)
    // HLL++ rsd is a standard deviation — allow 4 sigma, with an
    // absolute floor of 2 for tiny groups where relative error is
    // meaningless (a 4-distinct group estimated as 3 is fine)
    exact.foreach { case (k, (t, f)) =>
      val (at, af) = approx(k)
      assert(math.abs(at - t).toDouble <= math.max(2.0, 4 * rsd * t),
        s"$k tokens: $at vs exact $t")
      assert(math.abs(af - f).toDouble <= math.max(2.0, 4 * rsd * f),
        s"$k fps: $af vs exact $f")
    }
  }

  test("bm25: rare matched terms outscore common ones; non-matching docs score 0") {
    val corpus = Seq(
      (1L, "the apple tree and the fruit of autumn"),   // common 'the'/'of'
      (2L, "rareword apple tree fruit autumn harvest"), // rare term only
      (3L, "zzz qqq yyy www")                           // matches nothing
    ).toDF("doc_id", "text")
    val res = TextAnalysis.bm25(corpus, terms = Seq("the", "rareword")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("bm25")).toMap
    assert(res(3L) === 0.0)
    // 'rareword' (df=1) carries more idf weight than 'the' (df=1 here too,
    // but doc 1 has tf=2 for 'the'); both docs must score positive
    assert(res(1L) > 0.0 && res(2L) > 0.0)
    // idf of a df=1 term in a 3-doc corpus: ln(1 + 2.5/1.5) > 0
    val idf = math.log(1.0 + (3 - 1 + 0.5) / (1 + 0.5))
    assert(res(2L) <= idf * 2.2 + 1e-9) // single-term score bounded by idf·(k1+1)
  }

  test("gopher rules: synthetic violations trip exactly the intended signal") {
    val good = (1 to 60).map(i => s"the word number$i is of and to in").mkString(" ")
    val tooShort = "the a of and short text"
    val bullets = (1 to 60).map(i => s"- the bullet item $i of and").mkString("\n")
    val noStop = (1 to 60).map(i => s"zzz$i qqq$i").mkString(" ")
    val df = Seq((1L, good), (2L, tooShort), (3L, bullets), (4L, noStop))
      .toDF("doc_id", "text")
    val res = TextAnalysis.gopherQuality(df).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(res(1L).getAs[Boolean]("gopher_pass"))
    assert(!res(2L).getAs[Boolean]("gopher_pass")) // word count < 50
    assert(res(3L).getAs[Double]("bullet_line_ratio") === 1.0)
    assert(!res(3L).getAs[Boolean]("gopher_pass"))
    assert(res(4L).getAs[Long]("n_stop") === 0L)
    assert(!res(4L).getAs[Boolean]("gopher_pass"))
  }

  test("containment: a document embedded in a larger one scores ~1.0") {
    val body = (1 to 60).map(i => s"alpha$i").mkString(" ")
    val host = s"intro text here $body trailing content words end"
    val corpus = Seq((1L, body), (2L, host), (3L, (1 to 60).map(i => s"beta$i").mkString(" ")))
      .toDF("doc_id", "text")
    val res = TextAnalysis.containment(corpus, minContainment = 0.5).collect()
    val pair = res.find(r => r.getAs[Long]("a") === 1L && r.getAs[Long]("b") === 2L)
    assert(pair.isDefined, s"embedded doc not detected: ${res.toSeq}")
    assert(pair.get.getAs[Double]("containment") >= 0.9)
    // unrelated doc 3 pairs with nobody
    assert(!res.exists(r => r.getAs[Long]("a") === 3L || r.getAs[Long]("b") === 3L))
  }

  test("recallEval: identity = 1.0, disjoint = 0.0, partial = the exact fraction") {
    import spark.implicits._
    import graft.ann.Knn
    val truth = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 20L), (2L, 21L))
      .toDF("q_id", "cand_id")
    val self = Knn.recallEval(truth, truth).collect()
      .map(r => r.getAs[Long]("q_id") -> r.getAs[Double]("recall")).toMap
    assert(self === Map(1L -> 1.0, 2L -> 1.0))
    val got = Seq((1L, 10L), (1L, 99L), (1L, 12L), (2L, 98L), (2L, 97L))
      .toDF("q_id", "cand_id")
    val part = Knn.recallEval(got, truth).collect()
      .map(r => r.getAs[Long]("q_id") ->
        (r.getAs[Long]("n_common"), r.getAs[Double]("recall"))).toMap
    assert(part(1L) === ((2L, 2.0 / 3.0)))
    assert(part(2L) === ((0L, 0.0)))
    // one-sided queries survive the full-outer with zeroed counts
    val extra = Seq((9L, 1L)).toDF("q_id", "cand_id")
    val r9 = Knn.recallEval(extra, truth).collect()
      .map(r => r.getAs[Long]("q_id") -> r.getAs[Long]("n_truth")).toMap
    assert(r9(9L) === 0L)
  }

  test("rankEval: first-hit rank + MRR; a no-hit query is null, not zero") {
    import spark.implicits._
    import graft.ann.Knn
    val truth = Seq((1L, 10L), (1L, 11L), (2L, 20L), (3L, 30L))
      .toDF("q_id", "cand_id")
    val got = Seq(
      (1L, 1L, 99L), (1L, 2L, 11L), (1L, 3L, 10L), // first hit at rank 2
      (2L, 1L, 20L), (2L, 2L, 98L), //              first hit at rank 1
      (3L, 1L, 97L), (3L, 2L, 96L)) //              never hits
      .toDF("q_id", "rn", "cand_id")
    val r = Knn.rankEval(got, truth).collect()
      .map(x => x.getAs[Long]("q_id") -> x).toMap
    assert(r(1L).getAs[Long]("first_hit_rank") === 2L)
    assert(r(1L).getAs[Double]("mrr") === 0.5)
    assert(r(1L).getAs[Long]("n_common") === 2L)
    assert(r(2L).getAs[Long]("first_hit_rank") === 1L)
    assert(r(2L).getAs[Double]("mrr") === 1.0)
    assert(r(3L).isNullAt(r(3L).fieldIndex("first_hit_rank")),
      "no-hit must be null, not a sentinel")
    assert(r(3L).isNullAt(r(3L).fieldIndex("mrr")))
    assert(r(3L).getAs[Long]("n_common") === 0L)
  }

  test("readability: hand-recounted FK grade; floor guards for fragments") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat. the dog ran!"), // 6 words, 2 sentences, 6 syl
      (2L, "beautiful organization"), //    2 words, 1 sentence (floor)
      (3L, "xyz")) //                       0-vowel word: floor 1 syllable
      .toDF("doc_id", "text")
    val got = TextAnalysis.readability(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got(1L).getAs[Long]("n_words") === 6L)
    assert(got(1L).getAs[Long]("n_sentences") === 2L)
    assert(got(1L).getAs[Long]("n_syllables") === 6L)
    assert(got(1L).getAs[Double]("fk_grade") ===
      0.39 * (6.0 / 2) + 11.8 * (6.0 / 6) - 15.59)
    // beau-ti-ful = [eau][i][u] → 3 groups; or-ga-ni-za-tion →
    // [o][a][i][a][io] → 5 groups
    assert(got(2L).getAs[Long]("n_syllables") === 8L)
    assert(got(2L).getAs[Long]("n_sentences") === 1L)
    assert(got(3L).getAs[Long]("n_syllables") === 1L)
  }

  test("hybridSearchTopK: RRF fusion recounts from the two retrievers' own ranks") {
    import graft.text.TextAnalysis
    val got = TextAnalysis.hybridSearchTopK(docs).collect()
    assert(got.length === 10)
    // independent recount: collect both retrievers separately, fuse on
    // the driver with the same 1/(60+rank) arithmetic
    val lex = TextAnalysis.searchTopK(docs, TextAnalysis.Bm25Terms, 20).collect()
      .sortBy(r => (-r.getAs[Double]("score"), r.getAs[Long]("doc_id")))
      .zipWithIndex.map { case (r, i) => r.getAs[Long]("doc_id") -> (i + 1L) }.toMap
    val spark2 = spark
    import spark2.implicits._
    val qRow = Seq((TextAnalysis.HybridQueryDocId,
      TextAnalysis.Bm25Terms.mkString(" "))).toDF("doc_id", "text")
    val vec = TextAnalysis.hashEmbedTopK(
      docs.select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text")).unionByName(qRow),
      qRow.select(org.apache.spark.sql.functions.col("doc_id")), 64, 20).collect()
      .map(r => r.getAs[Long]("cand_id") -> r.getAs[Long]("rn")).toMap
    val expected = (lex.keySet ++ vec.keySet).toSeq.map { id =>
      val s = lex.get(id).map(r => 1.0 / (60.0 + r)).getOrElse(0.0) +
        vec.get(id).map(r => 1.0 / (60.0 + r)).getOrElse(0.0)
      (id, s)
    }.sortBy { case (id, s) => (-s, id) }.take(10)
    got.zip(expected).foreach { case (r, (id, s)) =>
      assert(r.getAs[Long]("doc_id") === id)
      assert(r.getAs[Double]("rrf_score") === s)
      assert(r.getAs[Any]("lex_rank") === lex.get(id).map(Long.box).orNull)
      assert(r.getAs[Any]("vec_rank") === vec.get(id).map(Long.box).orNull)
    }
    // both retrievers actually contribute to the fused list
    val top = got.map(_.getAs[Long]("doc_id")).toSet
    assert(top.exists(lex.contains) && top.exists(vec.contains))
  }

  test("hybridSearchTopKOnIndex ≡ the self-contained hybrid, bitwise") {
    import graft.text.{SearchIndex, TextAnalysis}
    val tmp = tempDir("hyb_idx").toString
    SearchIndex.save(docs, "graft_hybrid_spec_idx", path = Some(s"$tmp/t"))
    val idx = SearchIndex.load(spark, "graft_hybrid_spec_idx")
    val fresh = TextAnalysis.hybridSearchTopK(docs).collect().map(_.toString)
    val served = TextAnalysis.hybridSearchTopKOnIndex(idx, docs)
      .collect().map(_.toString)
    assert(served.toSeq === fresh.toSeq)
    spark.sql("DROP TABLE IF EXISTS graft_hybrid_spec_idx")
    spark.sql("DROP TABLE IF EXISTS graft_hybrid_spec_idx_doclen")
  }

  test("int8 quantization round-trips within quantization error") {
    import graft.ann.Quantize
    val q = Quantize.int8(emb)
    val codes = q.agg(min(col("q")), max(col("q"))).head()
    assert(codes.getLong(0) >= -127L && codes.getLong(1) <= 127L)
    // dequantized vectors stay within the scalar-quantization error
    // bound: cosine vs the original ≥ 0.99 on unit-norm-ish data
    val deq = Quantize.dequantize(q)
    val sims = emb.select(col("vec_id"), col("embedding").as("orig"))
      .join(deq.withColumnRenamed("embedding", "rec"), Seq("vec_id"))
      .select(GraftFunctions.cosine_sim(col("orig"), col("rec")).as("c"))
      .collect().map(_.getDouble(0))
    assert(sims.nonEmpty && sims.forall(_ >= 0.99), s"worst ${sims.min}")
  }

  test("quantizedTopK: int8-prefiltered serving recalls the exact brute-force top-k") {
    import graft.ann.Quantize
    val queries = emb.filter(col("vec_id") < 20)
    val k = 5
    val exact = Knn.cosineTopK(emb, queries, k).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"))).toSet
    val quant = Quantize.quantizedTopK(emb, queries, k, prefilterK = 4 * k).collect()
    // same output contract as cosineTopK
    assert(quant.groupBy(_.getAs[Long]("q_id")).forall(_._2.length == k))
    assert(!quant.exists(r => r.getAs[Long]("q_id") == r.getAs[Long]("cand_id")))
    // int8 on unit vectors distorts cosine by <1% (round-trip spec
    // above); with a 4x rerank margin the exact top-k should survive
    // the prefilter nearly always
    val hits = quant.map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id")))
      .count(exact.contains)
    val recall = hits.toDouble / exact.size
    assert(recall >= 0.9, s"quantized recall $recall")
    // reranked sims are the EXACT cosine (not the approximation)
    val oneExact = Knn.cosineTopK(emb, queries, k).collect()
      .map(r => ((r.getAs[Long]("q_id"), r.getAs[Long]("cand_id")), r.getAs[Double]("sim"))).toMap
    quant.foreach { r =>
      val key = (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"))
      oneExact.get(key).foreach(s => assert(s === r.getAs[Double]("sim")))
    }
  }

  test("cosineTopK: ordered, self-excluded, exact per manual computation") {
    val res = Knn.cosineTopK(emb, emb.filter(col("vec_id") < 5), 5).collect()
    val byQ = res.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.size === 5)
    byQ.foreach { case (q, rows) =>
      assert(rows.length === 5)
      assert(!rows.exists(_.getAs[Long]("cand_id") === q))
      val sims = rows.sortBy(_.getAs[Long]("rn")).map(_.getAs[Double]("sim"))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
    // manual exact check for q=0's top-1
    val vecs = emb.filter(col("vec_id") < 200).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Float](r.fieldIndex("embedding")).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val all = emb.collect().map(r => r.getAs[Long]("vec_id") -> r.getSeq[Float](r.fieldIndex("embedding")).toArray)
    val q0 = all.find(_._1 == 0L).get._2
    val best = all.filter(_._1 != 0L).map { case (id, v) => (id, cos(q0, v)) }
      .maxBy { case (id, s) => (s, -id.toDouble) }
    val got = res.filter(r => r.getAs[Long]("q_id") == 0L && r.getAs[Long]("rn") == 1L).head
    assert(got.getAs[Long]("cand_id") === best._1)
    assert(got.getAs[Double]("sim") === best._2)
  }

  test("knnClassify equals a manual majority vote over cosineTopK neighbors") {
    val queries = emb.filter(col("vec_id") < 30)
    val labels = emb.collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("label").toLong).toMap
    val nn = Knn.cosineTopK(emb, queries, 5).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rn"), r.getAs[Long]("cand_id")))
    val expected = nn.groupBy(_._1).map { case (q, rows) =>
      val votes = rows.map(t => (labels(t._3), t._2)) // (label, rn)
        .groupBy(_._1).map { case (l, v) => (l, v.size, v.map(_._2).min) }
      // votes desc, best rank asc, label asc
      val best = votes.toSeq.minBy { case (l, n, br) => (-n, br, l) }
      q -> (best._1, best._2.toLong)
    }
    val got = Knn.knnClassify(emb, queries, 5).collect()
      .map(r => r.getAs[Long]("q_id") ->
        (r.getAs[Long]("pred_label"), r.getAs[Long]("votes"))).toMap
    assert(got === expected)
  }

  test("chunksDedup keeps each distinct chunk exactly once, at first occurrence") {
    // doc 1 and 2 share identical 300-char text (2 chunks each at the
    // defaults); doc 3 is unique
    val long1 = ("abcdefghij" * 30)
    val uniq = ("zyxwvutsrq" * 30)
    val planted = Seq((1L, long1), (2L, long1), (3L, uniq)).toDF("doc_id", "text")
    val res = TextAnalysis.chunksDedup(planted).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_chunks"), r.getAs[Long]("n_kept"),
          r.getAs[Long]("chars_total"), r.getAs[Long]("chars_kept"))).toMap
    assert(res(1L) === (2L, 2L, 350L, 350L)) // chunk 0: 200 chars, chunk 1: 150
    assert(res(2L) === (2L, 0L, 350L, 0L))   // every chunk already seen in doc 1
    assert(res(3L) === (2L, 2L, 350L, 350L))
    // global invariant on the real corpus: survivors = distinct hashes
    val ledger = TextAnalysis.chunksDedup(docs).collect()
    val kept = ledger.map(_.getAs[Long]("n_kept")).sum
    val distinctHashes = TextAnalysis.chunks(docs)
      .select("chunk_hash").distinct().count()
    assert(kept === distinctHashes)
  }

  test("semanticDedup drops in-cell junior copies, keeps seniors and non-dups") {
    val copies = emb.filter(col("vec_id") < 5)
      .withColumn("vec_id", col("vec_id") + lit(1000000L))
    val all = emb.unionByName(copies)
    val res = graft.ann.Knn.semanticDedup(all, emb.filter(col("vec_id") < 8),
      threshold = 0.95).collect()
    // an exact copy shares its original's cell (identical argmax) and
    // scores cosine 1.0 with it; nothing else in the random corpus
    // comes near 0.95 — so the flagged set is exactly the 5 copies
    val flagged = res.filter(_.getAs[Boolean]("is_dup")).map(_.getAs[Long]("vec_id")).toSet
    assert(flagged === (0 until 5).map(_ + 1000000L).toSet)
    assert(res.filter(_.getAs[Long]("vec_id") < 1000000L).forall(_.getAs[Boolean]("keep")))
    assert(res.length === all.count())
  }

  test("Pq: codes well-formed; planted copies share codes and rerank to the top; recall grows with prefilterK") {
    import graft.ann.Pq
    val model = Pq.train(emb, m = 8, k = 16)
    assert(model.codebooks.length === 8)
    assert(model.codebooks.forall(_.length === 16))
    assert(model.codebooks.forall(_.forall(_.length === 8)))
    val codes = Pq.encode(emb, model).collect()
    codes.foreach { r =>
      val cs = r.getSeq[Byte](r.fieldIndex("codes"))
      assert(cs.length === 8)
      assert(cs.forall(c => c >= 0 && c < 16))
    }
    // an exact copy of a query encodes to identical codes → maximal ADC
    // score for that cell pattern → survives any prefilter; rerank puts
    // it first at cosine 1
    val queries = emb.filter(col("vec_id") < 10)
    val copies = queries.withColumn("vec_id", col("vec_id") + lit(1000000L))
    val res = Pq.pqTopK(emb.unionByName(copies), queries, model, k = 1, prefilterK = 20)
      .collect()
    res.foreach { r =>
      assert(r.getAs[Long]("cand_id") === r.getAs[Long]("q_id") + 1000000L)
      assert(math.abs(r.getAs[Double]("sim") - 1.0) < 1e-6)
    }
    // recall knob vs brute on the worst-case random corpus
    val truth = Knn.cosineTopK(emb, queries, 5).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"))).toSet
    def recall(preK: Int) = {
      val got = Pq.pqTopK(emb, queries, model, k = 5, prefilterK = preK).collect()
        .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"))).toSet
      (got & truth).size.toDouble / truth.size
    }
    val (r20, r100) = (recall(20), recall(100))
    assert(r20 >= 0.3, s"PQ ADC recall@20 $r20 below 0.3")
    assert(r100 >= r20 && r100 >= 0.6, s"PQ recall@100 $r100 (from $r20)")
  }

  test("hashEmbedTopK: sparse integer cosine equals the dense-vector cosine ranking") {
    val qids = docs.filter(col("doc_id") < 10).select(col("doc_id"))
    val sparse = TextAnalysis.hashEmbedTopK(docs, qids, k = 5).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rn")) ->
        (r.getAs[Long]("cand_id"), r.getAs[Double]("sim"))).toMap
    // independent dense path: assembled float vectors through the
    // codegen cosine — same ranking, sims equal within float assembly
    val vecs = TextAnalysis.hashEmbedVectors(docs)
      .select(col("doc_id").as("vec_id"), col("embedding"))
    val dense = Knn.cosineTopK(vecs, vecs.filter(col("vec_id") < 10), 5).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rn")) ->
        (r.getAs[Long]("cand_id"), r.getAs[Double]("sim"))).toMap
    assert(sparse.keySet === dense.keySet)
    sparse.foreach { case (key, (cand, sim)) =>
      assert(dense(key)._1 === cand, s"rank mismatch at $key")
      assert(math.abs(dense(key)._2 - sim) < 1e-5, s"sim mismatch at $key")
    }
  }

  test("Pq saveIndex/loadIndex: codebooks+codes round-trip; code-served results identical") {
    import graft.ann.Pq
    val model = Pq.train(emb, m = 8, k = 16)
    val tmp = tempDir("graft_pq").toString
    Pq.saveIndex(model, emb, "graft_pq_spec", path = Some(s"$tmp/tbl"))
    val (loaded, codes) = Pq.loadIndex(spark, "graft_pq_spec")
    assert(loaded.m === model.m && loaded.k === model.k && loaded.dSub === model.dSub)
    assert(loaded.codebooks.flatten.flatten.toSeq === model.codebooks.flatten.flatten.toSeq)
    // serving from the PERSISTED codes (no re-encode of the corpus)
    // matches the self-contained path row-for-row
    val queries = emb.filter(col("vec_id") < 5)
    assert(Pq.pqTopKOnCodes(codes, emb, queries, loaded, 3, 10)
      .collect().map(_.toString).toSeq ===
      Pq.pqTopK(emb, queries, model, 3, 10).collect().map(_.toString).toSeq)
    spark.sql("DROP TABLE IF EXISTS graft_pq_spec")
    spark.sql("DROP TABLE IF EXISTS graft_pq_spec_codes")
  }

  test("Pq IVFADC: planted copies found cell-pruned; probing every cell ≡ exhaustive ADC; pruned recall holds") {
    import graft.ann.Pq
    val model = Pq.train(emb, m = 8, k = 16)
    val cents = emb.filter(col("vec_id") < 8)
    val queries = emb.filter(col("vec_id") < 10)
    // an exact copy encodes identical codes AND lands in its original's
    // cell (identical argmax) — the cell-pruned path must surface it at
    // rank 1 / cosine 1 even at nProbe=1
    val copies = queries.withColumn("vec_id", col("vec_id") + lit(1000000L))
    val all = emb.unionByName(copies)
    Pq.pqTopKOnCells(Pq.encodeInCells(all, model, cents), all, cents,
        queries, model, nProbe = 1, k = 1, prefilterK = 20).collect()
      .foreach { r =>
        assert(r.getAs[Long]("cand_id") === r.getAs[Long]("q_id") + 1000000L)
        assert(math.abs(r.getAs[Double]("sim") - 1.0) < 1e-6)
      }
    // probing EVERY cell makes the candidate set the whole corpus — the
    // cell-pruned path must then reproduce the exhaustive ADC scan
    // row-for-row (same scores, same TopKByScore tie-breaks)
    val cells = Pq.encodeInCells(emb, model, cents)
    assert(Pq.pqTopKOnCells(cells, emb, cents, queries, model, nProbe = 8,
      k = 5, prefilterK = 20).collect().map(_.toString).toSeq ===
      Pq.pqTopKOnCodes(Pq.encode(emb, model), emb, queries, model, k = 5,
        prefilterK = 20).collect().map(_.toString).toSeq)
    // pruned serving (nProbe=2 of 8 cells — the scan touches ~25% of
    // the code rows) still recovers a usable share of the exact top-5
    // on the worst-case random corpus
    val truth = Knn.cosineTopK(emb, queries, 5).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"))).toSet
    val got = Pq.pqTopKOnCells(cells, emb, cents, queries, model, nProbe = 2,
      k = 5, prefilterK = 100).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"))).toSet
    val rec = (got & truth).size.toDouble / truth.size
    assert(rec >= 0.25, s"IVFADC recall at nProbe=2 is $rec, below 0.25")
  }

  test("Pq.train sampleFrac: sampled (default) and full-corpus fits both satisfy the recall bar") {
    import graft.ann.Pq
    val queries = emb.filter(col("vec_id") < 10)
    val truth = Knn.cosineTopK(emb, queries, 5).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"))).toSet
    def recall(model: Pq.PqModel): Double = {
      val got = Pq.pqTopK(emb, queries, model, k = 5, prefilterK = 100).collect()
        .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"))).toSet
      (got & truth).size.toDouble / truth.size
    }
    val rSampled = recall(Pq.train(emb, m = 8, k = 16)) // default 10% sample
    val rFull = recall(Pq.train(emb, m = 8, k = 16, sampleFrac = 1.0))
    assert(rSampled >= 0.6, s"sampled-fit recall $rSampled below 0.6")
    assert(rFull >= 0.6, s"full-fit recall $rFull below 0.6")
  }

  test("Pq saveCellIndex/loadCellIndex: IVFADC round trip; loaded serving ≡ fresh; bucketed cells exchange-free") {
    import graft.ann.Pq
    val model = Pq.train(emb, m = 8, k = 16)
    val cents = emb.filter(col("vec_id") < 8)
    val queries = emb.filter(col("vec_id") < 5)
    val tmp = tempDir("graft_ivfpq").toString
    Pq.saveCellIndex(model, emb, cents, "graft_ivfpq_spec", path = Some(s"$tmp/tbl"))
    val (loaded, cells, loadedCents) = Pq.loadCellIndex(spark, "graft_ivfpq_spec")
    assert(loaded.m === model.m && loaded.k === model.k && loaded.dSub === model.dSub)
    val served = Pq.pqTopKOnCells(cells, emb, loadedCents, queries, loaded,
      nProbe = 2, k = 3, prefilterK = 10)
    val fresh = Pq.pqTopKOnCells(Pq.encodeInCells(emb, model, cents), emb,
      cents, queries, model, nProbe = 2, k = 3, prefilterK = 10)
    assert(served.collect().map(_.toString).toSeq ===
      fresh.collect().map(_.toString).toSeq)
    // the bucketed-by-cell code table serves the probe equi-join with
    // fewer exchanges than a freshly encoded corpus (same idiom as the
    // Ivf persisted-index spec)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      def exchanges(df: org.apache.spark.sql.DataFrame) =
        "Exchange".r.findAllIn(df.queryExecution.executedPlan.toString).size
      assert(exchanges(Pq.pqTopKOnCells(cells, emb, loadedCents, queries,
        loaded, 2, 3, 10)) <
        exchanges(Pq.pqTopKOnCells(Pq.encodeInCells(emb, model, cents), emb,
          cents, queries, model, 2, 3, 10)),
        "loaded cell table should not exchange on the serving join")
    } finally spark.conf.set(key, old)
    // a default-flag index carries its encoding params (raw, single-assign)
    assert(graft.ann.Pq.cellIndexParams(spark, "graft_ivfpq_spec") === ((false, 1)))
    spark.sql("DROP TABLE IF EXISTS graft_ivfpq_spec")
    spark.sql("DROP TABLE IF EXISTS graft_ivfpq_spec_cells")
    spark.sql("DROP TABLE IF EXISTS graft_ivfpq_spec_centroids")
  }

  test("Pq addToCellIndex: incremental append ≡ full re-encode; persisted flags drive the encoding") {
    import graft.ann.Pq
    val model = Pq.train(emb, m = 8, k = 16)
    val cents = emb.filter(col("vec_id") < 8)
    val queries = emb.filter(col("vec_id") < 5)
    val (half, rest) = (emb.filter(col("vec_id") % 2 === 0),
      emb.filter(col("vec_id") % 2 === 1))
    val tmp = tempDir("graft_ivfpq_add").toString
    // a RESIDUAL index: the append must pick the flag up from the table
    Pq.saveCellIndex(model, half, cents, "graft_ivfpq_add_spec",
      path = Some(s"$tmp/tbl"), residual = true, nProbe = 2)
    Pq.addToCellIndex(spark, rest, "graft_ivfpq_add_spec")
    val (loaded, cells, loadedCents) = Pq.loadCellIndex(spark, "graft_ivfpq_add_spec")
    // flags survive the append; every vector present nProbe times
    assert(Pq.cellIndexParams(spark, "graft_ivfpq_add_spec") === ((true, 2)))
    assert(cells.count() === emb.count() * 2)
    // appended rows are bit-identical to a full re-encode under the
    // same model and flags
    val full = Pq.encodeInCells(emb, model, cents, residual = true, nProbe = 2)
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id"), col("cell"), col("codes"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Seq[Int]](2).mkString(","))).sortBy(x => (x._1, x._2))
    assert(canon(cells).toSeq === canon(full).toSeq)
    // serving from the appended table ≡ serving a fresh full encode
    val served = Pq.pqTopKOnCells(cells, emb, loadedCents, queries, loaded,
      nProbe = 2, k = 3, prefilterK = 10, residual = true)
    val fresh = Pq.pqTopKOnCells(full, emb, cents, queries, model,
      nProbe = 2, k = 3, prefilterK = 10, residual = true)
    assert(served.collect().map(_.toString).toSeq ===
      fresh.collect().map(_.toString).toSeq)
    spark.sql("DROP TABLE IF EXISTS graft_ivfpq_add_spec")
    spark.sql("DROP TABLE IF EXISTS graft_ivfpq_add_spec_cells")
    spark.sql("DROP TABLE IF EXISTS graft_ivfpq_add_spec_centroids")
  }

  test("Pq compactCellIndex: append debris collapses to one file per bucket; flags and serving survive") {
    import graft.ann.Pq
    import graft.ops.Compaction
    val model = Pq.train(emb, m = 8, k = 16)
    val cents = emb.filter(col("vec_id") < 8)
    val queries = emb.filter(col("vec_id") < 5)
    val thirds = (0 to 2).map(i => emb.filter(col("vec_id") % 3 === i))
    val tmp = tempDir("graft_ivfpq_cpt").toString
    Pq.saveCellIndex(model, thirds(0), cents, "graft_ivfpq_cpt_spec",
      path = Some(s"$tmp/tbl"), residual = true, nProbe = 2)
    Pq.addToCellIndex(spark, thirds(1), "graft_ivfpq_cpt_spec")
    Pq.addToCellIndex(spark, thirds(2), "graft_ivfpq_cpt_spec")
    assert(Compaction.filesPerBucket(spark, "graft_ivfpq_cpt_spec_cells").values.max > 1,
      "appends should leave more than one file in some bucket")
    Pq.compactCellIndex(spark, "graft_ivfpq_cpt_spec")
    val perBucket = Compaction.filesPerBucket(spark, "graft_ivfpq_cpt_spec_cells")
    assert(perBucket.nonEmpty && perBucket.values.forall(_ == 1),
      s"compaction left multi-file buckets: $perBucket")
    // the persisted encoding flags survive the staging swap
    assert(Pq.cellIndexParams(spark, "graft_ivfpq_cpt_spec") === ((true, 2)))
    // compacted rows ≡ a full re-encode; serving ≡ fresh
    val (loaded, cells, loadedCents) = Pq.loadCellIndex(spark, "graft_ivfpq_cpt_spec")
    val full = Pq.encodeInCells(emb, model, cents, residual = true, nProbe = 2)
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id"), col("cell"), col("codes"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Seq[Int]](2).mkString(","))).sortBy(x => (x._1, x._2))
    assert(canon(cells).toSeq === canon(full).toSeq)
    val served = Pq.topKOnSavedCellIndex(spark, "graft_ivfpq_cpt_spec",
      emb, queries, k = 3, prefilterK = 10)
    val fresh = Pq.pqTopKOnCells(full, emb, cents, queries, model,
      nProbe = 2, k = 3, prefilterK = 10, residual = true)
    assert(served.collect().map(_.toString).toSeq ===
      fresh.collect().map(_.toString).toSeq)
    spark.sql("DROP TABLE IF EXISTS graft_ivfpq_cpt_spec")
    spark.sql("DROP TABLE IF EXISTS graft_ivfpq_cpt_spec_cells")
    spark.sql("DROP TABLE IF EXISTS graft_ivfpq_cpt_spec_centroids")
  }

  test("Pq residual IVFADC: planted copies rank 1; recall at least matches raw encoding at equal probes") {
    import graft.ann.Pq
    val cents = emb.filter(col("vec_id") < 8)
    val queries = emb.filter(col("vec_id") < 10)
    val raw = Pq.train(emb, m = 8, k = 16)
    val res = Pq.trainResidual(emb, cents, m = 8, k = 16)
    // an exact copy lands in its original's cell with the IDENTICAL
    // residual → identical codes → maximal ADC for the pattern, equal
    // centroid bias → rank 1 / cosine 1 even at nProbe=1
    val copies = queries.withColumn("vec_id", col("vec_id") + lit(1000000L))
    val all = emb.unionByName(copies)
    Pq.pqTopKOnCells(Pq.encodeInCells(all, res, cents, residual = true), all,
        cents, queries, res, nProbe = 1, k = 1, prefilterK = 20,
        residual = true).collect()
      .foreach { r =>
        assert(r.getAs[Long]("cand_id") === r.getAs[Long]("q_id") + 1000000L)
        assert(math.abs(r.getAs[Double]("sim") - 1.0) < 1e-6)
      }
    // recall-delta at equal nProbe/prefilterK against the exact top-5:
    // the residual grid spends its resolution inside the probed cell,
    // so it must not LOSE recall vs the raw-vector grid (the draw that
    // would argue for deleting the path)
    val truth = Knn.cosineTopK(emb, queries, 5).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"))).toSet
    def recall(model: Pq.PqModel, residual: Boolean): Double = {
      val got = Pq.pqTopKOnCells(
        Pq.encodeInCells(emb, model, cents, residual = residual), emb, cents,
        queries, model, nProbe = 2, k = 5, prefilterK = 20,
        residual = residual).collect()
        .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"))).toSet
      (got & truth).size.toDouble / truth.size
    }
    val (rRaw, rRes) = (recall(raw, residual = false), recall(res, residual = true))
    info(s"IVFADC recall at nProbe=2/prefilterK=20: raw=$rRaw residual=$rRes")
    assert(rRes >= rRaw, s"residual recall $rRes lost ground to raw $rRaw")
  }

  test("Pq multi-assign encode: nProbe=1 ≡ default row-for-row; nProbe=2 doubles the index and lifts recall") {
    import graft.ann.Pq
    val model = Pq.train(emb, m = 8, k = 16)
    val cents = emb.filter(col("vec_id") < 8)
    val queries = emb.filter(col("vec_id") < 10)
    val c1 = Pq.encodeInCells(emb, model, cents)
    assert(Pq.encodeInCells(emb, model, cents, nProbe = 1).collect()
      .map(_.toString).sorted.toSeq === c1.collect().map(_.toString).sorted.toSeq)
    val c2 = Pq.encodeInCells(emb, model, cents, nProbe = 2)
    assert(c2.count() === 2 * c1.count(), "every vector should sit in its 2 nearest cells")
    // at a fixed serving fan-out the multi-assigned index's candidate
    // set is a superset (a vector split from its neighbors by a cell
    // boundary now co-occurs with them), so with a prefilter wide
    // enough not to bind — isolating the candidate-set effect from the
    // ADC cut — the exact rerank's recall cannot drop
    val truth = Knn.cosineTopK(emb, queries, 5).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"))).toSet
    def recall(cells: org.apache.spark.sql.DataFrame): Double = {
      val got = Pq.pqTopKOnCells(cells, emb, cents, queries, model,
        nProbe = 2, k = 5, prefilterK = 100000).collect()
        .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"))).toSet
      (got & truth).size.toDouble / truth.size
    }
    val (r1, r2) = (recall(c1), recall(c2))
    info(s"IVFADC candidate-set recall at serve nProbe=2: index nProbe=1 $r1, nProbe=2 $r2")
    assert(r2 >= r1, s"multi-assign recall $r2 below single-assign $r1")
  }

  test("Pq residual persisted index: flags ride the table; recovered-flag serving ≡ fresh") {
    import graft.ann.Pq
    val cents = emb.filter(col("vec_id") < 8)
    val queries = emb.filter(col("vec_id") < 5)
    val model = Pq.trainResidual(emb, cents, m = 8, k = 16)
    val tmp = tempDir("graft_ivfpq_res").toString
    Pq.saveCellIndex(model, emb, cents, "graft_ivfpq_res_spec",
      path = Some(s"$tmp/tbl"), residual = true, nProbe = 2)
    val (resFlag, idxProbes) = Pq.cellIndexParams(spark, "graft_ivfpq_res_spec")
    assert(resFlag && idxProbes === 2)
    val (loaded, cells, loadedCents) = Pq.loadCellIndex(spark, "graft_ivfpq_res_spec")
    val served = Pq.pqTopKOnCells(cells, emb, loadedCents, queries, loaded,
      nProbe = 2, k = 3, prefilterK = 10, residual = resFlag)
    val fresh = Pq.pqTopKOnCells(
      Pq.encodeInCells(emb, model, cents, residual = true, nProbe = 2), emb,
      cents, queries, model, nProbe = 2, k = 3, prefilterK = 10, residual = true)
    assert(served.collect().map(_.toString).toSeq ===
      fresh.collect().map(_.toString).toSeq)
    // the one-call serving helper recovers flags AND probe width from
    // the table itself — a loaded residual index cannot be served with
    // the wrong decomposition by construction (ADVICE r8)
    val helper = Pq.topKOnSavedCellIndex(spark, "graft_ivfpq_res_spec", emb,
      queries, k = 3, prefilterK = 10)
    assert(helper.collect().map(_.toString).toSeq ===
      fresh.collect().map(_.toString).toSeq)
    spark.sql("DROP TABLE IF EXISTS graft_ivfpq_res_spec")
    spark.sql("DROP TABLE IF EXISTS graft_ivfpq_res_spec_cells")
    spark.sql("DROP TABLE IF EXISTS graft_ivfpq_res_spec_centroids")
  }

  test("Pq codebooks are bit-identical across input partitionings and row order") {
    import graft.ann.Pq
    val cents = emb.filter(col("vec_id") < 8)
    def bits(model: Pq.PqModel): Seq[Int] =
      model.codebooks.flatten.flatten.map(java.lang.Float.floatToIntBits).toSeq
    val layouts = Seq(emb.coalesce(1), emb.repartition(4), emb.repartition(4).orderBy(rand(7)))
    val raw = layouts.map(e => bits(Pq.train(e, m = 8, k = 16)))
    val res = layouts.map(e => bits(Pq.trainResidual(e, cents, m = 8, k = 16)))
    assert(raw.forall(_ == raw.head), "Pq.train codebooks depend on the input layout")
    assert(res.forall(_ == res.head), "Pq.trainResidual codebooks depend on the input layout")
  }

  test("Pq.train submits no more jobs at m=8 than at m=2") {
    import graft.ann.Pq
    // maxIter = 1: no fit can stop early, so every run pays its full
    // round count
    val (j2, j8) = (jobsOf(Pq.train(emb, m = 2, k = 16, maxIter = 1)),
      jobsOf(Pq.train(emb, m = 8, k = 16, maxIter = 1)))
    info(s"Pq.train jobs at maxIter=1: m=2 $j2, m=8 $j8")
    assert(j2 > 0 && j8 <= j2, s"m=8 submitted $j8 jobs, m=2 $j2")
  }

  test("binaryTopK: sign codes pack correctly; planted copies recalled at hamming 0; decent brute recall") {
    import graft.ann.Quantize
    // code words reproduce the sign pattern (hand-check on a planted vector)
    import spark.implicits._
    val v = (0 until 64).map(i => if (i % 3 == 0) 1.0f else -1.0f).toArray
    val planted = Seq((1L, v)).toDF("vec_id", "embedding")
    val row = Quantize.binarySign(planted).head()
    val code = row.getSeq[Long](row.fieldIndex("code")).toList
    val expect = (0 until 2).map { w =>
      (0 until 32).map(j => if ((w * 32 + j) % 3 == 0) 1L << j else 0L).sum
    }.toList
    assert(code === expect)
    // copies of the queries under new ids: hamming 0 → always prefiltered,
    // cosine 1.0 → rank 1
    val queries = emb.filter(col("vec_id") < 10)
    val copies = queries.withColumn("vec_id", col("vec_id") + lit(1000000L))
    val res = Quantize.binaryTopK(emb.unionByName(copies), queries, k = 1, prefilterK = 20)
      .collect()
    res.foreach { r =>
      assert(r.getAs[Long]("cand_id") === r.getAs[Long]("q_id") + 1000000L)
      assert(math.abs(r.getAs[Double]("sim") - 1.0) < 1e-6)
    }
    // recall vs brute: the 64-bit sign sketch is a coarse filter on
    // this WORST-CASE corpus (random near-orthogonal vectors, all true
    // cosines ≈ 0.2-0.5 — no planted structure to find), so the
    // meaningful contract is the knob: recall grows with prefilterK,
    // and a 100-survivor prefilter recovers most of the true top-5
    val truth = Knn.cosineTopK(emb, queries, 5).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"))).toSet
    def recall(preK: Int) = {
      val got = Quantize.binaryTopK(emb, queries, k = 5, prefilterK = preK).collect()
        .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"))).toSet
      (got & truth).size.toDouble / truth.size
    }
    val (r20, r100) = (recall(20), recall(100))
    assert(r20 >= 0.3, s"hamming-prefilter recall@20 $r20 below 0.3")
    assert(r100 > r20, s"recall must grow with prefilterK ($r20 → $r100)")
    assert(r100 >= 0.6, s"hamming-prefilter recall@100 $r100 below 0.6")
  }

  test("Ivf persisted index: loaded serving equals fresh probeTopK; probe join exchange-free post-load") {
    import graft.ann.Ivf
    val cents = emb.filter(col("vec_id") < 8)
    val queries = emb.filter(col("vec_id") < 10)
    val tmp = tempDir("graft_ivf_idx").toString
    Ivf.saveIndex(emb, cents, "graft_ivf_idx_spec", path = Some(s"$tmp/tbl"))
    val (cells, loadedCents) = Ivf.loadIndex(spark, "graft_ivf_idx_spec")
    val served = Ivf.probeTopKOnIndex(cells, loadedCents, queries, 2, 5)
    val fresh = Ivf.probeTopK(emb, queries, cents, 2, 5)
    assert(served.collect().map(_.toString).toSeq ===
      fresh.collect().map(_.toString).toSeq)
    // the bucketed cell table serves the probe join with fewer
    // exchanges than the same join against a freshly assigned corpus
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      def exchanges(df: org.apache.spark.sql.DataFrame) =
        "Exchange".r.findAllIn(df.queryExecution.executedPlan.toString).size
      val freshCells = Ivf.assign(emb, cents)
        .join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      assert(exchanges(Ivf.probeTopKOnIndex(cells, loadedCents, queries, 2, 5)) <
        exchanges(Ivf.probeTopKOnIndex(freshCells, cents, queries, 2, 5)),
        "loaded cell table should not exchange on the probe join")
    } finally spark.conf.set(key, old)
    spark.sql("DROP TABLE IF EXISTS graft_ivf_idx_spec")
    spark.sql("DROP TABLE IF EXISTS graft_ivf_idx_spec_centroids")
  }

  test("Ivf filtered search: meta column rides the index; predicate pushed to the scan; result ≡ filter-then-index") {
    import graft.ann.Ivf
    val cents = emb.filter(col("vec_id") < 8)
    val queries = emb.filter(col("vec_id") < 10)
    val tmp = tempDir("graft_ivf_flt").toString
    Ivf.saveIndex(emb, cents, "graft_ivf_flt_spec", path = Some(s"$tmp/tbl"),
      metaCols = Seq("label"))
    val (cells, loadedCents) = Ivf.loadIndex(spark, "graft_ivf_flt_spec")
    val pred = col("label") < 5
    val servedDf = Ivf.probeTopKOnIndex(cells.filter(pred), loadedCents, queries, 2, 5)
    val served = servedDf.collect()
    // every candidate satisfies the predicate
    val evenIds = emb.filter(pred).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(served.nonEmpty)
    assert(served.forall(r => evenIds(r.getAs[Long]("cand_id"))),
      "filtered serve returned an out-of-predicate candidate")
    // assignment is per-vector: serving-time filter ≡ indexing only
    // the filtered corpus
    val filteredFresh = Ivf.probeTopK(emb.filter(pred), queries, cents, 2, 5)
    assert(served.map(_.toString).toSeq ===
      filteredFresh.collect().map(_.toString).toSeq)
    // the predicate reaches the bucketed parquet scan as a pushed
    // filter — row-group pruning at rest, the 100 TB win
    val plan = servedDf.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    val pushed = plan.linesIterator.filter(_.contains("PushedFilters")).mkString("\n")
    assert(pushed.contains("label"), s"label filter not pushed to the index scan:\n$pushed")
    spark.sql("DROP TABLE IF EXISTS graft_ivf_flt_spec")
    spark.sql("DROP TABLE IF EXISTS graft_ivf_flt_spec_centroids")
  }

  test("Ivf addToIndex: incremental append ≡ full rebuild; bucketed serving intact") {
    import graft.ann.Ivf
    val cents = emb.filter(col("vec_id") < 8)
    val queries = emb.filter(col("vec_id") < 10)
    val (half, rest) = (emb.filter(col("vec_id") % 2 === 0),
      emb.filter(col("vec_id") % 2 === 1))
    val tmp = tempDir("graft_ivf_add").toString
    Ivf.saveIndex(half, cents, "graft_ivf_add_spec", path = Some(s"$tmp/tbl"))
    Ivf.addToIndex(spark, rest, "graft_ivf_add_spec")
    val (cells, loadedCents) = Ivf.loadIndex(spark, "graft_ivf_add_spec")
    // the appended index holds every vector exactly once
    assert(cells.count() === emb.count())
    assert(cells.select("vec_id").distinct().count() === emb.count())
    // serving from the appended table ≡ a fresh index over the union
    val served = Ivf.probeTopKOnIndex(cells, loadedCents, queries, 2, 5)
    val fresh = Ivf.probeTopK(emb, queries, cents, 2, 5)
    assert(served.collect().map(_.toString).toSeq ===
      fresh.collect().map(_.toString).toSeq)
    // a non-bucketed table is refused (the append would silently break
    // the exchange-free probe property)
    emb.limit(1).write.mode("overwrite")
      .option("path", s"$tmp/plain").saveAsTable("graft_ivf_add_plain")
    intercept[IllegalArgumentException] {
      Ivf.addToIndex(spark, rest, "graft_ivf_add_plain")
    }
    spark.sql("DROP TABLE IF EXISTS graft_ivf_add_spec")
    spark.sql("DROP TABLE IF EXISTS graft_ivf_add_spec_centroids")
    spark.sql("DROP TABLE IF EXISTS graft_ivf_add_plain")
  }

  test("Ivf compactIndex: N appends then compact ≡ rebuild over the union; one file per bucket") {
    import graft.ann.Ivf
    import graft.ops.Compaction
    val cents = emb.filter(col("vec_id") < 8)
    val queries = emb.filter(col("vec_id") < 10)
    val thirds = (0 to 2).map(i => emb.filter(col("vec_id") % 3 === i))
    val tmp = tempDir("graft_ivf_cpt").toString
    Ivf.saveIndex(thirds(0), cents, "graft_ivf_cpt_spec", path = Some(s"$tmp/tbl"))
    Ivf.addToIndex(spark, thirds(1), "graft_ivf_cpt_spec")
    Ivf.addToIndex(spark, thirds(2), "graft_ivf_cpt_spec")
    // appends accumulated multiple file sets in at least one bucket
    assert(Compaction.filesPerBucket(spark, "graft_ivf_cpt_spec").values.max > 1,
      "appends should leave more than one file in some bucket")
    Ivf.compactIndex(spark, "graft_ivf_cpt_spec")
    // every bucket back to one file
    val perBucket = Compaction.filesPerBucket(spark, "graft_ivf_cpt_spec")
    assert(perBucket.nonEmpty && perBucket.values.forall(_ == 1),
      s"compaction left multi-file buckets: $perBucket")
    // compacted index ≡ a fresh rebuild over the union
    val (cells, loadedCents) = Ivf.loadIndex(spark, "graft_ivf_cpt_spec")
    assert(cells.count() === emb.count())
    val served = Ivf.probeTopKOnIndex(cells, loadedCents, queries, 2, 5)
    val fresh = Ivf.probeTopK(emb, queries, cents, 2, 5)
    assert(served.collect().map(_.toString).toSeq ===
      fresh.collect().map(_.toString).toSeq)
    // bucketed serving stays exchange-free after the swap: the index
    // side of the probe join must plan no shuffle
    val phys = Ivf.probeTopKOnIndex(cells, loadedCents, queries, 2, 5)
      .queryExecution.executedPlan.toString
    assert(!phys.contains("Exchange hashpartitioning(cell"),
      s"compacted index side re-shuffles on cell:\n$phys")
    // refreshed-centroid compaction: reassigning against a DIFFERENT
    // quantizer (derived from the index itself) ≡ a fresh index built
    // with that quantizer
    val cents2 = spark.table("graft_ivf_cpt_spec")
      .filter(col("vec_id") >= 8 && col("vec_id") < 16)
      .select(col("vec_id"), col("embedding"))
    Ivf.compactIndex(spark, "graft_ivf_cpt_spec", Some(cents2))
    val (cells2, loadedCents2) = Ivf.loadIndex(spark, "graft_ivf_cpt_spec")
    val cents2Fresh = emb.filter(col("vec_id") >= 8 && col("vec_id") < 16)
    val served2 = Ivf.probeTopKOnIndex(cells2, loadedCents2, queries, 2, 5)
    val fresh2 = Ivf.probeTopK(emb, queries, cents2Fresh, 2, 5)
    assert(served2.collect().map(_.toString).toSeq ===
      fresh2.collect().map(_.toString).toSeq)
    assert(loadedCents2.count() === 8)
    spark.sql("DROP TABLE IF EXISTS graft_ivf_cpt_spec")
    spark.sql("DROP TABLE IF EXISTS graft_ivf_cpt_spec_centroids")
  }

  test("semanticDedup multi-probe: perfect precision, recall well above single-probe vs all-pairs") {
    // ground truth at threshold 0.4 (the non-vacuous range for the
    // random corpus): every vector with a senior cosine-neighbor
    val e = emb.select(col("vec_id"), col("embedding"))
    val gt = e.as("x").join(e.as("y"), col("x.vec_id") < col("y.vec_id"))
      .filter(graft.GraftFunctions.cosine_sim(col("x.embedding"), col("y.embedding")) >= 0.4)
      .select(col("y.vec_id")).distinct().collect().map(_.getLong(0)).toSet
    def flagged(nProbe: Int) = graft.ann.Knn.semanticDedup(
        emb, emb.filter(col("vec_id") < 8), threshold = 0.4, nProbe = nProbe)
      .filter(col("is_dup")).select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val p1 = flagged(1)
    val p2 = flagged(2)
    // in-cell comparison is exact cosine — no false positives ever
    assert(p1.subsetOf(gt) && p2.subsetOf(gt))
    // multi-probe strictly recovers boundary-split pairs
    assert(p1.subsetOf(p2))
    val (r1, r2) = (p1.size.toDouble / gt.size, p2.size.toDouble / gt.size)
    assert(r2 > r1, s"nProbe=2 recall $r2 not above single-probe $r1")
    assert(r2 >= 0.7, s"nProbe=2 recall $r2 below 0.7 (single-probe was $r1)")
  }

  test("nearestNeighborDedup flags exact-copy vectors") {
    val copies = emb.filter(col("vec_id") < 3)
      .withColumn("vec_id", col("vec_id") + lit(1000000L))
    val res = Knn.nearestNeighborDedup(emb.unionByName(copies)).collect()
    val planted = res.filter(_.getAs[Long]("vec_id") >= 1000000L)
    assert(planted.length === 3)
    assert(planted.forall(_.getAs[Boolean]("is_dup")))
    assert(planted.forall(r => r.getAs[Long]("nn_id") === r.getAs[Long]("vec_id") - 1000000L))
  }

  test("heavyHitters: sketch-then-verify equals the exact definition") {
    // planted: "hot" is 6/15 of occurrences, "warm" 3/15, rest below 1/5
    val tiny = Seq(
      (1L, "hot hot hot warm a b"),
      (2L, "hot hot hot warm warm c d e f"))
      .toDF("doc_id", "text")
    val hh = TextAnalysis.heavyHitters(tiny, num = 1, den = 5).collect()
      .map(r => r.getAs[String]("token") -> r.getAs[Long]("cnt")).toMap
    // hot: 6·5 > 15 ✓; warm sits exactly AT the threshold (3·5 = 15) —
    // the strict > must exclude it
    assert(hh === Map("hot" -> 6L))
    // exact-definition parity on the real corpus
    val tok = docs.select(explode(graft.GraftFunctions.tokens(col("text"))).as("token"))
    val total = tok.count()
    val exact = tok.groupBy("token").count()
      .filter(col("count") * 100 > total)
      .collect().map(r => r.getAs[String]("token") -> r.getAs[Long]("count")).toMap
    val got = TextAnalysis.heavyHitters(docs).collect()
      .map(r => r.getAs[String]("token") -> r.getAs[Long]("cnt")).toMap
    assert(got === exact)
  }

  test("invertedIndex: exact postings on planted docs; hot tokens cut by maxDf") {
    val tiny = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "apple cherry cherry common"),
      (4L, "common"))
      .toDF("doc_id", "text")
    val idx = TextAnalysis.invertedIndex(tiny).collect()
      .map(r => r.getAs[String]("token") -> r).toMap
    def postings(tok: String) =
      (idx(tok).getAs[Seq[Long]]("doc_ids"), idx(tok).getAs[Seq[Long]]("tfs"))
    assert(postings("apple") === ((Seq(1L, 3L), Seq(2L, 1L))))
    assert(postings("banana") === ((Seq(1L, 2L), Seq(1L, 1L))))
    assert(postings("cherry") === ((Seq(2L, 3L), Seq(1L, 2L))))
    assert(idx("apple").getAs[Long]("df") === 2L)
    assert(idx("apple").getAs[Long]("cf") === 3L)
    // a df cap of 1 drops every token appearing in 2+ docs
    val capped = TextAnalysis.invertedIndex(tiny, maxDf = 1L)
      .collect().map(_.getAs[String]("token")).toSet
    assert(capped === Set.empty[String])
  }

  test("searchTopK: index-served scores bitwise-equal the full-scan bm25 plan") {
    val terms = TextAnalysis.Bm25Terms
    val served = TextAnalysis.searchTopK(docs, terms, k = 1000000)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    val full = TextAnalysis.bm25(docs, terms).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("bm25")).toMap
    // candidates = docs scoring via ≥1 term; every candidate must agree
    // BITWISE with the independent full-scan plan
    assert(served.nonEmpty)
    served.foreach { case (id, s) =>
      assert(java.lang.Double.doubleToLongBits(s) ===
        java.lang.Double.doubleToLongBits(full(id)), s"score mismatch for doc $id")
    }
    // non-candidates are exactly the zero-scored docs of the full plan
    val nonCand = full.keySet -- served.keySet
    assert(nonCand.forall(id => full(id) === 0.0))
  }

  test("hashEmbed: deterministic unit vectors; copies collide exactly; composes with cosine kNN") {
    val copies = docs.orderBy("doc_id").limit(3)
      .withColumn("doc_id", col("doc_id") + lit(1000000L))
    val all = docs.unionByName(copies)
    val vecs = TextAnalysis.hashEmbedVectors(all).persist()
    // unit norm (within float assembly tolerance)
    val norms = vecs.select(expr(
      "sqrt(aggregate(embedding, 0.0d, (a, x) -> a + cast(x as double) * x))").as("n"))
      .collect().map(_.getDouble(0))
    norms.foreach(n => assert(math.abs(n - 1.0) < 1e-5, s"norm $n"))
    // exact copies hash to identical vectors → cosine 1 with the original
    val nn = graft.ann.Knn.cosineTopK(
      vecs.select(col("doc_id").as("vec_id"), col("embedding")),
      vecs.filter(col("doc_id") >= 1000000L)
        .select(col("doc_id").as("vec_id"), col("embedding")), 1)
      .collect()
    assert(nn.length === 3)
    nn.foreach { r =>
      assert(r.getAs[Long]("cand_id") === r.getAs[Long]("q_id") - 1000000L)
      assert(math.abs(r.getAs[Double]("sim") - 1.0) < 1e-6)
    }
    vecs.unpersist()
    // sparse surface: w is the exact signed count; weights = w/√Σw²
    val sparse = TextAnalysis.hashEmbed(docs.limit(5)).collect()
    val byDoc = sparse.groupBy(_.getAs[Long]("doc_id"))
    byDoc.values.foreach { rows =>
      val s2 = rows.map(r => { val w = r.getAs[Long]("w"); w * w }).sum.toDouble
      rows.foreach { r =>
        assert(r.getAs[Double]("weight") === r.getAs[Long]("w") / math.sqrt(s2))
      }
    }
  }

  test("ngramLmScore: hand-computed add-one bigram log-probs; frequent transitions outscore rare") {
    // corpus: c(a)=3, c(b)=3, c(z)=2, V=3; bigram counts (a,b)=3,
    // (b,a)=1, (z,z)=1
    val tiny = Seq((1L, "a b a b"), (2L, "a b"), (3L, "z z"))
      .toDF("doc_id", "text")
    val res = TextAnalysis.ngramLmScore(tiny).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Double]("sum_logp"),
          r.getAs[Double]("avg_logp"))).toMap
    assert(res(1L)._1 === 3L)
    assert(res(2L)._1 === 1L)
    assert(res(3L)._1 === 1L)
    val lnAB = math.log(4.0 / 6.0)  // (3+1)/(3+3)
    val lnBA = math.log(2.0 / 6.0)  // (1+1)/(3+3)
    val lnZZ = math.log(2.0 / 5.0)  // (1+1)/(2+3)
    assert(math.abs(res(1L)._2 - (lnAB + lnBA + lnAB)) < 1e-9)
    assert(math.abs(res(2L)._2 - lnAB) < 1e-9)
    assert(math.abs(res(3L)._2 - lnZZ) < 1e-9)
    // the quality signal: a document of corpus-frequent transitions
    // scores above one of rare transitions
    assert(res(2L)._3 > res(3L)._3)
    // single-token and empty docs don't score
    val short = Seq((1L, "a b"), (2L, "a"), (3L, "")).toDF("doc_id", "text")
    assert(TextAnalysis.ngramLmScore(short).collect().map(_.getLong(0)).toSeq === Seq(1L))
  }

  test("nfc_normalize: known compositions, idempotence, ASCII fast path, codegen plan") {
    import graft.GraftFunctions.nfc_normalize
    val cases = Seq(
      (1L, "cafe\u0301", "caf\u00e9"),            // e + acute -> e-acute
      (2L, "A\u030a", "\u00c5"),                  // A + ring -> Angstrom A
      (3L, "\u1100\u1161", "\uac00"),            // Hangul jamo -> GA
      (4L, "plain ascii text", "plain ascii text"), // no-op
      (5L, "caf\u00e9", "caf\u00e9"))             // already composed
    val df = cases.toDF("id", "raw", "expected")
      .withColumn("got", nfc_normalize(col("raw")))
    df.collect().foreach { r =>
      assert(r.getAs[String]("got") === r.getAs[String]("expected"),
        s"case ${r.getAs[Long]("id")}")
    }
    // idempotence: normalizing twice is the identity
    val twice = df.withColumn("again", nfc_normalize(col("got"))).collect()
    twice.foreach(r => assert(r.getAs[String]("again") === r.getAs[String]("got")))
    // normalizeQuery: the planted suffix stripe changes exactly the
    // non-(doc_id % 7 == 0) docs, and composition shortens them
    val out = graft.text.TextAnalysis.normalizeQuery(docs).collect()
    out.foreach { r =>
      val d = r.getAs[Long]("doc_id")
      assert(r.getAs[Boolean]("changed") === (d % 7 != 0), s"doc $d")
      if (d % 7 != 0)
        assert(r.getAs[Long]("n_chars_nfc") < r.getAs[Long]("n_chars_raw"),
          s"doc $d: composition must shorten the decomposed suffix")
      else
        assert(r.getAs[Long]("n_chars_nfc") === r.getAs[Long]("n_chars_raw"))
    }
    // pure projection, no UDF, no shuffle
    val phys = graft.text.TextAnalysis.normalizeQuery(docs)
      .queryExecution.executedPlan.toString
    assert(!phys.contains("Exchange") || phys.indexOf("Exchange") >
      phys.indexOf("Sort"), s"normalize shuffles before the output sort:\n$phys")
    assert(!phys.contains("BatchEvalPython") && !phys.contains("UDF"), phys)
  }

  test("phraseSearch: exact sequences only; overlaps and duplicate-term phrases count right") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "brown fox quick the"),          // all terms, wrong order
      (3L, "a quick brown fox and a quick brown fox again"),
      (4L, "buffalo buffalo buffalo buffalo")).toDF("doc_id", "text")
    val phrases = Seq(
      (10L, Seq("quick", "brown", "fox")),
      (11L, Seq("buffalo", "buffalo")),     // duplicate-term phrase
      (12L, Seq("lazy", "fox"))             // never adjacent
    ).toDF("phrase_id", "terms")
    val got = graft.text.TextAnalysis.phraseSearch(corpus, phrases).collect()
      .map(r => (r.getAs[Long]("phrase_id"), r.getAs[Long]("doc_id")) ->
        r.getAs[Long]("n_occurrences")).toMap
    // exact sequence: doc 2 has all the terms but never the phrase
    assert(got === Map(
      (10L, 1L) -> 1L, (10L, 3L) -> 2L,
      // "buffalo buffalo" in a run of 4 = 3 overlapping occurrences
      (11L, 4L) -> 3L), s"got $got")
    // plan: phrase side broadcasts; the heavy side shuffles once on
    // the vote key with map-side partial aggregation
    val phys = graft.text.TextAnalysis.phraseSearch(corpus, phrases)
      .queryExecution.executedPlan.toString
    assert(phys.contains("BroadcastExchange"), phys)
    assert(!phys.contains("SortMergeJoin"), s"phrase join should broadcast:\n$phys")
  }

  test("SearchIndex segments: add new docs, serve merged ≡ full rebuild; compact folds physically") {
    import graft.text.SearchIndex
    import graft.ops.Compaction
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    val half2 = docs.filter(col("doc_id") % 2 === 1)
    val tmp = tempDir("graft_search_seg").toString
    SearchIndex.save(half1, "graft_search_seg_spec", path = Some(s"$tmp/a"))
    SearchIndex.add(half2, "graft_search_seg_spec")
    // reference: a from-scratch index over the full corpus
    SearchIndex.save(docs, "graft_search_seg_ref", path = Some(s"$tmp/b"))
    val refIdx = SearchIndex.load(spark, "graft_search_seg_ref")
    val ref = SearchIndex.searchTopK(refIdx).collect().map(_.toString).toSeq
    // segment-merged serving ≡ the rebuild, stats advanced correctly
    val segIdx = SearchIndex.load(spark, "graft_search_seg_spec")
    assert(segIdx.nDocs === refIdx.nDocs && segIdx.sumDl === refIdx.sumDl,
      "stats must advance with the append")
    assert(SearchIndex.searchTopK(segIdx).collect().map(_.toString).toSeq === ref)
    // physical fold: one row per token, one file per bucket, same serving
    SearchIndex.compact(spark, "graft_search_seg_spec")
    Seq("graft_search_seg_spec", "graft_search_seg_spec_doclen").foreach { t =>
      val per = Compaction.filesPerBucket(spark, t)
      assert(per.nonEmpty && per.values.forall(_ == 1), s"$t: $per")
    }
    val compIdx = SearchIndex.load(spark, "graft_search_seg_spec")
    assert(compIdx.postings.groupBy(col("token")).count()
      .filter(col("count") > 1).count() === 0L, "compact left segment rows")
    assert(SearchIndex.searchTopK(compIdx).collect().map(_.toString).toSeq === ref)
    Seq("graft_search_seg_spec", "graft_search_seg_spec_doclen",
      "graft_search_seg_ref", "graft_search_seg_ref_doclen")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("positional index at rest: phrase serving ≡ fresh bitwise, no corpus scan in the plan") {
    val tmp = tempDir("phrase_idx").toString
    graft.text.TextAnalysis.savePositionalIndex(docs, "graft_phrase_idx_spec",
      path = Some(s"$tmp/tbl"))
    val phrases = graft.text.TextAnalysis.cannedPhrases(docs)
    val served = graft.text.TextAnalysis
      .phraseSearchOnIndex(spark, "graft_phrase_idx_spec", phrases).collect()
    val fresh = graft.text.TextAnalysis.phraseSearch(docs, phrases).collect()
    assert(served.map(_.toString).toSeq === fresh.map(_.toString).toSeq)
    assert(served.nonEmpty)
    // serving reads ONLY the postings table: the documents parquet
    // never appears on the index side of the plan
    val plan = graft.text.TextAnalysis
      .phraseSearchOnIndex(spark, "graft_phrase_idx_spec",
        spark.createDataFrame(java.util.Arrays.asList(
          org.apache.spark.sql.Row(99L, Seq("quick", "brown"))),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("phrase_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("terms",
              org.apache.spark.sql.types.ArrayType(
                org.apache.spark.sql.types.StringType))))))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet"),
      s"phrase serving re-reads the corpus:\n$plan")
    // lifecycle: append a batch, phrases over it resolve; compact back
    // to one file per bucket with results unchanged
    val extra = Seq((5000L, "wholly novel sequence of phrase words"))
      .toDF("doc_id", "text")
    graft.text.TextAnalysis.addToPositionalIndex(extra, "graft_phrase_idx_spec")
    val novel = Seq((7L, Seq("novel", "sequence", "of")))
      .toDF("phrase_id", "terms")
    val hit = graft.text.TextAnalysis
      .phraseSearchOnIndex(spark, "graft_phrase_idx_spec", novel).collect()
    assert(hit.length === 1 && hit.head.getAs[Long]("doc_id") === 5000L)
    import graft.ops.Compaction
    assert(Compaction.filesPerBucket(spark, "graft_phrase_idx_spec").values.max > 1)
    Compaction.rewriteBucketed(spark, "graft_phrase_idx_spec")
    val per = Compaction.filesPerBucket(spark, "graft_phrase_idx_spec")
    assert(per.nonEmpty && per.values.forall(_ == 1), s"$per")
    val hit2 = graft.text.TextAnalysis
      .phraseSearchOnIndex(spark, "graft_phrase_idx_spec", novel).collect()
    assert(hit2.map(_.toString).toSeq === hit.map(_.toString).toSeq)
    spark.sql("DROP TABLE IF EXISTS graft_phrase_idx_spec")
  }

  test("LM at rest: persisted scoring ≡ in-query fit bitwise; LM-side joins exchange-free; cross-corpus") {
    val tmp = tempDir("graft_lm").toString
    TextAnalysis.saveLm(docs, "graft_lm_spec", path = Some(s"$tmp/tbl"))
    // scoring the training corpus from the loaded tables is bitwise
    // identical to the in-query fit (same joins, same positional fold)
    val persisted = TextAnalysis.ngramLmScoreOnLm(docs, "graft_lm_spec").collect()
    val fresh = TextAnalysis.ngramLmScore(docs).collect()
    assert(persisted.map(_.toString).toSeq === fresh.map(_.toString).toSeq)
    // the LM side of both joins reads bucket-local: no exchange keyed
    // on the count tables' join columns on the table side
    val plan = TextAnalysis.ngramLmScoreOnLm(docs, "graft_lm_spec")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning(w1#"),
      s"persisted LM re-shuffles its count tables:\n$plan")
    // fit-once/score-many: a DIFFERENT corpus scores against the
    // persisted model; bigrams the model never saw drop out
    val other = Seq((900L, "spark table row column value"),
      (901L, "zzz qqq vvv www")).toDF("doc_id", "text")
    val scored = TextAnalysis.ngramLmScoreOnLm(other, "graft_lm_spec").collect()
    // a doc built entirely of unseen tokens has no scorable bigrams
    // and is absent from the output (the inner-join contract)
    assert(!scored.map(_.getLong(0)).contains(901L),
      "doc of entirely-unseen tokens must not score")
    spark.sql("DROP TABLE IF EXISTS graft_lm_spec")
    spark.sql("DROP TABLE IF EXISTS graft_lm_spec_uni")
  }

  test("SearchIndex: persisted round trip serves bitwise-equal results with zero corpus-side work") {
    import graft.text.SearchIndex
    val tmp = tempDir("graft_search_idx").toString
    SearchIndex.save(docs, "graft_search_idx_spec", path = Some(s"$tmp/tbl"))
    val idx = SearchIndex.load(spark, "graft_search_idx_spec")
    // stats come from TBLPROPERTIES, not a corpus re-aggregation — and
    // they equal the corpus-derived values
    val t = TextAnalysis.tokenStats(docs).agg(
      org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)),
      org.apache.spark.sql.functions.sum(col("n_tokens"))).head()
    assert(idx.nDocs === t.getLong(0))
    assert(idx.sumDl === t.getLong(1))
    val served = SearchIndex.searchTopK(idx)
    // serving plan never scans the corpus: only the two index tables
    val plan = served.queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet"),
      s"persisted serving must not scan the corpus:\n$plan")
    // bitwise-identical to the self-contained path (same top-20, same order)
    val a = served.collect().map(r => (r.getLong(0),
      java.lang.Double.doubleToLongBits(r.getDouble(1))))
    val b = TextAnalysis.searchTopK(docs).collect().map(r => (r.getLong(0),
      java.lang.Double.doubleToLongBits(r.getDouble(1))))
    assert(a.toSeq === b.toSeq)
  }

  test("pii scrub: planted classes counted once each, redaction complete, clean text untouched") {
    import graft.text.Pii
    val samples = Seq(
      (1L, "mail a.b+c@x-y.co.uk and d@e.io today"),                 // 2 emails
      (2L, "server 10.0.0.1 talked to 192.168.255.254"),             // 2 ips
      (3L, "acct 123456789 and card 9876543210123456"),              // 2 id runs
      (4L, "call +1 555-867-5309 or 555 123 4567 now"),              // 2 phones
      (5L, "от me@ex.com via 8.8.8.8 id 900000001 tel +44 20 7946 0958"), // one of each
      (6L, "no pii here: v1.2.3, room 101, est. 1999"))              // none
      .toDF("doc_id", "text")
    val res = Pii.scrub(samples).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    def counts(id: Long) = {
      val r = res(id)
      (r.getAs[Long]("n_email"), r.getAs[Long]("n_ipv4"),
        r.getAs[Long]("n_id"), r.getAs[Long]("n_phone"))
    }
    assert(counts(1L) === ((2L, 0L, 0L, 0L)))
    assert(counts(2L) === ((0L, 2L, 0L, 0L)))
    assert(counts(3L) === ((0L, 0L, 2L, 0L)))
    assert(counts(4L) === ((0L, 0L, 0L, 2L)))
    assert(counts(5L) === ((1L, 1L, 1L, 1L)))
    assert(counts(6L) === ((0L, 0L, 0L, 0L)))
    assert(res(5L).getAs[String]("redacted") ===
      "от <EMAIL> via <IP> id <ID> tel <PHONE>")
    assert(res(6L).getAs[String]("redacted") === "no pii here: v1.2.3, room 101, est. 1999")
    // no residual match of any class after redaction
    val residual = Pii.scrub(
      Pii.scrub(samples).select(col("doc_id"), col("redacted").as("text")))
      .agg(sum(col("n_pii"))).head.getLong(0)
    assert(residual === 0L)
  }

  test("searchTopKBatch: one pass serves many queries; each agrees with its single-query serve") {
    import graft.text.SearchIndex
    val docLens = docs.select(col("doc_id"),
      size(GraftFunctions.tokens(col("text"))).cast("long").as("dl"))
    val idx = SearchIndex.TextIndex(
      TextAnalysis.invertedIndex(docs), docLens,
      docLens.count(), docLens.agg(sum("dl")).head().getLong(0),
      TextAnalysis.DefaultMaxTokenDf)
    val qs = TextAnalysis.BatchQueries.toDF("query_id", "token")
    val got = SearchIndex.searchTopKBatch(idx, qs, k = 10).collect()
    val byQuery = got.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.keySet === Set(0L, 1L, 2L))
    // per-query ranking ≡ the single-query operator's (scores can
    // differ in the last ulp — the batch folds matched terms in token
    // order, the single path folds the full term list — so compare
    // the ranked doc lists and score proximity, not bits)
    TextAnalysis.BatchQueries.groupBy(_._1).foreach { case (qid, rows) =>
      val single = SearchIndex.searchTopK(idx, rows.map(_._2), k = 10).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
      val batch = byQuery(qid).sortBy(_.getAs[Long]("rn"))
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
      assert(batch.map(_._1).toSeq === single.map(_._1).toSeq, s"query $qid doc order")
      batch.zip(single).foreach { case ((_, bs), (_, ss)) =>
        assert(math.abs(bs - ss) <= math.ulp(ss) * 4, s"query $qid score drift")
      }
      // a single query folding in token order IS a batch of one: bitwise
      def bits(rs: Seq[(Long, Double)]) =
        rs.map { case (id, sc) => (id, java.lang.Double.doubleToLongBits(sc)) }
      val sorted = SearchIndex.searchTopK(idx, rows.map(_._2).sorted, k = 10).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
      assert(bits(sorted.toSeq) === bits(batch.toSeq), s"query $qid batch-of-one bits")
    }
    // ranks are 1..k dense per query
    byQuery.values.foreach { rows =>
      assert(rows.map(_.getAs[Long]("rn")).sorted.toSeq === (1L to rows.length).toSeq)
    }
  }

  test("searchTopKBatch: repeated (query_id, token) rows score as the deduplicated batch, bit for bit") {
    import graft.text.SearchIndex
    val tmp = tempDir("graft_bm25_dup").toString
    SearchIndex.save(docs, "graft_bm25_dup_spec", nBuckets = 4, path = Some(s"$tmp/tbl"))
    val idx = SearchIndex.load(spark, "graft_bm25_dup_spec")
    val rows = TextAnalysis.BatchQueries
    def served(qs: Seq[(Long, String)]) =
      SearchIndex.searchTopKBatch(idx, qs.toDF("query_id", "token"), k = 10).collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rn"), r.getAs[Long]("doc_id"),
          java.lang.Double.doubleToLongBits(r.getAs[Double]("score")))).toSeq
    val once = served(rows)
    assert(once.nonEmpty)
    assert(served(rows ++ rows.reverse ++ rows.take(2)) === once)
    spark.sql("DROP TABLE IF EXISTS graft_bm25_dup_spec")
    spark.sql("DROP TABLE IF EXISTS graft_bm25_dup_spec_doclen")
  }

  test("hybridSearchTopKOnIndexes: probe-every-cell ≡ independently fused exact ranks") {
    import graft.text.SearchIndex
    val terms = TextAnalysis.Bm25Terms
    // in-memory index pair (the save/load round trip is covered by its
    // own specs; this one pins the SERVING semantics)
    val docLens = docs.select(col("doc_id"),
      size(GraftFunctions.tokens(col("text"))).cast("long").as("dl"))
    val lexIdx = SearchIndex.TextIndex(
      TextAnalysis.invertedIndex(docs), docLens,
      docLens.count(), docLens.agg(sum("dl")).head().getLong(0),
      TextAnalysis.DefaultMaxTokenDf)
    val vecs = TextAnalysis.hashEmbedVectors(docs)
      .select(col("doc_id").as("vec_id"), col("embedding"))
    val cents = vecs.filter(col("vec_id") < 8)
    val cells = graft.ann.Ivf.assign(vecs, cents)
      .join(vecs.select(col("vec_id"), col("embedding")), Seq("vec_id"))
    val got = TextAnalysis.hybridSearchTopKOnIndexes(lexIdx, cells, cents,
      terms, k = 10, kEach = 20, nProbe = 8).collect()

    // independent recount: probing every one of the 8 cells makes the
    // semantic side the exact dense cosine ranking; fuse by hand
    val lexRanks = SearchIndex.searchTopK(lexIdx, terms, 20).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
      .sortBy { case (id, s) => (-s, id) }
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1L) }.toMap
    val qVec = TextAnalysis.hashEmbedVectors(
      Seq((TextAnalysis.HybridQueryDocId, terms.mkString(" "))).toDF("doc_id", "text"))
      .select(col("doc_id").as("vec_id"), col("embedding"))
    val vecRanks = Knn.cosineTopK(vecs, qVec, 20).collect()
      .map(r => (r.getAs[Long]("cand_id"), r.getAs[Long]("rn"))).toMap
    val rrf = (lexRanks.keySet ++ vecRanks.keySet).toSeq.map { id =>
      id -> (lexRanks.get(id).map(r => 1.0 / (60.0 + r)).getOrElse(0.0) +
        vecRanks.get(id).map(r => 1.0 / (60.0 + r)).getOrElse(0.0))
    }.sortBy { case (id, s) => (-s, id) }.take(10)
    assert(got.map(_.getAs[Long]("doc_id")).toSeq === rrf.map(_._1))
    got.foreach { r =>
      val expect = rrf.find(_._1 == r.getAs[Long]("doc_id")).get._2
      assert(r.getAs[Double]("rrf_score") === expect,
        s"doc ${r.getAs[Long]("doc_id")}")
    }
    // a small-nProbe serve stays within the same candidate universe
    // (cell-confined ⊆ corpus) and returns k rows
    val narrow = TextAnalysis.hybridSearchTopKOnIndexes(lexIdx, cells, cents,
      terms, k = 10, kEach = 20, nProbe = 2).collect()
    assert(narrow.length === 10)
  }
}
