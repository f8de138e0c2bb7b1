package graft

import org.apache.spark.sql.functions._

import graft.text.Bpe

/** Specs for the learned BPE subword tokenizer: the distributed merge
  * training and native encode expression must agree bit-for-bit with
  * an INDEPENDENT single-machine reference implementation (written
  * below from the Sennrich et al. 2016 algorithm statement, sharing no
  * code with the operator).
  */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  // ---- reference implementation (greedy left-to-right fold) ----

  private def refMerge(s: List[String], a: String, b: String): List[String] =
    s.foldLeft(List.empty[String]) { (acc, x) =>
      if (acc.nonEmpty && acc.last == a && x == b) acc.init :+ (a + b)
      else acc :+ x
    }

  private def refTrain(words: Map[String, Long], numMerges: Int,
      minCount: Long = 2L): Seq[(String, String)] = {
    var syms: Seq[(List[String], Long)] =
      words.toSeq.map { case (w, c) => (w.map(_.toString).toList, c) }
    val out = Seq.newBuilder[(String, String)]
    var m = 0
    var done = false
    while (m < numMerges && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((s, c) <- syms; i <- 0 until s.length - 1)
        counts((s(i), s(i + 1))) = counts.getOrElse((s(i), s(i + 1)), 0L) + c
      if (counts.isEmpty) done = true
      else {
        val ((a, b), c) = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }
        if (c < minCount) done = true
        else {
          out += ((a, b))
          syms = syms.map { case (s, wc) => (refMerge(s, a, b), wc) }
          m += 1
        }
      }
    }
    out.result()
  }

  private def refEncode(word: String, merges: Seq[(String, String)]): List[String] =
    merges.foldLeft(word.map(_.toString).toList) {
      case (s, (a, b)) => refMerge(s, a, b)
    }

  // ---- specs ----

  test("bpe: classic corpus learns the hand-checkable merges") {
    // 'ab' dominates: 5 occurrences in 'abab'*? words
    val d = Seq((1L, "abab abab abc bcd"), (2L, "abab abc abc"))
      .toDF("doc_id", "text")
    val model = Bpe.train(d, numMerges = 2, minCount = 1L)
    // pair counts round 1: (a,b) from abab(x2 each, 3 words)=6 + abc(x1,3 words)=3 -> 9
    // (b,a) 3, (b,c) 3, (c,d) 1 -> first merge (a,b)
    assert(model.merges.head === (("a", "b")))
    // round 2 on merged syms: abab->[ab,ab] gives (ab,ab)=3; abc->[ab,c] gives (ab,c)=3;
    // bcd->[b,c,d] gives (b,c)=1,(c,d)=1 -> tie 3-3 broken lexicographically: (ab,ab) < (ab,c)
    assert(model.merges(1) === (("ab", "ab")))
  }

  test("bpe: distributed training ≡ reference implementation on real corpus docs") {
    val d = spark.read.parquet(s"$sfDir/documents.parquet").limit(60)
    val model = Bpe.train(d, numMerges = 24, minCount = 2L)
    val words = d.select(explode(GraftFunctions.tokens(col("text"))).as("w")).groupBy("w").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expect = refTrain(words, numMerges = 24)
    assert(model.merges === expect)
  }

  test("bpe: native encode ≡ reference encode under the learned merges") {
    val d = spark.read.parquet(s"$sfDir/documents.parquet").limit(60)
    val model = Bpe.train(d, numMerges = 24, minCount = 2L)
    val got = d.withColumn("toks", GraftFunctions.tokens(col("text")))
      .select(col("doc_id"), col("toks"),
        Bpe.encodeTokens(col("toks"), model).as("bpe"))
      .collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val toks = r.getSeq[String](1)
      val expect = toks.flatMap(w => refEncode(w, model.merges))
      assert(r.getSeq[String](2) === expect, s"doc ${r.getLong(0)}")
    }
  }

  test("bpe: training is partitioning-invariant") {
    val d = spark.read.parquet(s"$sfDir/documents.parquet").limit(40)
    val a = Bpe.train(d, numMerges = 12)
    val b = Bpe.train(d.repartition(7), numMerges = 12)
    assert(a.merges === b.merges)
  }

  test("bpe: driver-local merge loop ≡ per-merge distributed loop, bitwise") {
    // maxLocalVocab = 0 forces the distributed per-merge-job path; the
    // default routes through the collected-vocabulary local loop — the
    // two must learn the identical merge list (same pair weighting,
    // same (cnt desc, a, b) tie-break, same greedy fold)
    val d = spark.read.parquet(s"$sfDir/documents.parquet").limit(60)
    val local = Bpe.train(d, numMerges = 24, minCount = 2L)
    val dist = Bpe.train(d, numMerges = 24, minCount = 2L, maxLocalVocab = 0L)
    assert(local.merges === dist.merges)
    assert(local.merges.nonEmpty)
  }

  test("bpe: local argmax tie-break is UTF-8 order even past the BMP") {
    // U+FFFD orders BEFORE U+10000 by code point (= UTF-8 bytes, =
    // Spark's binary UTF8String order) but AFTER it in Java's UTF-16
    // code-unit compareTo (surrogates D800.. < FFFD) — the exact
    // divergence utf8Compare exists to avoid. The word tokenizer strips
    // non-alphanumerics, so feed the two loop cores the word-count
    // table directly: a corpus tying pair counts on those characters
    // must merge the same pair on both paths.
    val hi = new String(Character.toChars(0x10000)) // 𐀀 (surrogate pair)
    val lo = "�"
    assert(Bpe.utf8Compare(lo, hi) < 0 && lo.compareTo(hi) > 0,
      "test premise: the two orders must disagree on this pair")
    assert(Bpe.charsLocal(s"a$hi").toSeq === Seq("a", hi),
      "a surrogate-pair character must be ONE symbol")
    val wc = Seq((s"a$hi", 1L), (s"a$lo", 1L)).toDF("word", "wc")
    val dist = Bpe.trainDistributed(wc, numMerges = 1, minCount = 1L)
    val vocab = Seq(s"a$hi", s"a$lo").map(w => (Bpe.charsLocal(w), 1L)).toArray
    val local = Bpe.trainLocal(vocab, numMerges = 1, minCount = 1L)
    assert(local.merges === dist.merges)
    assert(local.merges.head === (("a", lo)),
      s"tie must break to the UTF-8-smaller pair, got ${local.merges.head}")
  }

  test("bpe: production-scale merge budget trains in one corpus pass") {
    // the per-merge-job loop at numMerges=1024 would be 1024 sequential
    // Spark jobs; the local loop is one tokenize pass + driver
    // arithmetic — wall-clock stays in seconds even with a generous
    // flake margin, and early-stops cleanly when the vocab dries up
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val t0 = System.nanoTime()
    val model = Bpe.train(d, numMerges = 1024, minCount = 2L)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(model.merges.nonEmpty)
    assert(model.merges.size <= 1024)
    assert(secs < 120.0, s"local BPE training took ${secs}s")
  }

  test("bpe: save/load round trip preserves the merge list and the counts query") {
    val d = spark.read.parquet(s"$sfDir/documents.parquet").limit(60)
    val tmp = tempDir("graft_bpe_spec").toString
    val model = Bpe.train(d, numMerges = 16)
    Bpe.saveModel(model, spark, "graft_bpe_spec_model", path = Some(s"$tmp/m"))
    val loaded = Bpe.loadModel(spark, "graft_bpe_spec_model")
    assert(loaded.merges === model.merges)
    val fresh = Bpe.tokenCounts(d, model).collect().map(_.toString)
    val persisted = Bpe.tokenCounts(d, loaded).collect().map(_.toString)
    assert(fresh.sameElements(persisted))
    spark.sql("DROP TABLE IF EXISTS graft_bpe_spec_model")
  }

  test("bpe: packing under learned counts matches the driver-side prefix-sum arithmetic") {
    val d = spark.read.parquet(s"$sfDir/documents.parquet").limit(80)
    val model = Bpe.train(d, numMerges = 16)
    val packed = Bpe.packBpeQuery(d, numMerges = 16, sampleFrac = 1.0).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    // driver recount: per-source cumulative BPE token offsets in doc order
    val counts = d.withColumn("toks", GraftFunctions.tokens(col("text")))
      .select(col("doc_id"), col("source"),
        size(Bpe.encodeTokens(col("toks"), model)).cast("long").as("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(r => (r._2, r._1))
    val cums = scala.collection.mutable.Map.empty[String, Long]
    counts.foreach { case (id, src, n) =>
      val before = cums.getOrElse(src, 0L)
      assert(packed(id) === ((src, n, before / 256L, before % 256L)), s"doc $id")
      cums(src) = before + n
    }
  }

  test("bpe: subword counts are bounded by chars below and words above; merges shrink them") {
    val d = spark.read.parquet(s"$sfDir/documents.parquet").limit(60)
    val model = Bpe.train(d, numMerges = 24)
    val agg = Bpe.tokenCounts(d, model)
      .join(d.withColumn("toks", GraftFunctions.tokens(col("text")))
        .select(col("doc_id"),
          aggregate(transform(col("toks"), w => length(w).cast("long")),
            lit(0L), (a, x) => a + x).as("n_chars_toks")), Seq("doc_id"))
      .agg(sum("n_words").as("w"), sum("n_bpe_tokens").as("bpe"),
        sum("n_chars_toks").as("c")).head()
    val w = agg.getLong(0); val bpe = agg.getLong(1); val c = agg.getLong(2)
    assert(w <= bpe && bpe < c, s"w=$w bpe=$bpe chars=$c")
  }
}
