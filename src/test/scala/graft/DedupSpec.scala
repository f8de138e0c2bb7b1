package graft

import org.apache.spark.sql.functions._

import graft.dedup.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  lazy val docs = Tables.load(spark, sfDir, "documents")

  /** docs plus exact copies of the first 3 texts under new ids. */
  lazy val withCopies = {
    val copies = docs.orderBy("doc_id").limit(3)
      .withColumn("doc_id", col("doc_id") + lit(1000000L))
    docs.unionByName(copies)
  }

  test("exact dedup finds planted exact copies, keeps min doc_id") {
    val res = Dedup.exact(withCopies).collect()
    val dups = res.filter(_.getAs[Long]("group_size") > 1)
    assert(dups.length === 6) // 3 pairs → 6 members
    val keeps = dups.filter(_.getAs[Boolean]("keep"))
    assert(keeps.length === 3)
    assert(keeps.forall(_.getAs[Long]("doc_id") < 1000000L))
  }

  test("identical texts share complete minhash signatures") {
    val mh = Dedup.minhash(withCopies).collect()
      .map(r => r.getAs[Long]("doc_id") -> (0 until Dedup.MinhashK).map(i => r.getLong(1 + i)))
      .toMap
    (0 until 3).foreach { i =>
      assert(mh(i.toLong) === mh(i.toLong + 1000000L))
    }
  }

  test("minhash-LSH pairs report exact jaccard; exact copies score 1.0") {
    val pairs = Dedup.minhashLshPairs(withCopies).collect()
    assert(pairs.forall { r =>
      val j = r.getAs[Double]("jaccard"); j >= 0.0 && j <= 1.0
    })
    val planted = pairs.filter(r => r.getAs[Long]("b") - r.getAs[Long]("a") === 1000000L)
    assert(planted.length === 3)
    assert(planted.forall(_.getAs[Double]("jaccard") === 1.0))
  }

  test("LSH candidates achieve high recall on high-jaccard pairs (vs exact baseline)") {
    val exactPairs = Dedup.ngramJaccardPairs(docs, minJaccard = 0.9).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    val lshPairs = Dedup.minhashLshPairs(docs).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    assert(exactPairs.nonEmpty || lshPairs.nonEmpty) // corpus has planted near-dups
    if (exactPairs.nonEmpty) {
      // P(detect | j=0.9) = 1-(1-0.9^4)^4 ≈ 0.986 per pair — expect
      // high but not necessarily total recall
      val recall = exactPairs.intersect(lshPairs).size.toDouble / exactPairs.size
      assert(recall >= 0.8, s"recall $recall; missed ${exactPairs.diff(lshPairs)}")
    }
  }

  test("ngramJaccardPairs: hot-shingle cap prunes candidates but keeps rare-shingle dups") {
    // a generous cap (above any real df in the corpus) changes nothing
    val uncapped = Dedup.ngramJaccardPairs(withCopies, maxShingleDf = None)
      .collect().map(_.toSeq).toSeq
    val capped = Dedup.ngramJaccardPairs(withCopies, maxShingleDf = Some(1000000L))
      .collect().map(_.toSeq).toSeq
    assert(capped === uncapped)
    // a tight cap still finds the planted exact copies — their shingles
    // are rare (df ≤ copies + a few organic near-dups), and dropped
    // shingles vanish from both sides so copies keep jaccard 1.0
    val tight = Dedup.ngramJaccardPairs(withCopies, maxShingleDf = Some(10L)).collect()
    val planted = tight.filter(r => r.getAs[Long]("b") - r.getAs[Long]("a") === 1000000L)
    assert(planted.length === 3)
    assert(planted.forall(_.getAs[Double]("jaccard") === 1.0))
  }

  test("incrementalDedup flags exact and near batch duplicates of the corpus") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val corpus = docs.filter(col("doc_id") < 400)
    // batch: one exact copy of corpus doc 0, one near-copy of doc 1
    // (first 30 tokens dropped), one fresh doc
    val d0 = docs.filter(col("doc_id") === 0L).head().getAs[String]("text")
    val d1 = docs.filter(col("doc_id") === 1L).head().getAs[String]("text")
    val nearText = d1.split(" ").drop(3).mkString(" ")
    val batch = Seq(
      (2000001L, d0), (2000002L, nearText),
      (2000003L, (1 to 60).map(i => s"zz$i").mkString(" ")))
      .toDF("doc_id", "text")
    val res = Dedup.incrementalDedup(corpus, batch, minJaccard = 0.5).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Boolean]("exact_dup"), r.getAs[Boolean]("near_dup"),
          r.getAs[Boolean]("keep"))).toMap
    assert(res(2000001L)._1 === true)      // exact copy detected
    assert(res(2000001L)._3 === false)
    assert(res(2000002L)._2 === true, s"near copy missed: ${res(2000002L)}") // near dup detected
    assert(res(2000003L) === ((false, false, true))) // fresh doc kept
    res.foreach { case (_, (ex, near, keep)) => assert(keep === !(ex || near)) }
  }

  test("one verifier: incrementalDedup best_jaccard ≡ minhashLshPairs jaccard for the same pair, bit for bit") {
    val corpus = docs.filter(col("doc_id") < 400).select(col("doc_id"), col("text"))
    // a batch doc whose best match is a corpus doc: doc 1 minus its
    // first 3 tokens (jaccard < 1, so the ratio is a real division)
    val d1 = docs.filter(col("doc_id") === 1L).head().getAs[String]("text")
    val batch = Seq((2000002L, d1.split(" ").drop(3).mkString(" "))).toDF("doc_id", "text")
    val inc = Dedup.incrementalDedup(corpus, batch, minJaccard = 0.5)
    val row = inc.filter(col("doc_id") === 2000002L).head()
    inc.unpersist()
    assert(row.getAs[Boolean]("near_dup"), s"near copy missed: $row")
    val best = row.getAs[Long]("best_match")
    val bestJaccard = row.getAs[Double]("best_jaccard")
    assert(bestJaccard < 1.0)
    // the same pair through the self-join path over corpus ∪ batch
    // (corpus ids < batch id, so the pair is (a = best, b = batch doc))
    val pairs = Dedup.minhashLshPairs(corpus.unionByName(batch))
    val jac = pairs.filter(col("a") === best && col("b") === 2000002L)
      .select(col("jaccard")).collect().map(_.getDouble(0))
    pairs.unpersist()
    assert(jac.length === 1, s"pair ($best, 2000002) missing from minhashLshPairs")
    assert(java.lang.Double.doubleToLongBits(jac.head) ===
      java.lang.Double.doubleToLongBits(bestJaccard), s"${jac.head} vs $bestJaccard")
  }

  test("persisted signatures: ingest output equals self-contained path; corpus band join exchange-free") {
    import org.apache.spark.sql.functions._
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    val tmp = tempDir("graft_dedup_sig").toString
    Dedup.saveSignatures(corpus, "graft_dedup_sig_spec", path = Some(s"$tmp/tbl"))
    val (fp, bands) = Dedup.loadSignatures(spark, "graft_dedup_sig_spec")
    val persisted = Dedup.incrementalDedupOnSignatures(fp, bands, corpus, batch)
    // the persisted band table serves the collision join bucket-local:
    // strictly fewer exchanges than the same join against freshly
    // computed corpus bands (which must shuffle) — asserted on the
    // un-executed join subplan (the operator result itself is cache-
    // materialized, which would mask its exchanges)
    def exchanges(df: org.apache.spark.sql.DataFrame) =
      "Exchange".r.findAllIn(df.queryExecution.executedPlan.toString).size
    val batchBands = Dedup.minhashBands(Dedup.minhash(batch))
    def collisionJoin(corpusBands: org.apache.spark.sql.DataFrame) =
      batchBands.as("x").join(corpusBands.as("y"),
        col("x.band") === col("y.band") && col("x.band_hash") === col("y.band_hash"))
    val freshBands = Dedup.minhashBands(Dedup.minhash(corpus))
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    spark.conf.set(key, "-1") // force shuffle joins so bucketing is visible
    try
      assert(exchanges(collisionJoin(bands)) < exchanges(collisionJoin(freshBands)),
        "loaded band table should serve the collision join without a corpus-side exchange")
    finally spark.conf.set(key, old)
    // identical output row-for-row
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).toSeq
    assert(rows(persisted) === rows(Dedup.incrementalDedup(corpus, batch)))
    spark.sql("DROP TABLE IF EXISTS graft_dedup_sig_spec")
    spark.sql("DROP TABLE IF EXISTS graft_dedup_sig_spec_fp")
  }

  test("incrementalDedupOnSignatures: one call stays within its job budget") {
    // no shingle explode, aggregate or shingle join under the call:
    // signatures are one projection and the verifier intersects arrays
    val corpus = docs.filter(col("doc_id") % 2 === 0).select(col("doc_id"), col("text"))
    val local = corpus.orderBy("doc_id").limit(5).collect()
      .map(r => (r.getLong(0) + 5000000L, r.getString(1).split(" ").drop(2).mkString(" "))) ++
      docs.filter(col("doc_id") % 2 === 1).orderBy("doc_id").limit(40)
        .select(col("doc_id"), col("text")).collect().map(r => (r.getLong(0), r.getString(1)))
    val batch = local.toSeq.toDF("doc_id", "text")
    val tmp = tempDir("graft_dedup_jobs").toString
    Dedup.saveSignatures(corpus, "graft_dedup_jobs_spec", path = Some(s"$tmp/tbl"))
    val (fp, bands) = Dedup.loadSignatures(spark, "graft_dedup_jobs_spec")
    var nearDups = 0L
    val jobs = jobsOf {
      val flags = Dedup.incrementalDedupOnSignatures(fp, bands, corpus, batch)
      nearDups = flags.filter(col("near_dup")).count()
      flags.unpersist()
    }
    info(s"incrementalDedupOnSignatures: $jobs jobs, $nearDups near-dups")
    assert(nearDups >= 5, "the planted near-copies must reach the verifier")
    // 21 here; the exploded form (shingle-row signature aggregate,
    // shingle join and size aggregates in the verifier) submitted 26
    assert(jobs <= 22, s"incrementalDedupOnSignatures submitted $jobs jobs")
    spark.sql("DROP TABLE IF EXISTS graft_dedup_jobs_spec")
    spark.sql("DROP TABLE IF EXISTS graft_dedup_jobs_spec_fp")
  }

  test("MinhashSignature ≡ the Catalyst formula hex64('mh|' || s) → family → min") {
    import graft.dedup.MinhashFamily
    val rnd = new scala.util.Random(101)
    def str(): String = Seq.fill(rnd.nextInt(24))(rnd.nextInt(6) match {
      case 0 => rnd.nextPrintableChar().toString
      case 1 => (0x4E00 + rnd.nextInt(0x5000)).toChar.toString          // Han
      case 2 => new String(Character.toChars(0x1F300 + rnd.nextInt(0x300))) // astral
      case 3 => (0xD800 + rnd.nextInt(0x800)).toChar.toString          // lone surrogate
      case 4 => " "
      case _ => (0xC0 + rnd.nextInt(0x100)).toChar.toString            // Latin-1/Extended
    }).mkString
    val sets = (0L until 300L).map(i => (i, Seq.fill(rnd.nextInt(40))(str()).distinct)) :+
      ((300L, Seq.empty[String]))
    val df = sets.toDF("id", "sh")
    def kernel(d: org.apache.spark.sql.DataFrame) =
      d.select(col("id"), GraftFunctions.minhashSignature(col("sh"), Dedup.MinhashK))
        .collect().map(r => r.getLong(0) -> Option(r.getSeq[Long](1)).map(_.toSeq)).toMap
    // the local relation is folded by the interpreter; the repartitioned
    // frame runs the generated code
    val (interpreted, generated) = (kernel(df), kernel(df.repartition(3)))
    assert(interpreted === generated)
    val h = GraftFunctions.hex64(concat(lit("mh|"), col("s")))
    val mins = MinhashFamily.coefs(Dedup.MinhashK).map { c =>
      min((shiftright(h, 30) * c.a + h.bitwiseAND(lit(MinhashFamily.LoMask)) * c.b + lit(c.c)) %
        MinhashFamily.Prime)
    }
    val formula = df.select(col("id"), explode(col("sh")).as("s"))
      .groupBy(col("id")).agg(mins.head, mins.tail: _*)
      .collect().map(r => r.getLong(0) -> (1 to Dedup.MinhashK).map(r.getLong)).toMap
    assert(generated.keySet === sets.map(_._1).toSet)
    assert(formula.keySet === sets.filter(_._2.nonEmpty).map(_._1).toSet)
    sets.foreach { case (id, s) =>
      assert(generated(id) === (if (s.isEmpty) None else Some(formula(id))), s"set $id")
    }
  }

  test("signature-store ingest loop: add survivors, next batch sees them; compact to one file per bucket") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val corpus = docs.filter(col("doc_id") < 300)
    val tmp = tempDir("graft_sig_loop").toString
    Dedup.saveSignatures(corpus, "graft_sig_loop_spec", path = Some(s"$tmp/tbl"))
    // batch B: one fresh doc the corpus has never seen
    val freshText = (1 to 60).map(i => s"loopy$i").mkString(" ")
    val batchB = Seq((3000001L, freshText)).toDF("doc_id", "text")
    val (fp1, bands1) = Dedup.loadSignatures(spark, "graft_sig_loop_spec")
    val flagsB = Dedup.incrementalDedupOnSignatures(fp1, bands1, corpus, batchB)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("keep")).toMap
    assert(flagsB(3000001L) === true, "fresh doc must survive")
    // write back the survivor's signatures
    Dedup.addSignatures(spark, batchB, "graft_sig_loop_spec")
    // batch C: an exact copy of B's doc and a near-copy — the store
    // now knows them, WITHOUT any rebuild
    val nearText = freshText.split(" ").drop(3).mkString(" ")
    val batchC = Seq((3000002L, freshText), (3000003L, nearText))
      .toDF("doc_id", "text")
    val (fp2, bands2) = Dedup.loadSignatures(spark, "graft_sig_loop_spec")
    val corpusPlusB = corpus.select(col("doc_id"), col("text"))
      .unionByName(batchB)
    val flagsC = Dedup.incrementalDedupOnSignatures(fp2, bands2, corpusPlusB, batchC,
        minJaccard = 0.5)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Boolean]("exact_dup"), r.getAs[Boolean]("near_dup"))).toMap
    assert(flagsC(3000002L)._1 === true, s"copy of an ADDED doc missed: $flagsC")
    assert(flagsC(3000003L)._2 === true, s"near-copy of an ADDED doc missed: $flagsC")
    // append debris → compact → one file per bucket in BOTH tables
    import graft.ops.Compaction
    assert(Compaction.filesPerBucket(spark, "graft_sig_loop_spec").values.max > 1 ||
      Compaction.filesPerBucket(spark, "graft_sig_loop_spec_fp").values.max > 1,
      "appends should leave multi-file buckets somewhere")
    Dedup.compactSignatures(spark, "graft_sig_loop_spec")
    Seq("graft_sig_loop_spec", "graft_sig_loop_spec_fp").foreach { t =>
      val per = Compaction.filesPerBucket(spark, t)
      assert(per.nonEmpty && per.values.forall(_ == 1), s"$t: $per")
    }
    // the compacted store still flags batch C identically
    val (fp3, bands3) = Dedup.loadSignatures(spark, "graft_sig_loop_spec")
    val after = Dedup.incrementalDedupOnSignatures(fp3, bands3, corpusPlusB, batchC,
        minJaccard = 0.5)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Boolean]("exact_dup"), r.getAs[Boolean]("near_dup"))).toMap
    assert(after === flagsC)
    spark.sql("DROP TABLE IF EXISTS graft_sig_loop_spec")
    spark.sql("DROP TABLE IF EXISTS graft_sig_loop_spec_fp")
  }

  test("nearDupClusters: copies join their source's cluster; chains collapse transitively") {
    val res = Dedup.nearDupClusters(withCopies).collect()
    assert(res.length === withCopies.count())
    val byId = res.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    (0 until 3).foreach { i =>
      assert(byId(i.toLong + 1000000L) === byId(i.toLong))
      assert(byId(i.toLong) <= i.toLong)
    }
    // keep = exactly one representative (the min id) per cluster
    val keeps = res.filter(_.getAs[Boolean]("keep")).map(_.getAs[Long]("doc_id")).toSet
    assert(keeps === res.map(_.getAs[Long]("cluster_id")).toSet)
    // transitive chain: A~B, B~C but A,C share a cluster via B
    import spark.implicits._
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val b = (1 to 33).map(i => s"tok$i").mkString(" ")   // ~ A (j≈0.9)
    val c = (4 to 33).map(i => s"tok$i").mkString(" ")   // ~ B, farther from A
    val chain = Seq((1L, base), (2L, b), (3L, c)).toDF("doc_id", "text")
    val cl = Dedup.nearDupClusters(chain, minJaccard = 0.6).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(cl(2L) === cl(1L) && cl(3L) === cl(1L))
  }

  test("cleanCorpus: exact copies keep one representative; flags compose into keep") {
    val res = graft.ops.Pipeline.cleanCorpus(withCopies).collect()
    assert(res.length === withCopies.count())
    val byId = res.map(r => r.getAs[Long]("doc_id") -> r).toMap
    (0 until 3).foreach { i =>
      // the planted copy loses on both the exact and cluster stage;
      // its source (min doc_id) survives those stages
      assert(!byId(i.toLong + 1000000L).getAs[Boolean]("exact_keep"))
      assert(!byId(i.toLong + 1000000L).getAs[Boolean]("cluster_keep"))
      assert(!byId(i.toLong + 1000000L).getAs[Boolean]("keep"))
      assert(byId(i.toLong).getAs[Boolean]("exact_keep"))
    }
    res.foreach { r =>
      val expected = r.getAs[Double]("quality_score") >= 0.3 &&
        r.getAs[Boolean]("exact_keep") && r.getAs[Boolean]("cluster_keep")
      assert(r.getAs[Boolean]("keep") === expected)
    }
  }

  test("simhash: identical docs identical fingerprints; near-dups close in hamming") {
    val sh = Dedup.simhash(withCopies).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    (0 until 3).foreach(i => assert(sh(i.toLong) === sh(i.toLong + 1000000L)))
    val pairs = Dedup.simhashPairs(withCopies).collect()
    val planted = pairs.filter(r => r.getAs[Long]("b") - r.getAs[Long]("a") === 1000000L)
    assert(planted.length === 3)
    assert(planted.forall(_.getAs[Long]("hamming") === 0L))
  }

  test("decontaminate flags exactly the train docs sharing an eval n-gram") {
    // doc 1's first 5-gram is verbatim in the eval set; doc 2 is clean;
    // doc 3 is too short to have any 5-gram at all
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven"),
      (3L, "tiny doc"))
      .toDF("doc_id", "text")
    val eval = Seq((10L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val res = Dedup.decontaminate(train, eval).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_shingles"), r.getAs[Long]("n_contaminated"),
          r.getAs[Boolean]("contaminated"))).toMap
    assert(res(1L) === (2L, 1L, true))  // 6 tokens → 2 five-grams, 1 shared
    assert(res(2L) === (3L, 0L, false))
    assert(res(3L) === (0L, 0L, false))
  }

  test("decontaminateFuzzy: paraphrased eval leakage flags near, verbatim flags exact") {
    // doc 1 is eval doc 10 with one word APPENDED (shingle jaccard
    // 22/23 ≈ 0.96 — near-dup, but a different exact fingerprint);
    // doc 2 is verbatim eval text; doc 3 is clean
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu alef bet gimel dalet he vav zayin het tet yod kaf lamed"
    val train = Seq(
      (1L, base + " extra"),
      (2L, base),
      (3L, "one two three four five six seven eight nine ten eleven twelve"))
      .toDF("doc_id", "text")
    val eval = Seq((10L, base)).toDF("doc_id", "text")
    val res = Dedup.decontaminateFuzzy(train, eval).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Boolean]("exact_contaminated"),
          r.getAs[Boolean]("near_contaminated"),
          r.getAs[Boolean]("keep"))).toMap
    assert(res(1L)._2 && !res(1L)._1 && !res(1L)._3, s"paraphrase: ${res(1L)}")
    assert(res(2L)._1 && !res(2L)._3, s"verbatim: ${res(2L)}")
    assert(!res(3L)._1 && !res(3L)._2 && res(3L)._3, s"clean: ${res(3L)}")
  }

  test("dupSpans/removeDupSpans: planted shared + internal spans, exact window-union arithmetic") {
    // P = 12 shared tokens → 3 dup 10-grams, union coverage 10+1+1 = 12.
    // Q = 10 tokens repeated inside doc 4 (gap > 10) → 2 dup grams, 20
    // tokens covered — corpus-wide count > 1 includes same-doc repeats.
    val p = (1 to 12).map(i => s"p$i").mkString(" ")
    val q = (1 to 10).map(i => s"q$i").mkString(" ")
    val fillA = (1 to 20).map(i => s"a$i").mkString(" ")
    val fillB = (1 to 20).map(i => s"b$i").mkString(" ")
    val fillC = (1 to 30).map(i => s"c$i").mkString(" ")
    val fillD = (1 to 5).map(i => s"d$i").mkString(" ")
    val docs4 = Seq(
      (1L, s"$fillA $p"), (2L, s"$p $fillB"), (3L, fillC),
      (4L, s"$q $fillD $q")).toDF("doc_id", "text")

    val spans = Dedup.dupSpans(docs4)
    val byId = spans.collect().map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_dup_grams"),
        r.getAs[Long]("dup_tokens"), r.getAs[Double]("dup_fraction"))).toMap
    spans.unpersist()
    assert(byId(1L) === ((32L, 3L, 12L, 12.0 / 32.0)))
    assert(byId(2L) === ((32L, 3L, 12L, 12.0 / 32.0)))
    assert(byId(3L) === ((30L, 0L, 0L, 0.0)))
    assert(byId(4L) === ((25L, 2L, 20L, 20.0 / 25.0)))

    val removed = Dedup.removeDupSpans(docs4)
    val rById = removed.collect().map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Long]("n_kept"), r.getAs[String]("clean_text"))).toMap
    removed.unpersist()
    // the passage vanishes from ALL copies (ExactSubstr), fillers survive
    assert(rById(1L) === ((20L, fillA)))
    assert(rById(2L) === ((20L, fillB)))
    assert(rById(3L) === ((30L, fillC)))
    assert(rById(4L) === ((5L, fillD)))
  }

  test("dupSpans coverage ≡ tokens removed by removeDupSpans on the real corpus") {
    val spans = Dedup.dupSpans(docs)
    val removed = Dedup.removeDupSpans(docs)
    val joined = spans.select(col("doc_id"), col("dup_tokens"))
      .join(removed.select(col("doc_id"),
        (col("n_tokens") - col("n_kept")).as("gone")), Seq("doc_id"))
    val mismatches = joined.filter(col("dup_tokens") =!= col("gone")).count()
    val nDup = spans.filter(col("n_dup_grams") > 0).count()
    spans.unpersist(); removed.unpersist()
    assert(mismatches === 0L)
    assert(nDup > 0L, "corpus should contain duplicated spans (planted near-dups)")
  }

  test("bloomDedup: gate ≡ ungated exact semi-join; fp rate bounded; planted dups flagged") {
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    // batch = odd docs + exact copies of 3 corpus texts under new odd ids
    val planted = corpus.orderBy("doc_id").limit(3)
      .withColumn("doc_id", col("doc_id") * 2 + lit(1000001L))
    val batch = docs.filter(col("doc_id") % 2 === 1).unionByName(planted)
    val res = Dedup.bloomDedup(corpus, batch, fpp = 0.01).collect()
    val byId = res.map(r => r.getAs[Long]("doc_id") -> r).toMap
    // planted exact copies must be flagged (and bloom can't have missed them)
    planted.collect().map(_.getAs[Long]("doc_id")).foreach { id =>
      assert(byId(id).getAs[Boolean]("bloom_hit"), s"bloom missed planted dup $id")
      assert(byId(id).getAs[Boolean]("exact_dup"), s"planted dup $id not flagged")
      assert(!byId(id).getAs[Boolean]("keep"))
    }
    // gate soundness: flagged set ≡ the ungated exact semi-join
    def fpOf(d: org.apache.spark.sql.DataFrame) =
      d.select(col("doc_id"), graft.GraftFunctions.hex64(
        array_join(graft.GraftFunctions.tokens(col("text")), " ")).as("fp"))
    val direct = fpOf(batch)
      .join(fpOf(corpus).select("fp").distinct(), Seq("fp"), "left_semi")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val gated = res.filter(_.getAs[Boolean]("exact_dup")).map(_.getAs[Long]("doc_id")).toSet
    assert(gated === direct)
    // bloom false positives stay near the configured fpp
    val nonDup = res.filter(!_.getAs[Boolean]("exact_dup"))
    val fpRate = nonDup.count(_.getAs[Boolean]("bloom_hit")).toDouble / nonDup.length
    assert(fpRate <= 0.05, s"bloom fp rate $fpRate far above configured 0.01")
  }
}
