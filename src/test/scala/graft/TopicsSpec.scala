package graft

import org.apache.spark.sql.functions._

import graft.text.Topics

class TopicsSpec extends SparkSpec {
  import spark.implicits._

  test("topics: planted vocabularies cluster onto their own centroids with their own terms") {
    // centroid 0 carries vocab A, centroid 1 vocab B (nCentroids = 2);
    // every other doc uses one vocabulary and must assign to the
    // matching centroid; the cluster terms are that vocabulary
    val a = "apple apricot avocado almond anise"
    val b = "banana blueberry bergamot breadfruit barberry"
    val docs = (Seq((0L, a), (1L, b)) ++
      (2L until 12L).map(i => (i, if (i % 2 == 0) a else b)))
      .toDF("doc_id", "text")
    val out = Topics.topics(docs, nCentroids = 2, topTerms = 3).collect()
    val byCluster = out.groupBy(_.getLong(0))
    assert(byCluster.keySet === Set(0L, 1L))
    val termsA = byCluster(0L).map(_.getString(2)).toSet
    val termsB = byCluster(1L).map(_.getString(2)).toSet
    assert(termsA.subsetOf(a.split(" ").toSet), s"cluster 0 terms $termsA")
    assert(termsB.subsetOf(b.split(" ").toSet), s"cluster 1 terms $termsB")
    // every term fully captured by its cluster: score exactly 1.0
    assert(out.forall(_.getDouble(5) === 1.0))
    // ranks are 1..topTerms per cluster
    assert(byCluster.values.forall(
      _.map(_.getLong(1)).sorted.sameElements(1L to 3L)))
  }

  test("topic model at rest: cross-corpus assignment against the persisted cluster space") {
    val a = "apple apricot avocado almond anise"
    val b = "banana blueberry bergamot breadfruit barberry"
    val train = (Seq((0L, a), (1L, b)) ++
      (2L until 12L).map(i => (i, if (i % 2 == 0) a else b)))
      .toDF("doc_id", "text")
    val tmp = tempDir("topics_rt").toString
    Topics.saveTopics(train, "graft_topics_spec", nCentroids = 2, topTerms = 3,
      path = Some(s"$tmp/tbl"))
    // label table round trip ≡ the in-query topics output bitwise
    val terms = spark.table("graft_topics_spec_terms")
      .orderBy(col("cluster"), col("term_rank")).collect().map(_.toString)
    val fresh = Topics.topics(train, nCentroids = 2, topTerms = 3)
      .collect().map(_.toString)
    assert(terms.toSeq === fresh.toSeq)
    // a NEW corpus tags against the SAME cluster space: vocab-A docs
    // land on cluster 0, vocab-B on cluster 1 — ids comparable across
    // ingests because the centroids never refit
    val incoming = Seq((100L, a), (101L, b), (102L, a)).toDF("doc_id", "text")
    val asg = Topics.assignOnTopics(incoming, "graft_topics_spec").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("cluster"), r.getAs[Double]("sim"))).toMap
    assert(asg(100L)._1 === 0L && asg(102L)._1 === 0L && asg(101L)._1 === 1L, s"$asg")
    // identical vocabulary ⇒ exact cosine 1.0 against its centroid
    assert(asg.values.forall(v => math.abs(v._2 - 1.0) < 1e-12))
    // assignment plan: centroid side broadcast, no window
    val plan = Topics.assignOnTopics(incoming, "graft_topics_spec")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("BroadcastExchange"), "centroids must broadcast")
    spark.sql("DROP TABLE IF EXISTS graft_topics_spec")
    spark.sql("DROP TABLE IF EXISTS graft_topics_spec_terms")
  }

  test("qualityEnsemble: each signal catches its own planted failure mode") {
    // ≥50 distinct words (Gopher's floor), stopwords present, mean
    // word length ≥3, no repeated bigrams
    val prose = ((0 until 58).map(i => s"word${('a' + i % 26).toChar}$i") ++
      Seq("the", "and")).mkString(" ")
    val docs = Seq(
      (1L, prose),                                   // clean: keeps
      (2L, "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa"),      // zero entropy
      (3L, ("spam ham " * 40).trim),                 // repetition
      (4L, "!!! ### ??? *** $$$ %%% @@@ ^^^")        // quality + gopher
    ).toDF("doc_id", "text")
    val out = graft.ops.Pipeline.qualityEnsemble(docs).collect()
      .map(r => r.getLong(0) ->
        (r.getBoolean(5), r.getBoolean(6), r.getBoolean(7), r.getBoolean(8),
          r.getBoolean(9))).toMap
    assert(out(1L)._5, s"clean doc dropped: ${out(1L)}")
    assert(out(2L)._3 && !out(2L)._5, s"degenerate entropy: ${out(2L)}")
    assert(out(3L)._4 && !out(3L)._5, s"repetition: ${out(3L)}")
    assert(out(4L)._1 && !out(4L)._5, s"symbol soup: ${out(4L)}")
  }

  test("topics: partitioning-invariant and window-free over the vocabulary") {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val x = Topics.topics(d).collect().map(_.toString)
    val y = Topics.topics(d.repartition(7)).collect().map(_.toString)
    assert(x.sameElements(y))
    val phys = Topics.topics(d).queryExecution.executedPlan.toString
    assert(!phys.contains("Window"), s"topics plans a window:\n$phys")
    assert(phys.contains("TopKByScore") || phys.contains("top_k_by_score"),
      s"term ranking not through the bounded aggregate:\n$phys")
  }
}
