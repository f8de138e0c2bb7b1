package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.lsh.{LshIndex, LshParams}
import graft.multimodal.Binary
import graft.text.{SearchIndex, TextAnalysis}
import Gen._

object Workloads {
  val Names: Seq[String] = Seq("serve", "curate")

  def make(name: String, seed: Long, seconds: Int): Workload = name match {
    case "serve" => new Composite(name, Seq(new VectorServe(seed, seconds), new TextSearch(seed, seconds)))
    case "curate" => new Composite(name, Seq(new CorpusDedup(seed, seconds), new MediaTriage(seed, seconds)))
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (one of ${Names.mkString(", ")})")
  }

  /** Read count: a fixed rate times the run length, so both sides of a
    * comparison time the same operations and the same percentile.
    */
  def readCount(readsPerSecond: Double, seconds: Int): Int =
    math.max(2, math.round(readsPerSecond * seconds).toInt)

  /** Rows of one query's ranked result, in rank order. */
  def ranked(rows: Array[Row], qCol: String, rnCol: String): Map[Long, Seq[Row]] =
    rows.groupBy(_.getAs[Long](qCol)).map { case (q, rs) => q -> rs.toSeq.sortBy(_.getAs[Long](rnCol)) }

  /** Ranks run 1..m with m ≤ k, and `score` never rises down the list. */
  def wellRanked(rs: Seq[Row], rnCol: String, score: Row => Double, k: Int): Boolean =
    rs.size <= k && rs.map(_.getAs[Long](rnCol)) == (1L to rs.size.toLong) &&
      rs.map(score).sliding(2).forall(w => w.size < 2 || w(0) >= w(1))

  def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0
}

import Workloads._

// ------------------------------------------------------------- vector_serve

/** LSH vector serving: index a clustered corpus, serve batches of
  * perturbed-copy queries (4 collision top-k : 1 cosine rerank), append
  * vectors every few reads, compact at the end.
  */
final class VectorServe(seed: Long, seconds: Int) extends Workload {
  val name = "vector_serve"
  private val n = 20000
  private val dim = 64
  private val clusters = 100
  private val qBatch = 100
  private val checkPer = 10
  private val addSize = 1000
  private val writeEvery = 3
  private val reads = readCount(0.3, seconds)
  private val p = LshParams(dim = dim, numPerm = 128)
  private val table = "perfbench_lsh"
  private val qIdBase = 1000000000L

  private var corpus: Array[Vec] = _
  private var queries: Array[Array[Vec]] = _
  private var adds: Array[Array[Vec]] = _
  private var truth: Array[Array[Seq[Long]]] = _
  private lazy val byId: Map[Long, Array[Float]] =
    (corpus.iterator ++ adds.iterator.flatten ++ queries.iterator.flatten).map(v => v.id -> v.v).toMap

  private var idx: DataFrame = _
  private var applied = 0
  private var hits, checked, rerankHits, rerankChecked = 0L

  private def nWrites = reads / writeEvery

  def generate(): Unit = {
    val space = new VectorSpace(seed, dim, clusters)
    val r = new java.util.Random(seed * 31 + 7)
    corpus = Array.tabulate(n)(i => space.draw(r, i.toLong, 0.5))
    queries = Array.tabulate(reads)(b => Array.tabulate(qBatch)(i =>
      space.perturb(r, corpus(r.nextInt(n)), qIdBase + b.toLong * qBatch + i, 0.15)))
    adds = Array.tabulate(nWrites)(j => Array.tabulate(addSize)(i =>
      space.draw(r, (n + j * addSize + i).toLong, 0.5)))
    // exact cosine top-10 over what the index holds when each read runs
    truth = Array.tabulate(reads) { b =>
      val pool = corpus.toSeq ++ adds.take(b / writeEvery).toSeq.flatMap(_.toSeq)
      queries(b).take(checkPer).map(q => exactTopK(q.v, pool, 10))
    }
  }

  def stage(ctx: Ctx): Unit = {
    import ctx.spark.implicits._
    corpus.map(v => (v.id, v.v)).toSeq.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"${ctx.dir}/$name/corpus")
    queries.zipWithIndex.flatMap { case (qs, b) => qs.map(v => (v.id, v.v, b)) }.toSeq
      .toDF("vec_id", "embedding", "batch").write.mode("overwrite").parquet(s"${ctx.dir}/$name/queries")
    adds.zipWithIndex.flatMap { case (as, j) => as.map(v => (v.id, v.v, j)) }.toSeq
      .toDF("vec_id", "embedding", "batch").write.mode("overwrite").parquet(s"${ctx.dir}/$name/adds")
  }

  private def corpusDf(ctx: Ctx): DataFrame = ctx.spark.read.parquet(s"${ctx.dir}/$name/corpus")
  private def batchOf(ctx: Ctx, what: String, b: Int): DataFrame =
    ctx.spark.read.parquet(s"${ctx.dir}/$name/$what").where(col("batch") === b)
      .select(col("vec_id"), col("embedding"))

  def build(ctx: Ctx): Outcome = {
    ctx.call("lsh.saveBucketed") {
      LshIndex.saveBucketed(LshIndex.build(corpusDf(ctx), p), p, table)
    }
    idx = ctx.call("lsh.loadBucketed")(LshIndex.loadBucketed(ctx.spark, table)._1)
    applied = 0
    Outcome(n, () => true)
  }

  private def validId(id: Long): Boolean = id >= 0 && id < n + applied.toLong * addSize

  private def topK(b: Int)(ctx: Ctx): Outcome = {
    val rows = ctx.call("lsh.topKOnIndex") {
      LshIndex.topKOnIndex(idx, batchOf(ctx, "queries", b), p, 10).collect()
    }
    Outcome(qBatch, () => {
      val byQ = ranked(rows, "q_id", "rn")
      val ok = byQ.forall { case (q, rs) =>
        wellRanked(rs, "rn", _.getAs[Long]("n_collisions").toDouble, 10) &&
          rs.forall { r =>
            val c = r.getAs[Long]("cand_id"); val nc = r.getAs[Long]("n_collisions")
            c != q && validId(c) && nc >= 1 && nc <= p.b
          }
      }
      queries(b).take(checkPer).zip(truth(b)).foreach { case (q, t) =>
        hits += byQ.getOrElse(q.id, Nil).count(r => t.contains(r.getAs[Long]("cand_id")))
        checked += t.size
      }
      ok
    })
  }

  private def rerank(b: Int)(ctx: Ctx): Outcome = {
    val corpusNow = corpusDf(ctx).unionByName(
      ctx.spark.read.parquet(s"${ctx.dir}/$name/adds").where(col("batch") < applied)
        .select(col("vec_id"), col("embedding")))
    val rows = ctx.call("lsh.topPRerank") {
      LshIndex.topPRerank(corpusNow, batchOf(ctx, "queries", b), p, topP = 0.5, topK = 10).collect()
    }
    Outcome(qBatch, () => {
      val byQ = ranked(rows, "q_id", "rn")
      val ok = byQ.forall { case (q, rs) =>
        wellRanked(rs, "rn", _.getAs[Double]("sim"), 10) && rs.forall { r =>
          val c = r.getAs[Long]("cand_id")
          c != q && validId(c) &&
            math.abs(r.getAs[Double]("sim") - cosine(byId(q), byId(c))) <= 1e-5
        }
      }
      queries(b).take(checkPer).zip(truth(b)).foreach { case (q, t) =>
        val h = byQ.getOrElse(q.id, Nil).count(r => t.contains(r.getAs[Long]("cand_id")))
        hits += h; rerankHits += h
        checked += t.size; rerankChecked += 1
      }
      ok
    })
  }

  private def add(j: Int)(ctx: Ctx): Outcome = {
    ctx.call("lsh.addToBucketed")(LshIndex.addToBucketed(ctx.spark, batchOf(ctx, "adds", j), table))
    idx = ctx.call("lsh.loadBucketed")(LshIndex.loadBucketed(ctx.spark, table, validate = false)._1)
    applied = j + 1
    Outcome(addSize, () => true)
  }

  lazy val schedule: IndexedSeq[Op] = (0 until reads).flatMap { b =>
    val read =
      if (b % 5 == 4) Op(Op.Read, "lsh.topPRerank", rerank(b))
      else Op(Op.Read, "lsh.topKOnIndex", topK(b))
    if (b % writeEvery == writeEvery - 1 && b / writeEvery < nWrites)
      Seq(read, Op(Op.Write, "lsh.addToBucketed", add(b / writeEvery)))
    else Seq(read)
  }

  def finish(ctx: Ctx): Unit = {
    ctx.call("lsh.compactBucketed")(LshIndex.compactBucketed(ctx.spark, table))
    val rows = ctx.spark.table(table).count()
    require(rows == (n + applied.toLong * addSize) * p.b,
      s"compacted index holds $rows rows, expected ${(n + applied.toLong * addSize) * p.b}")
  }

  def quality: Map[String, (Double, Double)] = Map(
    "vector_recall_at_10" -> (ratio(hits, checked), 0.15),
    "vector_rerank_recall_at_10" -> (ratio(rerankHits, rerankChecked * 10.0), 0.2))

  def layerCounts(ctx: Ctx, t: Tracer): Map[String, Double] = {
    val topKQueries = t.spansNamed("lsh.topKOnIndex").size.toDouble * qBatch
    val rerankQueries = t.spansNamed("lsh.topPRerank").size.toDouble * qBatch
    val candPerQuery = ratio(t.planCount("lsh.topPRerank", "join[cand_id]"), rerankQueries)
    Map(
      "lsh.collision_rows_per_query" ->
        ratio(t.planCount("lsh.topKOnIndex", "join[band,sig]"), topKQueries),
      "lsh.rerank_candidates_per_query" -> candPerQuery,
      "lsh.useful_ratio" -> ratio(ratio(rerankHits, rerankChecked), candPerQuery))
  }

  def describe: Map[String, Any] = Map("corpus_vectors" -> n, "dim" -> dim, "clusters" -> clusters,
    "query_batch" -> qBatch, "reads" -> reads, "mix" -> "4 topKOnIndex(k=10) : 1 topPRerank(p=0.5,k=10)",
    "writes" -> nWrites, "add_vectors" -> addSize, "lsh" -> s"b=${p.b} r=${p.r}")
}

// ------------------------------------------------------------- corpus_dedup

/** Training-data dedup: a full keep-best near-dup pass over a corpus with
  * planted near-duplicate pairs, persisted signatures, then batches of
  * new documents (a third planted copies of corpus documents) flagged
  * incrementally, each batch's survivors appended to the signatures.
  */
final class CorpusDedup(seed: Long, seconds: Int) extends Workload {
  val name = "corpus_dedup"
  private val nOrig = 1200
  private val nTwins = nOrig / 4
  private val nBase = nOrig + nTwins
  private val batch = 100
  private val reads = readCount(0.1, seconds)
  private val table = "perfbench_sigs"
  private val batchIdBase = 10000000L

  private var base: Array[Doc] = _
  private var groupOf: Map[Long, Int] = _ // base doc → planted group (only twins)
  private var batches: Array[Array[(Doc, Option[Long])]] = _ // doc, planted source

  private var fp, bands: DataFrame = _
  private var applied = 0
  private var passPlanted, passFound, passReported, passCorrect = 0L
  private var batchPlanted, batchFound, batchFlagged = 0L

  def generate(): Unit = {
    val ts = new TextSpace(20000, 80, 240)
    val r = new java.util.Random(seed * 131 + 3)
    val origToks = Array.fill(nOrig)(ts.tokens(r))
    val twinToks = (0 until nTwins).map(i => nearDup(r, ts, origToks(i), 0.05, 0.72))
    // shuffle ids so twins are not adjacent to their sources
    val ids = scala.util.Random.javaRandomToRandom(r).shuffle((0L until nBase).toVector)
    base = (origToks ++ twinToks).zipWithIndex.map { case (t, i) => Doc(ids(i), ts.render(t)) }
    groupOf = (0 until nTwins).flatMap(g => Seq(ids(g) -> g, ids(nOrig + g) -> g)).toMap
    val allToks = origToks ++ twinToks
    batches = Array.tabulate(reads) { b =>
      Array.tabulate(batch) { i =>
        val id = batchIdBase + b.toLong * batch + i
        if (i % 3 == 0) {
          val src = r.nextInt(nBase)
          (Doc(id, ts.render(nearDup(r, ts, allToks(src), 0.05, 0.72))), Some(ids(src)))
        } else (Doc(id, ts.render(ts.tokens(r))), None)
      }
    }
  }

  def stage(ctx: Ctx): Unit = {
    import ctx.spark.implicits._
    base.map(d => (d.id, d.text)).toSeq.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"${ctx.dir}/$name/base")
    batches.zipWithIndex.flatMap { case (ds, b) => ds.map { case (d, src) => (d.id, d.text, b, src.isDefined) } }
      .toSeq.toDF("doc_id", "text", "batch", "planted")
      .write.mode("overwrite").parquet(s"${ctx.dir}/$name/batches")
  }

  private def baseDf(ctx: Ctx): DataFrame = ctx.spark.read.parquet(s"${ctx.dir}/$name/base")
  private def batchesDf(ctx: Ctx): DataFrame = ctx.spark.read.parquet(s"${ctx.dir}/$name/batches")

  def build(ctx: Ctx): Outcome = {
    val docs = baseDf(ctx)
    val (kept, rows) = ctx.call("dedup.nearDupKeepBest") {
      val k = Dedup.nearDupKeepBest(docs)
      (k, k.select(col("doc_id"), col("cluster_id")).collect())
    }
    ctx.call("dedup.saveSignatures")(Dedup.saveSignatures(docs, table))
    val (f, bd) = ctx.call("dedup.loadSignatures")(Dedup.loadSignatures(ctx.spark, table))
    fp = f; bands = bd; applied = 0
    Outcome(nBase, () => checkPass(rows), () => kept.unpersist())
  }

  private def checkPass(rows: Array[Row]): Boolean = {
    val cluster = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val members = cluster.groupBy(_._2).values.map(_.keys.toSeq)
    def pairs(k: Long): Long = k * (k - 1) / 2
    passPlanted += nTwins
    passFound += groupOf.groupBy(_._2).count { case (_, m) => m.keys.map(cluster).toSet.size == 1 }
    passReported += members.map(m => pairs(m.size.toLong)).sum
    passCorrect += members.map(m => m.flatMap(groupOf.get).groupBy(identity)
      .values.map(g => pairs(g.size.toLong)).sum).sum
    rows.length == nBase && cluster.size == nBase
  }

  private def ingest(b: Int)(ctx: Ctx): Outcome = {
    val all = batchesDf(ctx)
    val corpusNow = baseDf(ctx).unionByName(
      all.where(col("batch") < applied && !col("planted")).select(col("doc_id"), col("text")))
    val batchDf = all.where(col("batch") === b).select(col("doc_id"), col("text"))
    val (flags, rows) = ctx.call("dedup.incrementalDedupOnSignatures") {
      val f = Dedup.incrementalDedupOnSignatures(fp, bands, corpusNow, batchDf)
      (f, f.collect())
    }
    Outcome(batch, () => checkBatch(b, rows), () => flags.unpersist())
  }

  private def checkBatch(b: Int, rows: Array[Row]): Boolean = {
    val planted = batches(b).map { case (d, src) => d.id -> src }.toMap
    val structural = rows.length == batch && rows.map(_.getAs[Long]("doc_id")).toSet == planted.keySet &&
      rows.forall { r =>
        val dup = r.getAs[Boolean]("exact_dup") || r.getAs[Boolean]("near_dup")
        r.getAs[Boolean]("keep") == !dup &&
          (!r.getAs[Boolean]("near_dup") || r.getAs[Double]("best_jaccard") >= 0.7)
      }
    rows.foreach { r =>
      val flagged = r.getAs[Boolean]("exact_dup") || r.getAs[Boolean]("near_dup")
      val isPlanted = planted.get(r.getAs[Long]("doc_id")).exists(_.isDefined)
      if (isPlanted) batchPlanted += 1
      if (flagged) batchFlagged += 1
      if (flagged && isPlanted) batchFound += 1
    }
    structural
  }

  private def addSurvivors(b: Int)(ctx: Ctx): Outcome = {
    val survivors = batchesDf(ctx).where(col("batch") === b && !col("planted"))
      .select(col("doc_id"), col("text"))
    ctx.call("dedup.addSignatures")(Dedup.addSignatures(ctx.spark, survivors, table))
    val (f, bd) = ctx.call("dedup.loadSignatures")(Dedup.loadSignatures(ctx.spark, table))
    fp = f; bands = bd; applied = b + 1
    Outcome(batch - (batch + 2) / 3, () => true)
  }

  lazy val schedule: IndexedSeq[Op] =
    (0 until reads).flatMap(b => Seq(
      Op(Op.Read, "dedup.incrementalDedupOnSignatures", ingest(b)),
      Op(Op.Write, "dedup.addSignatures", addSurvivors(b))))

  def finish(ctx: Ctx): Unit =
    ctx.call("dedup.compactSignatures")(Dedup.compactSignatures(ctx.spark, table))

  def recall: Double = ratio(passFound + batchFound, passPlanted + batchPlanted)
  def precision: Double = ratio(passCorrect + batchFound, passReported + batchFlagged)
  def quality: Map[String, (Double, Double)] =
    Map("dup_recall" -> (recall, 0.6), "dup_precision" -> (precision, 0.9))

  def layerCounts(ctx: Ctx, t: Tracer): Map[String, Double] = {
    // candidate volume of the pass, from the public pair generator the
    // keep-best pass runs on, measured untraced after the loop
    t.setActive(false)
    val pairs = Dedup.minhashLshPairs(baseDf(ctx))
    val (cand, verified) = try {
      val r = pairs.agg(count(lit(1)), sum(when(col("jaccard") >= 0.7, 1).otherwise(0))).head()
      (r.getLong(0).toDouble, r.getLong(1).toDouble)
    } finally pairs.unpersist()
    t.setActive(true)
    val passes = t.spansNamed("dedup.nearDupKeepBest").size
    Map(
      "dedup.candidate_pairs" -> cand,
      "dedup.verified_ratio" -> ratio(verified, cand),
      // one checkpoint action per contraction round plus the initial edge set
      "dedup.cc_rounds" ->
        ratio(t.actionCount("dedup.nearDupKeepBest", "localCheckpoint") - passes, passes))
  }

  def describe: Map[String, Any] = Map("base_docs" -> nBase, "planted_pairs" -> nTwins,
    "tokens_per_doc" -> "80-240", "vocab" -> 20000, "batch_docs" -> batch,
    "batches" -> reads, "batch_planted_share" -> "1/3", "edit_rate" -> 0.05,
    "mix" -> "1 incrementalDedupOnSignatures : 1 addSignatures")
}

// -------------------------------------------------------------- text_search

/** Text search: a persisted BM25 index plus an IVF index over hashed
  * embeddings, queried in batches with each query's three rarest terms
  * of a planted target document (3 lexical : 1 hybrid), with documents
  * added every few reads and a compaction at the end.
  */
final class TextSearch(seed: Long, seconds: Int) extends Workload {
  val name = "text_search"
  private val n = 2000
  private val qBatch = 20
  private val addSize = 100
  private val writeEvery = 3
  private val reads = readCount(0.3, seconds)
  private val nCells = 16
  private val table = "perfbench_text"
  private val ivfTable = "perfbench_ivf"

  private var docs: Array[Doc] = _
  private var queries: Array[Array[(Long, Long, Seq[String])]] = _ // query id, target, terms
  private var adds: Array[Array[Doc]] = _
  private var centroidIds: Seq[Long] = _

  private var idx: SearchIndex.TextIndex = _
  private var cells, cents: DataFrame = _
  private var applied = 0
  private var found, asked = 0L

  private def nWrites = reads / writeEvery

  def generate(): Unit = {
    val ts = new TextSpace(20000, 80, 240)
    val r = new java.util.Random(seed * 17 + 11)
    val toks = Array.fill(n)(ts.tokens(r))
    docs = toks.zipWithIndex.map { case (t, i) => Doc(i.toLong, ts.render(t)) }
    val df = mutable.HashMap.empty[Int, Int].withDefaultValue(0)
    toks.foreach(_.distinct.foreach(t => df(t) += 1))
    queries = Array.tabulate(reads) { b =>
      Array.tabulate(qBatch) { i =>
        val target = r.nextInt(n)
        val terms = toks(target).distinct.sortBy(t => (df(t), -t)).take(3).map(ts.words(_)).toSeq
        (b * 1000L + i, target.toLong, terms)
      }
    }
    adds = Array.tabulate(nWrites)(j => Array.tabulate(addSize)(i =>
      Doc(n + j.toLong * addSize + i, ts.render(ts.tokens(r)))))
    centroidIds = scala.util.Random.javaRandomToRandom(r).shuffle((0L until n).toVector).take(nCells)
  }

  def stage(ctx: Ctx): Unit = {
    import ctx.spark.implicits._
    docs.map(d => (d.id, d.text)).toSeq.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"${ctx.dir}/$name/docs")
    queries.zipWithIndex.flatMap { case (qs, b) => qs.flatMap { case (q, _, ts) => ts.map(t => (q, t, b)) } }
      .toSeq.toDF("query_id", "token", "batch").write.mode("overwrite").parquet(s"${ctx.dir}/$name/queries")
    adds.zipWithIndex.flatMap { case (ds, j) => ds.map(d => (d.id, d.text, j)) }.toSeq
      .toDF("doc_id", "text", "batch").write.mode("overwrite").parquet(s"${ctx.dir}/$name/adds")
  }

  def build(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val corpus = spark.read.parquet(s"${ctx.dir}/$name/docs")
    ctx.call("text.SearchIndex.save")(SearchIndex.save(corpus, table))
    ctx.call("text.hashEmbedVectors") {
      TextAnalysis.hashEmbedVectors(corpus)
        .select(col("doc_id").as("vec_id"), col("embedding"))
        .write.mode("overwrite").parquet(s"${ctx.dir}/$name/vectors")
    }
    val vecs = spark.read.parquet(s"${ctx.dir}/$name/vectors")
    ctx.call("ann.Ivf.saveIndex") {
      graft.ann.Ivf.saveIndex(vecs, vecs.where(col("vec_id").isin(centroidIds: _*)), ivfTable)
    }
    idx = ctx.call("text.SearchIndex.load")(SearchIndex.load(spark, table))
    val (c, ce) = ctx.call("ann.Ivf.loadIndex")(graft.ann.Ivf.loadIndex(spark, ivfTable))
    cells = c; cents = ce; applied = 0
    Outcome(n, () => true)
  }

  private def queryDf(ctx: Ctx, b: Int): DataFrame =
    ctx.spark.read.parquet(s"${ctx.dir}/$name/queries").where(col("batch") === b)
      .select(col("query_id"), col("token"))

  private def check(b: Int, rows: Array[Row], score: String): Boolean = {
    val byQ = ranked(rows, "query_id", "rn")
    val maxId = n + applied.toLong * addSize
    queries(b).foreach { case (q, target, _) =>
      asked += 1
      if (byQ.getOrElse(q, Nil).exists(_.getAs[Long]("doc_id") == target)) found += 1
    }
    byQ.forall { case (_, rs) =>
      wellRanked(rs, "rn", _.getAs[Double](score), 10) &&
        rs.forall(r => r.getAs[Long]("doc_id") >= 0 && r.getAs[Long]("doc_id") < maxId)
    }
  }

  private def lexical(b: Int)(ctx: Ctx): Outcome = {
    val rows = ctx.call("text.SearchIndex.searchTopKBatch") {
      SearchIndex.searchTopKBatch(idx, queryDf(ctx, b), k = 10).collect()
    }
    Outcome(qBatch, () => check(b, rows, "score"))
  }

  private def hybrid(b: Int)(ctx: Ctx): Outcome = {
    val (out, rows) = ctx.call("text.hybridSearchBatchOnIndexes") {
      val o = TextAnalysis.hybridSearchBatchOnIndexes(idx, cells, cents, queryDf(ctx, b), k = 10)
      (o, o.collect())
    }
    Outcome(qBatch, () => check(b, rows, "rrf_score"), () => out.unpersist())
  }

  private def add(j: Int)(ctx: Ctx): Outcome = {
    val batch = ctx.spark.read.parquet(s"${ctx.dir}/$name/adds").where(col("batch") === j)
      .select(col("doc_id"), col("text"))
    ctx.call("text.SearchIndex.add")(SearchIndex.add(batch, table))
    idx = ctx.call("text.SearchIndex.load")(SearchIndex.load(ctx.spark, table))
    applied = j + 1
    Outcome(addSize, () => idx.nDocs == n + applied.toLong * addSize)
  }

  lazy val schedule: IndexedSeq[Op] = (0 until reads).flatMap { b =>
    val read =
      if (b % 4 == 3) Op(Op.Read, "text.hybridSearchBatchOnIndexes", hybrid(b))
      else Op(Op.Read, "text.SearchIndex.searchTopKBatch", lexical(b))
    if (b % writeEvery == writeEvery - 1 && b / writeEvery < nWrites)
      Seq(read, Op(Op.Write, "text.SearchIndex.add", add(b / writeEvery)))
    else Seq(read)
  }

  def finish(ctx: Ctx): Unit = {
    ctx.call("text.SearchIndex.compact")(SearchIndex.compact(ctx.spark, table))
    val rows = ctx.spark.table(s"${table}_doclen").count()
    require(rows == n + applied.toLong * addSize, s"compacted doclen table holds $rows rows")
  }

  def quality: Map[String, (Double, Double)] =
    Map("text_recall_at_10" -> (ratio(found, asked), 0.9))

  def layerCounts(ctx: Ctx, t: Tracer): Map[String, Double] = Map(
    "text.postings_per_query" -> ratio(t.planCount("text.SearchIndex.searchTopKBatch", "generate"),
      t.spansNamed("text.SearchIndex.searchTopKBatch").size.toDouble * qBatch))

  def describe: Map[String, Any] = Map("docs" -> n, "tokens_per_doc" -> "80-240", "vocab" -> 20000,
    "query_batch" -> qBatch, "terms_per_query" -> 3, "reads" -> reads,
    "mix" -> "3 searchTopKBatch(k=10) : 1 hybridSearchBatchOnIndexes(k=10)",
    "writes" -> nWrites, "add_docs" -> addSize, "ivf_cells" -> nCells)
}

// ------------------------------------------------------------- media_triage

/** Media triage: a mixed blob corpus from the library's 17 container
  * synth encoders plus a raw-text lane, triaged repeatedly.
  */
final class MediaTriage(seed: Long, seconds: Int) extends Workload {
  val name = "media_triage"
  private val n = 2300
  private val reads = readCount(0.1, seconds)

  /** Lane `k` (1-17) of `doc_id % 23` carries this family; the rest is text. */
  val Families: Seq[String] = Seq("wav", "png", "jpeg", "bmp", "webp", "tiff", "mp3", "flac",
    "ogg", "mkv", "avro", "parquet", "orc", "gzip", "zstd", "ico", "heif")
  private val synths: Seq[DataFrame => DataFrame] = Seq(
    Binary.Wav.synthFromDocs(_), Binary.Png.synthFromDocs(_), Binary.Jpeg.synthFromDocs(_),
    Binary.Bmp.synthFromDocs(_), Binary.Webp.synthFromDocs(_), Binary.Tiff.synthFromDocs(_),
    Binary.Mp3.synthFromDocs(_), Binary.Flac.synthFromDocs(_), Binary.Ogg.synthFromDocs(_),
    Binary.Mkv.synthFromDocs(_), Binary.Avro.synthFromDocs(_), Binary.Parquet.synthFromDocs(_),
    Binary.Orc.synthFromDocs(_), Binary.Gz.synthFromDocs(_), Binary.Zstd.synthFromDocs(_),
    Binary.Ico.synthFromDocs(_), Binary.Heif.synthFromDocs(_))

  private var docs: Array[Doc] = _
  private var right, seen = 0L

  def generate(): Unit = {
    val ts = new TextSpace(20000, 20, 120)
    val r = new java.util.Random(seed * 7 + 5)
    docs = Array.tabulate(n)(i => Doc(i.toLong, ts.render(ts.tokens(r))))
  }

  def stage(ctx: Ctx): Unit = {
    import ctx.spark.implicits._
    docs.map(d => (d.id, d.text)).toSeq.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"${ctx.dir}/$name/blob_docs")
  }

  /** The blob corpus: each family lane through its synth encoder. */
  def build(ctx: Ctx): Outcome = {
    val src = ctx.spark.read.parquet(s"${ctx.dir}/$name/blob_docs")
    val d = col("doc_id")
    val lanes = synths.zipWithIndex.map { case (synth, k) =>
      synth(src.where(d % 23 === k + 1)).select(d, col("payload"))
    }
    val text = src.where(d % 23 === 0 || d % 23 >= 18).select(d, col("text").cast("binary").as("payload"))
    ctx.call("multimodal.synthFromDocs") {
      (lanes :+ text).reduce(_.unionAll(_)).repartition(ctx.cores)
        .write.mode("overwrite").parquet(s"${ctx.dir}/$name/blobs")
    }
    Outcome(n, () => true)
  }

  /** Expected triage verdict for a blob: its family lane's container,
    * valid unless the encoder left it as raw text (every tenth id); raw
    * text is never a valid container.
    */
  private def expected(id: Long): (Option[String], Boolean) = {
    val lane = (id % 23).toInt
    if (lane >= 1 && lane <= Families.size && id % 10 != 0) (Some(Families(lane - 1)), true)
    else (None, false)
  }

  private def triage(ctx: Ctx): Outcome = {
    val rows = ctx.call("multimodal.Binary.triage") {
      Binary.triage(ctx.spark.read.parquet(s"${ctx.dir}/$name/blobs")).collect()
    }
    Outcome(rows.length, () => {
      rows.foreach { r =>
        val (fam, valid) = expected(r.getAs[Long]("doc_id"))
        if (r.getAs[Boolean]("valid") == valid && fam.forall(_ == r.getAs[String]("detected"))) right += 1
      }
      seen += n
      rows.length == n && rows.map(_.getAs[Long]("doc_id")).distinct.length == n
    })
  }

  lazy val schedule: IndexedSeq[Op] =
    IndexedSeq.fill(reads)(Op(Op.Read, "multimodal.Binary.triage", triage))

  def finish(ctx: Ctx): Unit = ()

  def quality: Map[String, (Double, Double)] =
    Map("triage_accuracy" -> (ratio(right, seen), 0.99))

  def layerCounts(ctx: Ctx, t: Tracer): Map[String, Double] = {
    val m = t.spanMetrics("multimodal.Binary.triage")
    Map("multimodal.construct_share" -> ratio(m("driver_s"), m("wall_s")))
  }

  def describe: Map[String, Any] = Map("blobs" -> n, "families" -> Families.size,
    "lanes" -> "doc_id % 23: 1-17 families, rest raw text", "reads" -> reads,
    "mix" -> "1 Binary.triage per read")
}
