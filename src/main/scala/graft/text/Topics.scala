package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftFunctions.{hex64, top_k_by_score}

/** Corpus topic discovery — cluster documents in hash-embedding space
  * and label each cluster with its most over-represented terms
  * (c-TF-IDF, the BERTopic recipe): the corpus-cartography pass a
  * training-data pipeline runs to know WHAT is in 100 TB before
  * deciding mixing weights or pruning quotas.
  *
  * Everything is integer arithmetic until two final divisions (sparse
  * cosine numerators are exact int64 sums; the term score is one
  * integer ratio), so the whole output is DuckDB-hash-exact — a topic
  * model with an oracle.
  *
  * Scale shape: the sparse doc×centroid cosine reuses the
  * [[TextAnalysis.hashEmbedTopK]] join (centroid side is O(nCentroids)
  * and BROADCAST; the dim-join fan-out is |corpus|·overlap/d);
  * assignment is the `max(struct)` map-side argmax; both count tables
  * are map-side-partial groupBys; per-cluster term ranking is a
  * bounded [[graft.expressions.TopKByScore]] aggregate over the
  * (clusters × vocab) count table with the ≤ nClusters·topTerms
  * winners joined back — no window over the vocabulary.
  */
object Topics {

  /** (cluster, term_rank, token, cluster_count, corpus_count, score):
    * the `topTerms` highest-scoring tokens per cluster, where
    * `score = cluster_count / corpus_count` (the share of a token's
    * corpus mass captured by the cluster — c-TF-IDF's
    * class-vs-corpus contrast in its integer-exact form). Centroids
    * are the hash-embeddings of the first `nCentroids` doc ids (the
    * `ann_ivf` deterministic-seed convention); docs sharing no
    * embedding dimension with any centroid are unassigned and drop
    * out. Tie-break inside a cluster: token hash ascending (mirrored
    * in the oracle).
    */
  def topics(docs: DataFrame, nCentroids: Int = 8, topTerms: Int = 5,
      d: Int = 64): DataFrame = {
    val w = TextAnalysis.hashEmbedSparse(docs, d)
    val norms = w.groupBy(col("doc_id")).agg(sum(col("w") * col("w")).as("s2"))
    val cw = w.filter(col("doc_id") < nCentroids)
      .select(col("doc_id").as("c_id"), col("dim"), col("w").as("cw"))
    val num = w.join(broadcast(cw), Seq("dim"))
      .groupBy(col("doc_id"), col("c_id"))
      .agg(sum(col("w") * col("cw")).as("num"))
    val asg = num
      .join(norms.as("nd"), Seq("doc_id"))
      .join(broadcast(norms.as("nc")).withColumnRenamed("doc_id", "c_id")
        .withColumnRenamed("s2", "c_s2"), Seq("c_id"))
      .select(col("doc_id"), col("c_id"),
        (col("num") / (sqrt(col("s2")) * sqrt(col("c_s2")))).as("sim"))
      .groupBy(col("doc_id"))
      .agg(max(struct(col("sim"), (-col("c_id")).as("neg"), col("c_id"))).as("m"))
      .select(col("doc_id"), col("m.c_id").as("cluster"))
    val toks = TextAnalysis.withToks(docs)
      .select(col("doc_id"), explode(col("toks")).as("t"))
    val corpusCnt = toks.groupBy(col("t")).agg(count(lit(1)).as("corpus_count"))
    val clusterCnt = toks.join(asg, Seq("doc_id"))
      .groupBy(col("cluster"), col("t")).agg(count(lit(1)).as("cluster_count"))
    val scored = clusterCnt.join(corpusCnt, Seq("t"))
      .select(col("cluster"), col("t"), col("cluster_count"), col("corpus_count"),
        (col("cluster_count").cast("double") / col("corpus_count").cast("double"))
          .as("score"), hex64(concat(lit("tp|"), col("t"))).as("th"))
    val top = scored.groupBy(col("cluster"))
      .agg(top_k_by_score(col("score"), col("th"), topTerms).as("topk"))
      .select(col("cluster"), posexplode(col("topk.id")).as(Seq("pos", "th")))
      .select(col("cluster"), (col("pos") + 1).cast("long").as("term_rank"), col("th"))
    scored.join(broadcast(top), Seq("cluster", "th"))
      .select(col("cluster"), col("term_rank"), col("t").as("token"),
        col("cluster_count"), col("corpus_count"), col("score"))
      .orderBy(col("cluster"), col("term_rank"))
  }

  /** Persist the topic model at rest: the centroids' sparse
    * hash-embedding rows (c_id, dim, w) — O(nCentroids · d), tiny by
    * the same contract that lets assignment broadcast them — plus the
    * c-TF-IDF label table as a `_terms` sibling, params in
    * TBLPROPERTIES. Fit the map once on a reference crawl, then
    * [[assignOnTopics]] tags every future corpus against the SAME
    * cluster space — the piece that makes topic ids comparable across
    * ingests (a refit would renumber and redraw the clusters).
    */
  def saveTopics(docs: DataFrame, table: String, nCentroids: Int = 8,
      topTerms: Int = 5, d: Int = 64, path: Option[String] = None): Unit = {
    val cw = TextAnalysis.hashEmbedSparse(docs, d)
      .filter(col("doc_id") < nCentroids)
      .select(col("doc_id").as("c_id"), col("dim"), col("w"))
    // terms first: the centroid table's property marks a complete save
    graft.ops.Compaction.saveTable(topics(docs, nCentroids, topTerms, d).coalesce(1),
      s"${table}_terms", path.map(loc => s"$loc/terms"))
    graft.ops.Compaction.saveTable(cw.coalesce(1), table, path.map(loc => s"$loc/centroids"),
      "graft.topics.params" -> s"""{"nCentroids":$nCentroids,"topTerms":$topTerms,"d":$d}""")
  }

  /** Assign a corpus to the PERSISTED cluster space: sparse cosine of
    * each doc's hash-embedding against the loaded centroid rows
    * (broadcast — they are nCentroids·d rows at most), map-side
    * `max(struct)` argmax, output (doc_id, cluster, sim). Docs
    * sharing no dimension with any centroid drop out (same contract
    * as [[topics]]). Integer numerators + one IEEE division keep the
    * assignment — and the winning sim — oracle-hash-exact.
    */
  def assignOnTopics(docs: DataFrame, table: String): DataFrame = {
    val spark = docs.sparkSession
    val json = graft.ops.TableProps.get(spark, table, "graft.topics.params")
    val d = graft.ops.TableProps.longField(json, "d").toInt
    val cw = spark.table(table)
      .select(col("c_id"), col("dim"), col("w").as("cw"))
    val cNorms = cw.groupBy(col("c_id")).agg(sum(col("cw") * col("cw")).as("c_s2"))
    val w = TextAnalysis.hashEmbedSparse(docs, d)
    val norms = w.groupBy(col("doc_id")).agg(sum(col("w") * col("w")).as("s2"))
    w.join(broadcast(cw), Seq("dim"))
      .groupBy(col("doc_id"), col("c_id"))
      .agg(sum(col("w") * col("cw")).as("num"))
      .join(norms, Seq("doc_id"))
      .join(broadcast(cNorms), Seq("c_id"))
      .select(col("doc_id"), col("c_id"),
        (col("num") / (sqrt(col("s2")) * sqrt(col("c_s2")))).as("sim"))
      .groupBy(col("doc_id"))
      .agg(max(struct(col("sim"), (-col("c_id")).as("neg"), col("c_id"))).as("m"))
      .select(col("doc_id"), col("m.c_id").as("cluster"), col("m.sim").as("sim"))
  }
}
