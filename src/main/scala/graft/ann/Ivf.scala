package graft.ann

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftFunctions.{cosine_sim, top_k_by_score}

/** IVF-style ANN: partition the corpus into cells around centroids,
  * probe only the nProbe cells nearest to each query, rerank probed
  * candidates by exact cosine.
  *
  * Centroid selection here is deterministic (caller-provided centroid
  * table — e.g. a fixed id prefix or k-means output); cell assignment
  * is a broadcast argmax over centroids reduced MAP-SIDE by partial
  * aggregation — the corpus × nCells scored rows never enter a
  * shuffle; only one (vec_id, cell) row per vector per map partition
  * does. At 100 TB the assignment pass is embarrassingly parallel and
  * only nProbe/nCells of the vectors survive the probe join into the
  * cosine rerank — the classic IVF pruning win (the scan under the
  * join still reads every cell).
  */
object Ivf {

  /** Assign each vector to its nearest centroid: (vec_id, cell).
    *
    * The argmax is a `max(struct(c_sim, -c_id, c_id))` partial
    * aggregation (tie-break: highest similarity, then smallest
    * centroid id) — NOT a rank window, which would shuffle all
    * corpus × nCells scored rows to sort-and-discard them. The
    * centroid side is O(nCells) by construction, but the guard
    * protects against a corpus-sized table passed as centroids.
    */
  def assign(corpus: DataFrame, centroids: DataFrame,
      broadcastCentroids: Option[Boolean] = None): DataFrame = {
    val c = centroids.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
    corpus.crossJoin(graft.ops.Broadcasting.maybeBroadcast(c, broadcastCentroids))
      .select(col("vec_id"), col("c_id"),
        cosine_sim(col("embedding"), col("c_emb")).as("c_sim"))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("c_sim"), (-col("c_id")).as("neg_id"), col("c_id"))).as("m"))
      .select(col("vec_id"), col("m.c_id").as("cell"))
  }

  /** Multi-probe assignment: each vector's top-`nProbe` cells, ranked
    * (probe_rank 1 = the [[assign]] argmax cell; ties → smaller
    * centroid id, matching [[assign]] exactly). Same map-side
    * [[graft.expressions.TopKByScore]] shape as the single-cell argmax
    * — the corpus × nCells scored rows still never enter a shuffle;
    * the output is nProbe rows per vector. The standard recall lever
    * for cell-confined algorithms ([[graft.ann.Knn.semanticDedup]]):
    * near-neighbors split by a cell boundary still co-occur in some
    * probed cell.
    */
  def assignProbes(corpus: DataFrame, centroids: DataFrame, nProbe: Int,
      broadcastCentroids: Option[Boolean] = None): DataFrame = {
    val c = centroids.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
    corpus.crossJoin(graft.ops.Broadcasting.maybeBroadcast(c, broadcastCentroids))
      .select(col("vec_id"), col("c_id"),
        cosine_sim(col("embedding"), col("c_emb")).as("c_sim"))
      .groupBy(col("vec_id"))
      .agg(top_k_by_score(col("c_sim"), col("c_id"), nProbe).as("top"))
      .select(col("vec_id"), posexplode(col("top.id")).as(Seq("pos", "cell")))
      .select(col("vec_id"), (col("pos") + 1).as("probe_rank"), col("cell"))
  }

  /** Probe-and-rerank top-k: (q_id, rn, cand_id, sim).
    *
    * Both the probe selection (top-nProbe cells per query) and the
    * final rerank (top-k candidates per query) go through the bounded
    * [[graft.expressions.TopKByScore]] aggregate — map-side partials,
    * k rows per group per partition into the shuffle, same
    * (score desc, id asc) order a rank window would give.
    * `broadcastQueries` guards the rerank's query-vector join the same
    * way as [[graft.ann.Knn.cosineTopK]] — corpus-as-queries falls back
    * to a shuffle join.
    */
  def probeTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      nProbe: Int, k: Int, broadcastQueries: Option[Boolean] = None): DataFrame =
    probeTopKOnIndex(
      assign(corpus, centroids)
        .join(corpus.select(col("vec_id"), col("embedding")), Seq("vec_id")),
      centroids, queries, nProbe, k, broadcastQueries)

  /** [[probeTopK]] against a prebuilt (e.g. [[loadIndex]]ed) cell
    * table `(vec_id, cell, embedding)` — the serving path for an IVF
    * index at rest. A broadcast batch (`broadcastQueries`, or a batch
    * that fits the broadcast threshold) broadcasts its probes and
    * streams the cell table by file splits; a shuffled batch reads the
    * bucketed-by-cell table bucket-local (no index-side exchange
    * post-load, spec-asserted). Either way the scan reads every cell's
    * rows and the probe join keeps the probed cells' ones; the
    * candidate embeddings ride OUT OF THE INDEX itself — no separate
    * corpus fetch join at serving time.
    */
  def probeTopKOnIndex(cells: DataFrame, centroids: DataFrame,
      queries: DataFrame, nProbe: Int, k: Int,
      broadcastQueries: Option[Boolean] = None): DataFrame =
    graft.ops.TopK.rankByScore(
      probeCandidateSims(cells, centroids, queries, nProbe, broadcastQueries), k)

  /** The probed-candidate cosine stream `(q_id, cand_id, sim)` BEFORE
    * any ranking — the raw material every cell-confined consumer
    * ranks or filters its own way ([[probeTopKOnIndex]] ranks it;
    * [[hardNegatives]] thresholds it first). Extracted so a filter
    * can run before the bounded top-k rather than after it.
    */
  def probeCandidateSims(cells: DataFrame, centroids: DataFrame,
      queries: DataFrame, nProbe: Int,
      broadcastQueries: Option[Boolean] = None): DataFrame = {
    val c = centroids.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    // one decision for the whole batch side: a batch that broadcasts
    // its vectors broadcasts its probes (nProbe (q_id, cell) rows per
    // query, smaller than the vectors beside them) and streams the
    // cells by file splits; a shuffled batch meets the cells
    // bucket-local (the read rule on graft.ops.Compaction)
    val bc = broadcastQueries.getOrElse(graft.ops.Broadcasting.fitsBroadcast(q))
    val probes0 = q
      .crossJoin(graft.ops.Broadcasting.maybeBroadcast(c))
      .select(col("q_id"), col("c_id"),
        cosine_sim(col("q_emb"), col("c_emb")).as("c_sim"))
      .groupBy(col("q_id"))
      .agg(top_k_by_score(col("c_sim"), col("c_id"), nProbe).as("top"))
      .select(col("q_id"), explode(col("top.id")).as("cell"))
    val (probes, index) =
      if (bc) (broadcast(probes0), graft.ops.Compaction.streamed(cells)) else (probes0, cells)
    // an [[assign]]-built cell table holds one cell per vector, making
    // (q_id, cand_id) pairs unique — but this is a PUBLIC serving API
    // over any loaded table, and an [[assignProbes]]-built table (the
    // documented recall lever) legitimately repeats vectors across
    // cells. Deduplicate defensively: duplicate candidate rows would
    // otherwise fill multiple ranks of the top-k with the same id. The
    // pick is `min(cand_emb)` rather than dropDuplicates' arbitrary
    // row, so serving stays REPRODUCIBLE even over a malformed index
    // whose duplicate (vec_id, cell) rows disagree on the embedding
    // (on a well-formed index the rows are bit-identical and min is
    // the identity). Same shuffle shape, still partial-aggregated,
    // bounded by the probe selectivity.
    val cand = probes
      .join(index.select(col("cell"), col("vec_id"),
        col("embedding").as("cand_emb")), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"), col("cand_emb"))
      .groupBy(col("q_id"), col("cand_id"))
      .agg(min(col("cand_emb")).as("cand_emb"))
    cand
      .join(graft.ops.Broadcasting.maybeBroadcast(q, Some(bc)), Seq("q_id"))
      .select(col("q_id"), col("cand_id"),
        cosine_sim(col("q_emb"), col("cand_emb")).as("sim"))
  }

  /** Hard-negative mining for contrastive training pairs: per query,
    * the `k` most similar candidates BELOW the near-duplicate
    * threshold — the most-confusable non-duplicates, exactly the
    * boundary samples a contrastive trainer wants next to its
    * positives. Cell-confined like every serving flow (probed cells
    * only — at 100 TB the miner never scores the whole corpus per
    * query), and the threshold filter runs BEFORE the bounded top-k,
    * so a query drowning in exact/near duplicates still surfaces its
    * true hard negative instead of k copies of itself.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame,
      centroids: DataFrame, nProbe: Int, k: Int = 1,
      dupThreshold: Double = 0.95,
      broadcastQueries: Option[Boolean] = None): DataFrame = {
    val cells = assign(corpus, centroids)
      .join(corpus.select(col("vec_id"), col("embedding")), Seq("vec_id"))
    graft.ops.TopK.rankByScore(
      probeCandidateSims(cells, centroids, queries, nProbe, broadcastQueries)
        .filter(col("sim") < dupThreshold), k)
  }

  /** Persist the IVF index at rest — the cells-and-centroids twin of
    * [[graft.lsh.LshIndex.saveBucketed]] / [[graft.text.SearchIndex]]:
    * the assigned corpus `(vec_id, cell, embedding)` as a catalog table
    * bucketed + sorted by cell (a shuffled probe join reads it
    * exchange-free; a broadcast one streams it — [[probeTopKOnIndex]]),
    * the centroid table as
    * a `<table>_centroids` sibling. `nBuckets` should keep one cell
    * bucket within an executor core's working memory at target scale.
    *
    * `metaCols` rides metadata (labels, source, language) INTO the
    * index rows — the filtered-search enabler: a serving-time
    * `cells.filter(pred)` before [[probeTopKOnIndex]] then reaches the
    * parquet scan as a pushed filter (row-group pruning at rest), so
    * "top-k among documents WHERE …" never rereads or rejoins the
    * corpus. Assignment is per-vector, so filtering candidates at
    * serving is exactly equivalent to filtering the corpus before
    * indexing — but one index serves every predicate.
    */
  def saveIndex(corpus: DataFrame, centroids: DataFrame, table: String,
      nBuckets: Int = 32, path: Option[String] = None,
      metaCols: Seq[String] = Nil): Unit = {
    val cells = assign(corpus, centroids)
      .join(corpus.select((Seq("vec_id", "embedding") ++ metaCols).map(col): _*),
        Seq("vec_id"))
    graft.ops.Concurrency.all(
      () => graft.ops.Compaction.saveBucketed(cells, table, nBuckets, path, "cell"),
      () => graft.ops.Compaction.saveTable(centroids.select(col("vec_id"), col("embedding")),
        s"${table}_centroids", path.map(loc => s"${loc}_centroids")))
  }

  /** Restore (cells, centroids) from a [[saveIndex]] table pair. */
  def loadIndex(spark: org.apache.spark.sql.SparkSession,
      table: String): (DataFrame, DataFrame) =
    (spark.table(table), spark.table(s"${table}_centroids"))

  /** Append new vectors to a [[saveIndex]]ed table — the reference's
    * incremental ingest lifecycle (`LshIndex.add`'s IVF twin): assign
    * the additions against the PERSISTED centroids and write them
    * bucket-aligned into the existing table (the bucket count is read
    * from the catalog so the append cannot silently break the
    * bucketing that makes probes exchange-free). Assignment is
    * per-vector, so the appended index ≡ a full rebuild over
    * corpus ∪ additions (spec-asserted) — at 100 TB the add touches
    * only the new rows, never rewrites the index. `metaCols` must
    * match the saved layout (schema-checked by the append).
    */
  def addToIndex(spark: org.apache.spark.sql.SparkSession,
      additions: DataFrame, table: String,
      metaCols: Seq[String] = Nil): Unit = {
    graft.ops.Compaction.appendBucketed(spark, table) {
      val (_, cents) = loadIndex(spark, table)
      assign(additions, cents)
        .join(additions.select((Seq("vec_id", "embedding") ++ metaCols).map(col): _*),
          Seq("vec_id"))
    }
  }

  /** Compact a [[saveIndex]]ed table after repeated [[addToIndex]]
    * appends — the close of the at-rest lifecycle (build → serve →
    * add → compact; reference maintenance analogue:
    * `storage/redis.py:419,590`). One bucketed rewrite through
    * [[graft.ops.Compaction.rewriteBucketed]] returns every bucket to
    * a single file; bucket spec and metadata survive, so probes stay
    * exchange-free.
    *
    * `refreshedCentroids` additionally reassigns every vector against
    * a NEW coarse quantizer on the way through — the drift repair for
    * an index whose data distribution moved away from its original
    * centroids (appends assign against the frozen quantizer by
    * design). The index stores full embeddings, so reassignment needs
    * no other input; the centroids sibling table is rewritten to
    * match through [[graft.ops.Compaction.rewriteTable]] — staged,
    * then renamed, so a failure midway never leaves the index without
    * a quantizer. The refreshed frame is materialized BEFORE the old tables
    * are touched, so it may safely derive from the index itself
    * (e.g. k-means over the indexed embeddings).
    */
  def compactIndex(spark: org.apache.spark.sql.SparkSession, table: String,
      refreshedCentroids: Option[DataFrame] = None): Unit = {
    // Sever the refreshed frame's lineage COMPLETELY before touching
    // the old tables: centroids are nCells rows — driver-bounded by
    // the same contract that lets `assign` broadcast them — so a
    // collect into a local relation is cheap and, unlike cache(),
    // survives the DROP TABLE inside the rewrite (dropping a table
    // cascades cache invalidation to every plan that references it,
    // which would silently recompute from the deleted file set).
    val local = refreshedCentroids.map { c0 =>
      val pruned = c0.select(col("vec_id"), col("embedding"))
      spark.createDataFrame(
        java.util.Arrays.asList(pruned.collect(): _*), pruned.schema)
    }
    graft.ops.Compaction.rewriteBucketed(spark, table, cells => local match {
      case None => cells
      case Some(c) =>
        val corpus = cells.drop("cell")
        assign(corpus, c).join(corpus, Seq("vec_id"))
          .select(cells.columns.map(col): _*)
    })
    local.foreach(c =>
      graft.ops.Compaction.rewriteTable(spark, s"${table}_centroids", _ => c))
  }
}
