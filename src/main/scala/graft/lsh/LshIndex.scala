package graft.lsh

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GraftFunctions.cosine_sim
import graft.config.LshConfig
import graft.expressions.LshBandSignatures

/** LSH parameters (reference: lshrs/core/main.py:154 LSHRS.__init__ —
  * bands/rows auto-configured from numPerm + target threshold when not
  * pinned; bands × rows must equal numPerm).
  */
case class LshParams(
    dim: Int,
    numPerm: Int = 128,
    numBands: Option[Int] = None,
    rowsPerBand: Option[Int] = None,
    similarityThreshold: Double = 0.5,
    seed: Long = 42L) {
  require(dim > 0, "Vector dimensionality must be greater than zero")
  require(numPerm > 0, "num_perm must be greater than zero")
  val (b, r): (Int, Int) = (numBands, rowsPerBand) match {
    case (Some(bb), Some(rr)) =>
      require(bb * rr == numPerm, s"numBands*rowsPerBand must equal numPerm ($bb*$rr != $numPerm)")
      (bb, rr)
    case _ => LshConfig.optimalConfig(numPerm, similarityThreshold)
  }
  /** r > 64 signatures pack into bytes (the reference's arbitrary-width
    * layout) instead of one long per band — see [[LshIndex.build]].
    */
  def wide: Boolean = r > 64
}

/** Spark-native re-expression of the reference's LSH engine
  * (lshrs/core/main.py LSHRS + lshrs/storage/redis.py RedisStorage).
  *
  * The Redis bucket store becomes an inverted-index DataFrame
  * `(band, sig, vec_id)`. Online single-vector ops become set-oriented
  * batch ops:
  *  - ingest/index → [[build]] (one explode, no shuffle until joined)
  *  - bucket lookup + collision counting → hash join on (band, sig) +
  *    groupBy count ([[topK]])
  *  - cosine rerank of candidates → [[topPRerank]] (exact cosine via
  *    the codegen expression, reference's utils/similarity.py rerank)
  *  - delete/clear → anti-join rebuild ([[delete]]); persistence →
  *    parquet + JSON params sidecar ([[save]]/[[load]]).
  *
  * Scale: the index is bucketed by (band, sig) when persisted; query
  * batches are broadcast against it as a file-split scan (typical
  * serving case) while
  * corpus-×-corpus candidate generation shuffles both sides on
  * (band, sig) with AQE skew handling. Hot buckets (the reference's
  * "monitor bucket sizes" guidance, README §Performance) can be capped
  * via `maxBucketSize` in [[candidatePairs]].
  */
object LshIndex {

  def signatureCol(emb: Column, p: LshParams): Column =
    if (p.wide)
      GraftColumnBridge.column(graft.expressions.LshBandSignaturesWide(
        GraftColumnBridge.expression(emb), p.b, p.r, p.dim, p.seed))
    else
      GraftColumnBridge.column(
        LshBandSignatures(GraftColumnBridge.expression(emb), p.b, p.r, p.dim, p.seed))

  /** (vec_id, sigs) — one signature per band: `array<long>` for
    * r ≤ 64, `array<binary>` (little-endian packed, ceil(r/8) bytes —
    * the reference's `_project_and_pack` layout) for wide configs.
    */
  def signatures(emb: DataFrame, p: LshParams): DataFrame =
    emb.select(col("vec_id"), signatureCol(col("embedding"), p).as("sigs"))

  /** Inverted index: (vec_id, band, sig). `sig` is a long for r ≤ 64;
    * wide configs carry the packed bytes hex-encoded as a string (same
    * equi-join/groupBy serving shapes, engine-portable bucket keys) —
    * every downstream operator here is agnostic to which.
    */
  def build(emb: DataFrame, p: LshParams): DataFrame = {
    val exploded = signatures(emb, p)
      .select(col("vec_id"), posexplode(col("sigs")).as(Seq("band", "sig")))
    if (p.wide) exploded.select(col("vec_id"), col("band"), hex(col("sig")).as("sig"))
    else exploded
  }

  /** Bucket-size histogram: (bucket_size, n_buckets) — the operational
    * monitoring surface (oversized buckets = low selectivity).
    */
  def bucketStats(index: DataFrame): DataFrame =
    index.groupBy(col("band"), col("sig")).agg(count(lit(1)).as("bucket_size"))
      .groupBy(col("bucket_size")).agg(count(lit(1)).as("n_buckets"))
      .orderBy(col("bucket_size"))

  /** Members of one bucket (reference: storage/redis.py:187 bucket_key /
    * :282 get_bucket — the single-bucket inspection surface). A filter
    * on the inverted index; on a [[saveBucketed]] table this prunes to
    * one file bucket.
    */
  def getBucket(index: DataFrame, band: Int, sig: Long): DataFrame = {
    // A wide (r > 64) index stores sigs hex-encoded as strings; a Long
    // probe against it would cast the string column to bigint → null →
    // a silently empty bucket. Fail fast instead of lying.
    require(
      index.schema("sig").dataType ==
        org.apache.spark.sql.types.LongType,
      "getBucket(sig: Long) probed a wide index whose sig column is " +
        s"${index.schema("sig").dataType.simpleString}; use the " +
        "getBucket(band, sig: String) overload with the hex signature")
    index.filter(col("band") === band && col("sig") === sig)
      .select(col("vec_id")).orderBy(col("vec_id"))
  }

  /** [[getBucket]] for wide (r > 64) indexes whose bucket keys are the
    * hex-encoded packed signature bytes.
    */
  def getBucket(index: DataFrame, band: Int, sig: String): DataFrame = {
    require(
      index.schema("sig").dataType ==
        org.apache.spark.sql.types.StringType,
      "getBucket(sig: String) probed a narrow index whose sig column " +
        s"is ${index.schema("sig").dataType.simpleString}; use the " +
        "getBucket(band, sig: Long) overload")
    index.filter(col("band") === band && col("sig") === sig)
      .select(col("vec_id")).orderBy(col("vec_id"))
  }

  /** Candidate pairs sharing ≥1 bucket, with collision count.
    * Buckets larger than maxBucketSize are dropped (skew guard — at
    * 100 TB a degenerate bucket would otherwise produce a quadratic
    * join blow-up; the reference warns the same way about bucket
    * monitoring).
    */
  def candidatePairs(index: DataFrame, maxBucketSize: Int = 10000): DataFrame = {
    // bucket sizing via groupBy + semi-join, NOT a count-over-window:
    // the window form sorts every index row within its (band, sig)
    // partition just to attach a count, where the aggregate reduces
    // map-side (partial_count) and the semi-join co-locates with the
    // pair join's own (band, sig) shuffle — on a bucketed-at-rest index
    // both sides serve exchange-free (window-free plan-asserted)
    val undersized = index.groupBy(col("band"), col("sig"))
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") <= maxBucketSize)
      .select(col("band"), col("sig"))
    val sized = index.join(undersized, Seq("band", "sig"), "left_semi")
      .select(col("vec_id"), col("band"), col("sig"))
    sized.as("x").join(sized.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.vec_id") < col("y.vec_id"))
      .groupBy(col("x.vec_id").as("a"), col("y.vec_id").as("b"))
      .agg(count(lit(1)).as("n_shared_bands"))
  }

  /** Top-k by band-collision count per query (reference:
    * core/main.py:524 query(top_p=None) — sort by (-collisions, id)).
    * Queries: (vec_id, embedding); self-matches excluded.
    */
  def topK(corpus: DataFrame, queries: DataFrame, p: LshParams, k: Int,
      broadcastQueries: Boolean = true): DataFrame =
    topKOnIndex(build(corpus, p), queries, p, k, broadcastQueries)

  /** [[topK]] against a prebuilt (e.g. loaded) index — the serving path
    * for a persisted index. With `broadcastQueries` (the serving
    * batch) the query signatures broadcast and a [[loadBucketed]]
    * table streams past them as a plain file scan
    * ([[graft.ops.Compaction.streamed]]): nothing above the join uses
    * the bucket layout. With `broadcastQueries = false` the query side
    * shuffles on (band, sig) and the table joins bucket-local, with no
    * exchange on the index side.
    */
  def topKOnIndex(index: DataFrame, queries: DataFrame, p: LshParams, k: Int,
      broadcastQueries: Boolean = true): DataFrame = {
    val idx = if (broadcastQueries) graft.ops.Compaction.streamed(index) else index
    val collisions = queryCollisions(idx, queries, p, broadcastQueries)
      .groupBy(col("q_id"), col("vec_id"))
      .agg(count(lit(1)).as("n_collisions"))
    // bounded TopKByScore aggregate, not a rank window (the idiom shared
    // with Knn/Ivf/Quantize): map-side partials carry ≤ k rows per query
    // per partition and no per-query sort runs anywhere. Collision
    // counts are exact in double (≤ 2⁵³), so the round trip is lossless.
    collisions
      .groupBy(col("q_id"))
      .agg(graft.GraftFunctions.top_k_by_score(
        col("n_collisions").cast("double"), col("vec_id"), k).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("q_id"), (col("pos") + 1).cast("long").as("rn"),
        col("t.id").as("cand_id"), col("t.score").cast("long").as("n_collisions"))
      .orderBy(col("q_id"), col("rn"))
  }

  /** (index rows ⋈ query signatures) on (band, sig), self matches
    * dropped: one row per (query `q_id`, colliding `vec_id`, band).
    * Serving batches broadcast the query side; corpus-scale query
    * tables (`broadcastQueries = false`) shuffle-join.
    */
  private def queryCollisions(index: DataFrame, queries: DataFrame, p: LshParams,
      broadcastQueries: Boolean): DataFrame = {
    val qIndex0 = build(queries, p)
      .select(col("vec_id").as("q_id"), col("band"), col("sig"))
    val qIndex = if (broadcastQueries) broadcast(qIndex0) else qIndex0
    index.join(qIndex, Seq("band", "sig"))
      .filter(col("vec_id") =!= col("q_id"))
  }

  /** Candidates reranked by exact cosine; per query returns the first
    * ceil(n_candidates · topP) (≥1), capped at topK (reference:
    * core/main.py:524 query(top_p=·) → :650 limit computation).
    */
  def topPRerank(corpus: DataFrame, queries: DataFrame, p: LshParams,
      topP: Double, topK: Int = Int.MaxValue,
      broadcastQueries: Boolean = true): DataFrame = {
    require(topP > 0 && topP <= 1, "top_p must be within (0, 1]")
    val cand = queryCollisions(build(corpus, p), queries, p, broadcastQueries)
      .select(col("q_id"), col("vec_id").as("cand_id"))
      .distinct()
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val c = corpus.select(col("vec_id").as("cand_id"), col("embedding").as("cand_emb"))
    val scored = c.join(cand.join(broadcast(q), Seq("q_id")), Seq("cand_id"))
      .select(col("q_id"), col("cand_id"), cosine_sim(col("q_emb"), col("cand_emb")).as("sim"))
    if (topK == Int.MaxValue) {
      // unbounded top-p must rank EVERY candidate of a query — a bounded
      // aggregate cannot apply; the rank window is the honest plan here
      // (these are post-aggregation rows: ≤ candidates per query)
      val w = Window.partitionBy(col("q_id"))
      val wOrd = w.orderBy(col("sim").desc, col("cand_id"))
      scored
        .withColumn("n_cand", count(lit(1)).over(w))
        .withColumn("rn", row_number().over(wOrd).cast("long"))
        .filter(col("rn") <= least(greatest(ceil(col("n_cand") * topP), lit(1L)), lit(topK.toLong)))
        .select(col("q_id"), col("rn"), col("cand_id"), col("sim"))
        .orderBy(col("q_id"), col("rn"))
    } else {
      // bounded TopKByScore (same (sim desc, cand_id asc) order as the
      // window) + candidate count in the SAME aggregation; the per-query
      // ceil(n·p) prefix is applied on the exploded ≤ topK rows
      scored
        .groupBy(col("q_id"))
        .agg(count(lit(1)).as("n_cand"),
          graft.GraftFunctions.top_k_by_score(col("sim"), col("cand_id"), topK).as("top"))
        .select(col("q_id"), col("n_cand"), posexplode(col("top")).as(Seq("pos", "t")))
        .withColumn("rn", (col("pos") + 1).cast("long"))
        .filter(col("rn") <= least(greatest(ceil(col("n_cand") * topP), lit(1L)), lit(topK.toLong)))
        .select(col("q_id"), col("rn"), col("t.id").as("cand_id"), col("t.score").as("sim"))
        .orderBy(col("q_id"), col("rn"))
    }
  }

  /** Incrementally index new vectors into an existing index
    * (reference: core/main.py:340 ingest / :399 index — buffered
    * single/batch adds; set-oriented here: one union of the new
    * vectors' exploded signatures).
    */
  def add(index: DataFrame, newVectors: DataFrame, p: LshParams): DataFrame =
    index.unionByName(build(newVectors, p))

  /** Configuration + occupancy snapshot (reference: core/main.py:798
    * stats()). Returns a single-row DataFrame.
    */
  def stats(index: DataFrame, p: LshParams): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    val occ = index.groupBy(col("band"), col("sig")).agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_buckets"), max(col("n")).as("max_bucket"),
        sum(col("n")).as("n_entries"))
      .collect().headOption
    val (nBuckets, maxBucket, nEntries) = occ
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.toString.toLong).getOrElse(0L),
        Option(r.get(2)).map(_.toString.toLong).getOrElse(0L)))
      .getOrElse((0L, 0L, 0L))
    Seq((p.dim, p.numPerm, p.b, p.r, p.similarityThreshold, p.seed, nBuckets, maxBucket, nEntries))
      .toDF("dim", "num_perm", "num_bands", "rows_per_band",
        "similarity_threshold", "seed", "n_buckets", "max_bucket", "n_entries")
  }

  /** Remove vectors from an index (reference: core/main.py:744 delete /
    * storage/redis.py:419 remove_indices). Immutable-DF semantics: the
    * result is the surviving index.
    */
  def delete(index: DataFrame, ids: DataFrame): DataFrame =
    index.join(ids.select(col("vec_id")), Seq("vec_id"), "left_anti")

  private def paramsJson(p: LshParams): String =
    s"""{"dim":${p.dim},"num_perm":${p.numPerm},"num_bands":${p.b},
       |"rows_per_band":${p.r},"similarity_threshold":${p.similarityThreshold},
       |"seed":${p.seed}}""".stripMargin.replace("\n", "")

  private def parseParams(json: String): LshParams = {
    import graft.ops.TableProps.{doubleField, longField}
    LshParams(
      dim = longField(json, "dim").toInt,
      numPerm = longField(json, "num_perm").toInt,
      numBands = Some(longField(json, "num_bands").toInt),
      rowsPerBand = Some(longField(json, "rows_per_band").toInt),
      similarityThreshold = doubleField(json, "similarity_threshold"),
      seed = longField(json, "seed"))
  }

  // The params sidecar goes through the Hadoop FileSystem API so index
  // and params always share a filesystem — java.nio on the driver would
  // silently split them on hdfs:// or s3a:// deployments.
  private def writeSidecar(spark: SparkSession, pathStr: String, content: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(pathStr)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  private def readSidecar(spark: SparkSession, pathStr: String): String = {
    val p = new org.apache.hadoop.fs.Path(pathStr)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val len = fs.getFileStatus(p).getLen.toInt
    val buf = new Array[Byte](len)
    val in = fs.open(p)
    try in.readFully(0L, buf) finally in.close()
    new String(buf, StandardCharsets.UTF_8)
  }

  /** Persist index + params (reference: core/main.py:846 save_to_disk —
    * stores config + projections; planes being seed-derived, the params
    * JSON is the whole hashing state). Partitioned by band and bucketed
    * in spirit: repartition on (band, sig) so bucket lookups co-locate.
    * For exchange-free reload joins prefer [[saveBucketed]].
    */
  def save(index: DataFrame, p: LshParams, path: String): Unit = {
    index.repartition(col("band"), col("sig"))
      .write.mode("overwrite").parquet(s"$path/index")
    writeSidecar(index.sparkSession, s"$path/params.json", paramsJson(p))
  }

  /** Cross-check stored index rows against params so a tampered or
    * mispaired sidecar fails fast instead of silently serving from the
    * wrong layout: inverted-index schema, and every band id inside
    * [0, num_bands). The band check is a column-pruned full scan of the
    * single `band` column — cheap relative to serving, but a real Spark
    * job; pass validate=false on a latency-critical reload of an index
    * you trust.
    */
  private def validateIndex(idx: DataFrame, p: LshParams, what: String): Unit = {
    val missing = Set("vec_id", "band", "sig") -- idx.columns.toSet
    require(missing.isEmpty, s"stored index lacks columns $missing")
    val r = idx.agg(max(col("band"))).head()
    if (!r.isNullAt(0))
      require(r.getInt(0) < p.b,
        s"stored index has band ${r.getInt(0)} but params declare only ${p.b} bands " +
          s"— $what does not match this index")
  }

  /** Restore (index, params) (reference: core/main.py:898 load_from_disk;
    * tests/test_persistence_security.py — missing dir/files raise, and
    * `validate` cross-checks rows vs params via [[validateIndex]]).
    */
  def load(spark: SparkSession, path: String,
      validate: Boolean = true): (DataFrame, LshParams) = {
    val p = parseParams(readSidecar(spark, s"$path/params.json"))
    val idx = spark.read.parquet(s"$path/index")
    if (validate) validateIndex(idx, p, "params.json")
    (idx, p)
  }

  /** Persist the index as a catalog table bucketed + sorted on
    * (band, sig) — the at-rest analogue of the reference's Redis bucket
    * store (storage/redis.py:40): a reloaded index's shuffled collision
    * join reads bucket-local with NO exchange and no sort on the index
    * side; a broadcast serve streams it by file splits ([[topKOnIndex]]).
    * Params ride along as a table property, so the catalog entry is
    * self-contained. `nBuckets` should be sized so one bucket's rows fit
    * an executor core's working memory at the target scale.
    */
  def saveBucketed(index: DataFrame, p: LshParams, table: String,
      nBuckets: Int = 32, path: Option[String] = None): Unit = {
    graft.ops.Compaction.saveBucketed(index, table, nBuckets, path, "band", "sig")
    graft.ops.TableProps.set(index.sparkSession, table, "graft.lsh.params", paramsJson(p))
  }

  /** Restore (index, params) from a [[saveBucketed]] table; `validate`
    * applies the same stored-state cross-check as [[load]].
    */
  def loadBucketed(spark: SparkSession, table: String,
      validate: Boolean = true): (DataFrame, LshParams) = {
    val p = parseParams(graft.ops.TableProps.get(spark, table, "graft.lsh.params"))
    val idx = spark.table(table)
    if (validate) validateIndex(idx, p, "the graft.lsh.params table property")
    (idx, p)
  }

  /** Incrementally index new vectors into a [[saveBucketed]] table —
    * the at-rest twin of [[add]] (reference: core/main.py:340 ingest
    * against the live Redis store). Signatures are computed under the
    * table's OWN stored params (so an add can never silently mix
    * plane families) and appended bucket-aligned, with the bucket
    * count read from the catalog — the append cannot break the
    * bucketing that makes reloaded collision joins exchange-free.
    * At 100 TB the add touches only the new rows, never the index.
    */
  def addToBucketed(spark: SparkSession, newVectors: DataFrame, table: String): Unit = {
    graft.ops.Compaction.appendBucketed(spark, table)(
      build(newVectors, loadBucketed(spark, table, validate = false)._2))
  }

  /** Compact a [[saveBucketed]] table after repeated [[addToBucketed]]
    * appends — the close of the LSH at-rest lifecycle (build → serve →
    * add → compact), completing the same maintenance surface the IVF
    * and PQ families have ([[graft.ann.Ivf.compactIndex]] /
    * [[graft.ann.Pq.compactCellIndex]]; reference analogue:
    * `storage/redis.py:419,590`). One bucketed rewrite via
    * [[graft.ops.Compaction.rewriteBucketed]] returns every (band,
    * sig) bucket to a single file; the bucket/sort spec and the
    * `graft.lsh.params` property survive, so post-compact collision
    * joins stay exchange-free and the plane family is unchanged.
    */
  def compactBucketed(spark: SparkSession, table: String): Unit =
    graft.ops.Compaction.rewriteBucketed(spark, table)
}
