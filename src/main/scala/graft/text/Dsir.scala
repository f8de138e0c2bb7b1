package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.GraftFunctions.{det_ln, hex64, shinglesOfTokens, top_k_by_score}

/** Data Selection via Importance Resampling (DSIR, Xie et al.
  * NeurIPS 2023): score every raw document by how much its hashed
  * n-gram distribution looks like a TARGET corpus rather than the raw
  * pool, then sample the keep-set with probability proportional to the
  * importance weight. The standard recipe for "give me generic web
  * data that looks like Wikipedia/books" at pre-training scale.
  *
  * All arithmetic is integer or [[graft.expressions.DetLn]]-defined,
  * so the DuckDB oracle reproduces every value bit-for-bit:
  *
  *   - features: word unigrams + bigrams hashed into [[NumBuckets]]
  *     buckets (hashing trick — the bucketed bag-of-ngrams model from
  *     the paper, which makes the feature space O(1) regardless of
  *     corpus vocabulary);
  *   - bucket log-likelihood ratio `llr[b] = ln p_target(b) − ln
  *     p_raw(b)` with add-one smoothing, computed with the
  *     deterministic series ln and frozen to a fixed-point long
  *     (`floor(llr·10⁶ + ½)` — integer from there on, so per-document
  *     sums are associative and order-free on any partitioning);
  *   - per-doc log-importance = Σ over feature OCCURRENCES of
  *     `llr_fp[bucket]` (a long);
  *   - selection: Gumbel-top-k — `score = log w + Gumbel(hash(doc))`
  *     picks k docs without replacement with P ∝ w, the exact
  *     resampling scheme, but deterministic because the Gumbel noise
  *     is derived from the doc id hash instead of an RNG stream.
  *
  * Scale shape (100 TB): pass 1 aggregates the hashed gram stream to
  * ≤ [[NumBuckets]] rows with map-side partial counts (the stream
  * never shuffles — only B-row partials do); the llr table is O(B)
  * and BROADCAST back onto pass 2's gram stream, whose per-doc long
  * sums again combine map-side. Selection is one bounded
  * [[graft.expressions.TopKByScore]] aggregate (k rows per partition
  * pre-exchange), and the winner set (k rows) broadcasts back for the
  * membership flag. No window, no driver collect, two corpus passes —
  * the algorithm's own lower bound (the target distribution must be
  * known before any doc can be scored).
  */
object Dsir {

  /** Hashed feature-space size. 2^11 buckets ≈ the paper's hashed
    * generative model at test vocabulary scale; production would use
    * 2^16-2^20 — nothing below depends on the constant.
    */
  val NumBuckets = 2048L

  /** Fixed-point scale for log-likelihood ratios. */
  val Scale = 1.0e6

  /** Modulus for the Gumbel uniform (< 2^53 so the ratio is exact). */
  val GumbelMod: Long = 1L << 50

  private def bucketOf(gram: Column): Column =
    pmod(hex64(concat(lit("dsir|"), gram)), lit(NumBuckets))

  /** One row per feature occurrence: (doc_id, is_target, bucket).
    * Unigrams plus positional (non-distinct) bigrams.
    */
  private def featureStream(docs: DataFrame, isTarget: Column): DataFrame = {
    val t = TextAnalysis.withToks(docs)
      .select(col("doc_id"), isTarget.as("is_target"),
        concat(col("toks"), shinglesOfTokens(col("toks"), 2, distinct = false)).as("grams"))
    t.select(col("doc_id"), col("is_target"),
      explode(col("grams")).as("gram"))
      .select(col("doc_id"), col("is_target"), bucketOf(col("gram")).as("bucket"))
  }

  /** Per-bucket fixed-point log-likelihood ratio table, COMPLETE over
    * the closed hashed feature space (exactly B rows): (bucket,
    * llr_fp). Buckets unobserved at fit time get the smoothed
    * zero-count ratio, so serving a batch the fit never saw still
    * weighs every feature — no silent drops, no default plumbing.
    * Smoothed with add-one; totals ride along via a 1-row cross join
    * (B rows × 1 row — never corpus-sized).
    */
  private[graft] def llrTable(features: DataFrame): DataFrame = {
    val observed = features.groupBy(col("bucket"))
      .agg(count(lit(1)).as("rc"),
        sum(col("is_target").cast("long")).as("tc"))
    val counts = features.sparkSession.range(NumBuckets)
      .select(col("id").as("bucket"))
      .join(observed, Seq("bucket"), "left")
      .select(col("bucket"), coalesce(col("rc"), lit(0L)).as("rc"),
        coalesce(col("tc"), lit(0L)).as("tc"))
    val totals = counts.agg(sum(col("rc")).as("rtot"), sum(col("tc")).as("ttot"))
    val b = lit(NumBuckets).cast("double")
    counts.crossJoin(totals)
      .select(col("bucket"),
        det_ln((col("tc") + 1).cast("double") / (col("ttot").cast("double") + b)).as("lt"),
        det_ln((col("rc") + 1).cast("double") / (col("rtot").cast("double") + b)).as("lr"))
      .select(col("bucket"),
        floor((col("lt") - col("lr")) * lit(Scale) + lit(0.5)).cast("long").as("llr_fp"))
  }

  /** Deterministic standard-Gumbel noise from a key column, fixed
    * point: `floor(−ln(−ln u)·10⁶ + ½)` with
    * `u = (hex64(salt|key) mod M + 1) / (M + 1)` ∈ (0, 1).
    */
  private def gumbelFp(key: Column, salt: String): Column = {
    val u = (pmod(hex64(concat(lit(s"$salt|"), key.cast("string"))), lit(GumbelMod)) + 1)
      .cast("double") / lit((GumbelMod + 1).toDouble)
    floor(negate(det_ln(negate(det_ln(u)))) * lit(Scale) + lit(0.5)).cast("long")
  }

  /** The full DSIR pass over a documents table: every doc with its
    * hashed-ngram log-importance (fixed point), Gumbel-perturbed
    * selection score, and membership in the k-doc resample.
    *
    * Target distribution: docs where `targetPred` holds (default
    * `lang = 'en'` — "select raw docs that look like the English
    * slice"). Raw distribution: the whole pool.
    */
  def importanceResample(docs: DataFrame, k: Int = 100,
      targetPred: Column = col("lang") === "en"): DataFrame =
    importanceResampleOnLlr(docs,
      llrTable(featureStream(docs, targetPred)), k)

  /** Fit just the llr model table from a raw pool + target predicate
    * — the trainable artifact of the DSIR recipe (≤ [[NumBuckets]]
    * rows).
    */
  def fitLlr(docs: DataFrame, targetPred: Column = col("lang") === "en"): DataFrame =
    llrTable(featureStream(docs, targetPred))

  /** Per-doc log-importance from an EXISTING llr table — the serving
    * pass (one tokenize + hashed-gram projection, broadcast llr join,
    * map-side-combined long sums; no target labels needed).
    */
  def weigh(docs: DataFrame, llr: DataFrame): DataFrame =
    featureStream(docs, lit(false))
      .join(broadcast(llr), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(sum(col("llr_fp")).as("weight_fp"), count(lit(1)).as("n_feat"))

  /** [[importanceResample]] against a prebuilt/loaded llr table. */
  def importanceResampleOnLlr(docs: DataFrame, llr: DataFrame,
      k: Int = 100): DataFrame = {
    val weights = weigh(docs, llr)
    val scored = docs.select(col("doc_id"), col("source"), col("lang"))
      .join(weights, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("lang"),
        coalesce(col("n_feat"), lit(0L)).as("n_feat"),
        coalesce(col("weight_fp"), lit(0L)).as("weight_fp"))
      .withColumn("score_fp", col("weight_fp") + gumbelFp(col("doc_id"), "dsir_g"))
    // Winner set: one bounded global top-k aggregate (score_fp < 2^53
    // in magnitude, so the double score slot is exact), broadcast back
    // as the membership flag.
    val winners = scored
      .groupBy()
      .agg(top_k_by_score(col("score_fp").cast("double"), col("doc_id"), k).as("top"))
      .select(posexplode(col("top.id")).as(Seq("pos", "doc_id")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("sel_rank"))
    scored.join(broadcast(winners), Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("lang"), col("n_feat"),
        col("weight_fp"), col("score_fp"), col("sel_rank"),
        col("sel_rank").isNotNull.as("selected"))
  }

  /** Persist a fitted llr table with its hashing parameters in
    * TBLPROPERTIES, written by [[graft.ops.Compaction.saveTable]] like
    * every model table: the artifact carries B and the fixed-point
    * scale, so a loader can refuse a mismatched serving configuration
    * instead of silently mis-hashing.
    */
  def saveLlr(llr: DataFrame, table: String, path: Option[String] = None): Unit =
    graft.ops.Compaction.saveTable(llr.coalesce(1), table, path,
      "graft.dsir.params" -> s"""{"num_buckets":$NumBuckets,"scale":$Scale}""")

  /** Restore a [[saveLlr]]ed table, validating the hashing params. */
  def loadLlr(spark: org.apache.spark.sql.SparkSession, table: String): DataFrame = {
    val json = graft.ops.TableProps.get(spark, table, "graft.dsir.params")
    val b = graft.ops.TableProps.longField(json, "num_buckets")
    require(b == NumBuckets,
      s"table $table was fitted with num_buckets=$b, serving expects $NumBuckets")
    spark.table(table)
  }

  /** The persisted driver row: fit → [[saveLlr]] → [[loadLlr]] →
    * resample from the LOADED table — fit-once/select-many, the same
    * round-trip contract as `ann_ivf_persisted`; output ≡
    * [[importanceResample]], so it shares the oracle.
    */
  def fitSaveResampleQuery(docs: DataFrame, table: String,
      path: Option[String] = None, k: Int = 100): DataFrame = {
    saveLlr(fitLlr(docs), table, path)
    importanceResampleOnLlr(docs, loadLlr(docs.sparkSession, table), k)
  }
}
