package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GraftFunctions.hex64

/** Deterministic content-keyed sampling and dataset splitting — the
  * reproducibility backbone of a training-data pipeline: the same
  * document lands in the same split on every run, on any cluster, at
  * any partitioning, because assignment is a pure function of the key
  * (vs `DataFrame.sample`/`randomSplit`, whose outputs depend on seed,
  * partitioning, AND evaluation order — unusable as a stable train/val
  * contract at 100 TB).
  *
  * Assignment: `bucket = hex64(salt|key) mod granularity` — a map-side
  * projection, no shuffle, no state; the portable hash makes every
  * decision reproducible in any engine (the DuckDB oracle recomputes
  * it bit-for-bit).
  */
object Sampling {

  val Granularity = 10000L

  /** Stable [0, granularity) bucket for a key column. */
  def hashBucket(key: Column, salt: String = "split"): Column =
    pmod(hex64(concat(lit(s"$salt|"), key.cast("string"))), lit(Granularity))

  /** Keep a deterministic `rate` fraction of rows by key hash. Unlike
    * `df.sample`, membership is stable across runs/partitionings and
    * joins with any other hash-sampled table of the same keyspace
    * stay consistent (the "sample the user, get all their events"
    * property when keyed on the entity id).
    */
  def sampleByHash(df: DataFrame, key: Column, rate: Double,
      salt: String = "sample"): DataFrame =
    df.filter(hashBucket(key, salt) < lit((rate * Granularity).toLong))

  /** The deterministic training gate of the model fits (PQ/OPQ
    * codebooks, the linear classifiers): rows whose integer `id` is a
    * multiple of `round(1/frac)` — no hash, no RNG state, the same
    * rows on every run and engine. `frac` outside (0, 1] is refused
    * here, before any caller builds a plan on the gated rows.
    */
  private[graft] def idGate(df: DataFrame, id: String, frac: Double): DataFrame = {
    require(frac > 0.0 && frac <= 1.0, s"sampleFrac=$frac must be in (0, 1]")
    if (frac >= 1.0) df else df.filter(col(id) % math.round(1.0 / frac) === 0)
  }

  /** Weighted sample WITHOUT replacement (Efraimidis & Spirakis 2006,
    * algorithm A-Res): each row draws a key `ln(u)/w` from its own
    * hash-derived uniform `u` and weight `w > 0`; the k LARGEST keys
    * are a weighted random sample without replacement — the standard
    * one-pass distributed weighted subsample (corpus thinning where
    * higher-quality/longer documents deserve proportionally more
    * probability mass).
    *
    * Fully deterministic AND cross-engine hash-exact, unusual for a
    * "random" sample: `u = (hash mod 2⁴⁰ + 0.5) / 2⁴⁰` is an exact
    * power-of-two rational (every step exact in double), the log is
    * [[graft.GraftFunctions.det_ln]], and the one division per row is
    * correctly rounded — so membership is a pure function of
    * (id, salt) and the DuckDB oracle reproduces it bit-for-bit.
    * Selection is a distributed TakeOrdered over the per-row keys —
    * one map-side bounded pass, no shuffle beyond the top-k.
    */
  def weightedSample(df: DataFrame, id: Column, weight: Column,
      k: Int = 100, salt: String = "ws"): DataFrame = {
    val m = 1L << 40
    val h = hex64(concat(lit(s"$salt|"), id.cast("string")))
    val u = ((h % m).cast("double") + lit(0.5)) / lit(m.toDouble)
    df.select(id.as("id"), weight.cast("double").as("weight"), u.as("u"))
      // w > 0 is a contract, enforced loudly: a zero weight divides by
      // 0 (−∞ key), a negative one flips the A-Res key sign and makes
      // the row near-certain to be selected, a null silently sinks the
      // row — all of which would corrupt the sample without a signal.
      .withColumn("es_key",
        when(col("weight") > 0d,
          graft.GraftFunctions.det_ln(col("u")) / col("weight"))
          .otherwise(raise_error(concat(
            lit("weightedSample requires weight > 0; got "),
            coalesce(col("weight").cast("string"), lit("null")),
            lit(" for id "), col("id").cast("string")))))
      .orderBy(col("es_key").desc, col("id"))
      .limit(k)
  }

  /** Train/val/test assignment per row: (…, bucket, split) with
    * boundaries at cumulative fractions of [[Granularity]].
    * Defaults 90/5/5.
    */
  def assignSplits(df: DataFrame, key: Column, trainFrac: Double = 0.9,
      valFrac: Double = 0.05, salt: String = "split"): DataFrame = {
    val trainEdge = (trainFrac * Granularity).toLong
    val valEdge = ((trainFrac + valFrac) * Granularity).toLong
    df.withColumn("bucket", hashBucket(key, salt))
      .withColumn("split",
        when(col("bucket") < trainEdge, lit("train"))
          .when(col("bucket") < valEdge, lit("val"))
          .otherwise(lit("test")))
  }

  /** Deterministic global shuffle into ordered shards — the
    * training-order randomization step: every epoch pipeline needs the
    * corpus in a pseudorandom order that is NOT correlated with crawl /
    * source / time order, yet is exactly reproducible. Each row gets a
    * stable 60-bit `shuffle_key` = hex64(salt|key) and a `shard` =
    * key mod nShards; consumers read shards in number order, rows in
    * (shuffle_key, key) order within a shard — a total order that is a
    * pure function of (salt, key), independent of partitioning or
    * engine. Changing the salt is a fresh epoch permutation.
    *
    * Shape: map-side projection; the only exchange is the range
    * partition of the output sort — which at 100 TB IS the shuffle
    * that physically randomizes the data, writing each shard as a
    * sorted file.
    */
  def shuffleShards(df: DataFrame, key: Column, nShards: Int = 16,
      salt: String = "epoch0"): DataFrame =
    df.withColumn("shuffle_key", hex64(concat(lit(s"$salt|"), key.cast("string"))))
      .withColumn("shard", pmod(col("shuffle_key"), lit(nShards.toLong)))
      .orderBy(col("shard"), col("shuffle_key"), key)

  /** Materialize [[shuffleShards]] as training-consumable files: one
    * directory per shard (`shard=N/`), rows within each file in the
    * deterministic (shuffle_key, key) order — the exact layout a
    * sequential training reader consumes shard-by-shard. The
    * repartition hits nShards exactly (hash on the already-computed
    * shard id), and `sortWithinPartitions` makes the in-file order
    * part of the write, so the materialized corpus is byte-stable
    * across reruns at any cluster size: same salt → same shard
    * membership, same order, same files.
    */
  def writeShuffledShards(df: DataFrame, key: Column, dir: String,
      nShards: Int = 16, salt: String = "epoch0"): Unit =
    df.withColumn("shuffle_key", hex64(concat(lit(s"$salt|"), key.cast("string"))))
      .withColumn("shard", pmod(col("shuffle_key"), lit(nShards.toLong)))
      .repartition(nShards, col("shard"))
      // lead with the partition column: the file writer REQUIRES
      // per-task ordering by partition columns and would otherwise
      // insert its own shard-only sort (dropping this one via
      // EliminateSorts), which scrambles the in-file order — with the
      // shard prefix this sort satisfies the writer's requirement and
      // survives as the one and only ordering
      .sortWithinPartitions(col("shard"), col("shuffle_key"), key)
      .write.mode("overwrite").partitionBy("shard").parquet(dir)

  /** Modulus for [[stratifiedSample]] keys: < 2^53 so the key is exact
    * as a double inside the top-k aggregate's score slot.
    */
  val StratModulus: Long = 1L << 50

  /** Deterministic fixed-size per-stratum sample — the "k documents
    * from every source" inspection/eval draw (a reservoir sample at
    * rest): within each source keep the k documents with the smallest
    * `hex64(salt|key) mod 2^50`, ties to the lower key. Membership is
    * a pure function of (salt, key) — re-running, repartitioning, or
    * growing OTHER sources never changes a stratum's picks (only new
    * rows hashing below a current pick displace one).
    *
    * Shape at 100 TB: the bounded [[graft.expressions.TopKByScore]]
    * aggregate map-side-combines to ≤ k rows per source per partition
    * BEFORE the exchange — the classic distributed-reservoir property —
    * so the shuffle carries O(partitions·sources·k) tiny rows, never
    * the corpus; no window, no per-source sort. (`df.sampleBy` offers
    * only approximate per-stratum fractions and is partitioning-
    * dependent; an exact-k window rank would sort every stratum.)
    */
  def stratifiedSample(df: DataFrame, key: Column, k: Int = 25,
      salt: String = "strat"): DataFrame = {
    require(k > 0, s"k=$k must be positive")
    val h = pmod(hex64(concat(lit(s"$salt|"), key.cast("string"))),
      lit(StratModulus))
    df.select(col("source"), key.as("__key"), h.as("sample_key"))
      .groupBy(col("source"))
      .agg(graft.GraftFunctions.top_k_by_score(
        negate(col("sample_key").cast("double")), col("__key"), k).as("top"))
      .select(col("source"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("source"), (col("pos") + 1).cast("long").as("rn"),
        col("t.id").as("doc_id"),
        (-col("t.score")).cast("long").as("sample_key"))
      .orderBy(col("source"), col("rn"))
  }

  /** Default source-mix weights for the driver query: harmonic decay
    * over the 20 test sources — head sources get epochs > 1
    * (up-sampling by replication), tail sources get epochs < 1
    * (down-sampling), so ONE query exercises both mixing directions.
    */
  val defaultMixWeights: Seq[(String, Double)] =
    (0 until 20).map(i => (s"src$i", 1.0 / (1 + i)))

  /** Normalized per-source mix coefficients: `coef_s = w_s·scale / Σw`.
    * Computed once driver-side so the SAME double literals feed the
    * Spark plan and the DuckDB oracle (Double.toString round-trips
    * bit-exactly through the oracle's string→double cast).
    */
  def mixCoefs(weights: Seq[(String, Double)],
      scale: Double): Seq[(String, Double)] = {
    val z = weights.map(_._2).sum
    weights.map { case (s, w) => (s, w * scale / z) }
  }

  /** Epoch-based domain mixing — the LLM-pretraining data-mix step
    * (the Pile / Llama recipe): given target weights per source,
    * re-shape the corpus so source s contributes `coef_s` of the
    * output token/doc mass by REPLICATING its documents `epochs_s =
    * coef_s·N / n_s` times — integer part as full copies, fractional
    * part as a stable per-document hash gate (the [[hashBucket]]
    * rule). Up-sampling (epochs > 1, small high-weight sources) and
    * down-sampling (epochs < 1) fall out of the same formula; `scale`
    * stretches the total output mass (scale=1 ⇒ output ≈ |corpus|
    * rows redistributed to the target mix). Every copy carries an
    * `epoch` index (1..copies) so a downstream [[shuffleShards]] can
    * salt each epoch into a different permutation.
    *
    * Shape at 100 TB: one #sources-row count shuffle; the per-source
    * plan (epochs, thresholds) is a broadcast back onto the corpus;
    * replication is a map-side `explode(sequence)` whose fan-out is
    * exactly the target epoch count — no row-level window, no
    * skew-prone key (the gate hash is per-document). Sources absent
    * from `weights` are dropped (weight 0); weighted sources absent
    * from the corpus contribute nothing.
    *
    * Determinism: membership of the fractional copy is a pure
    * function of (salt, key) — the realized mix is reproducible on
    * any engine, and the DuckDB oracle recomputes it bit-for-bit
    * (the epochs division chain is single IEEE ops in an identical
    * order; `big_n` is an integer sum, order-independent).
    */
  def epochMix(df: DataFrame, key: Column,
      weights: Seq[(String, Double)] = defaultMixWeights,
      scale: Double = 1.0, salt: String = "mix"): DataFrame = {
    require(weights.nonEmpty && weights.forall(_._2 >= 0.0) &&
      weights.exists(_._2 > 0.0),
      "weights must be non-negative with at least one positive entry")
    require(scale > 0.0, s"scale=$scale must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val wdf = mixCoefs(weights, scale).toDF("source", "coef")
    val counts = df.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val all = Window.orderBy(col("source"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val plan = counts
      .withColumn("big_n", sum(col("n_docs")).over(all))
      .join(wdf, Seq("source"))
      .withColumn("epochs", col("coef") * col("big_n") / col("n_docs"))
      .withColumn("full_copies", floor(col("epochs")))
      .withColumn("threshold",
        floor((col("epochs") - col("full_copies")) * lit(Granularity)))
    df.join(broadcast(plan.select(col("source"), col("full_copies"),
        col("threshold"))), Seq("source"))
      .withColumn("copies", col("full_copies") +
        when(hashBucket(key, salt) < col("threshold"), lit(1L)).otherwise(lit(0L)))
      .filter(col("copies") >= 1L)
      .withColumn("epoch", explode(sequence(lit(1L), col("copies"))))
      .drop("full_copies", "threshold", "copies")
  }

  /** Temperature-based source rebalancing (the multilingual/multi-source
    * mixing rule of mBERT/XLM-R, α = 0.5): sampling mass per source is
    * proportional to √n_s instead of n_s, flattening the head so small
    * sources aren't drowned — then each document keeps or drops by its
    * own stable content hash against the source's rate. Returns the
    * per-source plan + outcome: (source, n_docs, rate, threshold,
    * n_kept).
    *
    * Rate: `min(1, targetFrac · N · (√n_s / Σ√n) / n_s)`, realized as
    * the integer threshold `floor(rate · Granularity)` on
    * [[hashBucket]] — so membership is deterministic per document and
    * the realized count is reproducible anywhere. α is fixed at 0.5
    * because √ is an IEEE-754 basic operation (correctly rounded in
    * every engine) — an arbitrary `pow(x, α)` is not cross-engine
    * bit-safe. Σ√n is an in-order window sum over sources (float sums
    * are order-sensitive; an unordered aggregate would be
    * partition-dependent).
    *
    * Shape: one count shuffle over the corpus, a #sources-row stats
    * frame (the single-partition window is over sources, never rows),
    * broadcast of the rates back onto the corpus for the keep filter.
    */
  def temperatureSample(df: DataFrame, key: Column, targetFrac: Double = 0.5,
      salt: String = "temp"): DataFrame = {
    val counts = df.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val all = Window.orderBy(col("source"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val rates = counts
      .withColumn("weight", sqrt(col("n_docs")))
      .withColumn("big_w", sum(col("weight")).over(all))
      .withColumn("big_n", sum(col("n_docs")).over(all))
      .withColumn("rate",
        least(lit(1.0),
          lit(targetFrac) * col("big_n") * (col("weight") / col("big_w")) / col("n_docs")))
      .withColumn("threshold", floor(col("rate") * lit(Granularity)).cast("long"))
    val kept = df.join(rates.select(col("source"), col("threshold")), Seq("source"))
      .filter(hashBucket(key, salt) < col("threshold"))
      .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
    rates.join(kept, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("rate"), col("threshold"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
      .orderBy(col("source"))
  }

  /** Language-balanced sampling — the multilingual-mix rebalance
    * every multilingual pretraining corpus runs (the XLM-R
    * exponent-smoothing idea): per PREDICTED language, keep rates
    * scale as √n (temperature 0.5 — upweights low-resource languages,
    * caps the dominant one), with membership the usual portable hash
    * gate so the sample is reproducible anywhere. Language comes from
    * the shared langid chain (`TextAnalysis.langId` — zero drift from
    * the gated `text_langid` row). √ instead of the customary
    * p^0.7/p^0.3: sqrt is correctly-rounded IEEE (cross-engine
    * exact); a free exponent would route through `pow`, which is NOT
    * (the det_ln discipline).
    *
    * Shape: langid is a narrow pass; counts are languages-grain
    * (tiny — the window runs over ≤ a few dozen rows, never the
    * corpus); the keep decision is a broadcast threshold join + one
    * map-side hash compare.
    */
  def languageBalance(docs: DataFrame, targetFrac: Double = 0.5,
      salt: String = "langbal"): DataFrame = {
    val pred = graft.text.TextAnalysis.langId(docs)
      .select(col("doc_id"), col("pred_lang"))
    val counts = pred.groupBy(col("pred_lang")).agg(count(lit(1)).as("n_docs"))
    val all = Window.orderBy(col("pred_lang"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val rates = counts
      .withColumn("weight", sqrt(col("n_docs")))
      .withColumn("big_w", sum(col("weight")).over(all))
      .withColumn("big_n", sum(col("n_docs")).over(all))
      .withColumn("rate",
        least(lit(1.0),
          lit(targetFrac) * col("big_n") * (col("weight") / col("big_w")) / col("n_docs")))
      .withColumn("threshold", floor(col("rate") * lit(Granularity)).cast("long"))
    val kept = pred.join(rates.select(col("pred_lang"), col("threshold")),
        Seq("pred_lang"))
      .filter(hashBucket(col("doc_id"), salt) < col("threshold"))
      .groupBy(col("pred_lang")).agg(count(lit(1)).as("n_kept"))
    rates.join(kept, Seq("pred_lang"), "left")
      .select(col("pred_lang"), col("n_docs"), col("rate"), col("threshold"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** Per-group TOKEN-budget fill — the sampling primitive a training
    * mix is actually specified in ("500 B tokens of web, 50 B of
    * code"), where count- or rate-based sampling misses because
    * document lengths vary by orders of magnitude: within each group,
    * documents are visited in deterministic `(priority, doc_id)`
    * order and the kept set is the longest PREFIX of that stream
    * that fits: `keep = cum_before + n_tokens ≤ budget`, with
    * `cum_before` the offset over ALL earlier docs — the budget is a
    * hard cap, and admission is a pure function of the ordered
    * stream (replayable in any engine), unlike stateful first-fit/
    * best-fit whose output depends on mutable bin state. Emits the
    * full decision table (`cum_before`, `keep`) so the fill is
    * auditable.
    *
    * Shape: the [[graft.ops.Packing]] distributed prefix sum — a
    * range exchange on `(group, priority, id)` splits even a
    * mega-group across partitions, per-(partition, group) masses
    * roll up driver-scale, within-partition windows are bounded by
    * the range partition size — NEVER a per-group ordered window
    * (one dominant source would serialize onto a single task).
    */
  def tokenBudget(docs: DataFrame, group: Column, nTokens: Column,
      priority: Column, budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val counted = docs.select(col("doc_id"), group.cast("string").as("grp"),
      nTokens.cast("long").as("n_tokens"), priority.as("__prio"))
    groupedPrefixSum(counted, "grp", Seq("__prio", "doc_id"), "n_tokens")
      .select(col("doc_id"), col("grp"), col("n_tokens"),
        col("__prio").as("priority"), col("cum_before"))
      .withColumn("keep",
        col("cum_before") + col("n_tokens") <= lit(budget))
  }

  /** Distributed per-group exclusive prefix sum over a deterministic
    * order — the shared engine under [[tokenBudget]] and
    * [[graft.ops.Curation.crawlWaves]]: appends `cum_before` (the
    * mass of all strictly-earlier rows in the group's
    * `orderNames`-order) to the input frame. A pure function of the
    * ordered stream, identical under any physical layout.
    *
    * Shape: range exchange on (group, order…) splits even a
    * mega-group across partitions; per-(partition, group) masses roll
    * up through a partition-ids-grain window (driver-scale) and ride
    * back as a broadcast; within-partition windows are bounded by the
    * range partition size — never a per-group ordered window. The
    * ranged frame is materialized before the two consumers fan out
    * (range boundaries are sampled per execution — the
    * [[graft.ops.Packing]] pid-map caveat), and the result's cache is
    * scoped via [[Caching.materialized]].
    */
  private[graft] def groupedPrefixSum(df: DataFrame, grpName: String,
      orderNames: Seq[String], massName: String): DataFrame = {
    val nPart = df.sparkSession.sessionState.conf.numShufflePartitions
    val ranged = df
      .repartitionByRange(nPart, (grpName +: orderNames).map(col): _*)
      .withColumn("__pid", spark_partition_id())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wOff = Window.partitionBy(col(grpName)).orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = ranged.groupBy(col("__pid"), col(grpName))
      .agg(sum(col(massName)).as("__psum"))
      .withColumn("__offset", coalesce(sum(col("__psum")).over(wOff), lit(0L)))
      .select(col("__pid"), col(grpName), col("__offset"))
    val wIn = Window.partitionBy(col("__pid"), col(grpName))
      .orderBy(orderNames.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val out = ranged
      .withColumn("__cum_in", coalesce(sum(col(massName)).over(wIn), lit(0L)))
      .join(broadcast(offsets), Seq("__pid", grpName))
      .withColumn("cum_before", col("__cum_in") + col("__offset"))
      .drop("__pid", "__cum_in", "__offset")
    Caching.materialized(out) { ranged.unpersist(false) }
  }
}
