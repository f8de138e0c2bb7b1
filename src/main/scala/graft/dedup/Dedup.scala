package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.GraftFunctions.{fingerprintOfTokens, hex64, minhashSignature, shinglesOfTokens,
  tokens}
import graft.ops.Caching
import graft.ops.Caching.{materialized, releaseCheckpoint}

/** Deduplication suite for training-data pipelines.
  *
  * All fingerprints derive from the portable md5-prefix hash
  * ([[GraftFunctions.hex64]]) so results are integer-exact across
  * engines; the MinHash scheme mirrors the reference's banding design
  * (b bands of r rows, collision when a full band matches — reference:
  * lshrs/hash/lsh.py banding, lshrs/utils/br.py S-curve) but over
  * shingle sets with Jaccard similarity, the standard text-dedup
  * instantiation.
  *
  * Scale notes (100 TB):
  *  - a document's shingle set is one row, `(doc_id, sh: array<string>)`
  *    ([[shingleArrays]]); doc_id is a key of every input frame;
  *  - minhash signatures are a per-row projection
  *    ([[graft.expressions.MinhashSignature]]: one md5 per shingle, k
  *    longs out) — no shingle explode, no aggregate, no shuffle, like
  *    the reference hashing each item to its bands on its own;
  *  - candidate generation joins on (band, band_hash): hash-partition
  *    co-location, hot buckets handled by AQE skew join;
  *  - exact-Jaccard verification only touches candidate pairs (like the
  *    reference's cosine rerank of bucket candidates): each pair joins
  *    its two shingle arrays and intersects them in the row
  *    ([[jaccardOf]]), so no shingle rows are joined or counted;
  *  - the raw shingle-join variant (ngramJaccardPairs) is the exact
  *    baseline and the one operator that explodes the shingle set
  *    ([[shingleSet]]); at scale prefer minhashLshPairs which bounds
  *    join fan-out by band width.
  */
object Dedup {

  /** Default document-frequency cap for the exact-Jaccard shingle
    * self-join: a shingle shared by df docs contributes df² join rows,
    * so an uncapped run degenerates quadratically on one hot
    * boilerplate phrase. 1000 keeps every genuinely distinctive
    * shingle (near-dup pairs share many low-df shingles) while
    * bounding any single shingle's contribution at 10⁶ pairs.
    * Mirrored verbatim into the DuckDB oracle.
    */
  val DefaultMaxShingleDf = 1000L

  val MinhashK = 16      // hash functions (num_perm)
  val Bands = 4          // b
  val RowsPerBand = 4    // r: threshold ≈ (1/b)^(1/r) = 0.707
  val ShingleWidth = 3

  /** Trusts a precomputed `toks` column (the shared-tokenization
    * contract [[graft.ops.Pipeline.cleanCorpus]] relies on: one cached
    * tokenize pass feeds every stage).
    */
  private def withToks(docs: DataFrame): DataFrame =
    if (docs.columns.contains("toks")) docs
    else docs.withColumn("toks", tokens(col("text")))

  /** Distinct (doc_id, shingle) pairs of `width`-token shingles, for
    * shingle-keyed joins. The shingle expression already dedupes within
    * each document, so no extra shuffle is needed to get set semantics;
    * shingling runs over the (possibly precomputed+cached) `toks`
    * column so one tokenize pass serves both the token and shingle
    * pipelines.
    */
  def shingleSet(docs: DataFrame, width: Int = ShingleWidth): DataFrame =
    withToks(docs).select(col("doc_id"), explode(shinglesOfTokens(col("toks"), width)).as("s"))
    // (shinglesOfTokens(toks) ≡ shingles(text) — toks is tokens(text))

  /** The MinHash shingle sets, one row per document: `(doc_id, sh)`,
    * its distinct shingles in first-occurrence order, for every
    * document [[shingleSet]] has rows for. The emptiness test reads
    * `toks`, not `sh`: Catalyst pushes a filter below the projection it
    * reads, and a filter on `sh` would shingle every document twice
    * (on a cached `toks` the test is free).
    */
  private def shingleArrays(docs: DataFrame): DataFrame =
    withToks(docs).filter(size(col("toks")) >= ShingleWidth)
      .select(col("doc_id"), shinglesOfTokens(col("toks"), ShingleWidth).as("sh"))

  /** Exact dedup on the normalized token stream: fingerprint, group
    * size, and a keep flag on the minimum doc_id of each group.
    *
    * Shape history: a fingerprint-keyed window measured faster than
    * groupBy+join-back at sf0.1 (0.45 vs 0.63 s — one exchange + an
    * in-place sort of a 16-byte projection). That comparison averages
    * over BENIGN group sizes; the adversarial case (round-8 verdict
    * #3) is a single 10⁶-copy boilerplate group — exactly what exact
    * dedup exists to find — which a window buffers wholesale on one
    * task. The groupBy argmin partial-aggregates map-side (any group
    * collapses to one row per partition before the exchange), so the
    * ~40% test-SF premium buys immunity to the case that matters at
    * 100 TB. [[keepBest]] / [[nearDupKeepBest]] share the idiom.
    */
  def exact(docs: DataFrame): DataFrame = {
    val t = withToks(docs)
      .withColumn("fingerprint", fingerprintOfTokens(col("toks")))
      .select(col("doc_id"), col("fingerprint"))
    val g = t.groupBy(col("fingerprint")).agg(
      count(lit(1)).as("group_size"), min(col("doc_id")).as("keeper_id"))
    t.join(g, Seq("fingerprint"))
      .select(col("doc_id"), col("fingerprint"), col("group_size"),
        (col("doc_id") === col("keeper_id")).as("keep"))
    // no trailing sort: a corpus-sized flag table must not pay a
    // global range exchange in the API path (r12) — gate determinism
    // is the driver row's orderBy, here and for every per-doc ledger
    // below
  }

  /** Exact dedup keeping the BEST copy, not the first: within each
    * fingerprint group the keeper is the document with the highest
    * [[graft.text.TextAnalysis.qualityScore]] (ties to the lower
    * doc_id) — the production dedup rule (a crawl's duplicates differ
    * in boilerplate/truncation; keeping min-id throws away the cleanest
    * copy whenever it wasn't crawled first). The keeper is a
    * `groupBy(fingerprint).agg(max(struct(quality, −id)), count)`
    * partial aggregate joined back onto the rows (the `chunks_dedup`
    * idiom) — NOT a fingerprint-keyed window: a window buffers each
    * whole group on one task, so an adversarial giant group (a
    * boilerplate template with 10⁶ copies — exactly what dedup exists
    * to find) becomes a straggler, while the map-side combine reduces
    * it to one row per partition before any exchange (round-8 verdict
    * #3). The join-back re-runs the tokenize map pass on the probe
    * side — narrow, linear, and cheaper at scale than a skewed sort.
    */
  def keepBest(docs: DataFrame): DataFrame = {
    val t = withToks(docs)
      .withColumn("n_chars", length(lower(col("text"))).cast("long"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_punct", length(regexp_replace(lower(col("text")),
        graft.text.TextAnalysis.PunctKeepClass, "")))
      .withColumn("fingerprint", fingerprintOfTokens(col("toks")))
      .select(col("doc_id"), col("fingerprint"),
        graft.text.TextAnalysis.qualityScore.as("quality_score"))
    val best = t.groupBy(col("fingerprint")).agg(
      count(lit(1)).as("group_size"),
      max(struct(col("quality_score"), (-col("doc_id")).as("nid"))).as("best"))
      .select(col("fingerprint"), col("group_size"),
        (-col("best").getField("nid")).as("keeper_id"))
    t.join(best, Seq("fingerprint"))
      .select(col("doc_id"), col("fingerprint"), col("quality_score"),
        col("group_size"), col("keeper_id"))
      .withColumn("keep", col("doc_id") === col("keeper_id"))
  }

  /** (doc_id, mh_00..mh_15) over a [[shingleArrays]] table, whose rows
    * all have a shingle — so no document gets a null signature.
    */
  private def minhashOf(sh: DataFrame): DataFrame =
    sh.select(col("doc_id"), minhashSignature(col("sh"), MinhashK).as("mh"))
      .select(col("doc_id") +: (0 until MinhashK).map(i => col("mh")(i).as(f"mh_$i%02d")): _*)

  /** MinHash signature per document: ONE md5 per shingle feeds a
    * k-wise Carter-Wegman family ([[MinhashFamily]]); min over the
    * shingle set per function. One native projection per document
    * ([[graft.expressions.MinhashSignature]]) — no explode, no shuffle.
    * Lazy (see [[jaccardOf]]).
    */
  def minhash(docs: DataFrame): DataFrame =
    minhashOf(shingleArrays(docs))

  /** (doc_id, band, band_hash) — one row per band; band hash combines
    * the band's r minhash values. Lazy (see [[jaccardOf]]).
    */
  def minhashBands(mh: DataFrame): DataFrame = {
    val bandCols = (0 until Bands).map { j =>
      hex64(concat_ws(",", (0 until RowsPerBand).map(i => col(f"mh_${j * RowsPerBand + i}%02d")): _*))
    }
    mh.select(col("doc_id"), posexplode(array(bandCols: _*)).as(Seq("band", "band_hash")))
  }

  /** The band signature of a (doc_id, sh) shingle-array table. */
  private def bandsOf(sh: DataFrame): DataFrame = minhashBands(minhashOf(sh))

  /** Distinct band-collision pairs (a from `xBands`, b from `yBands`)
    * off one (band, band_hash) equi-join. A self-join caller adds `a < b`.
    */
  private def collisionPairs(xBands: DataFrame, yBands: DataFrame): DataFrame =
    xBands.as("x").join(yBands.as("y"),
        col("x.band") === col("y.band") && col("x.band_hash") === col("y.band_hash"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()

  /** The rows of `df` whose doc_id is among the candidate `ids` (broadcast). */
  private def onlyIds(df: DataFrame, ids: DataFrame): DataFrame =
    df.join(graft.ops.Broadcasting.maybeBroadcast(ids), Seq("doc_id"), "left_semi")

  /** MinHash-LSH near-duplicate pairs: candidates share ≥1 full band;
    * each candidate is verified with exact shingle-set Jaccard (the
    * analogue of the reference's cosine rerank of bucket candidates).
    * Returns (a, b, n_int, n_a, n_b, jaccard) for candidates with ≥1
    * shared shingle. Eager; the caller unpersists the result (see
    * [[jaccardOf]]).
    */
  def minhashLshPairs(docs: DataFrame): DataFrame = {
    // the shingle arrays feed both the signature kernel and the
    // verifier — cache them (one row per doc) instead of running the
    // tokenize/shingle pipeline twice
    val sh = shingleArrays(docs).persist(StorageLevel.MEMORY_AND_DISK)
    // the banded signatures feed BOTH sides of the collision self-join —
    // cache them so the kernel runs once. Bands are Bands rows per doc —
    // the lightweight proxy table, cheap to hold.
    val bands = bandsOf(sh).persist(StorageLevel.MEMORY_AND_DISK)
    materialized(jaccardOf(collisionPairs(bands, bands).filter(col("a") < col("b")), sh, sh)) {
      bands.unpersist(false); sh.unpersist(false)
    }
  }

  /** Exact n-gram Jaccard pairs: every pair sharing ≥1 shingle, kept
    * when jaccard ≥ minJaccard. The exact baseline for the LSH variant.
    * Intersection counts come straight off the shingle self-join (one
    * shuffle), no separate candidate materialization; sizes and the
    * ratio are the verifier's ([[jaccardOf]]). Lazy.
    *
    * `maxShingleDf`: the self-join is quadratic in a shingle's document
    * frequency — one stop-phrase shared by 10⁶ docs yields 10¹² join
    * rows. The cap drops shingles with df above it from candidate
    * generation (the standard CCP/"common shingle" pruning; near-dup
    * pairs still share plenty of rare shingles, but reported n_int/
    * jaccard then count capped shingles only). Capped BY DEFAULT
    * ([[DefaultMaxShingleDf]]) so the path a 100 TB corpus hits first
    * is the bounded one; pass None for the exact uncapped baseline.
    *
    * BEHAVIOR NOTE (since the round-3 default flip): callers that
    * relied on the former exact-by-default jaccard/n_int values must
    * now pass `maxShingleDf = None` explicitly — with the default cap,
    * counts on corpora containing >df-cap boilerplate shingles are
    * capped counts. Oracles, specs, and the driver wiring all encode
    * the capped default; [[graft.text.TextAnalysis.containment]]'s
    * `maxFingerprintDf` made the same flip.
    */
  def ngramJaccardPairs(docs: DataFrame, minJaccard: Double = 0.5,
      maxShingleDf: Option[Long] = Some(Dedup.DefaultMaxShingleDf)): DataFrame = {
    val shAll = shingleSet(docs)
    val sh = maxShingleDf.fold(shAll)(cap =>
      graft.ops.Caching.capByFrequency(shAll, col("s"), cap))
    val inter = sh.as("x").join(sh.as("y"),
        col("x.s") === col("y.s") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("n_int"))
    // sizes of the (capped) sets the intersection was counted over
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    inter
      .join(sizes.select(col("doc_id").as("a"), col("n").as("n_a")), "a")
      .join(sizes.select(col("doc_id").as("b"), col("n").as("n_b")), "b")
      .select(jaccardCols: _*)
      .filter(col("jaccard") >= minJaccard)
  }

  /** The exact-Jaccard verifier: for candidate pairs `(a, b)`, a's
    * shingle array in `shA` and b's in `shB` (both `(doc_id, sh)`)
    * joined onto the pair, intersected in the row — (a, b, n_int, n_a,
    * n_b, jaccard) for pairs sharing ≥1 shingle. Every MinHash near-dup
    * operator verifies here, so a pair scores bit-identically whichever
    * operator finds it. `cand ⋈ shA(a) ⋈ shB(b)` is the whole plan: the
    * candidate joins carry one row per pair, nothing is aggregated.
    * The arrays are distinct per doc, so `size(array_intersect)` is
    * the set intersection.
    *
    * Evaluation and cache contract of the public near-dup operators:
    *  - lazy, nothing cached: [[minhash]], [[minhashBands]],
    *    [[ngramJaccardPairs]];
    *  - eager, returning a materialized result that is the one cache
    *    scope left behind — the caller `unpersist`s it:
    *    [[minhashLshPairs]], [[nearDupClusters]], [[nearDupKeepBest]],
    *    [[incrementalDedup]], [[incrementalDedupOnSignatures]],
    *    [[decontaminateFuzzy]] (and the per-batch frames of
    *    [[graft.streaming.Streams.nearDupStreamAgainstSignatures]]);
    *  - eager, leaving nothing cached: the store writers
    *    [[saveSignatures]] and [[addSignatures]].
    */
  private def jaccardOf(cand: DataFrame, shA: DataFrame, shB: DataFrame): DataFrame =
    cand.select(col("a"), col("b"))
      .join(shA.select(col("doc_id").as("a"), col("sh").as("sa")), "a")
      .join(shB.select(col("doc_id").as("b"), col("sh").as("sb")), "b")
      .select(col("a"), col("b"),
        size(array_intersect(col("sa"), col("sb"))).cast("long").as("n_int"),
        size(col("sa")).cast("long").as("n_a"), size(col("sb")).cast("long").as("n_b"))
      .filter(col("n_int") >= 1)
      .select(jaccardCols: _*)

  /** The verifier's output columns over (a, b, n_int, n_a, n_b): the
    * ratio is long÷long, one definition for both verifiers.
    */
  private def jaccardCols: Seq[org.apache.spark.sql.Column] =
    Seq(col("a"), col("b"), col("n_int"), col("n_a"), col("n_b"),
      (col("n_int") / (col("n_a") + col("n_b") - col("n_int"))).as("jaccard"))

  /** Connected components over an undirected pair graph `(a, b)` by
    * alternating large-star/small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14):
    *
    *  - large-star: every node links its strictly-larger neighbors to
    *    the minimum of its neighborhood (incl. itself);
    *  - small-star: with edges oriented larger→smaller, every node
    *    re-links itself and its neighbors to the neighborhood minimum.
    *
    * Both steps preserve connectivity; the fixpoint is a star per
    * component centered on the component minimum, reached in
    * O(log²) rounds — independent of component diameter, unlike plain
    * min-label propagation. Each round is ONE job of
    * [[graft.ops.Caching.iterate]]: a [[graft.ops.Caching.cut]]
    * (constant-depth lineage, no per-round plan growth) whose job also
    * observes the (count, xor-of-row-hashes) convergence signature;
    * the previous round is released immediately.
    *
    * Returns the star edges `(u, v)` = (member, component-min), one row
    * per non-minimum member; singletons are absent.
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 30): DataFrame =
    connectedComponentsWithStats(pairs, maxIters)._1

  /** [[connectedComponents]] plus contraction telemetry: per-round
    * canonical edge counts (element 0 = the input edge count after
    * canonicalization, so rounds-to-converge = stats.length - 1). Each
    * round is also logged at INFO — on a multi-hour 100 TB contraction
    * this is the operator's only live progress signal.
    */
  def connectedComponentsWithStats(pairs: DataFrame, maxIters: Int = 30)
      : (DataFrame, Seq[Long]) = {
    def canon(df: DataFrame): DataFrame = df
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    // per-u neighbor min as a map-side-combined aggregate + join-back,
    // NOT a u-keyed window: star contraction's own fixed point turns
    // every component into a star around its min label, so the hub's
    // partition IS the whole component — a window would buffer it on
    // one task every round, with the skew GROWING as contraction
    // succeeds (the round-8 verdict #3 idiom applied where the giant
    // group is guaranteed, not adversarial). The double reference to
    // `nbrs` is cheap: it derives from the round's cut and
    // identical branches share exchanges via reuse.
    def starMin(nbrs: DataFrame): DataFrame = {
      val mins = nbrs.groupBy(col("u")).agg(min(col("v")).as("__mv"))
      nbrs.join(mins, Seq("u"))
        .withColumn("m", least(col("u"), col("__mv"))).drop("__mv")
    }

    // the signature: `bit_xor` over `xxhash64` is order-independent
    // and cannot overflow; with the row count it is the fixed-point test
    val (last, rounds) = Caching.iterate("connectedComponents",
        canon(pairs.select(col("a").as("u"), col("b").as("v"))), maxIters,
        sig = Seq(expr("bit_xor(xxhash64(u, v))"))) { edges =>
      // large-star over both orientations: emit (v, m) for v > u
      val nbrs = edges.unionByName(edges.select(col("v").as("u"), col("u").as("v")))
      val ls = canon(starMin(nbrs).filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")))
      // small-star over larger→smaller edges: emit (v, m) ∪ {(u, m)}
      val ss = starMin(ls)
      Some(canon(ss.select(col("v").as("u"), col("m").as("v"))
        .unionByName(ss.select(col("u"), col("m").as("v")).distinct())))
    }
    // unconverged (the loop logged it): labels may split large
    // components, but collapse to one star edge per node so downstream
    // joins keep their one-row-per-doc contract
    val stars = if (rounds.last.converged) last
      else last.groupBy(col("u")).agg(min(col("v")).as("v"))
    (stars, rounds.map(_.rows))
  }

  /** Near-duplicate clusters from a precomputed pair graph `(a, b)`:
    * connected components labeled by the minimum doc_id of each
    * component. Accepting the pair graph lets callers reuse the output
    * of [[minhashLshPairs]] (or [[simhashPairs]], or any edge source)
    * instead of recomputing it. Output: (doc_id, cluster_id, keep).
    *
    * Eager; the result is the one cache scope. Its lineage reads the
    * contraction's last [[graft.ops.Caching.cut]], released before
    * returning: set a checkpoint dir and the result recomputes after a
    * lost block.
    */
  def clustersFromPairs(docs: DataFrame, pairs: DataFrame, maxIters: Int = 30): DataFrame =
    labelComponents(docs, pairs, maxIters, "doc_id", "cluster_id", "keep")

  /** [[clustersFromPairs]] with its three output columns named by the
    * caller, so a renamed result ([[graft.ops.Graph.hostClusters]]) is
    * still the one cache scope.
    */
  private[graft] def labelComponents(docs: DataFrame, pairs: DataFrame, maxIters: Int,
      id: String, label: String, canonical: String): DataFrame = {
    val stars = connectedComponents(pairs, maxIters)
    val labels = docs.select(col("doc_id"))
      .join(stars.withColumnRenamed("u", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("v"), col("doc_id")).as("cluster_id"))
    materialized(
      labels.select(col("doc_id").as(id), col("cluster_id").as(label),
        (col("doc_id") === col("cluster_id")).as(canonical))) {
      releaseCheckpoint(stars)
    }
  }

  /** Near-duplicate clusters over the MinHash-LSH pair graph at
    * `minJaccard` — the canonical "keep one per cluster" dedup output.
    * Composition of [[minhashLshPairs]] and [[clustersFromPairs]].
    * Eager; the caller unpersists the result (see [[jaccardOf]]).
    */
  def nearDupClusters(docs: DataFrame, minJaccard: Double = 0.7, maxIters: Int = 30): DataFrame = {
    val pairs = minhashLshPairs(docs)
    val out = clustersFromPairs(docs,
      pairs.filter(col("jaccard") >= minJaccard).select(col("a"), col("b")), maxIters)
    pairs.unpersist(false)
    out
  }

  /** Best-copy selection over NEAR-dup clusters — [[keepBest]]'s rule
    * applied to [[nearDupClusters]]' components: within each cluster
    * the keeper is the quality argmax (ties → lower doc_id), not the
    * min-id. This is what a production near-dedup pass actually keeps
    * (SemDeDup/NearDup retain the best exemplar, and near-duplicates
    * genuinely DIFFER in quality — truncation, boilerplate — unlike
    * exact copies). Composition: the cluster labels from the pair
    * graph, one quality pass, then the cluster argmax as a
    * `groupBy(cluster_id).agg(max(struct(quality, −id)), count)`
    * partial aggregate joined back — NOT a cluster-keyed window.
    * Near-dup clusters are exactly where degenerate giants live (one
    * boilerplate template → a 10⁶-member component); the map-side
    * combine bounds that cluster at one row per partition before the
    * exchange, where a window would buffer-and-sort the whole cluster
    * on one task (round-8 verdict #3). The cluster labels are cached
    * by [[clustersFromPairs]], so the two references cost one
    * contraction. Eager; the caller unpersists the result (see
    * [[jaccardOf]]).
    */
  def nearDupKeepBest(docs: DataFrame, minJaccard: Double = 0.7,
      maxIters: Int = 30): DataFrame = {
    // tokenize ONCE (r16): the shingle chain under [[nearDupClusters]]
    // and the quality pass each derive `toks` from `text` when absent,
    // so the raw-docs call paid TWO full corpus tokenizes. Cache the
    // tokenized frame only when this call created the column — a
    // caller passing a pre-tokenized frame owns its own cache scope
    // (pipeline_clean's toked cache must not be unpersisted from here).
    val ownsToked = !docs.columns.contains("toks")
    val toked =
      if (ownsToked) withToks(docs).persist(StorageLevel.MEMORY_AND_DISK)
      else docs
    val cl = nearDupClusters(toked, minJaccard, maxIters)
    val clusters = cl.select(col("doc_id"), col("cluster_id"))
    val q = graft.text.TextAnalysis.quality(toked)
      .select(col("doc_id"), col("quality_score"))
    // labeled feeds both the argmax aggregate and the join-back —
    // cache it or the quality pass (a full tokenize of the corpus)
    // runs twice (r15)
    val labeled = clusters.join(q, Seq("doc_id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val best = labeled.groupBy(col("cluster_id")).agg(
      count(lit(1)).as("cluster_size"),
      max(struct(col("quality_score"), (-col("doc_id")).as("nid"))).as("best"))
      .select(col("cluster_id"), col("cluster_size"),
        (-col("best").getField("nid")).as("keeper_id"))
    val out = labeled.join(best, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("quality_score"),
        col("cluster_size"), col("keeper_id"))
      .withColumn("keep", col("doc_id") === col("keeper_id"))
    // labeled is cached, so the cluster-label cache can release with
    // it — the materialized result is the one cache scope left behind
    materialized(out) {
      labeled.unpersist(false); cl.unpersist()
      if (ownsToked) toked.unpersist(false)
    }
  }

  /** Incremental dedup — the production ingest shape: flag each BATCH
    * document that duplicates the EXISTING corpus, without re-deduping
    * the corpus against itself (reference analogue: querying a
    * persisted index with a new batch, core/main.py query-after-load).
    *
    * Exact: the batch fingerprint exists in the corpus (one semi-join
    * shuffle on fingerprint). Near: the batch doc shares a minhash
    * band bucket with ≥1 corpus doc (band equi-join — batch×corpus
    * never cross-joins) and the best such candidate verifies at
    * exact Jaccard ≥ `minJaccard` (tie-break: highest jaccard, then
    * smallest corpus doc_id). Output one row per batch doc:
    * (doc_id, exact_dup, near_dup, best_match, best_jaccard, keep).
    * Eager; the caller unpersists the result (see [[jaccardOf]]).
    *
    * At 100 TB the corpus side's signatures/bands come from a
    * persisted index (compute once, reuse per batch) — this method
    * recomputes them for self-containedness; the band join and
    * verification touch only batch-collided docs either way.
    */
  def incrementalDedup(corpus: DataFrame, batch: DataFrame,
      minJaccard: Double = 0.7): DataFrame = {
    // ONE tokenization pass on the corpus side feeds the exact
    // fingerprints, the band signatures and the candidates' shingle
    // arrays (withToks trusts precomputed toks)
    val tokC = withToks(corpus).select(col("doc_id"), col("toks"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    incrementalFlags(batch, fingerprintsOf(tokC), bandsOf(shingleArrays(tokC)),
      ids => shingleArrays(onlyIds(tokC, ids)), minJaccard) { tokC.unpersist(false) }
  }

  /** Distinct content fingerprints of a (doc_id, toks) frame. */
  private def fingerprintsOf(tok: DataFrame): DataFrame =
    tok.select(fingerprintOfTokens(col("toks")).as("fingerprint")).distinct()

  /** The ingest core shared by [[incrementalDedup]] (corpus signatures
    * recomputed in-plan) and [[incrementalDedupOnSignatures]] (corpus
    * signatures read from a persisted [[saveSignatures]] table — the
    * production shape): one definition, so the two tiers cannot drift.
    * `corpusShinglesFor(candidateIds)` supplies the corpus shingle
    * arrays of the band-collided docs for the exact-Jaccard verify, so
    * both paths shingle (and the persisted one tokenizes) ONLY those
    * docs.
    */
  private def incrementalFlags(batch: DataFrame, corpusFp: DataFrame,
      corpusBands: DataFrame, corpusShinglesFor: DataFrame => DataFrame,
      minJaccard: Double)(releaseCorpus: => Unit): DataFrame = {
    val tokB = withToks(batch).select(col("doc_id"), col("toks"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val exact = tokB
      .select(col("doc_id"), fingerprintOfTokens(col("toks")).as("fingerprint"))
      .join(corpusFp, Seq("fingerprint"), "left_semi")
      .select(col("doc_id"), lit(true).as("exact_dup"))
    val shB = shingleArrays(tokB)
    val cand = collisionPairs(bandsOf(shB), corpusBands)
    // cand has two readers, the corpus-id prune and the verifier: its
    // batch-sized subtree reruns, which measured cheaper than a cache
    // (one more stage and job per call)
    val near = jaccardOf(cand, shB,
        corpusShinglesFor(cand.select(col("b").as("doc_id")).distinct()))
      .filter(col("jaccard") >= minJaccard)
      .groupBy(col("a"))
      .agg(max(struct(col("jaccard"), (-col("b")).as("neg_b"), col("b"))).as("m"))
      .select(col("a").as("doc_id"), lit(true).as("near_dup"),
        col("m.b").as("best_match"), col("m.jaccard").as("best_jaccard"))
    val out = batch.select(col("doc_id"))
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("exact_dup"), lit(false)).as("exact_dup"),
        coalesce(col("near_dup"), lit(false)).as("near_dup"),
        col("best_match"), col("best_jaccard"),
        (!(coalesce(col("exact_dup"), lit(false)) ||
          coalesce(col("near_dup"), lit(false)))).as("keep"))
    materialized(out) { tokB.unpersist(false); releaseCorpus }
  }

  /** The signature-store writer behind [[saveSignatures]] and
    * [[addSignatures]]: `write(df, suffix, keys)` stores `df` as table
    * `table + suffix` keyed on `keys`. One cached tokenize pass feeds
    * two concurrent writes with no warm-up count.
    */
  private def writeSignatures(docs: DataFrame, table: String,
      write: (DataFrame, String, Seq[String]) => Unit): Unit = {
    val tok = withToks(docs).select(col("doc_id"), col("toks"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try graft.ops.Concurrency.all(
        () => write(fingerprintsOf(tok), "_fp", Seq("fingerprint")),
        () => write(bandsOf(shingleArrays(tok)), "", Seq("band", "band_hash")))
    finally tok.unpersist(false)
  }

  /** Persist the corpus-side dedup signatures ONCE — fingerprints as a
    * `<table>_fp` catalog table bucketed by fingerprint, minhash bands
    * as `<table>` bucketed + sorted on (band, band_hash) — so a batch
    * ingest never recomputes corpus minhashes (the round-3 gap: the
    * docstring promised this shape but [[incrementalDedup]] recomputed
    * per batch). The bucketed layouts make BOTH corpus-side joins of an
    * ingest exchange-free after reload: the exact semi-join co-locates
    * on fingerprint, the band collision join on (band, band_hash).
    * Eager; leaves nothing cached (see [[jaccardOf]]).
    */
  def saveSignatures(corpus: DataFrame, table: String, nBuckets: Int = 32,
      path: Option[String] = None): Unit =
    writeSignatures(corpus, table, (df, suffix, keys) =>
      graft.ops.Compaction.saveBucketed(df, table + suffix, nBuckets,
        path.map(_ + suffix), keys: _*))

  /** Restore (fingerprints, bands) from a [[saveSignatures]] table pair. */
  def loadSignatures(spark: org.apache.spark.sql.SparkSession,
      table: String): (DataFrame, DataFrame) =
    (spark.table(s"${table}_fp"), spark.table(table))

  /** Append a batch's signatures to a [[saveSignatures]] store — the
    * write-back that closes the production ingest loop:
    * [[incrementalDedupOnSignatures]] flags a batch against the
    * store, the caller keeps the survivors, and appending THEIR
    * signatures makes the next batch dedup against corpus ∪
    * survivors — no store rebuild, the add touches only the new rows.
    * Bucket counts come from the catalog (append-stable bucketing,
    * the [[graft.ann.Ivf.addToIndex]] contract). Append only
    * SURVIVORS: the fingerprint table is consumed as a set (semi-join
    * probes), so a duplicate row would not corrupt results, but it is
    * dead weight compaction has to carry. Periodic
    * [[compactSignatures]] folds append debris back to one file per
    * bucket. Eager; leaves nothing cached (see [[jaccardOf]]).
    */
  def addSignatures(spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, table: String): Unit =
    writeSignatures(batch, table,
      (df, suffix, _) => graft.ops.Compaction.appendBucketed(spark, table + suffix)(df))

  /** Compact both signature tables after repeated [[addSignatures]]
    * appends — the dedup store's quarter of the uniform at-rest
    * lifecycle (build → serve → add → compact), same as the LSH /
    * IVF / PQ index families.
    */
  def compactSignatures(spark: org.apache.spark.sql.SparkSession,
      table: String): Unit = {
    graft.ops.Compaction.rewriteBucketed(spark, table)
    graft.ops.Compaction.rewriteBucketed(spark, s"${table}_fp")
  }

  /** [[incrementalDedup]] against PERSISTED corpus signatures
    * (reference analogue: query-after-`load_from_disk`,
    * core/main.py:898): the corpus text is touched only to tokenize
    * band-collided candidate docs for the exact-Jaccard verify (a
    * candidate-id semi-join — ~|collisions| docs, not the corpus), and
    * the signature tables serve their joins bucket-local with no
    * corpus-side exchange (spec-asserted). Output ≡ [[incrementalDedup]]
    * (spec-asserted). Eager; the caller unpersists the result (see
    * [[jaccardOf]]).
    */
  def incrementalDedupOnSignatures(corpusFp: DataFrame, corpusBands: DataFrame,
      corpus: DataFrame, batch: DataFrame, minJaccard: Double = 0.7): DataFrame =
    incrementalFlags(batch, corpusFp.select(col("fingerprint")), corpusBands,
      ids => shingleArrays(onlyIds(corpus, ids)), minJaccard)(())

  /** Bloom-gated incremental exact dedup: flag new-batch docs whose
    * normalized-text fingerprint already exists in the corpus, with a
    * broadcast Bloom filter in front of the verify join.
    *
    * The 100 TB shape this exists for: the corpus fingerprint set is
    * far too large to broadcast exactly, and a batch→corpus shuffle
    * semi-join re-shuffles the ENTIRE corpus fingerprint column for
    * every (possibly tiny) ingest batch. A Bloom filter is a
    * fixed-size, mergeable summary of the corpus side (built with one
    * `treeAggregate` pass — `df.stat.bloomFilter` — sized by
    * expectedItems/fpp, e.g. ~1.2 GB for 10⁹ items at 1% fpp, tractable
    * to broadcast where the raw 8 B×10⁹ fingerprint set plus hash-set
    * overhead is not). Probing is map-side on the batch; only
    * bloom-positive rows (true dups + ~fpp false positives) enter the
    * exact semi-join, so the join's batch side shrinks from |batch| to
    * ~|dups|. Bloom guarantees no false NEGATIVES: a `false` probe is
    * definitively new, which is what makes the gate sound.
    *
    * The probe is the codegen
    * [[graft.expressions.BloomMightContain]] expression (the filter
    * rides as a broadcast handle, one native call per row inside the
    * whole-stage-codegen projection — no UDF on the ingest path).
    *
    * Output per batch doc: (doc_id, bloom_hit, exact_dup, keep);
    * `bloom_hit && !exact_dup` rows are the measured false positives.
    */
  def bloomDedup(corpus: DataFrame, batch: DataFrame,
      fpp: Double = 0.01): DataFrame = {
    def fpOf(d: DataFrame): DataFrame = withToks(d)
      .select(col("doc_id"), fingerprintOfTokens(col("toks")).as("fingerprint"))
    // the corpus fingerprint projection feeds THREE actions (the sizing
    // count, the bloomFilter treeAggregate, the verify semi-join) —
    // cache it for the operator's scope or the corpus tokenizes thrice
    val corpusFp = fpOf(corpus).persist(StorageLevel.MEMORY_AND_DISK)
    val expected = math.max(corpusFp.count(), 64L)
    val bloom = corpusFp.stat.bloomFilter("fingerprint", expected, fpp)
    val bc = corpus.sparkSession.sparkContext.broadcast(bloom)
    val batchFp = fpOf(batch).withColumn("bloom_hit",
      graft.GraftFunctions.bloom_might_contain(col("fingerprint"), bc))
    val verified = batchFp.filter(col("bloom_hit"))
      .join(corpusFp.select(col("fingerprint")).distinct(),
        Seq("fingerprint"), "left_semi")
      .select(col("doc_id"), lit(true).as("exact_dup"))
    val out = batchFp.select(col("doc_id"), col("bloom_hit"))
      .join(verified, Seq("doc_id"), "left")
      .select(col("doc_id"), col("bloom_hit"),
        coalesce(col("exact_dup"), lit(false)).as("exact_dup"))
      .withColumn("keep", !col("exact_dup"))
    // release the broadcast's executor copies once the output is
    // materialized (unpersist, NOT destroy: the cached result's lineage
    // still references the broadcast, so a destroy would poison task
    // serialization for any later consumer — if an evicted block ever
    // recomputes, the driver re-ships the filter on demand)
    materialized(out) { corpusFp.unpersist(false); bc.unpersist(false) }
  }

  val SimhashBits = 32

  /** Per-bit ±1 vote aggregates over a hashed column `h` — the SimHash
    * vote stage, shared with the frame-grain variant
    * ([[graft.multimodal.Binary.simFingerprint]]) so the vote/tie
    * convention cannot drift between operators (both oracles encode
    * `s_b > 0 → bit set`, ties → 0).
    */
  private[graft] def simhashVoteAggs: Seq[org.apache.spark.sql.Column] =
    (0 until SimhashBits).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)).as(s"s$b")
    }

  /** Combine the `s0..s31` vote columns into the fingerprint long. */
  private[graft] def simhashCombineCol: org.apache.spark.sql.Column =
    (0 until SimhashBits)
      .map(b => when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)

  /** 32-bit SimHash fingerprint: per token (with multiplicity) each
    * hash bit votes ±1; fingerprint bit = sign of the vote sum.
    */
  def simhash(docs: DataFrame): DataFrame = {
    val tok = withToks(docs).select(col("doc_id"), explode(col("toks")).as("t"))
    val h = tok.withColumn("h", hex64(concat(lit("t|"), col("t"))))
    val sums = simhashVoteAggs
    val bits = h.groupBy(col("doc_id")).agg(sums.head, sums.tail: _*)
    bits.select(col("doc_id"), simhashCombineCol.as("simhash"))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming,
    * blocked on 4 byte-bands (a pair within Hamming ≤ 3 of a 32-bit
    * fingerprint must agree on ≥1 byte; wider distances may be missed
    * — that is the LSH trade-off, tunable via band count).
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 6): DataFrame = {
    // one row per doc; cached so the band self-join doesn't recompute
    // the 32-aggregate fingerprint pipeline for each side
    val sims = simhash(docs).persist(StorageLevel.MEMORY_AND_DISK)
    val bandCols = (0 until 4).map(j => shiftright(col("simhash"), 8 * j).bitwiseAND(lit(255L)))
    val bands = sims.select(col("doc_id"), col("simhash"),
      posexplode(array(bandCols: _*)).as(Seq("band", "bv")))
    val pairs = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming) // filter before the distinct shuffle
      .distinct()
    materialized(pairs) { sims.unpersist(false) }
  }

  /** Shingle width for [[decontaminate]] — real pipelines use 8-13
    * word n-grams (GPT-3 appendix C uses 13); 5 keeps overlap
    * non-vacuous on the short synthetic test documents. Mirrored in
    * the DuckDB oracle.
    */
  val DecontaminationN = 5

  /** Benchmark decontamination — flag TRAINING documents that share
    * any word `n`-gram with the EVALUATION set (the GPT-3 appendix C /
    * PaLM overlap rule that keeps test benchmarks out of the training
    * corpus). One row per training doc: its distinct n-gram count, how
    * many of those n-grams appear anywhere in the eval set, and the
    * contamination flag.
    *
    * Scale shape: the eval side is benchmarks — thousands of docs, not
    * terabytes — so its distinct hashed n-grams collapse to a small
    * relation that AQE broadcast-joins against the training n-gram
    * stream (a map-side probe of the 100 TB side; n-grams are joined
    * as 60-bit hashes, never strings, so the probe table stays
    * kilobytes per thousand eval docs). Training docs with fewer than
    * `n` tokens have zero n-grams and report 0/clean.
    */
  def decontaminate(train: DataFrame, eval: DataFrame,
      n: Int = DecontaminationN): DataFrame = {
    val h = hex64(concat(lit("dc|"), col("s")))
    val trGrams = shingleSet(train, n).select(col("doc_id"), h.as("g"))
    val evGrams = shingleSet(eval, n).select(h.as("g")).distinct()
    val perDoc = withToks(train).select(col("doc_id"),
      size(graft.GraftFunctions.shinglesOfTokens(col("toks"), n)).cast("long").as("n_shingles"))
    // shinglesOfTokens is distinct per doc, so count(*) = distinct hits
    val hits = trGrams.join(evGrams, Seq("g"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_contaminated"))
    perDoc.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        (coalesce(col("n_contaminated"), lit(0L)) > 0).as("contaminated"))
  }

  /** FUZZY benchmark decontamination — flag training documents that
    * NEAR-duplicate any eval document (MinHash-band candidates +
    * exact-Jaccard verify at `minJaccard`), the Llama/GPT-4-style
    * similarity rule that catches paraphrased or lightly-edited
    * benchmark leakage the exact n-gram rule ([[decontaminate]])
    * misses. Identical-text leakage reports as `exact_contaminated`.
    *
    * This IS [[incrementalDedup]] with the eval set as the "corpus" —
    * one definition (the batch→corpus band join never cross-joins, the
    * eval side is benchmark-sized and broadcastable, verification
    * touches only band-collided train docs), re-surfaced under the
    * decontamination contract so the two use cases cannot drift.
    * Output one row per training doc: (doc_id, exact_contaminated,
    * near_contaminated, best_match = the closest eval doc,
    * best_jaccard, keep). Eager; the caller unpersists the result (see
    * [[jaccardOf]]).
    */
  def decontaminateFuzzy(train: DataFrame, eval: DataFrame,
      minJaccard: Double = 0.5): DataFrame = {
    val flags = incrementalDedup(eval, train, minJaccard)
    // the renamed frame is the scope: unpersist on a projection does
    // not reach the cache under it
    materialized(flags.select(col("doc_id"),
        col("exact_dup").as("exact_contaminated"),
        col("near_dup").as("near_contaminated"),
        col("best_match"), col("best_jaccard"), col("keep"))) {
      flags.unpersist(false)
    }
  }

  /** Span length (in tokens) for substring-level dedup: a duplicated
    * passage must be at least this long to be detected/removed. Real
    * pipelines use ~50 BPE tokens (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better" — the ExactSubstr
    * pass); 10 word-tokens is the same design scaled to the test
    * corpus's short documents. Mirrored into the DuckDB oracle.
    */
  val DupSpanN = 10

  /** Positional n-gram hash stream + per-doc sorted duplicate-window
    * starts — the shared core of [[dupSpans]] / [[removeDupSpans]].
    *
    * A gram is duplicated when its 60-bit hash occurs MORE THAN ONCE
    * corpus-wide — across documents or twice in the same document
    * (ExactSubstr semantics: any repeated substring counts, unlike the
    * doc-level dedups above). Every duplicated substring of ≥ n tokens
    * contains at least one duplicated n-gram, and the union of the
    * duplicated grams' n-token windows is exactly the token span such
    * a substring covers — so window-union coverage (computed by the
    * callers from the starts array) is the ExactSubstr span measure
    * without a suffix array, which does not distribute.
    *
    * Scale (100 TB): the gram stream is one narrow projection per
    * token (doc_id, pos, hash — no strings past the hash). It feeds
    * two consumers — the global duplicate-hash aggregate (map-side
    * partial count, one row per hash per partition enters the shuffle)
    * and the occurrence semi-join — so it is persisted once
    * (MEMORY_AND_DISK ≈ the "write the gram table once" pass real
    * pipelines run; released by the caller via the materialized
    * scope). The semi-join emits each occurrence AT MOST ONCE — a
    * boilerplate gram shared by 10⁶ docs fans out nothing (contrast
    * the pair-join blow-up [[capByFrequency]] guards elsewhere) — and
    * is AQE-skew-eligible on the hash. The per-doc window-union fold
    * is a narrow array computation after one groupBy(doc_id).
    */
  private def dupGramStarts(docs: DataFrame, n: Int): (DataFrame, DataFrame, DataFrame) = {
    // one tokenize pass, widened so the explode+hash stage isn't pinned
    // to a tiny file's single scan partition; persisted because both the
    // gram stream and the callers' per-doc reconstruction read it
    val t = graft.ops.Partitions.widened(
      withToks(docs).select(col("doc_id"), col("toks")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val grams = t
      .select(col("doc_id"),
        posexplode(graft.GraftFunctions.shinglesOfTokens(col("toks"), n, distinct = false)))
      .toDF("doc_id", "pos", "s")
      .select(col("doc_id"), col("pos"), hex64(concat(lit("ds|"), col("s"))).as("g"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val dup = grams.groupBy(col("g")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select(col("g"))
    val starts = grams.join(dup, Seq("g"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_grams"),
        sort_array(collect_list(col("pos"))).as("starts"))
    (t, grams, starts)
  }

  /** Union coverage (token count) of n-wide windows at sorted
    * `starts`: n for the first window plus min(n, gap) per successive
    * start — integer-exact, so the DuckDB oracle matches bitwise.
    */
  private def windowUnionTokens(starts: org.apache.spark.sql.Column, n: Int) =
    lit(n.toLong) + aggregate(
      zip_with(slice(starts, lit(2), size(starts) - 1),
        slice(starts, lit(1), size(starts) - 1),
        (b, a) => least(lit(n), b - a)),
      lit(0L), (acc, x) => acc + x)

  /** ExactSubstr-style duplicated-span accounting: per document, how
    * many positional n-grams are duplicated corpus-wide and how many
    * tokens their window-union covers (`dup_tokens`, the span an
    * ExactSubstr pass would remove), plus the covered fraction.
    * Documents with fewer than n tokens have no grams and report 0.
    */
  def dupSpans(docs: DataFrame, n: Int = DupSpanN): DataFrame = {
    val (t, grams, starts) = dupGramStarts(docs, n)
    val base = t.select(col("doc_id"),
      size(col("toks")).cast("long").as("n_tokens"))
    val out = base.join(starts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
        coalesce(when(col("starts").isNotNull, windowUnionTokens(col("starts"), n)),
          lit(0L)).as("dup_tokens"))
      .withColumn("dup_fraction",
        when(col("n_tokens") > 0,
          col("dup_tokens").cast("double") / col("n_tokens").cast("double"))
          .otherwise(lit(0.0)))
    materialized(out) { grams.unpersist(); t.unpersist() }
  }

  /** ExactSubstr-style span REMOVAL: rewrites each document with every
    * duplicated window's tokens dropped (from ALL copies, per Lee et
    * al. — a passage seen twice vanishes everywhere; doc-level dedup
    * above is what keeps one canonical copy). Reconstruction joins the
    * kept tokens with single spaces — original whitespace/case inside
    * kept spans is already normalized by the tokenizer, which is the
    * contract every hash in this suite shares.
    *
    * The kept-token filter tests each token index against the
    * duplicate starts (O(tokens × dup-starts) per doc, narrow); dup
    * density is low in a once-deduplicated corpus, and a pathological
    * all-duplicate doc costs O(tokens²) only locally to that row.
    */
  def removeDupSpans(docs: DataFrame, n: Int = DupSpanN): DataFrame = {
    val (t, grams, starts) = dupGramStarts(docs, n)
    val kept = filter(col("toks"), (tok, i) =>
      !exists(col("starts"), s => i >= s && i < s + n))
    val out = t.join(starts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        when(col("starts").isNotNull, kept).otherwise(col("toks")).as("kept"))
      .select(col("doc_id"), col("n_tokens"),
        size(col("kept")).cast("long").as("n_kept"),
        array_join(col("kept"), " ").as("clean_text"))
    materialized(out) { grams.unpersist(); t.unpersist() }
  }
}
