package graft.ann

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftFunctions.{cosine_sim, l2_normalize, top_k_by_score}

/** Product quantization (Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011) — the classic middle ground
  * of the compression ladder: split the (L2-normalized) vector into
  * `m` subspaces, learn a `k`-centroid codebook per subspace (one
  * fixed-point Lloyd loop for all of them), store each vector as `m`
  * small codes (m·log₂k bits; m=8, k=16 → 4 bytes per 64-dim vector,
  * a 64× shrink), and serve cosine ANN by Asymmetric Distance
  * Computation: the query stays full-precision, each candidate's
  * score is `Σ_s dot(q_s, codebook_s[code_s])` — m table lookups per
  * candidate, no vector arithmetic at all in the scan.
  *
  * Scale shape: training is one aggregate per Lloyd round for all m
  * subspaces (offline, on a corpus sample); encoding explodes the
  * plan-literal codebook + per-(vector, subspace) `min(struct)` argmin — the map-side
  * partial-aggregation idiom shared with [[Ivf.assign]], never a
  * window; serving scans only the 4-byte code arrays and reads the
  * per-query lookup table from a broadcast. Like [[Quantize]], exact
  * rerank touches prefilterK × queries full vectors only.
  *
  * Rows-only at the driver gate: no SQL oracle mirrors the Lloyd
  * rounds yet. Recall, planted-copy and partition-invariance specs.
  */
object Pq {

  /** Trained codebooks: `codebooks(s)(c)` = centroid `c` of subspace
    * `s`, each of length `dSub`.
    */
  final case class PqModel(m: Int, k: Int, dSub: Int,
      codebooks: Array[Array[Array[Float]]]) {
    /** Codebook as a (subspace, code, centroid) frame for joins. */
    def frame(spark: SparkSession): DataFrame = {
      import spark.implicits._
      (for {
        s <- codebooks.indices
        c <- codebooks(s).indices
      } yield (s, c, codebooks(s)(c).toSeq)).toDF("s", "code", "centroid")
    }
  }

  /** Fit the per-subspace codebooks ([[fitCodebooks]]) over the
    * L2-normalized corpus. `m` must divide the dimension. `maxIter` is
    * capped low by default: PQ codebooks are a quantization grid, not a
    * clustering result — centroid movement past the first few Lloyd
    * rounds changes ADC recall marginally while costing a sample pass
    * per round.
    *
    * `sampleFrac` (default 0.1) trains on a DETERMINISTIC corpus
    * sample (`vec_id % round(1/frac) == 0`) — the standard PQ
    * practice: training cost is per-sample, serving cost per-corpus,
    * and a quantization grid fitted on 10% of the data is
    * recall-indistinguishable from the full fit (spec'd in
    * TextKnnSpec). Pass 1.0 for the full-corpus fit. The sample must
    * still hold ≥ k vectors (refused loudly below otherwise).
    */
  def train(emb: DataFrame, m: Int = 8, k: Int = 16,
      maxIter: Int = 10, sampleFrac: Double = 0.1): PqModel =
    fitCodebooks(
      sample(emb, sampleFrac, k)
        .select(col("vec_id"), l2_normalize(col("embedding")).as("nv"))
        .filter(col("nv").isNotNull),
      m, k, maxIter, sampleFrac)

  /** [[train]] on CELL RESIDUALS (x̂ − ĉ, both unit-normalized): the
    * codebook for [[encodeInCells]]`(residual = true)` — Jégou et al.
    * §V's standard refinement. Residuals concentrate around the origin
    * (most of each vector's direction is explained by its cell
    * centroid), so a grid fitted on them spends its k·m cells on the
    * part the coarse quantizer could NOT express — the recall gain the
    * residual path exists for. Train and encode must share the SAME
    * `centroids` table, and serving must pass
    * [[pqTopKOnCells]]`(residual = true)` so the probe's centroid
    * similarity is added back to the ADC score.
    */
  def trainResidual(emb: DataFrame, centroids: DataFrame, m: Int = 8,
      k: Int = 16, maxIter: Int = 10, sampleFrac: Double = 0.1): PqModel = {
    val sampled = sample(emb, sampleFrac, k)
    fitCodebooks(
      residualVectors(Ivf.assign(sampled, centroids), sampled, centroids)
        .select(col("vec_id"), col("nv")),
      m, k, maxIter, sampleFrac)
  }

  /** Per-(vector, cell) unit-sphere residuals `nv = x̂ − ĉ` over an
    * assignment frame `(vec_id, cell)` — the decomposition the residual
    * path rests on: `dot(q̂, x̂) = dot(q̂, ĉ) + dot(q̂, x̂ − ĉ)`, so codes
    * fitted/encoded on `nv` plus the probe's centroid similarity
    * (which [[pqTopKOnCells]]'s probe step computes anyway)
    * reconstruct the cosine score up to quantization error. Broadcast
    * centroid join (the side is O(nCells) by construction); rows whose
    * embedding or centroid has zero norm normalize to NULL and are
    * filtered like [[train]].
    */
  private def residualVectors(assigned: DataFrame, emb: DataFrame,
      centroids: DataFrame,
      broadcastCentroids: Option[Boolean] = None): DataFrame = {
    val c = centroids.select(col("vec_id").as("cell"),
      l2_normalize(col("embedding")).as("c_nv"))
    assigned.select(col("vec_id"), col("cell"))
      .join(emb.select(col("vec_id"), l2_normalize(col("embedding")).as("x_nv"))
        .filter(col("x_nv").isNotNull), Seq("vec_id"))
      .join(graft.ops.Broadcasting.maybeBroadcast(c, broadcastCentroids), Seq("cell"))
      .select(col("vec_id"), col("cell"),
        zip_with(col("x_nv"), col("c_nv"), (a, b) => a - b).as("nv"))
      .filter(col("nv").isNotNull)
  }

  /** Deterministic training sample ([[graft.ops.Sampling.idGate]]). */
  private def sample(emb: DataFrame, sampleFrac: Double, k: Int): DataFrame = {
    require(k >= 2 && k <= 127, s"k=$k must be in [2, 127] (codes are tinyint)")
    graft.ops.Sampling.idGate(emb, "vec_id", sampleFrac)
  }

  /** The one codebook fit: Lloyd over all m subspaces at once on a
    * (vec_id, nv) frame — unit vectors ([[train]]) or cell residuals
    * ([[trainResidual]]). Init: the k sample rows first in
    * `xxhash64(vec_id)` order (ties by vec_id). E-step: [[nearestCodes]],
    * encode's own argmin. M-step: [[Centroids]]' int64 fixed-point mean
    * per ADC slot `s·k + code`; an empty code keeps its centroid. Stops
    * when a round leaves the codebook unchanged, or after `maxIter`.
    * Every step is order-independent, so the codebook is bit-identical
    * under any partitioning of the sample. The state between rounds is
    * the codebook (m·k·dSub floats on the driver), so this is a plain
    * driver loop, not [[graft.ops.Caching.iterate]], which exists to cut
    * DataFrame state.
    */
  private def fitCodebooks(vecs: DataFrame, m: Int, k: Int,
      maxIter: Int, sampleFrac: Double): PqModel = {
    // hash-partitioned by vec_id, so each round's per-(vec_id, s)
    // argmin aggregates in place and only the M-step shuffles
    val unit = vecs.repartition(col("vec_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val init = unit.orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(k)
        .select(col("nv")).collect().map(_.getSeq[Double](0).toArray)
      // a sparse or offset vec_id space can leave the modulus sample
      // short or empty, and a short codebook would silently mis-index
      // every ADC slot (tab[s·k + code]) — refuse instead
      require(init.length >= k,
        s"PQ training sample holds ${init.length} vectors (need ≥ k=$k): " +
          s"sampleFrac=$sampleFrac samples rows with vec_id % round(1/sampleFrac) == 0 — " +
          "raise sampleFrac or re-densify vec_id if the id space is sparse")
      val d = init.head.length
      require(d % m == 0, s"m=$m must divide dim=$d")
      val dSub = d / m
      var model = PqModel(m, k, dSub, Array.tabulate(m, k) { (s, c) =>
        init(c).slice(s * dSub, (s + 1) * dSub).map(_.toFloat)
      })
      var (round, moved) = (0, true)
      while (moved && round < maxIter) {
        val next = model.codebooks.map(_.map(_.clone))
        Centroids.labelMeans(nearestCodes(unit, model, Seq("vec_id"), col("sub"))
            .select((col("s") * k + col("a.code")).as("label"),
              col("a.sub").as("embedding")))
          .collect().foreach { r =>
            val slot = r.getAs[Long]("label").toInt
            next(slot / k)(slot % k)(r.getAs[Long]("i").toInt) =
              r.getAs[Double]("centroid").toFloat
          }
        moved = next.indices.exists(s => next(s).indices.exists(c =>
          !java.util.Arrays.equals(next(s)(c), model.codebooks(s)(c))))
        model = PqModel(m, k, dSub, next)
        round += 1
      }
      model
    } finally unit.unpersist(false)
  }

  /** Persist the trained codebooks as a catalog table (the fifth
    * member of the index-at-rest family — codebooks are O(m·k·dSub)
    * floats, kilobytes, but the table form keeps them on the same
    * shared filesystem/catalog as the other indexes) with (m, k,
    * d_sub) in TBLPROPERTIES.
    */
  def save(model: PqModel, spark: SparkSession, table: String,
      path: Option[String] = None): Unit = {
    graft.ops.Compaction.saveTable(model.frame(spark), table, path,
      "graft.pq.params" -> s"""{"m":${model.m},"k":${model.k},"d_sub":${model.dSub}}""")
  }

  /** Restore a [[PqModel]] from a [[save]]d table. The collect is the
    * codebook itself (m·k rows, kilobytes) — the one legitimately
    * driver-sized relation in this family.
    */
  def load(spark: SparkSession, table: String): PqModel = {
    val json = graft.ops.TableProps.get(spark, table, "graft.pq.params")
    def field(key: String): Int = graft.ops.TableProps.longField(json, key).toInt
    val (m, k, dSub) = (field("m"), field("k"), field("d_sub"))
    val cbs = Array.ofDim[Array[Float]](m, k)
    spark.table(table).collect().foreach { r =>
      cbs(r.getAs[Int]("s"))(r.getAs[Int]("code")) =
        r.getSeq[Float](r.fieldIndex("centroid")).toArray
    }
    require(cbs.forall(_.forall(_ != null)), s"table $table has missing codebook entries")
    PqModel(m, k, dSub, cbs)
  }

  /** Squared-L2 between two float arrays — built-in HOF (codegen). */
  private def l2sq(a: Column, b: Column) =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (acc, v) => acc + v)

  /** Dot product of two float arrays — built-in HOF (codegen). */
  private def dotc(a: Column, b: Column) =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** Encode each vector as its per-subspace nearest-codebook codes:
    * (vec_id, codes array<tinyint>, length m). [[nearestCodes]]'s
    * per-(vector, subspace) `min(struct(dist, code))` argmin partial
    * aggregate → positional reassembly.
    */
  def encode(emb: DataFrame, model: PqModel): DataFrame =
    encodeNv(
      emb.select(col("vec_id"), l2_normalize(col("embedding")).as("nv"))
        .filter(col("nv").isNotNull),
      model, Seq("vec_id"))

  /** The shared argmin encode over a prepared `nv` frame keyed by
    * `keyCols` — `(vec_id)` for raw unit vectors ([[encode]]),
    * `(vec_id, cell)` for per-cell residuals (residual
    * [[encodeInCells]], where a multi-assigned vector has a DIFFERENT
    * residual — and so different codes — in each of its cells). Same
    * shape either way: [[nearestCodes]] → positional reassembly, never
    * a window.
    */
  private def encodeNv(vecs: DataFrame, model: PqModel,
      keyCols: Seq[String]): DataFrame = {
    val keys = keyCols.map(col)
    nearestCodes(vecs, model, keyCols)
      .groupBy(keys: _*)
      .agg(sort_array(collect_list(struct(col("s"), col("a.code").as("code")))).as("cs"))
      .select(keys :+ expr("transform(cs, x -> cast(x.code as tinyint))").as("codes"): _*)
  }

  /** The one nearest-code argmin, behind [[encode]] and the codebook
    * fit: each (key, subspace) row explodes its k centroids from the
    * plan-literal codebook into a `min(struct(dist, code, carry…))`
    * partial aggregate per (key, subspace); a distance tie goes to the
    * lower code. `carry` columns ride in `a` next to the winning code.
    */
  private def nearestCodes(vecs: DataFrame, model: PqModel,
      keyCols: Seq[String], carry: Column*): DataFrame = {
    val keys = keyCols.map(col)
    val codebooks = typedlit(model.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    vecs
      .select(keys :+ posexplode(expr(
        s"transform(sequence(0, ${model.m - 1}), s -> slice(nv, s * ${model.dSub} + 1, ${model.dSub}))"))
        .as(Seq("s", "sub")): _*)
      .select(keys ++ Seq(col("s"), col("sub"), posexplode(element_at(codebooks, col("s") + 1))
        .as(Seq("code", "centroid"))): _*)
      .groupBy(keys :+ col("s"): _*)
      .agg(min(struct(Seq(l2sq(col("sub"), col("centroid")).as("dist"), col("code")) ++
        carry: _*)).as("a"))
  }

  /** ADC top-k serving over FRESHLY ENCODED corpus codes — the
    * self-contained form: every call pays the [[encode]] pass. The
    * "index once, serve many" shape is [[saveIndex]]/[[loadIndex]] +
    * [[pqTopKOnCodes]], where the scoring scan reads only the
    * persisted m-byte code rows.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, model: PqModel,
      k: Int, prefilterK: Int,
      broadcastQueries: Option[Boolean] = None): DataFrame =
    pqTopKOnCodes(encode(corpus, model), corpus, queries, model,
      k, prefilterK, broadcastQueries)

  /** Persist codebooks AND the encoded corpus — the full PQ index at
    * rest: `<table>` = the codebook ([[save]]), `<table>_codes` = one
    * m-byte code row per vector. Serving from [[loadIndex]] never
    * re-encodes (or even reads) the full-precision corpus in the
    * scoring scan.
    */
  def saveIndex(model: PqModel, corpus: DataFrame, table: String,
      path: Option[String] = None): Unit = {
    save(model, corpus.sparkSession, table, path)
    graft.ops.Compaction.saveTable(encode(corpus, model), s"${table}_codes",
      path.map(loc => s"${loc}_codes"))
  }

  /** Restore (model, codes) from a [[saveIndex]] table pair. */
  def loadIndex(spark: SparkSession, table: String): (PqModel, DataFrame) =
    (load(spark, table), spark.table(s"${table}_codes"))

  /** Per-query ADC lookup tables: (q_id, tab) with
    * tab(s·k + code) = dot(q_s, codebook_s[code]) — m·k dot products
    * per query against the broadcast codebook, assembled in slot order.
    */
  private def adcTables(queries: DataFrame, model: PqModel): DataFrame = {
    val cb = broadcast(model.frame(queries.sparkSession))
    queries
      .select(col("vec_id").as("q_id"), l2_normalize(col("embedding")).as("nv"))
      .filter(col("nv").isNotNull)
      .select(col("q_id"), posexplode(expr(
        s"transform(sequence(0, ${model.m - 1}), s -> slice(nv, s * ${model.dSub} + 1, ${model.dSub}))"))
        .as(Seq("s", "sub")))
      .join(cb, Seq("s"))
      .select(col("q_id"), (col("s") * model.k + col("code")).as("slot"),
        dotc(col("sub"), col("centroid")).as("w"))
      .groupBy(col("q_id"))
      .agg(sort_array(collect_list(struct(col("slot"), col("w")))).as("tw"))
      .select(col("q_id"), expr("transform(tw, x -> x.w)").as("tab"))
  }

  /** ADC top-k serving from PREBUILT codes: per-query lookup tables
    * ([[adcTables]]), candidate score = the codegen
    * [[graft.expressions.AdcScore]] kernel (m table lookups per
    * candidate — the HOF fold it replaced measured interpreted
    * per-element, the IntDotProduct/HammingDistance lesson), bounded
    * TopKByScore prefilter, exact-cosine rerank of survivors (the only
    * step touching full vectors — prefilterK × queries rows). Output:
    * (q_id, rn, cand_id, sim) — the [[Knn.cosineTopK]] shape.
    *
    * This is the EXHAUSTIVE ADC form: every code row is scored against
    * every query — the declared O(n·q) baseline of the PQ family, kept
    * for small corpora and as the oracle for the cell-pruned path.
    * At scale, serve [[pqTopKOnCells]] instead (IVFADC — Jégou et al.
    * 2011 §V: ADC within probed IVF cells only).
    */
  def pqTopKOnCodes(codes: DataFrame, corpus: DataFrame, queries: DataFrame,
      model: PqModel, k: Int, prefilterK: Int,
      broadcastQueries: Option[Boolean] = None): DataFrame = {
    val qtab = adcTables(queries, model)
    val codesR = codes.select(col("vec_id").as("cand_id"), col("codes"))
    val survivors = codesR
      .crossJoin(graft.ops.Broadcasting.maybeBroadcast(qtab, broadcastQueries))
      .filter(col("q_id") =!= col("cand_id"))
      .select(col("q_id"), col("cand_id"),
        graft.GraftFunctions.adc_score(col("codes"), col("tab")).as("ascore"))
      .groupBy(col("q_id"))
      .agg(top_k_by_score(col("ascore"), col("cand_id"), prefilterK).as("pre"))
      .select(col("q_id"), explode(col("pre.id")).as("cand_id"))
    graft.ops.TopK.cosineRerank(survivors, corpus, queries, k, broadcastQueries,
      prefilterK = Some(prefilterK.toLong))
  }

  // ---- IVFADC: cell-pruned ADC serving (Jégou et al. 2011 §V) ----

  /** Encode the corpus AND assign each vector to its IVF cell in one
    * frame: (vec_id, cell, codes). The inverted-file face of the PQ
    * index — [[pqTopKOnCells]] scores ADC only inside probed cells, so
    * the 64×-compressed scan ALSO touches only nProbe/nCells of the
    * rows (compression × pruning, the composition that earns PQ its
    * 100 TB claim; the exhaustive [[pqTopKOnCodes]] scan is the form
    * the paper's own IVFADC section exists to avoid).
    *
    * Two documented encodings, one serving join shape:
    *
    *  - `residual = false` (default): codes quantize the RAW unit
    *    vector — one codebook ([[train]]) serves both the exhaustive
    *    and cell-pruned paths, probing every cell reproduces
    *    [[pqTopKOnCodes]] row-for-row (spec-asserted), the per-query
    *    ADC table is built once instead of once per probed cell, and
    *    cells can be re-centroided without re-encoding the corpus.
    *  - `residual = true`: codes quantize the CELL RESIDUAL x̂ − ĉ
    *    (Jégou et al. §V proper, [[trainResidual]] codebooks) — the
    *    grid spends its k·m cells on what the coarse quantizer could
    *    not express, the standard recall refinement. Serving must pass
    *    [[pqTopKOnCells]]`(residual = true)` (the centroid-similarity
    *    bias term); re-centroiding requires re-encoding.
    *
    * `nProbe` > 1 multi-assigns each vector to its nProbe nearest
    * cells ([[Ivf.assignProbes]] — the index-side recall lever: near
    * neighbors split by a cell boundary still co-occur in some probed
    * cell) at nProbe× index size; [[pqTopKOnCells]] deduplicates
    * repeated candidates before the rerank.
    */
  def encodeInCells(corpus: DataFrame, model: PqModel, centroids: DataFrame,
      broadcastCentroids: Option[Boolean] = None,
      residual: Boolean = false, nProbe: Int = 1): DataFrame = {
    require(nProbe >= 1, s"nProbe=$nProbe must be ≥ 1")
    val assigned =
      if (nProbe == 1) Ivf.assign(corpus, centroids, broadcastCentroids)
      else Ivf.assignProbes(corpus, centroids, nProbe, broadcastCentroids)
        .select(col("vec_id"), col("cell"))
    if (residual)
      encodeNv(residualVectors(assigned, corpus, centroids, broadcastCentroids),
        model, Seq("vec_id", "cell"))
    else
      assigned.join(encode(corpus, model), Seq("vec_id"))
        .select(col("vec_id"), col("cell"), col("codes"))
  }

  /** IVFADC top-k serving: probe the nProbe nearest cells per query
    * (the [[Ivf.probeTopKOnIndex]] probe shape), score ADC only over
    * code rows in probed cells — an equi-join on cell against the
    * (bucketed-at-rest) cell table, never a codes × queries cross
    * join; broadcast probes stream that table by file splits,
    * shuffled ones read it bucket-local — then exact-cosine rerank of
    * the prefilterK survivors against the full-precision corpus (the
    * only step touching full vectors, prefilterK × queries rows).
    *
    * `cells` is an [[encodeInCells]] / [[loadCellIndex]] frame
    * (vec_id, cell, codes). A multi-assigned cells table (vectors
    * repeated across cells) may fill several prefilter slots with the
    * same candidate; survivors are deduplicated before the rerank, so
    * the output stays rank-unique — size prefilterK accordingly.
    *
    * `residual` MUST match the flag the cells table was encoded with
    * ([[cellIndexParams]] recovers it for a persisted index): residual
    * codes approximate x̂ − ĉ, so the candidate score becomes
    * `dot(q̂, ĉ) + Σ_s tab[…]` — the first term is the probe's
    * centroid similarity, already computed by the probe step and
    * carried through the cell join at no extra shuffle. Raw ADC tables
    * over residual codes (or the reverse) score silently wrong.
    */
  def pqTopKOnCells(cells: DataFrame, corpus: DataFrame, centroids: DataFrame,
      queries: DataFrame, model: PqModel, nProbe: Int, k: Int, prefilterK: Int,
      broadcastQueries: Option[Boolean] = None,
      residual: Boolean = false): DataFrame = {
    val c = centroids.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
    val probed = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      .crossJoin(graft.ops.Broadcasting.maybeBroadcast(c))
      .select(col("q_id"), col("c_id"),
        cosine_sim(col("q_emb"), col("c_emb")).as("c_sim"))
      .groupBy(col("q_id"))
      .agg(top_k_by_score(col("c_sim"), col("c_id"), nProbe).as("top"))
      .select(col("q_id"), explode(col("top")).as("t"))
    val probes =
      if (residual)
        probed.select(col("q_id"), col("t.id").as("cell"), col("t.score").as("c_sim"))
      else probed.select(col("q_id"), col("t.id").as("cell"))
    // probes (queries × nProbe rows) and the ADC tables (queries × m·k
    // doubles) are bounded by the SERVING BATCH, but both estimates
    // pass through aggregates and are meaningless to the optimizer —
    // left to the coin flip, Catalyst has been observed broadcasting
    // the CODE TABLE against a streamed 10³-row probe side, collapsing
    // the candidate expansion onto one task (measured 2.7× slower at
    // the 500k smoke). Decide off the queries frame itself (real
    // stats): batch fits → codes stream wide, batch side broadcasts —
    // the only shape that survives 100 TB of codes; corpus-sized
    // queries still degrade to the bucket-aligned sort-merge join
    // rather than an OOM.
    val bcBatch = broadcastQueries.orElse(
      Some(graft.ops.Broadcasting.fitsBroadcast(queries)))
    // the batch-bounded sides fan out from the queries frame by KNOWN
    // multipliers (probes: nProbe small rows; ADC tables: m·k doubles
    // per query) — cap even a forced broadcast by the source-side rows
    // bound so an extreme nProbe/m·k config degrades to a shuffle
    // instead of a driver-memory spike (ADVICE r7, the TopK.cosineRerank
    // survivors fix applied to the same pattern here)
    val bcProbes = Some(bcBatch.contains(true) &&
      graft.ops.Broadcasting.fitsBroadcastRows(queries, nProbe.toLong, 32L))
    val bcQtab = Some(bcBatch.contains(true) &&
      graft.ops.Broadcasting.fitsBroadcastRows(queries, 1L,
        model.m.toLong * model.k * 8 + 32L))
    val qtab = adcTables(queries, model)
    val adc = graft.GraftFunctions.adc_score(col("codes"), col("tab"))
    // broadcast probes stream the code table by file splits; shuffled
    // ones meet it bucket-local (the read rule on graft.ops.Compaction)
    val index = if (bcProbes.contains(true)) graft.ops.Compaction.streamed(cells) else cells
    val survivors = graft.ops.Broadcasting.maybeBroadcast(probes, bcProbes)
      .join(index.select(col("cell"), col("vec_id").as("cand_id"), col("codes")),
        Seq("cell"))
      .filter(col("cand_id") =!= col("q_id"))
      .join(graft.ops.Broadcasting.maybeBroadcast(qtab, bcQtab), Seq("q_id"))
      .select(col("q_id"), col("cand_id"),
        (if (residual) col("c_sim") + adc else adc).as("ascore"))
      .groupBy(col("q_id"))
      .agg(top_k_by_score(col("ascore"), col("cand_id"), prefilterK).as("pre"))
      .select(col("q_id"), explode(col("pre.id")).as("cand_id"))
      // a multi-assigned cells table repeats candidates across cells —
      // with IDENTICAL ADC scores on raw codes, with per-cell scores
      // (each a valid approximation of the same exact cosine) on
      // residual codes. Collapse before the rerank either way — the
      // rerank re-scores survivors by EXACT cosine, so which duplicate
      // survives is immaterial (survivor grain: ≤ prefilterK × queries
      // rows, negligible)
      .dropDuplicates("q_id", "cand_id")
    graft.ops.TopK.cosineRerank(survivors, corpus, queries, k, broadcastQueries,
      prefilterK = Some(prefilterK.toLong))
  }

  /** Persist the full IVFADC index at rest: `<table>` = the codebook
    * ([[save]]), `<table>_cells` = (vec_id, cell, codes) bucketed +
    * sorted by cell (a shuffled probe join runs exchange-free on the
    * index side, a broadcast one streams it by file splits — the
    * [[Ivf.saveIndex]] layout with m-byte codes instead of
    * full-precision embeddings riding in the index), `<table>_centroids`
    * = the coarse quantizer.
    */
  def saveCellIndex(model: PqModel, corpus: DataFrame, centroids: DataFrame,
      table: String, nBuckets: Int = 32, path: Option[String] = None,
      residual: Boolean = false, nProbe: Int = 1): Unit = {
    val spark = corpus.sparkSession
    graft.ops.Concurrency.all(() => save(model, spark, table, path),
      () => {
        graft.ops.Compaction.saveBucketed(
          encodeInCells(corpus, model, centroids, residual = residual, nProbe = nProbe),
          s"${table}_cells", nBuckets, path.map(loc => s"${loc}_cells"), "cell")
        // the encoding flags ride on the cells table: a residual index
        // served without the bias term (or vice versa) scores silently
        // wrong, so the flag must live WITH the index, not in caller lore
        graft.ops.TableProps.set(spark, s"${table}_cells",
          "graft.pq.cells_params",
          s"""{"residual":${if (residual) 1 else 0},"n_probe":$nProbe}""")
      },
      () => graft.ops.Compaction.saveTable(centroids.select(col("vec_id"), col("embedding")),
        s"${table}_centroids", path.map(loc => s"${loc}_centroids")))
  }

  /** Restore (model, cells, centroids) from a [[saveCellIndex]] table
    * triple.
    */
  def loadCellIndex(spark: SparkSession, table: String): (PqModel, DataFrame, DataFrame) =
    (load(spark, table), spark.table(s"${table}_cells"),
      spark.table(s"${table}_centroids"))

  /** Incremental ingest into a persisted IVFADC index
    * ([[graft.ann.Ivf.addToIndex]]'s code-tier twin): additions are
    * encoded with the PERSISTED codebook, centroids, AND encoding
    * flags — residual/nProbe are read from the table, never taken from
    * the caller, so appended rows cannot be encoded under a different
    * decomposition than the rows already at rest (the silent-wrong
    * failure the persisted flags exist to prevent). The encoded rows
    * append bucket-aligned (bucket count from the catalog; TBL
    * properties survive an append). Encoding is per-vector, so the
    * appended index ≡ re-encoding corpus ∪ additions with the same
    * model (spec) — the add touches only the new rows.
    */
  def addToCellIndex(spark: SparkSession, additions: DataFrame,
      table: String): Unit = {
    graft.ops.Compaction.appendBucketed(spark, s"${table}_cells") {
      val (model, _, cents) = loadCellIndex(spark, table)
      val (residual, nProbe) = cellIndexParams(spark, table)
      encodeInCells(additions, model, cents, residual = residual, nProbe = nProbe)
    }
  }

  /** Compact the cells table of a [[saveCellIndex]]ed index after
    * repeated [[addToCellIndex]] appends — [[graft.ann.Ivf.compactIndex]]'s
    * code-tier twin (reference maintenance analogue:
    * `storage/redis.py:419,590`). One bucketed rewrite returns every
    * cell bucket to a single file; the bucket spec AND the persisted
    * encoding flags (`graft.pq.cells_params` — residual/nProbe)
    * survive the swap, so a compacted residual index still serves
    * with its bias term. Codes are never re-derived: unlike the IVF
    * tier the cells table has no full embeddings, so compaction here
    * is layout-only — refresh the quantizer by rebuilding via
    * [[saveCellIndex]] when drift demands it.
    */
  def compactCellIndex(spark: SparkSession, table: String): Unit =
    graft.ops.Compaction.rewriteBucketed(spark, s"${table}_cells")

  /** Encoding parameters of a [[saveCellIndex]]ed cells table:
    * (residual, nProbe). Pass the residual flag straight to
    * [[pqTopKOnCells]] — it selects the scoring decomposition, not a
    * tuning knob. Indexes persisted before the flag existed carry no
    * property and load as (false, 1), their then-only encoding.
    */
  def cellIndexParams(spark: SparkSession, table: String): (Boolean, Int) = {
    graft.ops.TableProps.find(spark, s"${table}_cells", "graft.pq.cells_params") match {
      case None => (false, 1)
      case Some(json) =>
        (graft.ops.TableProps.longField(json, "residual") == 1L,
          graft.ops.TableProps.longField(json, "n_probe").toInt)
    }
  }

  /** One-call serving from a [[saveCellIndex]]ed index: loads the
    * codebook/cells/centroids AND the persisted encoding flags in the
    * same call, so a residual index cannot be served with the wrong
    * scoring decomposition (ADVICE r8: [[loadCellIndex]] alone returns
    * the tables but leaves the residual flag to caller lore — the
    * exact misuse the persisted flag exists to prevent). The probe
    * count defaults to the index's own multi-assignment width;
    * `nProbeOverride` widens serving-side probing beyond it.
    */
  def topKOnSavedCellIndex(spark: SparkSession, table: String,
      corpus: DataFrame, queries: DataFrame, k: Int, prefilterK: Int,
      nProbeOverride: Option[Int] = None,
      broadcastQueries: Option[Boolean] = None): DataFrame = {
    val (model, cells, cents) = loadCellIndex(spark, table)
    val (residual, nProbe) = cellIndexParams(spark, table)
    pqTopKOnCells(cells, corpus, cents, queries, model,
      nProbe = nProbeOverride.getOrElse(nProbe), k = k, prefilterK = prefilterK,
      broadcastQueries = broadcastQueries, residual = residual)
  }
}
