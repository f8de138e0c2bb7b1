package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.{ExplainMode, FileSourceScanExec, FormattedMode,
  GenerateExec, InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec

/** SURVEY §5's scale contract, asserted on real plans (round-1 verdict
  * item #7) so a future refactor can't silently regress pushdown,
  * broadcast choices, or shuffle counts.
  *
  * Queries are built at sf0.001 through the same `SparkEntry.queries`
  * entries the driver runs.
  */
class PlanContractSpec extends SparkSpec {

  private def q(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sfDir)

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  private def physical(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Every operator of `p`, pre-order, adaptive query stages unwrapped. */
  private def operators(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => operators(a.executedPlan)
    case s: QueryStageExec => operators(s.plan)
    case op => op +: op.children.flatMap(operators)
  }

  /** Every operator of `p` paired with whether it runs inside a
    * WholeStageCodegenExec — adaptive query stages unwrapped, and an
    * InputAdapter closing the enclosing codegen stage.
    */
  private def codegenMembership(p: SparkPlan,
      inStage: Boolean = false): Seq[(SparkPlan, Boolean)] = p match {
    case a: AdaptiveSparkPlanExec => codegenMembership(a.executedPlan)
    case s: QueryStageExec => codegenMembership(s.plan)
    case w: WholeStageCodegenExec => codegenMembership(w.child, inStage = true)
    case i: InputAdapter => codegenMembership(i.child)
    case op => (op, inStage) +: op.children.flatMap(codegenMembership(_, inStage))
  }

  test("q1_agg: filter and column pruning reach the parquet scan; single agg shuffle") {
    val plan = formatted(q("q1_agg"))
    assert(plan.contains("PushedFilters:") && plan.contains("l_shipdate"),
      s"shipdate filter not pushed:\n$plan")
    // projection pruning: a 16-column lineitem scan for a 6-column query is wrong
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_partkey"),
      s"scan reads unused columns: $readSchema")
    // one hash exchange for the aggregation; the only other is the
    // deterministic output sort
    val df = q("q1_agg")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(physical(df)).size
    assert(hashEx === 1, s"expected exactly 1 agg shuffle, got $hashEx")
    // codegen stages materialize in the AQE final plan as "*(n)" markers
    df.collect()
    assert(physical(df).contains("*(1)"), s"scan+agg not codegen'd:\n${physical(df)}")
  }

  test("q3_join: dimension filter pushed down, dims broadcast, no cartesian") {
    val plan = formatted(q("q3_join"))
    assert(plan.contains("c_mktsegment"), s"segment filter not pushed:\n$plan")
    val phys = physical(q("q3_join"))
    assert(phys.contains("BroadcastHashJoin"), s"dims not broadcast:\n$phys")
    assert(!phys.contains("CartesianProduct"))
  }

  test("no CartesianProduct outside the declared exact baselines") {
    // knn_brute / dedup_embedding / cosine_topk_exact are declared
    // all-pairs baselines; ann_ivf's centroid argmax is a guarded
    // broadcast nested loop. Everything else must stay cartesian-free.
    val sweep = Seq(
      "q_topn_group", "q_window_running", "events_sessionize",
      "events_windowed", "events_percentiles",
      "text_tokens", "text_quality", "text_langid", "text_fingerprint",
      "text_winnow", "dedup_exact", "dedup_minhash", "dedup_ngram_jaccard",
      "dedup_simhash", "dedup_embedding_lsh",
      "lsh_signatures", "lsh_bucket_stats", "lsh_candidate_pairs",
      "lsh_topk", "lsh_topp_rerank", "ann_lsh", "vec_norm",
      "lsh_delete_clear", "mm_binary_meta",
      "events_asof", "text_containment", "vec_quantize",
      "events_range_join", "text_gopher", "corpus_stats", "text_top_ngrams",
      "events_funnel", "events_retention", "events_props_agg",
      "corpus_rollup", "corpus_approx_distinct", "sample_split",
      "text_chunks", "emb_label_centroids", "lsh_save_load_bucketed",
      "chunks_dedup", "text_decontaminate", "seq_pack",
      "sample_temperature", "events_top_paths", "semantic_dedup",
      "corpus_shuffle", "text_pii", "dedup_bloom", "text_inverted_index",
      "text_search_topk", "events_streaks", "sample_quality_filter",
      "corpus_heavy_hitters", "mm_frame_sample",
      "text_hash_embed", "events_sliding", "text_ngram_lm",
      "q5_region_join", "sample_quality_filter_sketch",
      "q_pagerank", "text_search_hybrid", "sample_weighted",
      "lsh_wide_signatures")
    sweep.foreach { name =>
      val phys = physical(q(name))
      assert(!phys.contains("CartesianProduct"),
        s"$name plans a cartesian product:\n$phys")
    }
  }

  test("dedup_bloom: codegen Bloom probe, no Scala UDF on the ingest path") {
    val phys = physical(q("dedup_bloom"))
    assert(phys.contains("bloom_might_contain"),
      s"dedup_bloom lost the native Bloom probe expression:\n$phys")
    assert(!phys.contains("UDF("),
      s"dedup_bloom still routes the probe through a Scala UDF:\n$phys")
  }

  test("q_topn_group: bounded per-group top-k aggregate, no ranking window") {
    // five priority classes → a rank window would sort ~20% of all
    // orders in one task at scale; the TopKByScore partial aggregate
    // bounds the exchange at N rows per group per map partition
    val phys = physical(q("q_topn_group"))
    assert(!phys.contains("Window"),
      s"q_topn_group routes orders through a ranking window:\n$phys")
    assert(phys.contains("top_k_by_score"),
      s"q_topn_group lost the bounded top-k aggregate:\n$phys")
  }

  test("lsh serving joins collide on (band, sig); index build shuffles nothing") {
    // index build: signature expression + explode only — no Exchange
    val build = physical(q("lsh_signatures"))
    // (the oracle orderBy adds one range exchange, and the driver-row
    // loader's scale-gated input spread one round-robin exchange —
    // Tables.spread, a no-op at production partition counts; nothing
    // else may shuffle)
    val ex = "Exchange".r.findAllIn(build).size
    val allowedEx = "Exchange rangepartitioning".r.findAllIn(build).size +
      "Exchange RoundRobinPartitioning".r.findAllIn(build).size
    assert(ex === allowedEx, s"index build shuffles beyond the output sort:\n$build")
    // serving: the collision join is a broadcast join at serving batch
    // sizes — corpus never reshuffles for a batch lookup
    val serve = physical(q("lsh_topk"))
    assert(serve.contains("BroadcastHashJoin"), s"collision join not broadcast:\n$serve")
    // the final top-k is the bounded TopKByScore aggregate, not a rank
    // window (round-3 verdict #6 — same idiom as Knn/Ivf/Quantize)
    assert(!serve.contains("Window"),
      s"lsh_topk routes collision counts through a rank window:\n$serve")
    val rerank = physical(q("lsh_topp_rerank"))
    assert(!rerank.contains("Window"),
      s"lsh_topp_rerank (bounded topK) routes scored rows through a rank window:\n$rerank")
    // the bucket-size skew guard is a partial-aggregated groupBy +
    // semi-join, not a count-over-window sort of the full index
    val pairs = physical(q("lsh_candidate_pairs"))
    assert(!pairs.contains("Window"),
      s"lsh_candidate_pairs sizes buckets through a window sort:\n$pairs")
  }

  test("ann_ivf: cell argmax and rerank are partial aggregates, no window over scored rows") {
    // the corpus × nCells scored rows must be reduced map-side (one row
    // per vector per partition) — a rank window here would shuffle the
    // full amplified row set to sort-and-discard it (round-2 verdict #1)
    val phys = physical(q("ann_ivf"))
    assert(!phys.contains("Window"),
      s"ann_ivf routes scored rows through a window exchange:\n$phys")
    assert(phys.contains("partial_max") || phys.contains("partial_top_k_by_score"),
      s"no map-side partial aggregation in ann_ivf:\n$phys")
  }

  test("ann_pq: driver-row query batch keeps the survivors broadcast (no sort-merge rerank)") {
    // round-8 verdict #2: fitsBroadcastRows multiplied a filter-derived
    // frame's overstated row estimate by prefilterK and demoted the
    // ~100-row survivors broadcast to a sort-merge join over the corpus
    // (exec 0.8 → 4.6 s). The guard now settles an oversized estimate
    // with a LIMIT-bounded runtime count — a tiny serving batch must
    // keep every rerank join broadcast.
    val phys = physical(q("ann_pq"))
    assert(!phys.contains("SortMergeJoin"),
      s"ann_pq survivors rerank demoted to sort-merge:\n$phys")
    assert(phys.contains("BroadcastHashJoin"),
      s"ann_pq rerank joins are not broadcast:\n$phys")
  }

  test("sample_split prunes to key+output columns; text_chunks plans no shuffle beyond the sort") {
    // the split assignment must never drag the text payload through the
    // scan — it's a projection of (doc_id, source, lang) only
    val plan = formatted(q("sample_split"))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("text"), s"sample_split reads the text payload: $readSchema")
    // chunking is map-only: the only exchanges allowed are the
    // deterministic output sort and the driver-row loader's
    // scale-gated input spread (Tables.spread — no-op at production
    // partition counts)
    val chunks = physical(q("text_chunks"))
    val ex = "Exchange".r.findAllIn(chunks).size
    val allowedEx = "Exchange rangepartitioning".r.findAllIn(chunks).size +
      "Exchange RoundRobinPartitioning".r.findAllIn(chunks).size
    assert(ex === allowedEx, s"text_chunks shuffles beyond the output sort:\n$chunks")
    // PII scrubbing is a pure per-document projection — no exchange
    // beyond the input spread
    val pii = physical(q("text_pii"))
    val piiEx = "Exchange".r.findAllIn(pii).size
    val piiSpread = "Exchange RoundRobinPartitioning".r.findAllIn(pii).size
    assert(piiEx === piiSpread, s"text_pii is not map-only:\n$pii")
  }

  test("round-11 operators: window-free plans; map-only stages map-only") {
    // the curation family ranks/caps through bounded aggregates and
    // min-keeper partial aggs — never a rank window
    Seq("pipeline_curate", "domain_quota", "text_strip_boilerplate",
      "q_pagerank_personalized", "text_search_hybrid_indexed",
      "text_search_batch", "text_search_hybrid_batch").foreach { name =>
      val phys = physical(q(name))
      assert(!phys.contains("Window"), s"$name routes through a window:\n$phys")
    }
    // the pure-projection rows carry no exchange beyond their output
    // sort (blocklists are plan literals — no joins at all)
    Seq("url_domains", "url_domains_psl", "url_canonicalize",
      "text_word_blocklist", "text_tokens_unicode",
      "mm_wav_samples", "mm_bmp_pixels").foreach { name =>
      val phys = physical(q(name))
      assert(!phys.contains("Exchange hashpartitioning"),
        s"$name shuffles a pure projection:\n$phys")
      assert(!phys.contains("Join"), s"$name joins a pure projection:\n$phys")
    }
  }

  test("round-4 operators: window-free plans; sliding rollup is one agg shuffle") {
    // the new ANN prefilter paths rank through TopKByScore, never a window
    Seq("ann_hamming", "ann_pq").foreach { name =>
      val phys = physical(q(name))
      assert(!phys.contains("Window"), s"$name routes scores through a window:\n$phys")
    }
    // the ADC inner loop is the codegen kernel, not an interpreted HOF fold
    assert(physical(q("ann_pq")).contains("adc_score"),
      "ann_pq does not score through the native AdcScore kernel")
    // ...and in the FINAL executed plan the operator evaluating each
    // scoring kernel sits inside a whole-stage codegen stage
    for ((name, fn) <- Seq("ann_pq" -> "adc_score", "ann_opq" -> "adc_score",
        "ann_quantized" -> "int_dot_product")) {
      val df = q(name)
      df.collect()
      val evaluators = codegenMembership(df.queryExecution.executedPlan)
        .filter(_._1.expressions.exists(_.find(_.prettyName == fn).isDefined))
      assert(evaluators.nonEmpty, s"$name: no operator evaluates $fn")
      info(s"$name: $fn evaluated by " + evaluators.map(_._1.nodeName).mkString(", "))
      assert(evaluators.forall(_._2),
        s"$name evaluates $fn outside WholeStageCodegen: " +
          evaluators.filterNot(_._2).map(_._1.nodeName).mkString(", "))
    }
    // hash embedding: two keyed aggs + the norm join, no window
    val he = physical(q("text_hash_embed"))
    assert(!he.contains("Window"), s"hash_embed plans a window:\n$he")
    // sliding rollup: the explode is map-side — exactly one hash
    // exchange (the window_start/event_type agg) plus the output sort
    val sl = physical(q("events_sliding"))
    val hashEx = "Exchange hashpartitioning".r.findAllIn(sl).size
    assert(hashEx === 1, s"events_sliding shuffles $hashEx times (expected 1):\n$sl")
  }

  test("ann_ivfpq: ADC only inside probed cells — no codes × queries cross join, native kernel, window-free") {
    // the residual variant must keep the identical serving join shape —
    // the bias term rides the existing probe join, not a new operator
    for (name <- Seq("ann_ivfpq", "ann_ivfpq_residual")) {
      val phys = physical(q(name))
      assert(phys.contains("adc_score"),
        s"$name does not score through the native AdcScore kernel:\n$phys")
      assert(!phys.contains("Window"),
        s"$name routes scores through a window:\n$phys")
      assert(!phys.contains("CartesianProduct"),
        s"$name plans a cartesian product:\n$phys")
      // the ONLY nested-loop join allowed is the queries × centroids probe
      // (nCells rows, broadcast); the code rows must reach the scorer
      // through equi-joins on cell/q_id — an exhaustive codes × queries
      // scan would appear as a second nested loop here
      val nl = "NestedLoopJoin".r.findAllIn(phys).size
      assert(nl <= 1, s"$name plans $nl nested-loop joins (max 1, the centroid probe):\n$phys")
    }
  }

  test("dup-span ops: duplicate gate is agg + semi-join, window-free; occurrences never fan out") {
    Seq("text_dup_spans", "text_dedup_substrings").foreach { name =>
      val df = q(name)
      val phys = physical(df)
      assert(!phys.contains("Window"), s"$name plans a window:\n$phys")
      // corpus-wide duplicate set gates occurrences through a LeftSemi
      // (each gram row emitted at most once — a hot boilerplate gram
      // fans out nothing), backed by a partial-aggregated count
      assert(phys.contains("LeftSemi"), s"$name lost the semi-join gate:\n$phys")
      assert(!phys.contains("CartesianProduct"), s"$name plans a cross join:\n$phys")
      df.unpersist(blocking = true)
    }
  }

  test("df caps are groupBy + semi-join, never a count-over-window on the hot key") {
    // Caching.capByFrequency guards the two self-joins whose keys are
    // hot BY DEFINITION (capped shingles / fingerprints) — a window
    // partitioned by that key would sort the 10⁶-row hot partition
    // BEFORE the cap could drop it (round-5 verdict #1; same idiom as
    // lsh_candidate_pairs' bucket guard)
    val nj = physical(q("dedup_ngram_jaccard"))
    assert(!nj.contains("Window"),
      s"dedup_ngram_jaccard sizes shingles through a window sort:\n$nj")
    // text_containment rides on winnow, whose two windows are doc-grain
    // (bounded by doc length — the justified kind); the fingerprint df
    // cap must add ZERO windows beyond them
    val winnowW = "Window".r.findAllIn(physical(q("text_winnow"))).size
    val contW = "Window".r.findAllIn(physical(q("text_containment"))).size
    assert(contW <= winnowW,
      s"text_containment adds ${contW - winnowW} window(s) beyond winnow's doc-grain ones")
  }

  test("events_streaks: post-window aggregations reuse the user partitioning") {
    // distinct (user, day) = 1 exchange, window by user = 1 exchange,
    // output sort = range; the two groupBys must NOT add exchanges —
    // (user, grp) and (user) are both clustered by the window's user
    // hash partitioning
    val phys = physical(q("events_streaks"))
    val hashEx = "Exchange hashpartitioning".r.findAllIn(phys).size
    assert(hashEx <= 2, s"streaks re-shuffles after the window:\n$phys")
  }

  test("chunks_dedup: keeper selection is a map-side partial min aggregate") {
    // the keeper per chunk_hash must partial-aggregate before its
    // exchange — shipping every (hash, key) row unreduced would double
    // the chunk-grain shuffle volume for no reason
    val phys = physical(q("chunks_dedup"))
    assert(phys.contains("partial_min") || phys.contains("min("),
      s"no map-side partial min for the keeper:\n$phys")
  }

  test("sample_epoch_mix: per-source plan broadcasts back; no corpus-row window") {
    // the mix plan (epochs/thresholds) is #sources rows — it must come
    // back onto the corpus as a broadcast join, and the only Window is
    // the big_n sum OVER SOURCES, never over document rows
    val phys = physical(q("sample_epoch_mix"))
    assert(phys.contains("BroadcastHashJoin"),
      s"mix plan not broadcast onto the corpus:\n$phys")
    assert(!phys.contains("CartesianProduct"))
    // replication is an explode (Generate), not a join against a
    // per-copy table
    assert(phys.contains("Generate explode"),
      s"replication is not a map-side explode:\n$phys")
  }

  test("corpus_cms_counts: sketch groupBy partial-aggregates; probes equi-join the grid") {
    // the (j,bucket) groupBy must map-side combine — that is the whole
    // sketch contract: every partition reduces to ≤ depth·width rows
    // before the exchange
    val phys = physical(q("corpus_cms_counts"))
    assert(phys.contains("partial_count"),
      s"no map-side partial aggregation in the CMS build:\n$phys")
    assert(!phys.contains("CartesianProduct"),
      s"CMS estimate must equi-join the probe buckets:\n$phys")
  }

  test("text_entropy / text_compression are narrow maps; no char-grain or corpus shuffle") {
    // both signals are per-document computations — the ONLY exchange
    // allowed is the deterministic output sort (a groupBy(doc, char)
    // entropy or a shuffled compression pass would move the corpus to
    // recompute what each row computes locally)
    Seq("text_entropy", "text_compression").foreach { name =>
      val phys = physical(q(name))
      val ex = "Exchange".r.findAllIn(phys).size
      // output sort + the driver-row loader's scale-gated input
      // spread (Tables.spread — no-op at production partition counts)
      val allowedEx = "Exchange rangepartitioning".r.findAllIn(phys).size +
        "Exchange RoundRobinPartitioning".r.findAllIn(phys).size
      assert(ex === allowedEx, s"$name shuffles beyond the output sort:\n$phys")
      assert(!phys.contains("Window"), s"$name uses a window:\n$phys")
    }
  }

  test("sample_stratified: bounded top-k partial-aggregates map-side; no window rank") {
    // the distributed-reservoir contract: every partition reduces to
    // <= k rows per source BEFORE the exchange — a row_number window
    // would shuffle and sort whole strata instead
    val phys = physical(q("sample_stratified"))
    assert(phys.contains("partial_top_k_by_score"),
      s"no map-side partial top-k in sample_stratified:\n$phys")
    assert(!phys.contains("Window"),
      s"sample_stratified ranks through a window:\n$phys")
  }

  test("dedup_keep_best: window-free; keeper argmax partial-aggregates before its exchange") {
    // round-8 verdict #3: a fingerprint-keyed window buffers each whole
    // group on one task — an adversarial 10⁶-copy group becomes a
    // straggler. The keeper must be a map-side-combined groupBy argmax
    // (bounded at one row per group per partition pre-exchange) joined
    // back, with no Window anywhere in the plan.
    val phys = physical(q("dedup_keep_best"))
    assert(!phys.contains("Window"),
      s"dedup_keep_best routes the keeper argmax through a window:\n$phys")
    assert(phys.contains("partial_max"),
      s"keeper argmax has no map-side partial aggregation:\n$phys")
    assert(phys.contains("partial_count"),
      s"group_size has no map-side partial aggregation:\n$phys")
  }

  test("dedup_clusters_keep_best: cluster argmax is window-free with map-side partials") {
    val phys = physical(q("dedup_clusters_keep_best"))
    assert(!phys.contains("Window"),
      s"cluster keeper argmax routes through a window:\n$phys")
    assert(phys.contains("partial_max"),
      s"cluster argmax has no map-side partial aggregation:\n$phys")
  }

  test("dedup_exact: keep ledger is window-free with map-side partial min") {
    val phys = physical(q("dedup_exact"))
    assert(!phys.contains("Window"),
      s"dedup_exact routes the keeper through a window:\n$phys")
    assert(phys.contains("partial_min"),
      s"keeper argmin has no map-side partial aggregation:\n$phys")
  }

  test("mm_sim_fingerprint: window-free keep ledger; vote prefix shared via exchange reuse") {
    val df = q("mm_sim_fingerprint")
    val phys = physical(df)
    assert(!phys.contains("Window"),
      s"sim fingerprint keep ledger routes through a window:\n$phys")
    // the two branches over the vote aggregation must share the heavy
    // frame-explode prefix, not recompute it
    df.collect()
    assert(physical(df).contains("ReusedExchange") ||
        physical(df).contains("TableCacheQueryStage"),
      s"vote-aggregation prefix recomputed per branch:\n${physical(df)}")
  }

  test("events_top_paths: top-k is a distributed TakeOrdered, not a global sort") {
    // the path vocabulary must never be sorted on one partition — the
    // same contract text_top_ngrams pins (SURVEY §2 D)
    val phys = physical(q("events_top_paths"))
    assert(phys.contains("TakeOrderedAndProject"),
      s"events_top_paths does not plan a distributed top-k:\n$phys")
  }

  test("seq_pack prunes to (doc_id, source, text); decontaminate broadcasts the eval grams") {
    // packing needs no lang/n_chars — the scan must prune them
    val plan = formatted(q("seq_pack"))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("lang") && !readSchema.contains("n_chars"),
      s"seq_pack reads unused columns: $readSchema")
    // the eval-side n-gram relation is small by construction (benchmarks,
    // not corpora) — the contamination probe must broadcast it, keeping
    // the 100 TB training side shuffle-free at the join
    val phys = physical(q("text_decontaminate"))
    assert(phys.contains("BroadcastHashJoin"),
      s"decontamination probe does not broadcast the eval grams:\n$phys")
  }

  test("dedup_minhash: signatures are one projection; no Generate or Exchange below") {
    // the kernel hashes each document's shingle array in place: no
    // shingle explode and no grouped min aggregate feed it (the loader's
    // round-robin input spread, Tables.spread, is the one exchange
    // allowed below, as for lsh_signatures)
    val sig = operators(q("dedup_minhash").queryExecution.executedPlan)
      .filter(_.expressions.exists(_.exists(_.isInstanceOf[graft.expressions.MinhashSignature])))
    assert(sig.nonEmpty, "dedup_minhash lost the minhash_signature projection")
    sig.foreach { p =>
      val below = operators(p).tail
      assert(!below.exists(_.isInstanceOf[GenerateExec]), s"Generate under the signature:\n$p")
      assert(!below.exists {
        case e: ShuffleExchangeExec => !e.outputPartitioning.isInstanceOf[RoundRobinPartitioning]
        case _ => false
      }, s"Exchange under the signature:\n$p")
    }
  }

  test("BM25 serve: the query-token semi-join sits below the segment-merge aggregate") {
    // the merge (collect/flatten/sort per token) must only see the
    // queried tokens' segment rows, not every token of the index
    val merges = operators(q("text_search_topk_persisted").queryExecution.executedPlan).collect {
      case a: BaseAggregateExec
          if a.groupingExpressions.map(_.toString).exists(_.startsWith("token#")) &&
            a.aggregateExpressions.exists(_.toString.contains("collect_list")) => a
    }
    assert(merges.nonEmpty, "no segment-merge aggregate in the serve plan")
    merges.foreach { m =>
      assert(operators(m).exists {
        case j: BaseJoinExec => j.joinType == LeftSemi
        case _ => false
      }, s"segment merge runs before the query-token semi-join:\n$m")
    }
  }

  /** `bucketedScan` of every scan of catalog table `table` in `df`'s
    * final plan (`df` runs first, so adaptive stages are settled).
    */
  private def indexScans(df: DataFrame, table: String): Seq[Boolean] = {
    df.collect()
    operators(df.queryExecution.executedPlan).collect {
      case s: FileSourceScanExec if s.tableIdentifier.exists(_.table == table) => s.bucketedScan
    }
  }

  test("broadcast serves stream the bucketed index; shuffle forms keep the bucketed scan") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.ann.{Ivf, Pq}
    import graft.lsh.{LshIndex, LshParams}
    import graft.text.{SearchIndex, TextAnalysis}
    val emb = Tables.load(spark, sfDir, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    val cents = emb.filter(col("vec_id") < 8)
    val p = LshParams(dim = 64, numPerm = 32, numBands = Some(8), rowsPerBand = Some(4))
    val dir = tempDir("graft_streamed").toString
    val tables = Seq("pc_lsh", "pc_bm25", "pc_bm25_doclen", "pc_ivf", "pc_ivf_centroids",
      "pc_pq", "pc_pq_cells", "pc_pq_centroids")
    LshIndex.saveBucketed(LshIndex.build(emb, p), p, "pc_lsh", nBuckets = 8,
      path = Some(s"$dir/lsh"))
    SearchIndex.save(Tables.load(spark, sfDir, "documents"), "pc_bm25", nBuckets = 8,
      path = Some(s"$dir/bm25"))
    Ivf.saveIndex(emb, cents, "pc_ivf", nBuckets = 8, path = Some(s"$dir/ivf"))
    Pq.saveCellIndex(Pq.train(emb, m = 8, k = 16), emb, cents, "pc_pq", nBuckets = 8,
      path = Some(s"$dir/pq"))
    try {
      val (lsh, lp) = LshIndex.loadBucketed(spark, "pc_lsh", validate = false)
      val (cells, ivfCents) = Ivf.loadIndex(spark, "pc_ivf")
      val (model, codes, pqCents) = Pq.loadCellIndex(spark, "pc_pq")
      def streamed(df: DataFrame, table: String): Unit = {
        val scans = indexScans(df, table)
        assert(scans.nonEmpty && !scans.contains(true), s"$table scans bucketed: $scans")
      }
      def bucketed(df: DataFrame, table: String): Unit = {
        val scans = indexScans(df, table)
        assert(scans.nonEmpty && !scans.contains(false), s"$table scans unbucketed: $scans")
      }
      streamed(LshIndex.topKOnIndex(lsh, queries, lp, 10), "pc_lsh")
      streamed(SearchIndex.searchTopKBatch(SearchIndex.load(spark, "pc_bm25"),
        TextAnalysis.BatchQueries.toDF("query_id", "token"), k = 10), "pc_bm25")
      streamed(Ivf.probeTopKOnIndex(cells, ivfCents, queries, 2, 5), "pc_ivf")
      streamed(Pq.pqTopKOnCells(codes, emb, pqCents, queries, model, 2, 3, 10), "pc_pq_cells")
      val key = "spark.sql.autoBroadcastJoinThreshold"
      val old = spark.conf.get(key)
      spark.conf.set(key, "-1")
      try {
        bucketed(LshIndex.topKOnIndex(lsh, queries, lp, 10, broadcastQueries = false), "pc_lsh")
        bucketed(Ivf.probeTopKOnIndex(cells, ivfCents, queries, 2, 5), "pc_ivf")
        bucketed(Pq.pqTopKOnCells(codes, emb, pqCents, queries, model, 2, 3, 10), "pc_pq_cells")
      } finally spark.conf.set(key, old)
    } finally tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("Partitions.widened: many-partition input passes through with NO added Exchange") {
    // the production-scale case (scan partitions ≥ cores): the guard
    // must be a literal no-op — same frame back, zero plan change
    // (round-7 verdict #6: the claim was prose, now a contract)
    val target = spark.sparkContext.defaultParallelism
    val many = spark.range(0, 10000, 1, numPartitions = target * 2).toDF("id")
    val wide = graft.ops.Partitions.widened(many)
    assert(wide eq many, "widened must return the input frame untouched")
    assert(!physical(wide).contains("Exchange"),
      s"many-partition input got a shuffle:\n${physical(wide)}")
    // the test-scale case (one tiny file pinning a narrow pipeline):
    // exactly the one round-robin repartition, nothing else
    val few = spark.range(0, 100, 1, numPartitions = 1).toDF("id")
    val widened = graft.ops.Partitions.widened(few)
    assert(widened.rdd.getNumPartitions === target)
    val ex = "Exchange".r.findAllIn(physical(widened)).size
    assert(ex === 1, s"expected exactly the widening exchange:\n${physical(widened)}")
  }

  test("events_cube: one Expand feeding one partial-aggregated shuffle, not a job per level") {
    val phys = physical(q("events_cube"))
    assert(phys.contains("Expand"), s"cube not expanded in-plan:\n$phys")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(phys).size
    assert(hashEx === 1, s"expected exactly the one cube agg shuffle, got $hashEx:\n$phys")
    assert(phys.contains("partial_count") || phys.contains("partial count") ||
      phys.contains("HashAggregate"), s"cube agg not map-side combined:\n$phys")
  }

  test("r12 ingest/codec layer: record streams shuffle NOTHING; regroups and ledgers are keyed aggs, window-free") {
    // archive→record operators are kernel projections + explodes: the
    // ONLY exchange in each driver row is its deterministic output sort
    for (name <- Seq("warc_records", "warc_gz_records", "warc_http_meta",
        "zip_entries", "mm_jpeg_pixels", "mm_pdf_text", "mm_mp4_meta")) {
      val phys = physical(q(name))
      assert(!phys.contains("Exchange hashpartitioning"),
        s"$name: unexpected keyed shuffle:\n$phys")
      assert(!phys.contains("Window"), s"$name: unexpected window:\n$phys")
      assert(!phys.toLowerCase.contains("batchevalpython"), s"$name: python udf")
    }
    // the WebDataset regroup and the perceptual-dedup ledgers are the
    // declared keyed aggregations — partial-aggregated, window-free,
    // no cartesian anywhere
    for (name <- Seq("wds_samples", "mm_image_dedup", "mm_audio_dedup",
        "pipeline_multimodal")) {
      val phys = physical(q(name))
      assert(!phys.contains("Window"), s"$name: unexpected window:\n$phys")
      assert(!phys.contains("CartesianProduct"), s"$name: cartesian:\n$phys")
      assert(phys.contains("HashAggregate"),
        s"$name: keyed stage not hash-aggregated:\n$phys")
    }
  }

  test("r13 ingest faces: sitemap/jsonl/page-meta/robots parses are map-only projections") {
    // each is a projection (+ explode) over the synthesized column:
    // no keyed shuffle, no window, no cartesian — the only exchange
    // is the gate's deterministic output sort
    for (name <- Seq("web_sitemap", "text_jsonl_parse", "text_html_meta",
        "robots_parse", "text_charset", "web_feed", "text_markdown",
        "mail_mime_parts", "mail_headers", "text_subtitles",
        "text_mojibake", "mm_svg_meta", "mm_avif_meta")) {
      val phys = physical(q(name))
      assert(!phys.contains("Exchange hashpartitioning"),
        s"$name: unexpected keyed shuffle:\n$phys")
      assert(!phys.contains("Window"), s"$name: unexpected window:\n$phys")
      assert(!phys.contains("CartesianProduct"), s"$name: cartesian:\n$phys")
      assert(!phys.toLowerCase.contains("batchevalpython"), s"$name: python udf")
    }
  }

  test("r15 mm rows: WebP/TIFF pixel decodes and TIFF/MP3/FLAC triage are shuffle-free codegen projections") {
    for (name <- Seq("mm_webp_pixels", "mm_tiff_meta", "mm_tiff_pixels",
        "mm_mp3_meta", "mm_flac_meta", "mm_flac_samples")) {
      val phys = physical(q(name))
      assert(!phys.contains("Exchange hashpartitioning"),
        s"$name: unexpected keyed shuffle:\n$phys")
      assert(!phys.contains("Window"), s"$name: unexpected window:\n$phys")
      assert(!phys.contains("CartesianProduct"), s"$name: cartesian:\n$phys")
      assert(!phys.toLowerCase.contains("batchevalpython"), s"$name: python udf")
    }
    assert(physical(q("mm_webp_pixels")).contains("webp_pixel_stats"),
      "mm_webp_pixels: Vp8l kernel missing from plan")
    assert(physical(q("mm_tiff_meta")).contains("tiff_meta"),
      "mm_tiff_meta: TiffMeta kernel missing from plan")
    assert(physical(q("mm_tiff_pixels")).contains("tiff_pixel_stats"),
      "mm_tiff_pixels: TiffPixel kernel missing from plan")
    assert(physical(q("mm_mp3_meta")).contains("mp3_meta"),
      "mm_mp3_meta: Mp3Meta kernel missing from plan")
    assert(physical(q("mm_flac_meta")).contains("flac_meta"),
      "mm_flac_meta: FlacMeta kernel missing from plan")
    assert(physical(q("mm_flac_samples")).contains("flac_audio_stats"),
      "mm_flac_samples: FlacAudio kernel missing from plan")
  }

  test("r15 mm rows: OGG and Matroska triage are shuffle-free codegen projections") {
    for (name <- Seq("mm_ogg_meta", "mm_mkv_meta", "mm_ogg_samples")) {
      val phys = physical(q(name))
      assert(!phys.contains("Exchange hashpartitioning"),
        s"$name: unexpected keyed shuffle:\n$phys")
      assert(!phys.contains("Window"), s"$name: unexpected window:\n$phys")
      assert(!phys.contains("CartesianProduct"), s"$name: cartesian:\n$phys")
      assert(!phys.toLowerCase.contains("batchevalpython"), s"$name: python udf")
    }
    assert(physical(q("mm_ogg_meta")).contains("ogg_meta"),
      "mm_ogg_meta: OggMeta kernel missing from plan")
    assert(physical(q("mm_mkv_meta")).contains("mkv_meta"),
      "mm_mkv_meta: MkvMeta kernel missing from plan")
    assert(physical(q("mm_ogg_samples")).contains("ogg_flac_stats"),
      "mm_ogg_samples: OggFlac kernel missing from plan")
  }

  test("r15 mm rows: Avro, Parquet, ORC, gzip, and zstd triage are shuffle-free codegen projections") {
    for (name <- Seq("mm_avro_meta", "mm_avro_records", "mm_parquet_meta",
        "mm_parquet_pages", "mm_orc_meta", "mm_gzip_meta", "mm_zstd_meta",
        "mm_ico_meta")) {
      val phys = physical(q(name))
      assert(!phys.contains("Exchange hashpartitioning"),
        s"$name: unexpected keyed shuffle:\n$phys")
      assert(!phys.contains("Window"), s"$name: unexpected window:\n$phys")
      assert(!phys.contains("CartesianProduct"), s"$name: cartesian:\n$phys")
      assert(!phys.toLowerCase.contains("batchevalpython"), s"$name: python udf")
    }
    assert(physical(q("mm_avro_meta")).contains("avro_meta"),
      "mm_avro_meta: AvroMeta kernel missing from plan")
    assert(physical(q("mm_avro_records")).contains("avro_record_stats"),
      "mm_avro_records: AvroRecords kernel missing from plan")
    assert(physical(q("mm_parquet_meta")).contains("parquet_meta"),
      "mm_parquet_meta: ParquetMeta kernel missing from plan")
    assert(physical(q("mm_orc_meta")).contains("orc_meta"),
      "mm_orc_meta: OrcMeta kernel missing from plan")
    assert(physical(q("mm_gzip_meta")).contains("gzip_meta"),
      "mm_gzip_meta: GzipMeta kernel missing from plan")
    assert(physical(q("mm_zstd_meta")).contains("zstd_meta"),
      "mm_zstd_meta: ZstdMeta kernel missing from plan")
    assert(physical(q("mm_parquet_pages")).contains("parquet_pages"),
      "mm_parquet_pages: ParquetPages kernel missing from plan")
    assert(physical(q("mm_ico_meta")).contains("ico_meta"),
      "mm_ico_meta: IcoMeta kernel missing from plan")
  }

  test("r15 mm rows: animated GIF frame walk is a shuffle-free kernel + generate") {
    val phys = physical(q("mm_gif_frames"))
    assert(!phys.contains("Exchange hashpartitioning"),
      s"mm_gif_frames: unexpected keyed shuffle:\n$phys")
    assert(!phys.contains("Window"), s"mm_gif_frames: unexpected window:\n$phys")
    assert(!phys.contains("CartesianProduct"), s"mm_gif_frames: cartesian:\n$phys")
    assert(phys.contains("gif_frames"),
      "mm_gif_frames: GifFrames kernel missing from plan")
    assert(phys.contains("Generate"),
      "mm_gif_frames: per-frame explode missing from plan")
  }

  test("r14 kernel upgrades: robots parse and PNG synthesis run as codegen kernels, not interpreted HOFs") {
    // the r13 verdict's two weak rows — both were interpreted
    // higher-order-function expression trees; both now route through
    // linear codegen kernels. Assert the kernel is IN the plan and no
    // lambda-bearing HOF remains anywhere in either query.
    val robots = physical(q("robots_parse"))
    assert(robots.contains("robots_rules"),
      s"robots_parse: RobotsRules kernel missing from plan:\n$robots")
    val png = physical(q("mm_png_pixels"))
    assert(png.contains("png_forward_filter"),
      s"mm_png_pixels: PngForwardFilter kernel missing from plan:\n$png")
    for ((name, phys) <- Seq("robots_parse" -> robots, "mm_png_pixels" -> png)) {
      assert(!phys.contains("lambdafunction"),
        s"$name: interpreted HOF lambda survives in the plan:\n$phys")
      assert(!phys.contains("aggregate("),
        s"$name: interpreted array fold survives in the plan:\n$phys")
    }
  }
}
