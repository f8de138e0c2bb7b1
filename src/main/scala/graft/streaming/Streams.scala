package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.GraftFunctions

/** Structured Streaming twins of the batch operators. Each builder
  * takes a streaming DataFrame (readStream source) and returns the
  * transformed streaming frame; `runOnce` drives any of them over a
  * bounded source synchronously (memory sink) — which is also how the
  * batch Verify harness exercises them.
  *
  * Scale: these are the standard always-on ingest shapes — watermarked
  * windowed aggregation (state bounded by watermark), fingerprint
  * dedup within the watermark horizon, and mapGroupsWithState
  * sessionization with explicit timeout-driven session flush.
  */
object Streams {

  /** Tumbling-window counts/sums per event_type with a watermark.
    * Input schema: (ts timestamp, event_type string, value double).
    */
  def windowedAgg(events: DataFrame, window: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** SLIDING-window streaming aggregation — the streaming twin of
    * [[graft.events.EventOps.slidingRollup]]: each event lands in
    * window/slide overlapping windows, state bounded by the watermark.
    * The driver row's oracle is the BATCH sliding rollup's SQL — the
    * two faces must agree window-for-window.
    */
  def slidingAgg(events: DataFrame, window: String = "1 hour",
      slide: String = "15 minutes", watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window, slide),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** STREAM-STREAM interval join: pair each left event with every
    * right event of the same user within ±`gap` of event time — the
    * always-on face of [[graft.events.EventOps.withinRangePairs]]'s
    * correlation shape (click ↔ purchase attribution, impression ↔
    * conversion). Both sides carry watermarks and the join condition
    * carries a two-sided event-time bound, which is exactly what
    * Structured Streaming needs to BOUND the join state: each side
    * buffers only `watermark + gap` of history per key, evicting as
    * the watermark advances — state is O(rate × horizon) at any
    * corpus lifetime, never unbounded. Input schema both sides:
    * (ts timestamp, user_id long, event_id long).
    */
  def intervalJoinStreams(left: DataFrame, right: DataFrame,
      gap: String = "5 minutes", watermark: String = "1 hour"): DataFrame = {
    val l = left.withWatermark("ts", watermark)
      .select(col("user_id"), col("event_id").as("l_id"), col("ts").as("l_ts"))
    val r = right.withWatermark("ts", watermark)
      .select(col("user_id").as("r_user"), col("event_id").as("r_id"),
        col("ts").as("r_ts"))
    l.join(r,
      col("user_id") === col("r_user") &&
        col("r_ts") >= col("l_ts") - expr(s"INTERVAL $gap") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $gap"))
      .select(col("user_id"), col("l_id"), col("r_id"),
        (unix_micros(col("r_ts")) - unix_micros(col("l_ts"))).as("gap_us"))
  }

  /** Windowed DISTINCT-user counts on a stream — the canonical
    * streaming-sketch use: exact distinct aggregation is unsupported
    * (and unbounded) under incremental execution, so the HLL sketch
    * (`approx_count_distinct`) is the always-on answer — mergeable
    * across micro-batches, state bounded by the watermark, rsd-bounded
    * error (spec'd against the batch exact). Input schema:
    * (ts timestamp, event_type string, user_id long).
    */
  def windowedApproxUsers(events: DataFrame, window: String = "1 hour",
      watermark: String = "2 hours", rsd: Double = 0.05): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        approx_count_distinct(col("user_id"), rsd).as("approx_users"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("approx_users"))

  /** Streaming exact dedup on a content fingerprint within the
    * watermark horizon (the streaming face of Dedup.exact):
    * `dropDuplicatesWithinWatermark`, whose state EVICTS once the
    * watermark passes a key — O(rate × horizon) state at any stream
    * lifetime. (Plain `dropDuplicates` on a non-event-time key never
    * evicts despite the watermark — dedup-forever semantics with an
    * unbounded state leak, the r11 ADVICE finding. A duplicate
    * arriving AFTER its first copy's horizon is re-emitted; exact
    * corpus-lifetime dedup is the batch operator's job.)
    * Input schema: (ts timestamp, doc_id long, text string).
    */
  def dedupStream(docs: DataFrame, watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("fingerprint",
        GraftFunctions.fingerprintOfTokens(GraftFunctions.tokens(col("text"))))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("fingerprint")

  /** Streaming URL curation — the crawl-frontier face of
    * [[graft.ops.Curation.curateCorpus]]: arriving pages get the
    * STATELESS stage flags (parse, canonical URL, domain-blocklist,
    * content-wordlist) as pure per-row projections — both blocklists
    * ride the plan as array literals, so every microbatch is map-only
    * — and then the stateful canonical-URL dedup within the watermark
    * horizon (`dropDuplicatesWithinWatermark` on the canonical key,
    * the [[dedupStream]] shape — state evicts at the horizon: the
    * SAME page re-crawled via a tracking link inside the horizon is
    * dropped, because canonicalization ran first). Per-domain quotas are an at-rest batch decision
    * (a stream cannot know a domain's final page count) — run
    * [[graft.ops.Curation.domainQuota]] on the landed table.
    * Input schema: (ts timestamp, doc_id long, url string,
    * text string).
    */
  def curateStream(docs: DataFrame, blockedDomains: Seq[String],
      blockedTerms: Seq[String], maxHits: Int = 2,
      watermark: String = "1 hour"): DataFrame = {
    val parsed = graft.ops.Curation
      .withUrlParts(docs, col("url"))
      .withColumn("canonical_url",
        graft.ops.Curation.canonicalizeUrl(col("url")))
    val blockedArr = array(blockedDomains.map(lit(_)): _*)
    val blockedTermArr = array(blockedTerms.map(lit(_)): _*)
    parsed
      .withColumn("domain_blocked",
        coalesce(exists(blockedArr, d =>
          col("host") === d || col("host").endsWith(concat(lit("."), d))),
          lit(false)))
      .withColumn("n_blocked_hits",
        size(filter(GraftFunctions.tokens(col("text")),
          t => array_contains(blockedTermArr, t))).cast("long"))
      .withColumn("content_keep", col("n_blocked_hits") <= maxHits)
      // dedup key: null canonicals (unparseable URLs) must NOT fold
      // into one dropDuplicates group — each gets a per-record
      // sentinel key so no crawl record silently vanishes
      .withColumn("__dedup_key",
        coalesce(col("canonical_url"),
          concat(lit("\u0001nourl|"), col("doc_id").cast("string"))))
      .withWatermark("ts", watermark)
      // WithinWatermark: state evicts at the horizon (the documented
      // contract) - plain dropDuplicates on a non-event-time key
      // never evicts and leaks state forever on a crawl frontier
      .dropDuplicatesWithinWatermark("__dedup_key")
      .select(col("ts"), col("doc_id"), col("url"), col("host"),
        col("domain"), col("canonical_url"), col("domain_blocked"),
        col("n_blocked_hits"), col("content_keep"),
        (!col("domain_blocked") && col("content_keep")).as("keep"))
  }

  /** Streaming robots gate over a crawl frontier — the politeness
    * check a fetcher runs per discovered URL: the at-rest rules
    * table ([[graft.ops.Curation.applyRobots]]'s input, refreshed at
    * whatever robots-fetch cadence the crawl runs) joins the stream
    * as the STATIC side of a stream-static equi-join — the rules
    * aggregate to the hosts grain inside the static sub-plan, so
    * every micro-batch is map-only after the broadcast — and the
    * RFC 9309 precedence fold is the same per-row HOF as the batch
    * gate (shared code, zero drift). Stateless: no watermark, no
    * state store. Input schema: (ts timestamp, doc_id long,
    * url string).
    */
  def robotsStream(frontier: DataFrame, rules: DataFrame): DataFrame =
    graft.ops.Curation.applyRobots(
      graft.ops.Curation.withUrlParts(frontier, col("url")), rules)

  /** Streaming WARC ingest — archive blobs arrive on the stream (a
    * crawler ships whole `.warc`/`.warc.gz` files), records flow out:
    * the member/record walk is a stateless kernel projection + explode
    * (no state, no watermark, no shuffle), so it runs unchanged under
    * Structured Streaming; each microbatch is map-only. `gz = true`
    * takes the CRC-verified RFC 1952 member walk
    * ([[graft.sources.Warc.splitRecordsGz]]), else the plain
    * Content-Length walk. Emits parsed header fields + body per
    * record, ready for [[webCurateStream]] downstream.
    */
  def warcRecordsStream(archives: DataFrame, blob: String = "archive",
      gz: Boolean = false, maxLen: Int = 1 << 24): DataFrame = {
    val split =
      if (gz) graft.sources.Warc.splitRecordsGz(archives, col(blob), maxLen)
      else graft.sources.Warc.splitRecords(archives, col(blob))
    graft.sources.Warc.parseRecords(split, col("record"))
  }

  /** Streaming raw-page curation — the streaming face of
    * [[graft.ops.Pipeline.webCurate]]: HTML→text extraction, script
    * routing and quality scoring are the SAME narrow signal battery
    * the batch pipeline runs ([[graft.ops.Pipeline.webSignals]] —
    * shared code, so flags cannot drift), all pure per-row
    * projections, so every microbatch is map-only up to the single
    * stateful stage: content-fingerprint dedup within the watermark
    * horizon ([[dedupStream]] semantics — state evicts at the
    * horizon; corpus-lifetime dedup remains the batch operator's
    * job). `keep` carries the three stateless gates; rows surviving
    * the dedup stage ARE the stream's kept-or-flagged corpus.
    * Input schema: (ts timestamp, doc_id long, html string).
    */
  def webCurateStream(pages: DataFrame, watermark: String = "1 hour",
      minTextRatio: Double = 0.1, minScriptRatio: Double = 0.5,
      minQuality: Double = 0.3): DataFrame =
    graft.ops.Pipeline.webSignals(
      graft.text.Html.extract(pages, col("html"), carry = Seq("ts")))
      .select(col("ts"), col("doc_id"), col("text"), col("text_ratio"),
        col("n_links"), col("dominant_script"), col("script_ratio"),
        col("quality_score"),
        (col("text_ratio") >= minTextRatio &&
          coalesce(col("script_ratio") >= minScriptRatio, lit(false)) &&
          col("quality_score") >= minQuality).as("keep"))
      .withColumn("fingerprint",
        GraftFunctions.fingerprintOfTokens(GraftFunctions.tokens(col("text"))))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("fingerprint")

  /** Streaming ingest dedup against an EXISTING corpus — the streaming
    * face of [[graft.dedup.Dedup.bloomDedup]], composed with
    * [[dedupStream]]: arriving documents first dedup within the stream
    * (watermark-bounded `dropDuplicates`), then probe a broadcast Bloom
    * filter of the corpus fingerprint set map-side. `corpus_hit = false`
    * is DEFINITIVELY new (Bloom has no false negatives — the sound
    * direction of the gate); `corpus_hit = true` marks a possible
    * corpus duplicate for the downstream exact verify, shrunk from
    * |stream| to ~|dups| rows. The filter is built once at stream
    * start (one batch `treeAggregate` pass over the corpus — fixed
    * size, ~1.2 GB for 10⁹ fingerprints at 1% fpp) and rides every
    * microbatch as a stateless projection; rebuild-and-restart to pick
    * up corpus growth, exactly like reloading a persisted index.
    * Input schema: (ts timestamp, doc_id long, text string).
    *
    * Returns (stream, bloomHandle): the broadcast Bloom filter lives
    * for the session unless released — call `handle.unpersist()` after
    * the query terminates (e.g. from a StreamingQueryListener), or the
    * ~GB-scale broadcast leaks per invocation at production corpus
    * sizes.
    */
  def dedupStreamAgainstCorpus(docs: DataFrame, corpus: DataFrame,
      watermark: String = "1 hour", fpp: Double = 0.01)
      : (DataFrame, org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter]) = {
    val corpusFp = corpus.select(
      GraftFunctions.fingerprintOfTokens(GraftFunctions.tokens(col("text")))
        .as("fingerprint"))
    val expected = math.max(corpusFp.count(), 64L)
    val bloom = corpusFp.stat.bloomFilter("fingerprint", expected, fpp)
    val bc = corpus.sparkSession.sparkContext.broadcast(bloom)
    // codegen probe (BloomMightContain) — the filter rides as a
    // broadcast handle, one native call per surviving row
    (dedupStream(docs, watermark).withColumn("corpus_hit",
      graft.GraftFunctions.bloom_might_contain(col("fingerprint"), bc)),
      bc)
  }

  /** Streaming NEAR-dup ingest against a persisted
    * [[graft.dedup.Dedup.saveSignatures]] table — the streaming face of
    * `dedup_incremental_persisted`, completing the batch/streaming
    * symmetry of the dedup family: [[dedupStreamAgainstCorpus]] gates
    * EXACT fingerprints; this gates minhash-band near-duplicates too.
    *
    * Each micro-batch runs
    * [[graft.dedup.Dedup.incrementalDedupOnSignatures]] whole against
    * the loaded signature tables: exact fingerprints semi-join the
    * bucketed `_fp` table, minhash bands equi-join the bucketed band
    * table (both corpus-side exchange-free post-load), and corpus text
    * is tokenized ONLY for band-collided candidates — per batch, the
    * same scale shape as the batch ingest. `sink(flags, batchId)`
    * receives the per-batch (doc_id, exact_dup, near_dup, best_match,
    * best_jaccard, keep) frame; write it to the output table /
    * quarantine of choice. Reload-and-restart to pick up corpus
    * growth, exactly like [[dedupStreamAgainstCorpus]]'s Bloom filter.
    *
    * Returns the configured [[DataStreamWriter]] — the caller sets
    * checkpoint/trigger options and starts it. Input schema:
    * (doc_id long, text string, ...) — extra columns pass through to
    * the flags join inside the batch dedup.
    */
  def nearDupStreamAgainstSignatures(docs: DataFrame, corpusFp: DataFrame,
      corpusBands: DataFrame, corpus: DataFrame, minJaccard: Double = 0.7)
      (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        sink(graft.dedup.Dedup.incrementalDedupOnSignatures(
          corpusFp, corpusBands, corpus, batch, minJaccard), batchId)
    }

  /** Streaming PERCEPTUAL image dedup against a landed fingerprint
    * set — the multimodal face of [[dedupStreamAgainstCorpus]]: each
    * arriving payload decodes to its dHash
    * ([[graft.expressions.ImageHashKernel]] — the real JPEG/BMP
    * decode, a stateless projection), then a stream-static LEFT join
    * against the at-rest `(dhash)` corpus frame marks re-crawled /
    * re-encoded images (`seen`), exactly the shape the frontier
    * seen-filter uses for URLs. No stream state: the corpus side is
    * a static frame reloaded on restart; within-stream duplicates are
    * the batch ledger's job downstream. Emits `image_valid`, `dhash`,
    * `seen`, `keep` (valid ∧ unseen).
    */
  def imageDedupStream(media: DataFrame, corpusHashes: DataFrame): DataFrame = {
    val h = org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.ImageDhash(
        org.apache.spark.sql.GraftColumnBridge.expression(col("payload"))))
    val landed = corpusHashes.select(col("dhash")).distinct()
      .withColumn("__seen", lit(true))
    media.withColumn("dhash", h)
      .withColumn("image_valid", col("dhash").isNotNull)
      .join(landed, Seq("dhash"), "left")
      .withColumn("seen", coalesce(col("__seen"), lit(false)))
      .withColumn("keep", col("image_valid") && !col("seen"))
      .drop("__seen")
  }

  /** Streaming inference from a model at rest — the serving face of
    * the learned-classifier family: load the persisted weights ONCE on
    * the driver (kilobytes, [[graft.text.QualityClassifier.loadModel]])
    * and score every micro-batch with the same codegen dot-product
    * projection the batch path uses (weights ride the plan as
    * literals — nothing is broadcast per batch, no UDF, no state).
    * `sink(scored, batchId)` receives (doc_id, quality_prob, ...)
    * per batch. Retrain-and-restart to pick up new weights, exactly
    * like the Bloom/signature reloads above.
    *
    * The per-batch feature build is the batch
    * [[graft.text.TextAnalysis.hashEmbedVectors]] pass — legal here
    * because foreachBatch hands each micro-batch over as a bounded
    * frame, so its groupBy is batch-local, never unbounded stream
    * state.
    */
  def scoreQualityStream(docs: DataFrame, modelTable: String)
      (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val model = graft.text.QualityClassifier.loadModel(docs.sparkSession, modelTable)
    docs.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        sink(graft.text.QualityClassifier.score(batch, model), batchId)
    }
  }

  /** [[scoreQualityStream]] for the DSIR llr model
    * ([[graft.text.Dsir]]): per-batch (doc_id, weight_fp, n_feat)
    * log-importance against a [[graft.text.Dsir.saveLlr]]ed table —
    * the streaming face of fit-once/score-many data selection (the
    * global Gumbel-top-k resample stays a batch op by nature; online
    * selection thresholds on the weight instead). The llr table is
    * loaded ONCE driver-side (≤ 2^11 rows) and each micro-batch runs
    * the batch scoring plan (broadcast join + map-side long sums).
    */
  def scoreDsirStream(docs: DataFrame, llrTable: String)
      (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val llr = graft.text.Dsir.loadLlr(docs.sparkSession, llrTable)
    docs.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        sink(graft.text.Dsir.weigh(batch, llr), batchId)
    }
  }

  /** [[scoreQualityStream]] for the persisted bigram LM
    * ([[graft.text.TextAnalysis.saveLm]]): per-batch (doc_id,
    * n_bigrams, sum_logp, avg_logp) perplexity scoring against the
    * LM at rest — the always-on face of CCNet-style perplexity
    * filtering. The count tables stay AT REST (bucketed; each
    * micro-batch's scoring join reads them LM-side exchange-free) —
    * unlike the weight-vector models there is no driver-side load,
    * because a web-scale LM table is not driver-sized.
    */
  def scoreLmStream(docs: DataFrame, lmTable: String)
      (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        sink(graft.text.TextAnalysis.ngramLmScoreOnLm(batch, lmTable), batchId)
    }

  /** [[scoreQualityStream]] for the multinomial language-ID model
    * ([[graft.text.LangClassifier]]): per-batch (doc_id, pred_lang,
    * score) from persisted per-class weights.
    */
  def scoreLangStream(docs: DataFrame, modelTable: String)
      (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val model = graft.text.LangClassifier.loadModel(docs.sparkSession, modelTable)
    docs.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        sink(graft.text.LangClassifier.score(batch, model), batchId)
    }
  }

  /** Continuous multimodal triage: [[graft.multimodal.Binary.triage]]
    * applied to a stream of raw blobs. The triage is a pure codegen
    * projection (magic-byte detection + all three header codecs, no
    * shuffle), so it runs NATIVELY as a streaming projection — no
    * foreachBatch, no state, append mode, restart-safe; this wrapper
    * exists so the ingest-side entry point is one call.
    */
  def triageStream(media: DataFrame): DataFrame =
    graft.multimodal.Binary.triage(media)

  /** The ALWAYS-ON face of the reference's core serving loop
    * (core/main.py:524 `query` against the live Redis store): a
    * stream of query vectors served top-k against a
    * [[graft.lsh.LshIndex.saveBucketed]] index at rest. Index handle
    * + params are resolved ONCE driver-side (the rows stay at rest,
    * bucket-local); each micro-batch runs the exact BATCH serving
    * operator (collision join → band-count → bounded TopKByScore)
    * against the bucketed table — so stream results are
    * definitionally ≡ batch results for the same queries (spec'd)
    * and the index side of every per-batch join stays exchange-free.
    * Queries are independent rows: no cross-batch state, no
    * watermark, restart-safe for free.
    */
  def queryTopKStream(queries: DataFrame, indexTable: String, k: Int = 10)
      (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val spark = queries.sparkSession
    val (index, p) = graft.lsh.LshIndex.loadBucketed(spark, indexTable)
    queries.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        sink(graft.lsh.LshIndex.topKOnIndex(index, batch, p, k), batchId)
    }
  }

  /** Always-on multi-query BM25 serving ([[queryTopKStream]]'s lexical
    * twin): query rows `(query_id, token)` — the batch API's input —
    * stream in, each micro-batch serves its WHOLE query table in ONE
    * set-oriented plan through [[graft.text.SearchIndex.searchTopKBatch]]
    * against the persisted [[graft.text.SearchIndex]] loaded ONCE at
    * stream start — postings pruned to the batch's token union, never
    * a per-query loop or plan. `sink(ranked, batchId)` receives
    * (query_id, rn, doc_id, score) rows per batch. Reload-and-restart
    * to pick up corpus growth, like every at-rest reload here.
    */
  def searchManyStream(queries: DataFrame, indexTable: String, k: Int = 20)
      (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val spark = queries.sparkSession
    val idx = graft.text.SearchIndex.load(spark, indexTable)
    queries.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        sink(graft.text.SearchIndex.searchTopKBatch(idx, batch, k), batchId)
    }
  }

  case class SessionEvent(user_id: Long, event_id: Long, us: Long)
  case class SessionState(start_us: Long, var end_us: Long, var n: Long)
  case class SessionOut(user_id: Long, start_us: Long, end_us: Long, n_events: Long)

  /** Stateful gap sessionization with flatMapGroupsWithState: sessions
    * flush when the processing-time timeout fires after inactivity
    * (streaming twin of EventOps.sessionize).
    */
  def sessionize(events: DataFrame, gapMinutes: Int = 30)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    events.as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[SessionState], SessionOut](
        OutputMode.Append(), GroupStateTimeout.ProcessingTimeTimeout()) {
        (userId: Long, rows: Iterator[SessionEvent], state: GroupState[List[SessionState]]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.getOrElse(Nil)
              .map(s => SessionOut(userId, s.start_us, s.end_us, s.n))
            state.remove()
            out.iterator
          } else {
            // materializes ONE user's events of ONE microbatch — bounded
            // by per-user batch arrival rate (not corpus size); a user
            // hot enough to blow this out needs source-side throttling
            val sorted = rows.toSeq.sortBy(e => (e.us, e.event_id))
            var open = state.getOption.getOrElse(Nil)
            var closed = List.empty[SessionOut]
            sorted.foreach { e =>
              open.headOption match {
                case Some(s) if e.us - s.end_us <= gapUs =>
                  s.end_us = e.us; s.n += 1
                case other =>
                  other.foreach(s => closed ::= SessionOut(userId, s.start_us, s.end_us, s.n))
                  open = List(SessionState(e.us, e.us, 1))
              }
            }
            state.update(open)
            state.setTimeoutDuration(s"$gapMinutes minutes")
            closed.reverseIterator
          }
      }.toDF()
  }

  case class TsEvent(user_id: Long, event_id: Long, ts: java.sql.Timestamp)
  case class EtSessionEvent(user_id: Long, event_id: Long, us: Long, ts: java.sql.Timestamp)

  /** EVENT-TIME sessionization: sessions flush when the WATERMARK
    * passes session end + gap (EventTimeTimeout), not when a wall
    * clock does — so a replay/backfill of the same events produces the
    * identical session set, which the processing-time variant cannot
    * guarantee (its flushes depend on batch arrival pacing). The
    * watermark delay bounds how out-of-order events may arrive;
    * later-than-watermark events are dropped, exactly as in
    * [[windowedAgg]]. Input schema: (ts timestamp, user_id long,
    * event_id long).
    */
  def sessionizeEventTime(events: DataFrame, gapMinutes: Int = 30,
      watermarkDelay: String = "10 minutes")(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    val gapMs = gapMinutes.toLong * 60000L
    events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"), col("ts"))
      .withWatermark("ts", watermarkDelay)
      .as[EtSessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[SessionState], SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[EtSessionEvent], state: GroupState[List[SessionState]]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.getOrElse(Nil)
              .map(s => SessionOut(userId, s.start_us, s.end_us, s.n))
            state.remove()
            out.iterator
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.us, e.event_id))
            var open = state.getOption.getOrElse(Nil)
            var closed = List.empty[SessionOut]
            sorted.foreach { e =>
              open.headOption match {
                case Some(s) if e.us - s.end_us <= gapUs =>
                  s.end_us = e.us; s.n += 1
                case other =>
                  other.foreach(s => closed ::= SessionOut(userId, s.start_us, s.end_us, s.n))
                  open = List(SessionState(e.us, e.us, 1))
              }
            }
            state.update(open)
            // flush when the watermark passes end + gap; the timestamp
            // must lie beyond the current watermark (late replayed
            // batches would otherwise throw)
            open.headOption.foreach { s =>
              state.setTimeoutTimestamp(
                math.max(s.end_us / 1000L + gapMs, state.getCurrentWatermarkMs() + 1L))
            }
            closed.reverseIterator
          }
      }.toDF()
  }

  /** The fully-declarative twin of [[sessionizeEventTime]]: Spark's
    * built-in `session_window` gap windows under a watermark. Same
    * event-time flush semantics with zero custom state code — the
    * first thing to reach for when per-session custom logic isn't
    * needed. Input schema: (ts timestamp, user_id long).
    */
  def sessionWindows(events: DataFrame, gapMinutes: Int = 30,
      watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(col("user_id"), session_window(col("ts"), s"$gapMinutes minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("start_us"),
        unix_micros(col("session_window.end")).as("end_us"),
        col("n_events"))

  /** Drive a streaming frame over a bounded source to completion and
    * return the materialized result (memory sink, Complete/Append per
    * the query shape).
    */
  def runOnce(spark: SparkSession, streaming: DataFrame, name: String,
      mode: OutputMode): DataFrame = {
    val q = streaming.writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(name)
      .start()
    try q.processAllAvailable()
    finally q.stop()
    spark.table(name)
  }
}
