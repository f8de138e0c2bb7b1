package graft.text

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.functions._

import graft.expressions.BpeEncodeExpr
import graft.ops.Caching

/** Byte-pair-encoding subword tokenizer learned FROM the corpus
  * (Sennrich et al. 2016 "Neural Machine Translation of Rare Words
  * with Subword Units") — real learned token counting for a training
  * pipeline, not a whitespace proxy: budget accounting, packing, and
  * cost estimates at 100 TB all key off subword counts under the
  * tokenizer that will actually be used.
  *
  * Scale shape: training runs on the WORD-FREQUENCY table, not the
  * corpus — one tokenize + `groupBy(word)` pass reduces 100 TB of text
  * to |vocab| rows (map-side-combined), and every merge iteration
  * touches only that table: a pair-count aggregate (weighted by word
  * frequency, partial-aggregated to one row per pair per partition)
  * feeds a 1-ROW argmax to the driver (the merge RULE is the scalar
  * decision — kilobytes, like the PQ codebook collect), and the merge
  * applies as a map-side array fold. Each merge is one round of
  * [[graft.ops.Caching.iterate]] (the star-contraction discipline —
  * a cut per round, constant-depth plans over `numMerges` rounds,
  * previous round released). Serving is [[graft.expressions.BpeEncodeExpr]]:
  * the merge list rides the plan as a literal, one native call per row
  * inside whole-stage codegen.
  */
object Bpe {

  /** An ordered merge list; application order IS rank order. */
  case class BpeModel(merges: Seq[(String, String)])

  /** Characters of a word as an array<string> column. */
  private def charsOf(word: Column): Column =
    transform(sequence(lit(1), length(word)), i => word.substr(i, lit(1)))

  /** One greedy left-to-right merge of (a, b) → ab over a symbol
    * array — the list fold [[graft.expressions.BpeEncodeExpr]]
    * replicates natively at serving time.
    */
  private def mergePair(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, x) =>
      when(size(acc) > 0 &&
          element_at(acc, -1) === lit(a) && x === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))

  /** Deterministic word-frequency table (word, wc) from a documents
    * frame, optionally hash-sampled (the [[graft.ann.Pq.train]]
    * sampling practice — BPE statistics stabilize long before the full
    * corpus is seen; membership is a pure function of doc_id).
    */
  def wordCounts(docs: DataFrame, sampleFrac: Double = 1.0): DataFrame = {
    val base =
      if (sampleFrac >= 1.0) docs
      else graft.ops.Sampling.sampleByHash(docs, col("doc_id"), sampleFrac, "bpe")
    TextAnalysis.withToks(base)
      .select(explode(col("toks")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("wc"))
  }

  /** Learn `numMerges` merge rules. Ties break lexicographically on
    * (a, b) — fully deterministic on any partitioning. Stops early
    * when the best pair's weighted count falls below `minCount`.
    *
    * Routing: after the one corpus-wide tokenize + `groupBy(word)`
    * pass the working set is VOCABULARY-sized, not corpus-sized — for
    * any natural-language corpus that is well under driver memory, so
    * the merge loop runs DRIVER-LOCAL over the collected (word, wc)
    * table with incremental pair-count maintenance (the standard
    * Sennrich single-node loop). The alternative — one Spark job per
    * merge — is fine at `numMerges=64` but a production 32k-merge
    * vocab would be 32k sequential driver-coordinated jobs: days of
    * scheduler latency on a real cluster for work that is milliseconds
    * of arithmetic. The distributed per-merge loop is kept for
    * beyond-driver vocabularies (`> maxLocalVocab` distinct words);
    * both paths produce the IDENTICAL model bitwise (same pair
    * weighting, same (cnt desc, a, b) UTF-8 tie-break, same greedy
    * left-fold merge — pinned in BpeSpec).
    */
  def train(docs: DataFrame, numMerges: Int = 64, sampleFrac: Double = 1.0,
      minCount: Long = 2L, maxLocalVocab: Long = 4000000L): BpeModel = {
    // one corpus tokenize pass, materialized at vocabulary grain; the
    // size probe and the collect (or the distributed loop) both read
    // the cut, never the corpus again
    val wc = Caching.cut(wordCounts(docs, sampleFrac))
    try {
      val probeCap = math.min(maxLocalVocab + 1L, Int.MaxValue.toLong).toInt
      if (maxLocalVocab > 0 && wc.limit(probeCap).count() <= maxLocalVocab) {
        val vocab = wc.collect().map { r =>
          (charsLocal(r.getAs[String]("word")), r.getAs[Long]("wc"))
        }
        trainLocal(vocab, numMerges, minCount)
      } else trainDistributed(wc, numMerges, minCount)
    } finally Caching.releaseCheckpoint(wc, superseded = true)
  }

  /** The per-merge Spark loop for vocabularies too large to collect:
    * each round is a pair-count aggregate (map-side-combined to one
    * row per pair per partition) → 1-row argmax on the driver → a
    * map-side array-fold rewrite, one [[graft.ops.Caching.iterate]]
    * round per merge; a best pair below `minCount` ends the loop.
    */
  private[graft] def trainDistributed(wordCounts: DataFrame, numMerges: Int,
      minCount: Long): BpeModel = {
    val merges = Seq.newBuilder[(String, String)]
    val (words, _) = Caching.iterate("bpe", wordCounts
        .select(col("wc"), charsOf(col("word")).as("syms")), numMerges) { words =>
      val best = words
        .filter(size(col("syms")) >= 2)
        .select(col("wc"), explode(transform(
          sequence(lit(1), size(col("syms")) - 1),
          i => struct(element_at(col("syms"), i).as("a"),
            element_at(col("syms"), i + 1).as("b")))).as("p"))
        .groupBy(col("p.a"), col("p.b")).agg(sum(col("wc")).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1).collect()
      best.headOption.filter(_.getLong(2) >= minCount).map { r =>
        val (a, b) = (r.getString(0), r.getString(1))
        merges += ((a, b))
        words.select(col("wc"), mergePair(col("syms"), a, b).as("syms"))
      }
    }
    Caching.releaseCheckpoint(words, superseded = true)
    BpeModel(merges.result())
  }

  /** Code-point symbols of a word — the driver-local twin of
    * [[charsOf]] (Spark `substr` walks code points, so a
    * surrogate-pair character is ONE symbol on both paths).
    */
  private[graft] def charsLocal(w: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out.result()
  }

  /** UTF-8 byte order ≡ code-point order — the comparator behind the
    * local argmax tie-break, matching Spark's binary UTF8String
    * ordering (Java's `String.compareTo` is UTF-16 code-UNIT order,
    * which sorts supplementary characters BEFORE U+E000..U+FFFF and
    * would diverge from the distributed `orderBy` there).
    */
  private[graft] def utf8Compare(x: String, y: String): Int = {
    var i = 0
    var j = 0
    while (i < x.length && j < y.length) {
      val cx = x.codePointAt(i)
      val cy = y.codePointAt(j)
      if (cx != cy) return Integer.compare(cx, cy)
      i += Character.charCount(cx)
      j += Character.charCount(cy)
    }
    Integer.compare(x.length - i, y.length - j)
  }

  /** One greedy left-to-right merge pass — the exact local twin of the
    * [[mergePair]] fold (replace the trailing `a` with `ab` when the
    * next symbol is `b`; a fresh `ab` never re-merges with a following
    * `b` because the fold compares the ALREADY-MERGED last symbol).
    */
  private[graft] def mergeLocal(syms: Array[String], a: String, b: String): Array[String] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      val x = syms(i)
      if (buf.nonEmpty && buf.last == a && x == b) buf(buf.length - 1) = a + b
      else buf += x
      i += 1
    }
    buf.toArray
  }

  /** Driver-local merge loop with incremental pair-count maintenance:
    * per merge, only words CONTAINING the merged pair are re-counted
    * (their old adjacent pairs subtracted, the fold applied, new pairs
    * added), so a merge costs O(touched words), not O(vocabulary) —
    * 1024 merges over an sf0.1 vocabulary run in seconds where the
    * per-merge-job loop pays 1024 Spark job latencies. The argmax is a
    * full scan of the live pair table with the (cnt desc, a, b) UTF-8
    * tie-break — identical to the distributed `orderBy`.
    */
  private[graft] def trainLocal(vocab: Array[(Array[String], Long)],
      numMerges: Int, minCount: Long): BpeModel = {
    import scala.collection.mutable
    val words: Array[Array[String]] = vocab.map(_._1)
    val wcs: Array[Long] = vocab.map(_._2)
    val pairCounts = mutable.HashMap.empty[(String, String), Long]
    // Word-index postings per pair as a growable buffer, NOT a BitSet:
    // a BitSet keyed by word index costs ~maxWordIdx/8 bytes per pair
    // (a pair seen once in a late-indexed word pays the full span), so
    // large vocabularies with many distinct pairs would allocate GBs on
    // the driver. Duplicates/stale entries are harmless — the
    // subtract/merge/re-add round trip is a net no-op for them.
    val pairWords =
      mutable.HashMap.empty[(String, String), mutable.ArrayBuffer[Int]]
    def applyPairs(wi: Int, sign: Long, index: Boolean): Unit = {
      val syms = words(wi)
      val delta = wcs(wi) * sign
      var i = 0
      while (i < syms.length - 1) {
        val p = (syms(i), syms(i + 1))
        val nv = pairCounts.getOrElse(p, 0L) + delta
        if (nv == 0L) pairCounts.remove(p) else pairCounts.update(p, nv)
        if (index) {
          // dedup on insert: a pair occurring k times in one word is
          // scanned consecutively, so checking the buffer tail keeps
          // postings one-entry-per-(pair, word) — without it a hot
          // pair re-touched across many merges accumulates duplicates
          // without bound and pays O(buffer) distinct per merge
          // (r11 ADVICE)
          val buf = pairWords.getOrElseUpdate(p, mutable.ArrayBuffer.empty[Int])
          if (buf.isEmpty || buf(buf.length - 1) != wi) buf += wi
        }
        i += 1
      }
    }
    words.indices.foreach(applyPairs(_, 1L, index = true))
    val merges = Seq.newBuilder[(String, String)]
    var m = 0
    var done = false
    while (m < numMerges && !done) {
      var best: (String, String) = null
      var bestCnt = Long.MinValue
      pairCounts.foreach { case (p, c) =>
        if (best == null || c > bestCnt || (c == bestCnt && {
          val ca = utf8Compare(p._1, best._1)
          ca < 0 || (ca == 0 && utf8Compare(p._2, best._2) < 0)
        })) { best = p; bestCnt = c }
      }
      if (best == null || bestCnt < minCount) done = true
      else {
        merges += best
        val (a, b) = best
        // pairWords entries can be stale (a word that lost the pair in
        // an earlier merge) — the subtract/merge/re-add round trip is a
        // net no-op for those, so staleness costs time, never counts
        val touched =
          pairWords.getOrElse(best, mutable.ArrayBuffer.empty[Int])
            .distinct.toArray
        touched.foreach { wi =>
          applyPairs(wi, -1L, index = false)
          words(wi) = mergeLocal(words(wi), a, b)
          applyPairs(wi, 1L, index = true)
        }
        pairWords.remove(best)
        m += 1
      }
    }
    BpeModel(merges.result())
  }

  /** Subword segmentation of a token-array column under a model. */
  def encodeTokens(toks: Column, model: BpeModel): Column =
    GraftColumnBridge.column(
      BpeEncodeExpr(GraftColumnBridge.expression(toks), model.merges))

  /** Per-doc subword accounting under a learned model: (doc_id,
    * n_words, n_bpe_tokens, bpe_per_word) — the real token counts a
    * budget/packing pass would consume.
    */
  def tokenCounts(docs: DataFrame, model: BpeModel): DataFrame =
    TextAnalysis.withToks(docs)
      .select(col("doc_id"), col("toks"),
        encodeTokens(col("toks"), model).as("bpe"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_words"),
        size(col("bpe")).cast("long").as("n_bpe_tokens"))
      .withColumn("bpe_per_word",
        when(col("n_words") > 0,
          col("n_bpe_tokens").cast("double") / col("n_words").cast("double")))

  /** Persist a learned merge list as a (rank, a, b) table with the
    * merge count in TBLPROPERTIES, written by
    * [[graft.ops.Compaction.saveTable]] like every model table.
    */
  def saveModel(model: BpeModel, spark: SparkSession, table: String,
      path: Option[String] = None): Unit = {
    import spark.implicits._
    val rows = model.merges.zipWithIndex
      .map { case ((a, b), i) => (i, a, b) }
      .toDF("rank", "a", "b")
    graft.ops.Compaction.saveTable(rows.coalesce(1), table, path,
      "graft.bpe.params" -> s"""{"n_merges":${model.merges.size}}""")
  }

  /** Restore a [[saveModel]]ed merge list in rank order (the collect
    * is the model itself — ≤ numMerges rows, kilobytes).
    */
  def loadModel(spark: SparkSession, table: String): BpeModel = {
    val json = graft.ops.TableProps.get(spark, table, "graft.bpe.params")
    val n = graft.ops.TableProps.longField(json, "n_merges").toInt
    val rows = spark.table(table).orderBy(col("rank")).collect()
      .map(r => (r.getAs[String]("a"), r.getAs[String]("b")))
    require(rows.length == n,
      s"table $table has ${rows.length} merges, expected $n")
    BpeModel(rows.toSeq)
  }

  /** The driver row: train (sampled) → [[saveModel]] → [[loadModel]]
    * → count subwords over the full corpus from the LOADED merges —
    * train-once/serve-many. Rows-only (the iterative merge training
    * has no SQL oracle); the encode ≡ training-fold invariant and a
    * reference-reimplementation parity are spec'd in BpeSpec.
    */
  def trainSaveCountQuery(docs: DataFrame, table: String,
      path: Option[String] = None, numMerges: Int = 48,
      sampleFrac: Double = 0.5): DataFrame = {
    val spark = docs.sparkSession
    saveModel(train(docs, numMerges, sampleFrac), spark, table, path)
    tokenCounts(docs, loadModel(spark, table))
  }

  /** Sequence packing under the LEARNED tokenizer: [[tokenCounts]]
    * feeding [[graft.ops.Packing.packCounts]] — bins cut at the real
    * subword budget, which is what a training data loader actually
    * consumes (whitespace packing misestimates bins exactly where BPE
    * fragments: rare words, code, non-Latin text). Rows-only like
    * [[trainSaveCountQuery]]; the packing arithmetic itself is the
    * oracle-checked `seq_pack` prefix-sum, spec'd equal on shared
    * counts.
    */
  def packBpeQuery(docs: DataFrame, numMerges: Int = 48,
      sampleFrac: Double = 0.5, budget: Long = graft.ops.Packing.DefaultBudget)
      : DataFrame = {
    val model = train(docs, numMerges, sampleFrac)
    val counted = TextAnalysis.withToks(docs)
      .select(col("doc_id"), col("source"),
        size(encodeTokens(col("toks"), model)).cast("long").as("n_tokens"))
    graft.ops.Packing.packCounts(counted, budget)
  }
}
