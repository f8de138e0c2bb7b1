package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GraftFunctions

/** Text analysis for large-scale training-data pipelines: token
  * statistics, quality scoring, language-ID heuristic, content
  * fingerprints. Everything is built from codegen'd built-ins over a
  * single tokenization, and every ratio uses exact integer counts with
  * one final IEEE double division — deterministic across engines and
  * partitionings.
  */
object TextAnalysis {

  val stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is")

  /** Default document-frequency cap for the containment fingerprint
    * self-join (same quadratic-blow-up guard as
    * [[graft.dedup.Dedup.DefaultMaxShingleDf]], over the winnowed
    * fingerprint space). Mirrored verbatim into the DuckDB oracle.
    */
  val DefaultMaxFingerprintDf = 1000L

  /** Marker stopword lists per language; order is the deterministic
    * tie-break priority of the classifier.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "mit"),
    "es" -> Seq("el", "la", "los", "de", "y", "es", "que"),
    "fr" -> Seq("le", "les", "des", "et", "est", "dans", "une"))

  /** Trusts a precomputed `toks` column (the shared-tokenization
    * contract [[graft.ops.Pipeline.cleanCorpus]] relies on).
    */
  private[text] def withToks(docs: DataFrame): DataFrame =
    if (docs.columns.contains("toks")) docs
    else docs.withColumn("toks", GraftFunctions.tokens(col("text")))

  private def hits(toksCol: Column, words: Seq[String]): Column =
    size(filter(toksCol, t => t.isin(words.map(lit(_)): _*))).cast("long")

  /** BPE-flavored subword pre-tokenization pattern: letter runs, digit
    * runs, individual punctuation marks — Unicode classes, spelled
    * identically in Java regex and RE2 so the oracle interpolates the
    * SAME string (r12: the ASCII classes scored every non-Latin letter
    * as punctuation).
    */
  val SubwordPattern = "\\p{L}+|\\p{N}+|[^\\p{L}\\p{N} ]"

  /** Characters that do NOT count as punctuation in the punct-ratio
    * quality signals (letters, digits, space) — Unicode classes,
    * Java/RE2-identical, shared with the DuckDB mirrors.
    */
  val PunctKeepClass = "[\\p{L}\\p{N} ]"

  /** A token counts as a WORD (not a number/punct glyph) if it has a
    * letter — Unicode class, Java/RE2-identical (Gopher alpha-word
    * rule).
    */
  val AlphaTokenClass = "\\p{L}"

  /** Token, unique-token, and BPE-ish subword counts per document. */
  def tokenStats(docs: DataFrame): DataFrame =
    withToks(docs)
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_unique"),
        size(regexp_extract_all(lower(col("text")), lit(SubwordPattern), lit(0)))
          .cast("long").as("n_subword"))
    // per-doc signal tables return UNORDERED from the API (r12: no
    // global range exchange in a 100 TB flag/signal path); the gate
    // rows sort — the convention for every per-doc operator here

  /** Deterministic multilingual tails for the Unicode-tokenization
    * gate row (`text_tokens_unicode`): the ASCII testdata cannot
    * exercise the non-Latin paths, so each document gets one of these
    * appended as a pure function of doc_id and BOTH engines tokenize
    * the result. Characters are chosen where the simple per-codepoint
    * lowercase mapping is engine-independent (uppercase Cyrillic /
    * Greek / accented Latin; cased-less Arabic; Han+kana with digits) —
    * deliberately no Turkish dotted-İ and no ΓΡΑΜΜΑ-final Σ, whose
    * contextual/locale mappings differ across engines. (build.sbt pins
    * `-encoding UTF-8` — the container platform charset is ASCII.)
    */
  val MultilingualTails: Seq[String] = Seq(
    // " Привет МИР 2024" (Cyrillic, uppercase folds)
    " Привет МИР 2024",
    // " café naïve RÉSUMÉ" (accented Latin, uppercase accents fold)
    " café naïve RÉSUMÉ",
    // " 東京は日本の首都" (Han + Hiragana, per-codepoint tokens)
    " 東京は日本の首都",
    // " カタカナとひらがな 第3章" (Katakana/Hiragana + Han-digit mix)
    " カタカナとひらがな 第3章",
    // " مرحبا بالعالم" (Arabic, no case)
    " مرحبا بالعالم",
    // " ελληνικά ΓΡΑΜΜΑΤΑ" (Greek, uppercase folds, no sigma)
    " ελληνικά ΓΡΑΜΜΑΤΑ")

  /** Positional token dump over multilingual-tailed text — the driver
    * row proving the Unicode tokenizer cross-engine (every token and
    * its position hash-compared against the DuckDB mirror, non-Latin
    * scripts included). Pure narrow map + the gate's orderBy.
    */
  def tokenDumpMultilingual(docs: DataFrame): DataFrame = {
    val tail = element_at(array(MultilingualTails.map(lit(_)): _*),
      (pmod(col("doc_id"), lit(6L)) + 1).cast("int"))
    docs.select(col("doc_id"), concat(col("text"), tail).as("mtext"))
      .select(col("doc_id"),
        posexplode(GraftFunctions.tokens(col("mtext"))).as(Seq("pos", "tok")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("tok"))
  }

  /** Quality metrics: char/token counts, mean token length, punctuation
    * ratio, stopword ratio, and a composite score in [0,1].
    */
  def quality(docs: DataFrame): DataFrame = {
    val base = withToks(docs)
      .withColumn("n_chars", length(lower(col("text"))).cast("long"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("sum_len", aggregate(col("toks"), lit(0), (acc, t) => acc + length(t)))
      .withColumn("n_punct",
        length(regexp_replace(lower(col("text")), PunctKeepClass, "")))
      .withColumn("n_stop", hits(col("toks"), stopwords))
    base.select(
      col("doc_id"), col("n_chars"), col("n_tokens"),
      when(col("n_tokens") > 0, col("sum_len") / col("n_tokens")).as("avg_token_len"),
      when(col("n_chars") > 0, col("n_punct") / col("n_chars")).as("punct_ratio"),
      when(col("n_tokens") > 0, col("n_stop") / col("n_tokens")).as("stop_ratio"),
      qualityScore.as("quality_score"))
  }

  /** The composite quality score over precomputed n_tokens/n_chars/
    * n_punct columns — shared by [[quality]] and [[qualityFilter]] so
    * the two operators (and their oracles) cannot drift.
    */
  private[graft] def qualityScore: Column =
    when(col("n_tokens") > 0,
      (least(col("n_tokens"), lit(100)) / lit(100.0)) *
        (lit(1.0) - when(col("n_chars") > 0, col("n_punct") / col("n_chars")).otherwise(lit(0.0))))
      .otherwise(lit(0.0))

  /** Percentile-based quality pruning (the DCLM/FineWeb-style "keep the
    * top fraction per source" cut): rank documents within each source
    * by quality score (desc, doc_id tie-break) and keep the top
    * keepNum/keepDen fraction. The keep decision is PURE INTEGER
    * (`rank·keepDen ≤ n·keepNum`) — no float threshold can disagree
    * across engines or partitionings.
    *
    * Scale note: the exact per-source rank is one window shuffle keyed
    * by source — with few, huge sources those partitions are hot. At
    * 100 TB swap the exact rank for a quantile threshold: one
    * `approx_percentile(quality_score, 1 - keepFrac)` aggregate per
    * source (map-side-partial GK sketch, see events_approx_percentiles)
    * broadcast back as a map-side filter — same cut within sketch
    * error, no per-source sort.
    */
  def qualityFilter(docs: DataFrame, keepNum: Int = 3, keepDen: Int = 10): DataFrame = {
    val part = Window.partitionBy(col("source"))
    val ord = part.orderBy(col("quality_score").desc, col("doc_id"))
    scoredBySource(docs)
      .withColumn("q_rank", row_number().over(ord).cast("long"))
      .withColumn("n_source", count(lit(1)).over(part).cast("long"))
      .withColumn("keep", col("q_rank") * keepDen <= col("n_source") * keepNum)
  }

  /** Character-level Shannon entropy per document — the
    * information-density quality signal (near-zero entropy = one
    * repeated character / degenerate filler; natural prose sits in a
    * stable band): `H = −Σ_c p_c·log2(p_c)` over the document's raw
    * characters.
    *
    * One codegen kernel call per document
    * ([[graft.expressions.CharEntropyStats]]: a single code-point scan
    * + a d-sized fold, d = distinct chars ≤ alphabet) — at 100 TB this
    * is a pure narrow map; no explode to a char-grain shuffle (a
    * corpus-wide `groupBy(doc, char)` would shuffle ~|chars| rows to
    * recompute what each row computes locally). Cross-engine
    * exactness: distinct code points visited ascending (≡ binary
    * string order), p = cnt/n one IEEE divide, the log through
    * [[graft.expressions.DetLn]], the sum a left fold in sorted order
    * — the DuckDB oracle replays the identical float chain via
    * `list(term ORDER BY ch)` + `list_reduce`.
    */
  def readability(docs: DataFrame): DataFrame = {
    // classic readability battery (Flesch 1948 / Kincaid 1975) — the
    // curation signal that separates natural prose from keyword soup
    // and legalese: syllables ≈ vowel groups per word (the standard
    // dictionary-free approximation, floor 1/word), sentences split
    // on terminal punctuation (floor 1/doc — headlines and fragments
    // still score). Pure narrow map: integer counts per row, two
    // IEEE divisions + fixed-order linear combinations → hash-exact.
    withToks(docs)
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_words"),
        greatest(lit(1L), size(filter(split(col("text"), "[.!?]+"),
          s => length(trim(s)) > 0)).cast("long")).as("n_sentences"),
        expr("aggregate(transform(toks, w -> " +
          "greatest(1L, size(regexp_extract_all(w, '[aeiouy]+', 0)))), " +
          "0L, (a, v) -> a + v)").as("n_syllables"))
      .withColumn("fk_grade",
        lit(0.39) * (col("n_words").cast("double") / col("n_sentences")) +
          lit(11.8) * (col("n_syllables").cast("double") / col("n_words")) -
          lit(15.59))
      .withColumn("flesch_ease",
        lit(206.835) -
          lit(1.015) * (col("n_words").cast("double") / col("n_sentences")) -
          lit(84.6) * (col("n_syllables").cast("double") / col("n_words")))
  }

  def charEntropy(docs: DataFrame): DataFrame =
    docs
      .filter(length(col("text")) > 0)
      .withColumn("st", GraftFunctions.char_entropy_stats(col("text")))
      .select(col("doc_id"), col("st.n_chars").as("n_chars"),
        col("st.n_distinct").as("n_distinct"),
        col("st.entropy_bits").as("entropy_bits"))

  /** Compressibility quality signal: raw-DEFLATE size of the document
    * next to its byte length, ratio = deflated/raw. Repetitive,
    * templated, or keyword-stuffed text compresses far below natural
    * prose (CCNet/Gopher both gate on it); the fixed-level zlib stream
    * makes the number a pure function of the bytes (see
    * [[graft.expressions.DeflateKernel]]). One narrow codegen map —
    * no shuffle, the cost IS the deflate scan. Rows-only: no SQL
    * engine exposes zlib sizing, so the spec pins planted
    * repetitive-vs-prose separation and a JVM recount instead.
    */
  def compressionStats(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      octet_length(col("text")).cast("long").as("n_bytes"),
      GraftFunctions.deflate_size(col("text")).as("deflate_bytes"))
      .withColumn("compress_ratio",
        when(col("n_bytes") > 0, col("deflate_bytes") / col("n_bytes")))

  /** The (doc_id, source, quality_score) projection shared by
    * [[qualityFilter]] and [[qualityFilterSketch]] — one scoring
    * definition so the exact and sketch tiers cannot drift.
    */
  private def scoredBySource(docs: DataFrame): DataFrame =
    withToks(docs)
      .withColumn("n_chars", length(lower(col("text"))).cast("long"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_punct",
        length(regexp_replace(lower(col("text")), PunctKeepClass, "")))
      .select(col("doc_id"), col("source"), qualityScore.as("quality_score"))

  /** Sketch-threshold quality pruning — the 100 TB tier of
    * [[qualityFilter]]: instead of ranking every document within its
    * source (a full per-source sort — hot partition chains when a few
    * web-scale sources own most of the corpus), compute each source's
    * keep-threshold as `approx_percentile(quality_score, 1 − keepFrac)`
    * (bounded-memory mergeable GK summary, map-side partials — see
    * [[graft.events.EventOps.approxValuePercentiles]]), broadcast the
    * #sources-row threshold frame back, and keep map-side by a simple
    * score ≥ threshold comparison. No sort anywhere; the only shuffle
    * is the constant-size sketch merge.
    *
    * The cut agrees with the exact rank within the sketch's rank error
    * (boundary-tie docs may differ) — spec'd ≥99% keep-set agreement at
    * test SF. Rows-only at the driver gate like the other sketch tiers
    * (GK has no cross-engine oracle).
    */
  def qualityFilterSketch(docs: DataFrame, keepNum: Int = 3, keepDen: Int = 10,
      accuracy: Int = 10000): DataFrame = {
    val scored = scoredBySource(docs)
    val q = 1.0 - keepNum.toDouble / keepDen.toDouble
    val thresholds = scored.groupBy(col("source"))
      .agg(percentile_approx(col("quality_score"), lit(q), lit(accuracy)).as("q_threshold"))
    scored.join(broadcast(thresholds), Seq("source"))
      .withColumn("keep", col("quality_score") >= col("q_threshold"))
      .select(col("doc_id"), col("source"), col("quality_score"),
        col("q_threshold"), col("keep"))
  }

  /** Gopher-style document-quality rules (Rae et al. 2021, "Scaling
    * Language Models: ... Gopher", §A1.1 — the standard heuristic
    * filter battery for web-scale training corpora):
    *
    *  - 50 ≤ word count ≤ 100 000
    *  - 3 ≤ mean word length ≤ 10
    *  - symbol-to-word ratio ('#', '…', '...') ≤ 0.1
    *  - ≤ 90% of lines start with a bullet; ≤ 30% end with an ellipsis
    *  - ≥ 80% of words contain an alphabetic character
    *  - ≥ 2 stopwords present
    *
    * Emits every signal plus the conjunctive `gopher_pass` so the
    * decision is auditable per document. Pure built-in expressions over
    * one tokenization — integer counts with one final double division
    * per ratio (cross-engine exact).
    */
  def gopherQuality(docs: DataFrame): DataFrame = {
    val base = withToks(docs)
      .withColumn("n_words", size(col("toks")).cast("long"))
      .withColumn("sum_len", aggregate(col("toks"), lit(0), (acc, t) => acc + length(t)))
      .withColumn("n_hash",
        (length(col("text")) - length(regexp_replace(col("text"), "#", ""))).cast("long"))
      .withColumn("n_ellipsis",
        ((length(col("text")) - length(regexp_replace(col("text"), "\\.\\.\\.", ""))) / 3
          + (length(col("text")) - length(regexp_replace(col("text"), "…", "")))).cast("long"))
      .withColumn("n_alpha_words",
        size(filter(col("toks"), t => t.rlike(AlphaTokenClass))).cast("long"))
      .withColumn("n_stop", hits(col("toks"), stopwords))
      .withColumn("lines", split(col("text"), "\n"))
      .withColumn("n_lines", size(col("lines")).cast("long"))
      .withColumn("n_bullet_lines",
        size(filter(col("lines"), l => substring(ltrim(l), 1, 1).isin("-", "*", "•")))
          .cast("long"))
      .withColumn("n_ellipsis_lines",
        size(filter(col("lines"), l => rtrim(l).endsWith("...") || rtrim(l).endsWith("…")))
          .cast("long"))
    val nW = col("n_words")
    val meanLen = when(nW > 0, col("sum_len") / nW)
    val symbolRatio = when(nW > 0, (col("n_hash") + col("n_ellipsis")) / nW)
    val alphaRatio = when(nW > 0, col("n_alpha_words") / nW)
    val bulletRatio = when(col("n_lines") > 0, col("n_bullet_lines") / col("n_lines"))
    val ellipsisRatio = when(col("n_lines") > 0, col("n_ellipsis_lines") / col("n_lines"))
    base.select(
      col("doc_id"), nW, meanLen.as("mean_word_len"),
      symbolRatio.as("symbol_ratio"), bulletRatio.as("bullet_line_ratio"),
      ellipsisRatio.as("ellipsis_line_ratio"), alphaRatio.as("alpha_word_ratio"),
      col("n_stop"),
      (nW >= 50 && nW <= 100000 &&
        meanLen >= 3.0 && meanLen <= 10.0 &&
        symbolRatio <= 0.1 &&
        coalesce(bulletRatio, lit(0.0)) <= 0.9 &&
        coalesce(ellipsisRatio, lit(0.0)) <= 0.3 &&
        alphaRatio >= 0.8 &&
        col("n_stop") >= 2).as("gopher_pass"))
  }

  /** Stopword-profile language ID: count marker hits per language,
    * argmax with fixed priority tie-break, 'und' when no marker hits.
    */
  def langId(docs: DataFrame): DataFrame =
    withLangScores(withToks(docs)).select(
      (col("doc_id") +: langMarkers.map { case (l, _) => col(s"s_$l") }) :+
        predLang.as("pred_lang"): _*)

  /** Adds the per-language marker-hit score columns `s_<lang>`
    * (requires `toks`) — shared by [[langId]] and the corpus rollup.
    */
  private def withLangScores(df: DataFrame): DataFrame =
    langMarkers.foldLeft(df) { case (d, (lang, words)) =>
      d.withColumn(s"s_$lang", hits(col("toks"), words))
    }

  /** Argmax over the `s_<lang>` columns — CASE chain in priority
    * order (first language whose score is ≥ all later ones), 'und'
    * when no marker hits. Shared so faces cannot drift.
    */
  private def predLang: Column = {
    val scores = langMarkers.map { case (l, _) => col(s"s_$l") }
    val anyHit = scores.reduce(_ + _) > 0
    val pred = langMarkers.indices.init.foldRight(lit(langMarkers.last._1)) { (i, els) =>
      val (lang, _) = langMarkers(i)
      val geRest = langMarkers.drop(i + 1)
        .map { case (l2, _) => col(s"s_$lang") >= col(s"s_$l2") }
        .reduce(_ && _)
      when(geRest, lit(lang)).otherwise(els)
    }
    when(anyHit, pred).otherwise(lit("und"))
  }

  /** Corpus language/script mix — the monitoring rollup a multilingual
    * ingest watches per batch (is this crawl 40% CJK? did the Cyrillic
    * share double?): per-document dominant script and predicted
    * language (the SAME inline faces as the per-doc rows — zero
    * drift), aggregated to one row per (dominant_script, pred_lang)
    * with doc/token counts and the doc share. Shape: one narrow pass
    * + ONE keyed partial agg over a group space bounded by
    * |scripts|×|langs| (~60 rows) — the share window runs on the
    * TINY aggregate, never the corpus.
    */
  def languageMix(docs: DataFrame): DataFrame = {
    val perDoc = withScriptCols(withLangScores(withToks(docs)))
      .select(col("dominant_script"), predLang.as("pred_lang"),
        size(col("toks")).cast("long").as("n_toks"))
    val agg = perDoc.groupBy(col("dominant_script"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    agg.withColumn("doc_share",
      col("n_docs") / sum(col("n_docs")).over(w))
  }

  /** [[languageMix]] over a deterministically diversified corpus —
    * the driver row. A tiny APPENDED tail cannot flip a document's
    * dominant script (the prose body out-counts it), so one residue
    * class becomes tail-ONLY documents (dominant = the tail's script,
    * language 'und' — no marker hits), one keeps the prose body plus
    * a tail (still latin-dominant), and one stays untouched; the
    * rollup then has a real script × language group space on the
    * ASCII corpus.
    */
  def languageMixPlanted(docs: DataFrame): DataFrame = {
    val tail = element_at(array(ScriptTails.map(lit(_)): _*),
      (pmod(col("doc_id"), lit(ScriptTails.size.toLong)) + 1).cast("int"))
    val mtext = when(pmod(col("doc_id"), lit(3L)) === 1, tail)
      .when(pmod(col("doc_id"), lit(3L)) === 2, concat(col("text"), tail))
      .otherwise(col("text"))
    languageMix(docs.select(col("doc_id"), mtext.as("text")))
  }

  /** [[MultilingualTails]] extended with the tracked scripts the token
    * tails don't reach (Hebrew, Hangul, Devanagari incl. combining
    * matras, Thai incl. vowel/tone marks) — the script-profile row's
    * planting constant. Separate from MultilingualTails so extending
    * script coverage never perturbs the tokenizer gate row.
    */
  val ScriptTails: Seq[String] = MultilingualTails ++ Seq(
    // " שלום עולם" (Hebrew)
    " שלום עולם",
    // " 안녕하세요 세계" (Hangul syllables)
    " 안녕하세요 세계",
    // " नमस्ते दुनिया" (Devanagari, combining vowel signs count to the script)
    " नमस्ते दुनिया",
    // " สวัสดีชาวโลก" (Thai, sara/mai marks count to the script)
    " สวัสดีชาวโลก")

  /** Unicode script profile — the routing stage BEFORE language ID on
    * a multilingual crawl (script narrows the language family:
    * Cyrillic → ru/uk/bg…, Han/kana → zh/ja, Hangul → ko; n-gram
    * langid markers only discriminate within a script). Per document:
    * the `\p{L}` letter total, one codepoint count per tracked script
    * ([[graft.expressions.ScriptCounts]] — ONE native codegen pass,
    * not 12 regex scans), the dominant script (argmax in fixed
    * [[graft.expressions.ScriptCounts.Names]] order, 'und' when no
    * tracked-script codepoints), and the dominant share of the
    * tracked total (mixed-script docs — a spam/injection signal —
    * surface as low `script_ratio`). Pure narrow map; integer counts
    * with one final double division.
    */
  def scriptProfile(docs: DataFrame): DataFrame = {
    val names = graft.expressions.ScriptCounts.Names
    val counted = docs.select(col("doc_id"),
      GraftFunctions.scriptCounts(col("text")).as("__sc"))
      .select(col("doc_id") +:
        element_at(col("__sc"), 1).as("n_letters") +:
        names.zipWithIndex.map { case (nm, i) =>
          element_at(col("__sc"), i + 2).as(s"n_$nm")
        }: _*)
    counted.select(
      (col("doc_id") +: col("n_letters") +: names.map(nm => col(s"n_$nm"))) ++ Seq(
        dominantScript(nm => col(s"n_$nm")).as("dominant_script"),
        scriptRatio(nm => col(s"n_$nm")).as("script_ratio")): _*)
  }

  /** Dominant-script argmax over per-script count columns — first
    * tracked script reaching the max wins (both engines emit the same
    * fixed-order CASE chain); 'und' when no tracked-script codepoint.
    * Shared by [[scriptProfile]] and the inline composition faces
    * ([[withScriptCols]]) so they cannot drift.
    */
  private def dominantScript(cnt: String => Column): Column = {
    val names = graft.expressions.ScriptCounts.Names
    val total = names.map(cnt).reduce(_ + _)
    val top = greatest(names.map(cnt): _*)
    val dom = names.init.foldRight(lit(names.last)) { (nm, els) =>
      when(cnt(nm) === top, lit(nm)).otherwise(els)
    }
    when(total > 0, dom).otherwise(lit("und"))
  }

  /** Dominant share of the tracked-script total (null when zero). */
  private def scriptRatio(cnt: String => Column): Column = {
    val names = graft.expressions.ScriptCounts.Names
    val total = names.map(cnt).reduce(_ + _)
    when(total > 0, greatest(names.map(cnt): _*) / total)
  }

  /** Adds `dominant_script` + `script_ratio` columns from `text` —
    * the narrow composition face of [[scriptProfile]] (same kernel,
    * same argmax; zero joins, streaming-safe).
    */
  private[graft] def withScriptCols(df: DataFrame): DataFrame = {
    val sc = GraftFunctions.scriptCounts(col("text"))
    def cntOf(c: Column)(nm: String): Column =
      element_at(c, graft.expressions.ScriptCounts.Names.indexOf(nm) + 2)
    df.withColumn("__sc", sc)
      .withColumn("dominant_script", dominantScript(cntOf(col("__sc"))))
      .withColumn("script_ratio", scriptRatio(cntOf(col("__sc"))))
      .drop("__sc")
  }

  /** Adds `quality_score` from `text`+`toks` — the narrow composition
    * face of [[quality]] (same prerequisite columns, same shared
    * [[qualityScore]] expression; zero joins, streaming-safe).
    */
  private[graft] def withQualityScore(df: DataFrame): DataFrame =
    df.withColumn("n_chars", length(lower(col("text"))).cast("long"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_punct",
        length(regexp_replace(lower(col("text")), PunctKeepClass, "")))
      .withColumn("quality_score", qualityScore)
      .drop("n_chars", "n_tokens", "n_punct")

  /** [[scriptProfile]] over [[ScriptTails]]-tailed text — the driver
    * row: deterministic tails put every tracked script in play on the
    * ASCII test corpus, and both engines read the tails and the script
    * list from the same Scala constants.
    */
  def scriptProfileMultilingual(docs: DataFrame): DataFrame = {
    val tail = element_at(array(ScriptTails.map(lit(_)): _*),
      (pmod(col("doc_id"), lit(ScriptTails.size.toLong)) + 1).cast("int"))
    scriptProfile(docs.select(col("doc_id"),
      concat(col("text"), tail).as("text")))
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD 2003): hash every positional w-token shingle, slide a
    * window of `window` consecutive hashes, keep each window's minimum;
    * the distinct minima are the document's fingerprints. Guarantees a
    * shared fingerprint for any sufficiently long shared substring —
    * the standard rolling-hash dedup/plagiarism primitive.
    *
    * The hash + sliding minimum + dedup is ONE native per-document
    * pass ([[graft.expressions.WinnowFingerprints]]), not a window
    * function: the whole operator is a narrow projection — zero
    * exchanges, zero sorts — where the window form costs a doc-hash
    * shuffle plus a per-doc sort, and (worse) a consumer that
    * self-joins the fingerprints ([[containment]]) re-runs that
    * shuffle once per plan reference.
    */
  def winnow(docs: DataFrame, shingleW: Int = 3, window: Int = 4): DataFrame = {
    val fps = org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.WinnowFingerprints(
        org.apache.spark.sql.GraftColumnBridge.expression(
          GraftFunctions.shingles(col("text"), shingleW, distinct = false)),
        window))
    docs
      .select(col("doc_id"), fps.as("fps"))
      .filter(size(col("fps")) > 0)
      .select(col("doc_id"), explode(col("fps")).as("fingerprint"))
  }

  /** Fixed query-term set shared with the oracle generator so both
    * sides of the `text_bm25` check score the identical query.
    */
  val Bm25Terms: Seq[String] = Seq("the", "of", "data")

  /** Canned query batch for the batch-serving driver row: three
    * queries over tokenizer-canonical corpus words (query 0 = the
    * [[Bm25Terms]] set, so the single-query row anchors it).
    */
  val BatchQueries: Seq[(Long, String)] = Seq(
    (0L, "the"), (0L, "of"), (0L, "data"),
    (1L, "table"), (1L, "row"), (1L, "scan"),
    (2L, "query"), (2L, "window"))

  /** BM25 relevance score of every document against a fixed term set —
    * the standard retrieval/quality-weighting primitive (Robertson &
    * Zaragoza 2009; k1 = 1.2, b = 0.75):
    *
    *   score = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *   idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5))
    *
    * Two passes over the corpus: one broadcastable aggregate row for
    * (N, Σdl, df per term), then a map-side scoring projection — no
    * per-term shuffle. Arithmetic is written in a fixed association
    * order and the log goes through [[graft.expressions.DetLn]] — a
    * DEFINED series-based ln using only IEEE basic ops, because every
    * native log (JVM Math, JVM StrictMath, glibc/DuckDB) disagrees
    * with the others by 1 ulp on some arguments — so the oracle is
    * hash-exact by construction.
    */
  def bm25(docs: DataFrame, terms: Seq[String] = Bm25Terms,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val t = withToks(docs).withColumn("dl", size(col("toks")).cast("long"))
    val statAggs = Seq(
      count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl")) ++
      terms.zipWithIndex.map { case (term, i) =>
        sum(when(array_contains(col("toks"), term), 1L).otherwise(0L)).as(s"df_$i")
      }
    val stats = t.agg(statAggs.head, statAggs.tail: _*)
    val scored = t.crossJoin(broadcast(stats))
    val termScores = terms.zipWithIndex.map { case (term, i) =>
      val tf = size(filter(col("toks"), x => x === term)).cast("long")
      val idf = GraftFunctions.det_ln(lit(1.0) +
        (col("n_docs") - col(s"df_$i") + lit(0.5)) / (col(s"df_$i") + lit(0.5)))
      // association order mirrors the oracle SQL exactly
      idf * (tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0) - lit(b) + lit(b) * (col("dl") / (col("sum_dl") / col("n_docs")))))
    }
    scored
      .select(col("doc_id"), col("dl"), termScores.reduce(_ + _).as("bm25"))
  }

  /** Partial-duplication (containment) detection over winnowing
    * fingerprints: pairs of documents sharing fingerprints, scored by
    * `n_shared / min(n_a, n_b)` — near 1.0 when one document contains
    * (most of) the other, even when their overall Jaccard is low; the
    * winnowing guarantee makes any sufficiently long shared substring
    * contribute at least one shared fingerprint.
    *
    * Scale shape matches [[graft.dedup.Dedup.ngramJaccardPairs]]'s
    * self-join but over the winnowed ~2/(window+1) density instead of
    * every shingle; `maxFingerprintDf` caps pathological fingerprints
    * (one boilerplate block shared by df docs ⇒ df² join rows) the
    * same way maxShingleDf does — capped BY DEFAULT
    * ([[DefaultMaxFingerprintDf]]); pass None for the exact baseline.
    */
  def containment(docs: DataFrame, minContainment: Double = 0.5,
      shingleW: Int = 3, window: Int = 4,
      maxFingerprintDf: Option[Long] = Some(TextAnalysis.DefaultMaxFingerprintDf)): DataFrame = {
    val fpAll = winnow(docs, shingleW, window)
    // the capped fingerprint table feeds FOUR plan references (both
    // self-join sides + both size lookups) — cache it so the
    // shingle/hash/winnow pipeline runs once, not once per reference
    // (released before returning; the returned result is the cache
    // scope, the shared dedup-operator idiom)
    val fp = maxFingerprintDf.fold(fpAll)(cap =>
        graft.ops.Caching.capByFrequency(fpAll, col("fingerprint"), cap))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = fp.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val shared = fp.as("x").join(fp.as("y"),
        col("x.fingerprint") === col("y.fingerprint") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("n_shared"))
    val out = shared
      .join(sizes.as("za"), col("a") === col("za.doc_id"))
      .join(sizes.as("zb"), col("b") === col("zb.doc_id"))
      .select(col("a"), col("b"), col("n_shared"),
        col("za.n").as("n_a"), col("zb.n").as("n_b"),
        (col("n_shared") / least(col("za.n"), col("zb.n"))).as("containment"))
      .filter(col("containment") >= minContainment)
    graft.ops.Caching.materialized(out)(fp.unpersist(false))
  }

  /** Pointwise mutual information over within-document co-occurrence —
    * the standard collocation/phrase-affinity signal (Church & Hanks
    * 1990): `pmi(a,b) = ln(co_df·N / (df_a·df_b))` at document
    * granularity.
    *
    * The quadratic pair space is bounded by restricting to the
    * `vocabSize` most-frequent tokens (distributed TakeOrdered, then a
    * broadcast semi-join) — per-document fan-out is ≤ vocabSize², not
    * corpus-wide, which is what keeps this runnable at 100 TB. Counts
    * are exact integers; the log goes through the series-defined
    * [[graft.expressions.DetLn]] and the products are taken in double
    * with fixed association order (overflow-free and bit-identical to
    * the oracle on any IEEE engine).
    */
  def tokenPmi(docs: DataFrame, vocabSize: Int = 200, minCoDf: Long = 5): DataFrame = {
    // the exploded token table feeds the df aggregation AND both sides
    // of the self-join; the tiny vocab feeds three broadcasts — cache
    // both so the corpus is tokenized once and the corpus-wide df
    // aggregation runs once (released before returning; the returned
    // result is the cache scope, as with the dedup operators)
    val docTokens = withToks(docs)
      .select(col("doc_id"), explode(array_distinct(col("toks"))).as("t"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfs = docTokens.groupBy(col("t")).agg(count(lit(1)).as("df"))
    val vocab = dfs.orderBy(col("df").desc, col("t")).limit(vocabSize)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val vt = docTokens.join(broadcast(vocab.select(col("t"))), Seq("t"))
    val co = vt.as("x").join(vt.as("y"),
        col("x.doc_id") === col("y.doc_id") && col("x.t") < col("y.t"))
      .groupBy(col("x.t").as("a"), col("y.t").as("b"))
      .agg(count(lit(1)).as("co_df"))
      .filter(col("co_df") >= minCoDf)
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val out = co
      .join(broadcast(vocab.select(col("t").as("a"), col("df").as("df_a"))), Seq("a"))
      .join(broadcast(vocab.select(col("t").as("b"), col("df").as("df_b"))), Seq("b"))
      .crossJoin(broadcast(n))
      .select(col("a"), col("b"), col("co_df"), col("df_a"), col("df_b"),
        GraftFunctions.det_ln((col("co_df").cast("double") * col("n_docs")) /
          (col("df_a").cast("double") * col("df_b"))).as("pmi"))
    graft.ops.Caching.materialized(out) {
      vocab.unpersist(false); docTokens.unpersist(false)
    }
  }

  /** Corpus composition report per (source, lang) — the first table a
    * corpus curator looks at: document counts, token/char volume, and
    * mean document length. One grouped aggregation with map-side
    * partials.
    */
  def corpusStats(docs: DataFrame): DataFrame =
    withToks(docs)
      .select(col("source"), col("lang"),
        size(col("toks")).cast("long").as("n_tokens"), col("n_chars"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("n_chars")).as("total_chars"),
        (sum(col("n_tokens")) / count(lit(1))).as("avg_tokens"))
      .orderBy(col("source"), col("lang"))

  /** [[corpusStats]] under ROLLUP: per (source, lang), per source, and
    * the grand total in ONE aggregation pass — grouping-set execution
    * re-aggregates map-side partials up the hierarchy instead of
    * scanning the corpus once per granularity. `gid` is the standard
    * grouping bitmask (0 = leaf, 1 = per-source subtotal, 3 = grand
    * total), identical in Spark (`grouping_id()`) and the DuckDB
    * oracle (`GROUPING(source, lang)`).
    */
  def corpusRollup(docs: DataFrame): DataFrame =
    withToks(docs)
      .select(col("source"), col("lang"),
        size(col("toks")).cast("long").as("n_tokens"), col("n_chars"))
      .rollup(col("source"), col("lang"))
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("n_chars")).as("total_chars"))
      .orderBy(col("gid"), col("source"), col("lang"))

  /** Approximate-distinct corpus analytics per (source, lang):
    * HyperLogLog++ sketches of the distinct token vocabulary and the
    * distinct content fingerprints — the curator's "how much unique
    * material is in each slice" question. At 100 TB an EXACT distinct
    * of tokens is a full token-grain shuffle of the corpus; the HLL
    * sketch is a constant-size (≈ 1.04/rsd² registers), mergeable
    * map-side aggregate, so the shuffle carries one sketch per
    * (source, lang) per partition and the answer is within `rsd`
    * relative standard deviation (spec-asserted vs exact at test SF).
    * Spark's approx_count_distinct is deterministic for fixed input,
    * so the driver's rows-only re-run check is stable; no DuckDB
    * oracle because HLL implementations differ across engines
    * (declared, like the MLlib twins).
    *
    * Zero-token documents have no token rows and are absent from the
    * token stream — their (empty) fingerprint intentionally doesn't
    * count toward distinct content.
    */
  def corpusApproxDistinct(docs: DataFrame, rsd: Double = 0.05): DataFrame =
    withToks(docs)
      .select(col("source"), col("lang"),
        GraftFunctions.fingerprintOfTokens(col("toks")).as("fingerprint"),
        explode(col("toks")).as("tok"))
      .groupBy(col("source"), col("lang"))
      .agg(
        approx_count_distinct(col("tok"), rsd).as("approx_distinct_tokens"),
        approx_count_distinct(col("fingerprint"), rsd).as("approx_distinct_fingerprints"))
      .orderBy(col("source"), col("lang"))

  /** Most-frequent n-grams by document frequency (ties broken
    * lexicographically) — the boilerplate/vocabulary probe that feeds
    * stop-phrase lists and the `maxShingleDf` caps. Global top-k is a
    * distributed TakeOrdered over the grouped counts (never a
    * single-partition window over the full vocabulary); the rank
    * window touches only the k survivors.
    */
  def topNgrams(docs: DataFrame, k: Int = 100): DataFrame = {
    val grouped = graft.dedup.Dedup.shingleSet(docs)
      .groupBy(col("s")).agg(count(lit(1)).as("df"))
    grouped.orderBy(col("df").desc, col("s")).limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("df").desc, col("s"))).cast("long"))
      .orderBy(col("rank"))
  }

  /** Exact corpus heavy hitters (tokens with > num/den of all token
    * occurrences), computed sketch-first: pass 1 is a Misra-Gries
    * candidate sketch (`df.stat.freqItems` — fixed-size, mergeable,
    * guaranteed NO false negatives above the support threshold), pass 2
    * exactly counts ONLY the ≤ den/num + ε candidate tokens. Because
    * the sketch cannot miss a true heavy hitter and the verify is
    * exact, the output is deterministically "every token with
    * cnt·den > total·num" — the sketch affects cost, never results —
    * which is what makes this SQL-oracle-checkable. The decision is a
    * pure integer comparison.
    *
    * 100 TB shape: pass 1 never shuffles token rows (constant-size
    * per-partition summaries merge on the driver); pass 2's groupBy
    * only sees rows matching the tiny broadcast candidate set.
    */
  def heavyHitters(docs: DataFrame, num: Int = 1, den: Int = 100): DataFrame = {
    // the exploded token frame feeds THREE actions (freqItems sketch,
    // total count, candidate count) — cache it for the operator's scope
    // or the corpus tokenizes three times over
    val tok = withToks(docs).select(explode(col("toks")).as("token"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cands = tok.stat.freqItems(Seq("token"), num.toDouble / den)
      .head.getSeq[String](0)
    val total = tok.agg(count(lit(1)).as("n_total"))
    val out = tok.filter(col("token").isin(cands: _*))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .filter(col("cnt") * den > col("n_total") * num)
      .orderBy(col("cnt").desc, col("token"))
    graft.ops.Caching.materialized(out) { tok.unpersist(false) }
  }

  /** Feature-hashing document embedding (the "hashing trick",
    * Weinberger et al. 2009): a deterministic d-dimensional signed
    * term-frequency vector per document, model-free — the bridge from
    * raw text into every embedding-side operator (cosine kNN, IVF,
    * SemDeDup) when no learned encoder is in the loop. Each token
    * hashes to a dimension (`hex64 mod d`) with a hash-derived ±1 sign
    * (an independent hash bit, so sign and dimension are uncorrelated);
    * the vector is the signed count sum, L2-normalized.
    *
    * Everything is integer arithmetic until the final `w/√Σw²` — and
    * both √ and the division are correctly-rounded IEEE ops, so the
    * normalized weights are cross-engine bit-exact (the rare always-
    * safe float case, same argument as `sample_temperature`'s √-only α).
    *
    * Scale shape: one token explode + one (doc_id, dim) map-side-
    * partial groupBy (≤ d rows per doc into the shuffle) + a per-doc
    * norm reduced the same way; no windows, no broadcast.
    *
    * Sparse driver/oracle surface: (doc_id, dim, w, weight) rows with
    * w ≠ 0. [[hashEmbedVectors]] assembles the dense normalized
    * `array<double>` for ANN composition.
    */
  def hashEmbed(docs: DataFrame, d: Int = 64): DataFrame =
    // ONE doc-grain aggregate carries both the (dim, w) set and the
    // norm, then explodes back to the sparse grain. The previous
    // `w ⋈ (w.groupBy(doc_id).agg(norm))` join LOOKED like a cheap
    // second aggregate but physically re-ran the whole tokenize +
    // explode + dim-agg chain for the norms side — DataFrame plans get
    // no common-subtree reuse (measured via the executed-plan metrics
    // dump: the duplicate chain was the single largest cost of every
    // hashEmbed consumer). Values are bit-identical: the norm is an
    // exact int64 Σw² either way, √ and ÷ are correctly rounded.
    hashEmbedPerDoc(docs, d)
      .select(col("doc_id"), explode(col("ws")).as("dw"), col("nrm"))
      .select(col("doc_id"), col("dw.dim").as("dim"), col("dw.w").as("w"),
        (col("dw.w") / col("nrm")).as("weight"))

  /** Sparse signed-count rows (doc_id, dim, w ≠ 0) — the single
    * explode + dim-grain-agg pass every hash-embed form builds on.
    */
  private[graft] def hashEmbedSparse(docs: DataFrame, d: Int = 64): DataFrame =
    withToks(docs).select(col("doc_id"), explode(col("toks")).as("t"))
      .withColumn("h", GraftFunctions.hex64(concat(lit("he|"), col("t"))))
      // low bits pick the dimension, bit 20 the sign — independent
      .withColumn("dim", col("h") % d)
      .withColumn("sgn", when(shiftright(col("h"), 20).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L))
      .groupBy(col("doc_id"), col("dim"))
      .agg(sum(col("sgn")).as("w"))
      .filter(col("w") =!= 0)

  /** Doc-grain collected form: (doc_id, ws: array<struct<dim, w>>,
    * nrm = √Σw²) — one map-side-partial aggregate over
    * [[hashEmbedSparse]]; `ws` is bounded by d entries per doc.
    */
  private def hashEmbedPerDoc(docs: DataFrame, d: Int): DataFrame =
    hashEmbedSparse(docs, d)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("dim"), col("w"))).as("ws"),
        sqrt(sum(col("w") * col("w"))).as("nrm"))

  /** Dense normalized vectors from [[hashEmbed]]: (doc_id, embedding
    * array<float>) ready for [[graft.ann.Knn.cosineTopK]] / IVF /
    * SemDeDup composition (float to match the embeddings table type).
    */
  def hashEmbedVectors(docs: DataFrame, d: Int = 64): DataFrame =
    // built straight from the doc-grain collected form — the sparse
    // (exploded) face would immediately re-collect per doc here. The
    // dense assembly is the codegen [[graft.expressions.SparseToDense]]
    // kernel: the former map_from_entries + transform(sequence…) ran as
    // an interpreted higher-order function (CodegenFallback), d
    // interpreted map lookups per document on every serving path.
    // weight = w/nrm is the same correctly-rounded double ÷ as
    // [[hashEmbed]]'s.
    hashEmbedPerDoc(docs, d)
      .select(col("doc_id"),
        GraftFunctions.sparse_to_dense(col("ws"), col("nrm"), d).as("embedding"))

  /** Cosine top-k neighbors over [[hashEmbed]] vectors, computed at
    * the SPARSE (doc_id, dim, w) grain with INTEGER arithmetic until
    * the final step: numerator = Σ_dim w_q·w_c (exact int64 sums —
    * order-independent, unlike a float dot product over shuffled
    * rows), norms = Σ w² per doc, cosine = num / (√s2_q · √s2_c) —
    * two correctly-rounded √ and one ÷, so the whole ranking is
    * cross-engine hash-exact. The SQL-oracle-checkable face of the
    * text→ANN bridge (the dense [[hashEmbedVectors]] form serves the
    * float ANN operators).
    *
    * Scale shape: the dim-join fan-out is |queries|·|corpus|·overlap/d
    * (the classic sparse similarity join) — bounded by the broadcast
    * query side; norms are one map-side-partial groupBy; the final
    * top-k is TopKByScore.
    */
  def hashEmbedTopK(docs: DataFrame, queryIds: DataFrame, d: Int = 64,
      k: Int = 5): DataFrame = {
    // the sparse weight table feeds THREE consumers (norms, the query
    // side, the candidate side) — cache it for the operator's scope or
    // the tokenize + hash + signed-count chain recomputes three times
    // (measured: the dominant cost of hybrid serving at the 500k smoke).
    // NOTE (r15): do NOT add a repartition between the agg and the
    // persist — the optimizer collapses/reorders it differently per
    // consumer subtree, the analyzed plans stop matching the cache, and
    // the norms consumer silently recomputes the whole tokenize+hash
    // chain (measured via the executed-plan metrics dump).
    val w = hashEmbedSparse(docs, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val norms = w.groupBy(col("doc_id")).agg(sum(col("w") * col("w")).as("s2"))
    val qw = w.join(graft.ops.Broadcasting.maybeBroadcast(queryIds),
      Seq("doc_id"), "left_semi")
    val num = qw.as("q").join(w.as("c"),
        col("q.dim") === col("c.dim") && col("q.doc_id") =!= col("c.doc_id"))
      .groupBy(col("q.doc_id").as("q_id"), col("c.doc_id").as("cand_id"))
      .agg(sum(col("q.w") * col("c.w")).as("num"))
    val out = graft.ops.TopK.rankByScore(
      num
        .join(norms.as("nq"), col("q_id") === col("nq.doc_id"))
        .join(norms.as("nc"), col("cand_id") === col("nc.doc_id"))
        .select(col("q_id"), col("cand_id"),
          (col("num") / (sqrt(col("nq.s2")) * sqrt(col("nc.s2")))).as("sim")),
      k)
    graft.ops.Caching.materialized(out) { w.unpersist(false) }
  }

  /** Corpus-bigram language-model scoring — the CCNet/perplexity
    * quality signal (Wenzek et al. 2020): score each document by the
    * mean log-probability of its bigrams under an add-one-smoothed
    * bigram model TRAINED ON THE CORPUS ITSELF (the self-scoring
    * variant; junk documents score low because their token transitions
    * are rare corpus-wide). p(w2|w1) = (c(w1,w2) + 1) / (c(w1) + V)
    * with V = distinct corpus unigrams; log through
    * [[graft.expressions.DetLn]] so the score is cross-engine
    * bit-exact.
    *
    * Determinism: a per-doc float sum over shuffled rows is
    * order-dependent, so each document's bigram log-probs are
    * reassembled POSITIONALLY (sort_array over (pos, logp)) and folded
    * left-to-right with `aggregate` — the oracle mirrors the exact
    * fold with DuckDB's `list_reduce` over `list(... ORDER BY pos)`,
    * making even the double summation bitwise reproducible.
    *
    * Scale shape: bigram/unigram count tables are one map-side-partial
    * groupBy each; the scoring join is co-partitioned on the bigram key
    * (AQE covers hot-bigram skew); V rides in as a 1-row broadcast; the
    * per-doc reassembly shuffles one (pos, logp) pair per bigram —
    * bounded by document length, the same cost class as [[chunks]].
    * Only documents with ≥ 2 tokens score (a bigram model says nothing
    * about shorter ones).
    */
  def ngramLmScore(docs: DataFrame): DataFrame = {
    val t = withToks(docs).select(col("doc_id"), col("toks"))
    val bg = positionalBigrams(t)
    val uni = t.select(explode(col("toks")).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val big = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val vocab = t.select(explode(col("toks")).as("w"))
      .agg(count_distinct(col("w")).as("v"))
    lmScoreCore(bg, big, uni, vocab)
  }

  /** Positional bigram stream of a tokenized frame — shared by the
    * in-query LM fit and the persisted-LM scoring pass.
    */
  private def positionalBigrams(t: DataFrame): DataFrame =
    t.filter(size(col("toks")) >= 2)
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, size(toks)-2), i -> named_struct('w1', toks[i], 'w2', toks[i+1]))"))
        .as(Seq("pos", "b")))
      .select(col("doc_id"), col("pos"), col("b.w1").as("w1"), col("b.w2").as("w2"))

  /** Shared scoring core: Laplace-smoothed bigram log-probs joined
    * onto the positional stream, reassembled positionally and folded
    * left-to-right (the bitwise-reproducible float discipline of
    * [[ngramLmScore]]). `vocab` is a 1-row (v) frame — broadcast
    * whether it came from an in-query count or a persisted property.
    */
  private def lmScoreCore(bg: DataFrame, big: DataFrame, uni: DataFrame,
      vocab: DataFrame): DataFrame = {
    val scored = bg
      .join(big, Seq("w1", "w2"))
      .join(uni, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"), col("pos"),
        GraftFunctions.det_ln((col("c12") + 1) / (col("c1") + col("v"))).as("logp"))
    scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sort_array(collect_list(struct(col("pos"), col("logp")))).as("ps"))
      .select(col("doc_id"), col("n_bigrams"),
        aggregate(transform(col("ps"), p => p.getField("logp")),
          lit(0.0), (acc, x) => acc + x).as("sum_logp"))
      .withColumn("avg_logp", col("sum_logp") / col("n_bigrams"))
  }

  /** Persist a fitted bigram LM at rest: the bigram count table
    * bucketed + sorted on its JOIN KEY (w1, w2) and the unigram table
    * on (w1), vocabulary size in TBLPROPERTIES — fit once on a
    * reference corpus, score many corpora (the CCNet perplexity-
    * filter deployment shape: the LM tables can be billions of rows
    * at web scale, so they live as bucketed tables the scoring join
    * reads WITHOUT an LM-side exchange, exactly the
    * [[graft.lsh.LshIndex.saveBucketed]] contract).
    */
  def saveLm(docs: DataFrame, table: String, nBuckets: Int = 32,
      path: Option[String] = None): Unit = {
    val spark = docs.sparkSession
    val t = withToks(docs).select(col("doc_id"), col("toks"))
    val bg = positionalBigrams(t)
    val big = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    graft.ops.Compaction.saveBucketed(big, table, nBuckets,
      path.map(loc => s"$loc/big"), "w1", "w2")
    val uni = t.select(explode(col("toks")).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    graft.ops.Compaction.saveBucketed(uni, s"${table}_uni", nBuckets,
      path.map(loc => s"$loc/uni"), "w1")
    val v = t.select(explode(col("toks")).as("w"))
      .agg(count_distinct(col("w"))).collect()(0).getLong(0)
    graft.ops.TableProps.set(spark, table, "graft.lm.params", s"""{"v":$v}""")
  }

  /** Score a corpus against a [[saveLm]]ed model. Bigrams of the
    * SCORED corpus stream map-side into the two bucketed joins (LM
    * side exchange-free); unseen bigrams drop out (inner join) — the
    * model says nothing about pairs it never saw, same contract as
    * the in-query fit scoring its own corpus.
    */
  def ngramLmScoreOnLm(docs: DataFrame, table: String): DataFrame = {
    val spark = docs.sparkSession
    val json = graft.ops.TableProps.get(spark, table, "graft.lm.params")
    val v = graft.ops.TableProps.longField(json, "v")
    val vocab = spark.range(1).select(lit(v).as("v"))
    val bg = positionalBigrams(withToks(docs).select(col("doc_id"), col("toks")))
    lmScoreCore(bg, spark.table(table), spark.table(s"${table}_uni"), vocab)
  }

  /** Document-frequency cap for [[invertedIndex]] postings: a token
    * present in more documents than this carries no search selectivity
    * (its posting list is ~the whole corpus) and is excluded from the
    * index, the classic stopword cut. The cap also bounds the largest
    * posting row materialized by the index build. Mirrored in the
    * oracle SQL.
    */
  val DefaultMaxTokenDf: Long = 100000L

  /** Inverted index over the corpus — the text-search twin of the LSH
    * bucket index ([[graft.lsh.LshIndex]]): one row per token with its
    * document frequency, corpus frequency, and the posting list
    * (doc_ids sorted ascending, parallel per-doc term frequencies).
    * Index once, serve many queries from postings
    * ([[SearchIndex.scoreTopK]]) — each query scores Σ df(term)
    * posting entries instead of every document (the serve's scan still
    * reads the whole postings table; the query-token join drops the
    * rest).
    *
    * Scale shape: (token, doc) term counts partial-aggregate map-side;
    * hot tokens (df > maxDf) are identified from the SMALL df relation
    * and removed by a broadcast anti-join BEFORE the posting-list
    * shuffle — the corpus-sized stream never shuffles a hot token's
    * rows, and no oversized `collect_list` row is ever built. The final
    * df/postings join is token-co-partitioned (no extra exchange).
    */
  def invertedIndex(docs: DataFrame, maxDf: Long = DefaultMaxTokenDf): DataFrame =
    invertedIndexFromDocTf(docTermFreq(docs), maxDf)

  /** Per-(token, doc) term frequencies — the shared grain every index
    * branch (df relation, hot-token cap, posting lists) derives from.
    * Eager builds cache THIS frame ([[SearchIndex.withBuild]]; the
    * hashEmbed single-pass lesson applied to the lexical side:
    * DataFrame plans get no common-subtree reuse, so an uncached docTf
    * re-runs the tokenize → explode → count chain once per branch —
    * measured 4 full chains in one text_search_hybrid serve).
    */
  private[text] def docTermFreq(docs: DataFrame): DataFrame =
    withToks(docs)
      .select(col("doc_id"), explode(col("toks")).as("token"))
      .groupBy(col("token"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))

  /** [[invertedIndex]] body over a precomputed (and usually cached)
    * [[docTermFreq]] frame.
    */
  private[text] def invertedIndexFromDocTf(docTf: DataFrame, maxDf: Long): DataFrame = {
    val dfs = docTf.groupBy(col("token"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"))
    val hot = dfs.filter(col("df") > maxDf).select(col("token"))
    val postings = docTf
      .join(broadcast(hot), Seq("token"), "left_anti")
      .groupBy(col("token"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("tf")))).as("p"))
    postings.join(dfs, Seq("token"))
      .select(col("token"), col("df"), col("cf"),
        transform(col("p"), x => x.getField("doc_id")).as("doc_ids"),
        transform(col("p"), x => x.getField("tf")).as("tfs"))
  }

  /** Oracle-checkable projection of [[invertedIndex]]: the posting
    * arrays digested to scalar columns (hex64 over the comma-joined
    * values) so the row is sortable/hashable by any tabular harness —
    * same information content, cross-engine hash-exact. The
    * array-returning [[invertedIndex]] stays the composition API
    * ([[SearchIndex.build]] derives the served postings the same way).
    */
  def invertedIndexDigest(docs: DataFrame, maxDf: Long = DefaultMaxTokenDf): DataFrame =
    invertedIndex(docs, maxDf).select(col("token"), col("df"), col("cf"),
      graft.GraftFunctions.hex64(
        array_join(transform(col("doc_ids"), _.cast("string")), ",")).as("doc_ids_h"),
      graft.GraftFunctions.hex64(
        array_join(transform(col("tfs"), _.cast("string")), ",")).as("tfs_h"))

  /** The 20 decomposed (vowel × combining grave/acute/circumflex/
    * tilde) pairs the [[normalizeQuery]] synth plants — shared with
    * the DuckDB oracle (the LSH plane-literal convention), so both
    * engines normalize the SAME decomposed bytes. All pairs are
    * Unicode-1.0-era characters: no Unicode-version skew between the
    * JDK and utf8proc is possible for them.
    */
  val NfcCombos: Seq[String] = for {
    v <- Seq("a", "e", "i", "o", "u")
    m <- Seq("̀", "́", "̂", "̃")
  } yield v + m

  /** Unicode NFC normalization over the corpus — the canonical-form
    * pass a multilingual crawl needs BEFORE any byte-keyed operator
    * (the same visible text arrives composed and decomposed; every
    * fingerprint/minhash in this engine is byte-keyed, so
    * un-normalized variants silently escape dedup). The synthetic
    * decomposed suffix (combo by doc_id, repeated 1–3×; every 7th doc
    * untouched ASCII to exercise the no-op path) makes the
    * normalization observable on the ASCII test corpus; `changed`,
    * both char counts, and the normalized text itself are
    * cross-engine hash-exact because JDK Normalizer and DuckDB's
    * utf8proc implement the same UAX #15. A pure codegen projection —
    * zero shuffles at any scale, and the kernel's `isNormalized`
    * fast path never allocates on already-composed text.
    */
  def normalizeQuery(docs: DataFrame): DataFrame = {
    val d = col("doc_id")
    val comboArr = array(NfcCombos.map(lit): _*)
    val raw = docs
      .withColumn("combo", element_at(comboArr, (d % 20 + 1).cast("int")))
      .withColumn("raw",
        when(d % 7 === 0, col("text"))
          .otherwise(concat(col("text"), lit(" "),
            expr("repeat(combo, CAST(doc_id % 3 AS INT) + 1)"))))
    val n = GraftFunctions.nfc_normalize(col("raw"))
    raw.select(d,
      (col("raw") =!= n).as("changed"),
      length(col("raw")).cast("long").as("n_chars_raw"),
      length(n).cast("long").as("n_chars_nfc"),
      n.as("nfc_text"))
  }

  /** Positional PHRASE search — the exact-sequence query the
    * term-bag [[searchTopK]] cannot answer: a phrase matches where
    * every term appears at its offset from a common start position.
    * Pure offset arithmetic on positional postings: each (term,
    * offset) hit votes for `start = pos − offset`, and a start whose
    * vote count equals the phrase length is an occurrence — no
    * per-document loop, no regex scan of the text.
    *
    * Scale shape: positional postings explode map-side; the phrase
    * table broadcasts (queries are small by nature); ONE shuffle on
    * the (phrase, doc, start) group key with map-side partials, then
    * a keyed count. Duplicate terms inside a phrase are handled by
    * construction ((pos, offset) rows are unique). At rest, persist
    * the positional postings bucketed by token — the
    * [[invertedIndex]] discipline with a `pos` column.
    */
  def phraseSearch(docs: DataFrame, phrases: DataFrame): DataFrame =
    phraseSearchOnPostings(positionalPostings(docs), phrases)

  /** The positional posting stream `(doc_id, pos, token)` — the
    * index-side input of [[phraseSearchOnPostings]], fresh or at
    * rest.
    */
  def positionalPostings(docs: DataFrame): DataFrame =
    withToks(docs)
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "token")))

  /** The offset-voting core over any positional posting frame. */
  def phraseSearchOnPostings(post: DataFrame, phrases: DataFrame): DataFrame = {
    val q = phrases
      .select(col("phrase_id"), size(col("terms")).as("plen"),
        posexplode(col("terms")).as(Seq("offset", "token")))
    post.join(broadcast(q), Seq("token"))
      .select(col("phrase_id"), col("plen"), col("doc_id"),
        (col("pos") - col("offset")).as("start"))
      .filter(col("start") >= 0)
      .groupBy(col("phrase_id"), col("plen"), col("doc_id"), col("start"))
      .agg(count(lit(1)).as("matched"))
      .filter(col("matched") === col("plen"))
      .groupBy(col("phrase_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("phrase_id"), col("doc_id"))
  }

  /** Persist the positional postings at rest, bucketed + sorted by
    * token — [[SearchIndex]]'s positional sibling: tokenize once,
    * serve every future phrase query from the table (a phrase touches
    * only its terms' postings, and single-term probes prune to one
    * file bucket). The corpus is never re-read at serving time.
    */
  def savePositionalIndex(docs: DataFrame, table: String, nBuckets: Int = 32,
      path: Option[String] = None): Unit = {
    graft.ops.Compaction.saveBucketed(positionalPostings(docs), table, nBuckets, path, "token")
  }

  /** [[phraseSearch]] served from a [[savePositionalIndex]] table. */
  def phraseSearchOnIndex(spark: org.apache.spark.sql.SparkSession,
      table: String, phrases: DataFrame): DataFrame =
    phraseSearchOnPostings(spark.table(table), phrases)

  /** Incrementally index a batch into a [[savePositionalIndex]] table.
    * Positional postings are ROW-grain — one (doc_id, pos, token) row
    * each, no per-token aggregate to merge — so a bucket-aligned
    * append is exactly correct with no serve-time fold (unlike the
    * BM25 index's segment rows); compaction is the generic
    * [[graft.ops.Compaction.rewriteBucketed]].
    */
  def addToPositionalIndex(batch: DataFrame, table: String): Unit =
    graft.ops.Compaction.appendBucketed(batch.sparkSession, table)(positionalPostings(batch))

  /** Deterministic corpus-derived phrase set for the driver row: the
    * 3rd–5th tokens of each of the first `n` long-enough docs.
    */
  def cannedPhrases(docs: DataFrame, n: Int = 5): DataFrame =
    withToks(docs)
      .filter(col("doc_id") < n && size(col("toks")) >= 5)
      .select(col("doc_id").as("phrase_id"), slice(col("toks"), 3, 3).as("terms"))

  /** BM25 top-k over a freshly built index: [[SearchIndex.withBuild]]'s
    * postings (the (token, doc, tf) grain cached for the call, so the
    * index's df, hot-token and posting branches read ONE tokenize →
    * explode → count chain) scored by the one core
    * ([[SearchIndex.scoreTopK]]) as a batch of one, folding in `terms`
    * order — bitwise-equal to the full-scan [[bm25]] on every
    * candidate. Only documents containing at least one query term are
    * candidates. Output: (doc_id, score), best first.
    *
    * Eager, materialized: the returned frame is the one cache scope
    * left — the caller unpersists it (the contract on
    * [[SearchIndex.scoreTopK]]).
    */
  def searchTopK(docs: DataFrame, terms: Seq[String] = Bm25Terms,
      k: Int = 20, k1: Double = 1.2, b: Double = 0.75,
      maxDf: Long = DefaultMaxTokenDf): DataFrame =
    SearchIndex.withBuild(docs, maxDf) { ix =>
      graft.ops.Caching.materialized(SearchIndex.scoreTopK(ix,
        SearchIndex.termQuery(docs.sparkSession, terms), k, k1, b)
        .select(col("doc_id"), col("score")))(())
    }

  /** doc_id of a single hybrid query's pseudo-document — negative, so
    * it can never collide with a corpus id.
    */
  val HybridQueryDocId: Long = -1L

  /** Hybrid lexical + semantic retrieval fused by Reciprocal Rank
    * Fusion (Cormack et al., SIGIR 2009): the BM25 top-`kEach`
    * ([[searchTopK]]) and the hash-embedding cosine top-`kEach`
    * (the query terms embedded as a pseudo-document through the SAME
    * [[hashEmbed]] pipeline as the corpus) merge by
    * `rrf = Σ_retriever 1/(rrfK + rank)` — the standard fusion that
    * needs NO score calibration between retrievers, only their ranks.
    * The production shape of every hybrid search/retrieval-curation
    * surface: lexical catches exact terminology, the embedding side
    * catches synonymy/paraphrase, RRF rewards documents both agree on.
    *
    * Scale shape: each retriever is its own already-scale-shaped
    * pipeline; the fusion itself touches only 2·kEach ranked rows —
    * a full-outer join on doc_id plus one bounded TopKByScore, nothing
    * corpus-sized. Determinism: ranks are integers, each RRF term is
    * one correctly-rounded IEEE division, the two-term sum has a fixed
    * association order mirrored in the oracle, ties break on doc_id —
    * the whole fusion is cross-engine hash-exact (the rare hybrid
    * ranker that can be oracle-checked end to end).
    *
    * `terms` must be tokenizer-canonical words (lowercase, no
    * punctuation): the pseudo-document is `terms.mkString(" ")` run
    * through [[GraftFunctions.tokens]].
    *
    * Output: (rn, doc_id, lex_rank, vec_rank, rrf_score) — a null
    * rank means that retriever did not surface the document.
    *
    * Eager, materialized; the result's lineage runs through a released
    * [[graft.ops.Caching.cut]]: set a checkpoint dir and the result
    * recomputes (the contract on [[SearchIndex.scoreTopK]]).
    */
  def hybridSearchTopK(docs: DataFrame, terms: Seq[String] = Bm25Terms,
      k: Int = 10, kEach: Int = 20, d: Int = 64, rrfK: Int = 60): DataFrame = {
    // ONE cached tokenize pass feeds BOTH retrievers (withToks trusts
    // the precomputed column — the pipeline_clean discipline); without
    // this the corpus tokenizes once for the postings and again for
    // the hash embedding
    val tokD = withToks(docs.select(col("doc_id"), col("text")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = SearchIndex.withBuild(tokD, DefaultMaxTokenDf) { ix =>
      val lex = SearchIndex.scoreTopK(ix,
        SearchIndex.termQuery(docs.sparkSession, terms), kEach)
      val (fused, releaseVec) = hybridFuse(lex, tokD, terms, k, kEach, d, rrfK)
      graft.ops.Caching.materialized(fused)(releaseVec())
    }
    tokD.unpersist(false)
    out
  }

  /** [[hybridSearchTopK]] with the LEXICAL side served from a
    * persisted [[SearchIndex]] — the production hybrid shape: the
    * postings index is built once ("index once, serve many"), each
    * query scores only its terms' postings there (the serve scans the
    * postings table and keeps those rows), and the semantic side stays
    * the one linear hash-embed pass over the corpus. The fusion core
    * is shared, so the two forms cannot drift.
    *
    * Eager, materialized; the result's lineage runs through a released
    * [[graft.ops.Caching.cut]]: set a checkpoint dir and the result
    * recomputes (the contract on [[SearchIndex.scoreTopK]]).
    */
  def hybridSearchTopKOnIndex(idx: SearchIndex.TextIndex, docs: DataFrame,
      terms: Seq[String] = Bm25Terms, k: Int = 10, kEach: Int = 20,
      d: Int = 64, rrfK: Int = 60): DataFrame = {
    val lex = SearchIndex.serve(idx,
      SearchIndex.termQuery(docs.sparkSession, terms), kEach)
    val (out, releaseVec) = hybridFuse(lex,
      docs.select(col("doc_id"), col("text")), terms, k, kEach, d, rrfK)
    graft.ops.Caching.materialized(out) { releaseVec() }
  }

  /** The exact-embed hybrid core: the ranked lexical side of query 0
    * (a [[SearchIndex.scoreTopK]] frame) against the pseudo-document's
    * hash-embed cosine ranks over the corpus, fused by the one
    * [[fuseRankListsBatch]] tail. Returns the fused frame plus a
    * release for the embed side's cache scope and the fusion
    * checkpoint — the caller runs it once its own result is
    * materialized, so the operator leaves ONE scope behind.
    */
  private def hybridFuse(lex: DataFrame, corpus: DataFrame,
      terms: Seq[String], k: Int, kEach: Int, d: Int, rrfK: Int)
      : (DataFrame, () => Unit) = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val qRow = withToks(Seq((HybridQueryDocId, terms.mkString(" "))).toDF("doc_id", "text"))
    val vecScoped = hashEmbedTopK(withToks(corpus).unionByName(qRow),
      qRow.select(col("doc_id")), d, kEach)
    val vec = vecScoped.select(lit(0L).as("query_id"), col("cand_id").as("doc_id"),
      col("rn").as("vec_rank"))
    val (out, releaseFused) = fuseRankListsBatch(
      lex.select(col("query_id"), col("doc_id"), col("rn").as("lex_rank")), vec, k, rrfK)
    (out.drop("query_id"), () => { vecScoped.unpersist(false); releaseFused() })
  }

  /** The RRF fusion tail — ONE fusion implementation for every hybrid
    * form, exact-embed or IVF-served, single- or batch-query:
    * full-outer join the two rank lists per (query_id, doc_id),
    * `Σ 1/(rrfK + rank)` in fixed association order, bounded top-k PER
    * QUERY (rankByScore partitions on q_id, so fusing 10⁴ queries is
    * the same plan as fusing one; a single query is query_id 0).
    */
  private def fuseRankListsBatch(lex: DataFrame, vec: DataFrame,
      k: Int, rrfK: Int): (DataFrame, () => Unit) = {
    val rrfScore =
      coalesce(lit(1.0) / (lit(rrfK.toDouble) + col("lex_rank")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(rrfK.toDouble) + col("vec_rank")), lit(0.0))
    // `fused` feeds BOTH the top-k aggregate and the rank join-back, and
    // DataFrame plans get no common-subtree reuse — without a lineage cut
    // the entire upstream (BOTH retriever legs) plans and executes twice,
    // and the served plan carries ~2× the codegen segments Catalyst/AQE
    // must orchestrate (the r15 "plan breadth" cost of text_search_hybrid).
    // The fused rank lists are ≤ 2·kEach rows per query — the cheapest
    // possible thing to materialize (guide §3.3: materialize an
    // intermediate to truncate a very wide plan). The returned release
    // frees the cut; callers run it once their own result is
    // materialized (set a checkpoint dir and the result recomputes).
    val fused = graft.ops.Caching.cut(
      lex.join(vec, Seq("query_id", "doc_id"), "full_outer")
        .select(col("query_id"), col("doc_id"), col("lex_rank"), col("vec_rank"),
          rrfScore.as("rrf_score")))
    val out = graft.ops.TopK.rankByScore(
      fused.select(col("query_id").as("q_id"), col("doc_id").as("cand_id"),
        col("rrf_score").as("sim")), k)
      .select(col("q_id").as("query_id"), col("rn"),
        col("cand_id").as("doc_id"), col("sim").as("rrf_score"))
      .join(fused.select(col("query_id"), col("doc_id"), col("lex_rank"),
        col("vec_rank")), Seq("query_id", "doc_id"))
      .select(col("query_id"), col("rn"), col("doc_id"), col("lex_rank"),
        col("vec_rank"), col("rrf_score"))
      .orderBy(col("query_id"), col("rn"))
    (out, () => graft.ops.Caching.releaseCheckpoint(fused))
  }

  /** BATCH hybrid serving from indexes at rest — the full production
    * serving story in one operator: a `(query_id, token)` frame's
    * lexical sides serve in one pass over the postings (the
    * [[SearchIndex.scoreTopK]] core, token-order folds), its semantic
    * sides in one cell-confined pass over a persisted IVF index over
    * the [[hashEmbedVectors]] corpus ([[graft.ann.Ivf.probeTopKOnIndex]]
    * takes a query FRAME — a serve reads the IVF table, not the corpus,
    * and scores only the nProbe probed cells' vectors: the scan reads
    * every cell by file splits and the probe join keeps the probed
    * ones), and the shared [[fuseRankListsBatch]] tail fuses per
    * query. Query pseudo-docs hash-embed corpus-free (hashEmbed is
    * per-doc pure, sign sums are token-order-free); query vec_ids are
    * negated (−query_id−1) so they can never collide with corpus
    * vec_ids in the self-exclusion filter. With `nProbe` ≥ the cell
    * count the semantic side degenerates to the exact dense-cosine
    * ranking — the oracle-checkable configuration; production serves
    * with small `nProbe` at measured recall
    * ([[graft.ann.Knn.recallEval]]). Output: (query_id, rn, doc_id,
    * lex_rank, vec_rank, rrf_score).
    *
    * Eager, materialized; the result's lineage runs through a released
    * [[graft.ops.Caching.cut]]: set a checkpoint dir and the result
    * recomputes (the contract on [[SearchIndex.scoreTopK]]).
    */
  def hybridSearchBatchOnIndexes(lexIdx: SearchIndex.TextIndex,
      annCells: DataFrame, annCentroids: DataFrame, queries: DataFrame,
      k: Int = 10, kEach: Int = 20, d: Int = 64, nProbe: Int = 3,
      rrfK: Int = 60): DataFrame = {
    val (out, releaseFused) = hybridOnIndexes(lexIdx, annCells, annCentroids,
      SearchIndex.batchQuery(queries), k, kEach, d, nProbe, rrfK)
    graft.ops.Caching.materialized(out)(releaseFused())
  }

  /** Hybrid retrieval with BOTH sides served from indexes at rest, for
    * ONE query — the 100 TB shape: [[hybridSearchBatchOnIndexes]]'s
    * pipeline over a batch of one (query_id 0, so the pseudo-doc's
    * vec_id is [[HybridQueryDocId]]), its lexical side folding in
    * `terms` order. Output: (rn, doc_id, lex_rank, vec_rank,
    * rrf_score).
    *
    * Eager, materialized; the result's lineage runs through a released
    * [[graft.ops.Caching.cut]]: set a checkpoint dir and the result
    * recomputes (the contract on [[SearchIndex.scoreTopK]]).
    */
  def hybridSearchTopKOnIndexes(lexIdx: SearchIndex.TextIndex,
      annCells: DataFrame, annCentroids: DataFrame,
      terms: Seq[String] = Bm25Terms, k: Int = 10, kEach: Int = 20,
      d: Int = 64, nProbe: Int = 3, rrfK: Int = 60): DataFrame = {
    val (out, releaseFused) = hybridOnIndexes(lexIdx, annCells, annCentroids,
      SearchIndex.termQuery(annCells.sparkSession, terms), k, kEach, d, nProbe, rrfK)
    graft.ops.Caching.materialized(out.drop("query_id"))(releaseFused())
  }

  /** The index-served hybrid pipeline over `(query_id, token, ord)`
    * queries: lexical ranks from the one BM25 core, semantic ranks
    * from the IVF probe of each query's pseudo-doc, fused per query.
    */
  private def hybridOnIndexes(lexIdx: SearchIndex.TextIndex,
      annCells: DataFrame, annCentroids: DataFrame, queries: DataFrame,
      k: Int, kEach: Int, d: Int, nProbe: Int, rrfK: Int): (DataFrame, () => Unit) = {
    val lex = SearchIndex.serve(lexIdx, queries, kEach)
      .select(col("query_id"), col("doc_id"), col("rn").as("lex_rank"))
    val qDocs = queries.groupBy(col("query_id"))
      .agg(concat_ws(" ", sort_array(collect_list(col("token")))).as("text"))
      .select((-col("query_id") - 1).as("doc_id"), col("text"))
    val qVecs = hashEmbedVectors(qDocs, d)
      .select(col("doc_id").as("vec_id"), col("embedding"))
    val vec = graft.ann.Ivf.probeTopKOnIndex(annCells, annCentroids, qVecs,
        nProbe, kEach)
      .select((-col("q_id") - 1).as("query_id"),
        col("cand_id").as("doc_id"), col("rn").as("vec_rank"))
    fuseRankListsBatch(lex, vec, k, rrfK)
  }

  /** Per-document keyword extraction — the metadata op a corpus
    * curator tags documents with: each document's top-`k` tokens by
    * tf × rational idf, where the idf factor is BM25's
    * `(N − df + ½)/(df + ½)` WITHOUT the log. Dropping the log keeps
    * every score a product of exact integer counts and two IEEE
    * divisions (cross-engine hash-exact with no ln machinery); note
    * the trade honestly: log is monotone PER FACTOR, not jointly, so
    * tf·idf and tf·log(idf) agree on token order only at fixed tf —
    * across tokens with different tf the rational form up-weights
    * rare tokens relative to log-idf BM25. That rational ranking IS
    * this operator's pinned semantics (oracle-mirrored both engines).
    * Corpus-frequent tokens (df > `maxDf`) are excluded exactly like
    * the inverted index's stopword cap.
    *
    * Scale shape: tf and df are two keyed aggregations; N rides as a
    * broadcast 1-row frame; per-doc selection is the bounded
    * [[graft.expressions.TopKByScore]] aggregate on (score,
    * hex64(token)) — map-side partials, ≤ k rows per doc per
    * partition into the shuffle, NEVER a rank window — and the token
    * string joins back on the hash. The scored frame is PERSISTED
    * across the top-k aggregate and the join-back (r13 — previously
    * the tokenize → explode → tf/df chain ran twice as two physical
    * subtrees), with the engine's scoped-release contract
    * (CacheLifecycleSpec).
    */
  def keywords(docs: DataFrame, k: Int = 5,
      maxDf: Long = DefaultMaxTokenDf): DataFrame = {
    val tf = withToks(docs)
      .select(col("doc_id"), explode(col("toks")).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("tok"))
      .agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDf)
    val nDocs = tf.groupBy().agg(count_distinct(col("doc_id")).as("__n"))
    val scored = tf.join(dfreq, Seq("tok"))
      .crossJoin(graft.ops.Broadcasting.maybeBroadcast(nDocs))
      .withColumn("kw_score",
        col("tf").cast("double") *
          ((col("__n").cast("double") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("__tid", GraftFunctions.hex64(col("tok")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val top = scored.groupBy(col("doc_id"))
      .agg(GraftFunctions.top_k_by_score(col("kw_score"), col("__tid"), k)
        .as("__top"))
      .select(col("doc_id"), posexplode(col("__top")).as(Seq("__r", "__e")))
      .select(col("doc_id"), (col("__r") + 1).cast("long").as("rank"),
        col("__e.id").as("__tid"))
    val out = top.join(scored.select(col("doc_id"), col("__tid"), col("tok"),
        col("tf"), col("df"), col("kw_score")),
        Seq("doc_id", "__tid"))
      .select(col("doc_id"), col("rank"), col("tok").as("keyword"),
        col("tf"), col("df"), col("kw_score"))
    graft.ops.Caching.materialized(out) { scored.unpersist(false) }
  }

  /** Sentence segmentation with provenance — the boundary-aware
    * sibling of fixed-width [[chunks]]: each document explodes into
    * its sentences (terminal-punctuation rule: a maximal
    * non-terminator run plus its terminator tail — ASCII `.!?` AND
    * the CJK/fullwidth forms `。！？`, so unspaced CJK prose
    * segments too — or the trailing unterminated fragment), trimmed,
    * empties dropped. The rule is
    * deliberately dictionary-free and RE2-portable so the DuckDB
    * oracle replays it verbatim (abbreviation false-splits are the
    * documented cost, identical in both engines). Pure per-row
    * explode projection — map-only at any scale. Emits per sentence:
    * index, char count, token count, and a portable content hash.
    */
  def sentences(docs: DataFrame): DataFrame = {
    val raw = regexp_extract_all(col("text"),
      lit("[^.!?。！？]+[.!?。！？]+|[^.!?。！？]+$"), lit(0))
    val sents = filter(transform(raw, s => trim(s)), s => length(s) > 0)
    docs
      .select(col("doc_id"), posexplode(sents).as(Seq("sent_idx", "sentence")))
      .select(col("doc_id"), col("sent_idx").cast("long").as("sent_idx"),
        col("sentence"),
        length(col("sentence")).cast("long").as("n_chars"),
        size(GraftFunctions.tokens(col("sentence"))).cast("long").as("n_words"),
        GraftFunctions.hex64(col("sentence")).as("sent_hash"))
  }

  /** Sentence-AWARE chunking — the RAG-standard greedy fill: pack
    * consecutive sentences into chunks of at most `maxChars` chars
    * (single-space joined), starting a new chunk when the next
    * sentence would overflow; a lone sentence longer than the budget
    * keeps its own (oversize) chunk rather than being cut mid-thought
    * — the boundary guarantee fixed-width [[chunks]] cannot give.
    * The fill is a per-document left fold over the sentence array
    * (separator-accumulator trick: chunks accumulate into ONE string
    * split on a sentinel afterwards), so the whole operator stays a
    * map-only projection — no shuffle, no window, and the identical
    * fold replays in the DuckDB oracle via `list_reduce`.
    */
  def sentenceChunks(docs: DataFrame, maxChars: Int = 200): DataFrame = {
    val raw = regexp_extract_all(col("text"),
      lit("[^.!?。！？]+[.!?。！？]+|[^.!?。！？]+$"), lit(0))
    val sents = filter(transform(raw, s => trim(s)), s => length(s) > 0)
    val sep = "\u0001"
    val packed = aggregate(sents, lit(""), (acc, s) =>
      when(acc === "", s)
        .when(length(substring_index(acc, sep, -1)) + length(s) + 1 <= maxChars,
          concat(acc, lit(" "), s))
        .otherwise(concat(acc, lit(sep), s)))
    docs
      .where(length(col("text")) > 0)
      .select(col("doc_id"), packed.as("__packed"))
      .where(col("__packed") =!= "")
      .select(col("doc_id"),
        posexplode(split(col("__packed"), sep)).as(Seq("chunk_idx", "chunk")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        length(col("chunk")).cast("long").as("n_chunk_chars"),
        GraftFunctions.hex64(col("chunk")).as("chunk_hash"))
  }

  /** Overlapping fixed-width document chunking — the context-window
    * shaping step of an LLM training/RAG pipeline: each document is
    * split into `size`-char windows every `stride` chars (overlap =
    * size − stride keeps boundary-spanning content intact in some
    * chunk). Pure per-row explode+substring projection — no shuffle at
    * all except the deterministic output sort; at 100 TB this is the
    * ideal map-only shape. Each chunk carries its provenance
    * (doc_id, index, start offset) and a portable content hash, so a
    * downstream exact-dedup over chunks composes directly.
    */
  def chunks(docs: DataFrame, size: Int = 200, stride: Int = 150): DataFrame =
    docs
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0L), expr(s"(length(text) - 1) div $stride"))).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        (col("chunk_idx") * stride + 1).as("chunk_start"),
        expr(s"substring(text, chunk_idx * $stride + 1, $size)").as("chunk"))
      .select(col("doc_id"), col("chunk_idx"), col("chunk_start"),
        length(col("chunk")).cast("long").as("n_chunk_chars"),
        GraftFunctions.hex64(col("chunk")).as("chunk_hash"))

  /** WITHIN-document repetition signals (Rae et al. 2021 §A1.2's
    * repetition filters, token-2-gram form): the duplicate-bigram
    * fraction and the share of the most frequent bigram. High values
    * mark looping/template text that per-document quality ratios and
    * CROSS-document dedup both miss. One bigram explode + two keyed
    * aggregations; exact integer counts, one division per ratio.
    * Documents with <2 tokens have no bigrams and are absent.
    */
  def repetition(docs: DataFrame): DataFrame = {
    val bi = withToks(docs).select(col("doc_id"),
      explode(GraftFunctions.shinglesOfTokens(col("toks"), 2, distinct = false)).as("s"))
    bi.groupBy(col("doc_id"), col("s")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"),
        count(lit(1)).as("n_distinct_bigrams"),
        max(col("c")).as("top_bigram_count"))
      .select(col("doc_id"), col("n_bigrams"), col("n_distinct_bigrams"),
        col("top_bigram_count"),
        (lit(1.0) - col("n_distinct_bigrams") / col("n_bigrams")).as("dup_bigram_frac"),
        (col("top_bigram_count") / col("n_bigrams")).as("top_bigram_frac"))
  }

  /** Duplicate-chunk fraction per document — the "duplicate text
    * fraction" quality signal of web-corpus pipelines (Rae et al. 2021
    * repetition filters; RefinedWeb dup-line fraction), at chunk
    * granularity: the share of a document's [[chunks]] whose content
    * hash also appears in ANOTHER document. High values mark mirrored
    * boilerplate even when whole-doc fingerprints differ. Shape: the
    * chunk projection + one groupBy(chunk_hash) distinct-count + one
    * groupBy(doc_id) — both keyed, map-side-partial.
    */
  def dupChunkRatio(docs: DataFrame, size: Int = 200, stride: Int = 150): DataFrame = {
    val ch = chunks(docs, size, stride).select(col("doc_id"), col("chunk_hash"))
    val perHash = ch.groupBy(col("chunk_hash"))
      .agg(countDistinct(col("doc_id")).as("n_docs_with"))
    ch.join(perHash, Seq("chunk_hash"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("n_docs_with") > 1, 1L).otherwise(0L)).as("n_dup_chunks"))
      .select(col("doc_id"), col("n_chunks"), col("n_dup_chunks"),
        (col("n_dup_chunks") / col("n_chunks")).as("dup_chunk_ratio"))
  }

  /** Chunk-level exact deduplication — the storage-shaping step of a
    * chunked training/RAG corpus: across ALL documents, each distinct
    * chunk content survives exactly once, at its first occurrence
    * (minimum (doc_id, chunk_idx)); every other copy is dropped.
    * Returns the per-document savings ledger (chunks and characters
    * kept vs total), the operational view a curator acts on.
    *
    * Shape: the map-only [[chunks]] projection, one
    * groupBy(chunk_hash) min-aggregate for the keeper (the (doc_id,
    * chunk_idx) pair is packed into one long so the min is a plain
    * integer partial aggregate, map-side-combined), one join back on
    * chunk_hash (hash-partitioned both sides, co-located), one
    * groupBy(doc_id) ledger. No self-join anywhere — cost is linear in
    * corpus size at any scale.
    */
  def chunksDedup(docs: DataFrame, size: Int = 200, stride: Int = 150): DataFrame = {
    // chunk_idx < ChunkIdxPack for any document shorter than
    // stride × ChunkIdxPack chars (150 MB at the defaults — far beyond
    // any single document); the packed long orders identically to the
    // (doc_id, chunk_idx) pair
    val key = col("doc_id") * ChunkIdxPack + col("chunk_idx")
    val ch = chunks(docs, size, stride)
      .select(col("doc_id"), col("chunk_idx"), col("n_chunk_chars"), col("chunk_hash"))
    val keeper = ch
      .select(col("chunk_hash"), key.as("k"))
      .groupBy(col("chunk_hash")).agg(min(col("k")).as("keeper_key"))
    ch.join(keeper, Seq("chunk_hash"))
      .withColumn("kept", key === col("keeper_key"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(col("n_chunk_chars")).as("chars_total"),
        sum(when(col("kept"), col("n_chunk_chars")).otherwise(0L)).as("chars_kept"))
  }

  /** Packing modulus for (doc_id, chunk_idx) → long in [[chunksDedup]];
    * supports documents up to stride × 10⁶ chars. Mirrored in the
    * DuckDB oracle.
    */
  val ChunkIdxPack = 1000000L

  /** Content fingerprint: 60-bit portable hash of the normalized token
    * stream, plus a coarse length band (blocking key for dedup).
    */
  def fingerprint(docs: DataFrame): DataFrame =
    withToks(docs)
      .select(
        col("doc_id"),
        GraftFunctions.fingerprintOfTokens(col("toks")).as("fingerprint"),
        (size(col("toks")) / lit(10)).cast("long").as("len_band"))
}
