package graft

import org.apache.spark.sql.{Column, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._

import graft.expressions.{CosineSimilarity, DetLnExpr, DotProduct, L2Norm, L2Normalize, SparseToDense, TopKByScore}

/** Column-level function surface of the engine.
  *
  * Everything here is either a Spark built-in composition (codegen'd for
  * free) or a native Catalyst Expression with `doGenCode` — no Scala
  * UDFs on any hot path.
  */
object GraftFunctions {

  // ---- vector math (reference: lshrs/utils/{norm,similarity}.py) ----
  def cosine_sim(a: Column, b: Column): Column =
    GraftColumnBridge.column(CosineSimilarity(GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  def dot_product(a: Column, b: Column): Column =
    GraftColumnBridge.column(DotProduct(GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  def l2_norm(a: Column): Column =
    GraftColumnBridge.column(L2Norm(GraftColumnBridge.expression(a)))

  def l2_normalize(a: Column): Column =
    GraftColumnBridge.column(L2Normalize(GraftColumnBridge.expression(a)))

  /** Deterministic series-defined natural log (NULL for x ≤ 0); see
    * [[graft.expressions.DetLn]] — the ln to use wherever a DuckDB
    * oracle must hash-match (no native libm log is cross-engine safe).
    */
  def det_ln(x: Column): Column =
    GraftColumnBridge.column(DetLnExpr(GraftColumnBridge.expression(x)))

  /** Exact int64 dot product of two code vectors (codegen tight loop);
    * see [[graft.expressions.IntDotProduct]].
    */
  def int_dot(a: Column, b: Column): Column =
    GraftColumnBridge.column(
      graft.expressions.IntDotProduct(
        GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  /** Hamming distance over packed bit codes (codegen tight loop); see
    * [[graft.expressions.HammingDistance]].
    */
  def hamming_distance(a: Column, b: Column): Column =
    GraftColumnBridge.column(
      graft.expressions.HammingDistance(
        GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  /** ADC lookup-table score over PQ codes (codegen tight loop); see
    * [[graft.expressions.AdcScore]].
    */
  def adc_score(codes: Column, tab: Column): Column =
    GraftColumnBridge.column(
      graft.expressions.AdcScore(
        GraftColumnBridge.expression(codes), GraftColumnBridge.expression(tab)))

  /** Map-side bounded top-k aggregate over (score, id); see
    * [[graft.expressions.TopKByScore]].
    */
  /** Dense array<float> from sparse (dim, w) entries and a norm; see
    * [[graft.expressions.SparseToDense]].
    */
  def sparse_to_dense(entries: Column, nrm: Column, d: Int): Column =
    GraftColumnBridge.column(SparseToDense(
      GraftColumnBridge.expression(entries), GraftColumnBridge.expression(nrm), d))

  def top_k_by_score(score: Column, id: Column, k: Int): Column =
    GraftColumnBridge.column(
      TopKByScore(GraftColumnBridge.expression(score), GraftColumnBridge.expression(id), k)
        .toAggregateExpression())

  /** Compressed size (raw DEFLATE, fixed level) of a string/binary
    * value; see [[graft.expressions.DeflateSize]].
    */
  def deflate_size(v: Column): Column =
    GraftColumnBridge.column(
      graft.expressions.DeflateSize(GraftColumnBridge.expression(v)))

  /** One-pass char-frequency entropy struct; see
    * [[graft.expressions.CharEntropyStats]].
    */
  def char_entropy_stats(v: Column): Column =
    GraftColumnBridge.column(
      graft.expressions.CharEntropyStats(GraftColumnBridge.expression(v)))

  /** 1-based offset of a JPEG frame header (SOFn) marker, NULL for
    * non-JPEG payloads; see [[graft.expressions.JpegSofOffset]].
    */
  def jpeg_sof_offset(v: Column): Column =
    GraftColumnBridge.column(
      graft.expressions.JpegSofOffset(GraftColumnBridge.expression(v)))

  /** Unicode canonical composition (NFC); see
    * [[graft.expressions.NfcNormalize]].
    */
  def nfc_normalize(v: Column): Column =
    GraftColumnBridge.column(
      graft.expressions.NfcNormalize(GraftColumnBridge.expression(v)))

  /** Codegen Bloom probe over a broadcast filter; see
    * [[graft.expressions.BloomMightContain]].
    */
  def bloom_might_contain(fingerprint: Column,
      bc: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter]): Column =
    GraftColumnBridge.column(
      graft.expressions.BloomMightContain(GraftColumnBridge.expression(fingerprint), bc))

  // ---- portable 64-bit hashing ----
  /** Deterministic 60-bit positive hash of a string, identically
    * computable in any engine with `md5` (the DuckDB oracle uses
    * `('0x' || substr(md5(s),1,15))::BIGINT`). Built from codegen'd
    * Spark built-ins; used by minhash / simhash / fingerprints so that
    * dedup results are integer-exact across engines.
    */
  def hex64(s: Column): Column = conv(substring(md5(s), 1, 15), 16, 10).cast("bigint")

  /** hex64 with a salt — the family of hash functions h_i(x). */
  def hex64(seed: Int, s: Column): Column = hex64(concat(lit(s"$seed|"), s))

  /** Word tokens, Unicode-aware: per-codepoint lowercase, Han/
    * Hiragana/Katakana as single-codepoint tokens, runs of
    * `\p{L}\p{N}` otherwise — one native pass per row
    * ([[graft.expressions.UnicodeTokens]], which documents the exact
    * DuckDB/RE2 mirror). On pure-ASCII text this is byte-identical to
    * the previous `split(lower(s),'[^a-z0-9]+')` form.
    */
  def tokens(s: Column): Column =
    GraftColumnBridge.column(
      graft.expressions.UnicodeTokens(GraftColumnBridge.expression(s)))

  /** Unicode script histogram of a string — one native pass per row
    * ([[graft.expressions.ScriptCounts]]): index 0 is the `\p{L}`
    * letter total, 1..11 the codepoint counts for the fixed tracked
    * scripts ([[graft.expressions.ScriptCounts.Names]]). The routing
    * signal a multilingual crawl computes before langid.
    */
  def scriptCounts(s: Column): Column =
    GraftColumnBridge.column(
      graft.expressions.ScriptCounts(GraftColumnBridge.expression(s)))

  /** w-shingles (word n-grams joined with a single space); native
    * single-pass expression ([[graft.expressions.WordShingles]]).
    * distinct=false keeps the full positional sequence (winnowing).
    */
  def shingles(s: Column, w: Int, distinct: Boolean = true): Column =
    GraftColumnBridge.column(
      graft.expressions.WordShingles(GraftColumnBridge.expression(tokens(s)), w, distinct))

  /** [[shingles]] over an already-tokenized array column — lets a
    * cached tokenize pass feed the shingle pipeline too.
    */
  def shinglesOfTokens(toks: Column, w: Int, distinct: Boolean = true): Column =
    GraftColumnBridge.column(
      graft.expressions.WordShingles(GraftColumnBridge.expression(toks), w, distinct))

  /** The `k` MinHash values of a shingle-set array column, or null
    * for an empty set; native single-pass expression
    * ([[graft.expressions.MinhashSignature]]).
    */
  def minhashSignature(shingles: Column, k: Int): Column =
    GraftColumnBridge.column(
      graft.expressions.MinhashSignature(GraftColumnBridge.expression(shingles), k))

  /** Content fingerprint of a tokenized document: [[hex64]] of its
    * tokens joined with single spaces — the exact-dedup key every
    * fingerprint column in the engine shares (the DuckDB oracle mirrors
    * it as `hex64(array_to_string(toks,' '))`).
    */
  def fingerprintOfTokens(toks: Column): Column = hex64(array_join(toks, " "))

  /** Register SQL names for the native expressions on a session
    * (idempotent; safe to call per query): a name the session already
    * has is left alone, so a repeat call replaces nothing and logs
    * nothing.
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    def add(name: String, builder: Seq[Expression] => Expression): Unit =
      if (!reg.functionExists(FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    add("cosine_sim", es => CosineSimilarity(es.head, es(1)))
    add("dot_product", es => DotProduct(es.head, es(1)))
    add("l2_norm", es => L2Norm(es.head))
    add("l2_normalize", es => L2Normalize(es.head))
    add("int_dot_product", es => graft.expressions.IntDotProduct(es.head, es(1)))
    add("hamming_distance", es => graft.expressions.HammingDistance(es.head, es(1)))
    add("adc_score", es => graft.expressions.AdcScore(es.head, es(1)))
    add("deflate_size", es => graft.expressions.DeflateSize(es.head))
    add("char_entropy_stats", es => graft.expressions.CharEntropyStats(es.head))
    add("jpeg_sof_offset", es => graft.expressions.JpegSofOffset(es.head))
    add("nfc_normalize", es => graft.expressions.NfcNormalize(es.head))
    add("unicode_tokens", es => graft.expressions.UnicodeTokens(es.head))
    add("script_counts", es => graft.expressions.ScriptCounts(es.head))
    add("det_ln", es => DetLnExpr(es.head))
    add("gaussian_project", es => GraftFunctions.projectFromSql(es))
  }

  /** SQL-surface constructor for [[graft.expressions.GaussianProjectExpr]]:
    * `gaussian_project(v, outDim, dim, seed)` with the three parameters
    * as integer literals (the projection family is fixed per query, like
    * the LSH plane config).
    */
  private[graft] def projectFromSql(
      es: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    def intOf(e: org.apache.spark.sql.catalyst.expressions.Expression, what: String): Long =
      e match {
        case Literal(v: Int, _) => v.toLong
        case Literal(v: Long, _) => v
        case other => throw new IllegalArgumentException(
          s"gaussian_project: $what must be an integer literal, got $other")
      }
    require(es.length == 4,
      "gaussian_project(v, outDim, dim, seed) takes exactly 4 arguments")
    graft.expressions.GaussianProjectExpr(es.head,
      intOf(es(1), "outDim").toInt, intOf(es(2), "dim").toInt, intOf(es(3), "seed"))
  }
}
