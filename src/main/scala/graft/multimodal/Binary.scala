package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.GraftFunctions

/** Multimodal columns: media payloads travel as opaque `binary`
  * columns with typed metadata; decode / feature-extraction runs
  * column-wise — every header field is a fixed-offset byte read, so
  * the "decode" of container METADATA (the part a 100 TB triage pass
  * actually needs: dimensions, sample rates, durations, validity)
  * compiles to codegen'd `substring`/`conv` expressions with no UDF
  * and no shuffle. Sample-level decode (the codec proper) stays out
  * of the engine by design — pipelines filter/route on header
  * metadata first and hand surviving payloads to a codec service.
  */
object Binary {

  /** Wrap a text corpus as a media table: payload = utf-8 bytes (the
    * stand-in for image/audio blobs), typed metadata alongside.
    */
  def asMediaTable(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      col("text").cast("binary").as("payload"),
      lit("text/plain").as("media_type"),
      length(col("text").cast("binary")).cast("long").as("n_bytes"))

  /** Add a family's parse columns in ONE projection — one Dataset and
    * one analysis, however many fields the family has. A column whose
    * name `media` already carries is replaced in place (`withColumn`
    * semantics); the rest append in list order.
    */
  private def withParsed(media: DataFrame, columns: Seq[(String, Column)]): DataFrame =
    media.withColumns(scala.collection.immutable.ListMap(columns: _*))

  /** `name -> m.name` for each named field of a kernel's struct. */
  private def fields(m: Column, names: String*): Seq[(String, Column)] =
    names.map(n => n -> m(n))

  /** A kernel struct's boolean verdict, false where the kernel
    * returned null (payloads it refused outright).
    */
  private def flag(m: Column, name: String): (String, Column) =
    name -> coalesce(m(name), lit(false))

  /** SQL integral division (`a div b`). */
  private def div(a: Column, b: Column): Column = call_function("div", a, b)

  /** WAV (RIFF/PCM) container header codec, entirely in Catalyst
    * expressions. The canonical 44-byte PCM layout (RIFF chunk, `fmt `
    * subchunk of size 16, `data` subchunk immediately after — the
    * layout every PCM writer emits) is fixed-offset, so parsing is
    * `substring` + `hex` + `conv` reads: codegen'd, shuffle-free,
    * null-safe on non-WAV payloads. Reference treats payloads as
    * opaque blobs end-to-end (`io/parquet.py`); header triage is the
    * beyond-reference piece a multimodal corpus needs before any
    * sample-level decode.
    */
  object Wav {
    /** Little-endian unsigned int read: `n` bytes at 1-based byte
      * offset `off`. Byte-swaps via per-byte `hex` then one `conv`
      * base-16 parse — all codegen'd string ops on ≤4-byte slices.
      */
    def leUint(payload: Column, off: Int, n: Int): Column =
      conv(concat((off + n - 1 to off by -1).map(i => hex(substring(payload, i, 1))): _*),
        16, 10).cast("long")

    private def magic(payload: Column, off: Int, s: String): Column =
      substring(payload, off, s.length) === lit(s.getBytes("US-ASCII"))

    /** Little-endian hex encoding of an integral column, `n` bytes. */
    private def leHex(v: Column, n: Int): Column = {
      val be = lpad(hex(v), n * 2, "0")
      concat((n - 1 to 0 by -1).map(i => substring(be, i * 2 + 1, 2)): _*)
    }
    private def asciiHex(s: String): Column =
      lit(s.getBytes("US-ASCII").map("%02X".format(_)).mkString)

    /** Parse the canonical PCM header from `payloadCol`. Adds:
      * `wav_valid` (structure: magics + PCM format + fmt size 16),
      * `channels`/`sample_rate`/`byte_rate`/`block_align`/
      * `bits_per_sample`/`data_bytes` (null unless valid),
      * `duration_ms` (data_bytes·1000 div byte_rate, exact integer
      * arithmetic), and `header_consistent` (the redundant fields
      * agree: byte_rate = rate·block_align, block_align·8 =
      * channels·bits, riff size and data size match the payload).
      * A pure projection — zero shuffles at any scale.
      */
    def parse(media: DataFrame, payloadCol: String = "payload"): DataFrame =
      withParsed(media, columns(col(payloadCol)))

    private[multimodal] def columns(p: Column): Seq[(String, Column)] = {
      val valid = (length(p) >= 44) && magic(p, 1, "RIFF") && magic(p, 9, "WAVE") &&
        magic(p, 13, "fmt ") && (leUint(p, 17, 4) === 16) && (leUint(p, 21, 2) === 1) &&
        magic(p, 37, "data")
      val consistent = (leUint(p, 29, 4) === leUint(p, 25, 4) * leUint(p, 33, 2)) &&
        (leUint(p, 33, 2) * 8 === leUint(p, 23, 2) * leUint(p, 35, 2)) &&
        (leUint(p, 5, 4) === leUint(p, 41, 4) + 36) &&
        (leUint(p, 41, 4) === length(p) - 44)
      Seq(
        "wav_valid" -> valid,
        "channels" -> when(valid, leUint(p, 23, 2)),
        "sample_rate" -> when(valid, leUint(p, 25, 4)),
        "byte_rate" -> when(valid, leUint(p, 29, 4)),
        "block_align" -> when(valid, leUint(p, 33, 2)),
        "bits_per_sample" -> when(valid, leUint(p, 35, 2)),
        "data_bytes" -> when(valid, leUint(p, 41, 4)),
        "duration_ms" -> when(valid && leUint(p, 29, 4) > 0,
          div(leUint(p, 41, 4) * 1000, leUint(p, 29, 4))),
        "header_consistent" -> when(valid, consistent))
    }

    /** Sample-level PCM feature extraction — the DECODE step past the
      * header: reads the actual data-chunk bytes as samples (8-bit
      * unsigned re-centered at 0; 16-bit signed little-endian) and
      * computes the audio-triage features a corpus curator filters on
      * — RMS level, absolute peak, clipped-sample count, DC offset —
      * with EXACT integer sums (order-independent; the two final
      * √/÷ are correctly-rounded IEEE, so the stats are cross-engine
      * hash-exact). Channels are interleaved into one stream (level
      * stats are channel-agnostic; split per-channel the same way if
      * needed). A pure per-row projection over the payload bytes —
      * zero shuffle; the per-sample loop is an array HOF chain (the
      * codegen-Expression upgrade is mechanical if this becomes the
      * hot path). Null stats unless `wav_valid` and the data chunk is
      * non-empty.
      */
    def sampleStats(media: DataFrame, payloadCol: String = "payload"): DataFrame = {
      val p = col(payloadCol)
      val bits = col("bits_per_sample")
      // the whole per-sample loop is ONE codegen kernel over the raw
      // data-chunk bytes ([[graft.expressions.PcmKernel]] — no hex
      // strings, no per-sample allocation; memory-bandwidth-bound, the
      // shape an audio-triage map needs at 100 TB). The array-HOF
      // formulation this replaced measured 32 s / 500k WAVs; the
      // kernel is the mechanical upgrade the HOF path documented.
      val dataBin = p.substr(lit(45), col("data_bytes").cast("int"))
      val st = org.apache.spark.sql.GraftColumnBridge.column(
        graft.expressions.PcmSampleStats(
          org.apache.spark.sql.GraftColumnBridge.expression(dataBin),
          org.apache.spark.sql.GraftColumnBridge.expression(bits)))
      parse(media, payloadCol)
        .withColumn("__st",
          when(col("wav_valid") && col("data_bytes") > 0, st))
        .withColumn("n_samples",
          when(col("__st").isNotNull && element_at(col("__st"), 1) > 0,
            element_at(col("__st"), 1)))
        .withColumn("peak_abs",
          when(col("n_samples").isNotNull, element_at(col("__st"), 4)))
        .withColumn("n_clipped",
          when(col("n_samples").isNotNull, element_at(col("__st"), 5)))
        .withColumn("rms",
          sqrt(element_at(col("__st"), 3).cast("double") / col("n_samples")))
        .withColumn("dc_mean",
          element_at(col("__st"), 2).cast("double") / col("n_samples"))
        .drop("__st")
    }

    /** Deterministic WAV corpus from the documents table: PCM params
      * derived from `doc_id` arithmetic, data chunk = the first
      * `maxDataBytes` bytes of the text (sliced on the hex string —
      * hex is byte-aligned, so the slice can't split a byte). Every
      * `invalidEvery`-th doc keeps its raw text bytes (no RIFF
      * header) to exercise the validity gate. Synthesis is the
      * INVERSE code path of [[parse]] (LE encode vs LE read), so
      * parse∘synth recovering the formulas checks real byte layout,
      * not a shared shortcut.
      */
    def synthFromDocs(docs: DataFrame, maxDataBytes: Int = 400,
        invalidEvery: Int = 10): DataFrame = {
      val d = col("doc_id")
      val channels = lit(1L) + d % 2
      val rate = lit(8000L) + (d % 5) * 4000L
      val bits = when(d % 3 === 0, 8L).otherwise(16L)
      // Column `/` is double division; the quotients here are exact
      // (products of {1,2}×{8,16}, even hex lengths) so the cast back
      // to long is value-preserving
      val blockAlign = (channels * bits / 8).cast("long")
      val byteRate = rate * blockAlign
      val dataHex = substring(hex(col("text").cast("binary")), 1, maxDataBytes * 2)
      val dataLen = (length(dataHex) / 2).cast("long")
      val wavHex = concat(
        asciiHex("RIFF"), leHex(dataLen + 36, 4), asciiHex("WAVE"),
        asciiHex("fmt "), leHex(lit(16L), 4), leHex(lit(1L), 2),
        leHex(channels, 2), leHex(rate, 4), leHex(byteRate, 4),
        leHex(blockAlign, 2), leHex(bits, 2),
        asciiHex("data"), leHex(dataLen, 4), dataHex)
      docs.select(
        d,
        when(d % invalidEvery === 0, col("text").cast("binary"))
          .otherwise(unhex(wavHex)).as("payload"),
        when(d % invalidEvery === 0, lit("text/plain"))
          .otherwise(lit("audio/wav")).as("media_type"))
    }

    /** Deterministic 16-bit mono WAVs whose samples form exactly
      * [[graft.expressions.AudioHashKernel.Windows]] flat windows of
      * `m` samples with planted amplitudes `((key·13 + w·29) mod
      * 1024) − 512` — one flat window per fingerprint window, so the
      * energy-gradient hash is closed-form for the oracle while Spark
      * decodes the real LE sample bytes. Every `invalidEvery`-th doc
      * stays raw text.
      */
    def synthWindowedFromDocs(docs: DataFrame, key: Column, m: Int = 4,
        invalidEvery: Int = 10): DataFrame = {
      val d = col("doc_id")
      val nWin = graft.expressions.AudioHashKernel.Windows
      val dataLen = lit(2L * nWin * m)
      val sampleHex = (w: Column) => leHex(
        pmod(pmod(key * 13 + w * 29, lit(1024L)) - 512L + 65536L, lit(65536L)), 2)
      val dataHex = array_join(transform(sequence(lit(0L), lit(nWin - 1L)),
        w => repeat(sampleHex(w), m)), "")
      val wavHex = concat(
        asciiHex("RIFF"), leHex(dataLen + 36, 4), asciiHex("WAVE"),
        asciiHex("fmt "), leHex(lit(16L), 4), leHex(lit(1L), 2),
        leHex(lit(1L), 2), leHex(lit(8000L), 4), leHex(lit(16000L), 4),
        leHex(lit(2L), 2), leHex(lit(16L), 2),
        asciiHex("data"), leHex(dataLen, 4), dataHex)
      docs.select(
        d,
        when(d % invalidEvery === 0, col("text").cast("binary"))
          .otherwise(unhex(wavHex)).as("payload"),
        when(d % invalidEvery === 0, lit("text/plain"))
          .otherwise(lit("audio/wav")).as("media_type"))
    }
  }

  /** PNG container header codec, entirely in Catalyst expressions —
    * the image-side proof that the [[Wav]] header-triage design
    * generalizes across container families: PNG is fixed-layout like
    * RIFF but BIG-endian with per-chunk CRCs, so the same
    * `substring`+`hex`+`conv` idiom covers both byte orders, and
    * Spark's built-in `crc32` (the zlib CRC PNG specifies) lets the
    * parser VERIFY chunk integrity in codegen — no UDF, no shuffle,
    * no codec. Layout parsed: 8-byte signature, IHDR (length 13,
    * width/height/depth/color-type/compression/filter/interlace,
    * CRC over type+data), then the first following chunk (IDAT in
    * any sane file) and the trailing IEND. Reference treats payloads
    * as opaque blobs (`io/parquet.py`); header triage is the
    * beyond-reference multimodal piece.
    */
  object Png {
    /** Big-endian unsigned int read: `n` bytes at 1-based offset
      * `off` — one `hex` + one `conv`, no byte swap (network order).
      */
    def beUint(payload: Column, off: Int, n: Int): Column =
      conv(hex(substring(payload, off, n)), 16, 10).cast("long")

    private def magic(payload: Column, off: Int, s: String): Column =
      substring(payload, off, s.length) === lit(s.getBytes("US-ASCII"))

    private[multimodal] val Signature: Array[Byte] =
      Array(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte, 0x0D, 0x0A, 0x1A, 0x0A)

    /** Big-endian hex of an integral column, `n` bytes. */
    private def beHex(v: Column, n: Int): Column = lpad(hex(v), n * 2, "0")
    private def asciiHex(s: String): Column =
      lit(s.getBytes("US-ASCII").map("%02X".format(_)).mkString)
    private[multimodal] def beHexPub(v: Column, n: Int): Column = beHex(v, n)
    private[multimodal] def asciiHexPub(s: String): Column = asciiHex(s)

    /** Samples per pixel for each PNG color type (spec §11.2.2). */
    private def channelsOf(ct: Column): Column =
      when(ct === 0, 1L).when(ct === 2, 3L).when(ct === 3, 1L)
        .when(ct === 4, 2L).when(ct === 6, 4L)

    /** Legal (bit depth, color type) pairs per the PNG spec. */
    private def depthLegal(depth: Column, ct: Column): Column =
      (ct === 0 && depth.isin(1L, 2L, 4L, 8L, 16L)) ||
        (ct === 3 && depth.isin(1L, 2L, 4L, 8L)) ||
        (ct.isin(2L, 4L, 6L) && depth.isin(8L, 16L))

    /** Parse signature + IHDR (+ the first data chunk) from
      * `payloadCol`. Adds: `png_valid` (signature, IHDR length 13 and
      * magic, positive dimensions), `width`/`height`/`bit_depth`/
      * `color_type`/`interlace`/`channels`/`n_pixels` (null unless
      * valid), `idat_bytes` (declared length of the first chunk after
      * IHDR when it is an IDAT), `ihdr_crc_ok` (stored CRC equals
      * `crc32` recomputed over type+data — real integrity, not
      * structure), and `header_consistent` (compression and filter
      * methods 0, interlace ≤ 1, depth legal for the color type, file
      * length accounts for sig + IHDR + IDAT + IEND). A pure
      * projection — zero shuffles at any scale.
      */
    def parse(media: DataFrame, payloadCol: String = "payload"): DataFrame =
      withParsed(media, columns(col(payloadCol)))

    private[multimodal] def columns(p: Column): Seq[(String, Column)] = {
      val valid = (length(p) >= 45) && (substring(p, 1, 8) === lit(Signature)) &&
        (beUint(p, 9, 4) === 13) && magic(p, 13, "IHDR") &&
        (beUint(p, 17, 4) > 0) && (beUint(p, 21, 4) > 0)
      val depth = beUint(p, 25, 1)
      val ct = beUint(p, 26, 1)
      val idat = when(magic(p, 38, "IDAT"), beUint(p, 34, 4))
      val consistent = (beUint(p, 27, 1) === 0) && (beUint(p, 28, 1) === 0) &&
        (beUint(p, 29, 1) <= 1) && depthLegal(depth, ct) &&
        (idat.isNotNull && length(p) === idat + 57)
      Seq(
        "png_valid" -> valid,
        "width" -> when(valid, beUint(p, 17, 4)),
        "height" -> when(valid, beUint(p, 21, 4)),
        "bit_depth" -> when(valid, depth),
        "color_type" -> when(valid, ct),
        "interlace" -> when(valid, beUint(p, 29, 1)),
        "channels" -> when(valid, channelsOf(ct)),
        "n_pixels" -> when(valid, beUint(p, 17, 4) * beUint(p, 21, 4)),
        "idat_bytes" -> when(valid, idat),
        "ihdr_crc_ok" -> when(valid, beUint(p, 30, 4) === crc32(substring(p, 13, 17))),
        "header_consistent" -> when(valid, consistent))
    }

    /** Deterministic PNG corpus from the documents table: IHDR fields
      * from `doc_id` arithmetic (all five color types, every legal
      * depth for each), IDAT data = the first `maxDataBytes` bytes of
      * the text, REAL `crc32` CRCs on every chunk. Every
      * `invalidEvery`-th doc keeps raw text bytes to exercise the
      * validity gate. Synthesis is the INVERSE code path of [[parse]]
      * (BE encode vs BE read, CRC computed vs CRC checked), so
      * parse ∘ synth recovering the formulas — and `ihdr_crc_ok` —
      * proves real byte layout.
      */
    def synthFromDocs(docs: DataFrame, maxDataBytes: Int = 400,
        invalidEvery: Int = 10): DataFrame = {
      val d = col("doc_id")
      val width = lit(16L) + (d % 7) * 9L
      val height = lit(9L) + (d % 5) * 7L
      val ct = element_at(
        array(lit(0L), lit(2L), lit(3L), lit(4L), lit(6L)),
        (d % 5 + 1).cast("int"))
      val depth = when(ct.isin(2L, 4L, 6L),
          when(d % 2 === 0, 8L).otherwise(16L))
        .when(ct === 3, element_at(array(lit(1L), lit(2L), lit(4L), lit(8L)),
          (expr("doc_id div 5") % 4 + 1).cast("int")))
        .otherwise(element_at(array(lit(1L), lit(2L), lit(4L), lit(8L), lit(16L)),
          (expr("doc_id div 5") % 5 + 1).cast("int")))
      val interlace = expr("doc_id div 3") % 2
      val ihdrTypeData = concat(
        asciiHex("IHDR"), beHex(width, 4), beHex(height, 4),
        beHex(depth, 1), beHex(ct, 1), beHex(lit(0L), 1), beHex(lit(0L), 1),
        beHex(interlace, 1))
      val dataHex = substring(hex(col("text").cast("binary")), 1, maxDataBytes * 2)
      val dataLen = (length(dataHex) / 2).cast("long")
      val idatTypeData = concat(asciiHex("IDAT"), dataHex)
      val pngHex = concat(
        lit(Signature.map("%02X".format(_)).mkString),
        beHex(lit(13L), 4), ihdrTypeData, beHex(crc32(unhex(ihdrTypeData)), 4),
        beHex(dataLen, 4), idatTypeData, beHex(crc32(unhex(idatTypeData)), 4),
        beHex(lit(0L), 4), asciiHex("IEND"), beHex(crc32(unhex(asciiHex("IEND"))), 4))
      docs.select(
        d,
        when(d % invalidEvery === 0, col("text").cast("binary"))
          .otherwise(unhex(pngHex)).as("payload"),
        when(d % invalidEvery === 0, lit("text/plain"))
          .otherwise(lit("image/png")).as("media_type"))
    }
  }

  /** PNG pixel-level decode and its synthesis inverse — the full
    * decode story the container grid builds toward: IDAT is a REAL
    * zlib stream ([[graft.expressions.ZlibInflate]] — a native
    * inflate inside the projection, bomb-guarded), scanlines carry
    * per-row filter bytes, pixels are 8-bit RGB, and ALL FIVE PNG
    * filter types (None/Sub/Up/Average/Paeth) reconstruct through the
    * sequential unfilter recurrence in
    * [[graft.expressions.PngFilterKernel]] — a real-world RGB8 PNG
    * decodes here, not a synthetic subset; Adam7 INTERLACED files
    * decode too (r13 — the seven independently-filtered sub-images,
    * pass-by-pass). Scope: color type 2, depth 8, interlace ≤ 1;
    * other color types/depths return null rather than guesses (the
    * [[Bmp.pixelStats]] convention).
    */
  object PngPixels {
    import graft.expressions.{ZlibDeflate, ZlibInflate}
    import org.apache.spark.sql.GraftColumnBridge.{column => gcol, expression => gexpr}

    /** Deterministic RGB8 PNG corpus with REAL adaptive filtering:
      * dimensions from doc_id arithmetic, pixel bytes = text bytes
      * zero-padded to 3·w·h, each scanline FILTERED with type
      * `(doc_id + y) % 5` — all five PNG filters (None/Sub/Up/
      * Average/Paeth) exercised corpus-wide; every `doc_id % 4 == 1`
      * doc ships the SAME pixels in the Adam7 INTERLACED layout (r13
      * — seven passes, each forward-filtered independently; channel
      * sums are placement-invariant, so the closed-form oracle needs
      * zero layout awareness). The forward filter is a
      * per-byte pure function of the RAW pixel array (filters predict
      * from decoded neighbors), so synthesis stays a declarative HOF;
      * DECODING is the sequential recurrence in
      * [[graft.expressions.PngFilterKernel]]. The raster
      * zlib-compresses into ONE IDAT by the real kernel — genuinely
      * compressed, genuinely filtered payloads. CRCs real, every
      * `invalidEvery`-th doc raw text.
      */
    def synthFromDocs(docs: DataFrame, invalidEvery: Int = 10): DataFrame = {
      val d = col("doc_id")
      val interlaced = d % 4 === 1
      val preStaged = docs
        .withColumn("__w", lit(4L) + d % 5)
        .withColumn("__h", lit(3L) + d % 4)
        // pixel bytes: first 3wh text bytes, zero-padded (hex-aligned)
        .withColumn("__pixhex", expr(
          "rpad(substring(hex(cast(text as binary)), 1, " +
            "cast(__w * __h * 6 as int)), cast(__w * __h * 6 as int), '0')"))
      // forward filtering (both layouts — sequential scanlines and the
      // seven independently-filtered Adam7 passes) is ONE linear
      // codegen kernel pass over the pixel bytes
      // ([[graft.expressions.PngForwardKernel]], r14): the former
      // per-byte HOF expression tree was interpreted and, on the
      // Adam7 lane, past the whole-stage-codegen size limit — the one
      // exec-heavy bench row in r13. Byte-for-byte the same rasters:
      // row y of pass p filters as type (doc_id + p + y) % 5 against
      // RAW neighbors, exactly the old schedule.
      val staged = preStaged
        .withColumn("__rawbin", gcol(graft.expressions.PngForwardFilter(
          gexpr(unhex(col("__pixhex"))),
          gexpr(array(col("__w").cast("long"), col("__h").cast("long"),
            d.cast("long"),
            when(interlaced, lit(1L)).otherwise(lit(0L)))))))
        .withColumn("__idat", gcol(ZlibDeflate(gexpr(col("__rawbin")))))
      val ihdrTypeData = concat(Png.asciiHexPub("IHDR"),
        Png.beHexPub(col("__w"), 4), Png.beHexPub(col("__h"), 4),
        Png.beHexPub(lit(8L), 1), Png.beHexPub(lit(2L), 1),
        Png.beHexPub(lit(0L), 1), Png.beHexPub(lit(0L), 1),
        Png.beHexPub(when(interlaced, lit(1L)).otherwise(lit(0L)), 1))
      val idatHex = hex(col("__idat"))
      val idatTypeData = concat(Png.asciiHexPub("IDAT"), idatHex)
      val pngHex = concat(
        lit(Png.Signature.map("%02X".format(_)).mkString),
        Png.beHexPub(lit(13L), 4), ihdrTypeData,
        Png.beHexPub(crc32(unhex(ihdrTypeData)), 4),
        Png.beHexPub((length(idatHex) / 2).cast("long"), 4), idatTypeData,
        Png.beHexPub(crc32(unhex(idatTypeData)), 4),
        Png.beHexPub(lit(0L), 4), Png.asciiHexPub("IEND"),
        Png.beHexPub(crc32(unhex(Png.asciiHexPub("IEND"))), 4))
      staged.select(
        d,
        when(d % invalidEvery === 0, col("text").cast("binary"))
          .otherwise(unhex(pngHex)).as("payload"),
        when(d % invalidEvery === 0, lit("text/plain"))
          .otherwise(lit("image/png")).as("media_type"))
    }

    /** Decode pixels from RGB8 PNGs: inflate the IDAT (real zlib,
      * null on corrupt/truncated/over-budget), UNFILTER every
      * scanline (all five adaptive filter types), then per-channel
      * means + peak byte over the reconstructed pixel bytes. Null
      * stats for any other color type/depth/interlace or an unknown
      * filter type.
      */
    def pixelStats(media: DataFrame, payloadCol: String = "payload",
        maxRasterBytes: Int = 1 << 24): DataFrame = {
      val p = col(payloadCol)
      val parsed = Png.parse(media, payloadCol)
      val w = col("width")
      val ht = col("height")
      val idat = p.substr(lit(42), col("idat_bytes").cast("int"))
      // interlace ≤ 1: Adam7 decodes too (r13) — the kernel owns the
      // per-layout raster-length check (the 7 sub-images of an
      // interlaced raster have a different total than h·(3w+1))
      val decodable = col("png_valid") && col("color_type") === 2L &&
        col("bit_depth") === 8L && col("interlace") <= 1L &&
        col("idat_bytes").isNotNull
      val withRaw = parsed.withColumn("__raw",
        when(decodable, gcol(ZlibInflate(gexpr(idat), maxRasterBytes))))
      // inflate → UNFILTER (all five PNG filter types, the sequential
      // reconstruction recurrence; pass-by-pass for Adam7) → channel
      // stats, the latter two as ONE codegen kernel pass over the
      // inflated raster bytes
      val st = org.apache.spark.sql.GraftColumnBridge.column(
        graft.expressions.PngFilteredStats(
          org.apache.spark.sql.GraftColumnBridge.expression(col("__raw")),
          org.apache.spark.sql.GraftColumnBridge.expression(
            array(w.cast("long"), ht.cast("long"),
              col("interlace").cast("long")))))
      withRaw
        .withColumn("__st",
          when(col("__raw").isNotNull && w * ht > 0, st))
        .withColumn("pixels_decoded",
          when(col("__st").isNotNull, element_at(col("__st"), 1)))
        .withColumn("mean_r",
          element_at(col("__st"), 2).cast("double") / col("pixels_decoded"))
        .withColumn("mean_g",
          element_at(col("__st"), 3).cast("double") / col("pixels_decoded"))
        .withColumn("mean_b",
          element_at(col("__st"), 4).cast("double") / col("pixels_decoded"))
        .withColumn("peak_byte",
          when(col("pixels_decoded").isNotNull, element_at(col("__st"), 5)))
        .drop("__raw", "__st")
    }
  }

  /** JPEG (JFIF) frame-header codec. The third container family, and
    * the one that breaks the fixed-offset assumption [[Wav]] and
    * [[Png]] share: a JPEG frame header (SOFn) sits after a
    * VARIABLE-length train of APPn/COM/DQT segments, so triage needs
    * a segment walk, not a constant offset. The walk is the custom
    * codegen expression [[graft.expressions.JpegSofOffset]] (O(#segments)
    * marker hops, no codec); every field read AFTER it is a fixed
    * offset RELATIVE to the located marker, so the rest of the parse
    * stays declarative `substr`+`conv` big-endian reads exactly like
    * PNG. Reference treats payloads as opaque blobs (`io/parquet.py`);
    * header triage is the beyond-reference multimodal piece.
    */
  object Jpeg {
    /** Big-endian unsigned int read at a COLUMN offset (1-based) —
      * the relative-addressing twin of [[Png.beUint]].
      */
    def beUintAt(payload: Column, off: Column, n: Int): Column =
      conv(hex(payload.substr(off.cast("int"), lit(n))), 16, 10).cast("long")

    /** Big-endian hex of an integral column, `n` bytes. */
    private def beHex(v: Column, n: Int): Column = lpad(hex(v), n * 2, "0")

    /** Parse the frame header fields from `payloadCol`. Adds:
      * `jpeg_valid` (SOI magic + a SOFn marker located before the
      * scan data), `sof_offset` (the VARIABLE 1-based marker offset —
      * surfacing it makes the walk itself oracle-checkable),
      * `progressive` (SOF2 vs SOF0), `jfif_present` (APP0/JFIF
      * directly after SOI), `precision_bits`/`height`/`width`/
      * `n_components`/`n_pixels`, and `header_consistent` (declared
      * SOF length = 8 + 3·components, legal precision and component
      * count, positive dimensions, frame header fits the payload).
      * A pure projection — zero shuffles at any scale.
      */
    def parse(media: DataFrame, payloadCol: String = "payload"): DataFrame =
      withParsed(media, columns(col(payloadCol)))

    private[multimodal] def columns(p: Column): Seq[(String, Column)] = {
      val off = GraftFunctions.jpeg_sof_offset(p)
      val valid = off.isNotNull
      val marker = beUintAt(p, off + 1, 1)
      val sofLen = beUintAt(p, off + 2, 2)
      val precision = beUintAt(p, off + 4, 1)
      val height = beUintAt(p, off + 5, 2)
      val width = beUintAt(p, off + 7, 2)
      val ncomp = beUintAt(p, off + 9, 1)
      val jfif = length(p) >= 11 &&
        substring(p, 7, 5) === lit(Array[Byte]('J', 'F', 'I', 'F', 0))
      val consistent = (sofLen === ncomp * 3 + 8) && precision.isin(8L, 12L) &&
        ncomp.isin(1L, 3L, 4L) && (width > 0) && (height > 0) &&
        (off + 1 + sofLen <= length(p))
      Seq(
        "jpeg_valid" -> valid,
        "sof_offset" -> when(valid, off),
        "progressive" -> when(valid, marker === lit(0xC2L)),
        "jfif_present" -> when(valid, jfif),
        "precision_bits" -> when(valid, precision),
        "height" -> when(valid, height),
        "width" -> when(valid, width),
        "n_components" -> when(valid, ncomp),
        "n_pixels" -> when(valid, width * height),
        "header_consistent" -> when(valid, consistent))
    }

    /** Deterministic JPEG corpus from the documents table: SOI, a
      * fixed APP0/JFIF, then a VARIABLE-length comment train — one COM
      * of `5 + doc_id%37` text bytes, plus a second COM of
      * `3 + doc_id%11` bytes on every third doc — before the SOF
      * (baseline, or progressive on every fourth doc; 1 component on
      * every fifth, else 3), then a minimal SOS + data + EOI tail.
      * The comment lengths shift the SOF marker doc-by-doc, so a
      * hash-exact `sof_offset` proves the segment WALK (not a shared
      * constant) found the header. Every `invalidEvery`-th doc keeps
      * raw text bytes to exercise the validity gate. Synthesis builds
      * hex big-endian (the inverse code path of [[parse]]'s BE reads).
      */
    def synthFromDocs(docs: DataFrame, invalidEvery: Int = 10): DataFrame = {
      val d = col("doc_id")
      val textHex = hex(col("text").cast("binary"))
      val textBytes = (length(textHex) / 2).cast("long")
      // APP0/JFIF v1.1, 1x1 density, no thumbnail: fixed 18 bytes
      val app0Hex = lit("FFE0" + "0010" + "4A46494600" + "0101" + "00" +
        "0001" + "0001" + "00" + "00")
      val com1Len = least(textBytes, lit(5L) + d % 37)
      val com1Seg = concat(lit("FFFE"), beHex(com1Len + 2, 2),
        textHex.substr(lit(1), (com1Len * 2).cast("int")))
      val com2Len = least(greatest(textBytes - 5, lit(0L)), lit(3L) + d % 11)
      val com2Seg = when(d % 3 === 0,
        concat(lit("FFFE"), beHex(com2Len + 2, 2),
          textHex.substr(lit(11), (com2Len * 2).cast("int")))).otherwise(lit(""))
      val ncomp = when(d % 5 === 0, 1L).otherwise(3L)
      val sofMarker = when(d % 4 === 0, "FFC2").otherwise("FFC0")
      val h = lit(120L) + d % 33
      val w = lit(160L) + d % 21
      val compsHex = when(ncomp === 1, "011100").otherwise("011100" + "021100" + "031100")
      val sofHex = concat(sofMarker, beHex(ncomp * 3 + 8, 2), beHex(lit(8L), 1),
        beHex(h, 2), beHex(w, 2), beHex(ncomp, 1), compsHex)
      val sosHex = when(ncomp === 1, "FFDA" + "0008" + "01" + "0100" + "003F00")
        .otherwise("FFDA" + "000C" + "03" + "0100" + "0200" + "0300" + "003F00")
      // entropy data: a FIXED 8 bytes — zero-padded when the document's
      // text is shorter, so payload size is a pure function of the
      // header arithmetic (the triage oracle's constant `data(8)` term)
      // rather than a latent ≥8-byte test-corpus assumption
      val jpegHex = concat(lit("FFD8"), app0Hex, com1Seg, com2Seg, sofHex, sosHex,
        rpad(textHex.substr(lit(1), lit(16)), 16, "0"), lit("FFD9"))
      docs.select(
        d,
        when(d % invalidEvery === 0, col("text").cast("binary"))
          .otherwise(unhex(jpegHex)).as("payload"),
        when(d % invalidEvery === 0, lit("text/plain"))
          .otherwise(lit("image/jpeg")).as("media_type"))
    }

    /** Channel statistics via a REAL baseline-JPEG decode — the
      * fourth genuine compressed-stream decode (zlib for PNG, PCM for
      * WAV, LZW for GIF, Huffman-coded DCT here): marker walk →
      * canonical Huffman entropy decode (DC prediction, restart
      * markers, byte unstuffing) → dequantize → full integer inverse
      * DCT → YCbCr→RGB, one codegen kernel pass
      * ([[graft.expressions.JpegDecodeKernel]], libjpeg-conformant
      * integer arithmetic). Progressive (SOF2) streams decode too
      * (r13): the kernel routes on the SOF marker and accumulates the
      * progression's coefficient planes across scans — spectral
      * selection, successive approximation, EOB runs — before the
      * same IDCT/convert pipeline (sample-exact vs ImageIO's own
      * progressive decode, JpegPixelsSpec). Adds `pixels_decoded`,
      * `mean_r/g/b`, `peak_byte` (null only for genuinely undecodable
      * payloads). Pure projection — zero shuffles.
      */
    def pixelStats(media: DataFrame, payloadCol: String = "payload"): DataFrame = {
      val st = org.apache.spark.sql.GraftColumnBridge.column(
        graft.expressions.JpegPixelStats(
          org.apache.spark.sql.GraftColumnBridge.expression(col(payloadCol))))
      parse(media, payloadCol)
        .withColumn("__st", when(col("jpeg_valid"), st))
        .withColumn("pixels_decoded",
          when(col("__st").isNotNull && element_at(col("__st"), 1) > 0,
            element_at(col("__st"), 1)))
        .withColumn("mean_r",
          element_at(col("__st"), 2).cast("double") / col("pixels_decoded"))
        .withColumn("mean_g",
          element_at(col("__st"), 3).cast("double") / col("pixels_decoded"))
        .withColumn("mean_b",
          element_at(col("__st"), 4).cast("double") / col("pixels_decoded"))
        .withColumn("peak_byte",
          when(col("pixels_decoded").isNotNull, element_at(col("__st"), 5)))
        .drop("__st")
    }

    /** Deterministic FULL baseline JPEGs (real Huffman-coded scans,
      * not header shells): a grid of flat 8×8 tiles (16×16 for the
      * 4:2:0 lane) whose YCbCr values are the closed forms
      * `(7·doc_id + 13·t) mod 256` / `(5·doc_id + 11·t)` /
      * `(3·doc_id + 17·t)`, encoded DC-only against all-ones quant
      * tables — the one JPEG family whose decode round-trips EXACTLY
      * (flat blocks survive any conforming IDCT bit-for-bit), so a
      * SQL oracle can recompute the decoded channel sums closed-form
      * while Spark actually entropy-decodes the bytes. Rotates
      * grayscale / 4:4:4 / 4:2:0 by doc_id, inserts restart markers
      * on odd docs (DC-predictor reset path), ships every
      * `doc_id % 4 == 1` doc as an SOF2 PROGRESSIVE stream (r13 —
      * spectral selection + DC successive approximation; the decoded
      * pixels are identical, so the closed-form oracle needs no
      * layout awareness), and keeps every `invalidEvery`-th doc as
      * raw text (the invalid lane).
      */
    def synthPixelsFromDocs(docs: DataFrame, invalidEvery: Int = 10): DataFrame = {
      val d = col("doc_id")
      val mode = (d % 3).cast("int")
      val tw = (lit(2L) + d % 3).cast("int")
      val th = (lit(1L) + expr("(doc_id div 3) % 2")).cast("int")
      val prog = d % 4 === 1
      val ri = when(prog, lit(0))
        .when(d % 2 === 1, lit(2)).otherwise(lit(0)).cast("int")
      val nTiles = tw * th
      val yOf = (t: Column) => pmod(d * 7 + t * 13, lit(256L)).cast("int")
      val cbOf = (t: Column) => pmod(d * 5 + t * 11, lit(256L)).cast("int")
      val crOf = (t: Column) => pmod(d * 3 + t * 17, lit(256L)).cast("int")
      val tiles = when(mode === 0,
        transform(sequence(lit(0), nTiles - 1), t => yOf(t.cast("long"))))
        .otherwise(
          transform(sequence(lit(0), nTiles * 3 - 1), i => {
            val t = (i / 3).cast("long") // int division: i is int
            val c = i % 3
            when(c === 0, yOf(t)).when(c === 1, cbOf(t)).otherwise(crOf(t))
          }))
      val params = array(tw, th, mode, ri,
        when(prog, lit(1)).otherwise(lit(0)).cast("int"))
      val payload = org.apache.spark.sql.GraftColumnBridge.column(
        graft.expressions.JpegSynthEncode(
          org.apache.spark.sql.GraftColumnBridge.expression(tiles),
          org.apache.spark.sql.GraftColumnBridge.expression(params)))
      docs.select(
        d,
        when(d % invalidEvery === 0, col("text").cast("binary"))
          .otherwise(payload).as("payload"),
        when(d % invalidEvery === 0, lit("text/plain"))
          .otherwise(lit("image/jpeg")).as("media_type"))
    }

    /** EXIF triage — the image-PRIVACY pass (r13): camera identity,
      * orientation, and the GPS sub-IFD PRESENCE flag (embedded
      * capture coordinates are the classic silent-PII in published
      * image corpora; this is the field a curation run gates on).
      * One codegen struct projection over the payload
      * ([[graft.expressions.JpegExifKernel]] — marker walk to the
      * Exif APP1, TIFF header both byte orders, bounds-checked IFD0
      * scan). `exif_present = false` ≠ null: a JPEG without metadata
      * and a non-JPEG blob are different facts.
      */
    def exif(media: DataFrame, payloadCol: String = "payload"): DataFrame = {
      val x = org.apache.spark.sql.GraftColumnBridge.column(
        graft.expressions.JpegExif(
          org.apache.spark.sql.GraftColumnBridge.expression(col(payloadCol))))
      media.withColumn("__x", x)
        .withColumn("exif_present", col("__x.exif_present"))
        .withColumn("byte_order", col("__x.byte_order"))
        .withColumn("n_ifd0_entries", col("__x.n_ifd0_entries"))
        .withColumn("orientation", col("__x.orientation"))
        .withColumn("make", col("__x.make"))
        .withColumn("model", col("__x.model"))
        .withColumn("has_gps", col("__x.has_gps"))
        .withColumn("gps_lat", col("__x.gps_lat"))
        .withColumn("gps_lon", col("__x.gps_lon"))
        .drop("__x")
    }

    /** GPS-strip REWRITE (r14) — the curation ACTION [[exif]] only
      * flags: returns the frame with `payloadCol` replaced by a copy
      * whose GPS data is destroyed — the IFD0 GPS-pointer entries
      * removed (entry table compacted, count decremented) and the GPS
      * sub-IFD plus every out-of-line value it references zeroed in
      * place ([[graft.expressions.JpegStripGpsKernel]]). The rewrite
      * is length-preserving, so every other TIFF offset — and every
      * byte outside the Exif APP1, entropy-coded pixels included —
      * is bit-identical. Non-JPEG / Exif-less / GPS-less payloads
      * pass through unchanged: total and idempotent, safe over a
      * mixed corpus. Pure projection — zero shuffles.
      */
    def stripGps(media: DataFrame, payloadCol: String = "payload"): DataFrame =
      media.withColumn(payloadCol,
        org.apache.spark.sql.GraftColumnBridge.column(
          graft.expressions.JpegStripGps(
            org.apache.spark.sql.GraftColumnBridge.expression(col(payloadCol)))))

    /** Deterministic Exif corpus: a real TIFF structure per doc —
      * byte order alternates `II`/`MM` (odd docs little-endian, so
      * BOTH decode paths run corpus-wide), Make is OFFSET-addressed
      * ASCII (count 5 > 4) while Model is INLINE (count 3 ≤ 4) — both
      * value layouts exercised — orientation `1 + doc_id % 8`, and
      * the GPS IFD pointer rides every 3rd doc (the privacy lane). A
      * COM segment precedes APP1 on every 4th doc (the walk, not a
      * constant offset, finds the segment). Lanes: every 10th doc raw
      * text (non-JPEG → null row), every 5th a JPEG with NO Exif
      * (`exif_present = false`). Closed-form for the oracle.
      */
    def synthExifFromDocs(docs: DataFrame, invalidEvery: Int = 10): DataFrame = {
      val d = col("doc_id")
      val le = d % 2 === 1
      def beH(v: Column, n: Int): Column = lpad(hex(v), n * 2, "0")
      def leH(v: Column, n: Int): Column = {
        val be = beH(v, n)
        concat((n - 1 to 0 by -1).map(i => substring(be, i * 2 + 1, 2)): _*)
      }
      def x16(v: Column): Column = when(le, leH(v, 2)).otherwise(beH(v, 2))
      def x32(v: Column): Column = when(le, leH(v, 4)).otherwise(beH(v, 4))
      def aH(s: String): Column =
        lit(s.getBytes("US-ASCII").map("%02X".format(_)).mkString)
      val hasGps = d % 3 === 0
      val nEntries = when(hasGps, lit(4L)).otherwise(lit(3L))
      val da = lit(14L) + nEntries * 12 // make-string data offset
      val gOff = da + 5 // GPS sub-IFD right after the make string
      val latOff = gOff + 2 + 4 * 12 + 4 // 4 GPS entries + next-IFD 0
      val lonOff = latOff + 24
      val makeDigit = beH(lit(48L) + d % 5, 1) // ascii '0'+d%5
      val modelDigit = beH(lit(48L) + d % 7, 1)
      def entry(tag: Long, typ: Long, cnt: Long, valueHex: Column): Column =
        concat(x16(lit(tag)), x16(lit(typ)), x32(lit(cnt)), valueHex)
      val entries = concat(
        entry(0x010F, 2, 5, x32(da)), // Make: offset-addressed
        entry(0x0110, 2, 3, concat(aH("M"), modelDigit, lit("0000"))), // inline
        entry(0x0112, 3, 1, concat(x16(lit(1L) + d % 8), lit("0000"))),
        when(hasGps, entry(0x8825, 4, 1, x32(gOff))).otherwise(lit("")))
      // GPS sub-IFD (planted only on the gps lane): refs vary WITHIN
      // the lane (S every 6th doc, W on odd doc_id/3) so the sign
      // arithmetic is observable; rationals plant deg/1, min/1,
      // (10·sec-tenths)/10 — the den≠1 path runs on every coordinate
      def rat(num: Column, den: Long): Column = concat(x32(num), x32(lit(den)))
      val latRefS = d % 6 === 0
      val lonRefW = expr("(doc_id div 3) % 2 = 1")
      val gpsIfd = concat(
        x16(lit(4L)),
        entry(1, 2, 2, concat(when(latRefS, aH("S")).otherwise(aH("N")),
          lit("000000"))),
        entry(2, 5, 3, x32(latOff)),
        entry(3, 2, 2, concat(when(lonRefW, aH("W")).otherwise(aH("E")),
          lit("000000"))),
        entry(4, 5, 3, x32(lonOff)),
        lit("00000000"),
        rat(d % 90, 1), rat((d * 7) % 60, 1), rat((d * 13) % 600, 10),
        rat(d % 180, 1), rat((d * 11) % 60, 1), rat((d * 17) % 600, 10))
      val tiff = concat(
        when(le, aH("II")).otherwise(aH("MM")), x16(lit(42L)), x32(lit(8L)),
        x16(nEntries), entries, lit("00000000"),
        aH("Cam"), makeDigit, lit("00"),
        when(hasGps, gpsIfd).otherwise(lit("")))
      val tiffLen = when(hasGps, lonOff + 24).otherwise(da + 5)
      val app1 = concat(lit("FFE1"), beH(tiffLen + 8, 2),
        aH("Exif"), lit("0000"), tiff)
      val app0 = lit("FFE0" + "0010" + "4A46494600" + "0101" + "00" +
        "0001" + "0001" + "00" + "00")
      // COM data: 4 text bytes + 1 varying byte + NUL = 6, len = 8
      val com = when(d % 4 === 0, concat(lit("FFFE"), beH(lit(8L), 2),
        hex(substring(col("text"), 1, 4).cast("binary")),
        beH(d % 9, 1), lit("00"))).otherwise(lit(""))
      val withExif = concat(lit("FFD8"), app0, com, app1, lit("FFD9"))
      val noExif = concat(lit("FFD8"), app0, lit("FFD9"))
      docs.select(
        d,
        when(d % invalidEvery === 0, col("text").cast("binary"))
          .when(d % 5 === 0, unhex(noExif))
          .otherwise(unhex(withExif)).as("payload"))
    }
  }

  /** Deterministic frame sampling BEFORE decode: every media pipeline
    * selects "each step-th fixed-size window" of a payload by pure
    * byte arithmetic on (offset, size) — no codec involved — and only
    * decodes the sampled frames. Frames here are fixed `frameBytes`
    * windows (a real container supplies an index table; the shape is
    * identical): frame indices explode map-side, byte ranges slice with
    * binary `substring`, each frame carries (doc_id, frame_idx,
    * n_frames) provenance. Zero shuffles — at 100 TB this is one
    * streaming pass emitting 1/step of the payload bytes.
    *
    * The frame content is emitted as hex so the oracle can mirror the
    * byte slice as a string slice (`hex(substr(bytes))` ≡
    * `substr(hex(bytes))` — hex is byte-aligned).
    */
  def frameSample(docs: DataFrame, frameBytes: Int = 100, step: Int = 4): DataFrame =
    asMediaTable(docs)
      .withColumn("n_frames", expr(s"(n_bytes + ${frameBytes - 1}) div $frameBytes"))
      .filter(col("n_frames") > 0)
      .withColumn("frame_idx",
        explode(sequence(lit(0L), col("n_frames") - 1, lit(step.toLong))))
      .select(col("doc_id"), col("frame_idx"), col("n_frames"),
        expr(s"hex(substring(payload, CAST(frame_idx * $frameBytes + 1 AS INT), $frameBytes))")
          .as("frame_hex"))

  /** Pre-decode media similarity fingerprint: SimHash over the SAMPLED
    * frame bytes — [[frameSample]]'s zero-decode shape composed with
    * the dedup family's bit-vote fingerprint
    * ([[graft.dedup.Dedup.simhash]], but at frame grain instead of
    * token grain). Payloads sharing most sampled frames (re-muxed
    * media, retried uploads, trailing-metadata variants) land at small
    * Hamming distance; byte-identical payloads collide exactly — the
    * `group_size`/`keep` columns give the exact-dup ledger directly.
    * No codec anywhere: at 100 TB this is one streaming pass over
    * 1/step of the payload bytes plus one 32-number-per-doc partial
    * aggregation.
    */
  def simFingerprint(docs: DataFrame, frameBytes: Int = 100, step: Int = 4): DataFrame = {
    val frames = frameSample(docs, frameBytes, step)
      .withColumn("h", GraftFunctions.hex64(concat(lit("mm|"), col("frame_hex"))))
    // the vote/combine stages are Dedup's — one definition per convention
    val bits = frames.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_frames_sampled"), graft.dedup.Dedup.simhashVoteAggs: _*)
    // keep-ledger as a groupBy argmin + join-back, NOT a
    // fingerprint-keyed window (the Dedup.exact idiom, round-8 verdict
    // #3): fingerprints are near-unique on real media, but the
    // adversarial case — one payload uploaded 10⁶ times — collapses to
    // ONE fingerprint group, which a window would buffer on one task.
    // The keeper argmin is min(struct(doc_id, n_frames_sampled)) —
    // doc_id is unique so the struct changes nothing semantically, but
    // it keeps n_frames_sampled ALIVE in the stats branch: both
    // references to `fps` then canonicalize to the same doc-grain
    // aggregate and the heavy frame-explode + vote prefix is shared
    // through exchange reuse (spec-asserted) instead of recomputed.
    val fps = bits.select(col("doc_id"), col("n_frames_sampled"),
      graft.dedup.Dedup.simhashCombineCol.as("sim_fingerprint"))
    val g = fps.groupBy(col("sim_fingerprint")).agg(
      count(lit(1)).as("group_size"),
      min(struct(col("doc_id"), col("n_frames_sampled"))).as("k"))
      .select(col("sim_fingerprint"), col("group_size"),
        col("k").getField("doc_id").as("keeper_id"))
    fps.join(g, Seq("sim_fingerprint"))
      .select(col("doc_id"), col("n_frames_sampled"), col("sim_fingerprint"),
        col("group_size"), (col("doc_id") === col("keeper_id")).as("keep"))
  }

  /** BMP (BITMAPINFOHEADER) container codec — the fourth family,
    * completing the little-endian IMAGE corner of the container grid
    * (WAV = LE audio, PNG = BE image + CRC, JPEG = variable-offset
    * walk, BMP = LE image): the canonical 54-byte header
    * (BITMAPFILEHEADER + 40-byte DIB) is fixed-offset, so the parse is
    * the [[Wav]] `substring`+`hex`+`conv` idiom verbatim — codegen'd,
    * shuffle-free, null-safe on non-BMP payloads. The consistency
    * check exercises real BMP arithmetic: the 4-byte-aligned row
    * stride `((width·bpp + 31) div 32)·4` must reconcile the declared
    * image size, the data offset, and the physical payload length.
    */
  object Bmp {
    /** Little-endian hex of an integral column, `n` bytes. */
    private[multimodal] def leHex(v: Column, n: Int): Column = {
      val be = lpad(hex(v), n * 2, "0")
      concat((n - 1 to 0 by -1).map(i => substring(be, i * 2 + 1, 2)): _*)
    }
    private def asciiHex(s: String): Column =
      lit(s.getBytes("US-ASCII").map("%02X".format(_)).mkString)

    private[multimodal] def isBmp(p: Column): Column =
      length(p) >= 54 && substring(p, 1, 2) === lit("BM".getBytes("US-ASCII"))

    /** Sign-extended little-endian int32 read: real-world BMPs encode
      * top-down row order as a NEGATIVE height, which an unsigned read
      * would misreport as a ~4e9 "valid" height.
      */
    private[multimodal] def leSint32(p: Column, off: Int): Column = {
      val u = Wav.leUint(p, off, 4)
      when(u >= (1L << 31), u - (1L << 32)).otherwise(u)
    }

    /** Parse the canonical BITMAPINFOHEADER layout from `payloadCol`.
      * Adds: `bmp_valid` (magic, DIB size 40, one plane, positive
      * dimensions), `width`/`height`/`bits_per_pixel`/`compression`/
      * `data_offset`/`image_bytes`/`row_stride`/`n_pixels` (null
      * unless valid), and `header_consistent` (uncompressed BI_RGB,
      * a true-color bpp, data at offset 54, image size = aligned
      * stride × height, declared file size = 54 + image size = the
      * physical payload length). A pure projection — zero shuffles.
      */
    def parse(media: DataFrame, payloadCol: String = "payload"): DataFrame =
      withParsed(media, columns(col(payloadCol)))

    private[multimodal] def columns(p: Column): Seq[(String, Column)] = {
      import Wav.leUint
      val widthS = leSint32(p, 19)
      val heightS = leSint32(p, 23)
      // Top-down BMPs (negative int32 height) are real and valid: the
      // height is normalized to its magnitude and the orientation
      // surfaced as `bmp_top_down`. A negative WIDTH is always junk.
      val valid = isBmp(p) && (leUint(p, 15, 4) === 40) &&
        (leUint(p, 27, 2) === 1) && (widthS > 0) && (heightS =!= 0)
      val width = widthS
      val height = abs(heightS)
      val bpp = leUint(p, 29, 2)
      val stride = ((width * bpp + 31) - pmod(width * bpp + 31, lit(32L))) / 32 * 4
      val consistent = (leUint(p, 31, 4) === 0) && bpp.isin(16L, 24L, 32L) &&
        (leUint(p, 11, 4) === 54) &&
        (leUint(p, 35, 4) === stride.cast("long") * height) &&
        (leUint(p, 3, 4) === leUint(p, 35, 4) + 54) &&
        (length(p) === leUint(p, 3, 4))
      Seq(
        "bmp_valid" -> valid,
        "width" -> when(valid, width),
        "height" -> when(valid, height),
        "bmp_top_down" -> when(valid, heightS < 0),
        "bits_per_pixel" -> when(valid, bpp),
        "compression" -> when(valid, leUint(p, 31, 4)),
        "data_offset" -> when(valid, leUint(p, 11, 4)),
        "image_bytes" -> when(valid, leUint(p, 35, 4)),
        "row_stride" -> when(valid, stride.cast("long")),
        "n_pixels" -> when(valid, width * height),
        "header_consistent" -> when(valid, consistent))
    }

    /** Pixel-level decode for uncompressed 24-bpp BMPs — the image
      * sibling of [[Wav.sampleStats]]: reads the actual BGR pixel
      * bytes (skipping each row's 4-byte-alignment padding via the
      * stride walk) and computes per-channel means and the peak byte —
      * the exposure/solid-color triage features an image curator
      * filters on. Exact integer sums; three final IEEE divisions →
      * cross-engine hash-exact. Null stats unless `bmp_valid`,
      * BI_RGB, and 24 bpp (the palette-free byte-per-channel case;
      * 16/32-bpp need their own unpacking and are left null, not
      * guessed). Pure per-row projection, zero shuffle.
      */
    def pixelStats(media: DataFrame, payloadCol: String = "payload"): DataFrame = {
      val p = col(payloadCol)
      val w = col("width")
      val ht = col("height")
      val ok = col("bmp_valid") && col("compression") === 0L &&
        col("bits_per_pixel") === 24L && col("data_offset") === 54L
      // the whole stride walk is ONE codegen kernel over the raw
      // payload bytes (PixelKernel — the Wav.sampleStats upgrade
      // pattern; channel c of pixel (x,y) at 54 + y·stride + 3x + c)
      val st = org.apache.spark.sql.GraftColumnBridge.column(
        graft.expressions.PixelChannelStats(
          org.apache.spark.sql.GraftColumnBridge.expression(p),
          org.apache.spark.sql.GraftColumnBridge.expression(
            array(w.cast("long"), ht.cast("long"),
              col("row_stride").cast("long"), lit(54L))),
          checkFilter = false))
      parse(media, payloadCol)
        .withColumn("__st", when(ok && w * ht > 0, st))
        .withColumn("pixels_decoded",
          when(col("__st").isNotNull, element_at(col("__st"), 1)))
        .withColumn("mean_b",
          element_at(col("__st"), 2).cast("double") / col("pixels_decoded"))
        .withColumn("mean_g",
          element_at(col("__st"), 3).cast("double") / col("pixels_decoded"))
        .withColumn("mean_r",
          element_at(col("__st"), 4).cast("double") / col("pixels_decoded"))
        .withColumn("peak_byte",
          when(col("pixels_decoded").isNotNull, element_at(col("__st"), 5)))
        .drop("__st")
    }

    /** Deterministic BMP corpus from the documents table: dimensions
      * and bit depth from `doc_id` arithmetic (16/24/32 bpp — the
      * palette-free true-color family), pixel data = text bytes
      * truncated/zero-padded to the EXACT aligned `stride × height`
      * size, so every size field is a pure function of doc_id. Every
      * `invalidEvery`-th doc keeps raw text bytes to exercise the
      * validity gate. Synthesis is the INVERSE code path of [[parse]]
      * (LE encode vs LE read) — parse ∘ synth recovering the formulas
      * checks real byte layout.
      */
    def synthFromDocs(docs: DataFrame, invalidEvery: Int = 10): DataFrame = {
      val d = col("doc_id")
      val width = lit(10L) + d % 13
      val height = lit(5L) + d % 9
      val bpp = element_at(array(lit(16L), lit(24L), lit(32L)), (d % 3 + 1).cast("int"))
      val stride = ((width * bpp + 31) - pmod(width * bpp + 31, lit(32L))) / 32 * 4
      val staged = docs
        .withColumn("__imgsz", (stride * height).cast("long"))
        // substring/rpad need COLUMN lengths here → the SQL forms
        .withColumn("__data_hex", expr(
          "rpad(substring(hex(cast(text as binary)), 1, cast(__imgsz * 2 as int)), " +
            "cast(__imgsz * 2 as int), '0')"))
      val imgSz = col("__imgsz")
      val bmpHex = concat(
        asciiHex("BM"), leHex(imgSz + 54, 4), leHex(lit(0L), 4), leHex(lit(54L), 4),
        leHex(lit(40L), 4), leHex(width, 4), leHex(height, 4),
        leHex(lit(1L), 2), leHex(bpp, 2), leHex(lit(0L), 4), leHex(imgSz, 4),
        leHex(lit(0L), 4), leHex(lit(0L), 4), leHex(lit(0L), 4), leHex(lit(0L), 4),
        col("__data_hex"))
      staged.select(
        d,
        when(d % invalidEvery === 0, col("text").cast("binary"))
          .otherwise(unhex(bmpHex)).as("payload"),
        when(d % invalidEvery === 0, lit("text/plain"))
          .otherwise(lit("image/bmp")).as("media_type"))
    }
  }

  /** GIF87a/GIF89a logical-screen-descriptor codec. Like the other
    * codecs: a pure codegen projection over the payload bytes — the
    * oracle recomputes every field closed-form from doc_id while
    * Spark parses the actual bytes, so a hash match proves the
    * byte-level read.
    */
  object Gif {
    private def asciiHex(s: String): Column =
      lit(s.getBytes("US-ASCII").map("%02X".format(_)).mkString)

    private[multimodal] def isGif(p: Column): Column =
      length(p) >= 14 &&
        substring(p, 1, 4) === lit("GIF8".getBytes("US-ASCII")) &&
        (substring(p, 5, 2) === lit("7a".getBytes("US-ASCII")) ||
          substring(p, 5, 2) === lit("9a".getBytes("US-ASCII")))

    /** Parse the 13-byte header + logical screen descriptor. Adds:
      * `gif_valid`, `version` ('87a'/'89a'), `width`/`height`
      * (u16le), `has_gct`, `gct_entries`/`gct_bytes` (2^(bits+1)
      * entries × 3, null without a GCT), `bg_index`, and
      * `header_consistent` (trailer byte 0x3B closes the stream and
      * the physical length is exactly header + GCT + trailer — the
      * minimal-stream layout the synth writes). Pure projection.
      */
    def parse(media: DataFrame, payloadCol: String = "payload"): DataFrame =
      withParsed(media, columns(col(payloadCol)))

    private[multimodal] def columns(p: Column): Seq[(String, Column)] = {
      import Wav.leUint
      val width = leUint(p, 7, 2)
      val height = leUint(p, 9, 2)
      val packed = leUint(p, 11, 1)
      val hasGct = packed >= 128
      val gctEntries =
        call_function("shiftleft", lit(1L), (pmod(packed, lit(8)) + 1).cast("int"))
      val valid = isGif(p) && width > 0 && height > 0
      val gctBytes = when(hasGct, gctEntries * 3L).otherwise(0L)
      val consistent =
        substring(p, -1, 1) === lit(Array(0x3B.toByte)) &&
          length(p).cast("long") === lit(13L) + gctBytes + 1L
      Seq(
        "gif_valid" -> valid,
        "version" -> when(valid, concat(lit("8"), substring(p, 5, 2).cast("string"))),
        "width" -> when(valid, width),
        "height" -> when(valid, height),
        "has_gct" -> when(valid, hasGct),
        "gct_entries" -> when(valid && hasGct, gctEntries),
        "gct_bytes" -> when(valid && hasGct, gctEntries * 3L),
        "bg_index" -> when(valid, leUint(p, 12, 1)),
        "n_pixels" -> when(valid, width * height),
        "header_consistent" -> when(valid, consistent))
    }

    /** Channel statistics via a REAL LZW decode of the first image —
      * the GIF sibling of `PngPixels.pixelStats` (zlib there, LZW
      * here): block walk → variable-width code stream → dictionary
      * chains accumulated against the active color table, one codegen
      * kernel pass ([[graft.expressions.GifLzwKernel]]). Adds
      * `pixels_decoded`, `mean_r/g/b`, `peak_byte` (null when the
      * payload is not a decodable GIF). Pure projection — zero
      * shuffles.
      */
    def pixelStats(media: DataFrame, payloadCol: String = "payload"): DataFrame = {
      val st = org.apache.spark.sql.GraftColumnBridge.column(
        graft.expressions.GifPixelStats(
          org.apache.spark.sql.GraftColumnBridge.expression(col(payloadCol))))
      parse(media, payloadCol)
        .withColumn("__st", when(col("gif_valid"), st))
        .withColumn("pixels_decoded",
          when(col("__st").isNotNull && element_at(col("__st"), 1) > 0,
            element_at(col("__st"), 1)))
        .withColumn("mean_r",
          element_at(col("__st"), 2).cast("double") / col("pixels_decoded"))
        .withColumn("mean_g",
          element_at(col("__st"), 3).cast("double") / col("pixels_decoded"))
        .withColumn("mean_b",
          element_at(col("__st"), 4).cast("double") / col("pixels_decoded"))
        .withColumn("peak_byte",
          when(col("pixels_decoded").isNotNull, element_at(col("__st"), 5)))
        .drop("__st")
    }

    /** Deterministic FULL GIF streams (header + GCT from the text
      * bytes + image descriptor + a real literal-mode LZW code stream
      * + trailer): indices are the closed form `(doc_id + i) mod
      * entries`, so the oracle recomputes channel sums from the same
      * text chars while Spark decodes the actual compressed bytes.
      * Every `invalidEvery`-th doc is raw text (the invalid lane).
      */
    def synthPixelsFromDocs(docs: DataFrame, invalidEvery: Int = 10): DataFrame = {
      val d = col("doc_id")
      val bits = (d % 3 + 1).cast("int") // GCT size field: 4/8/16 entries
      val entries = expr("shiftleft(1L, cast(doc_id % 3 + 2 as int))")
      val iw = lit(5L) + d % 6
      val ih = lit(3L) + d % 4
      val n = iw * ih
      val staged = docs
        .withColumn("__entries", entries)
        .withColumn("__gct_hex", expr(
          "rpad(substring(hex(cast(text as binary)), 1, cast(__entries * 6 as int)), " +
            "cast(__entries * 6 as int), '0')"))
        .withColumn("__idx",
          transform(sequence(lit(0L), n - 1),
            i => pmod(d + i, col("__entries")).cast("int")))
      // three encoder expressions, one per minCode (operator constant)
      def enc(mc: Int) = org.apache.spark.sql.GraftColumnBridge.column(
        graft.expressions.GifLzwEncode(
          org.apache.spark.sql.GraftColumnBridge.expression(col("__idx")), mc))
      val lzwHex = hex(
        when(d % 3 === 0, enc(2)).when(d % 3 === 1, enc(3)).otherwise(enc(4)))
      val packed = lit(240L) + bits.cast("long") // GCT flag + colres 7 + size
      val gifHex = concat(
        asciiHex("GIF89a"),
        Bmp.leHex(iw, 2), Bmp.leHex(ih, 2), Bmp.leHex(packed, 1),
        Bmp.leHex(lit(0L), 1), Bmp.leHex(lit(0L), 1),
        col("__gct_hex"),
        lit("2C"), Bmp.leHex(lit(0L), 2), Bmp.leHex(lit(0L), 2),
        Bmp.leHex(iw, 2), Bmp.leHex(ih, 2), Bmp.leHex(lit(0L), 1),
        Bmp.leHex(d % 3 + 2, 1), // LZW minimum code size
        lzwHex, lit("3B"))
      staged.select(d,
        when(d % invalidEvery === 0, col("text").cast("binary"))
          .otherwise(unhex(gifHex)).as("payload"),
        when(d % invalidEvery === 0, lit("text/plain"))
          .otherwise(lit("image/gif")).as("media_type"))
    }

    /** ANIMATED frame walk — one row per frame of a multi-image GIF
      * ([[graft.expressions.GifFramesKernel]]): every Graphic Control
      * Extension (delay / disposal / transparency), every image
      * descriptor (sub-rectangle placement, local color tables), the
      * NETSCAPE2.0 loop extension, and a REAL LZW decode of every
      * frame for per-frame channel statistics. ONE codegen kernel
      * pass + a generator (explode) — no shuffle; invalid payloads
      * keep one all-null row (`explode_outer`).
      */
    def frames(media: DataFrame, payloadCol: String = "payload"): DataFrame = {
      val g = org.apache.spark.sql.GraftColumnBridge.column(
        graft.expressions.GifFrames(
          org.apache.spark.sql.GraftColumnBridge.expression(col(payloadCol))))
      media
        .withColumn("__g", g)
        .withColumn("gif_valid", coalesce(col("__g.gif_valid"), lit(false)))
        .withColumn("canvas_w", col("__g.canvas_w"))
        .withColumn("canvas_h", col("__g.canvas_h"))
        .withColumn("n_frames", col("__g.n_frames"))
        .withColumn("loop_count", col("__g.loop_count"))
        .withColumn("total_delay_ms", col("__g.total_delay_ms"))
        .withColumn("__fr", explode_outer(col("__g.frames")))
        .withColumn("frame_idx", col("__fr.frame_idx"))
        .withColumn("delay_ms", col("__fr.delay_ms"))
        .withColumn("disposal", col("__fr.disposal"))
        .withColumn("transparent_idx", col("__fr.transparent_idx"))
        .withColumn("frame_left", col("__fr.frame_left"))
        .withColumn("frame_top", col("__fr.frame_top"))
        .withColumn("frame_w", col("__fr.frame_w"))
        .withColumn("frame_h", col("__fr.frame_h"))
        .withColumn("has_lct", col("__fr.has_lct"))
        .withColumn("frame_pixels", col("__fr.n_pixels"))
        .withColumn("sum_r", col("__fr.sum_r"))
        .withColumn("sum_g", col("__fr.sum_g"))
        .withColumn("sum_b", col("__fr.sum_b"))
        .withColumn("peak_byte", col("__fr.peak_byte"))
        .drop("__g", "__fr")
    }

    /** Deterministic ANIMATED GIF payloads (see
      * [[graft.expressions.GifAnimSynthKernel]]: 1-4 frames, loop
      * extension, per-frame GCE delay/disposal/transparency lanes,
      * local-color-table frames, real per-frame LZW streams); every
      * `invalidEvery`-th doc raw text.
      */
    def synthAnimFromDocs(docs: DataFrame, invalidEvery: Int = 10): DataFrame = {
      val d = col("doc_id")
      val payload = org.apache.spark.sql.GraftColumnBridge.column(
        graft.expressions.GifAnimSynth(
          org.apache.spark.sql.GraftColumnBridge.expression(d)))
      docs.select(d,
        when(d % invalidEvery === 0, col("text").cast("binary"))
          .otherwise(payload).as("payload"),
        when(d % invalidEvery === 0, lit("text/plain"))
          .otherwise(lit("image/gif")).as("media_type"))
    }

    /** Deterministic minimal GIF streams over the docs table (header +
      * optional GCT from the text bytes + trailer); every 10th doc is
      * raw text (the invalid lane).
      */
    def synthFromDocs(docs: DataFrame, invalidEvery: Int = 10): DataFrame = {
      val d = col("doc_id")
      val w = lit(7L) + d % 11
      val h = lit(4L) + d % 6
      val hasGct = d % 3 =!= 0
      val bits = d % 8
      val entries = expr("shiftleft(1L, cast(doc_id % 8 + 1 as int))")
      val gctBytes = when(hasGct, entries * 3L).otherwise(0L)
      // packed: GCT flag bit7, color resolution 7 (bits 6-4), no
      // sort, GCT size bits 2-0
      val packed = when(hasGct, lit(240L) + bits).otherwise(lit(112L))
      val bg = when(hasGct, d % 256).otherwise(lit(0L))
      val staged = docs
        .withColumn("__gct_hex", expr(
          "rpad(substring(hex(cast(text as binary)), 1, " +
            s"cast((CASE WHEN doc_id % 3 <> 0 THEN shiftleft(1L, cast(doc_id % 8 + 1 as int)) * 3 ELSE 0 END) * 2 as int)), " +
            s"cast((CASE WHEN doc_id % 3 <> 0 THEN shiftleft(1L, cast(doc_id % 8 + 1 as int)) * 3 ELSE 0 END) * 2 as int), '0')"))
      val ver = when(d % 2 === 0, asciiHex("GIF89a")).otherwise(asciiHex("GIF87a"))
      val gifHex = concat(ver,
        Bmp.leHex(w, 2), Bmp.leHex(h, 2),
        Bmp.leHex(packed, 1), Bmp.leHex(bg, 1), Bmp.leHex(lit(0L), 1),
        col("__gct_hex"), lit("3B"))
      staged.select(d,
        when(d % invalidEvery === 0, col("text").cast("binary"))
          .otherwise(unhex(gifHex)).as("payload"),
        when(d % invalidEvery === 0, lit("text/plain"))
          .otherwise(lit("image/gif")).as("media_type"))
        .drop("__gct_hex")
    }
  }

  /** WebP container triage — the ninth family (r14), a top-3 image
    * format on the modern web that a crawl-curation pass cannot lump
    * into the null lane. WebP is RIFF framing (the WAV container)
    * with form type `WEBP` and ONE of three first-chunk codecs, each
    * with its own dimension encoding: `VP8 ` (lossy — 3-byte frame
    * tag, 9D 01 2A start code, 14-bit u16le dims with 2-bit scale
    * fields), `VP8L` (lossless — 0x2F signature then a packed u32le:
    * 14-bit w-1 / 14-bit h-1 / alpha bit / 3 version bits), `VP8X`
    * (extended — feature flags byte + u24le canvas w-1/h-1). All
    * fixed-offset reads off the RIFF walk, so the parse is a pure
    * declarative projection in the [[Wav]] idiom — no kernel, no
    * shuffle, codegen end to end.
    */
  object Webp {
    import Wav.leUint

    private[multimodal] def isWebp(p: Column): Column =
      length(p) >= 12 &&
        substring(p, 1, 4) === lit("RIFF".getBytes("US-ASCII")) &&
        substring(p, 9, 4) === lit("WEBP".getBytes("US-ASCII"))

    /** Parse triage fields. Adds `webp_valid`, `format`
      * ('VP8'/'VP8L'/'VP8X'), `width`/`height` (VP8X: canvas),
      * `has_alpha`, `has_animation`, `x_scale`/`y_scale` (VP8's
      * 2-bit upscale fields, null for other codecs), `n_pixels`,
      * `riff_size`/`chunk_bytes` (declared sizes), and
      * `header_consistent` (single-chunk layout: the RIFF size spans
      * exactly WEBP + chunk header + padded chunk, and matches the
      * physical length — the minimal-stream layout the synth writes;
      * real multi-chunk files stay valid but inconsistent, same as
      * the other families' strict lanes). Pure projection.
      */
    def parse(media: DataFrame, payloadCol: String = "payload"): DataFrame =
      withParsed(media, columns(col(payloadCol)))

    private[multimodal] def columns(p: Column): Seq[(String, Column)] = {
      val fourcc = substring(p, 13, 4)
      val riffSize = leUint(p, 5, 4)
      val chunk = leUint(p, 17, 4)
      val isVp8 = fourcc === lit("VP8 ".getBytes("US-ASCII"))
      val isVp8l = fourcc === lit("VP8L".getBytes("US-ASCII"))
      val isVp8x = fourcc === lit("VP8X".getBytes("US-ASCII"))
      // VP8 (RFC 6386 §9.1): start code after the 3-byte frame tag,
      // then 14-bit dims with 2-bit horizontal/vertical scale
      val vp8Start = substring(p, 24, 3) ===
        lit(Array[Byte](0x9D.toByte, 0x01.toByte, 0x2A.toByte))
      val wCode = leUint(p, 27, 2)
      val hCode = leUint(p, 29, 2)
      val vp8W = pmod(wCode, lit(16384L))
      val vp8H = pmod(hCode, lit(16384L))
      val vp8Ok = length(p) >= 30 && chunk >= 10 && vp8Start &&
        vp8W > 0 && vp8H > 0
      // VP8L: signature byte then the packed u32le dimension word
      val lBits = leUint(p, 22, 4)
      val vp8lW = pmod(lBits, lit(16384L)) + 1
      val vp8lH = pmod(div(lBits, lit(16384)), lit(16384L)) + 1
      val vp8lAlpha = div(lBits, lit(268435456)) % 2 === 1
      val vp8lVersion = div(lBits, lit(536870912))
      val vp8lOk = length(p) >= 26 && chunk >= 5 &&
        substring(p, 21, 1) === lit(Array[Byte](0x2F.toByte)) &&
        vp8lVersion === 0
      // VP8X: feature flags byte + 3 reserved + u24le canvas dims
      val xFlags = leUint(p, 21, 1)
      val xAlpha = div(xFlags, lit(16)) % 2 === 1
      val xAnim = div(xFlags, lit(2)) % 2 === 1
      val xW = leUint(p, 25, 3) + 1
      val xH = leUint(p, 28, 3) + 1
      val vp8xOk = length(p) >= 30 && chunk === 10
      val valid = isWebp(p) && length(p) >= 20 &&
        ((isVp8 && vp8Ok) || (isVp8l && vp8lOk) || (isVp8x && vp8xOk))
      val width = when(isVp8, vp8W).when(isVp8l, vp8lW).otherwise(xW)
      val height = when(isVp8, vp8H).when(isVp8l, vp8lH).otherwise(xH)
      val consistent =
        riffSize === length(p).cast("long") - 8 &&
          riffSize === lit(12L) + chunk + pmod(chunk, lit(2L))
      Seq(
        "webp_valid" -> valid,
        "format" -> when(valid && isVp8, "VP8").when(valid && isVp8l, "VP8L")
          .when(valid && isVp8x, "VP8X"),
        "width" -> when(valid, width),
        "height" -> when(valid, height),
        "has_alpha" -> when(valid, when(isVp8l, vp8lAlpha).when(isVp8x, xAlpha)
          .otherwise(lit(false))),
        "has_animation" -> when(valid, isVp8x && xAnim),
        "x_scale" -> when(valid && isVp8, ((wCode - vp8W) / 16384).cast("long")),
        "y_scale" -> when(valid && isVp8, ((hCode - vp8H) / 16384).cast("long")),
        "n_pixels" -> when(valid, width * height),
        "riff_size" -> when(valid, riffSize),
        "chunk_bytes" -> when(valid, chunk),
        "header_consistent" -> when(valid, consistent))
    }

    /** Deterministic WebP streams over the docs table, one of the
      * three codec lanes per doc (`doc_id % 3`): VP8 with nonzero
      * scale bits, VP8L with dims crossing the 14-bit field's byte
      * boundary plus the alpha bit, VP8X with u24le canvas dims and
      * alpha/animation flags; the VP8L chunk is 5 bytes — ODD — so
      * the RIFF pad-byte lane is exercised too. Every
      * `invalidEvery`-th doc raw text.
      */
    def synthFromDocs(docs: DataFrame, invalidEvery: Int = 10): DataFrame = {
      import Bmp.leHex
      val d = col("doc_id")
      def ascii(s: String): Column =
        lit(s.getBytes("US-ASCII").map("%02X".format(_)).mkString)
      // VP8 lane
      val w8 = lit(3L) + d % 9
      val h8 = lit(2L) + d % 7
      val xs = d % 4
      val ys = expr("(doc_id % 16) div 4")
      val vp8Payload = concat(
        leHex(pmod(d, lit(128L)) * 2, 1), lit("0000"), lit("9D012A"),
        leHex(w8 + xs * 16384L, 2), leHex(h8 + ys * 16384L, 2))
      val vp8Hex = concat(ascii("RIFF"), leHex(lit(22L), 4), ascii("WEBP"),
        ascii("VP8 "), leHex(lit(10L), 4), vp8Payload)
      // VP8L lane (5-byte chunk → one pad byte)
      val wl = lit(2L) + d % 300
      val hl = lit(1L) + d % 200
      val alphaL = d % 2
      val lBits = (wl - 1) + (hl - 1) * 16384L + alphaL * 268435456L
      val vp8lHex = concat(ascii("RIFF"), leHex(lit(18L), 4), ascii("WEBP"),
        ascii("VP8L"), leHex(lit(5L), 4), lit("2F"), leHex(lBits, 4),
        lit("00"))
      // VP8X lane
      val cw = lit(7L) + d % 70000
      val ch = lit(5L) + d % 33000
      val flags = when(d % 2 === 1, lit(16L)).otherwise(lit(0L)) +
        when(d % 5 < 2, lit(2L)).otherwise(lit(0L))
      val vp8xHex = concat(ascii("RIFF"), leHex(lit(22L), 4), ascii("WEBP"),
        ascii("VP8X"), leHex(lit(10L), 4), leHex(flags, 1), lit("000000"),
        leHex(cw - 1, 3), leHex(ch - 1, 3))
      val webpHex = when(d % 3 === 0, vp8Hex)
        .when(d % 3 === 1, vp8lHex).otherwise(vp8xHex)
      docs.select(d,
        when(d % invalidEvery === 0, col("text").cast("binary"))
          .otherwise(unhex(webpHex)).as("payload"),
        when(d % invalidEvery === 0, lit("text/plain"))
          .otherwise(lit("image/webp")).as("media_type"))
    }

    /** Channel statistics via a REAL VP8L decode (r15) — the WebP
      * sibling of `Gif.pixelStats` (LZW there, canonical prefix codes
      * + LZ77 + color cache + the four transforms here): one codegen
      * kernel pass ([[graft.expressions.Vp8lKernel]]) walks the RIFF
      * chunks to the VP8L payload and fully decodes it. Adds
      * `pixels_decoded`, `mean_r/g/b`, `peak_byte` (null when the
      * payload is not a decodable lossless WebP — VP8 lossy stays
      * triage-only by design). Pure projection — zero shuffles.
      */
    def pixelStats(media: DataFrame, payloadCol: String = "payload"): DataFrame = {
      val st = org.apache.spark.sql.GraftColumnBridge.column(
        graft.expressions.WebpPixelStats(
          org.apache.spark.sql.GraftColumnBridge.expression(col(payloadCol))))
      parse(media, payloadCol)
        .withColumn("__st", when(col("webp_valid"), st))
        .withColumn("pixels_decoded",
          when(col("__st").isNotNull && element_at(col("__st"), 1) > 0,
            element_at(col("__st"), 1)))
        .withColumn("mean_r",
          element_at(col("__st"), 2).cast("double") / col("pixels_decoded"))
        .withColumn("mean_g",
          element_at(col("__st"), 3).cast("double") / col("pixels_decoded"))
        .withColumn("mean_b",
          element_at(col("__st"), 4).cast("double") / col("pixels_decoded"))
        .withColumn("peak_byte",
          when(col("pixels_decoded").isNotNull, element_at(col("__st"), 5)))
        .drop("__st")
    }

    /** Deterministic FULL VP8L streams over the docs table: pixels
      * are the closed form below (so the oracle recomputes channel
      * sums from doc_id arithmetic while Spark decodes real
      * bitstreams), and the encoder lane rotates with `doc_id % 4` so
      * the gate exercises every coding path — lane 0: simple
      * (2-symbol) prefix codes; lane 1: code-length-coded canonical
      * codes (16/17/18 runs, max-symbol stop); lane 2: + LZ77
      * backward references (periodic pixels make them fire, incl. the
      * 2D distance-map codes for dist 1 and dist w); lane 3: + a
      * color cache and a varying alpha channel. Odd docs additionally
      * announce the subtract-green transform. Every `invalidEvery`-th
      * doc is raw text (the invalid lane).
      */
    def synthPixelsFromDocs(docs: DataFrame, invalidEvery: Int = 10): DataFrame = {
      import org.apache.spark.sql.GraftColumnBridge.{column => gcol, expression => gexpr}
      val d = col("doc_id")
      val w = lit(4L) + d % 21
      val h = lit(3L) + d % 13
      val n = w * h
      val per = lit(1L) + d % 11
      val lane = d % 4
      val px = transform(sequence(lit(0L), n - 1), i => {
        val j = pmod(i, per)
        def two(mul: Long, add: Long, div: Long): Column = {
          val sel = if (div == 1) pmod(i, lit(2L))
            else pmod(floor(i / div).cast("long"), lit(2L))
          pmod(lit(mul) * d + lit(add) * sel, lit(256L))
        }
        val r = when(lane === 0, two(11, 71, 1))
          .otherwise(pmod(lit(11L) * d + lit(17L) * j, lit(256L)))
        val g = when(lane === 0, two(7, 53, 2))
          .otherwise(pmod(lit(7L) * d + lit(13L) * j, lit(256L)))
        val b = when(lane === 0, two(13, 31, 4))
          .otherwise(pmod(lit(13L) * d + lit(19L) * j, lit(256L)))
        val a = when(lane === 3, pmod(lit(5L) * d + lit(3L) * j, lit(256L)))
          .otherwise(lit(255L))
        shiftleft(a.cast("int"), 24)
          .bitwiseOR(shiftleft(r.cast("int"), 16))
          .bitwiseOR(shiftleft(g.cast("int"), 8))
          .bitwiseOR(b.cast("int"))
      })
      val cacheBits = when(lane === 3, lit(1L) + d % 10).otherwise(lit(0L))
      val config = (lane + cacheBits * 16L + pmod(d, lit(2L)) * 256L).cast("int")
      val payload = gcol(graft.expressions.Vp8lEncode(
        gexpr(px), gexpr(w.cast("int")), gexpr(config)))
      docs.select(d,
        when(d % invalidEvery === 0, col("text").cast("binary"))
          .otherwise(payload).as("payload"),
        when(d % invalidEvery === 0, lit("text/plain"))
          .otherwise(lit("image/webp")).as("media_type"))
    }
  }

  /** TIFF container triage — the TENTH family (r15): scanned-document
    * corpora are TIFF-heavy and previously routed to the null lane.
    * The IFD machinery is the one the EXIF walker already speaks
    * (EXIF is an embedded TIFF), re-plumbed over bare payloads via
    * [[graft.expressions.TiffMetaKernel]] — both byte orders,
    * multi-page IFD chains, strip/tile layouts, inline and
    * out-of-line values. One codegen kernel pass, pure projection.
    */
  object Tiff {
    import org.apache.spark.sql.GraftColumnBridge.{column => gcol, expression => gexpr}

    private[multimodal] def isTiff(p: Column): Column =
      length(p) >= 8 &&
        (substring(p, 1, 4) === lit(Array[Byte]('I', 'I', 42, 0)) ||
          substring(p, 1, 4) === lit(Array[Byte]('M', 'M', 0, 42)))

    /** Parse triage fields: validity, byte order, page count
      * (chained IFDs), IFD0 entry count, dimensions, bits/sample,
      * samples/pixel, compression tag, photometric, data layout
      * (strip | tile | none) with unit count and geometry, `n_pixels`,
      * and a bounds-consistency verdict over every referenced offset.
      */
    def parse(media: DataFrame, payloadCol: String = "payload"): DataFrame =
      withParsed(media, columns(col(payloadCol)))

    private[multimodal] def columns(p: Column): Seq[(String, Column)] = {
      val m = gcol(graft.expressions.TiffMeta(gexpr(p)))
      val valid = coalesce(m("tiff_valid"), lit(false))
      Seq("tiff_valid" -> valid) ++ fields(m, "byte_order", "n_ifds", "n_ifd0_entries",
        "width", "height", "bits_per_sample", "samples_per_pixel", "compression",
        "photometric", "layout", "n_units", "rows_per_strip", "tile_w", "tile_h") ++ Seq(
        "n_pixels" -> when(valid, m("width") * m("height")),
        "header_consistent" -> m("header_consistent"))
    }

    /** Deterministic TIFF payloads over the docs table (see
      * [[graft.expressions.TiffSynthKernel]]: byte order, strip/tile
      * layout, out-of-line arrays, and a second chained IFD all
      * rotate with doc_id); every `invalidEvery`-th doc raw text.
      */
    def synthFromDocs(docs: DataFrame, invalidEvery: Int = 10): DataFrame = {
      val d = col("doc_id")
      val payload = gcol(graft.expressions.TiffSynth(gexpr(d)))
      docs.select(d,
        when(d % invalidEvery === 0, col("text").cast("binary"))
          .otherwise(payload).as("payload"),
        when(d % invalidEvery === 0, lit("text/plain"))
          .otherwise(lit("image/tiff")).as("media_type"))
    }

    /** Channel statistics via a REAL strip/tile decode — the TIFF
      * sibling of `Gif.pixelStats`/`Webp.pixelStats` (LZW with
      * MSB-first early-change codes, PackBits, Deflate, and the
      * horizontal-differencing predictor here): one codegen kernel
      * pass ([[graft.expressions.TiffPixelKernel]]). Adds
      * `tiff_decodable` plus `pixels_decoded`, `mean_r/g/b`,
      * `peak_byte` (null outside the baseline 8-bit gray/RGB chunky
      * profile — the meta row still triages those payloads). Pure
      * projection — zero shuffles.
      */
    def pixelStats(media: DataFrame, payloadCol: String = "payload"): DataFrame = {
      val st = gcol(graft.expressions.TiffPixelStats(
        gexpr(col(payloadCol))))
      media
        .withColumn("tiff_valid", isTiff(col(payloadCol)))
        .withColumn("__st", when(col("tiff_valid"), st))
        .withColumn("pixels_decoded",
          when(col("__st").isNotNull && element_at(col("__st"), 1) > 0,
            element_at(col("__st"), 1)))
        .withColumn("mean_r",
          element_at(col("__st"), 2).cast("double") / col("pixels_decoded"))
        .withColumn("mean_g",
          element_at(col("__st"), 3).cast("double") / col("pixels_decoded"))
        .withColumn("mean_b",
          element_at(col("__st"), 4).cast("double") / col("pixels_decoded"))
        .withColumn("peak_byte",
          when(col("pixels_decoded").isNotNull, element_at(col("__st"), 5)))
        .drop("__st")
    }

    /** Deterministic baseline-TIFF payloads with REAL pixel data (see
      * [[graft.expressions.TiffPixelSynthKernel]]: raster byte j is
      * `(7·doc_id + 13·j) mod 256`, lanes rotate byte order,
      * compression none/LZW/PackBits/Deflate, gray vs RGB, strip
      * count, multi-tile 16×16 tiling, and the horizontal
      * predictor); every
      * `invalidEvery`-th doc raw text.
      */
    def synthPixelsFromDocs(docs: DataFrame, invalidEvery: Int = 10): DataFrame = {
      val d = col("doc_id")
      val payload = gcol(graft.expressions.TiffPixelSynth(gexpr(d)))
      docs.select(d,
        when(d % invalidEvery === 0, col("text").cast("binary"))
          .otherwise(payload).as("payload"),
        when(d % invalidEvery === 0, lit("text/plain"))
          .otherwise(lit("image/tiff")).as("media_type"))
    }
  }

  /** MP3 (MPEG audio) container triage — the ELEVENTH family (r15):
    * crawled audio corpora are MP3-first. The format is a bare frame
    * stream, so triage IS a frame walk
    * ([[graft.expressions.Mp3MetaKernel]]): ID3v2 prefix, per-frame
    * headers with the version×layer length arithmetic, exact integer
    * duration, Xing/Info VBR tag, ID3v1 trailer. One codegen kernel
    * pass, pure projection.
    */
  object Mp3 {
    import org.apache.spark.sql.GraftColumnBridge.{column => gcol, expression => gexpr}

    /** Column-level detection mirror of `Mp3MetaKernel.isMp3`: ID3v2
      * with a sane (non-printable) version byte, or a bare frame
      * sync with non-reserved version/layer bits.
      */
    private[multimodal] def isMp3(p: Column): Column = {
      val b1 = Wav.leUint(p, 2, 1)
      val id3 = length(p) >= 10 &&
        substring(p, 1, 3) === lit("ID3".getBytes("US-ASCII")) &&
        Wav.leUint(p, 4, 1).between(2, 4)
      val sync = length(p) >= 4 && Wav.leUint(p, 1, 1) === 255 &&
        pmod(floor(b1 / 32), lit(8)) === 7 &&
        pmod(floor(b1 / 8), lit(4)) =!= 1 &&
        pmod(floor(b1 / 2), lit(4)) =!= 0
      id3 || sync
    }

    /** Parse triage fields: validity, ID3v2 presence/size, MPEG
      * version and layer, first-frame bitrate/sample-rate/channel
      * mode, frame count, exact duration_ms, ID3v1 trailer, Xing/Info
      * VBR flag, and the wall-to-wall `consistent` verdict. Pure
      * projection.
      */
    def parse(media: DataFrame, payloadCol: String = "payload"): DataFrame =
      withParsed(media, columns(col(payloadCol)))

    private[multimodal] def columns(p: Column): Seq[(String, Column)] = {
      val m = gcol(graft.expressions.Mp3Meta(gexpr(p)))
      flag(m, "mp3_valid") +: fields(m, "has_id3v2", "id3v2_bytes", "mpeg_version",
        "layer", "bitrate_kbps", "sample_rate", "channel_mode", "n_frames", "duration_ms",
        "has_id3v1", "is_vbr") :+ ("header_consistent" -> m("consistent"))
    }

    /** Deterministic MP3 payloads over the docs table (see
      * [[graft.expressions.Mp3SynthKernel]]: MPEG1/MPEG2 Layer III
      * CBR frames with rotating bitrate/sample-rate/padding/mode and
      * ID3v2/ID3v1 lanes); every `invalidEvery`-th doc raw text.
      */
    def synthFromDocs(docs: DataFrame, invalidEvery: Int = 10): DataFrame = {
      val d = col("doc_id")
      val payload = gcol(graft.expressions.Mp3Synth(gexpr(d)))
      docs.select(d,
        when(d % invalidEvery === 0, col("text").cast("binary"))
          .otherwise(payload).as("payload"),
        when(d % invalidEvery === 0, lit("text/plain"))
          .otherwise(lit("audio/mpeg")).as("media_type"))
    }
  }

  /** FLAC container triage — the TWELFTH family (r15): the lossless
    * sibling of MP3 in any audio corpus. Metadata-block chain with
    * STREAMINFO's packed-bit fields
    * ([[graft.expressions.FlacMetaKernel]]). One codegen kernel pass,
    * pure projection.
    */
  object Flac {
    import org.apache.spark.sql.GraftColumnBridge.{column => gcol, expression => gexpr}

    /** Column-level detection mirror of `FlacMetaKernel.isFlac`: the
      * magic plus a STREAMINFO first block (its header byte is 0x00
      * or 0x80 — never printable, so text cannot route here).
      */
    private[multimodal] def isFlac(p: Column): Column =
      length(p) >= 8 &&
        substring(p, 1, 4) === lit("fLaC".getBytes("US-ASCII")) &&
        pmod(Wav.leUint(p, 5, 1), lit(128)) === 0

    /** Parse triage fields: validity, STREAMINFO's sample rate /
      * channels / bits-per-sample / total samples (exact integer
      * duration_ms), block count, VORBIS_COMMENT presence, block-size
      * bounds, and the chain-in-bounds `consistent` verdict. Pure
      * projection.
      */
    def parse(media: DataFrame, payloadCol: String = "payload"): DataFrame =
      withParsed(media, columns(col(payloadCol)))

    private[multimodal] def columns(p: Column): Seq[(String, Column)] = {
      val m = gcol(graft.expressions.FlacMeta(gexpr(p)))
      flag(m, "flac_valid") +: fields(m, "sample_rate", "channels", "bits_per_sample",
        "total_samples", "duration_ms", "n_blocks", "has_vorbis_comment",
        "min_block_size", "max_block_size") :+ ("header_consistent" -> m("consistent"))
    }

    /** Deterministic FLAC payloads over the docs table (see
      * [[graft.expressions.FlacSynthKernel]]: STREAMINFO packed bits
      * with rotating rate/channels/bps/total, VORBIS_COMMENT and
      * PADDING block lanes); every `invalidEvery`-th doc raw text.
      */
    def synthFromDocs(docs: DataFrame, invalidEvery: Int = 10): DataFrame = {
      val d = col("doc_id")
      val payload = gcol(graft.expressions.FlacSynth(gexpr(d)))
      docs.select(d,
        when(d % invalidEvery === 0, col("text").cast("binary"))
          .otherwise(payload).as("payload"),
        when(d % invalidEvery === 0, lit("text/plain"))
          .otherwise(lit("audio/flac")).as("media_type"))
    }

    /** Sample-level FLAC decode — the decode tier behind the triage
      * row ([[graft.expressions.FlacAudioKernel]]): rice-coded
      * fixed/LPC prediction, stereo decorrelation, wasted bits, both
      * frame CRCs verified, integer sample stats (sum / sum-of-
      * squares / peak) and the decoded-vs-STREAMINFO verdict. Pure
      * projection — ONE codegen kernel pass, no shuffle.
      */
    def sampleStats(media: DataFrame, payloadCol: String = "payload"): DataFrame = {
      val m = gcol(graft.expressions.FlacAudioStats(gexpr(col(payloadCol))))
      withParsed(media, Seq(flag(m, "flac_valid"), flag(m, "decode_ok")) ++
        fields(m, "channels", "bits_per_sample", "n_frames", "n_samples", "sample_sum",
          "sample_sum_sq", "peak_abs", "crc_ok", "matches_streaminfo"))
    }

    /** Deterministic FLAC AUDIO payloads — real encoded frames whose
      * decoded samples are closed-form (see
      * [[graft.expressions.FlacAudioSynthKernel]]: constant + rotating
      * verbatim / fixed-rice / fixed-rice2-partitioned / LPC lanes,
      * rotating stereo decorrelation, a flipped-CRC lane); every
      * `invalidEvery`-th doc raw text.
      */
    def synthAudioFromDocs(docs: DataFrame, invalidEvery: Int = 10): DataFrame = {
      val d = col("doc_id")
      val payload = gcol(graft.expressions.FlacAudioSynth(gexpr(d)))
      docs.select(d,
        when(d % invalidEvery === 0, col("text").cast("binary"))
          .otherwise(payload).as("payload"),
        when(d % invalidEvery === 0, lit("text/plain"))
          .otherwise(lit("audio/flac")).as("media_type"))
    }

    /** FLAC re-encode of the SAME planted 65-window sample stream
      * [[Wav.synthWindowedFromDocs]] carries — the cross-codec member
      * for the perceptual audio-dedup gate (identical decoded
      * samples, entirely different bytes).
      */
    def synthWindowedFromDocs(docs: DataFrame, key: Column,
        invalidEvery: Int = 10): DataFrame = {
      val d = col("doc_id")
      val payload = gcol(graft.expressions.FlacWindowedSynth(gexpr(key)))
      docs.select(d,
        when(d % invalidEvery === 0, col("text").cast("binary"))
          .otherwise(payload).as("payload"),
        when(d % invalidEvery === 0, lit("text/plain"))
          .otherwise(lit("audio/flac")).as("media_type"))
    }
  }

  /** OGG container triage — the THIRTEENTH family (r15): the
    * free-codec audio container (Vorbis / Opus / FLAC-in-Ogg /
    * Theora). Page walk with REAL per-page CRC-32 verification and
    * codec-ID-header parse ([[graft.expressions.OggMetaKernel]]).
    * One codegen kernel pass, pure projection.
    */
  object Ogg {
    import org.apache.spark.sql.GraftColumnBridge.{column => gcol, expression => gexpr}

    /** Column-level detection mirror of `OggMetaKernel.isOgg`: the
      * capture pattern plus stream-structure version 0 (a NUL —
      * never printable, so text cannot route here).
      */
    private[multimodal] def isOgg(p: Column): Column =
      length(p) >= 5 &&
        substring(p, 1, 5) === lit(Array[Byte]('O', 'g', 'g', 'S', 0))

    /** Parse triage fields: validity, the first packet's codec
      * (vorbis / opus / flac / theora / unknown), rate / channels /
      * Opus pre-skip, page and completed-packet counts from the
      * lacing tables, the final granule position and its exact
      * integer duration, the page-CRC integrity verdict, and the
      * single-stream structural `consistent` verdict. Pure
      * projection.
      */
    def parse(media: DataFrame, payloadCol: String = "payload"): DataFrame =
      withParsed(media, columns(col(payloadCol)))

    private[multimodal] def columns(p: Column): Seq[(String, Column)] = {
      val m = gcol(graft.expressions.OggMeta(gexpr(p)))
      flag(m, "ogg_valid") +: fields(m, "codec", "sample_rate", "channels", "pre_skip",
        "n_pages", "n_packets", "last_granule", "duration_ms", "crc_ok") :+
        ("header_consistent" -> m("consistent"))
    }

    /** Deterministic OGG payloads over the docs table (see
      * [[graft.expressions.OggSynthKernel]]: real CRC'd pages,
      * rotating Vorbis/Opus/Ogg-FLAC ID headers, page counts,
      * granule steps, 255-lacing and multi-lacing packet lanes, a
      * flipped-CRC lane); every `invalidEvery`-th doc raw text.
      */
    def synthFromDocs(docs: DataFrame, invalidEvery: Int = 10): DataFrame = {
      val d = col("doc_id")
      val payload = gcol(graft.expressions.OggSynth(gexpr(d)))
      docs.select(d,
        when(d % invalidEvery === 0, col("text").cast("binary"))
          .otherwise(payload).as("payload"),
        when(d % invalidEvery === 0, lit("text/plain"))
          .otherwise(lit("audio/ogg")).as("media_type"))
    }

    /** Sample-level Ogg-FLAC decode — the decode tier behind the
      * triage row for the one Ogg codec the engine can decode
      * bit-exactly ([[graft.expressions.OggFlacKernel]]): page walk
      * with per-page CRC verification, cross-page packet reassembly,
      * mapping-header strip, then the full rice/LPC FLAC frame
      * decode. Pure projection — ONE codegen kernel pass, no shuffle.
      */
    def sampleStats(media: DataFrame, payloadCol: String = "payload"): DataFrame = {
      val m = gcol(graft.expressions.OggFlacStats(gexpr(col(payloadCol))))
      withParsed(media, Seq(flag(m, "oggflac_valid")) ++ fields(m, "n_pages", "pages_crc_ok") ++
        Seq(flag(m, "decode_ok")) ++ fields(m, "channels", "bits_per_sample", "n_frames",
          "n_samples", "sample_sum", "sample_sum_sq", "peak_abs", "frame_crc_ok",
          "matches_streaminfo"))
    }

    /** Deterministic Ogg-FLAC AUDIO payloads — real CRC'd pages
      * wrapping real FLAC frames whose decoded samples stay
      * closed-form (see [[graft.expressions.OggFlacSynthKernel]]:
      * the FLAC audio synth's coding lanes plus frames-per-page
      * rotation, a split-comment cross-page lane, and a flipped
      * page-CRC lane); every `invalidEvery`-th doc raw text.
      */
    def synthAudioFromDocs(docs: DataFrame, invalidEvery: Int = 10): DataFrame = {
      val d = col("doc_id")
      val payload = gcol(graft.expressions.OggFlacSynth(gexpr(d)))
      docs.select(d,
        when(d % invalidEvery === 0, col("text").cast("binary"))
          .otherwise(payload).as("payload"),
        when(d % invalidEvery === 0, lit("text/plain"))
          .otherwise(lit("audio/ogg")).as("media_type"))
    }

    /** Ogg-FLAC re-mux of the SAME planted 65-window sample stream
      * [[Wav.synthWindowedFromDocs]] carries — the third-codec member
      * for the perceptual audio-dedup gate (identical decoded
      * samples, a container AND a codec away from the WAV original).
      */
    def synthWindowedFromDocs(docs: DataFrame, key: Column,
        invalidEvery: Int = 10): DataFrame = {
      val d = col("doc_id")
      val payload = gcol(graft.expressions.OggFlacWindowedSynth(gexpr(key)))
      docs.select(d,
        when(d % invalidEvery === 0, col("text").cast("binary"))
          .otherwise(payload).as("payload"),
        when(d % invalidEvery === 0, lit("text/plain"))
          .otherwise(lit("audio/ogg")).as("media_type"))
    }
  }

  /** Matroska / WebM container triage — the FOURTEENTH family (r15):
    * the dominant open web-video container. EBML varint walk —
    * DocType, Segment Info (timecode scale, float duration), Tracks
    * (codec IDs, video dims, audio rate/channels), cluster counting
    * ([[graft.expressions.MkvMetaKernel]]). One codegen kernel pass,
    * pure projection.
    */
  object Mkv {
    import org.apache.spark.sql.GraftColumnBridge.{column => gcol, expression => gexpr}

    /** Column-level detection mirror of `MkvMetaKernel.isMkv`: the
      * 4-byte EBML magic (0x1A is a control byte — never printable,
      * so text cannot route here).
      */
    private[multimodal] def isMkv(p: Column): Column =
      length(p) >= 4 && substring(p, 1, 4) ===
        lit(Array[Byte](0x1A, 0x45, 0xDF.toByte, 0xA3.toByte))

    /** Parse triage fields: validity, doctype (webm vs matroska),
      * doctype version, timecode scale, exact rounded duration_ms,
      * track count, first video track's codec/dims, first audio
      * track's codec/channels/rate, cluster count, and the
      * every-element-in-bounds `consistent` verdict. Pure projection.
      */
    def parse(media: DataFrame, payloadCol: String = "payload"): DataFrame =
      withParsed(media, columns(col(payloadCol)))

    private[multimodal] def columns(p: Column): Seq[(String, Column)] = {
      val m = gcol(graft.expressions.MkvMeta(gexpr(p)))
      flag(m, "mkv_valid") +: fields(m, "doctype", "doctype_version", "timecode_scale",
        "duration_ms", "n_tracks", "video_codec", "pixel_width", "pixel_height",
        "audio_codec", "audio_channels", "audio_sample_rate", "n_clusters") :+
        ("header_consistent" -> m("consistent"))
    }

    /** Deterministic Matroska/WebM payloads over the docs table (see
      * [[graft.expressions.MkvSynthKernel]]: rotating doctype,
      * VP8/VP9/AV1 dims, an Opus/Vorbis audio-track lane, float32 vs
      * float64 duration widths, cluster counts, skip-path elements);
      * every `invalidEvery`-th doc raw text.
      */
    def synthFromDocs(docs: DataFrame, invalidEvery: Int = 10): DataFrame = {
      val d = col("doc_id")
      val payload = gcol(graft.expressions.MkvSynth(gexpr(d)))
      docs.select(d,
        when(d % invalidEvery === 0, col("text").cast("binary"))
          .otherwise(payload).as("payload"),
        when(d % invalidEvery === 0, lit("text/plain"))
          .otherwise(lit("video/webm")).as("media_type"))
    }
  }

  /** Avro Object Container File triage — the FIFTEENTH family (r15):
    * the data-lake/event-log container. Varint walk of the metadata
    * map + sync-framed data blocks
    * ([[graft.expressions.AvroMetaKernel]]); the flat-record decode
    * tier ([[graft.expressions.AvroRecordsKernel]]) decodes every
    * record of a primitives-only schema. One codegen kernel pass
    * each, pure projections.
    */
  object Avro {
    import org.apache.spark.sql.GraftColumnBridge.{column => gcol, expression => gexpr}

    /** Column-level detection mirror of `AvroMetaKernel.isAvro`: the
      * magic ends in 0x01 — a control byte, never printable, so text
      * cannot route here.
      */
    private[multimodal] def isAvro(p: Column): Column =
      length(p) >= 4 &&
        substring(p, 1, 4) === lit(Array[Byte]('O', 'b', 'j', 1))

    /** Parse triage fields: validity, codec, the schema JSON's
      * top-level type/name/byte-length, metadata entry count, block
      * and record counts, payload byte total, the sync-marker
      * integrity verdict, and the wall-to-wall `consistent` verdict.
      * Pure projection.
      */
    def parse(media: DataFrame, payloadCol: String = "payload"): DataFrame =
      withParsed(media, columns(col(payloadCol)))

    private[multimodal] def columns(p: Column): Seq[(String, Column)] = {
      val m = gcol(graft.expressions.AvroMeta(gexpr(p)))
      flag(m, "avro_valid") +: fields(m, "codec", "schema_type", "schema_name",
        "schema_bytes", "n_meta_entries", "n_blocks", "n_records", "data_bytes",
        "sync_ok") :+ ("header_consistent" -> m("consistent"))
    }

    /** Flat-record decode tier: every record of a primitives-only
      * schema decoded (zigzag longs/ints, length-prefixed
      * strings/bytes, LE doubles/floats, booleans) into record-grain
      * aggregates. Non-flat schemas and non-null codecs refuse
      * (`decode_ok` false) — Spark's own Avro reader is the general
      * path; this is the payload-bytes audit tier. Pure projection.
      */
    def recordStats(media: DataFrame, payloadCol: String = "payload"): DataFrame = {
      val m = gcol(graft.expressions.AvroRecordStats(gexpr(col(payloadCol))))
      withParsed(media, Seq(flag(m, "avro_valid"), flag(m, "decode_ok")) ++
        fields(m, "n_fields", "n_records", "int_sum", "string_bytes", "bool_trues",
          "double_sum"))
    }

    /** Deterministic Avro payloads over the docs table (see
      * [[graft.expressions.AvroSynthKernel]]: real container files —
      * flat-record schema, absent/null/deflate codec lanes with
      * STORED-deflate closed-form lengths, real encoded records, a
      * flipped-sync lane); every `invalidEvery`-th doc raw text.
      */
    def synthFromDocs(docs: DataFrame, invalidEvery: Int = 10): DataFrame = {
      val d = col("doc_id")
      val payload = gcol(graft.expressions.AvroSynth(gexpr(d)))
      docs.select(d,
        when(d % invalidEvery === 0, col("text").cast("binary"))
          .otherwise(payload).as("payload"),
        when(d % invalidEvery === 0, lit("text/plain"))
          .otherwise(lit("application/avro")).as("media_type"))
    }
  }

  /** Parquet FOOTER triage — the SIXTEENTH family (r15): the lake
    * format Spark itself writes, triaged from the payload BYTES via
    * a Thrift-compact footer walk
    * ([[graft.expressions.ParquetMetaKernel]]). One codegen kernel
    * pass, pure projection.
    */
  object Parquet {
    import org.apache.spark.sql.GraftColumnBridge.{column => gcol, expression => gexpr}

    /** Column-level detection mirror of `ParquetMetaKernel.isParquet`:
      * the magic is printable, so detection requires it at BOTH ends
      * — a text document carrying both is implausible, and the
      * footer-length sanity check nulls stragglers.
      */
    private[multimodal] def isParquet(p: Column): Column =
      length(p) >= 12 &&
        substring(p, 1, 4) === lit("PAR1".getBytes("US-ASCII")) &&
        substring(p, -4, 4) === lit("PAR1".getBytes("US-ASCII"))

    /** Parse triage fields: validity, format version, declared row
      * count, row-group count and Σ total_byte_size, schema element
      * and LEAF column counts, the writer id, the Σ-row-group-rows
      * integrity verdict, and the footer byte length. Pure
      * projection.
      */
    def parse(media: DataFrame, payloadCol: String = "payload"): DataFrame =
      withParsed(media, columns(col(payloadCol)))

    private[multimodal] def columns(p: Column): Seq[(String, Column)] = {
      val m = gcol(graft.expressions.ParquetMeta(gexpr(p)))
      flag(m, "parquet_valid") +: fields(m, "version", "num_rows", "n_row_groups",
        "n_columns", "n_schema_elements", "total_byte_size", "created_by", "rows_match",
        "footer_bytes")
    }

    /** Deterministic Parquet payloads over the docs table (see
      * [[graft.expressions.ParquetSynthKernel]]: real thrift-compact
      * footers — version/columns/row-group rotation, a
      * key-value-metadata generic-skip lane, a mis-split rows lane);
      * every `invalidEvery`-th doc raw text.
      */
    def synthFromDocs(docs: DataFrame, invalidEvery: Int = 10): DataFrame = {
      val d = col("doc_id")
      val payload = gcol(graft.expressions.ParquetSynth(gexpr(d)))
      docs.select(d,
        when(d % invalidEvery === 0, col("text").cast("binary"))
          .otherwise(payload).as("payload"),
        when(d % invalidEvery === 0, lit("text/plain"))
          .otherwise(lit("application/parquet")).as("media_type"))
    }

    /** DATA-PAGE decode tier ([[graft.expressions.ParquetPagesKernel]]):
      * page-header chain walk per column chunk, page bodies REALLY
      * decompressed (uncompressed / snappy / gzip / zstd), INT64
      * chunks decoded to a value sum — PLAIN directly, and
      * dictionary-encoded chunks through the dict page + RLE/
      * bit-packed hybrid index streams (r15; Spark's own DEFAULT
      * write path); v2/level-bearing pages honestly refused. Pure
      * projection.
      */
    def pageStats(media: DataFrame, payloadCol: String = "payload"): DataFrame = {
      val m = gcol(graft.expressions.ParquetPages(gexpr(col(payloadCol))))
      withParsed(media, flag(m, "pages_valid") +: fields(m, "n_chunks", "codec", "n_pages",
        "n_data_pages", "n_dict_pages", "page_values", "values_match", "n_decoded_chunks",
        "int64_sum", "uncompressed_bytes", "compressed_bytes"))
    }

    /** Deterministic COMPLETE parquet files over the docs table (see
      * [[graft.expressions.ParquetFileSynthKernel]]: real PLAIN
      * INT64 pages through real codecs behind a real footer); every
      * `invalidEvery`-th doc raw text.
      */
    def synthFilesFromDocs(docs: DataFrame, invalidEvery: Int = 10): DataFrame = {
      val d = col("doc_id")
      val payload = gcol(graft.expressions.ParquetFileSynth(gexpr(d)))
      docs.select(d,
        when(d % invalidEvery === 0, col("text").cast("binary"))
          .otherwise(payload).as("payload"),
        when(d % invalidEvery === 0, lit("text/plain"))
          .otherwise(lit("application/parquet")).as("media_type"))
    }
  }

  /** Gzip container triage — the EIGHTEENTH family (r15): the wire
    * framing `.warc.gz` / `.jsonl.gz` corpora ship in, triaged as a
    * member walk with integrity verdicts
    * ([[graft.expressions.GzipMetaKernel]]). One codegen kernel
    * pass, pure projection.
    */
  object Gz {
    import org.apache.spark.sql.GraftColumnBridge.{column => gcol, expression => gexpr}

    /** Column-level detection mirror of `GzipMetaKernel.isGzip`:
      * 0x1F 0x8B 0x08 — two control bytes + the DEFLATE method id,
      * text cannot route here.
      */
    private[multimodal] def isGzip(p: Column): Column =
      length(p) >= 18 && substring(p, 1, 3) ===
        lit(Array[Byte](0x1F, 0x8B.toByte, 8))

    /** Parse triage fields: validity, member count, uncompressed
      * byte total (every body REALLY inflated), FNAME-carrying
      * member count, the first member's MTIME, per-member CRC32 /
      * ISIZE verdicts, and wall-to-wall `consistent`. Pure
      * projection.
      */
    def parse(media: DataFrame, payloadCol: String = "payload"): DataFrame =
      withParsed(media, columns(col(payloadCol)))

    private[multimodal] def columns(p: Column): Seq[(String, Column)] = {
      val m = gcol(graft.expressions.GzipMeta(gexpr(p)))
      flag(m, "gzip_valid") +: fields(m, "n_members", "uncompressed_bytes", "n_named",
        "first_mtime", "crc_ok", "isize_ok") :+ ("header_consistent" -> m("consistent"))
    }

    /** Deterministic multi-member gzip payloads over the docs table
      * (see [[graft.expressions.GzipMetaSynthKernel]]: real RFC 1952
      * members with STORED deflate bodies — closed-form lengths —
      * FNAME and flipped-CRC lanes); every `invalidEvery`-th doc raw
      * text.
      */
    def synthFromDocs(docs: DataFrame, invalidEvery: Int = 10): DataFrame = {
      val d = col("doc_id")
      val payload = gcol(graft.expressions.GzipMetaSynth(gexpr(d)))
      docs.select(d,
        when(d % invalidEvery === 0, col("text").cast("binary"))
          .otherwise(payload).as("payload"),
        when(d % invalidEvery === 0, lit("text/plain"))
          .otherwise(lit("application/gzip")).as("media_type"))
    }
  }

  /** AVIF/HEIC triage — the TWENTY-FIRST family (r15): HEIF images
    * in ISO BMFF, split off the generic `ftyp` lane by brand
    * ([[graft.expressions.AvifMetaKernel]] — the FullBox `meta`
    * walk). One codegen kernel pass, pure projection.
    */
  object Heif {
    import org.apache.spark.sql.GraftColumnBridge.{column => gcol, expression => gexpr}

    /** Parse triage fields: validity (brand + a walked meta tree
      * with real dimensions), brand, dims, item/alpha/exif fields,
      * pixel count, mdat size. Pure projection.
      */
    def parse(media: DataFrame, payloadCol: String = "payload"): DataFrame =
      withParsed(media, columns(col(payloadCol)))

    private[multimodal] def columns(p: Column): Seq[(String, Column)] = {
      val m = gcol(graft.expressions.AvifMeta(gexpr(p)))
      Seq(
        "heif_valid" -> (m.isNotNull && m("width").isNotNull),
        "brand" -> m("brand"),
        "heif_width" -> m("width"),
        "heif_height" -> m("height")) ++
        fields(m, "n_items", "primary_type", "has_alpha", "has_exif") ++ Seq(
        "n_pixels" -> m("width") * m("height"),
        "mdat_bytes" -> m("mdat_bytes"))
    }

    /** Deterministic HEIF payloads over the docs table (see
      * [[graft.expressions.AvifSynthKernel]]); every
      * `invalidEvery`-th doc raw text.
      */
    def synthFromDocs(docs: DataFrame, invalidEvery: Int = 10): DataFrame = {
      val d = col("doc_id")
      val payload = gcol(graft.expressions.AvifSynth(gexpr(d)))
      docs.select(d,
        when(d % invalidEvery === 0, col("text").cast("binary"))
          .otherwise(payload).as("payload"),
        when(d % invalidEvery === 0, lit("text/plain"))
          .otherwise(when(d % 2 === 0, lit("image/avif"))
            .otherwise(lit("image/heic"))).as("media_type"))
    }
  }

  /** ICO container triage + pixel tier — the TWENTIETH family: the
    * favicon ([[graft.expressions.IcoMetaKernel]]): ICONDIR walk
    * with the 0-means-256 rule, PNG entries through the real zlib
    * inflate + scanline unfilter, headerless doubled-height DIB
    * entries decoded directly. One codegen kernel pass, pure
    * projection.
    */
  object Ico {
    import org.apache.spark.sql.GraftColumnBridge.{column => gcol, expression => gexpr}

    /** Column-level detection mirror of `IcoMetaKernel.isIco`:
      * reserved 0x0000, type 0x0001 little-endian — two NUL bytes
      * valid UTF-8 text never carries.
      */
    private[multimodal] def isIco(p: Column): Column =
      length(p) >= 22 &&
        substring(p, 1, 4) === lit(Array[Byte](0, 0, 1, 0))

    /** Parse triage + pixel fields: validity, icon/PNG/DIB entry
      * counts, max declared dims (0→256), offset-bounds verdict,
      * decoded-entry count + RGB pixel sum, the declared-vs-decoded
      * `dims_match` verdict, and the entry byte total. Pure
      * projection.
      */
    def parse(media: DataFrame, payloadCol: String = "payload"): DataFrame =
      withParsed(media, columns(col(payloadCol)))

    private[multimodal] def columns(p: Column): Seq[(String, Column)] = {
      val m = gcol(graft.expressions.IcoMeta(gexpr(p)))
      flag(m, "ico_valid") +: fields(m, "n_icons", "n_png_entries", "n_dib_entries",
        "max_width", "max_height", "entries_ok", "n_decoded", "pixel_sum", "dims_match",
        "total_image_bytes")
    }

    /** Deterministic ICO payloads over the docs table (see
      * [[graft.expressions.IcoSynthKernel]]: real containers rotating
      * DIB-24 / DIB-32 / real-PNG entries with closed-form pixel
      * sums and byte lengths); every `invalidEvery`-th doc raw text.
      */
    def synthFromDocs(docs: DataFrame, invalidEvery: Int = 10): DataFrame = {
      val d = col("doc_id")
      val payload = gcol(graft.expressions.IcoSynth(gexpr(d)))
      docs.select(d,
        when(d % invalidEvery === 0, col("text").cast("binary"))
          .otherwise(payload).as("payload"),
        when(d % invalidEvery === 0, lit("text/plain"))
          .otherwise(lit("image/x-icon")).as("media_type"))
    }
  }

  /** Zstandard container triage — the NINETEENTH family, the other
    * wire framing of shipped corpora (`.jsonl.zst` shards;
    * [[graft.expressions.ZstdMetaKernel]]): RFC 8878 frame walk with
    * raw/RLE content reconstructed in the walk and checksummed via
    * Spark's own XXH64, compressed frames inflated through zstd-jni.
    * One codegen kernel pass, pure projection.
    */
  object Zstd {
    import org.apache.spark.sql.GraftColumnBridge.{column => gcol, expression => gexpr}

    /** Column-level detection ROUTER (the kernel is the validator):
      * the standard magic `28 B5 2F FD` — 0xFD can appear in no
      * valid UTF-8 text — or a skippable-frame prefix, whose
      * distinctive bytes 2-4 are `2A 4D 18` (the kernel additionally
      * requires the 0x5x low nibble on byte 1).
      */
    private[multimodal] def isZstd(p: Column): Column =
      length(p) >= 8 && (
        substring(p, 1, 4) ===
          lit(Array[Byte](0x28, 0xB5.toByte, 0x2F, 0xFD.toByte)) ||
        substring(p, 2, 3) ===
          lit(Array[Byte](0x2A, 0x4D, 0x18)))

    /** Parse triage fields: validity, frame/skippable/block counts,
      * uncompressed byte total (raw/RLE reconstructed in the walk,
      * compressed frames really inflated), declared-content-size
      * accounting with the `size_match` verdict, first-frame window
      * log / single-segment / dictionary ID, XXH64 `checksum_ok`,
      * `decode_ok`, and wall-to-wall `consistent`. Pure projection.
      */
    def parse(media: DataFrame, payloadCol: String = "payload"): DataFrame =
      withParsed(media, columns(col(payloadCol)))

    private[multimodal] def columns(p: Column): Seq[(String, Column)] = {
      val m = gcol(graft.expressions.ZstdMeta(gexpr(p)))
      flag(m, "zstd_valid") +: fields(m, "n_frames", "n_skippable", "skippable_bytes",
        "n_blocks", "n_rle_blocks", "n_compressed_blocks", "uncompressed_bytes",
        "n_declared", "declared_bytes", "size_match", "single_segment", "window_log",
        "dict_id", "n_checksummed", "checksum_ok", "decode_ok") :+
        ("header_consistent" -> m("consistent"))
    }

    /** Deterministic multi-frame zstd payloads over the docs table
      * (see [[graft.expressions.ZstdMetaSynthKernel]]: real RFC 8878
      * raw/RLE frames — closed-form lengths — rotating FCS widths,
      * single-segment, dictionary-ID, skippable and flipped-checksum
      * lanes); every `invalidEvery`-th doc raw text.
      */
    def synthFromDocs(docs: DataFrame, invalidEvery: Int = 10): DataFrame = {
      val d = col("doc_id")
      val payload = gcol(graft.expressions.ZstdMetaSynth(gexpr(d)))
      docs.select(d,
        when(d % invalidEvery === 0, col("text").cast("binary"))
          .otherwise(payload).as("payload"),
        when(d % invalidEvery === 0, lit("text/plain"))
          .otherwise(lit("application/zstd")).as("media_type"))
    }
  }

  /** ORC footer triage — the SEVENTEENTH family (r15), completing
    * the lake trio: protobuf PostScript/Footer walk with ORC-zlib
    * chunk decompression ([[graft.expressions.OrcMetaKernel]]). One
    * codegen kernel pass, pure projection.
    */
  object Orc {
    import org.apache.spark.sql.GraftColumnBridge.{column => gcol, expression => gexpr}

    /** Column-level detection mirror of `OrcMetaKernel.isOrc`: the
      * head magic plus a minimum tail (PostScript + length byte);
      * the magic is printable, so a text document could route here —
      * the kernel's trailing-magic requirement then flags it invalid
      * (the detected-but-corrupt pattern).
      */
    private[multimodal] def isOrc(p: Column): Column =
      length(p) >= 16 &&
        substring(p, 1, 3) === lit("ORC".getBytes("US-ASCII"))

    /** Parse triage fields: validity, compression kind, whether the
      * footer decoded (NONE/ZLIB do; SNAPPY/LZO/LZ4/ZSTD report
      * PostScript-grain fields only), declared rows, stripe count +
      * Σ per-stripe rows with the `stripe_rows_match` integrity
      * verdict, type/column counts, content length, writer version,
      * footer/metadata byte lengths. Pure projection.
      */
    def parse(media: DataFrame, payloadCol: String = "payload"): DataFrame =
      withParsed(media, columns(col(payloadCol)))

    private[multimodal] def columns(p: Column): Seq[(String, Column)] = {
      val m = gcol(graft.expressions.OrcMeta(gexpr(p)))
      Seq(flag(m, "orc_valid"), "compression" -> m("compression"),
        flag(m, "footer_decoded")) ++ fields(m, "num_rows", "n_stripes", "stripe_rows",
        "n_types", "n_cols", "content_length", "writer_version", "footer_bytes",
        "metadata_bytes", "stripe_rows_match")
    }

    /** Deterministic ORC payloads over the docs table (see
      * [[graft.expressions.OrcSynthKernel]]: real protobuf footers,
      * NONE vs real-ZLIB-chunk compression lanes, a mis-declared
      * rows lane); every `invalidEvery`-th doc raw text.
      */
    def synthFromDocs(docs: DataFrame, invalidEvery: Int = 10): DataFrame = {
      val d = col("doc_id")
      val payload = gcol(graft.expressions.OrcSynth(gexpr(d)))
      docs.select(d,
        when(d % invalidEvery === 0, col("text").cast("binary"))
          .otherwise(payload).as("payload"),
        when(d % invalidEvery === 0, lit("text/plain"))
          .otherwise(lit("application/orc")).as("media_type"))
    }
  }

  /** MP4 / ISO BMFF (MOV, M4A, HEIF share the framing) container
    * triage — the VIDEO container family: boxes are BE-sized 4cc
    * headers, nested, so triage needs a path walk
    * ([[graft.expressions.Mp4BoxKernel]] — the JPEG segment-walk
    * idiom generalized to one nesting level per path segment: the
    * kernel only LOCATES, every field read after is a fixed offset
    * RELATIVE to the located box, declarative `substr`+`conv` BE
    * reads, version-gated for the v0/v1 `mvhd` layouts).
    */
  object Mp4 {
    private def boxOff(p: Column, path: String): Column =
      org.apache.spark.sql.GraftColumnBridge.column(
        graft.expressions.Mp4BoxOffset(
          org.apache.spark.sql.GraftColumnBridge.expression(p), path))

    /** Parse triage fields: `mp4_valid` (clean top-level partition +
      * ftyp + moov/mvhd), `major_brand`, `n_top_boxes`, `has_mdat`,
      * `mvhd_version`, `timescale`, `duration` (movie units),
      * `duration_ms` (exact integer arithmetic). Pure projection.
      */
    def parse(media: DataFrame, payloadCol: String = "payload"): DataFrame =
      withParsed(media, columns(col(payloadCol)))

    private[multimodal] def columns(p: Column): Seq[(String, Column)] = {
      val nTop = org.apache.spark.sql.GraftColumnBridge.column(
        graft.expressions.Mp4TopBoxes(
          org.apache.spark.sql.GraftColumnBridge.expression(p)))
      val ftyp = boxOff(p, "ftyp")
      val mvhd = boxOff(p, "moov/mvhd")
      val valid = nTop.isNotNull && ftyp.isNotNull && mvhd.isNotNull
      val ver = Jpeg.beUintAt(p, mvhd + 8, 1)
      val timescale = when(ver === 0, Jpeg.beUintAt(p, mvhd + 20, 4))
        .otherwise(Jpeg.beUintAt(p, mvhd + 28, 4))
      val duration = when(ver === 0, Jpeg.beUintAt(p, mvhd + 24, 4))
        .otherwise(Jpeg.beUintAt(p, mvhd + 32, 8))
      Seq(
        "mp4_valid" -> valid,
        "major_brand" ->
          when(valid, p.substr((ftyp + 8).cast("int"), lit(4)).cast("string")),
        "n_top_boxes" -> when(valid, nTop),
        "has_mdat" -> when(valid, boxOff(p, "mdat").isNotNull),
        "mvhd_version" -> when(valid, ver),
        "timescale" -> when(valid, timescale),
        "duration" -> when(valid, duration),
        "duration_ms" -> when(valid && timescale > 0, div(duration * 1000, timescale)))
    }

    /** Deterministic BMFF skeletons: ftyp (brand rotates), an
      * optional `free` box that SHIFTS moov (so the located offsets
      * prove a walk, not a constant), moov/mvhd in the v0 layout (or
      * v1 with 64-bit times on every 4th doc), and an mdat whose
      * filler varies by doc. Every `invalidEvery`-th doc stays raw
      * text.
      */
    def synthFromDocs(docs: DataFrame, invalidEvery: Int = 10): DataFrame = {
      val d = col("doc_id")
      def beHex(v: Column, n: Int): Column = lpad(hex(v), n * 2, "0")
      def asciiHex(s: String): Column =
        lit(s.getBytes("US-ASCII").map("%02X".format(_)).mkString)
      val brand = when(d % 2 === 0, asciiHex("isom")).otherwise(asciiHex("mp42"))
      val ftypHex = concat(beHex(lit(16L), 4), asciiHex("ftyp"), brand,
        lit("00000200"))
      val freeLen = lit(8L) + d % 13
      val freeHex = when(d % 5 === 0,
        concat(beHex(freeLen, 4), asciiHex("free"),
          rpad(lit(""), ((freeLen - 8) * 2).cast("int"), lit("00"))))
        .otherwise(lit(""))
      val timescale = when(d % 3 === 0, 600L).otherwise(lit(1000L))
      val duration = (lit(1L) + d % 50) * timescale + d % 97
      val tailHex = lit("00010000" + "0100" + "00" * 10 +
        "00010000" + "00000000" + "00000000" +
        "00000000" + "00010000" + "00000000" +
        "00000000" + "00000000" + "40000000" +
        "00" * 24 + "00000002")
      val v1 = d % 4 === 0
      val mvhdHex = when(v1,
        concat(beHex(lit(120L), 4), asciiHex("mvhd"), lit("01000000"),
          lit("00" * 16), beHex(timescale, 4), beHex(duration, 8), tailHex))
        .otherwise(
          concat(beHex(lit(108L), 4), asciiHex("mvhd"), lit("00000000"),
            lit("00" * 8), beHex(timescale, 4), beHex(duration, 4), tailHex))
      val moovHex = concat(beHex(when(v1, 128L).otherwise(lit(116L)), 4),
        asciiHex("moov"), mvhdHex)
      val filler = hex(col("text").cast("binary"))
        .substr(lit(1), ((lit(10L) + d % 23) * 2).cast("int"))
      val mdatHex = concat(beHex((lit(8L) + length(filler) / 2).cast("long"), 4),
        asciiHex("mdat"), filler)
      val mp4Hex = concat(ftypHex, freeHex, moovHex, mdatHex)
      docs.select(
        d,
        when(d % invalidEvery === 0, col("text").cast("binary"))
          .otherwise(unhex(mp4Hex)).as("payload"),
        when(d % invalidEvery === 0, lit("text/plain"))
          .otherwise(lit("video/mp4")).as("media_type"))
    }
  }

  /** PDF container triage — the most common non-HTML document format
    * a web crawl lands, and the SIXTH container family: unlike every
    * image/audio family the structure is ASCII text (header comment,
    * numbered `obj` bodies, an `xref` section the trailing `startxref`
    * offset points back at), so the whole parse stays DECLARATIVE
    * column expressions — counts via anchored regexes, the
    * back-pointer check via one offset substring — no kernel at all.
    * Triage-level fields only (object/stream/page counts, version,
    * encryption flag, startxref consistency); content extraction is a
    * codec service's job, exactly like the image families' pixel rows
    * vs their meta rows.
    */
  object Pdf {
    def isPdf(p: Column): Column =
      length(p) >= 10 && substring(p, 1, 5) === lit("%PDF-".getBytes("US-ASCII"))

    /** Parse triage fields from `payloadCol`. Adds `pdf_valid`
      * (header magic + an `%%EOF` marker), `version` ("1.7" …),
      * `n_objects` (numbered `obj` bodies), `n_streams`
      * (`endstream` terminators), `n_pages` (`/Type /Page ` leaf
      * dictionaries), `encrypted` (`/Encrypt` in scope),
      * `xref_layout` (what the `startxref` back-pointer actually
      * lands on: `table` — the classic `xref` keyword; `stream` — an
      * object whose dictionary declares `/Type /XRef`, the PDF 1.5+
      * compressed cross-reference layout a large share of real PDFs
      * ship (r13 — previously these reported a FALSE `startxref_ok`,
      * violating the triage family's "the bytes decide" claim);
      * `none` — no/broken pointer), `startxref_ok` (the pointer
      * RESOLVES, in either layout), `declared_size` (the `/Size`
      * object count from the trailer or XRef-stream dictionary), and
      * `header_consistent` (back-pointer ok and the file ends at
      * `%%EOF`). Pure projection — zero shuffles.
      */
    def parse(media: DataFrame, payloadCol: String = "payload"): DataFrame =
      withParsed(media, columns(col(payloadCol)))

    private[multimodal] def columns(p: Column): Seq[(String, Column)] = {
      val s = p.cast("string")
      val valid = isPdf(p) && s.contains("%%EOF")
      val sx = regexp_extract(s, "startxref\\s+([0-9]+)\\s*%%EOF", 1)
      // bounded probe slice at the declared offset: enough bytes to
      // see `N G obj << … /Type /XRef` without re-scanning the file
      val atOff = s.substr(sx.cast("int") + 1, lit(256))
      val tableAt = sx =!= "" && atOff.startsWith("xref")
      val streamAt = sx =!= "" &&
        atOff.rlike("(?s)^[0-9]+ [0-9]+ obj.{0,200}?/Type\\s*/XRef")
      val sxOk = tableAt || streamAt
      def count(regex: String): Column =
        size(regexp_extract_all(s, lit(regex), lit(0))).cast("long")
      Seq(
        "pdf_valid" -> valid,
        "version" -> when(valid, substring(s, 6, 3)),
        "n_objects" -> when(valid, count("[0-9]+ [0-9]+ obj")),
        "n_streams" -> when(valid, count("endstream")),
        "n_pages" -> when(valid, count("/Type /Page ")),
        "encrypted" -> when(valid, s.contains("/Encrypt")),
        "xref_layout" -> when(valid,
          when(tableAt, "table").when(streamAt, "stream").otherwise("none")),
        "declared_size" -> when(valid,
          nullif(regexp_extract(s, "/Size ([0-9]+)", 1), lit("")).cast("long")),
        "startxref_ok" -> when(valid, sxOk),
        "header_consistent" -> when(valid, sxOk && s.endsWith("%%EOF")))
    }

    /** Deterministic minimal-but-legal PDF skeletons: catalog + pages
      * tree + `1 + doc_id%4` page leaves + one content stream whose
      * filler is a doc-varying hex slice (hex can never collide with
      * the structural keywords the parser counts), an xref section,
      * and a trailer whose `startxref` is the COMPUTED byte offset of
      * the xref keyword — so `startxref_ok` proves the parser followed
      * a real back-pointer, not a constant. Every `doc_id % 3 == 1`
      * document ships the PDF 1.5+ layout instead: a compressed
      * cross-reference STREAM object (`/Type /XRef`, `/Size` in its
      * dictionary, no `trailer` keyword) that the startxref points at
      * — so `xref_layout = stream` proves the modern-layout probe
      * reads the pointed-at object, not a global grep. `/Encrypt`
      * rides every 7th trailer/XRef dict. Every `invalidEvery`-th doc
      * stays raw text.
      */
    def synthFromDocs(docs: DataFrame, invalidEvery: Int = 10): DataFrame = {
      val d = col("doc_id")
      val nPages = (lit(1L) + d % 4).cast("int")
      val filler = hex(col("text").cast("binary"))
        .substr(lit(1), (lit(20L) + d % 30).cast("int"))
      val pageObjs = array_join(transform(sequence(lit(3), nPages + 2),
        i => concat(i.cast("string"),
          lit(" 0 obj\n<< /Type /Page /Parent 2 0 R >>\nendobj\n"))), "")
      val kids = array_join(transform(sequence(lit(3), nPages + 2),
        i => concat(i.cast("string"), lit(" 0 R"))), " ")
      val streamObj = concat((nPages + 3).cast("string"),
        lit(" 0 obj\n<< /Length "), length(filler).cast("string"),
        lit(" >>\nstream\n"), filler, lit("\nendstream\nendobj\n"))
      val prefix = concat(
        lit("%PDF-1."), (lit(5L) + d % 3).cast("string"), lit("\n"),
        lit("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"),
        lit("2 0 obj\n<< /Type /Pages /Kids ["), kids,
        lit("] /Count "), nPages.cast("string"), lit(" >>\nendobj\n"),
        pageObjs, streamObj)
      val trailer = concat(lit("trailer\n<< /Size "),
        (nPages + 4).cast("string"), lit(" /Root 1 0 R"),
        when(d % 7 === 0, lit(" /Encrypt 9 0 R")).otherwise(lit("")),
        lit(" >>\nstartxref\n"), length(prefix).cast("string"),
        lit("\n%%EOF"))
      val classic = concat(prefix, lit("xref\n0 "), (nPages + 4).cast("string"),
        lit("\n"), trailer)
      // PDF 1.5+ layout: the cross-reference is itself a stream
      // object; its dictionary carries /Size and there is no trailer
      val xrefObj = concat((nPages + 4).cast("string"),
        lit(" 0 obj\n<< /Type /XRef /Size "), (nPages + 5).cast("string"),
        lit(" /W [1 2 1] /Root 1 0 R"),
        when(d % 7 === 0, lit(" /Encrypt 9 0 R")).otherwise(lit("")),
        lit(" >>\nstream\n0000\nendstream\nendobj\n"))
      val modern = concat(prefix, xrefObj,
        lit("startxref\n"), length(prefix).cast("string"), lit("\n%%EOF"))
      val pdf = when(d % 3 === 1, modern).otherwise(classic)
      docs.select(
        d,
        when(d % invalidEvery === 0, col("text").cast("binary"))
          .otherwise(pdf.cast("binary")).as("payload"),
        when(d % invalidEvery === 0, lit("text/plain"))
          .otherwise(lit("application/pdf")).as("media_type"))
    }

    /** REAL PDF text extraction — the crawl ability PDFs exist for:
      * slice every stream object by its DECLARED `/Length`
      * ([[graft.expressions.PdfStreamsKernel]] — FlateDecode bytes may
      * contain any pattern incl. `endstream`, so slicing must follow
      * the length, the WARC lesson one level down), inflate each with
      * the native zlib kernel (bomb-guarded), and collect the text
      * shown by `(…) Tj` operators in stream order. Adds
      * `n_text_streams`, `pdf_text` (Tj strings joined by spaces),
      * `pdf_text_hash`. Pure projection — the decompress runs inside
      * the row, zero shuffles at any scale. (Literal-string escapes
      * and TJ-array kerning forms are out of scope — documented, the
      * synth plants plain `(…) Tj`.)
      */
    def extractText(media: DataFrame, payloadCol: String = "payload",
        maxStreamBytes: Int = 1 << 22): DataFrame = {
      import graft.expressions.{PdfStreams, ZlibInflate}
      def gcol(e: org.apache.spark.sql.catalyst.expressions.Expression) =
        org.apache.spark.sql.GraftColumnBridge.column(e)
      def gexpr(c: Column) =
        org.apache.spark.sql.GraftColumnBridge.expression(c)
      val streams = gcol(PdfStreams(gexpr(col(payloadCol))))
      val texts = transform(streams, s =>
        array_join(regexp_extract_all(
          gcol(ZlibInflate(gexpr(s), maxStreamBytes)).cast("string"),
          lit("\\(([^)]*)\\) Tj"), lit(1)), " "))
      media
        .withColumn("__texts", texts)
        .withColumn("n_text_streams",
          coalesce(size(col("__texts")), lit(0)).cast("long"))
        .withColumn("pdf_text",
          when(col("n_text_streams") > 0,
            array_join(col("__texts"), " ")))
        .withColumn("pdf_text_hash",
          when(col("pdf_text").isNotNull,
            GraftFunctions.hex64(col("pdf_text"))))
        .drop("__texts")
    }

    /** Deterministic PDFs whose content streams are REAL FlateDecode
      * bodies: two stream objects per doc, each a `BT (…) Tj ET`
      * program zlib-compressed by the native kernel with `/Length` =
      * the COMPRESSED byte count — so extraction must slice by the
      * declared length and genuinely inflate. Planted strings come
      * from the (paren-free) corpus text, closed-form for the oracle.
      */
    def synthTextFromDocs(docs: DataFrame, invalidEvery: Int = 10): DataFrame = {
      import graft.expressions.ZlibDeflate
      def gcol(e: org.apache.spark.sql.catalyst.expressions.Expression) =
        org.apache.spark.sql.GraftColumnBridge.column(e)
      def gexpr(c: Column) =
        org.apache.spark.sql.GraftColumnBridge.expression(c)
      val d = col("doc_id")
      def flate(content: Column): Column =
        gcol(ZlibDeflate(gexpr(content.cast("binary"))))
      val line1 = col("text").substr(1, 40)
      val c1 = flate(concat(lit("BT /F1 12 Tf ("), line1, lit(") Tj ET")))
      val c2 = flate(concat(lit("BT (doc "), d.cast("string"),
        lit(") Tj (page two) Tj ET")))
      def streamObj(idx: Int, c: Column): Column = concat(
        lit(s"$idx 0 obj\n<< /Length ").cast("binary"),
        length(c).cast("string").cast("binary"),
        lit(" /Filter /FlateDecode >>\nstream\n").cast("binary"),
        c, lit("\nendstream\nendobj\n").cast("binary"))
      val pdf = concat(
        lit("%PDF-1.7\n1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
          .cast("binary"),
        streamObj(3, c1), streamObj(4, c2),
        lit("trailer\n<< /Size 5 /Root 1 0 R >>\n%%EOF").cast("binary"))
      docs.select(
        d,
        when(d % invalidEvery === 0, col("text").cast("binary"))
          .otherwise(pdf).as("payload"),
        when(d % invalidEvery === 0, lit("text/plain"))
          .otherwise(lit("application/pdf")).as("media_type"))
    }
  }

  /** Perceptual AUDIO dedup — the audio face of [[imageDedup]]:
    * fingerprint every WAV payload with the 64-bit energy-gradient
    * hash over the DECODED samples
    * ([[graft.expressions.AudioHashKernel]] — 65 windows, integer
    * mean absolute amplitude, consecutive-window gradient bits), then
    * the same window-free keep-ledger. Content collides across
    * container rewrites of identical samples; envelope edits move few
    * Hamming bits. Adds the same columns as [[imageDedup]].
    */
  def audioDedup(media: DataFrame, payloadCol: String = "payload"): DataFrame = {
    val p = col(payloadCol)
    val dataBin = p.substr(lit(45), col("data_bytes").cast("int"))
    val h = org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.AudioDhash(
        org.apache.spark.sql.GraftColumnBridge.expression(dataBin),
        org.apache.spark.sql.GraftColumnBridge.expression(col("bits_per_sample"))))
    // FLAC routes through the full rice/LPC frame decode — the same
    // 65-window energy-gradient arithmetic over the DECODED stream,
    // so a FLAC re-encode collides with its WAV original (r15)
    val flacH = org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.FlacAudioDhash(
        org.apache.spark.sql.GraftColumnBridge.expression(p)))
    // Ogg-FLAC routes through page unwrap + the SAME frame decode —
    // a re-MUX (container change, no re-encode) and a re-encode both
    // collide with the WAV original (r15 continuation)
    val oggH = org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.OggFlacDhash(
        org.apache.spark.sql.GraftColumnBridge.expression(p)))
    // persist the hashed frame — one sample decode per payload across
    // the ledger aggregate and the join-back (imageDedup's idiom)
    val withH = Wav.parse(media, payloadCol)
      .withColumn("__ahash",
        when(Flac.isFlac(p), flacH)
          .when(Ogg.isOgg(p), oggH)
          .when(col("wav_valid") && col("data_bytes") > 0, h))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val groups = withH.where(col("__ahash").isNotNull)
      .groupBy(col("__ahash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper_id"))
    val out = withH.join(groups, Seq("__ahash"), "left")
      .withColumn("audio_valid", col("__ahash").isNotNull)
      .withColumn("ahash_hi",
        when(col("audio_valid"), expr("shiftrightunsigned(__ahash, 32)")))
      .withColumn("ahash_lo",
        when(col("audio_valid"), col("__ahash").bitwiseAND(lit(0xFFFFFFFFL))))
      .withColumn("is_canonical",
        when(col("audio_valid"), col("doc_id") === col("keeper_id")))
      .drop("__ahash")
    graft.ops.Caching.materialized(out) { withH.unpersist(false) }
  }

  /** Perceptual image dedup — the operator that connects the codec
    * kernels to the dedup family: fingerprint every image payload
    * with a 64-bit dHash over the DECODED raster
    * ([[graft.expressions.ImageHashKernel]] — JPEG through the full
    * entropy decode, 24-bit BMP through the stride walk; content
    * collides across re-encodes, bytes don't have to), then the
    * keep-ledger idiom: group sizes + canonical member via ONE keyed
    * aggregation and a join-back — window-free, the same skew-immune
    * shape as exact text dedup. Near-dup (few-bit Hamming) tiers
    * compose with the existing `ann_hamming` machinery downstream.
    * Adds `dhash_hi`/`dhash_lo` (the two unsigned 32-bit halves —
    * portable across engines without 64-bit sign games), `n_copies`,
    * `keeper_id`, `is_canonical`; all null for undecodable payloads.
    */
  def imageDedup(media: DataFrame, payloadCol: String = "payload"): DataFrame = {
    val h = org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.ImageDhash(
        org.apache.spark.sql.GraftColumnBridge.expression(col(payloadCol))))
    // the hashed frame feeds BOTH the ledger aggregate and the
    // join-back — persist it so the decode kernel (JPEG entropy
    // decode, the engine's most expensive expression) runs ONCE per
    // payload, not once per physical subtree (pipeline_clean's
    // scoped-release idiom; CacheLifecycleSpec pins the lifecycle)
    val withH = media.withColumn("__dhash", h)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val groups = withH.where(col("__dhash").isNotNull)
      .groupBy(col("__dhash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper_id"))
    val out = withH.join(groups, Seq("__dhash"), "left")
      .withColumn("image_valid", col("__dhash").isNotNull)
      .withColumn("dhash_hi",
        when(col("image_valid"), expr("shiftrightunsigned(__dhash, 32)")))
      .withColumn("dhash_lo",
        when(col("image_valid"), col("__dhash").bitwiseAND(lit(0xFFFFFFFFL))))
      .withColumn("is_canonical",
        when(col("image_valid"), col("doc_id") === col("keeper_id")))
      .drop("__dhash")
    graft.ops.Caching.materialized(out) { withH.unpersist(false) }
  }

  /** One container family triage routes to: the name
    * [[graft.expressions.ContainerDetectKernel]] emits for it, its parse
    * columns over the payload (the columns its public `parse` adds),
    * and which of those columns are the validity flag and the content
    * measure.
    */
  private[graft] final case class Family(
      name: String, columns: Column => Seq[(String, Column)], valid: String, units: String)

  /** Zip has no parse of its own: the entry walk is the whole route. */
  private def zipColumns(p: Column): Seq[(String, Column)] = {
    val entries = org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.ZipEntries(
        org.apache.spark.sql.GraftColumnBridge.expression(p), 1 << 22))
    Seq("zip_valid" -> entries.isNotNull, "n_entries" -> size(entries).cast("long"))
  }

  /** The routed families, one row each — the single list triage, its
    * `valid` and `content_units` routes, and the coverage check in the
    * specs all read.
    */
  private[graft] val families: Seq[Family] = Seq(
    Family("wav", Wav.columns, "wav_valid", "duration_ms"),
    Family("png", Png.columns, "png_valid", "n_pixels"),
    Family("jpeg", Jpeg.columns, "jpeg_valid", "n_pixels"),
    Family("bmp", Bmp.columns, "bmp_valid", "n_pixels"),
    Family("gif", Gif.columns, "gif_valid", "n_pixels"),
    Family("pdf", Pdf.columns, "pdf_valid", "n_pages"),
    Family("mp4", Mp4.columns, "mp4_valid", "duration_ms"),
    Family("webp", Webp.columns, "webp_valid", "n_pixels"),
    Family("tiff", Tiff.columns, "tiff_valid", "n_pixels"),
    Family("mp3", Mp3.columns, "mp3_valid", "duration_ms"),
    Family("flac", Flac.columns, "flac_valid", "duration_ms"),
    Family("ogg", Ogg.columns, "ogg_valid", "duration_ms"),
    Family("mkv", Mkv.columns, "mkv_valid", "duration_ms"),
    Family("avro", Avro.columns, "avro_valid", "n_records"),
    Family("parquet", Parquet.columns, "parquet_valid", "num_rows"),
    Family("orc", Orc.columns, "orc_valid", "num_rows"),
    Family("gzip", Gz.columns, "gzip_valid", "uncompressed_bytes"),
    Family("zstd", Zstd.columns, "zstd_valid", "uncompressed_bytes"),
    Family("ico", Ico.columns, "ico_valid", "n_icons"),
    Family("zip", zipColumns, "zip_valid", "n_entries"),
    Family("heif", Heif.columns, "heif_valid", "n_pixels"))

  /** Container triage over a MIXED blob column — the first pass any
    * multimodal ingest runs on 100 TB of unlabeled payloads: detect
    * the container by magic bytes, parse the matching family's
    * fields, and emit one uniform row per blob: `doc_id`, `detected`
    * (the family name, or `unknown`), `payload_bytes`, `valid`
    * (structural validity, false for unknown) and `content_units`
    * (the family's content measure — audio/video milliseconds,
    * pixels, pages, records, rows, bytes, icons, entries). Declared
    * media_type metadata is deliberately ignored: at crawl scale the
    * label lies; the bytes decide.
    *
    * Built from the [[families]] table: ONE `select` over the
    * detection, with `valid` and `content_units` each one
    * `CASE WHEN detected = name` chain over the rows' validity and
    * content columns — one Dataset, one analysis, and per blob only
    * the detected family's parse expressions run. Lazy: it runs no
    * job and leaves no cache scope behind; it is one narrow map over
    * the blob scan (no shuffle, no per-type job, no UDF).
    *
    * The projection must stay inside whole-stage codegen: detection
    * is one kernel call because the column-predicate form pushed the
    * generated method past janino's 64 KB limit and the stage silently
    * ran interpreted (see [[graft.expressions.ContainerDetectKernel]]).
    * A family added to the table must keep the stage under
    * `spark.sql.codegen.hugeMethodLimit` (StreamingMultimodalSpec
    * compiles every stage and checks).
    */
  def triage(media: DataFrame, payloadCol: String = "payload"): DataFrame = {
    val p = col(payloadCol)
    val detected = org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.ContainerDetect(
        org.apache.spark.sql.GraftColumnBridge.expression(p)))
    // CASE WHEN detected = name THEN <that family's `pick` column> …
    def route(pick: Family => String): Column = {
      val cases = families.map(f => (detected === f.name, f.columns(p).toMap.apply(pick(f))))
      cases.tail.foldLeft(when(cases.head._1, cases.head._2)) {
        case (chain, (isFamily, value)) => chain.when(isFamily, value)
      }
    }
    media.select(col("doc_id"), detected.as("detected"),
      length(p).cast("long").as("payload_bytes"),
      route(_.valid).otherwise(lit(false)).as("valid"),
      route(_.units).as("content_units"))
  }

  /** Metadata stats over the media table — schema/partitioning surface
    * checkable against a SQL oracle (payload hashes + sizes).
    */
  def metadataStats(docs: DataFrame): DataFrame =
    asMediaTable(docs)
      .select(
        col("doc_id"), col("media_type"), col("n_bytes"),
        GraftFunctions.hex64(col("payload").cast("string")).as("content_hash"))
}
