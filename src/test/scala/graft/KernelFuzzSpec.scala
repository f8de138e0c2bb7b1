package graft

import org.scalacheck.{Gen, Prop, Test => ScTest}

/** Never-throw fuzz over the r13 kernels (plus the decoders they
  * route into): every byte-level walk in the engine claims
  * "null-not-throw on arbitrary garbage" — on a 100 TB crawl the
  * inputs ARE arbitrary garbage, and one uncaught exception kills a
  * whole stage. ScalaCheck drives random bytes/strings through the
  * kernel entry points directly (no Spark job per case); structured
  * prefixes bias the generators toward the parsers' deep paths.
  */
class KernelFuzzSpec extends SparkSpec {

  private val params =
    ScTest.Parameters.default.withMinSuccessfulTests(120).withInitialSeed(1337L)

  private def checkProp(p: Prop): Unit = {
    val res = ScTest.check(params, p)
    assert(res.passed, res.status.toString)
  }

  private val genBytes: Gen[Array[Byte]] = for {
    n <- Gen.choose(0, 2048)
    bs <- Gen.listOfN(n, Gen.choose(Byte.MinValue, Byte.MaxValue))
  } yield bs.toArray

  /** Random bytes behind a format-magic prefix: exercises the walk
    * past the cheap magic check into the offset/length arithmetic.
    */
  private def withPrefix(prefix: Array[Byte]): Gen[Array[Byte]] =
    genBytes.map(prefix ++ _)

  test("HtmlEntityKernel.decode never throws; output length is bounded") {
    val genStr = Gen.oneOf(
      Gen.asciiPrintableStr,
      // entity-shaped fragments: & # x digits ; stacked randomly
      Gen.listOf(Gen.oneOf("&", "#", "x", ";", "amp", "lt", "9", "2019",
        "1F600", "D800", "&#", "&#x", "é", "a")).map(_.mkString))
    checkProp(Prop.forAllNoShrink(genStr) { s =>
      val out = graft.expressions.HtmlEntityKernel.decode(
        org.apache.spark.unsafe.types.UTF8String.fromString(s))
      // decoding only ever shrinks or preserves length in chars
      out != null && out.toString.length <= s.length
    })
  }

  test("PdfStreamsKernel.streams never throws on garbage or trap-shaped bytes") {
    val genPdf = Gen.oneOf(
      genBytes,
      withPrefix("%PDF-1.6\n/Length ".getBytes("US-ASCII")),
      withPrefix("%PDF-1.6\n1 0 obj\n<< /Length 5 0 R >>\nstream\n".getBytes("US-ASCII")),
      withPrefix("%PDF\n/Length 99999999999 stream\n".getBytes("US-ASCII")))
    checkProp(Prop.forAllNoShrink(genPdf) { p =>
      graft.expressions.PdfStreamsKernel.streams(p)
      true // value or null, never a throw
    })
  }

  test("Zip/Tar/Gzip/WarcSplit walks never throw on garbage behind their magics") {
    val genAny = Gen.oneOf(
      genBytes,
      withPrefix(Array[Byte]('P', 'K', 5, 6)),
      withPrefix(Array[Byte]('P', 'K', 3, 4)),
      withPrefix(Array[Byte](0x1f, 0x8b.toByte, 8, 0)),
      withPrefix("WARC/1.0\r\nContent-Length: 12\r\n".getBytes("US-ASCII")))
    checkProp(Prop.forAllNoShrink(genAny) { p =>
      graft.expressions.ZipKernel.entries(p, 1 << 16)
      graft.expressions.TarKernel.members(p)
      graft.expressions.GzipKernel.members(p, 1 << 16)
      graft.expressions.WarcSplitKernel.split(p)
      true
    })
  }

  test("JPEG decoders (baseline AND progressive) never throw on corrupted streams") {
    // real encodes with random byte corruption: the deepest decode
    // paths (Huffman tables, scan arithmetic, marker walk) see
    // near-valid streams, not just noise
    val tiles = Array.tabulate(12)(i => (i * 37 + 5) % 256)
    val base = graft.expressions.JpegEncoder.encodeFlatTiles(tiles, 4, 3, 0, 0)
    val prog = graft.expressions.JpegEncoder.encodeFlatTiles(tiles, 4, 3, 0, 0,
      progressive = true)
    val genCase = for {
      src <- Gen.oneOf(base, prog)
      nFlips <- Gen.choose(1, 6)
      flips <- Gen.listOfN(nFlips, for {
        pos <- Gen.choose(2, src.length - 1)
        v <- Gen.choose(Byte.MinValue, Byte.MaxValue)
      } yield (pos, v))
    } yield {
      val c = src.clone()
      flips.foreach { case (pos, v) => c(pos) = v }
      c
    }
    checkProp(Prop.forAllNoShrink(genCase) { p =>
      graft.expressions.JpegDecodeKernel.stats(p)
      graft.expressions.ImageHashKernel.dhash(p)
      graft.expressions.JpegExifKernel.parse(p)
      true
    })
    // and pure garbage behind the SOI magic
    checkProp(Prop.forAllNoShrink(
      withPrefix(Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte))) { p =>
      graft.expressions.JpegDecodeKernel.stats(p)
      graft.expressions.JpegExifKernel.parse(p)
      true
    })
    // garbage behind a well-formed Exif APP1 prefix: the TIFF/IFD
    // walk's bounds checks, not the marker walk, carry the load
    checkProp(Prop.forAllNoShrink(withPrefix(
      Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 0xE1.toByte,
        0x7F, 0xFF.toByte) ++ "Exif".getBytes ++ Array[Byte](0, 0))) { p =>
      graft.expressions.JpegExifKernel.parse(p)
      true
    })
  }

  test("PngFilterKernel.stats never throws on arbitrary rasters/geometry") {
    val genCase = for {
      raster <- genBytes
      w <- Gen.choose(-5L, 64L)
      h <- Gen.choose(-5L, 64L)
      il <- Gen.choose(-1L, 3L)
    } yield (raster, w, h, il)
    checkProp(Prop.forAllNoShrink(genCase) { case (raster, w, h, il) =>
      graft.expressions.PngFilterKernel.stats(raster,
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          Array[Any](w, h, il)))
      true
    })
  }

  test("PngForwardKernel.forward never throws; filter∘unfilter round-trips (r14)") {
    val genCase = for {
      pix <- genBytes
      w <- Gen.choose(-5L, 64L)
      h <- Gen.choose(-5L, 64L)
      t0 <- Gen.choose(-3L, 9L)
      il <- Gen.choose(-1L, 3L)
    } yield (pix, w, h, t0, il)
    checkProp(Prop.forAllNoShrink(genCase) { case (pix, w, h, t0, il) =>
      val out = graft.expressions.PngForwardKernel.forward(pix,
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          Array[Any](w, h, t0, il)))
      // on a VALID geometry the forward filter must invert through the
      // decode kernel: stats over the filtered raster == stats of the
      // raw pixels — the synthesis/decode pair proves itself per case
      if (out != null && w > 0 && h > 0 && (il == 0L || il == 1L)) {
        val st = graft.expressions.PngFilterKernel.stats(out,
          new org.apache.spark.sql.catalyst.util.GenericArrayData(
            Array[Any](w, h, il)))
        st != null && st.getLong(0) == w * h && {
          var s0 = 0L; var s1 = 0L; var s2 = 0L
          var i = 0
          while (i < pix.length) {
            val v = (pix(i) & 0xFF).toLong
            i % 3 match {
              case 0 => s0 += v; case 1 => s1 += v; case _ => s2 += v
            }
            i += 1
          }
          st.getLong(1) == s0 && st.getLong(2) == s1 && st.getLong(3) == s2
        }
      } else true
    })
  }

  test("RobotsParseKernel.rules never throws on adversarial robots.txt (r14)") {
    val genTxt = Gen.oneOf(
      Gen.asciiStr,
      Gen.listOf(Gen.oneOf("User-agent:", "user-AGENT :", "Allow:",
        "Disallow", "disallow\t:", "*", "#c", "\r", "\n", "\t", " ",
        "bot", ":", "Sitemap: x", "Disallow:/a", "")).map(_.mkString),
      Gen.listOf(Gen.choose(Char.MinValue, Char.MaxValue)).map(_.mkString))
    checkProp(Prop.forAllNoShrink(genTxt) { s =>
      val out = graft.expressions.RobotsParseKernel.rules(
        org.apache.spark.unsafe.types.UTF8String.fromString(s), "graftbot")
      out != null // empty array on ruleless input, never null/throw
    })
  }

  test("JpegStripGpsKernel.strip never throws; output always same length (r14)") {
    val genJpeg = Gen.oneOf(
      genBytes,
      withPrefix(Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 0xE1.toByte)),
      withPrefix(Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte,
        0xE1.toByte, 0x00.toByte, 0x40.toByte) ++
        "Exif".getBytes("US-ASCII") ++ Array[Byte](0, 0) ++
        "II".getBytes("US-ASCII") ++ Array[Byte](42, 0, 8, 0, 0, 0)),
      withPrefix(Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte,
        0xE1.toByte, 0x00.toByte, 0x40.toByte) ++
        "Exif".getBytes("US-ASCII") ++ Array[Byte](0, 0) ++
        "MM".getBytes("US-ASCII") ++ Array[Byte](0, 42, 0, 0, 0, 8)))
    checkProp(Prop.forAllNoShrink(genJpeg) { p =>
      val out = graft.expressions.JpegStripGpsKernel.strip(p)
      // length-preserving by contract: adversarial offsets may zero
      // garbage regions inside the APP1, never resize or throw
      out != null && out.length == p.length
    })
  }

  test("TiffPixelKernel.stats never throws on corrupted compressed streams (r15)") {
    // real synth payloads (one per compression lane, incl. tiles and
    // the predictor) with random byte corruption: the LZW / PackBits
    // / Deflate decoders and the IFD walk see near-valid streams
    val seeds = Seq(1L, 2L, 5L, 7L, 12L, 66L).map(
      graft.expressions.TiffPixelSynthKernel.synth)
    val genCase = for {
      src <- Gen.oneOf(seeds)
      nFlips <- Gen.choose(1, 6)
      flips <- Gen.listOfN(nFlips, for {
        pos <- Gen.choose(0, src.length - 1)
        v <- Gen.choose(Byte.MinValue, Byte.MaxValue)
      } yield (pos, v))
    } yield {
      val c = src.clone()
      flips.foreach { case (pos, v) => c(pos) = v }
      c
    }
    checkProp(Prop.forAllNoShrink(genCase) { p =>
      graft.expressions.TiffPixelKernel.stats(p)
      true // value or null, never a throw
    })
    // and pure garbage behind both byte-order magics
    checkProp(Prop.forAllNoShrink(Gen.oneOf(
      withPrefix(Array[Byte]('I', 'I', 42, 0)),
      withPrefix(Array[Byte]('M', 'M', 0, 42)))) { p =>
      graft.expressions.TiffPixelKernel.stats(p)
      true
    })
  }

  test("Mp3/Flac walks never throw on corrupted streams or garbage behind their magics (r15)") {
    val seeds = Seq(1L, 2L, 5L, 13L, 21L).flatMap(d => Seq(
      graft.expressions.Mp3SynthKernel.synth(d),
      graft.expressions.FlacSynthKernel.synth(d)))
    val genCase = for {
      src <- Gen.oneOf(seeds)
      nFlips <- Gen.choose(1, 6)
      flips <- Gen.listOfN(nFlips, for {
        pos <- Gen.choose(0, src.length - 1)
        v <- Gen.choose(Byte.MinValue, Byte.MaxValue)
      } yield (pos, v))
    } yield {
      val c = src.clone()
      flips.foreach { case (pos, v) => c(pos) = v }
      c
    }
    checkProp(Prop.forAllNoShrink(genCase) { p =>
      graft.expressions.Mp3MetaKernel.parse(p)
      graft.expressions.FlacMetaKernel.parse(p)
      true // value or null, never a throw
    })
    checkProp(Prop.forAllNoShrink(Gen.oneOf(
      withPrefix(Array[Byte]('I', 'D', '3', 3, 0)),
      withPrefix(Array[Byte](0xFF.toByte, 0xFB.toByte)),
      withPrefix("fLaC".getBytes("US-ASCII") ++ Array[Byte](0)))) { p =>
      graft.expressions.Mp3MetaKernel.parse(p)
      graft.expressions.FlacMetaKernel.parse(p)
      true
    })
  }

  test("Ogg/Mkv walks never throw on corrupted streams or garbage behind their magics (r15)") {
    // real synth payloads with random byte flips — the flips land in
    // lacing tables, granule positions, CRCs, EBML varint widths,
    // element sizes, and float fields
    val seeds = Seq(1L, 2L, 5L, 13L, 21L).flatMap(d => Seq(
      graft.expressions.OggSynthKernel.synth(d),
      graft.expressions.MkvSynthKernel.synth(d)))
    val genCase = for {
      src <- Gen.oneOf(seeds)
      nFlips <- Gen.choose(1, 6)
      flips <- Gen.listOfN(nFlips, for {
        pos <- Gen.choose(0, src.length - 1)
        v <- Gen.choose(Byte.MinValue, Byte.MaxValue)
      } yield (pos, v))
    } yield {
      val c = src.clone()
      flips.foreach { case (pos, v) => c(pos) = v }
      c
    }
    checkProp(Prop.forAllNoShrink(genCase) { p =>
      graft.expressions.OggMetaKernel.parse(p)
      graft.expressions.MkvMetaKernel.parse(p)
      true // value or null, never a throw
    })
    checkProp(Prop.forAllNoShrink(Gen.oneOf(
      withPrefix(Array[Byte]('O', 'g', 'g', 'S', 0)),
      withPrefix(Array[Byte](0x1A, 0x45, 0xDF.toByte, 0xA3.toByte)))) { p =>
      graft.expressions.OggMetaKernel.parse(p)
      graft.expressions.MkvMetaKernel.parse(p)
      true
    })
  }

  test("FlacAudioKernel never throws on bit-flipped or garbage frame streams (r15)") {
    // real encoded streams from every coding lane with random byte
    // flips — the flips land in rice parameters, LPC coefficients,
    // partition orders, CRCs, and the subframe type fields
    val seeds = Seq(1L, 2L, 3L, 5L, 7L, 13L, 15L, 21L, 25L).map(
      graft.expressions.FlacAudioSynthKernel.synth)
    val genCase = for {
      src <- Gen.oneOf(seeds)
      nFlips <- Gen.choose(1, 8)
      flips <- Gen.listOfN(nFlips, for {
        pos <- Gen.choose(0, src.length - 1)
        v <- Gen.choose(Byte.MinValue, Byte.MaxValue)
      } yield (pos, v))
    } yield {
      val c = src.clone()
      flips.foreach { case (pos, v) => c(pos) = v }
      c
    }
    checkProp(Prop.forAllNoShrink(genCase) { p =>
      graft.expressions.FlacAudioKernel.stats(p)
      graft.expressions.FlacAudioKernel.ahash(p)
      true // value or null, never a throw
    })
    checkProp(Prop.forAllNoShrink(
      withPrefix("fLaC".getBytes("US-ASCII") ++ Array[Byte](0))) { p =>
      graft.expressions.FlacAudioKernel.stats(p)
      graft.expressions.FlacAudioKernel.ahash(p)
      true
    })
  }

  test("OggFlacKernel never throws on bit-flipped or garbage page streams (r15)") {
    // real muxed streams with random byte flips — the flips land in
    // page headers, lacing tables, the mapping header, STREAMINFO,
    // and the wrapped FLAC frames
    val seeds = Seq(1L, 2L, 3L, 4L, 5L, 7L, 9L, 14L, 24L).map(
      graft.expressions.OggFlacSynthKernel.synth)
    val genCase = for {
      src <- Gen.oneOf(seeds)
      nFlips <- Gen.choose(1, 8)
      flips <- Gen.listOfN(nFlips, for {
        pos <- Gen.choose(0, src.length - 1)
        v <- Gen.choose(Byte.MinValue, Byte.MaxValue)
      } yield (pos, v))
    } yield {
      val c = src.clone()
      flips.foreach { case (pos, v) => c(pos) = v }
      c
    }
    checkProp(Prop.forAllNoShrink(genCase) { p =>
      graft.expressions.OggFlacKernel.stats(p)
      graft.expressions.OggFlacKernel.ahash(p)
      true // value or null, never a throw
    })
    checkProp(Prop.forAllNoShrink(
      withPrefix(Array[Byte]('O', 'g', 'g', 'S', 0))) { p =>
      graft.expressions.OggFlacKernel.stats(p)
      graft.expressions.OggFlacKernel.ahash(p)
      true
    })
  }

  test("Avro, Parquet, and ORC kernels never throw on bit-flipped containers (r15)") {
    // flips land in varint continuation bits, zigzag signs, lacing
    // counts, thrift field headers, list sizes, and footer lengths
    val avroSeeds = Seq(1L, 2L, 3L, 5L, 7L, 9L).map(
      graft.expressions.AvroSynthKernel.synth)
    val pqSeeds = Seq(1L, 2L, 3L, 5L, 7L, 9L).map(
      graft.expressions.ParquetSynthKernel.synth)
    def flipped(seeds: Seq[Array[Byte]]) = for {
      src <- Gen.oneOf(seeds)
      nFlips <- Gen.choose(1, 8)
      flips <- Gen.listOfN(nFlips, for {
        pos <- Gen.choose(0, src.length - 1)
        v <- Gen.choose(Byte.MinValue, Byte.MaxValue)
      } yield (pos, v))
    } yield {
      val c = src.clone()
      flips.foreach { case (pos, v) => c(pos) = v }
      c
    }
    checkProp(Prop.forAllNoShrink(flipped(avroSeeds)) { p =>
      graft.expressions.AvroMetaKernel.parse(p)
      graft.expressions.AvroRecordsKernel.stats(p)
      true
    })
    checkProp(Prop.forAllNoShrink(flipped(pqSeeds)) { p =>
      graft.expressions.ParquetMetaKernel.parse(p)
      true
    })
    val orcSeeds = Seq(1L, 2L, 3L, 5L, 7L, 9L).map(
      graft.expressions.OrcSynthKernel.synth)
    checkProp(Prop.forAllNoShrink(flipped(orcSeeds)) { p =>
      graft.expressions.OrcMetaKernel.parse(p)
      true
    })
    val gzSeeds = Seq(1L, 2L, 3L, 5L, 7L, 9L).map(
      graft.expressions.GzipMetaSynthKernel.synth)
    checkProp(Prop.forAllNoShrink(flipped(gzSeeds)) { p =>
      graft.expressions.GzipMetaKernel.parse(p)
      true
    })
    val zsSeeds = Seq(1L, 2L, 3L, 5L, 9L, 23L).map(
      graft.expressions.ZstdMetaSynthKernel.synth)
    checkProp(Prop.forAllNoShrink(flipped(zsSeeds)) { p =>
      graft.expressions.ZstdMetaKernel.parse(p)
      true
    })
    val mimeSeeds = Seq(1L, 2L, 3L, 5L, 8L).map(d =>
      graft.expressions.MimeSynthKernel.synth(d, "fuzz text " * 20))
    checkProp(Prop.forAllNoShrink(flipped(mimeSeeds)) { p =>
      graft.expressions.MimePartsKernel.parse(p)
      graft.expressions.MailHeadersKernel.parse(p)
      true
    })
    val ppSeeds = Seq(1L, 2L, 3L, 5L, 7L).map(
      graft.expressions.ParquetFileSynthKernel.synth)
    checkProp(Prop.forAllNoShrink(flipped(ppSeeds)) { p =>
      graft.expressions.ParquetPagesKernel.parse(p)
      true
    })
    val icoSeeds = Seq(1L, 2L, 3L, 5L, 11L).map(
      graft.expressions.IcoSynthKernel.synth)
    checkProp(Prop.forAllNoShrink(flipped(icoSeeds)) { p =>
      graft.expressions.IcoMetaKernel.parse(p)
      true
    })
  }

  test("CharsetDetectKernel is total: garbage always decodes to SOMETHING (r15)") {
    checkProp(Prop.forAllNoShrink(genBytes) { p =>
      val r = graft.expressions.CharsetDetectKernel.detect(p)
      r != null // the Latin-1 fallback makes detection total
    })
    checkProp(Prop.forAllNoShrink(
      withPrefix(Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte))) { p =>
      graft.expressions.CharsetDetectKernel.detect(p) != null
    })
    checkProp(Prop.forAllNoShrink(
      withPrefix(Array[Byte](0xFF.toByte, 0xFE.toByte))) { p =>
      graft.expressions.CharsetDetectKernel.detect(p) != null
    })
  }

  test("GifFramesKernel never throws on bit-flipped or garbage animations (r15)") {
    // real multi-frame streams with random byte flips — the flips
    // land in extension labels, GCE fields, descriptors, local color
    // tables, and the per-frame LZW code streams
    val seeds = Seq(1L, 2L, 3L, 5L, 7L, 9L, 13L, 21L).map(
      graft.expressions.GifAnimSynthKernel.synth)
    val genCase = for {
      src <- Gen.oneOf(seeds)
      nFlips <- Gen.choose(1, 8)
      flips <- Gen.listOfN(nFlips, for {
        pos <- Gen.choose(0, src.length - 1)
        v <- Gen.choose(Byte.MinValue, Byte.MaxValue)
      } yield (pos, v))
    } yield {
      val c = src.clone()
      flips.foreach { case (pos, v) => c(pos) = v }
      c
    }
    checkProp(Prop.forAllNoShrink(genCase) { p =>
      graft.expressions.GifFramesKernel.parse(p)
      true // value or null, never a throw
    })
    checkProp(Prop.forAllNoShrink(
      withPrefix("GIF89a".getBytes("US-ASCII"))) { p =>
      graft.expressions.GifFramesKernel.parse(p)
      true
    })
  }

  test("Webp.parse (RIFF walk) never throws and flags garbage invalid (r14)") {
    // no kernel here — the parse is a declarative projection — so the
    // fuzz drives the EXPRESSION through a real Spark job: random
    // bytes behind the RIFF/WEBP magic plus each codec fourcc, biased
    // into the bitfield arithmetic
    import spark.implicits._
    val rnd = new scala.util.Random(1337)
    val magics = Seq[Array[Byte]](
      Array.empty,
      "RIFF".getBytes("US-ASCII"),
      "RIFF\u0016\u0000\u0000\u0000WEBP".getBytes("US-ASCII"),
      "RIFF\u0016\u0000\u0000\u0000WEBPVP8 ".getBytes("US-ASCII"),
      "RIFF\u0012\u0000\u0000\u0000WEBPVP8L".getBytes("US-ASCII"),
      "RIFF\u0016\u0000\u0000\u0000WEBPVP8X".getBytes("US-ASCII"))
    val rows = (0 until 240).map { i =>
      val tail = new Array[Byte](rnd.nextInt(48))
      rnd.nextBytes(tail)
      (i.toLong, magics(i % magics.size) ++ tail)
    }
    val df = rows.toDF("doc_id", "payload")
    val got = graft.multimodal.Binary.Webp.parse(df).collect()
    assert(got.length == 240)
    // and the full triage routes the same garbage without throwing
    val triaged = graft.multimodal.Binary.triage(df).collect()
    assert(triaged.length == 240)
  }

  test("MinhashSignature never throws on null, empty, null-element, surrogate or long shingle sets") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    val k = graft.dedup.Dedup.MinhashK
    val kernel = graft.expressions.MinhashSignature(
      BoundReference(0, ArrayType(StringType, containsNull = true), nullable = true), k)
    val genShingle: Gen[String] = Gen.oneOf(
      Gen.asciiPrintableStr,
      Gen.listOf(Gen.choose('\uD800', '\uDFFF')).map(_.mkString), // lone/paired surrogates
      Gen.listOf(Gen.choose(Char.MinValue, Char.MaxValue)).map(_.mkString),
      Gen.choose(1000, 20000).map(n => "x" * n))
    val genSet: Gen[Seq[Option[String]]] =
      Gen.listOf(Gen.frequency(8 -> genShingle.map(Some(_)), 1 -> Gen.const(None)))
    checkProp(Prop.forAllNoShrink(genSet) { set =>
      val arr = new GenericArrayData(
        set.map(_.map(UTF8String.fromString).orNull).toArray[Any])
      val out = kernel.eval(InternalRow(arr))
      // a signature of k values exactly when some shingle is non-null
      if (set.exists(_.isDefined))
        out.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].numElements() == k
      else out == null
    })
    assert(kernel.eval(InternalRow(null)) == null)
    assert(kernel.eval(InternalRow(new GenericArrayData(Array.empty[Any]))) == null)
  }
}
