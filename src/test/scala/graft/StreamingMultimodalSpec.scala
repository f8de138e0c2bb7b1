package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.multimodal.Binary
import graft.streaming.Streams

class StreamingMultimodalSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val s: SparkSession = spark

  test("windowedAgg over a bounded stream equals the batch rollup") {
    val batchEv = Tables.load(spark, sfDir, "events")
    val schema = batchEv.schema
    val tmp = tempDir("ev")
    java.nio.file.Files.createSymbolicLink(
      tmp.resolve("events.parquet"), java.nio.file.Paths.get(s"$sfDir/events.parquet"))
    // schema-branched µs projection (int64-nanos OR timestamp-typed ts),
    // decided on the batch-loaded schema before readStream
    val stream = spark.readStream.schema(schema).parquet(tmp.toString)
      .select(timestamp_micros(graft.events.EventOps.microsOfTsCol(batchEv)).as("ts"),
        col("event_type"), col("value"))
    val got = Streams.runOnce(spark, Streams.windowedAgg(stream), "wa_spec", OutputMode.Complete())
      .select(unix_micros(col("window_start")).as("start_us"), col("event_type"),
        col("n_events"), col("sum_value"))
      .orderBy("start_us", "event_type").collect()
    val batch = graft.events.EventOps.hourlyRollup(Tables.load(spark, sfDir, "events"))
      .collect()
    assert(got.length === batch.length)
    got.zip(batch).foreach { case (g, b) =>
      assert(g.getAs[Long]("start_us") === b.getAs[Long]("hour_bucket") * 3600000000L)
      assert(g.getAs[Long]("n_events") === b.getAs[Long]("n_events"))
      assert(g.getAs[Double]("sum_value") === b.getAs[Double]("sum_value"))
    }
  }

  test("windowedApproxUsers: streamed HLL user counts land within the rsd bound of batch exact") {
    val batchEv = Tables.load(spark, sfDir, "events")
    val schema = batchEv.schema
    val tmp = tempDir("evu")
    java.nio.file.Files.createSymbolicLink(
      tmp.resolve("events.parquet"), java.nio.file.Paths.get(s"$sfDir/events.parquet"))
    val stream = spark.readStream.schema(schema).parquet(tmp.toString)
      .select(timestamp_micros(graft.events.EventOps.microsOfTsCol(batchEv)).as("ts"),
        col("event_type"), col("user_id"))
    val got = Streams.runOnce(spark, Streams.windowedApproxUsers(stream), "wau_spec",
        OutputMode.Complete())
      .select(unix_micros(col("window_start")).as("start_us"), col("event_type"),
        col("n_events"), col("approx_users"))
      .collect()
      .map(r => (r.getAs[Long]("start_us"), r.getAs[String]("event_type")) ->
        (r.getAs[Long]("n_events"), r.getAs[Long]("approx_users"))).toMap
    val exact = batchEv
      .withColumn("us", graft.events.EventOps.microsOfTsCol(batchEv))
      .groupBy((expr("us div 3600000000") * 3600000000L).as("start_us"), col("event_type"))
      .agg(count(lit(1)).as("n"), count_distinct(col("user_id")).as("users"))
      .collect()
      .map(r => (r.getAs[Long]("start_us"), r.getAs[String]("event_type")) ->
        (r.getAs[Long]("n"), r.getAs[Long]("users"))).toMap
    assert(got.keySet === exact.keySet)
    got.foreach { case (k, (n, approx)) =>
      assert(n === exact(k)._1, s"window $k event counts diverge")
      val u = exact(k)._2
      assert(math.abs(approx - u) <= math.max(3.0, 4 * 0.05 * u),
        s"window $k: HLL $approx vs exact $u outside 4σ")
    }
  }

  test("RocksDB state store runs the windowed agg with identical results") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val default = spark.conf.get(key)
    val batchEv = Tables.load(spark, sfDir, "events")
    val schema = batchEv.schema
    def run(tag: String): Array[org.apache.spark.sql.Row] = {
      val tmp = tempDir(s"evr_$tag")
      java.nio.file.Files.createSymbolicLink(
        tmp.resolve("events.parquet"), java.nio.file.Paths.get(s"$sfDir/events.parquet"))
      val stream = spark.readStream.schema(schema).parquet(tmp.toString)
        .select(timestamp_micros(graft.events.EventOps.microsOfTsCol(batchEv)).as("ts"),
          col("event_type"), col("value"))
      Streams.runOnce(spark, Streams.windowedAgg(stream), s"wa_$tag", OutputMode.Complete())
        .select(unix_micros(col("window_start")).as("start_us"), col("event_type"),
          col("n_events"), col("sum_value"))
        .orderBy("start_us", "event_type").collect()
    }
    spark.conf.set(key, GraftSession.RocksDbProvider)
    val rocks = try run("rocks") finally spark.conf.set(key, default)
    assert(rocks.toSeq === run("hdfs").toSeq)
  }

  test("intervalJoinStreams: stream-stream pairs ≡ the batch interval join on the same data") {
    val batchEv = Tables.load(spark, sfDir, "events")
    val schema = batchEv.schema
    def sideStream(tag: String, typ: String): org.apache.spark.sql.DataFrame = {
      val tmp = tempDir(s"ij_$tag")
      java.nio.file.Files.createSymbolicLink(
        tmp.resolve("events.parquet"), java.nio.file.Paths.get(s"$sfDir/events.parquet"))
      spark.readStream.schema(schema).parquet(tmp.toString)
        .filter(col("event_type") === typ)
        .select(timestamp_micros(graft.events.EventOps.microsOfTsCol(batchEv)).as("ts"),
          col("user_id"), col("event_id"))
    }
    val joined = Streams.intervalJoinStreams(
      sideStream("l", "purchase"), sideStream("r", "click"))
    val got = Streams.runOnce(spark, joined, "ij_spec", OutputMode.Append())
      .orderBy("user_id", "l_id", "r_id").collect()
    // batch equivalent on the same frames
    val us = graft.events.EventOps.microsOfTsCol(batchEv)
    val base = batchEv.select(col("event_type"), col("user_id"), col("event_id"), us.as("us"))
    val bl = base.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("l_id"), col("us").as("l_us"))
    val br = base.filter(col("event_type") === "click")
      .select(col("user_id").as("r_user"), col("event_id").as("r_id"), col("us").as("r_us"))
    val batch = bl.join(br,
        col("user_id") === col("r_user") &&
          col("r_us") >= col("l_us") - 300000000L && col("r_us") <= col("l_us") + 300000000L)
      .select(col("user_id"), col("l_id"), col("r_id"),
        (col("r_us") - col("l_us")).as("gap_us"))
      .orderBy("user_id", "l_id", "r_id").collect()
    assert(got.length === batch.length && got.length > 0,
      s"stream ${got.length} vs batch ${batch.length} pairs")
    got.zip(batch).foreach { case (g, b) => assert(g.toSeq === b.toSeq) }
  }

  test("simFingerprint: byte-identical payloads collide; a tail edit stays at small hamming") {
    val base = (1 to 50).map(i => s"frame-content-$i").mkString(" ")
    val samples = Seq(
      (1L, base),
      (2L, base),                       // byte-identical copy
      (3L, base.dropRight(10) + "-- edited"), // tail-modified variant
      (4L, (1 to 50).map(i => s"other-$i").mkString(" ")))
      .toDF("doc_id", "text")
    val res = Binary.simFingerprint(samples).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val fp = (id: Long) => res(id).getAs[Long]("sim_fingerprint")
    // exact copies share the fingerprint; min-id keeps
    assert(fp(1L) === fp(2L))
    assert(res(1L).getAs[Boolean]("keep") && !res(2L).getAs[Boolean]("keep"))
    assert(res(1L).getAs[Long]("group_size") === 2L)
    // tail edit changes only the last sampled frames → nearer to the
    // original than an unrelated payload
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(fp(1L), fp(3L)) < ham(fp(1L), fp(4L)),
      s"tail-edit hamming ${ham(fp(1L), fp(3L))} not below unrelated ${ham(fp(1L), fp(4L))}")
  }

  test("dedupStream state survives a checkpointed restart (no re-emission of pre-restart fingerprints)") {
    val input = MemoryStream[(Long, Long, String)](spark, 5)
    val ckpt = tempDir("graft_ckpt").toString
    val outDir = tempDir("graft_ckpt_out").toString
    def docsOf = input.toDF()
      .select(timestamp_micros(col("_1")).as("ts"), col("_2").as("doc_id"),
        col("_3").as("text"))
    // a FILE sink (not memory): file sinks participate in checkpoint
    // recovery, and their output is exactly-once across restarts
    def start() = Streams.dedupStream(docsOf)
      .select(col("doc_id"), col("fingerprint")).writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("append").format("parquet")
      .option("path", outDir).start()
    input.addData((1000L, 1L, "alpha beta gamma"), (2000L, 2L, "delta epsilon"))
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    assert(spark.read.parquet(outDir).select("doc_id").collect()
      .map(_.getLong(0)).toSet === Set(1L, 2L))
    // doc 3 duplicates doc 1's fingerprint ACROSS the restart boundary —
    // only the recovered state store can know that
    input.addData((3000L, 3L, "alpha beta gamma"), (4000L, 4L, "zeta eta"))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val all = spark.read.parquet(outDir).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(all === Set(1L, 2L, 4L),
      s"restart lost state or re-emitted a pre-restart fingerprint: $all")
  }

  test("Wav.sampleStats: byte-exact PCM decode — negatives, clipping, DC offset") {
    import java.nio.{ByteBuffer, ByteOrder}
    // independent synthesis: real int16 samples incl. negatives and
    // clipped extremes — values the ASCII-text synth corpus cannot emit
    def wav16(samples: Array[Short]): Array[Byte] = {
      val dataLen = samples.length * 2
      val bb = ByteBuffer.allocate(44 + dataLen).order(ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16).putShort(1)
        .putShort(1).putInt(8000).putInt(16000).putShort(2).putShort(16)
        .put("data".getBytes("US-ASCII")).putInt(dataLen)
      samples.foreach(bb.putShort)
      bb.array()
    }
    val s1 = Array[Short](1000, -1000, 32767, -32768, 0, -1)
    val s2 = Array[Short](100, 200)
    val media = Seq((1L, wav16(s1)), (2L, wav16(s2)),
      (90L, "not audio".getBytes("UTF-8"))).toDF("doc_id", "payload")
    val got = Binary.Wav.sampleStats(media).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val r1 = got(1L)
    assert(r1.getAs[Long]("n_samples") === 6L)
    // exact integer recount
    val sum = s1.map(_.toLong).sum
    val sumSq = s1.map(v => v.toLong * v).sum
    assert(r1.getAs[Double]("rms") === math.sqrt(sumSq.toDouble / 6))
    assert(r1.getAs[Long]("peak_abs") === 32768L)
    assert(r1.getAs[Long]("n_clipped") === 2L, "32767 and -32768 both clip")
    assert(r1.getAs[Double]("dc_mean") === sum.toDouble / 6)
    assert(got(2L).getAs[Long]("n_clipped") === 0L)
    assert(!got(90L).getAs[Boolean]("wav_valid") &&
      got(90L).isNullAt(got(90L).fieldIndex("rms")))
    // a 24-bit header must refuse (null stats), not mis-read as 16-bit
    val w24 = {
      import java.nio.{ByteBuffer, ByteOrder}
      val bb = ByteBuffer.allocate(44 + 6).order(ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(42)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16).putShort(1)
        .putShort(1).putInt(8000).putInt(24000).putShort(3).putShort(24)
        .put("data".getBytes("US-ASCII")).putInt(6)
      bb.putShort(1).putShort(2).putShort(3); bb.array()
    }
    val r24 = Binary.Wav.sampleStats(
      Seq((7L, w24)).toDF("doc_id", "payload")).collect().head
    assert(r24.getAs[Boolean]("wav_valid"))
    assert(r24.isNullAt(r24.fieldIndex("n_samples")),
      "24-bit PCM must not silently decode as 16-bit")
  }

  test("Bmp.pixelStats: stride padding skipped, channel means exact, non-24bpp left null") {
    // 2×2 24-bpp image: stride = ((2*24+31)/32)*4 = 8, so each row has
    // 2 padding bytes which are set to 0xFF — a decode that reads the
    // padding would inflate every stat
    import java.nio.{ByteBuffer, ByteOrder}
    def bmp24(pixels: Array[Array[Byte]], w: Int, h: Int): Array[Byte] = {
      val stride = ((w * 24 + 31) / 32) * 4
      val imgSz = stride * h
      val bb = ByteBuffer.allocate(54 + imgSz).order(ByteOrder.LITTLE_ENDIAN)
      bb.put('B'.toByte).put('M'.toByte).putInt(54 + imgSz).putInt(0).putInt(54)
        .putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
        .putInt(0).putInt(imgSz).putInt(0).putInt(0).putInt(0).putInt(0)
      (0 until h).foreach { y =>
        (0 until w).foreach(x => bb.put(pixels(y * w + x)))
        (w * 3 until stride).foreach(_ => bb.put(0xFF.toByte))
      }
      bb.array()
    }
    // BGR triples
    val px = Array(
      Array[Byte](10, 20, 30), Array[Byte](50, 60, 70),
      Array[Byte](0, 0, 0), Array[Byte](100, 110, 120))
    val media = Seq((1L, bmp24(px, 2, 2))).toDF("doc_id", "payload")
    val r = Binary.Bmp.pixelStats(media).collect().head
    assert(r.getAs[Long]("pixels_decoded") === 4L)
    assert(r.getAs[Double]("mean_b") === (10 + 50 + 0 + 100) / 4.0)
    assert(r.getAs[Double]("mean_g") === (20 + 60 + 0 + 110) / 4.0)
    assert(r.getAs[Double]("mean_r") === (30 + 70 + 0 + 120) / 4.0)
    // 0xFF padding must NOT be the peak — padding is skipped
    assert(r.getAs[Long]("peak_byte") === 120L)
    // 16-bpp member: header-valid but stats stay null, not guessed
    val b16 = Seq((2L, {
      val bb = ByteBuffer.allocate(54 + 8).order(ByteOrder.LITTLE_ENDIAN)
      bb.put('B'.toByte).put('M'.toByte).putInt(62).putInt(0).putInt(54)
        .putInt(40).putInt(2).putInt(1).putShort(1).putShort(16)
        .putInt(0).putInt(8).putInt(0).putInt(0).putInt(0).putInt(0)
      bb.putInt(0).putInt(0); bb.array()
    })).toDF("doc_id", "payload")
    val r16 = Binary.Bmp.pixelStats(b16).collect().head
    assert(r16.getAs[Boolean]("bmp_valid"))
    assert(r16.isNullAt(r16.fieldIndex("pixels_decoded")))
    // a LYING header (valid structure, absurd width, tiny payload)
    // must refuse in the kernel's geometry guard, never read OOB
    val lying = Seq((3L, {
      val bb = ByteBuffer.allocate(54).order(ByteOrder.LITTLE_ENDIAN)
      bb.put('B'.toByte).put('M'.toByte).putInt(54).putInt(0).putInt(54)
        .putInt(40).putInt((1 << 20) + 7).putInt(3).putShort(1).putShort(24)
        .putInt(0).putInt(0).putInt(0).putInt(0).putInt(0).putInt(0)
      bb.array()
    })).toDF("doc_id", "payload")
    val rLie = Binary.Bmp.pixelStats(lying).collect().head
    assert(rLie.getAs[Boolean]("bmp_valid"))
    assert(rLie.isNullAt(rLie.fieldIndex("pixels_decoded")),
      "absurd header geometry must null out, not read out of bounds")
  }

  test("PngPixels: real zlib inflate — known pixels, corrupt stream, bad filter, bomb guard") {
    import java.util.zip.{CRC32, Deflater}
    // fully independent synthesis: java.util.zip + manual chunking,
    // shares no code with PngPixels.synthFromDocs
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val td = typ.getBytes("US-ASCII") ++ data
      val crc = new CRC32(); crc.update(td)
      val bb = java.nio.ByteBuffer.allocate(8 + data.length + 4)
      bb.putInt(data.length).put(td).putInt(crc.getValue.toInt)
      bb.array()
    }
    def png(w: Int, h: Int, raster: Array[Byte]): Array[Byte] = {
      val d = new Deflater(6, false); d.setInput(raster); d.finish()
      val buf = new Array[Byte](raster.length * 2 + 64)
      val n = d.deflate(buf); d.end()
      val ihdr = java.nio.ByteBuffer.allocate(13)
        .putInt(w).putInt(h).put(8.toByte).put(2.toByte)
        .put(0.toByte).put(0.toByte).put(0.toByte).array()
      Array(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte,
        0x0D.toByte, 0x0A.toByte, 0x1A.toByte, 0x0A.toByte) ++
        chunk("IHDR", ihdr) ++
        chunk("IDAT", buf.take(n)) ++ chunk("IEND", Array.emptyByteArray)
    }
    // independent FORWARD filter (applies PNG filters to raw rows —
    // the decode must invert it; shares no code with the kernel)
    def paeth(a: Int, b: Int, c: Int): Int = {
      val p = a + b - c
      val (pa, pb, pc) = (math.abs(p - a), math.abs(p - b), math.abs(p - c))
      if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
    }
    def applyFilters(raw: Array[Int], w: Int, h: Int,
        fts: Array[Int]): Array[Byte] = {
      val rowb = 3 * w
      val out = Array.newBuilder[Byte]
      (0 until h).foreach { y =>
        out += fts(y).toByte
        (0 until rowb).foreach { j =>
          val x = raw(y * rowb + j)
          val a = if (j >= 3) raw(y * rowb + j - 3) else 0
          val b = if (y > 0) raw((y - 1) * rowb + j) else 0
          val c = if (y > 0 && j >= 3) raw((y - 1) * rowb + j - 3) else 0
          val pred = fts(y) match {
            case 0 => 0
            case 1 => a
            case 2 => b
            case 3 => (a + b) / 2
            case 4 => paeth(a, b, c)
          }
          out += ((x - pred) & 0xFF).toByte
        }
      }
      out.result()
    }
    // 2×5 RGB with values incl. >127 bytes; one row per filter type
    val raw = (0 until 2 * 5 * 3).map(i => (i * 37 + 11) % 256).toArray
    val good = png(2, 5, applyFilters(raw, 2, 5, Array(0, 1, 2, 3, 4)))
    val badFilter = png(2, 5, applyFilters(raw, 2, 5, Array(0, 0, 0, 0, 0))
      .updated(0, 7.toByte)) // unknown filter type 7 on row 0
    val corrupt = { val c = png(2, 5, applyFilters(raw, 2, 5,
      Array(0, 0, 0, 0, 0))); c(45) = (c(45) ^ 0xFF).toByte; c }
    val media = Seq((1L, good), (2L, badFilter), (3L, corrupt))
      .toDF("doc_id", "payload")
    val got = Binary.PngPixels.pixelStats(media).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val r1 = got(1L)
    // all five filters reconstruct back to the raw bytes
    assert(r1.getAs[Long]("pixels_decoded") === 10L)
    def chanMean(c: Int) =
      raw.indices.filter(_ % 3 == c).map(raw).sum / 10.0
    assert(r1.getAs[Double]("mean_r") === chanMean(0))
    assert(r1.getAs[Double]("mean_g") === chanMean(1))
    assert(r1.getAs[Double]("mean_b") === chanMean(2))
    assert(r1.getAs[Long]("peak_byte") === raw.max.toLong)
    // an unknown filter type must refuse, not guess
    assert(got(2L).isNullAt(got(2L).fieldIndex("pixels_decoded")))
    // corrupt zlib stream: inflate returns null, stats null, no crash
    assert(got(3L).isNullAt(got(3L).fieldIndex("pixels_decoded")))
    // bomb guard: a decode budget below the raster size refuses
    val guarded = Binary.PngPixels.pixelStats(
      Seq((9L, good)).toDF("doc_id", "payload"), maxRasterBytes = 4)
      .collect().head
    assert(guarded.isNullAt(guarded.fieldIndex("pixels_decoded")))
  }

  test("sample-level decode runs natively on a stream: PCM stats ≡ batch row-for-row") {
    // the decode kernels are pure projections, so they run as-is under
    // incremental execution — the triageStream property extended to
    // SAMPLE-level decode (no foreachBatch, no state, restart-safe)
    import java.nio.{ByteBuffer, ByteOrder}
    def wav16(samples: Array[Short]): Array[Byte] = {
      val dataLen = samples.length * 2
      val bb = ByteBuffer.allocate(44 + dataLen).order(ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16).putShort(1)
        .putShort(1).putInt(8000).putInt(16000).putShort(2).putShort(16)
        .put("data".getBytes("US-ASCII")).putInt(dataLen)
      samples.foreach(bb.putShort)
      bb.array()
    }
    val payloads = Seq(
      (1L, wav16(Array[Short](100, -200, 300))),
      (2L, wav16(Array[Short](32767, -32768))),
      (90L, "not audio".getBytes("UTF-8")))
    val input = MemoryStream[(Long, Array[Byte])](spark, 11)
    val decoded = Binary.Wav.sampleStats(
      input.toDF().select(col("_1").as("doc_id"), col("_2").as("payload")))
      .select(col("doc_id"), col("wav_valid"), col("n_samples"), col("rms"),
        col("peak_abs"), col("n_clipped"), col("dc_mean"))
    val q = decoded.writeStream.format("memory")
      .queryName("pcm_stream").outputMode("append").start()
    try {
      input.addData(payloads: _*)
      q.processAllAvailable()
      val streamed = spark.table("pcm_stream").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.toString).toMap
      val batch = Binary.Wav.sampleStats(payloads.toDF("doc_id", "payload"))
        .select(col("doc_id"), col("wav_valid"), col("n_samples"), col("rms"),
          col("peak_abs"), col("n_clipped"), col("dc_mean"))
        .collect().map(r => r.getAs[Long]("doc_id") -> r.toString).toMap
      assert(streamed === batch, "stream decode must equal batch bitwise")
    } finally q.stop()
  }

  test("robotsStream: stream-static rules join, RFC precedence; parity with the batch gate") {
    import spark.implicits._
    val rules = Seq(
      ("ok.org", "/private", false),
      ("ok.org", "/private/pub", true)).toDF("host", "path_prefix", "allow")
    val input = MemoryStream[(Long, Long, String)](spark, 23)
    val frontier = input.toDF()
      .select(timestamp_micros(col("_1")).as("ts"), col("_2").as("doc_id"),
        col("_3").as("url"))
    val gated = Streams.robotsStream(frontier, rules)
      .select(col("doc_id"), col("robots_allowed"))
    val q = gated.writeStream.format("memory")
      .queryName("robots_stream").outputMode("append").start()
    val batch = Seq(
      (1000L, 1L, "https://ok.org/private/x"),
      (2000L, 2L, "https://ok.org/private/pub/y"),
      (3000L, 3L, "https://ok.org/open"),
      (4000L, 4L, "https://norules.net/a"))
    try {
      input.addData(batch: _*)
      q.processAllAvailable()
      val got = spark.table("robots_stream").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("robots_allowed"))
        .toMap
      assert(got === Map(1L -> false, 2L -> true, 3L -> true, 4L -> true))
      // row-for-row parity with the batch gate on the same frontier
      val batchGate = graft.ops.Curation.applyRobots(
          graft.ops.Curation.withUrlParts(
            batch.toDF("ts", "doc_id", "url"), col("url")), rules)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          r.getAs[Boolean]("robots_allowed")).toMap
      assert(batchGate === got)
    } finally q.stop()
  }

  test("curateStream: stateless stage flags map-only; canonical-URL dedup drops the re-crawl") {
    val input = MemoryStream[(Long, Long, String, String)](spark, 7)
    val docs = input.toDF()
      .select(timestamp_micros(col("_1")).as("ts"), col("_2").as("doc_id"),
        col("_3").as("url"), col("_4").as("text"))
    val curated = Streams.curateStream(docs,
      blockedDomains = Seq("bad.com"), blockedTerms = Seq("bad"))
    val q = curated.writeStream.format("memory")
      .queryName("curated_stream").outputMode("append").start()
    try {
      input.addData(
        (1000L, 1L, "https://ok.org/page", "clean text"),
        // the SAME page re-crawled via a tracking link: canonicalize
        // runs BEFORE the dedup key, so this drops
        (2000L, 2L, "https://ok.org/page?utm_source=feed#f", "clean text"),
        (3000L, 3L, "https://www.bad.com/x", "clean text"),
        (4000L, 4L, "https://fine.net/y", "bad bad bad things"),
        // TWO records with no parseable URL: null canonicals must not
        // fold into one dedup group — neither may vanish
        (5000L, 5L, null, "clean text"),
        (6000L, 6L, null, "clean text"))
      q.processAllAvailable()
      val rows = spark.table("curated_stream").collect()
        .map(r => r.getAs[Long]("doc_id") -> r).toMap
      assert(rows.keySet === Set(1L, 3L, 4L, 5L, 6L),
        "tracking-link re-crawl must dedup; null-URL records must both survive")
      assert(rows(1L).getAs[Boolean]("keep"))
      assert(rows(3L).getAs[Boolean]("domain_blocked") && !rows(3L).getAs[Boolean]("keep"))
      assert(rows(4L).getAs[Long]("n_blocked_hits") === 3L &&
        !rows(4L).getAs[Boolean]("keep"))
      assert(rows(1L).getAs[String]("canonical_url") === "https://ok.org/page")
    } finally q.stop()
  }

  test("webCurateStream: extraction+flags map-only, parity with batch signals; horizon dedup on extracted content") {
    val prose = (1 to 35).map(i => s"word$i content").mkString(" ")
    val input = MemoryStream[(Long, Long, String)](spark, 17)
    val pages = input.toDF()
      .select(timestamp_micros(col("_1")).as("ts"), col("_2").as("doc_id"),
        col("_3").as("html"))
    val curated = Streams.webCurateStream(pages)
    val q = curated.writeStream.format("memory")
      .queryName("web_curated").outputMode("append").start()
    val rawPages = Seq(
      (1000L, 1L, s"<html><body><p>$prose</p></body></html>"),
      // different MARKUP, same extracted text → horizon dedup drops it
      (2000L, 2L, s"<div><p>$prose</p></div>"),
      (3000L, 3L, (1 to 40).map(i => s"""<a href="http://x/$i">z</a>""").mkString),
      (4000L, 4L, "<p>спам спам спам 垃圾垃圾垃圾 spam spam</p>"))
    try {
      input.addData(rawPages: _*)
      q.processAllAvailable()
      val rows = spark.table("web_curated").collect()
        .map(r => r.getAs[Long]("doc_id") -> r).toMap
      assert(rows.keySet === Set(1L, 3L, 4L),
        "same extracted content must dedup within the horizon")
      assert(rows(1L).getAs[Boolean]("keep"))
      assert(rows(3L).getAs[Double]("text_ratio") < 0.1 && !rows(3L).getAs[Boolean]("keep"))
      assert(rows(4L).getAs[Double]("script_ratio") < 0.5 && !rows(4L).getAs[Boolean]("keep"))
      // parity: the stream's stateless signals are the batch pipeline's
      val batch = graft.ops.Pipeline.webCurate(
        rawPages.map { case (_, id, h) => (id, h) }.toDF("doc_id", "html"))
        .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
      for (id <- Seq(1L, 3L, 4L)) {
        assert(rows(id).getAs[Double]("text_ratio") === batch(id).getAs[Double]("text_ratio"))
        assert(rows(id).getAs[String]("dominant_script") === batch(id).getAs[String]("dominant_script"))
        assert(rows(id).getAs[Double]("quality_score") === batch(id).getAs[Double]("quality_score"))
      }
    } finally q.stop()
  }

  test("dedupStreamAgainstCorpus: corpus dup bloom-flagged, fresh doc definitively new, within-stream dup dropped") {
    val corpus = Seq((1L, "alpha beta gamma delta"), (2L, "epsilon zeta eta"))
      .toDF("doc_id", "text")
    case class StreamDoc(ts: java.sql.Timestamp, doc_id: Long, text: String)
    val input = MemoryStream[(Long, Long, String)](spark, 2)
    input.addData(
      (1000L, 101L, "alpha beta gamma delta"),  // duplicates corpus doc 1
      (2000L, 102L, "totally fresh content here"),
      (3000L, 103L, "totally fresh content here")) // within-stream dup of 102
    val docs = input.toDF()
      .select(timestamp_micros(col("_1")).as("ts"), col("_2").as("doc_id"),
        col("_3").as("text"))
    val (gated, bloomHandle) = Streams.dedupStreamAgainstCorpus(docs, corpus)
    val out = Streams.runOnce(spark, gated, "sdc_spec", OutputMode.Append())
      .select(col("doc_id"), col("corpus_hit")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("corpus_hit")).toMap
    // the returned handle releases the session-lifetime broadcast once
    // the query is done (the ADVICE leak: ~1.2 GB per invocation at
    // 10⁹-fingerprint corpus scale)
    bloomHandle.unpersist(false)
    // within-stream dup dropped: only one of 102/103 survives
    assert(out.size === 2)
    assert(out(101L) === true,
      "a corpus duplicate must bloom-flag (no false negatives)")
    val freshId = if (out.contains(102L)) 102L else 103L
    assert(out(freshId) === false,
      "a fresh doc should probe negative at this fpp/corpus size")
  }

  test("nearDupStreamAgainstSignatures: planted NEAR-dup caught across the corpus boundary, exact and fresh flagged right") {
    val corpusTexts = Seq(
      (1L, (1 to 30).map(i => s"alpha$i").mkString(" ")),
      (2L, (1 to 30).map(i => s"beta$i").mkString(" ")))
    val corpus = corpusTexts.toDF("doc_id", "text")
    val tmp = tempDir("graft_stream_sig").toString
    graft.dedup.Dedup.saveSignatures(corpus, "graft_stream_sig_spec",
      path = Some(s"$tmp/tbl"))
    val (fp, bands) = graft.dedup.Dedup.loadSignatures(spark, "graft_stream_sig_spec")
    val input = MemoryStream[(Long, String)](spark, 7)
    input.addData(
      (201L, corpusTexts.head._2),                                 // exact corpus dup
      (202L, corpusTexts(1)._2.split(" ").drop(3).mkString(" ")),  // near-dup (j ≈ 0.89)
      (203L, (1 to 30).map(i => s"fresh$i").mkString(" ")))        // genuinely new
    val docs = input.toDF().select(col("_1").as("doc_id"), col("_2").as("text"))
    val got = scala.collection.concurrent.TrieMap.empty[Long, (Boolean, Boolean, Boolean)]
    val q = Streams.nearDupStreamAgainstSignatures(docs, fp, bands, corpus,
        minJaccard = 0.5) { (flags, _) =>
      flags.collect().foreach { r =>
        got(r.getAs[Long]("doc_id")) = (r.getAs[Boolean]("exact_dup"),
          r.getAs[Boolean]("near_dup"), r.getAs[Boolean]("keep"))
      }
    }.start()
    try q.processAllAvailable() finally q.stop()
    assert(got(201L)._1 === true, s"exact corpus dup missed: ${got.get(201L)}")
    assert(got(201L)._3 === false)
    // the item dedupStreamAgainstCorpus cannot catch: no exact
    // fingerprint match, flagged through the persisted minhash bands
    assert(got(202L)._1 === false && got(202L)._2 === true,
      s"NEAR corpus dup missed across the stream/corpus boundary: ${got.get(202L)}")
    assert(got(203L) === ((false, false, true)), s"fresh doc flagged: ${got.get(203L)}")
    spark.sql("DROP TABLE IF EXISTS graft_stream_sig_spec")
    spark.sql("DROP TABLE IF EXISTS graft_stream_sig_spec_fp")
  }

  test("scoreLmStream: micro-batch perplexity ≡ batch scoring from the LM at rest") {
    val docs = Tables.load(spark, sfDir, "documents")
    val tmp = tempDir("graft_lm_stream").toString
    graft.text.TextAnalysis.saveLm(docs, "graft_lm_stream_spec", path = Some(s"$tmp/tbl"))
    val texts = docs.filter(col("doc_id") < 4)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val input = MemoryStream[(Long, String)](spark, 41)
    input.addData(texts.take(2).toSeq: _*)
    input.addData(texts.drop(2).toSeq: _*)
    val stream = input.toDF().select(col("_1").as("doc_id"), col("_2").as("text"))
    val got = scala.collection.concurrent.TrieMap.empty[Long, (Long, Double)]
    val q = Streams.scoreLmStream(stream, "graft_lm_stream_spec") { (scored, _) =>
      scored.collect().foreach(r => got(r.getAs[Long]("doc_id")) =
        (r.getAs[Long]("n_bigrams"), r.getAs[Double]("sum_logp")))
    }.start()
    try q.processAllAvailable() finally q.stop()
    val batch = graft.text.TextAnalysis
      .ngramLmScoreOnLm(docs.filter(col("doc_id") < 4), "graft_lm_stream_spec")
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Double]("sum_logp"))).toMap
    assert(got.toMap === batch && batch.size === 4)
    spark.sql("DROP TABLE IF EXISTS graft_lm_stream_spec")
    spark.sql("DROP TABLE IF EXISTS graft_lm_stream_spec_uni")
  }

  test("triageStream: triage runs natively as a streaming projection, batch-identical") {
    val docs = Tables.load(spark, sfDir, "documents").limit(60)
    val media = Binary.Jpeg.synthFromDocs(docs)
    val tmp = tempDir("triage_stream")
    media.write.parquet(s"$tmp/in")
    val stream = spark.readStream.schema(media.schema).parquet(s"$tmp/in")
    val got = Streams.runOnce(spark, Streams.triageStream(stream), "triage_stream_spec",
        OutputMode.Append())
      .orderBy(col("doc_id")).collect().map(_.toString)
    val batch = Binary.triage(media).orderBy(col("doc_id")).collect().map(_.toString)
    assert(got.toSeq === batch.toSeq && got.nonEmpty)
  }

  test("Jpeg.synthFromDocs: entropy data is a FIXED 8 bytes even for short texts") {
    import spark.implicits._
    // texts shorter than 8 bytes used to shrink the entropy segment,
    // breaking the triage oracle's constant data(8) size term — the
    // padded synth keeps payload size a pure function of doc_id + the
    // least()-mirrored comment lengths
    val cases = Seq((3L, "ab"), (5L, ""), (6L, "abcdef"), (9L, "x"), (11L, "longer than eight"))
    val docs = cases.toDF("doc_id", "text")
    val media = Binary.Jpeg.synthFromDocs(docs, invalidEvery = 1000)
    val textLen = cases.toMap.view.mapValues(_.getBytes("UTF-8").length.toLong).toMap
    media.collect().foreach { r =>
      val d = r.getAs[Long]("doc_id")
      val p = r.getAs[Array[Byte]]("payload")
      val tb = textLen(d)
      val c1 = math.min(tb, 5 + d % 37)
      val hasCom2 = d % 3 == 0
      val c2 = if (hasCom2) math.min(math.max(tb - 5, 0), 3 + d % 11) else 0L
      val nc = if (d % 5 == 0) 1 else 3
      // SOI + APP0(18) + COM1 hdr+body + optional COM2 + SOF + SOS +
      // fixed data(8) + EOI
      val expected = 2 + 18 + (4 + c1) + (if (hasCom2) 4 + c2 else 0) +
        (2 + nc * 3 + 8) + (2 + (if (nc == 1) 8 else 12)) + 8 + 2
      assert(p.length.toLong === expected, s"doc $d payload size")
      assert((p(p.length - 2) & 0xFF) === 0xFF && (p(p.length - 1) & 0xFF) === 0xD9)
    }
    Binary.Jpeg.parse(media).collect().foreach { r =>
      assert(r.getAs[Boolean]("jpeg_valid"), s"doc ${r.getAs[Long]("doc_id")}")
    }
  }

  test("queryTopKStream: streamed queries against the at-rest LSH index ≡ batch serving") {
    import graft.lsh.{LshIndex, LshParams}
    val emb = Tables.load(spark, sfDir, "embeddings")
    val p = LshParams(dim = 64, numPerm = 32, numBands = Some(8), rowsPerBand = Some(4))
    val tmp = tempDir("graft_qstream").toString
    LshIndex.saveBucketed(LshIndex.build(emb, p), p, "graft_qstream_spec",
      nBuckets = 4, path = Some(s"$tmp/tbl"))
    val queryVecs = emb.filter(col("vec_id") < 6)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getSeq[Float](1)))
    val input = MemoryStream[(Long, Seq[Float])](spark, 31)
    input.addData(queryVecs.take(3).toSeq: _*) // two micro-batches:
    input.addData(queryVecs.drop(3).toSeq: _*) // queries are stateless rows
    val stream = input.toDF().select(col("_1").as("vec_id"), col("_2").as("embedding"))
    val got = scala.collection.concurrent.TrieMap.empty[(Long, Long), Long]
    val q = Streams.queryTopKStream(stream, "graft_qstream_spec", k = 10) { (res, _) =>
      res.collect().foreach(r => got(
        (r.getAs[Long]("q_id"), r.getAs[Long]("rn"))) = r.getAs[Long]("cand_id"))
    }.start()
    try q.processAllAvailable() finally q.stop()
    // union of per-batch results ≡ one batch serve of all 6 queries
    val (loaded, lp) = LshIndex.loadBucketed(spark, "graft_qstream_spec")
    val batch = LshIndex.topKOnIndex(loaded, emb.filter(col("vec_id") < 6), lp, 10)
      .collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rn")) -> r.getAs[Long]("cand_id"))
      .toMap
    assert(got.toMap === batch, "streamed top-k diverged from batch serving")
    assert(batch.nonEmpty)
    spark.sql("DROP TABLE IF EXISTS graft_qstream_spec")
  }

  test("searchManyStream: streamed query batches against the at-rest SearchIndex ≡ searchTopKBatch") {
    import graft.text.{SearchIndex, TextAnalysis}
    val docs = Tables.load(spark, sfDir, "documents")
    val tmp = tempDir("graft_search_stream").toString
    SearchIndex.save(docs, "graft_search_stream_spec", nBuckets = 4, path = Some(s"$tmp/tbl"))
    val rows = TextAnalysis.BatchQueries
    val input = MemoryStream[(Long, String)](spark, 33)
    input.addData(rows.filter(_._1 == 0L): _*) // two micro-batches:
    input.addData(rows.filter(_._1 != 0L): _*) // queries are stateless rows
    val stream = input.toDF().select(col("_1").as("query_id"), col("_2").as("token"))
    val got = scala.collection.concurrent.TrieMap.empty[(Long, Long), (Long, Long)]
    val q = Streams.searchManyStream(stream, "graft_search_stream_spec", k = 10) { (res, _) =>
      res.collect().foreach(r => got((r.getAs[Long]("query_id"), r.getAs[Long]("rn"))) =
        (r.getAs[Long]("doc_id"), java.lang.Double.doubleToLongBits(r.getAs[Double]("score"))))
    }.start()
    try q.processAllAvailable() finally q.stop()
    // union of per-batch results ≡ one batch serve of all queries, bitwise
    val batch = SearchIndex.searchTopKBatch(SearchIndex.load(spark, "graft_search_stream_spec"),
        rows.toDF("query_id", "token"), k = 10).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rn")) ->
        (r.getAs[Long]("doc_id"), java.lang.Double.doubleToLongBits(r.getAs[Double]("score"))))
      .toMap
    assert(got.toMap === batch, "streamed BM25 top-k diverged from batch serving")
    assert(batch.keySet.map(_._1) === rows.map(_._1).toSet)
    spark.sql("DROP TABLE IF EXISTS graft_search_stream_spec")
    spark.sql("DROP TABLE IF EXISTS graft_search_stream_spec_doclen")
  }

  test("scoreQualityStream / scoreLangStream: micro-batch scores ≡ batch scoring from the persisted model") {
    import graft.text.{LangClassifier, QualityClassifier}
    val sent = "the project team reviewed all of the results and found that " +
      "the data was sound because every test in the set passed with a clear margin today"
    val docs = ((0 until 40).map(i => (i.toLong, s"$sent item$i $sent")) ++
      (40 until 80).map(i => (i.toLong, s"### 123 456 ### $i ###"))).toDF("doc_id", "text")
    val tmp = tempDir("graft_stream_model").toString
    val qm = QualityClassifier.train(docs, QualityClassifier.weakLabels(docs), d = 64)
    QualityClassifier.saveModel(qm, spark, "graft_stream_qm_spec",
      path = Some(s"$tmp/qm"))
    val input = MemoryStream[(Long, String)](spark, 21)
    input.addData((0L, s"$sent item0 $sent"), (41L, "### 123 456 ### 41 ###"))
    input.addData((7L, s"$sent item7 $sent"))
    val stream = input.toDF().select(col("_1").as("doc_id"), col("_2").as("text"))
    val got = scala.collection.concurrent.TrieMap.empty[Long, (Double, Int)]
    val q = Streams.scoreQualityStream(stream, "graft_stream_qm_spec") { (scored, _) =>
      scored.collect().foreach(r => got(r.getAs[Long]("doc_id")) =
        (r.getAs[Double]("quality_prob"), r.getAs[Int]("quality_pred")))
    }.start()
    try q.processAllAvailable() finally q.stop()
    // bitwise-identical to batch scoring from the same persisted weights:
    // same feature pass, same plan-literal weights, same sigmoid
    val batch = QualityClassifier.score(
      docs.filter(col("doc_id").isin(0L, 7L, 41L)),
      QualityClassifier.loadModel(spark, "graft_stream_qm_spec")).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Double]("quality_prob"), r.getAs[Int]("quality_pred"))).toMap
    assert(got.toMap === batch, s"stream $got vs batch $batch")
    assert(got(0L)._2 === 1 && got(41L)._2 === 0)
    // language model: same persisted-weights path, multinomial serving
    val planted = LangClassifier.plantedCorpus(docs)
    val lm = LangClassifier.train(planted, d = 64)
    LangClassifier.saveModel(lm, spark, "graft_stream_lm_spec",
      path = Some(s"$tmp/lm"))
    val sample = planted.orderBy(col("doc_id")).limit(3)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
    val linput = MemoryStream[(Long, String)](spark, 22)
    linput.addData(sample.toIndexedSeq)
    val lstream = linput.toDF().select(col("_1").as("doc_id"), col("_2").as("text"))
    val lgot = scala.collection.concurrent.TrieMap.empty[Long, String]
    val lq = Streams.scoreLangStream(lstream, "graft_stream_lm_spec") { (scored, _) =>
      scored.collect().foreach(r =>
        lgot(r.getAs[Long]("doc_id")) = r.getAs[String]("pred_lang"))
    }.start()
    try lq.processAllAvailable() finally lq.stop()
    val lbatch = LangClassifier.score(
      planted.filter(col("doc_id").isin(sample.map(_._1): _*)),
      LangClassifier.loadModel(spark, "graft_stream_lm_spec")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("pred_lang")).toMap
    assert(lgot.toMap === lbatch, s"stream $lgot vs batch $lbatch")
    spark.sql("DROP TABLE IF EXISTS graft_stream_qm_spec")
    spark.sql("DROP TABLE IF EXISTS graft_stream_lm_spec")
  }

  test("stateful sessionize emits closed sessions with correct bounds") {
    val input = MemoryStream[Streams.SessionEvent](spark, 1)
    val hour = 3600L * 1000000L
    // user 1: two events 5 min apart, then a 2h gap, then one more →
    // first session (2 events) closes when the third event arrives
    input.addData(
      Streams.SessionEvent(1L, 1L, hour),
      Streams.SessionEvent(1L, 2L, hour + 300L * 1000000L),
      Streams.SessionEvent(1L, 3L, hour * 4))
    val q = Streams.sessionize(input.toDF())
      .writeStream.outputMode("append").format("memory").queryName("sess_spec").start()
    // processAllAvailable never settles while processing-time timeout
    // timers are pending — poll the sink for the closed session instead
    val deadline = System.currentTimeMillis() + 60000
    try {
      while (spark.table("sess_spec").isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(250)
    } finally q.stop()
    val out = spark.table("sess_spec").collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[Long]("user_id") === 1L)
    assert(r.getAs[Long]("start_us") === hour)
    assert(r.getAs[Long]("end_us") === hour + 300L * 1000000L)
    assert(r.getAs[Long]("n_events") === 2L)
  }

  test("event-time sessionize: different replay batch splits yield identical sessions") {
    val hour = 3600L * 1000000L
    def ev(u: Long, id: Long, us: Long) =
      Streams.TsEvent(u, id, new java.sql.Timestamp(us / 1000L))
    // user 1: two events 5 min apart (one session), then one at a 2.5h
    // gap (second session); user 2: a singleton session
    val all = Seq(
      ev(1L, 1L, hour), ev(1L, 2L, hour + 300L * 1000000L),
      ev(2L, 4L, 2L * hour),
      ev(1L, 3L, 4L * hour))
    // sentinel user pushes the watermark far past every end+gap so the
    // event-time timers flush the open sessions; two batches so the
    // final flush happens inside a DATA batch (no reliance on the
    // trailing no-data batch racing processAllAvailable)
    val closers = Seq(ev(999L, 100L, 100L * hour), ev(999L, 101L, 101L * hour))
    def run(name: String, batches: Seq[Seq[Streams.TsEvent]]): Set[(Long, Long, Long, Long)] = {
      val input = MemoryStream[Streams.TsEvent](spark, 1)
      val q = Streams.sessionizeEventTime(input.toDF())
        .writeStream.outputMode("append").format("memory").queryName(name).start()
      try {
        (batches ++ closers.map(Seq(_))).foreach { b =>
          input.addData(b: _*); q.processAllAvailable()
        }
        val deadline = System.currentTimeMillis() + 30000
        while (spark.table(name).filter(col("user_id") < 900).count() < 3 &&
            System.currentTimeMillis() < deadline) {
          Thread.sleep(200); q.processAllAvailable()
        }
      } finally q.stop()
      spark.table(name).filter(col("user_id") < 900).collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_us"),
          r.getAs[Long]("end_us"), r.getAs[Long]("n_events"))).toSet
    }
    val expected = Set(
      (1L, hour, hour + 300L * 1000000L, 2L),
      (1L, 4L * hour, 4L * hour, 1L),
      (2L, 2L * hour, 2L * hour, 1L))
    // one big batch vs one-event-per-batch replay: identical sessions —
    // the determinism the processing-time variant can't give
    assert(run("ets_one", Seq(all)) === expected)
    assert(run("ets_split", all.map(Seq(_))) === expected)
  }

  test("sessionWindows (built-in session_window) merges the same gap structure") {
    val hour = 3600L * 1000000L
    def ev(u: Long, id: Long, us: Long) =
      Streams.TsEvent(u, id, new java.sql.Timestamp(us / 1000L))
    val input = MemoryStream[Streams.TsEvent](spark, 1)
    val q = Streams.sessionWindows(input.toDF().select(col("ts"), col("user_id")))
      .writeStream.outputMode("append").format("memory").queryName("sw_spec").start()
    try {
      input.addData(ev(1L, 1L, hour), ev(1L, 2L, hour + 300L * 1000000L),
        ev(2L, 4L, 2L * hour), ev(1L, 3L, 4L * hour))
      q.processAllAvailable()
      input.addData(ev(999L, 100L, 100L * hour)); q.processAllAvailable()
      input.addData(ev(999L, 101L, 101L * hour)); q.processAllAvailable()
      val deadline = System.currentTimeMillis() + 30000
      while (spark.table("sw_spec").filter(col("user_id") < 900).count() < 3 &&
          System.currentTimeMillis() < deadline) {
        Thread.sleep(200); q.processAllAvailable()
      }
    } finally q.stop()
    val gapUs = 30L * 60L * 1000000L
    val got = spark.table("sw_spec").filter(col("user_id") < 900).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_us"),
        r.getAs[Long]("end_us"), r.getAs[Long]("n_events"))).toSet
    // session_window's end = last event + gap
    assert(got === Set(
      (1L, hour, hour + 300L * 1000000L + gapUs, 2L),
      (1L, 4L * hour, 4L * hour + gapUs, 1L),
      (2L, 2L * hour, 2L * hour + gapUs, 1L)))
  }

  // independent synthesis path for the WAV parser: java.nio ByteBuffer
  // little-endian writes — shares NO code with Wav.synthFromDocs's
  // hex-string encoder, so agreement pins the real byte layout
  private def wavBytes(channels: Int, rate: Int, bits: Int,
      data: Array[Byte]): Array[Byte] = {
    import java.nio.{ByteBuffer, ByteOrder}
    val ba = channels * bits / 8
    val buf = ByteBuffer.allocate(44 + data.length).order(ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + data.length)
    buf.put("WAVE".getBytes("US-ASCII"))
    buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(channels.toShort).putInt(rate).putInt(rate * ba)
      .putShort(ba.toShort).putShort(bits.toShort)
    buf.put("data".getBytes("US-ASCII")).putInt(data.length).put(data)
    buf.array()
  }

  test("Wav.parse recovers exact fields from ByteBuffer-built headers") {
    val cases = Seq(
      (1L, 1, 8000, 16, Array.fill[Byte](320)(7)),
      (2L, 2, 44100, 16, Array.fill[Byte](17640)(-1)),
      (3L, 2, 16000, 8, Array.emptyByteArray),
      (4L, 1, 24000, 8, Array.tabulate[Byte](999)(_.toByte)))
    val corrupt = Seq(
      (90L, "not a wav at all".getBytes("UTF-8")),              // no magic
      (91L, wavBytes(1, 8000, 16, Array.fill[Byte](10)(1)).take(40)), // truncated
      (92L, {                                                   // non-PCM format tag
        val b = wavBytes(1, 8000, 16, Array.fill[Byte](10)(1)); b(20) = 3; b
      }))
    val media = (cases.map { case (id, ch, rate, bits, data) =>
      (id, wavBytes(ch, rate, bits, data)) } ++ corrupt).toDF("doc_id", "payload")
    val got = Binary.Wav.parse(media).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    cases.foreach { case (id, ch, rate, bits, data) =>
      val r = got(id)
      val ba = ch * bits / 8
      assert(r.getAs[Boolean]("wav_valid"), s"doc $id should parse as WAV")
      assert(r.getAs[Long]("channels") === ch.toLong)
      assert(r.getAs[Long]("sample_rate") === rate.toLong)
      assert(r.getAs[Long]("byte_rate") === (rate * ba).toLong)
      assert(r.getAs[Long]("block_align") === ba.toLong)
      assert(r.getAs[Long]("bits_per_sample") === bits.toLong)
      assert(r.getAs[Long]("data_bytes") === data.length.toLong)
      assert(r.getAs[Long]("duration_ms") === data.length.toLong * 1000 / (rate * ba))
      assert(r.getAs[Boolean]("header_consistent"))
    }
    corrupt.foreach { case (id, _) =>
      val r = got(id)
      assert(!r.getAs[Boolean]("wav_valid"), s"doc $id must be rejected")
      assert(r.isNullAt(r.fieldIndex("channels")) && r.isNullAt(r.fieldIndex("duration_ms")))
    }
  }

  test("Wav synth∘parse is map-only and header_consistent corpus-wide") {
    val docs = Tables.load(spark, sfDir, "documents")
    val parsed = Binary.Wav.parse(Binary.Wav.synthFromDocs(docs))
    val phys = parsed.queryExecution.executedPlan.toString
    assert(!phys.contains("Exchange"), s"Wav parse shuffles:\n$phys")
    assert(!phys.contains("BatchEvalPython") && !phys.contains("UDF"),
      s"Wav parse leaves codegen:\n$phys")
    val agg = parsed.agg(
      count(lit(1)).as("n"),
      sum(when(col("wav_valid"), 1L).otherwise(0L)).as("n_valid"),
      sum(when(col("header_consistent"), 1L).otherwise(0L)).as("n_consistent"),
      sum(when(col("wav_valid") && !col("header_consistent"), 1L).otherwise(0L)).as("bad")
    ).collect()(0)
    val n = agg.getAs[Long]("n")
    assert(n > 0 && agg.getAs[Long]("bad") === 0L)
    assert(agg.getAs[Long]("n_valid") === agg.getAs[Long]("n_consistent"))
    // the planted invalid stripe (doc_id % 10 == 0) is really invalid
    val invalid = n - agg.getAs[Long]("n_valid")
    val expectedInvalid = docs.filter(col("doc_id") % 10 === 0).count()
    assert(invalid === expectedInvalid)
  }

  // independent synthesis path for the PNG parser: java.nio ByteBuffer
  // big-endian writes + java.util.zip.CRC32 — shares NO code with
  // Png.synthFromDocs's hex-string encoder or Spark's crc32
  private def pngBytes(width: Int, height: Int, depth: Int, colorType: Int,
      interlace: Int, data: Array[Byte]): Array[Byte] = {
    import java.nio.ByteBuffer
    def chunk(typ: String, payload: Array[Byte]): Array[Byte] = {
      val td = typ.getBytes("US-ASCII") ++ payload
      val crc = new java.util.zip.CRC32(); crc.update(td)
      ByteBuffer.allocate(12 + payload.length)
        .putInt(payload.length).put(td).putInt(crc.getValue.toInt).array()
    }
    val ihdr = ByteBuffer.allocate(13).putInt(width).putInt(height)
      .put(depth.toByte).put(colorType.toByte)
      .put(0.toByte).put(0.toByte).put(interlace.toByte).array()
    Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A) ++
      chunk("IHDR", ihdr) ++ chunk("IDAT", data) ++ chunk("IEND", Array.emptyByteArray)
  }

  test("Png.parse recovers exact fields and verifies CRCs from ByteBuffer-built files") {
    val cases = Seq(
      (1L, 640, 480, 8, 2, 0, Array.fill[Byte](100)(7)),   // truecolor
      (2L, 1, 1, 1, 0, 0, Array.emptyByteArray),           // 1-bit gray, minimal
      (3L, 4096, 2160, 16, 6, 1, Array.fill[Byte](999)(-1)), // RGBA16, interlaced
      (4L, 13, 7, 4, 3, 0, Array.tabulate[Byte](55)(_.toByte))) // palette
    val badCrc = {
      val b = pngBytes(10, 10, 8, 0, 0, Array.fill[Byte](5)(1))
      b(30) = (b(30) ^ 0x55).toByte; b // flip bits inside the stored IHDR CRC
    }
    val illegalDepth = pngBytes(10, 10, 4, 2, 0, Array.fill[Byte](5)(1)) // depth 4 illegal for truecolor
    val corrupt = Seq(
      (90L, "not a png at all padded to enough bytes to pass length".getBytes("UTF-8")),
      (91L, pngBytes(10, 10, 8, 0, 0, Array.fill[Byte](50)(1)).take(30))) // truncated
    val media = (cases.map { case (id, w, h, d, ct, il, data) =>
      (id, pngBytes(w, h, d, ct, il, data)) } ++ corrupt ++
      Seq((92L, badCrc), (93L, illegalDepth))).toDF("doc_id", "payload")
    val got = Binary.Png.parse(media).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val chans = Map(0 -> 1L, 2 -> 3L, 3 -> 1L, 4 -> 2L, 6 -> 4L)
    cases.foreach { case (id, w, h, d, ct, il, data) =>
      val r = got(id)
      assert(r.getAs[Boolean]("png_valid"), s"doc $id should parse as PNG")
      assert(r.getAs[Long]("width") === w.toLong)
      assert(r.getAs[Long]("height") === h.toLong)
      assert(r.getAs[Long]("bit_depth") === d.toLong)
      assert(r.getAs[Long]("color_type") === ct.toLong)
      assert(r.getAs[Long]("interlace") === il.toLong)
      assert(r.getAs[Long]("channels") === chans(ct))
      assert(r.getAs[Long]("n_pixels") === w.toLong * h)
      assert(r.getAs[Long]("idat_bytes") === data.length.toLong)
      assert(r.getAs[Boolean]("ihdr_crc_ok"), s"doc $id CRC must verify")
      assert(r.getAs[Boolean]("header_consistent"))
    }
    corrupt.foreach { case (id, _) =>
      val r = got(id)
      assert(!r.getAs[Boolean]("png_valid"), s"doc $id must be rejected")
      assert(r.isNullAt(r.fieldIndex("width")) && r.isNullAt(r.fieldIndex("n_pixels")))
    }
    // structurally valid but integrity-broken: parsed, CRC flagged
    assert(got(92L).getAs[Boolean]("png_valid"))
    assert(!got(92L).getAs[Boolean]("ihdr_crc_ok"))
    // structurally valid but spec-illegal depth/color combination
    assert(got(93L).getAs[Boolean]("png_valid"))
    assert(!got(93L).getAs[Boolean]("header_consistent"))
    assert(got(93L).getAs[Boolean]("ihdr_crc_ok"))
  }

  test("Png synth∘parse is map-only, CRC-verified and header_consistent corpus-wide") {
    val docs = Tables.load(spark, sfDir, "documents")
    val parsed = Binary.Png.parse(Binary.Png.synthFromDocs(docs))
    val phys = parsed.queryExecution.executedPlan.toString
    assert(!phys.contains("Exchange"), s"Png parse shuffles:\n$phys")
    assert(!phys.contains("BatchEvalPython") && !phys.contains("UDF"),
      s"Png parse leaves codegen:\n$phys")
    val agg = parsed.agg(
      count(lit(1)).as("n"),
      sum(when(col("png_valid"), 1L).otherwise(0L)).as("n_valid"),
      sum(when(col("header_consistent"), 1L).otherwise(0L)).as("n_consistent"),
      sum(when(col("ihdr_crc_ok"), 1L).otherwise(0L)).as("n_crc_ok"),
      sum(when(col("png_valid") && !col("header_consistent"), 1L).otherwise(0L)).as("bad")
    ).collect()(0)
    val n = agg.getAs[Long]("n")
    assert(n > 0 && agg.getAs[Long]("bad") === 0L)
    assert(agg.getAs[Long]("n_valid") === agg.getAs[Long]("n_consistent"))
    // Spark's crc32 ≡ the PNG CRC on every synthesized chunk
    assert(agg.getAs[Long]("n_crc_ok") === agg.getAs[Long]("n_valid"))
    val invalid = n - agg.getAs[Long]("n_valid")
    assert(invalid === docs.filter(col("doc_id") % 10 === 0).count())
  }

  test("triage: magic-byte routing to the right parser; detected-but-corrupt stays invalid") {
    val media = Seq(
      (1L, wavBytes(2, 16000, 16, Array.fill[Byte](6400)(3))), // 100ms of audio
      (2L, pngBytes(20, 10, 8, 2, 0, Array.fill[Byte](50)(9))),
      (3L, "just some text bytes".getBytes("UTF-8")),
      (4L, wavBytes(1, 8000, 16, Array.fill[Byte](10)(1)).take(40)), // truncated RIFF
      (5L, Array.emptyByteArray),
      (6L, jpegBytes(30, 20, 3, false, Seq(Array.fill[Byte](9)(88)))),
      // magic says jpeg, walk finds no frame header: routed, not validated
      (7L, Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 0xD9.toByte))
    ).toDF("doc_id", "payload")
    val got = Binary.triage(media).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("detected"), r.getAs[Long]("payload_bytes"),
          r.getAs[Boolean]("valid"),
          if (r.isNullAt(r.fieldIndex("content_units"))) -1L
          else r.getAs[Long]("content_units"))).toMap
    assert(got(1L) === (("wav", 6444L, true, 100L)))
    assert(got(2L) === (("png", 8 + 25 + 62 + 12L, true, 200L)))
    assert(got(3L) === (("unknown", 20L, false, -1L)))
    // magic says wav, structure says no: detection routes, validity gates
    assert(got(4L) === (("wav", 40L, false, -1L)))
    assert(got(5L) === (("unknown", 0L, false, -1L)))
    // SOI(2) + COM(4+9) + SOF(4+15) + EOI(2) = 36
    assert(got(6L) === (("jpeg", 36L, true, 600L)))
    assert(got(7L) === (("jpeg", 4L, false, -1L)))
    // the whole triage is one narrow projection — no exchange
    val phys = Binary.triage(media).queryExecution.executedPlan.toString
    assert(!phys.contains("Exchange"), s"triage shuffles:\n$phys")

    // construction: triage is one select over the detection (≤ 2
    // Projects above the input), each family parse one withColumns
    import org.apache.spark.sql.catalyst.plans.logical.Project
    def projects(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed.collect { case p: Project => p }.size
    val base = projects(media)
    assert(projects(Binary.triage(media)) - base <= 2)
    val parses: Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)] =
      Seq("wav" -> (Binary.Wav.parse(_)), "png" -> (Binary.Png.parse(_)),
        "jpeg" -> (Binary.Jpeg.parse(_)), "bmp" -> (Binary.Bmp.parse(_)),
        "gif" -> (Binary.Gif.parse(_)), "pdf" -> (Binary.Pdf.parse(_)),
        "mp4" -> (Binary.Mp4.parse(_)), "webp" -> (Binary.Webp.parse(_)),
        "tiff" -> (Binary.Tiff.parse(_)), "mp3" -> (Binary.Mp3.parse(_)),
        "flac" -> (Binary.Flac.parse(_)), "ogg" -> (Binary.Ogg.parse(_)),
        "mkv" -> (Binary.Mkv.parse(_)), "avro" -> (Binary.Avro.parse(_)),
        "parquet" -> (Binary.Parquet.parse(_)), "orc" -> (Binary.Orc.parse(_)),
        "gzip" -> (Binary.Gz.parse(_)), "zstd" -> (Binary.Zstd.parse(_)),
        "ico" -> (Binary.Ico.parse(_)), "heif" -> (Binary.Heif.parse(_)))
    parses.foreach { case (name, parse) =>
      assert(projects(parse(media)) - base === 1, s"$name parse adds one Project")
    }

    // codegen: over a scanned (not local) input the triage projection
    // runs inside whole-stage codegen, and every stage compiles under
    // the huge-method limit (past it Spark silently falls back to the
    // interpreted path)
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    val scanned = spark.createDataFrame(media.rdd, media.schema)
    val tri = Binary.triage(scanned)
    assert(tri.collect().map(_.toString).sorted ===
      Binary.triage(media).collect().map(_.toString).sorted)
    val stages = tri.queryExecution.executedPlan.collect { case w: WholeStageCodegenExec => w }
    assert(stages.nonEmpty, s"triage left whole-stage codegen:\n${tri.queryExecution.executedPlan}")
    val hugeMethodLimit = spark.conf.get("spark.sql.codegen.hugeMethodLimit").toInt
    stages.foreach { stage =>
      val (_, stats) = CodeGenerator.compile(stage.doCodeGen()._2)
      assert(stats.maxMethodCodeSize <= hugeMethodLimit,
        s"stage ${stage.codegenStageId}: ${stats.maxMethodCodeSize} B method")
    }

    // coverage: every family the detector can name has exactly one
    // table row, so no family is detected but never validated
    val rows = Binary.families.groupBy(_.name).map { case (n, fs) => n -> fs.size }
    assert(rows.keySet === graft.expressions.ContainerDetectKernel.Names.keySet)
    assert(rows.values.forall(_ == 1), s"duplicate family rows: $rows")
  }

  test("frameSample: exact byte-range slices with provenance; map-only plan") {
    // 10-byte payload, 4-byte frames, step 2 → frames {0, 2}; the last
    // frame truncates to the remaining 2 bytes
    val tiny = Seq((7L, "abcdefghij"), (8L, "")).toDF("doc_id", "text")
    val res = Binary.frameSample(tiny, frameBytes = 4, step = 2).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("frame_idx")) ->
        (r.getAs[Long]("n_frames"), r.getAs[String]("frame_hex"))).toMap
    assert(res.keySet === Set((7L, 0L), (7L, 2L))) // empty payload: no frames
    assert(res((7L, 0L)) === ((3L, "61626364")))   // "abcd"
    assert(res((7L, 2L)) === ((3L, "696A")))       // "ij" (truncated)
    // zero shuffles: explode + substring is a pure projection
    val phys = Binary.frameSample(Tables.load(spark, sfDir, "documents"))
      .queryExecution.executedPlan.toString
    assert(!phys.contains("Exchange"), s"frameSample shuffles:\n$phys")
  }

  // independent synthesis path for the JPEG parser: java.nio ByteBuffer
  // segment writes — shares NO code with Jpeg.synthFromDocs's
  // hex-string encoder or the JpegKernel walk
  private def jpegBytes(width: Int, height: Int, nComp: Int, progressive: Boolean,
      preamble: Seq[Array[Byte]], fillBytes: Int = 0): Array[Byte] = {
    import java.nio.ByteBuffer
    def seg(marker: Int, payload: Array[Byte]): Array[Byte] =
      ByteBuffer.allocate(4 + payload.length)
        .put(0xFF.toByte).put(marker.toByte)
        .putShort((payload.length + 2).toShort).put(payload).array()
    val comps = (1 to nComp).flatMap(i => Seq(i.toByte, 0x11.toByte, 0.toByte)).toArray
    val sof = ByteBuffer.allocate(6 + comps.length)
      .put(8.toByte).putShort(height.toShort).putShort(width.toShort)
      .put(nComp.toByte).put(comps).array()
    Array[Byte](0xFF.toByte, 0xD8.toByte) ++
      preamble.flatMap(p => seg(0xFE, p)) ++
      Array.fill[Byte](fillBytes)(0xFF.toByte) ++
      seg(if (progressive) 0xC2 else 0xC0, sof) ++
      Array[Byte](0xFF.toByte, 0xD9.toByte)
  }

  // independent synthesis path for the BMP parser: java.nio ByteBuffer
  // little-endian writes — shares NO code with Bmp.synthFromDocs's
  // hex-string encoder
  private def bmpBytes(width: Int, height: Int, bpp: Int,
      compression: Int = 0, dibSize: Int = 40,
      topDown: Boolean = false): Array[Byte] = {
    import java.nio.{ByteBuffer, ByteOrder}
    val stride = ((width * bpp + 31) / 32) * 4
    val imgSz = stride * height
    val bb = ByteBuffer.allocate(54 + imgSz).order(ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte)
      .putInt(54 + imgSz).putInt(0).putInt(54)
      .putInt(dibSize).putInt(width)
      .putInt(if (topDown) -height else height)
      .putShort(1).putShort(bpp.toShort).putInt(compression).putInt(imgSz)
      .putInt(0).putInt(0).putInt(0).putInt(0)
    (0 until imgSz).foreach(i => bb.put((i % 251).toByte))
    bb.array()
  }

  test("Bmp.parse reads the independent LE synthesis; corrupt layouts rejected") {
    import spark.implicits._
    val cases = Seq(
      (1L, bmpBytes(13, 7, 24)),
      (2L, bmpBytes(32, 2, 16)),
      (3L, bmpBytes(10, 10, 32)))
    val corrupt = Seq(
      (90L, "definitely not a bitmap".getBytes("UTF-8")),
      (91L, bmpBytes(13, 7, 24, dibSize = 12)),  // BITMAPCOREHEADER, not INFOHEADER
      (92L, bmpBytes(13, 7, 24).take(20)),       // truncated mid-header
      (93L, Array.emptyByteArray))
    val media = (cases ++ corrupt).toDF("doc_id", "payload")
    val got = Binary.Bmp.parse(media).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    Seq((1L, 13L, 7L, 24L), (2L, 32L, 2L, 16L), (3L, 10L, 10L, 32L)).foreach {
      case (id, w, h, bpp) =>
        val r = got(id)
        assert(r.getAs[Boolean]("bmp_valid"), s"doc $id should parse as BMP")
        assert(r.getAs[Long]("width") === w)
        assert(r.getAs[Long]("height") === h)
        assert(r.getAs[Long]("bits_per_pixel") === bpp)
        assert(r.getAs[Long]("row_stride") === ((w * bpp + 31) / 32) * 4)
        assert(r.getAs[Long]("image_bytes") === r.getAs[Long]("row_stride") * h)
        assert(r.getAs[Boolean]("header_consistent"), s"doc $id consistency")
    }
    // compressed BI_RLE8 parses but fails the consistency gate
    val rle = Seq((5L, bmpBytes(13, 7, 24, compression = 1))).toDF("doc_id", "payload")
    val r5 = Binary.Bmp.parse(rle).collect().head
    assert(r5.getAs[Boolean]("bmp_valid") && !r5.getAs[Boolean]("header_consistent"))
    // top-down BMP: negative int32 height is real-world-valid — the
    // height must be sign-extended and normalized, not read as ~4e9
    val td = Seq((6L, bmpBytes(13, 7, 24, topDown = true))).toDF("doc_id", "payload")
    val r6 = Binary.Bmp.parse(td).collect().head
    assert(r6.getAs[Boolean]("bmp_valid"), "top-down BMP must be valid")
    assert(r6.getAs[Long]("height") === 7L, "height normalized to magnitude")
    assert(r6.getAs[Boolean]("bmp_top_down"), "orientation surfaced")
    assert(r6.getAs[Long]("n_pixels") === 13L * 7L)
    assert(r6.getAs[Boolean]("header_consistent"), "image size reconciles on |height|")
    // bottom-up rows must report bmp_top_down = false
    val r1 = got(1L)
    assert(!r1.getAs[Boolean]("bmp_top_down"))
    corrupt.foreach { case (id, _) =>
      assert(!got(id).getAs[Boolean]("bmp_valid"), s"doc $id must be rejected")
      assert(got(id).isNullAt(got(id).fieldIndex("width")))
    }
  }

  test("Jpeg.parse walks a variable comment train to the SOF; edge markers handled") {
    val cases = Seq(
      (1L, jpegBytes(640, 480, 3, false, Seq(Array.fill[Byte](7)(65)))),
      (2L, jpegBytes(33, 77, 1, true, Seq(Array.fill[Byte](200)(66), Array.fill[Byte](3)(67)))),
      // fill bytes (extra 0xFF padding) before the SOF marker are legal
      (3L, jpegBytes(100, 50, 3, false, Seq.empty, fillBytes = 2)),
      // no comment train at all: SOF directly after SOI
      (4L, jpegBytes(8, 8, 1, false, Seq.empty)))
    val corrupt = Seq(
      (90L, "not a jpeg at all, just text bytes".getBytes("UTF-8")),
      // SOS with no SOF before it: walk must stop, not misread scan data
      (91L, Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 0xDA.toByte,
        0, 8, 1, 1, 0, 0, 0x3F, 0)),
      (92L, jpegBytes(10, 10, 1, false, Seq.empty).take(6)), // truncated mid-segment
      (93L, Array.emptyByteArray))
    val media = (cases ++ corrupt).toDF("doc_id", "payload")
    val got = Binary.Jpeg.parse(media).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    Seq((1L, 640L, 480L, 3L, false), (2L, 33L, 77L, 1L, true),
      (3L, 100L, 50L, 3L, false), (4L, 8L, 8L, 1L, false)).foreach {
      case (id, w, h, nc, prog) =>
        val r = got(id)
        assert(r.getAs[Boolean]("jpeg_valid"), s"doc $id should parse as JPEG")
        assert(r.getAs[Long]("width") === w)
        assert(r.getAs[Long]("height") === h)
        assert(r.getAs[Long]("n_components") === nc)
        assert(r.getAs[Boolean]("progressive") === prog)
        assert(r.getAs[Long]("precision_bits") === 8L)
        assert(r.getAs[Boolean]("header_consistent"), s"doc $id consistency")
    }
    // the located offset really is variable: doc 2's longer comment
    // train pushes its SOF past doc 1's
    assert(got(2L).getAs[Long]("sof_offset") > got(1L).getAs[Long]("sof_offset"))
    // doc 4 has no preamble: SOF at 1-based offset 3
    assert(got(4L).getAs[Long]("sof_offset") === 3L)
    corrupt.foreach { case (id, _) =>
      assert(!got(id).getAs[Boolean]("jpeg_valid"), s"doc $id must be rejected")
      assert(got(id).isNullAt(got(id).fieldIndex("sof_offset")))
    }
  }

  test("JpegKernel: DHT (0xC4) is skipped, not mistaken for a frame header") {
    import java.nio.ByteBuffer
    def seg(marker: Int, payload: Array[Byte]): Array[Byte] =
      ByteBuffer.allocate(4 + payload.length)
        .put(0xFF.toByte).put(marker.toByte)
        .putShort((payload.length + 2).toShort).put(payload).array()
    val sofPayload = ByteBuffer.allocate(9).put(8.toByte)
      .putShort(10.toShort).putShort(20.toShort).put(1.toByte)
      .put(Array[Byte](1, 0x11, 0)).array()
    val bytes = Array[Byte](0xFF.toByte, 0xD8.toByte) ++
      seg(0xC4, Array.fill[Byte](5)(0)) ++ // DHT: in the 0xC0–0xCF range but NOT a SOF
      seg(0xC0, sofPayload)
    val off = graft.expressions.JpegKernel.sofOffset(bytes)
    assert(off === 2L + 9L + 1L, "walk must hop over the DHT segment") // SOI + DHT(4+5) + 1-based
    // and a standalone RST marker (no length field) advances by 2
    val withRst = Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 0xD0.toByte) ++
      seg(0xC0, sofPayload)
    assert(graft.expressions.JpegKernel.sofOffset(withRst) === 5L)
  }

  test("Jpeg synth∘parse is map-only and header_consistent corpus-wide") {
    val docs = Tables.load(spark, sfDir, "documents")
    val parsed = Binary.Jpeg.parse(Binary.Jpeg.synthFromDocs(docs))
    val phys = parsed.queryExecution.executedPlan.toString
    assert(!phys.contains("Exchange"), s"Jpeg parse shuffles:\n$phys")
    assert(!phys.contains("BatchEvalPython") && !phys.contains("UDF"),
      s"Jpeg parse leaves codegen:\n$phys")
    val agg = parsed.agg(
      count(lit(1)).as("n"),
      sum(when(col("jpeg_valid"), 1L).otherwise(0L)).as("n_valid"),
      sum(when(col("header_consistent"), 1L).otherwise(0L)).as("n_consistent"),
      sum(when(col("jfif_present"), 1L).otherwise(0L)).as("n_jfif"),
      sum(when(col("jpeg_valid") && !col("header_consistent"), 1L).otherwise(0L)).as("bad"),
      count_distinct(col("sof_offset")).as("n_offsets")
    ).collect()(0)
    val n = agg.getAs[Long]("n")
    assert(n > 0 && agg.getAs[Long]("bad") === 0L)
    assert(agg.getAs[Long]("n_valid") === agg.getAs[Long]("n_consistent"))
    assert(agg.getAs[Long]("n_jfif") === agg.getAs[Long]("n_valid"))
    // the comment train really moves the frame header around
    assert(agg.getAs[Long]("n_offsets") > 10L,
      "sof_offset should vary across the corpus (variable-length preamble)")
    val invalid = n - agg.getAs[Long]("n_valid")
    assert(invalid === docs.filter(col("doc_id") % 10 === 0).count())
  }

  test("Pdf: parse follows a real startxref back-pointer; traps null; triage routes the sixth family") {
    import spark.implicits._
    val docs = Tables.load(spark, sfDir, "documents").limit(40)
    val parsed = Binary.Pdf.parse(Binary.Pdf.synthFromDocs(docs)).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    parsed.foreach { case (d, r) =>
      if (d % 10 == 0) assert(!r.getAs[Boolean]("pdf_valid"))
      else {
        val p = 1 + d % 4
        val xs = d % 3 == 1 // the PDF 1.5+ xref-STREAM layout docs
        assert(r.getAs[Boolean]("pdf_valid") && r.getAs[Boolean]("startxref_ok"),
          s"doc $d: $r")
        assert(r.getAs[String]("version") === s"1.${5 + d % 3}")
        assert(r.getAs[Long]("n_objects") === (if (xs) p + 4 else p + 3))
        assert(r.getAs[Long]("n_pages") === p)
        assert(r.getAs[Boolean]("encrypted") === (d % 7 == 0))
        assert(r.getAs[String]("xref_layout") === (if (xs) "stream" else "table"),
          s"doc $d: the back-pointer must land on the right layout")
        assert(r.getAs[Long]("declared_size") === (if (xs) p + 5 else p + 4),
          s"doc $d: /Size from the trailer or XRef dict")
      }
    }
    // a LYING startxref (right shape, wrong offset) must flip the
    // back-pointer check without flipping validity
    val lying = Seq((1L,
      ("%PDF-1.7\n1 0 obj\n<< /Type /Catalog >>\nendobj\n" +
        "xref\n0 1\ntrailer\n<< /Size 1 >>\nstartxref\n2\n%%EOF").getBytes))
      .toDF("doc_id", "payload")
    val lr = Binary.Pdf.parse(lying).head()
    assert(lr.getAs[Boolean]("pdf_valid") && !lr.getAs[Boolean]("startxref_ok"))
    assert(!lr.getAs[Boolean]("header_consistent"))
    assert(lr.getAs[String]("xref_layout") === "none",
      "a broken pointer resolves to neither layout")
    // xref-stream trap: a hand-built PDF 1.5 file whose startxref
    // points at a /Type /XRef stream object — the layout a large
    // share of real PDFs ship; pre-r13 this reported a FALSE
    // startxref_ok
    val body = "%PDF-1.5\n1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
    val xrefStreamPdf = body +
      "2 0 obj\n<< /Type /XRef /Size 3 /W [1 2 1] >>\n" +
      "stream\nxx\nendstream\nendobj\n" +
      s"startxref\n${body.length}\n%%EOF"
    val xr = Binary.Pdf.parse(
      Seq((1L, xrefStreamPdf.getBytes)).toDF("doc_id", "payload")).head()
    assert(xr.getAs[Boolean]("pdf_valid") && xr.getAs[Boolean]("startxref_ok"),
      "the modern layout must RESOLVE, not report a broken pointer")
    assert(xr.getAs[String]("xref_layout") === "stream")
    assert(xr.getAs[Long]("declared_size") === 3L,
      "object count read from the XRef stream dictionary")
    // triage detects and routes pdf: content_units = page count
    val mixed = Binary.Pdf.synthFromDocs(docs).select(col("doc_id"), col("payload"))
    val tri = Binary.triage(mixed).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    tri.foreach { case (d, r) =>
      if (d % 10 == 0) assert(r.getAs[String]("detected") === "unknown")
      else {
        assert(r.getAs[String]("detected") === "pdf", s"doc $d: $r")
        assert(r.getAs[Boolean]("valid"))
        assert(r.getAs[Long]("content_units") === 1 + d % 4,
          s"doc $d: pdf content_units must be the page count")
      }
    }
  }

  test("Pdf.extractText: length-driven stream slicing survives endstream-in-data; real inflate") {
    import spark.implicits._
    import graft.expressions.{PdfStreamsKernel, ZlibKernel}
    // the decisive trap: stream DATA contains the literal `endstream`
    // and a decoy `/Length` — a pattern-matching slicer mis-cuts, the
    // declared-length walk does not
    val trap = "xx endstream yy /Length 3 zz".getBytes("US-ASCII")
    val real = ZlibKernel.deflate("BT (found it) Tj ET".getBytes)
    def obj(n: Int, data: Array[Byte]) =
      s"$n 0 obj\n<< /Length ${data.length} >>\nstream\n".getBytes("US-ASCII") ++
        data ++ "\nendstream\nendobj\n".getBytes("US-ASCII")
    val pdf = "%PDF-1.7\n".getBytes ++ obj(1, trap) ++ obj(2, real) ++
      "%%EOF".getBytes
    val sliced = PdfStreamsKernel.streams(pdf)
    assert(sliced != null && sliced.numElements() === 2,
      "both streams must slice despite the endstream-in-data trap")
    assert(sliced.getBinary(0).toSeq === trap.toSeq, "trap stream sliced byte-exact")
    assert(sliced.getBinary(1).toSeq === real.toSeq)
    // end-to-end: the flate stream's text surfaces; the raw trap
    // stream inflates to null and contributes nothing
    val df = Seq((1L, pdf)).toDF("doc_id", "payload")
    val r = graft.multimodal.Binary.Pdf.extractText(df).head()
    assert(r.getAs[Long]("n_text_streams") === 2L)
    assert(r.getAs[String]("pdf_text") === "found it")
    // lying /Length (overrun) nulls; CRLF after the stream keyword ok
    val lying = "%PDF-1.7\n".getBytes ++
      "1 0 obj\n<< /Length 9999 >>\nstream\nshort\nendstream\n".getBytes
    assert(PdfStreamsKernel.streams(lying) == null)
    val crlf = "%PDF-1.7\n".getBytes ++
      ("1 0 obj\n<< /Length 4 >>\nstream\r\nabcd\r\nendstream\nendobj\n%%EOF")
        .getBytes
    val cr = PdfStreamsKernel.streams(crlf)
    assert(cr != null && cr.numElements() === 1 &&
      new String(cr.getBinary(0)) === "abcd")
  }

  test("Jpeg.exif: byte orders, inline/offset values, GPS flag, lanes and traps") {
    import spark.implicits._
    val docs = Tables.load(spark, sfDir, "documents").limit(60)
    val rows = Binary.Jpeg.exif(Binary.Jpeg.synthExifFromDocs(docs))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    for ((d, r) <- rows) {
      if (d % 10 == 0) {
        assert(r.isNullAt(r.fieldIndex("exif_present")),
          s"doc $d: non-JPEG must be the null row")
      } else if (d % 5 == 0) {
        assert(!r.getAs[Boolean]("exif_present"),
          s"doc $d: JPEG without APP1 is exif_present=false, not null")
        assert(r.isNullAt(r.fieldIndex("has_gps")))
      } else {
        assert(r.getAs[Boolean]("exif_present"))
        assert(r.getAs[String]("byte_order") === (if (d % 2 == 1) "II" else "MM"))
        assert(r.getAs[Long]("orientation") === 1 + d % 8)
        assert(r.getAs[String]("make") === s"Cam${d % 5}",
          s"doc $d: offset-addressed ASCII must read through the data area")
        assert(r.getAs[String]("model") === s"M${d % 7}",
          s"doc $d: inline ASCII must read from the value field")
        assert(r.getAs[Boolean]("has_gps") === (d % 3 == 0),
          s"doc $d: the GPS-IFD privacy flag")
        if (d % 3 == 0) {
          // the coordinates themselves: deg/min/sec rationals folded
          // to signed decimal degrees (S/W negate)
          val latMag = (d % 90).toDouble / 1 / 1 +
            ((d * 7) % 60).toDouble / 1 / 60 +
            ((d * 13) % 600).toDouble / 10 / 3600
          val lonMag = (d % 180).toDouble / 1 / 1 +
            ((d * 11) % 60).toDouble / 1 / 60 +
            ((d * 17) % 600).toDouble / 10 / 3600
          val expLat = if (d % 6 == 0) -latMag else latMag
          val expLon = if ((d / 3) % 2 == 1) -lonMag else lonMag
          assert(r.getAs[Double]("gps_lat") === expLat, s"doc $d lat")
          assert(r.getAs[Double]("gps_lon") === expLon, s"doc $d lon")
        } else {
          assert(r.isNullAt(r.fieldIndex("gps_lat")))
        }
      }
    }
    // an ImageIO-encoded JPEG carries no Exif APP1 → false, not null
    val img = new java.awt.image.BufferedImage(8, 8,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpeg", bos)
    val io = Binary.Jpeg.exif(
      Seq((1L, bos.toByteArray)).toDF("doc_id", "payload")).head()
    assert(!io.getAs[Boolean]("exif_present"))
    // traps: truncated APP1 / bad TIFF magic degrade to exif_present
    // = false (the walk cannot read a structure), never a throw
    val badTiff = Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte,
      0xE1.toByte, 0, 16) ++ "Exif".getBytes ++ Array[Byte](0, 0) ++
      "XXYYZZ77".getBytes
    val bt = Binary.Jpeg.exif(
      Seq((1L, badTiff)).toDF("doc_id", "payload")).head()
    assert(!bt.getAs[Boolean]("exif_present"))
  }

  test("PdfStreams: indirect /Length references resolve; unresolvable skips, not nulls") {
    import graft.expressions.PdfStreamsKernel
    // `/Length 5 0 R` (ISO 32000 §7.3.10) — the write-once layout
    // most real producers emit: the integer lives in object 5's own
    // body; pre-r13 the object NUMBER parsed as the byte length and
    // every such PDF extracted zero streams
    val data = "indirect body bytes".getBytes("US-ASCII")
    val ipdf = ("%PDF-1.6\n5 0 obj\n" + data.length + "\nendobj\n" +
      "1 0 obj\n<< /Length 5 0 R >>\nstream\n").getBytes("US-ASCII") ++
      data ++ "\nendstream\nendobj\n%%EOF".getBytes("US-ASCII")
    val ind = PdfStreamsKernel.streams(ipdf)
    assert(ind != null && ind.numElements() === 1,
      "indirect length must resolve against the file's own object")
    assert(new String(ind.getBinary(0), "US-ASCII") === "indirect body bytes")
    // the referenced object may come AFTER the stream (full-file scan)
    val after = ("%PDF-1.6\n1 0 obj\n<< /Length 7 0 R >>\nstream\n" +
      "abcdefg" + "\nendstream\nendobj\n7 0 obj\n7\nendobj\n%%EOF")
      .getBytes("US-ASCII")
    val aft = PdfStreamsKernel.streams(after)
    assert(aft != null && aft.numElements() === 1 &&
      new String(aft.getBinary(0)) === "abcdefg")
    // digit boundary: `15 0 obj` must NOT resolve a lookup for 5 —
    // with no true `5 0 obj`, the reference is unresolvable and that
    // stream object is SKIPPED (not a whole-blob null); the direct
    // stream after it still extracts
    val mixed = ("%PDF-1.6\n15 0 obj\n999\nendobj\n" +
      "1 0 obj\n<< /Length 5 0 R >>\nstream\njunkjunk\nendstream\nendobj\n" +
      "2 0 obj\n<< /Length 4 >>\nstream\ngood\nendstream\nendobj\n%%EOF")
      .getBytes("US-ASCII")
    val mx = PdfStreamsKernel.streams(mixed)
    assert(mx != null && mx.numElements() === 1,
      "unresolvable reference drops its object only")
    assert(new String(mx.getBinary(0), "US-ASCII") === "good")
    // generation numbers participate in resolution: `5 1 R` ≠ `5 0 obj`
    val wrongGen = ("%PDF-1.6\n5 0 obj\n4\nendobj\n" +
      "1 0 obj\n<< /Length 5 1 R >>\nstream\nxxxx\nendstream\nendobj\n%%EOF")
      .getBytes("US-ASCII")
    val wg = PdfStreamsKernel.streams(wrongGen)
    assert(wg != null && wg.numElements() === 0,
      "generation mismatch must not resolve")
  }

  test("Mp4 box walk: largesize header, to-EOF size, nested locate, traps") {
    import graft.expressions.Mp4BoxKernel
    def be32(v: Int) = Array[Byte]((v >> 24).toByte, (v >> 16).toByte,
      (v >> 8).toByte, v.toByte)
    def be64(v: Long) = (0 to 7).map(i => ((v >> (8 * (7 - i))) & 0xFF).toByte).toArray
    val ftyp = be32(16) ++ "ftyp".getBytes ++ "isom".getBytes ++ be32(0x200)
    val mvhd = be32(108) ++ "mvhd".getBytes ++ new Array[Byte](4) ++
      new Array[Byte](8) ++ be32(1000) ++ be32(5000) ++ new Array[Byte](80)
    // moov framed with the 64-bit largesize escape (size field = 1)
    val moovLarge = be32(1) ++ "moov".getBytes ++ be64(16L + 108) ++ mvhd
    // mdat with size 0 (runs to EOF)
    val mdatEof = be32(0) ++ "mdat".getBytes ++ "tail bytes".getBytes
    val p = ftyp ++ moovLarge ++ mdatEof
    assert(Mp4BoxKernel.topLevelCount(p) === 3L)
    assert(Mp4BoxKernel.boxOffset(p, "moov/mvhd") === 33L,
      "descend must skip the 16-byte largesize header")
    assert(Mp4BoxKernel.boxOffset(p, "mdat") === (16 + 124 + 1).toLong)
    assert(Mp4BoxKernel.boxOffset(p, "moov/trak") === -1L, "absent path")
    // traps: (trailing bytes after the size-0 mdat are LEGAL — it
    // swallows them); a truncated fixed-size box must refuse
    assert(Mp4BoxKernel.topLevelCount(p ++ "xx".getBytes) === 3L)
    assert(Mp4BoxKernel.topLevelCount(
      ftyp ++ moovLarge.dropRight(2)) === -1L)
    assert(Mp4BoxKernel.topLevelCount(be32(999) ++ "ftyp".getBytes) === -1L)
    assert(Mp4BoxKernel.topLevelCount("plain text".getBytes) === -1L)
    // the driver row's shape: a planted free box shifts moov and the
    // version-gated mvhd reads recover the planted clock math
    val docs = Tables.load(spark, sfDir, "documents").limit(40)
    val rows = graft.multimodal.Binary.Mp4.parse(
        graft.multimodal.Binary.Mp4.synthFromDocs(docs)).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    rows.foreach { case (d, r) =>
      if (d % 10 == 0) assert(!r.getAs[Boolean]("mp4_valid"))
      else {
        val ts = if (d % 3 == 0) 600L else 1000L
        val dur = (1 + d % 50) * ts + d % 97
        assert(r.getAs[Boolean]("mp4_valid"), s"doc $d: $r")
        assert(r.getAs[Long]("mvhd_version") === (if (d % 4 == 0) 1L else 0L))
        assert(r.getAs[Long]("duration") === dur)
        assert(r.getAs[Long]("duration_ms") === dur * 1000 / ts)
        assert(r.getAs[Long]("n_top_boxes") === (if (d % 5 == 0) 4L else 3L))
      }
    }
  }

  test("triage routes all eight families: mp4 duration and zip entry counts as content units") {
    import spark.implicits._
    val docs = Tables.load(spark, sfDir, "documents").limit(30)
    val mp4 = graft.multimodal.Binary.Mp4.synthFromDocs(docs)
      .select(col("doc_id"), col("payload"))
    val t1 = graft.multimodal.Binary.triage(mp4).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    t1.foreach { case (d, r) =>
      if (d % 10 == 0) assert(r.getAs[String]("detected") === "unknown")
      else {
        assert(r.getAs[String]("detected") === "mp4", s"doc $d: $r")
        val ts = if (d % 3 == 0) 600L else 1000L
        val dur = (1 + d % 50) * ts + d % 97
        assert(r.getAs[Long]("content_units") === dur * 1000 / ts,
          s"doc $d: mp4 content_units must be duration_ms")
      }
    }
    val zipBlob = graft.expressions.ZipKernel.build(
      Array("a.txt".getBytes, "b.txt".getBytes, "c/d.bin".getBytes),
      Array("one".getBytes, "two".getBytes, "three".getBytes),
      Array(0, 8, 8))
    val t2 = graft.multimodal.Binary.triage(
      Seq((1L, zipBlob)).toDF("doc_id", "payload")).head()
    assert(t2.getAs[String]("detected") === "zip" && t2.getAs[Boolean]("valid"))
    assert(t2.getAs[Long]("content_units") === 3L,
      "zip content_units must be the entry count")
    // a zip-magic payload with a corrupt tail: detected but invalid
    val t3 = graft.multimodal.Binary.triage(
      Seq((1L, zipBlob.take(zipBlob.length - 4))).toDF("doc_id", "payload")).head()
    assert(t3.getAs[String]("detected") === "zip" && !t3.getAs[Boolean]("valid"))
  }

  test("metadataStats hash equals md5 of the text") {
    val docs = Tables.load(spark, sfDir, "documents").limit(5)
    val got = Binary.metadataStats(docs).collect()
    val texts = docs.collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    got.foreach { r =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(texts(r.getAs[Long]("doc_id")).getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(r.getAs[Long]("content_hash") === java.lang.Long.parseLong(md.take(15), 16))
      assert(r.getAs[Long]("n_bytes") === texts(r.getAs[Long]("doc_id")).getBytes("UTF-8").length)
    }
  }
}
