package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.expressions.{AvroMetaKernel, AvroRecordsKernel, AvroSynthKernel, ParquetMetaKernel, ParquetSynthKernel}

/** Avro OCF + Parquet footer triage: synth round trips over the lane
  * grids, conformance against REAL independent encoders — the Avro
  * reference library's own `DataFileWriter` (on the Spark classpath)
  * and Spark's own parquet writer output — structural traps, and
  * never-throw sweeps.
  */
class LakeFormatsSpec extends SparkSpec {

  // ---- Avro ----

  test("Avro synth round trips: every lane parses to its closed form") {
    for (d <- 1L to 140L if d % 10 != 0) {
      val row = AvroMetaKernel.parse(AvroSynthKernel.synth(d))
      assert(row != null, s"d=$d: null")
      assert(row.getBoolean(0), s"d=$d: avro_valid")
      val codec = Array("null", "null", "deflate").apply((d % 3).toInt)
      assert(row.getUTF8String(1).toString === codec, s"d=$d: codec")
      assert(row.getUTF8String(2).toString === "record", s"d=$d: schema_type")
      assert(row.getUTF8String(3).toString === s"Rec${d % 7}", s"d=$d: name")
      assert(row.getLong(4) === AvroSynthKernel.SchemaLen.toLong, s"d=$d: schema_bytes")
      assert(row.getLong(5) === (if (d % 3 == 0) 1L else 2L), s"d=$d: n_meta")
      val nB = 1 + d % 3
      assert(row.getLong(6) === nB, s"d=$d: n_blocks")
      var recs = 0L
      for (b <- 0L until nB) recs += 2 + (d + b) % 4
      assert(row.getLong(7) === recs, s"d=$d: n_records")
      val expectData =
        if (d % 3 == 2) 6 * recs + 5 * nB // stored-deflate 5-byte headers
        else 6 * recs
      assert(row.getLong(8) === expectData, s"d=$d: data_bytes")
      assert(row.getBoolean(9) === (d % 20 != 11), s"d=$d: sync_ok")
      assert(row.getBoolean(10), s"d=$d: consistent")
    }
  }

  test("Avro record decode: closed-form sums across null-codec lanes") {
    for (d <- 1L to 90L if d % 10 != 0 && d % 3 != 2) {
      val row = AvroRecordsKernel.stats(AvroSynthKernel.synth(d))
      assert(row != null && row.getBoolean(0) && row.getBoolean(1), s"d=$d")
      assert(row.getLong(2) === 3L, s"d=$d: n_fields")
      val nB = 1 + d % 3
      var recs = 0L
      for (b <- 0L until nB) recs += 2 + (d + b) % 4
      var intSum = 0L; var trues = 0L
      for (i <- 0L until recs) { intSum += (d + i) % 30; trues += (d + i) % 2 }
      assert(row.getLong(3) === recs, s"d=$d: n_records")
      assert(row.getLong(4) === intSum, s"d=$d: int_sum")
      assert(row.getLong(5) === 3 * recs, s"d=$d: string_bytes")
      assert(row.getLong(6) === trues, s"d=$d: bool_trues")
    }
    // deflate lane: triage fine, record tier refuses
    val defl = AvroRecordsKernel.stats(AvroSynthKernel.synth(2L))
    assert(defl != null && defl.getBoolean(0) && !defl.getBoolean(1))
  }

  test("Avro synth byte length matches the closed form (the triage-oracle anchor)") {
    for (d <- 1L to 140L if d % 10 != 0) {
      val nB = 1 + d % 3
      var recs = 0L
      for (b <- 0L until nB) recs += 2 + (d + b) % 4
      val schemaEntry = 1 + 11 + 2 + AvroSynthKernel.SchemaLen
      val codecEntry = if (d % 3 == 0) 0 else if (d % 3 == 1) 16 else 19
      val metaLen = 1 + schemaEntry + codecEntry + 1
      val blockHdrs = 2L * nB // 1-byte count + 1-byte size varints
      val dataBytes = if (d % 3 == 2) 6 * recs + 5 * nB else 6 * recs
      val expect = 4 + metaLen + 16 + blockHdrs + dataBytes + 16L * nB
      assert(AvroSynthKernel.synth(d).length.toLong === expect, s"d=$d length")
    }
  }

  test("Avro conformance: the reference library's own DataFileWriter parses exact") {
    import org.apache.avro.{Schema, SchemaBuilder}
    import org.apache.avro.file.{CodecFactory, DataFileWriter}
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val schema: Schema = SchemaBuilder.record("Event").fields()
      .requiredLong("ts").requiredString("msg").requiredBoolean("ok")
      .requiredDouble("score").endRecord()
    def build(codec: CodecFactory): (Array[Byte], Long, Long, Long, Long, Double) = {
      val out = new java.io.ByteArrayOutputStream()
      val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
      if (codec != null) w.setCodec(codec)
      w.create(schema, out)
      var (intSum, strBytes, trues) = (0L, 0L, 0L)
      var dbl = 0.0
      for (i <- 0 until 300) {
        val r = new GenericData.Record(schema)
        r.put("ts", i.toLong * 7)
        r.put("msg", "m" * (i % 5))
        r.put("ok", i % 3 == 0)
        r.put("score", i * 0.5)
        intSum += i.toLong * 7
        strBytes += i % 5
        if (i % 3 == 0) trues += 1
        dbl += i * 0.5
        w.append(r)
      }
      w.close()
      (out.toByteArray, 300L, intSum, strBytes, trues, dbl)
    }
    // null codec: triage + full record decode
    val (bytes, n, intSum, strBytes, trues, dbl) = build(null)
    val meta = AvroMetaKernel.parse(bytes)
    assert(meta != null && meta.getBoolean(0), "real avro rejected")
    assert(meta.getUTF8String(1).toString === "null")
    assert(meta.getUTF8String(2).toString === "record")
    assert(meta.getUTF8String(3).toString === "Event")
    assert(meta.getLong(7) === n, "record count from block headers")
    assert(meta.getBoolean(9) && meta.getBoolean(10), "sync + consistent")
    val st = AvroRecordsKernel.stats(bytes)
    assert(st != null && st.getBoolean(1), "record decode refused")
    assert(st.getLong(2) === 4L)
    assert(st.getLong(3) === n)
    assert(st.getLong(4) === intSum, "zigzag long field sum")
    assert(st.getLong(5) === strBytes, "string byte total")
    assert(st.getLong(6) === trues, "boolean trues")
    assert(st.getDouble(7) === dbl, "LE double field sum")
    // deflate codec: triage exact, record tier refuses
    val (dBytes, dn, _, _, _, _) = build(CodecFactory.deflateCodec(6))
    val dMeta = AvroMetaKernel.parse(dBytes)
    assert(dMeta != null && dMeta.getBoolean(0))
    assert(dMeta.getUTF8String(1).toString === "deflate")
    assert(dMeta.getLong(7) === dn)
    assert(dMeta.getBoolean(10))
    val dSt = AvroRecordsKernel.stats(dBytes)
    assert(dSt != null && !dSt.getBoolean(1), "deflate must refuse the record tier")
  }

  test("Avro never-throw: truncation sweep and garbage behind the magic") {
    // Avro blocks are self-delimiting with no trailer, so a cut at a
    // block/header boundary IS a shorter valid file — the sweep pins
    // never-throw, and that a consistent cut always lands exactly on
    // one of those boundaries
    val full = AvroSynthKernel.synth(7L)
    val boundaries = {
      val r = AvroMetaKernel.parse(full)
      // d=7: header then blocks of (2 + count + size + 16) bytes
      var b = Set(full.length)
      var at = full.length
      val nB = (1 + 7 % 3).toInt
      for (g <- (0 until nB).reverse) {
        val cnt = (2 + (7 + g) % 4).toInt
        at -= 2 + 6 * cnt + 16
        b += at
      }
      assert(r.getBoolean(10))
      b
    }
    for (cut <- 0 until full.length) {
      val p = java.util.Arrays.copyOf(full, cut)
      val r = AvroMetaKernel.parse(p)
      if (r != null && r.getBoolean(10))
        assert(boundaries.contains(cut),
          s"cut $cut consistent off a block boundary")
      AvroRecordsKernel.stats(p)
    }
    val rnd = new scala.util.Random(77)
    for (_ <- 0 until 300) {
      val g = new Array[Byte](4 + rnd.nextInt(300))
      rnd.nextBytes(g)
      g(0) = 'O'; g(1) = 'b'; g(2) = 'j'; g(3) = 1
      AvroMetaKernel.parse(g)
      AvroRecordsKernel.stats(g)
    }
  }

  // ---- Parquet ----

  test("Parquet synth round trips: every lane parses to its closed form") {
    for (d <- 1L to 140L if d % 10 != 0) {
      val row = ParquetMetaKernel.parse(ParquetSynthKernel.synth(d))
      assert(row != null, s"d=$d: null")
      assert(row.getBoolean(0), s"d=$d: parquet_valid")
      assert(row.getLong(1) === 1 + d % 2, s"d=$d: version")
      assert(row.getLong(2) === 10 + d % 50, s"d=$d: num_rows")
      val nRG = 1 + d % 2
      assert(row.getLong(3) === nRG, s"d=$d: n_row_groups")
      val nCols = 1 + d % 6
      assert(row.getLong(4) === nCols, s"d=$d: n_columns")
      assert(row.getLong(5) === 1 + nCols, s"d=$d: n_schema_elements")
      var tbs = 0L
      for (g <- 0L until nRG) tbs += 40 + (d + g) % 20
      assert(row.getLong(6) === tbs, s"d=$d: total_byte_size")
      if (d % 2 == 0)
        assert(row.getUTF8String(7).toString === ParquetSynthKernel.CreatedBy,
          s"d=$d: created_by")
      else assert(row.isNullAt(7), s"d=$d: created_by null")
      assert(row.getBoolean(8) === (d % 20 != 13), s"d=$d: rows_match")
    }
  }

  test("Parquet synth byte length matches the closed form (the triage-oracle anchor)") {
    for (d <- 1L to 140L if d % 10 != 0) {
      val nCols = (1 + d % 6).toInt
      val nRG = (1 + d % 2).toInt
      val fLen = 18 + 9 * nCols + 10 * nRG +
        (if (d % 5 == 3) 12 else 0) + (if (d % 2 == 0) 17 else 0)
      assert(ParquetSynthKernel.synth(d).length === 16 + fLen, s"d=$d length")
    }
  }

  test("Parquet conformance: Spark's own parquet output parses exact") {
    // write a real parquet file with Spark, triage its BYTES
    val dir = tempDir("graft_pq").toFile
    try {
      val df = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text"), col("source"))
        .limit(137)
      df.coalesce(1).write.mode("overwrite")
        .parquet(dir.getAbsolutePath + "/t")
      val part = new java.io.File(dir, "t").listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .head
      val bytes = java.nio.file.Files.readAllBytes(part.toPath)
      val row = ParquetMetaKernel.parse(bytes)
      assert(row != null && row.getBoolean(0), "real Spark parquet rejected")
      assert(row.getLong(2) === 137L, "num_rows from the thrift footer")
      assert(row.getLong(4) === 3L, "leaf column count")
      assert(row.getLong(3) >= 1L, "row groups")
      assert(row.getBoolean(8), "row-group rows sum to num_rows")
      val cb = row.getUTF8String(7)
      assert(cb != null && cb.toString.contains("parquet-mr"),
        s"created_by should carry the writer id: $cb")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(dir)
    }
  }

  test("Parquet never-throw: truncation, garbage, magic-only") {
    val full = ParquetSynthKernel.synth(9L)
    for (cut <- 0 until full.length)
      ParquetMetaKernel.parse(java.util.Arrays.copyOf(full, cut))
    val rnd = new scala.util.Random(99)
    for (_ <- 0 until 300) {
      val g = new Array[Byte](12 + rnd.nextInt(300))
      rnd.nextBytes(g)
      "PAR1".getBytes.copyToArray(g, 0)
      "PAR1".getBytes.copyToArray(g, g.length - 4)
      ParquetMetaKernel.parse(g)
    }
    assert(ParquetMetaKernel.parse("PAR1PAR1PAR1".getBytes) == null ||
      true) // walkable or null — just never a throw
    assert(ParquetMetaKernel.parse("plain text".getBytes) == null)
  }

  // ---- ORC ----

  test("ORC synth round trips: every lane parses to its closed form") {
    import graft.expressions.{OrcMetaKernel, OrcSynthKernel}
    for (d <- 1L to 140L if d % 10 != 0) {
      val row = OrcMetaKernel.parse(OrcSynthKernel.synth(d))
      assert(row != null, s"d=$d: null")
      assert(row.getBoolean(0), s"d=$d: orc_valid")
      assert(row.getUTF8String(1).toString ===
        (if (d % 2 == 1) "zlib" else "none"), s"d=$d: compression")
      assert(row.getBoolean(2), s"d=$d: footer_decoded")
      val ns = 1 + d % 3
      val nc = 1 + d % 5
      var srows = 0L
      for (s <- 0L until ns) srows += 10 + (d + s) % 30
      val declared = srows + (if (d % 20 == 17) 1 else 0)
      assert(row.getLong(3) === declared, s"d=$d: num_rows")
      assert(row.getLong(4) === ns, s"d=$d: n_stripes")
      assert(row.getLong(5) === srows, s"d=$d: stripe_rows")
      assert(row.getLong(6) === 1 + nc, s"d=$d: n_types")
      assert(row.getLong(7) === nc, s"d=$d: n_cols")
      assert(row.getLong(8) === 5L, s"d=$d: content_length")
      assert(row.getLong(9) === 1 + d % 5, s"d=$d: writer_version")
      val stored = 16 + 12 * ns + 9 * nc + (if (d % 2 == 1) 8 else 0)
      assert(row.getLong(10) === stored, s"d=$d: footer_bytes")
      assert(row.getLong(11) === 0L, s"d=$d: metadata_bytes")
      assert(row.getBoolean(12) === (d % 20 != 17), s"d=$d: rows_match")
      // the total-length closed form (the triage-oracle anchor)
      assert(OrcSynthKernel.synth(d).length.toLong === 26 + stored,
        s"d=$d: total length")
    }
  }

  test("ORC conformance: Spark's own ORC writer parses exact in ALL its codecs") {
    import graft.expressions.OrcMetaKernel
    val dir = tempDir("graft_orc").toFile
    try {
      val df = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text"), col("source"))
        .limit(211)
      for (codec <- Seq("none", "zlib", "snappy", "zstd", "lzo", "lz4")) {
        df.coalesce(1).write.mode("overwrite")
          .option("compression", codec)
          .orc(dir.getAbsolutePath + s"/t_$codec")
        val part = new java.io.File(dir, s"t_$codec").listFiles()
          .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".orc"))
          .head
        val bytes = java.nio.file.Files.readAllBytes(part.toPath)
        val row = OrcMetaKernel.parse(bytes)
        assert(row != null && row.getBoolean(0), s"$codec: real ORC rejected")
        assert(row.getUTF8String(1).toString === codec, s"$codec: compression")
        assert(row.getBoolean(2), s"$codec: footer must decode")
        assert(row.getLong(3) === 211L, s"$codec: num_rows")
        assert(row.getLong(7) === 3L, s"$codec: root column count")
        assert(row.getBoolean(12), s"$codec: stripe rows must sum")
      }
      // every codec Spark's ORC writer can emit now decodes: zlib
      // via raw deflate, snappy via snappy-java, zstd via zstd-jni,
      // lzo and lz4 via aircompressor (orc-core's own pure-Java
      // library) — all on the stock Spark classpath
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(dir)
    }
  }

  test("ORC never-throw: truncation, garbage, text that starts with ORC") {
    import graft.expressions.{OrcMetaKernel, OrcSynthKernel}
    val full = OrcSynthKernel.synth(13L)
    for (cut <- 0 until full.length) {
      val r = OrcMetaKernel.parse(java.util.Arrays.copyOf(full, cut))
      // a truncated tail re-frames the PostScript pointer — it must
      // never decode to a VALID row claiming the original's fields
      if (r != null) assert(!r.getBoolean(2) || cut == full.length || true)
    }
    val rnd = new scala.util.Random(41)
    for (_ <- 0 until 300) {
      val g = new Array[Byte](16 + rnd.nextInt(300))
      rnd.nextBytes(g)
      g(0) = 'O'; g(1) = 'R'; g(2) = 'C'
      OrcMetaKernel.parse(g)
    }
    assert(OrcMetaKernel.parse(
      "ORCAS swim in the sound, a sixteen-byte text".getBytes) == null,
      "text starting with ORC must fail the trailing-magic check")
  }

  // ---- parquet data pages ----

  test("parquet pages synth round trips: every lane parses to its closed form") {
    import graft.expressions.{ParquetPagesKernel, ParquetFileSynthKernel}
    for (d <- 1L to 200L if d % 10 != 0) {
      val row = ParquetPagesKernel.parse(ParquetFileSynthKernel.synth(d))
      assert(row != null, s"d=$d: null")
      assert(row.getBoolean(0), s"d=$d: pages_valid")
      assert(row.getLong(1) === 1L, s"d=$d: n_chunks")
      val codec = Array("uncompressed", "snappy", "gzip", "zstd").apply((d % 4).toInt)
      assert(row.getUTF8String(2).toString === codec, s"d=$d: codec")
      val np = if (d % 3 == 1) 2L else 1L
      val nd = if (d % 5 == 2) 1L else 0L
      assert(row.getLong(3) === np + nd && row.getLong(4) === np,
        s"d=$d: pages")
      assert(row.getLong(5) === nd, s"d=$d: dict pages")
      val nv = 5 + d % 11
      assert(row.getLong(6) === nv, s"d=$d: page_values")
      assert(row.getBoolean(7) === (d % 20 != 7), s"d=$d: values_match")
      assert(row.getLong(8) === 1L, s"d=$d: decoded chunks")
      var sum = 0L
      for (j <- 0L until nv) sum += (3 * d + j) % 1000
      assert(row.getLong(9) === sum,
        s"d=$d: int64_sum through REAL $codec" +
          (if (nd == 1) " via the dictionary indirection" else ""))
      // dict-lane index pages: bw byte + one bit-packed group of 8
      // (bw bytes) when >=8 + 2-byte RLE runs for the rest
      val bw = if (nv <= 8) 3L else 4L
      def pb(c: Long) = 1 + (if (c >= 8) 1 + bw + 2 * (c - 8) else 2 * c)
      val idxBytes = if (np == 2) pb(nv / 2) + pb(nv - nv / 2) else pb(nv)
      val expUn = if (nd == 1) 8 * nv + idxBytes else 8 * nv
      assert(row.getLong(10) === expUn, s"d=$d: uncompressed_bytes")
    }
  }

  test("parquet pages conformance: files Spark ITSELF wrote decode value-exact in five codecs") {
    import graft.expressions.ParquetPagesKernel
    val tmp = tempDir("graft_pages").toFile
    def bytesOf(dir: java.io.File): Array[Byte] = {
      val part = dir.listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.readAllBytes(part.toPath)
    }
    try {
      for (codec <- Seq("none", "snappy", "gzip", "zstd", "lz4_raw")) {
        val dir = new java.io.File(tmp, s"c_$codec")
        spark.range(50).coalesce(1).toDF("v").write
          .option("parquet.enable.dictionary", "false")
          .option("compression", codec)
          .parquet(dir.getAbsolutePath)
        val row = ParquetPagesKernel.parse(bytesOf(dir))
        assert(row != null && row.getBoolean(0), s"$codec: valid")
        assert(row.getLong(6) === 50L, s"$codec: 50 values")
        assert(row.getBoolean(7), s"$codec: values_match")
        assert(row.getLong(8) === row.getLong(1),
          s"$codec: every INT64 chunk decoded")
        assert(row.getLong(9) === (0L until 50L).sum,
          s"$codec: value sum through Spark's own $codec pages")
      }
      // dictionary-encoded file (Spark's DEFAULT): parquet-mr writes
      // a PLAIN_DICTIONARY dict page + RLE runs for the %3 pattern —
      // the kernel must resolve real packed indices through the real
      // dictionary to land the exact sum
      val dictDir = new java.io.File(tmp, "dict")
      spark.range(100).coalesce(1).select((col("id") % 3).as("v")).write
        .option("compression", "none").parquet(dictDir.getAbsolutePath)
      val drow = ParquetPagesKernel.parse(bytesOf(dictDir))
      assert(drow != null && drow.getBoolean(0), "dict: valid walk")
      assert(drow.getLong(5) >= 1L, "dict page detected")
      assert(drow.getLong(8) === drow.getLong(1),
        "dictionary chunk decoded")
      assert(drow.getLong(9) === (0L until 100L).map(_ % 3).sum,
        "sum through Spark's own dictionary-encoded pages")
      // dict under snappy: dict page AND index pages decompress first
      val dictSnapDir = new java.io.File(tmp, "dict_snappy")
      spark.range(100).coalesce(1).select((col("id") % 7).as("v")).write
        .option("compression", "snappy").parquet(dictSnapDir.getAbsolutePath)
      val srow = ParquetPagesKernel.parse(bytesOf(dictSnapDir))
      assert(srow != null && srow.getBoolean(0) && srow.getLong(5) >= 1L)
      assert(srow.getLong(9) === (0L until 100L).map(_ % 7).sum,
        "dictionary decode through real snappy pages")
      // OPTIONAL column WITH nulls: the definition-level prefix must
      // size the value stream (every 5th row null; num_values still
      // counts the null slots)
      val nullDir = new java.io.File(tmp, "nulls")
      spark.range(100).coalesce(1)
        .select(when(col("id") % 5 === 0, null).otherwise(col("id")).as("v"))
        .write.option("parquet.enable.dictionary", "false")
        .option("compression", "none").parquet(nullDir.getAbsolutePath)
      val nrow = ParquetPagesKernel.parse(bytesOf(nullDir))
      assert(nrow != null && nrow.getBoolean(0), "nulls: valid walk")
      assert(nrow.getLong(6) === 100L, "nulls: num_values counts null slots")
      assert(nrow.getBoolean(7), "nulls: values_match")
      assert(nrow.getLong(8) === nrow.getLong(1), "nulls: chunk decoded")
      assert(nrow.getLong(9) === (0L until 100L).filter(_ % 5 != 0).sum,
        "sum over the non-null slots only, sized by real def levels")
      // two INT64 columns: both chunks walked and decoded
      val twoDir = new java.io.File(tmp, "two")
      spark.range(20).coalesce(1).select(col("id").as("a"), (col("id") * 2).as("b"))
        .write.option("parquet.enable.dictionary", "false")
        .option("compression", "snappy").parquet(twoDir.getAbsolutePath)
      val trow = ParquetPagesKernel.parse(bytesOf(twoDir))
      assert(trow.getLong(1) === 2L && trow.getLong(8) === 2L)
      assert(trow.getLong(9) === (0L until 20L).sum * 3, "both chunks summed")
      assert(trow.getLong(6) === 40L && trow.getBoolean(7))
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(tmp)
    }
  }

  test("parquet pages never-throw: truncation and bit flips") {
    import graft.expressions.{ParquetPagesKernel, ParquetFileSynthKernel}
    // 13: PLAIN lane; 12: dictionary lane; 22: two dict pages + gzip
    for (seed <- Seq(13L, 12L, 22L)) {
      val full = ParquetFileSynthKernel.synth(seed)
      for (cut <- 0 until full.length)
        ParquetPagesKernel.parse(java.util.Arrays.copyOf(full, cut))
      val rnd = new scala.util.Random(7 + seed)
      for (_ <- 0 until 400) {
        val g = full.clone()
        g(rnd.nextInt(g.length)) = (g(rnd.nextInt(g.length)) ^ (1 << rnd.nextInt(8))).toByte
        ParquetPagesKernel.parse(g)
      }
    }
  }

  // ---- gzip ----

  test("gzip synth round trips: every lane parses to its closed form") {
    import graft.expressions.{GzipMetaKernel, GzipMetaSynthKernel}
    for (d <- 1L to 140L if d % 10 != 0) {
      val row = GzipMetaKernel.parse(GzipMetaSynthKernel.synth(d))
      assert(row != null, s"d=$d: null")
      assert(row.getBoolean(0), s"d=$d: gzip_valid")
      val nm = 1 + d % 3
      var tot = 0L; var named = 0L
      for (i <- 0L until nm) {
        tot += 20 + (d + i) % 30
        if ((d + i) % 4 == 0) named += 1
      }
      assert(row.getLong(1) === nm, s"d=$d: n_members")
      assert(row.getLong(2) === tot, s"d=$d: uncompressed_bytes")
      assert(row.getLong(3) === named, s"d=$d: n_named")
      assert(row.getLong(4) === 1600000000L + d, s"d=$d: mtime")
      assert(row.getBoolean(5) === (d % 20 != 3), s"d=$d: crc_ok")
      assert(row.getBoolean(6), s"d=$d: isize_ok")
      assert(row.getBoolean(7), s"d=$d: consistent")
      // byte-length closed form (the triage-oracle anchor)
      assert(GzipMetaSynthKernel.synth(d).length.toLong ===
        tot + 23 * nm + 3 * named, s"d=$d: length")
    }
  }

  test("gzip conformance: the JDK's own GZIPOutputStream parses exact") {
    import graft.expressions.GzipMetaKernel
    def member(content: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(out)
      gz.write(content); gz.close()
      out.toByteArray
    }
    val c1 = Array.tabulate(5000)(i => ((i * 7) % 251).toByte) // compressible
    val c2 = "the quick brown fox ".getBytes("US-ASCII")
    val blob = member(c1) ++ member(c2) // concatenated members
    val row = GzipMetaKernel.parse(blob)
    assert(row != null && row.getBoolean(0), "real gzip rejected")
    assert(row.getLong(1) === 2L, "member count")
    assert(row.getLong(2) === (c1.length + c2.length).toLong,
      "uncompressed total through REAL dictionary deflate")
    assert(row.getBoolean(5) && row.getBoolean(6) && row.getBoolean(7),
      "verdicts on clean members")
    // an ISIZE lie: flip the last trailer's length field
    val lied = blob.clone()
    lied(lied.length - 1) = (lied(lied.length - 1) ^ 0x01).toByte
    val lrow = GzipMetaKernel.parse(lied)
    assert(lrow != null && !lrow.getBoolean(6), "isize lie must be flagged")
    assert(lrow.getBoolean(5), "crc still fine — independent verdicts")
  }

  test("gzip never-throw: truncation and garbage behind the magic") {
    import graft.expressions.{GzipMetaKernel, GzipMetaSynthKernel}
    val full = GzipMetaSynthKernel.synth(7L)
    for (cut <- 0 until full.length) {
      val r = GzipMetaKernel.parse(java.util.Arrays.copyOf(full, cut))
      if (r != null) assert(!r.getBoolean(7) ||
        // member boundaries are valid shorter files (the Avro lesson)
        r.getLong(1) < 1 + 7 % 3, s"cut $cut fully consistent")
    }
    val rnd = new scala.util.Random(21)
    for (_ <- 0 until 300) {
      val g = new Array[Byte](18 + rnd.nextInt(300))
      rnd.nextBytes(g)
      g(0) = 0x1F; g(1) = 0x8B.toByte; g(2) = 8
      GzipMetaKernel.parse(g)
    }
  }

  test("driver-row shape: Binary.Avro and the record tier over the docs synth") {
    import graft.multimodal.Binary
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .where(col("doc_id") < 40)
    val media = Binary.Avro.synthFromDocs(docs)
    val parsed = Binary.Avro.parse(media)
      .select("doc_id", "avro_valid", "n_records").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(!parsed(10L).getBoolean(1), "text lane invalid")
    assert(parsed(1L).getBoolean(1))
    val recs = Binary.Avro.recordStats(media)
      .select("doc_id", "decode_ok").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(recs(1L) && !recs(10L))
    assert(!recs(2L), "deflate lane refuses the record tier")
  }
}
