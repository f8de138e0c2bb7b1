package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.lsh.{LshIndex, LshParams}
import graft.sources.Sources

class SourcesExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("parquetVectors normalizes (index, vector) columns") {
    val df = Sources.parquetVectors(spark, s"$sfDir/embeddings.parquet")
    assert(df.columns.toSeq === Seq("vec_id", "embedding"))
    assert(df.count() === 500)
  }

  test("csvVectors parses delimited vectors") {
    val tmp = tempDir("csvv")
    val f = tmp.resolve("v.csv")
    java.nio.file.Files.writeString(f, "id,vec\n1,0.5|1.5\n2,2.0|3.0\n")
    val df = Sources.csvVectors(spark, f.toString, "id", "vec")
    val rows = df.orderBy("vec_id").collect()
    assert(rows.length === 2)
    assert(rows(0).getSeq[Float](1) === Seq(0.5f, 1.5f))
  }

  test("jdbc buildQuery mirrors the reference loader's SELECT shapes") {
    // plain: SELECT "idx", "vec" FROM "vectors"
    assert(Sources.buildQuery("vectors", "idx", "vec") ===
      """SELECT "idx", "vec" FROM "vectors"""")
    // schema-qualified + WHERE + ORDER BY + LIMIT compose in reference order
    assert(Sources.buildQuery("vectors", "idx", "vec",
      schema = Some("ml"), whereClause = Some("split = 'train'"),
      orderBy = Some("idx"), limit = Some(1000L)) ===
      """SELECT "idx", "vec" FROM "ml"."vectors" WHERE split = 'train' ORDER BY idx LIMIT 1000""")
    // explicit fetch_query wins outright
    assert(Sources.buildQuery("ignored", "i", "v",
      whereClause = Some("ignored"), fetchQuery = Some("SELECT a, b FROM t")) ===
      "SELECT a, b FROM t")
    // embedded quotes escape by doubling (psycopg sql.Identifier semantics)
    assert(Sources.buildQuery("""we"ird""", "idx", "vec") ===
      """SELECT "idx", "vec" FROM "we""ird"""")
  }

  test("LshIndex.getBucket returns one bucket's members") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val p = LshParams(dim = 64, numPerm = 32, numBands = Some(8), rowsPerBand = Some(4))
    val idx = LshIndex.build(emb, p)
    val some = idx.groupBy(col("band"), col("sig")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc).limit(1).collect().head
    val members = LshIndex.getBucket(idx, some.getAs[Int]("band"), some.getAs[Long]("sig"))
      .collect().map(_.getLong(0))
    assert(members.length === some.getAs[Long]("n"))
    assert(members.toSeq === members.sorted.toSeq)
  }

  test("LshIndex.getBucket: wide index takes the hex overload; a Long probe fails fast") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    // r > 64 → wide byte-packed signatures, sig column is a hex string
    val p = LshParams(dim = 64, numPerm = 192, numBands = Some(2), rowsPerBand = Some(96))
    val idx = LshIndex.build(emb, p)
    val some = idx.groupBy(col("band"), col("sig")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc).limit(1).collect().head
    val members = LshIndex.getBucket(idx, some.getAs[Int]("band"), some.getAs[String]("sig"))
      .collect().map(_.getLong(0))
    assert(members.length === some.getAs[Long]("n"))
    // a Long probe against the wide index would cast-to-null into a
    // silently empty bucket — it must refuse instead
    val boom = intercept[IllegalArgumentException] {
      LshIndex.getBucket(idx, some.getAs[Int]("band"), 42L)
    }
    assert(boom.getMessage.contains("wide index"))
    // and the hex overload against a narrow index refuses symmetrically
    val narrow = LshIndex.build(emb,
      LshParams(dim = 64, numPerm = 32, numBands = Some(8), rowsPerBand = Some(4)))
    val boom2 = intercept[IllegalArgumentException] {
      LshIndex.getBucket(narrow, 0, "FF00")
    }
    assert(boom2.getMessage.contains("narrow index"))
  }

  test("GraftExtensions injects the engine functions into a registry") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val reg = new SimpleFunctionRegistry
    org.apache.spark.sql.GraftColumnBridge.registerExtensions(ext, reg)
    Seq("cosine_sim", "dot_product", "l2_norm", "l2_normalize",
        "int_dot_product", "hamming_distance", "adc_score",
        "deflate_size", "char_entropy_stats", "det_ln",
        "gaussian_project", "zlib_deflate", "zlib_inflate").foreach { f =>
      assert(reg.functionExists(FunctionIdentifier(f)), s"$f not injected")
    }
    // zlib round trip through the registry-built expressions
    locally {
      import org.apache.spark.sql.catalyst.expressions.Literal
      val payload = "round trip me round trip me".getBytes("UTF-8")
      val comp = reg.lookupFunction(FunctionIdentifier("zlib_deflate"),
        Seq(Literal.create(payload, org.apache.spark.sql.types.BinaryType)))
        .eval(null).asInstanceOf[Array[Byte]]
      val back = reg.lookupFunction(FunctionIdentifier("zlib_inflate"),
        Seq(Literal.create(comp, org.apache.spark.sql.types.BinaryType),
          Literal(1024)))
        .eval(null).asInstanceOf[Array[Byte]]
      assert(back.toSeq === payload.toSeq)
      // over-budget inflate refuses (bomb guard), never throws
      val capped = reg.lookupFunction(FunctionIdentifier("zlib_inflate"),
        Seq(Literal.create(comp, org.apache.spark.sql.types.BinaryType),
          Literal(4))).eval(null)
      assert(capped == null)
    }
    // builder produces a working expression
    val e = reg.lookupFunction(FunctionIdentifier("l2_norm"),
      Seq(org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(3.0f, 4.0f), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, containsNull = false))))
    assert(e.eval(null) === 5.0)
    // the parameterized builder folds its integer literals
    import org.apache.spark.sql.catalyst.expressions.Literal
    val g = reg.lookupFunction(FunctionIdentifier("gaussian_project"),
      Seq(Literal.create(Array.fill(64)(1.0f), org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, containsNull = false)),
        Literal(16), Literal(64), Literal(42L)))
    assert(g.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .numElements() === 16)
    // non-literal params are an analysis-time error, not hash garbage
    intercept[IllegalArgumentException] {
      reg.lookupFunction(FunctionIdentifier("gaussian_project"),
        Seq(Literal(1.0), Literal(1.0), Literal(64), Literal(42L)))
    }
  }

  test("LshIndex.add: incremental ingest equals rebuilding from the union") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val p = LshParams(dim = 64, numPerm = 32, numBands = Some(8), rowsPerBand = Some(4))
    val base = emb.filter(col("vec_id") < 400)
    val more = emb.filter(col("vec_id") >= 400)
    val incremental = LshIndex.add(LshIndex.build(base, p), more, p)
    val full = LshIndex.build(emb, p)
    assert(incremental.orderBy("vec_id", "band").collect().map(_.toSeq).toSeq ===
      full.orderBy("vec_id", "band").collect().map(_.toSeq).toSeq)
  }

  test("LshIndex.stats snapshots config and occupancy") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val p = LshParams(dim = 64, numPerm = 32, numBands = Some(8), rowsPerBand = Some(4))
    val st = LshIndex.stats(LshIndex.build(emb, p), p).collect().head
    assert(st.getAs[Int]("dim") === 64)
    assert(st.getAs[Int]("num_bands") === 8)
    assert(st.getAs[Long]("n_entries") === 500L * 8)
    assert(st.getAs[Long]("max_bucket") >= 1L)
  }

  test("Warc: length-driven split survives magic-in-body; structural traps yield no records") {
    import graft.sources.Warc
    val archive = Seq((1L,
      "WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://a.com/p\r\n" +
        "Content-Length: 20\r\n\r\nbody WARC/1.0 trap x\r\n\r\n" +
        "WARC/1.0\r\nWARC-Type: metadata\r\nWARC-Target-URI: https://a.com/p\r\n" +
        "Content-Length: 5\r\n\r\nhello\r\n\r\n")).toDF("doc_id", "archive")
    val got = Warc.parseRecords(
        Warc.splitRecords(archive, col("archive")), col("record"))
      .collect().map(r => r.getAs[Long]("rec_idx") -> r).toMap
    assert(got.size === 2, s"magic-in-body must not split a record: $got")
    assert(got(0L).getAs[String]("body") === "body WARC/1.0 trap x")
    assert(got(0L).getAs[String]("warc_type") === "response")
    assert(got(1L).getAs[String]("body") === "hello")
    assert(got.values.forall(_.getAs[Boolean]("length_ok")))
    // traps: truncated body, missing record separator, lying length
    val bad = Seq(
      (1L, "WARC/1.0\r\nContent-Length: 50\r\n\r\nshort\r\n\r\n"),
      (2L, "WARC/1.0\r\nContent-Length: 5\r\n\r\nhelloXXXX"),
      (3L, "NOTWARC\r\nContent-Length: 5\r\n\r\nhello\r\n\r\n"))
      .toDF("doc_id", "archive")
    assert(Warc.splitRecords(bad, col("archive")).count() === 0L,
      "structurally broken archives must yield zero records, not garbage")
  }

  test("Gzip members: real multi-member decode, CRC-verified, conformant with the JDK writer") {
    import graft.expressions.GzipKernel
    // conformance: members written by the INDEPENDENT JDK gzip writer
    // (GZIPOutputStream) must decode member-exact
    def jdkGzip(s: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(s.getBytes("UTF-8")); gz.close()
      bos.toByteArray
    }
    val blob = jdkGzip("first member") ++ jdkGzip("") ++
      GzipKernel.compress("third, ours".getBytes) ++ jdkGzip("x" * 10000)
    val got = GzipKernel.members(blob, 1 << 20)
    assert(got != null && got.numElements() === 4)
    assert(new String(got.getBinary(0), "UTF-8") === "first member")
    assert(got.getBinary(1).length === 0)
    assert(new String(got.getBinary(2), "UTF-8") === "third, ours")
    assert(got.getBinary(3).length === 10000)
    // and the JDK reader accepts OUR member (legality both directions)
    val back = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(GzipKernel.compress("round".getBytes)))
    assert(new String(back.readAllBytes(), "UTF-8") === "round")
    // optional header fields: FNAME + FCOMMENT + FEXTRA + FHCRC walk
    val body = GzipKernel.compress("payload".getBytes)
    val deflatePart = java.util.Arrays.copyOfRange(body, 10, body.length)
    val fancy = new java.io.ByteArrayOutputStream()
    fancy.write(Array[Byte](0x1F, 0x8B.toByte, 8, (4 | 8 | 16).toByte,
      0, 0, 0, 0, 0, 3)) // FLG = FEXTRA|FNAME|FCOMMENT, OS=unix
    fancy.write(Array[Byte](4, 0, 'a', 'b', 'c', 'd')) // FEXTRA len 4
    fancy.write("name.txt".getBytes); fancy.write(0)
    fancy.write("a comment".getBytes); fancy.write(0)
    fancy.write(deflatePart)
    val withFields = GzipKernel.members(fancy.toByteArray, 1 << 20)
    assert(withFields != null && withFields.numElements() === 1)
    assert(new String(withFields.getBinary(0), "UTF-8") === "payload")
    // traps: corrupt CRC, lying ISIZE, truncated member, junk → null
    val crcBad = blob.clone(); crcBad(blob.length - 8) = 0x55
    assert(GzipKernel.members(crcBad, 1 << 20) == null, "corrupt CRC must null")
    assert(GzipKernel.members(blob.take(blob.length - 3), 1 << 20) == null)
    assert(GzipKernel.members("not gzip".getBytes, 1 << 20) == null)
    // bomb guard: 10k body over a 1k budget
    assert(GzipKernel.members(jdkGzip("y" * 10000), 1000) == null)
  }

  test("Warc.splitRecordsGz: .warc.gz member-per-record layout decodes to the same records") {
    import graft.sources.Warc
    val docs = Seq(
      (1L, "https://a.com/p", "body WARC/1.0 trap x"),
      (2L, "https://b.org/q", "second page")).toDF("doc_id", "url", "text")
    val blob = concat(
      Warc.gzMember(lit("response"), col("url"), col("text")),
      Warc.gzMember(lit("metadata"), col("url"), lit("meta")))
    val rows = Warc.parseRecords(
        Warc.splitRecordsGz(docs.select(col("doc_id"), blob.as("a")), col("a")),
        col("record"))
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("member_idx")) -> r)
      .toMap
    assert(rows.size === 4)
    assert(rows((1L, 0L)).getAs[String]("body") === "body WARC/1.0 trap x")
    assert(rows((1L, 1L)).getAs[String]("warc_type") === "metadata")
    assert(rows((2L, 0L)).getAs[String]("target_uri") === "https://b.org/q")
    assert(rows.values.forall(r => r.getAs[Long]("rec_idx") === 0L &&
      r.getAs[Boolean]("length_ok")))
    // parity: gz path ≡ plain path on the same records
    val plain = Warc.parseRecords(
        Warc.splitRecords(docs.select(col("doc_id"), concat(
          Warc.record(lit("response"), col("url"), col("text")),
          Warc.record(lit("metadata"), col("url"), lit("meta"))).as("a")),
          col("a")),
        col("record"))
      .select("doc_id", "warc_type", "target_uri", "content_length", "body")
      .collect().map(_.toSeq).toSet
    val viaGz = Warc.parseRecords(
        Warc.splitRecordsGz(docs.select(col("doc_id"), blob.as("a")), col("a")),
        col("record"))
      .select("doc_id", "warc_type", "target_uri", "content_length", "body")
      .collect().map(_.toSeq).toSet
    assert(viaGz === plain, "gz and plain ingest must land identical records")
  }

  test("Zip: central-directory walk, CRC-verified inflate, JDK conformance both directions") {
    import graft.expressions.ZipKernel
    // an archive written by the INDEPENDENT JDK writer decodes
    // name- and byte-exact (ZipOutputStream emits data descriptors
    // after deflated entries — exactly why the walk must go through
    // the central directory, not the local headers)
    val bos = new java.io.ByteArrayOutputStream()
    val zos = new java.util.zip.ZipOutputStream(bos)
    zos.putNextEntry(new java.util.zip.ZipEntry("a/first.txt"))
    zos.write("hello zip world".getBytes("UTF-8"))
    zos.closeEntry()
    zos.putNextEntry(new java.util.zip.ZipEntry("second.bin"))
    zos.write(Array.tabulate(5000)(i => (i % 251).toByte))
    zos.closeEntry()
    val stored = new java.util.zip.ZipEntry("third.raw")
    val payload = "stored bytes".getBytes("UTF-8")
    stored.setMethod(java.util.zip.ZipOutputStream.STORED)
    stored.setSize(payload.length)
    val crc = new java.util.zip.CRC32(); crc.update(payload)
    stored.setCrc(crc.getValue)
    zos.putNextEntry(stored)
    zos.write(payload)
    zos.closeEntry()
    zos.close()
    val got = ZipKernel.entries(bos.toByteArray, 1 << 20)
    assert(got != null && got.numElements() === 3, "JDK archive rejected")
    assert(got.getStruct(0, 2).getUTF8String(0).toString === "a/first.txt")
    assert(new String(got.getStruct(0, 2).getBinary(1), "UTF-8") === "hello zip world")
    assert(got.getStruct(1, 2).getBinary(1).length === 5000)
    assert(new String(got.getStruct(2, 2).getBinary(1), "UTF-8") === "stored bytes")
    // and the JDK reader accepts OUR writer's archives
    val ours = ZipKernel.build(
      Array("x.txt".getBytes, "y/z.bin".getBytes),
      Array("alpha".getBytes, Array.tabulate(600)(_.toByte)),
      Array(0, 8))
    val zis = new java.util.zip.ZipInputStream(
      new java.io.ByteArrayInputStream(ours))
    val e1 = zis.getNextEntry
    assert(e1.getName === "x.txt" &&
      new String(zis.readAllBytes(), "UTF-8") === "alpha")
    val e2 = zis.getNextEntry
    assert(e2.getName === "y/z.bin" && zis.readAllBytes().length === 600)
    assert(zis.getNextEntry == null)
    // traps: corrupt CRC, truncated tail, junk → null; bomb guard
    val bad = ours.clone()
    bad(30 + 5) = 'X' // flip a stored byte: CRC must catch it
    assert(ZipKernel.entries(bad, 1 << 20) == null, "CRC mismatch must null")
    assert(ZipKernel.entries(ours.take(ours.length - 5), 1 << 20) == null)
    assert(ZipKernel.entries("not a zip at all......".getBytes, 1 << 20) == null)
    assert(ZipKernel.entries(bos.toByteArray, 100) == null,
      "per-entry budget must bound the inflate")
    // a structurally valid EMPTY archive (EOCD only: n=0, cdOff ==
    // eocd offset, cdSize 0 — what `zipfile.ZipFile(w)` closes with
    // no entries) is an empty ARRAY, not null (r13 — the 46-byte
    // central-record minimum only applies when entries exist)
    val emptyZip = Array[Byte]('P', 'K', 5, 6) ++ new Array[Byte](18)
    val emptyGot = ZipKernel.entries(emptyZip, 1 << 20)
    assert(emptyGot != null && emptyGot.numElements() === 0,
      "empty archive must yield zero entries, not null")
  }

  test("Mbox: envelope split, mboxrd unescape, header case, no-envelope blobs vanish") {
    import graft.sources.Mbox
    val mbox =
      "From a@x.com Thu Jan  1 00:00:00 2026\n" +
        "FROM: Alice <a@x.com>\nSubject: first\n\n" +
        "body one\n>From me, escaped\n" +
        "From b@y.org Thu Jan  1 00:00:01 2026\n" +
        "Subject: second\n\nplain\n" +
        "From c@z.net Thu Jan  1 00:00:02 2026\n\n" // headers absent, empty body
    val got = Mbox.parseMessages(
        Mbox.messages(Seq((1L, mbox)).toDF("doc_id", "mbox"), col("mbox")),
        col("message"))
      .collect().map(r => r.getAs[Long]("msg_idx") -> r).toMap
    assert(got.size === 3)
    assert(got(0L).getAs[String]("envelope_from") === "a@x.com")
    assert(got(0L).getAs[String]("from_addr") === "Alice <a@x.com>",
      "header-name matching must be case-insensitive")
    assert(got(0L).getAs[String]("body") === "body one\nFrom me, escaped",
      "mboxrd >From must unescape")
    assert(got(1L).getAs[String]("from_addr") == null, "absent From: header")
    assert(got(1L).getAs[String]("subject") === "second")
    assert(got(2L).getAs[String]("envelope_from") === "c@z.net")
    // a blob with no envelope separator yields zero messages
    assert(Mbox.messages(Seq((1L, "just plain text, no mail here"))
      .toDF("doc_id", "mbox"), col("mbox")).count() === 0L)
  }

  test("Warc.parseHttp: status line, case-insensitive content-type, charset, payload split") {
    import graft.sources.Warc
    val rows = Seq(
      (1L, "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=UTF-8\r\n\r\n<p>hi</p>"),
      (2L, "HTTP/1.0 404 Not Found\r\ncontent-type: TEXT/Plain\r\n\r\ngone"),
      (3L, "HTTP/1.1 301 Moved Permanently\r\nLocation: /x\r\n" +
        "CONTENT-TYPE: application/json;charset=\"iso-8859-1\"\r\n\r\n{}"),
      (4L, "HTTP/1.1 204 \r\nServer: s\r\n\r\n"), // empty reason, empty body
      (5L, "not an http message at all"),
      (6L, "HTTP/1.1 200 OK\r\nno header terminator"))
      .toDF("doc_id", "body")
    val got = Warc.parseHttp(rows, col("body"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got(1L).getAs[Boolean]("http_valid"))
    assert(got(1L).getAs[Long]("http_status") === 200L)
    assert(got(1L).getAs[String]("content_type") === "text/html")
    assert(got(1L).getAs[String]("charset") === "utf-8")
    assert(got(1L).getAs[String]("http_body") === "<p>hi</p>")
    assert(got(2L).getAs[String]("content_type") === "text/plain",
      "header name and value case must both normalize")
    assert(got(2L).getAs[String]("charset") == null, "no charset parameter")
    assert(got(3L).getAs[String]("http_reason") === "Moved Permanently")
    assert(got(3L).getAs[String]("content_type") === "application/json")
    assert(got(3L).getAs[String]("charset") === "iso-8859-1",
      "quoted charset parameter must parse")
    assert(got(4L).getAs[Boolean]("http_valid"))
    assert(got(4L).getAs[String]("http_reason") === "")
    assert(got(4L).getAs[String]("http_body") === "")
    assert(got(4L).getAs[String]("content_type") == null)
    assert(!got(5L).getAs[Boolean]("http_valid"))
    assert(!got(6L).getAs[Boolean]("http_valid"),
      "a status line without a header terminator is not a parseable message")
    assert(got(5L).isNullAt(got(5L).fieldIndex("http_status")))
  }
}
