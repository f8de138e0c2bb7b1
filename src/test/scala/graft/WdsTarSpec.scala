package graft

import org.apache.spark.sql.functions._

import graft.expressions.TarKernel
import graft.sources.Wds

/** ustar member walk + WebDataset sample regroup: real-encoder
  * conformance against a checked-in GNU-tar fixture, writer/reader
  * round trip, structural traps, and the sample regroup semantics.
  */
class WdsTarSpec extends SparkSpec {
  import spark.implicits._

  private def fixture: Array[Byte] = {
    val in = getClass.getResourceAsStream("/fixture_ustar.tar")
    assert(in != null, "fixture_ustar.tar missing from test resources")
    try in.readAllBytes() finally in.close()
  }

  test("GNU tar fixture (independent encoder): members decode name- and byte-exact") {
    val got = TarKernel.members(fixture)
    assert(got != null, "kernel rejected a real GNU-tar ustar archive")
    val rows = (0 until got.numElements()).map { i =>
      val r = got.getStruct(i, 2)
      r.getUTF8String(0).toString -> r.getBinary(1)
    }
    // the directory member is skipped; regular files survive in order
    assert(rows.map(_._1) === Seq("a.txt", "empty.bin", "pad.bin", "dirA/n.txt"))
    assert(new String(rows(0)._2, "UTF-8") === "hello tar world")
    assert(rows(1)._2.length === 0)
    assert(rows(2)._2.toSeq === Array.tabulate(768)(i => (i % 256).toByte).toSeq)
    assert(new String(rows(3)._2, "UTF-8") === "nested member")
  }

  test("writer/reader round trip; GNU tar reads our members back") {
    val shard = TarKernel.member("x/one.txt".getBytes, "payload one".getBytes) ++
      TarKernel.member("two.bin".getBytes, Array.tabulate(600)(_.toByte)) ++
      TarKernel.Terminator
    val got = TarKernel.members(shard)
    assert(got != null && got.numElements() === 2)
    assert(got.getStruct(0, 2).getUTF8String(0).toString === "x/one.txt")
    assert(got.getStruct(1, 2).getBinary(1).length === 600)
    // external conformance: GNU tar lists our archive
    val f = java.io.File.createTempFile("graft_tar", ".tar")
    try {
      java.nio.file.Files.write(f.toPath, shard)
      val p = new ProcessBuilder("tar", "-tf", f.getAbsolutePath).start()
      val names = new String(p.getInputStream.readAllBytes(), "UTF-8")
      assert(p.waitFor() === 0, "GNU tar rejected our archive")
      assert(names.split("\n").toSeq === Seq("x/one.txt", "two.bin"))
    } finally f.delete()
  }

  test("structural traps: checksum, truncation, misalignment, overrun all null") {
    val good = TarKernel.member("a.txt".getBytes, "hi".getBytes) ++
      TarKernel.Terminator
    assert(TarKernel.members(good) != null)
    val badSum = good.clone(); badSum(0) = 'z' // name change breaks checksum
    assert(TarKernel.members(badSum) == null, "checksum mismatch must null")
    assert(TarKernel.members(good.take(good.length - 100)) == null,
      "misaligned blob must null")
    assert(TarKernel.members(good.take(1024)) != null,
      "header+data with clean exhaustion is tolerated (no terminator)")
    // header alone: the declared size overruns the blob
    assert(TarKernel.members(good.take(512)) == null,
      "member data overrunning the blob must null")
  }

  test("samples: same-stem regroup, extension map, missing-modality lane") {
    val shard = TarKernel.member("s1.jpg".getBytes, Array[Byte](1, 2)) ++
      TarKernel.member("s1.txt".getBytes, "caption".getBytes) ++
      TarKernel.member("s2.txt".getBytes, "text only".getBytes) ++
      TarKernel.member("noext".getBytes, "bare".getBytes) ++
      TarKernel.Terminator
    val df = Seq((7L, shard)).toDF("doc_id", "shard")
    val got = Wds.samples(df, col("shard")).collect()
      .map(r => r.getAs[String]("stem") ->
        (r.getAs[Long]("n_members"), r.getAs[Map[String, Array[Byte]]]("parts")))
      .toMap
    assert(got.keySet === Set("s1", "s2", "noext"))
    assert(got("s1")._1 === 2L)
    assert(got("s1")._2.keySet === Set("jpg", "txt"))
    assert(new String(got("s1")._2("txt"), "UTF-8") === "caption")
    assert(got("s2")._1 === 1L && got("s2")._2.keySet === Set("txt"))
    assert(got("noext")._2.keySet === Set(""),
      "extension-less members key the empty extension")
    // a malformed shard with a DUPLICATE same-stem extension must not
    // throw (map_from_entries would): first entry in sorted order wins
    val dup = TarKernel.member("s1.txt".getBytes, "AAA".getBytes) ++
      TarKernel.member("s1.txt".getBytes, "BBB".getBytes) ++
      TarKernel.Terminator
    val d2 = Wds.samples(Seq((1L, dup)).toDF("doc_id", "shard"),
      col("shard")).head()
    assert(d2.getAs[Long]("n_members") === 2L)
    assert(new String(
      d2.getAs[Map[String, Array[Byte]]]("parts")("txt"), "UTF-8") === "AAA")
  }

  test("wdsCurate: image gate, dedup canonicality, caption floor compose; junk shards vanish") {
    import graft.expressions.{JpegEncoder, TarKernel}
    val tilesA = Array.tabulate(72)(t => (t * 31 + 7) % 256)
    val tilesB = Array.tabulate(72)(t => (t * 17 + 99) % 256)
    def jpg(tiles: Array[Int]) = JpegEncoder.encodeFlatTiles(tiles, 9, 8, 0, 0)
    def shard(entries: (String, Array[Byte])*): Array[Byte] =
      entries.map { case (n, b) => TarKernel.member(n.getBytes, b) }
        .reduce(_ ++ _) ++ TarKernel.Terminator
    val shards = Seq(
      // doc 1: two samples with the SAME image; one good caption, one
      // too short; plus a sample with a broken (undecodable) image
      (1L, shard(
        "a.jpg" -> jpg(tilesA), "a.txt" -> "two tokens".getBytes,
        "b.jpg" -> jpg(tilesA), "b.txt" -> "fine words here".getBytes,
        "c.jpg" -> "not a jpeg".getBytes, "c.txt" -> "good caption".getBytes)),
      // doc 2: a fresh image, caption below the floor
      (2L, shard("d.jpg" -> jpg(tilesB), "d.txt" -> "one".getBytes)),
      // doc 3: junk bytes — not a tar, contributes zero samples
      (3L, "complete garbage".getBytes)).toDF("doc_id", "shard")
    val got = graft.ops.Pipeline.wdsCurate(shards, col("shard"))
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("stem")) -> r)
      .toMap
    assert(got.keySet === Set((1L, "a"), (1L, "b"), (1L, "c"), (2L, "d")))
    assert(got((1L, "a")).getAs[Boolean]("keep"),
      "canonical copy with a good caption must keep")
    assert(!got((1L, "b")).getAs[Boolean]("keep"), "duplicate image drops")
    assert(got((1L, "b")).getAs[Long]("n_copies") === 2L)
    assert(!got((1L, "c")).getAs[Boolean]("image_ok") &&
      !got((1L, "c")).getAs[Boolean]("keep"), "undecodable image drops")
    assert(got((2L, "d")).getAs[Boolean]("is_canonical") &&
      !got((2L, "d")).getAs[Boolean]("caption_ok") &&
      !got((2L, "d")).getAs[Boolean]("keep"), "caption floor drops")
  }

  test("packShards: samples round-trip through written shards; members stay adjacent") {
    import graft.expressions.TarKernel
    // a small curated corpus: 7 samples with mixed modalities
    val srcShard = (1 to 7).map { i =>
      TarKernel.member(s"sample$i.jpg".getBytes, Array.tabulate(40 + i)(_.toByte)) ++
        TarKernel.member(s"sample$i.txt".getBytes, s"caption $i".getBytes)
    }.reduce(_ ++ _) ++ TarKernel.Terminator
    val src = Wds.samples(Seq((0L, srcShard)).toDF("doc_id", "shard"),
      col("shard"))
    def canon(df: org.apache.spark.sql.DataFrame): Set[(String, Seq[(String, Seq[Byte])])] =
      df.select("stem", "parts").collect().map { r =>
        r.getAs[String]("stem") ->
          r.getAs[Map[String, Array[Byte]]]("parts").toSeq
            .map { case (k, v) => k -> v.toSeq }.sortBy(_._1)
      }.toSet
    val shards = Wds.packShards(src, nShards = 3)
    assert(shards.agg(sum(col("n_samples"))).head().getLong(0) === 7L)
    assert(shards.agg(sum(col("n_members"))).head().getLong(0) === 14L)
    // round trip: reading the written shards recovers the exact samples
    val back = Wds.samples(
      shards.select(col("shard_id").as("doc_id"), col("shard")),
      col("shard"))
    assert(canon(back) === canon(src), "packShards must round-trip exactly")
    // adjacency: within every written shard, each stem's members are
    // contiguous (the WebDataset streaming contract)
    shards.select("shard").collect().foreach { r =>
      val names = {
        val got = TarKernel.members(r.getAs[Array[Byte]]("shard"))
        (0 until got.numElements())
          .map(i => got.getStruct(i, 2).getUTF8String(0).toString)
      }
      val stems = names.map(_.split('.').head)
      val firstLast = stems.zipWithIndex.groupBy(_._1)
        .view.mapValues(v => (v.map(_._2).min, v.map(_._2).max, v.size))
      firstLast.foreach { case (stem, (lo, hi, n)) =>
        assert(hi - lo + 1 === n, s"stem $stem members not adjacent: $names")
      }
    }
    // determinism: the same samples pack to byte-identical shards
    val again = Wds.packShards(src, nShards = 3)
      .select("shard_id", "shard").collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    shards.select("shard_id", "shard").collect().foreach { r =>
      assert(again(r.getLong(0)) === r.getAs[Array[Byte]](1).toSeq,
        "pack must be deterministic")
    }
  }

  test("driver-row chain: tar walk, regroup, and the real JPEG decode plan is UDF-free") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(30)
    val q = SparkEntry.queries("wds_samples")
    val rows = q(spark, sfDir).limit(60).collect()
    assert(rows.length === 60)
    assert(rows.forall(_.getAs[Long]("pixels_decoded") === 128L))
    assert(rows.forall(r => r.getAs[Long]("n_members") === 3L))
    val plan = q(spark, sfDir).queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("batchevalpython"))
    // exactly ONE exchange family: the (doc, stem) regroup (+ the
    // gate's output sort) — the walks and the decode are map-side
    assert(!plan.contains("CartesianProduct"))
  }

  test("binaryShards: real files from DISK feed the member walk (last-mile ingest)") {
    import graft.sources.Sources
    // the file face: a directory of archives → (shard_id, payload)
    // rows → the SAME blob-column operators; the fixture read here is
    // the checked-in GNU-tar archive, straight from the filesystem
    val dir = new java.io.File(
      getClass.getResource("/fixture_ustar.tar").toURI).getParent
    val shards = Sources.binaryShards(spark, dir, "*.tar")
    val rows = shards.collect()
    assert(rows.length === 1, "glob must select exactly the tar fixture")
    val r = rows.head
    assert(r.getAs[String]("shard_path").endsWith("fixture_ustar.tar"))
    assert(r.getAs[Long]("length") === fixture.length.toLong)
    assert(r.getAs[Array[Byte]]("payload").toSeq === fixture.toSeq,
      "payload must be the file's exact bytes")
    // the two-line file→samples flow the scaladoc advertises
    val stems = Wds.samples(shards, col("payload"), keys = Seq("shard_id"))
      .collect().map(_.getAs[String]("stem")).sorted.toSeq
    assert(stems === Seq("a", "dirA/n", "empty", "pad"),
      "disk-read shards must regroup exactly like the blob-column path")
  }

  test("binaryShards refuses a >2 GiB shard up front (one file = one JVM byte array)") {
    import graft.sources.Sources
    val tmp = tempDir("graft_shards").toFile
    val big = new java.io.File(tmp, "big.tar")
    try {
      // sparse file: 3 GiB of metadata, zero blocks — the refusal
      // must come from the LENGTH probe, before any content read
      val raf = new java.io.RandomAccessFile(big, "rw")
      try raf.setLength(3L << 30) finally raf.close()
      val e = intercept[IllegalArgumentException] {
        Sources.binaryShards(spark, tmp.getAbsolutePath, "*.tar")
      }
      assert(e.getMessage.contains("2 GiB") &&
        e.getMessage.contains("big.tar"),
        s"refusal must name the limit and the file: ${e.getMessage}")
    } finally {
      big.delete()
      tmp.delete()
    }
  }

  test("gzip_concat: member reassembly is byte-exact; JDK conformance; traps null") {
    import graft.expressions.GzipKernel
    val tar = TarKernel.member("a.txt".getBytes, "hello tar".getBytes) ++
      TarKernel.member("b.bin".getBytes,
        Array.tabulate(2000)(i => ((i * 13) % 251).toByte)) ++
      TarKernel.Terminator
    // split at arbitrary NON-boundary offsets into three members,
    // one written by the JDK's own GZIPOutputStream (cross-encoder)
    def jdk(b: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(out)
      g.write(b); g.close()
      out.toByteArray
    }
    val blob = GzipKernel.compress(java.util.Arrays.copyOfRange(tar, 0, 700)) ++
      jdk(java.util.Arrays.copyOfRange(tar, 700, 1501)) ++
      GzipKernel.compress(java.util.Arrays.copyOfRange(tar, 1501, tar.length))
    val got = GzipKernel.concatMembers(blob, 1 << 20)
    assert(got != null && java.util.Arrays.equals(got, tar),
      "reassembly across member boundaries must be byte-exact")
    // the reassembled stream feeds the tar walk unchanged
    val members = TarKernel.members(got)
    assert(members != null && members.numElements() === 2)
    // traps: corrupt member nulls the whole blob; bomb cap binds TOTAL
    val bad = blob.clone()
    bad(bad.length - 5) = (bad(bad.length - 5) ^ 1).toByte
    assert(GzipKernel.concatMembers(bad, 1 << 20) == null, "CRC lie")
    assert(GzipKernel.concatMembers(blob, 1500) == null, "total cap")
    assert(GzipKernel.concatMembers("text".getBytes, 1 << 20) == null)
  }

  test("wds_tgz_samples ≡ wds_samples: the compression layer is lossless end-to-end") {
    val sfDirLocal = sfDir
    val a = SparkEntry.queries("wds_samples")(spark, sfDirLocal)
      .where(col("doc_id") < 60).collect()
    val b = SparkEntry.queries("wds_tgz_samples")(spark, sfDirLocal)
      .where(col("doc_id") < 60).collect()
    assert(a.length === b.length && a.length > 0)
    a.zip(b).foreach { case (x, y) =>
      assert(x.toString === y.toString, s"row mismatch: $x vs $y")
    }
  }

  test("zstd_concat: frame reassembly is byte-exact; skippable frames skip; traps null") {
    import graft.expressions.ZstdCodecKernel
    val tar = TarKernel.member("a.txt".getBytes, "hello tar".getBytes) ++
      TarKernel.member("b.bin".getBytes,
        Array.tabulate(2000)(i => ((i * 13) % 251).toByte)) ++
      TarKernel.Terminator
    // split at arbitrary NON-boundary offsets into three frames with
    // a hand-built SKIPPABLE frame between (RFC 8878 §3.1.2: magic
    // 0x184D2A5x + u32le size + opaque bytes — libzstd must skip it)
    val skippable = Array[Byte](0x52, 0x2A, 0x4D.toByte, 0x18,
      4, 0, 0, 0, 1, 2, 3, 4)
    val blob =
      ZstdCodecKernel.compress(java.util.Arrays.copyOfRange(tar, 0, 700)) ++
      skippable ++
      ZstdCodecKernel.compress(java.util.Arrays.copyOfRange(tar, 700, 1501)) ++
      ZstdCodecKernel.compress(
        java.util.Arrays.copyOfRange(tar, 1501, tar.length))
    val got = ZstdCodecKernel.concatFrames(blob, 1 << 20)
    assert(got != null && java.util.Arrays.equals(got, tar),
      "reassembly across frame boundaries must be byte-exact")
    val members = TarKernel.members(got)
    assert(members != null && members.numElements() === 2)
    // traps: corruption nulls the whole blob; the cap binds TOTAL;
    // truncation mid-frame nulls
    val bad = blob.clone()
    bad(20) = (bad(20) ^ 0x40).toByte
    assert(ZstdCodecKernel.concatFrames(bad, 1 << 20) == null ||
      !java.util.Arrays.equals(
        ZstdCodecKernel.concatFrames(bad, 1 << 20), tar),
      "corruption must not reassemble silently to the original")
    assert(ZstdCodecKernel.concatFrames(blob, 1500) == null, "total cap")
    assert(ZstdCodecKernel.concatFrames("text bytes".getBytes, 1 << 20) == null)
    assert(ZstdCodecKernel.concatFrames(
      java.util.Arrays.copyOf(blob, blob.length - 6), 1 << 20) == null,
      "mid-frame truncation")
  }

  test("wds_tzst_samples ≡ wds_samples: the zstd layer is lossless end-to-end") {
    val sfDirLocal = sfDir
    val a = SparkEntry.queries("wds_samples")(spark, sfDirLocal)
      .where(col("doc_id") < 60).collect()
    val b = SparkEntry.queries("wds_tzst_samples")(spark, sfDirLocal)
      .where(col("doc_id") < 60).collect()
    assert(a.length === b.length && a.length > 0)
    a.zip(b).foreach { case (x, y) =>
      assert(x.toString === y.toString, s"row mismatch: $x vs $y")
    }
  }
}
