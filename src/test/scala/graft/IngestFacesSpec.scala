package graft

import org.apache.spark.sql.functions._

/** r13 ingest faces: robots.txt parsing, sitemap ingest, JSONL
  * parsing (column and file), and HTML page metadata.
  */
class IngestFacesSpec extends SparkSpec {
  import spark.implicits._

  test("parseRobotsTxt: grouping, case, comments, empty-path no-ops, agent match") {
    val txt =
      """# top comment
        |User-Agent: *
        |Disallow: /all # trailing comment
        |
        |User-agent: botA
        |User-agent: botC
        |Allow: /a-ok
        |Disallow: /a-no
        |Sitemap: https://x.example/sitemap.xml
        |user-agent: botB
        |Disallow:
        |Disallow: /b-only
        |""".stripMargin
    val df = Seq((1L, "WWW.Ex.COM", txt)).toDF("doc_id", "host", "robots_txt")
    def rulesFor(agent: String): Seq[(String, Boolean)] =
      graft.ops.Curation.parseRobotsTxt(df, col("host"), col("robots_txt"), agent)
        .orderBy("rule_idx")
        .collect().map(r => r.getAs[String]("path_prefix") ->
          r.getAs[Boolean]("allow")).toSeq
    // botA: the * group + the (botA, botC) group; botB's rules excluded;
    // the empty-path Disallow is a no-op and never appears
    assert(rulesFor("botA") ===
      Seq("/all" -> false, "/a-ok" -> true, "/a-no" -> false))
    // case-insensitive agent token
    assert(rulesFor("BOTC") === rulesFor("botA"))
    // unknown agent: only the * group
    assert(rulesFor("stranger") === Seq("/all" -> false))
    // botB: * group + its own group (empty-path dropped)
    assert(rulesFor("botB") ===
      Seq("/all" -> false, "/b-only" -> false))
    // host lowercased on the way out
    val h = graft.ops.Curation.parseRobotsTxt(df, col("host"), col("robots_txt"))
      .head().getAs[String]("host")
    assert(h === "www.ex.com")
    // no field lines at all → zero rows
    assert(graft.ops.Curation.parseRobotsTxt(
      Seq((2L, "h.example", "just prose\nno fields")).toDF("doc_id", "host", "robots_txt"),
      col("host"), col("robots_txt")).count() === 0L)
  }

  test("parseRobotsTxt feeds applyRobots: raw bytes → rules → gate decisions") {
    val txt = "User-agent: *\nDisallow: /private\nAllow: /private/pub\n"
    val robots = Seq((1L, "site.example", txt)).toDF("doc_id", "host", "robots_txt")
    val rules = graft.ops.Curation.parseRobotsTxt(
        robots, col("host"), col("robots_txt"), agent = "graftbot")
      .select("host", "path_prefix", "allow")
    val pages = Seq(
      (1L, "site.example", "/private/x"),
      (2L, "site.example", "/private/pub/y"),
      (3L, "site.example", "/open")).toDF("doc_id", "host", "path")
    val got = graft.ops.Curation.applyRobots(pages, rules)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Boolean]("robots_allowed")).toMap
    assert(got === Map(1L -> false, 2L -> true, 3L -> true),
      "longest-match + Allow-wins must bind through the parsed rules")
  }

  test("robotsSitemaps: discovery lines — case, tabs, comments, empties") {
    val txt = "User-agent: *\nDisallow: /x\n" +
      "Sitemap: https://a.example/s1.xml\n" +
      "SITEMAP:\thttps://a.example/s2.xml # mirror\n" +
      "sitemap: \n" + // empty value drops
      "  Sitemap: https://a.example/s3.xml  \n"
    val got = graft.ops.Curation.robotsSitemaps(
        Seq((1L, "A.Example", txt)).toDF("doc_id", "host", "robots_txt"),
        col("host"), col("robots_txt"))
      .orderBy("sitemap_idx")
      .collect().map(r => r.getAs[Long]("sitemap_idx") ->
        r.getAs[String]("sitemap_url"))
    assert(got.toSeq === Seq(
      0L -> "https://a.example/s1.xml",
      1L -> "https://a.example/s2.xml",
      2L -> "https://a.example/s3.xml"))
    // chains into Sitemap.parse: the discovered URLs are what a
    // crawler fetches next — no rows from a robots file without any
    assert(graft.ops.Curation.robotsSitemaps(
      Seq((2L, "b.example", "User-agent: *\nDisallow: /\n"))
        .toDF("doc_id", "host", "robots_txt"),
      col("host"), col("robots_txt")).count() === 0L)
  }

  test("Sitemap.parse: urlset fields, index kind, entity decode, invalid lane") {
    val urlset =
      """<?xml version="1.0"?>
        |<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
        |<url><loc> https://a.example/p?x=1&amp;y=2 </loc>
        |  <lastmod>2025-03-04</lastmod><priority>0.8</priority></url>
        |<url><loc>https://a.example/q</loc></url>
        |</urlset>""".stripMargin
    val index =
      """<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
        |<sitemap><loc>https://a.example/sitemap1.xml</loc></sitemap>
        |</sitemapindex>""".stripMargin
    val df = Seq((1L, urlset), (2L, index), (3L, "not xml at all"))
      .toDF("doc_id", "xml")
    val rows = graft.sources.Sitemap.parse(df, col("xml"))
      .orderBy("doc_id", "entry_idx").collect()
    assert(rows.length === 3, "invalid doc must contribute zero rows")
    val r0 = rows(0)
    assert(r0.getAs[String]("kind") === "urlset")
    assert(r0.getAs[String]("loc") === "https://a.example/p?x=1&y=2",
      "whitespace-trimmed and entity-decoded loc")
    assert(r0.getAs[String]("lastmod") === "2025-03-04")
    assert(r0.getAs[Double]("priority") === 0.8)
    val r1 = rows(1)
    assert(r1.getAs[String]("loc") === "https://a.example/q")
    assert(r1.isNullAt(r1.fieldIndex("lastmod")) &&
      r1.isNullAt(r1.fieldIndex("priority")))
    assert(rows(2).getAs[String]("kind") === "index")
    assert(rows(2).getAs[String]("loc") === "https://a.example/sitemap1.xml")
  }

  test("Jsonl: lanes (null field, missing array, malformed) and escape decode") {
    val docs = Tables.load(spark, sfDir, "documents").limit(120)
    val parsed = graft.sources.Jsonl.parse(
        graft.sources.Jsonl.synthLines(docs), col("line"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    for ((d, r) <- parsed) {
      if (d % 13 == 0) {
        assert(!r.getAs[Boolean]("json_ok"), s"doc $d must be malformed")
        assert(r.isNullAt(r.fieldIndex("text")))
      } else {
        assert(r.getAs[Boolean]("json_ok"))
        assert(r.getAs[Long]("id") === d)
        assert(r.getAs[String]("text")
          .endsWith(graft.sources.Jsonl.EscapePlantDecoded),
          s"doc $d: escape plant must decode per JSON spec")
        if (d % 7 == 0) assert(r.isNullAt(r.fieldIndex("lang")))
        else assert(r.getAs[String]("lang").nonEmpty)
        assert(r.getAs[Long]("score") === d % 97)
        if (d % 11 == 0) {
          assert(r.isNullAt(r.fieldIndex("n_tags")))
          assert(r.isNullAt(r.fieldIndex("tag0")))
        } else {
          assert(r.getAs[Long]("n_tags") === 2L)
          assert(r.getAs[String]("tag0") === s"s${d % 5}")
        }
      }
    }
  }

  test("Jsonl.docs: real .jsonl files from disk, explicit schema, malformed lane") {
    val dir = tempDir("graft_jsonl").toFile
    val f = new java.io.File(dir, "part-0.jsonl")
    try {
      val lines = Seq(
        """{"id": 1, "text": "hello world", "meta": {"lang": "en", "source": "s1", "score": 7}, "tags": ["a", "b", "c"]}""",
        """{"id": 2, "text": "no tags here", "meta": {"lang": null, "source": "s2", "score": 9}}""",
        """{"id": 3, "text": "broken line""")
      java.nio.file.Files.write(f.toPath,
        lines.mkString("\n").getBytes("UTF-8"))
      val got = graft.sources.Jsonl.docs(spark, dir.getAbsolutePath)
        .collect().map(r => Option(r.getAs[java.lang.Long]("id")) -> r)
      assert(got.length === 3)
      val byId = got.collect { case (Some(id), r) => id.longValue -> r }.toMap
      assert(byId(1L).getAs[String]("text") === "hello world")
      assert(byId(1L).getAs[Long]("n_tags") === 3L)
      assert(byId(1L).getAs[String]("tag0") === "a")
      assert(byId(2L).isNullAt(byId(2L).fieldIndex("lang")))
      assert(byId(2L).isNullAt(byId(2L).fieldIndex("n_tags")))
      val bad = got.collect { case (None, r) => r }
      assert(bad.length === 1 && !bad.head.getAs[Boolean]("json_ok"),
        "the malformed line must survive as a json_ok=false row, not kill the scan")
    } finally {
      f.delete(); dir.delete()
    }
  }

  test("Jsonl.docs: .jsonl.zst shards — the dominant LLM-corpus wire format — read byte-exact (r14)") {
    // fixture written through zstd-jni's REAL compressor (the library
    // Spark itself ships), mixed-extension directory: one .zst shard,
    // one .gz shard, one plain — all three codecs in ONE scan, which
    // is exactly how released corpora arrive (RedPajama/FineWeb ship
    // .jsonl.zst; local reprocessing mixes in plain shards)
    val dir = tempDir("graft_zst").toFile
    val fz = new java.io.File(dir, "part-0.jsonl.zst")
    val fg = new java.io.File(dir, "part-1.jsonl.gz")
    val fp = new java.io.File(dir, "part-2.jsonl")
    try {
      val zs = new com.github.luben.zstd.ZstdOutputStream(
        new java.io.FileOutputStream(fz))
      zs.write(
        ("""{"id": 1, "text": "zstd line one", "meta": {"lang": "en", "source": "z", "score": 3}, "tags": ["z1"]}""" +
          "\n" +
          """{"id": 2, "text": "zstd line two", "meta": {"lang": "de", "source": "z", "score": 4}}""" +
          "\n").getBytes("UTF-8"))
      zs.close()
      val gs = new java.util.zip.GZIPOutputStream(
        new java.io.FileOutputStream(fg))
      gs.write(
        ("""{"id": 3, "text": "gz line", "meta": {"lang": "fr", "source": "g", "score": 5}}""" +
          "\n").getBytes("UTF-8"))
      gs.close()
      java.nio.file.Files.write(fp.toPath,
        """{"id": 4, "text": "plain line", "meta": {"lang": "en", "source": "p", "score": 6}}"""
          .getBytes("UTF-8"))
      val got = graft.sources.Jsonl.docs(spark, dir.getAbsolutePath)
        .collect().map(r => r.getAs[Long]("id") -> r).toMap
      assert(got.keySet === Set(1L, 2L, 3L, 4L))
      assert(got(1L).getAs[String]("text") === "zstd line one")
      assert(got(1L).getAs[String]("lang") === "en")
      assert(got(1L).getAs[Long]("n_tags") === 1L)
      assert(got(2L).getAs[String]("text") === "zstd line two")
      assert(got(3L).getAs[String]("source") === "g")
      assert(got(4L).getAs[Long]("score") === 6L)
      assert(got.values.forall(_.getAs[Boolean]("json_ok")))
    } finally {
      fz.delete(); fg.delete(); fp.delete(); dir.delete()
    }
  }

  test("pageMeta: title/h1/meta description decode; headless lane nulls") {
    val html =
      """<html><head><title> The &amp; Title </title>
        |<meta name="keywords" content="decoy">
        |<meta name="description" content="desc &#8230; here">
        |</head><body><h1>First &lt;h1&gt;</h1><h2>mid</h2>
        |<H1>second</H1><h3>deep</h3></body></html>""".stripMargin
    val r = graft.text.Html.pageMeta(
      Seq((1L, html)).toDF("doc_id", "html"), col("html")).head()
    assert(r.getAs[String]("title") === "The & Title")
    assert(r.getAs[Long]("n_h1") === 2L)
    assert(r.getAs[String]("first_h1") === "First <h1>")
    assert(r.getAs[Long]("n_headings") === 4L)
    assert(r.getAs[String]("meta_description") === "desc … here")
    val bare = graft.text.Html.pageMeta(
      Seq((2L, "<p>no head</p>")).toDF("doc_id", "html"), col("html")).head()
    assert(bare.isNullAt(bare.fieldIndex("title")))
    assert(bare.isNullAt(bare.fieldIndex("meta_description")))
    assert(bare.getAs[Long]("n_h1") === 0L)
  }
}
