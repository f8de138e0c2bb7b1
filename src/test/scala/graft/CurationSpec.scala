package graft

import org.apache.spark.sql.functions._

import graft.ops.Curation

class CurationSpec extends SparkSpec {
  import spark.implicits._

  test("withUrlParts: hand-written URLs parse; malformed URLs stay null-safe") {
    val urls = Seq(
      (1L, "https://www.example.com/a/b/c"),
      (2L, "http://cdn.news.site.org/x"),
      (3L, "https://plain.net/"),
      (4L, "https://UPPER.Example.COM/Path"),
      (5L, "not a url at all")).toDF("doc_id", "url")
    val got = Curation.withUrlParts(urls, col("url")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got(1L).getAs[String]("host") === "www.example.com")
    assert(got(1L).getAs[String]("domain") === "example.com")
    assert(got(1L).getAs[String]("tld") === "com")
    assert(got(1L).getAs[String]("path") === "/a/b/c")
    assert(got(1L).getAs[Long]("path_depth") === 3L)
    // deep subdomain: registered domain is still the last two labels
    assert(got(2L).getAs[String]("domain") === "site.org")
    assert(got(2L).getAs[Long]("path_depth") === 1L)
    assert(got(3L).getAs[String]("host") === "plain.net")
    assert(got(3L).getAs[Long]("path_depth") === 1L) // trailing slash
    // hosts are case-normalized (the blocklist/quota join key)
    assert(got(4L).getAs[String]("host") === "upper.example.com")
    // malformed: parse_url yields null host, regexes don't throw
    assert(got(5L).isNullAt(got(5L).fieldIndex("host")))
  }

  test("domainQuota: giant domain capped at quota; stable under repartitioning; window-free") {
    // planted skew: domain "big.com" holds 1000 of 1010 rows
    val rows = (0L until 1000L).map(i => (i, "big.com")) ++
      (1000L until 1010L).map(i => (i, s"small${i % 5}.org"))
    val df = rows.toDF("doc_id", "domain")
    val kept = Curation.domainQuota(df, col("domain"), col("doc_id"), quota = 7)
    val byDomain = kept.groupBy(col("domain")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getAs[String]("domain") -> r.getAs[Long]("n")).toMap
    assert(byDomain("big.com") === 7L, "giant domain must be capped at the quota")
    assert(byDomain.filter(_._1.startsWith("small")).values.forall(_ <= 7L))
    assert(byDomain.values.sum === 7L + 10L)
    // membership is a pure function of (key, salt): same rows kept
    // regardless of physical layout
    val again = Curation.domainQuota(df.repartition(13), col("domain"),
      col("doc_id"), quota = 7).collect().map(_.toString).sorted.toSeq
    assert(again === kept.collect().map(_.toString).sorted.toSeq)
    // bounded top-k aggregate, not a rank window
    val phys = kept.queryExecution.executedPlan.toString
    assert(!phys.contains("Window"), s"domainQuota routes through a window:\n$phys")
  }

  test("dropBlocklisted: exact + subdomain semantics; equi-only mode keeps subdomains") {
    val pages = Seq(
      (1L, "bad.com"), (2L, "www.bad.com"), (3L, "cdn.api.bad.com"),
      (4L, "notbad.com"), (5L, "bad.com.evil.net"), (6L, "good.org"))
      .toDF("doc_id", "host")
    val bl = Seq("bad.com").toDF("domain")
    val kept = Curation.dropBlocklisted(pages, col("host"), bl)
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
    // 1 exact, 2/3 subdomains dropped; 4 is a different registered
    // domain (suffix match is label-aligned via the "." anchor); 5's
    // host merely CONTAINS bad.com — kept
    assert(kept === Seq(4L, 5L, 6L))
    val keptExact = Curation.dropBlocklisted(pages, col("host"), bl,
      includeSubdomains = false)
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
    assert(keptExact === Seq(2L, 3L, 4L, 5L, 6L))
  }

  test("dropBlocklisted large tier: equi-join semantics identical, no nested loop") {
    val pages = Seq(
      (1L, "bad.com"), (2L, "www.bad.com"), (3L, "cdn.api.bad.com"),
      (4L, "notbad.com"), (5L, "bad.com.evil.net"), (6L, "good.org"),
      (7L, "deep.sub.worse.net"))
      .toDF("doc_id", "host")
    // 5000 padding entries push the list over the theta threshold —
    // the industrial-blocklist shape the equi-join tier exists for
    val bl = (Seq("bad.com", "worse.net") ++
      (0 until 5000).map(i => s"pad$i.example")).toDF("domain")
    val large = Curation.dropBlocklisted(pages, col("host"), bl,
      thetaMaxEntries = 4096L)
    val kept = large.select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
    assert(kept === Seq(4L, 5L, 6L), s"large tier semantics drifted: $kept")
    // ... and match the theta tier row-for-row on the same inputs
    val theta = Curation.dropBlocklisted(pages, col("host"), bl,
        thetaMaxEntries = 10000L)
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
    assert(theta === kept)
    // plan contract: the large tier must carry NO nested-loop join
    val phys = large.queryExecution.executedPlan.toString
    assert(!phys.contains("BroadcastNestedLoopJoin"),
      s"large blocklist tier routes through a nested loop:\n$phys")
  }

  test("PSL registered domains: ccTLD split, wildcard, exception, private suffix, defaults") {
    val hosts = Seq(
      (1L, "www.bbc.co.uk"), (2L, "amazon.co.uk"), (3L, "news.bbc.co.uk"),
      (4L, "example.com"), (5L, "deep.sub.example.com"),
      (6L, "user1.github.io"), (7L, "a.user1.github.io"),
      (8L, "foo.bar.ck"),       // *.ck → PS = bar.ck
      (9L, "www.ck"),           // !www.ck → PS = ck, domain = www.ck
      (10L, "city.kawasaki.jp"),// !city.kawasaki.jp → PS = kawasaki.jp
      (11L, "x.pref.kawasaki.jp"), // *.kawasaki.jp → PS = pref.kawasaki.jp
      (12L, "co.uk"),           // host IS a public suffix → null
      (13L, "localhost"),       // single label → null
      (14L, null: String))
      .toDF("doc_id", "host")
    val got = hosts
      .withColumn("rd", Curation.registeredDomainPsl(col("host")))
      .withColumn("ps", Curation.publicSuffixPsl(col("host")))
      .collect().map(r => r.getLong(0) ->
        (Option(r.getAs[String]("rd")), Option(r.getAs[String]("ps")))).toMap
    // the whole point: bbc.co.uk ≠ co.uk-wide identity
    assert(got(1L) === (Some("bbc.co.uk"), Some("co.uk")))
    assert(got(2L) === (Some("amazon.co.uk"), Some("co.uk")))
    assert(got(3L)._1 === Some("bbc.co.uk"), "subdomain folds into the tenant")
    // default rule: unmatched TLD = the final label
    assert(got(4L) === (Some("example.com"), Some("com")))
    assert(got(5L)._1 === Some("example.com"))
    // private-section hosting suffix: tenant is the entity
    assert(got(6L) === (Some("user1.github.io"), Some("github.io")))
    assert(got(7L)._1 === Some("user1.github.io"))
    // wildcard *.ck: every 2-label .ck suffix is public
    assert(got(8L) === (Some("foo.bar.ck"), Some("bar.ck")))
    // exception !www.ck: www.ck is a registrable name under ck
    assert(got(9L) === (Some("www.ck"), Some("ck")))
    // exception !city.kawasaki.jp under wildcard *.kawasaki.jp
    assert(got(10L) === (Some("city.kawasaki.jp"), Some("kawasaki.jp")))
    assert(got(11L) === (Some("x.pref.kawasaki.jp"), Some("pref.kawasaki.jp")))
    // a bare public suffix has no registered domain
    assert(got(12L)._1 === None)
    assert(got(13L)._1 === None)
    assert(got(14L) === (None, None))
  }

  test("PSL join tier: host-for-host identical to the HOF tier; dispatcher; no nested loop") {
    // every rule class + the corner hosts the HOF tier pins: wildcard
    // needing its filler label (bare `ck`), exception-under-wildcard,
    // bare suffix, single label, empty string, null
    val hosts = Seq(
      (1L, "www.bbc.co.uk"), (2L, "bbc.co.uk"), (3L, "co.uk"),
      (4L, "example.com"), (5L, "deep.sub.example.com"),
      (6L, "user1.github.io"), (7L, "foo.bar.ck"), (8L, "bar.ck"),
      (9L, "ck"), (10L, "www.ck"), (11L, "sub.www.ck"),
      (12L, "city.kawasaki.jp"), (13L, "x.pref.kawasaki.jp"),
      (14L, "localhost"), (15L, ""), (16L, null: String))
      .toDF("doc_id", "host")
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select(col("host"), col("public_suffix"), col("domain_psl"))
      .collect()
      .map(r => Option(r.getString(0)) ->
        (Option(r.getString(1)), Option(r.getString(2)))).toMap
    val hof = key(hosts
      .withColumn("public_suffix", Curation.publicSuffixPsl(col("host")))
      .withColumn("domain_psl", Curation.registeredDomainPsl(col("host"))))
    val joined = Curation.pslDomainsJoined(hosts)
    val got = key(joined)
    for ((h, expect) <- hof if h.isDefined)
      assert(got(h) === expect, s"join tier drifted on host=$h")
    assert(got.size === hof.size - 1, "join tier is hosts-grain, nulls dropped")
    // spot-pin the decisive corners against ABSOLUTE values too
    assert(got(Some("ck")) === (Some("ck"), None),
      "bare `ck` must NOT match *.ck (the wildcard needs its label)")
    assert(got(Some("sub.www.ck")) === (Some("ck"), Some("www.ck")),
      "exception prevails over the longer wildcard match")
    // plan contract: equi-joins only
    val phys = joined.queryExecution.executedPlan.toString
    assert(!phys.contains("BroadcastNestedLoopJoin"),
      s"PSL join tier routes through a nested loop:\n$phys")
    // dispatcher: an over-threshold rule list routes to the join tier
    // and the full-corpus face keeps the HOF schema and values
    val bigRules = Curation.PublicSuffixes ++
      (0 until 5000).map(i => s"pad$i.example")
    val docs = Seq((1L, "https://news.bbc.co.uk/a"), (2L, "https://x.ck/b"))
      .toDF("doc_id", "url")
    val viaDispatch = Curation.withUrlPartsPsl(docs, col("url"), bigRules)
    val viaHof = Curation.withUrlPartsPsl(docs, col("url"))
    assert(viaDispatch.columns.toSeq === viaHof.columns.toSeq)
    val dd = viaDispatch.select(col("doc_id"), col("domain_psl"), col("public_suffix"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(dd(1L) === ("bbc.co.uk", "co.uk"))
    assert(dd(2L) === (null, "x.ck"))
  }

  test("domainStats: counts, host cardinality, quota utilization") {
    val pages = Seq(
      (1L, "a.com", "www.a.com"), (2L, "a.com", "a.com"), (3L, "a.com", "www.a.com"),
      (4L, "b.org", "b.org")).toDF("doc_id", "domain", "host")
    val got = Curation.domainStats(pages, quota = 2).collect()
      .map(r => r.getAs[String]("domain") -> r).toMap
    assert(got("a.com").getAs[Long]("n_pages") === 3L)
    assert(got("a.com").getAs[Long]("n_hosts") === 2L)
    assert(got("a.com").getAs[Long]("n_kept") === 2L)
    assert(got("a.com").getAs[Double]("quota_util") === 1.5)
    assert(got("b.org").getAs[Long]("n_kept") === 1L)
  }

  test("domainQuality: token volume, punct ratio, within-domain dup rate") {
    // two domains: a.com has 4 pages (2 identical mirrors) on 2 hosts,
    // b.org has 1 page of pure punctuation
    val pages = Seq(
      (1L, "https://www.a.com/x", "alpha beta gamma"),
      (2L, "https://a.com/y", "alpha beta gamma"), // mirror of 1
      (3L, "https://www.a.com/z", "delta epsilon"),
      (4L, "https://a.com/w", "zeta! eta?"),
      (5L, "https://b.org/p", "!!! ???")).toDF("doc_id", "url", "text")
    val got = Curation.domainQuality(pages, col("url")).collect()
      .map(r => r.getAs[String]("domain") -> r).toMap
    val a = got("a.com")
    assert(a.getAs[Long]("n_pages") === 4L)
    assert(a.getAs[Long]("n_hosts") === 2L)
    // tokens: 3 + 3 + 2 + 2 = 10; mean = 2.5
    assert(a.getAs[Long]("n_tokens") === 10L)
    assert(a.getAs[Double]("mean_doc_tokens") === 2.5)
    // 3 distinct fingerprints over 4 pages -> dup rate 0.25
    assert(a.getAs[Double]("dup_rate") === 0.25)
    // punct: 2 of (16+16+13+10) lowered chars
    assert(a.getAs[Double]("punct_ratio") === 2.0 / 55.0)
    val b = got("b.org")
    // all-punct page: zero tokens, punct ratio 6/7, no dups
    assert(b.getAs[Long]("n_tokens") === 0L)
    assert(b.getAs[Double]("dup_rate") === 0.0)
    assert(b.getAs[Double]("punct_ratio") === 6.0 / 7.0)
    // one narrow pass + one keyed agg: no window, no join
    val phys = Curation.domainQuality(pages, col("url"))
      .queryExecution.executedPlan.toString
    assert(!phys.contains("Window"), s"domainQuality routes through a window:\n$phys")
    assert(!phys.contains("Join"), s"domainQuality should not join:\n$phys")
  }

  test("applyRobots: RFC 9309 precedence — longest match wins, Allow wins ties, no-rule hosts allowed") {
    val pages = Seq(
      (1L, "a.com", "/private/x"),       // blocked by /private
      (2L, "a.com", "/private/pub/x"),   // re-allowed: /private/pub is longer
      (3L, "a.com", "/open/x"),          // no matching rule -> allowed
      (4L, "a.com", "/tie"),             // equal-length tie -> Allow prevails
      (5L, "b.org", "/private/x"),       // host has NO rules -> allowed
      (6L, "a.com", null))               // null path -> '' matches nothing
      .toDF("doc_id", "host", "path")
    val rules = Seq(
      ("a.com", "/private", false),
      ("a.com", "/private/pub", true),
      ("a.com", "/tie", false),
      ("A.COM", "/tie", true)) // case-insensitive host key; same-length tie
      .toDF("host", "path_prefix", "allow")
    val got = Curation.applyRobots(pages, rules).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Boolean]("robots_allowed"),
          Option(r.getAs[Integer]("robots_rule_len")))).toMap
    assert(got(1L) === (false, Some(8)))
    assert(got(2L) === (true, Some(12)))
    assert(got(3L) === (true, None))
    assert(got(4L) === (true, Some(4)))
    assert(got(5L) === (true, None))
    assert(got(6L) === (true, None))
    // one equi-join on host, no window, no cartesian
    val phys = Curation.applyRobots(pages, rules)
      .queryExecution.executedPlan.toString
    assert(!phys.contains("Window"), s"robots gate routes through a window:\n$phys")
    assert(!phys.contains("Cartesian"), s"robots gate goes cartesian:\n$phys")
  }

  test("crawlWaves: per-key politeness waves in priority order; partitioning-invariant") {
    // host a: 5 urls with priorities forcing a known order; perWave=2
    val rows = Seq(
      ("a.com", "u1", 30L), ("a.com", "u2", 10L), ("a.com", "u3", 20L),
      ("a.com", "u4", 40L), ("a.com", "u5", 50L),
      ("b.org", "v1", 99L)).toDF("host", "url", "prio")
    def run(df: org.apache.spark.sql.DataFrame) =
      Curation.crawlWaves(df, col("host"), col("url"), col("prio"), perWave = 2)
    val got = run(rows).collect()
      .map(r => r.getAs[String]("url") ->
        (r.getAs[Long]("host_rank"), r.getAs[Long]("wave"))).toMap
    // priority order on a.com: u2(10) u3(20) u1(30) u4(40) u5(50)
    assert(got("u2") === (0L, 0L))
    assert(got("u3") === (1L, 0L))
    assert(got("u1") === (2L, 1L))
    assert(got("u4") === (3L, 1L))
    assert(got("u5") === (4L, 2L))
    assert(got("v1") === (0L, 0L), "each key schedules independently")
    // no wave holds more than perWave urls of one key
    val perWaveCounts = run(rows).groupBy(col("host"), col("wave"))
      .agg(count(lit(1)).as("n")).collect().map(_.getAs[Long]("n"))
    assert(perWaveCounts.forall(_ <= 2L))
    // pure function of the ordered frontier
    val again = run(rows.repartition(5)).collect().map(_.toString).sorted.toSeq
    assert(again === run(rows).collect().map(_.toString).sorted.toSeq)
  }

  test("filterSeen: ≡ exact membership; canonicalize-before-probe; null URLs pass") {
    val landed = Seq("https://a.com/p", "https://a.com/q", "https://b.org/r")
      .toDF("canonical_url")
    val frontier = Seq(
      (1L, "https://a.com/p?utm_source=x#f"), // messy re-crawl of landed
      (2L, "https://a.com/new"),
      (3L, "https://b.org/r"),
      (4L, null.asInstanceOf[String]),        // unparseable: passes
      (5L, "https://c.net/s")).toDF("doc_id", "url")
    val got = Curation.filterSeen(frontier, col("url"), landed).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("seen")).toMap
    assert(got === Map(1L -> true, 2L -> false, 3L -> true,
      4L -> false, 5L -> false))
    // exactness under an ADVERSARIAL bloom: fpp near 0.5 forces false
    // positives through the probe — the semi-join must kill them all
    val many = spark.range(2000).toDF("doc_id")
      .select(col("doc_id"),
        concat(lit("https://x.io/d"), col("doc_id").cast("string")).as("url"))
    val landedHalf = many.where(col("doc_id") % 2 === 0)
      .select(Curation.canonicalizeUrl(col("url")).as("canonical_url"))
    val res = Curation.filterSeen(many, col("url"), landedHalf, fpp = 0.4)
      .agg(sum(when(col("seen"), 1L).otherwise(0L)).as("s"),
        sum(when(col("seen") =!= (col("doc_id") % 2 === 0), 1L).otherwise(0L))
          .as("wrong"))
      .head()
    assert(res.getLong(0) === 1000L && res.getLong(1) === 0L,
      s"bloom false positives must not survive the verify join: $res")
  }

  test("canonicalizeUrl: fragment/tracking/sort/port/slash/case normalize; idempotent") {
    val urls = Seq(
      (1L, "HTTPS://WWW.Example.COM:443/Path/"),
      (2L, "https://a.com/p?utm_source=x&b=2&a=1#frag"),
      (3L, "http://a.com:80/p?z=1&gclid=abc&fbclid=def"),
      (4L, "https://a.com/p?b=2&a=1"),
      (5L, "https://a.com/p?a=1&b=2"),
      (6L, "https://a.com/"),
      (7L, "https://a.com/clean?x=1")).toDF("doc_id", "url")
    val got = urls.withColumn("c", Curation.canonicalizeUrl(col("url")))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("c")).toMap
    // authority lowercased (path case preserved), :443 + trailing slash gone
    assert(got(1L) === "https://www.example.com/Path")
    // tracking params dropped, survivors sorted, fragment gone
    assert(got(2L) === "https://a.com/p?a=1&b=2")
    assert(got(3L) === "http://a.com/p?z=1")
    // param ORDER no longer distinguishes the same page
    assert(got(4L) === got(5L))
    // root URL: trailing slash strips to the bare authority
    assert(got(6L) === "https://a.com")
    assert(got(7L) === "https://a.com/clean?x=1")
    // idempotent: canonical of canonical is itself
    val twice = urls.withColumn("c", Curation.canonicalizeUrl(
      Curation.canonicalizeUrl(col("url")))).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("c")).toMap
    assert(twice === got)
  }

  test("blocklistTerms: token-level hits, embedded words spared, zero-shuffle plan") {
    val docs = Seq(
      (1L, "the slow slow merge of things"),
      (2L, "clean text here"),
      (3L, "slowly merging windowless"), // embedded words must NOT hit
      (4L, "slow merge window")).toDF("doc_id", "text")
    val got = Curation.blocklistTerms(docs, Seq("slow", "merge", "window"),
      maxHits = 2)
    val m = got.collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(m(1L).getAs[Long]("n_blocked_hits") === 3L)
    assert(m(1L).getAs[Long]("n_blocked_distinct") === 2L)
    assert(!m(1L).getAs[Boolean]("keep"))
    assert(m(2L).getAs[Long]("n_blocked_hits") === 0L && m(2L).getAs[Boolean]("keep"))
    assert(m(3L).getAs[Long]("n_blocked_hits") === 0L,
      "token-level matching must spare embedded words")
    assert(m(4L).getAs[Long]("n_blocked_hits") === 3L && !m(4L).getAs[Boolean]("keep"))
    // the wordlist is a plan literal: no join, no exchange anywhere
    val phys = got.queryExecution.executedPlan.toString
    assert(!phys.contains("Exchange") && !phys.contains("Join"),
      s"blocklistTerms must be map-only:\n$phys")
  }

  test("stripBoilerplate: intra-group repeated lines stripped; body reassembles positionally") {
    import graft.text.Boilerplate
    val docs = ((1L to 6L).map(i =>
      (i, "A", s"HEADER\nbody $i line one\nmid $i\nFOOTER")) ++ Seq(
      (7L, "A", "HEADER\nFOOTER"), // pure-boilerplate page
      (10L, "B", "shared\nuniq10"), // df=2 < minDf — kept
      (11L, "B", "shared\nuniq11"))).toDF("doc_id", "source", "text")
    val got = Boilerplate.stripBoilerplate(docs, col("source"), minDf = 5)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got(1L).getAs[String]("clean_text") === "body 1 line one\nmid 1")
    assert(got(1L).getAs[Long]("n_lines") === 4L)
    assert(got(1L).getAs[Long]("n_boiler_removed") === 2L)
    // the pure-boilerplate page empties (downstream length filter's job)
    assert(got(7L).getAs[String]("clean_text") === "")
    assert(got(7L).getAs[Long]("n_boiler_removed") === 2L)
    // group B's shared line is below the threshold — intra-group df,
    // not corpus-wide, decides
    assert(got(10L).getAs[String]("clean_text") === "shared\nuniq10")
    assert(got(10L).getAs[Long]("n_boiler_removed") === 0L)
    // partition-layout free
    val again = Boilerplate.stripBoilerplate(docs.repartition(7), col("source"), minDf = 5)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("clean_text")).toMap
    assert(again === got.view.mapValues(_.getAs[String]("clean_text")).toMap)
    // no rank window in the plan (count + semi filter + reassembly only)
    val phys = Boilerplate.stripBoilerplate(docs, col("source"), minDf = 5)
      .queryExecution.executedPlan.toString
    assert(!phys.contains("Window"), s"boilerplate strip plans a window:\n$phys")
  }

  test("curateCorpus: each stage flags independently; keep is the conjunction") {
    val docs = Seq(
      // blocked domain (exact)
      (1L, "https://bad.com/x", "clean text"),
      // blocked via subdomain
      (2L, "https://www.bad.com/y", "clean text"),
      // url-dup pair: 3 keeps (min id), 4 loses — canonicalization
      // must unify the tracking-param variant first
      (3L, "https://ok.org/page", "clean text"),
      (4L, "https://ok.org/page?utm_source=x#f", "clean text"),
      // content-blocked
      (5L, "https://ok.org/other", "bad bad bad words"),
      // survivor
      (6L, "https://fine.net/a", "clean text here"),
      // null URL (a crawl record with no url field): must stay IN the
      // decision table (null canonical → url_keep defaults true,
      // domain_blocked answers false), not silently vanish
      (7L, null, "clean text")).toDF("doc_id", "url", "text")
    val got = graft.ops.Curation.curateCorpus(docs, col("url"),
      blockedDomains = Seq("bad.com"), blockedTerms = Seq("bad"),
      quota = 10, maxHits = 2)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got(1L).getAs[Boolean]("domain_blocked") && !got(1L).getAs[Boolean]("keep"))
    assert(got(2L).getAs[Boolean]("domain_blocked"))
    assert(got(3L).getAs[Boolean]("url_keep") && got(3L).getAs[Boolean]("keep"))
    assert(!got(4L).getAs[Boolean]("url_keep"), "canonical collision must lose")
    assert(got(3L).getAs[String]("canonical_url") === got(4L).getAs[String]("canonical_url"))
    assert(got(5L).getAs[Long]("n_blocked_hits") === 3L &&
      !got(5L).getAs[Boolean]("content_keep") && !got(5L).getAs[Boolean]("keep"))
    assert(got(6L).getAs[Boolean]("keep"))
    // flags stay independently auditable: doc 1 is domain-blocked but
    // its other stages still report
    assert(got(1L).getAs[Boolean]("quota_keep") && got(1L).getAs[Boolean]("url_keep"))
    // the null-URL row survives into the audit table with answered flags
    assert(got.contains(7L), "null URL must not vanish from the decision table")
    assert(got(7L).getAs[Boolean]("url_keep"))
    assert(!got(7L).getAs[Boolean]("domain_blocked"))
    assert(got(7L).isNullAt(got(7L).fieldIndex("canonical_url")))
    // the whole composition is window-free (bounded aggs + joins only)
    val phys = graft.ops.Curation.curateCorpus(docs, col("url"),
      Seq("bad.com"), Seq("bad"), quota = 10, maxHits = 2)
      .queryExecution.executedPlan.toString
    assert(!phys.contains("Window"), s"curateCorpus plans a window:\n$phys")
    // ...and carries NO global sort in the API path (r12): the flag
    // table returns unordered — gate determinism is the driver row's
    // orderBy, not a 100 TB range exchange baked into production
    assert(!phys.contains("rangepartitioning"),
      s"curateCorpus bakes a global sort into the API path:\n$phys")
  }

  test("quota ledger: batch admissions respect earlier batches' slots; full domains admit none") {
    import graft.ops.Curation
    val tmp = tempDir("graft_ledger_spec").toString
    Curation.initQuotaLedger(spark, "graft_ledger_spec_rt", Some(s"$tmp/tbl"))
    // batch 1: domain A has 3 candidates for quota 2 → 2 admitted
    val b1 = Seq((1L, "a.com"), (2L, "a.com"), (3L, "a.com"), (10L, "b.org"))
      .toDF("doc_id", "domain")
    val a1 = Curation.admitWithQuota(b1, "graft_ledger_spec_rt", quota = 2)
      .collect()
    val a1ByDom = a1.groupBy(_.getAs[String]("domain"))
    assert(a1ByDom("a.com").length === 2 && a1ByDom("b.org").length === 1)
    assert(a1.map(_.getAs[Long]("admission_rank")).forall(_ <= 2))
    // batch 2: a.com is FULL (admits none), b.org has one slot left
    val b2 = Seq((4L, "a.com"), (11L, "b.org"), (12L, "b.org"), (20L, "c.net"))
      .toDF("doc_id", "domain")
    val a2 = Curation.admitWithQuota(b2, "graft_ledger_spec_rt", quota = 2)
      .collect()
    val a2ByDom = a2.groupBy(_.getAs[String]("domain"))
      .view.mapValues(_.map(r => (r.getAs[Long]("key"),
        r.getAs[Long]("admission_rank")))).toMap
    assert(!a2ByDom.contains("a.com"), "full domain must admit none")
    assert(a2ByDom("b.org").length === 1 &&
      a2ByDom("b.org").head._2 === 2L, "b.org fills its one remaining slot")
    assert(a2ByDom("c.net").map(_._1).toSet === Set(20L))
    // the ledger records domain-lifetime counts, capped at quota
    val ledger = spark.table("graft_ledger_spec_rt").collect()
      .map(r => r.getAs[String]("domain") -> r.getAs[Long]("n_admitted")).toMap
    assert(ledger === Map("a.com" -> 2L, "b.org" -> 2L, "c.net" -> 1L))
    // batch 1's admissions were immutable across the ledger rewrite:
    // re-admitting batch 1 now admits NOTHING new for a.com/b.org
    val a3 = Curation.admitWithQuota(b1, "graft_ledger_spec_rt", quota = 2)
      .collect()
    assert(a3.isEmpty, s"replayed batch must admit nothing: ${a3.toSeq}")
  }

  test("grouped splits: every page of a domain lands in ONE split (no train/test straddle)") {
    val pages = (0L until 200L).map(i => (i, s"dom${i % 9}.com"))
      .toDF("doc_id", "domain")
    val got = graft.ops.Sampling.assignSplits(pages, col("domain")).collect()
    val byDomain = got.groupBy(_.getAs[String]("domain"))
      .view.mapValues(_.map(_.getAs[String]("split")).toSet).toMap
    byDomain.foreach { case (d, splits) =>
      assert(splits.size === 1, s"domain $d straddles splits: $splits")
    }
    assert(got.map(_.getAs[String]("split")).toSet.subsetOf(
      Set("train", "val", "test")))
  }

  test("synthUrls ∘ withUrlParts: parse recovers the synthesis formulas") {
    val docs = Seq((0L, "t", "src0"), (8L, "t", "src8"), (11L, "t", "src11"))
      .toDF("doc_id", "text", "source")
    val got = Curation.withUrlParts(Curation.synthUrls(docs), col("url"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    // doc 0: 0%7=0 → bare host, (0 div 3)%3=0 → com, 0%4=0 segs
    assert(got(0L).getAs[String]("host") === "src0.com")
    assert(got(0L).getAs[String]("path") === "/doc0")
    // doc 8: 8%7=1 → www., (8 div 3)%3=2 → net, 8%4=0 segs
    assert(got(8L).getAs[String]("host") === "www.src8.net")
    assert(got(8L).getAs[String]("path") === "/doc8")
    // doc 11: 11%7=4 → a., (11 div 3)%3=0 → com, 11%4=3 segs
    assert(got(11L).getAs[String]("host") === "a.src11.com")
    assert(got(11L).getAs[String]("domain") === "src11.com")
    assert(got(11L).getAs[String]("path") === "/s/s/s/doc11")
    assert(got(11L).getAs[Long]("path_depth") === 4L)
  }
}
