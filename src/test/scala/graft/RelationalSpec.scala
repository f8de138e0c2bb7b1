package graft

import graft.events.EventOps
import graft.ops.Relational

class RelationalSpec extends SparkSpec {

  lazy val lineitem = Tables.load(spark, sfDir, "lineitem")
  lazy val orders = Tables.load(spark, sfDir, "orders")
  lazy val customer = Tables.load(spark, sfDir, "customer")
  lazy val events = Tables.load(spark, sfDir, "events")

  test("pricingSummary: one row per (returnflag, linestatus), totals add up") {
    val rows = Relational.pricingSummary(lineitem).collect()
    assert(rows.nonEmpty && rows.length <= 6)
    val nTotal = rows.map(_.getAs[Long]("n_rows")).sum
    val expected = lineitem
      .filter("l_shipdate <= timestamp'1998-09-02 00:00:00'").count()
    assert(nTotal === expected)
    assert(rows.forall(r => r.getAs[Double]("sum_disc_price") <= r.getAs[Double]("sum_base_price")))
  }

  test("segmentRevenue covers exactly BUILDING orders with lineitems") {
    val rows = Relational.segmentRevenue(customer, orders, lineitem).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Double]("revenue") > 0))
    // distinct order keys only
    assert(rows.map(_.getAs[Long]("o_orderkey")).distinct.length === rows.length)
  }

  test("localSupplierRevenue: ASIA nations only, local-supply semantics, dims broadcast") {
    import org.apache.spark.sql.functions._
    def tb(n: String) = Tables.load(spark, sfDir, n)
    val res = graft.ops.Relational.localSupplierRevenue(
      tb("region"), tb("nation"), tb("supplier"), tb("customer"), tb("orders"), tb("lineitem"))
    val rows = res.collect()
    // every reported nation belongs to the ASIA region
    val asiaNations = tb("nation").join(
        tb("region").filter(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
      .select("n_name").collect().map(_.getString(0)).toSet
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[String]("n_name")).toSet.subsetOf(asiaNations))
    // local-supply only: manual recount of one nation via raw joins
    val nation = rows.head.getAs[String]("n_name")
    val nk = tb("nation").filter(col("n_name") === nation)
      .head().getAs[Int]("n_nationkey")
    val manual = tb("lineitem")
      .join(tb("orders"), col("l_orderkey") === col("o_orderkey"))
      .join(tb("customer").filter(col("c_nationkey") === nk),
        col("o_custkey") === col("c_custkey"))
      .join(tb("supplier").filter(col("s_nationkey") === nk),
        col("l_suppkey") === col("s_suppkey"))
      .count()
    assert(rows.head.getAs[Long]("n_rows") === manual)
    // the dim chain broadcasts — no shuffle on nation/region
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"dim chain not broadcast:\n$plan")
  }

  test("topNPerGroup: ≤3 per priority, descending within group") {
    val rows = Relational.topNPerGroup(orders).collect()
    val byGroup = rows.groupBy(_.getAs[String]("o_orderpriority"))
    assert(byGroup.forall(_._2.length <= 3))
    byGroup.values.foreach { g =>
      val prices = g.sortBy(_.getAs[Long]("rn")).map(_.getAs[Double]("o_totalprice"))
      assert(prices.sameElements(prices.sortBy(-(_: Double))))
    }
  }

  test("runningCustomerSpend is nondecreasing per customer") {
    val rows = Relational.runningCustomerSpend(orders).collect()
    rows.groupBy(_.getAs[Long]("o_custkey")).values.foreach { g =>
      val seq = g.sortBy(_.getAs[Long]("order_seq")).map(_.getAs[Double]("running_spend"))
      assert(seq.zip(seq.tail).forall { case (a, b) => b >= a - 1e-9 })
    }
  }

  test("sessionize: gap property holds and events are partitioned into sessions") {
    val sessions = EventOps.sessionize(events, gapMinutes = 30).collect()
    assert(sessions.map(_.getAs[Long]("n_events")).sum === events.count())
    assert(sessions.forall(r => r.getAs[Long]("start_us") <= r.getAs[Long]("end_us")))
    // consecutive sessions of the same user are separated by > 30 min
    sessions.groupBy(_.getAs[Long]("user_id")).values.foreach { g =>
      val ordered = g.sortBy(_.getAs[Long]("session_seq"))
      ordered.zip(ordered.tail).foreach { case (a, b) =>
        assert(b.getAs[Long]("start_us") - a.getAs[Long]("end_us") > 30L * 60 * 1000000)
      }
    }
  }

  test("approx percentiles honor the GK rank guarantee against the exact sample") {
    import org.apache.spark.sql.functions._
    // the sketch guarantee is RANK error ≤ n/accuracy, not value
    // proximity (a heavy tail puts adjacent ranks far apart in value
    // space) — so assert the empirical rank of each approx value
    val byType = events.select(col("event_type"), col("value")).collect()
      .groupBy(_.getString(0)).map { case (t, rs) => t -> rs.map(_.getDouble(1)).sorted }
    def rankOf(sorted: Array[Double], v: Double): Double = {
      val below = sorted.count(_ <= v)
      below.toDouble / sorted.length
    }
    EventOps.approxValuePercentiles(events).collect().foreach { r =>
      val sorted = byType(r.getAs[String]("event_type"))
      // accuracy 10⁴ on test-SF groups ⇒ near-exact; allow 2% rank slop
      Seq(0.5 -> "p50_approx", 0.9 -> "p90_approx", 0.99 -> "p99_approx").foreach {
        case (q, c) =>
          val rank = rankOf(sorted, r.getAs[Double](c))
          assert(math.abs(rank - q) <= 0.02, s"${r.getString(0)} $c rank $rank vs $q")
      }
    }
  }

  test("funnel: steps count only in order; stage reflects deepest ordered step") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // user 1 completes view→click→purchase in order; user 2 clicks
    // BEFORE viewing (click must not count) then never clicks again;
    // user 3 never views (absent from the funnel)
    val evs = Seq(
      (1L, 1L, 1000000L, "view"), (1L, 2L, 2000000L, "click"), (1L, 3L, 3000000L, "purchase"),
      (2L, 4L, 1000000L, "click"), (2L, 5L, 2000000L, "view"), (2L, 6L, 3000000L, "purchase"),
      (3L, 7L, 1000000L, "click"))
      .toDF("user_id", "event_id", "us", "event_type")
      .select(col("user_id"), col("event_id"), col("event_type"),
        timestamp_micros(col("us")).as("ts"))
    val res = EventOps.funnel(evs).collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("stage"), Option(r.getAs[java.lang.Long]("step2_us")))).toMap
    assert(res.keySet === Set(1L, 2L))
    assert(res(1L)._1 === 3L)
    // user 2's click precedes their first view → stage stalls at 1
    assert(res(2L) === (1L, None))
  }

  test("hash sampling/splits: deterministic, disjoint, and proportional") {
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, sfDir, "documents")
    val a = graft.ops.Sampling.assignSplits(docs, col("doc_id"))
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = graft.ops.Sampling.assignSplits(docs, col("doc_id"))
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a === b) // pure function of the key: stable across runs
    val n = a.size.toDouble
    val frac = a.values.groupBy(identity).view.mapValues(_.size / n).toMap
    assert(math.abs(frac("train") - 0.9) < 0.05, s"train frac ${frac("train")}")
    // sampleByHash at rate r keeps ~r of rows, and membership is a
    // subset relation across rates (hash threshold is nested)
    val s10 = graft.ops.Sampling.sampleByHash(docs, col("doc_id"), 0.1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val s30 = graft.ops.Sampling.sampleByHash(docs, col("doc_id"), 0.3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s10.subsetOf(s30))
    assert(math.abs(s10.size / n - 0.1) < 0.05, s"rate ${s10.size / n}")
  }

  test("topPaths counts full-length consecutive runs with a deterministic tie-break") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // user 1: v,c,p,v,c,p → trigrams v>c>p ×2, c>p>v, p>v>c
    // user 2: v,v,v,v     → v>v>v ×2 (runs never cross users)
    val evs = (Seq("view", "click", "purchase", "view", "click", "purchase")
        .zipWithIndex.map { case (t, i) => (1L, i + 1L, (i + 1L) * 1000000L, t) } ++
      (1 to 4).map(i => (2L, 10L + i, i * 1000000L, "view")))
      .toDF("user_id", "event_id", "us", "event_type")
      .select(col("user_id"), col("event_id"), col("event_type"),
        timestamp_micros(col("us")).as("ts"))
    val res = EventOps.topPaths(evs).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[String]("path"), r.getAs[Long]("n_occurrences")))
    // ties (both count 2) break on path asc; then the count-1 paths
    assert(res.toSeq === Seq(
      (1L, "view>click>purchase", 2L), (2L, "view>view>view", 2L),
      (3L, "click>purchase>view", 1L), (4L, "purchase>view>click", 1L)))
  }

  test("packSequences: offset-based bins follow the per-source running total") {
    import spark.implicits._
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    // s1: 100 + 200 + 30 tokens at budget 256 → starts 0, 100, 300
    val docs = Seq(
      (1L, "s1", words(100)), (2L, "s1", words(200)), (3L, "s1", words(30)),
      (4L, "s2", words(10)))
      .toDF("doc_id", "source", "text")
    val res = graft.ops.Packing.packSequences(docs, budget = 256L).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("bin_id"), r.getAs[Long]("bin_offset"))).toMap
    assert(res(1L) === (100L, 0L, 0L))
    assert(res(2L) === (200L, 0L, 100L)) // straddles into bin 1; assigned by start
    assert(res(3L) === (30L, 1L, 44L))   // (300 div 256, 300 mod 256)
    assert(res(4L) === (10L, 0L, 0L))    // sources pack independently
    // the distributed prefix sum is a pure function of the global
    // (source, doc_id) order — identical under any input partitioning
    val re = graft.ops.Packing.packSequences(docs.repartition(7), budget = 256L)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("bin_id"), r.getAs[Long]("bin_offset"))).toMap
    assert(re === res)
  }

  test("streaks: gaps-and-islands on planted activity days") {
    import spark.implicits._
    // user 1: days 1-3, 7-8, 10 → 6 active, 3 streaks, longest 3
    // user 2: one day → 1/1/1
    val dayNs = 86400000000000L
    val planted = Seq(
      (1L, 1L), (1L, 2L), (1L, 3L), (1L, 7L), (1L, 8L), (1L, 10L),
      (1L, 2L), // same-day second event must not double-count
      (2L, 5L))
      .zipWithIndex.map { case ((u, d), i) =>
        (i.toLong, d * dayNs + 123456L, u, "view", 0.0, "{}")
      }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val res = graft.events.EventOps.streaks(planted).collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("n_active_days"), r.getAs[Long]("n_streaks"),
          r.getAs[Long]("longest_streak"))).toMap
    assert(res(1L) === ((6L, 3L, 3L)))
    assert(res(2L) === ((1L, 1L, 1L)))
  }

  test("qualityFilter: integer rank cut keeps exactly floor(3n/10) top-quality docs per source") {
    val docs = Tables.load(spark, sfDir, "documents")
    val res = graft.text.TextAnalysis.qualityFilter(docs).collect()
    val bySource = res.groupBy(_.getAs[String]("source"))
    bySource.foreach { case (src, rows) =>
      val n = rows.length
      val kept = rows.filter(_.getAs[Boolean]("keep"))
      assert(kept.length === n * 3 / 10, s"source $src keep count")
      // every kept doc ranks above every dropped doc
      val maxKeptRank = if (kept.isEmpty) 0L else kept.map(_.getAs[Long]("q_rank")).max
      val minDropRank = rows.filter(!_.getAs[Boolean]("keep"))
        .map(_.getAs[Long]("q_rank")).minOption.getOrElse(Long.MaxValue)
      assert(maxKeptRank < minDropRank)
    }
    // scores agree with the standalone quality() operator
    val q = graft.text.TextAnalysis.quality(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("quality_score")).toMap
    res.foreach { r =>
      assert(r.getAs[Double]("quality_score") === q(r.getAs[Long]("doc_id")))
    }
  }

  test("retentionApprox: HLL cells land within the rsd error bound of exact") {
    import org.apache.spark.sql.functions._
    val ev = Tables.load(spark, sfDir, "events")
    val exact = graft.events.EventOps.retention(ev).collect()
      .map(r => (r.getAs[Long]("cohort_day"), r.getAs[Long]("day_offset")) ->
        r.getAs[Long]("n_users")).toMap
    val approx = graft.events.EventOps.retentionApprox(ev).collect()
      .map(r => (r.getAs[Long]("cohort_day"), r.getAs[Long]("day_offset")) ->
        r.getAs[Long]("n_users_approx")).toMap
    assert(approx.keySet === exact.keySet)
    // 4σ at rsd=0.02 (plus integer slack for tiny cells)
    approx.foreach { case (cell, a) =>
      val ex = exact(cell).toDouble
      assert(math.abs(a - ex) <= math.max(4 * 0.02 * ex, 2.0),
        s"cell $cell: approx $a vs exact $ex")
    }
  }

  test("slidingRollup: each event lands in window/slide overlapping windows at the right starts") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // one event at exactly 2h; one at 2h + 10min (same first window set
    // shifted); slide = 15 min, window = 1 h
    val h = 3600000000L
    val planted = Seq(
      (1L, 2 * h, 7L, "view", 2.0, "{}"),
      (2L, 2 * h + 600000000L, 7L, "view", 3.0, "{}"))
      .map { case (id, us, u, t, v, p) => (id, us * 1000L, u, t, v, p) }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val res = graft.events.EventOps.slidingRollup(planted).collect()
      .map(r => r.getAs[Long]("window_start_us") ->
        (r.getAs[Long]("n_events"), r.getAs[Double]("sum_value"))).toMap
    // event 1 (us = 8·slide) → windows starting at slide indices 5..8;
    // event 2 (us = 8.67·slide) → the same 5..8 set
    val slide = 900000000L
    assert(res.keySet === (5L to 8L).map(_ * slide).toSet)
    assert(res(5L * slide) === ((2L, 5.0)))
    assert(res(8L * slide) === ((2L, 5.0)))
    // the real table: every window's count is ≤ total events, and the
    // sum over all windows is exactly (window/slide)× the per-event
    // contribution for events past the clipped leading edge
    val ev = Tables.load(spark, sfDir, "events")
    val total = ev.count()
    val sumN = graft.events.EventOps.slidingRollup(ev)
      .agg(sum(col("n_events"))).head().getLong(0)
    assert(sumN <= 4 * total)
    assert(sumN > 3 * total, "almost every event should appear in 4 windows")
  }

  test("floor-division oracle domain: every div operand is nonnegative on the test tables") {
    // Spark `div` truncates toward zero; DuckDB `//` floors — they agree
    // ONLY on nonnegative operands. The oracles for events_windowed/
    // streaks/retention (epoch-µs day/hour buckets) and events_props_agg
    // (props.k bands) rely on that agreement; pin the domain so a
    // negative timestamp or props value sneaking into test data would
    // fail HERE instead of surfacing as an inscrutable hash mismatch.
    import org.apache.spark.sql.functions._
    val ev = Tables.load(spark, sfDir, "events")
    val us = graft.events.EventOps.microsOfTsCol(ev)
    assert(ev.filter(us < 0).count() === 0, "negative event timestamp in test data")
    val k = get_json_object(col("props"), "$.k").cast("long")
    assert(ev.filter(k < 0).count() === 0, "negative props.k in test data")
  }

  test("qualityFilterSketch: no window in the plan; >=99% keep-set agreement with exact") {
    val docs = Tables.load(spark, sfDir, "documents")
    val sk = graft.text.TextAnalysis.qualityFilterSketch(docs)
    // the whole point of the sketch tier: no per-source sort/window
    val plan = sk.queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("window"), s"sketch path must be window-free:\n$plan")
    // agreement is measured where a source is LARGE (the sketch tier's
    // target regime): the boundary element is off by at most one doc per
    // source, so tiny 25-doc sources would show pure granularity noise
    // (20 sources × 1 boundary doc = 4% at sf0.001). One merged source
    // makes the boundary share 1/n.
    val oneSource = docs.withColumn("source", org.apache.spark.sql.functions.lit("all"))
    val skKeep = graft.text.TextAnalysis.qualityFilterSketch(oneSource).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("keep")).toMap
    val exKeep = graft.text.TextAnalysis.qualityFilter(oneSource).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("keep")).toMap
    assert(skKeep.keySet === exKeep.keySet)
    val agree = skKeep.count { case (id, k) => exKeep(id) == k }
    assert(agree.toDouble / skKeep.size >= 0.99,
      s"keep-set agreement ${agree.toDouble / skKeep.size} below 0.99")
    // on the real multi-source table, per-source off-by-one boundary
    // noise is allowed but no more: kept fraction stays near 30%
    val frac = sk.collect().map(_.getAs[Boolean]("keep"))
    val kf = frac.count(identity).toDouble / frac.length
    assert(kf >= 0.25 && kf <= 0.35, s"sketch kept fraction $kf")
  }

  test("shuffleShards: reproducible decorrelated order; new salt = new permutation") {
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, sfDir, "documents")
    def order(salt: String) = graft.ops.Sampling.shuffleShards(docs, col("doc_id"), salt = salt)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val a = order("epoch0")
    assert(a === order("epoch0")) // pure function of (salt, key)
    val b = order("epoch1")
    assert(a !== b)               // a different epoch permutes differently
    assert(a.sorted === b.sorted) // …but both are permutations of the corpus
    assert(a !== a.sorted)        // and neither is the ingest order
    // shards are roughly balanced (hash uniformity)
    val counts = graft.ops.Sampling.shuffleShards(docs, col("doc_id"))
      .groupBy("shard").count().collect().map(_.getAs[Long]("count"))
    assert(counts.length === 16)
    assert(counts.max.toDouble / counts.min <= 2.5, s"shard skew: ${counts.mkString(",")}")
  }

  test("writeShuffledShards: one dir per shard, in-file order is the deterministic total order") {
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, sfDir, "documents")
    val dir = tempDir("shards").toString + "/out"
    graft.ops.Sampling.writeShuffledShards(docs, col("doc_id"), dir, nShards = 4)
    // every row lands in exactly one shard; union reloads the corpus
    val back = spark.read.parquet(dir)
    assert(back.count() === docs.count())
    assert(back.select(col("doc_id")).distinct().count() === docs.count())
    val shardDirs = new java.io.File(dir).listFiles().filter(_.getName.startsWith("shard="))
    assert(shardDirs.length === 4)
    // in-file order within a shard = (shuffle_key, doc_id) ascending —
    // the order a sequential reader consumes without sorting
    val one = spark.read.parquet(s"$dir/shard=3")
      .select(col("shuffle_key"), col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(one.nonEmpty && one.sameElements(one.sorted),
      "shard file rows are not in the deterministic order")
    // membership matches the logical shuffleShards assignment
    val logical = graft.ops.Sampling.shuffleShards(docs, col("doc_id"), nShards = 4)
      .filter(col("shard") === 3).select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(one.map(_._2).toSet === logical)
  }

  test("weightedSample: A-Res keys recount on the driver; weight-biased; repartition-stable") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // planted two-weight corpus: heavy rows (w=1000) vs light (w=1)
    val rows = (0L until 400L).map(i => (i, if (i % 2 == 0) 1000L else 1L))
    val d = rows.toDF("doc_id", "w")
    val got = graft.ops.Sampling.weightedSample(d, col("doc_id"),
      col("w"), k = 50).collect()
    assert(got.length === 50)
    // heavy rows dominate the sample (each carries 1000× the mass)
    val heavy = got.count(_.getAs[Long]("id") % 2 == 0)
    assert(heavy >= 45, s"only $heavy/50 heavy rows sampled")
    // key recount: es_key = DetLn(u)/w with the exact-rational uniform
    val m = 1L << 40
    got.foreach { r =>
      val id = r.getAs[Long]("id")
      val hx = d.filter(col("doc_id") === id)
        .select(graft.GraftFunctions.hex64(concat(lit("ws|"), col("doc_id").cast("string"))))
        .collect().head.getLong(0)
      val u = ((hx % m).toDouble + 0.5) / m.toDouble
      assert(r.getAs[Double]("u") === u)
      val expect = graft.expressions.DetLn.ln(u) / r.getAs[Double]("weight")
      assert(r.getAs[Double]("es_key") === expect, s"id $id")
    }
    // stable under repartitioning (pure function of id + salt)
    val again = graft.ops.Sampling.weightedSample(d.repartition(13), col("doc_id"),
      col("w"), k = 50).collect()
    assert(again.map(_.toString).toSeq === got.map(_.toString).toSeq)
    // invalid weights fail LOUDLY instead of corrupting the sample:
    // w=0 would divide by zero, w<0 flips the A-Res key sign, null sinks
    Seq(0L, -3L).foreach { bad =>
      val poisoned = (rows :+ (999L, bad)).toDF("doc_id", "w")
      val ex = intercept[Exception] {
        graft.ops.Sampling.weightedSample(poisoned, col("doc_id"),
          col("w"), k = 50).collect()
      }
      assert(ex.getMessage.contains("weight > 0") ||
        Option(ex.getCause).exists(_.getMessage.contains("weight > 0")),
        s"w=$bad must raise the contract error, got: ${ex.getMessage}")
    }
  }

  test("temperatureSample flattens the source head and keeps by stable hash") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // skewed sources: 900 / 90 / 10 docs
    val docs = ((1 to 900).map(i => (i.toLong, "big")) ++
      (1001 to 1090).map(i => (i.toLong, "mid")) ++
      (2001 to 2010).map(i => (i.toLong, "small")))
      .toDF("doc_id", "source")
    val res = graft.ops.Sampling.temperatureSample(docs, col("doc_id"), targetFrac = 0.5)
      .collect().map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_docs"), r.getAs[Double]("rate"),
          r.getAs[Long]("threshold"), r.getAs[Long]("n_kept"))).toMap
    // √-flattening: the big source is downsampled hardest, small sources
    // saturate at rate 1 (kept whole)
    val (bigN, bigRate, bigTh, bigKept) = res("big")
    assert(bigN === 900L && bigRate < 0.45, s"big rate $bigRate")
    assert(res("mid")._2 === 1.0 && res("mid")._4 === 90L)
    assert(res("small")._2 === 1.0 && res("small")._4 === 10L)
    // realized count matches a manual recount of the hash rule
    val manual = docs.filter(col("source") === "big")
      .filter(graft.ops.Sampling.hashBucket(col("doc_id"), "temp") < lit(bigTh)).count()
    assert(bigKept === manual)
    // keep rate tracks the threshold (hash uniformity, generous slop)
    assert(math.abs(bigKept.toDouble / bigN - bigRate) < 0.08,
      s"kept ${bigKept.toDouble / bigN} vs rate $bigRate")
  }

  test("tokenBudget: longest fitting prefix per group; hard cap; partitioning-invariant") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // group a in doc_id priority order: 100, 300, 250, 400 tokens
    // with budget 600: keep 100 (cum 0), keep 300 (cum 100), drop 250
    // (cum 400 -> 650 > 600), drop 400 (cum 650); group b: tiny docs
    // all fit
    val docs = Seq(
      (1L, "a", 100L), (2L, "a", 300L), (3L, "a", 250L), (4L, "a", 400L),
      (10L, "b", 5L), (11L, "b", 5L)).toDF("doc_id", "source", "n")
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Sampling.tokenBudget(df, col("source"), col("n"),
        col("doc_id"), budget = 600L)
    val got = run(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("cum_before"), r.getAs[Boolean]("keep"))).toMap
    assert(got(1L) === (0L, true))
    assert(got(2L) === (100L, true))
    assert(got(3L) === (400L, false)) // would cross the cap
    assert(got(4L) === (650L, false)) // stream already over budget
    assert(got(10L) === (0L, true) && got(11L) === (5L, true))
    // kept token mass never exceeds the budget in any group
    val mass = run(docs).where(col("keep"))
      .groupBy(col("grp")).agg(sum(col("n_tokens")).as("m"))
      .collect().map(_.getAs[Long]("m"))
    assert(mass.forall(_ <= 600L), mass.mkString(","))
    // pure function of the ordered stream: any physical layout agrees
    val again = run(docs.repartition(7)).collect()
      .map(_.toString).sorted.toSeq
    assert(again === run(docs).collect().map(_.toString).sorted.toSeq)
  }

  test("epochMix replicates to the target mix: full copies exact, fractional gate recounted") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 100 "web" + 50 "code" docs, weights 3:1 → with scale=1, N=150:
    // web epochs = 0.75·150/100 = 1.125 (1 full copy + 12.5% gate)
    // code epochs = 0.25·150/50 = 0.75 (0 full copies + 75% gate)
    val docs = ((1 to 100).map(i => (i.toLong, "web")) ++
      (201 to 250).map(i => (i.toLong, "code"))).toDF("doc_id", "source")
    val weights = Seq("web" -> 3.0, "code" -> 1.0)
    val out = graft.ops.Sampling.epochMix(docs, col("doc_id"), weights)
      .select(col("doc_id"), col("source"), col("epoch"))
    val rows = out.collect().map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[String]("source"), r.getAs[Long]("epoch")))
    // every web doc appears at least once (1 full copy), epochs are 1..copies
    val perDoc = rows.groupBy(_._1).view.mapValues(_.map(_._3).sorted.toSeq).toMap
    (1 to 100).foreach { i =>
      val es = perDoc.getOrElse(i.toLong, Seq.empty)
      assert(es.nonEmpty && es == (1L to es.length.toLong), s"web doc $i epochs $es")
      assert(es.length <= 2, s"web doc $i copied ${es.length}× (expected 1 or 2)")
    }
    // fractional copies match a manual recount of the hash gate
    val webTh = math.floor((1.125 - 1.0) * graft.ops.Sampling.Granularity).toLong
    val webExtra = docs.filter(col("source") === "web")
      .filter(graft.ops.Sampling.hashBucket(col("doc_id"), "mix") < lit(webTh)).count()
    assert(rows.count(_._2 == "web") === 100L + webExtra)
    val codeTh = math.floor(0.75 * graft.ops.Sampling.Granularity).toLong
    val codeKept = docs.filter(col("source") === "code")
      .filter(graft.ops.Sampling.hashBucket(col("doc_id"), "mix") < lit(codeTh)).count()
    assert(rows.count(_._2 == "code") === codeKept)
    assert(rows.filter(_._2 == "code").forall(_._3 == 1L))
    // deterministic under repartitioning: same multiset of (doc_id, epoch)
    val re = graft.ops.Sampling.epochMix(docs.repartition(13), col("doc_id"), weights)
      .select(col("doc_id"), col("source"), col("epoch")).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"), r.getAs[Long]("epoch")))
    assert(re.sorted.toSeq == rows.sorted.toSeq)
    // a source with zero weight (absent from `weights`) contributes nothing
    val extra = docs.union(Seq((900L, "junk")).toDF("doc_id", "source"))
    assert(graft.ops.Sampling.epochMix(extra, col("doc_id"), weights)
      .filter(col("source") === "junk").count() === 0L)
  }

  test("asofJoin attaches the latest right event at-or-before each left event") {
    import org.apache.spark.sql.functions._
    val res = EventOps.asofJoin(events,
      events.filter(col("event_type") === "purchase")).collect()
    assert(res.length === events.count())
    // brute-force oracle on the collected rows
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), EventOps.microsOfTsCol(events).as("us"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.get(3)))
    res.foreach { r =>
      val (uid, us) = (r.getAs[Long]("user_id"), r.getAs[Long]("us"))
      val eligible = purchases.filter(p => p._1 == uid && p._3 <= us)
      if (eligible.isEmpty) assert(r.isNullAt(r.fieldIndex("asof_event_id")))
      else {
        val best = eligible.maxBy(p => (p._3, p._2))
        assert(r.getAs[Long]("asof_event_id") === best._2,
          s"user $uid at $us expected ${best._2}")
        assert(r.get(r.fieldIndex("asof_value")) === best._4)
      }
    }
  }

  test("withinRangePairs: bucketed interval join equals brute force, no cartesian") {
    import org.apache.spark.sql.functions._
    val gap = 300000000L
    val got = EventOps.withinRangePairs(events, gap).collect()
      .map(r => (r.getAs[Long]("e1"), r.getAs[Long]("e2"), r.getAs[Long]("gap_us"))).toSet
    // brute force over collected rows
    val ev = events.select(col("user_id"), col("event_id"), EventOps.microsOfTsCol(events).as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val brute = (for {
      x <- ev; y <- ev
      if x._1 == y._1 && x._2 < y._2 && math.abs(x._3 - y._3) <= gap
    } yield (x._2, y._2, math.abs(x._3 - y._3))).toSet
    assert(got === brute)
    val phys = EventOps.withinRangePairs(events, gap)
      .queryExecution.executedPlan.toString
    assert(!phys.contains("CartesianProduct") && !phys.contains("BroadcastNestedLoop"),
      s"interval join fell back to a product plan:\n$phys")
  }

  test("hourlyRollup counts cover all events") {
    val rows = EventOps.hourlyRollup(events).collect()
    assert(rows.map(_.getAs[Long]("n_events")).sum === events.count())
  }

  test("pivotByType: wide cells reconcile with the long rollup; empty cells are 0/null") {
    import org.apache.spark.sql.functions._
    val wide = EventOps.pivotByType(events).collect()
    val types = Seq("click", "error", "purchase", "signup", "view")
    // the wide count cells cover every event exactly once
    val total = wide.map(r => types.map(v => r.getAs[Long](s"${v}_n")).sum).sum
    assert(total === events.count())
    // cross-check one cell against a direct filter-count
    val hour0Clicks = EventOps.pivotByType(events).filter(col("hour_of_day") === 0)
      .collect().headOption.map(_.getAs[Long]("click_n")).getOrElse(0L)
    val direct = events
      .withColumn("us", EventOps.microsOfTsCol(events))
      .filter(expr("us div 3600000000") % 24 === 0 && col("event_type") === "click")
      .count()
    assert(hour0Clicks === direct)
    // an enumerated type absent from the data yields 0-count, null-sum cells
    val phantom = EventOps.pivotByType(events, Seq("click", "no_such_type")).collect()
    assert(phantom.forall(_.getAs[Long]("no_such_type_n") === 0L))
    assert(phantom.forall(_.isNullAt(phantom.head.fieldIndex("no_such_type_sum"))))
  }

  test("pivotByType plan: one aggregate, no distinct-collect discovery pass") {
    val phys = EventOps.pivotByType(events).queryExecution.executedPlan.toString
    // caller-enumerated pivot values → no second job to collect the
    // column set; the plan is a single hash aggregate chain
    assert(!phys.contains("CollectLimit"), phys)
    assert(phys.contains("partial_count") || phys.contains("partial_pivotfirst")
      || phys.contains("HashAggregate"), phys)
  }

  test("valueHistogram: bins partition the value range, counts and mass reconcile") {
    import org.apache.spark.sql.functions._
    val bins = EventOps.valueHistogram(events).collect()
    assert(bins.map(_.getAs[Long]("n_events")).sum === events.count())
    val Array(lo, hi) = events.agg(min(col("value")), max(col("value")))
      .collect().head.toSeq.map(_.asInstanceOf[Double]).toArray
    // bin edges tile [lo, hi] in order with equal width
    val sorted = bins.sortBy(_.getAs[Long]("bin"))
    sorted.foreach { r =>
      val b = r.getAs[Long]("bin")
      assert(b >= 0 && b < 20)
      assert(r.getAs[Double]("bin_lo") === lo + (hi - lo) * b / 20.0)
      assert(r.getAs[Double]("bin_hi") === lo + (hi - lo) * (b + 1) / 20.0)
    }
    // every value landed in the bin containing it (spot-check extremes)
    assert(sorted.head.getAs[Long]("bin") === 0L)
    assert(sorted.last.getAs[Long]("bin") === 19L, "the max value must land in the top bin")
  }

  test("pageRank: fixed-point iteration matches a driver-side recount; mass behaves") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.ops.Graph
    // planted directed graph (symmetric edges): a 3-cycle + a pendant
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val got = Graph.pageRank(edges, iterations = 10).collect()
      .map(r => r.getAs[Long]("node") ->
        (r.getAs[Long]("outdeg"), r.getAs[Long]("rank_fp"))).toMap
    // independent recount with the same integer arithmetic
    val adj = (und ++ und.map(_.swap)).groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val deg = adj.view.mapValues(_.length.toLong).toMap
    var rank = adj.keys.map(_ -> Graph.Scale).toMap
    (1 to 10).foreach { _ =>
      val contrib = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      adj.foreach { case (u, vs) =>
        val c = rank(u) / deg(u)
        vs.foreach(v => contrib(v) += c)
      }
      rank = adj.keys.map(n => n -> (15L * Graph.Scale / 100L + 85L * contrib(n) / 100L)).toMap
    }
    assert(got.keySet === rank.keySet)
    rank.foreach { case (n, r) =>
      assert(got(n)._1 === deg(n))
      assert(got(n)._2 === r, s"node $n")
    }
    // the cycle's hub (node 3, degree 3) outranks the pendant
    assert(rank(3L) > rank(4L))
    // conserved-ish mass: total stays within integer-floor leakage of N·Scale
    val total = rank.values.sum
    assert(total <= 4L * Graph.Scale && total > 4L * Graph.Scale * 9L / 10L)
    // result unpersists cleanly (the cache-scope convention)
    val res = Graph.pageRank(edges, iterations = 2)
    res.unpersist()
  }

  test("pageRank: scale is a parameter — reduced scale matches recount, headroom guard trips") {
    import spark.implicits._
    import graft.ops.Graph
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val redScale = 100000L // 10^-5 resolution — the big-graph regime
    val got = Graph.pageRank(edges, iterations = 6, scale = redScale).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("rank_fp")).toMap
    val adj = (und ++ und.map(_.swap)).groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val deg = adj.view.mapValues(_.length.toLong).toMap
    var rank = adj.keys.map(_ -> redScale).toMap
    (1 to 6).foreach { _ =>
      val contrib = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      adj.foreach { case (u, vs) => vs.foreach(v => contrib(v) += rank(u) / deg(u)) }
      rank = adj.keys.map(n => n -> (15L * redScale / 100L + 85L * contrib(n) / 100L)).toMap
    }
    rank.foreach { case (n, r) => assert(got(n) === r, s"node $n at scale=$redScale") }
    // the guard is enforced against the REAL node count: 4 nodes at a
    // scale where even 1 node overflows 85·N·scale must refuse loudly
    val boom = intercept[IllegalArgumentException] {
      Graph.pageRank(edges, iterations = 1, scale = Long.MaxValue / 84L)
    }
    assert(boom.getMessage.contains("headroom"))
  }

  test("personalizedPageRank: teleport mass lands on the seed set only; recount exact") {
    import spark.implicits._
    import graft.ops.Graph
    // two triangles bridged by one edge: seeds in triangle A must
    // concentrate rank there, with mass decaying across the bridge
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L),
      (4L, 5L), (5L, 6L), (4L, 6L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val seeds = Seq(1L, 2L).toDF("node")
    val iters = 8
    val got = Graph.personalizedPageRank(edges, seeds, iters).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("rank_fp")).toMap
    val seedSet = Set(1L, 2L)
    val adj = (und ++ und.map(_.swap)).groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val deg = adj.view.mapValues(_.length.toLong).toMap
    var rank = adj.keys.map(n => n -> (if (seedSet(n)) Graph.Scale else 0L)).toMap
    (1 to iters).foreach { _ =>
      val contrib = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      adj.foreach { case (u, vs) => vs.foreach(v => contrib(v) += rank(u) / deg(u)) }
      rank = adj.keys.map { n =>
        val base = if (seedSet(n)) 15L * Graph.Scale / 100L else 0L
        n -> (base + 85L * contrib(n) / 100L)
      }.toMap
    }
    assert(got.keySet === rank.keySet)
    rank.foreach { case (n, r) => assert(got(n) === r, s"node $n") }
    // proximity ordering: a seed outranks its triangle-mate, which
    // outranks everything across the bridge
    assert(got(1L) > got(3L) && got(3L) > got(5L))
    // mass is bounded by the seed mass, not N·Scale
    assert(got.values.sum <= seedSet.size * Graph.Scale)
  }

  test("valueHistogram: degenerate range and null values — one clean bin, no NaN") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // all equal values + nulls: hi == lo would be 0/0 → NaN bins
    // without the guard; nulls carry no axis position and must not bin
    val flat = Seq((1L, Some(7.5)), (2L, Some(7.5)), (3L, None), (4L, Some(7.5)))
      .toDF("event_id", "value")
    val bins = EventOps.valueHistogram(flat).collect()
    assert(bins.length === 1)
    assert(bins.head.getAs[Long]("bin") === 0L)
    assert(bins.head.getAs[Long]("n_events") === 3L)
    assert(!bins.head.getAs[Double]("bin_lo").isNaN)
    // single-row input: same shape
    val one = Seq((1L, 2.0)).toDF("event_id", "value")
    val b1 = EventOps.valueHistogram(one).collect()
    assert(b1.length === 1 && b1.head.getAs[Long]("n_events") === 1L)
  }

  test("profile: per-column nulls/distincts/bounds on a planted frame; one aggregation pass") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq(
      (1L, Some(2.5), Some("b")),
      (2L, None, Some("a")),
      (3L, Some(7.5), None),
      (3L, Some(2.5), Some("c"))).toDF("k", "v", "s")
    val p = graft.ops.Profile.profile(df).collect()
      .map(r => r.getAs[String]("column") -> r).toMap
    assert(p.keySet === Set("k", "v", "s"))
    p.values.foreach(r => assert(r.getAs[Long]("n_rows") === 4L))
    assert(p("k").getAs[Long]("n_null") === 0L)
    assert(p("k").getAs[Long]("n_distinct") === 3L)
    assert(p("k").getAs[Double]("min_num") === 1.0 && p("k").getAs[Double]("max_num") === 3.0)
    assert(p("v").getAs[Long]("n_null") === 1L)
    assert(p("v").getAs[Long]("n_distinct") === 2L)
    assert(p("s").getAs[Long]("n_null") === 1L)
    assert(p("s").getAs[String]("min_str") === "a" && p("s").getAs[String]("max_str") === "c")
    assert(p("s").isNullAt(p("s").fieldIndex("min_num")))
    // sketch tier: approx distincts land near exact on a tiny frame
    val approx = graft.ops.Profile.profile(df, exact = false).collect()
      .map(r => r.getAs[String]("column") -> r.getAs[Long]("n_distinct")).toMap
    assert(approx.values.forall(n => n >= 2 && n <= 4))
    // one aggregation pass: a single pair of (partial, final) aggregates
    // over the source — no per-column jobs
    val phys = graft.ops.Profile.profile(df, exact = false)
      .queryExecution.executedPlan.toString
    assert("Scan ExistingRDD".r.findAllIn(phys).size <= 1, phys)
  }

  test("coOccurrence: planted baskets count pairs once per order; bounded no-cartesian plan") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // orders: {1,2,3}, {1,2}, {1,2}, {4} — (1,2) in 3 orders,
    // (1,3)/(2,3) in 1; part 4 never pairs; duplicate lineitems of
    // the same part in one order count once
    val li = Seq(
      (100L, 1L), (100L, 2L), (100L, 3L),
      (101L, 1L), (101L, 2L), (101L, 2L),
      (102L, 2L), (102L, 1L),
      (103L, 4L)).toDF("l_orderkey", "l_partkey")
    val got = Relational.coOccurrence(li, k = 10).collect()
      .map(r => (r.getAs[Long]("part_a"), r.getAs[Long]("part_b")) ->
        (r.getAs[Long]("n_orders"), r.getAs[Long]("rank"))).toMap
    assert(got === Map((1L, 2L) -> ((3L, 1L)), (1L, 3L) -> ((1L, 2L)),
      (2L, 3L) -> ((1L, 3L))), s"got $got")
    val phys = Relational.coOccurrence(Tables.load(spark, sfDir, "lineitem"))
      .queryExecution.executedPlan.toString
    assert(!phys.contains("CartesianProduct") && !phys.contains("BroadcastNestedLoop"),
      s"pair explosion fell back to a product plan:\n$phys")
  }

  test("robustAnomalies: MAD flags survive contamination that masks the moment z-score") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 30 inliers near 10 plus TEN extreme values (25% contamination):
    // the outlier cluster inflates mean and stddev enough that every
    // outlier's |z| stays under 3 (classic masking), while median/MAD
    // (50% breakdown point) still flag all ten
    val rows = (1L to 30L).map(i => (i, "x", 10.0 + (i % 5) * 0.1)) ++
      (101L to 110L).map(i => (i, "x", 5000.0 + (i % 3) * 100.0))
    val ev = rows.toDF("event_id", "event_type", "value")
      .withColumn("ts", timestamp_micros(col("event_id") * 1000000L))
      .withColumn("user_id", col("event_id"))
      .withColumn("props", lit("{}"))
    val robust = EventOps.robustAnomalies(ev).collect().map(_.getAs[Long]("event_id")).toSet
    assert(robust === (101L to 110L).toSet, s"robust flags: $robust")
    val moment = EventOps.valueAnomalies(ev).collect().map(_.getAs[Long]("event_id")).toSet
    assert(moment.isEmpty,
      s"expected moment z-score masking on 25% contamination, got $moment")
  }

  test("transitions: per-from probabilities sum to 1; counts reconcile with consecutive pairs") {
    import org.apache.spark.sql.functions._
    val res = EventOps.transitions(events).collect()
    val byFrom = res.groupBy(_.getAs[String]("from_type"))
    byFrom.foreach { case (f, rows) =>
      val pSum = rows.map(_.getAs[Double]("p")).sum
      assert(math.abs(pSum - 1.0) < 1e-9, s"from $f: probabilities sum to $pSum")
    }
    // total transition count = events - one per user with >=1 event
    val nUsers = events.select(col("user_id")).distinct().count()
    assert(res.map(_.getAs[Long]("n")).sum === events.count() - nUsers)
  }

  test("associationRules: planted high-lift pair ranks above the merely-popular one") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // parts 1,2 co-occur ONLY with each other (perfect association);
    // part 9 is in every order (popular, lift ~1 with everything)
    val li = (1L to 6L).flatMap(o => Seq((o, 9L))) ++
      (1L to 3L).flatMap(o => Seq((o, 1L), (o, 2L))) ++
      (4L to 6L).flatMap(o => Seq((o, 3L + o)))
    val df = li.toDF("l_orderkey", "l_partkey")
    val got = Relational.associationRules(df, minSupport = 3, k = 10).collect()
    val top = got.head
    assert(Set(1L, 2L).contains(top.getAs[Long]("ante")) &&
      Set(1L, 2L).contains(top.getAs[Long]("cons")),
      s"top rule should be the planted 1<->2 pair: ${got.toSeq}")
    // perfect association: confidence 1.0, lift = n_orders / n_part = 6/3
    assert(top.getAs[Double]("confidence") === 1.0)
    assert(top.getAs[Double]("lift") === 2.0)
    // the popularity pair (1,9): confidence 1 but lift exactly 1
    val pop = got.find(r => r.getAs[Long]("ante") === 1L && r.getAs[Long]("cons") === 9L)
    assert(pop.exists(_.getAs[Double]("lift") === 1.0), s"${got.toSeq}")
  }

  test("corpusDiff: added/removed/changed/unchanged on planted versions; whitespace churn is not a change") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val old = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon"),
      (3L, "zeta eta"), (4L, "theta iota")).toDF("doc_id", "text")
    val next = Seq(
      (1L, "  Alpha   BETA gamma "),     // case/whitespace churn only
      (2L, "delta epsilon extended"),    // real content change
      (4L, "theta iota"),                // identical
      (9L, "brand new doc")).toDF("doc_id", "text") // doc 3 removed
    val got = graft.ops.Pipeline.corpusDiff(old, next).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("status")).toMap
    assert(got === Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed",
      4L -> "unchanged", 9L -> "added"), s"got $got")
  }

  test("languageBalance: rarer predicted language gets the higher keep rate; dominant capped") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 'the and of to in' are en markers; 'der die und das nicht' de —
    // 40 en docs vs 8 de docs
    val docs = ((1 to 40).map(i => (i.toLong, "the and of to in body")) ++
      (41 to 48).map(i => (i.toLong, "der die und das nicht text")))
      .toDF("doc_id", "text")
    val got = graft.ops.Sampling.languageBalance(docs).collect()
      .map(r => r.getAs[String]("pred_lang") ->
        (r.getAs[Long]("n_docs"), r.getAs[Double]("rate"))).toMap
    assert(got("en")._1 === 40L && got("de")._1 === 8L)
    assert(got("de")._2 > got("en")._2,
      s"low-resource language must be upweighted: $got")
    // realized mix: √-temperature at targetFrac 0.5 keeps the total
    // expectation at half the corpus
    val expTotal = got.values.map { case (n, r) => n * r }.sum
    assert(math.abs(expTotal - 24.0) < 1e-9, s"expected kept mass: $expTotal")
  }

  test("crawlPipeline: every gate binds independently; keep is the conjunction") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val prose = (1 to 40).map(i => s"word$i body").mkString(" ")
    def page(id: Long, url: String, text: String) =
      (id, url, s"<html><body><p>$text</p></body></html>")
    val pages = Seq(
      page(1L, "https://good.com/a", prose + " one"),
      page(2L, "https://good.com/private/x", prose + " two"),   // robots
      page(3L, "https://bad.org/a", prose + " three"),          // blocklist
      page(4L, "https://good.com/b?utm_source=x", prose + " four"),
      page(5L, "https://good.com/b", prose + " four dup"),      // url dup of 4? no: text differs, canonical same
      page(6L, "https://good.com/c", "short")).toDF("doc_id", "url", "html") // quality
    val rules = Seq(("good.com", "/private", false)).toDF("host", "path_prefix", "allow")
    val got = graft.ops.Pipeline.crawlPipeline(pages, col("url"), col("html"),
        rules, Seq("bad.org"), quota = 10)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got(1L).getAs[Boolean]("keep"))
    assert(!got(2L).getAs[Boolean]("robots_allowed") && !got(2L).getAs[Boolean]("keep"))
    assert(got(3L).getAs[Boolean]("domain_blocked") && !got(3L).getAs[Boolean]("keep"))
    // 4 and 5 share a canonical URL (tracking param drops): keeper is
    // min doc_id, the later crawl of the same page drops
    assert(got(4L).getAs[Boolean]("url_keep"))
    assert(!got(5L).getAs[Boolean]("url_keep") && !got(5L).getAs[Boolean]("keep"))
    assert(got(6L).getAs[Double]("quality_score") < 0.3 && !got(6L).getAs[Boolean]("keep"))
    // conjunction holds row-for-row
    got.values.foreach { r =>
      val conj = r.getAs[Boolean]("robots_allowed") &&
        !r.getAs[Boolean]("domain_blocked") && r.getAs[Boolean]("quota_keep") &&
        r.getAs[Boolean]("url_keep") && r.getAs[Boolean]("content_keep")
      assert(r.getAs[Boolean]("keep") === conj, s"conjunction drift: $r")
    }
  }

  test("warcCurate ≡ crawlPipeline over the extracted response records") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val prose = (1 to 40).map(i => s"word$i body").mkString(" ")
    def rec(typ: String, uri: String, body: String) =
      s"WARC/1.0\r\nWARC-Type: $typ\r\nWARC-Target-URI: $uri\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n$body\r\n\r\n"
    val archives = Seq(
      (1L, rec("response", "https://good.com/a", s"<html><p>$prose one</p></html>") +
        rec("metadata", "https://good.com/a", "ignored") +
        rec("response", "https://good.com/private/x", s"<html><p>$prose two</p></html>")),
      (2L, rec("response", "https://bad.org/a", s"<html><p>$prose three</p></html>")))
      .toDF("doc_id", "archive")
    val rules = Seq(("good.com", "/private", false)).toDF("host", "path_prefix", "allow")
    val got = graft.ops.Pipeline.warcCurate(archives, col("archive"),
        rules, Seq("bad.org"), quota = 10)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    // metadata records never enter the pipeline
    assert(got.keySet === Set(1L << 20, (1L << 20) + 2, 2L << 20), got.keySet.toString)
    assert(got(1L << 20).getAs[Boolean]("keep"))
    assert(!got((1L << 20) + 2).getAs[Boolean]("robots_allowed"))
    assert(got(2L << 20).getAs[Boolean]("domain_blocked"))
    // parity: the composition is exactly crawlPipeline on the record frame
    val direct = graft.ops.Pipeline.crawlPipeline(
        Seq((1L << 20, "https://good.com/a", s"<html><p>$prose one</p></html>"),
          ((1L << 20) + 2, "https://good.com/private/x", s"<html><p>$prose two</p></html>"),
          (2L << 20, "https://bad.org/a", s"<html><p>$prose three</p></html>"))
          .toDF("doc_id", "url", "html"),
        col("url"), col("html"), rules, Seq("bad.org"), quota = 10)
      .collect().map(_.toString).sorted.toSeq
    assert(got.values.map(_.toString).toSeq.sorted === direct)
  }

  test("warcGzCurate ≡ warcCurate: the gz member walk changes nothing but the framing") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val prose = (1 to 40).map(i => s"word$i body").mkString(" ")
    val pages = Seq(
      (1L, "https://good.com/a", s"<html><p>$prose one</p></html>"),
      (2L, "https://good.com/private/x", s"<html><p>$prose two</p></html>"),
      (3L, "https://bad.org/a", s"<html><p>$prose three</p></html>"))
      .toDF("doc_id", "url", "html")
    val rules = Seq(("good.com", "/private", false)).toDF("host", "path_prefix", "allow")
    def decisions(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select("canonical_url", "robots_allowed", "domain_blocked", "keep")
        .collect().map(_.toString).sorted.toSeq
    val plain = graft.ops.Pipeline.warcCurate(
      pages.select(col("doc_id"),
        graft.sources.Warc.record(lit("response"), col("url"), col("html"))
          .as("archive")),
      col("archive"), rules, Seq("bad.org"), quota = 10)
    val gz = graft.ops.Pipeline.warcGzCurate(
      pages.select(col("doc_id"),
        graft.sources.Warc.gzMember(lit("response"), col("url"), col("html"))
          .as("archive")),
      col("archive"), rules, Seq("bad.org"), quota = 10)
    assert(decisions(gz) === decisions(plain),
      "gz and plain archives must land identical crawl decisions")
    assert(gz.collect().length === 3)
  }

  test("warcGzCurate doc_id packing: ≥1024 members cannot collide (r13 regression)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the Common Crawl layout: one gzip member per record, thousands
    // of members per archive — the old 2²⁰/2¹⁰ packing collided at
    // member 1024; the 2³²/2¹⁶ packing matches the kernel caps
    val nMembers = 1100
    val bos = new java.io.ByteArrayOutputStream()
    for (m <- 0 until nMembers) {
      val body = s"member $m body"
      val rec = s"WARC/1.0\r\nWARC-Type: response\r\n" +
        s"WARC-Target-URI: https://ex.com/p$m\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n$body\r\n\r\n"
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(rec.getBytes("UTF-8"))
      g.finish()
    }
    val archives = Seq((7L, bos.toByteArray)).toDF("doc_id", "archive")
    val rules = Seq.empty[(String, String, Boolean)]
      .toDF("host", "path_prefix", "allow")
    val ids = graft.ops.Pipeline.warcGzCurate(archives, col("archive"),
        rules, Nil, quota = nMembers + 1)
      .select("doc_id").as[Long].collect().sorted
    assert(ids.length === nMembers, "every member's record must survive")
    assert(ids.distinct.length === nMembers, "doc_ids must be collision-free")
    assert(ids.head === 7L * (1L << 32), "member 0, record 0")
    assert(ids.last === 7L * (1L << 32) + (nMembers - 1).toLong * (1L << 16),
      "member N packs at member_idx · 2¹⁶")
  }

  test("warcRecordsStream: stateless streaming ingest equals the batch walk (plain and gz)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mk = (doc: Long, uri: String, body: String) => (doc, uri, body)
    val rows = Seq(
      mk(1L, "https://a.com/1", "hello one"),
      mk(2L, "https://b.org/2", "hello WARC/1.0 two"))
    for (gz <- Seq(false, true)) {
      val archives = rows.toDF("doc_id", "url", "body").select(col("doc_id"),
        (if (gz) graft.sources.Warc.gzMember(lit("response"), col("url"), col("body"))
         else graft.sources.Warc.record(lit("response"), col("url"), col("body"))
           .cast("binary")).as("archive"))
      implicit val sq = spark.sqlContext
      val mem = MemoryStream[(Long, Array[Byte])]
      mem.addData(archives.as[(Long, Array[Byte])].collect().toSeq)
      val streamed = graft.streaming.Streams.warcRecordsStream(
        mem.toDF().toDF("doc_id", "archive"), gz = gz)
      val got = graft.streaming.Streams.runOnce(spark, streamed,
        s"warc_stream_$gz", org.apache.spark.sql.streaming.OutputMode.Append())
        .select("doc_id", "target_uri", "body")
        .collect().map(_.toString).sorted.toSeq
      val batch = graft.sources.Warc.parseRecords(
          (if (gz) graft.sources.Warc.splitRecordsGz(archives, col("archive"))
           else graft.sources.Warc.splitRecords(archives, col("archive"))),
          col("record"))
        .select("doc_id", "target_uri", "body")
        .collect().map(_.toString).sorted.toSeq
      assert(got === batch, s"gz=$gz: streaming and batch ingest must agree")
      assert(got.length === 2)
    }
  }

  test("sourceOverlap: exact pairwise counts, jaccard, containments; zero-overlap pairs absent") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // a: {x, y, z}; b: {x, y, w}; c: {q} (disjoint); dup copies within
    // a slice must not inflate its distinct-fingerprint size
    val docs = Seq(
      (1L, "a", "x common"), (2L, "a", "y common"), (3L, "a", "z only a"),
      (4L, "a", "x common"), // duplicate within a
      (5L, "b", "x common"), (6L, "b", "y common"), (7L, "b", "w only b"),
      (8L, "c", "q disjoint")).toDF("doc_id", "source", "text")
    val got = graft.ops.Pipeline.sourceOverlap(docs, col("source")).collect()
    assert(got.length === 1, s"only (a,b) overlaps: ${got.mkString(";")}")
    val r = got.head
    assert(r.getAs[String]("grp_a") === "a")
    assert(r.getAs[String]("grp_b") === "b")
    assert(r.getAs[Long]("n_common") === 2L)
    assert(r.getAs[Long]("n_a") === 3L)
    assert(r.getAs[Long]("n_b") === 3L)
    assert(r.getAs[Double]("jaccard") === 0.5)
    assert(r.getAs[Double]("containment_a") === 2.0 / 3.0)
    assert(r.getAs[Double]("containment_b") === 2.0 / 3.0)
    // the join is fingerprint-keyed, never a cartesian over documents
    val phys = graft.ops.Pipeline.sourceOverlap(docs, col("source"))
      .queryExecution.executedPlan.toString
    assert(!phys.contains("Cartesian"), s"sourceOverlap goes cartesian:\n$phys")
  }

  test("corpusOverlapSketch: estimates within HLL tolerance of the exact planted overlap") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // A = docs 0..1999; B = docs 1000..2999 → exact overlap 1000,
    // union 3000 (hash-word texts are unique per id by construction)
    def corpus(ids: Range) = ids.map(i => (i.toLong,
      s"w${i}a unique w${i}b body w${i}c")).toDF("doc_id", "text")
    val a = corpus(0 until 2000)
    val b = corpus(1000 until 3000)
    val r = graft.ops.Pipeline.corpusOverlapSketch(a, b).collect().head
    // HLL at lgConfigK=12 is ~1.6% rsd; bound every estimate at 4σ
    def within(got: Double, exact: Double): Boolean =
      math.abs(got - exact) <= exact * 0.07
    assert(within(r.getAs[Long]("est_a").toDouble, 2000), r.toString)
    assert(within(r.getAs[Long]("est_b").toDouble, 2000), r.toString)
    assert(within(r.getAs[Long]("est_union").toDouble, 3000), r.toString)
    assert(within(r.getAs[Long]("est_overlap").toDouble, 1000), r.toString)
    val j = r.getAs[Double]("est_jaccard")
    assert(j > 0.25 && j < 0.42, s"jaccard estimate off: $j (exact 1/3)")
    // disjoint corpora: overlap estimate near zero (within union noise)
    val d = graft.ops.Pipeline.corpusOverlapSketch(
      corpus(0 until 1000), corpus(5000 until 6000)).collect().head
    assert(math.abs(d.getAs[Long]("est_overlap").toDouble) < 2000 * 0.07,
      d.toString)
  }

  test("pricingSummary plan: filter and pruned columns reach the parquet scan") {
    val plan = Relational.pricingSummary(lineitem).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), plan)
  }
}
