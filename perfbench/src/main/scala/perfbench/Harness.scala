package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one timed operation returns: how many items it served, a check
  * of its output against the generator's truth (run after the clock
  * stops), and a release of the cache scope the operator handed back.
  */
final case class Outcome(items: Long, check: () => Boolean, release: () => Unit = () => ())

/** One operation of the closed loop; `label` names its kind within the
  * mix (latency medians are taken per label).
  */
final case class Op(kind: Op.Kind, label: String, run: Ctx => Outcome)

object Op {
  sealed trait Kind
  case object Read extends Kind
  case object Write extends Kind
}

/** Per-operation context: the session, and the span wrapper every call
  * into the library goes through (a no-op when tracing is off).
  */
final class Ctx(val spark: SparkSession, val dir: String, val cores: Int,
    tracer: Option[Tracer]) {
  var opId = 0
  def call[T](span: String)(body: => T): T = tracer match {
    case Some(t) => t.span(span, opId)(body)
    case None => body
  }
}

/** A workload: seeded inputs with planted truth, a build, a fixed
  * schedule of reads and writes, and a final maintenance step.
  */
trait Workload {
  def name: String
  /** Generate inputs and truth in the JVM (no Spark). */
  def generate(): Unit
  /** Write the generated inputs to parquet under `ctx.dir`. */
  def stage(ctx: Ctx): Unit
  /** Build and persist the workload's indexes from the staged inputs. */
  def build(ctx: Ctx): Outcome
  def schedule: IndexedSeq[Op]
  /** Maintenance after the loop (compaction); timed, not a read or write. */
  def finish(ctx: Ctx): Unit
  /** Output quality against the planted truth: name → (value, floor).
    * A value under its floor makes the run's outputs count as wrong.
    */
  def quality: Map[String, (Double, Double)]
  /** Workload-specific per-layer counts (traced run only). */
  def layerCounts(ctx: Ctx, tracer: Tracer): Map[String, Double]
  /** Sizes and op mix, for the record. */
  def describe: Map[String, Any]
}

/** Several workloads run as one: inputs and builds in sequence, their
  * schedules interleaved operation by operation.
  */
final class Composite(val name: String, parts: Seq[Workload]) extends Workload {
  def generate(): Unit = parts.foreach(_.generate())
  def stage(ctx: Ctx): Unit = parts.foreach(_.stage(ctx))
  def build(ctx: Ctx): Outcome = {
    val outs = parts.map(_.build(ctx))
    Outcome(outs.map(_.items).sum, () => outs.forall(_.check()), () => outs.foreach(_.release()))
  }
  lazy val schedule: IndexedSeq[Op] = {
    val queues = parts.map(p => mutable.Queue(p.schedule: _*))
    val out = IndexedSeq.newBuilder[Op]
    while (queues.exists(_.nonEmpty)) queues.filter(_.nonEmpty).foreach(q => out += q.dequeue())
    out.result()
  }
  def finish(ctx: Ctx): Unit = parts.foreach(_.finish(ctx))
  def quality: Map[String, (Double, Double)] = parts.map(_.quality).reduce(_ ++ _)
  def layerCounts(ctx: Ctx, t: Tracer): Map[String, Double] =
    parts.map(_.layerCounts(ctx, t)).reduce(_ ++ _)
  def describe: Map[String, Any] = parts.map(p => p.name -> p.describe).toMap
}

object Harness {

  /** Span names whose five metrics every traced run reports (zero for
    * spans a workload never opens).
    */
  val SpanNames: Seq[String] = Seq(
    "lsh.saveBucketed", "lsh.loadBucketed", "lsh.topKOnIndex", "lsh.topPRerank",
    "lsh.addToBucketed", "lsh.compactBucketed",
    "dedup.nearDupKeepBest", "dedup.saveSignatures", "dedup.loadSignatures",
    "dedup.incrementalDedupOnSignatures", "dedup.addSignatures", "dedup.compactSignatures",
    "text.SearchIndex.save", "text.hashEmbedVectors", "ann.Ivf.saveIndex",
    "text.SearchIndex.searchTopKBatch", "text.hybridSearchBatchOnIndexes",
    "text.SearchIndex.add", "text.SearchIndex.compact",
    "multimodal.Binary.triage")

  /** Workload-specific counts and quality ratios (zero where absent). */
  val CountNames: Seq[String] = Seq(
    "lsh.collision_rows_per_query", "lsh.rerank_candidates_per_query", "lsh.useful_ratio",
    "dedup.candidate_pairs", "dedup.verified_ratio", "dedup.cc_rounds",
    "text.postings_per_query", "multimodal.construct_share",
    "quality.vector_recall_at_10", "quality.vector_rerank_recall_at_10",
    "quality.text_recall_at_10", "quality.dup_recall", "quality.dup_precision",
    "quality.triage_accuracy")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Best (lowest) latency of each operation label, weighted by the
    * label's share of the operations. A run holds one to five calls of
    * each kind, and interference from the rest of the machine only ever
    * adds time, so the best call is the least noisy estimate of a kind's
    * cost; weighting by the mix keeps the figure from jumping between
    * the modes of differently priced kinds.
    */
  def mixBest(ops: Seq[Timed]): Double =
    ops.groupBy(_.label).values.map(g => g.map(_.seconds).min * g.size).sum / ops.size

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  def persistentRdds(spark: SparkSession): Int = spark.sparkContext.getPersistentRDDs.size

  final case class Timed(kind: Op.Kind, label: String, seconds: Double, items: Long, ok: Boolean)

  /** Run build, schedule and finish; return the result record. */
  def measure(wl: Workload, ctx: Ctx, tracer: Option[Tracer],
      setup: Seq[Double], coldSetupS: Double, genS: Double, stageS: Double): Map[String, Any] = {
    val spark = ctx.spark
    val baseline = persistentRdds(spark)
    var failed = 0
    var attempted = 0
    // time `op`, then release its scope and check it; a throw or a
    // failed check counts as one failed operation
    def timed(what: String)(op: => Outcome): (Double, Long, Boolean) = {
      ctx.opId += 1
      attempted += 1
      val t0 = System.nanoTime()
      val out = try Some(op) catch {
        case e: Throwable => System.err.println(s"[perfbench] $what threw: $e"); None
      }
      val secs = (System.nanoTime() - t0) / 1e9
      val ok = out.exists { o =>
        try { o.release(); o.check() } catch {
          case e: Throwable => System.err.println(s"[perfbench] $what check threw: $e"); false
        }
      }
      if (!ok) { failed += 1; System.err.println(s"[perfbench] $what failed its check") }
      (secs, out.map(_.items).getOrElse(0L), ok)
    }

    val (buildS, _, _) = timed("build")(wl.build(ctx))
    // a read kind the loop calls only once gets one untimed call first:
    // its best-of-run latency would otherwise be its first call's code
    // generation (kinds called more often shed that call by taking the best)
    tracer.foreach(_.setActive(false))
    val warm0 = System.nanoTime()
    val singles = wl.schedule.filter(_.kind == Op.Read).groupBy(_.label).values.filter(_.size == 1)
    singles.map(_.head).foreach { op =>
      try op.run(ctx).release() catch {
        case e: Throwable => System.err.println(s"[perfbench] warm-up ${op.label} threw: $e")
      }
    }
    val warmupS = (System.nanoTime() - warm0) / 1e9
    tracer.foreach(_.setActive(true))
    val loopStart = System.nanoTime()
    val ops = wl.schedule.zipWithIndex.map { case (op, i) =>
      val (secs, items, ok) = timed(s"op $i (${op.label})")(op.run(ctx))
      Timed(op.kind, op.label, secs, items, ok)
    }
    val loopS = (System.nanoTime() - loopStart) / 1e9
    val (finishS, _, _) = timed("finish") { wl.finish(ctx); Outcome(0, () => true) }
    val leaked = persistentRdds(spark) - baseline

    val reads = ops.filter(_.kind == Op.Read)
    val writes = ops.filter(_.kind == Op.Write)
    val quality = wl.quality
    val correct = failed == 0 && quality.values.forall { case (v, floor) => v >= floor }
    val endToEnd = Map(
      "setup_s" -> median(setup),
      "build_s" -> buildS,
      "read_best_s" -> mixBest(reads),
      "items_per_s" -> reads.map(_.items).sum / reads.map(_.seconds).sum,
      "write_best_s" -> mixBest(writes),
      "peak_rss_mb" -> peakRssMb())

    val layer: Map[String, Double] = tracer match {
      case None => Map.empty
      case Some(t) =>
        t.settle()
        val spanned = for (s <- SpanNames; (m, v) <- t.spanMetrics(s)) yield s"$s.$m" -> v
        val counts = CountNames.map(_ -> 0.0).toMap ++ wl.layerCounts(ctx, t) ++
          quality.map { case (k, (v, _)) => s"quality.$k" -> v }
        spanned.toMap ++ t.engineMetrics(ctx.cores) ++ counts ++ Map(
          "spark.leaked_rdds" -> leaked.toDouble,
          "tracing_overhead_frac" -> t.overheadSeconds / (buildS + loopS + finishS),
          "setup_cold_s" -> coldSetupS,
          "input_gen_s" -> genS)
    }

    def perLabel(xs: Seq[Timed]): Map[String, Seq[Double]] =
      xs.groupBy(_.label).map { case (l, g) => l -> g.map(_.seconds) }
    Map(
      "correct" -> correct,
      "attempted" -> attempted,
      "failed" -> failed,
      "end_to_end" -> endToEnd,
      "per_layer" -> layer,
      "detail" -> Map(
        "setup_reps_s" -> setup, "setup_cold_s" -> coldSetupS, "gen_s" -> genS, "stage_s" -> stageS, "build_s" -> buildS, "warmup_s" -> warmupS,
        "loop_s" -> loopS, "finish_s" -> finishS, "reads" -> reads.size, "writes" -> writes.size,
        "read_s" -> perLabel(reads), "write_s" -> perLabel(writes),
        "failed_ops" -> ops.count(!_.ok), "leaked_rdds" -> leaked,
        "quality" -> quality.map { case (k, (v, f)) => k -> Map("value" -> v, "floor" -> f) },
        "workload" -> wl.describe))
  }
}
