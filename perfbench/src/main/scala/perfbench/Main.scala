package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.{GraftFunctions, GraftSession}

/** Benchmark entry point: one workload, one seed, one run.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --work <dir> --out <result.json>
  * }}}
  *
  * Spark runs `local[n]` on the cores the JVM sees. Setup (session,
  * function registration and a warm-up query) runs several times and
  * reports its median; the cold figure, JVM start to the first timed
  * operation less input generation and staging, is reported beside it.
  * Inputs are then generated and staged to parquet, the index is built,
  * and the fixed schedule of reads and writes runs in a closed loop with
  * one client. The result record goes to `--out`; `perfbench/run.py`
  * turns it into the benchmark's one-line report.
  */
object Main {
  val SetupReps = 5

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toInt
    val trace = args.getOrElse("trace", "0") == "1"
    val work = Paths.get(args("work")).toAbsolutePath.toString
    val cores = Runtime.getRuntime.availableProcessors
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    // setup: session, function registration and a warm-up query through
    // the registered functions, repeated; the first repetition also pays
    // JVM start and class loading
    var spark: SparkSession = null
    val setup = (0 until SetupReps).map { rep =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cores, s"$work/wh$rep", s"$work/local")
      warmUp(spark)
      if (rep == 0) (System.currentTimeMillis() - jvmStartMs) / 1000.0
      else (System.nanoTime() - t0) / 1e9
    }

    val wl = Workloads.make(workload, seed, seconds)
    val g0 = System.nanoTime()
    wl.generate()
    val genS = (System.nanoTime() - g0) / 1e9
    val tracer = if (trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.setActive(false))
    val ctx = new Ctx(spark, s"$work/run", cores, tracer)
    val s0 = System.nanoTime()
    wl.stage(ctx)
    val stageS = (System.nanoTime() - s0) / 1e9
    tracer.foreach(_.setActive(true))

    val coldSetupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0 - genS - stageS
    val record = Harness.measure(wl, ctx, tracer, setup, coldSetupS, genS, stageS)
    val runInfo = Map("workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace, "cores" -> cores)
    tracer.foreach { t =>
      t.detach()
      Files.write(Paths.get(s"$work/spans.jsonl"),
        t.spanLines().mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }
    spark.stop()
    val out = Json.value(record ++ runInfo)
    Files.write(Paths.get(args("out")), out.getBytes(StandardCharsets.UTF_8))
  }

  /** One small shuffle job through the library's registered functions. */
  def warmUp(spark: SparkSession): Unit =
    spark.range(0, 20000, 1, 4)
      .selectExpr("id % 64 AS k",
        "cosine_sim(array(CAST(id AS DOUBLE), 1D), array(1D, CAST(id AS DOUBLE))) AS s")
      .groupBy("k").sum("s").collect()

  def session(cores: Int, warehouse: String, local: String): SparkSession = {
    val s = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.sql.warehouse.dir", warehouse)
      .config("spark.local.dir", local)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftFunctions.register(s)
    s
  }
}
