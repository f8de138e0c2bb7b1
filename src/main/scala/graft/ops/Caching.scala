package graft.ops

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Shared operator plumbing: the cache-scope pattern, the one
  * lineage-cut policy and the one iteration loop, and the
  * frequency-cap pruning used across the dedup/text operators (kept in
  * one place so the semantics can't drift between call sites).
  */
object Caching {

  private val log = org.slf4j.LoggerFactory.getLogger("graft.ops.Caching")

  /** Cache-lifecycle helper: force `df`'s blocks (so upstream caches
    * are no longer needed for recomputation), then run `release` to
    * unpersist the intermediates, and hand the still-cached result to
    * the caller. The returned DataFrame is the cache scope —
    * `result.unpersist()` when done leaves zero persistent RDDs behind
    * (asserted by CacheLifecycleSpec). If the result's blocks are later
    * evicted the plan recomputes from source (slower, still correct);
    * where the released intermediates include a [[cut]], set a
    * checkpoint dir and the result recomputes from the cut's files.
    */
  def materialized(df: DataFrame)(release: => Unit): DataFrame = {
    val out = df.persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    release
    out
  }

  /** The one lineage cut: an eager checkpoint of `df`, returned as a
    * frame whose plan is the checkpointed data alone. The deployment
    * picks the kind: with `sparkContext.getCheckpointDir` set it is a
    * reliable `checkpoint` to that directory, so anything read through
    * the cut recomputes after a lost block; without one it is a
    * `localCheckpoint` into executor blocks, which a lost executor
    * takes with it. One job either way.
    */
  def cut(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(true)
    else df.localCheckpoint(true)

  /** Release a [[cut]] (every checkpointed leaf of `df`'s plan). Its
    * local-checkpoint blocks are dropped (without the WARN
    * `RDD.unpersist` logs for each local checkpoint), so without a
    * checkpoint dir a frame read through it no longer recomputes —
    * call this once nothing reads it again, or once every reader is
    * materialized.
    * Under a checkpoint dir a cut's files stay, because a materialized
    * result recomputes from them after a lost block; `superseded`
    * deletes them too, for a cut nothing will read again (an earlier
    * round of [[iterate]], a driver-side result's input).
    */
  def releaseCheckpoint(df: DataFrame, superseded: Boolean = false): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case lr: LogicalRDD =>
        org.apache.spark.GraftRddBridge.dropBlocks(lr.rdd)
        if (superseded) lr.rdd.getCheckpointFile.foreach { f =>
          val p = new Path(f)
          p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration).delete(p, true)
        }
      case _ => ()
    }

  /** What [[iterate]] saw on one cut: its row count, and whether its
    * signature equalled the previous cut's.
    */
  final case class Round(rows: Long, converged: Boolean)

  /** The one iteration loop of the iterative operators (PageRank, star
    * contraction, distributed BPE). `step` maps the last cut to the
    * next round's frame, or to `None` to stop; the loop [[cut]]s that
    * frame and releases the superseded cut, so plans stay
    * constant-depth over any round count. It runs at most `maxRounds`
    * steps.
    *
    * Each cut's row count, and the `sig` columns when given, are
    * aggregated by `Dataset.observe` during the cut's own job, so the
    * convergence test costs no extra pass over the state. Two
    * consecutive cuts with equal (rows, sig) are the fixed point and
    * end the loop.
    *
    * With `cutInit` the loop cuts `init` first and its [[Round]] leads
    * the list; otherwise the first step reads `init` as it is and the
    * loop never releases it. Returns the last cut, which the caller
    * releases with [[releaseCheckpoint]] once its result is
    * materialized, and one [[Round]] per cut. Logs one INFO line per
    * round as `op`, and a WARN when a signature was given and never
    * held.
    */
  def iterate(op: String, init: DataFrame, maxRounds: Int, sig: Seq[Column] = Nil,
      cutInit: Boolean = true)(step: DataFrame => Option[DataFrame])
      : (DataFrame, Seq[Round]) = {
    val metrics = count(lit(1)).as("rows") +:
      sig.zipWithIndex.map { case (c, i) => c.as(s"sig$i") }
    val rounds = ArrayBuffer.empty[Round]
    var last: Option[(DataFrame, Seq[Any])] = None
    def record(df: DataFrame): Unit = {
      val obs = Observation()
      val next = cut(df.observe(obs, metrics.head, metrics.tail: _*))
      val seen =
        try Await.result(obs.future, 60.seconds).toSeq
        catch { case _: java.util.concurrent.TimeoutException =>
          next.agg(metrics.head, metrics.tail: _*).head().toSeq }
      val converged = sig.nonEmpty && last.exists(_._2 == seen)
      last.foreach { case (prev, _) => releaseCheckpoint(prev, superseded = true) }
      last = Some((next, seen))
      rounds += Round(seen.head.asInstanceOf[Long], converged)
    }
    def logRound(i: Int): Unit = log.info(s"$op round $i: ${rounds.last.rows} rows" +
      (if (rounds.last.converged) " (converged)" else ""))
    if (cutInit) { record(init); logRound(0) }
    var i = 0
    var more = true
    while (more && i < maxRounds && !rounds.lastOption.exists(_.converged))
      step(last.fold(init)(_._1)) match {
        case Some(next) => record(next); i += 1; logRound(i)
        case None => more = false
      }
    if (sig.nonEmpty && !rounds.lastOption.exists(_.converged))
      log.warn(s"$op did not converge in $maxRounds rounds")
    (last.fold(init)(_._1), rounds.toSeq)
  }

  /** Drop rows whose `key` value occurs in more than `cap` rows — the
    * quadratic-blow-up guard shared by the shingle/fingerprint
    * self-joins.
    *
    * A partial-aggregated groupBy + semi-join of under-cap keys, NOT a
    * count-over-window: the keys this guards are hot BY DEFINITION (a
    * stop-phrase shingle or boilerplate fingerprint shared by 10⁶ docs
    * is exactly what the cap exists to drop), and the window form
    * sorts the full hot-key partition BEFORE the cap can discard it —
    * the skewed sort happens first. The aggregate reduces map-side
    * (partial_count: one row per key per partition enters the
    * shuffle) and the semi-join is AQE-skew-split-eligible, which a
    * window exchange is not. Same idiom as
    * [[graft.lsh.LshIndex.candidatePairs]]'s bucket guard; null keys
    * group together like the window form (null-safe join key).
    */
  def capByFrequency(df: DataFrame, key: Column, cap: Long): DataFrame = {
    // withColumn would silently REPLACE a caller column of the same
    // name (and drop it on the way out) — refuse instead; the helper's
    // own callers all pass narrow internal frames
    require(!df.columns.contains("__cap_key"),
      "capByFrequency: input already has a __cap_key column")
    val tagged = df.withColumn("__cap_key", key)
    val underCap = tagged.groupBy(col("__cap_key"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= cap)
      .select(col("__cap_key").as("__cap_keep"))
    tagged.join(underCap, col("__cap_key") <=> col("__cap_keep"), "left_semi")
      .drop("__cap_key")
  }
}
