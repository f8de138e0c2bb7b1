package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Shared operator plumbing: the cache-scope pattern and the
  * frequency-cap pruning used across the dedup/text operators (kept in
  * one place so the semantics can't drift between call sites).
  */
object Caching {

  /** Cache-lifecycle helper: force `df`'s blocks (so upstream caches
    * are no longer needed for recomputation), then run `release` to
    * unpersist the intermediates, and hand the still-cached result to
    * the caller. The returned DataFrame is the cache scope —
    * `result.unpersist()` when done leaves zero persistent RDDs behind
    * (asserted by CacheLifecycleSpec). If the result's blocks are later
    * evicted the plan recomputes from source (slower, still correct),
    * UNLESS the released intermediates included a localCheckpoint the
    * lineage depends on — callers releasing checkpoints must document
    * that caveat.
    */
  def materialized(df: DataFrame)(release: => Unit): DataFrame = {
    val out = df.persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    release
    out
  }

  /** Release the materialized blocks behind a `localCheckpoint`ed
    * DataFrame. After this the DataFrame is NOT recomputable (the
    * checkpoint truncated its lineage) — only call once nothing will
    * read it again, or once every reader is itself materialized.
    */
  def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
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
