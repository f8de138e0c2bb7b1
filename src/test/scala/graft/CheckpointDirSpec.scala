package graft

import org.apache.spark.SparkException
import org.apache.spark.sql.DataFrame

import graft.dedup.Dedup
import graft.ops.Graph

/** The lineage-cut policy of `Caching.cut`, seen from a result whose
  * blocks are lost: with a checkpoint dir set on the session, an
  * operator's result recomputes from its last cut's files, and only
  * that last cut's files remain; without one, the same step raises
  * Spark's missing-checkpoint-block error. Every test leaves the
  * session's checkpoint dir unset, so every other suite keeps the
  * local policy.
  */
class CheckpointDirSpec extends SparkSpec {
  import spark.implicits._

  private def chain: DataFrame = (0L until 40L).map(i => (i, i + 1)).toDF("a", "b")
  private def triangle: DataFrame = {
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    (und ++ und.map(_.swap)).toDF("src", "dst")
  }

  private val operators: Seq[(String, () => DataFrame)] = Seq(
    "Dedup.clustersFromPairs" ->
      (() => Dedup.clustersFromPairs((0L to 40L).toDF("doc_id"), chain)),
    "Graph.pageRank" -> (() => Graph.pageRank(triangle, iterations = 4)))

  /** `df`'s rows through a freshly planned query: re-collecting `df`
    * itself would rerun its memoized plan, whose shuffle files still
    * hold the answer without reading the cut.
    */
  private def rows(df: DataFrame): Seq[String] =
    df.select("*").collect().map(_.toString).toSeq.sorted

  /** Run `body` with a fresh checkpoint dir set, then unset it. */
  private def withCheckpointDir(body: java.io.File => Unit): Unit = {
    val dir = tempDir("graft_cut").toFile
    spark.sparkContext.setCheckpointDir(dir.toString)
    try body(dir) finally spark.sparkContext.setCheckpointDir(null)
  }

  /** The checkpointed RDDs' directories under a checkpoint dir (Spark
    * writes them below one per-context subdirectory).
    */
  private def rddDirs(dir: java.io.File): Seq[String] =
    Option(dir.listFiles()).toSeq.flatten.flatMap(d => Option(d.listFiles()).toSeq.flatten)
      .map(_.getName).filter(_.startsWith("rdd-"))

  for ((name, op) <- operators) {
    test(s"$name: with a checkpoint dir the result recomputes after its blocks are lost") {
      withCheckpointDir { dir =>
        val res = op()
        val want = rows(res)
        res.unpersist(blocking = true)
        assert(rows(res) === want, "the recomputed result differs")
        assert(rddDirs(dir).size === 1,
          s"expected only the last cut's files, found ${rddDirs(dir)}")
      }
      assert(spark.sparkContext.getCheckpointDir.isEmpty, "the checkpoint dir was left set")
    }

    test(s"$name: without a checkpoint dir the lost result raises the missing-checkpoint-block error") {
      assert(spark.sparkContext.getCheckpointDir.isEmpty)
      val res = op()
      res.unpersist(blocking = true)
      val e = intercept[SparkException](rows(res))
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage))
      assert(msgs.exists(_.contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND")), e.getMessage)
    }
  }
}
