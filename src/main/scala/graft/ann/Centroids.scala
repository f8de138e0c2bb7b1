package graft.ann

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact per-label centroids in fixed-point arithmetic.
  *
  * A float mean over a groupBy is NOT cross-engine reproducible — the
  * accumulation order of a distributed sum is nondeterministic, and
  * float addition doesn't associate. Summing `floor(x·10⁶)` as int64
  * instead is order-independent and bit-identical on any engine, at
  * the cost of quantizing each component to 1e-6 before averaging
  * (vs the ~1e-7 relative error a float32 input already carries).
  * The shuffle carries one (label, i) partial per partition — plain
  * map-side-combine aggregation, no collect_list materialization, so
  * the shape survives a billion rows per label.
  */
object Centroids {

  val Scale = 1000000L

  /** (label, i, sum_fx, n, centroid): component-wise fixed-point mean
    * per label — class prototypes for probing, IVF seeding, or
    * nearest-centroid classification.
    */
  def labelCentroids(emb: DataFrame): DataFrame =
    labelMeans(emb).orderBy(col("label"), col("i"))

  /** [[labelCentroids]] unordered — the aggregate alone, for callers
    * that collect it (the PQ codebook fit runs it once per Lloyd round,
    * where a global sort would add a job).
    */
  private[ann] def labelMeans(emb: DataFrame): DataFrame =
    emb
      .select(col("label").cast("long").as("label"),
        posexplode(col("embedding")).as(Seq("i", "x")))
      .select(col("label"), col("i").cast("long").as("i"),
        floor(col("x").cast("double") * Scale).cast("long").as("fx"))
      .groupBy(col("label"), col("i"))
      .agg(sum(col("fx")).as("sum_fx"), count(lit(1)).as("n"))
      .select(col("label"), col("i"), col("sum_fx"), col("n"),
        (col("sum_fx").cast("double") / (col("n") * Scale).cast("double")).as("centroid"))

  /** Per-label embedding OUTLIERS — the `k` vectors FARTHEST from
    * their label's centroid: mislabeled examples, embedding-model
    * failures, and contamination surface exactly here, so this is
    * the triage list an embedding-corpus curator reads per batch.
    * Distance is the in-index-order left fold of squared component
    * differences against the fixed-point centroid ([[labelCentroids]]
    * — order-independent), then one IEEE sqrt: every double is
    * engine-exact, so the ranking (dist desc, vec_id asc) is too.
    *
    * Shape: centroids are labels×dim-grain (broadcast); the distance
    * is a pure per-row projection; the top-k is the bounded
    * [[graft.expressions.TopKByScore]] aggregate — map-side partials,
    * ≤ k rows per label per partition into the shuffle, NEVER a rank
    * window over the full corpus.
    */
  def labelOutliers(emb: DataFrame, k: Int = 5): DataFrame = {
    val cents = labelCentroids(emb)
      .groupBy(col("label"))
      .agg(transform(
        array_sort(collect_list(struct(col("i"), col("centroid")))),
        s => s("centroid")).as("__cent"))
    emb.select(col("label").cast("long").as("label"), col("vec_id"),
        col("embedding"))
      .join(broadcast(cents), Seq("label"))
      .withColumn("__dist", sqrt(aggregate(
        zip_with(col("embedding"), col("__cent"),
          (a, b) => (a.cast("double") - b) * (a.cast("double") - b)),
        lit(0.0), (acc, v) => acc + v)))
      .groupBy(col("label"))
      .agg(graft.GraftFunctions.top_k_by_score(
        col("__dist"), col("vec_id"), k).as("top"))
      .select(col("label"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("label"), (col("pos") + 1).cast("long").as("rn"),
        col("t.id").as("vec_id"), col("t.score").as("dist"))
  }
}
