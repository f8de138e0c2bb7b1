package org.apache.spark.sql

import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Bridge to Spark's `private[sql]` Dataset-from-plan constructor
  * (`classic.Dataset.ofRows`), for the one plan rewrite graft makes:
  * re-reading a bucketed file relation as a plain file scan.
  */
object GraftPlanBridge {

  /** `df` re-planned with every bucketed `HadoopFsRelation` under it
    * read without its bucket spec: the planner then splits the scan by
    * file size (one task per split, up to every core) instead of one
    * task per bucket, and advertises no bucket partitioning. The
    * rewrite runs on the plan with cached fragments already swapped
    * in, so a cached part of `df` is still read from its cache. Output
    * attributes are unchanged: columns of `df` resolve against the
    * result.
    */
  def withoutBucketSpec(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    classic.Dataset.ofRows(ds.sparkSession, ds.queryExecution.withCachedData.transform {
      case l @ LogicalRelation(r: HadoopFsRelation, _, _, _, _) if r.bucketSpec.isDefined =>
        l.copy(relation = r.copy(bucketSpec = None)(r.sparkSession))
    })
  }
}
