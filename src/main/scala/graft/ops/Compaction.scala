package graft.ops

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.{BucketSpec, CatalogTable, CatalogTableType}
import org.apache.spark.sql.functions.col

/** The at-rest layout of every bucketed index table, and its upkeep
  * (reference analogue: the `storage/redis.py` bucket store — `:40`
  * the `(band_id, sig_bytes)` → ids map, `:419` delete / `:590` clear
  * rewriting it in place).
  *
  * The layout decision, made once here for the LSH bands, IVF and
  * IVFADC cells, BM25 postings + doclen, positional postings, the
  * bigram LM and the MinHash signature store:
  *  - Tables are bucketed AND sorted on their join key. A reloaded
  *    index's collision/probe join then reads bucket-local with no
  *    exchange and no sort on the index side; that shuffle is the
  *    network-bound step of collision-counting LSH joins (C2Net,
  *    ICDE 2019).
  *  - A save ([[saveBucketed]]) clusters first: `repartition(n, keys)`
  *    hashes with the same murmur3-pmod function as the bucket
  *    layout, so each task holds one bucket and the writer emits ONE
  *    file per bucket instead of tasks × buckets.
  *  - An append ([[appendBucketed]]) does not cluster: the extra n
  *    tasks cost a small batch more than the files they save
  *    (perfbench curate, 4 cores: `write_best_s` 1.24 → 1.99 s). Each
  *    append leaves one more file set per bucket — still correct, the
  *    bucketing metadata is append-stable — and [[rewriteBucketed]]
  *    folds the debris back to one file per bucket through a staging
  *    table and a catalog rename: one data rewrite, no window where
  *    the table name is unserveable except the metadata swap itself.
  *
  * The read rule: a join that SHUFFLES its other side (the corpus-scale
  * forms, or broadcasts disabled) reads the table bucketed, and its
  * index side plans no exchange. A serve that BROADCASTS its query
  * side reads the table through [[streamed]]: no operator above that
  * scan uses the bucket layout, and a bucketed scan is one task per
  * bucket (32 tasks on a 4-core box; at scale, `nBuckets` tasks each
  * reading 1/`nBuckets` of the index however many cores there are).
  *
  * Every UNBUCKETED table — model tables (PQ codebooks, OPQ rotation,
  * PCA, BPE merges, DSIR llr, topic centroids, the linear classifiers),
  * the PQ code and centroid siblings, the quota ledger — is written by
  * [[saveTable]]: overwrite as parquet, external at the given path,
  * parameters set as table properties after the write. It writes the
  * frame as given; a caller that wants one file coalesces first.
  */
object Compaction {

  /** `df` with every bucketed table under it read as a plain file
    * scan, split by size rather than by bucket — for the index side of
    * an explicitly broadcast serving join (the read rule above). Rows
    * and columns are those of `df`; only the plan's scan changes.
    */
  def streamed(df: DataFrame): DataFrame =
    org.apache.spark.sql.GraftPlanBridge.withoutBucketSpec(df)

  /** Overwrite `table` with `df` in the layout: bucketed into
    * `nBuckets` and sorted on `keys`, clustered first so every bucket
    * is one file. `path` makes the table external at that location.
    */
  private[graft] def saveBucketed(df: DataFrame, table: String, nBuckets: Int,
      path: Option[String], keys: String*): Unit = {
    val w = df.repartition(nBuckets, keys.map(col): _*).write.mode("overwrite")
      .bucketBy(nBuckets, keys.head, keys.tail: _*).sortBy(keys.head, keys.tail: _*)
      .format("parquet")
    path.foreach(loc => w.option("path", loc))
    w.saveAsTable(table)
  }

  /** Overwrite unbucketed `table` with `df` as parquet, external at
    * `path` when given, then set each of `props` as a table property.
    * No repartition or coalesce: the write plans `df`'s own job.
    */
  private[graft] def saveTable(df: DataFrame, table: String, path: Option[String],
      props: (String, String)*): Unit = {
    val w = df.write.mode("overwrite").format("parquet")
    path.foreach(loc => w.option("path", loc))
    w.saveAsTable(table)
    props.foreach { case (k, v) => TableProps.set(df.sparkSession, table, k, v) }
  }

  /** Append `df` to a [[saveBucketed]] table under the bucket count,
    * bucket columns and sort columns the catalog holds for it — the
    * append cannot break the layout. Not clustered (see above). A
    * table that is not bucketed is refused BEFORE `df` is built, so
    * no caller work (loading the table's params or siblings) runs
    * against it.
    */
  private[graft] def appendBucketed(spark: SparkSession, table: String)(
      df: => DataFrame): Unit = {
    val spec = bucketSpec(spark, table)
    val (b, s) = (spec.bucketColumnNames, spec.sortColumnNames)
    df.write.mode("append")
      .bucketBy(spec.numBuckets, b.head, b.tail: _*).sortBy(s.head, s.tail: _*)
      .format("parquet").saveAsTable(table)
  }

  private def bucketSpec(spark: SparkSession, table: String): BucketSpec =
    spark.sessionState.catalog.getTableMetadata(TableIdentifier(table))
      .bucketSpec.getOrElse(throw new IllegalArgumentException(
        s"table $table is not bucketed — not a graft index table"))

  /** Rewrite bucketed catalog table `table` to EXACTLY one file per
    * bucket (empty buckets write none), preserving the bucket spec,
    * the sort spec, and every `graft.*` table property. `transform`
    * lets callers rewrite rows on the way through (e.g. reassign
    * cells against refreshed centroids); it runs while the original
    * table is still readable.
    *
    * The one-file guarantee is the save's clustering, applied with
    * the table's own spec. At target scale size `nBuckets` at save
    * time so a single bucket fits an executor core (the
    * [[graft.ann.Ivf]] docstring contract) — then the compaction
    * tasks are bucket-sized by construction. The staging write keeps
    * its own writer rather than [[saveBucketed]]: it preserves a sort
    * spec that may differ from (or be absent beside) the bucket
    * columns.
    */
  def rewriteBucketed(spark: SparkSession, table: String,
      transform: DataFrame => DataFrame = identity): Unit = {
    val meta = spark.sessionState.catalog.getTableMetadata(TableIdentifier(table))
    val spec = bucketSpec(spark, table)
    // read the FILES, not the catalog table: a scan of the bucketed
    // table advertises HashPartitioning(bucket, n), which lets the
    // planner elide the repartition exchange as already-satisfied —
    // while actually scanning one partition per FILE ("Bucketed:
    // false (disabled by query planner)"), which re-emits the append
    // debris one file per task. The raw parquet read carries no
    // bucketing metadata, so the compacting shuffle genuinely runs.
    // repartition on ALL bucket columns: HashPartitioning over the
    // full column list is what matches the bucket layout's hash — a
    // prefix (e.g. `band` alone for a (band, sig) index) would spread
    // each bucket's rows over several tasks and re-emit multi-file
    // buckets
    val rows = transform(spark.read.parquet(meta.location.toString))
      .repartition(spec.numBuckets, spec.bucketColumnNames.map(col): _*)
    swapIn(spark, table, meta, rows) { w =>
      val b = w.bucketBy(spec.numBuckets,
        spec.bucketColumnNames.head, spec.bucketColumnNames.tail: _*)
      if (spec.sortColumnNames.isEmpty) b
      else b.sortBy(spec.sortColumnNames.head, spec.sortColumnNames.tail: _*)
    }
  }

  /** Rewrite an UNBUCKETED catalog table through a staging table and
    * a catalog rename — the same can't-race-its-own-scan idiom as
    * [[rewriteBucketed]] for plain model/ledger tables (r11 verdict
    * item #2: the quota ledger's read-modify-write must not collect a
    * domains-grain table to the driver — a real crawl has 10⁷–10⁸
    * registered domains). `transform` sees the CURRENT rows (read from
    * the files, schema from the catalog so an empty table still
    * reads) and its output becomes the table's new content; the
    * transform's plan must not lazily re-reference the table name
    * itself (pass data through the provided frame).
    */
  def rewriteTable(spark: SparkSession, table: String,
      transform: DataFrame => DataFrame): Unit = {
    val meta = spark.sessionState.catalog.getTableMetadata(TableIdentifier(table))
    require(meta.bucketSpec.isEmpty,
      s"table $table is bucketed — use rewriteBucketed to preserve the layout")
    swapIn(spark, table, meta,
      transform(spark.read.schema(meta.schema).parquet(meta.location.toString)))(identity)
  }

  /** The tail both rewrites share: write `rows` through `layout` to a
    * staging table, copy every `graft.*` table property of `table`
    * (catalog entry `meta`) onto it, drop `table` and an external
    * table's old files (DROP leaves them behind), and rename the
    * staging table into its place. An external table's new location
    * is its old one with any earlier rewrite suffix stripped and one
    * fresh suffix added, so repeated rewrites never lengthen the path.
    */
  private def swapIn(spark: SparkSession, table: String, meta: CatalogTable,
      rows: DataFrame)(layout: DataFrameWriter[Row] => DataFrameWriter[Row]): Unit = {
    val staging = s"${table}__rewriting"
    val external = meta.tableType == CatalogTableType.EXTERNAL
    spark.sql(s"DROP TABLE IF EXISTS `$staging`")
    val w = layout(rows.write.mode("overwrite").format("parquet"))
    val base = meta.location.getPath.replaceAll("(__(compact|rewrite)_\\d+)+$", "")
    (if (external) w.option("path", s"${base}__rewrite_${System.nanoTime()}") else w)
      .saveAsTable(staging)
    // index flags (e.g. the PQ residual/nProbe encoding params) must
    // survive a rewrite — a compacted residual index served without
    // its bias term is the silent-wrong case the props exist to stop
    meta.properties.filter { case (k, _) => k.startsWith("graft.") }.foreach {
      case (k, v) => TableProps.set(spark, staging, k, v)
    }
    spark.sql(s"DROP TABLE `$table`")
    if (external) {
      val p = new org.apache.hadoop.fs.Path(meta.location)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
    spark.sql(s"ALTER TABLE `$staging` RENAME TO `$table`")
  }

  /** Data files per bucket id of a bucketed catalog table — the
    * compaction observable: N appends leave up to N+1 file sets per
    * bucket; after [[rewriteBucketed]] every count is exactly 1.
    */
  def filesPerBucket(spark: SparkSession, table: String): Map[Int, Int] = {
    val meta = spark.sessionState.catalog.getTableMetadata(TableIdentifier(table))
    val p = new org.apache.hadoop.fs.Path(meta.location)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bucketId = "_(\\d{5})\\.".r
    val it = fs.listFiles(p, true)
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val f = it.next().getPath.getName
      if (f.endsWith(".parquet")) names += f
    }
    names.toSeq
      .flatMap(n => bucketId.findFirstMatchIn(n).map(_.group(1).toInt))
      .groupBy(identity).map { case (b, fs0) => b -> fs0.size }
  }
}
