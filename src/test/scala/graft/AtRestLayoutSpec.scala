package graft

import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._

import graft.ann.{Ivf, Pq}
import graft.dedup.Dedup
import graft.lsh.{LshIndex, LshParams}
import graft.ops.Compaction
import graft.text.{SearchIndex, TextAnalysis}

/** The save-time layout of every bucketed index table, asserted
  * family by family: a save leaves every bucket at exactly one file
  * under the spec (nBuckets, keys, keys); an append keeps that spec
  * and every `graft.*` property.
  */
class AtRestLayoutSpec extends SparkSpec {

  lazy val docs = Tables.load(spark, sfDir, "documents")
  lazy val emb = Tables.load(spark, sfDir, "embeddings")
  // not the session's 4 shuffle partitions: a save whose input is
  // already hash-partitioned on the key by an aggregate would otherwise
  // land one file per bucket with or without clustering
  private val nBuckets = 3

  /** One index family: `save(table, path)`, its append (None where the
    * family has none), the (suffix, keys) of every bucketed table it
    * writes, and the properties its append re-derives on purpose.
    */
  private final case class Family(name: String,
      save: (String, String) => Unit, add: Option[String => Unit],
      tables: Seq[(String, Seq[String])], advanced: Set[String] = Set.empty)

  /** Inputs are spread over several partitions so that an unclustered
    * save would write several files into some bucket.
    */
  private def families: Seq[Family] = {
    val docs = this.docs.repartition(3)
    val emb = this.emb.repartition(3)
    val even = col("doc_id") % 2 === 0
    val (evenVecs, oddVecs) = (emb.filter(col("vec_id") % 2 === 0),
      emb.filter(col("vec_id") % 2 === 1))
    val lshP = LshParams(dim = 64, numPerm = 32, numBands = Some(8), rowsPerBand = Some(4))
    val cents = emb.filter(col("vec_id") < 8)
    lazy val pqModel = Pq.train(emb, m = 8, k = 16)
    Seq(
      Family("lsh",
        (t, p) => LshIndex.saveBucketed(LshIndex.build(evenVecs, lshP), lshP, t,
          nBuckets, Some(p)),
        Some(t => LshIndex.addToBucketed(spark, oddVecs, t)),
        Seq("" -> Seq("band", "sig"))),
      Family("ivf",
        (t, p) => Ivf.saveIndex(evenVecs, cents, t, nBuckets, Some(p)),
        Some(t => Ivf.addToIndex(spark, oddVecs, t)),
        Seq("" -> Seq("cell"))),
      Family("ivfpq",
        (t, p) => Pq.saveCellIndex(pqModel, evenVecs, cents, t, nBuckets, Some(p),
          residual = true, nProbe = 2),
        Some(t => Pq.addToCellIndex(spark, oddVecs, t)),
        Seq("_cells" -> Seq("cell"))),
      Family("bm25",
        (t, p) => SearchIndex.save(docs.filter(even), t, nBuckets, path = Some(p)),
        Some(t => SearchIndex.add(docs.filter(!even), t)),
        Seq("" -> Seq("token"), "_doclen" -> Seq("doc_id")),
        advanced = Set("graft.search.stats")),
      Family("positional",
        (t, p) => TextAnalysis.savePositionalIndex(docs.filter(even), t, nBuckets, Some(p)),
        Some(t => TextAnalysis.addToPositionalIndex(docs.filter(!even), t)),
        Seq("" -> Seq("token"))),
      Family("lm",
        (t, p) => TextAnalysis.saveLm(docs, t, nBuckets, Some(p)),
        None,
        Seq("" -> Seq("w1", "w2"), "_uni" -> Seq("w1"))),
      Family("minhash",
        (t, p) => Dedup.saveSignatures(docs.filter(even), t, nBuckets, Some(p)),
        Some(t => Dedup.addSignatures(spark, docs.filter(!even), t)),
        Seq("" -> Seq("band", "band_hash"), "_fp" -> Seq("fingerprint"))))
  }

  private def meta(t: String) =
    spark.sessionState.catalog.getTableMetadata(TableIdentifier(t))

  private def graftProps(t: String): Map[String, String] =
    meta(t).properties.filter { case (k, _) => k.startsWith("graft.") }

  test("every bucketed table saves one file per bucket under (nBuckets, keys, keys); an append keeps spec and graft.* props") {
    val fams = families
    assert(fams.map(_.tables.size).sum === 10, "the seven families write 10 bucketed tables")
    // keep every shuffle at its planned width: coalesced to one
    // partition, a tiny input would write one file per bucket with or
    // without clustering
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    val old = spark.conf.get(coalesce)
    spark.conf.set(coalesce, "false")
    try for (f <- fams) {
      val base = s"graft_layout_${f.name}_spec"
      val dir = tempDir(s"graft_layout_${f.name}").toString
      f.save(base, s"$dir/tbl")
      val tables = f.tables.map { case (suffix, keys) => (base + suffix, keys) }
      for ((t, keys) <- tables) {
        val spec = meta(t).bucketSpec
        assert(spec.map(s => (s.numBuckets, s.bucketColumnNames, s.sortColumnNames)) ===
          Some((nBuckets, keys, keys)), s"$t saved under the wrong layout: $spec")
        val perBucket = Compaction.filesPerBucket(spark, t)
        assert(perBucket.nonEmpty && perBucket.values.forall(_ == 1),
          s"$t: a save left multi-file buckets: $perBucket")
      }
      f.add.foreach { add =>
        val before = tables.map { case (t, _) => t -> (meta(t).bucketSpec, graftProps(t)) }
        add(base)
        for ((t, (spec, props)) <- before) {
          assert(meta(t).bucketSpec === spec, s"$t: an append changed the bucket spec")
          val after = graftProps(t)
          assert(after.keySet === props.keySet, s"$t: an append changed the graft.* keys")
          assert((after -- f.advanced) === (props -- f.advanced),
            s"$t: an append changed a graft.* property")
        }
      }
      (Seq(base, s"${base}_centroids") ++ tables.map(_._1)).distinct
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    } finally spark.conf.set(coalesce, old)
  }

  test("compacting an external table twice leaves one rewrite suffix on its location") {
    val dir = tempDir("graft_layout_suffix").toString
    val t = "graft_layout_suffix_spec"
    Ivf.saveIndex(emb, emb.filter(col("vec_id") < 8), t, nBuckets, Some(s"$dir/tbl"))
    val n = spark.table(t).count()
    Compaction.rewriteBucketed(spark, t)
    Compaction.rewriteBucketed(spark, t)
    val loc = meta(t).location.getPath
    assert(loc.matches(s".*/tbl__rewrite_\\d+"), s"location $loc")
    assert("__(rewrite|compact)_".r.findAllIn(loc).size === 1, s"location $loc")
    assert(spark.table(t).count() === n)
    assert(Compaction.filesPerBucket(spark, t).values.forall(_ == 1))
    Seq(t, s"${t}_centroids").foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
  }
}
