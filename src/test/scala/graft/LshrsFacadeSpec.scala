package graft

import org.apache.spark.sql.functions._

import graft.lsh.{LshParams, Lshrs}

/** Drives the reference-shaped facade through the reference's own
  * quick-start flow (README Quick Start: construct → create_signatures
  * → ingest → get_top_k → get_above_p → stats → save/load).
  */
class LshrsFacadeSpec extends SparkSpec {
  import spark.implicits._

  val p = LshParams(dim = 64, numPerm = 32, numBands = Some(8), rowsPerBand = Some(4))

  test("reference quick-start flow end to end") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    var lsh = Lshrs(spark, p).createSignatures(emb.filter(col("vec_id") < 499))

    // ingest an ad-hoc vector (copy of vec 0 under a new id)
    val v0 = emb.filter(col("vec_id") === 0).collect().head
      .getSeq[Float](1).toArray
    lsh = lsh.ingest(900000L, v0)

    // top-k: the planted copy is vector 0's best match with full-band collisions
    val queries = emb.filter(col("vec_id") === 0)
    val top = lsh.getTopK(queries, topK = 5).collect()
    assert(top.head.getAs[Long]("cand_id") === 900000L)
    assert(top.head.getAs[Long]("n_collisions") === p.b)

    // top-p rerank: the copy scores cosine 1.0
    val above = lsh.getAboveP(queries, p = 0.1).collect()
    assert(above.head.getAs[Long]("cand_id") === 900000L)
    assert(math.abs(above.head.getAs[Double]("sim") - 1.0) < 1e-12)

    // stats snapshot
    val st = lsh.stats().collect().head
    assert(st.getAs[Long]("n_entries") === 500L * p.b)

    // delete + clear
    assert(lsh.delete(Seq(900000L)).indexDf.filter(col("vec_id") === 900000L).count() === 0)
    assert(lsh.clear().indexDf.count() === 0)

    // save / load round-trip
    val dir = tempDir("lshrs_facade").toString
    lsh.saveToDisk(dir)
    val reloaded = Lshrs.loadFromDisk(spark, dir, lsh.corpus)
    assert(reloaded.params === p.copy(numBands = Some(p.b), rowsPerBand = Some(p.r)))
    assert(reloaded.indexDf.count() === lsh.indexDf.count())
    assert(reloaded.getTopK(queries, 1).collect().head.getAs[Long]("cand_id") === 900000L)

    // config analysis report (reference print_config_analysis): the
    // instance's own num_perm/threshold drive the rendered numbers
    val rep = lsh.configAnalysis()
    assert(rep.contains(s"num_perm=${p.numPerm}"))
    assert(rep.contains("bands=") && rep.contains("rows_per_band="))
    assert(rep.contains("false_positive_rate=") && rep.contains("similarity 0.9"))
  }
}
