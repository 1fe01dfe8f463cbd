package graft

import graft.sim.{Ann, Quantize}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Degenerate-input pins for every centroid-assignment entry point in
  * `graft.sim`: a corpus whose seed residue class (vec_id % 25 = 7, and
  * so also % 125 = 7) is empty has no centroids and no PQ codebook.
  * Each entry point must return exactly what the crossJoin → argmax
  * plans returned there: the schema below, no rows — except the IVF
  * recall audit, whose exact side still reports every query at zero
  * hits. k-means inputs also carry one NULL-vec_id row, which must
  * never reach a cluster. A caller-supplied k-means centroid table is
  * collected, so one over [[Ann.MaxSeeds]] rows or with a NULL cid must
  * fail loudly. */
class EmptySeedSpec extends AnyFunSuite {
  import TestSession._

  private def emb: DataFrame = graft.util.D.t(spark, sf, "embeddings")

  /** The corpus with the vec_id % 25 = 7 seed class removed. */
  private def noSeed: DataFrame = emb.filter(col("vec_id") % 25 =!= 7)

  /** One extra row with a NULL vec_id and a real embedding. */
  private def nullIdRow: DataFrame =
    emb.filter(col("vec_id") === 0).withColumn("vec_id", lit(null).cast("bigint"))

  private def pin(name: String, df: DataFrame, schema: String,
      rows: Seq[Row] = Nil): Unit = {
    assert(df.schema.simpleString === schema, s"$name schema")
    val got = df.collect().toSeq
    assert(got.length === rows.length, s"$name row count")
    assert(got === rows, s"$name rows")
  }

  private val TopK = "struct<query_id:bigint,rank:bigint,neighbor_id:bigint,cosine:double,list_id:bigint>"
  private val Means = "struct<cluster_id:bigint,dim:bigint,n_members:bigint,centroid:double>"
  private val Adc = "struct<query_id:bigint,rank:bigint,neighbor_id:bigint,adc_dist:double>"

  test("IVF and SemDeDup entry points on an empty seed class") {
    val v = noSeed
    pin("ivfTopK", Ann.ivfTopK(v, 40, 25, 7, 3, 5), TopK)
    // the exact side of the audit is unaffected: 13 queries, 0 hits each
    pin("ivfRecall", Ann.ivfRecall(v, 40, 25, 7, 3, 5),
      "struct<query_id:bigint,n_exact:bigint,n_hit:bigint,recall:double>",
      (0L to 480L by 40L).map(q => Row(q, 5L, 0L, 0.0)))
    pin("nprobeCurve", Ann.nprobeCurve(v, 40, 25, 7, Seq(1, 2, 4, 8, 16), 5),
      "struct<nprobe:bigint,n_queries:bigint,mean_recall:double,n_candidates:bigint>")
    pin("hardNegativesIvf", Ann.hardNegativesIvf(v, 40, 25, 7, 3, 3),
      "struct<query_id:bigint,rank:bigint,negative_id:bigint,neg_label:bigint,cosine:double,list_id:bigint>")
    pin("tripletsIvf", Ann.tripletsIvf(v, 40, 25, 7, 3),
      "struct<anchor_id:bigint,anchor_label:bigint,pos_id:bigint,pos_cos:double," +
        "neg_id:bigint,neg_cos:double,margin:double>")
    pin("assignLists", Ann.assignLists(v, 25, 7), "struct<vec_id:bigint,list_id:bigint>")
    pin("probeLists", Ann.probeLists(v, 40, 25, 7, 3), "struct<query_id:bigint,list_id:bigint>")
    pin("embeddingPairsIvf", Ann.embeddingPairsIvf(v, 0.3, 25, 7),
      "struct<list_id:bigint,vec_a:bigint,vec_b:bigint,cosine:double>")
    pin("semDedup", Ann.semDedup(v, 0.4, 25, 7),
      "struct<vec_id:bigint,cluster_id:bigint,cent_sim:double,kept:int>")
  }

  test("k-means entry points on an empty seed class (plus a NULL vec_id row)") {
    val v = noSeed.unionByName(nullIdRow)
    pin("kmeansStep", Ann.kmeansStep(v, 25, 7), Means)
    pin("kmeans2Iter", Ann.kmeans2Iter(v, 25, 7), Means)
    pin("kmeansIter(empty table)", Ann.kmeansIter(v, Ann.seedCents(v, 25, 7)), Means)
    // no surviving cluster: the drift coalesces to 0 and the fit stops
    val fit = Ann.kmeansFit(v, 25, 7)
    assert(fit.iters === 1 && fit.drifts === Seq(0.0) && fit.converged)
    pin("kmeansFit.centroids", fit.centroids, "struct<cid:bigint,cembedding:array<double>>")
  }

  test("PQ entry points on an empty codebook or an empty coarse seed class") {
    pin("pqCodes", Quantize.pqCodes(noSeed, 8, 125, 7),
      "struct<vec_id:bigint,codes:string,err_sq:double>")
    pin("adcTopK", Quantize.adcTopK(noSeed, 8, 125, 7, 40, 5), Adc)
    pin("adcTopKIvf", Quantize.adcTopKIvf(noSeed, 8, 125, 7, 25, 7, 40, 3, 5), Adc)
    // only the codebook class is empty; the coarse lists are seeded
    pin("adcTopKIvf(no codebook)", Quantize.adcTopKIvf(
      emb.filter(col("vec_id") % 125 =!= 7), 8, 125, 7, 25, 7, 40, 3, 5), Adc)
    // only the coarse class (vec_id % 25 = 8) is empty; the codebook is seeded
    pin("adcTopKIvf(no lists)", Quantize.adcTopKIvf(
      emb.filter(col("vec_id") % 25 =!= 8), 8, 125, 7, 25, 8, 40, 3, 5), Adc)
  }

  test("a NULL vec_id row never reaches a k-means cluster") {
    val e = emb
    val withNull = e.unionByName(nullIdRow)
    assert(Ann.kmeansStep(withNull, 25, 7).collect().toSeq ===
      Ann.kmeansStep(e, 25, 7).collect().toSeq)
    assert(Ann.kmeans2Iter(withNull, 25, 7).collect().toSeq ===
      Ann.kmeans2Iter(e, 25, 7).collect().toSeq)
    val a = Ann.kmeansFit(withNull, 25, 7, maxIter = 3)
    val b = Ann.kmeansFit(e, 25, 7, maxIter = 3)
    assert(a.iters === b.iters && a.drifts === b.drifts)
    assert(a.centroids.orderBy("cid").collect().toSeq ===
      b.centroids.orderBy("cid").collect().toSeq)
  }

  test("kmeansIter fails loudly on a centroid table over MaxSeeds rows or with a NULL cid") {
    val e = emb
    val big = spark.range(Ann.MaxSeeds + 1L).select(col("id").as("cid"),
      array((0 until 64).map(i => lit(0.01 * ((i + 1) % 7))): _*).as("cembedding"))
    val tooMany = intercept[IllegalArgumentException](Ann.kmeansIter(e, big).collect())
    assert(tooMany.getMessage.contains(s"more than ${Ann.MaxSeeds} rows"))
    val nullCid = Ann.seedCents(e, 25, 7).withColumn("cid",
      when(col("cid") === 7, lit(null).cast("bigint")).otherwise(col("cid")))
    val noCid = intercept[IllegalArgumentException](Ann.kmeansIter(e, nullCid).collect())
    assert(noCid.getMessage.contains("NULL cid"))
  }
}
