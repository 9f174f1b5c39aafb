package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.Distances
import graft.index.{IndexStore, VAIndex}
import graft.operators.Knn
import graft.plans.KnnIndexRewrite

/** Transparent kNN acceleration: a plain brute-force top-k over a
  * registered table is rewritten by the injected optimizer rule into a
  * lossless candidates semi-join + exact re-rank, result-identical. */
class KnnRewriteSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private val embPath = s"$sfDir/embeddings.parquet"

  private def knnQuery(dist: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column) = {
    val emb = Tables.embeddings(spark, sfDir)
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    Knn.knn(emb, dist(col("embedding"), Distances.vecLit(q)), 100, col("vec_id"))
      .select("vec_id")
  }

  test("registered exact index rewrites brute-force kNN, same results") {
    KnnIndexRewrite.clear()
    val expected = knnQuery(Distances.euclidean).collect().map(_.getLong(0)).toSeq

    // persist + reload: the stored index's narrow table is parquet-backed,
    // so the grafted candidate sub-plan shares no relation with the query
    val store = SharedSpark.tempDir("graft-rw").toString
    IndexStore.save(store, "vaf",
      VAIndex.buildFixed(Tables.embeddings(spark, sfDir), "vec_id", "embedding", p = 2.0))
    val idx = IndexStore.load(spark, store, "vaf").index
    KnnIndexRewrite.register(spark, embPath, "vec_id", "embedding", idx)
    try {
      val accelerated = knnQuery(Distances.euclidean)
      val optimized = accelerated.queryExecution.optimizedPlan.toString
      withClue(optimized) { optimized should include("LeftSemi") }
      accelerated.collect().map(_.getLong(0)).toSeq shouldBe expected
    } finally KnnIndexRewrite.clear()
  }

  test("non-conforming distance is left untouched") {
    KnnIndexRewrite.clear()
    val store = SharedSpark.tempDir("graft-rw2").toString
    IndexStore.save(store, "vaf",
      VAIndex.buildFixed(Tables.embeddings(spark, sfDir), "vec_id", "embedding", p = 2.0))
    KnnIndexRewrite.register(spark, embPath, "vec_id", "embedding",
      IndexStore.load(spark, store, "vaf").index)
    try {
      // l2-built VA bounds do not conform to cosine: no rewrite
      val plan = knnQuery(Distances.cosine).queryExecution.optimizedPlan.toString
      withClue(plan) { plan should not include "LeftSemi" }
    } finally KnnIndexRewrite.clear()
  }

  test("repeated identical queries reuse the cached bounding threshold (fewer jobs)") {
    val idx = VAIndex.buildFixed(Tables.embeddings(spark, sfDir), "vec_id", "embedding", p = 2.0)
    val q = Seq.tabulate(64)(i => i * 0.01)
    def countJobs(f: => Unit): Int = {
      val counter = new java.util.concurrent.atomic.AtomicInteger()
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          counter.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(l)
      try {
        f
        // listener events are async: give the bus a moment to drain
        Thread.sleep(500)
        counter.get()
      } finally spark.sparkContext.removeSparkListener(l)
    }
    val first = countJobs(idx.candidates(q, 100).collect())
    val second = countJobs(idx.candidates(q, 100).collect())
    withClue(s"first=$first second=$second: ") {
      second should be < first // the k-th-ub bounding job was skipped
    }
    // a different (q, k) probes again and stays lossless
    idx.candidates(q, 50).count() should be > 0L
  }

  test("approximate indexes are rejected at registration") {
    val emb = Tables.embeddings(spark, sfDir)
    val ecp = graft.index.ECPIndex.build(emb, "vec_id", "embedding")
    an[IllegalArgumentException] should be thrownBy
      KnnIndexRewrite.register(spark, embPath, "vec_id", "embedding", ecp)
  }
}
