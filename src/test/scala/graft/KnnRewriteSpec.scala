package graft

import org.apache.spark.sql.functions.col

import graft.api.{IndexOps, NnQuery, QueryOps}
import graft.core.{Entity, Tables}
import graft.functions.Distances
import graft.operators.Knn

/** Transparent kNN acceleration: a brute-force top-k over an entity with
  * a stored exact index is rewritten by `QueryOps.route` into a lossless
  * candidates semi-join plus an exact re-rank, result-identical. */
class KnnRewriteSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("registered exact index rewrites brute-force kNN, same results") {
    val emb = Tables.embeddings(spark, sfDir)
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val expected = Knn.knn(emb, Distances.euclidean(col("embedding"), Distances.vecLit(q)),
      100, col("vec_id")).select("vec_id").collect().map(_.getLong(0)).toSeq

    val e = Entity.create(spark, SharedSpark.tempDir("graft-rw").toString, "emb")
    e.insert(emb)
    IndexOps.createAll(e, "embedding", Seq("vaf"))
    val s = e.snapshot
    val routed = QueryOps.route(s, s.frame, Entity.ApId,
      Some(NnQuery("embedding", q, "euclidean", 100)), Nil, Seq("exact"), index = None)
    routed.source shouldBe "index:vaf"
    val optimized = routed.frame.queryExecution.optimizedPlan.toString
    withClue(optimized) { optimized should include("LeftSemi") }
    routed.frame.select("vec_id").collect().map(_.getLong(0)).toSeq shouldBe expected
  }
}
