package graft

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.Distances
import graft.index._
import graft.operators.Knn

/** Recall diagnostic: builds every index over the embeddings table and
  * reports recall@k of the reranked result vs brute force for a panel
  * of query vectors. Run: `sbt "runMain graft.Recall <sfDir> [k]"`. */
object Recall {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val k = args.lift(1).map(_.toInt).getOrElse(100)
    val spark = graft.core.GraftSession.builder("local[8]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val emb = Tables.embeddings(spark, sfDir).cache()
    emb.count()

    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toSeq

    def dist(q: Seq[Double]) = Distances.euclidean(col("embedding"), Distances.vecLit(q))
    val truth: Map[Long, Set[Long]] = queries.map { case (qid, q) =>
      qid -> Knn.knn(emb, dist(q), k, col("vec_id"))
        .select("vec_id").collect().map(_.getLong(0)).toSet
    }.toMap

    // the first block mirrors KnnQueries.indexBuilders EXACTLY (the
    // battery's served configurations); the lsh-* variants below it are
    // tuning comparisons
    val indexes: Seq[(String, VectorIndex)] = Seq(
      "vaf" -> VAIndex.buildFixed(emb, "vec_id", "embedding", p = 2.0),
      "vav" -> VAIndex.buildVariable(emb, "vec_id", "embedding", p = 2.0),
      "vap" -> VAIndex.buildPlus(emb, "vec_id", "embedding"),
      "ecp" -> ECPIndex.build(emb, "vec_id", "embedding"),
      "pq" -> PQIndex.build(emb, "vec_id", "embedding", nsq = 8, nCentroids = 16),
      "sh" -> SHIndex.build(emb, "vec_id", "embedding", nBits = 32),
      "lsh" -> LSHIndex.build(emb, "vec_id", "embedding", nTables = 8, nHashes = 1, probes = 2),
      "mi" -> MIIndex.build(emb, "vec_id", "embedding", ki = 15, ks = 15),
      "ivfpq" -> IVFPQIndex.build(emb, "vec_id", "embedding", nsq = 8, nCentroids = 16),
      "sq" -> SQIndex.build(emb, "vec_id", "embedding"),
      "opq" -> OPQIndex.build(emb, "vec_id", "embedding", nsq = 8, nCentroids = 16),
      "nsw" -> NSWIndex.build(emb, "vec_id", "embedding",
        nShards = 4, m = 8, efC = 64, ef = 128),
      "ecp-a2" -> ECPIndex.build(emb, "vec_id", "embedding", assign = 2),
      "ecp-a3" -> ECPIndex.build(emb, "vec_id", "embedding", assign = 3),
      "ivfpq-a2" -> IVFPQIndex.build(emb, "vec_id", "embedding", nsq = 8, nCentroids = 16, assign = 2),
      "lsh-12x3" -> LSHIndex.build(emb, "vec_id", "embedding", nTables = 12, nHashes = 3),
      "lsh-32x1" -> LSHIndex.build(emb, "vec_id", "embedding", nTables = 32, nHashes = 1),
      "lsh-8x1p3" -> LSHIndex.build(emb, "vec_id", "embedding", nTables = 8, nHashes = 1, probes = 3),
      // beam-bounded walk (ef < shard size) — the regime that runs at
      // corpus scale, vs the exhaustive degenerate the battery config
      // hits on the small fixture
      "nsw-ef32" -> NSWIndex.build(emb, "vec_id", "embedding",
        nShards = 4, m = 8, efC = 64, ef = 32))

    println(f"[recall] sf=$sfDir k=$k queries=${queries.size}")
    indexes.foreach { case (name, idx) =>
      val (rec, candAvg) = queries.map { case (qid, q) =>
        val cands = idx.candidates(q, k).collect().map(_.getLong(0)).toSet
        val hit = truth(qid).count(cands.contains).toDouble / k
        (hit, cands.size.toDouble)
      }.reduce((a, b) => (a._1 + b._1, a._2 + b._2)) match {
        case (r, c) => (r / queries.size, c / queries.size)
      }
      println(f"[recall] $name%-4s recall@$k = $rec%.3f  avg_candidates = $candAvg%.0f")
    }

    // bsq is ANGULAR (sign bits order by angle): its recall is measured
    // against COSINE ground truth — euclidean truth would misreport a
    // correctly-working index on non-normalized vectors
    val bsq = graft.index.BSQIndex.build(emb, "vec_id", "embedding")
    val (bRec, bCand) = queries.map { case (_, q) =>
      val cosTruth = Knn.knn(emb,
          Distances.cosine(col("embedding"), Distances.vecLit(q)), k, col("vec_id"))
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val cands = bsq.candidates(q, k).collect().map(_.getLong(0)).toSet
      (cosTruth.count(cands.contains).toDouble / k, cands.size.toDouble)
    }.reduce((a, b) => (a._1 + b._1, a._2 + b._2)) match {
      case (r, c) => (r / queries.size, c / queries.size)
    }
    println(f"[recall] bsq  recall@$k(cosine) = $bRec%.3f  avg_candidates = $bCand%.0f")
    spark.stop()
  }
}
