package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.Distances
import graft.index._
import graft.operators.Knn

/** Index-family correctness on the groundtruth corpus, mirroring the
  * reference's `QueryTestSuite.scala:77-228`: exact indexes (vaf/vav/vap)
  * must reproduce brute force exactly; approximate indexes (ecp/pq/sh/
  * lsh/mi) must at minimum contain the top-1 and report recall@k. */
class IndexSpec extends SparkSpec {

  private def res(name: String): String =
    getClass.getResource(s"/groundtruth/$name").getPath

  lazy val data: DataFrame = spark.read
    .option("sep", "\t").option("header", "true")
    .csv(res("data.tsv"))
    .select(col("id").cast("long").as("tid"),
      split(col("feature"), ",").cast("array<float>").as("vectorfield"))
    .cache()

  lazy val queryVec: Seq[Double] = {
    val src = scala.io.Source.fromFile(res("nnquery.txt"))
    try src.mkString.trim.split(",").toSeq.map(_.toDouble) finally src.close()
  }

  private val K = 100

  private def dist = Distances.euclidean(col("vectorfield"), Distances.vecLit(queryVec))

  lazy val bruteIds: Seq[Long] =
    Knn.knn(data, dist, K, col("tid")).select("tid").collect().map(_.getLong(0)).toSeq

  private def knnIds(idx: VectorIndex, timesK: Int = 5): Seq[Long] =
    idx.knn(data, "tid", dist, queryVec, K, timesK)
      .select("tid").collect().map(_.getLong(0)).toSeq

  private def recall(ids: Seq[Long]): Double =
    ids.count(bruteIds.toSet.contains).toDouble / K

  test("vaf: exact — candidates are lossless, result equals brute force") {
    val idx = VAIndex.buildFixed(data, "tid", "vectorfield", p = 2.0)
    idx.isExact shouldBe true
    val n = data.count()
    val candN = idx.candidates(queryVec, K).count()
    info(f"vaf pruning: $candN of $n rows survive the bound filter")
    knnIds(idx) shouldBe bruteIds
  }

  test("vaf range candidates are lossless for radius queries") {
    val idx = VAIndex.buildFixed(data, "tid", "vectorfield", p = 2.0)
    // radius enclosing ~50 rows so the prune has something to prune
    val r = data.select(dist.as("d")).orderBy("d").limit(50)
      .agg(max("d")).head().getDouble(0)
    val truth = data.select(col("tid"), dist.as("d")).filter(col("d") <= r)
      .collect().map(_.getLong(0)).toSet
    truth should not be empty
    val cand = idx.rangeCandidates(queryVec, r).collect().map(_.getLong(0)).toSet
    truth.subsetOf(cand) shouldBe true
    cand.size should be < data.count().toInt
    info(f"range prune: ${cand.size} candidates for ${truth.size} true matches")
  }

  test("vaf prunes a meaningful fraction of the table") {
    val idx = VAIndex.buildFixed(data, "tid", "vectorfield", p = 2.0)
    val candN = idx.candidates(queryVec, K).count()
    candN.toDouble / data.count() should be < 0.7
  }

  test("vav: exact with variance-allocated bits") {
    val idx = VAIndex.buildVariable(data, "tid", "vectorfield", p = 2.0)
    knnIds(idx) shouldBe bruteIds
  }

  test("vap: exact after PCA rotation (L2-preserving)") {
    val idx = VAIndex.buildPlus(data, "tid", "vectorfield")
    knnIds(idx) shouldBe bruteIds
  }

  test("vaf conforms only to the Minkowski distance it was built with") {
    val l2 = VAIndex.buildFixed(data, "tid", "vectorfield", p = 2.0)
    l2.conformsTo("euclidean") shouldBe true
    l2.conformsTo("sqeuclidean") shouldBe true
    l2.conformsTo("manhattan") shouldBe false // wrong p: bounds would over-prune
    l2.conformsTo("cosine") shouldBe false
    val l1 = VAIndex.buildFixed(data, "tid", "vectorfield", p = 1.0)
    l1.conformsTo("manhattan") shouldBe true
    l1.conformsTo("euclidean") shouldBe false
  }

  test("cosine top-k through the normalized-SQ8 index equals brute force") {
    import graft.operators.Ann
    val idx = Ann.buildCosineSQIndex(data, "tid", "vectorfield")
    val cosDist = Distances.cosine(col("vectorfield"), Distances.vecLit(queryVec))
    val brute = Knn.knn(data, cosDist, 50, col("tid"))
      .select("tid").collect().map(_.getLong(0)).toSeq
    val indexed = Ann.cosineTopKIndexed(data, "tid", "vectorfield", idx, queryVec, 50)
      .select("tid").collect().map(_.getLong(0)).toSeq
    // id-for-id: unit-vector L2 ranks exactly as cosine, and the SQ8
    // candidate set covers the true top-50 on this corpus — so the
    // hybrid-retrieval vector leg can ride the codes scan losslessly
    indexed shouldBe brute
  }

  test("SQ batched candidates (one scan) equal Q sequential candidate scans") {
    val idx = SQIndex.build(data, "tid", "vectorfield")
    val qs = (0 until 3).map(i => queryVec.map(_ + i * 0.05))
    val batched = idx.candidatesBatch(qs, k = 10, timesK = 4).collect()
      .map(r => (r.getInt(0), r.getLong(1))).groupBy(_._1)
      .map { case (q, rs) => q -> rs.map(_._2).toSet }
    val sequential = qs.zipWithIndex.map { case (q, i) =>
      i -> idx.candidates(q, 10, 4).collect().map(_.getLong(0)).toSet }.toMap
    batched shouldBe sequential
    // the default (union-of-scans) trait implementation agrees too
    val viaDefault = new graft.index.VectorIndex {
      def indexType = "sq"; def idCol = idx.idCol; def isExact = false
      def candidates(q: Seq[Double], k: Int, timesK: Int) =
        idx.candidates(q, k, timesK)
    }.candidatesBatch(qs, 10, 4).collect()
      .map(r => (r.getInt(0), r.getLong(1))).groupBy(_._1)
      .map { case (q, rs) => q -> rs.map(_._2).toSet }
    viaDefault shouldBe sequential
  }

  test("conformsTo agrees across every alias spelling, family-wide") {
    val family: Seq[VectorIndex] = Seq(
      VAIndex.buildFixed(data, "tid", "vectorfield", p = 2.0),
      SHIndex.build(data, "tid", "vectorfield", nBits = 32),
      LSHIndex.build(data, "tid", "vectorfield"),
      IVFPQIndex.build(data, "tid", "vectorfield", nsq = 5, nCentroids = 16),
      SQIndex.build(data, "tid", "vectorfield"))
    val aliasGroups = Seq(
      Seq("euclidean", "minkowski-2", "sqeuclidean", "squaredeuclidean",
        "SquaredEuclidean"),
      Seq("manhattan", "minkowski-1"),
      Seq("chebyshev", "minkowski-inf"))
    family.foreach { idx =>
      aliasGroups.foreach(g => withClue(s"${idx.indexType} on $g") {
        g.map(idx.conformsTo).toSet should have size 1
      })
      // the r11 split: four indexes answered "sqeuclidean" only, SQ8
      // "squaredeuclidean" only — now every L2 index takes both
      idx.conformsTo("sqeuclidean") shouldBe true
      idx.conformsTo("squaredeuclidean") shouldBe true
    }
  }

  test("vaf with p=1 is exact for Manhattan queries") {
    val idx = VAIndex.buildFixed(data, "tid", "vectorfield", p = 1.0)
    val mdist = Distances.manhattan(col("vectorfield"), Distances.vecLit(queryVec))
    val brute = Knn.knn(data, mdist, K, col("tid"))
      .select("tid").collect().map(_.getLong(0)).toSeq
    idx.knn(data, "tid", mdist, queryVec, K)
      .select("tid").collect().map(_.getLong(0)).toSeq shouldBe brute
  }

  test("ecp: top-1 contained, recall reported") {
    val idx = ECPIndex.build(data, "tid", "vectorfield")
    val ids = knnIds(idx)
    ids should contain(bruteIds.head)
    info(f"ecp recall@$K = ${recall(ids)}%.3f")
    recall(ids) should be > 0.2
  }

  test("ecp multi-assignment: boundary spill lists, same exact-rerank contract") {
    val single = ECPIndex.build(data, "tid", "vectorfield")
    val multi = ECPIndex.build(data, "tid", "vectorfield", assign = 2)
    // every point lands in exactly `assign` lists
    multi.assignments.count() shouldBe single.assignments.count() * 2
    multi.assignments.groupBy("tid").count()
      .filter(col("count") =!= 2).count() shouldBe 0L
    // a point's single-assign leader is among its multi-assign leaders
    // (nearest-1 ⊆ nearest-2 per row)
    val s1 = single.assignments.withColumnRenamed("leader", "l1")
    multi.assignments.join(s1, "tid")
      .filter(col("leader") === col("l1")).select("tid").distinct()
      .count() shouldBe single.assignments.count()
    // duplicated candidate ids collapse in the semi-join rerank: the
    // full kNN still returns k distinct rows, top-1 contained
    val ids = knnIds(multi)
    ids should have size K
    ids.distinct should have size K
    ids should contain(bruteIds.head)
    info(f"ecp assign=2 recall@$K = ${recall(ids)}%.3f")
  }

  test("ivfpq multi-assignment: per-leader residual codes, k distinct results") {
    val multi = IVFPQIndex.build(data, "tid", "vectorfield",
      nsq = 5, nCentroids = 16, assign = 2)
    multi.assignments.groupBy("tid").count()
      .filter(col("count") =!= 2).count() shouldBe 0L
    val ids = knnIds(multi)
    ids should have size K
    ids.distinct should have size K
    ids should contain(bruteIds.head)
    info(f"ivfpq assign=2 recall@$K = ${recall(ids)}%.3f")
  }

  test("pq: top-1 contained, recall reported") {
    val idx = PQIndex.build(data, "tid", "vectorfield", nsq = 5, nCentroids = 16)
    val ids = knnIds(idx)
    ids should contain(bruteIds.head)
    info(f"pq recall@$K = ${recall(ids)}%.3f")
    recall(ids) should be > 0.5
  }

  test("opq: learned rotation is orthogonal; recall at least matches plain PQ") {
    val idx = OPQIndex.build(data, "tid", "vectorfield", nsq = 5, nCentroids = 16)
    // RᵀR = I — Procrustes must return a true rotation or ADC distances
    // no longer equal squared-L2 in the original space
    val r = idx.rotation
    val d = r.length
    var maxDev = 0.0
    for (i <- 0 until d; j <- 0 until d) {
      var s = 0.0
      for (t <- 0 until d) s += r(t)(i) * r(t)(j)
      maxDev = math.max(maxDev, math.abs(s - (if (i == j) 1.0 else 0.0)))
    }
    maxDev should be < 1e-9
    val ids = knnIds(idx)
    ids should contain(bruteIds.head)
    val pqIds = knnIds(PQIndex.build(data, "tid", "vectorfield", nsq = 5, nCentroids = 16))
    info(f"opq recall@$K = ${recall(ids)}%.3f vs pq ${recall(pqIds)}%.3f")
    // the rotation is fit to REDUCE quantization error — same code
    // budget must not land materially below plain PQ
    recall(ids) should be >= recall(pqIds) - 0.05
  }

  test("sh: top-1 contained, recall reported") {
    val idx = SHIndex.build(data, "tid", "vectorfield", nBits = 32)
    val ids = knnIds(idx, timesK = 10)
    info(f"sh recall@$K = ${recall(ids)}%.3f")
    ids should contain(bruteIds.head)
  }

  test("lsh: top-1 contained, recall reported") {
    val idx = LSHIndex.build(data, "tid", "vectorfield")
    val ids = knnIds(idx)
    info(f"lsh recall@$K = ${recall(ids)}%.3f")
    ids should contain(bruteIds.head)
  }

  test("multi-probe lsh matches many-table recall with 4x fewer table entries") {
    val manyTables = LSHIndex.build(data, "tid", "vectorfield", nTables = 32, nHashes = 1)
    val probed = LSHIndex.build(data, "tid", "vectorfield",
      nTables = 8, nHashes = 1, probes = 2)
    probed.tables.count() shouldBe manyTables.tables.count() / 4
    val rMany = recall(knnIds(manyTables))
    val rProbed = recall(knnIds(probed))
    info(f"lsh 32x1 recall@$K = $rMany%.3f vs 8x1+probe2 = $rProbed%.3f")
    rProbed should be >= rMany - 0.05 // query-side probing buys the recall back
  }

  test("mi: top-1 contained, recall reported") {
    val idx = MIIndex.build(data, "tid", "vectorfield", ki = 15, ks = 15)
    val ids = knnIds(idx, timesK = 10)
    info(f"mi recall@$K = ${recall(ids)}%.3f")
    ids should contain(bruteIds.head)
  }

  test("index persistence: every family round-trips through IndexStore") {
    val base = SharedSpark.tempDir("graft-idxstore").toString
    val family: Seq[(String, VectorIndex)] = Seq(
      "vaf" -> VAIndex.buildFixed(data, "tid", "vectorfield", p = 2.0),
      "vap" -> VAIndex.buildPlus(data, "tid", "vectorfield"),
      "ecp" -> ECPIndex.build(data, "tid", "vectorfield"),
      "pq" -> PQIndex.build(data, "tid", "vectorfield", nsq = 5, nCentroids = 16),
      "sh" -> SHIndex.build(data, "tid", "vectorfield", nBits = 32),
      "lsh" -> LSHIndex.build(data, "tid", "vectorfield"),
      "mi" -> MIIndex.build(data, "tid", "vectorfield", ki = 15, ks = 15),
      "ivfpq" -> IVFPQIndex.build(data, "tid", "vectorfield", nsq = 5, nCentroids = 16),
      "sq" -> SQIndex.build(data, "tid", "vectorfield"),
      "bsq" -> BSQIndex.build(data, "tid", "vectorfield"),
      "opq" -> OPQIndex.build(data, "tid", "vectorfield", nsq = 5, nCentroids = 16),
      "nsw" -> NSWIndex.build(data, "tid", "vectorfield",
        nShards = 3, m = 6, efC = 32, ef = 64))
    family.foreach { case (name, built) =>
      IndexStore.save(base, name, built)
      val reopened = IndexStore.load(spark, base, name).index
      reopened.indexType shouldBe built.indexType
      reopened.idCol shouldBe "tid"
      withClue(s"$name reopened scan differs: ") {
        reopened.candidates(queryVec, K).collect().map(_.getLong(0)).sorted shouldBe
          built.candidates(queryVec, K).collect().map(_.getLong(0)).sorted
      }
    }
    IndexStore.list(base).toSet shouldBe family.map(_._1).toSet
    IndexStore.drop(base, "pq")
    IndexStore.exists(base, "pq") shouldBe false
    IndexStore.exists(base, "vaf") shouldBe true

    // crash recovery: a hard kill between repartitionData's two renames
    // leaves data_old but no data — the next open must heal the swap
    val vafDir = java.nio.file.Paths.get(base, "index_vaf")
    java.nio.file.Files.move(vafDir.resolve("data"), vafDir.resolve("data_old"))
    val healed = IndexStore.load(spark, base, "vaf").index
    healed.candidates(queryVec, K).count() should be > 0L
    java.nio.file.Files.exists(vafDir.resolve("data")) shouldBe true
    java.nio.file.Files.exists(vafDir.resolve("data_old")) shouldBe false
    // and a repartition over the healed index still round-trips
    IndexStore.repartitionData(spark, base, "vaf",
      graft.core.Partitioning.Random(3))
    IndexStore.dataFrame(spark, base, "vaf").rdd.getNumPartitions shouldBe 3
    IndexStore.load(spark, base, "vaf").index
      .candidates(queryVec, K).collect().map(_.getLong(0)).sorted shouldBe
      family.toMap.apply("vaf").candidates(queryVec, K)
        .collect().map(_.getLong(0)).sorted
  }

  test("verify-gate configs: candidates cover the exact top-100 on the sf0.01 corpus") {
    // Backs the oracle attachment in SparkEntry: the approx-index driver
    // queries carry an exact-kNN oracle, which is only sound while the
    // candidate sets cover the true top-k on the fixed verify corpus.
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.01").cache()
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val edist = Distances.euclidean(col("embedding"), Distances.vecLit(q))
    val truth = Knn.knn(emb, edist, K, col("vec_id"))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val configs: Seq[(String, VectorIndex, Int)] = Seq(
      ("ecp", ECPIndex.build(emb, "vec_id", "embedding"), 5),
      ("pq", PQIndex.build(emb, "vec_id", "embedding", nsq = 8, nCentroids = 16), 5),
      ("sh", SHIndex.build(emb, "vec_id", "embedding", nBits = 32), 10),
      ("lsh", LSHIndex.build(emb, "vec_id", "embedding",
        nTables = 8, nHashes = 1, probes = 2), 5),
      ("mi", MIIndex.build(emb, "vec_id", "embedding", ki = 15, ks = 15), 10),
      ("ivfpq", IVFPQIndex.build(emb, "vec_id", "embedding", nsq = 8, nCentroids = 16), 5),
      ("sq", SQIndex.build(emb, "vec_id", "embedding"), 5),
      ("opq", OPQIndex.build(emb, "vec_id", "embedding", nsq = 8, nCentroids = 16), 5),
      ("nsw", NSWIndex.build(emb, "vec_id", "embedding",
        nShards = 4, m = 8, efC = 64, ef = 128), 5))
    configs.foreach { case (name, idx, tk) =>
      val cand = idx.candidates(q, K, tk).collect().map(_.getLong(0)).toSet
      withClue(s"$name misses ${truth.count(!cand.contains(_))} of top-$K: ") {
        truth.subsetOf(cand) shouldBe true
      }
    }

    // ann_refine_topk's contract: the three-stage funnel (bsq coarse →
    // sq refine among survivors → exact cosine) must equal brute force
    // at the battery's k=50 configuration on this corpus
    val bsq = BSQIndex.build(emb, "vec_id", "embedding")
    val sq = graft.operators.Ann.buildCosineSQIndex(emb, "vec_id", "embedding")
    val cdist = Distances.cosine(col("embedding"), Distances.vecLit(q))
    val funnel = graft.operators.Ann
      .refineTopK(emb, "vec_id", "embedding", bsq, sq, q, 50)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val cosTruth = Knn.knn(emb, cdist, 50, col("vec_id"))
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    withClue("funnel diverges from exact cosine top-50: ") {
      funnel shouldBe cosTruth
    }
    emb.unpersist()
  }

  test("nsw: beam-bounded regime — top-1 contained, degree capped, recall reported") {
    // ef far below the shard size forces the actual graph walk (not the
    // exhaustive small-shard degenerate case the verify gate runs)
    val idx = NSWIndex.build(data, "tid", "vectorfield",
      nShards = 2, m = 6, efC = 24, ef = 24)
    // k=10 keeps the per-shard budget at the ef floor (24 < shard size),
    // so this exercises the bounded walk, not the exhaustive degenerate
    val cand = idx.candidates(queryVec, 10, 2).collect().map(_.getLong(0))
    cand.length should be <= 2 * 24
    cand should contain(bruteIds.head)
    val r10 = bruteIds.take(10).count(cand.toSet.contains) / 10.0
    info(f"nsw(ef=24) candidate recall@10 = $r10%.3f over ${cand.length} candidates")
    r10 should be > 0.5
    // adjacency respects the 2m cap and never dangles outside the shard
    val deg = idx.graph
      .select(org.apache.spark.sql.functions.size(col("neighbors")).as("d"))
      .agg(max("d")).head().getInt(0)
    deg should be <= 12
    idx.graph.selectExpr("shard", "explode(neighbors) AS nb")
      .join(idx.graph.select(col("id").as("nb"),
        col("shard").as("nb_shard")), "nb")
      .filter(col("shard") =!= col("nb_shard")).count() shouldBe 0L
  }

  test("nsw: build is deterministic under any partitioning of the input") {
    // heuristic = false keeps this the PLAIN closest-prune path's only
    // coverage (still a supported opt-out via {"heuristic":"0"}) now
    // that the build default is the heuristic; its heuristic twin
    // lives in the keep-pruned test below
    val a = NSWIndex.build(data.repartition(1), "tid", "vectorfield",
      nShards = 3, m = 6, efC = 32, ef = 48, heuristic = false)
    val b = NSWIndex.build(data.repartition(13).sortWithinPartitions(col("tid").desc),
      "tid", "vectorfield", nShards = 3, m = 6, efC = 32, ef = 48,
      heuristic = false)
    val ga = a.graph.orderBy("id").collect().map(r =>
      (r.getLong(1), r.getSeq[Long](3).sorted))
    val gb = b.graph.orderBy("id").collect().map(r =>
      (r.getLong(1), r.getSeq[Long](3).sorted))
    ga shouldBe gb
    a.candidates(queryVec, K).collect().map(_.getLong(0)).sorted shouldBe
      b.candidates(queryVec, K).collect().map(_.getLong(0)).sorted
  }

  test("nsw: incremental extend appends into shard graphs; search covers old and new") {
    val half = data.filter(col("tid") < 250)
    val rest = data.filter(col("tid") >= 250)
    val idx = NSWIndex.build(half, "tid", "vectorfield",
      nShards = 3, m = 6, efC = 32, ef = 512) // ef ≥ shard → exhaustive walk
    val ext = idx.extend(rest, "tid", "vectorfield")
    // every id present exactly once; exhaustive-beam search ≡ brute force
    ext.graph.count() shouldBe data.count()
    ext.graph.select("id").distinct().count() shouldBe data.count()
    knnIds(ext) shouldBe bruteIds
    // degree caps survive insertion; edges never dangle across shards
    ext.graph.select(org.apache.spark.sql.functions.size(col("neighbors")).as("d"))
      .agg(max("d")).head().getInt(0) should be <= 12
    // idempotent: re-appending the same rows changes nothing
    val again = ext.extend(rest, "tid", "vectorfield")
    again.graph.count() shouldBe data.count()
    again.graph.orderBy("id").collect().map(r => (r.getLong(1), r.getSeq[Long](3).sorted)) shouldBe
      ext.graph.orderBy("id").collect().map(r => (r.getLong(1), r.getSeq[Long](3).sorted))
  }

  test("nsw: streaming maintenance — extend absorbs micro-batches via foreachBatch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Seq[Double])]
    // the mutable "serving" reference a maintenance job would swap
    @volatile var serving = NSWIndex.build(data.filter(col("tid") < 300),
      "tid", "vectorfield", nShards = 3, m = 6, efC = 32, ef = 512)
    val q = mem.toDF().toDF("tid", "vectorfield").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        serving = serving.extend(batch, "tid", "vectorfield")
      }.start()
    try {
      val rest = data.filter(col("tid") >= 300)
        .select(col("tid").cast("long"), col("vectorfield").cast("array<double>"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
      val (h1, h2) = rest.splitAt(rest.length / 2)
      mem.addData(h1.toIndexedSeq)
      q.processAllAvailable()
      mem.addData(h2.toIndexedSeq)
      q.processAllAvailable()
      serving.graph.count() shouldBe data.count()
      // exhaustive-beam search over the streamed-in index ≡ brute force
      knnIds(serving) shouldBe bruteIds
    } finally q.stop()
  }

  test("nsw: resident serving cache — token isolation, release, re-query") {
    val a = NSWIndex.build(data.filter(col("tid") < 250), "tid", "vectorfield",
      nShards = 2, m = 6, efC = 24, ef = 512)
    val b = NSWIndex.build(data.filter(col("tid") >= 250), "tid", "vectorfield",
      nShards = 2, m = 6, efC = 24, ef = 512)
    // warm both, then interleave — per-index tokens must never serve
    // the other index's partitions even though partition ids collide
    val ca1 = a.candidates(queryVec, K).collect().map(_.getLong(0)).sorted
    val cb1 = b.candidates(queryVec, K).collect().map(_.getLong(0)).sorted
    val ca2 = a.candidates(queryVec, K).collect().map(_.getLong(0)).sorted
    val cb2 = b.candidates(queryVec, K).collect().map(_.getLong(0)).sorted
    ca2 shouldBe ca1
    cb2 shouldBe cb1
    ca1.toSet.intersect(cb1.toSet) shouldBe Set.empty // disjoint corpora
    // release drops the resident arrays; the next query re-parses and
    // must return the identical answer
    a.release()
    a.candidates(queryVec, K).collect().map(_.getLong(0)).sorted shouldBe ca1
    b.release()
  }

  test("nsw: batched candidates (one graph pass) equal Q sequential beam scans") {
    val idx = NSWIndex.build(data, "tid", "vectorfield",
      nShards = 3, m = 6, efC = 32, ef = 24)
    val q2 = queryVec.map(_ * 0.5)
    val batched = idx.candidatesBatch(Seq(queryVec, q2), 10, 2)
      .collect().map(r => (r.getInt(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    batched(0) shouldBe idx.candidates(queryVec, 10, 2)
      .collect().map(_.getLong(0)).sorted.toSeq
    batched(1) shouldBe idx.candidates(q2, 10, 2)
      .collect().map(_.getLong(0)).sorted.toSeq
  }

  test("nsw: connectivity repair — pruned-unreachable nodes get a repair in-edge") {
    import scala.collection.mutable.ArrayBuffer
    // hand-built broken graph: node 3 has an out-edge but no in-edge
    // (what 2m-closest pruning can produce), so it is invisible to any
    // walk from entry 0 no matter how large ef is
    val vecs = ArrayBuffer(
      Array(0.0, 0.0), Array(1.0, 0.0), Array(2.0, 0.0), Array(10.0, 0.0))
    val adj = ArrayBuffer(
      ArrayBuffer(1), ArrayBuffer(0, 2), ArrayBuffer(1), ArrayBuffer(2))
    NSWIndex.beam(vecs(_), adj(_), Array(9.0, 0.0), 16, 4).sorted shouldBe
      Array(0, 1, 2) // broken: 3 unreachable
    val repaired = NSWIndex.ensureReachable(vecs, adj)
    repaired shouldBe 1
    adj(2) should contain(3) // repair edge FROM the nearest reachable node
    NSWIndex.beam(vecs(_), adj(_), Array(9.0, 0.0), 16, 4).sorted shouldBe
      Array(0, 1, 2, 3)
    // idempotent: a connected graph needs no repairs
    NSWIndex.ensureReachable(vecs, adj) shouldBe 0
  }

  test("nsw: entry-reachability invariant — exhaustive walk covers every shard fully") {
    // tiny degree + tiny construction beam = the pruning-hostile regime;
    // the ef ≥ shard-size guarantee must hold as a PROPERTY (repair),
    // not as fixture luck
    val n = data.count()
    // plain prune (explicit opt-out): the repair invariant must hold
    // for BOTH selection strategies — the heuristic twin is asserted
    // in the keep-pruned test below
    val idx = NSWIndex.build(data, "tid", "vectorfield",
      nShards = 3, m = 2, efC = 4, ef = 100000, heuristic = false)
    idx.candidates(queryVec, n.toInt).count() shouldBe n
    // and after an adversarial incremental extension
    val half = data.filter(col("tid") < 250)
    val ext = NSWIndex.build(half, "tid", "vectorfield",
        nShards = 3, m = 2, efC = 4, ef = 100000, heuristic = false)
      .extend(data.filter(col("tid") >= 250), "tid", "vectorfield")
    ext.heuristic shouldBe false // extend carries the opt-out too
    ext.candidates(queryVec, n.toInt).count() shouldBe n
  }

  test("nsw: multi-entry probes — deterministic entries, exhaustive regime unchanged") {
    NSWIndex.entryPoints(10, 1) shouldBe Array(0)
    NSWIndex.entryPoints(10, 4) shouldBe Array(0, 2, 5, 7)
    NSWIndex.entryPoints(3, 8) shouldBe Array(0, 1, 2) // capped at n
    // ef ≥ shard size: every probe count visits the whole shard, so the
    // candidate set is identical — nProbes only matters beam-bounded
    val one = NSWIndex.build(data, "tid", "vectorfield",
      nShards = 2, m = 6, efC = 24, ef = 512)
    val four = NSWIndex.build(data, "tid", "vectorfield",
      nShards = 2, m = 6, efC = 24, ef = 512, nProbes = 4)
    four.candidates(queryVec, K).collect().map(_.getLong(0)).sorted shouldBe
      one.candidates(queryVec, K).collect().map(_.getLong(0)).sorted
    // beam-bounded: probes still produce a valid bounded candidate set
    // containing the true nearest neighbor
    val bounded = NSWIndex.build(data, "tid", "vectorfield",
      nShards = 2, m = 6, efC = 24, ef = 24, nProbes = 4)
    val cand = bounded.candidates(queryVec, 10, 2).collect().map(_.getLong(0))
    cand.length should be <= 2 * 24
    cand should contain(bruteIds.head)
  }

  test("nsw: heuristic (keep-pruned) build — caps hold, exhaustive regime exact, bounded walk sound") {
    // degree cap and shard-locality invariants survive Algorithm-4
    // diverse selection
    val idx = NSWIndex.build(data, "tid", "vectorfield",
      nShards = 2, m = 6, efC = 24, ef = 24, heuristic = true)
    val deg = idx.graph
      .select(org.apache.spark.sql.functions.size(col("neighbors")).as("d"))
      .agg(max("d")).head().getInt(0)
    deg should be <= 12
    val cand = idx.candidates(queryVec, 10, 2).collect().map(_.getLong(0))
    cand.length should be <= 2 * 24
    cand should contain(bruteIds.head)
    // ef ≥ shard size: reachability repair + exhaustive walk still
    // covers every node — the provable-degenerate guarantee is
    // selection-strategy-independent
    val n = data.count()
    NSWIndex.build(data, "tid", "vectorfield",
        nShards = 3, m = 2, efC = 4, ef = 100000, heuristic = true)
      .candidates(queryVec, n.toInt).count() shouldBe n
    // deterministic under partitioning, like the plain build
    val a = NSWIndex.build(data.repartition(1), "tid", "vectorfield",
      nShards = 3, m = 6, efC = 32, ef = 48, heuristic = true)
    val b = NSWIndex.build(data.repartition(13), "tid", "vectorfield",
      nShards = 3, m = 6, efC = 32, ef = 48, heuristic = true)
    a.graph.orderBy("id").collect().map(r => (r.getLong(1), r.getSeq[Long](3).sorted))
      .toSeq shouldBe
      b.graph.orderBy("id").collect().map(r => (r.getLong(1), r.getSeq[Long](3).sorted)).toSeq
    // extend carries the flag and still covers old + new
    val ext = NSWIndex.build(data.filter(col("tid") < 250), "tid", "vectorfield",
        nShards = 3, m = 2, efC = 4, ef = 100000, heuristic = true)
      .extend(data.filter(col("tid") >= 250), "tid", "vectorfield")
    ext.heuristic shouldBe true
    ext.candidates(queryVec, n.toInt).count() shouldBe n
  }

  test("bsq: sign codes rank by angle; packed query matches signPack; cosine-only") {
    val idx = BSQIndex.build(data, "tid", "vectorfield")
    // candidate phase = exact sign-mismatch ranking: verify against a
    // naive per-row count over the same corpus
    val q = queryVec
    val naive = data.select(col("tid"), col("vectorfield").cast("array<double>").as("v"))
      .collect().map { r =>
        val v = r.getSeq[Double](1)
        val hd = v.indices.count(i => (v(i) > 0) != (q(i) > 0))
        (hd, r.getLong(0))
      }.sorted.take(50).map(_._2).toSet
    idx.candidates(q, 10, 5).collect().map(_.getLong(0)).toSet shouldBe naive
    // the driver-side query packer agrees with the distributed kernel
    val packed = data.limit(3)
      .select(col("vectorfield").cast("array<double>").as("v"),
        graft.operators.Ann.signPack(col("vectorfield"), q.length).as("code"))
      .collect()
    packed.foreach { r =>
      BSQIndex.packSigns(r.getSeq[Double](0).toArray) shouldBe
        r.getSeq[Long](1).toArray
    }
    idx.conformsTo("cosine") shouldBe true
    idx.conformsTo("euclidean") shouldBe false
    an[IllegalArgumentException] should be thrownBy
      BSQIndex.build(data.limit(0), "tid", "vectorfield")
  }

  test("sq: 8-bit scalar quantization candidates contain the exact top-k") {
    val idx = SQIndex.build(data, "tid", "vectorfield")
    // per-dimension 8-bit resolution: approximate ranking is near-exact
    // at this dimensionality, so the default multiplier recalls fully
    val ids = knnIds(idx)
    info(f"sq recall@$K = ${recall(ids)}%.3f")
    recall(ids) should be > 0.95
    // L2-family conformance only: quantized cells carry no guarantee
    // for other metrics
    idx.conformsTo("euclidean") shouldBe true
    idx.conformsTo("manhattan") shouldBe false
  }

  test("ivfpq: residual codes beat same-budget plain PQ on candidate rank") {
    val idx = IVFPQIndex.build(data, "tid", "vectorfield", nsq = 5, nCentroids = 16)
    val ids = knnIds(idx)
    ids should contain(bruteIds.head)
    info(f"ivfpq recall@$K = ${recall(ids)}%.3f")
    recall(ids) should be > 0.5
  }

  test("stochastic vote over two index scans (reference StochasticIndexQueryExpression)") {
    val ecp = ECPIndex.build(data, "tid", "vectorfield")
    val lsh = LSHIndex.build(data, "tid", "vectorfield")
    val voted = graft.operators.SetAlgebra.vote(
      Seq(ecp.candidates(queryVec, K), lsh.candidates(queryVec, K)), "tid", 500)
    val reranked = Knn.rerank(data, voted, "tid", dist, K)
      .select("tid").collect().map(_.getLong(0)).toSeq
    reranked should contain(bruteIds.head)
    info(f"vote recall@$K = ${recall(reranked)}%.3f")
  }

  private val sfDir = "/root/testdata/sf0.001"

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
}
