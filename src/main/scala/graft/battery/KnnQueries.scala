package graft
package battery

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.Distances
import graft.index._
import graft.operators._
import Helpers._

/** kNN and vector-index battery: the distance family, Boolean-
  * filtered and reranked kNN, ANN batch search and every stored index
  * type. */
object KnnQueries {

  /** The canonical query vector: embedding of vec_id 0 from the same sf
    * directory, broadcast as a 1-row frame so the whole query stays one
    * distributed plan (no driver collect). */
  private def withQueryVec(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    emb.crossJoin(broadcast(
      emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))))
  }

  private[graft] def knnQuery(dist: (Column, Column) => Column, k: Int,
                              roundTo: Int = 4)(spark: SparkSession, dir: String): DataFrame =
    Knn.knn(withQueryVec(spark, dir), dist(col("embedding"), col("qv")), k, col("vec_id"))
      .select(col("vec_id"), round(col(Knn.DistanceCol), roundTo).as("distance"))

  private def posify(v: Column): Column = transform(v, x => abs(x.cast("double")) + 1.0)

  /** Derive an in-range (lat, lng) pair from the first two embedding
    * dims so the haversine kernel gets geo-plausible input. */
  private def geoify(v: Column): Column = array(
    element_at(v, 1).cast("double") * 20.0,
    element_at(v, 2).cast("double") * 40.0)

  /** The index configurations the driver battery scans — built ONCE per
    * (JVM, data dir) and served from the persisted store thereafter
    * ([[graft.index.IndexCache]]), the way a real deployment treats
    * indexes: artifacts created ahead of query time, not per query. */
  val indexBuilders: Map[String, DataFrame => VectorIndex] = Map(
    "vaf" -> (df => VAIndex.buildFixed(df, "vec_id", "embedding", p = 2.0)),
    "vav" -> (df => VAIndex.buildVariable(df, "vec_id", "embedding", p = 2.0)),
    "vap" -> (df => VAIndex.buildPlus(df, "vec_id", "embedding")),
    "ecp" -> (df => ECPIndex.build(df, "vec_id", "embedding")),
    "pq" -> (df => PQIndex.build(df, "vec_id", "embedding", nsq = 8, nCentroids = 16)),
    "sh" -> (df => SHIndex.build(df, "vec_id", "embedding", nBits = 32)),
    // 8 single-hash tables + multi-probe(2): recall=1.0 at the verify SF
    // for k=100 with a 4x smaller table relation than the 32-table
    // equivalent (tight AND-combos can't cover a fifth of the corpus).
    "lsh" -> (df => LSHIndex.build(df, "vec_id", "embedding",
      nTables = 8, nHashes = 1, probes = 2)),
    "mi" -> (df => MIIndex.build(df, "vec_id", "embedding", ki = 15, ks = 15)),
    "ivfpq" -> (df => IVFPQIndex.build(df, "vec_id", "embedding", nsq = 8, nCentroids = 16)),
    "sq" -> (df => SQIndex.build(df, "vec_id", "embedding")),
    "bsq" -> (df => BSQIndex.build(df, "vec_id", "embedding")),
    "opq" -> (df => OPQIndex.build(df, "vec_id", "embedding", nsq = 8, nCentroids = 16)),
    // 4 shards × ef 128: at the verify SF the beam covers each ≤500/4
    // shard exhaustively (provable candidate cover); at corpus scale
    // the same ef bounds the walk instead
    "nsw" -> (df => NSWIndex.build(df, "vec_id", "embedding",
      nShards = 4, m = 8, efC = 64, ef = 128)),
    // the SERVED default config (SCALING.md Run 29 budget ladder:
    // heuristic diverse selection, m=16, efC=128, ef=256 — recall 0.99
    // with the family's fastest walk at corpus scale) pinned under the
    // correctness gate as its own row
    "nsw_heur" -> (df => NSWIndex.build(df, "vec_id", "embedding",
      nShards = 4, m = 16, efC = 128, ef = 256)))

  private def cachedIndex(s: SparkSession, d: String, key: String): VectorIndex =
    IndexCache.of(s, d, key)(indexBuilders(key)(Tables.embeddings(s, d)))

  /** SQ8-over-normalized-embeddings index for the hybrid vector leg —
    * build-once per data dir (one min/max agg + one encode pass). */
  private val hybridSqIndexes =
    new graft.core.OnceMemo[String, graft.index.SQIndex]

  /** Pre-build + persist every index for `dir` (untimed bench warmup). */
  def warmIndexes(s: SparkSession, d: String): Unit = {
    indexBuilders.keys.toSeq.sorted.foreach(cachedIndex(s, d, _))
    // the hybrid leg's SQ8-over-normalized index is a build-once
    // artifact like the rest of the family — build AND materialize it
    // untimed (persist is lazy), so hybrid_search_rrf measures the
    // fused query, not a first-touch index build
    val emb = Tables.embeddings(s, d)
    val idx = hybridSqIndexes.getOrElseUpdate(d,
      Ann.buildCosineSQIndex(emb, "vec_id", "embedding"))
    idx.candidates(queryVecOf(emb), 1, 1).count()
  }

  /** Scan a stored index for the canonical query vector, exact-rerank
    * with Euclidean, k=100. */
  private def indexKnn(key: String, timesK: Int = 5)
  : (SparkSession, String) => DataFrame = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val q = queryVecOf(emb)
    val idx = cachedIndex(s, d, key)
    idx.knn(emb, "vec_id", Distances.euclidean(col("embedding"), Distances.vecLit(q)),
        q, 100, timesK)
      .select(col("vec_id"), round(col(Knn.DistanceCol), 4).as("distance"))
  }

  private val duckPos = "abs(CAST(e.embedding[i] AS DOUBLE)) + 1.0"
  private val duckPosQ = "abs(CAST(q.qv[i] AS DOUBLE)) + 1.0"

  /** Release this family's per-data-dir artifacts for `dir` (the
    * persisted vector indexes are [[graft.index.IndexCache]]'s). */
  private[graft] def release(dir: String): Int = drop(hybridSqIndexes, dir)(_ => ())

  // MaxSim replay: per-(chunk, query) cosine similarity with the same
  // zero-norm guard as the Spark kernel, max per (doc, query), sum of
  // maxes per doc, top-50 by the UNROUNDED score with doc tie-break
  private val maxsimSql =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 3),
       |sims AS (
       |  SELECT e.vec_id // 4 AS doc_id, q.qid,
       |    CASE WHEN $duckNormE < 1e-5 OR $duckNormQ < 1e-5 THEN 0.0
       |         ELSE ($duckDot) / ($duckNormE * $duckNormQ) END AS sim
       |  FROM embeddings e, q),
       |mx AS (SELECT doc_id, qid, max(sim) AS m FROM sims GROUP BY doc_id, qid)
       |SELECT doc_id, round(sum(m), 4) + 0.0 AS score
       |FROM mx GROUP BY doc_id
       |ORDER BY sum(m) DESC, doc_id LIMIT 50""".stripMargin

  val queries: Seq[Q] = Seq(
    Q("distance_dispatch", (s, d) => {
      // name-based dispatch through the canonical alias map (§2.7
      // dispatch glue): alias spellings and the generic minkowski-p
      // resolve to the same kernels the named queries use; unknown
      // names fall back to euclidean (reference MessageParser default)
      def by(n: String) = Distances.byName(n)(col("embedding"), col("qv"))
      withQueryVec(s, d).select(col("vec_id"),
          round(by("Minkowski-1"), 4).as("d_l1"),
          round(by("minkowski-2"), 4).as("d_l2"),
          round(by("SquaredEuclidean"), 4).as("d_l2sq"),
          round(by("minkowski-inf"), 4).as("d_linf"),
          round(by("no-such-distance"), 4).as("d_default"))
        .orderBy("vec_id")
    },
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id,
         | round(${duckSum(s"abs($dx - $dq)")}, 4) AS d_l1,
         | round(sqrt(${duckSum(s"($dx - $dq)*($dx - $dq)")}), 4) AS d_l2,
         | round(${duckSum(s"($dx - $dq)*($dx - $dq)")}, 4) AS d_l2sq,
         | round(list_max(list_transform(generate_series(1,64), i -> abs($dx - $dq))), 4) AS d_linf,
         | round(sqrt(${duckSum(s"($dx - $dq)*($dx - $dq)")}), 4) AS d_default
         |FROM embeddings e, q ORDER BY e.vec_id""".stripMargin,
      Gate.noShuffle("alias dispatch is a pure projection over the scan")),

    // --- sequential kNN, 12 distances (SURVEY §2.1, §2.7) ---
    Q("knn_manhattan", knnQuery(Distances.manhattan, 100),
      duckKnn(duckSum(s"abs($dx - $dq)"), 100),
      Gate.marker("TakeOrderedAndProject", "TakeOrderedAndProject")),

    Q("knn_euclidean", knnQuery(Distances.euclidean, 100),
      duckKnn(s"sqrt(${duckSum(s"($dx - $dq)*($dx - $dq)")})", 100)),

    Q("knn_sqeuclidean", knnQuery(Distances.sqEuclidean, 100),
      duckKnn(duckSum(s"($dx - $dq)*($dx - $dq)"), 100)),

    Q("knn_chebyshev", knnQuery(Distances.chebyshev, 100),
      duckKnn(
      s"list_aggregate(list_transform(generate_series(1,64), i -> abs($dx - $dq)), 'max')", 100)),

    Q("knn_cosine", knnQuery(Distances.cosine, 100, roundTo = 6),
      duckKnn(
      s"""CASE WHEN $duckNormE < 1e-5 OR $duckNormQ < 1e-5 THEN 0.0
         | ELSE 1.0 - ($duckDot) / ($duckNormE * $duckNormQ) END""".stripMargin,
      100, roundTo = 6)),

    Q("knn_minkowski3", knnQuery(Distances.minkowski(_, _, 3.0), 100),
      duckKnn(
      s"power(${duckSum(s"power(abs($dx - $dq), 3.0)")}, 1.0/3.0)", 100)),

    Q("knn_hamming", knnQuery(Distances.hamming, 100),
      duckKnn(
      duckSum(s"CASE WHEN $dx != $dq THEN 1.0 ELSE 0.0 END"), 100)),

    Q("knn_spannorm", knnQuery(Distances.spanNorm, 100),
      duckKnn(
      s"""list_aggregate(list_transform(generate_series(1,64), i -> $dx - $dq), 'max')
         | - list_aggregate(list_transform(generate_series(1,64), i -> $dx - $dq), 'min')""".stripMargin,
      100)),

    Q("knn_correlation", knnQuery(Distances.correlation, 100, roundTo = 6),
      {
        val meanE = s"(${duckSum(dx)} / 64.0)"
        val meanQ = s"(${duckSum(dq)} / 64.0)"
        val cDot = duckSum(s"($dx - $meanE) * ($dq - $meanQ)")
        val cNormE = s"sqrt(${duckSum(s"($dx - $meanE) * ($dx - $meanE)")})"
        val cNormQ = s"sqrt(${duckSum(s"($dq - $meanQ) * ($dq - $meanQ)")})"
        duckKnn(
          s"""CASE WHEN $cNormE < 1e-5 OR $cNormQ < 1e-5 THEN 0.0
             | ELSE 1.0 - ($cDot) / ($cNormE * $cNormQ) END""".stripMargin,
          100, roundTo = 6)
      }),

    Q("knn_chisquared", knnQuery((a, b) =>
      Distances.chiSquared(posify(a), posify(b)), 100),
      duckKnn(duckSum(
      s"""CASE WHEN ($duckPos) + ($duckPosQ) > 0
         | THEN (($duckPos) - ($duckPosQ)) * (($duckPos) - ($duckPosQ)) / (($duckPos) + ($duckPosQ))
         | ELSE 0.0 END""".stripMargin), 100)),

    Q("knn_kl", knnQuery((a, b) =>
      Distances.kullbackLeibler(posify(a), posify(b)), 100),
      duckKnn(duckSum(
      s"""CASE WHEN abs($duckPos) < 1e-5 OR abs($duckPosQ) < 1e-5 THEN 0.0
         | ELSE ($duckPos) * ln(($duckPos) / ($duckPosQ)) END""".stripMargin), 100)),

    Q("knn_jaccard", knnQuery((a, b) =>
      Distances.jaccard(posify(a), posify(b)), 100, roundTo = 6),
      duckKnn(
      s"""1.0 - ${duckSum(s"least($duckPos, $duckPosQ)")}
         | / ${duckSum(s"greatest($duckPos, $duckPosQ)")}""".stripMargin,
      100, roundTo = 6)),

    Q("knn_modulo", knnQuery((a, b) =>
      Distances.modulo(posify(a), posify(b)), 100),
      // Distances.modulo(a, b) = Σ (b mod a), reference w*(v2 % v1)
      duckKnn(duckSum(s"fmod($duckPosQ, $duckPos)"), 100)),

    Q("knn_haversine", knnQuery((a, b) =>
      Distances.haversine(geoify(a), geoify(b)), 100, roundTo = 2),
      {
        // mirror Distances.haversine exactly: lat clamp, lng wrap, R=6371000
        def lat(e: String) = s"radians(greatest(-90.0, least(90.0, CAST($e[1] AS DOUBLE) * 20.0)))"
        def lng(e: String) =
          s"""radians(CASE WHEN fmod(fmod(CAST($e[2] AS DOUBLE) * 40.0, 360.0) + 360.0, 360.0) >= 180.0
             | THEN fmod(fmod(CAST($e[2] AS DOUBLE) * 40.0, 360.0) + 360.0, 360.0) - 360.0
             | ELSE fmod(fmod(CAST($e[2] AS DOUBLE) * 40.0, 360.0) + 360.0, 360.0) END)""".stripMargin
        val h =
          s"""(power(sin((${lat("e.embedding")} - ${lat("q.qv")}) / 2), 2)
             | + cos(${lat("q.qv")}) * cos(${lat("e.embedding")})
             |   * power(sin((${lng("e.embedding")} - ${lng("q.qv")}) / 2), 2))""".stripMargin
        duckKnn(s"2.0 * 6371000.0 * atan2(sqrt($h), sqrt(1.0 - $h))", 100, roundTo = 2)
      }),

    // --- Boolean-filtered kNN + candidate rerank (SURVEY §2.1, §2.3) ---
    Q("knn_manhattan_weighted", (s, d) => {
      val w = Distances.vecLit((1 to 64).map(i => (i % 4 + 1) * 0.25))
      Knn.knn(withQueryVec(s, d),
          Distances.manhattanW(col("embedding"), col("qv"), w), 100, col("vec_id"))
        .select(col("vec_id"), round(col(Knn.DistanceCol), 4).as("distance"))
    },
      duckKnn(
      duckSum(s"((i % 4 + 1) * 0.25) * abs($dx - $dq)"), 100)),

    Q("knn_chisquared_weighted", (s, d) => {
      val w = Distances.vecLit((1 to 64).map(i => (i % 4 + 1) * 0.25))
      Knn.knn(withQueryVec(s, d),
          Distances.chiSquaredW(posify(col("embedding")), posify(col("qv")), w),
          100, col("vec_id"))
        .select(col("vec_id"), round(col(Knn.DistanceCol), 4).as("distance"))
    },
      duckKnn(duckSum(
      s"""((i % 4 + 1) * 0.25) * (CASE WHEN ($duckPos) + ($duckPosQ) > 0
         | THEN (($duckPos) - ($duckPosQ)) * (($duckPos) - ($duckPosQ)) / (($duckPos) + ($duckPosQ))
         | ELSE 0.0 END)""".stripMargin), 100)),

    Q("knn_hamming_weighted", (s, d) => {
      val w = Distances.vecLit((1 to 64).map(i => (i % 4 + 1) * 0.25))
      Knn.knn(withQueryVec(s, d),
          Distances.hammingW(col("embedding"), col("qv"), w), 100, col("vec_id"))
        .select(col("vec_id"), round(col(Knn.DistanceCol), 4).as("distance"))
    },
      duckKnn(
      duckSum(s"((i % 4 + 1) * 0.25) * (CASE WHEN $dx != $dq THEN 1.0 ELSE 0.0 END)"), 100)),

    Q("ann_ivf_topk", (s, d) => {
      // IVF-flat = eCP coarse quantizer; whole query batch in ONE job
      val emb = Tables.embeddings(s, d)
      val idx = cachedIndex(s, d, "ecp").asInstanceOf[ECPIndex]
      val queries = emb.filter(col("vec_id") <= 2)
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toSeq
      Ann.ivfTopK(emb, idx, "vec_id", "embedding", queries, k = 10, timesK = 50)
        .select(col("qid"), col("vec_id"), round(col("distance"), 4).as("distance"))
        .orderBy("qid", "distance", "vec_id")
    },
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id <= 2)
         |SELECT qid, vec_id, round(d, 4) AS distance FROM (
         |  SELECT qid, vec_id, d,
         |    row_number() OVER (PARTITION BY qid ORDER BY d, vec_id) AS rnk
         |  FROM (SELECT q.qid, e.vec_id,
         |          sqrt(${duckSum(s"($dx - $dq)*($dx - $dq)")}) AS d
         |        FROM embeddings e, q)
         |) WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin,
      Gate.marker("IVF candidates aggregated map-side",
        "ObjectHashAggregate", "partial_bounded_topk")),

    Q("index_vote_knn", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = queryVecOf(emb)
      val dist = Distances.euclidean(col("embedding"), Distances.vecLit(q))
      val ecp = cachedIndex(s, d, "ecp")
      val pq = cachedIndex(s, d, "pq")
      val voted = SetAlgebra.vote(
        Seq(ecp.candidates(q, 100), pq.candidates(q, 100)), "vec_id", 500)
      Knn.rerank(emb, voted, "vec_id", dist, 100)
        .select(col("vec_id"), round(col(Knn.DistanceCol), 4).as("distance"))
    },
      duckKnn(s"sqrt(${duckSum(s"($dx - $dq)*($dx - $dq)")})", 100)),

    Q("knn_filtered", (s, d) =>
      Knn.knnFiltered(withQueryVec(s, d), col("label") < 5,
        Distances.manhattan(col("embedding"), col("qv")), 50, col("vec_id"))
        .select(col("vec_id"), round(col(Knn.DistanceCol), 4).as("distance")),
      duckKnn(duckSum(s"abs($dx - $dq)"), 50, where = "WHERE e.label < 5")),

    Q("prefilter_isin_knn", (s, d) => {
      val base = withQueryVec(s, d)
      val candidates = base.filter(col("vec_id") % 3 === 0).select("vec_id")
      val filtered = Prefilter(base, candidates, "vec_id", Prefilter.ChunkedIsin)
      Knn.knn(filtered, Distances.manhattan(col("embedding"), col("qv")), 50, col("vec_id"))
        .select(col("vec_id"), round(col(Knn.DistanceCol), 4).as("distance"))
    },
      duckKnn(duckSum(s"abs($dx - $dq)"), 50,
      where = "WHERE e.vec_id % 3 = 0")),

    Q("knn_radius", (s, d) => {
      // range query through the VA-file's jobless range prune + exact
      // verify; compares on the 4-dp-rounded distance on both sides,
      // with prune slack covering the rounding half-step
      val emb = Tables.embeddings(s, d)
      val q = queryVecOf(emb)
      val vaf = cachedIndex(s, d, "vaf").asInstanceOf[VAIndex]
      val pruned = emb.join(vaf.rangeCandidates(q, 1.2501), Seq("vec_id"), "left_semi")
      Knn.radius(pruned,
          round(Distances.euclidean(col("embedding"), Distances.vecLit(q)), 4),
          1.25, col("vec_id"))
        .select(col("vec_id"), col(Knn.DistanceCol).as("distance"))
    },
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
         |SELECT vec_id, rd AS distance FROM (
         |  SELECT e.vec_id, round(sqrt(${duckSum(s"($dx - $dq)*($dx - $dq)")}), 4) AS rd
         |  FROM embeddings e, q
         |) WHERE rd <= 1.25 ORDER BY rd, vec_id""".stripMargin),

    Q("knn_rerank_half", (s, d) => {
      val base = withQueryVec(s, d)
      Knn.rerank(base, base.filter(col("vec_id") % 2 === 0), "vec_id",
        Distances.manhattan(col("embedding"), col("qv")), 50)
        .select(col("vec_id"), round(col(Knn.DistanceCol), 4).as("distance"))
    },
      duckKnn(duckSum(s"abs($dx - $dq)"), 50,
      where = "WHERE e.vec_id % 2 = 0"),
      Gate.marker("rerank candidates via semi join", "LeftSemi")),

    // --- ANN batch search + embedding near-dup (LLM pipeline) ---
    Q("ann_batch_topk", (s, d) => {
      val emb = Tables.embeddings(s, d)
      Ann.bruteForceTopK(emb,
        emb.filter(col("vec_id") <= 4)
          .select(col("vec_id").as("qid"), col("embedding").as("qv")),
        "vec_id", "qid", "embedding", "qv", Distances.euclidean, 10)
        .select(col("qid"), col("vec_id"),
          round(col("distance"), 4).as("distance"), col("rank").as("rnk"))
        .orderBy("qid", "rnk")
    },
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id <= 4)
         |SELECT qid, vec_id, round(d, 4) AS distance, rnk FROM (
         |  SELECT qid, vec_id, d,
         |    row_number() OVER (PARTITION BY qid ORDER BY d, vec_id) AS rnk
         |  FROM (SELECT q.qid, e.vec_id,
         |          sqrt(${duckSum(s"($dx - $dq)*($dx - $dq)")}) AS d
         |        FROM embeddings e, q)
         |) WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin,
      Gate.marker("map-side partial bounded top-k, no qid window funnel",
        "ObjectHashAggregate", "partial_bounded_topk")),

    Q("ann_binary_topk", (s, d) => {
      // 1-bit-per-dim sign codes: Hamming over the packed-long relation
      // (32x less I/O than the float table) prunes to 4k candidates,
      // exact cosine reranks only those
      val emb = Tables.embeddings(s, d)
      Ann.binarySignTopK(emb,
        emb.filter(col("vec_id") <= 4)
          .select(col("vec_id").as("qid"), col("embedding").as("qv")),
        "vec_id", "qid", "embedding", "qv", dim = 64, k = 10)
        .select(col("qid"), col("vec_id"),
          round(col("distance"), 6).as("distance"), col("rank").as("rnk"))
        .orderBy("qid", "rnk")
    },
      // phase-1 Hamming replayed WITHOUT the packing: #dims whose sign
      // differs (mathematically equal to popcount(xor) over sign codes, so
      // the oracle independently cross-checks the packed representation);
      // same (distance, id) total order at both cuts
      {
        val signDiff = duckSum(
          s"CASE WHEN ($dx > 0) != ($dq > 0) THEN 1.0 ELSE 0.0 END")
        val cosD =
          s"""CASE WHEN $duckNormE < 1e-5 OR $duckNormQ < 1e-5 THEN 0.0
             | ELSE 1.0 - ($duckDot) / ($duckNormE * $duckNormQ) END""".stripMargin
        s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id <= 4),
           |ham AS (SELECT q.qid, e.vec_id, $signDiff AS hd FROM embeddings e, q),
           |cand AS (SELECT qid, vec_id FROM (
           |  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY hd, vec_id) AS hr
           |  FROM ham) WHERE hr <= 40)
           |SELECT qid, vec_id, round(cd, 6) + 0.0 AS distance, rnk FROM (
           |  SELECT qid, vec_id, cd,
           |    row_number() OVER (PARTITION BY qid ORDER BY cd, vec_id) AS rnk
           |  FROM (SELECT c.qid, e.vec_id, $cosD AS cd
           |        FROM cand c, embeddings e, q
           |        WHERE e.vec_id = c.vec_id AND q.qid = c.qid)
           |) WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin
      },
      Gate.marker("Hamming phase is a map-side bounded top-k over popcount",
        "ObjectHashAggregate", "partial_bounded_topk", "bit_count")),

    // --- vector index scans + exact rerank (SURVEY §2.6) ---
    // Exact family (vaf/vav/vap): candidates are provably lossless, so the
    // reranked result equals brute force and is oracle-checkable.
    Q("index_vaf_knn", indexKnn("vaf"),
      duckKnn(s"sqrt(${duckSum(s"($dx - $dq)*($dx - $dq)")})", 100)),

    Q("index_vav_knn", indexKnn("vav"),
      duckKnn(s"sqrt(${duckSum(s"($dx - $dq)*($dx - $dq)")})", 100)),

    Q("index_vap_knn", indexKnn("vap"),
      duckKnn(s"sqrt(${duckSum(s"($dx - $dq)*($dx - $dq)")})", 100)),

    // Approximate family: params tuned so candidates cover the exact
    // top-100 on the fixed corpus (recall=1.0 asserted in IndexSpec) —
    // the reranked result then equals brute force and is oracle-checked.
    Q("index_ecp_knn", indexKnn("ecp"),
      // Approximate-index scans equal brute force whenever candidates ⊇ the
      // true top-k: on the FIXED sf corpus + fixed seeds the candidate sets
      // are verified to cover the exact top-100 (IndexSpec recall=1.0
      // assertions), so the exact-kNN oracle applies. Data-dependent by
      // nature — on another corpus the approximate family could recall < 1.
      duckKnn(s"sqrt(${duckSum(s"($dx - $dq)*($dx - $dq)")})", 100)),

    Q("index_pq_knn", indexKnn("pq"),
      duckKnn(s"sqrt(${duckSum(s"($dx - $dq)*($dx - $dq)")})", 100)),

    Q("index_sh_knn", indexKnn("sh", timesK = 10),
      duckKnn(s"sqrt(${duckSum(s"($dx - $dq)*($dx - $dq)")})", 100)),

    Q("index_lsh_knn", indexKnn("lsh"),
      duckKnn(s"sqrt(${duckSum(s"($dx - $dq)*($dx - $dq)")})", 100)),

    Q("index_mi_knn", indexKnn("mi", timesK = 10),
      duckKnn(s"sqrt(${duckSum(s"($dx - $dq)*($dx - $dq)")})", 100)),

    Q("index_ivfpq_knn", indexKnn("ivfpq"),
      duckKnn(s"sqrt(${duckSum(s"($dx - $dq)*($dx - $dq)")})", 100)),

    Q("index_sq_knn", indexKnn("sq"),
      duckKnn(s"sqrt(${duckSum(s"($dx - $dq)*($dx - $dq)")})", 100)),

    // OPQ: learned-rotation PQ (Ge et al. CVPR'13) — same ADC scan as
    // pq, candidates from the rotated space, exact euclidean rerank
    Q("index_opq_knn", indexKnn("opq"),
      duckKnn(s"sqrt(${duckSum(s"($dx - $dq)*($dx - $dq)")})", 100)),

    Q("index_nsw_knn", indexKnn("nsw"),
      duckKnn(s"sqrt(${duckSum(s"($dx - $dq)*($dx - $dq)")})", 100)),

    // the recommended (served-default) NSW build: heuristic neighbor
    // selection at the Run-29 budget ladder — exact at the verify SF
    // (ef ≥ shard size ⇒ provable candidate cover), recall 0.99 at scale
    Q("index_nsw_heur_knn", indexKnn("nsw_heur"),
      duckKnn(s"sqrt(${duckSum(s"($dx - $dq)*($dx - $dq)")})", 100)),

    Q("ann_refine_topk", (s, d) => {
      // three-stage funnel: 1-bit Hamming coarse scan → 8-bit ADC refine
      // over coarse survivors only (semi-join) → exact cosine top-50.
      // Full vectors are read for 100 rows; the corpus pass is 1 bit/dim
      val emb = Tables.embeddings(s, d)
      val q = queryVecOf(emb)
      val bsq = cachedIndex(s, d, "bsq")
      val sq = hybridSqIndexes.getOrElseUpdate(d,
        Ann.buildCosineSQIndex(emb, "vec_id", "embedding"))
      Ann.refineTopK(emb, "vec_id", "embedding", bsq, sq, q, 50)
        .select(col("vec_id"),
          round(col(Knn.DistanceCol), 6).as("distance"))
    },
      // the funnel equals exact cosine while each stage's survivors cover
      // the true top-k (IndexSpec pins this on the verify corpus)
      duckKnn(
      s"""CASE WHEN $duckNormE < 1e-5 OR $duckNormQ < 1e-5 THEN 0.0
         | ELSE 1.0 - ($duckDot) / ($duckNormE * $duckNormQ) END""".stripMargin,
      50, roundTo = 6)),

    Q("index_bsq_knn", (s, d) => {
      // persisted sign-code index: Hamming candidates (angular proxy),
      // exact COSINE rerank — bsq conforms to the cosine family only,
      // and its oracle replays BOTH phases exactly, so correctness does
      // not depend on candidate recall like the L2-oracled family
      val emb = Tables.embeddings(s, d)
      val q = queryVecOf(emb)
      val idx = cachedIndex(s, d, "bsq")
      idx.knn(emb, "vec_id",
          Distances.cosine(col("embedding"), Distances.vecLit(q)), q, 100, 5)
        .select(col("vec_id"), round(col(Knn.DistanceCol), 6).as("distance"))
    },
      {
        // exact two-phase replay: sign-mismatch Hamming top-500 (the
        // (hd, id) total order matches the index's TakeOrdered), cosine
        // rerank top-100 with the signed-zero normalization
        val signDiff = duckSum(
          s"CASE WHEN ($dx > 0) != ($dq > 0) THEN 1.0 ELSE 0.0 END")
        val cosD =
          s"""CASE WHEN $duckNormE < 1e-5 OR $duckNormQ < 1e-5 THEN 0.0
             | ELSE 1.0 - ($duckDot) / ($duckNormE * $duckNormQ) END""".stripMargin
        s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
           |bham AS (SELECT e.vec_id, $signDiff AS hd FROM embeddings e, q),
           |bcand AS (SELECT vec_id FROM bham ORDER BY hd, vec_id LIMIT 500)
           |SELECT vec_id, round(d, 6) + 0.0 AS distance FROM (
           |  SELECT e.vec_id, $cosD AS d FROM embeddings e, q
           |  WHERE e.vec_id IN (SELECT vec_id FROM bcand)
           |) ORDER BY d, vec_id LIMIT 100""".stripMargin
      },
      Gate.marker("sign-code scan bounds candidates before the rerank semi-join",
        "TakeOrderedAndProject", "LeftSemi", "bit_count")),

    Q("planner_hint_knn", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = queryVecOf(emb)
      val vaf = cachedIndex(s, d, "vaf")
      val plan = graft.plans.Planner.choose(
        Seq(graft.plans.Planner.ExactHint), Seq(vaf), "euclidean")
      graft.plans.Planner.run(plan, emb, "vec_id",
          Distances.euclidean(col("embedding"), Distances.vecLit(q)), q, 100)
        .select(col("vec_id"), round(col(Knn.DistanceCol), 4).as("distance"))
    },
      duckKnn(s"sqrt(${duckSum(s"($dx - $dq)*($dx - $dq)")})", 100)),

    Q("progressive_knn", (s, d) => {
      import scala.concurrent.ExecutionContext.Implicits.global
      val emb = Tables.embeddings(s, d)
      val q = queryVecOf(emb)
      val dist = Distances.euclidean(col("embedding"), Distances.vecLit(q))
      def seqPlan() = Knn.knn(emb, dist, 100, col("vec_id"))
        .select(col("vec_id"), round(col(Knn.DistanceCol), 4).as("distance"))
      val ecp = cachedIndex(s, d, "ecp")
      val best = graft.plans.Progressive.timed(s, Seq(
        graft.plans.Progressive.PlanSpec("sequential", 1.0, () => seqPlan()),
        graft.plans.Progressive.PlanSpec("index:ecp", 0.5,
          () => ecp.knn(emb, "vec_id", dist, q, 100)
            .select(col("vec_id"), round(col(Knn.DistanceCol), 4).as("distance")))),
        deadlineMs = 300000)
      // highest confidence wins => the exact sequential result
      s.createDataFrame(java.util.Arrays.asList(best.result.get: _*), seqPlan().schema)
    },
      duckKnn(s"sqrt(${duckSum(s"($dx - $dq)*($dx - $dq)")})", 100)),

    Q("timed_knn", (s, d) => {
      import scala.concurrent.ExecutionContext.Implicits.global
      // the §2.8 TIMED query as a correctness row: with a deadline
      // generous enough for the exact leg to land, the winner is
      // always the max-confidence (exact) result — deterministic and
      // oracle-checkable — and the losing index leg is cancelled. The
      // deadline-expired fallback path stays spec-covered
      // (PlannerSpec), where nondeterminism is the point.
      val emb = Tables.embeddings(s, d)
      val q = queryVecOf(emb)
      val dist = Distances.euclidean(col("embedding"), Distances.vecLit(q))
      def exact() = Knn.knn(emb, dist, 50, col("vec_id"))
        .select(col("vec_id"), round(col(Knn.DistanceCol), 4).as("distance"))
      val lsh = cachedIndex(s, d, "lsh")
      val best = graft.plans.Progressive.timed(s, Seq(
        graft.plans.Progressive.PlanSpec("timed-sequential", 1.0, () => exact()),
        graft.plans.Progressive.PlanSpec("timed-index:lsh", 0.5,
          () => lsh.knn(emb, "vec_id", dist, q, 50)
            .select(col("vec_id"),
              round(col(Knn.DistanceCol), 4).as("distance")))),
        deadlineMs = 600000)
      s.createDataFrame(java.util.Arrays.asList(best.result.get: _*),
        exact().schema)
    },
      // timed race with a generous deadline: winner is the exact leg
      duckKnn(s"sqrt(${duckSum(s"($dx - $dq)*($dx - $dq)")})", 50)),

    Q("centroid_by_label", (s, d) => Tables.embeddings(s, d)
      .select(col("label"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim").cast("long").as("dim"))
      .agg(round(avg("v"), 6).as("m"))
      .orderBy("label", "dim"),
      """SELECT label, i - 1 AS dim, round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS m
        |FROM embeddings, generate_series(1, 64) AS t(i)
        |GROUP BY label, dim ORDER BY label, dim""".stripMargin),

    Q("prefilter_bloom_knn", (s, d) => {
      // Bloom pre-prune (may over-admit) + exact semi-join verify + kNN:
      // the correctness-preserving two-stage composition
      val base = withQueryVec(s, d)
      val candidates = base.filter(col("vec_id") % 5 === 0).select("vec_id")
      val admitted = Prefilter(base, candidates, "vec_id", Prefilter.Bloom)
      val verified = Prefilter(admitted, candidates, "vec_id", Prefilter.SemiJoin)
      Knn.knn(verified, Distances.manhattan(col("embedding"), col("qv")), 50, col("vec_id"))
        .select(col("vec_id"), round(col(Knn.DistanceCol), 4).as("distance"))
    },
      duckKnn(duckSum(s"abs($dx - $dq)"), 50,
      where = "WHERE e.vec_id % 5 = 0")),

    Q("hybrid_search_rrf", (s, d) => {
      // hybrid retrieval: BM25 top-50 and cosine top-50 fused by
      // reciprocal rank; both rankings are TakeOrdered-bounded BEFORE
      // the rank window, so the windows and the fusion join see 50 rows
      // each regardless of corpus size. The vector leg rides the SQ8
      // index over NORMALIZED embeddings (unit vectors: L2 ranks as
      // cosine) — the ranking scan reads the byte-codes relation, and
      // the raw embedding table is touched only by the candidate-bounded
      // exact rerank (IndexSpec asserts id-for-id equality with the
      // brute-force leg)
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val emb = Tables.embeddings(s, d)
      val q = queryVecOf(emb)
      val lex = TextSearch.bm25TopK(docs, "doc_id", "text",
          Seq("vector", "join", "hash"), 50)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id").asc)))
      val idx = hybridSqIndexes.getOrElseUpdate(d,
        Ann.buildCosineSQIndex(emb, "vec_id", "embedding"))
      val vec = Ann.cosineTopKIndexed(emb, "vec_id", "embedding", idx, q, 50)
        .withColumn("rank", row_number().over(
          Window.orderBy(col(Knn.DistanceCol).asc, col("vec_id").asc)))
        .withColumnRenamed("vec_id", "doc_id")
      TextSearch.rrfFuse(lex, vec, "doc_id")
        .orderBy(col("rrf").desc, col("doc_id").asc).limit(20)
        .select(col("doc_id"), round(col("rrf"), 6).as("rrf"))
    },
      s"""WITH tk AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |dl AS (SELECT doc_id, len(toks) AS dl FROM tk),
         |c AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
         |posts AS (SELECT doc_id, term, count(*) AS tf
         |          FROM (SELECT doc_id, unnest(toks) AS term FROM tk)
         |          WHERE term IN ('vector','join','hash') GROUP BY doc_id, term),
         |dfreq AS (SELECT term, count(*) AS df FROM posts GROUP BY term),
         |bm_all AS (SELECT doc_id, sum(
         |  ln(1.0 + (n - df + 0.5) / (df + 0.5))
         |   * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))) AS score
         | FROM posts JOIN dfreq USING (term) JOIN dl USING (doc_id), c
         | GROUP BY doc_id),
         |bm AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC)
         |         AS lex_rank
         |       FROM bm_all ORDER BY score DESC, doc_id ASC LIMIT 50),
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |vs0 AS (SELECT e.vec_id,
         |  CASE WHEN $duckNormE < 1e-5 OR $duckNormQ < 1e-5 THEN 0.0
         |   ELSE 1.0 - ($duckDot) / ($duckNormE * $duckNormQ) END AS dist
         |  FROM embeddings e, q),
         |vs AS (SELECT vec_id AS doc_id, row_number() OVER (ORDER BY dist ASC, vec_id ASC)
         |         AS vec_rank
         |       FROM vs0 ORDER BY dist ASC, vec_id ASC LIMIT 50),
         |f AS (SELECT coalesce(bm.doc_id, vs.doc_id) AS doc_id,
         |  coalesce(CAST(1.0 AS DOUBLE) / (60 + lex_rank), 0.0)
         |   + coalesce(CAST(1.0 AS DOUBLE) / (60 + vec_rank), 0.0) AS rrf
         |  FROM bm FULL OUTER JOIN vs ON bm.doc_id = vs.doc_id)
         |SELECT doc_id, round(rrf, 6) AS rrf FROM f
         |ORDER BY rrf DESC, doc_id ASC LIMIT 20""".stripMargin,
      // the vector leg's RANKING must scan the SQ8 byte-codes relation
      // (pq_adc kernel), with the raw embedding table only reached
      // through the candidate-bounded semi-join rerank
      Gate.marker("TakeOrdered-bounded fusion; vector leg ranks over index codes",
        "TakeOrderedAndProject", "FullOuter", "pq_adc", "LeftSemi")),

    Q("knn_doc_lookup", (s, d) => {
      // similarity search with metadata return: top-20 nearest
      // embeddings joined back to their documents (vec_id = doc_id on
      // the synthetic tables) — the result a retrieval caller actually
      // wants. The doc side joins AFTER the top-k, so only k rows join.
      val emb = Tables.embeddings(s, d)
      val q = queryVecOf(emb)
      val top = Knn.knn(emb, Distances.euclidean(col("embedding"),
        Distances.vecLit(q)), 20, col("vec_id"))
      top.join(Tables.documents(s, d), col("vec_id") === col("doc_id"))
        .select(col("vec_id"), round(col(Knn.DistanceCol), 4).as("distance"),
          col("lang"), col("source"))
        .orderBy("distance", "vec_id")
    },
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |top AS (
         | SELECT e.vec_id, sqrt(${duckSum(s"($dx - $dq)*($dx - $dq)")}) AS d
         | FROM embeddings e, q ORDER BY d, vec_id LIMIT 20)
         |SELECT t.vec_id, round(d, 4) AS distance, doc.lang, doc.source
         |FROM top t JOIN documents doc ON t.vec_id = doc.doc_id
         |ORDER BY distance, vec_id""".stripMargin,
      Gate.marker("top-k bounds BEFORE the metadata join; doc side broadcast",
        "TakeOrderedAndProject", "BroadcastHashJoin")),

    Q("maxsim_topk", (s, d) => {
      // late-interaction MaxSim: 4-chunk multi-vector docs (vec_id DIV 4)
      // scored against a 3-vector query set (the deterministic seed
      // vectors the SQL oracle can reproduce); one shuffle of 3 doubles
      // per doc, chunks never move
      val emb = Tables.embeddings(s, d)
      Ann.maxSimTopK(
          emb.select(expr("vec_id DIV 4").as("doc"), col("embedding")),
          "doc", "embedding", seedCentroids(emb, 3), 50)
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    },
      maxsimSql),

    Q("maxsim_ivf_topk", (s, d) => {
      // the scale path: candidate chunks from the SQ8 codes scan per
      // query vector, exact MaxSim rerun over the candidate DOCS only —
      // generous timesK makes doc recall total on this corpus, so the
      // exact-MaxSim oracle applies (the ann_ivf_topk pattern)
      val emb = Tables.embeddings(s, d)
      val idx = hybridSqIndexes.getOrElseUpdate(d,
        Ann.buildCosineSQIndex(emb, "vec_id", "embedding"))
      Ann.maxSimTopKIndexed(
          emb.select(expr("vec_id DIV 4").as("doc"), col("vec_id"), col("embedding")),
          "doc", "embedding", "vec_id", idx, seedCentroids(emb, 3), 50,
          timesK = 40)
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    },
      // the indexed variant is exact whenever candidate-doc recall covers
      // the true top-50 (generous timesK; asserted by sharing
      // maxsim_topk's exact oracle)
      maxsimSql,
      Gate.marker("ONE batched candidate pass: per-qid bounded top-k over the codes scan",
        "posexplode", "partial_bounded_topk", "pq_adc")),
  )
}
