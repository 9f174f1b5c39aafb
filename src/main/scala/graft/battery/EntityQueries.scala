package graft
package battery

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.Distances
import graft.operators._
import Helpers._

/** Entity battery: lifecycle, versioned snapshots,
  * partition/z-order/KV/sparse/vertical layouts and multimodal
  * decode. */
object EntityQueries {

  private val partLayouts =
    new graft.core.OnceMemo[String, String]

  private val sparseLayouts =
    new graft.core.OnceMemo[String, String]

  /** Label-partitioned embeddings entity — one-time layout artifact per
    * (JVM, data dir). */
  private def partLayout(s: SparkSession, d: String): String =
    partLayouts.getOrElseUpdate(d, {
      val dir = freshScratch(s"part-${dirTag(d)}")
      val e = graft.core.Entity.create(s, dir, "embp")
      e.insert(Tables.embeddings(s, d))
      e.partitionLayout(graft.core.Partitioning.ByColumn("label"))
      dir
    })

  private val zorderDirs =
    new graft.core.OnceMemo[String, String]

  /** Lineitem z-ordered on (l_orderkey, l_partkey) — one-time layout
    * artifact per (JVM, data dir); every output file covers a small
    * rectangle in key space so parquet min/max stats prune scans
    * filtered on EITHER column. */
  private[graft] def zorderLayout(s: SparkSession, d: String): String =
    zorderDirs.getOrElseUpdate(d, {
      val dir = freshScratch(s"zorder-${dirTag(d)}")
      graft.core.Partitioning.write(
        Tables.lineitem(s, d)
          .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity"),
        graft.core.Partitioning.ZOrder("l_orderkey", "l_partkey", 16), dir)
      dir
    })

  /** Sparsified embeddings entity — one-time layout artifact per
    * (JVM, data dir). */
  private def sparseLayout(s: SparkSession, d: String): String =
    sparseLayouts.getOrElseUpdate(d, {
      val dir = freshScratch(s"sparseknn-${dirTag(d)}")
      val e = graft.core.Entity.create(s, dir, "emb")
      e.insert(Tables.embeddings(s, d).select("vec_id", "embedding"))
      e.sparsify("embedding")
      dir
    })

  private val kvLayouts =
    new graft.core.OnceMemo[String, String]

  private val kvHandler = graft.sources.StorageHandlers.keyValue("p_partkey")

  /** Key-value store over `part` — one-time layout artifact per
    * (JVM, data dir), the embedded-KV-engine analogue. */
  private def kvLayout(s: SparkSession, d: String): String =
    kvLayouts.getOrElseUpdate(d, {
      val dir = freshScratch(s"kv-${dirTag(d)}")
      kvHandler.write(s, dir, Tables.part(s, d), overwrite = true)
      dir
    })

  /** Vertical-layout scratch, reused across runs (group handlers write
    * with overwrite=true — no per-invocation wipe needed). */
  private lazy val verticalScratch: String = {
    val d = scratchRoot.resolve("vert")
    java.nio.file.Files.createDirectories(d)
    d.toString
  }

  /** Pre-build this family's entity layouts (untimed bench warmup). */
  private[graft] def warmLayouts(s: SparkSession, d: String): Unit = {
    partLayout(s, d)
    sparseLayout(s, d)
    kvLayout(s, d)
  }

  /** Release this family's layouts for `dir`. */
  private[graft] def release(dir: String): Int =
    drop(partLayouts, dir)(deleteDir) + drop(sparseLayouts, dir)(deleteDir) +
      drop(zorderDirs, dir)(deleteDir) + drop(kvLayouts, dir)(deleteDir)

  val queries: Seq[Q] = Seq(
    Q("entity_preview", (s, d) =>
      // preview over a deterministically-ordered frame so the k-row
      // sample is oracle-comparable (reference previewData)
      Projections.preview(Tables.documents(s, d).orderBy("doc_id"), 50)
        .select("doc_id"),
      "SELECT doc_id FROM documents ORDER BY doc_id LIMIT 50"),

    // --- lifecycle / planner / progressive / partitioning / multimodal ---
    Q("entity_lifecycle", (s, d) => {
      val base = freshScratch("lifecycle")
      val e = graft.core.Entity.create(s, base, "li")
      val src = Tables.lineitem(s, d).filter(col("l_quantity") >= 49)
      e.insert(src.filter(col("l_returnflag") === "A"))
      e.insert(src.filter(col("l_returnflag") =!= "A"))
      e.deleteWhere(col("l_linestatus") === "F")
      e.read().groupBy("l_returnflag")
        .agg(count(lit(1)).as("cnt"), round(sum("l_quantity"), 2).as("qty"))
        .orderBy("l_returnflag")
    },
      """SELECT l_returnflag, count(*) AS cnt, round(sum(l_quantity),2) AS qty
        |FROM lineitem WHERE l_quantity >= 49 AND l_linestatus != 'F'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    Q("entity_snapshot_diff", (s, d) => {
      // incremental-consumer view of entity history: what changed
      // between snapshot v1 and the live v3 after an upsert (reprice +
      // new band) and a delete — keys only, ops aggregated with key
      // bounds so the oracle replays from the base table
      val base = freshScratch("snapdiff")
      val e = graft.core.Entity.create(s, base, "sd")
        .retainVersions(3) // keep v1..v3 snapshots on disk for the diff
      val orders = Tables.orders(s, d)
      e.insert(orders.filter(col("o_totalprice") >= 400000)) // v1
      val repriced = orders.filter(col("o_totalprice") >= 400000 &&
          col("o_orderstatus") === "O")
        .withColumn("o_totalprice", round(col("o_totalprice") + 1000, 2))
      val fresh = orders.filter(col("o_totalprice") >= 300000 &&
        col("o_totalprice") < 400000)
      e.upsert(repriced.unionByName(fresh), "o_orderkey") // v2
      e.deleteWhere(col("o_orderstatus") === "F")          // v3
      e.diffVersions(1, 3, "o_orderkey")
        .groupBy("op")
        .agg(count(lit(1)).as("cnt"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy("op")
    },
      // v1 = expensive orders; v3 = after reprice-upsert ('O' rows
      // changed), band append (added unless F), delete F (removed)
      """WITH old AS (
        |  SELECT o_orderkey, o_orderstatus FROM orders
        |  WHERE o_totalprice >= 400000),
        |fresh AS (
        |  SELECT o_orderkey, o_orderstatus FROM orders
        |  WHERE o_totalprice >= 300000 AND o_totalprice < 400000),
        |diff AS (
        |  SELECT 'removed' AS op, o_orderkey FROM old WHERE o_orderstatus = 'F'
        |  UNION ALL
        |  SELECT 'changed', o_orderkey FROM old WHERE o_orderstatus = 'O'
        |  UNION ALL
        |  SELECT 'added', o_orderkey FROM fresh WHERE o_orderstatus <> 'F')
        |SELECT op, count(*) AS cnt, min(o_orderkey) AS min_key,
        |  max(o_orderkey) AS max_key
        |FROM diff GROUP BY op ORDER BY op""".stripMargin),

    Q("entity_upsert", (s, d) => {
      // merge-by-key: expensive orders get repriced (replace), a band of
      // mid-priced orders arrives as new keys (append) — one atomic
      // versioned rewrite, survivors via a single keyed anti-join
      val base = freshScratch("upsert")
      val e = graft.core.Entity.create(s, base, "up")
      val orders = Tables.orders(s, d)
      e.insert(orders.filter(col("o_totalprice") >= 400000))
      val repriced = orders.filter(col("o_totalprice") >= 400000 &&
          col("o_orderstatus") === "O")
        .withColumn("o_totalprice", round(col("o_totalprice") + 1000, 2))
      val fresh = orders.filter(col("o_totalprice") >= 300000 &&
        col("o_totalprice") < 400000)
      e.upsert(repriced.unionByName(fresh), "o_orderkey")
      e.read().groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice"), 2).as("total"))
        .orderBy("o_orderstatus")
    },
      // the merged table = untouched expensive rows + repriced 'O' rows
      // (replaced by key) + the newly-appended mid-price band
      """WITH fin AS (
        |  SELECT o_orderstatus, o_totalprice FROM orders
        |   WHERE o_totalprice >= 400000 AND o_orderstatus <> 'O'
        |  UNION ALL
        |  SELECT o_orderstatus, round(o_totalprice + 1000, 2) FROM orders
        |   WHERE o_totalprice >= 400000 AND o_orderstatus = 'O'
        |  UNION ALL
        |  SELECT o_orderstatus, o_totalprice FROM orders
        |   WHERE o_totalprice >= 300000 AND o_totalprice < 400000
        |)
        |SELECT o_orderstatus, count(*) AS cnt, round(sum(o_totalprice),2) AS total
        |FROM fin GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    Q("partition_pruned_scan", (s, d) => {
      // ByColumn layout + key-skip: kNN over ONLY the label∈{0,1,2}
      // parquet directories (Catalyst partition pruning, no data IO for
      // the other labels) — lossless, so the exact kNN oracle applies.
      // eCP leader-skip stays the approximate variant (PlannerSpec):
      // measured on this corpus, exact top-k recall under leader-skip
      // requires keep = ALL clusters, so it cannot carry this oracle.
      val emb = Tables.embeddings(s, d)
      val q = queryVecOf(emb)
      // the partitioned entity is a one-time artifact (like an index
      // build) — created once per (JVM, data dir), reused by scans;
      // pruned reads go through Entity.readPrunedKeys
      val pruned = graft.core.Entity.open(s, partLayout(s, d), "embp")
        .readPrunedKeys(Seq(0, 1, 2))
      Knn.knn(pruned, Distances.euclidean(col("embedding"), Distances.vecLit(q)),
          50, col("vec_id"))
        .select(col("vec_id"), round(col(Knn.DistanceCol), 4).as("distance"))
    },
      // the ByColumn layout makes the pruned scan EXACTLY the label-subset
      // scan, so the oracle is a plain filtered kNN — no recall caveat
      duckKnn(s"sqrt(${duckSum(s"($dx - $dq)*($dx - $dq)")})", 50,
      where = "WHERE e.label IN (0, 1, 2)"),
      // the filter must appear INSIDE the brackets — an empty
      // "PartitionFilters: []" plus a post-scan filter would otherwise
      // match both markers and hide a pruning regression
      Gate.marker("entity key-skip reaches the scan as partition pruning",
        "PartitionFilters: [ap_partition")),

    Q("zorder_pruned_scan", (s, d) =>
      // z-order layout queried on the NON-leading column: a plain
      // single-column sort would leave l_partkey scattered across every
      // file, but the Morton layout gives each file a bounded l_partkey
      // range, so the pushed BETWEEN filter skips most row groups
      // (pruning asserted file-by-file in Plans). Lossless by
      // construction — the oracle is the unlaid-out filtered scan.
      s.read.parquet(zorderLayout(s, d))
        .filter(col("l_partkey").between(100, 120))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          round(col("l_quantity"), 2).as("l_quantity"))
        .orderBy("l_orderkey", "l_linenumber"),
      """SELECT l_orderkey, l_linenumber, l_partkey, round(l_quantity, 2) AS l_quantity
        |FROM lineitem WHERE l_partkey BETWEEN 100 AND 120
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
      Gate.marker("partkey range filter pushed to the z-ordered scan",
        "PushedFilters: [", "GreaterThanOrEqual(l_partkey", "LessThanOrEqual(l_partkey")),

    Q("entity_vacuum", (s, d) => {
      val base = freshScratch("vac")
      val e = graft.core.Entity.create(s, base, "li")
      e.insert(Tables.lineitem(s, d).filter(col("l_quantity") >= 49))
      e.vacuum(numPartitions = 4) // rewrite must preserve content exactly
      e.read().groupBy("l_returnflag")
        .agg(count(lit(1)).as("cnt"), round(sum("l_quantity"), 2).as("qty"))
        .orderBy("l_returnflag")
    },
      """SELECT l_returnflag, count(*) AS cnt, round(sum(l_quantity),2) AS qty
        |FROM lineitem WHERE l_quantity >= 49
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    Q("sparse_roundtrip", (s, d) => {
      // sparsify → densify round trip preserves every element
      val base = freshScratch("sparse")
      val e = graft.core.Entity.create(s, base, "emb")
      e.insert(Tables.embeddings(s, d).select("vec_id", "embedding"))
      e.sparsify("embedding")
      e.read().select(col("vec_id"),
          round(aggregate(graft.functions.SparseVectors.densify(col("embedding")),
            lit(0.0), (a, x) => a + x.cast("double")), 4).as("vec_sum"))
        .orderBy("vec_id")
    },
      """SELECT vec_id, round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))), 4) AS vec_sum
        |FROM embeddings ORDER BY vec_id""".stripMargin),

    Q("knn_sparse", (s, d) => {
      // the sparse struct is scanned DIRECTLY by the sparse kernel —
      // no densify in the plan, O(nnz) work per row on sparse data
      // (reference Distance.scala:26-55 sparse path). The sparsified
      // entity is a one-time layout artifact, reused across scans.
      val q = queryVecOf(Tables.embeddings(s, d))
      val e = graft.core.Entity.open(s, sparseLayout(s, d), "emb")
      Knn.knn(e.read(),
          graft.functions.SparseDistances.toQuery("euclidean", col("embedding"), q),
          100, col("vec_id"))
        .select(col("vec_id"), round(col(Knn.DistanceCol), 4).as("distance"))
    },
      // the sparse kernel's recomposed sum (base + nonzero walk) differs
      // from left-to-right dense summation only in float rounding order;
      // round(…, 4) absorbs it (asserted to ~1e-9 in DistanceSpec)
      duckKnn(s"sqrt(${duckSum(s"($dx - $dq)*($dx - $dq)")})", 100),
      Gate.marker("sparse kernel scans the struct directly (no densify)",
        "sparse_euclidean", "TakeOrderedAndProject")),

    Q("import_export_roundtrip", (s, d) => {
      val out = freshScratch("ie") + "/docs"
      graft.core.ImportExport.export(Tables.documents(s, d), "json", out)
      graft.core.ImportExport.importTable(s, "json", out)
        .select("doc_id").orderBy("doc_id")
    },
      "SELECT doc_id FROM documents ORDER BY doc_id"),

    Q("random_gen_stats", (s, d) =>
      // the RNG itself has no cross-engine oracle; its CONTRACT does
      graft.core.RandomData.generate(s, 500, 16)
        .agg(count(lit(1)).as("n"), min(size(col("feature"))).as("dmin"),
          max(size(col("feature"))).as("dmax")),
      "SELECT CAST(500 AS BIGINT) AS n, CAST(16 AS INT) AS dmin, CAST(16 AS INT) AS dmax"),

    Q("vertical_reassembly", (s, d) => {
      // per-attribute handler assignment: scalar group in parquet, price
      // group in ORC; reassembly = pk join (reference Entity.scala:91-110)
      val base = verticalScratch
      val groups = Seq(
        graft.core.Vertical.Group("meta", Seq("o_orderstatus", "o_orderpriority")),
        graft.core.Vertical.Group("price", Seq("o_totalprice"),
          graft.sources.StorageHandlers("orc")))
      graft.core.Vertical.write(Tables.orders(s, d), "o_orderkey", groups, base,
        numPartitions = 8)
      graft.core.Vertical.read(s, "o_orderkey", groups, base,
          Seq("o_orderstatus", "o_totalprice"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice"), 2).as("total"))
        .orderBy("o_orderstatus")
    },
      """SELECT o_orderstatus, count(*) AS cnt, round(sum(o_totalprice),2) AS total
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    Q("multimodal_decode", (s, d) => {
      val assets = Multimodal.syntheticAssets(Tables.documents(s, d), "doc_id", "text")
      Multimodal.decodeAssets(assets, dim = 16)
        .select(col("asset_id"), col("modality"), col("n_bytes"))
        .orderBy("asset_id")
    },
      """SELECT doc_id AS asset_id,
        | (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS modality,
        | CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |FROM documents ORDER BY asset_id""".stripMargin),

    Q("video_keyframe_plan", (s, d) => {
      // H.264-shaped frame sampling with NO decoder: real ISO-BMFF bytes
      // per doc (deterministic stsz sizes / stss sync samples), keyframe
      // positions + byte sizes read back from the container tables, first
      // 2 keyframes per asset. The oracle replays the generator formula —
      // so build → parse → plan is byte-level verified end to end.
      val assets = Multimodal.syntheticMp4Assets(Tables.documents(s, d), "doc_id")
      Multimodal.mp4KeyframePlan(assets, maxFrames = 2)
        .orderBy("asset_id", "frame_idx")
    },
      // keyframes fall every 3rd frame from 1 and every asset has >= 4
      // frames, so the 2-keyframe cap always selects frames 1 and 4; the
      // byte sizes replay the generator's formula
      """SELECT doc_id AS asset_id, i AS frame_idx,
        | CAST(500 + (doc_id * 31 + i * 17) % 100 AS BIGINT) AS frame_bytes,
        | TRUE AS keyframe
        |FROM documents CROSS JOIN (VALUES (1), (4)) AS t(i)
        |ORDER BY asset_id, frame_idx""".stripMargin),

    Q("image_neardup_dhash", (s, d) => {
      // REAL perceptual pipeline: deterministic pattern PNGs (3 variants
      // per group: base / rescaled / one-cell edit) → ImageIO decode →
      // 9×8 grid dHash → 4×16-bit banded pairs (exact for Hamming ≤ 3).
      // The oracle never decodes a pixel: it replays Multimodal.patternLum
      // analytically (constant-luminance cells aligned to the dHash grid
      // make expected == actual bit-for-bit) and re-derives the pair set.
      val ids = Tables.documents(s, d).filter(col("doc_id") < 600).select("doc_id")
      Multimodal.imageNearDupPairs(
          Multimodal.syntheticPatternImages(ids, "doc_id"))
        .orderBy("id_a", "id_b")
    },
      // dHash oracle: NO pixel decode — the pattern's cell luminance is a
      // closed formula (Multimodal.patternLum), cells align exactly with
      // the 9×8 dHash grid and PNG is lossless, so expected bit (gy,gx) =
      // lum(gx) < lum(gx+1) analytically; pairs re-derived per bit with
      // Hamming ≤ 3 (the banding is exact in that range)
      """WITH ids AS (
        |  SELECT doc_id AS id, doc_id // 3 AS g, CAST(doc_id % 3 AS INT) AS v
        |  FROM documents WHERE doc_id < 600),
        |bits AS (
        |  SELECT id, t.i AS i,
        |    (CASE WHEN v = 2 AND (t.i % 8) = g % 8 AND (t.i // 8) = (g // 8) % 8 THEN 0
        |          ELSE 10 + (((t.i % 8) * 29 + (t.i // 8) * 13 + g * 17) % 200) END
        |     <
        |     CASE WHEN v = 2 AND (t.i % 8) + 1 = g % 8 AND (t.i // 8) = (g // 8) % 8 THEN 0
        |          ELSE 10 + ((((t.i % 8) + 1) * 29 + (t.i // 8) * 13 + g * 17) % 200) END) AS bit
        |  FROM ids, generate_series(0, 63) AS t(i))
        |SELECT a.id AS id_a, b.id AS id_b,
        |       CAST(count(*) FILTER (WHERE a.bit <> b.bit) AS INT) AS hamming
        |FROM bits a JOIN bits b ON a.i = b.i AND a.id < b.id
        |GROUP BY a.id, b.id
        |HAVING count(*) FILTER (WHERE a.bit <> b.bit) <= 3
        |ORDER BY id_a, id_b""".stripMargin),

    Q("audio_neardup_ahash", (s, d) => {
      // same contract for audio: envelope WAVs (base / 16 kHz resample /
      // one silenced window) → sampled-audio decode → 65-window RMS
      // aHash → banded pairs; oracle replays Multimodal.envAmp (adjacent
      // windows differ by ≥ 2000, so RMS ordering == amp ordering)
      val ids = Tables.documents(s, d).filter(col("doc_id") < 600).select("doc_id")
      Multimodal.audioNearDupPairs(
          Multimodal.syntheticEnvelopeAudio(ids, "doc_id"))
        .orderBy("id_a", "id_b")
    },
      // aHash oracle: expected bit k = amp(k) < amp(k+1) from
      // Multimodal.envAmp (adjacent window amplitudes always differ by ≥
      // 2000, far above the carrier's RMS estimation noise)
      """WITH ids AS (
        |  SELECT doc_id AS id, doc_id // 3 AS g, CAST(doc_id % 3 AS INT) AS v
        |  FROM documents WHERE doc_id < 600),
        |bits AS (
        |  SELECT id, t.k AS k,
        |    (CASE WHEN v = 2 AND t.k = (g % 63) + 1 THEN 0
        |          ELSE 2000 + ((t.k + g) % 7) * 2000 END
        |     <
        |     CASE WHEN v = 2 AND t.k + 1 = (g % 63) + 1 THEN 0
        |          ELSE 2000 + ((t.k + 1 + g) % 7) * 2000 END) AS bit
        |  FROM ids, generate_series(0, 63) AS t(k))
        |SELECT a.id AS id_a, b.id AS id_b,
        |       CAST(count(*) FILTER (WHERE a.bit <> b.bit) AS INT) AS hamming
        |FROM bits a JOIN bits b ON a.k = b.k AND a.id < b.id
        |GROUP BY a.id, b.id
        |HAVING count(*) FILTER (WHERE a.bit <> b.bit) <= 3
        |ORDER BY id_a, id_b""".stripMargin),

    Q("kv_point_lookup", (s, d) => {
      // LevelDB/PalDB-role point lookup: bucket-pruned + row-group-skipped
      // read from the one-time key-value layout artifact
      val dir = kvLayout(s, d)
      kvHandler.get(s, dir, Seq(10L, 57L, 150L))
        .select(col("p_partkey"), col("p_name"),
          round(col("p_retailprice"), 2).as("p_retailprice"))
        .orderBy("p_partkey")
    },
      """SELECT p_partkey, p_name, round(p_retailprice, 2) AS p_retailprice
        |FROM part WHERE p_partkey IN (10, 57, 150) ORDER BY p_partkey""".stripMargin,
      Gate.marker("KV lookup prunes to bucket dirs + pushes the key filter",
        "PartitionFilters: [__kv_bucket", "PushedFilters: [", "In(p_partkey")),
  )
}
