package graft
package battery

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.{HeavyHitters, KmvDistinct}
import graft.operators._
import Helpers._

/** LLM data-pipeline battery: sketches, sampling, mixtures, packing
  * and the end-to-end pipeline. */
object PipelineQueries {

  val queries: Seq[Q] = Seq(
    Q("corpus_mix_rollup", (s, d) =>
      // OLAP rollup: per-(source, lang) counts with per-source and
      // grand totals in one Expand-based aggregation
      Tables.documents(s, d)
        .rollup(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
        .select(coalesce(col("source"), lit("<all>")).as("source"),
          coalesce(col("lang"), lit("<all>")).as("lang"),
          col("n_docs"), col("total_chars"))
        .orderBy("source", "lang"),
      """SELECT coalesce(source, '<all>') AS source, coalesce(lang, '<all>') AS lang,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY ROLLUP(source, lang)
        |ORDER BY source, lang""".stripMargin),

    Q("corpus_mix_report", (s, d) => Tables.documents(s, d)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("total_tokens"))
      .orderBy("source", "lang"),
      s"""SELECT source, lang, count(*) AS n_docs,
         | CAST(sum(n_chars) AS BIGINT) AS total_chars,
         | CAST(sum(len($duckToks)) AS BIGINT) AS total_tokens
         |FROM documents GROUP BY source, lang ORDER BY source, lang""".stripMargin,
      Gate.marker("map-side partial aggregation on (source, lang)",
        "partial_count", "HashAggregate")),

    Q("sample_split_assign", (s, d) =>
      Sampling.splitAssign(Tables.documents(s, d), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "split").orderBy("doc_id"),
      s"""SELECT doc_id,
         |  CASE WHEN h % 10000 < 8000 THEN 'train'
         |       WHEN h % 10000 < 9000 THEN 'val' ELSE 'test' END AS split
         |FROM (SELECT doc_id, ${duckRawHash("CAST(doc_id AS VARCHAR)")} AS h
         |      FROM documents)
         |ORDER BY doc_id""".stripMargin,
      Gate.noShuffle("split labels are a pure codegen projection")),

    Q("sample_split_by_content", (s, d) =>
      // leakage-safe split: the split key is the NORMALIZED CONTENT
      // hash, so exact/whitespace-case duplicates always land in the
      // same split — the train/test contamination a row-keyed split
      // cannot prevent
      Sampling.splitAssign(
          Tables.documents(s, d)
            .withColumn("content_key", md5(Dedup.normalize(col("text")))),
          "content_key", Seq("train" -> 0.9, "test" -> 0.1))
        .select("doc_id", "split").orderBy("doc_id"),
      s"""SELECT doc_id,
         |  CASE WHEN h % 10000 < 9000 THEN 'train' ELSE 'test' END AS split
         |FROM (SELECT doc_id, ${duckRawHash(s"md5($duckNorm)")} AS h
         |      FROM documents)
         |ORDER BY doc_id""".stripMargin),

    Q("distinct_kmv", (s, d) =>
      // per-type distinct-user cardinality: exact count(DISTINCT) next
      // to the KMV-64 sketch estimate. The fixture has 150 distinct
      // users per type > k=64, so the ESTIMATOR path runs (not the
      // exact-below-k fallback); the oracle replays the portable hash
      // and the same (k-1)*range/kthMin arithmetic bit-for-bit. At
      // scale the sketch ships ≤64 longs per (partition, group) through
      // the exchange where count(DISTINCT) shuffles every distinct key.
      Tables.events(s, d)
        .filter(col("event_type").isNotNull && col("user_id").isNotNull)
        .groupBy("event_type")
        .agg(
          countDistinct(col("user_id")).as("n_exact"),
          round(KmvDistinct.kmv(Sampling.keyHash(col("user_id")), 64), 4)
            .as("kmv_est"))
        .orderBy("event_type"),
      // KMV replay: k-th smallest DISTINCT portable hash per group, same
      // (k-1)*range/kthMin arithmetic (IEEE double division is exactly
      // rounded in both engines, so the estimates agree bit-for-bit)
      s"""WITH h AS (
         | SELECT DISTINCT event_type,
         |        ${duckRawHash("CAST(user_id AS VARCHAR)")} AS hv
         | FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
         |r AS (
         | SELECT event_type, hv,
         |        row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn,
         |        count(*) OVER (PARTITION BY event_type) AS nd
         | FROM h)
         |SELECT event_type,
         |  CAST(max(nd) AS BIGINT) AS n_exact,
         |  round(CASE WHEN max(nd) < 64 THEN CAST(max(nd) AS DOUBLE)
         |    ELSE 63.0 * 1000000007.0 /
         |         CAST(max(CASE WHEN rn = 64 THEN hv END) AS DOUBLE)
         |    END, 4) AS kmv_est
         |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin,
      Gate.marker("KMV sketch partial-aggregates map-side (≤k longs per partition-group)",
        "partial_kmv_distinct", "ObjectHashAggregate")),

    Q("sketch_profile", (s, d) => {
      // per-source corpus profile in ONE aggregation pass: doc/token
      // volumes, KMV-16 distinct-token estimate (k < the ~31-token
      // vocabulary → estimator path) with the exact count alongside,
      // and the top token from the exact-regime MG summary — the
      // text-corpus `table_profile` built from bounded-memory state
      val toks = Tables.documents(s, d)
        .select(col("source"),
          explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
        .filter(col("tok") =!= "")
      toks.groupBy("source")
        .agg(
          count(lit(1)).as("n_tokens"),
          countDistinct(col("tok")).as("n_distinct_exact"),
          round(KmvDistinct.kmv(Sampling.keyHash(col("tok")), 16), 4)
            .as("kmv_est"),
          element_at(graft.functions.HeavyHitters.hitters(col("tok"), 64), 1)
            .getField("key").as("top_token"))
        .orderBy("source")
    },
      // per-source token stream; KMV-16 replay + exact top token
      s"""WITH t AS (
         | SELECT source, unnest($duckToks) AS tok FROM documents),
         |tt AS (SELECT source, tok FROM t WHERE tok <> ''),
         |h AS (SELECT DISTINCT source, ${duckRawHash("tok")} AS hv FROM tt),
         |r AS (SELECT source, hv,
         |        row_number() OVER (PARTITION BY source ORDER BY hv) AS rn,
         |        count(*) OVER (PARTITION BY source) AS nd FROM h),
         |kmv AS (SELECT source,
         |  CASE WHEN max(nd) < 16 THEN CAST(max(nd) AS DOUBLE)
         |    ELSE 15.0 * 1000000007.0 /
         |         CAST(max(CASE WHEN rn = 16 THEN hv END) AS DOUBLE) END AS est
         |  FROM r GROUP BY source),
         |tc AS (SELECT source, tok, count(*) AS c FROM tt GROUP BY 1, 2),
         |top AS (SELECT source, tok FROM (
         |  SELECT source, tok,
         |    row_number() OVER (PARTITION BY source ORDER BY c DESC, tok) AS rk
         |  FROM tc) WHERE rk = 1)
         |SELECT tt.source,
         |  count(*) AS n_tokens,
         |  count(DISTINCT tt.tok) AS n_distinct_exact,
         |  round(any_value(kmv.est), 4) AS kmv_est,
         |  any_value(top.tok) AS top_token
         |FROM tt
         |JOIN kmv ON kmv.source = tt.source
         |JOIN top ON top.source = tt.source
         |GROUP BY tt.source ORDER BY tt.source""".stripMargin),

    Q("distinct_overlap", (s, d) =>
      // audience overlap between event types WITHOUT joining the raw
      // keys (Sketches.audienceOverlap): per-type KMV min-sets +
      // theta-sketch pair estimates. The battery opts INTO the exact
      // calibration column (`exact = true` — a distinct-pair self-join,
      // deliberately not the library default at scale) so the oracle
      // can check the estimates against DuckDB's exact replay.
      graft.operators.Sketches.audienceOverlap(
          Tables.events(s, d), "event_type", "user_id", k = 64, exact = true)
        .orderBy("type_a", "type_b"),
      // theta-sketch replay: per-type k-min sets, per-pair union k-mins,
      // matching fraction, identical estimator arithmetic
      s"""WITH d AS (
         | SELECT DISTINCT event_type AS t, user_id AS u,
         |   ${duckRawHash("CAST(user_id AS VARCHAR)")} AS hv
         | FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
         |h AS (SELECT DISTINCT t, hv FROM d),
         |r AS (SELECT t, hv, row_number() OVER (PARTITION BY t ORDER BY hv) AS rn,
         |        count(*) OVER (PARTITION BY t) AS nd FROM h),
         |tn AS (SELECT t, max(nd) AS nd FROM r GROUP BY t),
         |mins AS (SELECT t, hv FROM r WHERE rn <= 64),
         |tl AS (SELECT DISTINCT t FROM mins),
         |pairs AS (SELECT a.t AS ta, b.t AS tb FROM tl a, tl b WHERE a.t < b.t),
         |allu AS (SELECT DISTINCT p.ta, p.tb, m.hv
         |  FROM pairs p JOIN mins m ON m.t = p.ta OR m.t = p.tb),
         |ur AS (SELECT ta, tb, hv,
         |        row_number() OVER (PARTITION BY ta, tb ORDER BY hv) AS rn
         |  FROM allu),
         |uagg AS (SELECT ta, tb, count(*) AS nall FROM allu GROUP BY 1, 2),
         |theta AS (SELECT ta, tb, max(hv) AS th FROM ur WHERE rn <= 64 GROUP BY 1, 2),
         |jj AS (SELECT u.ta, u.tb, count(*) AS j FROM ur u
         |  JOIN mins ma ON ma.t = u.ta AND ma.hv = u.hv
         |  JOIN mins mb ON mb.t = u.tb AND mb.hv = u.hv
         |  WHERE u.rn <= 64 GROUP BY 1, 2),
         |iex AS (SELECT ma.t AS ta, mb.t AS tb, count(*) AS ni
         |  FROM mins ma JOIN mins mb ON ma.hv = mb.hv AND ma.t < mb.t
         |  GROUP BY 1, 2),
         |ex AS (SELECT a.t AS ta, b.t AS tb, count(*) AS ne
         |  FROM d a JOIN d b ON a.u = b.u AND a.t < b.t GROUP BY 1, 2)
         |SELECT p.ta AS type_a, p.tb AS type_b,
         |  round(CASE WHEN xa.nd < 64 AND xb.nd < 64 THEN CAST(ua.nall AS DOUBLE)
         |    ELSE 63.0 * 1000000007.0 / CAST(th.th AS DOUBLE) END, 4) AS est_union,
         |  round(CASE WHEN xa.nd < 64 AND xb.nd < 64 THEN CAST(coalesce(ix.ni, 0) AS DOUBLE)
         |    ELSE CAST(coalesce(jj.j, 0) AS DOUBLE) / 64.0 *
         |         (63.0 * 1000000007.0 / CAST(th.th AS DOUBLE)) END, 4) AS est_intersect,
         |  CAST(coalesce(ex.ne, 0) AS BIGINT) AS n_exact
         |FROM pairs p
         |JOIN tn xa ON xa.t = p.ta
         |JOIN tn xb ON xb.t = p.tb
         |JOIN uagg ua ON ua.ta = p.ta AND ua.tb = p.tb
         |JOIN theta th ON th.ta = p.ta AND th.tb = p.tb
         |LEFT JOIN jj ON jj.ta = p.ta AND jj.tb = p.tb
         |LEFT JOIN iex ix ON ix.ta = p.ta AND ix.tb = p.tb
         |LEFT JOIN ex ON ex.ta = p.ta AND ex.tb = p.tb
         |ORDER BY type_a, type_b""".stripMargin,
      // the sketch leg runs eagerly (bounded |types|-array collect) so it
      // is not part of the returned plan; the assertable shape is the
      // exact calibration leg: broadcast keyed join + map-side count over
      // a pushed-filter scan
      Gate.marker("exact overlap leg broadcasts + partial-aggregates",
        "BroadcastHashJoin", "partial_count", "PushedFilters")),

    Q("heavy_hitters", (s, d) =>
      // corpus-vocabulary heavy hitters via the bounded Misra–Gries
      // summary: capacity 64 ≥ the synthetic vocabulary, so the summary
      // is PROVABLY exact (err 0) and the plain group-by-count oracle
      // replays it; the capacity-bounded lossy regime (where no SQL
      // replay exists) is spec-covered with its guarantee bounds. The
      // aggregate state stays O(64) per partition no matter how many
      // distinct tokens stream through — the 100 TB form of "top
      // tokens" without a per-token shuffle.
      Tables.documents(s, d)
        .select(explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
        .filter(col("tok") =!= "")
        .agg(HeavyHitters.hitters(col("tok"), 64).as("hh"))
        .select(explode(col("hh")).as("h"))
        .select(col("h.key").as("token"), col("h.count").as("cnt"),
          col("h.err").as("err"))
        .orderBy(col("cnt").desc, col("token"))
        .limit(20),
      // capacity ≥ vocabulary → the MG summary equals the exact count
      s"""SELECT tok AS token, count(*) AS cnt, CAST(0 AS BIGINT) AS err
         |FROM (SELECT unnest($duckToks) AS tok FROM documents)
         |WHERE tok <> '' GROUP BY tok
         |ORDER BY cnt DESC, token LIMIT 20""".stripMargin,
      Gate.marker("MG summary partial-aggregates map-side (≤m counters per partition)",
        "partial_heavy_hitters", "ObjectHashAggregate")),

    Q("length_quantiles", (s, d) => Tables.documents(s, d)
      // exact interpolated percentiles (rank = p·(n−1)) — both engines
      // implement the same continuous-quantile definition
      .groupBy(col("source"))
      .agg(round(expr("percentile(n_chars, 0.5)"), 4).as("p50"),
        round(expr("percentile(n_chars, 0.9)"), 4).as("p90"))
      .orderBy("source"),
      """SELECT source, round(quantile_cont(n_chars, 0.5), 4) AS p50,
        | round(quantile_cont(n_chars, 0.9), 4) AS p90
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),

    Q("dataset_card", (s, d) =>
      // the corpus summary a training-data team publishes: size, token
      // mass, source/language diversity, exact-dup mass, PII presence —
      // ONE aggregation pass (count-distincts expand, stay partial),
      // all-integer so the card replays with zero float-order caveats
      Tables.documents(s, d).agg(
        count(lit(1)).as("n_docs"),
        sum("n_chars").as("total_chars"),
        sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("total_tokens"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(md5(Dedup.normalize(col("text")))).as("n_distinct_contents"),
        sum(when(TextAnalysis.piiCount(col("text"), TextAnalysis.EmailRe) > 0, 1L)
          .otherwise(0L)).as("n_docs_with_email")),
      s"""SELECT count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |  CAST(sum(len($duckToks)) AS BIGINT) AS total_tokens,
         |  count(DISTINCT source) AS n_sources,
         |  count(DISTINCT lang) AS n_langs,
         |  count(DISTINCT md5($duckNorm)) AS n_distinct_contents,
         |  CAST(sum(CASE WHEN len(regexp_extract_all(text, '${TextAnalysis.EmailRe}')) > 0
         |           THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_with_email
         |FROM documents""".stripMargin),

    Q("sample_bernoulli", (s, d) =>
      Sampling.bernoulliSample(Tables.documents(s, d), "text", 0.25)
        .select("doc_id").orderBy("doc_id"),
      s"""SELECT doc_id FROM
         | (SELECT doc_id, ${duckRawHash("text")} AS h FROM documents)
         |WHERE h % 10000 < 2500 ORDER BY doc_id""".stripMargin),

    Q("training_order_shuffle", (s, d) =>
      // reproducible pre-training shuffle: hash-of-(id, seed) sort key,
      // replayable by any engine; the key values ARE the verified order
      Sampling.deterministicShuffle(
          Tables.documents(s, d).select("doc_id"), "doc_id", seed = 42)
        .select(col("doc_id"), col("shuffle_key")),
      s"""SELECT doc_id,
         | ${duckRawHash("(CAST(doc_id AS VARCHAR) || ':42')")} AS shuffle_key
         |FROM documents ORDER BY shuffle_key, doc_id""".stripMargin),

    Q("sample_weighted_mix", (s, d) =>
      Sampling.weightedMix(Tables.documents(s, d), "lang", "text",
          weights = Map("en" -> 0.5, "de" -> 0.2), defaultWeight = 0.1)
        .select("doc_id", "lang").orderBy("doc_id"),
      s"""SELECT doc_id, lang FROM
         | (SELECT doc_id, lang, ${duckRawHash("text")} AS h FROM documents)
         |WHERE h % 10000 < (CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 2000
         |                   ELSE 1000 END)
         |ORDER BY doc_id""".stripMargin),

    Q("sample_epoch_mix", (s, d) =>
      // fractional-epoch mixture: src1 repeats 2.5x (2 copies + hash-
      // gated third), src0 downsamples to 0.25, everything else 1 epoch
      Sampling.epochMix(Tables.documents(s, d), "source", "text",
          epochs = Map("src0" -> 0.25, "src1" -> 2.5), defaultEpochs = 1.0)
        .select("doc_id", "source", "ap_epoch")
        .orderBy("doc_id", "ap_epoch"),
      s"""SELECT doc_id, source, unnest(generate_series(1, n)) AS ap_epoch FROM (
         | SELECT doc_id, source,
         |  CAST(floor(e) AS BIGINT)
         |   + CASE WHEN (h % 10000) < CAST(round((e - floor(e)) * 10000) AS INT)
         |          THEN 1 ELSE 0 END AS n
         | FROM (SELECT doc_id, source,
         |        CASE source WHEN 'src0' THEN 0.25 WHEN 'src1' THEN 2.5
         |             ELSE 1.0 END AS e,
         |        ${duckRawHash("text")} AS h
         |       FROM documents))
         |ORDER BY doc_id, ap_epoch""".stripMargin),

    Q("sample_temperature_mix", (s, d) =>
      // sqrt-temperature rebalance over a SKEWED derived mixture (the
      // bundled sources are uniform, which would make every factor
      // exactly 1.0): web 60% / books 30% / code 10% flatten toward
      // sqrt-shares — web downsamples (~0.79x), books ~1.11x, code
      // repeats ~1.93x. All factor math is integer (milli-isqrt +
      // per-10000 cut), so DuckDB replays the kept multiset bit-for-bit
      Sampling.sqrtTemperatureMix(
          Tables.documents(s, d).withColumn("dom",
            when(pmod(col("doc_id"), lit(10)) < 6, "web")
              .when(pmod(col("doc_id"), lit(10)) < 9, "books")
              .otherwise("code")),
          "dom", "text")
        .select("doc_id", "dom", "ap_epoch")
        .orderBy("doc_id", "ap_epoch"),
      // integer replay of the sqrt-temperature factors: milli-isqrt
      // (floor over a correctly-rounded sqrt of an exactly-representable
      // integer), integer sums, one integer division per domain — no
      // float pow anywhere, so Spark and DuckDB agree bit-for-bit
      s"""WITH dd AS (
         |  SELECT doc_id, text,
         |    CASE WHEN doc_id % 10 < 6 THEN 'web'
         |         WHEN doc_id % 10 < 9 THEN 'books' ELSE 'code' END AS dom
         |  FROM documents),
         |c AS (SELECT dom, count(*) AS n FROM dd GROUP BY dom),
         |s AS (SELECT dom, n,
         |        CAST(floor(sqrt(CAST(n AS DOUBLE) * 1000000)) AS BIGINT) AS sd FROM c),
         |t AS (SELECT sum(sd) AS ssum, sum(n) AS ntot FROM s),
         |f AS (SELECT dom, (sd * ntot * 10000) // (ssum * n) AS fd FROM s, t)
         |SELECT doc_id, dom, unnest(generate_series(1, nc)) AS ap_epoch FROM (
         | SELECT d.doc_id, d.dom,
         |  CAST(fd // 10000
         |       + CASE WHEN (h % 10000) < fd % 10000 THEN 1 ELSE 0 END AS BIGINT) AS nc
         | FROM (SELECT doc_id, dom, ${duckRawHash("text")} AS h FROM dd) d
         | JOIN f USING (dom))
         |ORDER BY doc_id, ap_epoch""".stripMargin,
      Gate.marker("factor table broadcast-joins back (no literal map)", "BroadcastHashJoin")),

    Q("sample_token_budget", (s, d) =>
      // per-domain TOKEN budgets (not row counts): longest docs first,
      // src0 dropped outright, src1 effectively uncapped
      Sampling.tokenBudgetSample(Tables.documents(s, d), "source", "doc_id",
          TextAnalysis.tokenCount(col("text")).cast("long"),
          budgets = Map("src0" -> 0L, "src1" -> 100000L), defaultBudget = 800L,
          priority = Some(col("n_chars")))
        .select("doc_id", "source").orderBy("doc_id"),
      s"""SELECT doc_id, source FROM (
         | SELECT doc_id, source, tok,
         |  CASE source WHEN 'src0' THEN 0 WHEN 'src1' THEN 100000 ELSE 800 END AS b,
         |  sum(tok) OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         | FROM (SELECT doc_id, source, n_chars,
         |         CAST(len($duckToks) AS BIGINT) AS tok FROM documents))
         |WHERE cum - tok < b ORDER BY doc_id""".stripMargin,
      Gate.marker("budget table broadcast; one domain-keyed window", "BroadcastHashJoin", "Window")),

    Q("sample_weighted_len", (s, d) =>
      // soft length filter: keep probability = min(1, n_chars / 4000)
      Sampling.weightedBernoulli(Tables.documents(s, d), "text",
          least(lit(1.0), col("n_chars") / lit(4000.0)))
        .select("doc_id", "n_chars").orderBy("doc_id"),
      // floor on BOTH engines: DuckDB's double->int CAST rounds while
      // Spark's truncates, so the cut is an explicit floor everywhere
      s"""SELECT doc_id, n_chars FROM
         | (SELECT doc_id, n_chars, ${duckRawHash("text")} AS h FROM documents)
         |WHERE h % 10000 < floor(least(1.0, n_chars / 4000.0) * 10000)
         |ORDER BY doc_id""".stripMargin,
      Gate.noShuffle("weighted sample is a pure codegen filter")),

    Q("sample_stratified", (s, d) =>
      Sampling.stratifiedSample(Tables.documents(s, d), "lang", "doc_id", 0.2)
        .select("doc_id", "lang").orderBy("doc_id"),
      s"""WITH h AS (SELECT doc_id, lang,
         |             ${duckRawHash("CAST(doc_id AS VARCHAR)")} AS kh
         |           FROM documents),
         |r AS (SELECT doc_id, lang,
         |        row_number() OVER (PARTITION BY lang ORDER BY kh, doc_id) AS rn,
         |        ceil(0.2 * count(*) OVER (PARTITION BY lang)) AS quota FROM h)
         |SELECT doc_id, lang FROM r WHERE rn <= quota ORDER BY doc_id""".stripMargin),

    Q("sample_stratified_by", (s, d) =>
      Sampling.stratifiedSampleBy(Tables.documents(s, d), "lang", "doc_id",
          fractions = Map("en" -> 0.5, "zh" -> 0.0), defaultFraction = 0.1)
        .select("doc_id", "lang").orderBy("doc_id"),
      s"""WITH h AS (SELECT doc_id, lang,
         |             ${duckRawHash("CAST(doc_id AS VARCHAR)")} AS kh
         |           FROM documents),
         |r AS (SELECT doc_id, lang,
         |        row_number() OVER (PARTITION BY lang ORDER BY kh, doc_id) AS rn,
         |        ceil((CASE lang WHEN 'en' THEN 0.5 WHEN 'zh' THEN 0.0 ELSE 0.1 END)
         |             * count(*) OVER (PARTITION BY lang)) AS quota FROM h)
         |SELECT doc_id, lang FROM r WHERE rn <= quota ORDER BY doc_id""".stripMargin),

    Q("sample_exact_n", (s, d) =>
      Sampling.exactSample(Tables.documents(s, d), "doc_id", 100)
        .select("doc_id").orderBy("doc_id"),
      s"""SELECT doc_id FROM (
         |  SELECT doc_id FROM
         |   (SELECT doc_id, ${duckRawHash("CAST(doc_id AS VARCHAR)")} AS h FROM documents)
         |  ORDER BY h, doc_id LIMIT 100
         |) ORDER BY doc_id""".stripMargin),

    Q("pack_chunks", (s, d) =>
      Packing.chunkAssignments(
        Tables.documents(s, d).select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("tok_cnt")),
        "doc_id", "tok_cnt", budget = 512L, nShards = 8)
        .orderBy("id"),
      s"""WITH t AS (SELECT doc_id AS id, CAST(len($duckToks) AS BIGINT) AS tok,
         |             ${duckRawHash("CAST(doc_id AS VARCHAR)")} % 8 AS shard
         |           FROM documents),
         |c AS (SELECT id, shard, tok,
         |        CAST(sum(tok) OVER (PARTITION BY shard ORDER BY id) AS BIGINT) AS end_off FROM t)
         |SELECT id, shard, end_off - tok AS start_off,
         |       (end_off - tok) // 512 AS first_chunk,
         |       CASE WHEN tok = 0 THEN 0
         |            ELSE (end_off - 1) // 512 - (end_off - tok) // 512 + 1 END AS n_chunks
         |FROM c ORDER BY id""".stripMargin),

    Q("pipeline_end_to_end", (s, d) => {
      // the whole training-data pipeline as ONE declarative plan:
      // quality floor → exact dedup → SemDeDup survivors (over the
      // docs' embeddings) → sequence packing of what remains. Every
      // stage is a verified battery operator; Catalyst fuses the lot.
      val docs = Tables.documents(s, d)
      val emb = Tables.embeddings(s, d)
      val floor = docs.filter(TextAnalysis.qualityScore(col("text")) >= 0.5)
      val ex = Dedup.dropExactDups(floor, "text", "doc_id")
      // the cleaned frame feeds the pair join twice (a/b sides) and the
      // final anti-join — materialize it ONCE, call-scoped, or the
      // quality scan + dedup window + join replay per reference (same
      // pattern as dedupPipeline's internal checkpoint)
      val joined = graft.core.Materialize(
        ex.join(emb, col("doc_id") === col("vec_id")))
      val surv = Ann.semanticDedupSurvivors(joined, "doc_id", "embedding",
        seedCentroids(emb, 16), 0.35)
      Packing.chunkAssignments(
        surv.select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("tok_cnt")),
        "doc_id", "tok_cnt", budget = 512L, nShards = 8)
        .orderBy("id")
    },
      {
        val quality =
          s"""( least(length(text) / 200.0, 1.0)
             |  + greatest(0.0, 1.0 - (CASE WHEN length(text) = 0 THEN 0.0 ELSE
             |      CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / length(text) END) * 5.0)
             |  + least((CAST(len(list_filter($duckToks, t -> list_contains($duckStops, t))) AS DOUBLE) / len($duckToks)) * 5.0, 1.0)
             | ) / 3.0""".stripMargin
        val dotNC = duckSum("CAST(n.embedding[i] AS DOUBLE)*CAST(c.cv[i] AS DOUBLE)")
        val dotCC = duckSum("CAST(c.cv[i] AS DOUBLE)*CAST(c.cv[i] AS DOUBLE)")
        val dotEE = duckSum("CAST(em.embedding[i] AS DOUBLE)*CAST(em.embedding[i] AS DOUBLE)")
        val dotAB = duckSum("CAST(a.embedding[i] AS DOUBLE)*CAST(b.embedding[i] AS DOUBLE)")
        s"""WITH q AS (SELECT doc_id, text FROM documents WHERE $quality >= 0.5),
           |ex AS (SELECT doc_id, text FROM q
           |       QUALIFY row_number() OVER (PARTITION BY md5($duckNorm) ORDER BY doc_id) = 1),
           |c AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
           |       embedding AS cv FROM embeddings WHERE vec_id < 16),
           |n AS (SELECT e.doc_id, e.text, em.embedding, sqrt($dotEE) AS nrm
           |      FROM ex e JOIN embeddings em ON e.doc_id = em.vec_id),
           |sim AS (SELECT n.doc_id, c.cid,
           |  CASE WHEN sqrt($dotCC) < 1e-5 OR n.nrm < 1e-5 THEN 0.0
           |       ELSE $dotNC / (n.nrm * sqrt($dotCC)) END AS cs
           |  FROM n, c),
           |best AS (SELECT doc_id, cid AS cluster FROM sim
           |  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY cs DESC, cid ASC) = 1),
           |nb AS (SELECT b.cluster, n.doc_id, n.text, n.embedding, n.nrm
           |       FROM n JOIN best b ON n.doc_id = b.doc_id),
           |pairs AS (
           |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |    CASE WHEN a.nrm < 1e-5 OR b.nrm < 1e-5 THEN 0.0
           |         ELSE $dotAB / (a.nrm * b.nrm) END AS cs
           |  FROM nb a JOIN nb b ON a.cluster = b.cluster AND a.doc_id < b.doc_id),
           |surv AS (SELECT doc_id, text FROM nb
           |  WHERE doc_id NOT IN (SELECT DISTINCT id_b FROM pairs WHERE cs >= 0.35)),
           |t AS (SELECT doc_id AS id, CAST(len($duckToks) AS BIGINT) AS tok,
           |        ${duckRawHash("CAST(doc_id AS VARCHAR)")} % 8 AS shard FROM surv),
           |packed AS (SELECT id, shard, tok,
           |  CAST(sum(tok) OVER (PARTITION BY shard ORDER BY id) AS BIGINT) AS end_off FROM t)
           |SELECT id, shard, end_off - tok AS start_off,
           |       (end_off - tok) // 512 AS first_chunk,
           |       CASE WHEN tok = 0 THEN 0
           |            ELSE (end_off - 1) // 512 - (end_off - tok) // 512 + 1 END AS n_chunks
           |FROM packed ORDER BY id""".stripMargin
      }),

    Q("pack_chunk_rows", (s, d) =>
      Packing.chunkRows(
        Tables.documents(s, d).select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("tok_cnt")),
        "doc_id", "tok_cnt", budget = 512L, nShards = 8)
        .orderBy("id", "chunk_idx"),
      s"""WITH t AS (SELECT doc_id AS id, CAST(len($duckToks) AS BIGINT) AS tok,
         |             ${duckRawHash("CAST(doc_id AS VARCHAR)")} % 8 AS shard
         |           FROM documents),
         |c AS (SELECT id, shard, tok,
         |        CAST(sum(tok) OVER (PARTITION BY shard ORDER BY id) AS BIGINT) AS end_off FROM t),
         |b AS (SELECT id, shard, tok, end_off, end_off - tok AS start_off
         |      FROM c WHERE tok > 0),
         |r AS (SELECT id, shard, start_off, end_off,
         |        unnest(generate_series(start_off // 512, (end_off - 1) // 512)) AS ci
         |      FROM b)
         |SELECT id, shard, CAST(ci AS BIGINT) AS chunk_idx,
         |       CAST(least(end_off, (ci + 1) * 512) -
         |            greatest(start_off, ci * 512) AS BIGINT) AS tok_in_chunk
         |FROM r ORDER BY id, chunk_idx""".stripMargin,
      Gate.marker("chunk rows stay on the one shard-keyed window shuffle",
        "Window", "Generate explode")),

    Q("value_quantile_sketch", (s, d) => {
      // quantile member of the sketch trio: per-type p50/p90/p99 of
      // `value` from a bottom-k-by-hash row sample (k=64 < ~2000 rows
      // per type at sf0.01 → genuinely the sampled path). O(k) state
      // per group and ≤k (hash, value) pairs through the exchange where
      // exact percentile_approx-style summaries grow with data; the
      // deterministic hash membership is what the oracle replays.
      val k = 64
      Tables.events(s, d)
        .filter(col("event_type").isNotNull && col("value").isNotNull)
        .groupBy("event_type")
        .agg(
          graft.functions.BottomKSample.sample(
            Sampling.keyHash(col("event_id")), col("value"), k).as("smp"),
          count(lit(1)).as("n_rows"))
        .select(col("event_type"), col("n_rows"),
          size(col("smp")).as("n_sample"),
          round(graft.functions.BottomKSample.quantileAt(col("smp"), 0.5), 2).as("p50_est"),
          round(graft.functions.BottomKSample.quantileAt(col("smp"), 0.9), 2).as("p90_est"),
          round(graft.functions.BottomKSample.quantileAt(col("smp"), 0.99), 2).as("p99_est"))
        .orderBy("event_type")
    },
      s"""WITH b AS (SELECT event_type, ${duckRawHash("CAST(event_id AS VARCHAR)")} AS h, value
         |           FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
         | n AS (SELECT event_type, count(*) AS n_rows FROM b GROUP BY event_type),
         | dh AS (SELECT event_type, h, min(value) AS v FROM b GROUP BY event_type, h),
         | rk AS (SELECT event_type, v,
         |          row_number() OVER (PARTITION BY event_type ORDER BY h) AS r FROM dh),
         | smp AS (SELECT event_type, list_sort(list(v)) AS ls
         |         FROM rk WHERE r <= 64 GROUP BY event_type)
         |SELECT smp.event_type, n.n_rows, len(ls) AS n_sample,
         |  round(ls[greatest(1, CAST(ceil(0.5 * len(ls)) AS BIGINT))], 2) AS p50_est,
         |  round(ls[greatest(1, CAST(ceil(0.9 * len(ls)) AS BIGINT))], 2) AS p90_est,
         |  round(ls[greatest(1, CAST(ceil(0.99 * len(ls)) AS BIGINT))], 2) AS p99_est
         |FROM smp JOIN n ON smp.event_type = n.event_type
         |ORDER BY smp.event_type""".stripMargin),
  )
}
