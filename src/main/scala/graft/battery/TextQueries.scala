package graft
package battery

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.TextNorm
import graft.operators._
import Helpers._

/** Text battery: tokenization, URL hygiene, quality and repetition
  * signals, PII, language models and full-text search. */
object TextQueries {

  /** Deterministic messy crawl-style URL per document (the testdata has
    * no url column). Variants key off `doc_id % 60` so canonical forms
    * COLLIDE across docs, while the tracking params carry the raw
    * `doc_id` so the RAW strings stay distinct — exactly the shape
    * URL canonicalization exists to collapse. The DuckDB oracles build
    * the identical string ([[duckUrlCtes]]). */
  private def messyUrl(id: Column): Column = {
    val uid = pmod(id, lit(60L))
    val hostPick = element_at(array(
      lit("Example.COM"), lit("news.example.co.uk"), lit("blog.example.com"),
      lit("EXAMPLE.com:443"), lit("cdn.site.org:80"), lit("shop.site.org"),
      lit("a.b.example.co.uk"),
      // PSL-challenging hosts: multi-level ccTLD suffixes, a private
      // (GitHub Pages) suffix, and a *.ck wildcard rule — naive
      // last-two-labels groups all of these wrong
      lit("Shop.Example.COM.CN"), lit("docs.portal.co.il"),
      lit("user1.github.io"), lit("pages.user2.GitHub.IO"),
      lit("a.b.cdn.foo.ck")), (pmod(uid, lit(12L)) + 1).cast("int"))
    concat(
      when(pmod(uid, lit(2L)) === 0, lit("https://")).otherwise(lit("HTTP://")),
      hostPick,
      lit("/articles/item-"), pmod(uid, lit(10L)).cast("string"),
      when(pmod(uid, lit(3L)) === 0, lit("/")).otherwise(lit("")),
      when(pmod(id, lit(2L)) === 0,
        concat(lit("?utm_source=feed&id="), pmod(uid, lit(5L)).cast("string"),
          lit("&utm_campaign=c"), pmod(id, lit(9L)).cast("string")))
        .otherwise(concat(lit("?id="), pmod(uid, lit(5L)).cast("string"),
          lit("&gclid=g"), id.cast("string"))),
      when(pmod(uid, lit(4L)) === 0, lit("#section-2")).otherwise(lit("")))
  }

  private val qcWeightsCache =
    new graft.core.OnceMemo[String, Seq[Double]]
  // the most recent training run — read by the by-name oracle (evaluated
  // by Verify AFTER all queries ran) to inline the weights as literals
  @volatile private var lastQcWeights: Seq[Double] = Seq.fill(64)(0.0)

  /** Pegasos weights for the learned quality filter, trained on a FIXED
    * deterministic sample (doc_id < 300, labeled by the n_chars ≥ 200
    * length rule) — the same weights per (data dir), so the DuckDB
    * oracle can replay scoring with the vector inlined as literals. */
  private def qcWeights(s: SparkSession, d: String): Seq[Double] = {
    val w = qcWeightsCache.getOrElseUpdate(d, {
      val labeled = Tables.documents(s, d).filter(col("doc_id") < 300)
        .withColumn("label", when(col("n_chars") >= 200, 1).otherwise(-1))
      QualityClassifier.train(labeled, "text", "doc_id", "label", dim = 64)
    })
    lastQcWeights = w
    w
  }

  private val fullTextLayouts =
    new graft.core.OnceMemo[String, String]

  /** Persisted full-text index over `documents` — one-time layout
    * artifact per (JVM, data dir), the Solr-engine analogue. */
  private def fullTextLayout(s: SparkSession, d: String): String =
    fullTextLayouts.getOrElseUpdate(d, {
      val dir = freshScratch(s"fts-${dirTag(d)}")
      graft.sources.FullTextStore.write(s, dir, Tables.documents(s, d),
        "doc_id", "text")
      dir
    })

  // Quarter-grid synthetic planar coordinates derived from keys: every
  // coordinate is an exact binary double (multiple of 1/4), so raycast /
  // shoelace / orientation arithmetic — IEEE correctly-rounded ops only —
  // is BIT-IDENTICAL between Spark and the DuckDB oracle.

  /** Documents text with synthetic PII appended (email + IP + phone
    * derived from doc_id) so the PII scan exercises real matches; every
    * piece is replayable by the oracle's `||` concatenation. */
  private def piiText: Column = concat(col("text"),
    lit(" contact user"), col("doc_id").cast("string"),
    lit("@mail.example or 192.168."), (col("doc_id") % 254 + 1).cast("string"),
    lit(".7 call 555-867-530"), (col("doc_id") % 10).cast("string"), lit("."))

  /** Raw-URL construction + canonicalization + registrable-domain CTEs
    * shared by the `url_*` oracles — the DuckDB replay of [[messyUrl]],
    * [[graft.operators.Url.canonicalizeUrl]] and
    * [[graft.operators.Url.registrableDomain]]. Yields
    * `uk(doc_id, url, url_canon, domain)`. */
  private val duckUrlCtes: String =
    """uraw AS (SELECT doc_id,
      |  concat(
      |   CASE WHEN (doc_id % 60) % 2 = 0 THEN 'https://' ELSE 'HTTP://' END,
      |   (['Example.COM','news.example.co.uk','blog.example.com',
      |     'EXAMPLE.com:443','cdn.site.org:80','shop.site.org',
      |     'a.b.example.co.uk','Shop.Example.COM.CN','docs.portal.co.il',
      |     'user1.github.io','pages.user2.GitHub.IO',
      |     'a.b.cdn.foo.ck'])[CAST((doc_id % 60) % 12 + 1 AS INT)],
      |   '/articles/item-', CAST((doc_id % 60) % 10 AS VARCHAR),
      |   CASE WHEN (doc_id % 60) % 3 = 0 THEN '/' ELSE '' END,
      |   CASE WHEN doc_id % 2 = 0
      |    THEN concat('?utm_source=feed&id=', CAST((doc_id % 60) % 5 AS VARCHAR),
      |                '&utm_campaign=c', CAST(doc_id % 9 AS VARCHAR))
      |    ELSE concat('?id=', CAST((doc_id % 60) % 5 AS VARCHAR),
      |                '&gclid=g', CAST(doc_id AS VARCHAR)) END,
      |   CASE WHEN (doc_id % 60) % 4 = 0 THEN '#section-2' ELSE '' END) AS url
      | FROM documents),
      |upp AS (SELECT doc_id, url,
      |  lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS sch,
      |  regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest,
      |  regexp_extract(url, '\?([^#]*)', 1) AS q
      | FROM uraw),
      |uhh AS (SELECT doc_id, url, sch,
      |  CASE WHEN sch = 'http'
      |       THEN regexp_replace(lower(regexp_extract(rest, '^([^/?#]*)', 1)), ':80$', '')
      |       WHEN sch = 'https'
      |       THEN regexp_replace(lower(regexp_extract(rest, '^([^/?#]*)', 1)), ':443$', '')
      |       ELSE lower(regexp_extract(rest, '^([^/?#]*)', 1)) END AS hostport,
      |  regexp_replace(regexp_extract(rest, '^[^/?#]*([^?#]*)', 1), '/+$', '') AS pth, q
      | FROM upp),
      |ukk AS (SELECT doc_id, url, sch, hostport, pth,
      |  array_to_string(list_sort(list_filter(string_split(q, '&'),
      |    p -> length(p) > 0 AND NOT regexp_matches(p,
      |      '^(utm_[a-z0-9]+|fbclid|gclid|msclkid|mc_eid|igshid|ref|ref_src)='))), '&') AS kept
      | FROM uhh),
      |ucc AS (SELECT doc_id, url, hostport,
      |  concat(sch, '://', hostport, pth,
      |   CASE WHEN length(kept) > 0 THEN concat('?', kept) ELSE '' END) AS url_canon
      | FROM ukk),
      |upsl AS (SELECT regexp_extract(rule, '^(\S+)', 1) AS r
      | FROM read_csv('/root/repo/src/main/resources/graft/public_suffix_list.dat',
      |   header=false, delim='\t', quote='', columns={'rule': 'VARCHAR'})
      | WHERE length(trim(rule)) > 0 AND rule NOT LIKE '//%'),
      |upex AS (SELECT r FROM upsl WHERE r NOT LIKE '*.%' AND r NOT LIKE '!%'),
      |upwc AS (SELECT substr(r, 3) AS b FROM upsl WHERE r LIKE '*.%'),
      |upxc AS (SELECT substr(r, 2) AS r FROM upsl WHERE r LIKE '!%'),
      |uhb AS (SELECT doc_id, url, url_canon,
      |          string_split(regexp_replace(hostport, ':[0-9]+$', ''), '.') AS ls
      |        FROM ucc),
      |usm AS (SELECT doc_id, i, n, array_to_string(ls[i:n], '.') AS sfx,
      |          CASE WHEN i < n THEN array_to_string(ls[i+1:n], '.') END AS tl
      |        FROM (SELECT doc_id, ls, len(ls) AS n,
      |                unnest(generate_series(1, len(ls))) AS i FROM uhb)),
      |urx AS (SELECT usm.doc_id,
      |          min(CASE WHEN xr.r IS NOT NULL THEN i END) AS exc_i,
      |          min(CASE WHEN er.r IS NOT NULL OR wr.b IS NOT NULL THEN i END) AS mat_i
      |        FROM usm
      |        LEFT JOIN upex er ON usm.sfx = er.r
      |        LEFT JOIN upwc wr ON usm.tl = wr.b
      |        LEFT JOIN upxc xr ON usm.sfx = xr.r
      |        GROUP BY usm.doc_id),
      |uk AS (SELECT u.doc_id, u.url, u.url_canon,
      |  array_to_string(u.ls[greatest(coalesce(x.exc_i, coalesce(x.mat_i, u.n) - 1), 1):u.n], '.') AS domain
      | FROM (SELECT doc_id, url, url_canon, ls, len(ls) AS n FROM uhb) u
      | JOIN urx x USING (doc_id))""".stripMargin

  /** Token/bigram repetition CTEs over `documents` — the DuckDB replay of
    * [[graft.operators.TextAnalysis.repetitionSignals]]'s two
    * aggregations. Yields `tk/ts/bs` for the select in [[duckRepCols]]. */
  private val duckRepCtes =
    s"""tk AS (SELECT doc_id, list_filter($duckToks, t -> length(t) > 0) AS toks
       |       FROM documents),
       |ts AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS token_cnt,
       |              count(*) AS distinct_toks, max(cnt) AS top_cnt
       |       FROM (SELECT doc_id, g, count(*) AS cnt
       |             FROM (SELECT doc_id, unnest(toks) AS g FROM tk)
       |             GROUP BY doc_id, g)
       |       GROUP BY doc_id),
       |bs AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS bigram_cnt,
       |              count(*) AS distinct_bigrams
       |       FROM (SELECT doc_id, g, count(*) AS cnt
       |             FROM (SELECT doc_id, unnest(CASE WHEN len(toks) < 2 THEN [] ELSE
       |                     list_transform(generate_series(1, len(toks)-1),
       |                       i -> toks[i] || ' ' || toks[i+1]) END) AS g
       |                   FROM tk)
       |             GROUP BY doc_id, g)
       |       GROUP BY doc_id)""".stripMargin

  private val duckRepCols =
    """coalesce(ts.token_cnt, 0) AS token_cnt,
      | coalesce(round(CAST(ts.token_cnt - ts.distinct_toks AS DOUBLE) / ts.token_cnt, 4), 0.0) AS dup_token_frac,
      | coalesce(round(CAST(ts.top_cnt AS DOUBLE) / ts.token_cnt, 4), 0.0) AS top_token_frac,
      | coalesce(round(CAST(bs.bigram_cnt - bs.distinct_bigrams AS DOUBLE) / bs.bigram_cnt, 4), 0.0) AS dup_bigram_frac""".stripMargin

  /** The synthetic-PII text of the `pii_scan` query, in DuckDB `||`.
    * Single line: `||` at a line start would lose a pipe to the OUTER
    * interpolating string's stripMargin. */
  private val duckPiiText =
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example or 192.168.' " +
      "|| CAST(doc_id % 254 + 1 AS VARCHAR) || '.7 call 555-867-530' " +
      "|| CAST(doc_id % 10 AS VARCHAR) || '.'"

  /** Quality-verdict oracle, shared by `quality_filter_verdicts` (merge
    * form) and `quality_filter_verdicts_perrow` (kernel form) — equal on
    * the unique-doc_id corpus. */
  private lazy val duckQualityVerdictsSql: String = {
    val quality =
      s"""( least(length(text) / 200.0, 1.0)
         |  + greatest(0.0, 1.0 - (CASE WHEN length(text) = 0 THEN 0.0 ELSE
         |      CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / length(text) END) * 5.0)
         |  + least((CAST(len(list_filter($duckToks, t -> list_contains($duckStops, t))) AS DOUBLE) / len($duckToks)) * 5.0, 1.0)
         | ) / 3.0""".stripMargin
    val reason =
      """CASE WHEN quality < 0.5 THEN 'low_quality'
        |      WHEN dup_token_frac > 0.6 THEN 'dup_tokens'
        |      WHEN top_token_frac > 0.15 THEN 'top_token'
        |      WHEN dup_bigram_frac > 0.08 THEN 'dup_bigrams'
        |      WHEN pii_cnt > 0 THEN 'pii'
        |      ELSE 'ok' END""".stripMargin
    s"""WITH $duckRepCtes,
       |q AS (SELECT doc_id, round($quality, 4) AS quality,
       |        CAST(len(regexp_extract_all(text, '${TextAnalysis.EmailRe}'))
       |          + len(regexp_extract_all(text, '${TextAnalysis.PhoneRe}'))
       |          + len(regexp_extract_all(text, '${TextAnalysis.Ipv4Re}')) AS BIGINT) AS pii_cnt
       |      FROM documents),
       |r AS (SELECT q.doc_id AS id, q.quality, q.pii_cnt, $duckRepCols
       |      FROM q LEFT JOIN ts ON q.doc_id = ts.doc_id
       |             LEFT JOIN bs ON q.doc_id = bs.doc_id)
       |SELECT id, quality, token_cnt, dup_token_frac, top_token_frac,
       |       dup_bigram_frac, pii_cnt,
       |       ($reason) = 'ok' AS keep, $reason AS reason
       |FROM r ORDER BY id""".stripMargin
  }

  /** Pre-build the full-text layout (untimed bench warmup). */
  private[graft] def warmLayouts(s: SparkSession, d: String): Unit = fullTextLayout(s, d)

  /** Release this family's trained weights and layouts for `dir`. */
  private[graft] def release(dir: String): Int =
    drop(qcWeightsCache, dir)(_ => ()) + drop(fullTextLayouts, dir)(deleteDir)

  private val repetitionSql =
    s"""WITH $duckRepCtes
       |SELECT d.doc_id AS id, $duckRepCols
       |FROM (SELECT DISTINCT doc_id FROM documents) d
       |LEFT JOIN ts ON d.doc_id = ts.doc_id
       |LEFT JOIN bs ON d.doc_id = bs.doc_id
       |ORDER BY id""".stripMargin

  private val phraseSql =
    s"""SELECT doc_id FROM (SELECT doc_id, $duckToks AS toks FROM documents)
       |WHERE len(toks) >= 2 AND len(list_filter(generate_series(1, len(toks) - 1),
       |  i -> toks[i] = 'fast' AND toks[i+1] = 'table')) > 0
       |ORDER BY doc_id""".stripMargin

  private val matchAllSql =
    s"""SELECT doc_id FROM (SELECT doc_id, $duckToks AS toks FROM documents)
       |WHERE list_contains(toks, 'vector') AND list_contains(toks, 'join')
       |ORDER BY doc_id""".stripMargin

  private val bm25Sql =
    s"""WITH tk AS (SELECT doc_id, $duckToks AS toks FROM documents),
       |dl AS (SELECT doc_id, len(toks) AS dl FROM tk),
       |c AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
       |posts AS (SELECT doc_id, term, count(*) AS tf
       |          FROM (SELECT doc_id, unnest(toks) AS term FROM tk)
       |          WHERE term IN ('vector','join','hash') GROUP BY doc_id, term),
       |dfreq AS (SELECT term, count(*) AS df FROM posts GROUP BY term)
       |SELECT doc_id, round(sum(
       |  ln(1.0 + (n - df + 0.5) / (df + 0.5))
       |   * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 4) AS score
       |FROM posts JOIN dfreq USING (term) JOIN dl USING (doc_id), c
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val queries: Seq[Q] = Seq(
    Q("text_bpeish_tokens", (s, d) => Tables.documents(s, d)
      .select(col("doc_id"),
        TextAnalysis.bpeishTokenCount(col("text")).as("bpeish_cnt"))
      .orderBy("doc_id"),
      """SELECT doc_id,
        | len(string_split_regex(trim(text), '\s+'))
        |  + length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS bpeish_cnt
        |FROM documents ORDER BY doc_id""".stripMargin),

    Q("unigram_logppl", (s, d) =>
      TextAnalysis.unigramLogPerplexity(Tables.documents(s, d), "text", "doc_id")
        .withColumnRenamed("id", "doc_id").orderBy("doc_id"),
      s"""WITH tk AS (SELECT doc_id,
         |  unnest(list_filter($duckToks, t -> length(t) > 0)) AS tok FROM documents),
         |freq AS (SELECT tok, count(*) AS cnt FROM tk GROUP BY tok),
         |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM freq)
         |SELECT doc_id, round(avg(-ln(cnt / total)), 4) AS log_ppl
         |FROM tk JOIN freq USING (tok), tot
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      Gate.marker("token-keyed partial counts; scalar total broadcast",
        "partial_count", "BroadcastNestedLoopJoin")),

    Q("bigram_logppl", (s, d) =>
      // interpolated bigram LM perplexity: boilerplate repeating common
      // TRANSITIONS (not just common words) scores low; the model build
      // and the scoring are one plan (three counts + joins, no collect)
      TextAnalysis.bigramLogPerplexity(Tables.documents(s, d), "text", "doc_id")
        .withColumnRenamed("id", "doc_id").orderBy("doc_id"),
      // (prev, tok) pairs via positional subscripts (generate_subscripts +
      // unnest is the portable posexplode); BOS sentinel at i=1. The float
      // shape mirrors Spark exactly: 0.7*bc/cc + (1.0-0.7)*uc/total, all
      // counts divided as DOUBLEs, natural log, round 4.
      s"""WITH tk AS (SELECT doc_id,
         |  list_filter($duckToks, t -> length(t) > 0) AS t FROM documents
         |  WHERE len(list_filter($duckToks, t -> length(t) > 0)) > 0),
         |px AS (SELECT doc_id, t, generate_subscripts(t, 1) AS i,
         |         unnest(t) AS tok FROM tk),
         |pairs AS (SELECT doc_id,
         |  CASE WHEN i = 1 THEN '<s>' ELSE t[i-1] END AS prev, tok FROM px),
         |big AS (SELECT prev, tok, count(*) AS bc FROM pairs GROUP BY prev, tok),
         |ctx AS (SELECT prev, count(*) AS cc FROM pairs GROUP BY prev),
         |uni AS (SELECT tok, count(*) AS uc FROM pairs GROUP BY tok),
         |tot AS (SELECT CAST(sum(uc) AS DOUBLE) AS total FROM uni)
         |SELECT doc_id, round(avg(-ln(
         |  CAST(0.7 AS DOUBLE) * CAST(bc AS DOUBLE) / CAST(cc AS DOUBLE)
         |  + (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE))
         |    * CAST(uc AS DOUBLE) / total)), 4) AS log_ppl
         |FROM pairs JOIN big USING (prev, tok) JOIN ctx USING (prev)
         |  JOIN uni USING (tok), tot
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      Gate.marker("model branches read the materialized multiplicities; scalar total broadcast",
        "Scan ExistingRDD", "partial_sum", "BroadcastNestedLoopJoin"),
      // the four model branches (bigram/context/unigram/total) must all
      // read the MATERIALIZED multiplicities relation — zero corpus
      // FileScans below it (their differing pushed null-filters defeat
      // ReuseExchange, so recompute = 4 corpus reads)
      Gate("reuse", p => {
        val scans = "FileScan".r.findAllIn(p).length
        (scans == 0 && p.contains("Scan ExistingRDD"),
          if (scans == 0) "all branches read the checkpointed multiplicities"
          else s"expected 0 corpus FileScans below the materialization, got $scans\n$p")
      })),

    Q("text_nfc_normalize", (s, d) =>
      // Unicode NFC via the codegen'd NfcNormalizeExpr; the appended
      // suffix mixes decomposed e+U+0301, the U+212B angstrom singleton,
      // and A+U+030A so the normalization actually has work to do on
      // the (mostly-ASCII) corpus — all three compose to precomposed
      // forms that must match DuckDB's nfc_normalize byte-for-byte
      Tables.documents(s, d)
        .select(col("doc_id"),
          TextNorm.nfc(concat(col("text"),
            lit(" cafe\u0301 \u212B A\u030A"))).as("norm"))
        .orderBy("doc_id"),
      // chr(769)=U+0301 combining acute, chr(8491)=U+212B angstrom sign,
      // chr(778)=U+030A combining ring — DuckDB's nfc_normalize must
      // compose them to the same bytes NfcNormalizeExpr emits
      """SELECT doc_id,
        |  nfc_normalize(text || ' cafe' || chr(769) || ' ' || chr(8491)
        |                || ' A' || chr(778)) AS norm
        |FROM documents ORDER BY doc_id""".stripMargin,
      Gate.marker("NFC kernel stays in the scan stage", "nfc_normalize")),

    // --- web-corpus URL hygiene (no url column in testdata: messyUrl
    // derives a deterministic crawl-style URL per doc, with scheme case,
    // default ports, tracking params, param order, trailing slashes and
    // fragments all varying — both engines build the identical string) ---
    Q("url_canonicalize", (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), messyUrl(col("doc_id")).as("url_raw"))
        .select(col("doc_id"), col("url_raw"),
          Url.canonicalizeUrl(col("url_raw")).as("url_canon"),
          Url.registrableDomain(Url.host(col("url_raw"))).as("domain"))
        .orderBy("doc_id"),
      s"""WITH $duckUrlCtes
         |SELECT doc_id, url AS url_raw, url_canon, domain
         |FROM uk ORDER BY doc_id""".stripMargin,
      Gate.noShuffle("canonicalization is a pure projection over the scan")),

    Q("url_dedup_canonical", (s, d) =>
      // raw URLs are all distinct (per-doc tracking params); canonical
      // forms collapse to ≤60 groups — the URL-level dedup C4/FineWeb
      // run before any content hashing
      Url.dedupByCanonicalUrl(
          Tables.documents(s, d)
            .select(col("doc_id"), messyUrl(col("doc_id")).as("url")),
          "url", "doc_id")
        .orderBy("url_canon"),
      s"""WITH $duckUrlCtes
         |SELECT url_canon, count(*) AS n_dups, min(doc_id) AS survivor_id
         |FROM uk GROUP BY url_canon ORDER BY url_canon""".stripMargin),

    Q("url_domain_cap", (s, d) =>
      // FineWeb-style per-domain cap: ≤25 docs per registrable domain,
      // chosen by deterministic key-hash order (growth-stable)
      Url.domainCap(
          Tables.documents(s, d)
            .select(col("doc_id"), messyUrl(col("doc_id")).as("url")),
          "url", "doc_id", cap = 25)
        .orderBy("id"),
      s"""WITH $duckUrlCtes,
         |ur AS (SELECT doc_id AS id, domain,
         |  row_number() OVER (PARTITION BY domain ORDER BY kh, doc_id) AS rn
         | FROM (SELECT doc_id, domain,
         |         ${duckRawHash("CAST(doc_id AS VARCHAR)")} AS kh FROM uk))
         |SELECT id, domain FROM ur WHERE rn <= 25 ORDER BY id""".stripMargin,
      Gate.marker("per-domain cap is one keyed window", "Window")),

    Q("url_blocklist_filter", (s, d) =>
      // crawl kill-list: registrable-domain anti-join, corpus never
      // shuffles (blocklist broadcast)
      Url.domainBlocklistFilter(
          Tables.documents(s, d)
            .select(col("doc_id"), messyUrl(col("doc_id")).as("url")),
          "url", Seq("site.org", "example.co.uk"))
        .select("doc_id").orderBy("doc_id"),
      s"""WITH $duckUrlCtes
         |SELECT doc_id FROM uk
         |WHERE domain NOT IN ('site.org', 'example.co.uk')
         |ORDER BY doc_id""".stripMargin,
      Gate.marker("blocklist is a broadcast anti-join", "BroadcastHashJoin", "LeftAnti")),

    Q("ngram_novelty", (s, d) =>
      // graded cross-doc originality: fraction of a doc's distinct
      // 3-gram shingles found in no other document
      TextAnalysis.ngramNovelty(Tables.documents(s, d), "text", "doc_id")
        .withColumnRenamed("id", "doc_id").orderBy("doc_id"),
      s"""WITH shg AS (SELECT doc_id, unnest($duckShingles) AS shingle FROM
         |      (SELECT doc_id, string_split($duckNorm, ' ') AS toks FROM documents)),
         |fr AS (SELECT shingle, count(*) AS df FROM shg GROUP BY shingle)
         |SELECT doc_id, count(*) AS n_shingles,
         |  round(avg(CASE WHEN df = 1 THEN CAST(1.0 AS DOUBLE)
         |            ELSE CAST(0.0 AS DOUBLE) END), 4) AS novelty
         |FROM shg JOIN fr USING (shingle)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    Q("text_script_profile", (s, d) =>
      // multilingual triage: per-doc Latin/Cyrillic/Han/Arabic/digit
      // counts + dominant script; the ASCII corpus gets a per-doc
      // multi-script suffix (both engines build the identical string)
      TextAnalysis.scriptProfile(
          Tables.documents(s, d).withColumn("text",
            concat(col("text"), element_at(array(
              lit(" Пример текста"), lit(" 你好世界"),
              lit(" مرحبا بالعالم"), lit(" plain ascii 42")),
              (pmod(col("doc_id"), lit(4L)) + 1).cast("int")))),
          "text", "doc_id")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id"),
      // RE2 spells script classes \p{Latin}; Spark's Java regex
      // \p{IsLatin} — same script property, same counts
      """WITH sx AS (SELECT doc_id,
        |  concat(text, ([' Пример текста',' 你好世界',
        |    ' مرحبا بالعالم',' plain ascii 42'])[CAST(doc_id % 4 + 1 AS INT)]) AS text
        |  FROM documents),
        |sc AS (SELECT doc_id,
        |  CAST(length(text) - length(regexp_replace(text, '\p{Latin}', '', 'g')) AS INTEGER) AS n_latin,
        |  CAST(length(text) - length(regexp_replace(text, '\p{Cyrillic}', '', 'g')) AS INTEGER) AS n_cyrillic,
        |  CAST(length(text) - length(regexp_replace(text, '\p{Han}', '', 'g')) AS INTEGER) AS n_han,
        |  CAST(length(text) - length(regexp_replace(text, '\p{Arabic}', '', 'g')) AS INTEGER) AS n_arabic,
        |  CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS INTEGER) AS n_digit
        | FROM sx)
        |SELECT doc_id, n_latin, n_cyrillic, n_han, n_arabic, n_digit,
        |  CASE WHEN n_latin >= n_cyrillic AND n_latin >= n_han AND n_latin >= n_arabic THEN 'latin'
        |       WHEN n_cyrillic >= n_han AND n_cyrillic >= n_arabic THEN 'cyrillic'
        |       WHEN n_han >= n_arabic THEN 'han' ELSE 'arabic' END AS dominant
        |FROM sc ORDER BY doc_id""".stripMargin,
      Gate.noShuffle("script counting is a pure projection over the scan")),

    Q("quality_adaptive_length", (s, d) =>
      // per-source data-driven length band: keep docs inside the
      // source's [p10, p90] char-count band (broadcast of |sources| rows)
      TextAnalysis.adaptiveLengthFilter(Tables.documents(s, d),
          "n_chars", "source")
        .select("doc_id", "source", "n_chars").orderBy("doc_id"),
      """WITH b AS (SELECT source, quantile_cont(n_chars, 0.1) AS lo,
        |                   quantile_cont(n_chars, 0.9) AS hi
        |           FROM documents GROUP BY source)
        |SELECT doc_id, source, n_chars FROM documents JOIN b USING (source)
        |WHERE n_chars >= lo AND n_chars <= hi ORDER BY doc_id""".stripMargin,
      Gate.marker("quantile bands broadcast back onto the scan", "BroadcastHashJoin", "percentile")),

    Q("chunk_text", (s, d) =>
      TextAnalysis.chunkText(Tables.documents(s, d), "text", "doc_id",
          window = 128, stride = 96)
        .withColumnRenamed("id", "doc_id").orderBy("doc_id", "chunk_idx"),
      s"""WITH toks AS (SELECT doc_id,
         |  list_filter($duckToks, t -> length(t) > 0) AS t FROM documents),
         |w AS (SELECT doc_id, t,
         |  unnest(generate_series(0, CAST(ceil(len(t) / 96.0) AS BIGINT) * 96 - 96, 96)) AS s
         |  FROM toks WHERE len(t) > 0)
         |SELECT doc_id, s // 96 AS chunk_idx,
         |  array_to_string(t[s+1:s+128], ' ') AS chunk_text,
         |  least(128, len(t) - s) AS n_tokens
         |FROM w WHERE s < len(t) ORDER BY doc_id, chunk_idx""".stripMargin),

    Q("hash_features", (s, d) =>
      // the operator returns the dense array<long>; the driver-facing
      // query flattens it to a CSV string because the oracle harness
      // canonicalizes by sorting every column (arrays aren't sortable)
      TextAnalysis.hashFeatures(Tables.documents(s, d), "text", "doc_id", dim = 64)
        .withColumnRenamed("id", "doc_id")
        .select(col("doc_id"), array_join(col("features"), ",").as("features"))
        .orderBy("doc_id"),
      s"""WITH tk AS (SELECT doc_id,
         |  unnest(list_filter($duckToks, t -> length(t) > 0)) AS tok FROM documents),
         |cnts AS (SELECT doc_id, ${duckRawHash("tok")} % 64 AS idx, count(*) AS cnt
         |         FROM tk GROUP BY doc_id, idx),
         |dense AS (SELECT g.doc_id, u.i, coalesce(c.cnt, 0) AS cnt
         |          FROM (SELECT DISTINCT doc_id FROM tk) g
         |          CROSS JOIN generate_series(0, 63) u(i)
         |          LEFT JOIN cnts c ON c.doc_id = g.doc_id AND c.idx = u.i)
         |SELECT doc_id, array_to_string(list(cnt ORDER BY i), ',') AS features
         |FROM dense GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      Gate.marker("bucket counts partial-aggregate before the id shuffle",
        "partial_count", "HashAggregate")),

    Q("top_bigrams", (s, d) =>
      // most frequent bigrams across the corpus — the boilerplate
      // detector a pipeline runs before writing filter rules; ties
      // break on the gram text for a deterministic cut
      Dedup.topNgrams(Tables.documents(s, d), "text", "doc_id", n = 2, k = 50)
        .withColumnRenamed("ngram", "bigram"),
      s"""WITH sh AS (
         | SELECT unnest(list_distinct(
         |  CASE WHEN len(toks) <= 2 THEN [array_to_string(toks, ' ')]
         |   ELSE list_transform(generate_series(1, len(toks)-1),
         |     i -> array_to_string(toks[i:i+1], ' ')) END)) AS bigram
         | FROM (SELECT string_split($duckNorm, ' ') AS toks FROM documents)
         |)
         |SELECT bigram, count(*) AS n_docs FROM sh GROUP BY bigram
         |ORDER BY n_docs DESC, bigram ASC LIMIT 50""".stripMargin),

    Q("quality_classifier_scores", (s, d) => {
      // learned quality filter end-to-end: train Pegasos on the fixed
      // labeled sample (driver-side, bounded, deterministic), then score
      // the whole corpus as a join-free projection — the weight vector
      // ships as a literal, so corpus-side cost is the featurization
      val w = qcWeights(s, d)
      QualityClassifier.score(Tables.documents(s, d), "text", "doc_id", w)
        .select(col("id").as("doc_id"), round(col("score"), 4).as("score"))
        .orderBy("doc_id")
    },
      // scoring replay with the TRAINED weight vector inlined as literals:
      // the oracle is by-name, evaluated by Verify after every query ran, so
      // lastQcWeights holds the deterministic training result by then
      {
        val values = lastQcWeights.zipWithIndex
          .map { case (wt, i) => s"($i, CAST($wt AS DOUBLE))" }.mkString(", ")
        s"""WITH tk AS (SELECT doc_id,
           |  unnest(list_filter($duckToks, t -> length(t) > 0)) AS tok FROM documents),
           |cnts AS (SELECT doc_id, ${duckRawHash("tok")} % 64 AS idx, count(*) AS cnt
           |         FROM tk GROUP BY doc_id, idx),
           |w(idx, wt) AS (SELECT * FROM (VALUES $values) v(idx, wt)),
           |nrm AS (SELECT doc_id, sqrt(sum(cnt * cnt)) AS n FROM cnts GROUP BY doc_id),
           |dots AS (SELECT c.doc_id, sum(c.cnt * w.wt) AS dot
           |         FROM cnts c JOIN w ON c.idx = w.idx GROUP BY c.doc_id)
           |SELECT n.doc_id, round(CASE WHEN n.n < 1e-9 THEN 0.0 ELSE d.dot / n.n END, 4) AS score
           |FROM nrm n JOIN dots d ON n.doc_id = d.doc_id ORDER BY n.doc_id""".stripMargin
      }),

    Q("text_stats", (s, d) => Tables.documents(s, d)
      .select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("token_cnt"),
        round(TextAnalysis.avgWordLen(col("text")), 4).as("avg_word_len"),
        round(TextAnalysis.punctRatio(col("text")), 4).as("punct_ratio"),
        round(TextAnalysis.stopwordRatio(col("text")), 4).as("stopword_ratio"))
      .orderBy("doc_id"),
      s"""SELECT doc_id, len(toks) AS token_cnt,
         | round(list_sum(list_transform(toks, t -> CAST(length(t) AS DOUBLE))) / len(toks), 4) AS avg_word_len,
         | round(CASE WHEN length(text) = 0 THEN 0.0 ELSE
         |   CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / length(text) END, 4) AS punct_ratio,
         | round(CAST(len(list_filter(toks, t -> list_contains($duckStops, t))) AS DOUBLE) / len(toks), 4) AS stopword_ratio
         |FROM (SELECT doc_id, text, $duckToks AS toks FROM documents)
         |ORDER BY doc_id""".stripMargin),

    Q("text_quality", (s, d) => Tables.documents(s, d)
      .select(col("doc_id"),
        round(TextAnalysis.qualityScore(col("text")), 4).as("quality"))
      .orderBy("doc_id"),
      s"""SELECT doc_id, round((
         |  least(length(text) / 200.0, 1.0)
         |  + greatest(0.0, 1.0 - (CASE WHEN length(text) = 0 THEN 0.0 ELSE
         |      CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / length(text) END) * 5.0)
         |  + least((CAST(len(list_filter($duckToks, t -> list_contains($duckStops, t))) AS DOUBLE) / len($duckToks)) * 5.0, 1.0)
         | ) / 3.0, 4) AS quality
         |FROM documents ORDER BY doc_id""".stripMargin),

    Q("lang_id", (s, d) => Tables.documents(s, d)
      .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))
      .orderBy("doc_id"),
      {
        def score(markers: Seq[String]) =
          s"len(list_filter($duckToks, t -> list_contains(${markers.map(w => s"'$w'").mkString("[", ",", "]")}, t)))"
        val ss = TextAnalysis.LangMarkers.toSeq.sortBy(_._1)
          .map { case (l, m) => l -> score(m) }
        val maxExpr = s"greatest(${ss.map(_._2).mkString(", ")})"
        val cases = ss.map { case (l, sc) => s"WHEN $sc = $maxExpr THEN '$l'" }.mkString(" ")
        s"""SELECT doc_id, CASE WHEN $maxExpr = 0 THEN 'und' $cases END AS lang_pred
           |FROM documents ORDER BY doc_id""".stripMargin
      }),

    Q("text_fingerprint", (s, d) => Tables.documents(s, d)
      .select(col("doc_id"),
        TextAnalysis.rollingFingerprint(col("text")).as("fingerprint"))
      .orderBy("doc_id"),
      """SELECT doc_id, CASE WHEN length(nrm) = 0 THEN CAST(7 AS BIGINT) ELSE
        |  list_reduce(
        |    list_prepend(CAST(7 AS BIGINT),
        |      list_transform(string_split(nrm, ''), c -> CAST(unicode(c) AS BIGINT))),
        |    (h, c) -> (h * 131 + c) % 1000000007) END AS fingerprint
        |FROM (SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS nrm
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin),

    // --- full-text search (reference routes TEXTTYPE to Solr; native here) ---
    Q("text_match_all", (s, d) =>
      TextSearch.matchAll(Tables.documents(s, d), "text", Seq("vector", "join"))
        .select("doc_id").orderBy("doc_id"),
      matchAllSql),

    Q("text_phrase", (s, d) =>
      TextSearch.phraseMatch(Tables.documents(s, d), "text", Seq("fast", "table"))
        .select("doc_id").orderBy("doc_id"),
      phraseSql),

    Q("text_bm25", (s, d) =>
      TextSearch.bm25Scores(Tables.documents(s, d), "doc_id", "text",
          Seq("vector", "join", "hash"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
        .orderBy("doc_id"),
      bm25Sql,
      Gate.marker("posting partial aggregation + broadcast term stats",
        "partial_count", "BroadcastHashJoin")),

    Q("text_index_bm25", (s, d) =>
      // BM25 served from the PERSISTED full-text layout (bucketed
      // postings + lengths + stats; the Solr-engine role) — never
      // re-tokenizes the corpus; the oracle recomputes from raw text,
      // so build -> store -> serve is verified end to end
      graft.sources.FullTextStore.bm25Scores(s, fullTextLayout(s, d),
          Seq("vector", "join", "hash"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
        .orderBy("doc_id"),
      // the index-served rows recompute from RAW text here — the layout
      // (bucketed postings, stored lengths/stats) must reproduce the
      // from-scratch ranking exactly
      bm25Sql,
      Gate.marker("index-served BM25: postings read is bucket-PARTITION-pruned",
        "PartitionFilters: [", "ap_bucket")),

    Q("text_index_match", (s, d) =>
      // posting-intersection ALL-terms match from the same layout
      graft.sources.FullTextStore.matchAll(s, fullTextLayout(s, d),
          Seq("vector", "join"))
        .orderBy("doc_id"),
      matchAllSql),

    Q("text_bm25f", (s, d) => {
      // fielded BM25 with a 2x title boost; the "title" field is the
      // first 8 tokens derived in-plan (the fixture carries one text
      // column), so the oracle replays the same derivation
      val docs = Tables.documents(s, d).withColumn("title",
        array_join(slice(graft.operators.TextAnalysis.tokens(col("text")), 1, 8), " "))
      TextSearch.bm25fScores(docs, "doc_id",
          Seq(("title", 2.0), ("text", 1.0)), Seq("vector", "join", "hash"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
        .orderBy("doc_id")
    },
      // BM25F replay: the title field re-derives exactly as the Spark
      // plan does (join first-8 tokens with spaces, then re-tokenize, so
      // the empty-text -> [""] edge reproduces identically); weighted
      // dl sums are integer-valued doubles, so avgdl matches bit-for-bit
      s"""WITH tk AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |tt AS (SELECT doc_id, toks,
         |         string_split_regex(lower(trim(array_to_string(toks[1:8], ' '))), '\\s+') AS ttoks
         |       FROM tk),
         |dl AS (SELECT doc_id, 2.0 * len(ttoks) + 1.0 * len(toks) AS dl FROM tt),
         |c AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
         |pf AS (
         |  SELECT doc_id, term, 2.0 * count(*) AS wtf
         |  FROM (SELECT doc_id, unnest(ttoks) AS term FROM tt)
         |  WHERE term IN ('vector','join','hash') GROUP BY doc_id, term
         |  UNION ALL
         |  SELECT doc_id, term, 1.0 * count(*) AS wtf
         |  FROM (SELECT doc_id, unnest(toks) AS term FROM tk)
         |  WHERE term IN ('vector','join','hash') GROUP BY doc_id, term),
         |posts AS (SELECT doc_id, term, sum(wtf) AS tf FROM pf GROUP BY doc_id, term),
         |dfreq AS (SELECT term, count(*) AS df FROM posts GROUP BY term)
         |SELECT doc_id, round(sum(
         |  ln(1.0 + (n - df + 0.5) / (df + 0.5))
         |   * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 4) AS score
         |FROM posts JOIN dfreq USING (term) JOIN dl USING (doc_id), c
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    Q("text_index_phrase", (s, d) =>
      // adjacency from STORED POSITIONS only — the oracle re-tests the
      // phrase against raw token positions, so the stored position
      // lists are verified, not just tf
      graft.sources.FullTextStore.phraseMatch(s, fullTextLayout(s, d),
          Seq("fast", "table"))
        .orderBy("doc_id"),
      phraseSql),

    // --- quality filtering + sampling (LLM pipeline, round-6 surface) ---
    Q("repetition_signals", (s, d) =>
      TextAnalysis.repetitionSignals(Tables.documents(s, d), "text", "doc_id")
        .orderBy("id"),
      repetitionSql),

    Q("repetition_signals_perrow", (s, d) =>
      TextAnalysis.repetitionSignalsPerRow(Tables.documents(s, d), "text", "doc_id")
        .orderBy("id"),
      // doc_id is unique in `documents`, so the per-row kernel's answer
      // equals the aggregation form's — one oracle body serves both
      repetitionSql,
      Gate.marker("per-row kernel stays in the scan stage", "repetition_stats"),
      Gate.noShuffle("zero non-sort exchanges")),

    Q("pii_scan", (s, d) => Tables.documents(s, d)
      .select(col("doc_id"), piiText.as("text"))
      .select(col("doc_id"),
        TextAnalysis.piiCount(col("text"), TextAnalysis.EmailRe).as("emails"),
        TextAnalysis.piiCount(col("text"), TextAnalysis.PhoneRe).as("phones"),
        TextAnalysis.piiCount(col("text"), TextAnalysis.Ipv4Re).as("ips"),
        TextAnalysis.redactPii(col("text")).as("redacted"))
      .orderBy("doc_id"),
      s"""WITH p AS (SELECT doc_id, $duckPiiText AS text FROM documents)
         |SELECT doc_id,
         | len(regexp_extract_all(text, '${TextAnalysis.EmailRe}')) AS emails,
         | len(regexp_extract_all(text, '${TextAnalysis.PhoneRe}')) AS phones,
         | len(regexp_extract_all(text, '${TextAnalysis.Ipv4Re}')) AS ips,
         | regexp_replace(regexp_replace(regexp_replace(text,
         |   '${TextAnalysis.EmailRe}', '<EMAIL>', 'g'),
         |   '${TextAnalysis.PhoneRe}', '<PHONE>', 'g'),
         |   '${TextAnalysis.Ipv4Re}', '<IP>', 'g') AS redacted
         |FROM p ORDER BY doc_id""".stripMargin),

    Q("quality_filter_verdicts", (s, d) =>
      TextAnalysis.qualityVerdicts(Tables.documents(s, d), "text", "doc_id",
          minQuality = 0.5, maxDupTokenFrac = 0.6, maxTopTokenFrac = 0.15,
          maxDupBigramFrac = 0.08, maxPii = 0)
        .orderBy("id"),
      duckQualityVerdictsSql),

    Q("quality_filter_verdicts_perrow", (s, d) =>
      TextAnalysis.qualityVerdictsPerRow(Tables.documents(s, d), "text", "doc_id",
          minQuality = 0.5, maxDupTokenFrac = 0.6, maxTopTokenFrac = 0.15,
          maxDupBigramFrac = 0.08, maxPii = 0)
        .orderBy("id"),
      // doc_id unique -> the per-row kernel equals the merge-form answer
      duckQualityVerdictsSql),

    Q("doc_top_terms", (s, d) =>
      TextAnalysis.topTerms(Tables.documents(s, d), "text", "doc_id", k = 3)
        .orderBy("doc_id", "rank"),
      """WITH tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        |    FROM documents)
        |  WHERE term <> '' AND regexp_full_match(term, '[a-z]+')
        |  GROUP BY doc_id, term),
        | dfreq AS (SELECT term, count(*) AS dfreq FROM tf GROUP BY term),
        | n AS (SELECT count(*) AS n_docs FROM documents),
        | scored AS (
        |  SELECT doc_id, term,
        |    round(tf * ln((n_docs + 1.0) / (dfreq + 1.0)), 4) AS score
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN n)
        |SELECT doc_id, rank, term, score FROM (
        |  SELECT doc_id, term, score, row_number() OVER
        |    (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
        |  FROM scored)
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
      Gate.marker("idf joins back as a broadcast on the term key",
        "BroadcastHashJoin", "partial_count")),

    Q("quality_percentile_band", (s, d) => {
      // DCLM-style percentile gate: keep each language's top-30% by
      // quality score, ranked WITHIN the language so no language is
      // wiped out by a global threshold. One lang-keyed window
      // exchange; the rank is over the ROUNDED score with doc_id
      // tie-break, so the ordering (and the band cut) is exact integer
      // /4-dp arithmetic both engines replay bit-identically.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("lang")
        .orderBy(col("quality").desc, col("doc_id"))
      Tables.documents(s, d)
        .withColumn("quality", round(TextAnalysis.qualityScore(col("text")), 4))
        .withColumn("pct", round(percent_rank().over(w), 4))
        .filter(col("pct") <= 0.3)
        .select("doc_id", "lang", "quality", "pct")
        .orderBy("lang", "pct", "doc_id")
    },
      s"""SELECT doc_id, lang, quality, pct FROM (
         | SELECT doc_id, lang, quality,
         |   round(percent_rank() OVER
         |     (PARTITION BY lang ORDER BY quality DESC, doc_id), 4) AS pct
         | FROM (SELECT doc_id, lang, round((
         |   least(length(text) / 200.0, 1.0)
         |   + greatest(0.0, 1.0 - (CASE WHEN length(text) = 0 THEN 0.0 ELSE
         |       CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / length(text) END) * 5.0)
         |   + least((CAST(len(list_filter($duckToks, t -> list_contains($duckStops, t))) AS DOUBLE) / len($duckToks)) * 5.0, 1.0)
         |  ) / 3.0, 4) AS quality FROM documents))
         |WHERE pct <= 0.3 ORDER BY lang, pct, doc_id""".stripMargin),
  )
}
