package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Web-corpus URL hygiene: canonicalization, registrable-domain
  * extraction, and per-domain caps — the steps every web-scale corpus
  * build (C4, RefinedWeb, FineWeb) runs before URL-level dedup, since
  * raw crawl URLs differ in scheme case, default ports, tracking
  * params, param order, trailing slashes, and fragments while pointing
  * at the same resource.
  *
  * Reference scope: ADAMpro has no web-corpus tooling; this extends the
  * engine's LLM-pipeline brief. All transforms are single-row
  * `functions._` expressions (regex extract/replace + higher-order
  * array ops), so at 100 TB they fuse into the scan under whole-stage
  * codegen — zero shuffle, zero UDF. The same steps replay in any SQL
  * engine (the `url_*` DuckDB oracles in `TextQueries` are the proof),
  * so URL normalization done here matches normalization done by an ingest
  * service elsewhere — the property that makes URL-keyed dedup safe
  * across systems.
  */
object Url {

  /** Query params dropped during canonicalization: click/campaign
    * trackers that vary per impression but never change the resource. */
  val TrackingParamRe: String =
    "^(utm_[a-z0-9]+|fbclid|gclid|msclkid|mc_eid|igshid|ref|ref_src)="

  /** Two-level public suffixes of the pre-PSL approximation — kept
    * only as the load-failure fallback inside
    * [[graft.functions.RegistrableDomainExpr]]; [[registrableDomain]]
    * now resolves against the full vendored Mozilla PSL. */
  val TwoLevelSuffixRe: String =
    "\\.(co|com|net|org|ac|gov|or|edu|gen|ne)\\.(uk|au|jp|br|in|nz|za|kr|mx|id)$"

  private def scheme(u: Column): Column =
    lower(regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))

  private def afterScheme(u: Column): Column =
    regexp_replace(u, "^[A-Za-z][A-Za-z0-9+.-]*://", "")

  /** Lower-cased `host[:port]` with the scheme's DEFAULT port stripped
    * (`:80` on http, `:443` on https) — an explicit non-default port is
    * load-bearing and survives. */
  def canonicalHost(url: Column): Column = {
    val u = trim(url)
    val hp = lower(regexp_extract(afterScheme(u), "^([^/?#]*)", 1))
    when(scheme(u) === "http", regexp_replace(hp, ":80$", ""))
      .when(scheme(u) === "https", regexp_replace(hp, ":443$", ""))
      .otherwise(hp)
  }

  /** Bare host: [[canonicalHost]] with any explicit port removed too —
    * the input [[registrableDomain]] wants. */
  def host(url: Column): Column =
    regexp_replace(canonicalHost(url), ":[0-9]+$", "")

  /** Canonical URL: lower-cased scheme + [[canonicalHost]] + path with
    * trailing slashes stripped + the surviving (non-tracking) query
    * params SORTED and re-joined; the fragment never survives. Two raw
    * URLs canonicalize equal iff they name the same resource under
    * these rules — the join key for URL-level dedup. */
  def canonicalizeUrl(url: Column): Column = {
    val u = trim(url)
    val path = regexp_replace(
      regexp_extract(afterScheme(u), "^[^/?#]*([^?#]*)", 1), "/+$", "")
    val q = regexp_extract(u, "\\?([^#]*)", 1)
    val kept = array_join(
      array_sort(filter(split(q, "&"),
        p => length(p) > 0 && !p.rlike(TrackingParamRe))), "&")
    concat(scheme(u), lit("://"), canonicalHost(u), path,
      when(length(kept) > 0, concat(lit("?"), kept)).otherwise(lit("")))
  }

  /** Exact eTLD+1 under the full Mozilla Public Suffix List (vendored,
    * ~14k rules): `news.example.co.uk` → `example.co.uk`,
    * `shop.example.com.cn` → `example.com.cn`, `user.github.io` →
    * `user.github.io` (each GitHub Pages tenant is its own party).
    * Codegen'd O(#labels) hash probes per row — the URL-hygiene
    * pipeline stays a zero-shuffle scan; see
    * [[graft.functions.RegistrableDomainExpr]] for the algorithm and
    * the is-itself-a-suffix convention. */
  def registrableDomain(hostCol: Column): Column =
    graft.functions.PublicSuffix.registrableDomain(hostCol)

  /** URL-level exact dedup after canonicalization: one row per
    * canonical URL with the group size and the smallest id as survivor.
    * One shuffle, keyed by the canonical string — the canonicalization
    * itself rides the scan. */
  def dedupByCanonicalUrl(df: DataFrame, urlCol: String, idCol: String)
  : DataFrame =
    df.select(canonicalizeUrl(col(urlCol)).as("url_canon"),
        col(idCol).cast("long").as("id"))
      .groupBy("url_canon")
      .agg(count(lit(1)).as("n_dups"), min("id").as("survivor_id"))

  /** Drop documents whose registrable domain is on a blocklist — the
    * kill-list step every crawl pipeline runs (spam, adult, SEO farms).
    * Broadcast LEFT ANTI join: the blocklist (at most a few hundred
    * thousand strings) ships to every executor once; the corpus is
    * filtered in place during its scan and never shuffles. */
  def domainBlocklistFilter(df: DataFrame, urlCol: String,
                            blocked: Seq[String]): DataFrame = {
    require(blocked.nonEmpty, "empty blocklist: nothing to filter")
    val spark = df.sparkSession
    import spark.implicits._
    val bl = blocked.toDF("__blocked_dom")
    df.withColumn("__dom", registrableDomain(host(col(urlCol))))
      .join(broadcast(bl), col("__dom") === col("__blocked_dom"), "left_anti")
      .drop("__dom")
  }

  /** Per-domain cap — FineWeb-style: keep at most `cap` documents per
    * registrable domain, chosen by the deterministic
    * [[Sampling.keyHash]] order (so the kept subset is stable under
    * corpus growth and replayable by any engine, not
    * first-files-scanned). ONE window shuffle keyed by domain; at
    * 100 TB the exchange carries (id, domain, hash) triples only —
    * project the payload back by id afterwards if needed. */
  def domainCap(df: DataFrame, urlCol: String, idCol: String, cap: Int)
  : DataFrame = {
    require(cap > 0, s"domain cap must be positive, got $cap")
    import org.apache.spark.sql.expressions.Window
    val dom = registrableDomain(host(col(urlCol)))
    df.select(col(idCol).cast("long").as("id"), dom.as("domain"),
        Sampling.keyHash(col(idCol)).as("kh"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("domain")).orderBy(col("kh"), col("id"))))
      .where(col("rn") <= cap)
      .select("id", "domain")
  }
}
