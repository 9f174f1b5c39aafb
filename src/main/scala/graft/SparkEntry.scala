package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.battery._
import graft.battery.KnnQueries.knnQuery
import graft.functions.Distances
import graft.index.IndexCache

/** Driver contract — one `queries` entry per implemented operator
  * (SURVEY.md §2 + the LLM-pipeline battery), each with a DuckDB-oracle
  * SQL equivalent. Both maps are derived from the query registry
  * ([[graft.battery.Battery]]), where each query is defined once in its
  * family file beside its oracle and its plan gates.
  */
object SparkEntry {

  /** Flagship query on sf=0.001: exact Manhattan kNN, k=100. */
  def entry(spark: SparkSession): DataFrame =
    knnQuery(Distances.manhattan, 100)(spark, "/root/testdata/sf0.001")

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Battery.all.map(q => q.name -> q.build).toMap

  /** A def: an oracle may inline state its builder computed, so it is
    * read after the queries ran. */
  def oracleSql: Map[String, String] =
    Battery.all.map(q => q.name -> q.oracle).toMap

  /** Pre-build + persist every index for `dir` (untimed bench warmup). */
  def warmIndexes(s: SparkSession, d: String): Unit = KnnQueries.warmIndexes(s, d)

  /** Pre-build the one-time entity-layout artifacts (untimed bench
    * warmup, alongside [[warmIndexes]]). */
  def warmLayouts(s: SparkSession, d: String): Unit = {
    EntityQueries.warmLayouts(s, d)
    TextQueries.warmLayouts(s, d)
    GeoQueries.warmLayouts(s, d)
  }

  /** Pre-build the corpus admission indexes (untimed bench warmup). */
  def warmCorpusIndexes(s: SparkSession, d: String): Unit =
    DedupQueries.warmCorpusIndexes(s, d)

  /** Drop every per-data-dir cached index/layout artifact for `dir` —
    * the eviction seam for a long-lived server (hung off entity drop /
    * vacuum), so caches track live entities instead of growing without
    * bound. Unpersists cached frames, deletes layout temp dirs, and
    * evicts the persisted vector indexes. Returns how many cache
    * entries were released. */
  def releaseCaches(dir: String): Int =
    DedupQueries.release(dir) + KnnQueries.release(dir) + TextQueries.release(dir) +
      EntityQueries.release(dir) + IndexCache.release(dir)
}
