package graft.index

import java.nio.file.Files

import graft.core.OnceMemo

import org.apache.spark.sql.SparkSession

/** Per-JVM registry of built-and-persisted indexes, keyed by (data
  * directory, index key). Mirrors how the reference serves queries: an
  * index is a persisted artifact created ahead of query time and
  * *loaded* by the scan (`Index.scala:442-471`), never rebuilt inside a
  * query. The first request builds the index, writes it through
  * [[IndexStore]], and reloads it — so every scan thereafter runs against
  * the parquet-backed narrow table (no training, no encode pass, no
  * lineage recompute), which is exactly the cost profile a 100 TB
  * deployment sees.
  */
object IndexCache {

  // OnceMemo (not TrieMap.getOrElseUpdate): a racing double-build
  // would run TWO IndexStore.save calls against the same persisted
  // path — the builder must run at most once per (dir, key)
  private val cache = new OnceMemo[(String, String), VectorIndex]
  private lazy val tmpBase = {
    val p = Files.createTempDirectory("graft-idxcache")
    Runtime.getRuntime.addShutdownHook(new Thread(() => graft.core.Entity.deleteRecursively(p)))
    p.toString
  }

  /** Collision-free per-data-dir tag (String.hashCode is 32-bit; a
    * collision would silently serve one dir's persisted indexes for
    * the other). */
  private def dirTag(dataDir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dataDir.getBytes("UTF-8")).map("%02x".format(_)).mkString

  def of(spark: SparkSession, dataDir: String, key: String)
        (build: => VectorIndex): VectorIndex =
    cache.getOrElseUpdate((dataDir, key), {
      val base = s"$tmpBase/h${dirTag(dataDir)}"
      IndexStore.save(base, key, build)
      IndexStore.load(spark, base, key).index
    })

  /** Evict every cached index for `dataDir` and delete its persisted
    * artifacts — the entity-drop hook for long-lived servers. Returns
    * the number of evicted entries. */
  def release(dataDir: String): Int = {
    val keys = cache.keys.filter(_._1 == dataDir).toSeq
    keys.foreach(cache.remove)
    if (keys.nonEmpty)
      graft.core.Entity.deleteRecursively(
        java.nio.file.Paths.get(s"$tmpBase/h${dirTag(dataDir)}"))
    keys.size
  }
}
