package graft
package battery

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Entity, OnceMemo}
import graft.operators.TextAnalysis

/** Helpers shared by the battery families: the canonical query vector,
  * the DuckDB fragments the oracles build on, the portable-hash
  * replays and the per-JVM scratch root for one-time artifacts. */
object Helpers {

  /** DuckDB-side elementwise fold over the 64-dim embedding vs query. */
  private[battery] def duckSum(expr: String): String =
    s"list_sum(list_transform(generate_series(1,64), i -> $expr))"
  private[battery] val dx = "CAST(e.embedding[i] AS DOUBLE)"
  private[battery] val dq = "CAST(q.qv[i] AS DOUBLE)"
  private[battery] def duckKnn(distExpr: String, k: Int, where: String = "",
                               roundTo: Int = 4): String =
    // `+ 0.0` normalizes IEEE signed zero: DuckDB's cosine self-match row
    // rounds to -0.0 while Spark's fused kernel yields +0.0 (hash-relevant).
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
       |SELECT vec_id, round(d, $roundTo) + 0.0 AS distance FROM (
       |  SELECT e.vec_id, $distExpr AS d FROM embeddings e, q $where
       |) ORDER BY d, vec_id LIMIT $k""".stripMargin

  private[battery] val duckDot = duckSum(s"$dx * $dq")
  private[battery] val duckNormE = s"sqrt(${duckSum(s"$dx * $dx")})"
  private[battery] val duckNormQ = s"sqrt(${duckSum(s"$dq * $dq")})"

  private[battery] def queryVecOf(emb: DataFrame): Seq[Double] =
    emb.filter(col("vec_id") === 0).select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0)

  /** The k lowest-id embeddings double as deterministic cluster seeds for
    * the SemDeDup queries — a stand-in for trained k-means centroids that
    * the SQL oracle can reproduce exactly (bounded k-row collect). */
  private[battery] def seedCentroids(emb: DataFrame, k: Int): Seq[Seq[Double]] =
    emb.filter(col("vec_id") < k).orderBy("vec_id")
      .select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0)).toSeq

  /** ONE scratch root per JVM for every battery query that writes a
    * throwaway entity/export (lifecycle, upsert, vacuum, sparse, import/
    * export, vertical). Deleted by a single shutdown hook; per-query
    * subdirs are wiped-and-recreated per invocation by [[freshScratch]],
    * so repeated battery runs in one JVM leave zero orphaned `graft-*`
    * dirs AND bounded disk (each query owns exactly one live subdir). */
  private[battery] lazy val scratchRoot: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft-scratch")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      graft.core.Entity.deleteRecursively(p)))
    p
  }

  /** Collision-free tag for a data-dir path in a scratch-dir name —
    * MD5 over the full path (String.hashCode is 32-bit and two data
    * dirs colliding would silently cross-serve each other's layouts). */
  private[battery] def dirTag(d: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** A clean per-query scratch dir under [[scratchRoot]]. Synchronized:
    * the wipe is not safe against a concurrent invocation of the SAME
    * query name — acceptable for the bench/battery surface these back
    * (the server's entity store uses its own per-entity dirs). */
  private[battery] def freshScratch(name: String): String = synchronized {
    val d = scratchRoot.resolve(name)
    graft.core.Entity.deleteRecursively(d)
    java.nio.file.Files.createDirectories(d)
    d.toString
  }

  private[battery] val duckToks =
    "string_split_regex(lower(trim(text)), '\\s+')"
  private[battery] val duckNorm =
    "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
  private[battery] val duckShingles =
    s"""list_distinct(CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
       | ELSE list_transform(generate_series(1, len(toks)-2),
       |   i -> array_to_string(toks[i:i+2], ' ')) END)""".stripMargin
  private[battery] val duckStops =
    TextAnalysis.Stopwords.map(w => s"'$w'").mkString("[", ",", "]")

  /** Portable key hash — the DuckDB replay of
    * [[graft.operators.Sampling.keyHash]]: rolling `h = (h·131 +
    * codepoint) mod 1e9+7` (seed 7, NULL/empty → 7) finalized with the
    * `· 2654435761 mod p` avalanche step. */
  private[battery] def duckRawHash(expr: String) =
    s"""((CASE WHEN $expr IS NULL OR length($expr) = 0 THEN CAST(7 AS BIGINT) ELSE
       | list_reduce(list_prepend(CAST(7 AS BIGINT),
       |   list_transform(string_split($expr, ''), c -> CAST(unicode(c) AS BIGINT))),
       |   (h, c) -> (h * 131 + c) % 1000000007) END) * 2654435761) % 1000000007""".stripMargin

  /** The independent second hash ([[graft.operators.Sampling.keyHash2]]):
    * multiplier 137, modulus 998244353, seed 11, avalanche 3266489917. */
  private[battery] def duckRawHash2(expr: String) =
    s"""((CASE WHEN $expr IS NULL OR length($expr) = 0 THEN CAST(11 AS BIGINT) ELSE
       | list_reduce(list_prepend(CAST(11 AS BIGINT),
       |   list_transform(string_split($expr, ''), c -> CAST(unicode(c) AS BIGINT))),
       |   (h, c) -> (h * 137 + c) % 998244353) END) * 3266489917) % 998244353""".stripMargin

  /** [[graft.operators.Sampling.keyHash62]]: the identity-grade packed
    * pair `h1 · 2³¹ + h2`. */
  private[battery] def duckKeyHash62(expr: String) =
    s"(${duckRawHash(expr)}) * 2147483648 + (${duckRawHash2(expr)})"

  /** Evict `dir`'s entry from a per-data-dir cache, freeing it; 1 when
    * there was one. */
  private[battery] def drop[A](m: OnceMemo[String, A], dir: String)(free: A => Unit): Int =
    m.remove(dir).fold(0) { v => free(v); 1 }

  /** Frees a layout artifact: deletes its scratch dir. */
  private[battery] val deleteDir: String => Unit =
    p => Entity.deleteRecursively(java.nio.file.Paths.get(p))
}
