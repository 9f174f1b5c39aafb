package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sequential (brute-force, exact) k-nearest-neighbour scan.
  *
  * Mirrors the reference's `SequentialScanExpression`
  * (`/root/reference/src/main/scala/org/vitrivr/adampro/query/ast/internal/SequentialScanExpression.scala:163-183`):
  * distance column + `orderBy(distance).limit(k)`. In Spark this plans as
  * `TakeOrderedAndProject` — a distributed per-partition top-k followed by a
  * driver-side merge of k·numPartitions candidate rows, i.e. no full sort and
  * no shuffle of the scanned relation; the pattern scales linearly with
  * partition count, which is exactly what a 100 TB scan needs.
  *
  * Ties are broken on `tieBreak` (usually the id column) so results are
  * deterministic across partitionings.
  */
object Knn {

  val DistanceCol = "distance"

  /** Append a distance column and keep the k nearest rows. Nulls (malformed
    * vectors, 0/0 divisions) sort last, matching the reference's convention of
    * returning a maximal distance for bad input (`HaversineDistance.scala:37`). */
  def knn(df: DataFrame, dist: Column, k: Int, tieBreak: Column): DataFrame =
    df.withColumn(DistanceCol, dist)
      .orderBy(col(DistanceCol).asc_nulls_last, tieBreak.asc_nulls_last)
      .limit(k)

  /** Boolean-prefiltered kNN — the reference's `BooleanFilterScanExpression` →
    * kNN composition (`BooleanFilterExpression.scala:29-101`). The predicate
    * is a plain Catalyst `Column`, so it is pushed into the Parquet scan by
    * the optimizer rather than rendered to a SQL string as the reference does
    * (`QueryObject.scala:55-73`). */
  def knnFiltered(df: DataFrame, predicate: Column, dist: Column, k: Int, tieBreak: Column): DataFrame =
    knn(df.filter(predicate), dist, k, tieBreak)

  /** Radius (range) search: every row within distance `r`, nearest
    * first. The filter is a plain Catalyst predicate, so an index's
    * lossless range candidates (`VAIndex.rangeCandidates`) compose as a
    * semi-join prefilter exactly like the kNN path. */
  def radius(df: DataFrame, dist: Column, r: Double, tieBreak: Column): DataFrame =
    df.withColumn(DistanceCol, dist)
      .filter(col(DistanceCol) <= r)
      .orderBy(col(DistanceCol).asc_nulls_last, tieBreak.asc_nulls_last)

  /** Candidate re-rank: exact kNN restricted to candidate ids — the
    * candidates-then-rerank shape every approximate index scan is wrapped in
    * (`IndexScanExpression.rewrite`, `IndexScanExpression.scala:89-98`).
    * The candidate set flows as a left-semi join (never a collected id list),
    * so it stays distributed at any candidate cardinality; the join is
    * set-semantic, so duplicate candidate ids need no `distinct`. */
  def rerank(entity: DataFrame, candidates: DataFrame, idCol: String,
             dist: Column, k: Int): DataFrame =
    knn(entity.join(candidates.select(idCol), Seq(idCol), "left_semi"),
      dist, k, col(idCol))
}
