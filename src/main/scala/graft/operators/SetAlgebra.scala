package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Set algebra over result-id sets — the reference's `AggregationExpression`
  * family (`/root/reference/src/main/scala/org/vitrivr/adampro/query/ast/internal/AggregationExpression.scala`).
  *
  * All operators take two child results keyed on an id column and produce
  * `(id, distance)`. Plain `union`/`intersect`/`except` zero the distance
  * (reference `:137-168`, `:248-280`, `:360-392`); the fuzzy variants merge
  * scores through a full-outer join with a t-norm/t-conorm
  * (`:176-238` / `:289-351`) — pure Catalyst (`least`/`greatest`/`coalesce`),
  * no UDF.
  */
object SetAlgebra {

  /** Combine two child results by operation name — the one name table
    * both front doors decode into: union (also the empty name), intersect
    * (alias join), except, fuzzy_union (alias fuzzyunion) and
    * fuzzy_intersect (alias fuzzyintersect). Each child is first reduced
    * to `(idCol, distance)`: its own distance column, or 0 for a plain id
    * set ([[scored]]). */
  def combine(op: String, left: DataFrame, right: DataFrame, idCol: String): DataFrame = {
    val (l, r) = (scored(left, idCol), scored(right, idCol))
    op.toLowerCase match {
      case "" | "union" => union(l, r, idCol)
      case "intersect" | "join" => intersect(l, r, idCol)
      case "except" => except(l, r, idCol)
      case "fuzzy_union" | "fuzzyunion" => fuzzyUnion(l, r, idCol)
      case "fuzzy_intersect" | "fuzzyintersect" => fuzzyIntersect(l, r, idCol)
      case other => throw new IllegalArgumentException(s"unknown set operation: $other")
    }
  }

  /** A result reduced to `(idCol, distance)`: its own distance column, or
    * distance 0 for a plain id set. */
  def scored(df: DataFrame, idCol: String): DataFrame =
    if (df.columns.contains("distance")) df.select(col(idCol), col("distance"))
    else df.select(col(idCol), lit(0.0).as("distance"))

  /** Bag union of id sets, distance := 0 (reference does NOT dedupe, `:147`). */
  def union(left: DataFrame, right: DataFrame, idCol: String): DataFrame =
    left.select(idCol).union(right.select(idCol))
      .withColumn("distance", lit(0.0))

  /** Distinct intersection of id sets, distance := 0. Implemented as a
    * left-semi join over distinct ids rather than `Dataset.intersect` — same
    * semantics, but one hash shuffle instead of intersect's
    * aggregate-both-sides plan, and broadcast-able when one side is small. */
  def intersect(left: DataFrame, right: DataFrame, idCol: String): DataFrame =
    left.select(idCol).distinct()
      .join(right.select(idCol).distinct(), Seq(idCol), "left_semi")
      .withColumn("distance", lit(0.0))

  /** Distinct difference left ∖ right, distance := 0 (left-anti join). */
  def except(left: DataFrame, right: DataFrame, idCol: String): DataFrame =
    left.select(idCol).distinct()
      .join(right.select(idCol).distinct(), Seq(idCol), "left_anti")
      .withColumn("distance", lit(0.0))

  /** Fuzzy union: full-outer join on id, merged distance = min of the two
    * sides (standard t-conorm), missing side defaults to `fuzzyDefault`
    * (reference `FuzzyUnionExpression`, `:176-238`; default 0.0 matches the
    * reference's `fuzzydefault` option). */
  def fuzzyUnion(left: DataFrame, right: DataFrame, idCol: String,
                 distCol: String = "distance", fuzzyDefault: Double = 0.0): DataFrame =
    fuzzyMerge(left, right, idCol, distCol, fuzzyDefault, useMin = true)

  /** Fuzzy intersection: same join, merged distance = max (t-norm)
    * (reference `FuzzyIntersectExpression`, `:289-351`; default 0.0 matches
    * the reference's `fuzzydefault` option). */
  def fuzzyIntersect(left: DataFrame, right: DataFrame, idCol: String,
                     distCol: String = "distance", fuzzyDefault: Double = 0.0): DataFrame =
    fuzzyMerge(left, right, idCol, distCol, fuzzyDefault, useMin = false)

  private def fuzzyMerge(left: DataFrame, right: DataFrame, idCol: String,
                         distCol: String, fuzzyDefault: Double, useMin: Boolean): DataFrame = {
    val l = left.select(col(idCol), col(distCol).as("dl"))
    val r = right.select(col(idCol), col(distCol).as("dr"))
    val dl = coalesce(col("dl"), lit(fuzzyDefault))
    val dr = coalesce(col("dr"), lit(fuzzyDefault))
    val merged = if (useMin) least(dl, dr) else greatest(dl, dr)
    l.join(r, Seq(idCol), "outer").select(col(idCol), merged.as(distCol))
  }

  /** Multi-result vote: union n candidate id sets and score each id by
    * `1 − count(id)/n` — the reference's `StochasticIndexQueryExpression`
    * scoring (`StochasticIndexQueryExpression.scala:28-92`). A single
    * hash-aggregate with map-side partial counts; the `orderBy.limit` plans
    * as TakeOrderedAndProject. */
  def vote(results: Seq[DataFrame], idCol: String, k: Int): DataFrame = {
    val n = results.size
    results.map(_.select(idCol)).reduce(_ union _)
      .groupBy(idCol)
      .agg((lit(1.0) - count(lit(1)).cast("double") / lit(n.toDouble)).as("distance"))
      .orderBy(col("distance").asc, col(idCol).asc)
      .limit(k)
  }
}
