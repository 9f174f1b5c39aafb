package graft.battery

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One battery query: its name, its builder over `(session, sf dir)`,
  * its DuckDB oracle SQL and the plan-shape gates its executed plan
  * must pass.
  *
  * The oracle is by-name: it is evaluated when read, after the
  * builders ran, so an oracle may inline state a builder computed
  * (`quality_classifier_scores` inlines the trained weights).
  *
  * Conventions keeping the Spark result and the DuckDB oracle
  * hash-comparable:
  *  - every floating-point output column is `round(_, 4..6)` in BOTH
  *    engines (absorbs summation-order ulp drift);
  *  - every query has a deterministic total ORDER BY (unrounded sort
  *    keys, then ids);
  *  - aggregate / computed columns carry identical aliases on both sides;
  *  - timestamps are formatted to strings on both sides.
  */
final class Q(val name: String, val build: (SparkSession, String) => DataFrame,
              oracleSql: => String, val gates: Seq[Gate]) {
  def oracle: String = oracleSql

  /** The gates under their `plan_shapes` check names, `kind:query`. */
  def checks: Seq[(String, Gate)] = gates.map(g => s"${g.kind}:$name" -> g)
}

object Q {
  def apply(name: String, build: (SparkSession, String) => DataFrame,
            oracle: => String, gates: Gate*): Q =
    new Q(name, build, oracle, gates)
}

/** A plan-shape check on one query's executed plan: `check` maps the
  * plan string to (ok, detail), the detail being the offending plan on
  * a miss. */
final case class Gate(kind: String, check: String => (Boolean, String))

object Gate {

  /** Every marker must appear in the executed plan. */
  def marker(what: String, markers: String*): Gate = Gate("shape", p => {
    val missing = markers.toList.filterNot(p.contains)
    (missing.isEmpty, if (missing.isEmpty) what else s"expected $missing\n$p")
  })

  /** A binned join must plan as a hash equi-join — a Catalyst upgrade
    * silently re-planning it into BroadcastNestedLoopJoin /
    * CartesianProduct is a scale regression. */
  def noNlj(what: String): Gate = Gate("no_nlj", p => {
    val ok = !p.contains("NestedLoop") && !p.contains("CartesianProduct") &&
      p.contains("Join")
    (ok, if (ok) s"$what, no nested loop" else s"expected hash join without NLJ\n$p")
  })

  /** No shuffle before the final presentation sort: the Sort's own
    * range exchanges are discounted, and a BroadcastExchange ships a
    * tiny build side, not the data. */
  def noShuffle(what: String): Gate = Gate("no_shuffle", p => {
    val exchanges = "(?<!Broadcast)Exchange".r.findAllIn(p).length
    val rangeExchanges = "rangepartitioning".r.findAllIn(p).length
    (exchanges <= rangeExchanges,
      if (exchanges <= rangeExchanges) what else s"unexpected shuffle\n$p")
  })
}
