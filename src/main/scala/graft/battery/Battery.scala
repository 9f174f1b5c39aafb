package graft
package battery

/** The query registry: every battery query, each defined once in its
  * family beside its oracle and its plan gates. [[SparkEntry]]'s
  * name-keyed maps and [[Plans]]' audit are derived from it. */
object Battery {

  /** The audit of every other entry's gates as a correctness row. */
  private val planShapes =
    Q("plan_shapes", (s, d) => {
      // the Plans audit as a correctness row: every scale-critical
      // physical-plan shape (pushed filters, bounded top-k, broadcast
      // dims, no-NLJ binned joins, zero-shuffle per-row kernels,
      // z-order file stats) must hold, or this row hash-mismatches the
      // all-true oracle and the ROUND goes red — not just the suite
      import s.implicits._
      graft.Plans.audit(s, d).map { case (n, ok, _) => (n, ok) }
        .toDF("check_name", "ok").orderBy("check_name")
    },
      // generated from the SAME gates the audit runs, so adding a gate to
      // a query automatically extends this oracle
      graft.Plans.checkNames
        .map(n => s"('$n', true)")
        .mkString("SELECT * FROM (VALUES ", ", ",
          ") AS t(check_name, ok) ORDER BY check_name"))

  val all: Seq[Q] =
    TpchQueries.queries ++ KnnQueries.queries ++ EntityQueries.queries ++
      DedupQueries.queries ++ TextQueries.queries ++ PipelineQueries.queries ++
      EventsQueries.queries ++ GeoQueries.queries :+ planShapes
}
