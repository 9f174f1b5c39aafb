package graft

import org.apache.spark.sql.SparkSession

import graft.battery.{Battery, EntityQueries, Q}

/** Plan-shape audit: runs every [[graft.battery.Gate]] the registry's
  * queries declare (pushed filters, TakeOrderedAndProject for top-k,
  * broadcast for small dims, no NLJ on the binned joins, zero-shuffle
  * per-row kernels) against its query's executed plan, plus the z-order
  * file-stats check. Two consumers:
  *
  *  - `sbt "runMain graft.Plans <sfDir>"` — prints `[plan-ok]` /
  *    `[plan-MISS]` with the offending plan and exits non-zero on any
  *    miss (the interactive diagnostic).
  *  - The `plan_shapes` battery query — runs the same [[Plans.audit]]
  *    and returns `(check_name, ok)` rows checked against an all-true
  *    oracle, so a silently re-planned shape (Catalyst upgrade,
  *    accidental operator change) fails the battery's correctness
  *    check, not just the test suite.
  */
object Plans {

  /** The one check that reads a layout, not a plan. */
  private val ZorderCheck = "layout:zorder_file_stats"

  /** Stable, sorted names of every audited shape — the `plan_shapes`
    * oracle is generated from this list, so adding a gate to a query's
    * `Q` is the ONLY step needed to put it under the battery's
    * correctness check. */
  val checkNames: Seq[String] =
    (Battery.all.flatMap(_.checks.map(_._1)) :+ ZorderCheck).sorted

  /** Every query whose plan the audit materializes. */
  private def gated: Seq[Q] = Battery.all.filter(_.gates.nonEmpty)

  /** Their names (exposed for the dev-only PlanAuditProbe timing
    * harness). */
  private[graft] def auditPlanNames: Seq[String] = gated.map(_.name)

  /** Run every audit; returns (check_name, ok, detail) — detail is the
    * offending plan on a miss, a short note on success.
    *
    * Plan MATERIALIZATION runs on a small fixed thread pool: planning
    * is driver-side and embarrassingly parallel (each query gets its
    * own `executedPlan`; Catalyst sessions are thread-safe for
    * planning), and the audit's wall-clock otherwise grows linearly
    * with every shape added — the checks themselves then read the
    * pre-planned strings serially, so results are identical to the
    * sequential form. */
  def audit(spark: SparkSession, sfDir: String): Seq[(String, Boolean, String)] = {
    // pool sized to the host, not a constant: the audit is driver-side
    // Catalyst planning (~0.5 CPU-s per query at 100 shapes) plus the
    // eager-builder queries' own small jobs — 8 threads left a 32-core
    // driver planning-bound (r22: 7.0 s wall at 67 CPU-s)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(gated.size,
        math.min(24, Runtime.getRuntime.availableProcessors))))
    val plans: Map[String, String] =
      try {
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutorService(pool)
        val futures = gated.map { q =>
          q.name -> scala.concurrent.Future {
            // child threads inherit no active session by default when
            // spawned from a pool — pin it so operator code that asks
            // for the active session plans against the right one
            org.apache.spark.sql.SparkSession.setActiveSession(spark)
            q.build(spark, sfDir).queryExecution.executedPlan.toString
          }
        }
        futures.map { case (name, f) =>
          name -> scala.concurrent.Await.result(f,
            scala.concurrent.duration.Duration.Inf)
        }.toMap
      } finally pool.shutdown()
    val gates = for (q <- gated; (name, g) <- q.checks) yield {
      val (ok, detail) = g.check(plans(q.name))
      (name, ok, detail)
    }

    // z-order layout: per-file min/max of the NON-leading column must be
    // tight enough that the BETWEEN [100,120] filter's row groups prune
    val zorder = {
      import org.apache.spark.sql.functions._
      val perFile = spark.read.parquet(EntityQueries.zorderLayout(spark, sfDir))
        .groupBy(input_file_name().as("f"))
        .agg(min("l_partkey").as("lo"), max("l_partkey").as("hi"))
        .collect()
      val overlapping = perFile.count(r => r.getLong(1) <= 120 && r.getLong(2) >= 100)
      (ZorderCheck,
        perFile.length >= 4 && overlapping * 2 < perFile.length,
        s"$overlapping/${perFile.length} files overlap the partkey filter")
    }

    (gates :+ zorder).sortBy(_._1)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.core.GraftSession.builder("local[4]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val results = audit(spark, sfDir)
    var failed = 0
    results.foreach { case (name, ok, detail) =>
      if (ok) println(s"[plan-ok] $name: $detail")
      else { failed += 1; println(s"[plan-MISS] $name: $detail") }
    }
    println(if (failed == 0) "[plans] all shapes OK" else s"[plans] $failed MISSING")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
