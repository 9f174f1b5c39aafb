package graft

import java.nio.file.Files

import scala.concurrent.ExecutionContext.Implicits.global

import org.apache.spark.sql.functions._

import graft.core.{Partitioning, RandomData}
import graft.functions.Distances
import graft.index._
import graft.plans.{Planner, Progressive, ResultCache}

/** Planner hints + measured-cost scoring, progressive/timed execution,
  * result cache, and partitioners. */
class PlannerSpec extends SparkSpec {

  import Planner._

  lazy val data = RandomData.generate(spark, 2000, 8).cache()
  lazy val q: Seq[Double] = Seq.fill(8)(0.5)
  private def dist = Distances.euclidean(col("feature"), Distances.vecLit(q))

  lazy val vaf = VAIndex.buildFixed(data, "id", "feature", p = 2.0)
  lazy val ecp = ECPIndex.build(data, "id", "feature")

  test("hint walk: sequential, exact, index priority, specific, fallback") {
    choose(Seq(SequentialHint), Seq(vaf, ecp), "euclidean") shouldBe a[SequentialPlan]
    choose(Seq(ExactHint), Seq(ecp, vaf), "euclidean") shouldBe IndexPlan(vaf)
    choose(Seq(IndexHint), Seq(ecp, vaf), "euclidean") shouldBe IndexPlan(vaf) // vaf before ecp
    choose(Seq(SpecificIndexHint("ecp")), Seq(ecp, vaf), "euclidean") shouldBe IndexPlan(ecp)
    choose(Seq(SpecificIndexHint("pq")), Seq(ecp, vaf), "euclidean") shouldBe a[SequentialPlan] // fallback
  }

  test("hint grammar parses reference hint names, drops unknown") {
    Planner.hintsByName(Seq("sequential", "INDEX_QUERY", "ecp", "bogus", "empirical")) shouldBe
      Seq(SequentialHint, IndexHint, SpecificIndexHint("ecp"), EmpiricalHint)
    Planner.hintByName("exact") shouldBe Some(ExactHint)
    Planner.hintByName("nope") shouldBe None
  }

  test("conformity: vaf skipped for cosine, ecp accepted") {
    choose(Seq(IndexHint), Seq(vaf, ecp), "cosine") shouldBe IndexPlan(ecp)
    choose(Seq(ExactHint), Seq(vaf, ecp), "cosine") shouldBe a[SequentialPlan]
  }

  test("empirical scoring prefers the measured-faster plan") {
    // progressive runs elsewhere in the suite feed the same global table
    Planner.clearMeasurements()
    record(SequentialPlan(), Measurement(100000000L, 1.0))
    record(IndexPlan(ecp), Measurement(1000000L, 0.9))
    choose(Seq(EmpiricalHint), Seq(ecp), "euclidean") shouldBe IndexPlan(ecp)
    scoredPaths(Seq(ecp), "euclidean").map(_._1) should contain allOf ("sequential", "index:ecp")
  }

  test("empirical hint flips from sequential to index after progressive training") {
    Planner.clearMeasurements()
    // untrained: every score is MaxValue, first candidate (sequential) wins
    choose(Seq(EmpiricalHint), Seq(ecp), "euclidean") shouldBe a[SequentialPlan]
    // run both plans through Progressive — each completed run records a
    // (time, confidence) measurement; the sleep makes sequential
    // decisively the slower path regardless of machine load
    Progressive.parallel(spark, Seq(
      Progressive.PlanSpec("sequential", 1.0,
        () => { Thread.sleep(3000); graft.operators.Knn.knn(data, dist, 5, col("id")) }),
      Progressive.PlanSpec("index:ecp", 0.5,
        () => ecp.knn(data, "id", dist, q, 5))))()
    Planner.measurements(SequentialPlan()) should not be empty
    Planner.measurements(IndexPlan(ecp)) should not be empty
    choose(Seq(EmpiricalHint), Seq(ecp), "euclidean") shouldBe IndexPlan(ecp)
    Planner.clearMeasurements()
  }

  test("auto-training sweep records size-tagged measurements for every plan") {
    Planner.clearMeasurements()
    val recorded = Planner.train(spark, data, "id", "feature", Seq(vaf, ecp), nQueries = 2)
    recorded shouldBe 6 // 2 queries × (sequential + 2 conforming indexes)
    Seq(SequentialPlan(), IndexPlan(vaf), IndexPlan(ecp)).foreach { p =>
      val ms = Planner.measurements(p)
      withClue(p.describe) {
        ms should not be empty
        all(ms.map(_.n)) shouldBe data.count()
        Planner.scoreLR(p, data.count()) should be < Double.MaxValue
      }
    }
    Planner.clearMeasurements()
  }

  test("learned scorer extrapolates: index wins at sizes never measured") {
    Planner.clearMeasurements()
    // sequential cost grows with n (measured at two small sizes);
    // the index is flat. Naive averaging would prefer sequential at ANY
    // size (avg 15ms vs 20ms); the linear model sees the slope.
    record(SequentialPlan(), Measurement(10000000L, 1.0, n = 10000L))
    record(SequentialPlan(), Measurement(20000000L, 1.0, n = 20000L))
    record(IndexPlan(ecp), Measurement(20000000L, 1.0, n = 10000L))
    record(IndexPlan(ecp), Measurement(20000000L, 1.0, n = 20000L))
    choose(Seq(EmpiricalHint), Seq(ecp), "euclidean") shouldBe a[SequentialPlan]
    // at n=1M the fitted sequential line predicts ~1s vs the flat 20ms
    Planner.predictedTime(SequentialPlan(), 1000000L) should be > 5.0e8
    choose(Seq(LearnedHint(1000000L)), Seq(ecp), "euclidean") shouldBe IndexPlan(ecp)
    // and at tiny n sequential still wins under the same model
    choose(Seq(LearnedHint(5000L)), Seq(ecp), "euclidean") shouldBe a[SequentialPlan]
    Planner.clearMeasurements()
  }

  test("pegasos svm learns a line and flips the plan like the reference OptimizerTestSuite") {
    // the solver itself: deterministic fit of y = 3 + 2x
    val svm = new graft.plans.PegasosSVM(2)
    val xs = Seq(1.0, 2.0, 4.0, 8.0).map(x => Array(1.0, x))
    svm.fit(xs, Seq(5.0, 7.0, 11.0, 19.0))
    svm.predict(Array(1.0, 16.0)) shouldBe 35.0 +- 3.0
    svm.steps should be > 0L

    // the scorer: same slope/flat setup as the OLS test — sequential
    // grows with n, index flat; SVM hint must flip at large n only
    Planner.clearMeasurements()
    record(SequentialPlan(), Measurement(10000000L, 1.0, n = 10000L))
    record(SequentialPlan(), Measurement(20000000L, 1.0, n = 20000L))
    record(IndexPlan(ecp), Measurement(20000000L, 1.0, n = 10000L))
    record(IndexPlan(ecp), Measurement(20000000L, 1.0, n = 20000L))
    // fitted sequential line at n=1M: ~1000 ms (slope 1ms per 1k rows)
    Planner.svmPredictedTime(SequentialPlan(), 1000000L) should be > 300.0
    choose(Seq(SvmHint(1000000L)), Seq(ecp), "euclidean") shouldBe IndexPlan(ecp)
    choose(Seq(SvmHint(5000L)), Seq(ecp), "euclidean") shouldBe a[SequentialPlan]
    Planner.clearMeasurements()
  }

  test("svm scorer is trained by the existing auto-training sweep") {
    Planner.clearMeasurements()
    Planner.train(spark, data, "id", "feature", Seq(ecp), nQueries = 2)
    // one corpus size only -> falls back to the naive average, but the
    // score must be finite (the sweep fed the model's stats)
    Planner.scoreSVM(SequentialPlan(), data.count()) should be < Double.MaxValue
    Planner.scoreSVM(IndexPlan(ecp), data.count()) should be < Double.MaxValue
    Planner.clearMeasurements()
  }

  test("plans execute: chosen index plan returns k rows matching brute force top-1") {
    val plan = choose(Seq(ExactHint), Seq(vaf), "euclidean")
    val r = Planner.run(plan, data, "id", dist, q, 10).select("id").collect().map(_.getLong(0))
    val brute = graft.operators.Knn.knn(data, dist, 10, col("id"))
      .select("id").collect().map(_.getLong(0))
    r.toSeq shouldBe brute.toSeq
  }

  test("a throwing onNext callback cannot wedge parallel (client-disconnect shape)") {
    val obs = Progressive.parallel(spark, Seq(
      Progressive.PlanSpec("sequential", 1.0, () => data.limit(1)),
      Progressive.PlanSpec("index:ecp", 0.5, () => data.limit(2))))(
      _ => throw new java.io.IOException("client gone"))
    obs.size shouldBe 2 // latch counted down despite the callback throwing
    obs.foreach(_.result.isSuccess shouldBe true)
  }

  test("progressive parallel: all plans observed, results delivered") {
    var seen = List.empty[String]
    val obs = Progressive.parallel(spark, Seq(
      Progressive.PlanSpec("sequential", 1.0,
        () => graft.operators.Knn.knn(data, dist, 5, col("id"))),
      Progressive.PlanSpec("index:ecp", 0.5,
        () => ecp.knn(data, "id", dist, q, 5)))) { o =>
      seen.synchronized { seen = o.planDescription :: seen }
    }
    obs.size shouldBe 2
    obs.foreach(_.result.isSuccess shouldBe true)
    seen.toSet shouldBe Set("sequential", "index:ecp")
  }

  test("dedup-path planner: power-law fit flips exact -> banded with size") {
    import graft.plans.DedupPlanner
    DedupPlanner.clearMeasurements()
    // untrained: documented size-cutoff default
    DedupPlanner.choose(500) shouldBe DedupPlanner.Exact
    DedupPlanner.choose(50000) shouldBe DedupPlanner.Banded

    // synthetic measurements with honest growth shapes:
    // exact t(n) = n² ns, banded t(n) = 1000·n ns -> crossover at n = 1000
    Seq(1000L, 4000L).foreach { n =>
      DedupPlanner.record(DedupPlanner.Exact, n, n * n)
      DedupPlanner.record(DedupPlanner.Banded, n, 1000L * n)
    }
    // the log-log fit recovers the quadratic: t(2000) ≈ 4e6 ns
    DedupPlanner.predictedNanos(DedupPlanner.Exact, 2000) shouldBe 4e6 +- 1e5
    DedupPlanner.choose(100) shouldBe DedupPlanner.Exact     // 1e4 vs 1e5 ns
    DedupPlanner.choose(100000) shouldBe DedupPlanner.Banded // 1e10 vs 1e8 ns

    // the semantic (cluster-pruned SemDeDup) path joins the comparison
    // once trained — its ~n^1.5 curve occupies the MIDDLE size regime
    // between exact (n²) and banded (linear with a big constant):
    // exact t = n², banded t = 2000·n, semantic t = 40·n^1.5
    DedupPlanner.clearMeasurements()
    Seq(1000L, 4000L).foreach { n =>
      DedupPlanner.record(DedupPlanner.Exact, n, n * n)
      DedupPlanner.record(DedupPlanner.Banded, n, 2000L * n)
      DedupPlanner.record(DedupPlanner.Semantic,
        n, (40.0 * math.pow(n.toDouble, 1.5)).toLong)
    }
    DedupPlanner.choose(1000) shouldBe DedupPlanner.Exact      // 1e6 < 1.26e6 < 2e6
    DedupPlanner.choose(2000) shouldBe DedupPlanner.Semantic   // 3.6e6 < 4e6 = 4e6
    DedupPlanner.choose(100000) shouldBe DedupPlanner.Banded   // 2e8 < 1.26e9 < 1e10
    // introspection reports every path's predicted cost
    DedupPlanner.scoredPaths(2000).map(_._1) shouldBe
      Seq(DedupPlanner.Exact, DedupPlanner.Banded, DedupPlanner.Semantic)
    DedupPlanner.scoredPaths(2000).map(_._2).forall(_ < Double.MaxValue) shouldBe true

    // real training sweep on the corpus records all three paths at both sizes
    DedupPlanner.clearMeasurements()
    DedupPlanner.train(data.withColumnRenamed("feature", "emb"), "id", "emb",
      threshold = 0.95, dim = 8, sizes = Seq(100, 400)) shouldBe 6
    DedupPlanner.measurementCount shouldBe 6
    // whichever path the measurements pick, the planned operator returns
    // verified cosine pairs (subset-of-exact by construction — semantic
    // and banded both verify candidates with the exact cosine)
    val (path, pairs) = DedupPlanner.nearDupPairs(
      data.withColumnRenamed("feature", "emb").limit(300), "id", "emb", 0.95, 8)
    Set(DedupPlanner.Exact, DedupPlanner.Banded,
      DedupPlanner.Semantic) should contain(path)
    val exact = graft.operators.Ann.cosineNearDupPairs(
      data.withColumnRenamed("feature", "emb").limit(300), "id", "emb", 0.95)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = pairs.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    got.subsetOf(exact) shouldBe true
  }

  test("job-group cancel interrupts a running plan (the StopQuery path)") {
    import spark.implicits._
    // one partition that blocks long past the test budget: only a real
    // job-group cancel (interruptOnCancel) can finish this quickly
    val slow = Progressive.PlanSpec("slowscan", 1.0, () =>
      spark.range(0, 4, 1, 1).as[Long].mapPartitions { it =>
        Thread.sleep(120000); it
      }.toDF("id"))
    val fut = scala.concurrent.Future(
      Progressive.parallel(spark, Seq(slow), "canceltest-")())
    // cancelJobGroup only reaches ACTIVE jobs — keep cancelling until
    // the racing future observes the interruption
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (!fut.isCompleted && System.nanoTime() < deadline) {
      spark.sparkContext.cancelJobGroup("canceltest-slowscan")
      Thread.sleep(200)
    }
    val obs = scala.concurrent.Await.result(fut,
      scala.concurrent.duration.Duration(30, "s"))
    obs.size shouldBe 1
    obs.head.result.isFailure shouldBe true // cancelled, not completed
  }

  test("timed query returns best-confidence result within deadline") {
    val o = Progressive.timed(spark, Seq(
      Progressive.PlanSpec("sequential", 1.0,
        () => graft.operators.Knn.knn(data, dist, 5, col("id"))),
      Progressive.PlanSpec("index:ecp", 0.5,
        () => ecp.knn(data, "id", dist, q, 5))), deadlineMs = 60000)
    o.result.isSuccess shouldBe true
    o.confidence shouldBe 1.0 // sequential wins on confidence
  }

  test("timed race returns at the first max-confidence completion, not the slow straggler") {
    // a deliberately slow low-confidence leg must not pace the race
    // once the exact leg has landed (early return + job-group cancel)
    val t0 = System.nanoTime()
    val o = Progressive.timed(spark, Seq(
      Progressive.PlanSpec("exact-fast", 1.0,
        () => graft.operators.Knn.knn(data, dist, 5, col("id"))),
      Progressive.PlanSpec("slow-approx", 0.5, () => {
        val slow = udf((x: Long) => { Thread.sleep(30000); x })
        data.limit(1).select(slow(col("id")).as("id")) // one 30 s task
      })), deadlineMs = 120000)
    val wallMs = (System.nanoTime() - t0) / 1000000L
    o.confidence shouldBe 1.0
    o.result.isSuccess shouldBe true
    // without early return the race awaits the 30 s straggler (the old
    // all.await path); with it, the exact leg's completion ends the wait
    wallMs should be < 20000L
  }

  test("result cache memoizes by fingerprint and invalidates") {
    val cache = new ResultCache(2)
    var computes = 0
    def make() = { computes += 1; data.limit(3) }
    cache.getOrElseCompute("q1")(make()).count() shouldBe 3
    cache.getOrElseCompute("q1")(make()).count() shouldBe 3
    computes shouldBe 1
    cache.invalidate("q1")
    cache.getOrElseCompute("q1")(make())
    computes shouldBe 2
  }

  test("ecp partitioning writes cluster dirs and partition-skip prunes input files") {
    val out = SharedSpark.tempDir("graft-part").toString + "/tbl"
    val centroids = Partitioning.write(data, Partitioning.Ecp("feature", 8), out)
    val table = spark.read.parquet(out)
    val pruned = Partitioning.partitionSkipRead(table, centroids, q, keep = 2)
    pruned.count() should be > 0L
    pruned.count() should be < data.count()
    // physical layout: one directory per leader
    val dirs = new java.io.File(out).listFiles().filter(_.getName.startsWith("ap_partition="))
    dirs.length should be > 1
  }

  test("ByColumn layout: key-skip is lossless and prunes parquet directories") {
    // Backs the exact-Euclidean oracle on the partition_pruned_scan
    // driver query: the pruned read must be EXACTLY the label-subset and
    // must reach the scan as partition pruning, not a post-scan filter.
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val out = SharedSpark.tempDir("graft-bycol").toString + "/embp"
    Partitioning.write(emb, Partitioning.ByColumn("label"), out)
    val table = spark.read.parquet(out)
    val pruned = Partitioning.partitionSkipKeys(table, Seq(0, 1, 2))
      .select("vec_id")
    pruned.collect().map(_.getLong(0)).sorted shouldBe
      emb.filter(col("label") <= 2).select("vec_id").collect().map(_.getLong(0)).sorted
    // directory-level pruning: the executed scan touched strictly fewer
    // files than the table holds, and the skip reached the scan node as
    // a partition filter (not a post-scan data filter)
    val scan = pruned.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    scan.metadata("PartitionFilters") should include(Partitioning.PartitionCol)
    scan.metrics("numFiles").value should be < table.inputFiles.length.toLong
  }

  test("bucketed tables equi-join with no exchange (co-located join)") {
    import spark.implicits._
    val left = (1L to 5000L).map(i => (i, i * 2.0)).toDF("k", "x")
    val right = (1L to 5000L).map(i => (i, s"v$i")).toDF("k", "v")
    Partitioning.writeBucketed(left, "buck_left", "k", 8)
    Partitioning.writeBucketed(right, "buck_right", "k", 8)
    // broadcast would hide the co-location win on a toy table — force the
    // sort-merge path a 100 TB-sized join would take
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try {
      val joined = spark.table("buck_left").join(spark.table("buck_right"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      withClue(plan) { plan should not include "Exchange" }
      joined.count() shouldBe 5000
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      spark.sql("DROP TABLE buck_left")
      spark.sql("DROP TABLE buck_right")
    }
  }

  test("hash and random repartition modes") {
    Partitioning.repartition(data, Partitioning.Hash(Seq("intfield"), 4)).rdd.getNumPartitions shouldBe 4
    Partitioning.repartition(data, Partitioning.Random(6)).rdd.getNumPartitions shouldBe 6
  }

  test("zorder repartition clusters both dimensions into small rectangles") {
    import spark.implicits._
    val grid = (for (x <- 0 until 64; y <- 0 until 64) yield (x, y))
      .toDF("x", "y").repartition(8) // scrambled input
    val z = Partitioning.repartition(grid, Partitioning.ZOrder("x", "y", 16))
    z.rdd.getNumPartitions shouldBe 16
    z.columns.toSeq shouldBe Seq("x", "y") // helper column dropped
    z.count() shouldBe 4096
    // every output partition's bounding box must cover a SMALL rectangle
    // of the 64x64 grid — a contiguous Morton range of length L has
    // bbox area O(L); random placement would give ~4096 per partition
    import org.apache.spark.sql.functions.{spark_partition_id, min => mn, max => mx}
    val boxes = z.withColumn("pid", spark_partition_id())
      .groupBy("pid")
      .agg(mn("x").as("x0"), mx("x").as("x1"), mn("y").as("y0"), mx("y").as("y1"))
      .collect()
      .map(r => (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)))
    boxes.foreach { case (x0, x1, y0, y1) =>
      val area = (x1 - x0 + 1).toLong * (y1 - y0 + 1)
      area should be <= 1024L // 4x the ideal 256-cell tile, far below 4096
    }
    // a single-dimension sort CANNOT bound the other dimension: with the
    // same budget, sorting by x alone leaves full-range y boxes
    val bySort = grid.repartitionByRange(16, $"x").sortWithinPartitions("x")
    val yRanges = bySort.withColumn("pid", spark_partition_id())
      .groupBy("pid").agg(mn("y").as("y0"), mx("y").as("y1")).collect()
      .map(r => r.getInt(2) - r.getInt(1) + 1)
    yRanges.max shouldBe 64 // x-sort gives no y locality — zorder does

    // degenerate inputs must not crash: empty frame, null values
    Partitioning.repartition(grid.filter($"x" < 0),
      Partitioning.ZOrder("x", "y", 4)).count() shouldBe 0
    val withNulls = Seq((Some(1), Some(2)), (None, Some(5)), (Some(3), None))
      .toDF("x", "y")
    Partitioning.repartition(withNulls,
      Partitioning.ZOrder("x", "y", 2)).count() shouldBe 3
  }
}
