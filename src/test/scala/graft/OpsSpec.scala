package graft

import java.nio.file.Files

import scala.concurrent.ExecutionContext.Implicits.global

import org.apache.spark.sql.functions._

import graft.api._
import graft.core.RandomData
import graft.operators.BooleanPredicates.Predicate
import graft.plans.Planner

/** End-to-end API facade: the reference `EntityOp`/`IndexOp`/`QueryOp`
  * surface exercised as a user would. */
class OpsSpec extends SparkSpec {

  lazy val data = RandomData.generate(spark, 1500, 8).cache()
  private val q = Seq.fill(8)(0.5)
  private def nnq = NnQuery("feature", q, "euclidean", 10)

  test("entity ops: create→insert→count→preview→drop") {
    val base = SharedSpark.tempDir("graft-ops").toString
    val e = EntityOps.create(spark, base, "ops_e")
    EntityOps.insert(e, data.limit(50))
    EntityOps.count(e) shouldBe 50
    EntityOps.preview(e, 5).count() shouldBe 5
    EntityOps.exists(base, "ops_e") shouldBe true
    EntityOps.drop(e)
  }

  test("index factory builds every type; unknown rejected") {
    val idx = IndexOps.create("ecp", data, "id", "feature")
    idx.indexType shouldBe "ecp"
    an[IllegalArgumentException] should be thrownBy
      IndexOps.create("btree", data, "id", "feature")
  }

  test("sequential vs planned(exact-index) agree") {
    val vaf = IndexOps.create("vaf", data, "id", "feature")
    val seq = QueryOps.sequential(data, "id", nnq).select("id")
      .collect().map(_.getLong(0)).toSeq
    val planned = QueryOps.planned(data, "id", Seq(vaf),
      Seq(Planner.ExactHint), nnq).select("id")
      .collect().map(_.getLong(0)).toSeq
    planned shouldBe seq
  }

  test("boolean + filtered kNN") {
    QueryOps.booleanQuery(data, Seq(Predicate("intfield", "<", Seq(100))))
      .count() should be > 0L
    val r = QueryOps.filteredKnn(data, "id",
      Seq(Predicate("intfield", "<", Seq(500))), nnq)
    r.count() shouldBe 10
  }

  test("sequential kNN over a sparsified entity matches the dense result") {
    val base = SharedSpark.tempDir("graft-ops-sparse").toString
    val denseTop = QueryOps.sequential(data, "id", nnq)
      .select("id").collect().map(_.getLong(0)).toSeq
    val e = EntityOps.create(spark, base, "spq")
    EntityOps.insert(e, data.select("id", "feature"))
    EntityOps.sparsify(e, "feature")
    val read = e.read()
    // dispatched onto the sparse kernel: the plan must not densify
    val plan = QueryOps.sequential(read, "id", nnq).queryExecution.executedPlan.toString
    withClue(plan) { plan should include("sparse_euclidean") }
    plan should not include "densify"
    QueryOps.sequential(read, "id", nnq)
      .select("id").collect().map(_.getLong(0)).toSeq shouldBe denseTop
    // index scans cover the dense encoding only: refuse up front
    val vaf = IndexOps.create("vaf", data, "id", "feature")
    an[IllegalArgumentException] should be thrownBy
      QueryOps.index(read, "id", vaf, nnq)
    // non-decomposable distance on a sparse entity: densify fallback
    val cheb = NnQuery("feature", q, "chebyshev", 10)
    val chebPlan = QueryOps.sequential(read, "id", cheb).queryExecution.executedPlan.toString
    withClue(chebPlan) { chebPlan should include("densify") }
    QueryOps.sequential(read, "id", cheb).select("id").collect().map(_.getLong(0)).toSeq shouldBe
      QueryOps.sequential(data, "id", cheb).select("id").collect().map(_.getLong(0)).toSeq
    EntityOps.drop(e)
  }

  test("weighted query routes through the weighted kernel") {
    val w = NnQuery("feature", q, "manhattan", 5, weights = Some(Seq.fill(8)(0.0)))
    val dists = QueryOps.sequential(data, "id", w)
      .select("distance").collect().map(_.getDouble(0))
    all(dists) shouldBe 0.0
  }

  test("weighted queries plan onto VA (lossless weighted bounds); non-VA refused") {
    val vaf = IndexOps.create("vaf", data, "id", "feature")
    val pq = IndexOps.create("pq", data, "id", "feature")
    // non-trivial weights: a genuinely different ranking than unweighted
    val w = NnQuery("feature", q, "euclidean", 10,
      weights = Some((1 to 8).map(_.toDouble)))
    // VA bound terms scale per-dim by w_d — the exact-index hint now
    // plans onto vaf instead of forfeiting index acceleration
    QueryOps.choosePlan(data, Seq(vaf, pq), Seq(Planner.ExactHint), w)
      .describe shouldBe "index:vaf"
    // racing set: sequential + vaf; pq prunes with the unweighted metric
    QueryOps.planSpecsFor(data, "id", Seq(vaf, pq), w, Nil)
      .map(_.description).toSet shouldBe Set("sequential", "index:vaf")
    // id-for-id equality with the sequential weighted scan — the
    // lossless-prune guarantee under weights
    val seqIds = QueryOps.sequential(data, "id", w)
      .select("id").collect().map(_.getLong(0)).toSeq
    QueryOps.index(data, "id", vaf, w)
      .select("id").collect().map(_.getLong(0)).toSeq shouldBe seqIds
    QueryOps.planned(data, "id", Seq(vaf), Seq(Planner.ExactHint), w)
      .select("id").collect().map(_.getLong(0)).toSeq shouldBe seqIds
    // non-VA index still refuses rather than a silently wrong top-k
    an[IllegalArgumentException] should be thrownBy
      QueryOps.index(data, "id", pq, w)
    // negative weights flip the per-dim bound inequality — refused,
    // and the planner falls back to sequential
    val neg = w.copy(weights = Some(-1.0 +: Seq.fill(7)(1.0)))
    an[IllegalArgumentException] should be thrownBy
      QueryOps.index(data, "id", vaf, neg)
    QueryOps.choosePlan(data, Seq(vaf), Seq(Planner.ExactHint), neg)
      .describe shouldBe "sequential"
    // vap never conforms weighted: weights live in original
    // coordinates; the PCA rotation only preserves the unweighted 2-norm
    val vap = IndexOps.create("vap", data, "id", "feature")
    an[IllegalArgumentException] should be thrownBy
      QueryOps.index(data, "id", vap, w)
  }

  test("timedParallel returns the exact result when all plans finish") {
    val ecp = IndexOps.create("ecp", data, "id", "feature")
    val o = QueryOps.timedParallel(spark, data, "id", Seq(ecp), nnq, 60000)
    o.planDescription shouldBe "sequential"
    o.result.get.length shouldBe 10
  }

  test("two timedParallel calls run their legs under disjoint job groups") {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(seen.add)
    }
    // the job groups one call ran under; a marker job drains the listener bus
    def groupsOf(marker: String)(f: => Unit): Set[String] = {
      seen.clear()
      f
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      import scala.jdk.CollectionConverters._
      seen.asScala.toSet - marker
    }
    sc.addSparkListener(listener)
    try {
      // one leg each, so no cancelled straggler starts a job after its call returns
      def race(): Unit = QueryOps.timedParallel(spark, data, "id", Nil, nnq, 60000)
      val first = groupsOf("ops-marker-1")(race())
      val second = groupsOf("ops-marker-2")(race())
      first should not be empty
      second should not be empty
      first intersect second shouldBe empty
    } finally sc.removeSparkListener(listener)
  }

  test("cached query computes once") {
    var n = 0
    def make() = { n += 1; data.limit(2) }
    QueryOps.cached("fp1")(make()).count() shouldBe 2
    QueryOps.cached("fp1")(make()).count() shouldBe 2
    n shouldBe 1
  }
}
