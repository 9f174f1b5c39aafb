package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import scala.concurrent.ExecutionContext.Implicits.global
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame

import graft.api.{IndexOps, NnQuery, QueryOps}
import graft.core.Entity
import graft.grpc.{GraftClient, GraftGrpcServer}

/** Index selection: one hint walk over the fresh indexes built over the
  * query's attribute. The probe entity holds two 8-dim vector attributes,
  * `a` and `b`, with a VA index over `a` only: a kNN query on `b` must
  * never be answered from that index's candidates — not by the hint
  * walk, not by a plan race, not through either front door. */
class IndexSelectionSpec extends SparkSpec {
  import spark.implicits._

  private lazy val base = SharedSpark.tempDir("graft-sel").toString

  /** 3,000 rows with two independent vector attributes; `vaf_a` over `a`. */
  private lazy val probe: Entity = {
    val rnd = new scala.util.Random(11)
    val rows = (0 until 3000).map(i =>
      (i.toLong, Seq.fill(8)(rnd.nextFloat()), Seq.fill(8)(rnd.nextFloat())))
    val e = Entity.create(spark, base, "probe")
    e.insert(rows.toDF("rid", "a", "b"))
    IndexOps.createAll(e, "a", Seq("vaf"))
    e
  }

  // dyadic components: the same query as floats on the gRPC wire
  private val q = Seq.tabulate(8)(d => (d + 1) / 8.0)
  private val onB = NnQuery("b", q, "euclidean", 10)

  private def ids(df: DataFrame): Seq[Long] =
    df.select(Entity.ApId).collect().map(_.getLong(0)).toSeq

  private lazy val exactOnB: Seq[Long] = ids(QueryOps.sequential(probe.read(), Entity.ApId, onB))

  test("an index is over the attribute its recipe records") {
    val s = probe.snapshot
    s.freshIndexesOver("a").map(_.indexType) shouldBe Seq("vaf")
    s.freshIndexesOver("b") shouldBe empty
    probe.loadIndex("vaf_a").attribute shouldBe Some("a")
    IndexOps.over(probe, "a") shouldBe Seq("vaf_a")
    IndexOps.over(probe, "b") shouldBe empty
  }

  test("route: hints exact, index and vaf on b walk past the index over a") {
    val s = probe.snapshot
    Seq("exact", "index", "vaf").foreach { h =>
      val r = QueryOps.route(s, s.frame, Entity.ApId, Some(onB), Nil, Seq(h), index = None)
      withClue(s"hint $h: ") {
        r.source shouldBe "sequential"
        ids(r.frame) shouldBe exactOnB
      }
    }
    // a query on the index's own attribute still walks onto it
    val onA = onB.copy(vecCol = "a")
    val r = QueryOps.route(s, s.frame, Entity.ApId, Some(onA), Nil, Seq("exact"), index = None)
    r.source shouldBe "index:vaf"
    ids(r.frame) shouldBe ids(QueryOps.sequential(s.frame, Entity.ApId, onA))
  }

  test("parallel over the fresh indexes on b: every leg returns the exact ids") {
    val s = probe.snapshot
    val obs = QueryOps.parallel(spark, s.frame, Entity.ApId, s.freshIndexesOver("b"), onB)()
    obs.map(_.planDescription) shouldBe Seq("sequential")
    obs.foreach(o => o.result.get.map(_.getAs[Long](Entity.ApId)).toSeq shouldBe exactOnB)
  }

  test("the planner trains on the attribute's indexes and reports only fresh ones") {
    val grpc = new GraftGrpcServer(spark, base).startInProcess("graft-sel-plan")
    val client = GraftClient.inProcess("graft-sel-plan")
    try {
      // each of the three sampled queries measures the sequential plan and
      // every index the router walks for the attribute: vaf_a for `a` only
      client.adaptScanMethods(probe.name, "a").get -
        client.adaptScanMethods(probe.name, "b").get shouldBe 3
      val e = Entity.create(spark, base, "stalepaths")
      e.insert((0 until 40).map(i => (i.toLong, Seq.fill(4)(i.toFloat))).toDF("rid", "v"))
      IndexOps.createAll(e, "v", Seq("vaf"))
      client.scoredExecutionPaths("stalepaths").get.map(_._1) should contain("index:vaf")
      e.insert(Seq((40L, Seq.fill(4)(1.0f))).toDF("rid", "v"))
      client.scoredExecutionPaths("stalepaths").get.map(_._1) should not contain "index:vaf"
    } finally {
      client.close()
      grpc.shutdownNow()
    }
  }

  test("both doors refuse a named index over another attribute and race no index leg on b") {
    val grpc = new GraftGrpcServer(spark, base).startInProcess("graft-sel")
    val client = GraftClient.inProcess("graft-sel")
    try {
      val nnq = GraftClient.Nnq("b", q.map(_.toFloat), "euclidean", 10)
      val named = client.query(probe.name, Some(nnq), hints = Seq("vaf_a"))
      named.isFailure shouldBe true
      named.failed.get.getMessage should (include("'a'") and include("'b'"))
      client.query("probe", Some(nnq.copy(attribute = "a")), hints = Seq("vaf_a"))
        .get.head.source shouldBe "index scan (vaf_a)"
      def rowIds(r: GraftClient.QueryResult) = r.rows.map(_(Entity.ApId).toString.toLong)
      val prog = client.progressiveQuery(client.buildQuery("probe", Some(nnq)))().get
      prog.map(_.source) shouldBe Seq("sequential")
      prog.foreach(r => rowIds(r) shouldBe exactOnB)
      val timed = client.query("probe", Some(nnq), timeLimitMs = 60000).get.head
      timed.source shouldBe "sequential"
      rowIds(timed) shouldBe exactOnB
    } finally {
      client.close()
      grpc.shutdownNow()
    }

    val http = graft.api.Server.start(spark, base)
    val mapper = new ObjectMapper()
    def post(path: String, body: String): String =
      HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${http.port}$path"))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString()).body()
    try {
      val knn = s""""entity":"probe","idCol":"${Entity.ApId}","vecCol":"b",""" +
        s""""q":${q.mkString("[", ",", "]")},"k":10"""
      val named = mapper.readTree(post("/query/knn", s"""{$knn,"index":"vaf_a"}"""))
      named.get("ok").asBoolean() shouldBe false
      named.get("error").asText() should (include("'a'") and include("'b'"))
      val lines = post("/query/progressive", s"{$knn}").split("\n").filter(_.nonEmpty)
        .map(mapper.readTree).filterNot(_.has("done"))
      lines.map(_.get("source").asText()).toSeq shouldBe Seq("sequential")
      lines.foreach(o => o.get("rows").elements().asScala
        .map(_.get(Entity.ApId).asLong()).toSeq shouldBe exactOnB)
    } finally http.stop()
  }
}
