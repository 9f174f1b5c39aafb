package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.api.Server
import graft.core.{Entity, GraftSession}
import graft.grpc.{GraftClient, GraftGrpcServer}

/** The serving core shared by both front doors: requests that arrive
  * through gRPC, HTTP and direct library calls meet in one `Entity`, one
  * router and one set of decoders. */
class ServingCoreSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {

  private lazy val base = SharedSpark.tempDir("graft-core").toString
  private lazy val http = Server.start(spark, base)
  private lazy val grpc = new GraftGrpcServer(spark, base).startNetty(0)
  private lazy val client = GraftClient.connect("localhost", grpc.getPort)
  private lazy val web = HttpClient.newHttpClient()
  private val mapper = new ObjectMapper()

  override def afterAll(): Unit = {
    client.close()
    grpc.shutdownNow()
    http.stop()
    Entity.deleteRecursively(Paths.get(base))
  }

  private def post(port: Int, path: String, body: String) = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    mapper.readTree(web.send(req, HttpResponse.BodyHandlers.ofString()).body())
  }
  private def post(path: String, body: String): com.fasterxml.jackson.databind.JsonNode =
    post(http.port, path, body)

  private val userSchema = StructType(Seq(
    StructField("rid", IntegerType), StructField("vec", ArrayType(FloatType))))
  private def vec(r: Int): Seq[Float] = Seq(r.toFloat, (r % 7).toFloat, 1f)
  private def jsonRow(r: Int): String = s"""{"rid":$r,"vec":[${vec(r).mkString(",")}]}"""
  private def grpcRows(rids: Range): Seq[Map[String, Any]] =
    rids.map(r => Map[String, Any]("rid" -> r, "vec" -> vec(r)))
  private def declare(name: String): Unit =
    client.createEntity(name, Seq("rid" -> "int", "vec" -> "vector")).get

  test("an HTTP insert into a gRPC-declared entity appends under the stored schema") {
    declare("keepschema")
    client.insert("keepschema", grpcRows(0 until 100)).get
    Entity.open(spark, base, "keepschema").stamp._1 shouldBe 1

    val ins = post("/entity/insert",
      s"""{"name":"keepschema","rows":[${jsonRow(100)},${jsonRow(101)}]}""")
    withClue(ins.toString) { ins.get("ok").asBoolean() shouldBe true }

    val e = Entity.open(spark, base, "keepschema")
    e.stamp._1 shouldBe 1 // appended, not rewritten
    e.read().drop(Entity.ApId).schema.fields.map(f => f.name -> f.dataType.simpleString)
      .toSeq shouldBe Seq("rid" -> "int", "vec" -> "array<float>")
    e.count() shouldBe 102
  }

  test("a gRPC-declared schema lives in the entity: HTTP inserts first, a new server inserts") {
    def userTypes(name: String) = Entity.open(spark, base, name).read().drop(Entity.ApId)
      .schema.fields.map(f => f.name -> f.dataType.simpleString).toSeq

    declare("declaredfirst")
    val ins = post("/entity/insert",
      s"""{"name":"declaredfirst","rows":[${jsonRow(0)},${jsonRow(1)}]}""")
    withClue(ins.toString) { ins.get("ok").asBoolean() shouldBe true }
    client.insert("declaredfirst", grpcRows(2 until 10)).get
    Entity.open(spark, base, "declaredfirst").stamp._1 shouldBe 1 // appended, not rewritten
    userTypes("declaredfirst") shouldBe Seq("rid" -> "int", "vec" -> "array<float>")
    Entity.open(spark, base, "declaredfirst").count() shouldBe 10

    // the declaration survives the server that took it
    declare("declaredempty")
    val restarted = new GraftGrpcServer(spark, base).startNetty(0)
    val second = GraftClient.connect("localhost", restarted.getPort)
    try second.insert("declaredempty", grpcRows(0 until 5)).get
    finally { second.close(); restarted.shutdownNow() }
    userTypes("declaredempty") shouldBe Seq("rid" -> "int", "vec" -> "array<float>")
    Entity.open(spark, base, "declaredempty").count() shouldBe 5
  }

  test("concurrent inserts through gRPC, HTTP and the library get distinct ap_ids") {
    declare("racing")
    client.insert("racing", grpcRows(0 until 10)).get
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val inserts = (0 until 8).map { i =>
        val rids = (10 + 50 * i) until (60 + 50 * i)
        Future {
          i match {
            case 0 => client.insert("racing", grpcRows(rids)).get
            case 1 =>
              val r = post("/entity/insert",
                s"""{"name":"racing","rows":${rids.map(jsonRow).mkString("[", ",", "]")}}""")
              require(r.get("ok").asBoolean(), r.toString)
            case _ =>
              Entity.open(spark, base, "racing").insert(spark.createDataFrame(
                rids.map(r => Row(r, vec(r))).asJava, userSchema))
          }
        }
      }
      Await.result(Future.sequence(inserts), 5.minutes)
    } finally pool.shutdown()

    val rows = Entity.open(spark, base, "racing").read()
    rows.count() shouldBe 410
    rows.select(Entity.ApId).distinct().count() shouldBe 410
    rows.select("rid").distinct().count() shouldBe 410
  }

  test("both doors accept both set-algebra and partitioner spellings") {
    declare("spelled")
    client.insert("spelled", grpcRows(0 until 30)).get
    val near = client.buildQuery("spelled",
      Some(GraftClient.Nnq("vec", vec(0), "manhattan", 5)))
    for (op <- Seq("fuzzyunion", "fuzzy_union", "fuzzyintersect", "fuzzy_intersect")) {
      val res = client.doQuery(client.buildCompoundQuery(op, near, near))
      withClue(op) { res.get.head.rows should have size 5 }
    }
    for (op <- Seq("fuzzyunion", "fuzzy_union", "join", "intersect")) {
      val leaf = """{"op":"knn","entity":"spelled","vecCol":"vec","q":[0.0,0.0,1.0],"k":5}"""
      val res = post("/search/compound",
        s"""{"idCol":"rid","tree":{"op":"$op","left":$leaf,"right":$leaf}}""")
      withClue(s"$op: $res") { res.get("rows").size() shouldBe 5 }
    }

    client.repartition("spelled", 2, Seq("rid"), "column").get
    Entity.open(spark, base, "spelled").layout.map(_.mode) shouldBe Some("bycolumn")
    post("/entity/partition", """{"name":"spelled","mode":"random","n":2}""")
    Entity.open(spark, base, "spelled").layout shouldBe None
    post("/entity/partition", """{"name":"spelled","mode":"bycolumn","keyCol":"rid"}""")
      .get("ok").asBoolean() shouldBe true
    Entity.open(spark, base, "spelled").layout.map(_.mode) shouldBe Some("bycolumn")
    Entity.open(spark, base, "spelled").count() shouldBe 30

    // an index table has no vector or key column to lay out by: hash and
    // random only, on either door
    client.createIndex("spelled", "vec", "vaf").get
    client.repartitionIndex("spelled", "vaf_vec", 2, "column").isFailure shouldBe true
    post("/index/partition",
      """{"entity":"spelled","name":"vaf_vec","mode":"column","keyCol":"ap_id"}""")
      .get("ok").asBoolean() shouldBe false
  }

  test("the HTTP door's handler threads are named daemons that end with stop()") {
    val s = Server.start(spark, base)
    val prefix = s"graft-http-${s.port}-"
    def handlers() = Thread.getAllStackTraces.keySet.asScala.filter(_.getName.startsWith(prefix))
    post(s.port, "/entity/list", "{}").get("ok").asBoolean() shouldBe true
    val running = handlers()
    running should not be empty
    all(running.map(_.isDaemon)) shouldBe true
    s.stop()
    // a pool worker signals termination just before its run() returns
    running.foreach(_.join(5000))
    handlers().filter(_.isAlive) shouldBe empty
  }

  test("building a session leaves no temp directory behind") {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    def warehouses() = {
      val s = Files.list(tmp)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("graft-warehouse")).toSet
      finally s.close()
    }
    val before = warehouses()
    GraftSession.builder("local[1]", 1)
    warehouses() shouldBe before
  }
}
