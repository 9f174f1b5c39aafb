package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.api.Server

/** Long-lived-server soak: one Server instance survives 50+ mixed
  * operations (create / insert / index / query / drop across three
  * entities, queries fired concurrently) with no leaked temp dirs, no
  * orphaned entity dirs, and stable heap. The battery proves the engine;
  * this proves the SERVER stays healthy when the battery never ends. */
class SoakSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {

  private lazy val base = SharedSpark.tempDir("graft-soak").toString
  private lazy val server = Server.start(spark, base)
  private lazy val client = HttpClient.newHttpClient()
  private val mapper = new ObjectMapper()

  private def post(path: String, body: String) = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${server.port}$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    mapper.readTree(client.send(req, HttpResponse.BodyHandlers.ofString()).body())
  }

  /** graft-prefixed entries in java.io.tmpdir — every layout/index
    * scratch path the engine can leak lands there. */
  private def tmpGraftDirs: Set[String] = {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    Files.list(tmp).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("graft-")).toSet
  }

  private def usedHeapAfterGc(): Long = {
    System.gc(); Thread.sleep(100); System.gc()
    val rt = Runtime.getRuntime
    rt.totalMemory() - rt.freeMemory()
  }

  test("50+ mixed ops against one server: no leaks, stable state") {
    server.port should be > 0 // force startup before the snapshot
    val tmpBefore = tmpGraftDirs
    var ops = 0
    var heapEarly = 0L

    (0 until 3).foreach { cycle =>
      val names = (0 until 3).map(e => s"soak${cycle}_$e")
      names.foreach { n =>
        post("/entity/create", s"""{"name":"$n"}""")
          .get("ok").asBoolean() shouldBe true
        ops += 1
        val rows = (0 until 60).map(i =>
          s"""{"vid":$i,"grp":${i % 3},"vec":[${(i * 7 + cycle) % 11}.0,${(i * 3) % 5}.0]}""")
          .mkString("[", ",", "]")
        post("/entity/insert", s"""{"name":"$n","rows":$rows}""")
          .get("inserted").asInt() shouldBe 60
        ops += 1
        post("/index/create",
          s"""{"entity":"$n","name":"vaf_vec","type":"vaf","idCol":"vid","vecCol":"vec"}""")
          .get("index").asText() shouldBe "vaf_vec"
        ops += 1
      }
      // queries fired CONCURRENTLY across the three live entities — the
      // server serializes mutations per entity but reads race freely
      val queries = names.flatMap { n => Seq(
        Future(post("/query/knn",
          s"""{"entity":"$n","idCol":"vid","vecCol":"vec","q":[0.0,0.0],"k":5}""")),
        Future(post("/query/boolean",
          s"""{"entity":"$n","predicates":[{"attribute":"grp","op":"=","values":[1]}]}"""))) }
      Await.result(Future.sequence(queries), 120.seconds).foreach { r =>
        r.get("rows").size() should be > 0
        ops += 1
      }
      names.foreach { n =>
        post("/entity/drop", s"""{"name":"$n"}""").get("ok").asBoolean() shouldBe true
        ops += 1
      }
      if (cycle == 0) heapEarly = usedHeapAfterGc()
    }
    ops should be >= 50

    // every entity dropped → the catalog is empty and the base dir holds
    // no orphaned entity dirs (drop deletes data + indexes together)
    post("/entity/list", "{}").get("entities").size() shouldBe 0
    Files.list(Paths.get(base)).iterator().asScala.toSeq shouldBe empty

    // no scratch dirs leaked into the system temp dir by 50+ ops
    (tmpGraftDirs -- tmpBefore) shouldBe empty

    // heap is stable: the last cycle's floor stays within 512 MB of the
    // first cycle's — a per-op leak of collected result sets or cached
    // plans would compound far past that across 40+ later ops
    val heapLate = usedHeapAfterGc()
    (heapLate - heapEarly) should be < (512L * 1024 * 1024)
  }

  test("scratch-writing battery queries leave zero orphaned graft dirs across runs") {
    val dir = "/root/testdata/sf0.001"
    val scratchQueries = Seq("entity_lifecycle", "entity_upsert", "entity_vacuum",
      "sparse_roundtrip", "import_export_roundtrip", "vertical_reassembly")
    def runAll(): Unit = scratchQueries.foreach(q =>
      SparkEntry.queries(q)(spark, dir).count() should be > 0L)
    runAll() // first run may mint the single per-JVM scratch root
    val after1 = tmpGraftDirs
    runAll() // second run must reuse it — zero new graft-* dirs
    (tmpGraftDirs -- after1) shouldBe empty
    // everything lives under ONE shutdown-hook-cleaned root, not one
    // orphan dir per invocation
    after1.count(_.startsWith("graft-scratch")) should be <= 1
  }

  test("SparkEntry.releaseCaches evicts per-data-dir index/layout artifacts") {
    val dir = "/root/testdata/sf0.001"
    // warm two distinct cache families: a persisted vector index and the
    // sparsified-entity layout
    SparkEntry.queries("index_vaf_knn")(spark, dir).count() should be > 0L
    SparkEntry.queries("knn_sparse")(spark, dir).count() should be > 0L
    val released = SparkEntry.releaseCaches(dir)
    released should be >= 2
    // idempotent: nothing left to evict
    SparkEntry.releaseCaches(dir) shouldBe 0
    // the engine rebuilds transparently after eviction — same answer
    SparkEntry.queries("index_vaf_knn")(spark, dir).count() should be > 0L
    SparkEntry.releaseCaches(dir) should be >= 1
  }

  override def afterAll(): Unit = server.stop()
}
